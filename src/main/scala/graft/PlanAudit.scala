package graft

/** Diagnostic main: dump formatted physical plans for representative
  * queries to audit scan pushdown (PushedFilters/ReadSchema), broadcast
  * choices, and Exchange counts. Runs on [[GraftSession]] — the same
  * optimizer (GraftExtensions included) PlanShapeSpec pins. Usage:
  *   sbt "runMain graft.PlanAudit <sfDir> [query ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q1_agg", "q2_filter_comparators", "q3_join_multiway",
        "f8_xref_block", "d2_dedup_ngram_jaccard", "d3_dedup_minhash_lsh",
        "d5_dedup_embedding", "s1_ann_brute_topk", "f12_entity_query",
        "q16_percentile")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      println(s"-- pre-AQE: shuffles=${PlanCounters.shuffles(plan)} " +
        s"broadcasts=${PlanCounters.broadcasts(plan)} " +
        s"pushedScans=${PlanCounters.pushedScans(plan)}")
    }
    spark.stop()
  }
}
