package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Protocol (round 5, noise-robust):
  *
  *   - one untimed warmup pass over every query (absorbs JIT, codegen
  *     compilation, parquet footer reads);
  *   - N timed passes (default 3, `SPARK_GRAFT_PASSES`) INTERLEAVED
  *     (A,B,C,A,B,C — not A,A,B,B): a GC/scheduler spike lands on one
  *     pass of one query instead of both samples of whichever query is
  *     running, so the per-query median shakes it off;
  *   - reported per-query number = MEDIAN of the passes (the robust
  *     statistic); the per-query min is also emitted (`queries_min`)
  *     for best-case comparisons.
  *
  * The old protocol (min of two adjacent in-suite passes on an
  * oversized heap) let multi-second full-GC pauses land on arbitrary
  * queries and manufactured phantom >2× "regressions" on unchanged
  * code in two consecutive rounds. The heap is right-sized in
  * build.sbt (capped ~16g for sf0.1) for the same reason: a 96g
  * old-gen full GC is a multi-second pause; a 16g one is not.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt.max(1)
    val spark = GraftSession.local(cpus)
    // Force FULL evaluation: df.count() lets Catalyst prune every
    // column, so projection-only queries (fingerprints, scores,
    // signatures) would measure an empty scan. toRdd materializes the
    // physical plan's actual output rows.
    // A query that throws must be VISIBLE: swallowing it silently would
    // bench it at ~0s and shrink the total, masquerading as a speed-up
    // (the oracle gate catches the correctness side, not the timing).
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def exec(name: String): Unit =
      try { SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count() }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"BENCH QUERY FAILED: $name — ${e.getClass.getName}: ${e.getMessage}")
      }
    // optional filter for local iteration: SPARK_GRAFT_ONLY=q1_agg,d2_...
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach(exec) // untimed warmup pass
    // GC attribution (round 8): the recurring in-suite vs isolated
    // spread (e.g. f8 2.5s isolated, ~5s in-suite at r7) was explained
    // as GC pressure but never measured. Record the JVM-wide GC time
    // that elapses DURING each query's pass so the adjudication reads
    // evidence: a query whose wall time inflates while its gc_ms
    // inflates in step is suffering the suite's heap, not a plan
    // regression.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    def timed(name: String): (Double, Long) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      exec(name)
      ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
    }
    // Interleaved passes: the full suite runs end-to-end `passes`
    // times, so adjacent samples of the same query are minutes apart
    // and a transient spike cannot hit a query's every sample.
    val samples: Seq[Seq[(String, (Double, Long))]] =
      (1 to passes).map(_ => names.map(n => n -> timed(n)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val byQuery: Seq[(String, Seq[(Double, Long)])] =
      names.map(n => n -> samples.map(_.toMap.apply(n)))
    val med = byQuery.map { case (n, xs) => n -> median(xs.map(_._1)) }
    val mins = byQuery.map { case (n, xs) => n -> xs.map(_._1).min }
    // per-query GC: the MEDIAN pass's share, reported as whole ms (the
    // median of gc deltas pairs with the median of wall times closely
    // enough for attribution)
    val gcs = byQuery.map { case (n, xs) =>
      n -> median(xs.map(_._2.toDouble)) }
    def jsonMap(kvs: Seq[(String, Double)], fmt: Double => String): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    def full(v: Double): String = v.toString
    // ms precision for the harness line (see size budget below)
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = med.map(_._2).sum
    // Failures must be visible IN THE JSON, not only on stderr: a
    // thrown query benches at its fail-fast time, shrinking the total
    // into a phantom speed-up for any consumer that parses the line.
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""""failed":[""", ",", "],")
    // the configuration that took effect, so a scaling check can see
    // that SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS applied
    val configJson =
      s""""cores":${spark.sparkContext.defaultParallelism},""" +
        s""""shuffle_partitions":"${spark.conf.get("spark.sql.shuffle.partitions")}","""
    // Full-precision record (medians + mins + protocol) — file + an
    // early stdout line for humans reading the build log.
    val detail = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      failedJson + configJson +
      s""""protocol":"median_of_${passes}_interleaved",""" +
      s""""queries":${jsonMap(med, full)},""" +
      s""""queries_min":${jsonMap(mins, full)},""" +
      s""""gc_ms":${jsonMap(gcs, v => v.toLong.toString)},""" +
      s""""sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), detail + "\n")
    catch { case _: Throwable => () }
    // BENCH_LAST.json is overwritten every run, and when the harness
    // line below overflows its budget the round archive loses the
    // per-query map with it (round 8 did). Append-only history keeps
    // every run's full detail recoverable by timestamp.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
      s"""{"at":"${java.time.Instant.now()}",""" + detail.drop(1) + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    println(detail)
    spark.stop()
    // The harness line LAST, after spark.stop(), so nothing can log
    // after it. It must be (a) bare — build.sbt sets
    // `run / outputStrategy := StdoutOutput` so sbt does not prepend
    // "[info] " — and (b) SMALL: the harness keeps only the final
    // ~2000 chars of output, and round 5's single line (two
    // full-precision 57-entry maps, ~4 KB) overflowed that window and
    // its head was cut off. Medians only + ms precision is ~1.6 KB at
    // 63 queries; if query growth pushes past the guard below, the
    // per-query map is DROPPED (full detail stays in BENCH_LAST.json)
    // rather than silently truncating the head of the line.
    if (failed.nonEmpty)
      System.err.println(
        s"BENCH INCOMPLETE: ${failed.size} queries threw: " +
          failed.mkString(", "))
    // r15: 142 full-name ms-precision entries overflowed the budget
    // (r14 line: 3601B → map dropped, leaving the driver's own record
    // totals-only). The harness map now compacts each key to its
    // unique leading token ("q16b_percentile_approx" → "q16b" — every
    // registry key's prefix before the first '_' is unique, asserted
    // here with a full-name fallback) and each value to whole
    // MILLISECONDS ("qunit":"ms" marks it) — ~1.5 KB at 142 queries,
    // inside the budget with headroom. Full-precision full-name maps
    // stay in BENCH_LAST.json / BENCH_HISTORY.jsonl.
    val shortOf: Map[String, String] = {
      val m = names.map(n => n -> n.takeWhile(_ != '_')).toMap
      if (m.values.toSeq.distinct.size == names.size) m
      else names.map(n => n -> n).toMap
    }
    def msInt(v: Double): String = math.round(v * 1000).toString
    val shortMed = med.map { case (n, v) => shortOf(n) -> v }
    val harness = s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
      failedJson + configJson +
      s""""qunit":"ms","queries":${jsonMap(shortMed, msInt)},"sf":"$sfDir"}"""
    val guarded =
      if (harness.length <= 1800) harness
      else {
        System.err.println(s"BENCH LINE ${harness.length}B > 1800B budget; " +
          "dropping per-query map from the harness line (see BENCH_LAST.json)")
        s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
          failedJson + configJson + s""""queries":{},"sf":"$sfDir"}"""
      }
    println(guarded)
  }
}
