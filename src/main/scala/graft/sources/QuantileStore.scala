package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Kll
import graft.operators.Dedup

/** Continuous distribution telemetry: per-source KLL quantile sketches
  * ([[graft.functions.Kll]], the q30 aggregate) over document token
  * counts, maintained across micro-batches — "what is the live
  * p50/p95/p99 document length per source, ever" answered at any
  * moment without a corpus rescan. The streaming face is st22
  * ([[graft.streaming.Streams.quantileTelemetry]]); the serving fold
  * is [[graft.functions.KllMergeAggregate]], also a SQL face
  * (`graft_quantile_merge`). Together with [[SketchStore]] (KMV
  * cardinality) and [[TopKStore]] (Misra–Gries heavy hitters) this
  * completes the stored-sketch telemetry trio: cardinality says a
  * source DRIFTED, the head terms say INTO WHAT, the length
  * distribution says whether its SHAPE changed (truncation, spam
  * padding, boilerplate floods all move the tails first).
  *
  * The store is the [[TopKStore]] discipline verbatim, because a KLL
  * summary shares MG's replay hazard, not KMV's immunity: the sketch
  * is a weighted multiset, so a batch row merged twice double-weights
  * — exactly-once under at-least-once delivery comes from VERSION
  * ACCOUNTING (one visible row per (source, batchId); raw rows
  * replayed after a compact fall behind the folded row's version
  * horizon), never from sketch algebra. Folding per-batch sketches
  * carries the same KLL bound as one sketch over the concatenated
  * stream (mergeable summaries, PODS 2012), and is EXACT while the
  * source's total document count stays ≤ k — the spec-gated regime.
  *
  * 100 TB shape: per-batch work is one bounded aggregation (a ~k-item
  * summary per source on the wire); read state per source is
  * (batches-since-compact + 1) summaries, re-bounded by the compact
  * cadence; nothing driver-side ever holds a summary.
  */
object QuantileStore {

  private def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("parquet").mode(mode).saveAsTable(table)

  /** Fold a batch of documents into the summary table: one sketch row
    * per (source, batch) over the batch's per-document token counts.
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, k: Int,
      batchId: Long): Unit = {
    val rows = batch
      .select(col("source"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(Kll.quantileSketch(col("n_tokens"), k).as("sk"))
      .withColumn("ver", lit(batchId))
      .withColumn("folded", lit(false))
    if (!spark.catalog.tableExists(table)) write(rows, table, SaveMode.ErrorIfExists)
    else write(rows, table, SaveMode.Append)
  }

  /** Take down a SOURCE (the [[SketchStore.pop]] contract): tombstones
    * exclude it from every read immediately, compact drops its rows
    * physically and retires the tombstones.
    */
  def pop(spark: SparkSession, table: String, sources: DataFrame): Unit =
    sources.select(col("source")).distinct()
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"${table}_dels")

  private def minusDels(
      spark: SparkSession, table: String, df: DataFrame): DataFrame =
    if (!spark.catalog.tableExists(s"${table}_dels")) df
    else {
      spark.catalog.refreshTable(s"${table}_dels")
      df.join(
        broadcast(spark.table(s"${table}_dels")
          .select(col("source")).distinct()),
        Seq("source"), "left_anti")
    }

  /** The read-visible summary rows after version accounting — exactly
    * one row per covered batch per source ([[TopKStore.visibleRows]],
    * same contract). Shared by [[readQuantiles]] and [[compact]] so
    * serve and fold can never disagree on which rows count.
    */
  private def visibleRows(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table) // cloned-session staleness: SketchStore doc
    val src = Window.partitionBy(col("source"))
    val dedup = Window.partitionBy(col("source"), col("ver"), col("folded"))
      .orderBy(md5(to_json(col("sk"))))
    minusDels(spark, table, spark.table(table))
      .withColumn("__fold_hi",
        max(when(col("folded"), col("ver"))).over(src))
      .filter(
        (col("folded") && col("ver") === col("__fold_hi")) ||
        (!col("folded") &&
          (col("__fold_hi").isNull || col("ver") > col("__fold_hi"))))
      .withColumn("__rn", row_number().over(dedup))
      .filter(col("__rn") === 1)
      .drop("__fold_hi", "__rn")
  }

  /** Serving face: the live quantiles per source at the requested
    * probabilities — one fold over the visible summary rows, then
    * rank-selects at summary grain.
    */
  def readQuantiles(
      spark: SparkSession, table: String, k: Int,
      ps: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    val folded = visibleRows(spark, table)
      .groupBy(col("source"))
      .agg(Kll.quantileMerge(col("sk"), k).as("sk"))
    ps.foldLeft(folded) { (df, p) =>
      df.withColumn(s"p${(p * 100).round}",
        Kll.quantileValue(col("sk"), p))
    }.drop("sk")
  }

  /** OPTIMIZE: fold the visible rows to one FOLDED row per source at
    * `ver = max(ver seen)`, via the staged-location swap — reads stay
    * live, a crash strands only a stage directory. Idempotent; a
    * replayed raw batch landing after this compact sits at
    * `ver ≤ folded.ver` and stays invisible ([[TopKStore.compact]]).
    */
  def compact(spark: SparkSession, table: String, k: Int): Unit = {
    spark.catalog.refreshTable(table)
    val maxRow = spark.table(table).agg(max(col("ver"))).collect()(0)
    if (maxRow.isNullAt(0)) return // zero-row table: nothing to fold
    val maxVer = maxRow.getLong(0)
    val delsSnap =
      if (spark.catalog.tableExists(s"${table}_dels"))
        spark.table(s"${table}_dels").inputFiles.toSet
      else Set.empty[String]
    val folded = visibleRows(spark, table)
      .groupBy(col("source"))
      .agg(Kll.quantileMerge(col("sk"), k).as("sk"))
      .withColumn("ver", lit(maxVer))
      .withColumn("folded", lit(true))
      .select(col("source"), col("sk"), col("ver"), col("folded"))
    val tmp = TableSwap.stageName(spark, table)
    TableSwap.dropAllStages(spark, table)
    write(folded, tmp, SaveMode.ErrorIfExists)
    TableSwap.swapIn(spark, tmp, table, partitioned = false)(df =>
      write(df, table, SaveMode.Append))
    val delsNow =
      if (spark.catalog.tableExists(s"${table}_dels"))
        spark.table(s"${table}_dels").inputFiles.toSet
      else Set.empty[String]
    if (delsNow == delsSnap && delsNow.nonEmpty)
      TableSwap.dropManaged(spark, s"${table}_dels")
  }
}
