package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregate
import graft.operators.Dedup

/** Continuous heavy-hitters telemetry: per-source Misra–Gries top-k
  * summaries ([[graft.functions.TopKAggregate]], the q23 aggregate)
  * maintained across micro-batches — "which terms dominate each
  * source, ever" answered at any moment without a corpus rescan. The
  * streaming face is st20 ([[graft.streaming.Streams.topkTelemetry]]);
  * the serving fold is [[graft.functions.TopKMergeAggregate]], also a
  * SQL face (`graft_top_k_merge`).
  *
  * The store is the [[SketchStore]] discipline at summary grain with
  * one honest difference that changes the design: an MG summary is a
  * COUNTER map, not a value set, so the read fold is NOT replay-
  * idempotent by algebra — a batch row merged twice double-counts
  * (where the KMV fold absorbs replays structurally). Exactly-once
  * under at-least-once delivery therefore comes from VERSION
  * ACCOUNTING, not set algebra:
  *
  *   - each micro-batch appends ONE full-capacity summary row per
  *     source at `ver = batchId`, `folded = false`;
  *   - reads keep, per source: the newest FOLDED row (`folded = true`,
  *     maximal `ver` — the compact artifact, which covers every batch
  *     ≤ its ver) plus raw rows with `ver` strictly past it, ONE row
  *     per (source, ver) (a replayed micro-batch appends a row the
  *     (source, ver) dedup drops — at-least-once absorbed);
  *   - a raw row REPLAYED AFTER the compact that folded its batch
  *     lands at `ver ≤` the folded row's ver and is excluded by the
  *     version gate — the fold can never double-count it;
  *   - [[compact]] folds the read-visible rows to one folded row per
  *     source at `ver = max(ver seen)` via the staged-location swap
  *     (readable throughout, crash-safe, idempotent).
  *
  * Merging per-batch summaries carries the same N/(capacity+1) bound
  * as one sketch over the concatenated stream (PODS 2012), and is
  * EXACT while the union's distinct-value count stays ≤ capacity —
  * the spec-gated regime.
  *
  * 100 TB shape: per-batch work is one bounded aggregation (≤ capacity
  * counters per source on the wire); read state per source is
  * (batches-since-compact + 1) summaries, re-bounded by the compact
  * cadence; nothing driver-side ever holds a summary.
  */
object TopKStore {

  private def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("parquet").mode(mode).saveAsTable(table)

  /** Fold a batch of documents into the summary table: one FULL-
    * capacity summary row per (source, batch) — top-k truncation
    * happens only at serve time ([[readTopK]]); a truncated stored
    * row would discard counters the merge bound needs.
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, capacity: Int,
      batchId: Long): Unit = {
    val rows = batch
      .select(col("source"),
        explode(Dedup.words(col("text"))).as("term"))
      .groupBy(col("source"))
      .agg(TopKAggregate.topK(col("term"), capacity, capacity).as("sk"))
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
    * one row per covered batch per source (class doc). Shared by
    * [[readTopK]] and [[compact]] so serve and fold can never disagree
    * on which rows count.
    */
  private def visibleRows(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table) // cloned-session staleness: SketchStore doc
    val src = Window.partitionBy(col("source"))
    val dedup = Window.partitionBy(col("source"), col("ver"), col("folded"))
      .orderBy(md5(to_json(col("sk"))))
    minusDels(spark, table, spark.table(table))
      // fold horizon: the newest folded row covers every ver <= its own
      .withColumn("__fold_hi",
        max(when(col("folded"), col("ver"))).over(src))
      .filter(
        (col("folded") && col("ver") === col("__fold_hi")) ||
        (!col("folded") &&
          (col("__fold_hi").isNull || col("ver") > col("__fold_hi"))))
      // one row per (source, ver, folded): replayed batches/compacts
      // append duplicates; the pick is deterministic (md5 of the
      // summary json) so every reader agrees
      .withColumn("__rn", row_number().over(dedup))
      .filter(col("__rn") === 1)
      .drop("__fold_hi", "__rn")
  }

  /** Serving face: the live top `k` per source. */
  def readTopK(
      spark: SparkSession, table: String, k: Int, capacity: Int): DataFrame =
    visibleRows(spark, table)
      .groupBy(col("source"))
      .agg(TopKAggregate.topKMerge(col("sk"), k, capacity).as("top"))

  /** OPTIMIZE: fold the visible rows to one FOLDED row per source at
    * `ver = max(ver seen)`, via the staged-location swap — reads stay
    * live, a crash strands only a stage directory. Idempotent; a
    * replayed raw batch landing after this compact sits at
    * `ver ≤ folded.ver` and stays invisible (class doc).
    */
  def compact(spark: SparkSession, table: String, capacity: Int): Unit = {
    spark.catalog.refreshTable(table)
    val maxRow = spark.table(table).agg(max(col("ver"))).collect()(0)
    if (maxRow.isNullAt(0)) return // zero-row table: nothing to fold
    val maxVer = maxRow.getLong(0)
    // tombstone snapshot BEFORE the fold (the SketchStore delsSnap
    // discipline): folded rows honor at least these pops, so they may
    // retire after the swap unless new pops landed mid-compact
    val delsSnap =
      if (spark.catalog.tableExists(s"${table}_dels"))
        spark.table(s"${table}_dels").inputFiles.toSet
      else Set.empty[String]
    val folded = visibleRows(spark, table)
      .groupBy(col("source"))
      .agg(TopKAggregate.topKMerge(col("sk"), capacity, capacity).as("sk"))
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
