package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kmv
import graft.operators.Dedup

/** Continuous corpus-cardinality telemetry: per-source K-Minimum-Values
  * sketches ([[graft.functions.Kmv]], the q25 aggregate) maintained
  * across micro-batches — "how many distinct shingles has each source
  * contributed, ever" answered at any moment without a corpus rescan.
  * The streaming face is st18 ([[graft.streaming.Streams
  * .sketchCardinality]]).
  *
  * The store is a versioned append table `(source, sk, ver)` — the
  * [[XrefStore]] `_mapping` discipline at sketch grain:
  *
  *   - each micro-batch appends ONE batch-grain sketch row per source
  *     it touched (one aggregation over the batch, ≤ k longs per row);
  *   - reads fold all versions per source: the k smallest of the union
  *     of k-min sets IS the k-min set of the union (KMV mergeability),
  *     so the fold — flatten → distinct → sort → slice k — equals the
  *     sketch a single pass over the full history would have built;
  *   - the fold is IDEMPOTENT in batches: a replayed micro-batch
  *     (at-least-once delivery, checkpoint restart) appends rows whose
  *     hashes the union already contains — set union absorbs them, so
  *     served estimates cannot drift under replay. Counter-based
  *     cardinality state (counts, HLL registers added naively) does
  *     not have this property; it is WHY the state is a value-hash
  *     SET and not a counter;
  *   - [[compact]] folds history to one row per source via the
  *     staged-location swap (readable throughout, crash-safe) — the
  *     OPTIMIZE face that bounds fold-at-read cost on long streams.
  *
  * 100 TB shape: per-batch work is one bounded aggregation; state per
  * source is ≤ (batches-since-compact) × k longs, compacted back to
  * k; nothing driver-side ever holds a sketch.
  */
object SketchStore {

  /** Shingle width shared with q25's registry face (and its oracle). */
  val shingleN = 3

  private def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("parquet").mode(mode).saveAsTable(table)

  /** Fold a batch of documents into the sketch table: one sketch row
    * per (source, batch). Batches are the unit of replay, so `ver`
    * carries the batchId purely for observability — correctness never
    * depends on it (the fold is a set union).
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, k: Int,
      batchId: Long): Unit = {
    val rows = batch
      .select(col("source"),
        explode(Dedup.shinglesN(col("text"), shingleN)).as("g"))
      .groupBy(col("source"))
      .agg(Kmv.kmvSketch(col("g"), k).as("sk"))
      .withColumn("ver", lit(batchId))
    if (!spark.catalog.tableExists(table)) write(rows, table, SaveMode.ErrorIfExists)
    else write(rows, table, SaveMode.Append)
  }

  /** Take down a SOURCE — the corpus-grain right-to-be-forgotten the
    * other stores already have ([[DocStore.pop]]/[[VecStore]]): its
    * names land append-only in `<table>_dels`, every read face
    * excludes them immediately (a KMV sketch is derived from the
    * source's raw values — "forget the source" includes its
    * telemetry), and [[compact]] drops the rows physically and
    * retires the tombstones. Sticky until compaction, same as
    * everywhere: a replayed or late micro-batch re-appending the
    * popped source stays hidden and dies at the next compact.
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

  /** The folded sketch per source: k-min of the union of every
    * appended sketch row (= the sketch of the full history, by KMV
    * mergeability) — the [[graft.functions.KmvUnionAggregate]] fold
    * (r13: previously collect_list + flatten, whose partial state per
    * (task, source) was (batches since compact) × k; the union
    * aggregate's buffer is ≤ k ALWAYS, so fold-at-read cost no longer
    * grows between compacts on the shuffle side — [[compact]] still
    * re-bounds the stored rows). [[pop]]ped sources are excluded
    * (broadcast anti-join — request-bounded, never data-sized).
    */
  def foldSketches(spark: SparkSession, table: String, k: Int): DataFrame = {
    // the stream's foreachBatch appends from a CLONED session — an
    // observer session's cached file listing goes stale between
    // batches; refresh is metadata-only and makes reads current
    spark.catalog.refreshTable(table)
    minusDels(spark, table, spark.table(table))
      .groupBy(col("source"))
      .agg(Kmv.kmvUnion(col("sk"), k).as("sk"))
  }

  /** Serving face: the live distinct estimate per source. */
  def readEstimates(spark: SparkSession, table: String, k: Int): DataFrame =
    foldSketches(spark, table, k)
      .select(col("source"),
        Kmv.distinctEstimate(col("sk"), k).as("distinct_shingles"))

  /** OPTIMIZE: fold history to one row per source (ver = max seen),
    * via the staged-location swap — reads stay live, a crash strands
    * only a stage directory, appends landing mid-compact are replayed
    * in by the swap's append-back. Idempotent: compacting a compacted
    * table rewrites the same single row per source.
    */
  def compact(spark: SparkSession, table: String, k: Int): Unit = {
    spark.catalog.refreshTable(table) // see foldSketches
    val maxRow = spark.table(table).agg(max(col("ver"))).collect()(0)
    if (maxRow.isNullAt(0)) return // zero-row table: nothing to fold
    val maxVer = maxRow.getLong(0)
    // tombstone snapshot BEFORE the fold: the folded rows honor AT
    // LEAST these pops (foldSketches excludes them), so the tombstones
    // may retire after the swap — unless new pops landed mid-compact,
    // which must keep filtering reads until the next compact (the
    // DocStore delsSnap discipline)
    val delsSnap =
      if (spark.catalog.tableExists(s"${table}_dels"))
        spark.table(s"${table}_dels").inputFiles.toSet
      else Set.empty[String]
    val folded = foldSketches(spark, table, k).withColumn("ver", lit(maxVer))
      .select(col("source"), col("sk"), col("ver"))
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
