package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Bitmap

/** Continuous EXACT audience telemetry: per-event-type user bitmaps
  * ([[graft.functions.Bitmap]], the q33 aggregate) maintained across
  * micro-batches — "exactly which users has each event type reached,
  * ever" answered at any moment without an event-log rescan. The
  * streaming face is st23 ([[graft.streaming.Streams
  * .audienceTelemetry]]); the serving fold is
  * [[graft.functions.BitmapOrAggregate]] (`graft_bitmap_or`).
  *
  * Replay discipline — BOTH sides of the store fence, each for what
  * it is actually needed for: a bitmap is the id SET, so the union
  * fold absorbs replayed raw rows STRUCTURALLY (the [[SketchStore]]
  * immunity — no per-(type, ver) dedup, duplicates set the same
  * bits); a VERSION HORIZON (the [[TopKStore]] device) is still kept,
  * because this store supports user-grain DELETION: without it, a raw
  * batch replayed after the compact that folded it — and after the
  * tombstones retired — would resurrect a popped user's bits. Behind
  * the horizon (`ver ≤` the folded row's), replays stay invisible, so
  * scrubbed stays scrubbed.
  *
  * What this store can do that NO sketch store can: USER-grain
  * right-to-be-forgotten. [[popUsers]] tombstones user ids; every
  * read face masks them immediately (exact A ∖ B against the
  * tombstone bitmap — [[Bitmap.andNotFlat]]), and [[compact]] clears
  * their bits PHYSICALLY and retires the tombstones. A KMV/MG/KLL
  * summary cannot delete a member exactly — it cannot even prove one
  * absent; the set itself can, which is the operational argument for
  * paying exact-bitmap storage on id-grain telemetry that may receive
  * deletion requests.
  *
  * 100 TB shape: per-batch work is one bounded aggregation
  * (O(|batch audience|) bits per type on the wire with map-side
  * combine); read state per type is (batches-since-compact + 1)
  * bitmaps, re-bounded by the compact cadence; the tombstone bitmap
  * is request-grain and rides a 1-row broadcast.
  */
object BitmapStore {

  private def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("parquet").mode(mode).saveAsTable(table)

  /** Fold a batch of events into the store: one bitmap row per
    * (event_type, batch) over the batch's user ids.
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String,
      batchId: Long): Unit = {
    val rows = batch
      .select(col("event_type"), col("user_id"))
      .groupBy(col("event_type"))
      .agg(Bitmap.bitmap(col("user_id")).as("bm"))
      .withColumn("ver", lit(batchId))
      .withColumn("folded", lit(false))
    if (!spark.catalog.tableExists(table)) write(rows, table, SaveMode.ErrorIfExists)
    else write(rows, table, SaveMode.Append)
  }

  /** Forget USERS (class doc): ids land append-only in
    * `<table>_dels`, every read masks them immediately, [[compact]]
    * clears their bits physically and retires the tombstones. Sticky
    * against replays: pre-compact duplicates are masked at read,
    * post-compact replays fall behind the version horizon.
    */
  def popUsers(spark: SparkSession, table: String, users: DataFrame): Unit =
    users.select(col("user_id")).distinct()
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"${table}_dels")

  /** The tombstone ids as ONE bitmap row (empty bitmap when no dels
    * table) — request-grain, cross-joined into serving plans.
    */
  private def delsBitmap(spark: SparkSession, table: String): DataFrame = {
    val ids =
      if (!spark.catalog.tableExists(s"${table}_dels"))
        spark.range(0).select(col("id").as("user_id"))
      else {
        spark.catalog.refreshTable(s"${table}_dels")
        spark.table(s"${table}_dels").select(col("user_id"))
      }
    ids.agg(Bitmap.bitmap(col("user_id")).as("del_bm"))
  }

  /** Rows the fold may see: the newest folded row per type plus raw
    * rows strictly past its version (class doc — no duplicate-row
    * dedup, the union absorbs those).
    */
  private def visibleRows(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table) // cloned-session staleness: SketchStore doc
    val byType = Window.partitionBy(col("event_type"))
    spark.table(table)
      .withColumn("__fold_hi",
        max(when(col("folded"), col("ver"))).over(byType))
      .filter(
        (col("folded") && col("ver") === col("__fold_hi")) ||
        (!col("folded") &&
          (col("__fold_hi").isNull || col("ver") > col("__fold_hi"))))
      .drop("__fold_hi")
  }

  /** The folded live bitmap per event type, tombstones CLEARED —
    * shared by [[readAudience]] and [[compact]] so serve and fold can
    * never disagree.
    */
  def foldBitmaps(spark: SparkSession, table: String): DataFrame =
    visibleRows(spark, table)
      .groupBy(col("event_type"))
      .agg(Bitmap.bitmapOr(col("bm")).as("bm"))
      .crossJoin(broadcast(delsBitmap(spark, table)))
      .select(col("event_type"),
        Bitmap.bitmapAndNot(col("bm"), col("del_bm")).as("bm"))

  /** Serving face: the exact live audience size per event type. */
  def readAudience(spark: SparkSession, table: String): DataFrame =
    foldBitmaps(spark, table)
      .select(col("event_type"), Bitmap.bitmapCount(col("bm")).as("users"))

  /** OPTIMIZE: fold history to one PHYSICALLY-scrubbed row per type
    * (ver = max seen) via the staged-location swap — reads stay live,
    * a crash strands only a stage directory. Idempotent; tombstones
    * retire when no new pops landed mid-compact (the delsSnap
    * discipline).
    */
  def compact(spark: SparkSession, table: String): Unit = {
    spark.catalog.refreshTable(table)
    val maxRow = spark.table(table).agg(max(col("ver"))).collect()(0)
    if (maxRow.isNullAt(0)) return // zero-row table: nothing to fold
    val maxVer = maxRow.getLong(0)
    val delsSnap =
      if (spark.catalog.tableExists(s"${table}_dels"))
        spark.table(s"${table}_dels").inputFiles.toSet
      else Set.empty[String]
    val folded = foldBitmaps(spark, table)
      .withColumn("ver", lit(maxVer))
      .withColumn("folded", lit(true))
      .select(col("event_type"), col("bm"), col("ver"), col("folded"))
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
