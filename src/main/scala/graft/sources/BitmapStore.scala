package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bitmap

/** EXACT audience telemetry over the [[SummaryStore]]: per-event-type
  * user bitmaps ([[graft.functions.Bitmap]], the q33 aggregate) —
  * "exactly which users has each event type reached, ever". The
  * streaming face is st23 ([[graft.streaming.Streams
  * .audienceTelemetry]]); the merge is
  * [[graft.functions.BitmapOrAggregate]] (`graft_bitmap_or`), which
  * absorbs a replayed row, so the fold skips the store's dedup and
  * aggregates partially.
  *
  * What only this face can do: USER-grain right-to-be-forgotten.
  * [[popUsers]] tombstones user ids; every read masks them after the
  * fold (exact A ∖ B against the tombstone bitmap —
  * [[Bitmap.andNotFlat]]), and [[compact]] clears their bits
  * PHYSICALLY before the tombstones retire. A KMV/MG/KLL summary cannot
  * delete a member exactly — it cannot even prove one absent; the set
  * itself can, which is the argument for paying exact-bitmap storage
  * on id-grain telemetry that may receive deletion requests. The
  * tombstone bitmap is request-grain and rides a 1-row broadcast.
  */
object BitmapStore {

  private val store =
    new SummaryStore("event_type", "bm", absorbsReplays = true)

  /** Fold a batch of events in: one bitmap row per event type. */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String,
      batchId: Long): Unit =
    store.append(spark, table, batch
      .groupBy(col("event_type"))
      .agg(Bitmap.bitmap(col("user_id")).as("bm")), batchId)

  /** Forget users (class doc). */
  def popUsers(spark: SparkSession, table: String, users: DataFrame): Unit =
    Tombstones.of(table).append(spark, users.select(col("user_id")))

  /** The folded live bitmap per event type, popped users CLEARED —
    * shared by [[readAudience]] and [[compact]].
    */
  def foldBitmaps(spark: SparkSession, table: String): DataFrame = {
    val dels = Tombstones.of(table).rows(spark)
      .getOrElse(spark.range(0).select(col("id").as("user_id")))
    store.visible(spark, table)(identity)
      .groupBy(col("event_type"))
      .agg(Bitmap.bitmapOr(col("bm")).as("bm"))
      .crossJoin(broadcast(
        dels.agg(Bitmap.bitmap(col("user_id")).as("del_bm"))))
      .select(col("event_type"),
        Bitmap.bitmapAndNot(col("bm"), col("del_bm")).as("bm"))
  }

  /** Serving face: the exact live audience size per event type. */
  def readAudience(spark: SparkSession, table: String): DataFrame =
    foldBitmaps(spark, table)
      .select(col("event_type"), Bitmap.bitmapCount(col("bm")).as("users"))

  def compact(spark: SparkSession, table: String): Unit =
    store.compact(spark, table)(foldBitmaps(spark, table))
}
