package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kmv
import graft.operators.Dedup

/** Corpus-cardinality telemetry over the [[SummaryStore]]: per-source
  * K-Minimum-Values sketches ([[graft.functions.Kmv]], the q25
  * aggregate) — "how many distinct shingles has each source
  * contributed, ever". The streaming face is st18
  * ([[graft.streaming.Streams.sketchCardinality]]).
  *
  * A batch row is the KMV sketch of the batch's shingles per source;
  * the merge is [[graft.functions.KmvUnionAggregate]] — the k smallest
  * of the union of k-min sets IS the k-min set of the union, so the
  * fold equals the sketch one pass over the full history would build,
  * with a merge buffer of ≤ k longs whatever the number of rows. The
  * union absorbs a replayed row, so the fold skips the store's dedup
  * and aggregates partially: ≤ k longs per task and source cross the
  * exchange.
  */
object SketchStore {

  /** Shingle width shared with q25's registry face (and its oracle). */
  val shingleN = 3

  private val store = new SummaryStore("source", "sk", absorbsReplays = true)

  /** Fold a batch of documents in: one sketch row per source. */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, k: Int,
      batchId: Long): Unit =
    store.append(spark, table, batch
      .select(col("source"),
        explode(Dedup.shinglesN(col("text"), shingleN)).as("g"))
      .groupBy(col("source"))
      .agg(Kmv.kmvSketch(col("g"), k).as("sk")), batchId)

  /** Take down sources ([[SummaryStore.pop]]). */
  def pop(spark: SparkSession, table: String, sources: DataFrame): Unit =
    store.pop(spark, table, sources)

  /** The folded sketch per source. */
  def foldSketches(spark: SparkSession, table: String, k: Int): DataFrame =
    store.fold(spark, table, Kmv.kmvUnion(col("sk"), k).as("sk"))

  /** Serving face: the live distinct estimate per source. */
  def readEstimates(spark: SparkSession, table: String, k: Int): DataFrame =
    foldSketches(spark, table, k)
      .select(col("source"),
        Kmv.distinctEstimate(col("sk"), k).as("distinct_shingles"))

  def compact(spark: SparkSession, table: String, k: Int): Unit =
    store.compact(spark, table)(foldSketches(spark, table, k))
}
