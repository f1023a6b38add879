package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregate
import graft.operators.Dedup

/** Heavy-hitters telemetry over the [[SummaryStore]]: per-source
  * Misra–Gries summaries ([[graft.functions.TopKAggregate]], the q23
  * aggregate) — "which terms dominate each source, ever". The streaming
  * face is st20 ([[graft.streaming.Streams.topkTelemetry]]); the merge
  * is [[graft.functions.TopKMergeAggregate]], also a SQL face
  * (`graft_top_k_merge`).
  *
  * A batch row is a FULL-capacity summary per source — top-k
  * truncation happens only at serve time, since a truncated stored row
  * would discard counters the merge bound needs. Merged summaries carry
  * the N/(capacity+1) bound of one sketch over the concatenated stream
  * (PODS 2012) and are EXACT while a source's distinct terms stay
  * ≤ capacity — the spec-gated regime.
  */
object TopKStore {

  private val store = new SummaryStore("source", "sk", absorbsReplays = false)

  /** Fold a batch of documents in: one summary row per source. */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, capacity: Int,
      batchId: Long): Unit =
    store.append(spark, table, batch
      .select(col("source"),
        explode(Dedup.words(col("text"))).as("term"))
      .groupBy(col("source"))
      .agg(TopKAggregate.topK(col("term"), capacity, capacity).as("sk")),
      batchId)

  /** Take down sources ([[SummaryStore.pop]]). */
  def pop(spark: SparkSession, table: String, sources: DataFrame): Unit =
    store.pop(spark, table, sources)

  /** Serving face: the live top `k` per source. */
  def readTopK(
      spark: SparkSession, table: String, k: Int, capacity: Int): DataFrame =
    store.fold(spark, table,
      TopKAggregate.topKMerge(col("sk"), k, capacity).as("top"))

  def compact(spark: SparkSession, table: String, capacity: Int): Unit =
    store.compact(spark, table)(store.fold(spark, table,
      TopKAggregate.topKMerge(col("sk"), capacity, capacity).as("sk")))
}
