package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kll
import graft.operators.Dedup

/** Distribution telemetry over the [[SummaryStore]]: per-source KLL
  * sketches ([[graft.functions.Kll]], the q30 aggregate) of document
  * token counts — "what is the live p50/p95/p99 document length per
  * source, ever". The streaming face is st22
  * ([[graft.streaming.Streams.quantileTelemetry]]); the merge is
  * [[graft.functions.KllMergeAggregate]], also a SQL face
  * (`graft_quantile_merge`). Truncation, spam padding and boilerplate
  * floods move a source's length tails before its cardinality or head
  * terms.
  *
  * Merged sketches carry the KLL bound of one sketch over the
  * concatenated stream (mergeable summaries, PODS 2012) and are EXACT
  * while a source's document count stays ≤ k — the spec-gated regime.
  */
object QuantileStore {

  private val store = new SummaryStore("source", "sk", absorbsReplays = false)

  /** Fold a batch of documents in: one sketch row per source. */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, k: Int,
      batchId: Long): Unit =
    store.append(spark, table, batch
      .select(col("source"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(Kll.quantileSketch(col("n_tokens"), k).as("sk")), batchId)

  /** Take down sources ([[SummaryStore.pop]]). */
  def pop(spark: SparkSession, table: String, sources: DataFrame): Unit =
    store.pop(spark, table, sources)

  private def fold(spark: SparkSession, table: String, k: Int): DataFrame =
    store.fold(spark, table, Kll.quantileMerge(col("sk"), k).as("sk"))

  /** Serving face: the live quantiles per source at `ps` — one fold,
    * then rank-selects at summary grain.
    */
  def readQuantiles(
      spark: SparkSession, table: String, k: Int,
      ps: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame =
    ps.foldLeft(fold(spark, table, k))((df, p) =>
      df.withColumn(s"p${(p * 100).round}", Kll.quantileValue(col("sk"), p)))
      .drop("sk")

  def compact(spark: SparkSession, table: String, k: Int): Unit =
    store.compact(spark, table)(fold(spark, table, k))
}
