package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The versioned summary store behind the four telemetry faces —
  * [[SketchStore]] (KMV cardinality), [[TopKStore]] (Misra–Gries heavy
  * hitters), [[QuantileStore]] (KLL quantiles) and [[BitmapStore]]
  * (exact audiences): a mergeable summary per key, maintained across
  * micro-batches and served at any moment without a rescan — the
  * `ReplacingMergeTree` + rollup-view discipline of the reference at
  * summary grain. Each face supplies only how a batch becomes a summary
  * row, its merge aggregate and its serve projection.
  *
  * Rows are `(key, value, ver, folded)`:
  *
  *   - each micro-batch appends ONE raw summary row per key it touched
  *     at `ver = batchId`, `folded = false` (one bounded aggregation);
  *   - [[compact]] folds the visible rows to one `folded` row per key,
  *     every one stamped with the same `ver = max(ver)` — the table's
  *     FOLD HORIZON — through [[TableSwap.rewrite]] (readable
  *     throughout, crash-safe, idempotent);
  *   - VISIBILITY ([[visible]]), one rule for every face: the folded
  *     rows at the horizon plus the raw rows past it, one row per
  *     `(key, ver, folded)`. A batch replayed before the compact that
  *     folds it (at-least-once delivery) counts once; one replayed
  *     after it sits at `ver ≤` the horizon and stays invisible — for
  *     EVERY key, including a key popped before that compact, whose
  *     rows and tombstones the compact dropped. A fresh batch must
  *     therefore carry a `ver` past the horizon.
  *
  * Counter and multiset summaries (MG, KLL) double-count a row merged
  * twice, so their faces dedup per `(key, ver, folded)` (deterministic
  * pick: md5 of the summary json) in a window that shares the merge's
  * one key exchange. Set summaries (KMV, bitmap) absorb a row merged
  * twice — `absorbsReplays` — so their faces skip the window and the
  * merge keeps its partial aggregation: what crosses the exchange is
  * one merge buffer per task and key, not every raw row. Key
  * tombstones are masked before the exchange. The horizon is read on
  * the driver ([[SummaryStore.horizon]], one single-stage job over the
  * folded rows) before the plan is built.
  *
  * Deletion is the [[Tombstones]] protocol: [[pop]] masks whole keys
  * (a summary is derived from the key's raw values, so forgetting a
  * source includes its telemetry); [[compact]] drops them physically
  * and retires the tombstones if no pop landed mid-compact.
  *
  * Reads refresh the table first: a stream's foreachBatch appends from
  * a CLONED session, so another session's cached file listing goes
  * stale between batches (refresh is metadata-only).
  *
  * 100 TB shape: per-batch work is one bounded aggregation; read state
  * per key is (batches since compact + 1) summaries, re-bounded by the
  * compact cadence; nothing driver-side ever holds a summary.
  */
final class SummaryStore(
    key: String, value: String, absorbsReplays: Boolean) {

  private def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("parquet").mode(mode).saveAsTable(table)

  /** Append the batch's `(key, value)` summaries as raw rows. */
  def append(
      spark: SparkSession, table: String, rows: DataFrame,
      batchId: Long): Unit =
    write(rows.select(col(key), col(value), lit(batchId).as("ver"),
        lit(false).as("folded")), table,
      if (spark.catalog.tableExists(table)) SaveMode.Append
      else SaveMode.ErrorIfExists)

  /** Take down whole keys (class doc). */
  def pop(spark: SparkSession, table: String, keys: DataFrame): Unit =
    Tombstones.of(table).append(spark, keys.select(col(key)))

  /** The rows a fold may see (class doc); `mask` drops popped rows
    * before the dedup's exchange.
    */
  def visible(spark: SparkSession, table: String)(
      mask: DataFrame => DataFrame): DataFrame = {
    val hi = SummaryStore.horizon(spark, table) // refreshes the listing
    val rows = spark.table(table)
    val live = mask(hi.fold(rows)(hi =>
      rows.filter(col("ver") > hi || (col("folded") && col("ver") === hi))))
    if (absorbsReplays) live
    else live.repartition(col(key))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(key), col("ver"), col("folded"))
          .orderBy(md5(to_json(col(value))))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The visible rows of unpopped keys merged per key by `merge`. */
  def fold(spark: SparkSession, table: String, merge: Column): DataFrame =
    visible(spark, table)(Tombstones.of(table).minus(spark, _, key))
      .groupBy(col(key)).agg(merge)

  /** OPTIMIZE: swap in `folded` — one `(key, value)` row per key — at
    * the new horizon. A zero-row table is left as it is.
    */
  def compact(spark: SparkSession, table: String)(
      folded: => DataFrame): Unit = {
    spark.catalog.refreshTable(table)
    val top = spark.table(table).agg(max(col("ver"))).head()
    if (!top.isNullAt(0)) {
      val dels = Tombstones.of(table)
      val snap = dels.snapshot(spark) // before the fold reads
      TableSwap.rewrite(spark, table)(
        write(folded.select(col(key), col(value),
          lit(top.getLong(0)).as("ver"), lit(true).as("folded")),
          _, SaveMode.ErrorIfExists))
      dels.retire(spark, snap)
    }
  }
}

object SummaryStore {

  /** The table's fold horizon — the `ver` its last compact stamped —
    * or None before the first compact (or when there is no table). One
    * map-side max per task over the folded rows (a single-stage job,
    * row groups of raw rows skipped by their `folded` statistics).
    */
  def horizon(spark: SparkSession, table: String): Option[Long] =
    if (!spark.catalog.tableExists(table)) None
    else {
      spark.catalog.refreshTable(table)
      Some(spark.table(table).filter(col("folded")).select(col("ver"))
        .rdd.map(_.getLong(0)).fold(Long.MinValue)(math.max(_, _)))
        .filter(_ != Long.MinValue)
    }
}
