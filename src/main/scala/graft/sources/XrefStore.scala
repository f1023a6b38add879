package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Xref

/** The xref judgement table as a Spark-managed table — the analogue of
  * the reference's `..._xref` `ReplacingMergeTree(ts) ORDER BY
  * (left_id, right_id)` (engine.py:176-203) with its `_reverse`
  * projection (engine.py:259-261).
  *
  * Layout: main table BUCKETED BY left_id, sorted (left_id, right_id)
  * — the FINAL window partitions by the pair key, and a hash
  * partitioning on a subset (left_id) of the partition keys satisfies
  * the window's required clustering, so judgement upserts resolve with
  * ZERO Exchange (spec-asserted). A ClickHouse projection is a second
  * physically-sorted copy maintained on insert; the analogue here is a
  * sibling `<table>_reverse` bucketed by right_id, written by the same
  * [[append]] — reverse lookups ("who matched against X") become
  * bucket-pruned point reads instead of full scans. Same 2× insert
  * cost as the reference's projection, same read win.
  */
object XrefStore {

  def reverseTable(table: String): String = table + "_reverse"

  /** The physical layout of each side — main, the `_reverse`
    * projection and the `_mapping` — written only through
    * [[BucketedLayout]], so no side can diverge from its creation
    * bucket count. The `_mapping` is created at the main table's
    * count.
    */
  private val mainLayout = BucketedLayout(
    bucketCols = Seq("left_id"), sortCols = Seq("left_id", "right_id"))
  private val reverseLayout = BucketedLayout(
    bucketCols = Seq("right_id"), sortCols = Seq("right_id", "left_id"))
  private val mappingLayout = BucketedLayout(
    bucketCols = Seq("entity_id"), sortCols = Seq("entity_id", "ver"))

  private def mainRows(df: DataFrame): DataFrame =
    df.select(Xref.columns.map(col): _*)

  private def mappingRows(df: DataFrame): DataFrame =
    df.select(col("entity_id"), col("canonical_id"), col("ver"))

  /** Append judgement rows to the main table AND the reverse
    * projection (one insert maintains both, like ClickHouse does for
    * projections on insert). `buckets` applies only to a table this
    * call creates; an existing one keeps its creation count.
    */
  def append(xref: DataFrame, table: String, buckets: Int = 64): Unit = {
    mainLayout.write(mainRows(xref), table, buckets)
    reverseLayout.write(Xref.reverse(xref), reverseTable(table), buckets)
  }

  /** Raw read — may contain superseded judgement rows. */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Take down a DATASET — the corpus-grain right-to-be-forgotten for
    * the judgement family (xref rows carry their entities' datasets,
    * so a dataset is this store's "source"): names land append-only
    * in `<table>_dsdels`; every judgement read face excludes rows
    * touching a popped dataset on EITHER side immediately (the row
    * embeds the forgotten entities' captions/countries — it goes
    * wholesale); [[compact]] drops the rows physically, rebuilds the
    * derived `_mapping` from the surviving judgements (removing a
    * dataset's positives can SPLIT components, so the rebuild is the
    * full resolver, not a delta), and retires the tombstones. Until
    * that compact the mapping still carries the popped dataset's
    * entities — the documented staleness window, same as every
    * store's pop-to-compact gap.
    */
  def popDataset(
      spark: SparkSession, table: String, datasets: DataFrame): Unit =
    Tombstones.ofDatasets(table)
      .append(spark, datasets.select(col("dataset")))

  private def minusDsDels(
      spark: SparkSession, table: String, df: DataFrame): DataFrame =
    Tombstones.ofDatasets(table).ids(spark, "dataset").fold(df)(dels =>
      df.join(broadcast(dels),
        df("left_dataset") === dels("dataset") ||
          df("right_dataset") === dels("dataset"),
        "left_anti"))

  /** FINAL read: the latest judgement per (left_id, right_id) —
    * ReplacingMergeTree(ts), minus [[popDataset]]ed rows. In-bucket
    * window, no Exchange (the tombstone anti-join broadcasts).
    */
  def readLatest(spark: SparkSession, table: String): DataFrame =
    Xref.latestJudgements(minusDsDels(spark, table, read(spark, table)))

  /** Reverse lookup via the projection table: all latest judgements
    * whose RIGHT side is the given entity. The equi-filter prunes to
    * one bucket of `<table>_reverse`; the FINAL window then runs over
    * that bucket only (keyed (left_id, right_id) exactly like the main
    * table — the projection holds the same rows reordered).
    */
  def lookupByRight(
      spark: SparkSession, table: String, rightId: String): DataFrame =
    Xref.latestJudgements(minusDsDels(spark, table,
      spark.table(reverseTable(table)).filter(col("right_id") === rightId)))

  /** Durable judgement dedup — the `OPTIMIZE FINAL` analogue for the
    * xref family (engine.optimize, engine.py:117-125): rewrite the
    * main table with [[readLatest]] applied, then rebuild the
    * `_reverse` projection FROM the compacted main table (so the
    * projection can never drift from the rows it projects). Each table
    * is written exactly ONCE to a versioned stage sibling and swapped
    * in by [[TableSwap.rewrite]]'s single location swap — the same
    * no-absent-window pattern as [[StatementStore.compact]]. Each
    * rewrite keeps its table's creation bucket count
    * ([[BucketedLayout]]).
    */
  def compact(spark: SparkSession, table: String): Unit = {
    // tombstone snapshot BEFORE the FINAL read: the compacted rows
    // honor at least these pops
    val dels = Tombstones.ofDatasets(table)
    val delsSnap = dels.snapshot(spark)
    mainLayout.rewrite(spark, table)(
      mainRows(readLatest(spark, table)))
    // [[compact]] swaps main THEN `_reverse`; a crash between the two
    // swaps leaves the reverse projection one compaction behind main.
    // That staleness is row-level harmless — both tables hold the same
    // upsert-keyed rows and every read path reapplies the FINAL window
    // — and re-running compact is the repair. (The per-table swap
    // itself has no absent-name window; policy in [[TableSwap]].)
    // reverse = projection of the already-compacted main: a cheap
    // bucket-local parquet re-read, no second FINAL computation
    reverseLayout.rewrite(spark, reverseTable(table))(
      Xref.reverse(read(spark, table)))
    // a dataset takedown invalidates the derived mapping structurally
    // (losing positives can split components) — rebuild it from the
    // surviving judgements with the full resolver, staged + swapped
    val target = mappingTable(table)
    if (delsSnap.nonEmpty && spark.catalog.tableExists(target)) {
      val maxRow = spark.table(target).agg(max(col("ver"))).collect()(0)
      // an all-retracted store can leave the mapping empty — rebuild
      // at ver 0 rather than NPE on the null max
      val maxVer = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      mappingLayout.rewrite(spark, target)(mappingRows(
        Xref.resolverMapping(readLatest(spark, table))
          .withColumn("ver", lit(maxVer))))
    }
    dels.retire(spark, delsSnap)
  }

  // ---------------------------------------------------------------
  // Stored resolver mapping — the VERSIONED canonical map the
  // incremental resolver maintains (r11)
  // ---------------------------------------------------------------

  def mappingTable(table: String): String = table + "_mapping"

  /** Serve the LIVE canonical mapping: latest row per entity_id by
    * `ver` — ReplacingMergeTree semantics over the versioned delta
    * appends. Bucketed by entity_id, so the FINAL window needs no
    * Exchange and point lookups prune to one bucket.
    */
  def readMapping(spark: SparkSession, table: String): DataFrame =
    graft.operators.ReplacingMerge.latestByKey(
      spark.table(mappingTable(table)),
      keys = Seq(col("entity_id")), version = Seq(col("ver")))
      .select(col("entity_id"), col("canonical_id"))

  /** Fold one judgement batch into the store AND its canonical
    * mapping — the maintenance face a streaming resolver runs per
    * micro-batch (st15). Judgements land first ([[append]] — the
    * double-insert order every store uses: the authoritative rows
    * before the derived view, so a crash leaves the mapping BEHIND,
    * never wrong; re-running the batch is the repair). Then:
    *
    *   - first batch (no mapping table yet) or a RETRACTION batch
    *     (a non-positive re-judgement inside a live component —
    *     [[Xref.applyJudgementsDelta]] returns None): full
    *     [[Xref.resolverMapping]] over [[readLatest]], staged and
    *     swapped in at `ver` (the compact pattern — no absent
    *     window).
    *   - otherwise: the O(component) delta — only the merged
    *     components' relabeled rows plus first-appearance rows,
    *     APPENDED at `ver`. [[readMapping]]'s FINAL window makes the
    *     new rows supersede.
    *
    * Replay-idempotent without coordination: a re-delivered batch
    * finds its endpoints already merged, so the delta is empty (a
    * positive pair whose endpoints share a canonical relabels
    * nothing and introduces no fresh ids) — the replay appends zero
    * rows. `ver` must be monotone per applied batch (a streaming
    * batchId, an ingest timestamp); equal-`ver` duplicates are
    * harmless (the FINAL window's row_number picks one of two
    * identical rows). `buckets` applies only when this call creates
    * the judgement tables; the `_mapping` always lands at the main
    * table's count.
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, table: String, ver: Long,
      buckets: Int = 64): Unit = {
    append(batch, table, buckets)
    val target = mappingTable(table)
    val full: Option[DataFrame] =
      if (!spark.catalog.tableExists(target)) Some(
        Xref.resolverMapping(readLatest(spark, table)))
      else Xref.applyJudgementsDelta(readMapping(spark, table), batch,
        stored = Some(readLatest(spark, table))) match {
        case Some(delta) =>
          mappingLayout.writeBeside(
            mappingRows(delta.withColumn("ver", lit(ver))), target, table)
          None
        case None => Some(Xref.resolverMapping(readLatest(spark, table)))
      }
    full.foreach(m => mappingLayout.replace(
      mappingRows(m.withColumn("ver", lit(ver))), target, table))
  }

  /** OPTIMIZE for the mapping table: rewrite with the FINAL window
    * applied (current rows only, superseded delta versions dropped),
    * staged + swapped like [[compact]], at the mapping's creation
    * bucket count.
    */
  def compactMapping(spark: SparkSession, table: String): Unit = {
    val target = mappingTable(table)
    mappingLayout.rewrite(spark, target)(mappingRows(
      graft.operators.ReplacingMerge.latestByKey(spark.table(target),
        keys = Seq(col("entity_id")), version = Seq(col("ver")))))
  }
}
