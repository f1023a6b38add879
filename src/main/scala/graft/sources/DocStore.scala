package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The document corpus as a managed table WITH its near-dup index —
  * the INCREMENTAL dedup storage pattern that sits between batch d3
  * (re-block the whole corpus) and the st12 stream guard (per-event
  * state): a daily ingest asks "which stored documents are near-dup
  * candidates of this new batch?" and the answer must not reshuffle —
  * or even move — the corpus.
  *
  * Two tables, written together:
  *
  *   - `<table>`: the documents, BUCKETED BY doc_id — point lookups
  *     and the FINAL dedup-by-id read are in-bucket, and the text
  *     bytes land spread evenly.
  *   - `<table>_bands`: the MinHash-LSH band-key index
  *     (doc_id, band, key) — one row per (doc, band), computed by the
  *     SAME fused words→shingles→signature→bands kernel as batch d3
  *     and streaming st12, so all three faces flag identical
  *     candidates. Narrow columns only; text never enters the index.
  *
  * [[append]] double-inserts docs AND their band keys in one call
  * (the st8/FpxStore discipline) so normal operation never drifts
  * them; a crash BETWEEN the two writes can — see [[append]] for why
  * the index-first order makes that state loud rather than silently
  * lossy, and [[compact]] for the durable repair.
  *
  * The probe ([[nearDupCandidates]]) broadcasts the NEW batch's band
  * keys onto one scan of the stored index: the corpus side never
  * shuffles and its text is never read — at 100 TB the ingest-batch
  * dedup costs one narrow 3-column index scan plus a candidate-pair
  * shuffle bounded by the BATCH, not the corpus. Hot band keys
  * (boilerplate shingles shared by millions of stored docs) are
  * excluded by the same maxBucket cutoff as batch d3, counted only
  * over keys the batch actually probes.
  */
object DocStore {

  /** The three bucketed tables' layouts, each written only through
    * [[BucketedLayout]]: the documents (doc_id buckets, a split-block
    * bloom filter on doc_id — on a z store the files are never doc_id-
    * sorted, so the bloom is the ONLY point-lookup index), the band
    * index and the anchor index.
    */
  private val docLayout = BucketedLayout(bucketCols = Seq("doc_id"),
    sortCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
  private val bandLayout = BucketedLayout(
    bucketCols = Seq("band", "key"), sortCols = Seq("band", "key"))
  private val anchorLayout =
    BucketedLayout(bucketCols = Seq("h"), sortCols = Seq("h"))

  /** Append a document batch and its band-key index rows. The INDEX
    * lands first: the two writes are not atomic, and the two possible
    * crash states are not symmetric — orphan index rows (index landed,
    * docs did not) can only produce candidates that die loudly at the
    * text-verification join, while missing index rows (docs landed,
    * index did not) are SILENT false negatives on every later probe.
    * [[compact]] rebuilds the index from the deduped docs, repairing
    * either drift durably. The anchor index (when on) lands first for
    * the same asymmetry: a span candidate naming a doc the store lost
    * dies loudly when the caller joins for its text. `buckets` and
    * `zorder` apply only to tables this call creates; existing ones
    * keep their creation bucket count and z declaration
    * ([[BucketedLayout]]). `writerOptions` act only on the creating
    * write of the documents table too: Spark records the creating
    * write's options in the catalog entry, and every later append
    * writes under those.
    */
  def append(
      docs: DataFrame,
      table: String,
      buckets: Int = 64,
      zorder: Option[(Seq[String], Int)] = None,
      writerOptions: Map[String, String] = Map.empty): Unit = {
    val spark = docs.sparkSession
    if (hasAnchors(spark, table))
      anchorLayout.write(anchorRows(docs, anchorK(spark, table)),
        s"${table}_anchors", buckets)
    bandLayout.write(bandKeys(docs), s"${table}_bands", buckets)
    docLayout.write(docs, table, buckets, zorder, writerOptions)
  }

  /** The ONE band-key projection all faces of the store share. */
  private def bandKeys(docs: DataFrame): DataFrame =
    docs
      .filter(size(Dedup.words(col("text"))) >= 3)
      .select(col("doc_id"), posexplode(Dedup.bandKeys(col("text"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))

  /** The positional-anchor projection of the EXACT-substring index
    * (`<table>_anchors`) — the same (doc, pos, 60-bit k-gram hash)
    * rows batch d14 anchors on ([[Dedup.dupSpans]] step 1, the same
    * compiled kernel), persisted. This is the relational analog of
    * Lee et al.'s suffix array and has the same honest size class:
    * TOKEN grain, one narrow row per token (the band index is
    * doc-grain). Bucketed AND sorted by `h`, so the probe-time df
    * count is in-bucket and row-group min/max stats prune scans.
    */
  private def anchorRows(docs: DataFrame, anchorK: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(
        graft.functions.NgramHashesExpression
          .ngramHashesAll(Dedup.words(col("text")), anchorK, 0)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))

  /** Whether this store maintains the exact-substring anchor index —
    * the tables' existence IS the mode switch (the VecStore tree-table
    * discipline): [[initAnchors]] turns it on, and every later
    * [[append]]/[[compact]] keeps it in step without the caller
    * re-passing options.
    */
  def hasAnchors(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(s"${table}_anchors")

  /** The persisted anchor width. The index is meaningless under any
    * other k — hashes of different-width grams never collide usefully
    * — so k lives WITH the store, not in call sites.
    */
  def anchorK(spark: SparkSession, table: String): Int =
    spark.table(s"${table}_anchorsmeta").head().getInt(0)

  /** Build the exact-substring anchor index for an EXISTING store
    * (from its FINAL rows) and switch anchor maintenance on. Re-init
    * with a different k rebuilds from scratch — mixed-width anchor
    * rows would silently never collide. The index is created at the
    * documents table's bucket count.
    */
  def initAnchors(spark: SparkSession, table: String, k: Int = 8): Unit = {
    require(k >= 2, s"initAnchors: anchor width k must be >= 2, got $k")
    TableSwap.dropManaged(spark, s"${table}_anchors")
    TableSwap.dropManaged(spark, s"${table}_anchorsmeta")
    import spark.implicits._
    Seq(k).toDF("anchor_k").write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_anchorsmeta")
    anchorLayout.writeBeside(anchorRows(readFinal(spark, table), k),
      s"${table}_anchors", table)
  }

  /** Raw read — may contain duplicate doc_ids from re-ingests and
    * rows whose ids have been [[pop]]ped (physically dropped only at
    * [[compact]]).
    */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** FINAL read: one row per doc_id (any survivor — re-ingested docs
    * are byte-identical), [[pop]]ped ids excluded. In-bucket dedup, no
    * shuffle: the takedown set joins as a broadcast anti-join (it is
    * request-sized, never data-sized), so the corpus still never
    * moves.
    */
  def readFinal(spark: SparkSession, table: String): DataFrame =
    // __z is the physical z-order sort key of laid-out stores — pure
    // placement metadata, never part of the corpus
    minusDels(spark, table, read(spark, table).drop("__z"))
      .dropDuplicates("doc_id")

  /** Take down documents — the corpus-store delete the statement
    * store's tombstones ([[StatementStore.pop]]) already have: the ids
    * land APPEND-ONLY in `<table>_dels`, so no surviving document is
    * rewritten, and every read face (FINAL, [[nearDupCandidates]])
    * excludes them immediately. [[compact]] later drops the doc rows
    * AND their `_bands` index rows physically and retires the
    * tombstones.
    *
    * Takedown is STICKY until compaction: a popped id re-appended
    * before the next [[compact]] stays hidden and is physically
    * dropped by it — exactly what a right-to-be-forgotten request
    * wants when the same document is re-delivered by an upstream
    * crawl. After compaction the id is free to ingest again.
    *
    * Returns the popped documents (FINAL rows matching `docIds`),
    * materialized BEFORE the tombstones land — distributed, not
    * collected: a takedown batch can be large even though the
    * tombstone table stays request-bounded.
    */
  def pop(spark: SparkSession, table: String, docIds: DataFrame): DataFrame = {
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint()
    val popped = readFinal(spark, table)
      .join(broadcast(ids), Seq("doc_id"))
      .localCheckpoint()
    Tombstones.of(table).append(spark, ids)
    popped
  }

  /** The tombstone-only half of [[pop]] — the streaming takedown face
    * (st16): lands the request ids in `<table>_dels` WITHOUT
    * materializing the popped rows, so a takedown micro-batch costs
    * one request-bounded append and nothing corpus-sized. Same sticky
    * semantics, same read-exclusion, same [[compact]] retirement.
    */
  def popIds(spark: SparkSession, table: String, docIds: DataFrame): Unit =
    Tombstones.of(table).append(spark, docIds.select(col("doc_id")))

  /** `df` minus tombstoned ids ([[Tombstones.minus]]). */
  private def minusDels(
      spark: SparkSession, table: String, df: DataFrame): DataFrame =
    Tombstones.of(table).minus(spark, df, "doc_id")

  /** The stored index. */
  def bands(spark: SparkSession, table: String): DataFrame =
    spark.table(s"${table}_bands")

  /** Near-dup candidates of `newDocs` against the STORED corpus:
    * (stored_doc_id, new_doc_id) pairs sharing at least one band key,
    * each pair once. The new batch's keys are hint-broadcast — an
    * ingest batch is ingest-sized, the exact regime where t5
    * broadcasts its probe set — so the stored index scans once
    * through a broadcast hash join with no corpus-side shuffle.
    * Keys matching more than `maxBucket` DISTINCT stored docs are
    * excluded (batch d3's blocking cutoff; at 100 TB a boilerplate
    * key is otherwise an unbounded fan-out), with the count taken
    * only over probed keys. Self-matches (a doc already stored being
    * re-probed) are excluded by id.
    */
  def nearDupCandidates(
      spark: SparkSession,
      table: String,
      newDocs: DataFrame,
      maxBucket: Int = 1000): DataFrame = {
    // Materialize the batch's band keys ONCE: the projection feeds two
    // plan subtrees (the broadcast distinct key set and the final
    // join), and without the checkpoint each subtree recomputes the
    // batch MinHash signatures — twice the kernel work, and an
    // inconsistent key set if newDocs is backed by a non-deterministic
    // source. Batch-sized, so the eager materialization is cheap.
    val probe = bandKeys(newDocs)
      .withColumnRenamed("doc_id", "new_doc_id")
      .localCheckpoint()
    // popped docs leave the candidate space immediately (their index
    // rows die physically at compact); exclusion sits BELOW the bucket
    // counts so a tombstoned boilerplate doc no longer inflates them
    val stored = minusDels(spark, table, bands(spark, table))
    val hits = stored.join(
      broadcast(probe.select(col("band"), col("key")).distinct()),
      Seq("band", "key"))
    // cutoff over probed keys only, through the SAME guarded set-build
    // as d3/f8 ([[graft.operators.Fpx.boundedMemberSets]]): its size
    // guard is a window over the (band, key) clustering the set build
    // also uses, so the stored index is scanned ONCE and exchanged once.
    // min = 1: a stored doc alone on a probed key still pairs with the
    // batch doc that probed it (pairs are stored×new, never stored×
    // stored).
    val bounded = graft.operators.Fpx.boundedMemberSets(
      hits, Seq("band", "key"), "doc_id", 1, maxBucket)
      .select(col("band"), col("key"), explode(col("ids")).as("doc_id"))
    bounded
      .join(probe, Seq("band", "key"))
      .filter(col("doc_id") =!= col("new_doc_id"))
      .select(col("doc_id").as("stored_doc_id"), col("new_doc_id"))
      .distinct()
  }

  /** EXACT-substring candidates of `newDocs` against the STORED
    * corpus — the incremental face of batch d14 ([[Dedup.dupSpans]]):
    * every maximal ≥ `minRun`-token verbatim run between a stored doc
    * and a batch doc, computed from the persisted anchor index
    * without re-anchoring the corpus. Output: (stored_doc_id,
    * new_doc_id, start_stored, start_new, run_len) — exactly the full
    * d14 rows over (stored ∪ batch) RESTRICTED to stored×batch pairs
    * (spec-asserted), with the pair in store/batch order instead of
    * d14's id order.
    *
    * Shape at 100 TB: two narrow scans of the anchor index (both
    * broadcast-pruned by the batch's probed hashes; the index is
    * h-bucketed so the df count aggregates in-bucket) and everything
    * else bounded by the BATCH — the corpus never shuffles and its
    * text is never read. Scan 1 computes the stored df per probed
    * hash so the boilerplate cutoff applies BEFORE any anchor row
    * materializes — a one-scan variant would have to hold the
    * uncapped hit set, which a boilerplate gram makes corpus-sized.
    * The df cap is the UNION-corpus cap of the batch algorithm
    * (stored df ≤ union df makes the stored-side pre-cut lossless),
    * so restriction equivalence is exact, run geometry included.
    * A doc_id present in BOTH store and batch must carry the same
    * text (the re-ingest contract everywhere in this store).
    */
  def dupSpanCandidates(
      spark: SparkSession,
      table: String,
      newDocs: DataFrame,
      minRun: Int = 12,
      maxDf: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = anchorK(spark, table)
    require(minRun >= k,
      s"dupSpanCandidates: minRun ($minRun) must be >= the stored " +
        s"anchor width k ($k)")
    // batch anchors feed three subtrees (probe keys, union df, pair
    // join) — materialize the kernel once (the nearDupCandidates
    // discipline); batch-sized
    val anchB = anchorRows(newDocs, k)
      .select(col("doc_id").as("new_doc_id"), col("pos").as("pb"),
        col("h"))
      .localCheckpoint()
    val probeKeys = anchB.select(col("h")).distinct()
    val stored = minusDels(spark, table,
      spark.table(s"${table}_anchors"))
    // scan 1 — stored df per probed hash (in-bucket aggregate, output
    // probed-hash-bounded); the stored-side cap is lossless vs the
    // union cap below
    val dfStored = stored
      .join(broadcast(probeKeys), Seq("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nds"))
      .filter(col("nds") <= maxDf)
      .select(col("h"))
      .localCheckpoint() // probed-hash-bounded; keeps scan 2 pruned
    // scan 2 — the capped hits, now bounded by maxDf × probed hashes
    val hits = stored
      .join(broadcast(dfStored), Seq("h"))
      .select(col("doc_id").as("stored_doc_id"), col("pos").as("ps"),
        col("h"))
      .localCheckpoint()
    // the union-corpus df cap of batch d14, over probed hashes only
    val sel = hits.select(col("h"), col("stored_doc_id").as("d"))
      .union(anchB.select(col("h"), col("new_doc_id").as("d")))
      .distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDf)
      .select(col("h"))
    val m = hits.join(broadcast(sel), Seq("h"))
      .join(broadcast(anchB), Seq("h"))
      .filter(col("stored_doc_id") =!= col("new_doc_id"))
      .withColumn("diag", col("ps") - col("pb"))
    val w = Window
      .partitionBy(col("stored_doc_id"), col("new_doc_id"), col("diag"))
      .orderBy(col("ps"))
    m.withColumn("isl", col("ps") - row_number().over(w))
      .groupBy(col("stored_doc_id"), col("new_doc_id"), col("diag"),
        col("isl"))
      .agg(min(col("ps")).cast("long").as("start_stored"),
        min(col("pb")).cast("long").as("start_new"),
        (max(col("ps")) - min(col("ps")) + k).cast("long").as("run_len"))
      .filter(col("run_len") >= minRun)
      .select(col("stored_doc_id"), col("new_doc_id"),
        col("start_stored"), col("start_new"), col("run_len"))
  }

  /** Handle between [[compactStage]] and [[compactFinish]]: the two
    * staged table names plus the corpus/tombstone file-list snapshots
    * taken BEFORE the stage build read anything.
    */
  final case class CompactStage(
      docsTmp: String,
      bandsTmp: String,
      snapFiles: Set[String],
      delsSnap: Set[String],
      anchorsTmp: Option[String] = None)

  /** The HEAVY half of [[compact]], runnable OFF the writer's critical
    * path (r12 — the acknowledged st13 stall: the corpus-sized FINAL
    * rewrite used to run inline in foreachBatch). Builds the staged
    * FINAL docs table and its rebuilt band index but performs NO swap;
    * the live tables keep serving and the writer keeps appending
    * throughout. Safe to run concurrently with appends because the
    * stores dedup at read: any rows appended while this builds are
    * either missed by the stage (the [[compactFinish]] delta catch-up
    * re-appends them — file-list diff against `snapFiles`) or already
    * included (the catch-up then appends a duplicate, which the FINAL
    * read collapses and the next compact physically drops). Nothing is
    * ever lost; the only cost of the race is bounded, read-time-
    * invisible duplication.
    *
    * Each stage is written at its live table's creation bucket count
    * and z layout ([[BucketedLayout.stage]]). A crash after this
    * leaves stage garbage the next compact's dropAllStages reclaims —
    * the live tables are untouched.
    */
  def compactStage(spark: SparkSession, table: String): CompactStage =
    stage(spark, table, Map.empty)

  private def stage(
      spark: SparkSession,
      table: String,
      writerOptions: Map[String, String]): CompactStage = {
    val docsTmp = TableSwap.stageName(spark, table)
    TableSwap.dropAllStages(spark, table)
    TableSwap.dropAllStages(spark, s"${table}_bands")
    // snapshots BEFORE the FINAL read: everything the stage might miss
    // is in files that appear after this list (delta ⊇ missed rows),
    // and the stage honors AT LEAST these tombstones
    val snapFiles = spark.table(table).inputFiles.toSet
    val delsSnap = Tombstones.of(table).snapshot(spark)
    docLayout.stage(readFinal(spark, table), docsTmp, table, writerOptions)
    val bandsTmp = TableSwap.stageName(spark, s"${table}_bands")
    bandLayout.stage(bandKeys(spark.table(docsTmp)), bandsTmp,
      s"${table}_bands")
    val anchorsTmp = if (!hasAnchors(spark, table)) None else {
      TableSwap.dropAllStages(spark, s"${table}_anchors")
      val t = TableSwap.stageName(spark, s"${table}_anchors")
      anchorLayout.stage(
        anchorRows(spark.table(docsTmp), anchorK(spark, table)),
        t, s"${table}_anchors")
      Some(t)
    }
    CompactStage(docsTmp, bandsTmp, snapFiles, delsSnap, anchorsTmp)
  }

  /** The CHEAP half: catch up and swap. MUST run serialized with the
    * writer (inside a micro-batch, or with the stream stopped) so the
    * file-list diff is stable and no append can land mid-swap. Cost is
    * append-bounded — the delta rows since [[compactStage]]'s snapshot
    * (filtered against the CURRENT tombstones, so a pop stays sticky
    * through the rewrite) plus two metadata-only [[TableSwap]] swaps.
    * The tombstone table retires only when no NEW tombstones landed
    * since the stage snapshot (`delsSnap` unchanged) — tombstones the
    * stage never honored must keep filtering reads until the next
    * compact; retained rows for already-dropped ids are no-ops. The
    * delta lands at the stages' (the live tables' creation) bucket
    * count.
    */
  def compactFinish(
      spark: SparkSession, table: String, st: CompactStage): Unit = {
    val delta = spark.table(table).inputFiles.toSet -- st.snapFiles
    if (delta.nonEmpty) {
      val deltaRows = minusDels(spark, table,
        spark.read.format("parquet").load(delta.toSeq: _*).drop("__z"))
        .localCheckpoint()
      // the stages exist, so their catalog (the live tables' count and
      // z layout) governs these appends
      docLayout.stage(deltaRows, st.docsTmp, table)
      bandLayout.stage(bandKeys(deltaRows), st.bandsTmp, s"${table}_bands")
      st.anchorsTmp.foreach(anchorLayout.stage(
        anchorRows(deltaRows, anchorK(spark, table)), _,
        s"${table}_anchors"))
    }
    TableSwap.swapIn(spark, st.docsTmp, table)
    TableSwap.swapIn(spark, st.bandsTmp, s"${table}_bands")
    st.anchorsTmp.foreach(TableSwap.swapIn(spark, _, s"${table}_anchors"))
    Tombstones.of(table).retire(spark, st.delsSnap)
  }

  /** OPTIMIZE inline — durable dedup of both tables via the shared
    * staged swap ([[TableSwap]] crash-window policy): [[compactStage]]
    * then [[compactFinish]] back to back (with no append in between
    * the file-list delta is empty). Documents dedup by id (FINAL —
    * [[pop]]ped ids physically dropped), the index rebuilds FROM the
    * deduped documents so compaction also repairs any index drift AND
    * sheds the tombstoned docs' band rows. The tombstone table retires
    * LAST, and only if no pop landed mid-compact: a crash after the
    * doc swap but before the retire leaves the anti-join filtering ids
    * that no longer exist — a no-op, never a resurrection.
    * `writerOptions` reach the staged docs write. The rewrite keeps
    * the creation bucket count and z layout.
    */
  def compact(
      spark: SparkSession,
      table: String,
      writerOptions: Map[String, String] = Map.empty): Unit =
    compactFinish(spark, table, stage(spark, table, writerOptions))
}
