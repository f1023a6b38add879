package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TreeMatrix, TreeQuantizerExpression}
import graft.operators.{Dedup, Similarity}

/** The embedding corpus as a managed table WITH its IVF coarse-
  * quantizer index — the vector-side sibling of [[DocStore]], and the
  * INCREMENTAL storage face of d12/s3: a daily ingest asks "which
  * stored vectors are semantic near-dups of this batch?" and the
  * answer must touch only the batch's own inverted lists, never
  * re-assign (or even re-read) the whole corpus.
  *
  * Layout — two tables, one physical index:
  *
  *   - `<table>_cents`: the coarse quantizer, trained ONCE at
  *     [[init]] ([[Similarity.centroids]] — the same table d12/s3
  *     broadcast). k is chosen, not data-sized, so this stays tiny.
  *     Tree stores ([[init]] `treeTopCount`) add `_tops`/`_leafmap` —
  *     the persisted [[Similarity.treeQuantizer]] two-level map; the
  *     tables' existence switches every assignment and probe face to
  *     the √L-cost tree descent (see [[init]]'s doc for the trade).
  *   - `<table>`: (vec_id, embedding, __n, list_id) PARTITIONED BY
  *     list_id and bucketed by vec_id. The partition layout IS the
  *     inverted-list index: unlike [[DocStore]]'s sibling band table,
  *     there is no second table to double-insert and therefore no
  *     crash window in which index and data can drift — every row
  *     physically lives in its list. `__n` is the precomputed vector
  *     norm (the SURVEY §5 norms-once rule, paid at write time).
  *
  * Every assignment and probe face picks lists through ONE matrix
  * ([[quantizer]], a [[graft.functions.TreeMatrix]]): the persisted
  * tree on tree stores, otherwise the flat matrix (one subtree holding
  * every centroid). The quantizer is structurally bounded, so it rides
  * in the plan as one expression-local object: [[append]]'s
  * assignment is compute-only in the scan, and the write then carries
  * exactly ONE batch-sized layout shuffle ([[BucketedLayout]], r12 —
  * the price of one-file-per-bucket on many-split sources). Flat
  * assignment is bit-identical to the operators' (d12/d13/s3: same
  * 4dp-rounded score, same list_id tie-break; spec-asserted against
  * the declarative [[Similarity.nearestLists]] twin), so the store,
  * batch d12, and the d13 DataFrame twin flag identical dups. A
  * zero-norm vector lands in the lowest list id.
  *
  * [[nearDupVerdicts]] broadcasts the batch's assignments onto the
  * stored lists: the broadcast list-id join prunes the scan to the
  * PROBED PARTITIONS (dynamic partition pruning — probe cost is
  * nProbe-lists/|lists| of the corpus, near-flat in corpus size), the
  * corpus side never shuffles, and only narrow verdict rows leave the
  * scan tasks ([[Dedup.crossVerdicts]]).
  *
  * The quantizer is FIXED after init (production semantics — retrain
  * is a deliberate rebuild via [[init]] + re-append, triggered by
  * drift, not by ingest). [[compact]] dedups re-delivered appends
  * durably and never needs the quantizer: list_id is already a column
  * of every row.
  */
object VecStore {

  /** (Re)create the store: train the coarse quantizer on the initial
    * corpus (grouped by `key` — a label, shard, or clustering column,
    * exactly [[Similarity.centroids]]' contract), persist it, then
    * write the assigned corpus, creating the main table at `buckets`:
    * the one call that names the store's bucket count.
    *
    * init on an EXISTING store drops every table first (the
    * `--recreate` semantics): re-initializing is the documented drift
    * retrain, and appending a new quantizer's rows next to rows
    * assigned under the old one would leave stored vectors in
    * partitions the new centroid map never probes — silent misses on
    * every later search/dedup. A retrain therefore rebuilds
    * everything, including any `_pq`/`_codes` artifacts (re-run
    * [[trainPqCodebook]] after).
    *
    * `treeTopCount > 0` opts the store into TREE coarse assignment
    * (r12 — the [[graft.operators.Similarity.treeQuantizer]] scale
    * path, for stores whose list count outgrows the flat argmax): the
    * two-level map persists as `<table>_tops` /
    * `<table>_leafmap` next to the leaf quantizer, and every
    * assignment and probe face descends nearest-top →
    * nearest-leaf-within-subtree (topCount + ~L/topCount candidate
    * scores per vector instead of L) for as long as the tables exist.
    * FLAT stays the default: tree assignment is approximate at
    * subtree boundaries (the s7 agreement trade — 0.95 at L = 100,
    * 0.82 at L = 1000 per `TreeIvfProbe`), so the flat parity specs
    * pin flat stores bit-exactly to the operator faces while tree
    * stores pin to [[graft.operators.Similarity.ivfTreeTopK]].
    * Re-init WITHOUT the option drops the tree tables — a former tree
    * store falls back to flat cleanly, never half-and-half.
    */
  def init(
      spark: SparkSession,
      table: String,
      embeddings: DataFrame,
      key: Column,
      buckets: Int = 16,
      treeTopCount: Int = 0): Unit = {
    for (t <- Seq(table, s"${table}_cents", s"${table}_tops",
        s"${table}_leafmap", s"${table}_pq",
        s"${table}_codes", Tombstones.of(table).name)) {
      TableSwap.dropAllStages(spark, t)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    Similarity.centroids(embeddings, key).write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(s"${table}_cents")
    if (treeTopCount > 0) {
      val (tops, leafMap) =
        Similarity.treeQuantizer(centroids(spark, table), treeTopCount)
      tops.write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(s"${table}_tops")
      leafMap.write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(s"${table}_leafmap")
    }
    listedLayout.write(withAssignment(spark,
      embeddings.select(col("vec_id"), col("embedding")), table),
      table, buckets)
  }

  /** The corpus and `_codes` layout: list_id partitions (the inverted
    * lists), vec_id buckets, written only through [[BucketedLayout]] —
    * one file per non-empty (list, bucket) per write.
    */
  private val listedLayout = BucketedLayout(bucketCols = Seq("vec_id"),
    sortCols = Seq("vec_id"), partCols = Seq("list_id"))

  /** The stored coarse quantizer. */
  def centroids(spark: SparkSession, table: String): DataFrame =
    spark.table(s"${table}_cents")

  /** Append a vector batch: scan-local nearest-centroid assignment
    * against the stored quantizer, then one partitioned + bucketed
    * write. No index table to keep in step — the row lands IN its
    * inverted list. The store must exist: [[init]] creates it and
    * names its bucket count.
    */
  def append(spark: SparkSession, vectors: DataFrame, table: String): Unit = {
    val hasPq = spark.catalog.tableExists(s"${table}_pq")
    // a codebook without its codes cache is the crash state between
    // trainPqCodebook's two writes — appending would CREATE a cache
    // holding only this batch, which every later PQ search would serve
    // as if it were the corpus (silent misses on everything older).
    // Refuse with the repair instead.
    require(!hasPq || spark.catalog.tableExists(s"${table}_codes"),
      s"VecStore: `${table}_pq` exists without `${table}_codes` " +
        "(crashed/partial trainPqCodebook?) — rerun trainPqCodebook " +
        "before appending")
    // the OTHER crash window: a new codebook landed in _pq but the
    // codes swap never completed, so the cache still carries the old
    // hash. Appending would stamp new-hash rows INTO the stale cache —
    // serving later refuses loudly, but the broken state would grow
    // with every batch. Catch it at write time instead: one sampled
    // code row's stamp must match the live codebook (the staged-swap
    // rebuild makes the cache hash-uniform, so a single row decides).
    if (hasPq) requireCodesInStep(spark, table)
    val assigned0 = withAssignment(spark, vectors, table)
    // with a codebook present this batch feeds TWO tables — materialize
    // once so a non-deterministic source cannot desync codes from
    // vectors (the DocStore probe lesson)
    val assigned = if (hasPq) assigned0.localCheckpoint() else assigned0
    listedLayout.append(assigned, table)
    // VECTORS first (source of truth): a crash here leaves the codes
    // cache lagging — PQ search misses the batch until the next
    // encode/retrain — but codes can never reference vectors that do
    // not exist (the xref/statements direction; the exact-search and
    // dedup faces read the main table and never lag)
    if (hasPq) appendCodes(spark, assigned, table)
  }

  /** Raw read — may contain duplicate vec_ids from re-delivered
    * appends (byte-identical rows: same embedding ⇒ same list) and
    * rows whose ids have been [[pop]]ped (physically dropped only at
    * [[compact]]).
    */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** FINAL read: one row per vec_id, [[pop]]ped ids excluded. In-bucket
    * dedup — the bucketed scan reports hash clustering on vec_id, so no
    * Exchange; the takedown set joins as a broadcast anti-join
    * (request-sized), so the corpus still never moves.
    */
  def readFinal(spark: SparkSession, table: String): DataFrame =
    minusDels(spark, table, read(spark, table)).dropDuplicates("vec_id")

  /** Take down vectors — the [[DocStore.pop]] twin for the embedding
    * corpus: the ids land APPEND-ONLY in `<table>_dels`, every serving
    * face ([[nearDupVerdicts]], [[ivfTopK]], [[ivfPqTopK]] — including
    * its codes scan) excludes them immediately, and [[compact]] later
    * drops the vector rows AND their `_codes` rows physically before
    * retiring the tombstones. Sticky until compaction, exactly like
    * the doc store: a popped id re-appended before the next compact
    * stays hidden and is dropped by it.
    *
    * Returns the popped vectors (FINAL rows matching `vecIds`),
    * materialized BEFORE the tombstones land.
    */
  def pop(spark: SparkSession, table: String, vecIds: DataFrame): DataFrame = {
    val ids = vecIds.select(col("vec_id")).distinct().localCheckpoint()
    val popped = readFinal(spark, table)
      .join(broadcast(ids), Seq("vec_id"))
      .localCheckpoint()
    Tombstones.of(table).append(spark, ids)
    popped
  }

  /** The tombstone-only half of [[pop]] — the streaming takedown face
    * (st16), the [[DocStore.popIds]] twin: request ids land in
    * `<table>_dels` without materializing the popped rows, so a
    * takedown micro-batch costs one request-bounded append.
    */
  def popIds(spark: SparkSession, table: String, vecIds: DataFrame): Unit =
    Tombstones.of(table).append(spark, vecIds.select(col("vec_id")))

  /** `df` minus tombstoned vec_ids ([[Tombstones.minus]]). Shared by
    * the FINAL read and every serving face's pruned scan (where it sits
    * ABOVE the partition filter, so list pruning is unaffected).
    */
  private def minusDels(
      spark: SparkSession, table: String, df: DataFrame): DataFrame =
    Tombstones.of(table).minus(spark, df, "vec_id")

  /** Which vectors of `newVecs` are semantic near-dups of the STORED
    * corpus — the d12 verdict frame restricted to stored×batch pairs
    * (one row per batch vector: is_dup, dup_of, best_cos at ≥
    * `minCos`, 4dp-rounded). Only lists with more than `maxList`
    * stored members are excluded wholesale (the d5/d12 cutoff,
    * counted over probed lists only).
    *
    * The batch assigns scan-locally and is materialized ONCE (the
    * DocStore probe lesson); the stored side is the partition-pruned
    * table scan — see [[Dedup.crossVerdicts]] for the shared verdict
    * core and its scale shape.
    */
  def nearDupVerdicts(
      spark: SparkSession,
      table: String,
      newVecs: DataFrame,
      minCos: Double,
      maxList: Int = 10000): DataFrame = {
    val batchA = withAssignment(spark,
      newVecs.select(col("vec_id").as("new_vec_id"), col("embedding")),
      table, idCol = "new_vec_id")
      .localCheckpoint()
    // STATIC partition pruning: the probed list set is a subset of the
    // centroid ids (assignment takes values in the quantizer), so this
    // collect is bounded by k — the same structurally-bounded class as
    // [[litCents]] itself. A literal IN filter prunes the scan to the
    // probed partitions unconditionally; the dynamic-pruning rule was
    // measured NOT firing against the checkpointed batch side (no
    // stats, no selective predicate), which would silently read every
    // list at 100 TB. crossVerdicts FINAL-dedups after this filter.
    val probedIds = batchA.select(col("list_id")).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    val storedHits = minusDels(spark, table,
      read(spark, table).filter(col("list_id").isInCollection(probedIds)))
    Dedup.crossVerdicts(storedHits, batchA, minCos, maxList,
      fromStore = true)
  }

  /** IVF ANN search SERVED FROM THE STORE (the s3 read face of the
    * layout): each query picks its `nProbe` nearest stored lists
    * through the same [[quantizer]] matrix the write path uses, the
    * corpus scan statically prunes to those partitions (the
    * [[nearDupVerdicts]] IN-filter — probe cost is the probed lists,
    * not the corpus), and candidates score EXACTLY (cosine over the
    * stored vectors and their write-time norms). Output is identical
    * to [[graft.operators.Similarity.ivfTopK]] over the FINAL corpus
    * with the stored centroids (spec-asserted): same list choices
    * (shared 4dp-rounded score + list_id tie-break), same scoring
    * arithmetic, same two-phase top-k.
    *
    * On a TREE store ([[init]] `treeTopCount`) the same probe
    * descends: `nProbeTop` subtrees, then the `nProbe` best leaves
    * across their children — and the output pins to
    * [[graft.operators.Similarity.ivfTreeTopK]] over the FINAL corpus
    * with the stored centroid table (spec-asserted; a flat matrix has
    * one subtree, so `nProbeTop` changes nothing there).
    */
  /** `among`: optional FILTERED-search predicate — a (vec_id) frame;
    * when set, only stored vectors in it are scored (left-semi AFTER
    * the probed-list pushdown, so the scan stays list-pruned and the
    * result is exact over the allowed set within the probed lists —
    * the s9 pre-filter contract, possible on STORED lists because
    * assignment is per-vector and filter-independent). The id set is
    * request-grain and AQE-sized; a selective filter never triggers
    * the post-filter "top-k came back short" recall cliff.
    */
  def ivfTopK(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      nProbeTop: Int = 2,
      among: Option[DataFrame] = None): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("qn"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(TreeQuantizerExpression.probeLists(col("qv"), col("qn"),
          quantizer(spark, table), nProbeTop, nProbe)).as("pc"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("pc.list_id").as("list_id"))
      .localCheckpoint()
    val probedIds = probes.select(col("list_id")).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    val visible = minusDels(spark, table,
      read(spark, table).filter(col("list_id").isInCollection(probedIds)))
      .dropDuplicates("vec_id")
    val stored = among match {
      case Some(ids) =>
        visible.join(ids.select(col("vec_id")), Seq("vec_id"), "left_semi")
      case None => visible
    }
    val scored = stored.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Dedup.cosineWithNorms(
        col("qv"), col("embedding"), col("qn"), col("__n")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"))
    Similarity.topKPerQuery(scored, k)
  }

  /** Train and persist the PQ codebook from the stored corpus
    * ([[graft.operators.Similarity.trainPqCodebook]] → `<table>_pq`) —
    * the codebook LIFECYCLE the in-query training hides: train once
    * over the store, reuse across every s5/s6-style query (pass
    * [[codebook]] as their `codebook =`), and re-run THIS on drift
    * (the retrain is a deliberate operation, like [[init]]'s quantizer
    * — BASELINE.md round 10 records the recall decay that triggers
    * it). Reuse is bit-identical to in-query training on unchanged
    * data (spec-asserted).
    */
  def trainPqCodebook(
      spark: SparkSession,
      table: String,
      numSub: Int = 8,
      codebookK: Int = 16,
      dims: Int = 64): Unit = {
    // train ONCE, stamp the codebook's content hash on the codebook
    // AND every code row: codebook and codes are a mutually-dependent
    // pair with no atomic two-table write, so consistency is enforced
    // at READ time instead — ivfPqTopK refuses loudly when probed code
    // rows carry a different hash than the live codebook (a crash
    // between the two writes here, or a half-finished retrain, becomes
    // an error message naming the repair, never silent garbage ADC)
    val cbDf = Similarity.trainPqCodebook(
      readFinal(spark, table).select(col("vec_id"), col("embedding")),
      numSub, codebookK, dims)
      .localCheckpoint()
    val stamped = cbDf.withColumn("cb_hash", lit(cbHashOf(cbDf)))
    stamped.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${table}_pq")
    rebuildCodes(spark, table, stamped)
  }

  /** Rebuild the `_codes` cache from the FINAL corpus under codebook
    * `cb` — the one definition of the codes write shape, shared by
    * [[trainPqCodebook]] and [[compact]]. Re-encoding from the corpus
    * floats (rather than deduping the existing code rows) is
    * deliberate: it also HEALS a lagging cache — vectors whose
    * codes-append crashed after the vector write re-enter PQ serving
    * here, the repair both failure docs point at. An existing table
    * swaps via [[TableSwap]] (no window in which the name fails to
    * resolve); a first build creates it directly, at the corpus
    * table's bucket count.
    */
  private def rebuildCodes(
      spark: SparkSession, table: String, cb: DataFrame): Unit = {
    val corpus = readFinal(spark, table)
      .select(col("vec_id"), col("embedding"), col("list_id"))
    val codesT = s"${table}_codes"
    // a LEGACY unpartitioned cache can't take a partitioned stage by
    // a location swap (its catalog entry declares no partition
    // column) — and an unpartitioned layout predates the
    // stamp scheme, so PQ serving is already refusing on it: replace
    // it wholesale (no serving window exists to protect)
    if (spark.catalog.tableExists(codesT) &&
        !TableSwap.partitioned(spark, codesT))
      TableSwap.dropManaged(spark, codesT)
    listedLayout.replace(encode(corpus, cb), codesT, table)
  }

  /** The stored PQ codebook ([[trainPqCodebook]]); carries `cb_hash`,
    * the content hash every code row is stamped with.
    */
  def codebook(spark: SparkSession, table: String): DataFrame =
    spark.table(s"${table}_pq")

  /** The stored PQ codes cache (vec_id, sub, code, cb_hash, list_id). */
  def codes(spark: SparkSession, table: String): DataFrame =
    spark.table(s"${table}_codes")

  private def appendCodes(
      spark: SparkSession, assigned: DataFrame, table: String): Unit =
    listedLayout.writeBeside(encode(
      assigned.select(col("vec_id"), col("embedding"), col("list_id")),
      liveCodebook(spark, table)), s"${table}_codes", table)

  /** The `_codes` rows of `vecsWithList` under codebook `cb`, each
    * stamped with the codebook's `cb_hash`.
    */
  private def encode(vecsWithList: DataFrame, cb: DataFrame): DataFrame = {
    requireStamped(cb, "the _codes cache")
    val (numSub, subDim) = pqShape(cb)
    val hash = cb.select(col("cb_hash")).head().getString(0)
    Similarity.pqEncode(
      Similarity.subVectors(
        Similarity.unitVectors(
          vecsWithList.select(col("vec_id"), col("embedding")),
          "vec_id", numSub * subDim),
        "vec_id", numSub, subDim),
      cb.drop("cb_hash"))
      .join(vecsWithList.select(col("vec_id"), col("list_id")),
        Seq("vec_id"))
      .withColumn("cb_hash", lit(hash))
  }

  /** Legacy guard: a `_pq` table written before the hash-stamp scheme
    * has no `cb_hash` column — fail with the actionable repair
    * instead of an unresolved-column analyzer error.
    */
  private def requireStamped(cb: DataFrame, what: String): Unit =
    require(cb.columns.contains("cb_hash"),
      s"VecStore: the stored codebook predates the cb_hash consistency " +
        s"scheme (needed for $what) — rerun trainPqCodebook to restamp " +
        "and re-encode")

  /** The `_codes` twin of [[requireStamped]], shared by [[append]] and
    * [[ivfPqTopK]]: the cache must CARRY stamps (legacy unstamped
    * tables fail with the repair, not an unresolved-column analyzer
    * error) and, when non-empty, a sampled row's stamp must match the
    * live codebook — catching a half-finished retrain (new `_pq`, old
    * codes) with one bucket-file row read, never a cache scan.
    */
  private def requireCodesInStep(spark: SparkSession, table: String): String = {
    val c = codes(spark, table)
    require(c.columns.contains("cb_hash"),
      s"VecStore: `${table}_codes` predates the cb_hash consistency " +
        "scheme — rerun trainPqCodebook to restamp and re-encode")
    val cb = liveCodebook(spark, table)
    requireStamped(cb, s"${table}_codes consistency check")
    val live = cb.select(col("cb_hash")).head().getString(0)
    val sampled = c.select(col("cb_hash")).limit(1).collect()
    require(sampled.isEmpty || sampled.head.getString(0) == live,
      s"VecStore: `${table}_codes` holds rows encoded under a " +
        "different codebook than the live `_pq` (crashed/partial " +
        "retrain?) — rerun trainPqCodebook to re-encode")
    live
  }

  /** The SERVING generation of the codebook. Normally `_pq` holds one
    * generation and this is just the table; during a
    * [[retrainPqStaged]] (r12) the table transiently holds TWO
    * stamped generations, and the CODES' sampled stamp picks the one
    * to serve — the codes swap is the atomic commit point (TableSwap),
    * so readers resolve old-consistently before it and
    * new-consistently after it, with NO refusal window at any instant.
    * With two generations and no codes at all (a crash state no write
    * path produces), the lexicographically smaller hash is a
    * deterministic tie-break; `migrate` prunes leftovers.
    */
  private def liveCodebook(spark: SparkSession, table: String): DataFrame = {
    val cb = spark.table(s"${table}_pq")
    if (!cb.columns.contains("cb_hash")) cb
    else {
      val hashes = cb.select(col("cb_hash")).distinct()
        .collect().map(_.getString(0))
      if (hashes.length <= 1) cb
      else {
        val h =
          if (spark.catalog.tableExists(s"${table}_codes")) {
            val s = spark.table(s"${table}_codes")
            if (s.columns.contains("cb_hash")) {
              val sampled = s.select(col("cb_hash")).limit(1).collect()
              sampled.headOption.map(_.getString(0))
                .filter(hashes.contains).getOrElse(hashes.min)
            } else hashes.min
          } else hashes.min
        cb.filter(col("cb_hash") === lit(h))
      }
    }
  }

  /** The serving-generation codebook WITHOUT its stamp column — the
    * external read face (drift monitoring passes it to
    * [[graft.operators.Similarity.pqQuantizationError]]); resolves the
    * generation exactly like every internal consumer does.
    */
  def servingCodebook(spark: SparkSession, table: String): DataFrame =
    liveCodebook(spark, table).drop("cb_hash")

  /** Drop every codebook generation except the serving one — the
    * cleanup tail of [[retrainPqStaged]] and `migrate`'s repair for an
    * interrupted one. Staged [[TableSwap]]: no absent-`_pq` window.
    */
  private def pruneCodebook(
      spark: SparkSession, table: String): Unit = {
    val live = liveCodebook(spark, table).localCheckpoint()
    TableSwap.rewrite(spark, s"${table}_pq")(
      live.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(_))
  }

  /** RETRAIN the PQ codebook while the store keeps serving — the
    * streaming face of [[trainPqCodebook]] (r12, the drift response
    * st14's gate invokes). [[trainPqCodebook]]'s plain Overwrite of
    * `_pq` has an absent-table window and its codebook-then-codes
    * order has a stamp-mismatch window in which [[ivfPqTopK]] REFUSES;
    * this path has neither, via GENERATION TOLERANCE:
    *
    *   1. the new codebook generation APPENDS into `_pq` next to the
    *      old (readers resolve the serving generation from the codes'
    *      stamp — [[liveCodebook]] — so they keep serving OLD,
    *      consistently);
    *   2. the codes cache rebuilds under the new generation through
    *      the existing staged swap — the one ATOMIC commit point:
    *      before it readers resolve old/old, after it new/new;
    *   3. the old generation prunes out of `_pq` ([[pruneCodebook]],
    *      staged).
    *
    * A crash between any two steps leaves a state that SERVES
    * consistently (old before step 2, new after) and that the next
    * retrain or `migrate` cleans — strictly better than the
    * trainPqCodebook crash states, whose repairs it also subsumes.
    * Shape (numSub/K/dims) carries over from the live generation.
    */
  def retrainPqStaged(spark: SparkSession, table: String): Unit = {
    val old = liveCodebook(spark, table).localCheckpoint()
    requireStamped(old, "retrainPqStaged")
    // self-heal an interrupted previous retrain before adding a gen
    if (spark.table(s"${table}_pq").select(col("cb_hash")).distinct()
        .count() > 1L) pruneCodebook(spark, table)
    val (numSub, subDim) = pqShape(old)
    val k = (old.count() / numSub).toInt
    val cbDf = Similarity.trainPqCodebook(
      readFinal(spark, table).select(col("vec_id"), col("embedding")),
      numSub, k, numSub * subDim)
      .localCheckpoint()
    val newHash = cbHashOf(cbDf)
    // unchanged corpus ⇒ identical codebook: appending the same
    // generation again would DUPLICATE its rows (and every ADC join
    // against them) — a retrain that changes nothing is a no-op
    if (newHash == old.select(col("cb_hash")).head().getString(0)) return
    val stamped = cbDf.withColumn("cb_hash", lit(newHash))
      .localCheckpoint()
    stamped.write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"${table}_pq")
    rebuildCodes(spark, table, stamped)
    pruneCodebook(spark, table)
  }

  /** Deterministic content hash of a codebook: rows sorted by
    * (sub, code), doubles via their exact bit patterns. Bounded —
    * numSub·codebookK rows.
    */
  private def cbHashOf(cb: DataFrame): String = {
    val rows = cb.select(col("sub"), col("code"), col("cw")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2))
    val sb = new StringBuilder
    rows.foreach { case (s, c, cw) =>
      sb.append(s).append(':').append(c)
      cw.foreach(d => sb.append(',')
        .append(java.lang.Long.toHexString(
          java.lang.Double.doubleToLongBits(d))))
      sb.append(';')
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** (numSub, subDim) read off the stored codebook itself — the shape
    * is data, not configuration, so append/search can never encode
    * with a different geometry than training did.
    */
  private def pqShape(cb: DataFrame): (Int, Int) = {
    val r = cb.agg(max(col("sub")), max(size(col("cw")))).head()
    (r.getInt(0) + 1, r.getInt(1))
  }

  /** IVF+PQ ANN search SERVED FROM THE STORE — the full production
    * path: the query's `nProbe` lists are ranked through the
    * [[quantizer]] over the UNIT query vectors with norm 1.0 (the
    * operator face pre-normalizes, and matching its arithmetic bitwise
    * is what keeps the parity spec exact), the CODES cache is read
    * partition-pruned (corpus floats untouched by the ADC stage) with
    * the codebook-hash guard folded into the scan, ADC scores against the stored codebook, and only
    * the capped shortlist re-reads true vectors (bucketed vec_id join
    * on the main table — no store-side shuffle) for the exact
    * re-rank. Output matches
    * [[graft.operators.Similarity.ivfPqTopK]] over the FINAL corpus
    * with the stored centroids, codebook, and list layout
    * (spec-asserted).
    */
  def ivfPqTopK(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      shortlist: Int = 0,
      nProbeTop: Int = 2): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val cb = liveCodebook(spark, table)
    val (numSub, subDim) = pqShape(cb)
    val dims = numSub * subDim
    val tm = quantizer(spark, table)
    // shortlist 0 = AUTO ([[Similarity.scaledShortlist]], the measured
    // probed/8 rule): sized from the RAW row count — a parquet
    // metadata-only job, and ≥ FINAL so re-delivered duplicates can
    // only widen the shortlist (recall never shrinks; compact restores
    // equality with the operator face's corpus count)
    val shortlist0 =
      if (shortlist > 0) shortlist
      else Similarity.scaledShortlist(
        read(spark, table).count(), tm.leafCount, nProbe)
    val queriesV = Similarity.unitVectors(
      queries.select(col("vec_id"), col("embedding")), "query_id", dims)
      .localCheckpoint()
    // probe selection over the UNIT query vectors with norm 1.0, so
    // d = dot(v,c)/|c| — bitwise Similarity.ivfPqTopK's, NOT the
    // raw-vector form: the two are mathematically equal but differ in
    // low-order bits, and a cosine within an ulp of a 4dp rounding
    // boundary would otherwise flip a probe list between the store
    // face and the operator face. PQ probe selection may therefore
    // differ from write-time assignment by an ulp at a 4dp boundary;
    // list-driven pruning downstream is correct either way
    val probes = queriesV
      .select(col("query_id"), explode(TreeQuantizerExpression.probeLists(
        col("v"), lit(1.0), tm, nProbeTop, nProbe)).as("pc"))
      .select(col("query_id"), col("pc.list_id").as("list_id"))
      .localCheckpoint()
    val probedIds = probes.select(col("list_id")).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    // ADC: pruned codes × the per-query dot table (both sides narrow).
    // The hash guard makes a codebook/codes mismatch (a half-finished
    // retrain) LOUD instead of silently summing a dot table against
    // codes from a different codebook. It is folded INTO the code
    // column itself — assert_true is null on success, so `code` keeps
    // its value and the check cannot be pruned away — which means it
    // rides the one scan the ADC join performs: zero extra jobs.
    // fast-fail face of the guard: legacy unstamped codes and the
    // uniform stale-cache state die HERE with the repair message (one
    // sampled row, no cache scan); the in-scan assert_true below stays
    // as defense for a MIXED cache, where a sample can miss
    val liveHash = requireCodesInStep(spark, table)
    val mismatch = s"VecStore: `${table}_codes` holds rows encoded " +
      "under a different codebook than the live `_pq` " +
      "(crashed/partial retrain?) — rerun trainPqCodebook to re-encode"
    val storedCodes = minusDels(spark, table,
      codes(spark, table).filter(col("list_id").isInCollection(probedIds)))
      .dropDuplicates("vec_id", "sub")
      .withColumn("code",
        col("code") + coalesce(
          assert_true(col("cb_hash") === lit(liveHash), lit(mismatch))
            .cast("long"),
          lit(0L)))
    val dtable = Similarity
      .subVectors(queriesV, "query_id", numSub, subDim)
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        Dedup.dot(col("sv"), col("cw")).as("pd"))
      .join(probes.select(col("query_id"), col("list_id")),
        Seq("query_id"))
    val scored = storedCodes
      .join(broadcast(dtable), Seq("sub", "code", "list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("cos"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"))
    val short = Similarity.topKPerQuery(scored, shortlist0,
      scoreName = "adc")
      .select(col("query_id"), col("neighbor_id"))
    val corpusV = Similarity.unitVectors(
      readFinal(spark, table).select(col("vec_id"), col("embedding")),
      "vec_id", dims)
    val rescored = corpusV
      .select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queriesV.select(col("query_id"),
        col("v").as("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.dot(col("qv"), col("v")).as("cos"))
    Similarity.topKPerQuery(rescored, k)
  }

  /** Durable dedup of re-delivered appends: [[compactStage]] then
    * [[compactFinish]] back to back (with no append in between the
    * file-list delta is empty), through the shared staged swap
    * ([[TableSwap]] crash-window policy). The inverted-list index
    * needs no rebuild: list_id is a column, so the deduped rows
    * re-partition into the identical lists. A present `_codes` cache
    * is rebuilt from the compacted corpus through the same staged
    * swap (re-delivered code rows are read-time-deduped anyway, but a
    * cache that only ever grows defeats compaction), stamped with the
    * LIVE codebook's hash. [[pop]]ped vectors — already FINAL-excluded
    * — drop physically here, their code rows with them (the rebuild
    * reads the compacted corpus); the tombstone table retires LAST and
    * only if no pop landed mid-compact, so a crash anywhere earlier
    * leaves the anti-join filtering ids that are already gone — a
    * no-op, never a resurrection. The rewrite keeps the corpus's and
    * the cache's creation bucket counts ([[BucketedLayout]]).
    */
  def compact(spark: SparkSession, table: String): Unit =
    compactFinish(spark, table, compactStage(spark, table))

  /** Handle between [[compactStage]] and [[compactFinish]] — the
    * [[DocStore.CompactStage]] twin for the embedding corpus: staged
    * table names, the pre-build file-list snapshots, and the codebook
    * stamp the staged codes were encoded under (`None` when no codes
    * cache was staged — absent, legacy-unpartitioned, or unstamped).
    */
  final case class CompactStage(
      vecsTmp: String,
      codesTmp: Option[(String, String)],
      snapFiles: Set[String],
      delsSnap: Set[String])

  /** The HEAVY half of [[compact]], runnable OFF the writer's critical
    * path (r12 — completes the out-of-band compaction symmetry:
    * [[DocStore.compactStage]] existed, the vector store's corpus-sized
    * FINAL rewrite AND its full `_codes` re-encode still ran inline in
    * st14's foreachBatch). Builds the staged deduped corpus and, when a
    * healthy partitioned+stamped codes cache exists, re-encodes it from
    * the STAGED corpus under the live codebook — both without touching
    * the live tables, so appends/pops/serves continue throughout. Safe
    * concurrent with the writer for the same reason the doc store is:
    * reads dedup, so a row the stage missed is in [[compactFinish]]'s
    * file-list delta and a row it caught twice collapses at FINAL.
    *
    * Each stage is written at its live table's creation bucket count
    * ([[BucketedLayout.stage]]). A crash after this leaves only stage
    * garbage the next compact's dropAllStages reclaims.
    */
  def compactStage(spark: SparkSession, table: String): CompactStage = {
    val vecsTmp = TableSwap.stageName(spark, table)
    TableSwap.dropAllStages(spark, table)
    TableSwap.dropAllStages(spark, s"${table}_codes")
    // snapshots BEFORE the FINAL read (the DocStore contract): the
    // delta ⊇ every row the stage can miss, and the stage honors AT
    // LEAST these tombstones
    val snapFiles = spark.table(table).inputFiles.toSet
    val delsSnap = Tombstones.of(table).snapshot(spark)
    listedLayout.stage(readFinal(spark, table), vecsTmp, table)
    val codesTmp =
      if (!spark.catalog.tableExists(s"${table}_codes")) None
      else {
        val cb = liveCodebook(spark, table)
        if (!cb.columns.contains("cb_hash") ||
            !TableSwap.partitioned(spark, s"${table}_codes")) None
        else {
          val tmp = TableSwap.stageName(spark, s"${table}_codes")
          listedLayout.stage(encode(spark.table(vecsTmp)
              .select(col("vec_id"), col("embedding"), col("list_id")), cb),
            tmp, s"${table}_codes")
          Some((tmp, cb.select(col("cb_hash")).head().getString(0)))
        }
      }
    CompactStage(vecsTmp, codesTmp, snapFiles, delsSnap)
  }

  /** The CHEAP half: catch up and swap. MUST run serialized with the
    * writer. Cost is append-bounded — the delta rows since
    * [[compactStage]]'s snapshot (read with the table root as
    * `basePath`, so each row keeps the EXACT list the append assigned
    * it — flat or tree — without recomputing any descent; filtered
    * against the CURRENT tombstones so a mid-build pop stays sticky)
    * plus metadata-only [[TableSwap]] swaps. The staged codes swap in
    * only if the live codebook still carries the stamp they were
    * encoded under — a drift-triggered retrain that landed mid-build
    * invalidates the stage, and the rare fallback is the inline
    * [[rebuildCodes]] (which also covers the legacy layouts the stage
    * declined to touch). Tombstones retire only when none landed after
    * the stage snapshot. The delta lands at the stages' (the live
    * tables' creation) bucket count.
    */
  def compactFinish(
      spark: SparkSession, table: String, st: CompactStage): Unit = {
    val delta = spark.table(table).inputFiles.toSet -- st.snapFiles
    val deltaRows =
      if (delta.isEmpty) None
      else {
        val base = spark.sessionState.catalog
          .getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(table))
          .location.toString
        // keep EVERY stored column (incl. the persisted `__n` norm) —
        // the partition column list_id re-enters via basePath inference
        val rows = minusDels(spark, table,
          spark.read.format("parquet").option("basePath", base)
            .load(delta.toSeq: _*))
          .localCheckpoint()
        listedLayout.stage(rows, st.vecsTmp, table)
        Some(rows)
      }
    TableSwap.swapIn(spark, st.vecsTmp, table)
    if (spark.catalog.tableExists(s"${table}_codes")) {
      val live = liveCodebook(spark, table)
      val liveHash =
        if (live.columns.contains("cb_hash"))
          Some(live.select(col("cb_hash")).head().getString(0))
        else None
      st.codesTmp match {
        case Some((tmp, stamp)) if liveHash.contains(stamp) =>
          deltaRows.foreach(rows =>
            listedLayout.stage(encode(rows, live), tmp, s"${table}_codes"))
          TableSwap.swapIn(spark, tmp, s"${table}_codes")
        case _ =>
          // stale stage (mid-build retrain) or a layout the stage
          // declined — drop any staged codes and rebuild inline
          TableSwap.dropAllStages(spark, s"${table}_codes")
          rebuildCodes(spark, table, live)
      }
    }
    Tombstones.of(table).retire(spark, st.delsSnap)
  }

  /** MIGRATE a store written by an older build to the current layout —
    * the automated face of the compat repairs SURVEY §7 documents as
    * manual steps ("re-derive persisted assignments", "rerun
    * trainPqCodebook"). Detects, repairs in dependency order, and
    * returns one line per repair (empty = already current, and the
    * call scheduled no write — a second migrate is a no-op):
    *
    *   1. STALE LIST ASSIGNMENTS (e.g. the pre-r11 pre-4dp argmax):
    *      a sampled recompute of `list_id` against the stored
    *      quantizer disagrees with the persisted column → the whole
    *      corpus re-assigns through the staged swap (serving faces
    *      keep answering; probes prune on the REPAIRED layout after).
    *      Detection is sampled (`sampleN` FINAL rows, scan-local
    *      recompute) because any drifted layout drifts broadly — the
    *      4dp change moved every near-boundary vector.
    *   2. UNSTAMPED CODEBOOK (`_pq` predates cb_hash): retrain at the
    *      SHAPE inferred from the legacy codebook (numSub/K/dims), so
    *      the operating point carries over; rebuilds + restamps codes.
    *   3. CRASHED trainPqCodebook (`_pq` without `_codes`), UNSTAMPED
    *      `_codes`, STAMP-MISMATCHED `_codes` (half-finished retrain),
    *      or codes invalidated by a step-1 re-assign: rebuild the
    *      cache from the corpus under the live codebook.
    *
    * An orphaned `_codes` without `_pq` (no serving path can read it)
    * is dropped. Every rewrite rides [[TableSwap]] — no absent-table
    * window at any point; a crash mid-migrate leaves a state this
    * method repairs on the next run (idempotent by construction:
    * every repair is re-detected, never assumed done).
    */
  def migrate(
      spark: SparkSession,
      table: String,
      sampleN: Int = 1000): Seq[String] = {
    val actions = scala.collection.mutable.Buffer.empty[String]
    var codesStale = false
    // 1. sampled assignment check against the live quantizer
    val sample = readFinal(spark, table)
      .select(col("vec_id"), col("embedding"), col("list_id"))
      .limit(sampleN).localCheckpoint()
    // recomputed through the SAME quantizer the write path uses — a
    // drifted tree store (e.g. tree tables rebuilt by hand) repairs to
    // the tree layout, never silently back to flat
    val drifted = sample
      .withColumn("__n", sqrt(Dedup.dot(col("embedding"), col("embedding"))))
      .withColumn("__new", assignment(spark, table))
      .filter(col("__new") =!= col("list_id")).count()
    if (drifted > 0) {
      reassignCorpus(spark, table)
      codesStale = true
      actions += s"reassigned corpus: $drifted/${sample.count()} sampled " +
        "rows carried a stale list assignment (pre-4dp layout)"
    }
    // 2./3. PQ artifact repairs
    val hasPq = spark.catalog.tableExists(s"${table}_pq")
    val hasCodes = spark.catalog.tableExists(s"${table}_codes")
    if (!hasPq && hasCodes) {
      TableSwap.dropManaged(spark, s"${table}_codes")
      actions += "dropped orphaned _codes cache (no _pq codebook serves it)"
    } else if (hasPq) {
      val raw = spark.table(s"${table}_pq")
      if (raw.columns.contains("cb_hash") &&
          raw.select(col("cb_hash")).distinct().count() > 1L) {
        pruneCodebook(spark, table)
        actions += "pruned stale codebook generation(s) left by an " +
          "interrupted retrain (_pq held multiple cb_hash stamps)"
      }
      val cb = liveCodebook(spark, table)
      if (!cb.columns.contains("cb_hash")) {
        val (numSub, subDim) = pqShape(cb)
        val k = (cb.count() / numSub).toInt
        trainPqCodebook(spark, table, numSub, k, numSub * subDim)
        codesStale = false
        actions += s"retrained codebook at the legacy shape " +
          s"(numSub=$numSub, K=$k, dims=${numSub * subDim}): stored " +
          "_pq predated the cb_hash stamp scheme"
      } else if (!hasCodes) {
        rebuildCodes(spark, table, cb)
        codesStale = false
        actions += "rebuilt _codes: _pq existed without its cache " +
          "(crashed trainPqCodebook)"
      } else {
        val codes = spark.table(s"${table}_codes")
        val reason =
          if (!codes.columns.contains("cb_hash"))
            Some("_codes predates the cb_hash stamp scheme")
          else {
            val live = cb.select(col("cb_hash")).head().getString(0)
            val sampled = codes.select(col("cb_hash")).limit(1).collect()
            if (sampled.nonEmpty && sampled(0).getString(0) != live)
              Some("_codes stamp mismatches the live codebook " +
                "(half-finished retrain)")
            else if (codesStale)
              Some("corpus re-assignment moved code rows across lists")
            else None
          }
        reason.foreach { r =>
          rebuildCodes(spark, table, cb)
          codesStale = false
          actions += s"rebuilt _codes: $r"
        }
      }
    }
    actions.toSeq
  }

  /** Re-derive every stored row's list through the CURRENT
    * [[withAssignment]] plug point (flat argmax or tree descent —
    * whatever the store's tables say) and rewrite the corpus via the
    * staged swap. The repair body shared by [[migrate]]'s drift step,
    * [[treeify]], and [[untreeify]]; popped rows (already
    * FINAL-excluded) drop physically, so the tombstones retire with
    * the swap unless a pop landed mid-rewrite.
    */
  private def reassignCorpus(spark: SparkSession, table: String): Unit = {
    val delsSnap = Tombstones.of(table).snapshot(spark) // before FINAL
    listedLayout.rewrite(spark, table)(withAssignment(spark,
      readFinal(spark, table).select(col("vec_id"), col("embedding")),
      table))
    Tombstones.of(table).retire(spark, delsSnap)
  }

  /** Opt an EXISTING populated store into TREE mode in place (r12) —
    * the upgrade path [[init]]'s `treeTopCount` cannot offer (re-init
    * drops the corpus): train the two-level quantizer over the stored
    * leaf centroids ([[graft.operators.Similarity.treeQuantizer]] —
    * same training, same determinism as an init-time tree), persist
    * `_leafmap` THEN `_tops` (the mode switch keys on `_tops`, so a
    * crash between the writes leaves a still-flat-serving store and an
    * orphan map the retry overwrites — never a dangling tree), then
    * re-assign the corpus through the descent so every stored row
    * lives in its tree-chosen list (the spec-pinned invariant every
    * tree face relies on) and rebuild `_codes` across the moved lists.
    * A crash AFTER the tree lands but before the re-assign is exactly
    * the drifted state [[migrate]]'s sampled check detects and
    * repairs. Idempotent: an already-tree store returns no actions.
    */
  def treeify(
      spark: SparkSession, table: String, topCount: Int): Seq[String] = {
    require(spark.catalog.tableExists(s"${table}_cents"),
      s"VecStore: no store at `$table` (missing `${table}_cents`)")
    if (spark.catalog.tableExists(s"${table}_tops")) return Seq.empty
    val (tops, leafMap) =
      Similarity.treeQuantizer(centroids(spark, table), topCount)
    leafMap.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${table}_leafmap")
    tops.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${table}_tops")
    reassignCorpus(spark, table)
    val actions = scala.collection.mutable.Buffer(
      s"trained tree quantizer (topCount=$topCount) and re-assigned " +
        "the corpus through the descent")
    if (spark.catalog.tableExists(s"${table}_codes")) {
      rebuildCodes(spark, table, liveCodebook(spark, table))
      actions += "rebuilt _codes across the moved lists"
    }
    actions.toSeq
  }

  /** The reverse of [[treeify]]: drop a store back to FLAT assignment
    * in place. `_tops` drops FIRST (the mode switch — the store is
    * flat-serving from that instant; the orphan `_leafmap` goes next),
    * then the corpus re-assigns through the flat argmax and `_codes`
    * rebuilds. Idempotent on a flat store.
    */
  def untreeify(spark: SparkSession, table: String): Seq[String] = {
    if (!spark.catalog.tableExists(s"${table}_tops")) return Seq.empty
    TableSwap.dropManaged(spark, s"${table}_tops")
    TableSwap.dropManaged(spark, s"${table}_leafmap")
    reassignCorpus(spark, table)
    val actions = scala.collection.mutable.Buffer(
      "dropped the tree quantizer and re-assigned the corpus through " +
        "the flat argmax")
    if (spark.catalog.tableExists(s"${table}_codes")) {
      rebuildCodes(spark, table, liveCodebook(spark, table))
      actions += "rebuilt _codes across the moved lists"
    }
    actions.toSeq
  }

  /** `vectors` (idCol, embedding) with the stored quantizer's
    * assignment attached: (idCol, embedding, __n, list_id), all
    * scan-local. Shared by the write path and the probe's batch side.
    * One path for flat and tree stores: the [[quantizer]] matrix is
    * the persisted tree or the flat one-subtree matrix, so append, the
    * near-dup probe's batch side, and migrate can never disagree on a
    * list choice.
    */
  private[graft] def withAssignment(
      spark: SparkSession,
      vectors: DataFrame,
      table: String,
      idCol: String = "vec_id"): DataFrame =
    vectors
      .select(col(idCol), col("embedding"),
        sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("__n"))
      .withColumn("list_id", assignment(spark, table))

  /** The [[quantizer]]'s list choice for rows carrying `embedding` and
    * its norm `__n`: one scan-local native expression
    * ([[graft.functions.TreeAssignExpression]]).
    */
  private def assignment(spark: SparkSession, table: String): Column =
    TreeQuantizerExpression.treeAssign(
      col("embedding"), col("__n"), quantizer(spark, table))

  /** The quantizer as driver-side rows: (list_id, centroid, cent_n),
    * cent_n computed by the SAME Spark expression as
    * [[Similarity.centNorms]]. The collect is structurally bounded — k
    * is chosen at init, the same class as s2's hyperplane matrix and
    * t5's probe set.
    */
  private def litCents(
      spark: SparkSession, table: String): Array[(Any, Seq[Double], Double)] =
    Similarity.centNorms(centroids(spark, table))
      .collect()
      .map(r => (r.get(0), r.getSeq[Double](1), r.getDouble(2)))

  /** The stored quantizer as ONE driver-side matrix object
    * ([[graft.functions.TreeMatrix]]), the one lookup every assignment
    * and probe face reads. On a tree store ([[init]] `treeTopCount`,
    * `_tops` exists): the refined super-centroids with the
    * [[Similarity.centNorms]] norm arithmetic and the [[litCents]]
    * leaves grouped by subtree; a refined top that no leaf re-assigned
    * to is dropped ([[TreeMatrix.build]]): it can never win an
    * assignment, and a probe slot spent on an empty subtree would scan
    * nothing. Otherwise the flat matrix: one subtree holding every
    * [[litCents]] row ([[TreeMatrix.flat]]). The tables' existence IS
    * the mode switch, so a re-init without the option falls back to
    * flat with nothing stale left behind. The collects are
    * centroid-grain (≤ topCount + L rows), and the matrix keeps the
    * PLAN constant-size in L — per-centroid `typedLit` encodings
    * measured seconds of per-call analysis+codegen tax at L = 1000
    * (`TreeSearchDebugProbe`).
    */
  private def quantizer(spark: SparkSession, table: String): TreeMatrix = {
    val idType = centroids(spark, table).schema("list_id").dataType
    val leaves = litCents(spark, table).toSeq
    require(leaves.nonEmpty, "VecStore: empty centroid table")
    if (!spark.catalog.tableExists(s"${table}_tops"))
      TreeMatrix.flat(idType, leaves)
    else {
      val leafTop = spark.table(s"${table}_leafmap").collect()
        .map(r => (r.get(0), r.getLong(1))).toMap
      val byTop = leaves.groupBy { c =>
        leafTop.getOrElse(c._1, sys.error(
          s"VecStore: `${table}_cents` leaf ${c._1} missing from " +
            s"`${table}_leafmap` — corrupt tree tables? re-run init"))
      }
      val tops = Similarity.centNorms(
        spark.table(s"${table}_tops")
          .select(col("top_id").as("list_id"), col("centroid")))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .toSeq
      require(tops.exists(t => byTop.contains(t._1)),
        s"VecStore: `${table}_tops`/`${table}_leafmap` describe no " +
          "non-empty subtree — corrupt tree tables? re-run init")
      TreeMatrix.build(idType, tops, byTop)
    }
  }
}
