package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{LabelProp, PageRank, Triangles}

/** The stored entity graph WITH its served analytics — the summary-
  * store fence (the [[SummaryStore]] discipline) applied to
  * whole-graph algorithms: PageRank and community labels are the
  * "summaries" here, maintained at a refresh cadence and SERVED from
  * node-grain tables, so "what is this entity's rank / community"
  * costs a bucketed point lookup instead of ten edge-grain rounds.
  * Recomputing f25 per question is absurd at 100 TB; every production
  * graph system serves from a materialized rank table — this is that
  * table, with the staleness made VISIBLE instead of implicit.
  *
  * Tables:
  *   - `<table>`       — the edge set (src, dst, ver), bucketed by
  *                       src; append-only batches, duplicates
  *                       collapsed at read (an edge set is a SET, so
  *                       replayed batches are absorbed STRUCTURALLY —
  *                       the KMV-class immunity, no version dedup).
  *   - `<table>_dels`  — node-grain tombstones ([[pop]]): an entity
  *                       takedown excludes every incident edge from
  *                       the next read, refresh rebuilds the
  *                       analytics without it, and [[refresh]] (which
  *                       rewrites the edge table FINAL) retires them.
  *   - `<table>_ranks` — (id, r, as_of) — the f25 integer-exact rank
  *                       vector at the last refresh.
  *   - `<table>_communities` — (node, community, as_of) — the f28
  *                       truss-filtered min-label communities.
  *   - `<table>_cohesion` — (node, n_triangles, as_of) — f26's
  *                       per-node triangle support, derived from the
  *                       SAME per-edge census the truss filter pays
  *                       (Σ incident support = 2 · triangles).
  *   - `<table>_support` — (a, b, support, as_of) — the per-EDGE
  *                       triangle census at the last refresh, the
  *                       stored snapshot the r15 INCREMENTAL census
  *                       patches on append-only ticks (see [[refresh]])
  *                       and the source both cohesion and the truss
  *                       filter derive from.
  *   - `<table>_kcore` — (node, core_degree, as_of) — f29's k-core
  *                       membership + in-core degree at the last
  *                       refresh (r15): the fourth cohesion face
  *                       behind the summary-store fence — the peel
  *                       cascade runs once per refresh cadence, never
  *                       per question.
  *
  * AS-OF semantics, stated: serves answer from the LAST refresh —
  * appends and pops between refreshes change [[edges]] immediately
  * but ranks/communities only at the next [[refresh]] (exactly a
  * ClickHouse materialized view refreshed on schedule). Every serve
  * row carries `as_of` (the max edge `ver` the refresh covered) and
  * [[staleness]] reports how many edge batches it lags, so a caller
  * can never mistake a stale summary for a live one.
  *
  * 100 TB shape: append is batch-bounded (one bucketed write); serves
  * are node-grain scans or bucket-pruned point lookups that never
  * touch the edge set; refresh is the one corpus-grain face and runs
  * OFF the serving path (stage + swap, reads stay live throughout —
  * the DocStore.compactStage discipline). Physical compaction of the
  * edge table is DECOUPLED from the summary cadence (r15
  * continuation): a `compactEdges = false` tick computes summaries
  * without rewriting a single edge file, [[compact]] is the explicit
  * corpus-rewrite face on its own cadence, and no-op / pure-replay
  * ticks short-circuit before any iteration runs (see [[refresh]]).
  */
object GraphStore {

  /** The edge table and every summary table are bucketed and sorted
    * on their key column, written only through [[BucketedLayout]]; a
    * summary table is created at the edge table's bucket count.
    */
  private def keyed(keyCol: String): BucketedLayout =
    BucketedLayout(bucketCols = Seq(keyCol), sortCols = Seq(keyCol))

  private val edgeLayout = keyed("src")

  /** Append an edge batch (columns `src`, `dst`; anything extra is
    * dropped). `ver` stamps the batch for staleness accounting —
    * monotone per caller (a stream's batch id, an ingest counter).
    * `buckets` applies only when the table is CREATED by this call;
    * an existing table's creation bucket count wins
    * ([[BucketedLayout]]'s creation rule).
    */
  def append(
      edges: DataFrame, table: String, ver: Long,
      buckets: Int = 16): Unit =
    edgeLayout.write(edges.select(col("src").cast("string"),
      col("dst").cast("string")).withColumn("ver", lit(ver)), table, buckets)

  /** Entity takedown: tombstone a node — every incident edge vanishes
    * from [[edges]] (and so from the next refresh) immediately; the
    * rank/community tables keep serving their as-of snapshot until
    * [[refresh]], which also drops the rows physically and retires
    * the tombstones (the StatementStore pop contract at node grain).
    */
  def pop(spark: SparkSession, table: String, nodes: DataFrame): Unit =
    Tombstones.of(table)
      .append(spark, nodes.select(col("id").cast("string")))

  private def dels(spark: SparkSession, table: String): Option[DataFrame] =
    Tombstones.of(table).ids(spark, "id")

  /** The live DISTINCT edge set, tombstoned nodes excluded. */
  def edges(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table)
    val base = spark.table(table).select(col("src"), col("dst")).distinct()
    dels(spark, table) match {
      case None => base
      case Some(d) =>
        base
          .join(broadcast(d).withColumnRenamed("id", "src"),
            Seq("src"), "left_anti")
          .join(broadcast(d).withColumnRenamed("id", "dst"),
            Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
    }
  }

  private def maxVer(spark: SparkSession, table: String): Long = {
    spark.catalog.refreshTable(table) // cloned-session staleness: SummaryStore doc
    val r = spark.table(table).agg(max(col("ver"))).collect()(0)
    val rowsMax = if (r.isNullAt(0)) 0L else r.getLong(0)
    // compaction preserves each edge's FIRST-SEEN ver (so the delta
    // splits stay exact across rewrites), which can shrink the row-side
    // max; the compact watermark keeps the logical version monotone
    val compactVer = TableSwap.properties(spark, table)
      .get("graft.graph.compact_ver")
      .map(_.toLong).getOrElse(0L)
    math.max(rowsMax, compactVer)
  }

  // batches at-or-before this ver predate the last physical takedown
  // scrub: a census/k-core snapshot older than it describes a graph
  // whose reconstruction (ver <= snapshot) can no longer be read back
  // from the rows, so the delta paths refuse it into the full recompute
  private def scrubVer(spark: SparkSession, table: String): Long =
    TableSwap.properties(spark, table).get("graft.graph.scrub_ver")
      .map(_.toLong).getOrElse(0L)

  /** Recompute the served analytics from the LIVE edge set — the one
    * corpus-grain face, run at the compact cadence, off the serving
    * path: ranks (f25's integer fixed point), communities (f28's
    * truss + min-label propagation), each staged and swapped so reads
    * never block; then the edge table itself is rewritten FINAL
    * (duplicates and tombstoned nodes dropped physically) and the
    * tombstones retire if no new pop landed mid-refresh.
    *
    * INCREMENTAL census (r15): the per-edge triangle support — the
    * refresh's dominant cost at scale (the census's wedge join) — is
    * persisted in `<table>_support` (a, b, support, as_of) and, when
    * the tick is APPEND-ONLY (no tombstones pending and a support
    * snapshot exists), updated by [[Triangles.perEdgeDeltaDiff]]
    * against only the edges appended since the snapshot (`ver >
    * support.as_of` — the FINAL rewrite stamps every surviving row
    * with the refresh's ver, so the split is exact under the
    * documented monotone-ver append contract). A pending takedown
    * removes triangles, which the delta does not model → full census.
    * Cohesion and the truss filter derive from the stored support
    * either way, so the serve contracts are unchanged.
    *
    * INCREMENTAL k-core (r15 continuation): the same tick discipline
    * for the fourth cohesion face — an append-only tick whose stored
    * `_kcore` carries the SAME k (the `graft.kcore.k` creation
    * property; a k change refuses into the full peel) patches the
    * membership by [[graft.operators.KCore.membershipDeltaDiff]]
    * (Δ-seeded region BFS + region-bounded cascade — exact because
    * insertion is monotone for fixed k). PageRank and label
    * propagation still recompute fully: fixed-round iterations from a
    * uniform start have no exact warm delta, and their round cost is
    * edge-linear, not the census's m^1.5.
    *
    * DECOUPLED COMPACTION (r15 continuation): the FINAL rewrite of the
    * edge table is corpus-grain WRITE work a summary tick does not
    * need — an append-only tick's summaries read the live set either
    * way, and at 100 TB rewriting the whole edge table per cadence is
    * the bottleneck, not the (now delta-patched) summaries. With
    * `compactEdges = false` the tick leaves the edge files untouched
    * (duplicates keep collapsing at read; tombstones, if any, keep
    * masking) and physical compaction moves to its own cadence via
    * [[compact]]. Tombstone RETIREMENT stays exclusively on the
    * compacting-refresh path: retiring requires both the physical
    * scrub and summaries rebuilt without the popped nodes in the same
    * breath, else a later serve would resurrect the popped entity
    * (standalone [[compact]] scrubs but never retires for the same
    * reason). Two tick fast paths fall out of the decoupling, both
    * guarded by a stored-parameters match (`graft.graph.params` on the
    * ranks table — a tick asked to produce different iters/rounds must
    * never serve a restamped old answer):
    *
    *   - NO-OP tick: nothing appended or popped since the last refresh
    *     → return immediately.
    *   - PURE-REPLAY tick: batches landed but every edge already
    *     exists (the at-least-once stream's common case), detected by
    *     ONE narrow broadcast-probed corpus scan (the new slice is
    *     counted BEFORE broadcasting — the k-core frontier
    *     discipline); the edge SET is unchanged, so the stored
    *     summaries are already exact and only their node-grain
    *     `as_of` stamps are rewritten. Skips all twenty edge-grain
    *     iteration rounds; the edge-grain support table keeps its own
    *     snapshot stamp (its as_of is the census split point, not a
    *     freshness claim).
    *
    * A summary table this call creates takes the edge table's catalog
    * bucket count; every existing table keeps its creation count
    * ([[BucketedLayout]]).
    */
  def refresh(
      spark: SparkSession, table: String, iters: Int = 10,
      minSupport: Long = 2L, lpRounds: Int = 10,
      kcoreK: Long = 3L, kcoreRounds: Int = 10,
      compactEdges: Boolean = true): Unit = {
    val delsSnap = Tombstones.of(table).snapshot(spark)
    val asOf = maxVer(spark, table)
    val sv = scrubVer(spark, table)
    val params = s"$iters,$minSupport,$lpRounds,$kcoreK,$kcoreRounds"
    val allSummaries = Seq("_ranks", "_communities", "_cohesion",
      "_kcore", "_support").forall(s => spark.catalog.tableExists(table + s))
    val ranksAsOf: Option[Long] =
      if (!allSummaries) None
      else {
        spark.catalog.refreshTable(s"${table}_ranks")
        val r = spark.table(s"${table}_ranks")
          .agg(max(col("as_of"))).collect()(0)
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val paramsMatch = allSummaries &&
      TableSwap.properties(spark, s"${table}_ranks")
        .get("graft.graph.params").contains(params)
    if (paramsMatch && delsSnap.isEmpty && ranksAsOf.contains(asOf))
      return // NO-OP tick: nothing changed since the last refresh
    if (paramsMatch && delsSnap.isEmpty &&
        ranksAsOf.exists(a => a < asOf && a >= sv)) {
      val snap = ranksAsOf.get
      val rows = spark.table(table)
      val newD = rows.filter(col("ver") > snap)
        .select(col("src"), col("dst")).distinct()
      val nNew = newD.count()
      if (nNew > 0 && nNew <= replayProbeMax) {
        val matched = rows.filter(col("ver") <= snap)
          .select(col("src"), col("dst"))
          .join(broadcast(newD), Seq("src", "dst"), "left_semi")
          .distinct().count()
        if (matched == nNew) { // PURE-REPLAY tick: set unchanged —
          // restamp the node-grain summaries' as_of and stop
          val kProp = TableSwap.properties(spark, s"${table}_kcore")
            .get("graft.kcore.k")
          def restamp(t: String, keyCol: String): Unit = {
            spark.catalog.refreshTable(t)
            keyed(keyCol).replace(
              spark.table(t).withColumn("as_of", lit(asOf)), t, table)
          }
          restamp(s"${table}_ranks", "id")
          TableSwap.setProperties(spark, s"${table}_ranks",
            "graft.graph.params" -> params)
          restamp(s"${table}_communities", "node")
          restamp(s"${table}_cohesion", "node")
          restamp(s"${table}_kcore", "node")
          kProp.foreach(k => TableSwap.setProperties(spark,
            s"${table}_kcore", "graft.kcore.k" -> k))
          return
        }
      }
    }
    // the live edge set feeds three consumers (ranks, census, FINAL
    // rewrite) — materialized once, released when the refresh is done
    // (refresh is off the serving path, so nothing outlives this call)
    import graft.operators.Fixpoint.release
    val e = edges(spark, table).localCheckpoint()

    // each summary frame is fully consumed by its summary write, so
    // its final checkpoint blocks are released as soon as the write
    // lands — a long-running telemetry stream's refresh ticks pin
    // nothing between cadences (r14 advisor finding: ranks/labels/
    // census finals leaked one node-grain generation per tick)
    val ranks = PageRank.ranks(e, iters).withColumn("as_of", lit(asOf))
    keyed("id").replace(ranks, s"${table}_ranks", table)
    // the stored-parameters declaration: a later NO-OP/REPLAY fast
    // path must never restamp summaries computed under different
    // iteration parameters (set after every write: a refresh may run
    // under parameters other than the last one's, and a lost property
    // only disables the fast paths, never correctness)
    TableSwap.setProperties(spark, s"${table}_ranks",
      "graft.graph.params" -> params)
    release(ranks)

    // ONE census pays for two summaries: the per-edge support feeds
    // the truss filter below, and the per-NODE triangle count (f26's
    // cohesion metric) derives from it by aggregation — a node inside
    // a triangle meets exactly TWO of its edges, so
    // Σ support(incident edges) = 2 · triangles(node). No second
    // wedge join.
    // perEdgeDiff/perEdgeDeltaDiff hand this call OWNERSHIP of the
    // census result frame (never the shared per-face generation — a
    // refresh tick must not release an interactive f26/f28 frame);
    // all consumers below read it, released after the last write
    val supportAsOf: Option[Long] =
      if (!spark.catalog.tableExists(s"${table}_support")) None
      else {
        spark.catalog.refreshTable(s"${table}_support")
        val r = spark.table(s"${table}_support")
          .agg(max(col("as_of"))).collect()(0)
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val support = supportAsOf match {
      case Some(snapVer) if delsSnap.isEmpty &&
          snapVer >= sv =>
        // append-only tick: batch-bounded delta against the snapshot
        val rows = spark.table(table)
        val oldE = rows.filter(col("ver") <= snapVer)
          .select(col("src"), col("dst"))
        val newE = rows.filter(col("ver") > snapVer)
          .select(col("src"), col("dst"))
        Triangles.perEdgeDeltaDiff(
          oldE, spark.table(s"${table}_support"), newE)
      case _ => Triangles.perEdgeDiff(e)
    }
    keyed("a").replace(support.withColumn("as_of", lit(asOf)),
      s"${table}_support", table)
    val cohesion = support
      .select(explode(array(
        struct(col("a").as("node"), col("support")),
        struct(col("b").as("node"), col("support")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg((sum(col("x.support")) / 2).cast("long").as("n_triangles"))
      .withColumn("as_of", lit(asOf))
    keyed("node").replace(cohesion, s"${table}_cohesion", table)
    val kept = support
      .filter(col("support") >= minSupport)
      .select(col("a").as("src"), col("b").as("dst"))
    val comm = LabelProp.minLabelRounds(kept, lpRounds)
      .select(col("node"), col("label").as("community"))
      .withColumn("as_of", lit(asOf))
    keyed("node").replace(comm, s"${table}_communities", table)
    release(comm)
    release(support)

    // f29's k-core at the same cadence (r15): the peel runs on the
    // full live edge set (NOT the truss-filtered one — k-core and
    // truss are different density screens and must not contaminate
    // each other), result released once its table write lands.
    // INCREMENTAL (r15 continuation): an append-only tick with a
    // stored membership at the SAME k patches via
    // [[graft.operators.KCore.membershipDelta]] (Δ-seeded region BFS
    // + region peel — exact because insertion is monotone for fixed
    // k); pending tombstones, a k change (guarded by the
    // `graft.kcore.k` table property, the layoutOf re-derive rule) or
    // a region blowout fall back to the full peel.
    val kcoreSnap: Option[(Long, Long)] =
      if (!spark.catalog.tableExists(s"${table}_kcore")) None
      else {
        spark.catalog.refreshTable(s"${table}_kcore")
        val storedK = TableSwap.properties(spark, s"${table}_kcore")
          .get("graft.kcore.k").map(_.toLong)
        val r = spark.table(s"${table}_kcore")
          .agg(max(col("as_of"))).collect()(0)
        if (r.isNullAt(0)) None
        else storedK.map(sk => (r.getLong(0), sk))
      }
    val core = kcoreSnap match {
      case Some((snapVer, storedK))
          if delsSnap.isEmpty && storedK == kcoreK &&
            snapVer >= sv =>
        val rows = spark.table(table)
        graft.operators.KCore.membershipDeltaDiff(
          rows.filter(col("ver") <= snapVer).select(col("src"), col("dst")),
          spark.table(s"${table}_kcore")
            .select(col("node"), col("core_degree").as("d")),
          rows.filter(col("ver") > snapVer).select(col("src"), col("dst")),
          kcoreK)
      case _ => graft.operators.KCore.membership(e, kcoreK, kcoreRounds)
    }
    keyed("node").replace(core.select(col("node"),
      col("d").as("core_degree")).withColumn("as_of", lit(asOf)),
      s"${table}_kcore", table)
    // the creation-k declaration: a later refresh at a different k
    // must never patch against an incompatible membership (it refuses
    // into the full-peel branch above instead)
    TableSwap.setProperties(spark, s"${table}_kcore",
      "graft.kcore.k" -> kcoreK.toString)
    release(core)

    release(e)
    // physical compaction rides the tick only when asked (default
    // preserves the original contract); retirement is gated on the
    // tombstone snapshot taken BEFORE the summaries — a pop landing
    // mid-refresh was not excluded from them and must stay masked
    if (compactEdges) compactImpl(spark, table, Some(delsSnap))
  }

  // bound on the broadcast side of the pure-replay probe: a bulk load
  // larger than this skips the check and takes the normal tick
  private val replayProbeMax = 1000000L

  /** Physical compaction of the edge table — the corpus-REWRITE face,
    * decoupled (r15 continuation) from the summary cadence so an
    * append-only [[refresh]] tick never pays it: collapses duplicate
    * rows, drops tombstoned nodes' edges physically, and preserves
    * each surviving edge's FIRST-SEEN `ver` (min over its rows — the
    * invariant that keeps the delta-census/k-core splits `ver <=
    * snapshot` exact across rewrites; a uniform restamp would make a
    * replayed old edge look new and double-count its triangles). The
    * compact watermark (`graft.graph.compact_ver`) keeps [[staleness]]
    * monotone, and a takedown scrub records `graft.graph.scrub_ver`
    * so summary snapshots that predate it refuse into the full
    * recompute. NEVER retires tombstones: retirement requires
    * summaries rebuilt without the popped nodes in the same operation
    * (the compacting-refresh path), else a stale rank table would
    * resurrect the popped entity the moment the mask disappears. The
    * rewrite keeps the creation bucket count ([[BucketedLayout]]).
    */
  def compact(spark: SparkSession, table: String): Unit =
    compactImpl(spark, table, None)

  private def compactImpl(
      spark: SparkSession, table: String,
      retireIfUnchangedSince: Option[Set[String]]): Unit = {
    val delsSnap = Tombstones.of(table).snapshot(spark)
    val asOf = maxVer(spark, table)
    val base = spark.table(table).groupBy(col("src"), col("dst"))
      .agg(min(col("ver")).as("ver")) // first-seen ver: see [[compact]]
    val rows = dels(spark, table) match {
      case None => base
      case Some(d) =>
        base
          .join(broadcast(d).withColumnRenamed("id", "src"),
            Seq("src"), "left_anti")
          .join(broadcast(d).withColumnRenamed("id", "dst"),
            Seq("dst"), "left_anti")
    }
    edgeLayout.rewrite(spark, table)(
      rows.select(col("src"), col("dst"), col("ver")))
    TableSwap.setProperties(spark, table,
      "graft.graph.compact_ver" -> asOf.toString)
    if (delsSnap.nonEmpty) TableSwap.setProperties(spark, table,
      "graft.graph.scrub_ver" -> asOf.toString)
    retireIfUnchangedSince.foreach(Tombstones.of(table).retire(spark, _))
  }

  /** Served rank vector (id, r, as_of) — node-grain, never touches
    * the edge set. Tombstoned nodes are masked immediately even
    * though the snapshot predates the pop (a takedown must not keep
    * serving the popped entity's analytics).
    */
  def ranks(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(s"${table}_ranks")
    val base = spark.table(s"${table}_ranks")
    dels(spark, table) match {
      case None => base
      case Some(d) => base.join(broadcast(d), Seq("id"), "left_anti")
    }
  }

  /** Served communities (node, community, as_of); tombstone-masked
    * like [[ranks]].
    */
  def communities(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(s"${table}_communities")
    val base = spark.table(s"${table}_communities")
    dels(spark, table) match {
      case None => base
      case Some(d) =>
        base.join(broadcast(d).withColumnRenamed("id", "node"),
          Seq("node"), "left_anti")
    }
  }

  /** Served per-node triangle counts (node, n_triangles, as_of) —
    * f26's cohesion metric, derived inside [[refresh]] from the SAME
    * census the truss filter pays (Σ incident-edge support =
    * 2 · triangles — no second wedge join); tombstone-masked like
    * [[ranks]].
    */
  def cohesion(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(s"${table}_cohesion")
    val base = spark.table(s"${table}_cohesion")
    dels(spark, table) match {
      case None => base
      case Some(d) =>
        base.join(broadcast(d).withColumnRenamed("id", "node"),
          Seq("node"), "left_anti")
    }
  }

  /** Served k-core membership (node, core_degree, as_of) — f29's
    * density screen, maintained at [[refresh]] (peel parameters fixed
    * at refresh time); tombstone-masked like [[ranks]].
    */
  def kcore(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(s"${table}_kcore")
    val base = spark.table(s"${table}_kcore")
    dels(spark, table) match {
      case None => base
      case Some(d) =>
        base.join(broadcast(d).withColumnRenamed("id", "node"),
          Seq("node"), "left_anti")
    }
  }

  /** How many edge batches the served analytics lag: (as_of of the
    * rank snapshot, current max edge ver). Equal ⇒ fresh.
    */
  def staleness(spark: SparkSession, table: String): (Long, Long) = {
    val asOf = {
      val r = ranks(spark, table).agg(max(col("as_of"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    (asOf, maxVer(spark, table))
  }
}
