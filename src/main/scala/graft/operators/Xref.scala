package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The xref match-candidate table — the reference's 14-column row
  * (engine.py:181-203): left/right (dataset, id, schema, country,
  * caption), judgement, score, ts, user, with `ReplacingMergeTree(ts)
  * ORDER BY (left_id, right_id)` upsert semantics (re-judging a pair
  * supersedes the old row) and a `_reverse` projection ordered
  * right-side-first (engine.py:259-261).
  *
  * Spark-first mapping: rows live in parquet; the MergeTree FINAL is
  * [[latestJudgements]] (one window / max_by per pair); the reverse
  * projection is a column-reordered view — at rest the analogue is a
  * second table sorted/bucketed by the right-side key, at query time
  * an equi-filter on `right_id` that the optimizer pushes to the scan.
  */
object Xref {

  val columns: Seq[String] = Seq(
    "left_dataset", "left_id", "left_schema", "left_country", "left_caption",
    "right_dataset", "right_id", "right_schema", "right_country",
    "right_caption", "judgement", "score", "ts", "user")

  /** Per-entity enrichment attributes for the xref row: dataset and
    * schema (unique per entity), the first country-prop value, and the
    * caption (first name-type value — the reference uses the entity's
    * caption, which nomenklatura derives from its name). One hash
    * aggregate with map-side combine; at 100 TB this is the same
    * shuffle shape as entity assembly (and shuffle-free on a store
    * bucketed by entity).
    */
  def entityAttrs(
      statements: DataFrame,
      countryProp: String = "country"): DataFrame =
    statements.groupBy(col("entity_id")).agg(
      min(col("dataset")).as("dataset"),
      min(col("schema")).as("schema"),
      min(when(col("prop") === countryProp, col("value"))).as("country"),
      min(when(col("prop_type") === "name", col("value"))).as("caption"))

  /** Blocking pairs → full xref candidate rows: enrich each side with
    * the entity attributes and attach (judgement, score, ts, user).
    * The two enrichment joins are equi-joins on the pair ids; the
    * attrs relation is |entities|-sized (≪ pairs), so AQE broadcasts
    * it when it fits.
    */
  def candidates(
      pairs: DataFrame,
      attrs: DataFrame,
      judgement: Column = lit("no_judgement"),
      score: Column = lit(0.0),
      ts: Column = lit(0L),
      user: Column = lit("graft")): DataFrame = {
    def side(prefix: String): DataFrame = attrs.select(
      col("entity_id").as(s"${prefix}_id"),
      col("dataset").as(s"${prefix}_dataset"),
      col("schema").as(s"${prefix}_schema"),
      col("country").as(s"${prefix}_country"),
      col("caption").as(s"${prefix}_caption"))
    pairs
      .join(side("left"), Seq("left_id"))
      .join(side("right"), Seq("right_id"))
      .withColumn("judgement", judgement)
      .withColumn("score", score)
      .withColumn("ts", ts)
      .withColumn("user", user)
      .select(columns.map(col): _*)
  }

  /** MergeTree FINAL over the pair key: the latest (by ts) row wins per
    * (left_id, right_id) — engine.py:199 `ReplacingMergeTree(ts)`.
    */
  def latestJudgements(xref: DataFrame): DataFrame =
    ReplacingMerge.latestByKey(
      xref,
      keys = Seq(col("left_id"), col("right_id")),
      version = Seq(col("ts")))

  /** Derive a resolver mapping (entity_id → canonical_id) from the
    * POSITIVE judgements of an xref table — the judgement→canonical
    * loop the reference closes through its external nomenklatura
    * `Resolver` (store.py:26-28; the `canonical_lookup` projection,
    * engine.py:259): entities connected by positive judgements form a
    * cluster, and every member resolves to the cluster's minimum id.
    *
    * Connected components via [[Components.minLabel]] (bounded
    * iterative min-propagation); every judged cluster member maps to
    * the cluster's minimum entity id.
    *
    * Feed it [[latestJudgements]] (or `XrefStore.readLatest`) so a
    * pair re-judged negative no longer links its endpoints.
    */
  def resolverMapping(judgements: DataFrame, maxIter: Int = 50): DataFrame =
    Components.minLabel(
      judgements.filter(col("judgement") === "positive")
        .select(col("left_id").as("src"), col("right_id").as("dst")),
      maxIter)
      .select(col("id").as("entity_id"), col("label").as("canonical_id"))

  /** Fold a batch of NEW judgement rows into an existing resolver
    * mapping INCREMENTALLY — the maintenance face of
    * [[resolverMapping]], closing the one gap the streaming ingest
    * (st9) left: judgements streamed into the store, but
    * canonicalization was a full-graph recompute.
    *
    * Contract: `mapping` is the resolver mapping of the judgement set
    * BEFORE the batch (what [[resolverMapping]] returned for it);
    * `allJudgements` is the FINAL judgement set AFTER the batch landed
    * (e.g. `XrefStore.readLatest` post-append) — used only on the
    * fallback path. Returns the mapping of the post-batch set,
    * spec-identical to recomputing it from scratch.
    *
    *   - POSITIVE judgements union components: the batch's edges are
    *     lifted to CANONICAL-level edges via one point-lookup scan of
    *     the mapping (literal IN over the batch's endpoint ids — on a
    *     canonical-bucketed store a pruned read, never a broadcast of
    *     the graph-sized mapping), and a driver-side union-find over
    *     that batch-sized mini-graph yields the relabel map
    *     (old canonical → merged minimum) plus the first-appearance
    *     rows. Cost: ONE broadcast-relabel pass over the mapping — no
    *     iteration, no edge-set scan, per-row work O(1). The full
    *     recompute is O(diameter) join+agg rounds over ALL edges; the
    *     measured gap and its scaling are in BASELINE.md.
    *   - A NON-positive judgement of a pair whose endpoints currently
    *     share a canonical is a RETRACTION of the edge that may hold
    *     the component together — splitting needs the paths this
    *     mapping no longer remembers, so it falls back to
    *     [[resolverMapping]] over `allJudgements`. The trigger is
    *     exact, not conservative: endpoints in different components
    *     imply the pair's prior FINAL judgement was not positive (a
    *     positive edge would have united them), so such negatives are
    *     no-ops.
    *
    * The driver union-find collects the batch's pairs — a judgement
    * batch is operator/matcher-sized (the takedown-list regime), never
    * graph-sized; bulk backfills belong to [[resolverMapping]].
    *
    * Late-delivery guard: a batch row whose pair the store has ALREADY
    * re-judged at a strictly newer ts is stale — the store's state is
    * what the mapping reflects, so applying the old row would silently
    * diverge from `resolverMapping(latestJudgements)`. Each batch
    * pair's ts is compared against the stored latest for that pair
    * (one bounded point-lookup of `allJudgements`, same literal-IN
    * shape as the canonical lookup) and strictly-older rows are
    * DROPPED before the merge/retraction analysis. Ties keep the batch
    * row (the post-append store contains the batch itself).
    */
  def applyJudgements(
      mapping: DataFrame,
      batch: DataFrame,
      allJudgements: DataFrame,
      maxIter: Int = 50): DataFrame =
    incPlan(mapping, batch, Some(latestJudgements(allJudgements))) match {
      case Retract => resolverMapping(allJudgements, maxIter)
      case Merge(relabels, freshRows) =>
        // ONE broadcast-relabel pass: rows of untouched components
        // stream through unchanged; merged ones take the new minimum
        val updated =
          if (relabels.isEmpty) mapping
          else mapping
            .join(
              broadcast(pairsDf(mapping, relabels,
                Seq("canonical_id", "__new"))),
              Seq("canonical_id"), "left")
            .select(col("entity_id"),
              coalesce(col("__new"), col("canonical_id"))
                .as("canonical_id"))
        if (freshRows.isEmpty) updated
        else updated.unionByName(
          pairsDf(mapping, freshRows, Seq("entity_id", "canonical_id")))
    }

  /** The DELTA face of [[applyJudgements]]: only the mapping rows the
    * batch CHANGES (members of merged components, relabeled) plus the
    * first-appearance rows — `None` when a retraction forces the full
    * recompute. This is the update a VERSIONED mapping store appends:
    * O(affected components) rows written, and the changed-members read
    * is a literal-IN filter on `canonical_id` (on a canonical-bucketed
    * or -partitioned mapping table, a pruned read of the touched
    * components only) — the truly component-bounded at-rest shape; a
    * [[ReplacingMerge.latestByKey]] over (entity_id) with a version
    * column then serves the live mapping.
    */
  def applyJudgementsDelta(
      mapping: DataFrame, batch: DataFrame,
      stored: Option[DataFrame] = None): Option[DataFrame] =
    incPlan(mapping, batch, stored) match {
      case Retract => None
      case Merge(relabels, freshRows) =>
        val freshDf =
          pairsDf(mapping, freshRows, Seq("entity_id", "canonical_id"))
        if (relabels.isEmpty) Some(freshDf)
        else Some(mapping
          .filter(col("canonical_id")
            .isInCollection(relabels.map(_._1).toIndexedSeq))
          .join(
            broadcast(pairsDf(mapping, relabels,
              Seq("canonical_id", "__new"))),
            Seq("canonical_id"))
          .select(col("entity_id"), col("__new").as("canonical_id"))
          .unionByName(freshDf))
    }

  private sealed trait Inc
  private case object Retract extends Inc
  private final case class Merge(
      relabels: Seq[(Any, Any)], freshRows: Seq[(Any, Any)]) extends Inc

  /** The shared incremental analysis: batch-sized driver work deciding
    * between retraction fallback and the bounded merge plan
    * (old-canonical relabels + first-appearance rows). A no-op batch
    * is a Merge with both lists empty.
    */
  private def incPlan(
      mapping: DataFrame, batch: DataFrame,
      stored: Option[DataFrame]): Inc = {
    val rows0 = batch
      .select(col("left_id"), col("right_id"), col("judgement"), col("ts"))
      .collect()
    if (rows0.isEmpty) return Merge(Nil, Nil)
    val tsOrd: Ordering[Any] = new Ordering[Any] {
      def compare(x: Any, y: Any): Int =
        x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    // FINAL-reduce the batch itself first (latest ts per pair, the
    // latestJudgements key): a pair judged positive then re-judged
    // negative INSIDE one batch must not union — only the pair's final
    // state is an edge
    val reduced = rows0.groupBy(r => (r.get(0), r.get(1)))
      .map(_._2.maxBy(r => r.get(3))(tsOrd))
      .toSeq
    // Late-delivery guard: drop rows the store has superseded at a
    // STRICTLY newer ts (ties keep the batch row — the post-append
    // store contains the batch itself). Bounded point-lookup: the
    // stored FINAL view filtered to the batch's left ids, the same
    // pruned-read shape as the canonical lookup below.
    val rows = stored match {
      case None => reduced
      case Some(st) =>
        val lefts = reduced.map(_.get(0)).distinct.toIndexedSeq
        val newest: Map[(Any, Any), Any] = st
          .filter(col("left_id").isInCollection(lefts))
          .select(col("left_id"), col("right_id"), col("ts"))
          .collect()
          .map(r => (r.get(0), r.get(1)) -> r.get(2)).toMap
        reduced.filter { r =>
          newest.get((r.get(0), r.get(1)))
            .forall(t => tsOrd.compare(r.get(3), t) >= 0)
        }
    }
    if (rows.isEmpty) return Merge(Nil, Nil)
    // current canonicals of the batch's endpoints via ONE point-lookup
    // scan of the mapping (literal IN — on a canonical-bucketed store
    // this prunes to the touched buckets; never a broadcast of the
    // graph-sized mapping, never a shuffle)
    val ids = rows.flatMap(r => Seq(r.get(0), r.get(1))).distinct.toIndexedSeq
    val canon: Map[Any, Any] = mapping
      .filter(col("entity_id").isInCollection(ids))
      .select(col("entity_id"), col("canonical_id"))
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    val retraction = rows.exists { r =>
      r.getString(2) != "positive" &&
        canon.get(r.get(0)).exists(cl => canon.get(r.get(1)).contains(cl))
    }
    if (retraction) return Retract
    val pos = rows.filter(_.getString(2) == "positive")
    if (pos.isEmpty) return Merge(Nil, Nil)
    def lt(x: Any, y: Any): Boolean =
      x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    // union-find with min-id roots: the root IS the merged canonical
    val parent = scala.collection.mutable.Map.empty[Any, Any]
    def find(x: Any): Any = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    def union(x: Any, y: Any): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) {
        if (lt(rx, ry)) parent(ry) = rx else parent(rx) = ry
      }
    }
    // first appearances: entity ids with no current canonical — they
    // enter the mapping with this batch, labelled by their group
    val fresh = scala.collection.mutable.Set.empty[Any]
    pos.foreach { r =>
      val l = r.get(0); val rt = r.get(1)
      val cl = canon.getOrElse(l, { fresh += l; l })
      val cr = canon.getOrElse(rt, { fresh += rt; rt })
      union(cl, cr)
    }
    val relabels = parent.keys
      .filterNot(fresh.contains)
      .map(c => (c, find(c)))
      .filter { case (c, r) => c != r }
      .toSeq
    Merge(relabels, fresh.toSeq.map(id => (id, find(id))))
  }

  /** Bounded (id, id) pair lists as a DataFrame carrying the mapping's
    * own column types.
    */
  private def pairsDf(
      mapping: DataFrame,
      pairs: Seq[(Any, Any)],
      names: Seq[String]): DataFrame =
    mapping.sparkSession.createDataFrame(
      java.util.Arrays.asList(pairs.map(p =>
        org.apache.spark.sql.Row(p._1, p._2)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        mapping.schema("entity_id").copy(name = names.head),
        mapping.schema("canonical_id").copy(name = names(1)))))

  /** The `_reverse` projection: same rows, right side leading — the
    * access path for "who matched against X" (engine.py:259-261).
    */
  def reverse(xref: DataFrame): DataFrame =
    xref.select(
      col("right_dataset"), col("right_id"), col("right_schema"),
      col("right_country"), col("right_caption"),
      col("left_dataset"), col("left_id"), col("left_schema"),
      col("left_country"), col("left_caption"),
      col("judgement"), col("score"), col("ts"), col("user"))

  /** Reverse lookup: all judgement rows whose RIGHT side is the given
    * entity (pushed-down equi-filter; on a right-bucketed reverse table
    * this is a single-bucket read).
    */
  def lookupByRight(xref: DataFrame, rightId: Column): DataFrame =
    reverse(xref).filter(col("right_id") === rightId)
}
