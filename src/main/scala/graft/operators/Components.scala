package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the shared engine behind
  * judgement-driven entity canonicalization ([[Xref.resolverMapping]])
  * and near-dup document clustering ([[Dedup.nearDupClusters]]).
  *
  * Two interchangeable algorithms, same contract (see [[minLabel]]):
  *
  *   - [[minLabel]] — iterative min-label propagation, one equi-join +
  *     one map-side-combined aggregation per round, converging in
  *     O(component diameter) rounds. The default: blocking/LSH
  *     candidate graphs are near-cliques, so the diameter is tiny at
  *     any data scale and the per-round plan is the cheapest possible.
  *   - [[minLabelStars]] — alternating large-star/small-star
  *     (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond", SOCC'14): each round REWIRES edges toward component
  *     minima instead of propagating labels one hop, converging in
  *     O(log n) rounds regardless of diameter. Reach for it when the
  *     graph can contain long chains — e.g. judgement graphs where
  *     merges arrive pairwise (a→b, b→c, c→d …) and the diameter
  *     grows with history length.
  */
object Components {

  /** `spark.sql.shuffle.partitions` as an Int — the session scale knob
    * the explicit repartitions read (Fpx.expandSortedSets, LabelProp's
    * edge exchange). GraftSession always sets an integer, but a session
    * configured with a non-numeric value (Spark accepts "auto" with
    * some catalogs) would otherwise throw NumberFormatException at
    * plan-build time; fall back to the scheduler's default parallelism
    * (r15 ADVICE).
    */
  private[operators] def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions")
      .toIntOption
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)

  /** `edges`: directed (src, dst) rows, any element type with a total
    * order (string ids, long ids); symmetrized and deduplicated
    * internally. Returns (id, label) for every vertex that appears in
    * an edge, `label` = the component's minimum vertex id.
    *
    * Throws if `maxIter` rounds pass without convergence: an
    * unconverged label map is WRONG (vertices of one component carry
    * different labels), and every caller — judgement canonicalization,
    * near-dup clustering — would silently split clusters. A graph that
    * legitimately needs more rounds (diameter > maxIter) should switch
    * to [[minLabelStars]] (O(log n) rounds) or raise the bound
    * explicitly rather than get a wrong answer quietly.
    */
  def minLabel(edges0: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = symmetrized(edges0)
    val labels0 = edges.groupBy(col("src")).agg(
        least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label"))
      .localCheckpoint()
    var changed = 1L
    // the final labels checkpoint is materialized, so it no longer
    // reads edges (or labels0): both are released however the loop ends
    val out = try Fixpoint.iterate(labels0, maxIter, until = Some {
        (updated: DataFrame, _: Int) =>
          changed = updated.filter(col("__chg")).count()
          changed == 0
      }) { (labels, _) =>
        val nbr = edges
          .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
          .select(col("src").as("id"), col("nlabel"))
        labels.join(nbr, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nlabel"), col("label")))
              .as("label"),
            (col("nlabel") < col("label")).as("__chg"))
      }
      finally { Fixpoint.release(labels0); Fixpoint.release(edges) }
    out.map(_.drop("__chg")).getOrElse(throw new IllegalStateException(
      s"Components.minLabel did not converge in $maxIter rounds " +
        s"($changed labels still changing); component diameter exceeds " +
        "maxIter — use minLabelStars (O(log n) rounds) or raise it " +
        "(labels would be silently wrong)"))
  }

  /** Symmetrize + dedup + eagerly checkpoint a (src, dst) edge list;
    * the caller owns (and [[Fixpoint.release]]s) the returned frame.
    */
  private[operators] def symmetrized(edges0: DataFrame): DataFrame = {
    val und = edges0.select(col("src"), col("dst"))
    und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
  }

  /** Same contract as [[minLabel]], via alternating
    * large-star/small-star edge rewiring (Kiveris et al., SOCC'14):
    *
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(N(u) ∪ u) — tall trees flatten toward minima;
    *   - small-star(u): u and its smaller neighbors all attach to the
    *     smallest — stars contract.
    *
    * Each half-round is one aggregate + one equi-join on edge rows
    * (the same per-round plan cost as a [[minLabel]] round), but the
    * round COUNT is O(log n) in the graph size instead of
    * O(diameter) — a pairwise-merge judgement chain of length 10⁶
    * converges in ~20 rounds here vs 10⁶ there. Fixed point is
    * detected by a (count, hash-sum) signature of the edge set; the
    * final labels are then exactly validated against the ORIGINAL
    * edges (every edge must connect same-label vertices), so a
    * signature collision cannot smuggle out a wrong answer — the same
    * loud-failure contract as [[minLabel]].
    */
  def minLabelStars(edges0: DataFrame, maxIter: Int = 50): DataFrame = {
    // symmetric original edges: the vertex universe (self-loops keep a
    // vertex alive even with no real neighbors) and the final validator
    val orig = symmetrized(edges0)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("__m"))
      sym.join(m, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val m = dir.groupBy(col("src")).agg(min(col("dst")).as("__m"))
      dir.join(m, Seq("src"))
        .filter(col("dst") =!= col("__m"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .union(m.select(col("src"), col("__m").as("dst")))
        .distinct()
    }

    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    val e0 = orig.filter(col("src") =!= col("dst")).localCheckpoint(false)
    try {
      var sig = signature(e0)
      // the signature aggregate is each round's materializing action
      val e = Fixpoint.iterate(e0, maxIter, until = Some {
          (next: DataFrame, _: Int) =>
            val nextSig = signature(next)
            val same = nextSig == sig
            sig = nextSig
            same
        })((cur, _) => smallStar(largeStar(cur)))
        .getOrElse(throw new IllegalStateException(
          s"Components.minLabelStars did not converge in $maxIter rounds — " +
            "raise maxIter (labels would be silently wrong)"))
      try {
        // at the fixed point every edge points (vertex → component
        // min): vertices absent as src are roots (or isolated) and
        // label themselves
        val pointed = e.groupBy(col("src")).agg(min(col("dst")).as("label"))
          .select(col("src").as("id"), col("label"))
        val labels = orig.select(col("src").as("id")).distinct()
          .join(pointed, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        // exact validation against the original edges: a signature
        // collision (or a bug) cannot survive this — fail loud like
        // minLabel's non-convergence throw
        val lSrc = labels.select(col("id").as("src"), col("label").as("__ls"))
        val lDst = labels.select(col("id").as("dst"), col("label").as("__ld"))
        val bad = orig.join(lSrc, Seq("src")).join(lDst, Seq("dst"))
          .filter(col("__ls") =!= col("__ld")).count()
        if (bad > 0) throw new IllegalStateException(
          s"Components.minLabelStars produced a split component " +
            s"($bad edges cross labels) — fixed-point signature collided")
        // the result's own checkpoint stays pinned — it IS the answer
        labels.localCheckpoint()
      } finally Fixpoint.release(e)
    } finally { Fixpoint.release(e0); Fixpoint.release(orig) }
  }
}
