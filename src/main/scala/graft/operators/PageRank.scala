package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) over the entity graph — the "which
  * entities anchor this corpus" centrality the investigative surface
  * (f22 k-hop, f23 shortest path) reads pointwise, computed for every
  * node at once, in INTEGER-EXACT fixed point.
  *
  * Why fixed point and not doubles: float PageRank sums per-partition
  * partials in shuffle-arrival order, so the low bits differ run to
  * run — fine for ranking, fatal for a hash-gated oracle. Here ranks
  * are BIGINT micro-units (`scale` = 10^6 per node initially) and each
  * contribution is `(dampNum·r) DIV (dampDen·d)` — integer floor
  * division whose SUM is associative and commutative, so the result
  * is bit-identical on every partitioning, merge shape, and engine
  * (DuckDB's `//` computes the same floor; the q7 integer-exactness
  * rule applied to an iterative algorithm). The floor leaks ≤ 1
  * micro-unit per (edge, round) of rank mass — a DOCUMENTED bias of
  * ~10^-6 per edge per round, far below any ranking decision, in
  * exchange for exactness of the gate.
  *
  * Semantics (the classic damped walk, teleport 1−d = 0.15):
  *   r₀(v) = scale;
  *   rᵢ₊₁(v) = (scale − (dampNum·scale) DIV dampDen)
  *             + Σ_{u→v} (dampNum·rᵢ(u)) DIV (dampDen·deg(u))
  * over the DEDUPLICATED directed edge set, fixed `iters` rounds.
  * Dangling nodes keep receiving teleport + in-flow; their own mass
  * is not redistributed (the "dangling sink" simplification — both
  * engines share it, and the oracle gates it).
  *
  * 100 TB shape: per round ONE edge-grain join (edges, with their
  * out-degree attached once upfront, against the node-grain rank
  * table — the rank side is |V| rows, broadcast-or-shuffle as AQE
  * sizes it) and ONE dst-grain aggregation with map-side combine.
  *
  * The round chain is LAZY (r15 optimization): rank_{i+1} references
  * rank_i exactly once and the checkpointed e/nodes frames, so the
  * composed `iters`-round plan is LINEAR in the round count (no
  * exponential reference blow-up — the reason LabelProp/KCore must
  * stay materialized-per-round) and executes as ONE pipelined job:
  * no per-round driver synchronization, no per-round checkpoint job,
  * no per-round block churn. Measured at sf0.1/local[32], the
  * checkpoint-per-round form spent ~0.45s/round on 1-task stages and
  * scheduling latency with 31 cores idle; the lazy chain runs the
  * same twenty exchanges back-to-back inside one DAG. The single
  * terminal localCheckpoint bounds the caller's lineage exactly as
  * before (callers own node-grain blocks only; e/nodes blocks are
  * released before returning). Overflow bound: requires
  * |V|·scale·dampNum < 2^63 — holds to ~10^11 nodes at the defaults.
  */
object PageRank {

  /** `edges`: directed (src, dst) rows, deduplicated internally.
    * Returns (id, r) for every vertex appearing in an edge, `r` the
    * fixed-point rank after `iters` rounds.
    */
  def ranks(
      edges: DataFrame, iters: Int = 10, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    core(edges, None, iters, scale, dampNum, dampDen)

  /** PERSONALIZED PageRank (the "relevance to THIS case" face):
    * teleport mass returns only to the `seeds` set instead of every
    * node, so rank measures proximity-weighted reachability FROM the
    * seeds — the global anchor question becomes "which entities does
    * this investigation's walk keep arriving at". Same integer fixed
    * point, same oracle discipline; the only changes are r₀(v) =
    * scale·[v ∈ S] and a per-node teleport term tele·[v ∈ S]. Nodes
    * the seeds cannot reach stay at EXACTLY 0 (integer floors leak no
    * phantom mass), so the rank vector doubles as a reachability
    * certificate. `seeds` is a 1-column (`id`) frame, deduplicated
    * and intersected with the graph's nodes internally; node-grain,
    * joined not broadcast-collected — a seed set may be large (every
    * customer of a nation) without driver involvement.
    */
  def personalizedRanks(
      edges: DataFrame, seeds: DataFrame, iters: Int = 10,
      scale: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame =
    core(edges, Some(seeds), iters, scale, dampNum, dampDen)

  private def core(
      edges: DataFrame, seeds: Option[DataFrame], iters: Int,
      scale: Long, dampNum: Long, dampDen: Long): DataFrame = {
    require(iters >= 1, s"pagerank: iters must be >= 1, got $iters")
    val tele = scale - (dampNum * scale) / dampDen
    val ded = edges.select(col("src"), col("dst")).distinct()
    // out-degree attaches to the edge set ONCE; every round then
    // pays a single edges ⋈ ranks join, never a second deg join
    val e = ded.join(
        ded.groupBy(col("src")).agg(count(lit(1)).as("d")), Seq("src"))
      .localCheckpoint()
    // nodes carry their per-node teleport: the uniform walk teleports
    // everywhere; the personalized walk only to seeds (left-semi-style
    // membership via a left join — seeds stay distributed).
    // explode instead of union: one scan of the e checkpoint (the
    // Triangles census rationale)
    val ids = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    val nodes = seeds match {
      case None => ids.withColumn("tele", lit(tele)).localCheckpoint()
      case Some(sd) =>
        ids.join(
            sd.select(col("id")).distinct().withColumn("__s", lit(1)),
            Seq("id"), "left")
          .select(col("id"),
            when(col("__s").isNotNull, lit(tele)).otherwise(lit(0L))
              .as("tele"))
          .localCheckpoint()
    }
    // ONE reusable exchange per checkpointed side (r16, the LabelProp
    // undByV discipline): the checkpoints erase partitioning metadata,
    // so every round of the lazy chain would re-shuffle the edge set
    // (join key src) and the node set (join key id) from the cached
    // blocks — 2 exchanges × rounds. An explicit hash repartition on
    // the join key, the SAME object referenced by every round, is an
    // identical exchange subtree, so ReuseExchange plans each ONCE per
    // segment. By-COLUMN (not by-num): the canonicalized exchange is
    // still identical across rounds (reusable), but AQE keeps the
    // right to coalesce each round's join read to sized partitions —
    // a pinned N froze every tiny bench-scale round at the full
    // partition count (measured +1.5s on f25 at sf0.1) while the
    // by-column form scales the same at data scale.
    val eBySrc = e.repartition(col("src"))
    val nodesById = nodes.repartition(col("id"))
    val r0 =
      if (seeds.isEmpty) lit(scale)
      else when(col("tele") > 0, lit(scale)).otherwise(lit(0L))
    // SEGMENTED lazy chain (r15 ADVICE): the chain is linear in the
    // round count, but analysis/codegen of one mega-plan grows
    // super-linearly, so a caller passing iters = 100 would pay a
    // planning cliff the public API never warned about. Rounds pipeline
    // lazily in segments of up to 10 (the declared queries' iters —
    // their plan is EXACTLY the former single chain, one terminal
    // checkpoint job, bit-identical results) with a checkpoint at each
    // segment boundary bounding any single plan's depth (the LabelProp
    // segmentation rationale). The caller owns only the node-grain
    // result; e/nodes are released once the terminal segment is
    // materialized.
    try Fixpoint.iterate(
        nodesById.select(col("id"), r0.as("r")), iters, segment = 10) {
        (ranks, _) =>
          val contrib = eBySrc
            .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
            .select(col("dst").as("id"),
              expr(s"($dampNum * r) DIV ($dampDen * d)").as("c"))
            .groupBy(col("id")).agg(sum(col("c")).as("c"))
          nodesById.join(contrib, Seq("id"), "left")
            .select(col("id"),
              (col("tele") + coalesce(col("c"), lit(0L))).as("r"))
      }.get // no convergence check: always defined
    finally { Fixpoint.release(e); Fixpoint.release(nodes) }
  }
}
