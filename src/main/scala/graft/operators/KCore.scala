package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-CORE membership by synchronous peeling — the third face of the
  * graph-cohesion trio (f26 triangles: per-node closure; f28 truss:
  * per-edge triangle support; THIS: the maximal subgraph where every
  * member keeps ≥ k live neighbors — Seidman 1983's degeneracy
  * core, the standard "dense enough to matter" screen investigators
  * run before the expensive per-node metrics).
  *
  * Each synchronous round recomputes degrees over the SURVIVING edge
  * set and drops every node below k; peeling cascades (removing a
  * hub's pendant can sink the hub next round) until a fixed point. A
  * FIXED round count keeps it engine-portable — the DuckDB twin runs
  * the identical rounds as chained CTEs, so membership and in-core
  * degrees hash-gate; the f29 spec asserts the rounds CONVERGED on
  * the gated data (round R ≡ an unbounded driver-side peel).
  *
  * Scale shape: per round ONE node-grain degree aggregate (map-side
  * combined) and TWO semi-joins of the edge set against the node-
  * grain survivor table — the f25/f28 round shape; nothing broadcast,
  * each round a lazy checkpoint materialized by its surviving-edge
  * count, superseded snapshots released ([[Fixpoint.iterate]]).
  */
object KCore {

  /** Nodes of the k-core after `rounds` synchronous peels, with their
    * in-core degree. `edges`: undirected rows (`src`, `dst`),
    * deduplicated/canonicalized internally, self-loops dropped.
    */
  def membership(
      edges: DataFrame, k: Long, rounds: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(rounds >= 1, s"kcore: rounds must be >= 1, got $rounds")
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    val e0 = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true, ser)
    // explode instead of unionAll: one scan of the serialized edge
    // checkpoint per degree pass instead of two (r15 — the Triangles
    // census rationale; this runs EVERY peel round)
    def degrees(ed: DataFrame): DataFrame =
      ed.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("d"))
    try {
      var nEdges = e0.count() // cached blocks — an O(partitions) read
      // the surviving-edge count is each peel round's materializing
      // action. EARLY FIXPOINT EXIT — semantics-preserving, not a
      // shortcut: peeling only ever removes edges, so an unchanged
      // edge count means no node fell below k and every further round
      // is the identity; the remaining rounds the oracle still runs
      // are no-ops on its side too, so the gate is untouched. This is
      // what makes the fixed-round contract affordable at scale — the
      // cascade depth, not the round budget, prices the query.
      def peeled(next: DataFrame, i: Int): Boolean = {
        val nNext = next.count()
        val same = nNext == nEdges
        nEdges = nNext
        same || i == rounds
      }
      val e = Fixpoint.iterate(e0, rounds, level = ser,
          until = Some(peeled _)) { (cur, _) =>
          val keep = degrees(cur).filter(col("d") >= k).select(col("node"))
          cur.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
            .select(col("a"), col("b"))
        }.get // the check holds at round `rounds`
      try degrees(e).select(col("node"), col("d")).localCheckpoint()
      finally Fixpoint.release(e)
    } finally Fixpoint.release(e0)
  }

  /** EXACT incremental k-core for an APPEND-ONLY edge batch — the tick
    * twin of [[membership]], the census `perEdgeDeltaDiff` discipline
    * at node grain. The caller OWNS the returned checkpointed frame and
    * [[Fixpoint.release]]s it once consumed (the per-face generation
    * rule: a store tick must never release an interactive query's
    * frame).
    *
    * Why a delta is exact here: edge INSERTION is monotone for a fixed
    * k — the k-core only grows, so every old member stays a member —
    * and every connected component of (newCore \ oldCore), induced,
    * must contain an endpoint of a genuinely-new edge (otherwise that
    * component plus the old core had min-degree ≥ k in the OLD graph,
    * contradicting the old core's maximality). So the only nodes whose
    * membership can change are non-members reachable from Δ endpoints
    * through non-members of union-degree ≥ k — a Δ-seeded region, not
    * the corpus. The delta:
    *
    *   1. folds E ∪ Δ with an age tag in ONE aggregate (replayed
    *      batches become the identity — the set-algebra immunity);
    *   2. BFS over ELIGIBLE non-members (union degree ≥ k; nodes below
    *      k can never join) from the Δ endpoints — per round one
    *      broadcast-probed adjacency scan and one eligible-set scan,
    *      the corpus side never shuffles; the region is capped at
    *      `maxRegion` and a blowout FALLS BACK to the full peel
    *      (honest: a region that large means the answer itself changed
    *      at corpus scale, the d15 auto-route discipline);
    *   3. peels ONLY the candidate region to a fixed point — member
    *      support (`degO`) is static through the peel because members
    *      never leave, so each cascade round joins region-bounded
    *      frames only;
    *   4. patches in-core degrees: joiners get degO + in-region degree;
    *      old members get +1 per J-incident edge and per Δ
    *      member–member edge (exactly the edges absent from the old
    *      in-core count), merged with the broadcast anti/semi split so
    *      the stored node-grain table never shuffles.
    *
    * Equals `membership(old ∪ new, k, rounds)` whenever that peel
    * converges (it early-exits at the fixed point; the f29 spec gates
    * convergence) — property-gated over randomized append chains.
    *
    * `oldCore`: (node, d) rows — the previous CONVERGED membership
    * with in-core degrees, exactly [[membership]]'s output.
    */
  def membershipDeltaDiff(
      oldEdges: DataFrame, oldCore: DataFrame, newEdges: DataFrame,
      k: Long, fallbackRounds: Int = 64, maxRegion: Long = 2000000L,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(k >= 1, s"kcore delta: k must be >= 1, got $k")
    import Fixpoint.release
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    def canon(df: DataFrame, s: String, d: String) = df
      .select(least(col(s), col(d)).as("a"),
        greatest(col(s), col(d)).as("b"))
      .filter(col("a") =!= col("b"))
    // E ∪ Δ with the age tag in one aggregate (the perEdgeDeltaDiff
    // fold): an edge is new iff NO old row produced it, so replayed
    // batches are structurally absorbed. Consumed by the degree
    // aggregate, every BFS scan and the region edge extraction.
    val all = canon(oldEdges, src, dst).withColumn("is_new", lit(false))
      .unionAll(canon(newEdges, src, dst).withColumn("is_new", lit(true)))
      .groupBy("a", "b").agg(bool_and(col("is_new")).as("is_new"))
      .localCheckpoint(true, ser)
    def fullPeel(): DataFrame = {
      val out = membership(all.select(col("a"), col("b")), k, fallbackRounds,
        "a", "b")
      release(all)
      out
    }
    val delta = all.filter(col("is_new")).select(col("a"), col("b"))
    val deltaNodes = delta.select(col("a").as("node"))
      .unionAll(delta.select(col("b").as("node"))).distinct()
    if (deltaNodes.isEmpty) { // pure replay: edge set unchanged
      val out = oldCore.select(col("node"), col("d")).localCheckpoint()
      release(all)
      return out
    }
    // eligible non-members: union degree ≥ k (one corpus degree
    // aggregate + one node-grain anti against the old membership) —
    // nodes below k can never join, members never need to
    val cand0 = all.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("du"))
      .filter(col("du") >= k).select(col("node"))
      .join(oldCore.select(col("node")), Seq("node"), "left_anti")
      .localCheckpoint(true, ser)
    val adj = all.select(col("a").as("x"), col("b").as("y"))
      .unionAll(all.select(col("b").as("x"), col("a").as("y")))
    // Δ-seeded BFS through the eligible set; the frontier is the
    // visited set itself until the first expansion
    var visited = cand0.join(broadcast(deltaNodes), Seq("node"), "left_semi")
      .localCheckpoint(true, ser)
    var frontier = visited
    def releaseFrontier(): Unit = if (frontier ne visited) release(frontier)
    var nVisited = visited.count()
    var frontierEmpty = nVisited == 0
    while (!frontierEmpty) {
      // boundary-sized distinct (the round's one exchange); counted
      // BEFORE broadcasting so a hub frontier can never broadcast a
      // corpus-sized set — it falls back instead
      val nbrs = adj.join(broadcast(frontier.select(col("node").as("x"))),
          Seq("x"), "left_semi")
        .select(col("y").as("node")).distinct()
        .localCheckpoint(true, ser)
      val nNbrs = nbrs.count()
      if (nVisited + nNbrs > maxRegion) {
        releaseFrontier(); release(visited)
        release(nbrs); release(cand0)
        return fullPeel()
      }
      val next = cand0.join(broadcast(nbrs), Seq("node"), "left_semi")
        .join(broadcast(visited), Seq("node"), "left_anti")
        .localCheckpoint(true, ser)
      release(nbrs)
      val nNext = next.count()
      if (nNext == 0) {
        release(next)
        frontierEmpty = true
      } else {
        val nv = visited.unionAll(next).localCheckpoint(true, ser)
        releaseFrontier(); release(visited)
        visited = nv
        frontier = next
        nVisited += nNext
      }
    }
    releaseFrontier()
    release(cand0)
    if (nVisited == 0) { // no eligible node near Δ: membership is
      // unchanged; only member–member Δ edges can bump in-core degrees
      val deltaMM = delta
        .join(oldCore.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(oldCore.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("inc"))
      val untouched = oldCore.select(col("node"), col("d"))
        .join(broadcast(deltaMM.select(col("node"))),
          Seq("node"), "left_anti")
      val out = untouched.unionAll(
          oldCore.select(col("node"), col("d"))
            .join(broadcast(deltaMM), Seq("node"))
            .select(col("node"), (col("d") + col("inc")).as("d")))
        .localCheckpoint()
      release(visited); release(all)
      return out
    }
    // region edges, classified once: x ∈ C always; y tagged member /
    // candidate. degO (member-side support) is static through the peel.
    val bEdgesM = adj.join(broadcast(visited.select(col("node").as("x"))),
        Seq("x"), "left_semi")
      .join(oldCore.select(col("node").as("y")), Seq("y"), "left_semi")
      .select(col("x"), col("y"))
      .localCheckpoint(true, ser)
    val degO = bEdgesM.groupBy(col("x").as("node"))
      .agg(count(lit(1)).as("dgo")).localCheckpoint(true, ser)
    val eCC = all.select(col("a"), col("b"))
      .join(broadcast(visited.select(col("node").as("a"))),
        Seq("a"), "left_semi")
      .join(broadcast(visited.select(col("node").as("b"))),
        Seq("b"), "left_semi")
      .localCheckpoint(true, ser)
    // cascade peel of the region only — members never leave, so each
    // round is region-bounded: in-region degree + static degO vs k
    def degCC(av: DataFrame): DataFrame = eCC
      .join(broadcast(av.select(col("node").as("a"))), Seq("a"), "left_semi")
      .join(broadcast(av.select(col("node").as("b"))), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("dcc"))
    var alive = visited
    var nAlive = nVisited
    var done = false
    while (!done && nAlive > 0) {
      val keep = alive.join(degCC(alive), Seq("node"), "left_outer")
        .join(degO, Seq("node"), "left_outer")
        .filter(coalesce(col("dcc"), lit(0L)) +
          coalesce(col("dgo"), lit(0L)) >= k)
        .select(col("node")).localCheckpoint(true, ser)
      val nKeep = keep.count()
      done = nKeep == nAlive
      if (done) release(keep)
      else {
        release(alive)
        alive = keep; nAlive = nKeep
      }
    }
    // joiners with their in-core degrees; old members patched by the
    // broadcast anti/semi split (the support-merge discipline — the
    // stored node-grain side never shuffles)
    val jRows = alive.join(degCC(alive), Seq("node"), "left_outer")
      .join(degO, Seq("node"), "left_outer")
      .select(col("node"), (coalesce(col("dcc"), lit(0L)) +
        coalesce(col("dgo"), lit(0L))).as("d"))
    val incFromJ = bEdgesM
      .join(broadcast(alive.select(col("node").as("x"))),
        Seq("x"), "left_semi")
      .select(col("y").as("node"))
    val deltaMM = delta
      .join(oldCore.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(oldCore.select(col("node").as("b")), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("node"))
    val incs = incFromJ.unionAll(deltaMM)
      .groupBy("node").agg(count(lit(1)).as("inc"))
    val untouched = oldCore.select(col("node"), col("d"))
      .join(broadcast(incs.select(col("node"))), Seq("node"), "left_anti")
    val out = untouched
      .unionAll(oldCore.select(col("node"), col("d"))
        .join(broadcast(incs), Seq("node"))
        .select(col("node"), (col("d") + col("inc")).as("d")))
      .unionAll(jRows)
      .localCheckpoint()
    release(alive) // visited itself, or visited went with the first peel
    release(bEdgesM); release(degO); release(eCC)
    release(all)
    out
  }

  // one result generation (the Triangles per-face rule): a
  // convenience caller's previous frame is released on the NEXT call,
  // never someone else's — owners needing custody of the result use
  // membershipDeltaDiff directly (GraphStore.refresh does)
  private val results = new Fixpoint.Slots

  /** Caller-friendly face of [[membershipDeltaDiff]]. */
  def membershipDelta(
      oldEdges: DataFrame, oldCore: DataFrame, newEdges: DataFrame,
      k: Long, fallbackRounds: Int = 64, maxRegion: Long = 2000000L,
      src: String = "src", dst: String = "dst"): DataFrame =
    results.hold("membershipDelta", membershipDeltaDiff(
      oldEdges, oldCore, newEdges, k, fallbackRounds, maxRegion, src, dst))
}
