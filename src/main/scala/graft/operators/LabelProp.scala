package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic synchronous min-label propagation — the
  * community/cluster labeling primitive behind f28.
  *
  * Classic label propagation (Raghavan et al. 2007) breaks ties
  * randomly and is therefore ungateable; this is the DETERMINISTIC
  * variant (the Pegasus "HCC" form, Kang et al. 2009): every node
  * starts labeled with its own id and each synchronous round replaces
  * a node's label with the MINIMUM label in its closed neighborhood
  * (itself + neighbors). Labels only decrease, every round is a pure
  * join + min-aggregate, and after R rounds the labeling is a
  * deterministic function of the edge set alone — so a DuckDB twin
  * running the same R rounds as chained GROUP BY CTEs hash-gates every
  * node's label. At convergence (R ≥ component diameter) the label IS
  * the component minimum — connected components by another route; the
  * f28 face asserts convergence on the gated datasets by comparing
  * round R to round R+1 in its spec.
  *
  * Scale shape: each round is ONE equi-join of the (symmetrized,
  * self-looped) edge set against the node-grain label table plus ONE
  * min-aggregate with map-side combine — the f25 PageRank round shape
  * exactly, and the same 100 TB argument: nothing broadcast, both
  * sides scale with the data.
  *
  * The round chain is LAZY (r15 optimization, the PageRank form). The
  * textbook round references lab_{i-1} twice (itself ∪ neighbor
  * labels), which would blow a lazy plan up 2^R — the reason the
  * DuckDB twin needs MATERIALIZED CTEs. Appending SELF-LOOPS to the
  * checkpointed edge set once makes the closed-neighborhood min a
  * plain neighbor min — lab_i = min over und'(u,v) of lab_{i-1}(v)
  * with (u,u) ∈ und' — so each round references lab_{i-1} exactly
  * ONCE and the composed plan is LINEAR, executing in pipelined
  * 5-round SEGMENTS: inside a segment there is no per-round driver
  * synchronization or checkpoint job, and the identical und'-by-key
  * exchange subtree of the segment's rounds collapses into one
  * shuffle via ReuseExchange instead of re-shuffling the edge set
  * once per round across separate jobs; the segment-boundary
  * checkpoint keeps any single plan shallow (a full R-deep plan
  * measured slower under suite load) and bounds the caller's lineage
  * as before. Min-label needs O(diameter) rounds where Components'
  * alternating star needs O(log n) — use [[Components.minLabelStars]]
  * when the graph can contain long chains; use THIS when the round
  * count must be fixed and engine-portable (the oracle cannot express
  * alternating stars, but R chained min-rounds are plain SQL).
  */
object LabelProp {

  /** Run `rounds` synchronous min-label rounds over the undirected
    * graph given by `edges` (columns `src`, `dst`; symmetrized and
    * deduplicated internally, self-loops harmless). Returns
    * (node, label) for every node appearing in an edge.
    */
  def minLabelRounds(
      edges: DataFrame, rounds: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(rounds >= 1, s"labelprop: rounds must be >= 1, got $rounds")
    // symmetrized edges PLUS a self-loop per node: the closed
    // neighborhood as plain edges, so a round reads `lab` once (the
    // lazy-chain precondition — see the class doc)
    val fwd = edges.select(col(src).as("u"), col(dst).as("v"))
    val sym = fwd.unionAll(fwd.select(col("v").as("u"), col("u").as("v")))
    val und = sym
      .unionAll(sym.select(col("u")).distinct()
        .select(col("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    // ONE reusable exchange of the edge side: the checkpoint erases
    // partitioning metadata, so each round's join would re-shuffle und
    // from the cached blocks (measured: one und shuffle write PER
    // ROUND). An explicit hash repartition on the join key — the same
    // DataFrame object referenced by every round of a segment — is an
    // identical exchange subtree, so ReuseExchange plans it once per
    // segment: one und shuffle per segment instead of five. Explicit N
    // (the session scale knob) keeps AQE from re-coalescing it and
    // keeps the output partitioning join-compatible.
    val undByV = und.repartition(Components.shufflePartitions(und), col("v"))
    val lab0 = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // Lazy in SEGMENTS of 5 rounds: a segment pipelines its joins in
    // one job (no per-round driver sync/checkpoint), while the segment
    // boundary checkpoint keeps any single plan shallow — the full
    // R-deep mega-plan measured faster isolated but slower in-suite
    // (planning + fresh-codegen cost of one 20-stage DAG under the
    // bench's JIT load outweighed the saved round syncs).
    try Fixpoint.iterate(lab0, rounds, segment = 5) { (lab, _) =>
        undByV.join(lab.withColumnRenamed("node", "v"), Seq("v"))
          .groupBy(col("u").as("node")).agg(min(col("label")).as("label"))
      }.get // no convergence check: always defined
    finally Fixpoint.release(und)
  }
}
