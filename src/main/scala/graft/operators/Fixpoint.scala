package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** How operator state is pinned and freed — the one place the graph
  * operators' checkpoint custody is decided.
  *
  * A `localCheckpoint`ed frame is its own release handle: its plan is
  * exactly one `LogicalRDD` leaf over the persisted RDD, and frames
  * derived from it (projections, filters, self-joins) keep that leaf.
  * Ownership therefore travels with the frame: whoever holds a
  * checkpointed result calls [[release]] on it once consumed, and no
  * session-global snapshot of persisted RDDs is ever taken — callers
  * sharing one SparkContext on different threads (a stream-thread
  * GraphStore refresh next to interactive queries) cannot free each
  * other's blocks.
  */
object Fixpoint {

  /** Unpersist, non-blocking, the RDD behind every `LogicalRDD` leaf of
    * `df`'s plan. Call it only on frames whose checkpoints you own: it
    * releases every checkpoint the frame reads directly.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** One live result per slot, for the convenience faces whose callers
    * keep no custody (the per-face generation rule): [[hold]] releases
    * the slot's previous frame, never another slot's, so a bench loop
    * that rebuilds a face holds one generation of it, not the session's
    * history. Consume each result before requesting the next one in the
    * same slot.
    */
  final class Slots {
    private val last = scala.collection.mutable.Map.empty[String, DataFrame]

    def hold(slot: String, df: DataFrame): DataFrame = synchronized {
      last.get(slot).foreach(release)
      last(slot) = df
      df
    }
  }

  /** The iterative operators' one round loop: up to `rounds` applications
    * of `step` (given the state and the 1-based round number) to
    * `init`, checkpointed at `level` every `segment` rounds.
    *
    *   - With an `until` check, each segment ends in a LAZY checkpoint
    *     and the check is that checkpoint's materializing action — one
    *     driver action per segment (the RDD-level persist caches the
    *     checkpoint's full rows whatever the check's plan prunes). The
    *     loop stops at the first segment whose check holds; if none
    *     does within `rounds`, it returns `None`.
    *   - Without one, rounds chain lazily inside a segment (one
    *     pipelined job, no per-round driver sync) and each segment
    *     boundary is an EAGER checkpoint that keeps any single plan
    *     shallow; the result is always defined.
    *
    * `init` stays the caller's. Every checkpoint the loop creates is
    * released once superseded, and all of them are released when a
    * round throws or the check never holds, so the only state left
    * pinned is the returned frame — the caller's to [[release]].
    */
  def iterate(
      init: DataFrame, rounds: Int, segment: Int = 1,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      until: Option[(DataFrame, Int) => Boolean] = None)(
      step: (DataFrame, Int) => DataFrame): Option[DataFrame] = {
    var state = init
    def releaseOwned(): Unit = if (state ne init) release(state)
    var round = 0
    var done = false
    try {
      while (!done && round < rounds) {
        var chain = state
        val end = math.min(round + segment, rounds)
        while (round < end) { round += 1; chain = step(chain, round) }
        val next = chain.localCheckpoint(until.isEmpty, level)
        try done = until.exists(_(next, round))
        catch { case t: Throwable => release(next); throw t }
        releaseOwned()
        state = next
      }
    } catch { case t: Throwable => releaseOwned(); throw t }
    if (until.isEmpty || done) Some(state)
    else { releaseOwned(); None }
  }
}
