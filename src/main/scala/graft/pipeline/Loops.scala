package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one round skeleton every graph loop runs on (the reference's client
  * loop: LaraDB drives iteration from the client, which sees one scalar per
  * round — the Reducer side channel, `opt/Reducer.kt:25-59`).
  *
  * Round discipline, stated once for every loop:
  *  - A round materializes its new state with ONE fused checkpoint+count
  *    job (`bridge.localCheckpointCounted`): the eager local checkpoint cuts
  *    the lineage (a round that references its input twice would otherwise
  *    double its plan every round) and the same pass yields the scalar the
  *    stop test needs, instead of a second driver-synchronized job.
  *  - That scalar is used only as progress / no progress. A predicate count
  *    rides an accumulator, and a task retry can only INFLATE it — never turn
  *    zero nonzero or nonzero zero — so it is exact as a zero test and is
  *    never reported as a value.
  *  - Once a round has materialized, the frames that backed the previous
  *    round's state are released.
  *  - The round loop runs with AQE off by default: each round is a
  *    sub-second job over frames whose partitioning the operator already
  *    knows (a checkpointed adjacency partitioned on its key, or kCore's
  *    round that moves its rows to w with one exchange), so there is
  *    nothing to adapt, AQE would only re-plan every exchange as its own
  *    query stage, and only a non-adaptive plan hands its partitioning to
  *    the checkpoint, where the next round's exchange-free window or
  *    aggregate needs it. Some loops still force vertex-bounded broadcasts
  *    of a round's small side (ROADMAP item 2). Loops whose per-round join
  *    sizes are data-dependent and not hinted keep AQE on. The caller's
  *    final plan, built after the loop, runs under the session setting.
  *  - `localCheckpoint` trades executor-loss tolerance for speed; a long
  *    job on a flaky cluster would switch to reliable `checkpoint()`, same
  *    structure.
  */
object Loops {

  /** One round's outcome: the new state, whether the round changed
    * anything, and the frames that back the new state (released once the
    * NEXT round has materialized; a frame a round hands back again is
    * kept).
    */
  final case class Round[S](state: S, progress: Boolean, backing: Seq[DataFrame] = Nil)

  /** Run `step` from `init` until a round reports no progress or
    * `maxRounds` rounds have run; `init.progress = false` runs no round.
    * `step` receives the state and the 1-based round number. Returns the
    * last state and whether the loop converged (stopped on a no-progress
    * round rather than on the budget). The last state's backing frames stay
    * with the caller.
    */
  private[graft] def fixpoint[S](spark: SparkSession, init: Round[S], maxRounds: Int,
                                 aqeOff: Boolean = true)(step: (S, Int) => Round[S]): (S, Boolean) = {
    def rounds(): Round[S] = {
      var cur = init
      var round = 0
      while (cur.progress && round < maxRounds) {
        round += 1
        val next = step(cur.state, round)
        cur.backing.filterNot(b => next.backing.exists(_ eq b)).foreach(_.unpersist())
        cur = next
      }
      cur
    }
    val last = if (aqeOff) withAqeOff(spark)(rounds()) else rounds()
    (last.state, !last.progress)
  }

  /** Run `body` with AQE disabled on this session, restoring the previous
    * setting afterwards (also on exception). The loops run single-threaded
    * within one query build, so no concurrent query on the session sees the
    * flipped value; broadcast builds started inside a round inherit it at
    * plan time, which is the intent.
    */
  private def withAqeOff[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }
}
