package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SqlBridge

/** The one fixed-point loop every iterative operator runs through. It
  * owns the loop policy:
  *  - Cadence: the state is checkpointed on every `checkpointEvery`-th
  *    round and always on the last round run, through
  *    [[SqlBridge.localCheckpointWithCount]], so the row count comes from
  *    the checkpoint job itself. The checkpoint truncates the lineage,
  *    which otherwise grows every round until planning dominates or OOMs.
  *  - Early exit: `until` sees the state at the previous checkpoint and
  *    the one just checkpointed, with their row counts, and is evaluated
  *    only on checkpointed rounds. `init` is checkpointed (and counted)
  *    only when an `until` is given; otherwise it is taken as built. That
  *    an early exit returns exactly the `maxRounds` result is the
  *    caller's proof, stated in its scaladoc.
  *  - Labels: every job that building `init` runs is described
  *    `name: init`, every job of round k (step, checkpoint and `until`)
  *    `name: round k`; the caller's own description is restored after.
  */
private[graft] object Iterate {

  final case class Round(round: Int, prev: DataFrame, prevCount: Long,
      next: DataFrame, nextCount: Long)

  /** The default `until`: run all `maxRounds` rounds. */
  val Never: Round => Boolean = _ => false

  private val Description = "spark.job.description"

  /** Runs `step(state, k)` for k = 1..maxRounds, stopping after the first
    * checkpointed round where `until` holds. Returns the final state, the
    * number of rounds run, and whether `until` fired. */
  def apply(name: String, init: => DataFrame, maxRounds: Int,
      checkpointEvery: Int = 1)(step: (DataFrame, Int) => DataFrame)(
      until: Round => Boolean = Never): (DataFrame, Int, Boolean) = {
    val sc = SparkSession.active.sparkContext
    val outer = sc.getLocalProperty(Description)
    try {
      sc.setLocalProperty(Description, s"$name: init")
      var (last, lastCount) =
        if (until eq Never) (init, -1L)
        else SqlBridge.localCheckpointWithCount(init)
      var state = last
      var round = 0
      var fired = false
      while (round < maxRounds && !fired) {
        round += 1
        sc.setLocalProperty(Description, s"$name: round $round")
        state = step(state, round)
        if (round % checkpointEvery == 0 || round == maxRounds) {
          val (next, nextCount) = SqlBridge.localCheckpointWithCount(state)
          fired = until(Round(round, last, lastCount, next, nextCount))
          state = next
          last = next
          lastCount = nextCount
        }
      }
      (state, round, fired)
    } finally sc.setLocalProperty(Description, outer)
  }
}
