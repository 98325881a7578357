package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, count, lit}

/** The iteration primitive of the distributed graph loops.
  *
  * A round's frame is materialized by ONE eager `localCheckpoint`, so
  * the next round plans over a flat RDD scan. Without the cut a round
  * that references its predecessor k times grows the logical plan as
  * k^rounds, and Catalyst analysis goes exponential even while the
  * data itself is cached (persist alone wedged clustering on a 15-node
  * path). The loop's convergence signal is an `observe()` aggregate on
  * that same materialization, so reading it costs no job of its own.
  */
object Fixpoint {

  /** A round's frame and the value of the metric observed on it. */
  final case class Round(df: DataFrame, metric: Long)

  private val names = new AtomicLong()

  /** `df` materialized by one eager `localCheckpoint`, with `metric` —
    * an aggregate over its rows, by default their count; null reads as
    * 0 — observed on that same execution.
    */
  def materialize(df: DataFrame, metric: Column = count(lit(1))): Round = {
    val name = s"graft_fixpoint_${names.incrementAndGet()}"
    val observed = df.observe(name, coalesce(metric.cast("long"), lit(0L)).as("m"))
    val checkpointed = observed.localCheckpoint(eager = true)
    // The checkpoint above is `observed`'s one and only execution, so
    // the metric holds exactly this materialization's rows: a second
    // action on `observed` (or a lazy checkpoint) would re-run the plan
    // and this read would no longer describe the returned frame.
    Round(checkpointed, observed.queryExecution.observedMetrics(name).getLong(0))
  }

  /** Iterates `step` from `init` for at most `maxRounds` rounds and
    * returns the last state. `step(state, round)` (rounds count from 1)
    * builds the next state, materializing its frames with
    * [[materialize]]; the loop stops after the first round for which
    * `done(previous, next)` holds. At the cap a bounded-round loop
    * returns its state as it stands; a loop that must converge fails
    * with an error naming it and the round count.
    */
  def run[S](loop: String, init: S, maxRounds: Int, mustConverge: Boolean = false)
      (step: (S, Int) => S)(done: (S, S) => Boolean): S = {
    var state = init
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val next = step(state, round)
      converged = done(state, next)
      state = next
    }
    if (mustConverge && !converged)
      throw new IllegalStateException(s"$loop did not converge in $maxRounds rounds")
    state
  }
}
