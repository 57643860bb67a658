package graft.ops

import org.apache.spark.sql.DataFrame

/** The one bulk-synchronous round driver behind the iterative kernels
  * (PageRank, BFS, min-label components): each superstep is one dataflow
  * plan over the previous state, and the join strategy is the round
  * function's plan choice, never a separate loop (the Pregelix shape).
  *
  * Every round materializes with one eager `localCheckpoint(true)`: the
  * lineage cut that keeps round t from re-planning rounds 1..t-1 (a round
  * that references its state twice would otherwise double its plan per
  * round). The state stays executor-resident; nothing is collected to the
  * driver. */
object Superstep {

  /** Final state, and whether the halt test ended the loop (false: the
    * round cap did). */
  final case class Result(state: DataFrame, halted: Boolean)

  /** Runs `round(state, i)` for i = 1, 2, ... until `halt(state, i)` holds
    * on a round's materialized output or `maxRounds` rounds have run. The
    * halt test is the loop's only driver-visible scalar; a loop that only
    * the cap ends passes none and pays no per-round job for it. */
  def iterate(init: DataFrame, maxRounds: Int,
      halt: (DataFrame, Int) => Boolean = (_, _) => false)(
      round: (DataFrame, Int) => DataFrame): Result = {
    var state = init.localCheckpoint(true)
    var i = 0
    var halted = false
    while (!halted && i < maxRounds) {
      i += 1
      state = round(state, i).localCheckpoint(true)
      halted = halt(state, i)
    }
    Result(state, halted)
  }
}
