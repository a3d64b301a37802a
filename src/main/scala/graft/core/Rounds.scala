package graft.core

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/**
 * The round loop of graft's distributed frontier operators (BFS, SSSP,
 * transitive closure, path sweeps and enumeration, temporal reach): each
 * round expands last round's new rows against the edges and folds them
 * into the state. The operators pass only the algorithm; everything that
 * repeats lives here.
 *
 * Contract of [[frontier]]:
 *   - each round's rows are materialized (`localCheckpoint`) in ONE job
 *     that also counts them through an `Observation` in the checkpointed
 *     plan (no `isEmpty` or `count()` job follows);
 *   - a round with zero rows ends the loop and is not merged;
 *   - at most `maxRounds` rounds run, and reaching the cap ends the loop
 *     quietly — an operator whose cap must fail loudly checks it itself,
 *     in its `merge`, from the round's index and size;
 *   - the merged state is materialized once per round, so the plan stays
 *     flat however many rounds run.
 * The initial state and frontier are used as given; callers materialize
 * them when they are read more than once.
 */
object Rounds {

  /** One materialized round: its 1-based index, its rows and their count. */
  final case class Round(index: Int, rows: DataFrame, size: Long)

  /**
   * Runs rounds 1..`maxRounds` from `state0` and `frontier0`. Round r's
   * rows are `step(state, frontier, r)`, where the frontier is the previous
   * round's rows (`frontier0` in round 1); a non-empty round becomes the
   * next frontier and `merge(state, round)` the next state.
   *
   * @return the state after the last merged round
   */
  def frontier(state0: DataFrame, frontier0: DataFrame, maxRounds: Int)(
      step: (DataFrame, DataFrame, Int) => DataFrame)(
      merge: (DataFrame, Round) => DataFrame): DataFrame = {
    @annotation.tailrec
    def loop(state: DataFrame, front: DataFrame, index: Int): DataFrame =
      if (index > maxRounds) state
      else {
        val round = counted(index, step(state, front, index))
        if (round.size == 0L) state
        else loop(merge(state, round).localCheckpoint(true), round.rows, index + 1)
      }
    loop(state0, frontier0, 1)
  }

  private def counted(index: Int, df: DataFrame): Round = {
    val obs = Observation()
    val rows = df.observe(obs, count(lit(1)).as("rows")).localCheckpoint(true)
    Round(index, rows, obs.get("rows").asInstanceOf[Long])
  }
}
