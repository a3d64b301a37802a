package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/**
 * The driver-fallback gate of graft's iterative operators (graph loops,
 * PageRank, temporal reach, connected components, BPE training): a small
 * input runs the whole recurrence on the driver, a large one runs the
 * distributed loop. Every operator keeps its distributed loop as the scale
 * path and equality-tests it against the driver path at threshold 0.
 */
object Adaptive {

  /** Default edge bound of the iterative graph operators. Sized by what
    * the two sides cost: the driver path is one bounded collect of
    * ≤ 24 B/edge tuples (24 MB at the bound — trivia for any driver) plus
    * a memory-speed loop, while EACH distributed round pays ~3 scheduled
    * jobs of fixed latency, so an iterative operator on a 10^5–10^6-edge
    * graph spends its whole runtime on round latency, not work
    * (measured: 12 rounds over a 1.8·10^5-edge temporal graph = 113 jobs,
    * seconds of scheduling for milliseconds of relaxation). Larger graphs
    * still take the distributed path, so driver memory never grows with
    * the corpus. */
  val SmallGraphThreshold = 1000000L

  /**
   * `onDriver(rows)` when `df` has at most `threshold` rows, else
   * `distributed(df.localCheckpoint(true))`.
   *
   * One bounded probe decides: `limit(threshold + 1)` read BEFORE any
   * checkpoint. On the driver path the probed rows are the operator's
   * whole input, so the input is read once and nothing is materialized
   * in Spark; only the distributed path pays the checkpoint, after the
   * decision. Threshold 0 sends every non-empty input down the
   * distributed path (an empty input runs the driver path on no rows).
   */
  def small[A](df: DataFrame, threshold: Long)(onDriver: Array[Row] => A)(
      distributed: DataFrame => A): A = {
    val probe = math.max(0L, math.min(threshold, Int.MaxValue - 1L) + 1L).toInt
    val rows = df.limit(probe).collect()
    if (rows.length <= threshold) onDriver(rows)
    else distributed(df.localCheckpoint(true))
  }

  /** Probed rows of a (long, long) edge frame as pairs. */
  def pairs(rows: Array[Row]): Array[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1)))
}
