package graft

import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Rounds
import graft.kg.{Graphs, Temporal}

class RoundsSpec extends SparkSpec {

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  private def edges(es: (Long, Long)*): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst").repartition(2)
  }

  private def weighted(es: (Long, Long, Long)*): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst", "w").repartition(2)
  }

  // counts down from the frontier's value: round r emits value - 1 while > 0
  private def countdown(from: Long, maxRounds: Int) = {
    val state0 = ids(from).localCheckpoint(true)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val out = Rounds.frontier(state0, state0, maxRounds) { (_, front, _) =>
      front.select((col("id") - 1L).as("id")).filter(col("id") > 0L)
    } { (state, r) => seen += ((r.index, r.size)); state.unionAll(r.rows) }
    (out.collect().map(_.getLong(0)).sorted.toSeq, seen.toSeq)
  }

  test("frontier: a round with no rows stops the loop and is not merged") {
    val (out, seen) = countdown(3L, maxRounds = 10)
    assert(out == Seq(1L, 2L, 3L))
    assert(seen == Seq((1, 1L), (2, 1L)))
  }

  test("frontier: the cap ends the loop quietly after maxRounds merges") {
    val (out, seen) = countdown(9L, maxRounds = 2)
    assert(out == Seq(7L, 8L, 9L))
    assert(seen.map(_._1) == Seq(1, 2))
    assert(countdown(9L, maxRounds = 0) == ((Seq(9L), Nil)))
  }

  test("frontier: one job per empty round, two per merged round") {
    val state0 = ids(3L).localCheckpoint(true)
    val jobs = BusDrain.jobsOf(spark.sparkContext) {
      Rounds.frontier(state0, state0, 10)((_, front, _) =>
        front.select((col("id") - 1L).as("id")).filter(col("id") > 0L))(
        (state, r) => state.unionAll(r.rows))
    }
    assert(jobs == 2 * 2 + 1, s"$jobs jobs")
  }

  test("the six frontier loops pin their job counts on fixed small graphs") {
    val sc = spark.sparkContext
    // 1 -> 2 -> 3 -> 4 -> 5 with a branch 2 -> 6: four non-empty rounds from 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L))
    // two shortest 1 -> 4 paths, a third of length 3, and a tail past 4
    val diamond = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L), (3L, 5L), (5L, 4L), (4L, 6L))
    val jobs = Seq(
      "bfs" -> BusDrain.jobsOf(sc)(
        Graphs.bfs(edges(chain: _*), ids(1L), maxDepth = 6, smallGraphThreshold = 0L)),
      "sssp" -> BusDrain.jobsOf(sc)(
        Graphs.sssp(weighted(chain.map { case (s, d) => (s, d, s + d) }: _*), ids(1L),
          maxHops = 6, smallGraphThreshold = 0L)),
      "transitiveClosure" -> BusDrain.jobsOf(sc)(
        Graphs.transitiveClosure(edges(chain: _*), smallGraphThreshold = 0L)),
      "pathBrokerage" -> BusDrain.jobsOf(sc)(
        Graphs.pathBrokerage(edges(diamond: _*), 1L, 4L, maxHops = 4)),
      "enumPaths" -> BusDrain.jobsOf(sc)(
        Graphs.enumPaths(edges(diamond: _*), 1L, 4L, maxLen = 4)),
      "earliestReach" -> BusDrain.jobsOf(sc) {
        import spark.implicits._
        Temporal.earliestReach(chain.map { case (s, d) => (s, d, s * 10L) }
          .toDF("src", "dst", "ts").repartition(2), ids(1L), startTs = 0L,
          maxHops = 6, smallGraphThreshold = 0L)
      }).toMap
    // measured on local[4], 4 shuffle partitions. The hand-written loops
    // that Rounds replaced ran one emptiness-probe job more per round, and
    // enumPaths a frontier count() job more again: bfs 37, sssp 46,
    // transitiveClosure 30, pathBrokerage 49 (two sweeps), enumPaths 24,
    // earliestReach 43.
    val want = Map("bfs" -> 32, "sssp" -> 41, "transitiveClosure" -> 26,
      "pathBrokerage" -> 39, "enumPaths" -> 16, "earliestReach" -> 38)
    assert(jobs == want, jobs)
  }
}
