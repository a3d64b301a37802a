package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

class BitextSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's round(double) semantics: shortest-repr BigDecimal, HALF_UP. */
  private def c9(a: Array[Float], b: Array[Float]): Long =
    BigDecimal.valueOf(Similarity.cosineScalar(a, b) * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Sequential twin of marginPairs (plain collections, Long arithmetic). */
  private def twin(xs: Seq[(Long, Array[Float])], ys: Seq[(Long, Array[Float])],
                   k: Int): Set[(Long, Long, Long)] = {
    def topK[A](rows: Seq[(A, Long)]): Seq[(A, Long)] = // (id, c) best-first
      rows.sortBy { case (id, c) => (-c, idLong(id)) }.take(k)
    def idLong[A](a: A): Long = a.asInstanceOf[Long]
    val fwd = xs.map { case (xid, xv) =>
      xid -> topK(ys.map { case (yid, yv) => (yid, c9(xv, yv)) })
    }.toMap
    val candY = fwd.values.flatten.map(_._1).toSet
    val bwd = ys.filter(y => candY.contains(y._1)).map { case (yid, yv) =>
      yid -> topK(xs.map { case (xid, xv) => (xid, c9(xv, yv)) })
    }.toMap
    xs.flatMap { case (xid, _) =>
      val f = fwd(xid)
      val sumX = f.map(_._2).sum; val kx = f.size.toLong
      val best = f.flatMap { case (yid, c) =>
        val b = bwd(yid)
        val sumY = b.map(_._2).sum; val ky = b.size.toLong
        val den = sumX * ky + sumY * kx
        if (c > 0 && den > 0) Some((yid, 2 * kx * ky * c * 1000L / den)) else None
      }.sortBy { case (yid, m) => (-m, yid) }.headOption
      best.map { case (yid, m) => (xid, yid, m) }
    }.toSet
  }

  private def df(xs: Seq[(Long, Array[Float])], ys: Seq[(Long, Array[Float])],
                 parts: Int) =
    (xs.map { case (id, v) => (id, v, 0) } ++ ys.map { case (id, v) => (id, v, 1) })
      .toDF("vec_id", "embedding", "label").repartition(parts)

  test("margin flips a raw-cosine winner: the hub target loses to the distinctive one") {
    // y1 is a hub (x1..x4 all point at it, inflating its backward average);
    // x0 prefers y1 by raw cosine but y2 by margin
    val xs = Seq(
      0L -> Array(0.96f, 0.90f, 0f, 0f),
      1L -> Array(0.99f, 0.10f, 0f, 0f),
      2L -> Array(0.99f, 0.11f, 0f, 0f),
      3L -> Array(0.99f, 0.12f, 0f, 0f),
      4L -> Array(0.99f, 0.13f, 0f, 0f))
    val ys = Seq(100L -> Array(1f, 0f, 0f, 0f), 101L -> Array(0f, 1f, 0f, 0f))
    // raw cosine prefers the hub y1 = 100
    assert(c9(xs.head._2, ys(0)._2) > c9(xs.head._2, ys(1)._2))
    val want = twin(xs, ys, 4)
    assert(want.find(_._1 == 0L).get._2 == 101L, "margin must pick the non-hub")
    val got = Similarity.marginPairs(df(xs, ys, 3),
      col("label") === 0, col("label") === 1, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("marginPairs == the sequential twin on a pseudo-random fixture at 2 partitionings") {
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8) { i =>
        val h = (seed * 37 + i) * -7046029254386353131L + 13L
        ((h % 997L) / 300.0f)
      }
    val xs = (0L until 25L).map(i => i -> vec(i))
    val ys = (100L until 140L).map(i => i -> vec(i * 7))
    val want = twin(xs, ys, 4)
    for (parts <- Seq(1, 5)) {
      val got = Similarity.marginPairs(df(xs, ys, parts),
        col("label") === 0, col("label") === 1, k = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"parts=$parts")
    }
  }

  test("smaller-than-k sides use ACTUAL neighbor counts (kx, ky), not k") {
    val xs = Seq(0L -> Array(1f, 0.2f, 0f, 0f), 1L -> Array(0.9f, 0.4f, 0f, 0f))
    val ys = Seq(100L -> Array(1f, 0f, 0f, 0f)) // |Y| = 1 < k = 4
    val want = twin(xs, ys, 4)
    assert(want.nonEmpty)
    val got = Similarity.marginPairs(df(xs, ys, 2),
      col("label") === 0, col("label") === 1, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("margin plan: no Window, k-heap aggregates, query sides broadcast") {
    val xs = (0L until 6L).map(i => i -> Array(1f, i.toFloat, 0f, 0f))
    val ys = (100L until 108L).map(i => i -> Array(i.toFloat, 1f, 0f, 0f))
    val dir = java.nio.file.Files.createTempDirectory("marginplan").toString
    df(xs, ys, 2).write.mode("overwrite").parquet(dir)
    val plan = Similarity.marginPairs(spark.read.parquet(dir),
      col("label") === 0, col("label") === 1, k = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "ranking must not use a window")
    assert(plan.contains("ObjectHashAggregate"), "k-heap aggregate expected")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      "query sides must broadcast")
  }
}
