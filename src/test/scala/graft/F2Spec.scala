package graft

import graft.ops.Sketches

class F2Spec extends SparkSpec {
  import spark.implicits._

  /** Sequential twin of f2Profile over (group, key) rows — the
    * SequentialTwin.q198F2Profile math on an arbitrary keyed frame. */
  private def twin(rows: Seq[(String, String)], depth: Int = 5,
                   width: Int = 256): Set[(String, Long, BigInt, BigInt, Long)] =
    rows.groupBy(_._1).map { case (g, rs) =>
      val toks = rs.map(_._2)
      val exact = toks.groupBy(identity).values
        .map(v => BigInt(v.size) * BigInt(v.size)).sum
      val cells = new Array[Long](depth * width)
      toks.foreach { t =>
        var d = 0
        while (d < depth) {
          val idx = java.lang.Math.floorMod(
            graft.functions.Xxh64.sparkChain(Seq[Any](t, d)), width.toLong).toInt
          val sign =
            if ((graft.functions.Xxh64.sparkChain(Seq[Any](t, d + depth)) & 1L) == 0L) 1L
            else -1L
          cells(d * width + idx) += sign
          d += 1
        }
      }
      val ests = (0 until depth).map { d =>
        (0 until width).map(c => BigInt(cells(d * width + c)).pow(2)).sum
      }.sorted
      val est = ests(depth / 2)
      (g, toks.size.toLong, exact, est, ((est - exact).abs * 1000 / exact).toLong)
    }.toSet

  private val rows: Seq[(String, String)] = {
    // skewed: "en" has a heavy token (f = 40) plus a long tail; "de" small
    val en = Seq.fill(40)("the") ++ (0 until 60).map(i => s"w${i % 23}")
    val de = Seq.fill(5)("der") ++ Seq("die", "das", "und")
    en.map("en" -> _) ++ de.map("de" -> _)
  }

  test("f2Profile == the sequential twin at several partitionings") {
    val want = twin(rows)
    for (parts <- Seq(1, 4)) {
      val df = rows.toDF("lang", "token").repartition(parts)
      val got = Sketches.f2Profile(df, "lang", "token").collect()
        .map(r => (r.getString(0), r.getLong(1),
          BigInt(r.getDecimal(2).toBigInteger), BigInt(r.getDecimal(3).toBigInteger),
          r.getLong(4))).toSet
      assert(got === want, s"parts=$parts")
    }
  }

  test("single-key stream: the estimate is EXACT (one cell per row, sign squares away)") {
    val one = Seq.fill(37)("g" -> "only")
    val got = Sketches.f2Profile(one.toDF("g", "k"), "g", "k").collect()
    assert(got.length == 1)
    val r = got(0)
    assert(BigInt(r.getDecimal(2).toBigInteger) == BigInt(37) * 37)
    assert(r.getDecimal(3) == r.getDecimal(2), "single key must estimate exactly")
    assert(r.getLong(4) == 0L)
  }

  test("estimate quality on the skewed fixture: err_permille reported and bounded") {
    val got = Sketches.f2Profile(rows.toDF("lang", "token"), "lang", "token")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // CountSketch row variance is 2·F2²/width; at width 256 and depth-5
    // median the deterministic fixture lands well inside 25%
    got.foreach { case (g, err) =>
      assert(err <= 250L, s"group $g err_permille $err exceeds the documented bound")
    }
  }
}
