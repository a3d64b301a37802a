package graft

import graft.link.Blocking
import graft.ops.Dedup
import org.apache.spark.sql.functions._

class BlockingSpec extends SparkSpec {

  private def bruteForce(recs: Seq[(String, Long)], w: Int) = {
    val sorted = recs.sorted.zipWithIndex
    (for {
      ((k1, i1), r1) <- sorted; ((k2, i2), r2) <- sorted
      if r2 > r1 && r2 - r1 < w
    } yield (i1, i2, k1, k2, (r2 - r1).toLong)).toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSet

  test("sortedNeighborhood: hand case — window pairs under (key, id) order") {
    import spark.implicits._
    // sorted order: (a,1) (b,2) (b,3) (c,4) — duplicate key 'b' tie-broken
    // by id; w=2 pairs exactly the adjacent records
    val recs = Seq(("b", 3L), ("a", 1L), ("c", 4L), ("b", 2L))
    val df = recs.toDF("k", "id")
    assert(rows(Blocking.sortedNeighborhood(df, "k", "id", w = 2)) ==
      Set((1L, 2L, "a", "b", 1L), (2L, 3L, "b", "b", 1L), (3L, 4L, "b", "c", 1L)))
    // w=3 adds the distance-2 pairs
    assert(rows(Blocking.sortedNeighborhood(df, "k", "id", w = 3)) ==
      bruteForce(recs, 3))
  }

  test("sortedNeighborhood: brute-force twin, partition-invariant, skew-flat") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // heavy key skew: half the records share one key — SNM emits exactly
    // (w-1)-per-rank pairs regardless (never the quadratic block join)
    val recs = (1L to 120L).map(i =>
      (if (i % 2 == 0) "hot" else s"k${rnd.nextInt(40)}", i))
    val df = recs.toDF("k", "id")
    val expect = bruteForce(recs, 4)
    assert(rows(Blocking.sortedNeighborhood(df, "k", "id", w = 4)) == expect)
    assert(rows(Blocking.sortedNeighborhood(df.repartition(7), "k", "id", w = 4))
      == expect)
    // Σ_{d=1..w-1} (n-d) pairs exactly — work is linear in n, flat in skew
    assert(expect.size == 3 * 120 - (1 + 2 + 3))
  }

  test("sortedNeighborhood: w=2 on one record and empty input are empty") {
    import spark.implicits._
    val one = Seq(("a", 1L)).toDF("k", "id")
    assert(Blocking.sortedNeighborhood(one, "k", "id", w = 2).count() == 0L)
    assert(Blocking.sortedNeighborhood(one.filter(col("id") < 0L), "k", "id",
      w = 3).count() == 0L)
    // null keys drop instead of NPE-ing the sort
    val withNull = Seq((Some("a"), 1L), (None, 2L), (Some("b"), 3L))
      .toDF("k", "id")
    assert(rows(Blocking.sortedNeighborhood(withNull, "k", "id", w = 2)) ===
      Set((1L, 3L, "a", "b", 1L)))
  }

  private def bigrams(s: String): Set[String] =
    if (s.length < 2) Set.empty else s.sliding(2).toSet

  test("fuzzyJoin: exact bigram Jaccard R×S, prefix filter loses nothing") {
    import spark.implicits._
    val qs = Seq("batc", "windw", "zz", "merge").toDF("q")
    val cs = Seq("batch", "window", "merge", "sort", "windows").toDF("alias")
    val got = Blocking.fuzzyJoin(qs, "q", cs, "alias", minJaccardPct = 50)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    // driver brute force
    val expect = (for {
      q <- Seq("batc", "windw", "zz", "merge"); c <- Seq("batch", "window", "merge", "sort", "windows")
      gq = bigrams(q); gc = bigrams(c)
      if gq.nonEmpty && gc.nonEmpty
      inter = (gq & gc).size; uni = (gq | gc).size
      if inter * 100 >= uni * 50
    } yield (q, c, inter.toLong, uni.toLong)).toSet
    assert(got === expect)
    assert(got.contains(("merge", "merge", 4L, 4L))) // identical string
    assert(got.exists(p => p._1 == "batc" && p._2 == "batch"))
    assert(!got.exists(_._1 == "zz")) // 1-bigram string matches nothing here
    assert(Dedup.lastDropReport("fuzzyJoin") == ((0L, 0L)))
  }

  test("fuzzyJoin: random twin at two partitionings; loud cap only loses") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val alpha = "abcd"
    def word() = (0 until 3 + rnd.nextInt(4))
      .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val qw = (1 to 40).map(_ => word()).distinct
    val cw = (1 to 60).map(_ => word()).distinct
    val expect = (for {
      q <- qw; c <- cw
      gq = bigrams(q); gc = bigrams(c)
      if gq.nonEmpty && gc.nonEmpty
      inter = (gq & gc).size; uni = (gq | gc).size
      if inter * 100 >= uni * 60
    } yield (q, c, inter.toLong, uni.toLong)).toSet
    def run(parts: Int, cap: Int = 10000) = Blocking.fuzzyJoin(
        qw.toDF("q").repartition(parts), "q",
        cw.toDF("c").repartition(parts), "c",
        minJaccardPct = 60, maxGramPostings = cap)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(run(3) === expect)
    assert(run(7) === expect)
    assert(expect.nonEmpty)
    // a tiny cap reports drops loudly and can only LOSE pairs
    val capped = run(5, cap = 2)
    assert(Dedup.lastDropReport("fuzzyJoin")._1 > 0L)
    assert(capped.subsetOf(expect))
  }

  test("one drop store: capped mergeCandidates and fuzzyJoin both report in Dedup.lastDropReport") {
    import spark.implicits._
    Dedup.lastDropReport.remove("merge_candidates")
    Dedup.lastDropReport.remove("fuzzyJoin")
    // witness "hub" is shared by 6 nodes, above the cap of 5
    val occ = ((1L to 6L).map(n => (n, "hub")) ++ Seq((1L, "p"), (2L, "p")))
      .toDF("node", "w")
    graft.kg.Graphs.mergeCandidates(occ, 1, 100, maxWitnessDegree = 5L).collect()
    // prefix gram "ab" is in 3 catalog strings, above the cap of 2
    Blocking.fuzzyJoin(Seq("ab").toDF("q"), "q",
        Seq("xab", "yab", "zab").toDF("c"), "c", maxGramPostings = 2).collect()
    assert(Dedup.lastDropReport.get("merge_candidates") === Some((1L, 6L)))
    assert(Dedup.lastDropReport.get("fuzzyJoin") === Some((1L, 3L)))
  }
}
