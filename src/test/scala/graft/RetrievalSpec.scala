package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Retrieval, TopK}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential BigInt twin of the integer-exact BM25: same rational
    * cross-multiplication, same floor division, independent machinery
    * (plain maps, no Spark). Returns (query_id, doc_id, rank, score). */
  private def twin(docs: Seq[(Long, String)], queries: Seq[(Long, String)],
                   k: Int): Set[(Long, Long, Int, BigInt)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = BigInt(docs.size)
    val s = BigInt(toks.values.map(_.size).sum)
    val tf = toks.toSeq.flatMap { case (d, ts) =>
      ts.groupBy(identity).map { case (w, g) => (d, w, BigInt(g.size), BigInt(ts.size)) }
    }
    val df = tf.groupBy(_._2).map { case (w, g) => w -> BigInt(g.size) }
    queries.flatMap { case (qid, qt) =>
      val terms = qt.split(" ", -1).distinct
      val scores = tf.filter(p => terms.contains(p._2)).groupBy(_._1).map {
        case (d, ps) =>
          d -> ps.map { case (_, w, f, dl) =>
            val num = BigInt(1000000) * (2 * n - 2 * df(w) + 1) * 44 * f * s
            val den = (2 * df(w) + 1) * (20 * f * s + 6 * s + 18 * dl * n)
            num / den
          }.sum
      }
      scores.toSeq.sortBy { case (d, sc) => (-sc, d) }.take(k).zipWithIndex
        .map { case ((d, sc), i) => (qid, d, i + 1, sc) }
    }.toSet
  }

  private val corpus = Seq(
    (0L, "quick brown fox jumps over the lazy dog"),
    (1L, "the lazy dog sleeps all day in the sun"),
    (2L, "quick silver fox hunts in the night"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "the the the the the repetitive document"),
    (5L, "sun rises over the quiet silver lake"),
    (6L, "dog and fox are not the same animal"),
    (7L, ""), // empty text: one empty token, dl = 1
    (8L, "lazy lazy lazy saturation check lazy lazy"),
    (9L, "a unique pangram never seen elsewhere whatsoever"))

  test("bm25TopK == the sequential BigInt twin at several partitionings") {
    val queries = Seq((100L, "quick fox"), (101L, "the lazy dog"),
      (102L, "unique whatsoever"), (103L, "absent terms only zzz"), (104L, ""))
    val want = twin(corpus, queries, 3)
    for (parts <- Seq(1, 3, 7)) {
      val docs = corpus.toDF("doc_id", "text").repartition(parts)
      val qdf = queries.toDF("query_id", "qtext")
      val got = Retrieval.bm25TopK(docs, qdf, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          BigInt(r.getDecimal(3).toBigInteger))).toSet
      assert(got === want, s"parts=$parts")
    }
  }

  test("self-retrieval: a query made of a document's own rare terms ranks it first") {
    val docs = corpus.toDF("doc_id", "text")
    val qdf = Seq((9L, "unique pangram never seen elsewhere")).toDF("query_id", "qtext")
    val top = Retrieval.bm25TopK(docs, qdf, 1).collect()
    assert(top.length == 1 && top(0).getLong(1) == 9L)
  }

  test("longer documents score lower than short ones at equal tf (length normalization)") {
    val docs = Seq(
      (1L, "needle stack"), // dl 2
      (2L, "needle under a very long stack of hay and words and words")) // dl 12
      .toDF("doc_id", "text")
    val qdf = Seq((0L, "needle")).toDF("query_id", "qtext")
    val got = Retrieval.bm25TopK(docs, qdf, 2).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(got(1L) == 1 && got(2L) == 2)
  }

  test("rankTopKLong == row_number window, exact past 2^53 where a double key ties wrongly") {
    // two scores that are DISTINCT as longs but collapse to the same
    // double: 2^53 and 2^53 + 1 — a double-keyed ranker would tie-break
    // by id and rank id 1 first; the exact Long key must rank id 2 first
    val base = 9007199254740992L // 2^53
    val rows = Seq((0L, 1L, base), (0L, 2L, base + 1)) ++
      (0L until 300L).map(i => (1L + i % 3, 100L + i, i % 5))
    for (parts <- Seq(1, 4)) {
      val df = rows.toDF("query_id", "neighbor_id", "score_l").repartition(parts)
      val got = TopK.rankTopKLong(df, "query_id", "neighbor_id", col("score_l"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score_l").desc, col("neighbor_id").asc)
      val want = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(got === want, s"parts=$parts")
      assert(got.contains((0L, 2L, base + 1, 1)) && got.contains((0L, 1L, base, 2)))
    }
  }

  test("rrfFuse == the sequential fold; consensus beats a single first place; absentees contribute nothing") {
    // query 0: doc 10 is rank 2 in BOTH lists (2·⌊1e6/62⌋ = 32258),
    // doc 11 is rank 1 in list A only (⌊1e6/61⌋ = 16393) — consensus wins
    val a = Seq((0L, 11L, 1), (0L, 10L, 2), (1L, 20L, 1), (1L, 21L, 2))
    val b = Seq((0L, 12L, 1), (0L, 10L, 2), (1L, 20L, 1))
    def twin(lists: Seq[Seq[(Long, Long, Int)]], k: Int): Set[(Long, Long, Int, Long)] =
      lists.flatten.groupBy(r => (r._1, r._2)).map { case ((q, d), rows) =>
        (q, d, rows.map(r => 1000000L / (60L + r._3)).sum)
      }.groupBy(_._1).flatMap { case (q, rows) =>
        rows.toSeq.sortBy { case (_, d, s) => (-s, d) }.take(k).zipWithIndex
          .map { case ((_, d, s), i) => (q, d, i + 1, s) }
      }.toSet
    val want = twin(Seq(a, b), 3)
    assert(want.contains((0L, 10L, 1, 32258L)), "consensus rank-2 doc must win")
    assert(want.contains((0L, 11L, 2, 16393L)))
    for (parts <- Seq(1, 3)) {
      val got = graft.ops.Retrieval.rrfFuse(Seq(
        a.toDF("query_id", "doc_id", "rank").repartition(parts),
        b.toDF("query_id", "doc_id", "rank").repartition(parts)), 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      assert(got === want, s"parts=$parts")
    }
  }

  test("rankEval hand case: hit ranks floor-reciprocally, miss rows survive with zeros") {
    val ranking = Seq((0L, 7L, 1), (0L, 3L, 2), (1L, 9L, 1), (1L, 4L, 3),
      (2L, 5L, 1), (2L, 5L, 11)) // rank 11 beyond k must not count
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq((0L, 3L), (0L, 8L), (1L, 4L), (2L, 5L), (3L, 1L), (2L, 5L))
      .toDF("query_id", "doc_id") // duplicate qrel must count once
    val got = graft.ops.Retrieval.rankEval(ranking, qrels, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (0L, 2L, 2L, 1L, 500000L),   // rel 3 at rank 2 -> floor(1e6/2)
      (1L, 1L, 3L, 1L, 333333L),   // floor(1e6/3)
      (2L, 1L, 1L, 1L, 1000000L),  // the rank-11 duplicate is out of k
      (3L, 1L, 0L, 0L, 0L)))       // miss: zeros, row present
  }

  test("bm25 plan: no Window, bounded k-heap aggregate, query side broadcast") {
    val docs = corpus.toDF("doc_id", "text")
    val qdf = Seq((0L, "quick fox")).toDF("query_id", "qtext")
    val plan = Retrieval.bm25TopK(docs, qdf, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "ranking must not use a window")
    assert(plan.contains("ObjectHashAggregate"), "k-heap aggregate expected")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop") ||
      plan.contains("BroadcastExchange"), "query-term side must broadcast")
  }
}
