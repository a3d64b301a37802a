package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kg.Triples

class KgFactsSpec extends SparkSpec {

  private def rawTriples(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong % 7, s"p${i % 3}", (i.toLong % 5) + 100L, s"lang${i % 2}",
        s"http://host${i % 11}/page${i % 29}", i % 4)
    }.toDF("subj", "pred", "obj", "lang", "url", "sentIdx")
  }

  private def collectFacts(df: DataFrame): Map[(Long, String, Long, String), (Long, Long)] = {
    import spark.implicits._
    df.select(col("subj"), col("pred"), col("obj"), col("lang"),
        col("n_mentions"), col("est_urls"))
      .as[(Long, String, Long, String, Long, Long)].collect()
      .map { case (s, p, o, l, n, u) => (s, p, o, l) -> ((n, u)) }.toMap
  }

  test("upsert of two snapshots equals aggregating the union (exact regime)") {
    val tr = rawTriples(500)
    val a = tr.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val b = tr.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val merged = collectFacts(Triples.upsertFacts(Triples.facts(a), Triples.facts(b)))
    val direct = collectFacts(Triples.facts(tr))
    assert(merged == direct)
  }

  test("est_urls is the exact distinct-url count below saturation") {
    import spark.implicits._
    val got = collectFacts(Triples.facts(rawTriples(500)))
    val expected = rawTriples(500)
      .groupBy("subj", "pred", "obj", "lang")
      .agg(count(lit(1)).as("n"), countDistinct(col("url")).as("u"))
      .as[(Long, String, Long, String, Long, Long)].collect()
      .map { case (s, p, o, l, n, u) => (s, p, o, l) -> ((n, u)) }.toMap
    assert(got == expected)
  }

  test("snapshot merge stays consistent PAST saturation (tiny k): sketches equal the direct sketch") {
    import spark.implicits._
    val tr = rawTriples(600)
    val a = tr.filter(col("sentIdx") < 2)
    val b = tr.filter(col("sentIdx") >= 2)
    val k = 4
    def sketches(df: DataFrame) =
      df.select(col("subj"), col("pred"), col("obj"), col("lang"),
          col("n_mentions"), col("est_urls"), col("url_sketch"))
        .as[(Long, String, Long, String, Long, Long, Array[Long])].collect()
        .map(r => (r._1, r._2, r._3, r._4) -> ((r._5, r._6, r._7.toSeq))).toMap
    val merged = sketches(Triples.upsertFacts(Triples.facts(a, k), Triples.facts(b, k), k))
    val direct = sketches(Triples.facts(tr, k))
    assert(merged == direct)
  }

  test("upsert is order-insensitive") {
    val tr = rawTriples(300)
    val a = tr.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val b = tr.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val ab = collectFacts(Triples.upsertFacts(Triples.facts(a), Triples.facts(b)))
    val ba = collectFacts(Triples.upsertFacts(Triples.facts(b), Triples.facts(a)))
    assert(ab == ba)
  }

  private def fused(df: DataFrame) = Triples.fuseConflicts(df).collect()
    .map(r => (r.getLong(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

  test("fuseConflicts: majority by mentions, then urls, then min obj — incl. negative ids") {
    import spark.implicits._
    val tr = Seq(
      // (1,p): obj 10 has 3 mentions/2 urls; obj 11 has 3 mentions/3 urls
      // (url majority breaks the mention tie); obj 12 trails
      (1L, "p", 10L, "u1"), (1L, "p", 10L, "u1"), (1L, "p", 10L, "u2"),
      (1L, "p", 11L, "u1"), (1L, "p", 11L, "u2"), (1L, "p", 11L, "u3"),
      (1L, "p", 12L, "u9"),
      // (2,p): full tie between -5 and 3 -> smallest obj wins (negative)
      (2L, "p", -5L, "u1"), (2L, "p", 3L, "u2"),
      // (3,q): no conflict
      (3L, "q", 7L, "u1"), (3L, "q", 7L, "u1"))
      .toDF("subj", "pred", "obj", "url")
      .withColumn("lang", lit("en")).withColumn("sentIdx", lit(0))
    assert(fused(tr) === Map(
      (1L, "p") -> ((11L, 3L, 3L, 3L, 7L)),
      (2L, "p") -> ((-5L, 1L, 1L, 2L, 2L)),
      (3L, "q") -> ((7L, 2L, 1L, 1L, 2L))))
  }

  private def minedSet(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def seqRules(rows: Seq[(Long, String, Long)], minSupport: Long)
      : Set[(String, String, String, Long, Long, Long)] = {
    val r = rows.distinct
    val body = (for {
      (x, p1, z) <- r; (z2, p2, y) <- r; if z2 == z && x != y
    } yield (p1, p2, x, y)).distinct
    val bodyCnt = body.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong)
    val headSets = r.groupBy(_._2).view.mapValues(_.map(t => (t._1, t._3)).toSet)
    (for {
      ((p1, p2), pairs) <- body.groupBy(t => (t._1, t._2))
      (p3, hs) <- headSets
      support = pairs.count(t => hs((t._3, t._4))).toLong
      if support >= minSupport
    } yield (p1, p2, p3, bodyCnt((p1, p2)), hs.size.toLong, support)).toSet
  }

  test("mineRules: hand-checked composition rule plus brute-force twin") {
    import spark.implicits._
    // born_in(x,z) ∧ capital_of... : p(1,10) p(2,10) q(10,20) h(1,20) —
    // rule (p,q ⇒ h) has body {(1,20),(2,20)}, head {(1,20)}, support 1
    val tiny = Seq((1L, "p", 10L), (2L, "p", 10L), (10L, "q", 20L),
      (1L, "h", 20L), (1L, "p", 10L)) // dup row must collapse
    val gotTiny = minedSet(Triples.mineRules(
      tiny.toDF("subj", "pred", "obj"), minSupport = 1L))
    assert(gotTiny contains (("p", "q", "h", 2L, 1L, 1L)))
    assert(gotTiny === seqRules(tiny, 1L))
    // pseudo-random table, both support thresholds
    val tr = rawTriples(500)
    val rows = tr.select(col("subj"), col("pred"), col("obj"))
      .as[(Long, String, Long)].collect().toSeq
    for (ms <- Seq(1L, 3L))
      assert(minedSet(Triples.mineRules(tr, ms)) === seqRules(rows, ms), s"ms=$ms")
  }

  test("mineRules: hub mid-entity cap drops LOUDLY; head side stays exact") {
    import spark.implicits._
    // node 100 is a hub mid (5 in, 5 out = 25 body slots); cap at 24
    val hub = (0 until 5).flatMap(i =>
      Seq((200L + i, "a", 100L), (100L, "b", 300L + i)))
    // the head witness that makes the hub composition a scoring rule
    val quiet = Seq((1L, "p", 2L), (2L, "q", 3L), (1L, "r", 3L),
      (200L, "h", 300L))
    val df = (hub ++ quiet).toDF("subj", "pred", "obj")
    graft.ops.Dedup.lastDropReport.remove("rule_mining")
    val got = minedSet(Triples.mineRules(df, 1L, maxMidFanout = 24L))
    // the hub's (a,b,*) rules vanish; the quiet composition survives
    assert(!got.exists(t => t._1 == "a" && t._2 == "b"))
    assert(got contains (("p", "q", "r", 1L, 1L, 1L)))
    assert(graft.ops.Dedup.lastDropReport("rule_mining") === ((1L, 25L)))
    // uncapped: hub rules present, no report
    graft.ops.Dedup.lastDropReport.remove("rule_mining")
    val exact = minedSet(Triples.mineRules(df, 1L))
    assert(exact.exists(t => t._1 == "a" && t._2 == "b" && t._4 == 25L))
    assert(!graft.ops.Dedup.lastDropReport.contains("rule_mining"))
  }

  test("diffSnapshots: added/removed/changed, unchanged facts never emitted") {
    import spark.implicits._
    def t(rows: (Long, String, Long, String)*) =
      rows.toDF("subj", "pred", "obj", "url").repartition(3)
    val a = t(
      (1L, "p", 10L, "u1"), (1L, "p", 10L, "u2"), // changed: 2 mentions -> 1
      (2L, "p", 20L, "u1"),                       // removed
      (3L, "p", 30L, "u1"), (3L, "p", 30L, "u1")) // unchanged (2 mentions, 1 url)
    val b = t(
      (1L, "p", 10L, "u1"),
      (4L, "p", 40L, "u9"),                       // added
      (3L, "p", 30L, "u1"), (3L, "p", 30L, "u1"))
    val got = Triples.diffSnapshots(a, b).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getString(7))).toSet
    assert(got === Set(
      (1L, 2L, 2L, 1L, 1L, "changed"),
      (2L, 1L, 1L, 0L, 0L, "removed"),
      (4L, 0L, 0L, 1L, 1L, "added")))
  }

  test("diffSnapshots: a snapshot diffed against itself is empty; url-only change reported") {
    import spark.implicits._
    val tr = rawTriples(300)
    assert(Triples.diffSnapshots(tr, tr).count() === 0L)
    // same mention count, different distinct-url profile
    def t(rows: (Long, String, Long, String)*) =
      rows.toDF("subj", "pred", "obj", "url")
    val a = t((1L, "p", 10L, "u1"), (1L, "p", 10L, "u1"))
    val b = t((1L, "p", 10L, "u1"), (1L, "p", 10L, "u2"))
    val got = Triples.diffSnapshots(a, b).collect()
      .map(r => (r.getLong(4), r.getLong(6), r.getString(7))).toSeq
    assert(got === Seq((1L, 2L, "changed")))
  }

  test("fuseConflicts: matches a brute-force vote on the pseudo-random table") {
    import spark.implicits._
    val tr = rawTriples(500)
    val rows = tr.select(col("subj"), col("pred"), col("obj"), col("url"))
      .as[(Long, String, Long, String)].collect()
    val want = rows.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
      val support = xs.groupBy(_._3).map { case (o, ms) =>
        (ms.length.toLong, ms.map(_._4).distinct.length.toLong, o)
      }.toSeq
      val w = support.maxBy { case (nm, nu, o) => (nm, nu, -o) }
      k -> ((w._3, w._1, w._2, support.length.toLong, xs.length.toLong))
    }
    assert(fused(tr) === want)
  }

  test("predicateCooccurrence: alphabet-bounded pairs over distinct (subj,pred)") {
    import spark.implicits._
    // subj 1: {a,b,c} (b mentioned twice); subj 2: {a,b}; subj 3: {c}
    val tr = Seq(
      (1L, "a", 10L), (1L, "b", 11L), (1L, "b", 12L), (1L, "c", 13L),
      (2L, "a", 10L), (2L, "b", 11L), (3L, "c", 10L)
    ).toDF("subj", "pred", "obj").repartition(3)
    val got = Triples.predicateCooccurrence(tr).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
  }

  test("entitySignatures: sorted role slots, duplicates collapse") {
    import spark.implicits._
    // entity 2 fills o:a (twice), s:b; entity 1 fills s:a only
    val tr = Seq(
      (1L, "a", 2L), (1L, "a", 2L), (2L, "b", 3L), (4L, "a", 2L))
      .toDF("subj", "pred", "obj").repartition(3)
    val got = Triples.entitySignatures(tr).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got === Map(
      1L -> ("s:a", 1L),
      2L -> ("o:a,s:b", 2L),
      3L -> ("o:b", 1L),
      4L -> ("s:a", 1L)))
  }

  test("entitySalience: tf from both roles, df ties break to the rarer entity") {
    import spark.implicits._
    // u1: entity 1 fills 3 slots (2 subj + 1 obj), entities 2 and 3 fill
    // 2 each — but 3 is on fewer pages (df 1 vs 2), so it outranks 2
    val tr = Seq(
      (1L, "a", 2L, "u1"), (1L, "a", 3L, "u1"), (2L, "b", 1L, "u1"),
      (3L, "c", 9L, "u1"),
      (2L, "a", 9L, "u2"), (9L, "b", 9L, "u2")
    ).toDF("subj", "pred", "obj", "url").repartition(3)
    val got = Triples.entitySalience(tr, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === Map(
      ("u1", 1L) -> ((3L, 1L, 2L, 1L)), // tf 3, df 1 (only u1), rank 1
      ("u1", 3L) -> ((2L, 1L, 2L, 2L)), // tf 2 tie vs entity 2, rarer wins
      ("u1", 2L) -> ((2L, 2L, 2L, 3L)),
      ("u2", 9L) -> ((3L, 2L, 2L, 1L)), // 9 is also an object on u1
      ("u2", 2L) -> ((1L, 2L, 2L, 2L))))
    // k truncates: only the top entity per page survives k = 1
    val top1 = Triples.entitySalience(tr, k = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top1 === Map("u1" -> 1L, "u2" -> 9L))
  }

  test("predCardinality: functional/inverse-functional induction") {
    import spark.implicits._
    val tr = Seq(
      // "born_in": every subj once (functional), city 20 shared (not IF)
      (1L, "born_in", 20L), (2L, "born_in", 20L), (3L, "born_in", 21L),
      // duplicate assertion collapses before profiling
      (1L, "born_in", 20L),
      // "ssn_of": both directions unique
      (1L, "ssn_of", 30L), (2L, "ssn_of", 31L),
      // "knows": fan-out both ways
      (1L, "knows", 2L), (1L, "knows", 3L), (2L, "knows", 3L)
    ).toDF("subj", "pred", "obj").repartition(3)
    val got = graft.kg.Triples.predCardinality(tr).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(got === Map(
      "born_in" -> ((3L, 3L, 2L, 1L, 2L, true, false)),
      "ssn_of" -> ((2L, 2L, 2L, 1L, 1L, true, true)),
      "knows" -> ((3L, 2L, 2L, 2L, 2L, false, false))))
  }

  test("entityCard: predicate rarity ranks facts, top-k per subject") {
    import spark.implicits._
    val tr = Seq(
      (1L, "common", 10L), (1L, "common", 11L), (1L, "common", 12L),
      (1L, "rare", 20L),
      (2L, "common", 10L), (2L, "mid", 30L),
      (3L, "mid", 30L),
      (1L, "rare", 20L) // duplicate collapses
    ).toDF("subj", "pred", "obj").repartition(3)
    val got = graft.kg.Triples.entityCard(tr, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // dfs: rare=1, mid=2, common=4 -> rarest first, obj tie-break
    assert(got === Map(
      (1L, 1L) -> (("rare", 20L, 1L)), (1L, 2L) -> (("common", 10L, 4L)),
      (2L, 1L) -> (("mid", 30L, 2L)), (2L, 2L) -> (("common", 10L, 4L)),
      (3L, 1L) -> (("mid", 30L, 2L))))
  }
}
