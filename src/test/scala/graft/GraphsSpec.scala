package graft

import org.apache.spark.sql.functions._
import graft.kg.Graphs
import graft.ops.Dedup

class GraphsSpec extends SparkSpec {

  // ---- sequential twins (brute force, no orientation / blocking) ----

  private def simple(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet

  private def seqTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = simple(edges)
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.distinct
    val adj = nodes.map(n =>
      n -> e.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }.toSet).toMap
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => counts(n) = 0L)
    for {
      Seq(x, y, z) <- nodes.sorted.combinations(3)
      if adj(x)(y) && adj(x)(z) && adj(y)(z)
    } { counts(x) += 1; counts(y) += 1; counts(z) += 1 }
    counts.toMap
  }

  private def seqJaccard(occ: Seq[(Long, String)], tauNum: Long, tauDen: Long)
      : Set[(Long, Long, Long, Long)] = {
    val sets = occ.distinct.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    (for {
      a <- sets.keys; b <- sets.keys; if a < b
      common = (sets(a) intersect sets(b)).size.toLong
      union = (sets(a) union sets(b)).size.toLong
      if common * tauDen >= tauNum * union && common > 0
    } yield (a, b, common, union)).toSet
  }

  private def seqBfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxDepth: Int)
      : Map[Long, Int] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val adj = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val dist = scala.collection.mutable.HashMap.empty[Long, Int]
    var frontier = seeds.distinct
    frontier.foreach(dist(_) = 0)
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    dist.toMap
  }

  // deterministic pseudo-random digraph: 50 nodes, ~300 edges, skewed
  // (node 0 is a hub), with self-loops and duplicates the ops must drop
  private val graph: Seq[(Long, Long)] = (0 until 300).map { i =>
    val s = if (i % 5 == 0) 0L else ((i * 31L + 7L) % 50L)
    val t = (i * i * 17L + 3L) % 50L
    (s, t)
  } ++ Seq((1L, 1L), (2L, 3L), (2L, 3L))

  private def edgesDf(edges: Seq[(Long, Long)], parts: Int = 5) = {
    import spark.implicits._
    edges.toDF("src", "dst").repartition(parts)
  }

  test("triangles: K4 plus pendant — exact counts, zeros included") {
    // K4 on 1..4 (each corner in C(3,2)=3 triangles) + pendant node 9
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 9L))
    val got = Graphs.triangles(edgesDf(k4)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 9L -> 0L))
  }

  test("triangles: skewed graph matches brute-force twin at any partitioning") {
    val want = seqTriangles(graph)
    for (parts <- Seq(1, 7)) {
      val got = Graphs.triangles(edgesDf(graph, parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"parts=$parts")
    }
  }

  test("mergeCandidates: exact integer Jaccard vs twin; direction-blind") {
    import spark.implicits._
    val occ = Seq(
      (1L, "u1"), (1L, "u2"), (1L, "u3"),
      (2L, "u1"), (2L, "u2"), (2L, "u3"), (2L, "u4"), // J(1,2)=3/4
      (3L, "u3"), (3L, "u9"),                         // J(1,3)=1/4
      (4L, "zz"),                                     // no shared witness
      (1L, "u1")                                      // duplicate row (set semantics)
    ).toDF("node", "w").repartition(3)
    val got = Graphs.mergeCandidates(occ, 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 2L, 3L, 4L)))
    val want = seqJaccard(Seq(
      (1L, "u1"), (1L, "u2"), (1L, "u3"), (2L, "u1"), (2L, "u2"), (2L, "u3"),
      (2L, "u4"), (3L, "u3"), (3L, "u9"), (4L, "zz")), 1, 4)
    val got14 = Graphs.mergeCandidates(occ, 1, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got14 === want)
  }

  test("mergeCandidates: hub witness cap drops LOUDLY and bounds common") {
    import spark.implicits._
    // witness "hub" is shared by all 6 nodes; "p" only by 1 and 2
    val occ = ((1L to 6L).map(n => (n, "hub")) ++ Seq((1L, "p"), (2L, "p")))
      .toDF("node", "w")
    Dedup.lastDropReport.remove("merge_candidates")
    val got = Graphs.mergeCandidates(occ, 1, 100, maxWitnessDegree = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hub excluded: only (1,2) via "p" survives, with common=1 (lower bound)
    assert(got === Set((1L, 2L, 1L)))
    assert(Dedup.lastDropReport("merge_candidates") === ((1L, 6L)))
    // uncapped is exact and does not touch the report
    Dedup.lastDropReport.remove("merge_candidates")
    val exact = Graphs.mergeCandidates(occ, 1, 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(exact.size === 15 && exact.contains((1L, 2L, 2L, 2L)))
    assert(!Dedup.lastDropReport.contains("merge_candidates"))
  }

  test("bfs: twin equality, driver AND distributed paths, depth truncation") {
    import spark.implicits._
    val seeds = Seq(0L, 13L)
    for (depth <- Seq(0, 2, 6)) {
      val want = seqBfs(graph, seeds, depth)
      // threshold 0 forces the distributed frontier loop; default = driver
      for (threshold <- Seq(0L, Graphs.SmallGraphThreshold)) {
        val got = Graphs.bfs(edgesDf(graph), seeds.toDF("id"), depth, threshold)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got === want, s"depth=$depth threshold=$threshold")
      }
    }
  }

  test("bfs: unreachable nodes emit no row; seed at distance 0") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (7L, 8L)) // 7,8 unreachable from 1
    val got = Graphs.bfs(edgesDf(chain, 2), Seq(1L).toDF("id"), 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  // ---- transitive closure ----

  private def seqClosure(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val adj = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    adj.keys.toSeq.flatMap { a =>
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var frontier = adj(a).distinct
      while (frontier.nonEmpty) {
        frontier.foreach(seen += _)
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .distinct.filterNot(seen.contains)
      }
      (seen - a).map(b => (a, b))
    }.toSet
  }

  private def closureSet(edges: Seq[(Long, Long)], threshold: Long) =
    Graphs.transitiveClosure(edgesDf(edges), threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("transitiveClosure: twin equality on the skewed digraph, driver AND distributed") {
    val want = seqClosure(graph)
    assert(closureSet(graph, Graphs.SmallGraphThreshold) === want, "driver path")
    assert(closureSet(graph, 0L) === want, "semi-naive distributed path")
  }

  test("transitiveClosure: cycles never emit (a, a) but still propagate through") {
    // 1 -> 2 -> 3 -> 1 cycle with a tail 3 -> 4: everything on the cycle
    // reaches everything else AND the tail; no reflexive pairs
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val want = Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 1L), (2L, 4L),
      (3L, 1L), (3L, 2L), (3L, 4L))
    for (threshold <- Seq(0L, Graphs.SmallGraphThreshold))
      assert(closureSet(cyc, threshold) === want, s"threshold=$threshold")
    // empty relation: empty closure on both paths
    for (threshold <- Seq(0L, Graphs.SmallGraphThreshold))
      assert(closureSet(Seq((5L, 5L)), threshold) === Set.empty, "self-loops only")
  }

  // ---- positive-PMI co-occurrence ----

  private def seqPmi(mentions: Seq[(String, Long)], minSupport: Long)
      : Set[(Long, Long, Long, Long, Long, Long)] = {
    val m = mentions.distinct
    val n = m.map(_._1).distinct.size.toLong
    val ctxOf = m.groupBy(_._2).map { case (k, xs) => k -> xs.map(_._1).toSet }
    (for {
      a <- ctxOf.keys; b <- ctxOf.keys; if a < b
      nab = (ctxOf(a) intersect ctxOf(b)).size.toLong
      if nab >= minSupport && BigInt(nab) * n > BigInt(ctxOf(a).size) * ctxOf(b).size
    } yield (a, b, nab, ctxOf(a).size.toLong, ctxOf(b).size.toLong, n)).toSet
  }

  // deterministic mention fixture: 20 contexts, skewed membership, with
  // duplicate rows the op must collapse
  private val mentions: Seq[(String, Long)] = (0 until 150).map { i =>
    (s"c${(i * 7 + 3) % 20}", (i * i * 5L + i) % 12L)
  } ++ Seq(("c0", 1L), ("c0", 1L))

  test("pmiEdges: twin equality (positive-PMI pairs, exact counts) at any partitioning") {
    import spark.implicits._
    for (minSupport <- Seq(1L, 2L); parts <- Seq(1, 7)) {
      val df = mentions.toDF("ctx", "node").repartition(parts)
      val got = Graphs.pmiEdges(df, minSupport).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(got === seqPmi(mentions, minSupport), s"minSupport=$minSupport parts=$parts")
    }
  }

  test("pmiEdges: hub-context cap drops LOUDLY; N and marginals exclude the hub") {
    import spark.implicits._
    // ctx "hub" mentions 9 nodes; the cap excludes it entirely, so the
    // result equals the twin computed on the non-hub mentions only
    val hub = (0 until 9).map(i => ("hub", 100L + i))
    val df = (mentions ++ hub).toDF("ctx", "node")
    Dedup.lastDropReport.remove("pmi_edges")
    val got = Graphs.pmiEdges(df, minSupport = 2L, maxContextDegree = 8L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === seqPmi(mentions, 2L))
    assert(Dedup.lastDropReport("pmi_edges") === ((1L, 9L)))
    // uncapped leaves no report
    Dedup.lastDropReport.remove("pmi_edges")
    Graphs.pmiEdges(df, minSupport = 2L).collect()
    assert(!Dedup.lastDropReport.contains("pmi_edges"))
  }

  // ---- coreness ----

  /** Naive definition-chasing coreness: repeatedly delete the minimum-
    * degree node, coreness = running max of the degree at deletion. */
  private def seqCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = simple(edges)
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.HashSet[Long]]
    e.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a
    }
    val core = scala.collection.mutable.HashMap.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val v = adj.minBy { case (id, nb) => (nb.size, id) }._1
      k = math.max(k, adj(v).size.toLong)
      core(v) = k
      adj(v).foreach(u => adj(u) -= v)
      adj.remove(v)
    }
    core.toMap
  }

  test("coreness: K4 + triangle + pendant chain — exact levels") {
    // K4 on 1..4 (coreness 3), triangle 10-11-12 (coreness 2), chain
    // 4-20-21 (pendants, coreness 1), bridge 1-10 (doesn't raise cores)
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (4L, 20L), (20L, 21L), (1L, 10L))
    val want = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 2L, 11L -> 2L, 12L -> 2L, 20L -> 1L, 21L -> 1L)
    assert(seqCoreness(g) === want) // the twin agrees with the hand answer
    val got = Graphs.coreness(edgesDf(g)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("coreness: skewed graph — driver AND distributed paths match the naive twin") {
    val want = seqCoreness(graph)
    for ((threshold, parts) <- Seq((100000L, 5), (0L, 1), (0L, 7))) {
      val got = Graphs.coreness(edgesDf(graph, parts), smallGraphThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"threshold=$threshold parts=$parts")
    }
  }

  // ---- weighted shortest paths ----

  private def seqSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
                      maxHops: Int): Map[Long, Long] = {
    val e = edges.filter(x => x._1 != x._2)
      .groupBy(x => (x._1, x._2)).map { case (k2, xs) => (k2._1, k2._2, xs.map(_._3).min) }
    var dist = seeds.distinct.map(_ -> 0L).toMap
    for (_ <- 1 to maxHops) {
      val relaxed = e.flatMap { case (u, v, w) => dist.get(u).map(d => v -> (d + w)) }
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }
      dist = (dist.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(dist.getOrElse(v, Long.MaxValue),
          relaxed.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    dist
  }

  private val wgraph: Seq[(Long, Long, Long)] =
    graph.map { case (s, t) => (s, t, (s * 7L + t * 3L) % 4L + 1L) }

  private def wEdgesDf(edges: Seq[(Long, Long, Long)], parts: Int = 5) = {
    import spark.implicits._
    edges.toDF("src", "dst", "w").repartition(parts)
  }

  private def seedsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("id")
  }

  test("sssp: cheap long path beats expensive direct edge; hop budget flips it") {
    // 0 ->1-> 1 ->1-> 2 ->1-> 3 (total 3) vs direct 0 ->10-> 3
    val g = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 3L, 10L), (7L, 8L, 1L))
    def run(h: Int) = Graphs.sssp(wEdgesDf(g), seedsDf(Seq(0L)), maxHops = h)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(6) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L)) // 7/8 unreachable
    assert(run(1) === Map(0L -> 0L, 1L -> 1L, 3L -> 10L)) // budget 1: direct only
    assert(run(2) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 10L))
  }

  test("sssp: skewed weighted graph — driver AND distributed paths match twin; parallel edges take min") {
    val withDup = wgraph ++ Seq((2L, 3L, 9L), (2L, 3L, 1L)) // parallel edges
    val seeds = Seq(0L, 13L)
    val want = seqSssp(withDup, seeds, maxHops = 6)
    for ((threshold, parts) <- Seq((100000L, 5), (0L, 1), (0L, 7))) {
      val got = Graphs.sssp(wEdgesDf(withDup, parts), seedsDf(seeds),
        maxHops = 6, smallGraphThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"threshold=$threshold parts=$parts")
    }
  }

  test("sssp: negative weights rejected loudly") {
    val g = Seq((0L, 1L, 1L), (1L, 2L, -1L))
    val ex = intercept[IllegalArgumentException] {
      Graphs.sssp(wEdgesDf(g), seedsDf(Seq(0L)), maxHops = 3)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  // ---- random walks ----

  private def asTriples(edges: Seq[(Long, Long)]) =
    edges.map { case (s, o) => graft.core.Triple(s, "p", o, "en", "u", 0) }

  test("randomWalks: forced line graph — exact positions, sinks end walks early") {
    // 0 -> 1 -> 2 -> 3: single out-neighbor everywhere, 3 is a sink, so
    // the walks are forced regardless of the hash
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val got = Graphs.randomWalks(edgesDf(g), walksPerNode = 1, maxLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Set(
      (0L, 0L, 0L, 0L), (0L, 0L, 1L, 1L), (0L, 0L, 2L, 2L), (0L, 0L, 3L, 3L),
      (1L, 0L, 0L, 1L), (1L, 0L, 1L, 2L), (1L, 0L, 2L, 3L),
      (2L, 0L, 0L, 2L), (2L, 0L, 1L, 3L))
    assert(got === want) // no walk starts at the sink 3
  }

  test("randomWalks: twin replay equality + every step follows an edge, any partitioning") {
    val want = graft.golden.SequentialTwin.q99RandomWalks(
      asTriples(graph), walksPerNode = 2, maxLen = 4).toSet
    val dirEdges = graph.filter(e => e._1 != e._2).toSet
    for (parts <- Seq(1, 7); thr <- Seq(0L, Graphs.SmallGraphThreshold)) {
      val rows = Graphs.randomWalks(edgesDf(graph, parts), walksPerNode = 2,
          maxLen = 4, smallGraphThreshold = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSet === want, s"parts=$parts thr=$thr")
      assert(rows.length === rows.toSet.size) // (start, walk, step) unique
      // walk validity: each consecutive hop is a real directed edge
      rows.groupBy(x => (x._1, x._2)).foreach { case (_, steps) =>
        steps.sortBy(_._3).sliding(2).foreach {
          case Array(a, b) => assert(dirEdges((a._4, b._4)), s"hop $a -> $b")
          case _           =>
        }
      }
    }
  }

  // ---- skip-gram pairs ----

  test("skipGramPairs: brute-force window pairs over the walk corpus") {
    val walks = Graphs.randomWalks(edgesDf(graph, 7), walksPerNode = 2, maxLen = 4)
      .persist()
    val got = Graphs.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = walks.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    walks.unpersist()
    val want = rows.toSeq.groupBy(x => (x._1, x._2)).toSeq
      .flatMap { case (_, steps) =>
        for (a <- steps; b <- steps
             if a._3 != b._3 && math.abs(a._3 - b._3) <= 2)
          yield (a._4, b._4)
      }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    assert(got === want)
    // pair symmetry: window pairs are emitted in both directions
    assert(got.keySet.forall { case (c, x) => got.contains((x, c)) })
  }

  // ---- modularity ----

  test("modularity: two triangles + a bridge — hand-checked integers") {
    // communities {1,2,3} and {10,11,12}; bridge 3-10; m = 7
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L))
    val labels = Graphs.labelPropagation(edgesDf(g), iters = 5)
    val got = Graphs.modularity(edgesDf(g), labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // labels flood to 1 and 3 (the bridge carries 3's id across before
    // the right triangle settles — labels are identifiers, not members)
    assert(got === Map(
      1L -> ((3L, 3L, 7L, 7L)),    // members, within, degsum (2+2+3), m
      3L -> ((3L, 3L, 7L, 7L))))
    // exact Q = sum(within/m - (degsum/2m)^2) = 2*(3/7 - (7/14)^2) = 5/14
    val q = got.values.map { case (_, w, k, m) =>
      w.toDouble / m - math.pow(k.toDouble / (2 * m), 2) }.sum
    assert(math.abs(q - 5.0 / 14) < 1e-12)
  }

  test("modularity: naive twin equality on the skewed graph") {
    val labels = Graphs.labelPropagation(edgesDf(graph, 7), iters = 5)
    val lmap = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = simple(graph).toSeq
    val m = e.size.toLong
    val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val want = lmap.groupBy(_._2).map { case (lbl, members) =>
      val ids = members.keySet
      lbl -> ((ids.size.toLong,
        e.count(p => ids(p._1) && ids(p._2)).toLong,
        ids.toSeq.map(deg).sum, m))
    }
    val got = Graphs.modularity(edgesDf(graph, 7), labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === want)
  }

  // ---- node2vec ----

  test("node2vecWalks: forced line graph matches randomWalks; wBack=0 ends at backtrack-only nodes") {
    // 0 -> 1 -> 2 -> 3: single neighbor everywhere, bias is irrelevant
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val uniform = Graphs.randomWalks(edgesDf(g), 1, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val biased = Graphs.node2vecWalks(edgesDf(g), 1, 4, 2L, 6L, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(biased === uniform)
    // 0 <-> 1 with wBack = 0: step 1 reaches the other node, step 2's only
    // candidate is prev with weight 0 -> the walk ends at step 1
    val g2 = Seq((0L, 1L), (1L, 0L))
    val got = Graphs.node2vecWalks(edgesDf(g2), 1, 4, 0L, 1L, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((0L, 0L, 0L, 0L), (0L, 0L, 1L, 1L),
      (1L, 0L, 0L, 1L), (1L, 0L, 1L, 0L)))
  }

  test("node2vecWalks: twin replay equality + edge validity at any partitioning") {
    val want = graft.golden.SequentialTwin.q107Node2vecWalks(
      asTriples(graph), walksPerNode = 2, maxLen = 4,
      wBack = 2L, wCommon = 6L, wFar = 3L).toSet
    val dirEdges = graph.filter(e => e._1 != e._2).toSet
    for (parts <- Seq(1, 7); thr <- Seq(0L, Graphs.SmallGraphThreshold)) {
      val rows = Graphs.node2vecWalks(edgesDf(graph, parts), 2, 4, 2L, 6L, 3L,
          smallGraphThreshold = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSet === want, s"parts=$parts thr=$thr")
      assert(rows.length === rows.toSet.size)
      rows.groupBy(x => (x._1, x._2)).foreach { case (_, steps) =>
        steps.sortBy(_._3).sliding(2).foreach {
          case Array(a, b) => assert(dirEdges((a._4, b._4)), s"hop $a -> $b")
          case _           =>
        }
      }
    }
  }

  // ---- Weisfeiler–Lehman refinement ----

  test("wlColors: path endpoints separate from the middle; twin equality at any partitioning") {
    // path 1-2-3: after 1 round the endpoints (degree 1) share a color
    // that differs from the middle (degree 2); round 2 refines no further
    // classes on this graph
    val g = Seq((1L, 2L), (2L, 3L))
    val r1 = Graphs.wlColors(edgesDf(g), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(1L) === r1(3L))
    assert(r1(1L) !== r1(2L))
    for (rounds <- Seq(0, 1, 3); parts <- Seq(1, 7)) {
      val want = graft.golden.SequentialTwin
        .q110WlColors(asTriples(graph), rounds).toMap
      val got = Graphs.wlColors(edgesDf(graph, parts), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"rounds=$rounds parts=$parts")
    }
  }

  test("wlColors: refinement never merges classes (partition refinement property)") {
    val byRound = (0 to 3).map(r => Graphs.wlColors(edgesDf(graph), r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
    for (r <- 1 to 3) {
      val prev = byRound(r - 1); val cur = byRound(r)
      // same color at round r => same color at round r-1
      cur.groupBy(_._2).values.foreach { members =>
        assert(members.keys.map(prev).toSet.size === 1)
      }
    }
  }

  // ---- GraphSAGE neighbor sampling ----

  test("sampleNeighbors: fanout bounds, hop chaining, twin equality at any partitioning") {
    val want = graft.golden.SequentialTwin
      .q111SampleNeighbors(asTriples(graph), Seq(3, 2)).toSet
    val dirEdges = graph.filter(e => e._1 != e._2).toSet
    for (parts <- Seq(1, 7)) {
      val rows = Graphs.sampleNeighbors(edgesDf(graph, parts), Seq(3, 2))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSet === want, s"parts=$parts")
      assert(rows.length === rows.toSet.size)
      rows.foreach { case (_, _, s, d) => assert(dirEdges((s, d))) }
      // per (root, hop, src) at most the hop's fanout
      rows.groupBy(x => (x._1, x._2, x._3)).foreach { case ((_, hop, _), xs) =>
        assert(xs.length <= (if (hop == 1L) 3 else 2))
      }
      // hop-2 sources are exactly hop-1 destinations (per root)
      val h1 = rows.filter(_._2 == 1L).map(x => (x._1, x._4)).toSet
      rows.filter(_._2 == 2L).foreach { case (root, _, s, _) =>
        assert(h1((root, s)))
      }
    }
  }

  // ---- label propagation ----

  test("labelPropagation: a triangle floods to its minimum label; disjoint cliques stay apart") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val got = Graphs.labelPropagation(edgesDf(g), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: twin equality on the skewed graph at several iteration counts and partitionings") {
    for (iters <- Seq(0, 1, 3, 5); parts <- Seq(1, 7);
         thr <- Seq(0L, Graphs.SmallGraphThreshold)) {
      val want = graft.golden.SequentialTwin
        .q100LabelPropagation(asTriples(graph), iters).toMap
      val got = Graphs.labelPropagation(edgesDf(graph, parts), iters,
          smallGraphThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"iters=$iters parts=$parts thr=$thr")
    }
  }

  // ---- clustering coefficient ----

  test("clusteringCoefficient: K4 + pendant — exact integer fractions") {
    // K4 on 1..4 plus pendant 9-1: inside K4 deg 3 / 3 triangles ->
    // 3/3 = 1; node 1 has deg 4 (pairs 6, triangles 3); pendant 9 is 0/0
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (9L, 1L))
    val got = Graphs.clusteringCoefficient(edgesDf(g))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(
      1L -> (3L, 6L), 2L -> (3L, 3L), 3L -> (3L, 3L), 4L -> (3L, 3L),
      9L -> (0L, 0L)))
  }

  test("clusteringCoefficient: naive twin equality on the skewed graph") {
    val tri = seqTriangles(graph)
    val e = simple(graph)
    val deg = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val want = tri.map { case (n, t) =>
      n -> (t, deg(n) * (deg(n) - 1L) / 2L) }
    val got = Graphs.clusteringCoefficient(edgesDf(graph, 7))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want)
  }

  // ---- neighborhood function (HyperANF / KMV) ----

  /** exact per-(node, hop) directed reach counts via sequential BFS */
  private def seqReach(edges: Seq[(Long, Long)],
                       maxHops: Int): Map[(Long, Long), Long] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val adj = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val out = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    for (n <- nodes) {
      var seen = Set(n)
      var frontier = Set(n)
      out((n, 0L)) = 1L
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)).diff(seen)
        seen ++= frontier
        out((n, h.toLong)) = seen.size.toLong
      }
    }
    out.toMap
  }

  test("neighborhoodFunction: exact (below saturation) vs BFS on a hand graph") {
    // path 1->2->3->4 plus a 2-cycle 5<->6 and a shortcut 1->3
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 5L), (1L, 3L),
      (1L, 1L), (2L, 3L)) // self-loop + duplicate must be dropped
    val got = Graphs.neighborhoodFunction(edgesDf(es, 3), maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === seqReach(es, 3))
    // spot-check the path head: 1 reaches {2,3} at hop 1, +{4} at hop 2
    assert(got((1L, 1L)) === 3L && got((1L, 2L)) === 4L && got((1L, 3L)) === 4L)
  }

  test("neighborhoodFunction: exact vs BFS on the skewed 50-node graph") {
    val got = Graphs.neighborhoodFunction(edgesDf(graph, 7), maxHops = 3,
      k = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === seqReach(graph, 3))
  }

  test("neighborhoodFunction: saturated sketches stay monotone and exact below k") {
    // star: hub 0 -> 1..10 (reach 11 > k); leaves reach only themselves
    val es = (1L to 10L).map(i => (0L, i))
    val got = Graphs.neighborhoodFunction(edgesDf(es, 3), maxHops = 2, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // leaves are below saturation -> exact
    for (i <- 1L to 10L; h <- 0L to 2L) assert(got((i, h)) === 1L)
    // hub estimates never decrease across hops and start exact at hop 0
    assert(got((0L, 0L)) === 1L)
    assert(got((0L, 1L)) >= got((0L, 0L)) && got((0L, 2L)) >= got((0L, 1L)))
  }

  test("closeness: dist sums match BFS min-distances on hand + skewed graphs") {
    // path 1->2->3->4 with shortcut 1->3: from 1, dists {2:1, 3:1, 4:2}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
    val got = Graphs.closeness(edgesDf(es, 3), maxHops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === (4L, 4L)) // self + 3 reached, 1+1+2
    assert(got(4L) === (1L, 0L)) // sink: only itself
    // skewed graph: derive expectation from the BFS reach twin
    val reach = seqReach(graph, 3)
    val want = reach.keys.map(_._1).toSeq.distinct.map { v =>
      val dsum = (1 to 3).map(h =>
        h.toLong * (reach((v, h.toLong)) - reach((v, h.toLong - 1)))).sum
      v -> ((reach((v, 3L)), dsum))
    }.toMap
    val gotBig = Graphs.closeness(edgesDf(graph, 7), maxHops = 3, k = 4096)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotBig === want)
  }

  // ---- SCC ----

  /** mutual-reachability twin: scc(v) = min {w : v ->* w and w ->* v} */
  private def seqScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = es.filter(e => e._1 != e._2).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2) }
    def reach(v: Long): Set[Long] = {
      val seen = scala.collection.mutable.HashSet(v)
      var frontier = Seq(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .distinct.filterNot(seen.contains)
        frontier.foreach(seen += _)
      }
      seen.toSet
    }
    val r = nodes.map(v => v -> reach(v)).toMap
    nodes.map(v => v -> r(v).filter(w => r(w)(v)).min).toMap
  }

  test("scc: hand graph — cycles, bridge DAG edge, self-loop, pendant") {
    // cycle {1,2,3} -> bridge -> cycle {4,5}; 6 self-loop only; 7 pendant
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L),
      (6L, 6L), (4L, 7L))
    val got = Graphs.scc(edgesDf(es)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L))
  }

  test("scc: skewed digraph — twin equality, driver vs distributed") {
    val want = seqScc(graph)
    val gotDriver = Graphs.scc(edgesDf(graph, 7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDriver === want)
    // threshold 0 forces the distributed trim/color/sweep loop
    val gotDist = Graphs.scc(edgesDf(graph, 7), smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist === want)
  }

  test("scc: pure DAG degenerates to singletons (trim-only fast path)") {
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    for (thr <- Seq(100000L, 0L)) {
      val got = Graphs.scc(edgesDf(dag), smallGraphThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    }
  }

  // ---- link prediction ----

  /** brute-force twin over neighbor sets */
  private def seqLinkPred(edges: Seq[(Long, Long)])
      : Set[(Long, Long, Long, Long, Long, Long)] = {
    val e = simple(edges)
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.distinct
    val adj = nodes.map(n =>
      n -> e.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }.toSet).toMap
    (for {
      a <- nodes; b <- nodes
      if a < b && !e((a, b))
      cn = (adj(a) intersect adj(b)).size.toLong
      if cn >= 1
    } yield (a, b, cn, adj(a).size.toLong, adj(b).size.toLong,
      adj(a).size + adj(b).size - cn)).toSet
  }

  test("linkPrediction: square + diagonal — only the open pair remains") {
    // square 1-2-3-4-1 plus diagonal 1-3: open pair (2,4), cn=2 (via 1,3)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val got = Graphs.linkPrediction(edgesDf(es)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === Set((2L, 4L, 2L, 2L, 2L, 2L)))
  }

  test("linkPrediction: skewed digraph — twin equality; hub cap drops loudly") {
    val got = Graphs.linkPrediction(edgesDf(graph, 7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === seqLinkPred(graph))
    // quadratic-residue targets keep the simple graph sparse (max degree
    // 4); cap at 2 so the degree-3+ intermediaries drop and report
    val capped = Graphs.linkPrediction(edgesDf(graph, 7),
      maxNeighborDegree = 2L)
    assert(capped.count() <= got.size)
    val (nDropped, slots) = Dedup.lastDropReport("link_prediction")
    assert(nDropped >= 1L && slots > 2L)
    // degrees stay TRUE degrees in capped runs (only cn is a lower bound)
    val degs = seqLinkPred(graph).map(t => (t._1, t._4)).toMap
    capped.collect().foreach { r =>
      assert(r.getLong(3) === degs(r.getLong(0)))
    }
  }

  // ---- degree mixing profile ----

  test("degreeMixingProfile: hand graph — reciprocity + stub sums exact") {
    // directed: 1->2, 2->1 (reciprocal pair), 2->3, 3->4
    // undirected simple: {1-2, 2-3, 3-4}; degrees 1:1 2:2 3:2 4:1
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (3L, 4L), (1L, 1L))
    val r = Graphs.degreeMixingProfile(edgesDf(es)).head()
    assert(r.getLong(0) === 4L) // directed simple edges (dup + loop dropped)
    assert(r.getLong(1) === 2L) // both orientations of the 1<->2 pair
    assert(r.getLong(2) === 3L) // undirected edges
    // stubs (x,y) with degrees: (1,2):1*2 (2,1):2*1 (2,3):2*2 (3,2) (3,4):2*1 (4,3)
    assert(r.getDecimal(3).longValueExact === (2L + 2L + 4L + 4L + 2L + 2L))
    assert(r.getDecimal(4).longValueExact === (1L + 2L + 2L + 2L + 2L + 1L))
    assert(r.getDecimal(5).longValueExact === (1L + 4L + 4L + 4L + 4L + 1L))
  }

  test("degreeMixingProfile: skewed digraph — twin sums at any partitioning") {
    val e = simple(graph)
    val dirE = graph.filter(p => p._1 != p._2).distinct
    val deg = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val stubs = e.toSeq.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    val r = Graphs.degreeMixingProfile(edgesDf(graph, 7)).head()
    assert(r.getLong(0) === dirE.size.toLong)
    assert(r.getLong(1) ===
      dirE.count(p => dirE.contains((p._2, p._1))).toLong)
    assert(r.getLong(2) === e.size.toLong)
    assert(r.getDecimal(3).longValueExact ===
      stubs.map(s => deg(s._1) * deg(s._2)).sum)
    assert(r.getDecimal(4).longValueExact === stubs.map(s => deg(s._1)).sum)
    assert(r.getDecimal(5).longValueExact ===
      stubs.map(s => deg(s._1) * deg(s._1)).sum)
  }

  // ---- ego network ----

  test("egoTriples: induced k-hop subgraph — non-tree edges kept") {
    import spark.implicits._
    val t = Seq(
      (1L, "p", 2L), (2L, "p", 3L), (3L, "p", 4L), (2L, "p", 1L),
      (5L, "p", 1L), (2L, "q", 2L), (1L, "p", 2L))
      .toDF("subj", "pred", "obj").repartition(3)
    def ego(d: Int) = Graphs.egoTriples(t, Seq(1L), d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // depth 1: reach {1,2}; (5,p,1) excluded (5 unreachable), the
    // BACK edge (2,p,1) and self-loop (2,q,2) induced, dup collapsed
    assert(ego(1) === Set((1L, "p", 2L), (2L, "p", 1L), (2L, "q", 2L)))
    // depth 2 adds node 3 and its in-edge
    assert(ego(2) === Set((1L, "p", 2L), (2L, "p", 1L), (2L, "q", 2L),
      (2L, "p", 3L)))
  }

  // ---- effective diameter ----

  test("effectiveDiameter: path graph — 90th percentile hop, exact sums") {
    // 1->2->3->4: N(0)=4, N(1)=7, N(2)=9, N(3)=10; 10*9 >= 9*10 -> h=2
    val r = Graphs.effectiveDiameter(
      edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L))), maxHops = 3).head()
    assert(r.getLong(0) === 2L)
    assert(r.getDecimal(1).longValueExact === 9L)
    assert(r.getDecimal(2).longValueExact === 10L)
  }

  test("effectiveDiameter: skewed digraph — BFS-twin election") {
    // exact per-hop cumulative reachable pairs by sequential BFS
    val e = graph.filter(p => p._1 != p._2).distinct
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val maxHops = 3
    val cum = Array.fill(maxHops + 1)(0L)
    nodes.foreach { n =>
      var seen = Set(n); var frontier = Set(n)
      cum(0) += 1
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
        cum(h) += seen.size.toLong
      }
    }
    val hEff = (0 to maxHops)
      .find(h => cum(h) * 10L >= cum(maxHops) * 9L).get
    val r = Graphs.effectiveDiameter(edgesDf(graph, 7), maxHops).head()
    assert(r.getLong(0) === hEff.toLong)
    assert(r.getDecimal(1).longValueExact === cum(hEff))
    assert(r.getDecimal(2).longValueExact === cum(maxHops))
  }

  // ---- quotient graph ----

  test("quotientGraph: contraction weights exact, intra-class self-loops") {
    import spark.implicits._
    // labels: {1,2}->A, {3,4}->B; edges incl dup + node self-loop
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("id", "label")
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 4L), (3L, 1L),
      (1L, 3L), (4L, 4L))
    val got = Graphs.quotientGraph(edgesDf(e), lab).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("A", "A") -> 2L, // 1->2 and 2->1; node self-loop 4->4 dropped
      ("A", "B") -> 2L, // 1->3 (dup collapsed) and 2->4
      ("B", "A") -> 1L))
  }

  // ---- simple-path enumeration ----

  test("enumPaths: exhaustive simple paths, dst retirement, loud bound") {
    // diamond + shortcut: 1->2->4, 1->3->4, 1->4, plus cycle 2->1 and
    // a continuation 4->5 that must NOT extend retired dst paths
    val e = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L), (1L, 4L),
      (2L, 1L), (4L, 5L))
    val got = Graphs.enumPaths(edgesDf(e), 1L, 4L, maxLen = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("1,4", 1L), ("1,2,4", 2L), ("1,3,4", 2L)))
    // maxLen cuts: only the direct edge at maxLen 1
    assert(Graphs.enumPaths(edgesDf(e), 1L, 4L, 1)
      .collect().map(_.getString(0)).toSet === Set("1,4"))
    // dense K12: frontier 11 -> 110 partial paths blows a bound of 50
    val k12 = for {
      a <- 1L to 12L; b <- 1L to 12L; if a != b
    } yield (a, b)
    intercept[IllegalStateException] {
      Graphs.enumPaths(edgesDf(k12), 1L, 99L, 3, maxFrontier = 50L)
    }
  }

  test("enumPaths: brute-force twin on the skewed graph") {
    val e = simple(graph).toSeq.flatMap(p => Seq(p)) // directed distinct
    val dirE = graph.filter(p => p._1 != p._2).distinct
    val adj = dirE.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def walk(path: List[Long]): Seq[List[Long]] =
      if (path.head == 7L) Seq(path)
      else if (path.length > 3) Seq.empty
      else adj.getOrElse(path.head, Seq.empty)
        .filterNot(path.contains).flatMap(n => walk(n :: path))
    val want = walk(List(0L)).filter(_.length > 1)
      .map(p => (p.reverse.mkString(","), (p.length - 1).toLong)).toSet
    val got = Graphs.enumPaths(edgesDf(graph, 7), 0L, 7L, maxLen = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
  }

  // ---- path brokerage (pairwise stress centrality) ----

  /** sequential twin: BFS distances, then exhaustive enumeration of the
    * shortest src->dst paths along the distance DAG */
  private def seqBrokerage(edges: Seq[(Long, Long)], src: Long, dst: Long,
                           maxHops: Int): Map[Long, (Long, BigInt)] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map(src -> 0)
    var frontier = Set(src)
    var d = 0
    while (d < maxHops && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    dist.get(dst) match {
      case None => Map.empty
      case Some(big) =>
        def walk(node: Long, dd: Int): Seq[List[Long]] =
          if (node == dst) Seq(List(node))
          else adj.getOrElse(node, Seq.empty)
            .filter(n => dist.get(n).contains(dd + 1))
            .flatMap(n => walk(n, dd + 1).map(node :: _))
        val paths = walk(src, 0)
        assert(paths.forall(_.length == big + 1))
        paths.flatten.groupBy(identity)
          .map { case (n, occ) => n -> ((dist(n).toLong, BigInt(occ.size))) }
    }
  }

  test("pathBrokerage: diamond hand case — sigma*tau per broker") {
    // two shortest 1->4 routes (via 2 and via 3); 1->5->6->4 is longer
    // and must be excluded; 2->3 is a non-DAG edge that must not count
    val e = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L),
      (1L, 5L), (5L, 6L), (6L, 4L), (2L, 3L))
    val got = Graphs.pathBrokerage(edgesDf(e), 1L, 4L, maxHops = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))))
      .toMap
    assert(got === Map(
      1L -> ((0L, BigInt(2))), // endpoint carries the total path count
      2L -> ((1L, BigInt(1))), 3L -> ((1L, BigInt(1))),
      4L -> ((2L, BigInt(2)))))
    // unreachable within the hop bound -> empty, not an error
    assert(Graphs.pathBrokerage(edgesDf(e), 1L, 4L, maxHops = 1).isEmpty)
    assert(Graphs.pathBrokerage(edgesDf(e), 4L, 1L, maxHops = 6).isEmpty)
  }

  test("pathBrokerage: double diamond — interior sigma*tau product") {
    // 1->{2,3}->4->{5,6}->7: four shortest paths, all through 4
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 7L), (6L, 7L))
    val got = Graphs.pathBrokerage(edgesDf(e), 1L, 7L, maxHops = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))))
      .toMap
    assert(got === Map(
      1L -> ((0L, BigInt(4))), 7L -> ((4L, BigInt(4))),
      2L -> ((1L, BigInt(2))), 3L -> ((1L, BigInt(2))),
      4L -> ((2L, BigInt(4))), // sigma 2 * tau 2
      5L -> ((3L, BigInt(2))), 6L -> ((3L, BigInt(2)))))
  }

  test("pathBrokerage: pseudo-random twins at any partitioning") {
    // dense mixed-moduli digraph: multiple shortest 0->20 routes
    val dense = (0 until 240)
      .map(i => ((i * 7L + 1L) % 31L, (i.toLong * i * 11L + 2L) % 29L))
    // the skewed hub graph: deep sparse component, many off-path nodes
    for ((edges, src, dst) <- Seq((dense, 0L, 20L), (graph, 0L, 16L))) {
      val want = seqBrokerage(edges, src, dst, maxHops = 6)
      assert(want.nonEmpty)
      for (parts <- Seq(1, 7)) {
        val got = Graphs.pathBrokerage(edgesDf(edges, parts), src, dst, 6)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))))
          .toMap
        assert(got === want)
      }
    }
  }

  // ---- bipartiteness ----

  test("bipartiteness: even cycle passes, odd cycle flagged with witness") {
    // comp A: 4-cycle 1-2-3-4 (bipartite); comp B: triangle 10,11,12
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    val got = Graphs.bipartiteness(edgesDf(e)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(got === Map(
      1L -> ((4L, 0L, true)),
      10L -> ((3L, 1L, false)))) // exactly one same-parity edge witness
    // star = trivially bipartite at any depth
    val star = (1L to 20L).map(i => (0L, i))
    assert(Graphs.bipartiteness(edgesDf(star)).head().getBoolean(3))
    // loud failure when a component outruns maxDepth
    val path = (0L until 40L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Graphs.bipartiteness(edgesDf(path), maxDepth = 5)
    }
  }

  // ---- HITS ----

  /** sequential replay of the integer HITS recurrence */
  private def seqHits(edges: Seq[(Long, Long)], iters: Int,
                      bits: Int = 20): Map[Long, (Long, Long)] = {
    val e = edges.filter(x => x._1 != x._2).distinct
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct
    val outAdj = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val inAdj = e.groupBy(_._2).map { case (d, xs) => d -> xs.map(_._1) }
    def rescale(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = if (m.isEmpty) 0L else m.values.max
      val sh = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(mx) - bits)
      m.map { case (k, v) => k -> (v >> sh) }
    }
    var hub = nodes.map(_ -> (1L << (bits - 1))).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      auth = rescale(nodes.map(v =>
        v -> inAdj.getOrElse(v, Nil).map(hub).sum).toMap)
      hub = rescale(nodes.map(v =>
        v -> outAdj.getOrElse(v, Nil).map(auth).sum).toMap)
    }
    nodes.map(n => n -> (hub(n), auth(n))).toMap
  }

  test("hits: a directory page is the hub, the cited entity the authority") {
    // 1,2,3 all point at 9 and 10; 1 also points at 11 (the best hub)
    val es = Seq((1L, 9L), (1L, 10L), (1L, 11L), (2L, 9L), (2L, 10L),
      (3L, 9L), (3L, 10L))
    val got = Graphs.hits(edgesDf(es, 3), iters = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === seqHits(es, 5))
    // structure: node 1 is the strictly best hub; 9 and 10 tie as the
    // best authorities and strictly beat 11; pure authorities hub 0
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 === got(3L)._1)
    assert(got(9L)._2 === got(10L)._2 && got(9L)._2 > got(11L)._2)
    assert(got(9L)._1 === 0L && got(9L)._2 > 0L)
  }

  test("hits: twin equality on the skewed graph at several partitionings") {
    // threshold 0 forces the distributed loop; the default takes the
    // driver fallback — both must equal the sequential twin bit-for-bit
    val want = seqHits(graph, 5)
    for (parts <- Seq(1, 4, 9); thr <- Seq(0L, Graphs.SmallGraphThreshold)) {
      val got = Graphs.hits(edgesDf(graph, parts), iters = 5,
          smallGraphThreshold = thr)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"parts=$parts thr=$thr")
    }
  }

  // ---- per-component canonical digest ----

  test("graphDigest: isomorphic components share a digest, others differ") {
    val es = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),      // triangle A
      (12L, 11L), (11L, 10L), (10L, 12L), // triangle B (disjoint ids,
                                          // different edge orientation)
      (20L, 21L), (21L, 22L))             // path of 3
    val got = Graphs.graphDigest(edgesDf(es, 3), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.map(x => (x._1, x._2)).toSeq ===
      Seq((1L, 3L), (10L, 3L), (20L, 3L)))
    val Seq(a, b, p) = got.map(_._3).toSeq
    assert(a === b)  // id-free: isomorphic triangles collide
    assert(a !== p)  // 1-WL separates triangle from path
  }

  test("graphDigest: digest is invariant under entity renaming") {
    val orig = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val renamed = orig.map { case (a, b) => (a * 1000L + 7L, b * 1000L + 7L) }
    val d1 = Graphs.graphDigest(edgesDf(orig, 2), rounds = 3)
      .collect().map(_.getLong(2)).toSeq.sorted
    val d2 = Graphs.graphDigest(edgesDf(renamed, 3), rounds = 3)
      .collect().map(_.getLong(2)).toSeq.sorted
    assert(d1 === d2)
  }

  // ---- seeded type propagation ----

  private def typeSeedsDf(seeds: Seq[(Long, String)]) = {
    import spark.implicits._
    seeds.toDF("id", "type").repartition(2)
  }

  /** sequential twin: synchronous majority vote, seeds immutable,
    * ties to the smallest type string */
  private def seqPropagate(edges: Seq[(Long, Long)],
                           seeds: Map[Long, String], rounds: Int)
      : Map[Long, (String, String)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = und.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var labels: Map[Long, String] = seeds
    for (_ <- 1 to rounds) {
      val derived = adj.keys.filterNot(seeds.contains).flatMap { n =>
        val votes = adj(n).flatMap(labels.get)
        if (votes.isEmpty) None
        else Some(n -> votes.groupBy(identity)
          .map { case (t, xs) => (t, xs.size) }
          .toSeq.minBy { case (t, c) => (-c, t) }._1)
      }.toMap
      labels = seeds ++ derived
    }
    labels.map { case (id, t) =>
      id -> ((t, if (seeds.contains(id)) "seed" else "derived")) }
  }

  test("propagateTypes: majority vote, smallest-type ties, seeds immutable, unreached absent") {
    // 1(A) and 2(B) both touch 3: tie -> 'A'; 4 hangs off 2 -> 'B';
    // 5-6 is a disconnected island: unreached, absent from the output;
    // seed 2 keeps B even though its neighbors vote A
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L), (5L, 6L), (3L, 1L))
    val got = Graphs.propagateTypes(edgesDf(e),
        typeSeedsDf(Seq((1L, "A"), (2L, "B"))), rounds = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got === Map(
      1L -> (("A", "seed")), 2L -> (("B", "seed")),
      3L -> (("A", "derived")), 4L -> (("B", "derived"))))
    // round 0 = seeds only
    assert(Graphs.propagateTypes(edgesDf(e),
      typeSeedsDf(Seq((1L, "A"))), rounds = 0).count() === 1L)
  }

  test("propagateTypes: conflicting seed types fail loudly; twin equality at any partitioning") {
    intercept[IllegalArgumentException] {
      Graphs.propagateTypes(edgesDf(Seq((1L, 2L))),
        typeSeedsDf(Seq((1L, "A"), (1L, "B"))), rounds = 1)
    }
    // pseudo-random graph + 3 seeds, labels flip as majorities shift
    val dense = (0 until 160)
      .map(i => ((i * 7L + 1L) % 23L, (i.toLong * i * 11L + 2L) % 19L))
    val seeds = Map(0L -> "t2", 7L -> "t1", 13L -> "t3")
    for (rounds <- Seq(1, 2, 3); parts <- Seq(1, 7)) {
      val want = seqPropagate(dense, seeds, rounds)
      val got = Graphs.propagateTypes(edgesDf(dense, parts),
          typeSeedsDf(seeds.toSeq), rounds)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
      assert(got === want, s"rounds=$rounds parts=$parts")
    }
  }

  test("modularityMove: gain election, tie-break, brute-force twin") {
    import graft.kg.Graphs
    def run(es: Seq[(Long, Long)], parts: Int = 5) =
      Graphs.modularityMove(edgesDf(es, parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star 1-(2,3,4): leaves elect the hub (their only neighbor,
    // 2m=6 > 1·3), the hub elects the min-id leaf (deg 1 < ... ties -> 2)
    assert(run(Seq((1L, 2L), (1L, 3L), (1L, 4L))) ===
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // tie-break: triangle — all degrees equal, everyone elects its
    // smallest-id neighbor
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ===
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // brute-force twin on a pseudo-random graph, partition-invariant
    val rnd = new scala.util.Random(17)
    val es = (1 to 60).map(_ =>
      (rnd.nextInt(14).toLong + 1L, rnd.nextInt(14).toLong + 1L))
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val m = und.size.toLong
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val twin = deg.keys.map { i =>
      val cand = nbrs(i).filter(j => 2L * m > deg(i) * deg(j))
      i -> (if (cand.isEmpty) i
            else cand.minBy(j => (deg(j), j)))
    }.toMap
    assert(run(es) === twin)
    assert(run(es, 2) === twin)
  }

  test("harmonic: exact integer 1/d sums over lcm denominator") {
    import graft.kg.Graphs
    assert(Graphs.harmonicDenominator(3) == 6L)
    assert(Graphs.harmonicDenominator(6) == 60L)
    // directed path 1->2->3->4, H=3, L=6: hn(1)=6+3+2, hn(2)=6+3,
    // hn(3)=6, hn(4)=0 (sink reaches nothing)
    val got = Graphs.harmonic(
        edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L))), maxHops = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((4L, 11L)), 2L -> ((3L, 9L)),
      3L -> ((2L, 6L)), 4L -> ((1L, 0L))))
    // disconnected component: harmonic well-defined (closeness's selling
    // point), unreachable nodes contribute 0 — and n_reach matches
    // closeness's on the same graph
    val es = Seq((1L, 2L), (3L, 4L), (4L, 3L))
    // maxHops=2 -> L = lcm(1,2) = 2: a 1-hop reach contributes 2
    val h = Graphs.harmonic(edgesDf(es), maxHops = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(h === Map(1L -> ((2L, 2L)), 2L -> ((1L, 0L)),
      3L -> ((2L, 2L)), 4L -> ((2L, 2L))))
    val c = Graphs.closeness(edgesDf(es), maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.view.mapValues(_._1).toMap === c)
  }

  test("edgeSupport: triangle credits all 3 edges, bridges report zero") {
    import graft.kg.Graphs
    def run(es: Seq[(Long, Long)], parts: Int = 5) =
      Graphs.edgeSupport(edgesDf(es, parts)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // triangle 1-2-3 plus pendant bridge 3-4
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))) ===
      Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L, (3L, 4L) -> 0L))
    // K4: every edge sits in 2 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(run(k4).values.toSet === Set(2L))
    // brute-force twin (common-neighbor counts), partition-invariant
    val rnd = new scala.util.Random(29)
    val es = (1 to 70).map(_ =>
      (rnd.nextInt(12).toLong + 1L, rnd.nextInt(12).toLong + 1L))
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val twin = und.map { case (a, b) =>
      (a, b) -> (nbrs(a) & nbrs(b)).size.toLong
    }.toMap
    assert(run(es) === twin)
    assert(run(es, 2) === twin)
  }

  test("trussness: hand cases, k-level twin, distributed == driver") {
    import graft.kg.Graphs
    def run(es: Seq[(Long, Long)], thr: Long = 100000L) =
      Graphs.trussness(edgesDf(es), smallGraphThreshold = thr).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // triangle + pendant: triangle edges truss 3, bridge truss 2
    val triPend = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(run(triPend) === Map((1L, 2L) -> 3L, (2L, 3L) -> 3L,
      (1L, 3L) -> 3L, (3L, 4L) -> 2L))
    // K5: every edge survives to the 5-truss
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    assert(run(k5).values.toSet === Set(5L))
    // two K4s joined by one bridge: clique edges 4, bridge 2
    val twoK4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)) ++
      (for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)) :+ ((4L, 5L))
    val tk = run(twoK4)
    assert(tk((4L, 5L)) == 2L && tk((1L, 2L)) == 4L && tk((5L, 6L)) == 4L)
    // k-level definitional twin on a random graph; and the distributed
    // level-peel (threshold 0) agrees with the driver bucket-queue peel
    val rnd = new scala.util.Random(31)
    val es = (1 to 80).map(_ =>
      (rnd.nextInt(13).toLong + 1L, rnd.nextInt(13).toLong + 1L))
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val twin = {
      var alive = und.toSet
      val truss = scala.collection.mutable.Map.empty[(Long, Long), Long]
      var k = 3
      while (alive.nonEmpty) {
        var changed = true
        while (changed && alive.nonEmpty) {
          val nbr = alive.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
            .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
          val drops = alive.filter { case (a, b) =>
            (nbr(a) & nbr(b)).size < k - 2 }
          if (drops.isEmpty) changed = false
          else { drops.foreach(e => truss(e) = (k - 1).toLong); alive --= drops }
        }
        k += 1
      }
      truss.toMap
    }
    assert(run(es) === twin)
    assert(run(es, thr = 0L) === twin)
  }

  test("richClub: strict-threshold counts, brute-force twin") {
    import graft.kg.Graphs
    def run(es: Seq[(Long, Long)], parts: Int = 5) =
      Graphs.richClub(edgesDf(es, parts)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // star 1-(2,3,4) + edge 2-3: degrees 1->3, 2->2, 3->2, 4->1
    // k=1: nodes {1,2,3} (deg>1), hub-hub edges {12,13,23} -> 3
    // k=2: nodes {1}, edges with min-deg>2: none
    // k=3: nothing above
    assert(run(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))) ===
      Map(1L -> ((3L, 3L)), 2L -> ((1L, 0L)), 3L -> ((0L, 0L))))
    // brute-force twin on a random graph, partition-invariant
    val rnd = new scala.util.Random(37)
    val es = (1 to 90).map(_ =>
      (rnd.nextInt(15).toLong + 1L, rnd.nextInt(15).toLong + 1L))
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val twin = deg.values.toSeq.distinct.map { k =>
      k -> ((deg.values.count(_ > k).toLong,
        und.count { case (a, b) => math.min(deg(a), deg(b)) > k }.toLong))
    }.toMap
    assert(run(es) === twin)
    assert(run(es, 3) === twin)
  }

  test("handshakeMatching: mutual proposals only, brute-force twin") {
    import graft.kg.Graphs
    def run(es: Seq[(Long, Long)], parts: Int = 5) =
      Graphs.handshakeMatching(edgesDf(es, parts)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // path 1-2-3: 1<->2 mutual; 3's proposal to 2 is unrequited
    assert(run(Seq((1L, 2L), (2L, 3L))) === Set((1L, 2L)))
    // star: hub matches its min-id leaf only
    assert(run(Seq((1L, 2L), (1L, 3L), (1L, 4L))) === Set((1L, 2L)))
    // two disjoint edges: both matched
    assert(run(Seq((1L, 2L), (5L, 6L))) === Set((1L, 2L), (5L, 6L)))
    // brute-force twin, partition-invariant; matching is valid (each
    // node in at most one pair)
    val rnd = new scala.util.Random(41)
    val es = (1 to 80).map(_ =>
      (rnd.nextInt(16).toLong + 1L, rnd.nextInt(16).toLong + 1L))
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val prop = nbrs.map { case (i, js) =>
      i -> js.minBy(j => (deg(j), j)) }
    val twin = prop.collect { case (i, j)
      if prop.get(j).contains(i) && i < j => (i, j) }.toSet
    val got = run(es)
    assert(got === twin)
    assert(run(es, 2) === twin)
    val touched = got.toSeq.flatMap(p => Seq(p._1, p._2))
    assert(touched.distinct.size == touched.size)
  }

  // ---- minimum spanning forest ----

  private def msfRun(edges: Seq[(Long, Long, Long)], threshold: Long,
                     parts: Int = 5): Set[(Long, Long, Long)] =
    Graphs.minSpanningForest(wEdgesDf(edges, parts), threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Definitional third check: enumerate EVERY edge subset of a tiny
    * graph, keep the acyclic ones spanning every component (i.e. with
    * |V| - |components| edges after dedup to min-weight simple form),
    * and return the minimum total weight. */
  private def bruteMsfWeight(edges: Seq[(Long, Long, Long)]): Long = {
    val simple = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
      .groupBy(e => (e._1, e._2)).map { case (_, xs) => xs.minBy(_._3) }.toSeq
    val nodes = simple.flatMap(e => Seq(e._1, e._2)).distinct
    def components(es: Seq[(Long, Long, Long)]): Int = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
      }
      es.foreach { e =>
        val (ra, rb) = (find(e._1), find(e._2)); if (ra != rb) parent(ra) = rb
      }
      nodes.map(find).distinct.size
    }
    // a subset of exactly |V| - c(full) edges with c(sub) == c(full) has
    // each component connected at its tree edge count — a spanning forest
    val need = nodes.size - components(simple)
    simple.combinations(need)
      .filter(sub => components(sub) == components(simple))
      .map(_.map(_._3).sum).min
  }

  test("msf: hand cases — triangle drops its heaviest edge, forest spans components") {
    // triangle 1-2-3 with weights 1,2,3: forest keeps the two cheapest
    val tri = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 3L))
    assert(msfRun(tri, 100L) === Set((1L, 2L, 1L), (2L, 3L, 2L)))
    // two components + self loop + parallel edges (collapse to min)
    val two = Seq((1L, 2L, 5L), (2L, 1L, 3L), (2L, 2L, 0L), (7L, 8L, 9L))
    assert(msfRun(two, 100L) === Set((1L, 2L, 3L), (7L, 8L, 9L)))
    // equal weights everywhere: the (w, a, b) order keeps the lexicographic
    // smallest spanning edges of K3 — (1,2) and (1,3), never (2,3)
    val ties = Seq((1L, 2L, 4L), (2L, 3L, 4L), (1L, 3L, 4L))
    assert(msfRun(ties, 100L) === Set((1L, 2L, 4L), (1L, 3L, 4L)))
  }

  test("msf: distributed == driver Kruskal at threshold 0, two partitionings, and matches the brute-force minimum weight") {
    val rnd = new scala.util.Random(177)
    // tiny graph for the exponential definitional check
    val tiny = (1 to 12).map(_ => (rnd.nextInt(7).toLong + 1L,
      rnd.nextInt(7).toLong + 1L, rnd.nextInt(9).toLong))
    val viaDriver = msfRun(tiny, 1000000L)
    val viaDistributed = msfRun(tiny, 0L)
    assert(viaDriver === viaDistributed)
    if (viaDriver.nonEmpty)
      assert(viaDriver.toSeq.map(_._3).sum === bruteMsfWeight(tiny))
    // larger pseudo-random graph, both paths, two partitionings
    val big = (1 to 400).map { i =>
      val s = if (i % 7 == 0) 0L else ((i * 31L + 7L) % 60L)
      ((i * i * 17L + 3L) % 60L, s, (i * 13L) % 20L)
    }
    val d1 = msfRun(big, 1000000L)
    assert(msfRun(big, 0L) === d1)
    assert(msfRun(big, 0L, parts = 2) === d1)
    // forest invariants: acyclic (|edges| = |nodes| - |components|) and
    // spanning (same component count as the input graph)
    val nodes = big.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).distinct
    val inComp = graft.canon.ConnectedComponents.run(
        wEdgesDf(big).select(col("src"), col("dst")))
      .select(col("component")).distinct().count()
    val outComp = graft.canon.ConnectedComponents.run(
        wEdgesDf(d1.toSeq).select(col("src"), col("dst")))
      .select(col("component")).distinct().count()
    assert(inComp === outComp)
    assert(d1.size.toLong === nodes.size.toLong - inComp)
  }

  test("msf: cutting the forest at w <= tau reproduces exact single-linkage (CC over ALL original edges <= tau)") {
    val rnd = new scala.util.Random(178)
    val es = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
      rnd.nextInt(12).toLong))
    val msf = msfRun(es, 0L)
    for (tau <- Seq(2L, 5L, 9L)) {
      val viaMsf = graft.canon.ConnectedComponents.run(
          wEdgesDf(msf.toSeq.filter(_._3 <= tau)).select(col("src"), col("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaAll = graft.canon.ConnectedComponents.run(
          wEdgesDf(es.filter(e => e._3 <= tau && e._1 != e._2))
            .select(col("src"), col("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaMsf === viaAll, s"single-linkage mismatch at tau=$tau")
    }
  }

  // ---- maximal independent set / coloring / Katz ----

  /** Inline sequential Luby twin (the SequentialTwin.q179Mis recurrence
    * restated over raw edges — independent of production's DataFrame
    * loop, shares only the Xxh64 priority, which IS the spec). */
  private def seqMis(edges: Seq[(Long, Long)], seed: Long): Set[(Long, Long)] = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    simple(edges).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a
    }
    def prio(v: Long) = (graft.functions.Xxh64.sparkChain(Seq[Any](v, seed)), v)
    val out = scala.collection.mutable.Set.empty[(Long, Long)]
    var round = 0L
    while (adj.nonEmpty) {
      round += 1
      val sel = adj.keysIterator.filter(v => adj(v).forall(u =>
        implicitly[Ordering[(Long, Long)]].lt(prio(v), prio(u)))).toSeq
      sel.foreach(v => out += ((v, round)))
      val removed = (sel ++ sel.flatMap(adj(_))).toSet
      removed.foreach(adj.remove)
      adj.valuesIterator.foreach(_ --= removed)
    }
    out.toSet
  }

  private def seqColoring(edges: Seq[(Long, Long)], seed: Long): Map[Long, Long] = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    simple(edges).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a
    }
    def prio(v: Long) = (graft.functions.Xxh64.sparkChain(Seq[Any](v, seed)), v)
    val color = scala.collection.mutable.HashMap.empty[Long, Long]
    val un = scala.collection.mutable.HashSet.empty[Long] ++ adj.keys
    while (un.nonEmpty) {
      val ready = un.iterator.filter(v =>
        adj(v).iterator.filter(un.contains).forall(u =>
          implicitly[Ordering[(Long, Long)]].lt(prio(v), prio(u)))).toSeq
      ready.foreach { v =>
        val used = adj(v).iterator.flatMap(color.get).toSet
        color(v) = Iterator.from(0).map(_.toLong).find(!used(_)).get
      }
      un --= ready
    }
    color.toMap
  }

  test("maximalIndependentSet: independent, maximal, twin-equal, partition-invariant") {
    val want = seqMis(graph, 0L)
    val adj = simple(graph)
    for (parts <- Seq(1, 7)) {
      val got = Graphs.maximalIndependentSet(edgesDf(graph, parts)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"parts=$parts")
      val mis = got.map(_._1)
      // independence: no simple edge inside the set
      assert(adj.forall { case (a, b) => !(mis(a) && mis(b)) })
      // maximality: every non-member has a member neighbor
      val nodes = adj.flatMap(e => Seq(e._1, e._2)).toSet
      (nodes -- mis).foreach { v =>
        assert(adj.exists { case (a, b) =>
          (a == v && mis(b)) || (b == v && mis(a)) }, s"node $v addable")
      }
    }
  }

  test("maximalIndependentSet: hand cases — triangle picks 1, star picks leaves or hub") {
    // triangle: exactly one member (whichever has the min priority)
    val tri = Graphs.maximalIndependentSet(
      edgesDf(Seq((1L, 2L), (2L, 3L), (1L, 3L)))).collect()
    assert(tri.length === 1)
    // star around 0: either {0} or all leaves — and it must match the twin
    val star = (1L to 6L).map(l => (0L, l))
    val got = Graphs.maximalIndependentSet(edgesDf(star)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === seqMis(star, 0L))
    val ids = got.map(_._1)
    assert(ids === Set(0L) || ids === (1L to 6L).toSet)
  }

  test("greedyColoring: proper, bounded by maxDeg+1, twin-equal, partition-invariant") {
    val want = seqColoring(graph, 0L)
    val adj = simple(graph)
    val deg = adj.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    for (parts <- Seq(1, 7)) {
      val got = Graphs.greedyColoring(edgesDf(graph, parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"parts=$parts")
      adj.foreach { case (a, b) =>
        assert(got(a) !== got(b), s"edge ($a,$b) monochromatic") }
      assert(got.values.max <= deg.values.max,
        "greedy bound: color index < maxDegree + 1")
    }
  }

  test("greedyColoring: distributed loop (threshold 0) == driver fallback, two partitionings") {
    for (parts <- Seq(1, 7)) {
      val dist = Graphs.greedyColoring(edgesDf(graph, parts),
        smallGraphThreshold = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val drv = Graphs.greedyColoring(edgesDf(graph, parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === drv, s"parts=$parts")
    }
  }

  test("greedyColoring: path 2-colors, odd cycle needs 3, K4 needs 4") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val pc = Graphs.greedyColoring(edgesDf(path)).collect()
      .map(r => r.getLong(1)).toSet
    assert(pc.subsetOf(Set(0L, 1L)) || pc.size <= 3) // greedy on a path uses <= 3
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    val cc = Graphs.greedyColoring(edgesDf(c5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet.size >= 3) // chi(C5) = 3, greedy can't beat chi
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)).foreach { case (a, b) =>
      assert(cc(a) !== cc(b)) }
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val kc = Graphs.greedyColoring(edgesDf(k4)).collect()
      .map(r => r.getLong(1)).toSet
    assert(kc === Set(0L, 1L, 2L, 3L)) // clique forces all 4, dense from 0
  }

  test("katz: hand chain and brute-force walk-count twin at two partitionings") {
    // chain 1 -> 2 -> 3, H = 2, betaDen = 4: scaled = w1*4 + w2
    val chain = Graphs.katz(edgesDf(Seq((1L, 2L), (2L, 3L))), maxHops = 2)
      .collect().map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
    assert(chain === Map(1L -> BigInt(0), 2L -> BigInt(4), 3L -> BigInt(5)))
    // brute-force DP twin over the skewed graph, H = 4
    val es = graph.filter(e => e._1 != e._2).distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    var w = nodes.map(_ -> BigInt(1)).toMap
    var acc = nodes.map(_ -> BigInt(0)).toMap
    for (h <- 1 to 4) {
      val nw = scala.collection.mutable.HashMap.empty[Long, BigInt]
      es.foreach { case (u, v) => nw(v) = nw.getOrElse(v, BigInt(0)) + w(u) }
      w = nodes.map(v => v -> nw.getOrElse(v, BigInt(0))).toMap
      val weight = BigInt(4).pow(4 - h)
      acc = nodes.map(v => v -> (acc(v) + w(v) * weight)).toMap
    }
    for (parts <- Seq(1, 7)) {
      val got = Graphs.katz(edgesDf(graph, parts), maxHops = 4).collect()
        .map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
      assert(got === acc, s"parts=$parts")
    }
  }

  // sequential batch-peel twin of densestSubgraph (same (1+eps) rule)
  private def seqDensest(edges: Seq[(Long, Long)], epsNum: Long = 1L,
                         epsDen: Long = 10L): (Set[Long], Long, Long) = {
    var g = simple(edges)
    var nodes = g.flatMap(p => Seq(p._1, p._2))
    var best = nodes
    var bestE = BigInt(g.size); var bestV = BigInt(nodes.size)
    while (nodes.nonEmpty) {
      val (e, v) = (BigInt(g.size), BigInt(nodes.size))
      if (e * bestV > bestE * v) { best = nodes; bestE = e; bestV = v }
      val deg = scala.collection.mutable.HashMap.empty[Long, Long]
      g.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1 }
      val rhs = 2 * e * (epsDen + epsNum)
      val doomed = nodes.filter(n =>
        BigInt(deg.getOrElse(n, 0L)) * v * epsDen <= rhs)
      nodes = nodes -- doomed
      g = g.filter { case (a, b) => !doomed(a) && !doomed(b) }
    }
    (best, bestV.toLong, bestE.toLong)
  }

  test("densestSubgraph: K5 with a pendant path — peel strips the path, keeps the clique") {
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSeq
    val g = k5 ++ Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val got = Graphs.densestSubgraph(edgesDf(g)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === (1L to 5L).map(id => (id, 5L, 10L)).toSet)
    // a pure clique reports itself
    val self = Graphs.densestSubgraph(edgesDf(k5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(self === (1L to 5L).map(id => (id, 5L, 10L)).toSet)
  }

  test("densestSubgraph: distributed == driver at threshold 0, two partitionings, twin-equal") {
    val (bn, bv, be) = seqDensest(graph)
    val want = bn.map(id => (id, bv, be))
    // density of the answer must be >= the full graph's (sanity of best-tracking)
    val e0 = simple(graph); val v0 = e0.flatMap(p => Seq(p._1, p._2)).size
    assert(BigInt(be) * v0 >= BigInt(e0.size) * bv)
    for (parts <- Seq(1, 7); thr <- Seq(0L, Graphs.SmallGraphThreshold)) {
      val got = Graphs.densestSubgraph(edgesDf(graph, parts),
          smallGraphThreshold = thr).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"parts=$parts thr=$thr")
    }
  }

  // brute-force 4-clique participation (no orientation — every 4-subset)
  private def seqFourCliques(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = simple(edges)
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.distinct
    val adj = nodes.map(n =>
      n -> e.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }.toSet).toMap
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => counts(n) = 0L)
    for {
      Seq(w, x, y, z) <- nodes.sorted.combinations(4)
      if adj(w)(x) && adj(w)(y) && adj(w)(z) &&
         adj(x)(y) && adj(x)(z) && adj(y)(z)
    } { counts(w) += 1; counts(x) += 1; counts(y) += 1; counts(z) += 1 }
    counts.toMap
  }

  test("fourCliques: K4 counts once each, K5 counts C(4,3), triangle and diamond count zero") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val g4 = Graphs.fourCliques(edgesDf(k4)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g4 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSeq
    val g5 = Graphs.fourCliques(edgesDf(k5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g5 === (1L to 5L).map(_ -> 4L).toMap) // C(4,3) = 4 per node
    val tri = Graphs.fourCliques(edgesDf(Seq((1L, 2L), (2L, 3L), (1L, 3L))))
      .collect().map(r => r.getLong(1)).toSet
    assert(tri === Set(0L))
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val gd = Graphs.fourCliques(edgesDf(diamond)).collect()
      .map(r => r.getLong(1)).toSet
    assert(gd === Set(0L)) // two triangles sharing an edge, no 4th edge
  }

  test("fourCliques: brute-force twin on the skewed graph at two partitionings") {
    val want = seqFourCliques(graph)
    for (parts <- Seq(1, 7)) {
      val got = Graphs.fourCliques(edgesDf(graph, parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"parts=$parts")
    }
  }

  // ---- triadicClosures (temporal triangle formation) ----

  private def tedgesDf(edges: Seq[(Long, Long, Long)], parts: Int = 5) = {
    import spark.implicits._
    edges.toDF("src", "dst", "ts").repartition(parts)
  }

  /** Naive twin: per-edge min ts, then unordered triple scan. */
  private def seqClosures(edges: Seq[(Long, Long, Long)])
      : Set[(Long, Long, Long, Long, Long)] = {
    val fts = edges.filter(e => e._1 != e._2)
      .groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .map { case (k, xs) => k -> xs.map(_._3).min }
    val nodes = fts.keySet.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    (for {
      Seq(x, y, z) <- nodes.combinations(3)
      ts <- Seq(Seq(fts.get((x, y)), fts.get((x, z)), fts.get((y, z))))
      if ts.forall(_.isDefined)
      v = ts.flatten
    } yield (x, y, z, v.max, v.max - v.min)).toSet
  }

  test("triadicClosures: hand case — formed at the LAST edge's FIRST observation") {
    // triangle 1-2-3: edge (1,2) seen at 10 then again at 2 (min 2),
    // (1,3) at 5, (2,3) at 9 -> formed at max(2,5,9)=9, span 7
    val es = Seq((1L, 2L, 10L), (2L, 1L, 2L), (1L, 3L, 5L), (2L, 3L, 9L),
      (3L, 9L, 1L)) // pendant edge: no triangle
    val got = Graphs.triadicClosures(tedgesDf(es)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === Set((1L, 2L, 3L, 9L, 7L)))
  }

  test("triadicClosures: naive twin on the skewed graph with timestamps at two partitionings") {
    val tes = graph.zipWithIndex.map { case ((s, d), i) =>
      (s, d, (i * 37L + 5L) % 1000L)
    }
    val want = seqClosures(tes)
    for (parts <- Seq(1, 7)) {
      val got = Graphs.triadicClosures(tedgesDf(tes, parts)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got === want, s"parts=$parts")
    }
  }

  // ---- butterflies (bipartite 2x2 bicliques) ----

  private def bipDf(edges: Seq[(String, Long)], parts: Int = 5) = {
    import spark.implicits._
    edges.toDF("l", "r").repartition(parts)
  }

  /** Naive butterfly enumeration: every (u1 < u2, x < y) with all four
    * incidences present, credited to x and y — no wedge formula. */
  private def seqButterflies(edges: Seq[(String, Long)]): Map[Long, Long] = {
    val e = edges.distinct.toSet
    val ls = e.map(_._1).toSeq.sorted
    val rs = e.map(_._2).toSeq.sorted
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    rs.foreach(counts(_) = 0L)
    for {
      Seq(u1, u2) <- ls.combinations(2)
      Seq(x, y) <- rs.combinations(2)
      if e((u1, x)) && e((u1, y)) && e((u2, x)) && e((u2, y))
    } { counts(x) += 1; counts(y) += 1 }
    counts.toMap
  }

  test("butterflies: hand cases — K(2,3) gives 2 per entity, a 4-cycle 1, a wedge 0") {
    // K_{2,3}: 3 entity pairs each sharing both pages -> C(2,2)=1 butterfly
    // per pair, each entity in 2 pairs
    val k23 = for { u <- Seq("u1", "u2"); r <- Seq(1L, 2L, 3L) } yield (u, r)
    val got = Graphs.butterflies(bipDf(k23)).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // 4-cycle u1-x-u2-y: exactly one butterfly
    val c4 = Seq(("u1", 1L), ("u1", 2L), ("u2", 1L), ("u2", 2L))
    val gc = Graphs.butterflies(bipDf(c4)).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    assert(gc === Map(1L -> 1L, 2L -> 1L))
    // wedge (one page, two entities): zero butterflies, zeros present
    val w = Seq(("u1", 1L), ("u1", 2L))
    val gw = Graphs.butterflies(bipDf(w)).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    assert(gw === Map(1L -> 0L, 2L -> 0L))
  }

  test("butterflies: naive-enumeration twin on a skewed incidence at two partitionings") {
    // skewed: page p0 carries many entities, entity 0 sits on many pages,
    // plus duplicates the op must collapse
    val inc: Seq[(String, Long)] = (0 until 240).map { i =>
      val p = if (i % 4 == 0) "p0" else s"p${(i * 13 + 5) % 20}"
      val r = if (i % 7 == 0) 0L else (i * 31L + 3L) % 25L
      (p, r)
    } ++ Seq(("p1", 1L), ("p1", 1L))
    val want = seqButterflies(inc)
    for (parts <- Seq(1, 7)) {
      val got = Graphs.butterflies(bipDf(inc, parts)).collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
      assert(got === want, s"parts=$parts")
    }
    val (dropped, _) = Dedup.lastDropReport("butterflies")
    assert(dropped === 0L)
  }

  test("butterflies: maxLeftDegree cap drops hot pages LOUDLY, not silently") {
    val inc = (1L to 10L).map(r => ("hub", r)) ++
      Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
    // cap below the hub's degree: hub excluded, report populated, the
    // a/b butterfly on {1,2} survives
    val got = Graphs.butterflies(bipDf(inc), maxLeftDegree = 5L).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    assert(got(1L) === 1L && got(2L) === 1L)
    assert(Dedup.lastDropReport("butterflies") === ((1L, 10L)))
    // capped run loses the hub's entities from the universe too (they have
    // no other incidence): ids 3..10 absent
    assert(!got.contains(3L))
  }

  // ---- topoLayers (DAG longest-path layering, Kahn peel) ----

  test("topoLayers: diamond + chain + isolated node — longest-path layers") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val got = Graphs.topoLayers(edges, nodes)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3, 9L -> 0))
  }

  test("topoLayers: the LONGEST incoming path sets the layer (a skip edge never shortens it)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val got = Graphs.topoLayers(edges, Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("topoLayers: cycles and self-loops fail LOUDLY on both paths") {
    import spark.implicits._
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val e1 = intercept[IllegalArgumentException] {
      Graphs.topoLayers(cyc, nodes).collect()
    }
    assert(e1.getMessage.contains("cycle"))
    val e2 = intercept[IllegalArgumentException] {
      Graphs.topoLayers(cyc, nodes, smallGraphThreshold = 0L).collect()
    }
    assert(e2.getMessage.contains("cycle"))
    val e3 = intercept[IllegalArgumentException] {
      Graphs.topoLayers(Seq((1L, 1L)).toDF("src", "dst"),
        Seq(1L).toDF("id")).collect()
    }
    assert(e3.getMessage.contains("self-loop"))
  }

  test("topoLayers: distributed == driver at threshold 0 on a pseudo-random DAG, two partitionings") {
    import spark.implicits._
    // deterministic pseudo-random DAG: candidate edges oriented low -> high
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if (a * 1103515245L + b * 12345L) % 7L == 0L
    } yield (a, b)).toDF("src", "dst")
    val nodes = (0L until 40L).map(identity).toDF("id")
    val drv = Graphs.topoLayers(edges, nodes).as[(Long, Int)].collect().toMap
    for (parts <- Seq(1, 7)) {
      val dist = Graphs.topoLayers(edges.repartition(parts), nodes,
        smallGraphThreshold = 0L).as[(Long, Int)].collect().toMap
      assert(dist === drv, s"parts=$parts")
    }
    assert(drv.size === 40 && drv.values.min === 0)
  }
}
