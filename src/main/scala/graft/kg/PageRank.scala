package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Adaptive

/**
 * Entity importance over the materialized knowledge graph: static PageRank
 * (Page et al. 1999; the GraphX `staticPageRank` recurrence) in EXACT
 * FIXED-POINT arithmetic so the distributed result is bit-identical to the
 * sequential twin regardless of partitioning or aggregation order.
 *
 * Recurrence (d = 85/100, matching GraphX's resetProb = 0.15):
 *
 *   rank_0(v)     = Scale                       // 1.0 in fixed point
 *   rank_t+1(v)   = (15 * Scale) / 100
 *                 + sum over in-edges (u, v) of (rank_t(u) * 85) div (outdeg(u) * 100)
 *
 * All terms are LONG integers and the per-edge contribution uses integer
 * `div`, so there is no float summation anywhere — a Long sum is associative
 * and commutative, which makes the shuffle-order nondeterminism of a
 * distributed aggregation invisible in the result (the same reason the
 * board's hash-family queries are cross-engine safe). The floor in `div`
 * loses < 1 fixed-point unit per edge per iteration, i.e. a relative error
 * < indeg(v) / Scale vs the real-valued recurrence — at the default
 * Scale = 1e9 that is 1e-6 even for a million-in-degree hub
 * (PageRankSpec asserts agreement with GraphX's double-precision
 * `staticPageRank` to 1e-4).
 *
 * Dangling nodes (no out-edges) simply do not emit mass, the same semantics
 * as GraphX's static implementation; their rank converges to the base term.
 *
 * Overflow bound: a node's rank is at most N * Scale (total mass fixpoint),
 * so `rank * 85` stays inside a signed 64-bit long while
 * N * Scale < 2^63 / 85 ≈ 1.08e17 — at the default Scale = 1e9 that is
 * ~1e8 nodes. For larger graphs pass a smaller `scale` (the estimate
 * degrades proportionally; at Scale = 1e6 the bound is ~1e11 nodes, well
 * past any entity vocabulary).
 *
 * Scale design (100 TB): the edge list is joined with out-degrees ONCE,
 * hash-partitioned by `src` and checkpointed; each iteration then shuffles
 * only the rank table (N rows, two longs) into that fixed partitioning plus
 * one E -> N partial-aggregated sum by `dst`. Nothing driver-side, no
 * collect; `localCheckpoint` per iteration truncates the lineage so
 * planning cost stays constant across iterations (same discipline as
 * [[graft.canon.ConnectedComponents]]).
 */
object PageRank {

  val DefaultScale = 1000000000L // 1e9 fixed-point units per 1.0 of rank

  /** Default edge bound of the driver fallback; see
    * [[graft.core.Adaptive.SmallGraphThreshold]]. */
  val SmallGraphThreshold: Long = Adaptive.SmallGraphThreshold

  /** Driver-side loop: the identical integer recurrence (equality-tested
    * against the distributed path, which protects both from drift). */
  private def driverPr(spark: org.apache.spark.sql.SparkSession,
                       rawPairs: Array[(Long, Long)], iterations: Int,
                       scale: Long, seeds: Option[Set[Long]]): DataFrame = {
    import spark.implicits._
    val edges = rawPairs.distinct
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    def isSeed(v: Long) = seeds.forall(_.contains(v))
    def base(v: Long) = if (isSeed(v)) 15L * scale / 100L else 0L
    var ranks = nodes.map(v => v -> (if (isSeed(v)) scale else 0L)).toMap
    var i = 0
    while (i < iterations) {
      val in = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (u, v) =>
        in(v) = in.getOrElse(v, 0L) + (ranks(u) * 85L) / (outdeg(u) * 100L)
      }
      ranks = nodes.map(v => v -> (base(v) + in.getOrElse(v, 0L))).toMap
      i += 1
    }
    nodes.toSeq.map(v => (v, ranks(v))).toDF("id", "rank")
  }

  /** Normalized self-loop-free edge pairs (duplicates NOT yet dropped). */
  private def normalized(edgesIn: DataFrame): DataFrame = edgesIn
    .select(col("src").cast("long"), col("dst").cast("long"))
    .filter(col("src") =!= col("dst"))

  /** Simple-digraph normalization + static adjacency (out-degree attached,
    * pre-partitioned on the join key, checkpointed once) + node table. */
  private def prepare(edgesIn: DataFrame): (DataFrame, DataFrame) = {
    val edges = normalized(edgesIn)
      .distinct()
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val adj = edges.join(outdeg, Seq("src"))
      .repartition(col("src"))
      .localCheckpoint(true)
    (nodes, adj)
  }

  /** The shared fixed-point loop. `nodes` carries per-node (id, base, init)
    * so uniform and personalized teleport are the same recurrence. */
  private def iterate(nodes: DataFrame, adj: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val nb = nodes.localCheckpoint(true)
    var ranks = nb.select(col("id"), col("init").as("rank")).localCheckpoint(true)
    var i = 0
    while (i < iterations) {
      val contribs = adj
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"),
          expr("(rank * 85L) div (outdeg * 100L)").as("c"))
      val inMass = contribs.groupBy(col("dst")).agg(sum(col("c")).as("m"))
      ranks = nb
        .join(inMass.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), (col("base") + coalesce(col("m"), lit(0L))).as("rank"))
        .localCheckpoint(true)
      i += 1
    }
    ranks
  }

  /**
   * @param edgesIn directed edges (src: long, dst: long); self-loops and
   *                duplicate edges are dropped (the KG's multigraph edges
   *                collapse to simple edges, as GraphX's `Graph.fromEdges`
   *                multigraph semantics would double-count otherwise —
   *                callers wanting weighted PR should pre-aggregate).
   * @return (id: long, rank: long) in fixed-point units of `scale`
   */
  def run(edgesIn: DataFrame, iterations: Int = 10,
          scale: Long = DefaultScale,
          smallGraphThreshold: Long = SmallGraphThreshold): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    Adaptive.small(normalized(edgesIn), smallGraphThreshold)(rows =>
      driverPr(edgesIn.sparkSession, Adaptive.pairs(rows), iterations, scale, None)) { raw =>
      val (nodes, adj) = prepare(raw)
      iterate(
        nodes.select(col("id"), lit(15L * scale / 100L).as("base"), lit(scale).as("init")),
        adj, iterations)
    }
  }

  /**
   * WEIGHTED PageRank — rank mass distributed proportionally to edge
   * WEIGHT instead of uniformly over out-edges (the multigraph gap
   * [[run]]'s scaladoc points at): with w(u,v) the weight (here:
   * mention multiplicity — evidence-weighted importance; a triple
   * asserted by 400 pages carries 400× the endorsement of a one-off),
   *
   *   rank'(v) = (15·Scale)/100
   *            + Σ_{u→v} (rank(u) · 85 · w(u,v)) div (wout(u) · 100)
   *
   * — the same all-integer fixed point as [[run]] (shuffle-order
   * invariant, bit-identical to the sequential twin), reducing to it
   * exactly when every weight is equal (spec-tested). Overflow bound:
   * maxRank · 85 · maxW < 2^63 with maxRank <= N · Scale — at
   * Scale = 1e9 that allows N · maxW up to ~10^8, and the caller drops
   * Scale a decade per decade of weight mass beyond it. The bound is
   * ENFORCED at entry (a loud require over BigInt N·scale·85·maxW), not
   * just documented.
   *
   * Same adaptive driver fallback / distributed-loop split as [[run]],
   * equality-tested at threshold 0. Duplicate (src, dst) rows pre-SUM
   * their weights; self-loops and non-positive weights drop.
   *
   * @param edgesW (src: long, dst: long, w: long)
   * @return (id: long, rank: long) in fixed-point units of `scale`
   */
  def runWeighted(edgesW: DataFrame, iterations: Int = 10,
                  scale: Long = DefaultScale,
                  smallGraphThreshold: Long = SmallGraphThreshold): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val raw = edgesW
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .filter(col("src") =!= col("dst") && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    // LOUD overflow guard (the scaladoc bound, enforced like
    // harmonicDenominator's), checked on whichever path runs: any node's
    // rank is bounded by the total initial mass N*scale (the recurrence
    // never creates mass), so the contribution product rank*85*w stays
    // inside Long iff N*scale*85*maxW < 2^63. Checked in BigInt.
    def requireInRange(n: Long, maxW: Long): Unit =
      require(BigInt(n) * scale * 85 * maxW < BigInt(Long.MaxValue),
        s"runWeighted overflow: n=$n nodes * scale=$scale * 85 * maxW=$maxW " +
          "exceeds Long range — drop `scale` a decade per decade of weight mass")
    Adaptive.small(raw, smallGraphThreshold) { rows =>
      val spark = edgesW.sparkSession
      import spark.implicits._
      val edges = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      if (edges.nonEmpty) requireInRange(nodes.length, edges.map(_._3).max)
      val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      var ranks = nodes.map(v => v -> scale).toMap
      val base = 15L * scale / 100L
      var i = 0
      while (i < iterations) {
        val in = scala.collection.mutable.HashMap.empty[Long, Long]
        edges.foreach { case (u, v, w) =>
          in(v) = in.getOrElse(v, 0L) + (ranks(u) * 85L * w) / (wout(u) * 100L)
        }
        ranks = nodes.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
        i += 1
      }
      nodes.toSeq.map(v => (v, ranks(v))).toDF("id", "rank")
    } { raw =>
      val nodes = raw.select(col("src").as("id"))
        .union(raw.select(col("dst").as("id"))).distinct()
        .localCheckpoint(true)
      val mwRow = raw.agg(max(col("w"))).head()
      if (!mwRow.isNullAt(0)) requireInRange(nodes.count(), mwRow.getLong(0))
      val wout = raw.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      val adj = raw.join(wout, Seq("src"))
        .repartition(col("src")).localCheckpoint(true)
      val nb = nodes.select(col("id"), lit(15L * scale / 100L).as("base"),
        lit(scale).as("init")).localCheckpoint(true)
      var ranks = nb.select(col("id"), col("init").as("rank")).localCheckpoint(true)
      var i = 0
      while (i < iterations) {
        val contribs = adj
          .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst"),
            expr("(rank * 85L * w) div (wout * 100L)").as("c"))
        val inMass = contribs.groupBy(col("dst")).agg(sum(col("c")).as("m"))
        ranks = nb
          .join(inMass.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"), (col("base") + coalesce(col("m"), lit(0L))).as("rank"))
          .localCheckpoint(true)
        i += 1
      }
      ranks
    }
  }

  /**
   * Personalized PageRank: teleport mass lands ONLY on the seed set
   * (entity salience relative to a topic). Same integer recurrence, but
   * base/init are per-node: seeds start at `scale` and receive the
   * 15% teleport term; non-seeds start at 0 and accumulate only walked
   * mass. Each seed independently contributes `scale` of teleport mass
   * (divide by |seeds| * scale for the standard 1/|S| distribution — a
   * uniform rescale that keeps all integer precision). Seeds not present
   * in the edge set are ignored (no rank row — they are unreachable and
   * would hold constant base mass). The seed table is broadcast: seed
   * sets are small (a topic, a query entity list) by construction.
   */
  def runPersonalized(edgesIn: DataFrame, seeds: DataFrame, iterations: Int = 10,
                      scale: Long = DefaultScale,
                      smallGraphThreshold: Long = SmallGraphThreshold): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    Adaptive.small(normalized(edgesIn), smallGraphThreshold) { rows =>
      // the seed table is small by contract (broadcast on the scale path)
      val seedSet = seeds.select(col("id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      driverPr(edgesIn.sparkSession, Adaptive.pairs(rows), iterations, scale, Some(seedSet))
    } { raw =>
      val (nodes, adj) = prepare(raw)
      val seedIds = seeds.select(col("id").cast("long")).distinct()
        .withColumn("is_seed", lit(true))
      val marked = nodes.join(broadcast(seedIds), Seq("id"), "left")
        .select(col("id"),
          when(col("is_seed"), lit(15L * scale / 100L)).otherwise(lit(0L)).as("base"),
          when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("init"))
      iterate(marked, adj, iterations)
    }
  }

  /** Per-entity degree profile of a triple table: out/in triple counts and
    * distinct-neighbor counts in ONE pass per direction (two partial-agg
    * shuffles on 8-byte keys, full-outer stitched — no per-entity explode,
    * no window). Entities that appear only as subjects have in_* = 0 and
    * vice versa. */
  def degreeProfile(triples: DataFrame): DataFrame = {
    val out = triples.groupBy(col("subj").as("id")).agg(
      count(lit(1)).as("out_triples"),
      count_distinct(col("obj")).as("out_nbrs"))
    val in = triples.groupBy(col("obj").as("id")).agg(
      count(lit(1)).as("in_triples"),
      count_distinct(col("subj")).as("in_nbrs"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_triples"), lit(0L)).as("out_triples"),
        coalesce(col("out_nbrs"), lit(0L)).as("out_nbrs"),
        coalesce(col("in_triples"), lit(0L)).as("in_triples"),
        coalesce(col("in_nbrs"), lit(0L)).as("in_nbrs"))
  }
}
