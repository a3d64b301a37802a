package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Adaptive

/**
 * DataFrame-native connected components for entity canonicalization:
 * the alternating large-star / small-star algorithm (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14) — the published
 * O(log n)-round method that scales to web graphs, implemented with plain
 * shuffles (no GraphX/RDDs, per input_hint "no RDD unless forced").
 *
 * Input: edges (src: long, dst: long), undirected. Output: (id, component)
 * where component = min node id of the connected component.
 *
 * Every iteration `localCheckpoint`s the edge set — iterative plans
 * otherwise accumulate lineage until planning itself dominates
 * (SURVEY.md §7 "CC convergence + checkpoint").
 */
object ConnectedComponents {

  /** large-star: connect every neighbor v > u to min(N(u) ∪ {u}).
    *
    * PAIR-EMISSION form (the published algorithm's shape): the per-node
    * minimum is a plain `min` aggregate (map-side partial, one long per
    * node) joined back to the edge list — no `collect_set`, so a celebrity
    * node's neighborhood never materializes in one aggregation buffer. A
    * 100k-degree hub costs a wide join partition (AQE-splittable), not an
    * OOM'd array. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val und = undirect(edges)
    val mins = und.groupBy(col("a"))
      .agg(min(col("b")).as("minNbr"))
      .select(col("a"), least(col("a"), col("minNbr")).as("m"))
    und.join(mins, Seq("a"))
      .filter(col("b") > col("a"))
      .select(col("b").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** small-star: connect every neighbor v <= u (and u) to their min —
    * same pair-emission shape as largeStar (min aggregate + join back;
    * the node's own (a, m) edge comes straight off the aggregate). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val und = undirect(edges).filter(col("b") <= col("a"))
    // b <= a throughout, so min(N(u) ∪ {u}) = min(b)
    val mins = und.groupBy(col("a")).agg(min(col("b")).as("m"))
    und.join(mins, Seq("a"))
      .select(col("b").as("v"), col("m"))
      .union(mins.select(col("a").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  private def undirect(edges: DataFrame): DataFrame = {
    edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /**
   * Run to convergence (edge set stable) or maxIter. Returns the node ->
   * component mapping (component = min id reachable).
   *
   * ADAPTIVE SMALL-GRAPH PATH: dedup/alias edge sets are usually tiny
   * relative to the corpus (pairs of near-duplicates, not the corpus
   * itself). At or below `smallGraphThreshold` distinct edges the exact
   * union-find runs on the driver in one pass ([[graft.core.Adaptive]]) —
   * the AQE-broadcast analog for CC, saving ~2 shuffle rounds x O(log n)
   * iterations of fixed job overhead. Above it, the alternating-star
   * iteration runs distributed. Both produce the identical min-id
   * labeling (spec-tested against each other and GraphX). The threshold
   * bounds driver memory explicitly (the default 10^6 edges is ~16 MB of
   * long pairs); pass 0 to force the distributed path.
   */
  def run(edgesIn: DataFrame, maxIter: Int = 20,
          smallGraphThreshold: Long = Adaptive.SmallGraphThreshold): DataFrame = {
    val simple = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    Adaptive.small(simple, smallGraphThreshold) { rows =>
      runDriverUnionFind(edgesIn.sparkSession, Adaptive.pairs(rows))
    } { e0 =>
      var edges = e0
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val afterLarge = largeStar(edges).localCheckpoint(true)
        val afterSmall = smallStar(afterLarge).localCheckpoint(true)
        // convergence: star-graph fixpoint — edge multiset unchanged
        val before = fingerprint(edges)
        val after = fingerprint(afterSmall)
        edges = afterSmall
        converged = before == after
        iter += 1
      }
      val nodes = undirect(edgesIn.select(col("src").cast("long"), col("dst").cast("long")))
        .select(col("a").as("id")).distinct()
      // after convergence every edge points v -> min(component); nodes that are
      // minima have no outgoing edge — left-join and default to self.
      nodes.join(edges.withColumnRenamed("src", "id").withColumnRenamed("dst", "component"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    }
  }

  /** Exact driver-side union-find over a small edge set (see `run`'s
    * smallGraphThreshold): ITERATIVE find (walk to root, then one
    * compression pass — no recursion, so a path-shaped edge set at the
    * threshold cannot overflow the stack) with union-by-size (trees stay
    * O(log n) deep even before compression). The component label is still
    * the MIN node id — computed per root afterwards, so the union
    * heuristic is free to pick either root. Same labeling contract as the
    * distributed path; chain-at-threshold exercised in
    * ConnectedComponentsSpec. */
  private def runDriverUnionFind(spark: SparkSession, pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val sz = scala.collection.mutable.HashMap.empty[Long, Int]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        val (sa, sb) = (sz.getOrElse(ra, 1), sz.getOrElse(rb, 1))
        val (big, small) = if (sa >= sb) (ra, rb) else (rb, ra)
        parent(small) = big
        sz(big) = sa + sb
      }
    }
    val nodes = pairs.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val compMin = nodes.groupBy(find).map { case (root, ns) => root -> ns.min }
    nodes.toSeq.map(id => (id, compMin(find(id)))).toDF("id", "component")
  }

  /** Order-insensitive multiset fingerprint of the edge set (sum of row
    * hashes + count) — one cheap agg per iteration. */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(
      bit_xor(xxhash64(col("src"), col("dst"))).as("h"), // XOR-fold: order-insensitive, overflow-free
      count(lit(1)).as("c")).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  /**
   * INCREMENTAL maintenance: fold a delta edge batch into an existing
   * (id, component) labeling without ever re-reading historical edges —
   * the canonicalization analog of [[graft.kg.Triples.upsertFacts]].
   *
   * Why it is exact: a valid labeling (component = min member id, the
   * contract [[run]] emits) contracts each component to a STAR around its
   * minimum — connectivity-equivalent to the full historical edge set,
   * and carrying every member id, so minima of merged components are
   * preserved. CC over (stars of AFFECTED components ∪ delta) therefore
   * equals CC over (all history ∪ delta) on the affected part, and
   * untouched components pass through by anti-join, never recomputed.
   *
   * Per-batch cost at 100 TB: proportional to |delta| + |members of
   * components the delta touches| — NOT to the edge history (dup-pair /
   * alias edge logs grow without bound; the label table is one row per
   * entity). The two semi/anti-joins on `component` are 8-byte-key
   * shuffles of the label table; the CC recursion runs on the contracted
   * star graph, which converges in O(1) rounds when deltas are small.
   *
   * `upsertLabels(run(e1), e2) == run(e1 ∪ e2)` — associativity proven
   * end-to-end by q88's from-scratch DuckDB transitive-closure oracle and
   * ConnectedComponentsSpec's multi-batch folds.
   *
   * @param labels existing labeling (id, component), component = min id
   *               of its component (both castable to long)
   * @param deltaIn new edges (src, dst); self-loops/duplicates dropped
   */
  def upsertLabels(labels: DataFrame, deltaIn: DataFrame,
                   smallGraphThreshold: Long = Adaptive.SmallGraphThreshold): DataFrame = {
    val delta = deltaIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val lab = labels.select(col("id").cast("long"), col("component").cast("long"))
    val endpoints = delta.select(col("src").as("id"))
      .union(delta.select(col("dst").as("id"))).distinct()
    val touched = lab.join(endpoints, Seq("id"), "left_semi")
      .select(col("component")).distinct().localCheckpoint(true)
    // every member of a touched component rides into the contracted graph
    // as a star edge (the component minimum itself appears as a dst, or —
    // for singleton components — as a delta endpoint)
    val stars = lab.join(touched, Seq("component"), "left_semi")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("src"), col("component").as("dst"))
    val merged = run(stars.unionAll(delta), smallGraphThreshold = smallGraphThreshold)
    lab.join(touched, Seq("component"), "left_anti")
      .select(col("id"), col("component"))
      .unionAll(merged)
  }
}
