package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV sketch aggregation result: the cardinality estimate, how many
  * minima the sketch holds, and the minima themselves (original xxhash64
  * values in unsigned-ascending order) so sketches can be re-merged. */
final case class KmvResult(est: Long, n_kept: Int, sketch: Array[Long])

/**
 * Mergeable distinct-count sketches: K-Minimum-Values (Bar-Yossef et al.
 * 2002, the bottom-k estimator) over `xxhash64` keys.
 *
 * Why KMV and not HyperLogLog: Spark's `approx_count_distinct` is HLL++,
 * but its binary sketch is engine-internal — it cannot be cross-checked
 * against an independent sequential implementation bit-for-bit, and its
 * estimate depends on float bias-correction tables. KMV is all-integer:
 * the sketch is literally the k smallest distinct hash values (a set — no
 * order dependence), and the estimator `(k-1) * 2^64 / kth_min` computed
 * in BigInt is exactly reproducible anywhere. That makes it the one
 * distinct-count sketch a golden twin can verify EXACTLY, while keeping
 * the properties that matter at 100 TB:
 *
 *  - O(k) state per group (k longs), independent of cardinality — a
 *    distinct-url count over 10^12 pages costs 512 bytes per group at
 *    k = 64, vs an unbounded `count_distinct` hash table;
 *  - fully mergeable (union + truncate), so map-side partial aggregation
 *    applies and sketches persisted per snapshot/partition can be
 *    combined later without touching raw data (the incremental-KG use:
 *    a fact table carries a sketch column instead of a url set);
 *  - relative standard error ~ 1/sqrt(k-2) (~12.7% at k = 64), and EXACT
 *    below saturation: until a group has seen k distinct keys the
 *    estimate IS the true distinct count.
 *
 * Internal buffer representation: hashes are stored FLIPPED
 * (`h ^ Long.MinValue`) so signed ascending order equals unsigned order
 * of the originals; the buffer is a sorted, duplicate-free Array[Long]
 * of at most k elements. `finish` unflips.
 *
 * Registered via `functions.udaf` (a TypedImperativeAggregate under
 * ObjectHashAggregate): partial reduce runs map-side, only k-long buffers
 * shuffle.
 */
object Sketches {

  /** Unsigned value of an original hash as BigInt (flipped f = h ^ MinValue
    * satisfies unsigned(h) = f + 2^63). */
  private def unsignedOfFlipped(f: Long): BigInt = BigInt(f) + (BigInt(1) << 63)

  /** KMV estimate from a flipped, sorted, deduped sketch of size n:
    * exact n below saturation, else (k-1) * 2^64 / kth_min, floored —
    * all-integer, clamped to Long range. */
  private[ops] def estimate(flipped: Array[Long], k: Int): Long =
    if (flipped.length < k) flipped.length.toLong
    else {
      val kth = unsignedOfFlipped(flipped(k - 1)).max(BigInt(1))
      ((BigInt(k - 1) << 64) / kth).min(BigInt(Long.MaxValue)).toLong
    }

  private def finishFlipped(buf: Array[Long], k: Int): KmvResult =
    KmvResult(estimate(buf, k), buf.length, buf.map(_ ^ Long.MinValue))

  /** Insert one flipped value into a sorted bounded buffer (skip if
    * duplicate or not below the current kth minimum). O(k) copy per
    * ACCEPTED insert — accepts become rare once the sketch saturates
    * (probability ~ k/n for the n-th distinct key). */
  private def insertFlipped(buf: Array[Long], f: Long, k: Int): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(buf, f)
    if (pos >= 0) buf // already present
    else {
      val ins = -pos - 1
      if (ins >= k) buf // not among the k smallest
      else {
        val n = math.min(buf.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = f
        System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
        out
      }
    }
  }

  /** Sorted-merge two flipped buffers, dedup (equal values emerge
    * consecutively from the merge order), truncate to k. */
  private def mergeFlipped(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length) { val x = a(i); i += 1; x }
        else if (i >= a.length) { val x = b(j); j += 1; x }
        else if (a(i) <= b(j)) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Sketch raw 64-bit hash keys (one per row). */
  final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], KmvResult] {
    require(k >= 2, "k must be >= 2")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], h: Long): Array[Long] =
      insertFlipped(buf, h ^ Long.MinValue, k)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      mergeFlipped(a, b, k)
    override def finish(buf: Array[Long]): KmvResult = finishFlipped(buf, k)
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[KmvResult] = Encoders.product[KmvResult]
  }

  /** Merge already-built sketches (arrays of ORIGINAL hash values, as
    * KmvResult.sketch emits) — the snapshot-combination path. */
  final class KmvMergeAgg(k: Int) extends Aggregator[Array[Long], Array[Long], KmvResult] {
    require(k >= 2, "k must be >= 2")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], sketch: Array[Long]): Array[Long] = {
      val flipped = sketch.map(_ ^ Long.MinValue)
      java.util.Arrays.sort(flipped)
      mergeFlipped(buf, flipped, k)
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      mergeFlipped(a, b, k)
    override def finish(buf: Array[Long]): KmvResult = finishFlipped(buf, k)
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[KmvResult] = Encoders.product[KmvResult]
  }

  /**
   * Per-group distinct-count estimates for `keyCol` (any expression;
   * hashed with xxhash64 seed 42) plus a global "ALL" row computed BY
   * MERGING the per-group sketches — never re-reading the data. The
   * equality of that merged row with a direct global sketch is the
   * mergeability proof (SketchesSpec); the board oracle checks both
   * levels against the independent sequential twin.
   *
   * Output: (group, n_rows, est_distinct, n_kept, kth_hash) — scalar
   * columns only, so the fixture diff is engine-neutral.
   */
  def distinctSketch(df: DataFrame, groupCol: String, keyCol: String,
                     k: Int = 64): DataFrame = {
    val kmv = udaf(new KmvAgg(k))
    val kmvMerge = udaf(new KmvMergeAgg(k))
    val perGroup = df
      .withColumn("__h", xxhash64(col(keyCol)))
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rows"), kmv(col("__h")).as("r"))
    val persisted = perGroup.persist()
    val global = persisted
      .agg(sum(col("n_rows")).as("n_rows"), kmvMerge(col("r.sketch")).as("r"))
      .select(lit("ALL").as("group"), col("n_rows"), col("r"))
    val out = persisted.select(col("group"), col("n_rows"), col("r"))
      .unionByName(global)
      .select(col("group"), col("n_rows"),
        col("r.est").as("est_distinct"), col("r.n_kept").as("n_kept"),
        element_at(col("r.sketch"), col("r.n_kept")).as("kth_hash"))
      .localCheckpoint(true)
    persisted.unpersist()
    out
  }

  /** Misra–Gries candidate summary: tokens sorted ascending with their
    * (order-dependent, lower-bound) surviving counts — a SUPERSET of
    * every token with true count > N/(k+1); the counts are diagnostics,
    * never answers (see [[heavyHitters]] for the deterministic use). */
  final case class MgCandidates(tokens: Array[String], lbs: Array[Long])

  /**
   * MISRA–GRIES frequent-items sketch (Misra & Gries 1982; merge rule
   * from Agarwal et al., "Mergeable Summaries", PODS 2012): at most `k`
   * counters; a new token beyond capacity decrements ALL counters
   * (dropping zeros), a merge sums counterwise then subtracts the
   * (k+1)-th largest count from every survivor. Each decrement event
   * retires k+1 units of total count, so across any reduce/merge tree
   * at most N/(k+1) is ever subtracted from a token's true count —
   * every token with true count > N/(k+1) SURVIVES with a positive
   * counter, regardless of row order or partitioning. The surviving
   * COUNTS do depend on order (they are lower bounds, not estimates);
   * only the GUARANTEED SUPERSET property is deterministic, which is
   * why [[heavyHitters]] re-counts exactly instead of reporting them.
   *
   * State: <= k (token, count) pairs — O(k) per group forever. Cost:
   * a decrement event is an O(k) map rebuild but happens at most once
   * per k+1 input rows (amortized O(1) per row).
   */
  final class MgAgg(k: Int)
      extends Aggregator[String, Map[String, Long], MgCandidates] {
    require(k >= 1, "k must be >= 1")
    override def zero: Map[String, Long] = Map.empty
    override def reduce(buf: Map[String, Long], tok: String): Map[String, Long] =
      buf.get(tok) match {
        case Some(c) => buf.updated(tok, c + 1L)
        case None if buf.size < k => buf.updated(tok, 1L)
        case None => // decrement-all: retires k+1 units (k counters + this row)
          buf.iterator.map { case (t, c) => (t, c - 1L) }
            .filter(_._2 > 0L).toMap
      }
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c) }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest count from all, keep positives
        val cut = sum.valuesIterator.toArray.sortBy(-_).apply(k)
        sum.iterator.map { case (t, c) => (t, c - cut) }
          .filter(_._2 > 0L).toMap
      }
    }
    override def finish(buf: Map[String, Long]): MgCandidates = {
      val sorted = buf.toArray.sortBy(_._1)
      MgCandidates(sorted.map(_._1), sorted.map(_._2))
    }
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[MgCandidates] =
      Encoders.product[MgCandidates]
  }

  /**
   * EXACT HEAVY HITTERS at unbounded scale — the classic two-pass
   * composition: pass 1 runs [[MgAgg]] over the token stream (ONE
   * global aggregation whose partial buffers are <= k pairs — the
   * shuffle carries k tokens per task, never the stream) yielding a
   * guaranteed SUPERSET of every token with count > N/(k+1); pass 2
   * re-scans and counts ONLY the <= k candidates exactly (broadcast
   * semi-join, one partial-agg count) and keeps those with
   * `cnt * k > N` (strictly more than N/k of the stream). The output
   * is EXACT and deterministic — the order-dependent MG counts never
   * leave pass 1 — so a plain SQL oracle (GROUP BY + HAVING against
   * the total) matches bit-for-bit while the distributed path never
   * materializes the full token histogram. Guarantee: N/k > N/(k+1),
   * so no qualifying token can be missing from the candidate set.
   *
   * @param tokensIn one `token` string column; scanned TWICE (the
   *                 honest price of exactness — a sketch-only answer
   *                 would be order-dependent).
   * @return (token, cnt) for every token with cnt * k > N.
   */
  def heavyHitters(tokensIn: DataFrame, k: Int = 100): DataFrame = {
    val toks = tokensIn.select(col("token").cast("string"))
    val mg = udaf(new MgAgg(k))
    val pass1 = toks.agg(mg(col("token")).as("c"),
      count(lit(1)).as("n")).localCheckpoint(true)
    val total = pass1.select(col("n"))
    val cands = pass1.select(explode(col("c.tokens")).as("token"))
    toks.join(broadcast(cands), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(k.toLong) > col("n"))
      .select(col("token"), col("cnt"))
  }

  /**
   * COUNT-MIN sketch (Cormode & Muthukrishnan 2005) as a typed
   * Aggregator — `depth` rows of `width` counters; token t increments
   * row d at `floorMod(xxhash64_chain(t, d), width)` (the Spark
   * xxhash64 chain, so [[graft.functions.Xxh64]] twins reproduce the
   * cells exactly). Counters are SUMS, so unlike [[MgAgg]] the sketch
   * itself is order- and partition-invariant — bit-identical buffers
   * at any parallelism — and the point estimate min_d(cell) is a
   * deterministic OVERESTIMATE (>= true count, always; <= true +
   * eps*N with prob 1-delta at width = e/eps, depth = ln(1/delta)).
   * State: depth*width longs per group, forever.
   */
  final class CmAgg(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Array[Long]] {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    override def zero: Array[Long] = new Array[Long](depth * width)
    override def reduce(buf: Array[Long], tok: String): Array[Long] = {
      var d = 0
      while (d < depth) {
        val idx = java.lang.Math.floorMod(
          graft.functions.Xxh64.sparkChain(Seq[Any](tok, d)), width.toLong).toInt
        buf(d * width + idx) += 1L
        d += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /**
   * Count-Min ERROR PROFILE over the stream's own top tokens: builds
   * the sketch in ONE pass (partial buffers merge counterwise —
   * depth*width longs per task), takes the exact top-`topK` tokens by
   * (count desc, token asc) via TakeOrdered (k-bounded, no global
   * sort), and reports each probe's exact count beside its CM
   * estimate. The estimate is evaluated ENGINE-SIDE — the sketch
   * (one bounded array artifact, the codebook convention) becomes a
   * literal and `least(element_at...)` over the depth cells runs as
   * codegen'd expressions, so the probe pass is map-only. Output is
   * deterministic (sums + exact ranks); `cm_est >= cnt` ALWAYS —
   * the spec and the golden twin both assert it.
   *
   * @return (token, cnt, cm_est) for the exact top-`topK` tokens.
   */
  def cmTopEstimates(tokensIn: DataFrame, depth: Int = 4, width: Int = 512,
                     topK: Int = 50): DataFrame = {
    val toks = tokensIn.select(col("token").cast("string")).localCheckpoint(true)
    val cm = udaf(new CmAgg(depth, width))
    val sketch: Array[Long] =
      toks.agg(cm(col("token"))).head().getSeq[Long](0).toArray
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(topK)
    val cells = (0 until depth).map { d =>
      element_at(typedlit(sketch),
        (lit(d * width) + pmod(xxhash64(col("token"), lit(d)),
          lit(width.toLong)) + lit(1)).cast("int"))
    }
    top.withColumn("cm_est", least(cells: _*))
  }

  /**
   * CROSS-CORPUS OVERLAP PROFILE from per-group KMV sketches: one
   * distributed pass sketches the distinct `keyCol` values of every
   * `groupCol` slice (k longs per group — the [[KmvAgg]] state bound),
   * then every unordered group pair gets the classic bottom-k set
   * statistics (Beyer et al., SIGMOD 2007): the k-smallest-of-union
   * sketch, how many of its members appear in BOTH sides (`n_common` —
   * the unbiased Jaccard numerator over the union sample), the exact
   * integer `jaccard_permille = n_common*1000 div union_kept`, the three
   * deterministic cardinality estimates, and the inclusion-exclusion
   * intersection estimate (may round below zero for disjoint slices —
   * reported as computed, never clamped, so the twin math is identical).
   *
   * This is the corpus-contamination measure at scale: exact cross-slice
   * distinct overlap is a full shuffle join of every slice's key set,
   * while this touches each key once and reduces to |groups|·k longs —
   * the pair math is a driver-side bounded artifact (the codebook
   * convention), |groups|^2/2 tuples over arrays of k Longs. EXACT below
   * saturation: while both slices hold < k distinct keys, est == true
   * distinct and n_common == true intersection size. All arithmetic is
   * integer (BigInt for the estimator) — engine-exact at any
   * partitioning, replayed bit-for-bit by the sequential twin.
   *
   * @return one row per unordered group pair (g1 < g2 as strings):
   *         (g1, g2, est_g1, est_g2, est_union, union_kept, n_common,
   *          jaccard_permille, est_intersection)
   */
  def sketchOverlap(df: DataFrame, groupCol: String, keyCol: String,
                    k: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val kmv = udaf(new KmvAgg(k))
    val perGroup = df.withColumn("__h", xxhash64(col(keyCol)))
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(kmv(col("__h")).as("r"))
    val sketches = perGroup
      .select(col("group"), col("r.est"), col("r.sketch")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(_._1)
    val rows = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield {
      val (g1, estA, sa) = sketches(i)
      val (g2, estB, sb) = sketches(j)
      // back to flipped space: signed order == unsigned order of originals
      val fa = sa.map(_ ^ Long.MinValue)
      val fb = sb.map(_ ^ Long.MinValue)
      val union = mergeFlipped(fa, fb, k)
      val aSet = fa.toSet
      val bSet = fb.toSet
      val nCommon = union.count(h => aSet(h) && bSet(h)).toLong
      val estU = estimate(union, k)
      val jacPm = if (union.isEmpty) 0L else nCommon * 1000L / union.length
      (g1, g2, estA, estB, estU, union.length.toLong, nCommon, jacPm,
        estA + estB - estU)
    }
    rows.toSeq.toDF("g1", "g2", "est_g1", "est_g2", "est_union",
      "union_kept", "n_common", "jaccard_permille", "est_intersection")
  }

  /**
   * AMS/CountSketch cells for SECOND-MOMENT (F2 = Σ_t f_t² — the
   * self-join size) estimation (Alon–Matias–Szegedy 1996 via the
   * Charikar–Chen–Farach-Colton CountSketch): depth independent rows,
   * cell[d][h_d(t)] += s_d(t) with h from the [[CmAgg]] Xxh64 chain
   * (seed d) and the ±1 sign from an INDEPENDENT chain (seed d + depth,
   * lowest bit). Cells are plain integer sums — shuffle-order-invariant,
   * counterwise-mergeable (the linear-sketch property), state depth·width
   * longs per group forever.
   */
  final class AmsAgg(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Array[Long]] {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    override def zero: Array[Long] = new Array[Long](depth * width)
    override def reduce(buf: Array[Long], tok: String): Array[Long] = {
      var d = 0
      while (d < depth) {
        val idx = java.lang.Math.floorMod(
          graft.functions.Xxh64.sparkChain(Seq[Any](tok, d)), width.toLong).toInt
        val sign =
          if ((graft.functions.Xxh64.sparkChain(Seq[Any](tok, d + depth)) & 1L) == 0L) 1L
          else -1L
        buf(d * width + idx) += sign
        d += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Median of each group's depth CountSketch row estimates (Σ_c cell²,
    * BigInt — cell ≤ n so squares reach n², far past Long), emitted as a
    * string for an overflow-proof decimal(38,0) cast downstream. Odd
    * depth required so the median is an actual row estimate. */
  private[graft] def amsMedianEstimates(cells: DataFrame, depth: Int,
                                        width: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells.as[(String, Long, Array[Long])].map { case (g, n, cs) =>
      val ests = (0 until depth).map { d =>
        var s = BigInt(0); var c = 0
        while (c < width) { val v = BigInt(cs(d * width + c)); s += v * v; c += 1 }
        s
      }.sorted
      (g, n, ests(depth / 2).toString)
    }.toDF("group", "n_rows", "est_str")
  }

  /**
   * F2 (self-join size) PROFILE per group: the exact second moment (two
   * partial-agg passes, decimal(38,0) squares) beside the one-pass
   * AMS/CountSketch median-of-rows estimate and the integer error rate —
   * the [[cmTopEstimates]] shape for the moment that prices every
   * self-join/skew decision at 100 TB (a group's F2 IS its token
   * self-join output size). The estimate's variance is F2²·2/width per
   * row; the median over `depth` (odd) rows concentrates it — geometry
   * is the caller's accuracy knob, state is depth·width longs per group
   * regardless of distinct-key count. Exact and estimate come from ONE
   * localCheckpointed token frame (one source scan), and the whole
   * output is deterministic integers — the sequential twin replays it
   * bit-for-bit.
   *
   * @return (group, n_rows, exact_f2, est_f2, err_permille) with
   *         err_permille = |est − exact|·1000 div exact (exact ≥ 1
   *         whenever the group exists).
   */
  def f2Profile(df: DataFrame, groupCol: String, keyCol: String,
                depth: Int = 5, width: Int = 256): DataFrame = {
    require(depth % 2 == 1, "depth must be odd (median of row estimates)")
    val toks = df.select(col(groupCol).cast("string").as("group"),
      col(keyCol).cast("string").as("key")).localCheckpoint(true)
    val ams = udaf(new AmsAgg(depth, width))
    val cells = toks.groupBy(col("group"))
      .agg(count(lit(1)).as("n_rows"), ams(col("key")).as("cells"))
    val est = amsMedianEstimates(cells, depth, width)
      .select(col("group"), col("n_rows"),
        col("est_str").cast("decimal(38,0)").as("est_f2"))
    val exact = toks.groupBy(col("group"), col("key"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
      .groupBy(col("group"))
      .agg(sum(col("c") * col("c")).cast("decimal(38,0)").as("exact_f2"))
    est.join(exact, "group")
      .withColumn("err_permille",
        expr("CAST(abs(est_f2 - exact_f2) * 1000 AS DECIMAL(38,0)) div exact_f2"))
      .select(col("group"), col("n_rows"), col("exact_f2"), col("est_f2"),
        col("err_permille"))
  }
}
