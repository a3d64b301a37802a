package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`embeddings` table:
 * vec_id long, embedding array<float>, label int).
 *
 * - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query set
 *   against the full table; one scan, no shuffle except the final per-query
 *   top-k. The correctness baseline.
 * - `ivfTopK`: IVF-style approximate search — k-means-free deterministic
 *   coarse quantizer (centroids = a fixed stride of the data itself),
 *   vectors assigned to nearest centroid once (a fact table write at scale),
 *   queries probe `nProbe` nearest centroids and scan only those buckets:
 *   the 100 TB plan (scan cost / nlist * nProbe).
 *
 * Column-side dot products use higher-order functions (zip_with +
 * aggregate) — interpreted, not codegen'd, but still no Catalyst<->Scala
 * row conversion; the per-row assignment hot loop is a plain-JVM
 * mapPartitions kernel over the broadcast codebook.
 */
object Similarity {

  /** Spread a frame across the session's full parallelism before a
    * compute-heavy stage (the optimization guide's §2.5 input-skew
    * remedy: "one huge unsplittable file — repartition immediately after
    * the read"). The board's parquet tables arrive as ONE split, which
    * capped every cosine/ADC scan at a single core of local[32]
    * (measured: q191's whole 4M-pair cosine scan ran as ONE task); AQE
    * cannot fix it because it sizes partitions by shuffle BYTES while
    * these stages are compute-bound on small bytes. Deterministic (no
    * round-robin sort-before-repartition, no retry hazard), scale-
    * adaptive (defaultParallelism = total cores, never a tuned
    * constant), and row-set identical: every caller is
    * partition-invariant (spec-tested at multiple partitionings).
    *
    * SAME-KEY-PRUNE TRAP: the partitioning is xxhash64(keys), never the
    * raw keys. When an upstream exchange (aggregation, distinct, join)
    * already hash-partitions on the same raw keys, EnsureRequirements
    * prunes a same-key repartition as redundant, and AQE then coalesces
    * the byte-small surviving exchange to ONE task — exactly the
    * single-core collapse this call exists to prevent (measured on the
    * synthetic-media encode over a union+distinct input). */
  private[ops] def spread(df: DataFrame, keys: String*): DataFrame =
    df.repartition(
      math.max(2, df.sparkSession.sparkContext.defaultParallelism),
      xxhash64(keys.map(col): _*))

  /** Cosine similarity of two array<float> columns — the codegen'd native
    * expression (graft.functions.CosineSim). Bit-identical to `cosineHof`
    * (double accumulation in array order; parity-tested in FunctionsSpec). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** The higher-order-function formulation (interpreted — kept as the
    * in-Spark reference twin of the native expression). Cast BEFORE
    * multiplying: float32*float32 rounds to float32, while the DuckDB
    * oracle (CAST(... AS DOUBLE[])) multiplies in double — operand cast
    * makes both sides bit-identical. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (s, v) => s + v))
    dot / (na * nb)
  }

  /** Exact top-k neighbors for each query vector (query ids given by
    * `queryFilter` over the same table). Returns
    * (query_id, neighbor_id, rank) — rank 1 = most similar, self excluded.
    * Ranking is the bounded k-heap aggregate ([[TopK.rankTopK]]) — the full
    * scored set never sorts; each map task keeps k candidates per query and
    * only k-entry buffers shuffle (a per-query `row_number` window would
    * exchange every query's full candidate list to ONE task — the
    * scale-killer in the family whose point is the 10^10-vector scan). */
  def bruteForceTopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val queries = emb.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = spread(emb, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("nv")))
    TopK.rankTopK(scored, "query_id", "neighbor_id", round(col("cosine"), 9), k)
  }

  /** One coarse-quantizer centroid: id, vector, precomputed L2 norm. */
  final case class Centroid(id: Long, v: Array[Float], norm: Double)

  /** Plain-Scala cosine, double accumulation in array order — the scalar
    * twin of `cosine` (same summation order as zip_with+aggregate). */
  def cosineScalar(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    dot / (normScalar(a) * normScalar(b))
  }

  def normScalar(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /**
   * Deterministic coarse centroids, collected to the driver (the codebook —
   * nList entries by construction; at deployment this is the trained
   * k-means codebook artifact). Stride derives from max(vec_id) — correct
   * for non-dense ids — and the candidates are ORDERED by vec_id before the
   * cut, so the codebook is identical across runs and partitionings.
   */
  def centroidCodebook(emb: DataFrame, nList: Int): Array[Centroid] = {
    // empty table -> empty codebook (max over zero rows aggregates to null)
    val maxRow = emb.agg(max(col("vec_id"))).head()
    if (maxRow.isNullAt(0)) return Array.empty
    val maxId = maxRow.getLong(0)
    val stride = math.max(1L, (maxId + 1) / nList)
    emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(nList)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        Centroid(r.getLong(0), v, normScalar(v))
      }
  }

  /** Nearest-centroid id for one vector: max cosine, ties to the smaller
    * centroid id (codebook is id-ascending; strict > keeps the first). */
  def nearestList(v: Array[Float], cents: Array[Centroid]): Long =
    nearestListSim(v, cents)._1

  /** Nearest centroid id AND its cosine — same loop, same first-max
    * tie-break as `nearestList` (which delegates here). The cosine is the
    * exact double `dot / (|v| * |c|)` in array order, bit-identical to
    * `cosineScalar` on the same operands. */
  def nearestListSim(v: Array[Float], cents: Array[Centroid]): (Long, Double) = {
    val vn = normScalar(v)
    var bestId = cents(0).id
    var bestSim = Double.NegativeInfinity
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i).toDouble * c.v(i).toDouble; i += 1 }
      val sim = dot / (vn * c.norm)
      if (sim > bestSim) { bestSim = sim; bestId = c.id }
      ci += 1
    }
    (bestId, bestSim)
  }

  /** Nearest-centroid id under SQUARED L2 distance — the classic PQ
    * training/encode metric (Jégou et al. 2011): d = sum((v_i - c_i)^2) in
    * doubles, index-ascending operand order, strict < so ties keep the
    * FIRST (smallest-id) centroid. The sequential twin re-derives this
    * formula verbatim. */
  def nearestListL2(v: Array[Float], cents: Array[Centroid]): Long = {
    var bestId = cents(0).id
    var bestD = Double.PositiveInfinity
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      var d = 0.0; var i = 0
      while (i < v.length) {
        val t = v(i).toDouble - c.v(i).toDouble
        d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; bestId = c.id }
      ci += 1
    }
    bestId
  }

  /** Top-`nProbe` centroid ids for a query vector (cosine desc, id asc). */
  def probeLists(v: Array[Float], cents: Array[Centroid], nProbe: Int): Array[Long] =
    cents.map(c => (cosineScalar(v, c.v), c.id))
      .sortBy { case (sim, id) => (-sim, id) }
      .take(nProbe).map(_._2)

  /**
   * IVF approximate top-k: assign every vector to its nearest centroid,
   * probe the `nProbe` best lists per query, scan only those lists.
   * Output schema matches bruteForceTopK. The 100 TB plan: scan cost /
   * nList * nProbe, and at scale the assignment is a one-time fact-table
   * write reused by every query batch.
   *
   * Plan shape (plan-tested): assignment is ONE narrow projection per row
   * against the broadcast codebook — no xNList explode, no window, no
   * shuffle; the probe side (queries x nProbe, tiny) is BROADCAST to the
   * assignment side, so no Exchange is ever keyed on the nList-valued
   * `list_id` (nList distinct keys would cap parallelism at nList and skew).
   */
  def ivfTopK(emb: DataFrame, queryFilter: Column, k: Int,
              nList: Int = 16, nProbe: Int = 4): DataFrame =
    ivfWithCodebook(emb, queryFilter, k, nProbe, centroidCodebook(emb, nList))

  /**
   * IVF with a TRAINED coarse quantizer: distributed k-means (Lloyd) from
   * the deterministic stride init — the production codebook path (stride
   * centroids are the k-means-free stand-in; real deployments train). Same
   * probe/scan machinery and output schema as `ivfTopK`.
   */
  def ivfTopKTrained(emb: DataFrame, queryFilter: Column, k: Int,
                     nList: Int = 16, nProbe: Int = 4, iters: Int = 3,
                     fanout: Int = 16): DataFrame =
    ivfWithCodebook(emb, queryFilter, k, nProbe,
      kmeansCodebook(emb, nList, iters, fanout))

  /**
   * Distributed k-means (Lloyd) training of the coarse quantizer: cosine
   * assignment (the IVF probe metric; `metric = "l2"` switches to squared
   * L2 — the PQ sub-quantizer metric, same first-best tie-break), centroid
   * update = per-cluster MEAN of member vectors; empty clusters keep their
   * previous centroid; centroid LABELS stay the init's ids (stable,
   * ascending).
   *
   * DETERMINISM AT SCALE: float summation order changes a mean bit-wise,
   * and Spark's partial-aggregation order is run-dependent — so the update
   * step sums in a FIXED hierarchical order instead: members group by
   * (cluster, salt = vec_id mod `fanout`); each salt-group folds its
   * vectors in ascending vec_id order into a double[] partial; the cluster
   * folds its partials in ascending salt order. Aggregation buffers are
   * bounded by the salt-group size, so a mega-cluster never materializes
   * in one buffer (the celebrity-node discipline of the CC operator), and
   * the result is bit-identical across runs, partitionings and cluster
   * sizes (partition-invariance + sequential-twin equality tested; q66
   * golden-oracled end-to-end).
   */
  def kmeansCodebook(emb: DataFrame, nList: Int, iters: Int = 3,
                     fanout: Int = 16, metric: String = "cosine"): Array[Centroid] = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    val spark = emb.sparkSession
    import spark.implicits._
    val l2 = metric == "l2"
    var cents = centroidCodebook(emb, nList)
    if (cents.isEmpty) return cents
    val vecs = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partials = vecs
        .mapPartitions { rows =>
          val cs = bc.value
          rows.map { case (id, v) =>
            ((if (l2) nearestListL2(v, cs) else nearestList(v, cs)), id % fanout, id, v)
          }
        }
        .groupByKey { case (list, salt, _, _) => (list, salt) }
        .mapGroups { (key: (Long, Long), rows: Iterator[(Long, Long, Long, Array[Float])]) =>
          val buf = rows.toArray.sortBy(_._3) // ascending vec_id: fixed fold order
          val dim = buf(0)._4.length
          val sum = new Array[Double](dim)
          buf.foreach { case (_, _, _, v) =>
            var i = 0
            while (i < dim) { sum(i) += v(i).toDouble; i += 1 }
          }
          (key._1, key._2, sum, buf.length.toLong)
        }
      val updated = partials
        .groupByKey(_._1)
        .mapGroups { (list: Long, ps: Iterator[(Long, Long, Array[Double], Long)]) =>
          val sorted = ps.toArray.sortBy(_._2) // ascending salt: fixed fold order
          val dim = sorted(0)._3.length
          val sum = new Array[Double](dim)
          var n = 0L
          sorted.foreach { case (_, _, s, c) =>
            var i = 0
            while (i < dim) { sum(i) += s(i); i += 1 }
            n += c
          }
          (list, sum.map(x => (x / n).toFloat))
        }
        .collect().toMap[Long, Array[Float]]
      cents = cents.map(c => updated.get(c.id) match {
        case Some(v) => Centroid(c.id, v, normScalar(v))
        case None    => c // empty cluster keeps its previous centroid
      })
      bc.destroy()
      it += 1
    }
    cents
  }

  /** One sub-quantizer of a FUSED multi-quantizer training: `qid` its
    * label, [off, off+len) its slice of the embedding (the full vector
    * when len = dim), `nCodes` its codebook size, `l2` its metric
    * (squared L2 for PQ sub-books, cosine for the IVF coarse level). */
  final case class SubQ(qid: Int, off: Int, len: Int, nCodes: Int, l2: Boolean)

  /**
   * FUSED Lloyd training of MANY sub-quantizers in ONE pass over the
   * corpus per iteration — the 100 TB training plan: PQ's m sub-books
   * (and IVF-PQ's coarse level) each need the same scan, so training them
   * one-at-a-time reads the corpus m (or m+1) times per iteration; here
   * every row fans out to its |specs| keyed slices inside one
   * mapPartitions and all codebooks update from ONE pair of bounded
   * shuffles per iteration. Per-quantizer results are BIT-IDENTICAL to
   * training each alone with [[kmeansCodebook]] over its sliced column:
   * the (qid, list, salt) grouping keys partition rows exactly as the
   * standalone (list, salt) keys do per quantizer, the fold orders
   * (ascending vec_id inside a salt group, ascending salt inside a
   * cluster) are unchanged, and the shared stride init selects the same
   * candidate ROWS every standalone init selects (ids with
   * vec_id mod stride == 0, id-ascending, first nCodes) — only the
   * scheduling is shared. Returns one id-ascending codebook per spec.
   */
  def kmeansCodebooksFused(emb: DataFrame, specs: Seq[SubQ], iters: Int = 3,
                           fanout: Int = 16): Map[Int, Array[Centroid]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(specs.map(_.qid).distinct.size == specs.size, "duplicate SubQ qids")
    val maxRow = emb.agg(max(col("vec_id"))).head()
    if (maxRow.isNullAt(0)) return specs.map(s => s.qid -> Array.empty[Centroid]).toMap
    val maxId = maxRow.getLong(0)
    // shared init scan: one job collects the union of every spec's stride
    // candidates (full vectors), then each spec replays the standalone
    // selection (its own stride, id-ascending, limit nCodes) and slices
    val strides = specs.map(s => math.max(1L, (maxId + 1) / s.nCodes)).distinct
    val candFilter = strides.map(st => pmod(col("vec_id"), lit(st)) === 0)
      .reduce(_ || _)
    val cands = emb.filter(candFilter).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    var books: Map[Int, Array[Centroid]] = specs.map { s =>
      val stride = math.max(1L, (maxId + 1) / s.nCodes)
      s.qid -> cands.iterator.filter(_._1 % stride == 0).take(s.nCodes).map {
        case (id, v) =>
          val sub = java.util.Arrays.copyOfRange(v, s.off, s.off + s.len)
          Centroid(id, sub, normScalar(sub))
      }.toArray
    }.toMap
    val specArr = specs.toArray
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast((specArr, books))
      val partials = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions { rows =>
          val (ss, bks) = bc.value
          rows.flatMap { case (id, v) =>
            ss.iterator.map { s =>
              val sub = java.util.Arrays.copyOfRange(v, s.off, s.off + s.len)
              val cs = bks(s.qid)
              val list = if (s.l2) nearestListL2(sub, cs) else nearestList(sub, cs)
              (s.qid, list, id % fanout, id, sub)
            }
          }
        }
        .groupByKey { case (qid, list, salt, _, _) => (qid, list, salt) }
        .mapGroups { (key: (Int, Long, Long), rows: Iterator[(Int, Long, Long, Long, Array[Float])]) =>
          val buf = rows.toArray.sortBy(_._4) // ascending vec_id: fixed fold order
          val dim = buf(0)._5.length
          val sum = new Array[Double](dim)
          buf.foreach { case (_, _, _, _, v) =>
            var i = 0
            while (i < dim) { sum(i) += v(i).toDouble; i += 1 }
          }
          (key._1, key._2, key._3, sum, buf.length.toLong)
        }
      val updated = partials
        .groupByKey(p => (p._1, p._2))
        .mapGroups { (key: (Int, Long), ps: Iterator[(Int, Long, Long, Array[Double], Long)]) =>
          val sorted = ps.toArray.sortBy(_._3) // ascending salt: fixed fold order
          val dim = sorted(0)._4.length
          val sum = new Array[Double](dim)
          var n = 0L
          sorted.foreach { case (_, _, _, s, c) =>
            var i = 0
            while (i < dim) { sum(i) += s(i); i += 1 }
            n += c
          }
          (key._1, key._2, sum.map(x => (x / n).toFloat))
        }
        .collect()
        .groupBy(_._1).map { case (qid, rows) =>
          qid -> rows.map(r => r._2 -> r._3).toMap
        }
      books = books.map { case (qid, cents) =>
        val upd = updated.getOrElse(qid, Map.empty[Long, Array[Float]])
        qid -> cents.map(c => upd.get(c.id) match {
          case Some(v) => Centroid(c.id, v, normScalar(v))
          case None    => c // empty cluster keeps its previous centroid
        })
      }
      bc.destroy()
      it += 1
    }
    books
  }

  /**
   * Product-quantization sub-codebooks (Jégou et al. 2011): the embedding
   * split into `m` subspaces of dim/m dims; each subspace trains its own
   * `nCodes`-centroid k-means under SQUARED L2 (the PQ metric — it bounds
   * the reconstruction error ADC scoring pays). All m sub-trainings run
   * FUSED through [[kmeansCodebooksFused]] — one corpus pass per Lloyd
   * iteration instead of m — with results bit-identical to the standalone
   * per-subspace runs. Returned as books(m)(c) = sub-centroid vector;
   * CODE c = position in the id-ascending array. */
  def pqCodebooks(emb: DataFrame, m: Int, nCodes: Int = 16, iters: Int = 3,
                  fanout: Int = 16): Array[Array[Array[Float]]] = {
    val headRow = emb.select(size(col("embedding"))).head()
    val dim = headRow.getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    val fused = kmeansCodebooksFused(emb,
      (0 until m).map(s => SubQ(s, s * ds, ds, nCodes, l2 = true)), iters, fanout)
    (0 until m).map(s => fused(s).map(_.v)).toArray
  }

  /**
   * PQ approximate top-k by asymmetric distance (ADC): every vector is
   * ENCODED to m one-byte codes (a 64-dim float32 row: 256 B -> m bytes,
   * 32x at m=8 — the footprint that lets a 10^10-vector corpus scan from
   * memory), each query precomputes one m*nCodes-double LUT, and the scan
   * is m array lookups + a sqrt per pair — the codegen'd `pq_adc` over a
   * broadcast of the (tiny) query LUTs; the float embedding column is
   * read ONCE at encode time and never again. Scores approximate cosine
   * via sub-centroid reconstruction; ranking rounds to 9 decimals with
   * id-ascending ties, exactly as `bruteForceTopK`. Output
   * (query_id, neighbor_id, rank), self excluded.
   *
   * 100 TB: the codes table is a one-time artifact (like the IVF
   * assignment fact table); compose with `ivfTopKTrained`'s coarse lists
   * to prune the scan (IVF-PQ) — here the flat ADC scan isolates the PQ
   * contribution.
   */
  def pqTopK(emb: DataFrame, queryFilter: Column, k: Int, m: Int = 8,
             nCodes: Int = 16, iters: Int = 3, fanout: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions._
    val books = pqCodebooks(emb, m, nCodes, iters, fanout)
    val normSq: Array[Double] = books.flatMap(_.map { cent =>
      var ns = 0.0; var i = 0
      while (i < cent.length) { ns += cent(i).toDouble * cent(i).toDouble; i += 1 }
      ns
    })
    val codes = spread(emb, "vec_id").select(col("vec_id").as("neighbor_id"),
      pq_encode(col("embedding"), books).as("code"))
    val queries = emb.filter(queryFilter)
      .select(col("vec_id").as("query_id"), pq_lut(col("embedding"), books).as("lut"))
    val scored = codes
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", pq_adc(col("code"), col("lut"), normSq))
    // bounded k-heap ranking: the |codes| x |queries| scored set never
    // sorts or exchanges whole — k-entry partial buffers only
    TopK.rankTopK(scored, "query_id", "neighbor_id", round(col("score"), 9), k)
  }

  /**
   * IVF-PQ composed search (Jégou et al. 2011 §IV — the serving plan the
   * [[pqTopK]] scaladoc prescribes): the trained coarse quantizer prunes
   * the ADC scan to each query's `nProbe` probed lists, so scan cost drops
   * to ~nProbe/nList of the flat PQ scan while keeping the m-byte code
   * footprint (the 10^10-vector configuration: codes + list ids are a
   * one-time fact-table artifact; a query batch touches nProbe lists of
   * m-byte codes each). Codes are the SAME raw-vector PQ codes as
   * [[pqTopK]] (no residual re-encoding), so each surviving pair's ADC
   * score is bit-identical to the flat scan's and recall loss vs flat PQ
   * is exactly the coarse probe miss rate (reported by IvfPqSpec against
   * the exact scan). Output (query_id, neighbor_id, rank), self excluded;
   * ranking contract identical to the whole family (round-9 DESC, id ASC).
   *
   * Plan shape (plan-tested): one mapPartitions assignment pass over the
   * broadcast coarse codebook (no shuffle, no explode), codes joined to
   * the BROADCAST probe side on list_id (the big side never exchanges,
   * and no Exchange keys on the nList-valued list_id), bounded k-heap
   * top-k (no window).
   */
  def ivfPqTopK(emb: DataFrame, queryFilter: Column, k: Int,
                nList: Int = 16, nProbe: Int = 4, m: Int = 8,
                nCodes: Int = 16, iters: Int = 3, fanout: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions._
    val spark = emb.sparkSession
    import spark.implicits._
    // ONE fused training for the coarse level (qid -1, full vector,
    // cosine) AND the m PQ sub-books (L2 slices): one corpus pass per
    // Lloyd iteration for all m+1 quantizers — results bit-identical to
    // the standalone kmeansCodebook/pqCodebooks runs (see
    // kmeansCodebooksFused)
    val headRow = emb.select(size(col("embedding"))).limit(1).collect()
    if (headRow.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(1).as("rank"))
    val dim = headRow(0).getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    val fused = kmeansCodebooksFused(emb,
      SubQ(-1, 0, dim, nList, l2 = false) +:
        (0 until m).map(s => SubQ(s, s * ds, ds, nCodes, l2 = true)),
      iters, fanout)
    val coarse = fused(-1)
    if (coarse.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(1).as("rank"))
    val books: Array[Array[Array[Float]]] = (0 until m).map(s => fused(s).map(_.v)).toArray
    val normSq: Array[Double] = books.flatMap(_.map { cent =>
      var ns = 0.0; var i = 0
      while (i < cent.length) { ns += cent(i).toDouble * cent(i).toDouble; i += 1 }
      ns
    })
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    // one partition-local pass: coarse list assignment (the float
    // embedding column is read here at encode time and never again)
    val assigned = spread(emb, "vec_id").select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCoarse.value
        it.map { case (id, v) => (id, v, nearestList(v, cs)) }
      }.toDF("neighbor_id", "embedding", "list_id")
    val codes = assigned.select(col("neighbor_id"), col("list_id"),
      pq_encode(col("embedding"), books).as("code"))
    val probes = emb.filter(queryFilter)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        probeLists(qv, bcCoarse.value, nProbe).iterator.map(listId => (qid, qv, listId))
      }.toDF("query_id", "qv", "list_id")
      .select(col("query_id"), col("list_id"), pq_lut(col("qv"), books).as("lut"))
    val scored = codes.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", pq_adc(col("code"), col("lut"), normSq))
    TopK.rankTopK(scored, "query_id", "neighbor_id", round(col("score"), 9), k)
  }

  /**
   * RESIDUAL IVF-PQ (Jégou et al. 2011 §IV-A, the Faiss `IVFPQ` default):
   * sub-books quantize the RESIDUAL r = v − c(list(v)) instead of the raw
   * vector, so the m·log2(nCodes) code bits spend themselves on the
   * within-list detail the coarse level already localized — tighter
   * reconstructions than [[ivfPqTopK]]'s raw-vector codes from the same
   * byte budget. The scan stays ADC: with v̂ = c + r̂,
   *     cos(q, v̂) ≈ (dot(q,c)/|q| + Σ_s lut_s[code_s])
   *                  / sqrt(|c|² + Σ_s den_list[s][code_s])
   * where lut is the SAME query-only table as flat PQ, and
   * den_list[s][j] = 2·dot(c_slice_s, book_s[j]) + |book_s[j]|² is a
   * per-LIST plan constant (nList·m·nCodes doubles — broadcast with the
   * probes). Scoring per pair = 2·m lookups ([[graft.functions.PqSum]],
   * codegen'd) + one sqrt; the float column is read only at encode time.
   *
   * Training is two phases by necessity (residuals need assignments):
   * the coarse level first, then ONE fused pass per Lloyd iteration for
   * all m residual sub-books; the residual map itself is a narrow
   * per-row projection over the broadcast coarse codebook that fuses
   * into each training scan (the [[ivfPqTopK]] `assigned` discipline —
   * nothing persists). Output/order contract identical to the family
   * (round-9 DESC, id ASC, self excluded); plan: codes join BROADCAST
   * probes on list_id, bounded k-heap, no Window (plan-tested).
   */
  def ivfPqResidualTopK(emb: DataFrame, queryFilter: Column, k: Int,
                        nList: Int = 16, nProbe: Int = 4, m: Int = 8,
                        nCodes: Int = 16, iters: Int = 3,
                        fanout: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions._
    val spark = emb.sparkSession
    import spark.implicits._
    val headRow = emb.select(size(col("embedding"))).limit(1).collect()
    if (headRow.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(1).as("rank"))
    val dim = headRow(0).getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    // phase 1: coarse quantizer (cosine), the ivfPqTopK training verbatim
    val coarse = kmeansCodebooksFused(emb,
      Seq(SubQ(-1, 0, dim, nList, l2 = false)), iters, fanout)(-1)
    if (coarse.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(1).as("rank"))
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    // residual frame: assignment + r = v − c in FLOAT, index order (one
    // narrow pass, materialized once — see the checkpoint note below)
    // no spread: the residual frame feeds kmeansCodebooksFused, whose
    // groupByKey redistributes anyway — an extra exchange here was pure
    // per-iteration overhead (measured) — and the pruned ADC scan's
    // parallelism comes from the codes join below. CHECKPOINTED: the
    // frame is read m-book-training-iterations + 1 (codes) times; the
    // earlier recompute-per-scan traded one corpus-sized materialization
    // for 4 assignment re-passes, the wrong side of the trade once the
    // per-pass cost was measured (each re-pass re-runs the O(dim·nList)
    // nearest-centroid kernel over every row)
    val resid = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCoarse.value
        val byId = cs.map(c => c.id -> c.v).toMap
        it.map { case (id, v) =>
          val lid = nearestList(v, cs)
          val cv = byId(lid)
          val r = new Array[Float](v.length)
          var i = 0
          while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
          (id, r, lid)
        }
      }.toDF("vec_id", "embedding", "list_id").localCheckpoint(true)
    // phase 2: m residual sub-books, one fused corpus pass per iteration
    val fused = kmeansCodebooksFused(resid.select(col("vec_id"), col("embedding")),
      (0 until m).map(s => SubQ(s, s * ds, ds, nCodes, l2 = true)), iters, fanout)
    val books: Array[Array[Array[Float]]] = (0 until m).map(s => fused(s).map(_.v)).toArray
    val normSq: Array[Double] = books.flatMap(_.map { cent =>
      var ns = 0.0; var i = 0
      while (i < cent.length) { ns += cent(i).toDouble * cent(i).toDouble; i += 1 }
      ns
    })
    val nC = books(0).length
    // per-list denominator tables: den[s·nCodes + j] = 2·<c_slice_s, book_s[j]> + |book_s[j]|²
    val denByList: Map[Long, Array[Double]] = coarse.map { c =>
      c.id -> Array.tabulate(m * nC) { idx =>
        val s = idx / nC; val j = idx % nC
        val b = books(s)(j)
        var dp = 0.0; var i = 0
        while (i < ds) { dp += c.v(s * ds + i).toDouble * b(i).toDouble; i += 1 }
        2.0 * dp + normSq(idx)
      }
    }.toMap
    val codes = resid.select(col("vec_id").as("neighbor_id"), col("list_id"),
      pq_encode(col("embedding"), books).as("code"))
    val bcDen = spark.sparkContext.broadcast(denByList)
    val probes = emb.filter(queryFilter)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        val cs = bcCoarse.value
        val byId = cs.map(c => c.id -> c.v).toMap
        var qn = 0.0
        var i = 0
        while (i < qv.length) { qn += qv(i).toDouble * qv(i).toDouble; i += 1 }
        val qnorm = math.sqrt(qn)
        val lut = Array.tabulate(m * nC) { idx =>
          val s = idx / nC; val j = idx % nC
          val b = books(s)(j)
          var ip = 0.0; var t = 0
          while (t < ds) { ip += qv(s * ds + t).toDouble * b(t).toDouble; t += 1 }
          ip / qnorm
        }
        probeLists(qv, cs, nProbe).iterator.map { lid =>
          val cv = byId(lid)
          var dq = 0.0; var c2 = 0.0; var x = 0
          while (x < cv.length) {
            dq += qv(x).toDouble * cv(x).toDouble
            c2 += cv(x).toDouble * cv(x).toDouble
            x += 1
          }
          (qid, lid, lut, dq / qnorm, c2, bcDen.value(lid))
        }
      }.toDF("query_id", "list_id", "lut", "dqc", "c2", "den")
    val scored = codes.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        (col("dqc") + pq_sum(col("code"), col("lut"))) /
          sqrt(col("c2") + pq_sum(col("code"), col("den"))))
    TopK.rankTopK(scored, "query_id", "neighbor_id", round(col("score"), 9), k)
  }

  private def ivfWithCodebook(emb: DataFrame, queryFilter: Column, k: Int,
                              nProbe: Int, cents: Array[Centroid]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // NOTE: building the codebook runs Spark jobs at construction time (a
    // deployment passes a trained codebook artifact instead).
    if (cents.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(1).as("rank"))
    val bcCents = spark.sparkContext.broadcast(cents)
    // assignment: nearest centroid per vector — mapPartitions kernel over
    // the broadcast codebook (tight JVM loop; one pass, stays partition-local
    // after the id-hash spread of the single-split source)
    val assigned = spread(emb, "vec_id").select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCents.value
        it.map { case (id, v) => (id, v, nearestList(v, cs)) }
      }.toDF("vec_id", "embedding", "list_id")
    // query side: top nProbe centroid lists per query (tiny by construction)
    val probes = emb.filter(queryFilter)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        probeLists(qv, bcCents.value, nProbe).iterator.map(listId => (qid, qv, listId))
      }.toDF("query_id", "qv", "list_id")
    // scan only probed lists: broadcast the probes — the big assigned side
    // never shuffles
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("embedding")))
    // unrounded ordering: cosine() sums in array order in double, which is
    // bit-identical to the scalar twin and to DuckDB's list_inner_product
    // form — no rounding needed for deterministic cross-engine agreement.
    // Bounded k-heap ranking (TopK.rankTopK): no per-query window sort.
    TopK.rankTopK(scored, "query_id", "vec_id", col("cosine"), k)
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
   * deduplication over the embedding table. Cluster with the trained
   * k-means coarse quantizer (`kmeansCodebook` — deterministic Lloyd),
   * find EXACT cosine pairs `>= threshold` WITHIN each cluster, take
   * connected components of that pair graph as duplicate groups, and keep
   * ONE representative per group — the member LEAST similar to its
   * cluster centroid (the paper's low-centroid-similarity keeper, §3;
   * ties to the smaller vec_id). Cross-cluster near-dups are out of
   * contract (the paper's approximation): recall rises as `nList` falls
   * (bigger clusters), while within-cluster cost rises quadratically.
   *
   * Returns (vec_id, group_id, keep): group_id = min vec_id of the
   * duplicate group (own id for singletons); keep = true for singletons
   * and representatives.
   *
   * 100 TB shape: the within-cluster all-pairs join is TRIANGLE-BLOCKED.
   * Each vector lands in block `vec_id mod blocks` and replicates to the
   * `blocks` block-pair reducers containing its block, so pair tasks key
   * on (list_id, blockLo, blockHi) — nList * B(B+1)/2 distinct keys
   * instead of nList, and a mega-cluster becomes B(B+1)/2 tasks of
   * (c/B)^2 work instead of one c^2 task (pick B so (c/B)^2 pairs fit a
   * task; cost is B-fold replication of the vector column through one
   * shuffle). Exact-within-cluster is the operator's contract, so there
   * is no silent candidate cap — skew relief comes from nList (smaller
   * clusters) and B (finer tasks). At deployment the assignment is a
   * persisted fact table (computed once, reused across thresholds); here
   * it is cached for the operator's own three uses and self-cleaned via
   * the Dedup eager/lazy discipline.
   */
  /** The triangle-blocked within-cluster pair generation (see `semDedup`):
    * a row in block `b = vec_id mod blocks` participates in exactly the
    * `blocks` reducers {(min(b,x), max(b,x)) : x in 0..B-1}; a cross-block
    * pair shares exactly ONE reducer, a same-block pair shares all of its
    * row's reducers — the (lo,hi)==(min,max) filter pins each pair to its
    * home reducer so it is generated exactly once. Every pair-producing
    * Exchange is keyed on (list_id, bp), never list_id alone
    * (plan-tested): parallelism is nList*B(B+1)/2, not nList.
    * `assigned`: (vec_id, embedding, list_id). Returns (src, dst). */
  private[graft] def semDedupEdges(assigned: DataFrame, threshold: Double,
                                   blocks: Int): DataFrame = {
    val exploded = assigned
      .withColumn("block", pmod(col("vec_id"), lit(blocks.toLong)).cast("int"))
      .withColumn("bp", explode(transform(sequence(lit(0), lit(blocks - 1)),
        x => struct(least(col("block"), x).as("lo"),
                    greatest(col("block"), x).as("hi")))))
    val l = exploded.select(col("list_id"), col("bp"),
      col("vec_id").as("v1"), col("block").as("b1"), col("embedding").as("e1"))
    val r = exploded.select(col("list_id"), col("bp"),
      col("vec_id").as("v2"), col("block").as("b2"), col("embedding").as("e2"))
    l.join(r, Seq("list_id", "bp"))
      .filter(col("v1") < col("v2"))
      .filter(col("bp.lo") === least(col("b1"), col("b2")) &&
              col("bp.hi") === greatest(col("b1"), col("b2")))
      .filter(cosine(col("e1"), col("e2")) >= lit(threshold))
      .select(col("v1").as("src"), col("v2").as("dst"))
  }

  def semDedup(emb: DataFrame, threshold: Double = 0.7, nList: Int = 16,
               iters: Int = 3, fanout: Int = 16, blocks: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = kmeansCodebook(emb, nList, iters, fanout)
    if (cents.isEmpty)
      return emb.limit(0).select(col("vec_id"),
        col("vec_id").as("group_id"), lit(true).as("keep"))
    val bcCents = spark.sparkContext.broadcast(cents)
    // assignment + cosine-to-centroid in one partition-local pass
    val assigned =
      emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val cs = bcCents.value
          it.map { case (id, v) =>
            val (lid, sim) = nearestListSim(v, cs)
            (id, v, lid, sim)
          }
        }.toDF("vec_id", "embedding", "list_id", "cent_cos")
    semDedupAssigned(assigned, threshold, blocks)
  }

  /**
   * SemDeDup over a PRECOMPUTED assignment table
   * (vec_id, embedding, list_id, cent_cos) — the deployment path: the
   * k-means assignment is a one-time fact-table write (like the IVF
   * list assignment), reused across threshold sweeps and re-runs;
   * `semDedup` composes training + assignment + this. Semantics and
   * output schema identical to `semDedup` (equality-tested). */
  def semDedupAssigned(assignedIn: DataFrame, threshold: Double,
                       blocks: Int = 4): DataFrame = {
    val assigned = Dedup.persistIntermediate(assignedIn)
    val comps = graft.canon.ConnectedComponents.run(
      semDedupEdges(assigned, threshold, blocks)) // (id, component)
    // representative election: the member LEAST similar to its centroid,
    // ties to the smaller id — a TOP-1 election, so a partial-aggregated
    // min(struct) (field-wise struct order == the (cent_cos ASC, id ASC)
    // window ordering it replaces) instead of a per-component row_number
    // window: a MEGA duplicate-group never sorts its member list in one
    // task; each map partial carries one (cos, id) pair per component
    val members = comps
      .join(assigned.select(col("vec_id").as("id"), col("cent_cos")), Seq("id"))
    val keepers = members.groupBy(col("component"))
      .agg(min(struct(col("cent_cos"), col("id"))).as("kp"))
      .select(col("component"), col("kp.id").as("keeper"))
    val out = assigned.select(col("vec_id"))
      .join(members.select(col("id").as("vec_id"), col("component")),
        Seq("vec_id"), "left")
      .join(keepers, Seq("component"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("group_id"),
        coalesce(col("vec_id") === col("keeper"), lit(true)).as("keep"))
    Dedup.finish(out, assigned)
  }

  /**
   * Mutualize a ranked kNN relation: keep exactly the pairs where EACH
   * side ranks the other inside its own top-k (the mutual-kNN graph —
   * hub vectors that everyone ranks highly but that rank almost no one
   * back are pruned, the classic ER/semantic-cluster false-positive).
   * Ranker-agnostic: any (query_id, neighbor_id, rank) relation with
   * every vector as a query works (bruteForceTopK for the exactness
   * oracle, the IVF family for the 10^10-vector path). ONE keyed
   * equi-join on the reversed pair — input is |V|·k rows, so the join
   * is linear in the ranked relation, never in pairs of vectors.
   *
   * @return (a, b, rank_ab, rank_ba) with a < b; rank_ab = b's rank in
   *         a's list, rank_ba = a's rank in b's list.
   */
  def mutualize(ranked: DataFrame): DataFrame = {
    val fwd = ranked.select(col("query_id").as("a"),
      col("neighbor_id").as("b"), col("rank").as("rank_ab"))
    val rev = ranked.select(col("neighbor_id").as("a"),
      col("query_id").as("b"), col("rank").as("rank_ba"))
    fwd.join(rev, Seq("a", "b")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("rank_ab"), col("rank_ba"))
  }

  /**
   * MUTUAL k-NEAREST-NEIGHBOR GRAPH over the whole embedding table —
   * every vector is a query, so the broadcast-probes shape of the ANN
   * serving path ([[ivfTopK]]) inverts: probes here are corpus-sized and
   * must join the assignment KEYED. A plain join keyed on `list_id`
   * would cap parallelism at nList distinct keys (the skew the ivf
   * scaladoc warns about), so both sides carry a SALT — the assignment
   * side splits each list into `salt` deterministic slices
   * (`vec_id % salt`), the probe side replicates each probe across all
   * slices — giving nList·salt join keys and per-task work bounded by
   * |list|/salt · |probes in that list|. Candidate volume is
   * Σ_q Σ_{probed lists} |list| — nProbe/nList of the quadratic scan;
   * ranking is the bounded k-heap ([[graft.ops.TopK.rankTopK]], no
   * window), mutualization one keyed equi-join on |V|·k rows.
   *
   * `nProbe = nList` probes every list — candidates become ALL pairs and
   * the output is EXACTLY the brute-force mutual-kNN graph (the oracle
   * setting; equality with `mutualize(bruteForceTopK)` is spec-tested).
   * Production sets nProbe << nList and accepts coarse-quantizer recall.
   *
   * Cosine is the unrounded double of the shared `cosine` column (array
   * order — bit-identical to the scalar twin and DuckDB), rank ties to
   * the smaller vec_id: the rankTopK order contract.
   */
  def mutualKnn(emb: DataFrame, k: Int, nList: Int = 16, nProbe: Int = 4,
                saltIn: Int = 0): DataFrame = {
    require(saltIn >= 0, "salt must be >= 0 (0 = adaptive)")
    val spark = emb.sparkSession
    import spark.implicits._
    // ADAPTIVE salt (0 = derive from the session's parallelism): the
    // probe side replicates each (query, probed-list) row — WITH its
    // query vector — once per slice, so salt multiplies the probe
    // shuffle's bytes; a constant tuned for either local mode or the
    // cluster is wrong on the other (guide §2: keep scale-dependent
    // settings derived, not constant). 4·cores/nProbe slices keep
    // ~4·cores (list, slice) join keys — enough granularity to spread
    // skewed lists over every core — while bounding replication at
    // 4·cores/nProbe copies instead of a flat 32 (measured at sf0.1:
    // the flat salt shuffled ~8x the bytes of the adaptive one with no
    // parallelism gain past the core count).
    val salt = if (saltIn > 0) saltIn
      else math.max(1, 4 * spark.sparkContext.defaultParallelism /
        math.max(1, nProbe))
    val cents = centroidCodebook(emb, nList)
    if (cents.isEmpty)
      return emb.limit(0).select(col("vec_id").as("a"), col("vec_id").as("b"),
        lit(1).as("rank_ab"), lit(1).as("rank_ba"))
    val bcCents = spark.sparkContext.broadcast(cents)
    val assigned = spread(emb, "vec_id").select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCents.value
        it.map { case (id, v) => (id, v, nearestList(v, cs), id % salt) }
      }.toDF("vec_id", "embedding", "list_id", "slice")
    val probes = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        probeLists(qv, bcCents.value, nProbe).iterator
          .map(listId => (qid, qv, listId))
      }.toDF("query_id", "qv", "list_id")
      // replicate each probe across the salt slices as a pure projection
      // (explode of a literal array — no join, no Exchange)
      .withColumn("slice", explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
    val scored = assigned.join(probes, Seq("list_id", "slice"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("embedding")))
    mutualize(TopK.rankTopK(scored, "query_id", "vec_id", col("cosine"), k))
  }

  /**
   * Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER/CCMatrix
   * parallel-data miner — the curation operator that BUILDS the translation
   * pairs an LLM trains on): a cross-set pair (x, y) is scored not by raw
   * cosine (hubness-biased) but by the RATIO margin
   *     margin(x,y) = cos(x,y) / ((avg cos of x's k-NN in Y
   *                              + avg cos of y's k-NN in X) / 2)
   * and each x keeps its best-margin y (forward "max" strategy).
   *
   * INTEGER-EXACT evaluation: each cosine enters as c = round(cos·10^9)
   * (one correctly-rounded multiply + half-away-from-zero round of the
   * bit-identical double both engines compute — the q30/q191 cosine
   * contract), neighbor sums are integer sums (order-free), and with
   * kx/ky the ACTUAL neighbor counts (< k only when a side is smaller
   * than k) the margin becomes one exact integer division
   *     margin_permille = (2·kx·ky·c·1000) div (Σx·ky + Σy·kx)
   * so the independent SQL oracle reproduces every value exactly. Pairs
   * whose denominator is not positive carry no usable margin signal
   * (average neighbor cosine ≤ 0) and are dropped — documented, and the
   * oracle drops them identically.
   *
   * Plan shape: the query sides broadcast (X, then the ≤ |X|·k candidate
   * ys); neighbor sums are partial aggs on 8-byte keys; ranking is the
   * bounded Long-keyed k-heap — no Window (plan-tested). At 10^9-vector
   * sides, swap the exhaustive scans for [[ivfTopKTrained]] lists — the
   * margin algebra is unchanged.
   */
  def marginPairs(emb: DataFrame, leftFilter: Column, rightFilter: Column,
                  k: Int = 4, scale: Long = 1000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val c9 = (a: Column, b: Column) =>
      round(cosine(a, b) * lit(1e9)).cast("long")
    // NO spread here: the exhaustive path is the oracle configuration
    // over eval-set-sized X/Y, where the broadcast-side work is smaller
    // than the exchange it would add (measured +0.9 s at sf0.1);
    // corpus-scale margin mining goes through [[marginPairsIvf]], whose
    // candidate scans DO spread their corpus sides
    val x = emb.filter(leftFilter)
      .select(col("vec_id").as("x_id"), col("embedding").as("xv"))
    val y = emb.filter(rightFilter)
      .select(col("vec_id").as("y_id"), col("embedding").as("yv"))
    // forward k-NN: each x against ALL of Y (candidate pairs AND Σx terms)
    val fwd = TopK.rankTopKLong(
      y.join(broadcast(x), col("x_id") =!= col("y_id"))
        .withColumn("c", c9(col("xv"), col("yv"))),
      "x_id", "y_id", col("c"), k)
      .select(col("x_id"), col("neighbor_id").as("y_id"), col("score").as("c"))
    // backward k-NN only for ys that are forward candidates (≤ |X|·k)
    val candY = fwd.select(col("y_id")).distinct()
      .join(y, "y_id").select(col("y_id"), col("yv"))
    val bwd = TopK.rankTopKLong(
      x.join(broadcast(candY), col("x_id") =!= col("y_id"))
        .withColumn("c", c9(col("yv"), col("xv"))),
      "y_id", "x_id", col("c"), k)
      .select(col("y_id"), col("score").as("c"))
    marginFromLists(fwd, bwd, scale)
  }

  /**
   * The margin ALGEBRA of [[marginPairs]] factored over ANY k-NN
   * candidate relations (the r5-verdict "production-shaped kNN stage"):
   * `fwd` carries each x's forward candidate list WITH integer scores
   * (x_id, y_id, c = round(cos·10^9)); `bwd` the backward scores
   * (y_id, c) for the ys appearing in `fwd`. The algebra is unchanged
   * whatever ranker built the lists: neighbor sums are UNfiltered
   * partial aggs (the margin denominator averages all k neighbors,
   * whatever their sign — the paper's definition); candidate pairs need
   * c > 0 (a non-positive cosine is never a translation pair — and it
   * keeps the division on positives, where Spark's truncating div and
   * the oracle's floor division agree) and a positive denominator;
   * margin_permille = (2·kx·ky·c·scale) div (Σx·ky + Σy·kx); forward
   * "max" keeps each x's best-margin y. Callers: [[marginPairs]]
   * (exhaustive lists — the oracle configuration) and
   * [[marginPairsIvf]] (IVF-pruned lists — the CCMatrix-scale path).
   * BitextSpec proves the factoring: at nProbe = nList the IVF lists
   * are the exhaustive lists and the margins agree bit-for-bit.
   */
  def marginFromLists(fwd: DataFrame, bwd: DataFrame,
                      scale: Long = 1000L): DataFrame = {
    val sx = fwd.groupBy(col("x_id"))
      .agg(sum(col("c")).as("sum_x"), count(lit(1)).as("kx"))
    val sy = bwd.groupBy(col("y_id"))
      .agg(sum(col("c")).as("sum_y"), count(lit(1)).as("ky"))
    val scored = fwd.filter(col("c") > 0L)
      .join(sx, "x_id").join(sy, "y_id")
      .withColumn("den", col("sum_x") * col("ky") + col("sum_y") * col("kx"))
      .filter(col("den") > 0L)
      .withColumn("m",
        expr(s"(2 * kx * ky * c * $scale) div den"))
    TopK.rankTopKLong(scored, "x_id", "y_id", col("m"), 1)
      .select(col("x_id"), col("neighbor_id").as("y_id"),
        col("score").as("margin_permille"))
  }

  /** Cross-set IVF candidate scan (the [[mutualKnn]] join discipline
    * across two DISTINCT sets): corpus rows (id, v) assign to the
    * broadcast codebook once (one narrow projection, no shuffle); each
    * query (qid, qv) probes its `nProbe` best lists and replicates
    * across `salt` slices as a pure projection; candidates meet through
    * a KEYED (list_id, slice) equi-join — parallelism nList·salt, no
    * broadcast-NLJ full scan, neither side need fit in memory. Returns
    * (qid, id, c = round(cos·10^9)) for every scanned cross pair. */
  private def ivfCrossCandidates(corpus: DataFrame, queries: DataFrame,
                                 nProbe: Int, cents: Array[Centroid],
                                 salt: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = spread(corpus, "id").select(col("id"), col("v"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, nearestList(v, cs), id % salt) }
      }.toDF("id", "v", "list_id", "slice")
    val probes = queries.select(col("qid"), col("qv"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        probeLists(qv, bc.value, nProbe).iterator.map(l => (qid, qv, l))
      }.toDF("qid", "qv", "list_id")
      .withColumn("slice",
        explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
    assigned.join(probes, Seq("list_id", "slice"))
      .filter(col("id") =!= col("qid"))
      .withColumn("c", round(cosine(col("qv"), col("v")) * lit(1e9)).cast("long"))
      .select(col("qid"), col("id"), col("c"))
  }

  /**
   * PRODUCTION margin-based bitext mining — [[marginPairs]]'s algebra
   * over IVF-PRUNED k-NN lists (the scaladoc's prescribed swap, shipped):
   * at CCMatrix scale BOTH sides are corpora, so the forward stage scans
   * Y through a trained coarse quantizer (each x probes `nProbe` of
   * `nList` lists — scan cost /nList·nProbe) and the backward stage
   * scans X the same way for the surviving candidate ys; neither stage
   * broadcasts a corpus. At `nProbe = nList` every list is probed, the
   * candidate relation is exactly the exhaustive cross product minus the
   * id-equal diagonal, and the output equals [[marginPairs]] bit-for-bit
   * (spec-tested); production sets nProbe << nList.
   */
  def marginPairsIvf(emb: DataFrame, leftFilter: Column, rightFilter: Column,
                     k: Int = 4, nList: Int = 16, nProbe: Int = 4,
                     iters: Int = 3, salt: Int = 32,
                     scale: Long = 1000L): DataFrame = {
    require(k >= 1 && salt >= 1, "k and salt must be >= 1")
    val x = emb.filter(leftFilter)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val y = emb.filter(rightFilter)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val yCents = kmeansCodebook(emb.filter(rightFilter), nList, iters)
    val xCents = kmeansCodebook(emb.filter(leftFilter), nList, iters)
    if (yCents.isEmpty || xCents.isEmpty)
      return emb.limit(0).select(col("vec_id").as("x_id"),
        col("vec_id").as("y_id"), lit(0L).as("margin_permille"))
    val fwd = TopK.rankTopKLong(
      ivfCrossCandidates(y,
        x.select(col("id").as("qid"), col("v").as("qv")), nProbe, yCents, salt),
      "qid", "id", col("c"), k)
      .select(col("qid").as("x_id"), col("neighbor_id").as("y_id"),
        col("score").as("c"))
    // backward k-NN only for ys that are forward candidates
    val candY = fwd.select(col("y_id").as("qid")).distinct()
      .join(y.select(col("id").as("qid"), col("v").as("qv")), Seq("qid"))
    val bwd = TopK.rankTopKLong(
      ivfCrossCandidates(x, candY, nProbe, xCents, salt),
      "qid", "id", col("c"), k)
      .select(col("qid").as("y_id"), col("score").as("c"))
    marginFromLists(fwd, bwd, scale)
  }

  /**
   * MATRYOSHKA two-stage ANN (Kusupati et al. 2022 — MRL adaptive
   * retrieval, the "shortlist on a prefix, rerank exact" serving
   * pattern): MRL-trained embeddings pack a usable low-dim embedding in
   * every PREFIX of the vector, so stage 1 ranks the whole corpus by
   * cosine over only the first `prefixDims` components (reading
   * prefixDims/dim of the float data — at dim 64 / prefix 16 the scan
   * touches a quarter of the bytes) and keeps a `shortlist` per query;
   * stage 2 re-scores just the shortlist with the FULL-dimension exact
   * cosine. Recall loss is exactly the prefix ranker's shortlist miss
   * rate (spec-reported vs the exact scan); pairs surviving to stage 2
   * rank bit-identically to `bruteForceTopK` on the same pairs.
   *
   * Both stages rank through the bounded k-heap with the family's
   * round-9/id-ASC contract; the stage-2 join is shortlist-sized and
   * keyed (query_id, neighbor_id) — no window, no cartesian
   * (plan-tested). Output (query_id, neighbor_id, rank).
   */
  def matryoshkaTopK(emb: DataFrame, queryFilter: Column, k: Int,
                     prefixDims: Int = 16, shortlist: Int = 50): DataFrame = {
    require(prefixDims >= 1 && shortlist >= k,
      "need prefixDims >= 1 and shortlist >= k")
    val pre = (c: Column) => slice(c, 1, prefixDims)
    val queries = emb.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cands = spread(emb, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    // stage 1: prefix-cosine shortlist over the whole corpus
    val coarse = TopK.rankTopK(
      cands.select(col("neighbor_id"), pre(col("nv")).as("npre"))
        .join(broadcast(queries.select(col("query_id"), pre(col("qv")).as("qpre"))),
          col("query_id") =!= col("neighbor_id"))
        .withColumn("c", cosine(col("qpre"), col("npre"))),
      "query_id", "neighbor_id", round(col("c"), 9), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // stage 2: exact full-dim rerank of the shortlist only
    val rescored = coarse
      .join(cands, Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("nv")))
    TopK.rankTopK(rescored, "query_id", "neighbor_id", round(col("cosine"), 9), k)
  }

  /**
   * SQ8 scalar quantization — the third production ANN compression beside
   * IVF (pruning) and PQ (sub-vector codebooks): each vector stores one
   * byte per dimension, 4x smaller than float32 with near-exact recall
   * (Faiss `SQ8`/`ScalarQuantizer` shape). Per-vector symmetric scale:
   * a = max_i |x_i| (double), code_i = floor(x_i · 127 / a) ∈ [−127, 127].
   * The per-vector scale cancels in cosine, so ranking needs NO
   * dequantization: sim(u,v) = dot(qu,qv) / (√ssq(qu)·√ssq(qv)) over the
   * INTEGER codes — dot and ssq are exact integers (≤ 127²·dim, far under
   * 2^53), and the one division + two square roots are correctly-rounded
   * IEEE ops, so the double is bit-identical in any engine that evaluates
   * the same expression shape (the DuckDB oracle recomputes codes and
   * sims from scratch and matches hash-for-hash).
   *
   * Zero vectors (a = 0) carry no direction — they are excluded from both
   * sides, exactly as their exact cosine is undefined.
   *
   * Plan shape: encode is one zero-shuffle projection pass (codes + ssq
   * materialized, the float column read once); the scan joins candidates
   * to the BROADCAST query codes and ranks through the bounded k-heap —
   * no Window, no exchange of the corpus side (plan-tested).
   */
  def sq8Encode(emb: DataFrame): DataFrame = {
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val amax = array_max(transform(dbl, x => abs(x)))
    emb.withColumn("amax", amax)
      .filter(col("amax") > 0d)
      .withColumn("code",
        transform(dbl, x => floor(x * lit(127.0) / col("amax")).cast("long")))
      .withColumn("ssq",
        aggregate(col("code"), lit(0L), (s, c) => s + c * c))
      .select(col("vec_id"), col("code"), col("ssq"))
  }

  /** SQ8 approximate top-k: same output/order contract as the ANN family
    * ((query_id, neighbor_id, rank), round-9 DESC, id ASC, self excluded). */
  def sq8TopK(emb: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val enc = sq8Encode(spread(emb, "vec_id"))
    val queries = enc.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("code").as("qc"),
        col("ssq").as("qssq"))
    val scored = enc
      .select(col("vec_id").as("neighbor_id"), col("code").as("nc"),
        col("ssq").as("nssq"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot",
        aggregate(zip_with(col("qc"), col("nc"), (a, b) => a * b),
          lit(0L), (s, v) => s + v))
      .withColumn("sim",
        col("dot").cast("double") /
          (sqrt(col("qssq").cast("double")) * sqrt(col("nssq").cast("double"))))
    TopK.rankTopK(scored, "query_id", "neighbor_id", round(col("sim"), 9), k)
  }
}
