package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Full-text retrieval over the documents table: inverted postings +
 * INTEGER-EXACT BM25 top-k (Robertson/Okapi shape; the serving-side
 * primitive behind corpus search, RAG candidate generation, and
 * eval-set leak triage — "which training docs score highest against
 * this eval question" is literally this query).
 *
 * Integer exactness. Classic BM25 sums per-term
 * idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) in floating point —
 * a shuffle-order-dependent double sum (and `ln` is not correctly
 * rounded, so an independent engine's idf drifts ulps). This
 * implementation keeps the WHOLE score in integers so any partitioning
 * and any independent engine reproduce it bit-for-bit:
 *
 *  - idf is the raw Robertson ratio (N − df + ½)/(df + ½) — the
 *    argument of the classic log-idf, a strictly monotone surrogate
 *    (per-term ordering identical; the usual +1-inside-log smoothing
 *    is unnecessary since the ratio is already positive).
 *  - k1 = k1Num/k1Den (default 6/5 = 1.2) and b = bNum/bDen (default
 *    3/4) enter by cross-multiplication; avgdl = S/N enters as the
 *    exact rational S/N (S = total corpus tokens, N = docs), never a
 *    rounded double. The per-term score becomes one exact fraction
 *        num = scale · (2N − 2df + 1) · (k1Num+k1Den) · bDen · tf · S
 *        den = (2df + 1) · (k1Den·bDen·tf·S + k1Num·(bDen−bNum)·S
 *                           + k1Num·bNum·dl·N)
 *    evaluated in decimal(38,0) and floor-divided (both engines'
 *    integer division truncates toward zero on positives) to a Long —
 *    per-term quotients then SUM as integers, which is order-free.
 *  - Bounds: num ≤ scale·2N·44·tf·S < 10^38 holds to N = 10^10 docs /
 *    S = 10^13 tokens (≈ 4·10^31); each quotient ≤ scale·(2N+1)·(k1+1)
 *    ≈ 4.4·10^16 at N = 10^10, so a query of ≤ 200 terms sums well
 *    inside Long.
 *
 * Plan shape at 100 TB: postings = one explode + one (doc_id, term)
 * partial-agg groupBy; df = one term-keyed partial agg over postings.
 * The query side is SMALL by definition (a user query / an eval set),
 * so it broadcasts: postings ⋈ broadcast(query terms) prunes the
 * posting list to query terms BEFORE anything else, the df rows for
 * those terms broadcast too (≤ |query terms| rows), and the final
 * ranking is the bounded k-heap [[TopKLongAgg]] — map-side partials,
 * only k-entry buffers shuffle, no Window anywhere (plan-tested).
 */
object Retrieval {

  /** Inverted postings of a (doc_id, text) corpus: one row per distinct
    * (doc_id, term) with term frequency `tf` and the document length
    * `dl` in whitespace tokens (the board's split-on-space convention,
    * empties kept — matching DuckDB's string_split). */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /**
   * BM25 top-k documents per query. `queries` must carry
   * (query_id long, qtext string); duplicate query terms count once
   * (standard short-query BM25 — qtf saturation at 1). Returns
   * (query_id, doc_id, rank, score) with rank 1..k by
   * (score DESC, doc_id ASC), score the exact scaled-integer BM25 sum
   * as decimal(38,0).
   *
   * DELIBERATE two-scan shape (r5 verdict housekeeping): the corpus
   * scalars (N, S) are a driver action over `docs` BEFORE the postings
   * pass — a second full scan of the text column. Caching the tokenized
   * frame would trade that scan for a corpus-sized materialization with
   * no safe unpersist point (the returned frame is lazy), and at scale
   * the real deployment never takes this path at all: it maintains a
   * PERSISTED postings index + running scalars and serves queries
   * through [[bm25FromPostings]], so the double scan is confined to the
   * build-from-scratch convenience entry point.
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1Num: Long = 6L, k1Den: Long = 5L,
               bNum: Long = 3L, bDen: Long = 4L,
               scale: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(k1Num > 0 && k1Den > 0 && bNum >= 0 && bDen > 0 && bNum <= bDen,
      "k1 must be positive and b in [0, 1]")
    require(scale >= 1, "scale must be >= 1")

    // corpus scalars: N docs, S total tokens (one agg, two Longs)
    val st = docs.select(split(col("text"), " ").as("ts"))
      .agg(count(lit(1)).as("n"), sum(size(col("ts"))).as("s")).head()
    if (st.isNullAt(1)) // empty corpus
      return docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("doc_id"),
          lit(0).as("rank"), lit(0L).cast("decimal(38,0)").as("score"))
    bm25FromPostings(postings(docs), st.getLong(0), st.getLong(1), queries, k,
      k1Num, k1Den, bNum, bDen, scale)
  }

  /**
   * The postings-level BM25 core — the batch operator builds its postings
   * in-pass; a caller that maintains a persisted index passes its own:
   * identical integer algebra over whatever (doc_id, term, tf, dl) frame
   * and (nDocs, totTok) scalars the caller maintains.
   */
  def bm25FromPostings(post: DataFrame, nDocs: Long, totTok: Long,
                       queries: DataFrame, k: Int,
                       k1Num: Long = 6L, k1Den: Long = 5L,
                       bNum: Long = 3L, bDen: Long = 4L,
                       scale: Long = 1000000L): DataFrame = {
    // derived cross-multiplication constants (44 / 20 / 6 / 18 at defaults)
    val c1 = (k1Num + k1Den) * bDen
    val c2 = k1Den * bDen
    val c3 = k1Num * (bDen - bNum)
    val c4 = k1Num * bNum

    val dfT = post.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val qterms = queries.select(col("query_id"),
      explode(array_distinct(split(col("qtext"), " "))).as("term"))

    // prune FIRST: the corpus-sized postings/df tables meet only the
    // broadcast query-term set; everything after is query-sized
    val cand = post.join(broadcast(qterms), "term")
    val qdf = dfT.join(broadcast(qterms.select(col("term")).distinct()), "term")

    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val num = dec(lit(scale)) * dec(lit(2L * nDocs) - lit(2L) * col("df") + lit(1L)) *
      dec(lit(c1)) * dec(col("tf")) * dec(lit(totTok))
    val den = dec(lit(2L) * col("df") + lit(1L)) *
      (dec(lit(c2)) * dec(col("tf")) * dec(lit(totTok)) +
        dec(lit(c3)) * dec(lit(totTok)) +
        dec(lit(c4)) * dec(col("dl")) * dec(lit(nDocs)))
    val scored = cand.join(broadcast(qdf), "term")
      .withColumn("num", num).withColumn("den", den)
      .withColumn("sc", expr("num div den")) // IntegralDivide: exact Long

    val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sc")).as("score_l"))
    TopK.rankTopKLong(perDoc, "query_id", "doc_id", col("score_l"), k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"),
        col("score").cast("decimal(38,0)").as("score"))
  }

  /**
   * Ranker-agnostic retrieval evaluation (the IR eval surface: MRR,
   * hits@k, first-relevant-rank) over any (query_id, doc_id, rank)
   * ranking and a (query_id, doc_id) relevance set. INTEGER-EXACT: the
   * reciprocal rank enters as the floor `scale div first_rel_rank`
   * (sum across queries and divide by |Q| downstream for MRR — both
   * integer ops), hits and n_rel are counts; queries with no relevant
   * hit in the top k get first_rel_rank = 0 and rr_scaled = 0 (and still
   * appear — silent query drops would inflate every mean). Plan: one
   * (query_id, doc_id)-keyed equi-join + two partial aggs + one keyed
   * left join — flat at any query-set size, no window.
   */
  def rankEval(ranking: DataFrame, qrels: DataFrame, k: Int,
               scale: Long = 1000000L): DataFrame = {
    require(k >= 1 && scale >= 1, "k and scale must be >= 1")
    val rels = qrels.select(col("query_id"), col("doc_id")).distinct()
    val rel = ranking.filter(col("rank") <= k)
      .join(rels, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(min(col("rank")).cast("long").as("frr"), count(lit(1)).as("h"))
    rels.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
      .join(rel, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("frr"), lit(0L)).as("first_rel_rank"),
        coalesce(col("h"), lit(0L)).as("hits"),
        coalesce(expr(s"$scale div frr"), lit(0L)).as("rr_scaled"))
  }

  /**
   * Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) — HYBRID
   * retrieval: fuse any number of per-query rankings (lexical BM25,
   * embedding ANN, …) into one list, robust to incomparable score
   * scales because only RANKS enter: rrf(d) = Σ_lists 1/(c + rank_d).
   * The classic sum is floating-point; here each reciprocal enters as
   * the EXACT floor `scale div (c + rank)` so contributions are
   * integers that sum order-free and any independent engine reproduces
   * every fused score bit-for-bit. A document absent from a list simply
   * contributes nothing (the standard convention). At the default
   * c = 60, scale = 10^6 consecutive floors stay distinct while
   * (c + rank)(c + rank + 1) ≤ scale — i.e. through rank ≈ 939 — so
   * fused ORDER matches the real-valued RRF for any plausible k; raise
   * `scale` quadratically for deeper lists.
   *
   * Inputs carry (query_id, doc_id, rank); output (query_id, doc_id,
   * rank, rrf) re-ranked 1..k by (fused score DESC, doc_id ASC) through
   * the bounded Long-keyed k-heap — map-side partials, no Window. Union
   * + one (query_id, doc_id)-keyed partial agg: flat in list count and
   * list length at any scale.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int,
              c: Long = 60L, scale: Long = 1000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(c >= 0 && scale >= 1, "c must be >= 0 and scale >= 1")
    val normed = rankings.map(_.select(col("query_id").cast("long"),
      col("doc_id").cast("long"), col("rank").cast("long")))
    val contrib = normed.reduce(_.unionAll(_))
      .withColumn("contrib", expr(s"$scale div (${c}L + rank)"))
    val fused = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_l"))
    TopK.rankTopKLong(fused, "query_id", "doc_id", col("rrf_l"), k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"),
        col("score").as("rrf"))
  }
}
