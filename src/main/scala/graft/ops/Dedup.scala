package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators over a `documents`-shaped table
 * (doc_id long, text string, lang string, ...): the standard large-corpus
 * training-data pipeline family — exact, MinHash+LSH, SimHash, exact n-gram
 * Jaccard. All are shuffle-on-key DataFrame plans (map-side partial aggs,
 * no driver collection) that scale linearly with executors.
 *
 * CACHE DISCIPLINE: the candidate-generating operators (minhashLsh,
 * simhashNearDup, ngramJaccardPairsPrefix, embeddingNearDup, dedupClusters)
 * internally cache their shingle/signature/prefix tables (each is read by
 * several plan branches; Spark's higher-order array functions are
 * interpreted, so recomputing them per branch is the expensive path). By
 * default (`eagerOps = true`) every such operator EAGERLY materializes its
 * (small) result via `localCheckpoint` and unpersists all of its cached
 * intermediates before returning — calling it therefore runs Spark jobs at
 * construction time, and leaks NOTHING into the session's storage pool: a
 * long-lived session can run thousands of dedup passes back-to-back with a
 * flat cache footprint. Callers that need fully lazy plans (plan audits,
 * custom composition) use `withLazyPlans { ... }`, which registers the
 * intermediates for a later `reset()` instead.
 */
object Dedup {

  /** Default (true): operators materialize their result and self-clean
    * their cached intermediates before returning. See object scaladoc. */
  @volatile private[graft] var eagerOps: Boolean = true

  /** Intermediates persisted while in lazy mode, pending reset(). */
  private val lazyCached = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every intermediate registered by lazy-mode operators. */
  def reset(): Unit = {
    var df = lazyCached.poll()
    while (df != null) { df.unpersist(false); df = lazyCached.poll() }
  }

  /** Run `f` with fully lazy operator plans (no construction-time jobs, no
    * localCheckpoint); cached intermediates accumulate and are unpersisted
    * when the block exits. Single-threaded use (the flag is global). */
  def withLazyPlans[T](f: => T): T = {
    eagerOps = false
    try f finally { eagerOps = true; reset() }
  }

  private[graft] def persistIntermediate(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (!eagerOps) lazyCached.add(p)
    p
  }

  /** Terminal step of each candidate-generating operator: eager mode
    * materializes the (small) result once and unpersists the operator's
    * cached intermediates; lazy mode returns the plan untouched. */
  private[graft] def finish(out: DataFrame, intermediates: DataFrame*): DataFrame = {
    if (eagerOps) {
      val ck = out.localCheckpoint(true)
      intermediates.foreach(_.unpersist(false))
      ck
    } else out
  }

  /** Exact dedup: one representative (min doc_id) per identical text.
    * At 100 TB hash first (`sha2`) so the shuffle carries 32-byte keys
    * instead of document bodies. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup keyed on raw text (oracle-friendly variant). */
  def exactByText(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select(col("keep_id"), col("dup_cnt"))

  /** Word n-gram shingles (distinct, first-occurrence order) from a token
    * array — the native codegen'd expression (one compiled pass; the HOF
    * transform/concat_ws/array_distinct form was interpreted per gram and
    * dominated the Jaccard/minhash operators; parity-tested in
    * FunctionsSpec). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    graft.functions.GraftFunctions.word_shingles(toks, n)

  /** Convenience for small inputs/tests; production paths materialize the
    * token array first (see shinglesFromTokens). */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(split(text, " "), n)

  /**
   * MinHash + banded LSH near-duplicate detection:
   *  1. shingle -> 64-bit hash;
   *  2. `numHashes` universal-hash minima form the signature (computed as
   *     min over (a_i * h + b_i) — one groupBy-free pass with higher-order
   *     array functions, fully codegen'd);
   *  3. signature split into `bands` bands; band-hash buckets;
   *  4. docs sharing a bucket are candidates; candidates verified with
   *     exact shingle-set Jaccard (array_intersect/union sizes).
   * Returns verified pairs (doc1, doc2, jaccard) with jaccard >= threshold.
   * Scale: the only shuffles are the bucket groupBy and the pair distinct;
   * hot buckets are capped at `maxBucket` docs (logged drop, standard LSH
   * practice) so one degenerate bucket cannot quadratically explode.
   */
  def minhashLsh(docs: DataFrame, shingleSize: Int = 3, numHashes: Int = 32,
                 bands: Int = 8, threshold: Double = 0.5,
                 maxBucket: Int = 64): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // higher-order array functions are interpreted (no codegen); the shingle
    // table is referenced three times (signature + both join-backs) — cache
    // it once rather than re-deriving per reference. An input spread()
    // was measured and REVERTED here (warm 1.5 -> 1.8 s): the codegen'd
    // shingle+minhash pass is cheap per row, so shuffling document text
    // costs more than the narrow compute it parallelizes (the q08 rule).
    val withShingles = persistIntermediate(docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0))
    // signature(i) = min over shingles of xxhash64(i, shingle) — seeded hash
    // family, computed by the native codegen'd expression (one compiled
    // pass per row; value-identical to the transform/aggregate HOF form,
    // parity-tested in FunctionsSpec — the HOF form re-ran an interpreted
    // tree per (i, shingle) and dominated the operator's cost).
    val sig = withShingles.withColumn("sig",
      graft.functions.GraftFunctions.minhash_sigs(col("sh"), numHashes))
    // pair on IDS ONLY (payloads join back later — carrying shingle arrays
    // through the K^2 bucket self-product explodes shuffle volume)
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(concat_ws("_", lit("band"), b,
          concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))))))).as(Seq("band", "bucket")))
    val pairs = idPairsFromBuckets(banded, maxBucket, dropLabel = "minhashLsh")
    val verified = pairs
      .join(withShingles.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sh", "sh1"), Seq("doc1"))
      .join(withShingles.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sh", "sh2"), Seq("doc2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      // shingle arrays are DISTINCT by construction (shinglesFromTokens),
      // so |union| = |sh1| + |sh2| - |inter| exactly — arithmetic instead
      // of materializing a per-pair union array (array_union allocated a
      // fresh array per candidate pair just to take its size)
      .withColumn("uni", size(col("sh1")) + size(col("sh2")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("inter"), col("uni"), col("jaccard"))
    finish(verified, withShingles)
  }

  /** Last drop report per label — observable from tests/metrics. Populated
    * synchronously before the operator returns (eager mode, the default);
    * lazy plan-audit mode does not update it. The engine's one drop store:
    * every loud cap (Dedup, Multimodal, Graphs, Rdf, Triples, Blocking)
    * records here under its own label. */
  val lastDropReport: scala.collection.concurrent.TrieMap[String, (Long, Long)] =
    scala.collection.concurrent.TrieMap.empty

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Read the drop counts off the CACHED sizing table (one row per bucket/
    * gram — the main job just materialized it, so this costs one scan of a
    * KB-scale cached table, not a re-pass over the corpus) and publish them.
    * (An `observe()` formulation was tried and reverted: CollectMetrics
    * metrics are silently absent when the observed node executes inside a
    * broadcast-exchange sub-execution, which these small sizing tables
    * almost always do.) */
  private def reportDrops(sizes: DataFrame, sizeCol: String, cap: Int,
      dropLabel: String, what: String, onDrop: (Long, Long) => Unit): Unit = {
    val dropRow = sizes.filter(col(sizeCol) > cap)
      .agg(count(lit(1)).as("nDropped"),
        coalesce(sum(col(sizeCol)), lit(0L)).as("nSlots"))
      .head()
    val (nBuckets, nDocs) = (dropRow.getLong(0), dropRow.getLong(1))
    lastDropReport(dropLabel) = (nBuckets, nDocs)
    if (nBuckets > 0)
      log.warn(s"[$dropLabel] dropped $nBuckets hot $what " +
        s"covering $nDocs slots (cap=$cap)")
    onDrop(nBuckets, nDocs)
  }

  /**
   * Distinct candidate id pairs from (doc_id, band, bucket) rows; buckets
   * larger than maxBucket are dropped (standard LSH hot-bucket cap).
   *
   * Scale contract: member lists are NEVER materialized for hot buckets —
   * a cheap count aggregation sizes every bucket first (map-side partial
   * agg; one long per bucket), hot buckets are filtered out by a join on
   * (band, bucket), and only then are the surviving (<= maxBucket) buckets'
   * members collected for pair expansion. A degenerate bucket (millions of
   * near-empty docs hashing together) therefore costs one counter, not one
   * OOM'd reducer.
   *
   * The drop is LOUD and near-free: the sizing table is cached (it feeds the
   * hot-bucket filter anyway), so the dropped bucket / doc-slot counts cost
   * one scan of a KB-scale cached table after the main job — never a second
   * pass over the banded corpus. Logged, recorded in
   * `lastDropReport(dropLabel)`, and passed to `onDrop` (eager mode).
   */
  private[graft] def idPairsFromBuckets(banded0: DataFrame, maxBucket: Int,
      dropLabel: String = "lsh",
      onDrop: (Long, Long) => Unit = (_, _) => ()): DataFrame = {
    // banded is read twice (sizing + pair-gen) — persist so the upstream
    // signature computation (interpreted HOFs) runs once; sizes is read
    // twice (bucket filter + drop report) and is one row per bucket
    val banded = persistIntermediate(banded0)
    val sizes = persistIntermediate(banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz")))
    val okBuckets = sizes.filter(col("bsz").between(2, maxBucket))
      .select(col("band"), col("bucket"))
    val pairs = banded.join(okBuckets, Seq("band", "bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("members"))
      .select(explode(expr(
        "filter(flatten(transform(members, a -> transform(members, b -> struct(a AS doc1, b AS doc2)))), " +
          "p -> p.doc1 < p.doc2)")).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .dropDuplicates("doc1", "doc2")
    if (eagerOps) {
      val out = pairs.localCheckpoint(true) // materializes banded + sizes caches
      reportDrops(sizes, "bsz", maxBucket, dropLabel, "LSH bucket(s)", onDrop)
      banded.unpersist(false)
      sizes.unpersist(false)
      out
    } else pairs
  }

  /**
   * Transitive near-duplicate CLUSTERS — the operator an actual dedup pass
   * needs (pairs alone under-delete: A~B and B~C must collapse to one
   * representative even when A~C was never a candidate). LSH pairs become
   * edges; connected components (large-star/small-star, O(log n) rounds)
   * label every clustered doc with the minimum doc_id of its cluster; docs
   * with no near-dup keep themselves.
   *
   * Scale: the CC iteration runs over the DUP-PAIR edge set (tiny relative
   * to the corpus), never the corpus; the corpus-sized step is one
   * left join against the cluster map.
   *
   * Returns (doc_id, keep_id); the dedup'd corpus is `keep_id = doc_id`.
   */
  def dedupClusters(docs: DataFrame, shingleSize: Int = 3, numHashes: Int = 32,
                    bands: Int = 8, threshold: Double = 0.5,
                    maxBucket: Int = 64): DataFrame = {
    val pairs = minhashLsh(docs, shingleSize, numHashes, bands, threshold, maxBucket)
      .select(col("doc1").as("src"), col("doc2").as("dst"))
    val comp = graft.canon.ConnectedComponents.run(pairs)
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("keep_id"))
  }

  /**
   * Corpus-wide duplicated-SPAN detection (the C4/Dolma curation primitive:
   * flag exact k-token windows that recur across documents, not just whole-
   * document duplicates). Per document: `n_windows` distinct k-token
   * windows and `n_dup_windows` of them whose exact text also occurs in at
   * least one OTHER document. Docs shorter than k tokens report (0, 0).
   *
   * Plan: one window explode, one groupBy(window) counting DISTINCT owner
   * docs (map-side partial agg), one join back, one per-doc agg. Both
   * shuffles key on the exact window text, so the count is
   * oracle-checkable.
   */
  def dupSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    val wins = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), k)).as("win"))
    val owners = wins.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = wins.join(owners, Seq("win"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /**
   * Benchmark DECONTAMINATION (the training-data hygiene op: drop corpus
   * documents that share any exact k-gram with an evaluation set, so the
   * model is never trained on its own test data). Per document: `n_hits`
   * distinct k-grams shared with the benchmark and the `contaminated`
   * flag. The benchmark gram set is small by construction (eval sets are
   * thousands of documents, not billions) — it is deduplicated and
   * BROADCAST, so the corpus side is one scan with a map-side hash probe,
   * no corpus shuffle at all.
   */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, k: Int = 8): DataFrame = {
    val hits = benchmarkHits(docs, benchmark, k)
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** The contaminated documents alone: (doc_id, n_hits) for each doc of
    * `docs` sharing at least one k-gram with `benchmark` — `decontaminate`
    * before its join back onto every doc, for a caller that only needs the
    * ids to drop. */
  def benchmarkHits(docs: DataFrame, benchmark: DataFrame, k: Int = 8): DataFrame = {
    val bGrams = benchmark
      .withColumn("toks", split(col("text"), " "))
      .select(explode(shinglesFromTokens(col("toks"), k)).as("g"))
      .distinct()
    val dGrams = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), k)).as("g"))
    dGrams.join(broadcast(bGrams), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  /**
   * Duplicated-span REMOVAL — the cut-it-out companion of `dupSpans`
   * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better": repeated long substrings are excised from all but one
   * occurrence rather than dropping whole documents). Token-granular, one
   * pass (no cascade: removals that create new adjacencies are not
   * re-examined, per the paper's single-pass semantics):
   *
   *  - every k-token window occurrence is keyed by its exact text (tokens
   *    joined with U+0001 — an unambiguous separator, unlike the
   *    flagging-only '' join in `dupSpans`);
   *  - the KEEPER of a window value is its globally-first occurrence
   *    (min (doc_id, pos) — one min-struct aggregate, map-side combined);
   *  - every other occurrence marks its k positions for removal; a doc's
   *    removal set is the UNION of marked positions (overlapping windows
   *    merge for free — it is a position set, not an interval list);
   *  - surviving tokens rejoin in order.
   *
   * Returns (doc_id, n_tokens, n_removed, text_clean). Deterministic
   * (min-struct keeper, set semantics). Shuffles: one window-value
   * aggregation, one per-doc position collect, one join back to the corpus.
   */
  def removeDupSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    val sep = "\u0001"
    val toks = split(col("text"), " ")
    val wins = docs
      .withColumn("toks", toks)
      .withColumn("nt", size(col("toks")))
      .select(col("doc_id"), col("nt"),
        posexplode(
          when(col("nt") >= k,
            transform(sequence(lit(1), col("nt") - (k - 1)),
              i => concat_ws(sep, slice(col("toks"), i, lit(k)))))
            .otherwise(array().cast("array<string>"))).as(Seq("pos", "win")))
    val keepers = wins.groupBy(col("win"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"),
        count(lit(1)).as("occ"))
    val removable = wins.join(keepers, Seq("win"))
      .filter(col("occ") > 1 &&
        !(col("doc_id") === col("keep.doc_id") && col("pos") === col("keep.pos")))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("tp"))).as("removed"))
    docs
      .withColumn("toks", toks)
      .join(removable, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("removed")), lit(0)).cast("long").as("n_removed"),
        when(col("removed").isNull, col("text"))
          .otherwise(concat_ws(" ",
            // sorted-merge excision: O(n + |removed|) per doc — the
            // per-token array_contains HOF was O(n * |removed|), quadratic
            // on a doc that is mostly duplicated span (parity-tested)
            graft.functions.GraftFunctions.excise_positions(col("toks"), col("removed"))))
          .as("text_clean"))
  }

  /** Deterministic multi-paragraph enrichment for the paragraph-dedup
    * tests/benchmarks: the corpus has single-line texts, so chunk each
    * document's tokens into paragraphs of `4 + doc_id % 5` tokens joined
    * by \n. Twin-reproducible from (doc_id, text) alone — the sequential
    * twin re-derives it from this spec (chunk size, 0-based chunks,
    * space-joined) without sharing code. */
  def syntheticParagraphs(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val cs = lit(4) + pmod(col("doc_id"), lit(5L)).cast("int")
    docs.withColumn("text",
      concat_ws("\n",
        transform(
          sequence(lit(0), floor((size(toks) + cs - lit(1)) / cs).cast("int") - 1),
          i => concat_ws(" ", slice(toks, i * cs + lit(1), cs)))))
  }

  /**
   * Paragraph-level exact deduplication (the CCNet first stage, Wenzek et
   * al. 2020, arXiv:1911.00359): split each document into \n-paragraphs,
   * keep only the corpus-wide FIRST occurrence of each distinct paragraph
   * (order = (doc_id, position)), excise the rest, and reassemble.
   * Returns (doc_id, n_paras, n_dropped, text_clean) for every input doc.
   *
   * Scale shape: the keeper aggregation keys on the exact paragraph text
   * with a map-side min-struct combine. The drop-list join back to
   * the corpus is keyed by doc_id and carries only int positions for the
   * (typically small) subset of docs that lose a paragraph — untouched
   * docs pass through the left join with their text unshuffled, and a
   * boilerplate paragraph duplicated across 10^9 docs is a wide join
   * partition (AQE-splittable), never a collect_list buffer. Excision
   * reuses the sorted-merge `excise_positions` expression (O(paras +
   * dropped) per doc).
   */
  def dedupParagraphs(docs: DataFrame): DataFrame = {
    val paras = split(col("text"), "\n")
    val ex = docs
      .select(col("doc_id"), posexplode(paras).as(Seq("pos", "p")))
    val keepers = ex.groupBy(col("p"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"),
        count(lit(1)).as("occ"))
    val dropped = ex.join(keepers, Seq("p"))
      .filter(col("occ") > 1 &&
        !(col("doc_id") === col("keep.doc_id") && col("pos") === col("keep.pos")))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("pos"))).as("removed"))
    docs
      .withColumn("paras", paras)
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        coalesce(size(col("removed")), lit(0)).cast("long").as("n_dropped"),
        when(col("removed").isNull, col("text"))
          .otherwise(concat_ws("\n",
            graft.functions.GraftFunctions.excise_positions(col("paras"), col("removed"))))
          .as("text_clean"))
  }

  /** Deterministic per-source boilerplate enrichment for the template-
    * removal tests/benchmarks (the [[syntheticParagraphs]] convention): a
    * nav header paragraph shared by EVERY document of a source, the
    * chunked body, and a copyright footer on even doc_ids — all derived
    * from (doc_id, source, text) alone so the SQL oracle reconstructs the
    * exact same page without touching this code. */
  def syntheticBoilerplate(docs: DataFrame): DataFrame =
    syntheticParagraphs(docs).withColumn("text",
      concat(
        lit("nav "), col("source"), lit(" home about\n"),
        col("text"),
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("\ncopyright "), col("source"),
            lit(" all rights reserved"))).otherwise(lit(""))))

  /**
   * Per-source TEMPLATE/BOILERPLATE removal (the C4 line-filter family,
   * Raffel et al. 2020 §2.2 — there applied corpus-wide; scoping the
   * election to the source/host is the production form: nav bars, cookie
   * banners and footers repeat WITHIN a site, and a sentence legitimately
   * shared by two unrelated sites is not boilerplate). A \n-paragraph
   * occurring in >= `minDocs` DISTINCT documents of the same source is
   * template text and is excised from EVERY document of that source —
   * unlike [[dedupParagraphs]], which keeps a first occurrence: boilerplate
   * has no keeper.
   *
   * Returns (doc_id, source, n_paras, n_removed, text_clean).
   *
   * 100 TB shape: the election is two partial-aggregated shuffles keyed by
   * (source, paragraph) — a distinct to collapse within-doc repeats to one
   * vote, then a count — so a footer on 10^9 pages of one host costs
   * counters, never a member list. The strip join back to the corpus is
   * keyed by doc_id and carries int positions; excision is the
   * sorted-merge `excise_positions` (O(paras + removed)).
   */
  def stripBoilerplate(docs: DataFrame, minDocs: Long = 3L): DataFrame = {
    val paras = split(col("text"), "\n")
    val ex = docs
      .select(col("doc_id"), col("source"), posexplode(paras).as(Seq("pos", "p")))
    val boiler = ex.select(col("source"), col("p"), col("doc_id")).distinct()
      .groupBy(col("source"), col("p"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("source"), col("p"))
    val removed = ex.join(boiler, Seq("source", "p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("pos"))).as("removed"))
    docs
      .withColumn("paras", paras)
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        size(col("paras")).cast("long").as("n_paras"),
        coalesce(size(col("removed")), lit(0)).cast("long").as("n_removed"),
        when(col("removed").isNull, col("text"))
          .otherwise(concat_ws("\n",
            graft.functions.GraftFunctions.excise_positions(col("paras"), col("removed"))))
          .as("text_clean"))
  }

  /**
   * Asymmetric n-gram CONTAINMENT join (Broder 1997's containment, the
   * syndication/quotation detector): emit (src, dst, inter, src_sz) where
   * |S(src) ∩ S(dst)| * 100 >= minContainPct * |S(src)| and src != dst.
   * Direction matters — a wire article reprinted inside a longer page
   * scores high article->page and low page->article, exactly the pairs
   * symmetric Jaccard (q26/q39) misses because the big union drowns them.
   *
   * Exact inverted-index join: distinct n-gram shingles per doc, pair
   * through shared grams (one keyed equi-join), count intersections with a
   * map-side partial agg, then the cross-multiplied integer test against
   * the SOURCE size only — no float division, both directions fall out of
   * one pair aggregation. Shingle length is the selectivity knob: 6-grams
   * make unrelated-doc collisions rare while syndicated runs of >= n+k
   * tokens still share k+1 grams.
   *
   * HOT-GRAM GUARD ([[ngramJaccardPairsPrefix]]'s convention): a gram whose
   * posting list exceeds `maxGramPostings` would be an unguarded quadratic
   * bucket; such grams are dropped LOUDLY (logged +
   * `lastDropReport("containmentPairs")`). With zero drops (queryable) the
   * result is EXACT; a drop can only lower `inter` (never invent a pair).
   */
  def containmentPairs(docs: DataFrame, n: Int = 6, minContainPct: Int = 50,
                       maxGramPostings: Int = 10000): DataFrame = {
    // An input spread() was measured and REVERTED (warm best 1.5 ->
    // 2.0 s): 6-gram shingling is one codegen'd pass — shuffling the
    // text costs more than the compute it parallelizes (the q08 rule).
    val withG = persistIntermediate(docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), n).as("g"))
      .filter(size(col("g")) > 0))
    val grams = withG.select(col("doc_id"),
      size(col("g")).cast("long").as("sz"), explode(col("g")).as("gram"))
    val postings = persistIntermediate(
      grams.groupBy(col("gram")).agg(count(lit(1)).as("psz")))
    val okGrams = postings.filter(col("psz").between(2, maxGramPostings))
      .select(col("gram"))
    val g1 = grams.join(okGrams, Seq("gram"))
    val g2 = g1.select(col("gram"), col("doc_id").as("dst"))
    val verified = g1.join(g2, Seq("gram"))
      .filter(col("doc_id") =!= col("dst"))
      // sz is functionally dependent on doc_id — riding it in the group key
      // keeps the count a one-pass partial agg (no second sizes join)
      .groupBy(col("doc_id"), col("sz"), col("dst"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 100 >= col("sz") * minContainPct)
      .select(col("doc_id").as("src"), col("dst"), col("inter"),
        col("sz").as("src_sz"))
    if (eagerOps) {
      val out = verified.localCheckpoint(true)
      reportDrops(postings, "psz", maxGramPostings, "containmentPairs",
        "gram posting list(s)", (_, _) => ())
      Seq(withG, postings).foreach(_.unpersist(false))
      out
    } else verified
  }

  /** 64-bit SimHash per document: per-token hash bits vote +1/-1; the sign
    * vector is the fingerprint. Native codegen'd expression (one compiled
    * pass; value-identical to the HOF bit-vote form, parity-tested in
    * FunctionsSpec). Returns (doc_id, simhash). */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))

  /** SimHash near-dup candidates: docs sharing any of the four 16-bit
    * chunks (guaranteed to catch hamming distance <= 3), verified by true
    * hamming distance <= `maxHamming`. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    // referenced three times (banding + two join-backs). An input
    // spread() was measured and REVERTED (warm 1.0 -> 2.1 s): the
    // codegen'd fingerprint is one hash pass per row — shuffling the
    // text costs more than the compute it parallelizes (the q08 rule).
    val sh = persistIntermediate(simhash(docs))
    val banded = sh.select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, c * 16) & 65535)"))
        .as(Seq("band", "bucket")))
    val pairs = idPairsFromBuckets(banded, maxBucket, dropLabel = "simhashNearDup")
    val verified = pairs
      .join(sh.withColumnRenamed("doc_id", "doc1").withColumnRenamed("simhash", "h1"), Seq("doc1"))
      .join(sh.withColumnRenamed("doc_id", "doc2").withColumnRenamed("simhash", "h2"), Seq("doc2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc1"), col("doc2"), col("hamming"))
    finish(verified, sh)
  }

  /**
   * Exact n-gram Jaccard similarity >= threshold via an inverted index
   * (shingle -> docs) join — the oracle-checkable exact twin of minhashLsh.
   * `docFilter` bounds the candidate universe (pairwise work is inherently
   * quadratic in bucket size; production uses minhashLsh and verifies).
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 2, minJaccardPct: Int = 50): DataFrame = {
    val grams = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), n)).as("g"))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // pin the self-join's parallelism with an explicit same-key
    // repartition: it satisfies the join's hashpartitioning(g)
    // requirement (no extra exchange) but, being user-specified, is NOT
    // byte-coalesced by AQE — the gram table is KB-scale while the join
    // output is quadratic in per-gram document frequency, so AQE's
    // byte-based coalescing was funneling the whole expansion onto a
    // couple of cores
    val gramsP = grams.repartition(
      math.max(2, docs.sparkSession.sparkContext.defaultParallelism), col("g"))
    val g2 = gramsP.withColumnRenamed("doc_id", "doc2")
    val inter = gramsP.join(g2, Seq("g"))
      .filter(col("doc_id") < col("doc2"))
      .groupBy(col("doc_id"), col("doc2")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes, Seq("doc_id"))
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sz", "sz2"), Seq("doc2"))
      .withColumn("uni", col("sz") + col("sz2") - col("inter"))
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("doc_id").as("doc1"), col("doc2"), col("inter"), col("uni"))
  }

  /**
   * EXACT n-gram Jaccard pairs at corpus scale — the prefix-filtered
   * inverted index (Bayardo et al. WWW'07 "Scaling Up All Pairs Similarity
   * Search"; Xiao et al. PPJoin): identical output to `ngramJaccardPairs`,
   * but the index holds only each document's PREFIX grams under the
   * canonical (rarest-first) gram order. Guarantee: if J(A,B) >= t, the
   * minimum-rank shared gram sits within the first
   * |X| - ceil(t*|X|) + 1 grams of BOTH documents — so indexing prefixes
   * loses nothing, while frequent grams (the quadratic blowup) fall out of
   * most prefixes.
   *
   * PPJoin LENGTH FILTER: J(A,B) >= t additionally implies
   * t*|A| <= |B| <= |A|/t, so candidates whose gram-set sizes violate
   * `100*min(gsz1,gsz2) >= minJaccardPct*max(gsz1,gsz2)` are pruned BEFORE
   * the (expensive) full-array verification — exactness preserved.
   *
   * PPJoin POSITIONAL FILTER: a prefix match of A's rank-i gram with B's
   * rank-j gram (global ranks under the canonical order) bounds the
   * intersection by ub = 1 + min(|A| - i, |B| - j); for a true pair the
   * FIRST common gram lies in both prefixes and yields the largest such
   * bound, so filtering on max-over-matches(ub) * (100+pct) >=
   * pct * (|A|+|B|)  (inter >= t/(1+t) * (|A|+|B|), integer form) keeps
   * every true pair while discarding candidates that only share frequent
   * tail-of-prefix grams — the bulk of the candidate set on templated
   * corpora (measured 193k -> ~10^3 at sf0.1). Exactness preserved.
   *
   * HOT-GRAM GUARD: a prefix gram whose posting list exceeds
   * `maxGramPostings` docs would still be an unguarded quadratic bucket in
   * the self-join (Zipfian corpora). Such grams are dropped LOUDLY (logged +
   * `lastDropReport("ngramJaccardPairsPrefix")`), like idPairsFromBuckets'
   * bucket cap. With zero drops (queryable) the result is EXACT; a drop
   * means a pair is missed only if the hot gram was its sole shared prefix
   * gram. Singleton posting lists are pruned too (they cannot pair — pure
   * win, exact).
   *
   * Plan shape: one gram-frequency aggregation, one per-document window
   * (keyed by doc — no global rank materialization; the canonical order is
   * the (freq, gram) pair itself), a self-join on PREFIX grams only, and
   * exact set verification on the length-filtered candidates. All integer
   * arithmetic (minJaccardPct), no probabilistic step.
   */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int = 3,
                              minJaccardPct: Int = 50,
                              maxGramPostings: Int = 10000): DataFrame = {
    // An input spread() was measured and REVERTED here (warm min 3.17 ->
    // 3.26 s): it widened the broadcast-build scans (0.40 -> 0.16 s) but
    // shuffling the text cost as much as it saved (the q08 rule); the
    // verification and window repartitions below are where the real
    // narrow-stage cost was.
    val withG = persistIntermediate(docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), n).as("g"))
      .filter(size(col("g")) > 0))
    val grams = withG.select(col("doc_id"), size(col("g")).as("gsz"),
      explode(col("g")).as("gram"))
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("freq"))
    // per-doc rank under the canonical order; keep the prefix:
    // p = gsz - ceil(pct*gsz/100) + 1  (integer ceil)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("freq"), col("gram"))
    // the gram-frequency join output is byte-small, so AQE coalesces the
    // window's doc_id exchange to a couple of tasks while the per-doc
    // sort+rank is compute-bound; a user-specified repartition on the
    // window key pins the width (not same-key-pruned: the join output is
    // not already hash-partitioned on doc_id) and the Window reuses it
    val prefixes = persistIntermediate(grams.join(freq, Seq("gram"))
      .repartition(math.max(2, docs.sparkSession.sparkContext.defaultParallelism),
        col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("gsz") - floor((col("gsz") * minJaccardPct + 99) / 100) + 1)
      .select(col("gram"), col("doc_id"), col("gsz"), col("rn")))
    // hot-gram guard: size every prefix posting list first (one counter per
    // gram, map-side partial agg); cached — it feeds both the gram filter
    // and the post-job drop report
    val postings = persistIntermediate(
      prefixes.groupBy(col("gram")).agg(count(lit(1)).as("psz")))
    val okGrams = postings.filter(col("psz").between(2, maxGramPostings))
      .select(col("gram"))
    val p1 = prefixes.join(okGrams, Seq("gram"))
    val p2 = p1.select(col("gram"), col("doc_id").as("doc2"),
      col("gsz").as("gsz2"), col("rn").as("rn2"))
    val candPairs = p1.join(p2, Seq("gram"))
      .filter(col("doc_id") < col("doc2") &&
        // PPJoin length filter: prune before carrying pairs any further
        col("gsz") * 100 >= col("gsz2") * minJaccardPct &&
        col("gsz2") * 100 >= col("gsz") * minJaccardPct)
      // positional filter: the pair dedup IS the per-pair aggregation, so
      // the overlap upper bound rides the same shuffle for free
      .groupBy(col("doc_id"), col("doc2"))
      .agg(max(lit(1) + least(col("gsz") - col("rn"), col("gsz2") - col("rn2"))).as("ub"),
        first(col("gsz")).as("g1sz"), first(col("gsz2")).as("g2sz"))
      .filter(col("ub") * (100 + minJaccardPct) >= (col("g1sz") + col("g2sz")) * minJaccardPct)
      .select(col("doc_id").as("doc1"), col("doc2"))
    // verification parallelism: the candidate frame is BYTE-small (two
    // ids per row) so AQE coalesces its exchange to a couple of tasks,
    // but each surviving candidate pays an array_intersect over the FULL
    // gram arrays — compute-bound on small bytes (the ngramJaccardPairs
    // AQE note above; measured: the whole verification stage ran as 3
    // tasks). The spread pins the stage width; the gram-array joins
    // below broadcast, so no further exchange follows and the
    // verification inherits it.
    val cands = Similarity.spread(candPairs, "doc1", "doc2")
    val verified = cands
      .join(withG.withColumnRenamed("doc_id", "doc1").withColumnRenamed("g", "g1"), Seq("doc1"))
      .join(withG.withColumnRenamed("doc_id", "doc2").withColumnRenamed("g", "g2"), Seq("doc2"))
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      // gram arrays are DISTINCT by construction: |union| by arithmetic,
      // not a per-pair materialized union array (the minhashLsh note)
      .withColumn("uni", size(col("g1")) + size(col("g2")) - col("inter"))
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("doc1"), col("doc2"), col("inter"), col("uni"))
    if (eagerOps) {
      val out = verified.localCheckpoint(true)
      reportDrops(postings, "psz", maxGramPostings, "ngramJaccardPairsPrefix",
        "prefix gram posting list(s)", (_, _) => ())
      Seq(withG, prefixes, postings).foreach(_.unpersist(false))
      out
    } else verified
  }

  /** Embedding near-duplicates: pairs with cosine >= threshold, found by
    * MULTI-BAND random-hyperplane sign-LSH (the minhashLsh banding pattern)
    * and verified by true cosine. `planes` sign bits are split into `bands`
    * bands of planes/bands bits; a pair is a candidate if ANY band's bits
    * all agree. Recall math (Charikar sign-LSH): per-plane agreement
    * p = 1 - theta/pi, band hit p^(planes/bands), recall
    * 1-(1-p^r)^bands — at the 64/4 default (r = 16), TRUE duplicates
    * (cosine 0.999, p~0.99) are caught at ~0.9995 (property-tested on
    * planted near-dups, incl. at 50k vectors), cosine-0.95 pairs at
    * ~0.55; a caller needing high recall at the looser end raises
    * `bands` while keeping r = 16 (planes = 16*bands: 256/16 gives
    * ~0.96 at cosine 0.95) — r below ~16 shrinks the bucket space into
    * the hot-bucket cap instead (see the constraint below). An empty
    * input returns an empty (v1, v2, cosine) result.
    *
    * GEOMETRY CONSTRAINT (the scale bound): each band hashes the corpus
    * into 2^(planes/bands) buckets, and any bucket past `maxBucket` is
    * LOUDLY dropped (hot-bucket cap) — so the bucket space per band MUST
    * exceed |corpus| / maxBucket or every bucket saturates and the
    * operator finds nothing. The 64/4 default gives 2^16 buckets per band
    * (~16M vectors at the default cap); the old 16/4 default gave 16 (!)
    * bucket values per band and died past ~4k vectors. */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.95,
                       planes: Int = 64, bands: Int = 4, maxBucket: Int = 256): DataFrame = {
    require(planes % bands == 0, "planes must be divisible by bands")
    val rows = planes / bands
    // The hyperplane weights are constants of (plane, position) — a model
    // artifact like the IVF codebook — so compute the weight matrix ONCE on
    // the driver (graft.functions.Xxh64 == Spark's xxhash64, property-
    // tested) instead of re-hashing per row x plane x dim inside the
    // expression. Weight = ±1 from the hash parity of "plane<p>:<i>".
    // Assumes a fixed-dimension embedding column (any ANN-indexed table).
    // NOTE: probing the dim runs one tiny Spark job at construction time.
    val dimRow = emb.select(size(col("embedding"))).limit(1).collect()
    if (dimRow.isEmpty)
      return emb.limit(0).select(col("vec_id").as("v1"), col("vec_id").as("v2"),
        lit(0.0d).as("cosine"))
    val dim = dimRow(0).getInt(0)
    // native codegen'd sign bits (one pass over the vector for all planes;
    // value-identical to the per-plane zip_with/aggregate HOF form, parity-
    // tested in FunctionsSpec); materialized once, reused across bands
    val withSig = persistIntermediate(emb.select(col("vec_id"),
      graft.functions.GraftFunctions.signlsh_bits(col("embedding"),
        signlshPlanes(dim, planes)).as("bits")))
    // posexplode of the `bands` per-band bucket codes of the bits column
    val banded = withSig.select(col("vec_id").as("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        aggregate(slice(col("bits"), b * lit(rows) + 1, lit(rows)),
          lit(0L), (a, bit) => a * 2 + bit))).as(Seq("band", "bucket")))
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val verified = idPairsFromBuckets(banded, maxBucket, dropLabel = "embeddingNearDup")
      .join(vecs.withColumnRenamed("vec_id", "doc1").withColumnRenamed("embedding", "e1"), Seq("doc1"))
      .join(vecs.withColumnRenamed("vec_id", "doc2").withColumnRenamed("embedding", "e2"), Seq("doc2"))
      .withColumn("cosine", Similarity.cosine(col("e1"), col("e2")))
      .filter(col("cosine") >= threshold)
      .select(col("doc1").as("v1"), col("doc2").as("v2"), col("cosine"))
    finish(verified, withSig)
  }

  /** The deterministic ±1 hyperplane matrix behind [[embeddingNearDup]] —
    * a (planes × dim) model artifact derived from xxhash64 parity of
    * "plane<p>:<i>", identical on the driver, in the codegen'd
    * expression, and in the sequential twin. */
  private def signlshPlanes(dim: Int, planes: Int): Array[Array[Float]] =
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { i =>
        val h = graft.functions.Xxh64.hashString(s"plane$p:$i",
          graft.functions.Xxh64.SparkSeed)
        (((h % 2 + 2) % 2) * 2 - 1).toFloat
      }
    }
}
