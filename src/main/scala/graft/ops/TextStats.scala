package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data curation over `documents`:
 * language ID (n-gram/marker heuristic), quality scoring, token counting
 * (whitespace + BPE-ish subword estimate), and document fingerprinting
 * (rolling hash). All pure column expressions (codegen) except the rolling
 * hash, which is a deterministic Catalyst-registered Scala UDF.
 */
object TextStats {

  /** Marker lexicons per language for the heuristic classifier. The sets are
    * deterministic and intentionally tiny: the operator shape (per-lang
    * scores -> argmax with alphabetic tie-break) is the product; swap in
    * real char-n-gram profiles at deployment. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht", "das", "ist"),
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "los", "es"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et"),
    "nl" -> Seq("de", "het", "een", "van", "en", "is")
  )

  private def toks(text: Column): Column = split(text, " ")

  /** Predicted language per doc: argmax of marker hit-counts, ties to the
    * alphabetically first language; "und" (undetermined) when no marker
    * hits at all. */
  def langId(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    // argmax with alphabetic tie-break: greatest over struct(score, negLangRank, lang)
    val structs = markers.map { case (lg, ms) =>
      struct(
        size(filter(t, x => x.isin(ms.map(_.asInstanceOf[Any]): _*))).as("score"),
        lit(-markers.indexWhere(_._1 == lg)).as("nrank"),
        lit(lg).as("lang"))
    }
    val best = greatest(structs: _*)
    docs.select(col("doc_id"),
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und")).as("pred_lang"),
      best.getField("score").as("marker_hits"))
  }

  /** Quality counters (integers — exact, oracle-friendly): token count,
    * stopword hits, punctuation-ish chars, mean handled downstream. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def quality(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_uniq_tokens"),
      size(filter(t, x => x.isin(stopwords.map(_.asInstanceOf[Any]): _*))).as("n_stopwords"),
      length(col("text")).as("n_chars"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).as("n_punct"))
  }

  /** Whitespace token count plus a BPE-ish subword estimate: number of
    * 4-char subword units rounded up per token (a cheap deterministic proxy
    * for byte-pair tokenizers in data-budget accounting). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("ws_tokens"),
      aggregate(t, lit(0L), (acc, x) => acc + ceil(length(x).cast("double") / 4.0).cast("long"))
        .as("bpe_units"))
  }

  /** Gopher/C4-style quality FILTER over the `quality()` counters — all
    * integer arithmetic (exact, oracle-friendly): keep a doc iff
    *  - 5 <= n_tokens <= 100000,
    *  - mean word length in [2, 12] chars (2*n_tokens <= n_chars <= 12*n_tokens),
    *  - stopword ratio >= 1% (100*n_stopwords >= n_tokens),
    *  - punctuation ratio <= 20% of chars (5*n_punct <= n_chars).
    * Returns the counters + a `keep` flag (curation keeps `keep = true`). */
  def curate(docs: DataFrame): DataFrame = {
    quality(docs).withColumn("keep",
      col("n_tokens").between(5, 100000) &&
        (col("n_chars") >= col("n_tokens") * 2) &&
        (col("n_chars") <= col("n_tokens") * 12) &&
        (col("n_stopwords") * 100 >= col("n_tokens")) &&
        (col("n_punct") * 5 <= col("n_chars")))
  }

  /** `curate`'s keep rule as a pure predicate on the text column — for
    * pipelines that filter in place (one codegen'd pass, no join against a
    * keep-set). Value-identical to `curate(...)("keep")`. */
  def keepPredicate(text: Column): Column = {
    val t = toks(text)
    val nTokens = size(t)
    val nChars = length(text)
    val nStop = size(filter(t, x => x.isin(stopwords.map(_.asInstanceOf[Any]): _*)))
    val nPunct = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
    nTokens.between(5, 100000) &&
      (nChars >= nTokens * 2) && (nChars <= nTokens * 12) &&
      (nStop * 100 >= nTokens) && (nPunct * 5 <= nChars)
  }

  /** Deterministic hash sampling for corpus curation: keep a row iff
    * xxhash64(key) mod 100 < pctKeep — stable across runs, partitionings
    * and cluster sizes (unlike TABLESAMPLE/rand()), so a 10% sample drawn
    * today equals the 10% prefix of a 30% sample drawn tomorrow. */
  def sampleByHash(df: DataFrame, key: Column, pctKeep: Int): DataFrame =
    df.filter(pmod(xxhash64(key), lit(100)) < pctKeep)

  /**
   * Deterministic SOURCE-MIXTURE sampling (the pretraining data-mixing op:
   * each source/domain contributes at its own rate — e.g. wiki 100%, web
   * 30%). Keep a row iff pmod(xxhash64(doc_id), 100) < rate(source); same
   * stability contract as `sampleByHash` (nested samples, partition- and
   * cluster-size-invariant), and the rate lookup is a small CASE expression
   * (codegen), not a join. Unknown sources fall back to `defaultPct`.
   */
  def sampleBySourceRates(docs: DataFrame, rates: Map[String, Int],
                          defaultPct: Int = 0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (src, pct)) =>
      when(col("source") === src, lit(pct)).otherwise(acc)
    }
    docs.filter(pmod(xxhash64(col("doc_id")), lit(100)) < rate)
  }

  /** TEMPERATURE-scaled source mixing (the XLM/mBERT multinomial
    * alpha-sampling, Conneau & Lample 2019 §3.1: flatten the source-size
    * distribution by sampling with probability proportional to
    * corpus-share^alpha). Keep rates derive from per-source counts:
    * `pct_i = max(1, round(100 * (n_i / n_min)^(alpha-1)))` — for
    * alpha < 1 the SMALLEST source keeps 100% and larger sources
    * down-sample toward the flattened distribution (expected kept counts
    * proportional to n_i^alpha); alpha = 1 keeps everything. The
    * per-source count aggregate is source-cardinality (tiny) and the
    * sampling is the deterministic q54 hash rule — no sort, no join.
    * Returns the kept rows plus the applied `pct`. */
  def temperatureMixture(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return docs.withColumn("pct", lit(0))
    val nMin = counts.values.min.toDouble
    val rates = counts.map { case (src, n0) =>
      src -> math.max(1L,
        java.math.BigDecimal.valueOf(100.0 * math.pow(n0 / nMin, alpha - 1))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toInt
    }
    val rate = rates.foldLeft(lit(0)) { case (acc, (src, pct)) =>
      when(col("source") === src, lit(pct)).otherwise(acc)
    }
    docs.withColumn("pct", rate)
      .filter(pmod(xxhash64(col("doc_id")), lit(100)) < col("pct"))
  }

  /** Fixed-window document CHUNKING for context-length-bounded training:
    * chunk c covers tokens [c*stride, c*stride + maxTokens) with
    * stride = maxTokens - overlap; a doc of nt tokens yields
    * 1 + ceil(max(0, nt - maxTokens) / stride) chunks (integer
    * arithmetic, exactly reproducible in SQL). Emits
    * (doc_id, chunk_idx, n_tokens, chunk) — pure column expressions,
    * no shuffle (plan: one projection + generate). */
  def chunkDocs(docs: DataFrame, maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, s"overlap $overlap vs maxTokens $maxTokens")
    val stride = maxTokens - overlap
    val toks = split(col("text"), " ")
    val nt = size(toks)
    val nChunks = when(nt <= maxTokens, lit(1))
      .otherwise((nt - maxTokens + (stride - 1)).cast("long") / lit(stride) + 1)
    docs
      .withColumn("toks", toks)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), floor(nChunks).cast("int") - 1),
          c => concat_ws(" ", slice(col("toks"), c * stride + 1, lit(maxTokens)))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"), col("chunk"))
  }

  /**
   * Deterministic SEQUENCE PACKING for pretraining-batch assembly: docs are
   * spread over `buckets` hash buckets (the parallelism unit — each bucket
   * packs independently, so the operator scales by executors), and within a
   * bucket, ordered by doc_id, a doc joins pack
   * floor(tokens_before_it / budget). Fully deterministic across runs,
   * partitionings and cluster sizes (hash bucket + total order), unlike
   * arrival-order packing. Returns (doc_id, n_tokens, bucket, pack_id).
   *
   * The window is keyed by bucket — no global sort; at 10^12 docs each
   * bucket's running sum is an independent partition-local scan.
   */
  def packByTokenBudget(docs: DataFrame, budget: Long, buckets: Int = 64): DataFrame =
    packByCounts(docs.select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
      budget, buckets)

  /** The whitespace token count `packByTokenBudget` budgets. */
  def tokenCount(text: Column): Column = size(toks(text)).cast("long")

  /** Packing over an ARBITRARY per-document token count (doc_id, n_tokens) —
    * so packs can budget the units that matter: BPE subword counts from
    * `Bpe.segment` (a model's context window is sized in tokenizer units,
    * not whitespace words), character counts, anything. Same determinism
    * contract and bucket-local window as `packByTokenBudget`. */
  def packByCounts(counted: DataFrame, budget: Long, buckets: Int = 64): DataFrame =
    packRows(counted.select(col("doc_id"), col("n_tokens")), budget, buckets)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack_id"))

  /** The packing window with PASSTHROUGH columns: assigns (bucket,
    * pack_id) from the `n_tokens` running sum while keeping every other
    * input column — so a payload (e.g. the subword ids `Bpe.packedIds`
    * assembles) rides the ONE bucket shuffle instead of re-deriving and
    * re-joining (the downstream groupBy(bucket, pack_id) reuses the
    * bucket hash partitioning — no second exchange). Same pack
    * assignment as `packByCounts` (which is a projection of this). */
  def packRows(counted: DataFrame, budget: Long, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && buckets > 0, s"budget ($budget) and buckets ($buckets) must be > 0")
    val t = counted
      .withColumn("n_tokens", col("n_tokens").cast("long"))
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("tokens_before") / budget).cast("long"))
      .drop("tokens_before")
  }

  /**
   * Gopher-style REPETITION profile: per-doc occurrence count of the most
   * frequent word 1/2/3-gram plus the total gram counts, and a `repetitive`
   * flag in exact integer arithmetic (Rae et al., Gopher §A1.1 use
   * fraction-of-characters thresholds; the integer twin here flags a doc
   * whose top 1-gram exceeds 30% of tokens, top 2-gram exceeds 20% of
   * 2-grams, or top 3-gram exceeds 15% of 3-grams).
   *
   * Scale shape: the output is per-document, so the gram counting runs as
   * one compiled per-row pass (`top_ngram_count`) — zero shuffle, unlike an
   * explode + groupBy(doc, gram) + max re-aggregation which would shuffle
   * every gram occurrence in the corpus three times.
   */
  def repetitionProfile(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.top_ngram_count
    val t = toks(col("text"))
    docs
      .withColumn("toks", t)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        top_ngram_count(col("toks"), 1).as("top1_count"),
        top_ngram_count(col("toks"), 2).as("top2_count"),
        top_ngram_count(col("toks"), 3).as("top3_count"))
      .withColumn("repetitive",
        (col("top1_count") * 10 > col("n_tokens") * 3) ||
          (col("top2_count") * 5 > greatest(col("n_tokens") - 1, lit(0L))) ||
          (col("top3_count") * 20 > greatest(col("n_tokens") - 2, lit(0L)) * 3))
  }

  /** `repetitionProfile`'s flag as a pure predicate on the text column
    * (in-place filtering, no join). Value-identical to the profile's
    * `repetitive` column. */
  def repetitivePredicate(text: Column): Column = {
    import graft.functions.GraftFunctions.top_ngram_count
    val t = toks(text)
    val n = size(t).cast("long")
    (top_ngram_count(t, 1) * 10 > n * 3) ||
      (top_ngram_count(t, 2) * 5 > greatest(n - 1, lit(0L))) ||
      (top_ngram_count(t, 3) * 20 > greatest(n - 2, lit(0L)) * 3)
  }

  /**
   * Char-n-gram language-model RARITY score (the KenLM/CCNet-style
   * perplexity-proxy quality signal, self-trained on the corpus): per doc,
   * the mean log-probability of its character n-grams under the corpus
   * unigram-of-n-grams model, plus the exact integer frequency sum.
   *
   * Scale shape: the model (distinct char n-grams + counts) is tiny
   * relative to the corpus — a bounded-alphabet n-gram table — so it is
   * BROADCAST onto the gram stream; the explode feeds a partial aggregate
   * in the same codegen stage (nothing materializes |doc|*|corpus| rows),
   * and the only shuffle is the per-doc combine. Training pass = one
   * map-side-combined count aggregation.
   */
  def lmRarity(docs: DataFrame, n: Int = 3): DataFrame =
    lmScore(docs, lmTrain(docs, n), n)

  /**
   * TRAIN side of the rarity model (the CCNet split: train once on a
   * reference-domain corpus, score any corpus against it): the char
   * n-gram unigram table (gram, cnt, tot) with `tot` carried as a constant
   * column — `tot` is the count sum BEFORE flooring, so dropped grams
   * still weigh in the denominator and a floored model scores identically
   * to an unfloored one on every RETAINED gram.
   *
   * MODEL-SIZE BOUND: grams with cnt < `minCount` are dropped from the
   * table (they score through `lmScore`'s floor instead), so the model has
   * at most tot/minCount rows regardless of corpus size or alphabet — the
   * knob that keeps a multilingual 100 TB model broadcastable (CJK
   * char-trigram vocabularies reach 10^8+ distinct grams; minCount=100 at
   * 10^14 total grams bounds the table at 10^12/tot-fraction scale, and in
   * practice Zipf puts the mass in the head). minCount=1 keeps every gram
   * (exact self-scoring, the q56 contract).
   *
   * Persist with df.write.parquet / TableIO — round-tripped in OpsSpec.
   */
  def lmTrain(docs: DataFrame, n: Int = 3, minCount: Long = 1L): DataFrame = {
    import graft.functions.GraftFunctions.char_ngrams
    val freq = docs.select(explode(char_ngrams(col("text"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).cast("double").as("tot"))
    freq.filter(col("cnt") >= minCount).crossJoin(broadcast(total))
  }

  /**
   * SCORE side: per doc, the mean log-probability of its char n-grams
   * under `model` (from `lmTrain` — possibly a DIFFERENT corpus's), plus
   * gram counts. Grams absent from the model take the smoothing floor
   * `floorCount` (they were rarer than minCount in training, or unseen).
   *
   * Scale shape: the model joins onto the gram stream BROADCAST when it is
   * small enough (<= `broadcastRows`), and as a plain shuffle hash join
   * above that — an unconditional broadcast of an unbounded gram table was
   * round 3's scale defect. The explode feeds a partial aggregate in the
   * same stage; the only corpus shuffle is the per-doc combine. That
   * combine is the price of a result keyed by doc_id: a chain that carries
   * its documents on and wants these columns on its own rows uses
   * `lmAnnotate`, which below the same bound scores every row in place
   * (no explode, no combine, no join back).
   */
  def lmScore(docs: DataFrame, model: DataFrame, n: Int = 3, floorCount: Long = 1L,
              broadcastRows: Long = 4000000L): DataFrame = {
    import graft.functions.GraftFunctions.char_ngrams
    val m = graft.ops.Dedup.persistIntermediate(model)
    // ONE stats job over the cached model: row count (join-strategy choice)
    // and tot (a model constant, folded into the scoring expression as a
    // literal — no crossJoin re-aggregation)
    val st = m.agg(count(lit(1)), max(col("tot"))).head
    val useBroadcast = st.getLong(0) <= broadcastRows
    val totV = if (st.isNullAt(1)) 1.0 else st.getDouble(1)
    val mJoin0 = m.select(col("gram"), col("cnt"))
    // above the bound: an explicit shuffle-hash hint — without it Catalyst's
    // size estimate of the cached model could still pick broadcast
    val mJoin = if (useBroadcast) broadcast(mJoin0) else mJoin0.hint("shuffle_hash")
    val grams = docs.select(col("doc_id"), explode(char_ngrams(col("text"), n)).as("gram"))
    val out = grams
      .join(mJoin, Seq("gram"), "left")
      .select(col("doc_id"), coalesce(col("cnt"), lit(floorCount)).as("ecnt"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("ecnt")).as("freq_sum"),
        round(avg(log(col("ecnt").cast("double") / lit(totV))), 6).as("lm_logprob"))
    graft.ops.Dedup.finish(out, m)
  }

  /**
   * `lmScore`'s columns (n_grams, freq_sum, lm_logprob) APPENDED to the
   * rows of `docs`, null on a doc with no char n-gram; on every other doc
   * equal to `lmScore`'s row, bit for bit.
   *
   * Scale shape: one bounded `Adaptive.small` probe of the model decides
   * and hands its rows over. A model of at most `broadcastRows` rows (the
   * `lmScore` bound) becomes a broadcast gram map and each row is scored
   * in place (`lm_gram_score`): one projection, no shuffle, and the rows
   * keep their partitioning. A larger model is never broadcast: `lmScore`'s
   * shuffle-hash rows are left-joined back by doc_id.
   *
   * Returns the rows and the release of the model broadcast (a no-op
   * above the bound), to call once the rows are materialized.
   */
  def lmAnnotate(docs: DataFrame, model: DataFrame, n: Int = 3, floorCount: Long = 1L,
                 broadcastRows: Long = 4000000L): (DataFrame, () => Unit) = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = model.select(col("gram"), col("cnt").cast("long"), col("tot").cast("double"))
    graft.core.Adaptive.small(m, broadcastRows) { rows =>
      val table = new java.util.HashMap[UTF8String, java.lang.Long](rows.length * 2)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) table.put(UTF8String.fromString(r.getString(0)), r.getLong(1))
      }
      // as lmScore: tot is max(tot), 1.0 for an empty model
      val tots = rows.filterNot(_.isNullAt(2)).map(_.getDouble(2))
      val tot = if (tots.isEmpty) 1.0 else tots.max
      val bc = docs.sparkSession.sparkContext.broadcast(table)
      val s = graft.functions.GraftFunctions.lm_gram_score(col("text"), bc, n, floorCount, tot)
      val out = docs.withColumn("_lm", s)
        .select(docs.columns.map(col) ++ Seq(col("_lm.n_grams").as("n_grams"),
          col("_lm.freq_sum").as("freq_sum"),
          round(col("_lm.mean_logprob"), 6).as("lm_logprob")): _*)
      (out, () => bc.unpersist(false))
    } { checkpointed =>
      val scored = lmScore(docs, checkpointed, n, floorCount, broadcastRows)
      val scoreCols = Seq("n_grams", "freq_sum", "lm_logprob")
      (docs.join(scored, Seq("doc_id"), "left").select((docs.columns ++ scoreCols).map(col): _*),
        () => ())
    }
  }

  /** CCNet head/middle/tail QUALITY BUCKETING (Wenzek et al. 2020 §4.3):
    * score every doc under the char-n-gram LM (`lmRarity`), then split
    * each language into terciles of the logprob distribution — `head` =
    * most fluent third. Returns (doc_id, lang, lm_logprob, bucket); docs
    * shorter than n chars have no grams and no row (as lmScore).
    *
    * Scale shape: thresholds are a lang-cardinality aggregate BROADCAST
    * back for a comparison-only bucket assignment — never an ntile/window
    * over a per-language global sort (which would cap parallelism at
    * |langs| and sort 100 TB). `exact=true` (the oracle contract) uses
    * exact `percentile`; at deployment scale pass exact=false for the
    * t-digest `approx_percentile` (the corpusProfile trade). Cross-engine
    * boundary safety: thresholds at integer rank positions ARE data
    * values (no interpolation arithmetic), and interpolated thresholds
    * fall strictly between adjacent distinct values — either way the
    * >= comparisons agree between engines on the rounded-6 logprobs. */
  def ccnetBuckets(docs: DataFrame, n: Int = 3,
                   exact: Boolean = true): DataFrame = {
    val scored = lmRarity(docs, n).select(col("doc_id"), col("lm_logprob"))
    val withLang = docs.select(col("doc_id"), col("lang")).join(scored, Seq("doc_id"))
    val pHead = if (exact) "percentile(lm_logprob, 2.0D/3.0D)"
                else "approx_percentile(lm_logprob, 2.0D/3.0D, 10000)"
    val pMid = if (exact) "percentile(lm_logprob, 1.0D/3.0D)"
               else "approx_percentile(lm_logprob, 1.0D/3.0D, 10000)"
    val th = withLang.groupBy(col("lang"))
      .agg(expr(pHead).as("t_head"), expr(pMid).as("t_mid"))
    withLang.join(broadcast(th), Seq("lang"))
      .withColumn("bucket",
        when(col("lm_logprob") >= col("t_head"), lit("head"))
          .when(col("lm_logprob") >= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("lm_logprob"), col("bucket"))
  }

  /** Corpus-wide word n-gram counts, top-k by (count desc, gram asc) —
    * the corpus-statistics primitive behind stopword lists, n-gram LMs
    * and contamination audits (the Google-n-grams shape). Plan: the
    * native codegen'd `word_ngrams` explode (one byte walk per doc — the
    * interpreted transform/slice/concat_ws HOF chain it replaced is its
    * parity-tested twin) feeds a map-side partial aggregate keyed by the
    * gram string, then a global TakeOrdered(k) — no full sort, and
    * nothing driver-side beyond k rows. Token windows keep split()'s
    * empties (exactly what the SQL oracle's string_split sees). */
  def ngramCounts(docs: DataFrame, n: Int = 3, topK: Int = 100): DataFrame =
    docs.select(explode(
        graft.functions.GraftFunctions.word_ngrams(col("text"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(topK)

  /**
   * DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
   * score every raw doc under a TARGET-domain char-n-gram LM and under
   * the raw-corpus LM (both `lmTrain`/`lmScore`); the importance
   * log-weight is the summed n-gram log-likelihood ratio
   * `(lp_target - lp_raw) * n_grams` (lp = the rounded mean logprob from
   * lmScore, so the weight is bit-deterministic); select `k` docs by
   * GUMBEL TOP-K — Gumbel noise `-ln(-ln(u))` with u derived from
   * xxhash64(doc_id, seed), so the selection IS sampling without
   * replacement proportional to exp(log_w) yet reproducible bit-for-bit.
   * Returns (doc_id, log_w, rank); docs shorter than n chars have no
   * grams and are never candidates (no lmScore row — they carry no
   * evidence either way).
   *
   * Scale shape: ONE gram pass over the raw corpus — both models join
   * onto the same explode (broadcast below `broadcastRows`, shuffle-hash
   * above, the lmScore discipline) and both mean logprobs come out of the
   * same per-doc combine — then a global TakeOrdered(k): no full sort,
   * and only k rows pass the final rank window (single tiny partition by
   * construction). The per-model rounding is exactly lmScore's, so the
   * result is unchanged vs composing two lmScore calls.
   */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int, n: Int = 3,
                 minCount: Long = 1L, seed: Long = 7L,
                 broadcastRows: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions.char_ngrams
    import graft.ops.Dedup.{persistIntermediate, finish}
    // both models join onto ONE gram explode of the raw corpus (a second
    // lmScore pass would re-scan + re-explode 100 TB for no new
    // information); per-model mean logprobs come out of the same per-doc
    // combine, each rounded exactly as lmScore rounds (the q56 contract)
    val mT = persistIntermediate(lmTrain(target, n, minCount))
    val mR = persistIntermediate(lmTrain(raw, n, minCount))
    def side(m: DataFrame, cntAs: String): (DataFrame, Double) = {
      val st = m.agg(count(lit(1)), max(col("tot"))).head
      val tot = if (st.isNullAt(1)) 1.0 else st.getDouble(1)
      val j0 = m.select(col("gram"), col("cnt").as(cntAs))
      (if (st.getLong(0) <= broadcastRows) broadcast(j0)
       else j0.hint("shuffle_hash"), tot)
    }
    val (mTj, totT) = side(mT, "cnt_t")
    val (mRj, totR) = side(mR, "cnt_r")
    val scored = raw
      .select(col("doc_id"), explode(char_ngrams(col("text"), n)).as("gram"))
      .join(mTj, Seq("gram"), "left")
      .join(mRj, Seq("gram"), "left")
      .select(col("doc_id"),
        coalesce(col("cnt_t"), lit(1L)).as("et"),
        coalesce(col("cnt_r"), lit(1L)).as("er"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(log(col("et").cast("double") / lit(totT))), 6).as("lp_t"),
        round(avg(log(col("er").cast("double") / lit(totR))), 6).as("lp_r"))
    val u = (pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000000000L))
      .cast("double") + lit(0.5)) / lit(1.0e9)
    val top = scored
      .withColumn("log_w", (col("lp_t") - col("lp_r")) * col("n_grams"))
      .withColumn("gkey", col("log_w") - log(-log(u)))
      .orderBy(col("gkey").desc, col("doc_id").asc).limit(k)
    // BOUNDED UNPARTITIONED WINDOW: `top` is the TakeOrdered(k) output —
    // exactly k rows reach this rank window, never the corpus
    val out = top.withColumn("rank",
        row_number().over(Window.orderBy(col("gkey").desc, col("doc_id").asc)))
      .select(col("doc_id"), round(col("log_w"), 6).as("log_w"), col("rank"))
    finish(out, mT, mR)
  }

  /**
   * PII REDACTION (emails, NANP-style phone numbers, IPv4 addresses):
   * per-doc match counts plus the redacted text with each span replaced by
   * a typed placeholder. Pure regexp column expressions (codegen, one scan);
   * the patterns avoid lookaround/backrefs so they behave identically under
   * Java regex (Spark) and RE2 (the DuckDB oracle). Email is redacted first
   * so the address's host can never be re-matched as a bare IP.
   */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The redaction itself as a pure column expression (in-place use). */
  def redactedText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  def redactPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).as("n_emails"),
      regexp_count(col("text"), lit(phoneRe)).as("n_phones"),
      regexp_count(col("text"), lit(ipRe)).as("n_ips"),
      redactedText(col("text")).as("redacted"))

  /** Deterministic PII injection over the synthetic corpus (the documents
    * table carries no natural PII), mirroring Multimodal.syntheticMedia:
    * docs at doc_id % 5 == 0 gain an email, % 7 == 0 a phone, % 11 == 0 an
    * IPv4 — all derived from doc_id, so the DuckDB oracle reconstructs the
    * same corpus independently. */
  def syntheticPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(
      col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" reach user"), col("doc_id"), lit("@mail.example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" call 555-01"),
          lpad(pmod(col("doc_id"), lit(10)).cast("string"), 1, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit(" from 10."), pmod(col("doc_id"), lit(256)),
          lit("."), pmod(floor(col("doc_id") / 256).cast("long"), lit(256)),
          lit(".7"))).otherwise(lit(""))))

  /**
   * Deterministic PER-SOURCE CAP (the C4/RefinedWeb "per-domain cap"
   * primitive: no single domain may contribute more than `k` documents).
   * The kept subset is hash-ordered — md5("source:doc_id") then doc_id —
   * so it is stable across runs, partitionings and cluster sizes, and a
   * larger cap's subset always CONTAINS a smaller cap's (nested, like
   * `sampleByHash`). md5 (not xxhash64) so the oracle can reproduce the
   * order bit-for-bit in DuckDB.
   *
   * Scale shape: one window partitioned by source (the shuffle key); a
   * pathological mega-domain lands on one reducer — at that skew, pre-trim
   * with `sampleByHash` to ~k*fanout survivors first, then cap exactly.
   */
  def capPerSource(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(col("source"), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(h, col("doc_id"))
    docs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("source"), col("rnk").cast("long").as("rnk"))
  }

  /**
   * Per-source corpus PROFILE (the data-mixing dashboard: how much of each
   * source, how long its documents run): doc/token/char totals plus token
   * percentiles. `exact = true` uses `percentile` (per-group sort — the
   * oracle-checkable form); the default uses `approx_percentile`
   * (t-digest, bounded memory — the 100 TB path; |approx - exact| is
   * property-tested in OpsSpec).
   */
  def corpusProfile(docs: DataFrame, exact: Boolean = false): DataFrame = {
    val base = docs.select(col("source"),
      size(toks(col("text"))).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))
    val pct =
      if (exact) expr("percentile(n_tokens, array(0.5D, 0.9D))")
      else expr("approx_percentile(n_tokens, array(0.5D, 0.9D), 10000)")
    base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("n_chars")).as("total_chars"),
      pct.as("pcts"))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("total_chars"),
        col("pcts").getItem(0).cast("double").as("p50_tokens"),
        col("pcts").getItem(1).cast("double").as("p90_tokens"))
  }

  /** One fingerprint step: h' = (h*257 + c + 1) mod 2^61-1, computed in
    * 64-bit arithmetic via the 2^64 ≡ 8 (mod 2^61-1) fold of the 128-bit
    * product. The `+ c + 1` can itself wrap past 2^64 for ~2^16/2^64 of
    * step states (found while building the independent BigInt golden twin —
    * the pre-round-3 form silently dropped that carry, i.e. computed
    * something 8 short of the documented polynomial on those states);
    * the unsigned compare restores the lost 2^64 ≡ 8. Exercised directly
    * on wrap states in GoldenTwinSpec. */
  private[graft] def fpStep(h: Long, c: Int): Long = {
    val Mod = (1L << 61) - 1
    val x0 = h * 257L
    val x = x0 + c.toLong + 1L
    val hi = Math.multiplyHigh(h, 257L)
    val carry = if (java.lang.Long.compareUnsigned(x, x0) < 0) 8L else 0L
    ((x & Mod) + ((hi << 3) | (x >>> 61)) + carry) % Mod
  }

  /** Polynomial rolling-hash fingerprint (base 257 mod 2^61-1) over the
    * UTF-16 chars — stable across partitionings and JVMs; equal to the
    * independent BigInt twin (`SequentialTwin.fingerprintBigInt`) on every
    * input, including carry-wrap step states. */
  def fingerprint64(text: String): Long = {
    var h = 0L
    var i = 0
    while (i < text.length) { h = fpStep(h, text.charAt(i)); i += 1 }
    h
  }

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.fingerprint64(col("text")).as("fingerprint"))

  /** Deterministic stand-in weight table for [[qualityClassifier]]:
    * w(j) = pmod(xxhash64("w", j), 2001) - 1000, an int in [-1000, 1000].
    * The shape (F hashed-feature buckets -> int weight) is exactly what a
    * trained fastText / logistic-regression quality model exports; swap in
    * real weights at deployment. F = 2^18 costs 1 MB — a production 2M-
    * bucket model is 8 MB, still a plan constant. */
  def classifierWeights(numBuckets: Int): Array[Int] = {
    val base = graft.functions.Xxh64.hashString("w", graft.functions.Xxh64.SparkSeed)
    Array.tabulate(numBuckets) { j =>
      (Math.floorMod(graft.functions.Xxh64.hashLong(j.toLong, base), 2001L) - 1000L).toInt
    }
  }

  /** Model-based quality filtering (GPT-3, Brown et al. 2020 App. A;
    * CCNet, Wenzek et al. 2020 §4.3; LLaMA): a linear classifier over
    * hashed word uni+bigram features. ZERO shuffle — the whole score is
    * one codegen'd per-row pass (`hashed_gram_logit`), the model a
    * broadcast plan constant; at 100 TB this is a pure map stage that
    * scales with input splits. Integer logits (exact, oracle-friendly;
    * sigmoid is monotone so `keep = logit > 0` is the classifier's
    * decision). Returns (doc_id, n_grams, logit, keep). */
  def qualityClassifier(docs: DataFrame, weights: Array[Int]): DataFrame =
    docs
      .withColumn("hl",
        graft.functions.GraftFunctions.hashed_gram_logit(col("text"), weights))
      .select(col("doc_id"),
        col("hl").getItem(0).as("n_grams"),
        col("hl").getItem(1).as("logit"),
        (col("hl").getItem(1) > 0).as("keep"))

  /**
   * READABILITY profile (Flesch reading-ease ingredients, Flesch 1948 —
   * the classic curation quality axis the Gopher/C4 counters don't
   * cover): per document the exact integer ingredients (words, sentences,
   * heuristic syllables = vowel groups with a 1-per-word floor, the
   * standard approximation) and the `hard` flag F < `hardBelow`, decided
   * ENTIRELY in integers by cross-multiplying
   * F = 206.835 − 1.015·W/S − 84.6·Y/W through 1000·S·W:
   *
   *   hard ⟺ 206835·S·W − 1015·W² − 84600·Y·S < 1000·hardBelow·S·W .
   *
   * Sentences = terminator-ending tokens ('.', '!', '?', danda), floored
   * at 1. Pure column expressions, one scan, zero shuffle; long
   * arithmetic holds to ~10^8-word documents (W² < 2^63 territory).
   */
  def readability(docs: DataFrame, hardBelow: Int = 50): DataFrame = {
    val toks = split(col("text"), " ")
    val words = size(toks).cast("long")
    val sents = greatest(lit(1L),
      size(filter(toks, t => t.rlike("[.!?।]$"))).cast("long"))
    val syll = expr(
      "aggregate(transform(split(text, ' '), " +
        "w -> greatest(1, size(regexp_extract_all(w, '[aeiou]+', 0)))), " +
        "0L, (acc, x) -> acc + x)")
    docs
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
        syll.as("n_syllables"))
      .withColumn("hard",
        lit(206835L) * col("n_sents") * col("n_words")
          - lit(1015L) * col("n_words") * col("n_words")
          - lit(84600L) * col("n_syllables") * col("n_sents")
          < lit(1000L * hardBelow) * col("n_sents") * col("n_words"))
  }

  /**
   * Compression-ratio quality signal (the Gopher-family repetition
   * detector RefinedWeb/Dolma also ship): templated or repetitive text
   * DEFLATEs far below natural prose, so
   * `ratio_permille = deflate_len·1000 div n_bytes` is a one-pass,
   * vocabulary-free repetition score — cheaper and broader than n-gram
   * repetition profiles (it catches long-period templating n-grams
   * miss). ZERO shuffle: one codegen'd [[graft.functions.DeflateLen]]
   * pass per row, integer division, no aggregation. Empty documents are
   * defined incompressible (ratio 1000) rather than a division by zero.
   * `keep` = ratio ≥ minRatioPermille (low ratio = boilerplate →
   * drop); deflate level 6 raw, deterministic for the JDK's pinned
   * zlib — the sequential twin shares only that JDK codec (the
   * javax.imageio precedent).
   */
  def compressionProfile(docs: DataFrame,
                         minRatioPermille: Long = 300L): DataFrame = {
    import graft.functions.GraftFunctions.deflate_len
    docs.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      deflate_len(col("text")).as("deflate_len"))
      .withColumn("ratio_permille",
        when(col("n_bytes") === 0L, lit(1000L))
          .otherwise(expr("(deflate_len * 1000) div n_bytes")))
      .withColumn("keep", col("ratio_permille") >= lit(minRatioPermille))
  }
}
