package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{LinkEdge, Mention}

/**
 * Entity linking: candidate generation against an alias dictionary,
 * scoring, and top-1 selection (SURVEY.md §2.4 J3).
 *
 * Two physically different, semantically identical join paths:
 *  - `linkBroadcast`: dictionary broadcast hash join — the right plan while
 *    the dictionary fits in executor memory (alias dictionaries of 10^7-10^8
 *    rows at ~50 B/row still broadcast-able with 8 GB executors);
 *  - `linkSalted`: explicit salted shuffle join for the 100 TB case where
 *    the dictionary is itself a big table AND mention surfaces are Zipfian
 *    ("US", "Apple" — north_rule: "skew handled explicitly"). Hot surfaces
 *    are detected with a cheap pre-aggregation, the dictionary side is
 *    replicated x`salts` for hot keys only, and the mention side salts by
 *    `pmod(xxhash64(url, sentIdx), salts)` — so a hot key spreads over
 *    `salts` reducers instead of one.
 */
object EntityLink {

  /** Deterministic alias dictionary derived from a token universe: each
    * surface links to its own entity (prior 1.0) plus lower-prior variant
    * entities (plural stem, 4-char prefix stem) — giving the linker multiple
    * candidates per alias and the canonicalization stage real alias edges to
    * merge. Schema: (alias, entity_id, prior). At deployment this is the
    * external KB alias table; shape and join physics are identical. */
  def aliasDict(spark: SparkSession, surfaces: Dataset[String]): DataFrame = {
    import spark.implicits._
    surfaces
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .distinct()
      .flatMap(candidates)
      .toDF("alias", "entity_id", "prior")
  }

  /** The dictionary rows (alias, entity_id, prior) of one lowercased alias:
    * its own entity, then its stem's and its prefix stem's where they differ
    * from the candidates before them. */
  private[graft] def candidates(a: String): Iterator[(String, Long, Double)] = {
    val cands = scala.collection.mutable.LinkedHashMap(a -> 1.0)
    val st = stem(a)
    if (!cands.contains(st)) cands(st) = 0.5
    val pf = prefixStem(a)
    if (!cands.contains(pf)) cands(pf) = 0.25
    cands.iterator.map { case (c, prior) => (a, entityId(c), prior) }
  }

  def entityId(surface: String): Long =
    graft.ner.Embeddings.fnv1a("ent:" + surface) & Long.MaxValue

  def stem(s: String): String =
    if (s.length > 4 && s.endsWith("s")) s.substring(0, s.length - 1) else s

  def prefixStem(s: String): String =
    if (s.length > 4) s.substring(0, 4) else s

  /** Linking key: the lowercased head (first) token of the surface — the
    * dictionary is token-keyed; multi-word mentions link via their head. */
  private def normalizedMentions(mentions: Dataset[Mention]): DataFrame = {
    mentions.toDF().withColumn("alias", lower(split(col("surface"), " ").getItem(0)))
  }

  private def pickTop1(cands: DataFrame): DataFrame = {
    // top-1 candidate per mention: highest prior, tie-break on smallest
    // entity_id (deterministic — a mention's candidate entity ids are
    // distinct by aliasDict construction). min_by is a declarative aggregate
    // with map-side partial merge — no per-partition sort, unlike the
    // row_number window form; keep a window only where rank>1 is needed.
    cands.groupBy(col("url"), col("sentIdx"), col("begin"))
      .agg(min_by(
        struct(col("lang"), col("surface"), col("entity_id"), col("prior")),
        struct(negate(col("prior")), col("entity_id"))).as("top"))
      .select(col("url"), col("sentIdx"), col("begin"),
        col("top.lang").as("lang"), col("top.surface").as("surface"),
        col("top.entity_id").as("entity_id"), col("top.prior").as("prior"))
  }

  /** Broadcast-hash path. */
  def linkBroadcast(mentions: Dataset[Mention], dict: DataFrame): Dataset[LinkEdge] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val m = normalizedMentions(mentions)
    val joined = m.join(broadcast(dict), Seq("alias"), "inner")
    pickTop1(joined)
      .select($"url", $"lang", $"sentIdx", $"begin", $"surface",
        $"entity_id".as("entityId"), $"prior".as("score"))
      .as[LinkEdge]
  }

  /**
   * Salted shuffle path: identical output to `linkBroadcast`.
   * @param salts replication factor for hot keys
   * @param hotThreshold a surface is "hot" if it occurs more often than this
   */
  def linkSalted(mentions: Dataset[Mention], dict: DataFrame,
                 salts: Int = 16, hotThreshold: Long = 10000L): Dataset[LinkEdge] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val m = normalizedMentions(mentions)
    // 1. hot-key pre-pass (partial agg makes this a cheap scan)
    val hot = m.groupBy($"alias").count().filter($"count" > hotThreshold)
      .select($"alias").withColumn("hot", lit(true))
    // 2. mention side: salt hot keys by a deterministic hash, cold keys salt 0
    val mSalted = m.join(broadcast(hot), Seq("alias"), "left")
      .withColumn("salt",
        when(col("hot").isNotNull,
          pmod(xxhash64($"url", $"sentIdx", $"begin"), lit(salts)).cast("int"))
          .otherwise(lit(0)))
      .drop("hot")
    // 3. dictionary side: replicate hot aliases x salts, cold aliases once
    val dictSalted = dict.join(broadcast(hot), Seq("alias"), "left")
      .withColumn("saltArr",
        when(col("hot").isNotNull, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0))))
      .withColumn("salt", explode(col("saltArr")))
      .drop("hot", "saltArr")
    val joined = mSalted.join(dictSalted, Seq("alias", "salt"), "inner").drop("salt")
    pickTop1(joined)
      .select($"url", $"lang", $"sentIdx", $"begin", $"surface",
        $"entity_id".as("entityId"), $"prior".as("score"))
      .as[LinkEdge]
  }

  /**
   * COLLECTIVE entity disambiguation — coherence reranking (the
   * Cucerzan/AIDA family's document-level signal, integer-exact): a
   * mention's candidates are rescored by how many OTHER entities on the
   * same page the candidate is connected to in the KG, and the winner is
   * elected by (coherence DESC, prior DESC, entity_id ASC) — so a
   * lower-prior stem candidate beats the exact-match candidate exactly
   * when the page's context supports it. Bootstrapped collective linking:
   * pass 1 (prior-only [[linkBroadcast]]) builds the graph, pass 2 reranks
   * against it.
   *
   * Page context = the canonical exact-match (prior 1.0) entity of every
   * distinct dictionary alias on the page; a candidate's coherence = how
   * many of those (its own canon excluded) share an edge with it in the
   * undirected distinct KG edge set.
   *
   * Plan shape: dictionary broadcast (or [[linkSalted]]'s machinery at
   * dictionary scale), canon map as keyed equi-joins, ONE per-page
   * candidate x context join (bounded by page-length², a page property —
   * never corpus-quadratic), ONE keyed equi-join probing the edge set on
   * the (least, greatest) pair key, one partial-agg vote count, and the
   * same window-free min(struct) election as [[linkBroadcast]].
   *
   * Returns (url, lang, sentIdx, begin, surface, entity_id, prior,
   * coherence).
   */
  def linkCoherent(mentions: Dataset[Mention], dict: DataFrame,
                   canonMap: DataFrame, triples: DataFrame): DataFrame = {
    val canon = canonMap.select(col("id"), col("component"))
    def canonize(df: DataFrame, idCol: String, outCol: String): DataFrame =
      df.join(canon, df(idCol) === canon("id"), "left")
        .withColumn(outCol, coalesce(col("component"), col(idCol)))
        .drop("id", "component")
    val m = normalizedMentions(mentions)
    // cands feeds BOTH the coherence votes and the final election —
    // materialize once (the reused-intermediate convention) so the
    // mention scan + dictionary + canon joins never run twice
    val cands = canonize(m.join(broadcast(dict), Seq("alias")),
      "entity_id", "cand_canon").localCheckpoint(true)
    val ctx = canonize(
        m.select(col("url"), col("alias")).distinct()
          .join(broadcast(dict.filter(col("prior") === 1.0)), Seq("alias")),
        "entity_id", "ctx_ent")
      .select(col("url"), col("ctx_ent")).distinct()
    val edges = triples
      .select(least(col("subj"), col("obj")).as("e1"),
        greatest(col("subj"), col("obj")).as("e2"))
      .filter(col("e1") =!= col("e2")).distinct()
    val votes = cands
      .select(col("url"), col("sentIdx"), col("begin"), col("entity_id"),
        col("cand_canon"))
      .join(ctx, Seq("url"))
      .filter(col("ctx_ent") =!= col("cand_canon"))
      .join(edges,
        least(col("cand_canon"), col("ctx_ent")) === col("e1") &&
          greatest(col("cand_canon"), col("ctx_ent")) === col("e2"),
        "left_semi")
      // ctx is distinct per (url, ctx_ent), so the count IS the distinct
      // supporting-entity count — no count_distinct state
      .groupBy(col("url"), col("sentIdx"), col("begin"), col("entity_id"))
      .agg(count(lit(1)).as("coherence"))
    cands
      .join(votes, Seq("url", "sentIdx", "begin", "entity_id"), "left")
      .withColumn("coherence", coalesce(col("coherence"), lit(0L)))
      .groupBy(col("url"), col("sentIdx"), col("begin"))
      .agg(min_by(
        struct(col("lang"), col("surface"), col("entity_id"), col("prior"),
          col("coherence")),
        struct(negate(col("coherence")), negate(col("prior")),
          col("entity_id"))).as("top"))
      .select(col("url"), col("top.lang").as("lang"), col("sentIdx"),
        col("begin"), col("top.surface").as("surface"),
        col("top.entity_id").as("entity_id"), col("top.prior").as("prior"),
        col("top.coherence").as("coherence"))
  }

  /**
   * CHAR-CNN COSINE candidate rescoring (north_star: "scoring with
   * character-embedding cosine features mirroring NeuralNER's char-CNN"):
   * rescores fuzzy candidate pairs (q, c) by the cosine between the NER
   * model's char-CNN feature vectors of the two strings and elects the
   * best candidate per query. The morphology-aware second stage of OOV /
   * misspelled alias lookup: [[Blocking.fuzzyJoin]]'s bigram blocker
   * PROPOSES, the char-CNN — the SAME convolution weights the tagger
   * runs, so the typo-robust representation costs nothing extra —
   * DISPOSES. Standalone-string semantics are the model's batch-1
   * semantics: cMax = max(codepoint length, max filter width), exactly
   * the longest-word-in-sentence case of `Kernel.bilstmStatesBatch`.
   *
   * Per partition the model comes from ONE broadcast and feature
   * vectors are memoized per distinct string — a candidate list touching
   * one alias 10^4 times pays one convolution. The feature is computed
   * in DOUBLE precision with a canonical term order (window position
   * ascending, then char-vocab index — [[charVecDouble]]): the tagger's
   * float kernel sums weights in bit order, which differs from the dense
   * twin's index order exactly when a word's last char shares its matrix
   * position with `</S>`, and that 1-ulp float drift would make election
   * ties engine-dependent. In canonical-order double both engines
   * produce bit-identical vectors, so cosines and elections are exact.
   * Election per query is ONE window-free min_by aggregate on
   * (cosine DESC, candidate ASC).
   *
   * @param pairs candidate pairs with string columns (q, c)
   * @return (q, c, cosine) — the elected candidate per query
   */
  def rerankCharCosine(pairs: DataFrame,
                       model: graft.ner.Models.LangModel): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val scored = pairs
      .select(col("q").cast("string"), col("c").cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val m = bc.value
        val memo = scala.collection.mutable.HashMap.empty[String, Array[Double]]
        def vec(s: String): Array[Double] =
          memo.getOrElseUpdate(s, charVecDouble(s, m))
        it.map { case (q, c) => (q, c, cosineDouble(vec(q), vec(c))) }
      }
      .toDF("q", "c", "cosine")
    scored.groupBy(col("q"))
      .agg(min_by(struct(col("c"), col("cosine")),
        struct(negate(col("cosine")), col("c"))).as("top"))
      .select(col("q"), col("top.c").as("c"), col("top.cosine").as("cosine"))
  }

  /** The model's char-CNN feature of ONE standalone string in DOUBLE
    * precision under a canonical term order (window position asc, then
    * char-vocab index asc) — the batch-1 semantics with
    * cMax = max(codepoint length, max filter width). Engine-exact: the
    * sequential dense twin sums the identical nonzero terms in the
    * identical order, so the doubles agree bit-for-bit. */
  def charVecDouble(s: String,
                    m: graft.ner.Models.LangModel): Array[Double] = {
    import graft.ner.Kernel
    val w = m.weights
    val cps = graft.text.TextExtract.codePoints(s)
    val cMax = math.max(cps.length, w.maxWidth)
    val bits = Kernel.charBits(cps, m.charVocab, cMax)
      .sortBy(b => (b.pos, b.idx))
    val V = w.charVocabSize
    val out = new Array[Double](w.nWidths * w.numFilters)
    var wi = 0
    while (wi < w.nWidths) {
      val n = w.minWidth + wi
      val nPos = cMax - n + 1
      var f = 0
      while (f < w.numFilters) {
        val wf = w.convW(wi)(f)
        var best = Double.NegativeInfinity
        var p = 0
        while (p < nPos) {
          var acc = w.convB(wi)(f).toDouble
          var bi = 0
          while (bi < bits.length) {
            val bit = bits(bi)
            if (bit.pos >= p && bit.pos <= p + n - 1)
              acc += wf((bit.pos - p) * V + bit.idx).toDouble
            bi += 1
          }
          if (acc > best) best = acc
          p += 1
        }
        out(wi * w.numFilters + f) = best
        f += 1
      }
      wi += 1
    }
    out
  }

  /** Cosine of two double vectors (0.0 on a zero norm). */
  def cosineDouble(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * ALIAS PROFILE per linked entity — the surface-form distribution the
   * linking stage itself should be monitored by: how many distinct ways
   * the corpus names each entity, which name dominates, and the full
   * sorted alias signature. An entity whose top-surface share collapses
   * between snapshots (or whose signature grows a new alias) is the
   * linking-drift alarm, exactly as [[graft.kg.Triples.entitySignatures]]
   * is the schema-drift alarm; the profile is also the raw material for
   * retraining the alias dictionary's priors.
   *
   * All-integer output (counts, no ratios — top_count/n_mentions is the
   * caller's float decision); the dominant surface is elected inside ONE
   * aggregate as min(struct(-count, surface)) — struct ordering makes
   * that "highest count, then lexicographically first", no window sort
   * over the mention log. Shape: ONE partial-aggregated
   * (entity, surface) count — the mention log collapses map-side — then
   * ONE groupBy(entity) whose collect_set state is bounded by the alias
   * dictionary's fan-out per entity (a dictionary property, not a
   * corpus-size property).
   *
   * @param linked rows with (entityId, surface) — e.g. [[linkBroadcast]]
   *               output
   * @return (entity_id, n_mentions, n_surfaces, top_surface, top_count,
   *         alias_sig — '|'-joined sorted distinct surfaces)
   */
  def aliasProfile(linked: DataFrame): DataFrame = {
    val pair = linked
      .select(col("entityId").cast("long").as("entity_id"), col("surface"))
      .groupBy(col("entity_id"), col("surface"))
      .agg(count(lit(1)).as("cnt"))
    pair.groupBy(col("entity_id"))
      .agg(
        sum(col("cnt")).as("n_mentions"),
        count(lit(1)).as("n_surfaces"),
        min(struct((-col("cnt")).as("nc"), col("surface").as("s")))
          .as("__top"),
        concat_ws("|", sort_array(collect_set(col("surface"))))
          .as("alias_sig"))
      .select(col("entity_id"), col("n_mentions"), col("n_surfaces"),
        col("__top.s").as("top_surface"),
        (-col("__top.nc")).as("top_count"), col("alias_sig"))
  }
}
