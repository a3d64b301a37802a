package graft.ner

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-language model registry — the Spark-native form of the reference's
 * multilingual routing (NeuralNERYang/models/modules.py:89-209 routes by
 * languageId; we hold a `Map[lang -> LangModel]` and route rows by the
 * `lang` column, exactly the N12 mapping in SURVEY.md §2.9).
 *
 * Vocabularies are built distributedly with reference semantics:
 *  - word vocab comes from the embedding dictionary in file order
 *    (NeuralNER.py:155-158), lowercased, `<unk>` appended;
 *  - char vocab is seeded with `<S>`, `</S>` (NeuralNER.py:171-173) then
 *    characters in first-occurrence corpus order (utilsLocal.py:138-140) —
 *    realized as `min(position key)` ordering, which equals the sequential
 *    scan order and is partition-count invariant. The position key is the
 *    (url, sentIdx, tokIdx, charIdx) tuple, aggregated distributedly (no
 *    global row_number — that would serialize the corpus through one task);
 *    the vocabulary-sized aggregate is collected unsorted and sorted on the
 *    driver in Spark's own order (binary UTF-8 strings, natural ints);
 *  - tag vocab is fixed IOBES over {PER, LOC, ORG, MISC} (lowercased in the
 *    vocab, uppercased on output, vocab.py:71 / NeuralNER.py:331).
 */
object Models {

  final case class LangModel(
      lang: String,
      inputVocab: Vocab,
      charVocab: Vocab,
      tagVocab: Vocab,
      weights: Kernel.NerWeights
  ) extends Serializable

  val tagStrings: Vector[String] = {
    val types = Vector("PER", "LOC", "ORG", "MISC")
    Vector("O") ++ types.flatMap(t => Vector(s"B-$t", s"I-$t", s"E-$t", s"S-$t"))
  }

  def tagVocab(): Vocab = {
    val v = new Vocab(caseSensitive = false) // lowercases, like reference tag Vocab
    tagStrings.foreach(v.add)
    v.freeze()
    v
  }

  /** Tokens with a lexicographically ordered position key: only the agg
    * (vocab-sized) output is ever collected, and it is sorted on the driver
    * ([[units]]). One pass for ALL languages (lang is just another
    * grouping column). */
  private[graft] def positionedTokens(sentences: Dataset[graft.core.Sentence]): DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    sentences
      .flatMap(s => s.tokens.iterator.zipWithIndex.map { case (t, i) => (s.lang, s.url, s.sentIdx, i, t) })
      .toDF("lang", "url", "sentIdx", "tokIdx", "tok")
  }

  /** Unit kinds of [[units]]: a token's characters and its lowercased form
    * (the vocabularies), and its alias surface (the alias dictionary). */
  val CharUnit = 0
  val WordUnit = 1
  val AliasUnit = 2

  /** One exploded unit of a token, before aggregation. */
  final case class UnitKey(kind: Int, lang: String, charIdx: Int, key: String)

  /** One aggregated unit: its kind, language and string, its first position
    * (url, sentIdx, tokIdx, charIdx) and its number of occurrences. Not
    * private: the projection Spark generates for the collect calls its
    * constructor. */
  final case class VocabUnit(kind: Int, lang: String, key: String, url: String,
                             sentIdx: Int, tokIdx: Int, charIdx: Int, cnt: Long)

  /** Spark's ascending string order, which `orderBy` would use: binary
    * UTF-8, nulls first. `String.compareTo` compares UTF-16 code units and
    * disagrees with it between supplementary characters and U+E000..U+FFFF. */
  private val sparkStringOrder: Ordering[UTF8String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else a.compareTo(b)

  /** A token's characters (per language) and, with `aliases`, its alias
    * surface: lowercased as `EntityLink.aliasDict` lowercases, with the JVM's
    * `toLowerCase(Locale.ROOT)`, and in no language ("") since the dictionary
    * spans languages. */
  private def udfUnits(aliases: Boolean) = udf { (lang: String, tok: String) =>
    val chars = graft.text.TextExtract.codePoints(tok).iterator.zipWithIndex
      .map { case (c, i) => UnitKey(CharUnit, lang, i, c) }.toSeq
    if (aliases) chars :+ UnitKey(AliasUnit, "", 0, tok.toLowerCase(java.util.Locale.ROOT)) else chars
  }

  /**
   * Every unit of every token in `positioned` (columns lang, url, sentIdx,
   * tokIdx, tok), from one explode and one aggregate job: each character
   * (charIdx its position in the token), the token lowercased by Spark's
   * `lower` (charIdx 0) and, with `aliases`, its alias surface. Grouped by
   * (kind, lang, key) with each group's first position and count, and
   * returned in first-occurrence order: ascending (lang, first position,
   * key) within each kind. The aggregate is vocabulary-sized and the driver
   * holds all of it after the collect anyway, so it is sorted there, which
   * spares a distributed `orderBy` its range-partition sampling job and sort
   * exchange.
   */
  private[graft] def units(positioned: DataFrame, aliases: Boolean): Seq[VocabUnit] = {
    val spark = positioned.sparkSession
    import spark.implicits._
    val word = struct(lit(WordUnit).as("kind"), $"lang".as("lang"), lit(0).as("charIdx"),
      lower($"tok").as("key"))
    val firsts = positioned
      .select($"url", $"sentIdx", $"tokIdx",
        explode(concat(udfUnits(aliases)($"lang", $"tok"), array(word))).as("u"))
      .groupBy($"u.kind".as("kind"), $"u.lang".as("lang"), $"u.key".as("key"))
      .agg(min(struct($"url", $"sentIdx", $"tokIdx", $"u.charIdx".as("charIdx"))).as("first"),
        count(lit(1)).as("cnt"))
      .select($"kind", $"lang", $"key", $"first.*", $"cnt").as[VocabUnit].collect()
    def u(s: String) = UTF8String.fromString(s)
    val order = Ordering.Tuple6(sparkStringOrder, sparkStringOrder, Ordering.Int, Ordering.Int,
      Ordering.Int, sparkStringOrder)
    firsts.map(f => (u(f.lang), u(f.url), f.sentIdx, f.tokIdx, f.charIdx, u(f.key)) -> f)
      .sortBy(_._1)(order).map(_._2).toSeq
  }

  /** Each language's keys of one unit kind in first-occurrence order. */
  private def keysByLang(units: Seq[VocabUnit], kind: Int): Map[String, Seq[String]] =
    units.filter(_.kind == kind).groupBy(_.lang).view.mapValues(_.map(_.key)).toMap

  /** `positioned`'s units over all languages together. */
  private def unitsOfAll(positioned: DataFrame, kind: Int): Seq[VocabUnit] =
    units(positioned.withColumn("lang", lit("")), aliases = false).filter(_.kind == kind)

  /** Distributed char-vocab build: characters of every token, indexed in
    * first-occurrence order (deterministic; equals the reference's
    * sequential readCoNLL order for the same row order). */
  def buildCharVocab(positioned: DataFrame): Vocab = {
    val v = Vocab.newCharVocab()
    unitsOfAll(positioned, CharUnit).foreach(f => v.add(f.key))
    v.freeze()
    v
  }

  /** Distributed word-frequency vocab (A1/A2 semantics: lowercased counts,
    * `trim` keeps count > threshold; vocab.py:61-81,169-184). */
  def buildWordVocab(positioned: DataFrame, trimThreshold: Long = -1L): Vocab = {
    val v = new Vocab(caseSensitive = false)
    unitsOfAll(positioned, WordUnit).foreach { f =>
      v.add(f.key); v.tokCounts(f.key) = f.cnt // set true corpus frequency
    }
    if (trimThreshold >= 0) v.trim(trimThreshold)
    v.freeze()
    v
  }

  /** First-occurrence-ordered distinct lowercased tokens (embedding fixture
    * key order — load_embeddings is file-order first-wins). */
  def wordOrder(positioned: DataFrame): Array[String] =
    unitsOfAll(positioned, WordUnit).map(_.key).toArray

  /**
   * Build a deterministic model registry for the given languages from a
   * corpus of sentences. The weights are seed-fixed synthetic stand-ins for
   * trained checkpoints (no trained torch artifact can be loaded offline);
   * every piece of the serving path — vocab build, embedding matrix shape,
   * kernel math, routing — is the production code path.
   */
  /**
   * Multilingual sharing variants (N12) — the reference's three schemes,
   * expressed as different sharings inside the broadcast registry:
   *
   *  - Yang (NeuralNERYang/models/modules.py:72-83): per-language word
   *    embeddings / BiLSTM / output, SHARED char-CNN — `buildYang` rebinds
   *    every language's convW/convB to the first language's arrays;
   *  - AllShared (NeuralNERAllShared/models/modules.py:52): one network and
   *    tag space for every language — `buildAllShared` maps all langs (and
   *    the "*" fallback) to a single LangModel;
   *  - AllShared-NoOutput (models/modules.py:252,278-284): shared encoder,
   *    per-language output layer — `buildSharedEncoder` shares everything
   *    except `outW`.
   *
   * Sharing is by array reference: one broadcast ships one copy of each
   * shared matrix regardless of language count.
   */
  def buildYang(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
                embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
                maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
                tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] = {
    val perLang = build(spark, sentences, embedDim, numFilters, minWidth, maxWidth, hidden, seed, tagVocabs)
    if (perLang.isEmpty) return perLang
    // shared char-CNN requires one shared char vocab: take the union model
    // of the alphabetically-first language as the shared module holder
    val first = perLang(perLang.keys.min)
    perLang.map { case (lg, m) =>
      lg -> m.copy(
        charVocab = first.charVocab,
        weights = m.weights.copy(
          charVocabSize = first.weights.charVocabSize,
          convW = first.weights.convW,
          convB = first.weights.convB))
    }
  }

  def buildAllShared(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
                     embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
                     maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L): Map[String, LangModel] = {
    import spark.implicits._
    val shared = build(spark,
      sentences.map(_.copy(lang = "*")), embedDim, numFilters, minWidth, maxWidth, hidden, seed)("*")
    val langs = sentences.select($"lang").distinct().as[String].collect()
    (langs.map(_ -> shared) :+ ("*" -> shared)).toMap
  }

  def buildSharedEncoder(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
                         embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
                         maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
                         tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] = {
    import spark.implicits._
    val all = buildAllShared(spark, sentences, embedDim, numFilters, minWidth, maxWidth, hidden, seed)
    all.map { case (lg, m) =>
      if (lg == "*") lg -> m
      else {
        // per-language output head over the SHARED encoder — including a
        // per-language TAG SPACE when provided (AllShared-NoOutput keeps
        // per-language tag vocabs, modules.py:278-284,333-364): the head's
        // row count and prev-tag columns are sized to that language's vocab
        val tv = tagVocabs.getOrElse(lg, m.tagVocab)
        lg -> m.copy(
          tagVocab = tv,
          weights = m.weights.copy(
            tagCount = tv.size,
            outW = Kernel.randomWeights(embedDim, minWidth, maxWidth, numFilters, hidden,
              m.weights.charVocabSize, tv.size, m.weights.embeddings,
              seed ^ Embeddings.fnv1a("head:" + lg)).outW))
      }
    }
  }

  def build(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
            embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
            maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
            tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] =
    fromUnits(units(positionedTokens(sentences), aliases = false),
      embedDim, numFilters, minWidth, maxWidth, hidden, seed, tagVocabs)

  /** [[build]] from an already collected [[units]] aggregate (its alias
    * units, if any, are ignored). */
  private[graft] def fromUnits(units: Seq[VocabUnit],
            embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
            maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
            tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] = {
    val sharedTv = tagVocab()
    val charOrders = keysByLang(units, CharUnit)
    val wordOrders = keysByLang(units, WordUnit)
    charOrders.keys.toSeq.sorted.map { lg =>
      // per-language tag space when provided (Yang's aux tag vocab,
      // NeuralNERYang/NeuralNERYang.py:63-64,106,157; NoOutput's
      // per-language tag vocabs, NeuralNERAllShared/models/modules.py:278-284);
      // the fixed IOBES vocab otherwise — the output layer is sized to it
      val tv = tagVocabs.getOrElse(lg, sharedTv)
      val charV = Vocab.newCharVocab()
      charOrders(lg).foreach(charV.add)
      charV.freeze()
      val lines = Embeddings.syntheticLines(wordOrders(lg).toIndexedSeq, embedDim,
        seed ^ Embeddings.fnv1a(lg))
      val loaded = Embeddings.fromLines(lines.iterator)
      val inputV = Embeddings.toInputVocab(loaded)
      val w = Kernel.randomWeights(embedDim, minWidth, maxWidth, numFilters, hidden,
        charV.size, tv.size, loaded.matrix, seed ^ Embeddings.fnv1a("weights:" + lg))
      lg -> LangModel(lg, inputV, charV, tv, w)
    }.toMap
  }
}
