package graft

import graft.core.Sentence
import graft.ner.{Embeddings, Models, Vocab}
import java.util.Locale

/** Vocabulary order is first occurrence in corpus order, where the corpus is
  * ordered by (url, sentIdx) as Spark orders them: strings by binary UTF-8,
  * which is code point order. The urls and tokens mix a supplementary-plane
  * character with a BMP character at or above U+E000, where code point order
  * and `String.compareTo` (UTF-16 code units) disagree. */
class ModelsSpec extends SparkSpec {

  private val supp = "𝔘" // U+1D518, encoded as surrogates in UTF-16
  private val high = "Ａ" // U+FF21, above every surrogate code unit

  private val corpus = Seq(
    Sentence(s"u$supp", "en", 0, Seq(s"${supp}x", "Beta", "alpha")),
    Sentence(s"u$high", "en", 0, Seq("alpha", s"${high}y", "Beta")),
    Sentence(s"u$high", "en", 1, Seq("gamma", supp, "ALPHA")),
    Sentence("u", "en", 2, Seq("delta", high)),
    Sentence(s"v$supp", "de", 0, Seq("eins", s"${high}z")),
    Sentence(s"v$high", "de", 0, Seq("zwei", s"${supp}w", "Eins")),
    Sentence(s"v$high", "de", 3, Seq(supp, "drei")))

  private val codePointOrder: Ordering[String] =
    (a, b) => java.util.Arrays.compare(a.codePoints().toArray, b.codePoints().toArray)

  /** The sequential reference: walk the corpus in order, keep first occurrences. */
  private def scan(sents: Seq[Sentence], units: String => Seq[String]): Seq[String] =
    sents.sortBy(s => (s.url, s.sentIdx))(Ordering.Tuple2(codePointOrder, Ordering.Int))
      .flatMap(_.tokens.flatMap(units)).distinct

  private def chars(tok: String): Seq[String] =
    tok.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def word(tok: String): Seq[String] = Seq(tok.toLowerCase(Locale.ROOT))

  private def inOrder(v: Vocab): Seq[String] = v.indToTok.toSeq.sortBy(_._1).map(_._2)

  test("the corpus separates code point order from String.compareTo") {
    val urls = corpus.map(_.url).distinct
    assert(urls.sorted != urls.sorted(codePointOrder))
    assert(scan(corpus, chars) != corpus.sortBy(s => (s.url, s.sentIdx)).flatMap(_.tokens.flatMap(chars)).distinct)
  }

  test("build: char and word vocab order per language equal a sequential first-occurrence scan") {
    import spark.implicits._
    val models = Models.build(spark, spark.createDataset(corpus))
    assert(models.keySet == Set("en", "de"))
    models.foreach { case (lg, m) =>
      val sents = corpus.filter(_.lang == lg)
      assert(inOrder(m.charVocab) == Seq("<S>", "</S>") ++ scan(sents, chars), lg)
      assert(inOrder(m.inputVocab) ==
        Seq(Embeddings.PadToken.toLowerCase(Locale.ROOT)) ++ scan(sents, word) :+ Embeddings.UnkToken, lg)
    }
  }

  test("buildCharVocab, buildWordVocab and wordOrder equal a sequential first-occurrence scan") {
    import spark.implicits._
    val positioned = Models.positionedTokens(spark.createDataset(corpus)).cache()
    try {
      Seq("en", "de", "all").foreach { lg =>
        val sents = if (lg == "all") corpus else corpus.filter(_.lang == lg)
        val pos = if (lg == "all") positioned else positioned.filter($"lang" === lg)
        assert(inOrder(Models.buildCharVocab(pos)) == Seq("<S>", "</S>") ++ scan(sents, chars), lg)
        val words = scan(sents, word)
        val wv = Models.buildWordVocab(pos)
        assert(inOrder(wv) == words, lg)
        assert(words.map(wv.tokCounts) ==
          words.map(w => sents.flatMap(_.tokens).count(_.toLowerCase(Locale.ROOT) == w).toLong), lg)
        assert(Models.wordOrder(pos).toSeq == words, lg)
      }
    } finally positioned.unpersist()
  }

  test("Models.build and the prep aggregate run on generated code only (no interpreted fallback)") {
    import spark.implicits._
    val key = "spark.sql.codegen.factoryMode"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val sentences = spark.createDataset(corpus)
      assert(Models.build(spark, sentences).keySet == Set("en", "de"))
      val units = Models.units(Models.positionedTokens(sentences), aliases = true)
      assert(units.map(_.kind).toSet == Set(Models.CharUnit, Models.WordUnit, Models.AliasUnit))
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
