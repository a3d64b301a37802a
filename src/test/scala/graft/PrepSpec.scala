package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.canon.ConnectedComponents
import graft.core.Sentence
import graft.kg.Triples
import graft.link.EntityLink
import graft.ner.{Models, Vocab}

/** `Pipeline.prepare` builds on the driver, from one aggregate, what the
  * distributed forms build: `EntityLink.aliasDict` over every token,
  * `ConnectedComponents.run` over its alias edges, `Models.build`'s
  * vocabularies, and the alias -> canonical entity map the join form of
  * `Triples.canonicalTriples` linked through. */
class PrepSpec extends SparkSpec {

  /** Tokens where Spark's `lower` and `toLowerCase(Locale.ROOT)` could
    * disagree: dotted capital I (U+0130), a final sigma, sharp s, a
    * supplementary-plane letter (U+1D518), Cyrillic TJE (U+1C89, which
    * Spark's ICU case mapping lowercases and Java 17's Unicode 13 tables do
    * not), and one
    * token cased differently in two languages. */
  private val hand = Seq(
    Sentence("u1", "tr", 0, Seq("İstanbul", "İ", "Paris", "joins", "Ankara")),
    Sentence("u1", "tr", 1, Seq("ΟΔΟΣ", "has", "ΣΟΦΙΑ", "sofias")),
    Sentence("u2", "de", 0, Seq("Straße", "STRASSE", "PARIS", "merges", "straßes")),
    Sentence("u2", "de", 1, Seq("𝔘nter", "\u1C89x", "Berlins", "Berlin")),
    Sentence("u3", "en", 0, Seq("paris", "is", "Parisian", "\u1C89X", "𝔘")))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def inOrder(v: Vocab): Seq[String] = v.indToTok.toSeq.sortBy(_._1).map(_._2)

  private def check(sentences: Dataset[Sentence]): Unit = {
    import spark.implicits._
    val prep = Pipeline.prepare(sentences)
    val dict = EntityLink.aliasDict(spark, sentences.flatMap(_.tokens))
    assert(rows(prep.dict.toDF("alias", "entity_id", "prior")) == rows(dict))
    assert(rows(prep.canon.toDF("id", "component")) ==
      rows(ConnectedComponents.run(Triples.aliasEdges(dict))))
    val built = Models.build(spark, sentences)
    assert(prep.models.keySet == built.keySet)
    prep.models.foreach { case (lg, m) =>
      assert(inOrder(m.charVocab) == inOrder(built(lg).charVocab), lg)
      assert(inOrder(m.inputVocab) == inOrder(built(lg).inputVocab), lg)
    }
    // the alias -> canonical entity rule of the broadcast-join form
    val canon = ConnectedComponents.run(Triples.aliasEdges(dict))
    val joined = dict.groupBy($"alias")
      .agg(max(struct($"prior", (-$"entity_id").as("neg"), $"entity_id")).as("b"))
      .join(canon, $"b.entity_id" === $"id", "left")
      .select($"alias", coalesce($"component", $"b.entity_id"))
      .as[(String, Long)].collect().toMap
    assert(prep.links == joined)
  }

  test("prepare equals the distributed dictionary, CC labels, vocabularies and links on a hand corpus") {
    import spark.implicits._
    val sentences = spark.createDataset(hand)
    // the corpus does separate the two lowercasings
    val lowered = sentences.flatMap(_.tokens).select(lower($"value")).as[String].collect().toSet
    assert(!hand.flatMap(_.tokens).map(_.toLowerCase(java.util.Locale.ROOT)).toSet.subsetOf(lowered))
    check(sentences)
  }

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"prepare equals the distributed dictionary, CC labels, vocabularies and links at $sf") {
      check(Pipeline.sentences(spark, s"/root/testdata/$sf"))
    }
  }
}
