package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import graft.core._
import graft.gen.CorpusGen
import graft.ner.{Models, NerStage, RawTriple, SentenceNer}
import graft.link.EntityLink
import graft.canon.ConnectedComponents
import graft.kg.Triples

/**
 * End-to-end KG-construction wiring (north_star):
 * pages -> extract/sentences -> language-routed NER -> mentions
 *   -> alias-dict linking (broadcast or salted) -> connected-component
 *   canonicalization -> (subj, pred, obj) triples partitioned by lang.
 *
 * Per-process caches keep the one-time model-prep jobs (vocab builds) from
 * re-running for every query in a session.
 */
object Pipeline {

  private val modelCache = TrieMap.empty[String, Map[String, Models.LangModel]]
  private val dictCache = TrieMap.empty[String, DataFrame]
  private val canonCache = TrieMap.empty[String, DataFrame]
  private val taggedCache = TrieMap.empty[(String, Boolean), Dataset[SentenceNer]]
  private val triplesCache = TrieMap.empty[String, Dataset[Triple]]

  def pages(spark: SparkSession, sfDir: String): Dataset[Page] =
    CorpusGen.pages(spark, sfDir)

  def sentences(spark: SparkSession, sfDir: String): Dataset[Sentence] =
    NerStage.sentences(pages(spark, sfDir))

  /** Deterministic per-language models, built once per (process, sfDir).
    * SPARK_GRAFT_MODEL_DIR=<dir> loads a saved registry (the trained-model
    * deployment path — graft.ner.ModelStore, S5 checkpoint parity);
    * SPARK_GRAFT_MODEL=reference selects the reference's own hyperparameters
    * (NeuralNERMono/NeuralNER.py:67-75: hidden 200, embed 300, filters 35,
    * widths 3-7); default is a small serving config for fast verification. */
  def models(spark: SparkSession, sfDir: String): Map[String, Models.LangModel] =
    modelCache.getOrElseUpdate(sfDir, {
      sys.env.get("SPARK_GRAFT_MODEL_DIR") match {
        case Some(dir) => graft.ner.ModelStore.load(dir)
        case None if sys.env.get("SPARK_GRAFT_MODEL").contains("reference") =>
          Models.build(spark, sentences(spark, sfDir),
            embedDim = 300, numFilters = 35, minWidth = 3, maxWidth = 7, hidden = 200)
        case None => Models.build(spark, sentences(spark, sfDir))
      }
    })

  /** Tagged sentences, persisted per (sfDir, decoder): the NER pass is the
    * expensive stage; every downstream query (mentions, linking, triples,
    * metrics) reuses one materialization. */
  def taggedSentences(spark: SparkSession, sfDir: String,
                      useViterbi: Boolean = false): Dataset[SentenceNer] =
    taggedCache.getOrElseUpdate((sfDir, useViterbi), {
      val bc = spark.sparkContext.broadcast(models(spark, sfDir))
      val parts = math.max(spark.sparkContext.defaultParallelism, 2)
      NerStage.tag(NerStage.saltedRepartition(sentences(spark, sfDir), parts, parts), bc, useViterbi)
        .persist()
    })

  def mentions(spark: SparkSession, sfDir: String): Dataset[Mention] =
    NerStage.mentions(taggedSentences(spark, sfDir))

  /** Alias dictionary derived from the corpus token universe (cached). */
  def aliasDict(spark: SparkSession, sfDir: String): DataFrame =
    dictCache.getOrElseUpdate(sfDir, {
      import spark.implicits._
      val surfaces = sentences(spark, sfDir).flatMap(_.tokens).distinct()
      EntityLink.aliasDict(spark, surfaces).persist()
    })

  /** Canonical map: connected components over the dictionary's alias edges
    * (cached — it's a model-prep artifact, same at every query). */
  def canonMap(spark: SparkSession, sfDir: String): DataFrame =
    canonCache.getOrElseUpdate(sfDir, {
      ConnectedComponents.run(Triples.aliasEdges(aliasDict(spark, sfDir))).persist()
    })

  def rawTriples(spark: SparkSession, sfDir: String): Dataset[RawTriple] = {
    val lex = spark.sparkContext.broadcast(NerStage.defaultPredicateLexicon)
    NerStage.rawTriples(taggedSentences(spark, sfDir), lex)
  }

  /** The materialized KG, persisted once per (process, sfDir) — the
    * production shape: canonicalization runs ONE time and every KG
    * analytics query (BGP/PageRank/SCC/diff/...) reads the same
    * materialized triple table, exactly like reading the K6 sink back.
    * Before this cache each graph query silently re-ran the
    * mentions -> linking -> canonicalization joins. */
  def triples(spark: SparkSession, sfDir: String): Dataset[Triple] =
    triplesCache.getOrElseUpdate(sfDir, {
      Triples.canonicalTriples(rawTriples(spark, sfDir),
        aliasDict(spark, sfDir), canonMap(spark, sfDir)).persist()
    })

  /**
   * Full production-shaped run: triples written resumably (snapshot
   * manifests per lang partition), per-partition lineage persisted, OOV /
   * token accumulator metrics returned. Re-running after a partial failure
   * only processes langs absent from the latest snapshot (north_rule:
   * "resumable from checkpoint with per-partition lineage + metrics").
   */
  final case class RunReport(
      langsWritten: Seq[String],
      lineageRows: Int,
      tokensSeen: Long,
      unknownWords: Long)

  def runAndWrite(spark: SparkSession, sfDir: String, outRoot: String,
                  useViterbi: Boolean = false): RunReport = {
    val sc = spark.sparkContext
    val lineage = sc.collectionAccumulator[LineageRow]("graft.lineage")
    val tokensSeen = sc.longAccumulator("graft.tokens")
    val unknownWords = sc.longAccumulator("graft.unknownWords")
    val mdl = models(spark, sfDir)
    val bc = sc.broadcast(mdl)
    val lex = sc.broadcast(NerStage.defaultPredicateLexicon)
    // resume: only process languages not yet committed
    val done = graft.core.TableIO.completedPartitions(outRoot)
    val pending = pages(spark, sfDir).filter(p => !done.contains(p.lang))
    // spread the inference stage over the cluster regardless of how few
    // input splits the source had (a single parquet file otherwise caps the
    // NER stage at its split count)
    val parts = math.max(spark.sparkContext.defaultParallelism * 2, 4)
    val sents = NerStage.saltedRepartition(NerStage.sentences(pending), parts, parts)
    val tagged = NerStage.tag(sents, bc, useViterbi, lineage = Some(lineage),
      tokenCounter = Some(tokensSeen), oovCounter = Some(unknownWords))
    val raw = NerStage.rawTriples(tagged, lex)
    val triples = graft.kg.Triples.canonicalTriples(raw, aliasDict(spark, sfDir), canonMap(spark, sfDir))
    val written = graft.core.TableIO.writeResumable(triples.toDF(), outRoot, "lang")
    // a rerun over committed partitions still reports its (empty) NER
    // partitions; lineage describes work done, so such a run writes none
    val reported = scala.jdk.CollectionConverters.ListHasAsScala(lineage.value).asScala.toSeq
    val rows = if (reported.exists(_.rowsIn > 0)) reported else Nil
    if (rows.nonEmpty) graft.core.TableIO.writeLineage(outRoot, "ner.tag", rows)
    RunReport(written, rows.size, tokensSeen.value, unknownWords.value)
  }

  /** Clear caches (tests / fresh benchmarks). */
  def reset(): Unit = {
    taggedCache.values.foreach(_.unpersist())
    dictCache.values.foreach(_.unpersist())
    canonCache.values.foreach(_.unpersist())
    triplesCache.values.foreach(_.unpersist())
    modelCache.clear(); dictCache.clear(); canonCache.clear()
    taggedCache.clear(); triplesCache.clear()
  }

  /** Drop session-bound Datasets but keep the (session-independent) model
    * registry — used between benchmark sessions with different masters. */
  def resetDatasets(): Unit = {
    taggedCache.clear(); dictCache.clear(); canonCache.clear()
    triplesCache.clear()
  }
}
