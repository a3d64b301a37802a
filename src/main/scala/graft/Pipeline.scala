package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}
import scala.collection.concurrent.TrieMap
import graft.core._
import graft.gen.CorpusGen
import graft.ner.{Models, NerStage, SentenceNer}
import graft.link.EntityLink
import graft.canon.ConnectedComponents
import graft.kg.Triples

/**
 * End-to-end KG-construction wiring (north_star):
 * pages -> extract/sentences -> language-routed NER -> mentions
 *   -> alias-dict linking (broadcast or salted) -> connected-component
 *   canonicalization -> (subj, pred, obj) triples partitioned by lang.
 *
 * The per-document part of that chain is written once, as [[Chain]]; the
 * board (`taggedSentences`, `triples`), `runAndWrite` and `ScalingBench`
 * all run it. Its NER stage is salted-repartitioned to one width,
 * `max(2 * defaultParallelism, 4)` ([[nerWidth]]): inference is the chain's
 * costliest stage, a source with few input splits (one parquet file) would
 * otherwise cap it at its split count, and two tasks per core let a slow
 * language bucket overlap with the rest.
 *
 * The board's materialized views live in one memo keyed by stage name and
 * input; the stage names are the ones kgbench's spans use. They keep the
 * one-time model-prep jobs (vocab builds, dictionary, connected components)
 * and the NER pass from re-running for every query in a session.
 */
object Pipeline {

  /** (stage, input) -> the model registry, a persisted Dataset, or a board
    * [[Chain]] whose `tagged` is persisted. */
  private val views = TrieMap.empty[(String, Any), AnyRef]

  private def memo[T <: AnyRef](stage: String, input: Any)(build: => T): T =
    views.getOrElseUpdate((stage, input), build).asInstanceOf[T]

  /** The Dataset a view keeps persisted, if any. */
  private def persisted(view: AnyRef): Option[Dataset[_]] = view match {
    case d: Dataset[_] => Some(d)
    case c: Chain => Some(c.tagged)
    case _ => None
  }

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
    memo("ner.models", sfDir) {
      sys.env.get("SPARK_GRAFT_MODEL_DIR") match {
        case Some(dir) => graft.ner.ModelStore.load(dir)
        case None if sys.env.get("SPARK_GRAFT_MODEL").contains("reference") =>
          Models.build(spark, sentences(spark, sfDir),
            embedDim = 300, numFilters = 35, minWidth = 3, maxWidth = 7, hidden = 200)
        case None => Models.build(spark, sentences(spark, sfDir))
      }
    }

  /** Partitions of the chain's NER stage (see the object's scaladoc). */
  private[graft] def nerWidth(spark: SparkSession): Int =
    math.max(2 * spark.sparkContext.defaultParallelism, 4)

  /**
   * The per-document KG chain over `pages`: sentences -> salted repartition
   * to [[nerWidth]] -> language-routed NER with `sfDir`'s [[models]] (feeding
   * the optional run metrics) -> surface triples -> linked, canonical
   * triples over `sfDir`'s [[aliasDict]] and [[canonMap]]. Nothing here is
   * materialized: the board persists `tagged`, `runAndWrite` streams
   * `triples` into its write. `triples` is built on first use, so a caller
   * that reads only `tagged` runs no linking or canonicalization job.
   */
  private[graft] final class Chain(spark: SparkSession, sfDir: String, pages: Dataset[Page],
      useViterbi: Boolean = false,
      lineage: Option[CollectionAccumulator[LineageRow]] = None,
      tokenCounter: Option[LongAccumulator] = None,
      oovCounter: Option[LongAccumulator] = None) {
    val tagged: Dataset[SentenceNer] = {
      val w = nerWidth(spark)
      NerStage.tag(NerStage.saltedRepartition(NerStage.sentences(pages), w, w),
        spark.sparkContext.broadcast(models(spark, sfDir)), useViterbi,
        lineage = lineage, tokenCounter = tokenCounter, oovCounter = oovCounter)
    }
    lazy val triples: Dataset[Triple] = Triples.canonicalTriples(
      NerStage.rawTriples(tagged, spark.sparkContext.broadcast(NerStage.defaultPredicateLexicon)),
      aliasDict(spark, sfDir), canonMap(spark, sfDir))
  }

  /** The board's chain over every page, its tagged sentences persisted per
    * (sfDir, decoder): the NER pass is the expensive stage; every downstream
    * query (mentions, linking, triples, metrics) reuses one materialization. */
  private def board(spark: SparkSession, sfDir: String, useViterbi: Boolean): Chain =
    memo("ner.tag", (sfDir, useViterbi)) {
      val c = new Chain(spark, sfDir, pages(spark, sfDir), useViterbi)
      c.tagged.persist()
      c
    }

  def taggedSentences(spark: SparkSession, sfDir: String,
                      useViterbi: Boolean = false): Dataset[SentenceNer] =
    board(spark, sfDir, useViterbi).tagged

  def mentions(spark: SparkSession, sfDir: String): Dataset[Mention] =
    NerStage.mentions(taggedSentences(spark, sfDir))

  /** Alias dictionary derived from the corpus token universe (cached). */
  def aliasDict(spark: SparkSession, sfDir: String): DataFrame =
    memo("link.alias_dict", sfDir) {
      import spark.implicits._
      val surfaces = sentences(spark, sfDir).flatMap(_.tokens).distinct()
      EntityLink.aliasDict(spark, surfaces).persist()
    }

  /** Canonical map: connected components over the dictionary's alias edges
    * (cached — it's a model-prep artifact, same at every query). */
  def canonMap(spark: SparkSession, sfDir: String): DataFrame =
    memo("canon.cc", sfDir) {
      ConnectedComponents.run(Triples.aliasEdges(aliasDict(spark, sfDir))).persist()
    }

  /** The materialized KG, persisted once per (process, sfDir) — the
    * production shape: canonicalization runs ONE time and every KG
    * analytics query (BGP/PageRank/SCC/diff/...) reads the same
    * materialized triple table, exactly like reading the K6 sink back.
    * Before this cache each graph query silently re-ran the
    * mentions -> linking -> canonicalization joins. */
  def triples(spark: SparkSession, sfDir: String): Dataset[Triple] =
    memo("kg.triples", sfDir)(board(spark, sfDir, useViterbi = false).triples.persist())

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
    // resume: only process languages not yet committed
    val done = TableIO.completedPartitions(outRoot)
    val pending = pages(spark, sfDir).filter(p => !done.contains(p.lang))
    val chain = new Chain(spark, sfDir, pending, useViterbi, lineage = Some(lineage),
      tokenCounter = Some(tokensSeen), oovCounter = Some(unknownWords))
    val written = TableIO.writeResumable(chain.triples.toDF(), outRoot, "lang")
    // a rerun over committed partitions still reports its (empty) NER
    // partitions; lineage describes work done, so such a run writes none
    val reported = scala.jdk.CollectionConverters.ListHasAsScala(lineage.value).asScala.toSeq
    val rows = if (reported.exists(_.rowsIn > 0)) reported else Nil
    if (rows.nonEmpty) TableIO.writeLineage(outRoot, "ner.tag", rows)
    RunReport(written, rows.size, tokensSeen.value, unknownWords.value)
  }

  /** Unpersist and forget every view (tests / fresh benchmarks). */
  def reset(): Unit = {
    views.values.flatMap(persisted).foreach(_.unpersist())
    views.clear()
  }

  /** Forget the session-bound views but keep the (session-independent)
    * model registry — used between benchmark sessions with different
    * masters, whose Datasets need no unpersist once their session stopped. */
  def resetDatasets(): Unit = views.filterInPlace((_, v) => persisted(v).isEmpty)
}
