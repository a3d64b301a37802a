package graft

import org.apache.spark.broadcast.Broadcast
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
 *   -> alias-dict linking -> connected-component canonicalization
 *   -> (subj, pred, obj) triples partitioned by lang.
 *
 * Everything the chain needs before tagging comes from one read of the
 * pages and one aggregate job ([[Prep]]): a single explode of every token
 * emits its characters and lowercased form (the per-language model
 * vocabularies) and its alias surface, keyed by (kind, lang, key). The
 * driver builds the models, the alias dictionary, its connected components
 * (union-find over the dictionary's alias edges) and one alias -> canonical
 * entity map from the collected aggregate; linking is one lookup in that
 * map's broadcast, not a join.
 *
 * The per-document part of the chain is written once, as [[Chain]]; the
 * board (`taggedSentences`, `triples`), `runAndWrite` and `ScalingBench`
 * all run it. Its NER stage is salted-repartitioned to one width,
 * `max(2 * defaultParallelism, 4)` ([[nerWidth]]): inference is the chain's
 * costliest stage, a source with few input splits (one parquet file) would
 * otherwise cap it at its split count, and two tasks per core let a slow
 * language bucket overlap with the rest.
 *
 * The board's materialized views live in one memo keyed by stage name and
 * input; the stage names are the ones kgbench's spans use, plus `prep`.
 * They keep the one-time model prep and the NER pass from re-running for
 * every query in a session.
 */
object Pipeline {

  /** (stage, input) -> the [[Prep]], a persisted Dataset, or a board
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

  /**
   * What the chain needs before tagging, all held on the driver: the
   * per-language model registry, the alias dictionary rows (alias,
   * entity_id, prior), the canonical map rows (id, component) and the alias
   * -> canonical entity map that linking looks up.
   */
  private[graft] final case class Prep(
      models: Map[String, Models.LangModel],
      dict: Seq[(String, Long, Double)],
      canon: Seq[(Long, Long)],
      links: Map[String, Long])

  /** [[Prep]] of a corpus from one aggregate job over its sentences
    * (`Models.units` with alias units): the models as `Models.build` builds
    * them, the dictionary as `EntityLink.aliasDict` builds it over every
    * token, the canonical map as `ConnectedComponents.run` labels
    * `Triples.aliasEdges` of it (the driver union-find, as for any graph
    * that small), and `Triples.linkMap` of the two.
    *
    * SPARK_GRAFT_MODEL_DIR=<dir> loads a saved registry instead (the
    * trained-model deployment path — graft.ner.ModelStore, S5 checkpoint
    * parity); SPARK_GRAFT_MODEL=reference selects the reference's own
    * hyperparameters (NeuralNERMono/NeuralNER.py:67-75: hidden 200, embed
    * 300, filters 35, widths 3-7); default is a small serving config for
    * fast verification. */
  private[graft] def prepare(sentences: Dataset[Sentence]): Prep = {
    val units = Models.units(Models.positionedTokens(sentences), aliases = true)
    val models = sys.env.get("SPARK_GRAFT_MODEL_DIR") match {
      case Some(dir) => graft.ner.ModelStore.load(dir)
      case None if sys.env.get("SPARK_GRAFT_MODEL").contains("reference") =>
        Models.fromUnits(units, embedDim = 300, numFilters = 35, minWidth = 3, maxWidth = 7, hidden = 200)
      case None => Models.fromUnits(units)
    }
    val dict = units.iterator.filter(_.kind == Models.AliasUnit)
      .flatMap(u => EntityLink.candidates(u.key)).toSeq
    val canon = ConnectedComponents.driverUnionFind(Triples.aliasEdges(dict))
    Prep(models, dict, canon, Triples.linkMap(dict, canon))
  }

  /** [[prepare]] over every page of `sfDir`, once per (process, sfDir). It
    * holds no Dataset, so `resetDatasets` keeps it. */
  private def prep(spark: SparkSession, sfDir: String): Prep =
    memo("prep", sfDir)(prepare(sentences(spark, sfDir)))

  /** Deterministic per-language models of every page of `sfDir` ([[Prep]]). */
  def models(spark: SparkSession, sfDir: String): Map[String, Models.LangModel] =
    prep(spark, sfDir).models

  /** Partitions of the chain's NER stage (see the object's scaladoc). */
  private[graft] def nerWidth(spark: SparkSession): Int =
    math.max(2 * spark.sparkContext.defaultParallelism, 4)

  /**
   * The per-document KG chain over `pages`: sentences -> salted repartition
   * to [[nerWidth]] -> language-routed NER with `sfDir`'s [[models]] (feeding
   * the optional run metrics) -> surface triples -> canonical triples
   * through `sfDir`'s alias -> canonical entity map ([[Prep]]). Nothing here
   * is materialized: the board persists `tagged`, `runAndWrite` streams
   * `triples` into its write. `triples` is built on first use, so a caller
   * that reads only `tagged` broadcasts no lexicon or map. `release`
   * destroys the chain's broadcasts, for a caller done with its rows.
   */
  private[graft] final class Chain(spark: SparkSession, sfDir: String, pages: Dataset[Page],
      useViterbi: Boolean = false,
      lineage: Option[CollectionAccumulator[LineageRow]] = None,
      tokenCounter: Option[LongAccumulator] = None,
      oovCounter: Option[LongAccumulator] = None) {
    private val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]
    private def broadcast[T: scala.reflect.ClassTag](value: T): Broadcast[T] = {
      val b = spark.sparkContext.broadcast(value)
      broadcasts += b
      b
    }
    val tagged: Dataset[SentenceNer] = {
      val w = nerWidth(spark)
      NerStage.tag(NerStage.saltedRepartition(NerStage.sentences(pages), w, w),
        broadcast(models(spark, sfDir)), useViterbi,
        lineage = lineage, tokenCounter = tokenCounter, oovCounter = oovCounter)
    }
    lazy val triples: Dataset[Triple] = Triples.canonicalTriples(
      NerStage.rawTriples(tagged, broadcast(NerStage.defaultPredicateLexicon)),
      broadcast(prep(spark, sfDir).links))
    def release(): Unit = broadcasts.foreach(_.destroy())
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

  /** Alias dictionary (alias, entity_id, prior) of the corpus token
    * universe, from [[Prep]]'s rows (persisted). */
  def aliasDict(spark: SparkSession, sfDir: String): DataFrame =
    memo("link.alias_dict", sfDir) {
      import spark.implicits._
      prep(spark, sfDir).dict.toDF("alias", "entity_id", "prior").persist()
    }

  /** Canonical map (id, component): connected components over the
    * dictionary's alias edges, from [[Prep]]'s rows (persisted). */
  def canonMap(spark: SparkSession, sfDir: String): DataFrame =
    memo("canon.cc", sfDir) {
      import spark.implicits._
      prep(spark, sfDir).canon.toDF("id", "component").persist()
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
    val written = try TableIO.writeResumable(chain.triples.toDF(), outRoot, "lang")
      finally chain.release()
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
    * [[Prep]] with its model registry — used between benchmark sessions
    * with different masters, whose Datasets need no unpersist once their
    * session stopped. */
  def resetDatasets(): Unit = views.filterInPlace((_, v) => persisted(v).isEmpty)
}
