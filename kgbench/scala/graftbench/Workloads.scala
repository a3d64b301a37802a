package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Curation, Pipeline, SparkEntry}
import graft.core.{LineageRow, TableIO}
import graft.kg.Triples
import graft.ner.NerStage
import graft.ops.TextStats

/** State shared by a workload and the protocol that drives it. */
final class Ctx(val seed: Long, val scale: String, val baseDir: String,
                val goldenDir: String, val workDir: String) {
  var spark: SparkSession = _
  private var n = 0
  private var input = ""
  def freshDir(tag: String): String = { n += 1; s"$workDir/$tag-$n" }

  /** The sf directory for one set-up's inputs; the previous set-up's is
    * removed, so the work directory holds one input at a time. */
  def freshInput(): String = {
    if (input.nonEmpty) Io.rm(input)
    input = freshDir("in")
    s"$input/$scale"
  }
}

/** One operation: a pass, or one query of a kg_query pass. `seconds` is the
  * timed part only; correctness checks run outside it. */
final case class Op(seconds: Double, ok: Boolean)

/** What a pass returns: its operations and the traced extras. */
final case class PassOut(ops: Seq[Op], extras: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Items per pass: input docs, or queries for kg_query. */
  def items: Long
  /** Untimed passes after the cold one. Pass times keep falling, steeply
    * for the first 3-4 passes and slowly for 20 passes or more; a fixed
    * count puts every run's timed passes at the same point of that curve,
    * and the run budget goes to timed passes rather than a longer warm-up. */
  def warmPasses: Int
  /** Timed passes made at least, even past `--seconds`. */
  def minMeasured: Int = 3
  /** Generates the inputs (and, for kg_query, materializes the KG). */
  def setUp(c: Ctx, tracer: Option[Tracer]): Unit
  /** Loads what the correctness checks compare against (not timed). */
  def prepareChecks(c: Ctx): Unit = ()
  def pass(c: Ctx): PassOut
  /** The same work with every layer boundary materialized inside a span. */
  def tracedPass(c: Ctx, t: Tracer): PassOut
  /** Checks that need the whole run; returns their operations. */
  def finalChecks(c: Ctx): Seq[Op] = Nil
  /** Traced runs only: layer work measured once after the timed passes. */
  def tracedSweep(c: Ctx, t: Tracer): Seq[Op] = Nil
}

object Io {
  def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }

  def sizeMb(p: String): Double = {
    val w = Files.walk(Paths.get(p))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1e6
    finally w.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-independent row digests: one xxhash64 per row, sorted. Two equal
  * arrays mean equal multisets of rows. */
object Digest {
  def rowHashes(df: DataFrame, cols: Seq[String]): Array[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(xxhash64(cols.map(col): _*)).as[Long].collect().sorted
  }
}

object KgBuild extends Workload {
  val name = "kg_build"
  val TripleCols = Seq("subj", "pred", "obj", "lang", "url", "sentIdx")
  private var sfDir = ""
  private var golden: Array[Long] = Array.empty
  var items = 0L
  val warmPasses = 2

  def setUp(c: Ctx, tracer: Option[Tracer]): Unit =
    sfDir = Inputs.permutedCopy(c.spark, c.baseDir, c.seed, c.freshInput())

  override def prepareChecks(c: Ctx): Unit = {
    golden = Digest.rowHashes(
      c.spark.read.parquet(s"${c.goldenDir}/${c.scale}/q47_triples.parquet"), TripleCols)
    items = c.spark.read.parquet(s"$sfDir/documents.parquet").count()
  }

  /** The written triples equal the golden triples as a multiset. */
  private def check(c: Ctx, out: String): Boolean =
    java.util.Arrays.equals(
      Digest.rowHashes(TableIO.read(c.spark, out, "lang"), TripleCols), golden)

  def pass(c: Ctx): PassOut = {
    val out = c.freshDir("out")
    Pipeline.reset()
    val (_, secs) = Io.timed(Pipeline.runAndWrite(c.spark, sfDir, out))
    val ok = check(c, out)
    Io.rm(out)
    PassOut(Seq(Op(secs, ok)))
  }

  /** `Pipeline.runAndWrite`'s own steps, each materialized and counted
    * inside its span: the model build, the alias dictionary and the canonical
    * map through `Pipeline`, the tagging and the canonical triples composed
    * as `runAndWrite` composes them, then its write. `runAndWrite` has no
    * sentence step of its own (the model build, the tagger and the alias
    * dictionary each extract the sentences), so `text.sentences` is one
    * extra extraction, and `kg.triples` computes the triples once more than
    * the write does; both are part of trace.overhead_s. */
  def tracedPass(c: Ctx, t: Tracer): PassOut = {
    val spark = c.spark
    val sc = spark.sparkContext
    val out = c.freshDir("out")
    Pipeline.reset()
    val lineage = sc.collectionAccumulator[LineageRow]("bench.lineage")
    val tokens = sc.longAccumulator("bench.tokens")
    val oov = sc.longAccumulator("bench.oov")
    var rows = 0L
    val (dict, secs) = Io.timed(t.span("pass") {
      t.span("text.sentences")(Pipeline.sentences(spark, sfDir).count())
      val models = t.span("ner.models")(Pipeline.models(spark, sfDir))
      val tagged = t.span("ner.tag") {
        val bc = sc.broadcast(models)
        val done = TableIO.completedPartitions(out)
        val pending = Pipeline.pages(spark, sfDir).filter(p => !done.contains(p.lang))
        val parts = math.max(sc.defaultParallelism * 2, 4)
        val tg = NerStage.tag(NerStage.saltedRepartition(NerStage.sentences(pending), parts, parts),
          bc, lineage = Some(lineage), tokenCounter = Some(tokens), oovCounter = Some(oov)).persist()
        tg.count(); tg
      }
      val dict = t.span("link.alias_dict") { val d = Pipeline.aliasDict(spark, sfDir); d.count(); d }
      val canon = t.span("canon.cc") { val m = Pipeline.canonMap(spark, sfDir); m.count(); m }
      val triples = t.span("kg.triples") {
        val lex = sc.broadcast(NerStage.defaultPredicateLexicon)
        val tr = Triples.canonicalTriples(NerStage.rawTriples(tagged, lex), dict, canon)
        rows = tr.count(); tr
      }
      t.span("core.write") {
        TableIO.writeResumable(triples.toDF(), out, "lang")
        tagged.unpersist()
        val lin = lineage.value.asScala.toSeq
        if (lin.nonEmpty) TableIO.writeLineage(out, "ner.tag", lin)
      }
      dict
    })
    // the same edge count ConnectedComponents.run sizes its path choice by
    val edges = Triples.aliasEdges(dict).select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().count()
    val mb = Io.sizeMb(s"$out/data")
    val ok = check(c, out)
    Io.rm(out)
    PassOut(Seq(Op(secs, ok)), Map(
      "ner.tag.tokens" -> tokens.value.toDouble, "canon.cc.edges" -> edges.toDouble,
      "kg.triples.rows" -> rows.toDouble, "core.write.mb" -> mb))
  }

  /** The query half of the kg layer, which no pass of this workload runs:
    * the KG of this run's input materialized through `Pipeline.triples`,
    * then kg_query's 24 queries once each in seeded order, each under its
    * family's span. */
  override def tracedSweep(c: Ctx, t: Tracer): Seq[Op] = {
    t.span("kg.materialize")(Pipeline.triples(c.spark, sfDir).count())
    Inputs.queryOrder(KgQuery.Families.values.flatten.toSeq, c.seed).map { q =>
      t.span(KgQuery.familyOf(q))(KgQuery.query(c.spark, sfDir, q))
    }
  }
}

object KgQuery extends Workload {
  val name = "kg_query"
  /** The 24 KG board queries by family (the kg module each one exercises). */
  val Families: ListMap[String, Seq[String]] = ListMap(
    "kg.bgp" -> Seq("q96_bgp_match", "q102_bgp_optional", "q108_property_path",
      "q113_bgp_agg", "q119_bgp_minus", "q128_bgp_ask"),
    "kg.graphs" -> Seq("q85_triangles", "q87_bfs_reach", "q97_sssp", "q104_modularity",
      "q123_scc", "q133_ego_graph", "q172_coarsen_move", "q179_mis"),
    "kg.rank" -> Seq("q79_pagerank", "q141_entity_salience", "q147_entity_features"),
    "kg.rules" -> Seq("q89_closure", "q92_rule_mining", "q106_rdfs_closure", "q120_owl_rules"),
    "kg.maintain" -> Seq("q83_kg_upsert", "q117_kg_diff"),
    "kg.temporal" -> Seq("q187_temporal_reach"))
  val familyOf: Map[String, String] =
    for ((f, qs) <- Families; q <- qs) yield q -> f
  private var sfDir = ""
  private var order: Seq[String] = Nil
  val items: Long = familyOf.size.toLong
  val warmPasses = 1
  // >= 100 latency samples, so at least 10 lie beyond the p90
  override val minMeasured = 5

  def setUp(c: Ctx, tracer: Option[Tracer]): Unit = {
    val spark = c.spark
    sfDir = Inputs.permutedCopy(spark, c.baseDir, c.seed, c.freshInput())
    order = Inputs.queryOrder(Families.values.flatten.toSeq, c.seed)
    Pipeline.reset()
    tracer match {
      case None => Pipeline.triples(spark, sfDir).count()
      case Some(t) =>
        // Pipeline's own cached steps, in dependency order, so each span
        // owns the layer it names and the queries reuse the same caches
        t.span("setup") {
          t.span("ner.models")(Pipeline.models(spark, sfDir))
          t.span("ner.tag")(Pipeline.taggedSentences(spark, sfDir).count())
          t.span("link.alias_dict")(Pipeline.aliasDict(spark, sfDir).count())
          t.span("canon.cc")(Pipeline.canonMap(spark, sfDir).count())
          t.span("kg.triples")(Pipeline.triples(spark, sfDir).count())
        }
    }
  }

  /** One closed-loop query into the noop sink. */
  def query(spark: SparkSession, sfDir: String, q: String): Op =
    try {
      val (_, secs) = Io.timed(SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      Op(secs, ok = true)
    } catch { case e: Exception =>
      System.err.println(s"[kgbench] $q failed: $e")
      Op(0.0, ok = false)
    }

  def pass(c: Ctx): PassOut = PassOut(order.map(query(c.spark, sfDir, _)))

  def tracedPass(c: Ctx, t: Tracer): PassOut =
    PassOut(t.span("pass")(order.map(q => t.span(familyOf(q))(query(c.spark, sfDir, q)))))

  /** Writes every query's result once, plus the oracle SQL of those queries
    * with `__SF__` resolved, for tools/compare_oracle.py. */
  override def finalChecks(c: Ctx): Seq[Op] = {
    val dir = s"${c.workDir}/oracle_out"
    val ops = order.map { q =>
      try {
        SparkEntry.queries(q)(c.spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
        Op(0.0, ok = true)
      } catch { case e: Exception =>
        System.err.println(s"[kgbench] $q check write failed: $e")
        Op(0.0, ok = false)
      }
    }
    val sql = ListMap(order.map(q => q -> SparkEntry.oracleSql(q).replace("__SF__", c.scale)): _*)
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.render(sql))
    ops
  }
}

object CurationWl extends Workload {
  val name = "curation"
  /** Copies of the base documents. A warm pass is mostly fixed Spark job
    * overhead: on a quiet 4-vCPU host 4 copies took about 3.8 s, 8 copies
    * 4.8 s and 16 copies 6 s. Host CPU contention stretched the 4-copy pass
    * by a third to a half; 8 copies raise the share of per-document work
    * and still fit the run budget. */
  val Copies = 8
  /** Every written column except the float score, which is compared with a
    * tolerance because its per-document sum may combine in another order. */
  val ExactCols = Seq("doc_id", "lang", "source", "n_tokens", "bucket", "pack_id", "text")
  val StageNames = Seq("docs_in", "after_quality", "after_exact", "after_near_dup",
    "after_decontam", "after_repetition")
  private var sfDir = ""
  private var ref: Option[(Array[Long], Array[(Long, Double)])] = None
  var items = 0L
  val warmPasses = 1

  def setUp(c: Ctx, tracer: Option[Tracer]): Unit =
    sfDir = Inputs.curationCopies(c.spark, c.baseDir, c.seed, Copies, c.freshInput())

  override def prepareChecks(c: Ctx): Unit =
    items = c.spark.read.parquet(s"$sfDir/documents.parquet").count()

  private def digest(df: DataFrame): (Array[Long], Array[(Long, Double)]) = {
    val spark = df.sparkSession
    import spark.implicits._
    (Digest.rowHashes(df, ExactCols),
      df.select(col("doc_id"), col("lm_logprob")).as[(Long, Double)].collect().sortBy(_._1))
  }

  private def sameDigest(a: (Array[Long], Array[(Long, Double)]),
                         b: (Array[Long], Array[(Long, Double)])): Boolean =
    java.util.Arrays.equals(a._1, b._1) && a._2.length == b._2.length &&
      a._2.zip(b._2).forall { case ((ia, x), (ib, y)) =>
        ia == ib && math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)) }

  /** Rows written equal the last stage count, stage counts never increase,
    * and the output digest equals the run's first pass. */
  private def check(c: Ctx, out: String, counts: Seq[Long]): Boolean = {
    val written = TableIO.read(c.spark, out, "lang")
    val d = digest(written)
    if (ref.isEmpty) ref = Some(d)
    val monotone = counts.sliding(2).forall { case Seq(a, b) => b <= a }
    monotone && d._1.length.toLong == counts.last && sameDigest(d, ref.get)
  }

  def pass(c: Ctx): PassOut = {
    val out = c.freshDir("out")
    val (r, secs) = Io.timed(Curation.runAndWrite(c.spark, sfDir, out))
    val counts = Seq(r.docsIn, r.afterQuality, r.afterExact, r.afterNearDup,
      r.afterDecontam, r.afterRepetition)
    val ok = check(c, out, counts)
    Io.rm(out)
    PassOut(Seq(Op(secs, ok)), StageNames.zip(counts.map(_.toDouble)).toMap)
  }

  /** `Curation.runAndWrite` taken apart at its stage boundaries, each stage
    * localCheckpoint'ed and counted as the chain itself does; the final
    * annotation join is materialized too before the write. */
  def tracedPass(c: Ctx, t: Tracer): PassOut = {
    import graft.ops.Dedup
    val spark = c.spark
    val out = c.freshDir("out")
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def stage(name: String)(df: => DataFrame): DataFrame = t.span(name) {
      val d = df.localCheckpoint()
      counts += d.count()
      d
    }
    val (_, secs) = Io.timed(t.span("pass") {
      val docs = stage("ops.read")(spark.read.parquet(s"$sfDir/documents.parquet"))
      val quality = stage("ops.quality")(docs.filter(TextStats.keepPredicate(col("text"))))
      val exactKeep = stage("ops.exact")(quality.join(
        Dedup.exact(quality).select(col("keep_id").as("doc_id")), Seq("doc_id")))
      val nearKeep = stage("ops.near_dup")(exactKeep.join(
        Dedup.dedupClusters(exactKeep).filter(col("doc_id") === col("keep_id"))
          .select(col("doc_id")), Seq("doc_id")))
      val benchmark = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val clean = stage("ops.decontam")(nearKeep.join(
        Dedup.decontaminate(nearKeep, benchmark, k = 8)
          .filter(!col("contaminated")).select(col("doc_id")), Seq("doc_id")))
      val unrep = stage("ops.repetition")(
        clean.filter(!TextStats.repetitivePredicate(col("text"))))
      val annotated = stage("ops.annotate") {
        val rarity = TextStats.lmRarity(unrep).select(col("doc_id"), col("lm_logprob"))
        val packed = TextStats.packByTokenBudget(unrep, 512L)
          .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack_id"))
        unrep.select(col("doc_id"), col("lang"), col("source"),
            TextStats.redactedText(col("text")).as("text"))
          .join(packed, Seq("doc_id")).join(rarity, Seq("doc_id"))
      }
      t.span("core.write")(TableIO.writeResumable(annotated, out, "lang"))
    })
    val stages = Seq("ops.quality", "ops.exact", "ops.near_dup", "ops.decontam",
      "ops.repetition", "ops.annotate")
    val ratios = stages.zipWithIndex.map { case (s, i) =>
      s"$s.keep_ratio" -> counts(i + 1).toDouble / math.max(counts(i), 1L) }
    val mb = Io.sizeMb(s"$out/data")
    val ok = check(c, out, counts.init.toSeq)
    Io.rm(out)
    PassOut(Seq(Op(secs, ok)), (ratios :+ ("core.write.mb" -> mb)).toMap)
  }
}
