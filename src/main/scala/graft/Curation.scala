package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextStats}

/**
 * The production-shaped CURATION pipeline — the training-data side of the
 * engine, one spark-submit from raw documents to a curated, packed,
 * PII-redacted corpus (the KG side's analog is `RunPipeline`). Stages, each
 * an operator oracled on the query board:
 *
 *   1. quality FILTER (Gopher/C4 integer rules, q37)
 *   2. EXACT dedup, hash-keyed (q21)
 *   3. transitive NEAR-dup clustering keep-list (MinHash-LSH -> CC, q36)
 *   4. benchmark DECONTAMINATION vs a holdout set (q53)
 *   5. REPETITION filter (top-ngram profile, q55)
 *   6. PII REDACTION (q57) + LM-rarity annotation (q56)
 *   7. deterministic SEQUENCE PACKING by token budget (q51)
 *   8. crash-atomic resumable write partitioned by lang (TableIO snapshots)
 *
 * Four localCheckpoint boundaries: read + quality, exact, near-dup, and
 * decontamination + repetition (a per-row filter rides the boundary next
 * to it). Each boundary is ONE materializing job that also takes its
 * stage counts: an `Observation` in the checkpointed plan's result stage,
 * so a retried task does not count twice, and no `count()` job follows.
 * Downstream stages never recompute upstream operators. The whole chain
 * is deterministic — rerunning into the same root writes no new
 * partitions (resumability, tested).
 */
object Curation {
  import org.apache.spark.sql.{Column, Observation}
  import graft.core.{LineageRow, TableIO}

  final case class Report(docsIn: Long, afterQuality: Long, afterExact: Long,
                          afterNearDup: Long, afterDecontam: Long,
                          afterRepetition: Long, langsWritten: Seq[String])

  /** The chain before its write: the curated rows, the stage counts, one
    * lineage row per count, and the release of what the rows hold on to
    * (the rarity model's broadcast), for after they are written. */
  private final case class Chain(out: DataFrame, report: Report,
                                 lineage: Seq[LineageRow], release: () => Unit)

  /** The curated corpus as a DataFrame:
    * (doc_id, lang, source, text, n_tokens, bucket, pack_id, lm_logprob)
    * with `text` already PII-redacted. Also returns per-stage counts.
    *
    * Shuffle budget: the per-row stages (quality, repetition, redaction,
    * rarity) run on the corpus's own partitions — filters and projections,
    * no join against a keep-set, no shuffle. Only the inherently
    * relational stages shuffle: the two dedups (hash/LSH aggregations and
    * the join of their keep-lists), decontamination (broadcast benchmark
    * grams; the contaminated ids are dropped by an anti-join, broadcast
    * while they fit `spark.sql.autoBroadcastJoinThreshold`), and packing
    * (one bucketed window, which carries the rows). */
  def curatedWithCounts(spark: SparkSession, sfDir: String,
                        budget: Long = 512L): (DataFrame, Report) =
    curatedWithCounts(spark.read.parquet(s"$sfDir/documents.parquet"), budget)

  /** DataFrame-input core (the overload above reads the sf dir). */
  def curatedWithCounts(docsIn0: DataFrame, budget: Long): (DataFrame, Report) = {
    val c = chain(docsIn0, budget)
    (c.out, c.report)
  }

  /** Checked on entry, before any Spark job: even reading the documents runs one. */
  private def requireBudget(budget: Long): Unit =
    require(budget > 0, s"budget ($budget) must be > 0")

  private def chain(docs: DataFrame, budget: Long): Chain = {
    requireBudget(budget)
    val (quality, docsIn, nQuality, msQuality) =
      boundary(docs, TextStats.keepPredicate(col("text")))

    val (exactKeep, _, nExact, msExact) = boundary(quality.join(
      Dedup.exact(quality).select(col("keep_id").as("doc_id")), Seq("doc_id")))

    val (nearKeep, _, nNear, msNear) = boundary(exactKeep.join(
      Dedup.dedupClusters(exactKeep).filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id")), Seq("doc_id")))

    // holdout: the stand-in benchmark set (doc_id % 97 == 0, as q53). The
    // contaminated ids are a subset of nearKeep's, 8 bytes each.
    val benchmark = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val hits = Dedup.benchmarkHits(nearKeep, benchmark, k = 8).select(col("doc_id"))
    val broadcastBytes = nearKeep.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val contaminated = if (nNear * 8L <= broadcastBytes) broadcast(hits) else hits
    val (unrepetitive, nClean, nUnrep, msClean) = boundary(
      nearKeep.join(contaminated, Seq("doc_id"), "left_anti"),
      !TextStats.repetitivePredicate(col("text")))

    // rarity, redaction and packing: one projection and one bucket window
    // over the rows themselves. A doc with no char n-gram has no rarity (no
    // lmScore row) and is not written; it still counts toward its bucket's
    // running token sum. The model's broadcast is released here if the rest
    // of the chain fails to build, else by the caller once the rows are written.
    val (scored, release) = TextStats.lmAnnotate(unrepetitive, TextStats.lmTrain(unrepetitive))
    val out = try TextStats.packRows(scored.select(col("doc_id"), col("lang"), col("source"),
        TextStats.redactedText(col("text")).as("text"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        col("n_grams"), col("lm_logprob")), budget)
      .filter(col("n_grams").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_tokens"), col("bucket"), col("pack_id"), col("lm_logprob"))
    catch { case e: Throwable => release(); throw e }

    def row(stage: String, in: Long, outRows: Long, ms: Long, detail: String = "") =
      LineageRow(stage, -1, in, outRows, ms, detail)
    val lineage = Seq(
      row("read", docsIn, docsIn, 0L, "read in the quality boundary"),
      row("quality", docsIn, nQuality, msQuality),
      row("exact", nQuality, nExact, msExact),
      row("near_dup", nExact, nNear, msNear),
      row("decontam", nNear, nClean, 0L, "materialized in the repetition boundary"),
      row("repetition", nClean, nUnrep, msClean))
    Chain(out, Report(docsIn, nQuality, nExact, nNear, nClean, nUnrep, Nil), lineage, release)
  }

  /** `df` filtered by `keep` and localCheckpoint'ed in ONE job that also
    * counts the rows entering and leaving the filter. Returns the rows,
    * the two counts and the boundary's wall time in ms. */
  private def boundary(df: DataFrame, keep: Column = lit(true)): (DataFrame, Long, Long, Long) = {
    val t0 = System.nanoTime()
    val obs = Observation()
    val ck = df.withColumn("_keep", keep)
      .observe(obs, count(lit(1)).as("rows_in"), count_if(col("_keep")).as("rows_out"))
      .filter(col("_keep")).drop("_keep")
      .localCheckpoint()
    val m = obs.get
    (ck, m("rows_in").asInstanceOf[Long], m("rows_out").asInstanceOf[Long],
      (System.nanoTime() - t0) / 1000000L)
  }

  /** Curates `sfDir` into `outRoot` (resumable, partitioned by lang) and,
    * when the run commits a partition, writes one lineage row per stage
    * (`_lineage/curation-<n>.json`; partition -1 = the whole stage). A rerun
    * that commits nothing did no work to record and writes no lineage. */
  def runAndWrite(spark: SparkSession, sfDir: String, outRoot: String,
                  budget: Long = 512L): Report = {
    requireBudget(budget)
    val c = chain(spark.read.parquet(s"$sfDir/documents.parquet"), budget)
    val langs = try TableIO.writeResumable(c.out, outRoot, "lang") finally c.release()
    if (langs.nonEmpty) TableIO.writeLineage(outRoot, "curation", c.lineage)
    c.report.copy(langsWritten = langs)
  }
}

object RunCuration {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunCuration <sfDir> <outRoot> [budget]")
    val Array(sfDir, outRoot) = args.take(2)
    val budget = if (args.length > 2) args(2).toLong else 512L
    val spark = SparkSession.builder()
      .appName("graft-curation-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val r = Curation.runAndWrite(spark, sfDir, outRoot, budget)
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = graft.core.TableIO.read(spark, outRoot, "lang").count()
    println(summary(r, secs, rows, outRoot))
    spark.stop()
  }

  /** The one-line JSON report `main` prints. */
  private[graft] def summary(r: Curation.Report, secs: Double, rows: Long, outRoot: String): String =
    s"""{"metric":"curation_run","seconds":${f"$secs%.2f"},"docs_in":${r.docsIn},""" +
    s""""after_quality":${r.afterQuality},"after_exact":${r.afterExact},""" +
    s""""after_neardup":${r.afterNearDup},"after_decontam":${r.afterDecontam},""" +
    s""""after_repetition":${r.afterRepetition},"rows_written":$rows,""" +
    s""""langs":${r.langsWritten.size},"out":${graft.core.TableIO.jsonString(outRoot)}}"""
}
