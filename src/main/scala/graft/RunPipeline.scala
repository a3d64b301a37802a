package graft

import org.apache.spark.sql.SparkSession

/**
 * Production-shaped entry point: spark-submit --class graft.RunPipeline
 * <jar> <sfDir> <outRoot> [greedy|viterbi]. Resumable (snapshot manifests), writes
 * per-partition lineage, prints a one-line JSON report.
 */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <sfDir> <outRoot> [greedy|viterbi]")
    val Array(sfDir, outRoot) = args.take(2)
    val useViterbi = viterbi(args)
    val spark = SparkSession.builder()
      .appName("graft-kg-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val report = Pipeline.runAndWrite(spark, sfDir, outRoot, useViterbi)
    val secs = (System.nanoTime() - t0) / 1e9
    val nTriples = graft.core.TableIO.read(spark, outRoot, "lang").count()
    println(summary(report, secs, nTriples, useViterbi, outRoot))
    spark.stop()
  }

  /** Whether the optional third argument selects the Viterbi decoder:
    * absent or `greedy` is greedy, `viterbi` is Viterbi, anything else is
    * rejected rather than silently decoded greedily. */
  private[graft] def viterbi(args: Array[String]): Boolean = args.lift(2) match {
    case None | Some("greedy") => false
    case Some("viterbi") => true
    case Some(other) =>
      throw new IllegalArgumentException(s"unknown decoder '$other': use greedy or viterbi")
  }

  /** The one-line JSON report `main` prints. */
  private[graft] def summary(report: Pipeline.RunReport, secs: Double, nTriples: Long,
                             useViterbi: Boolean, outRoot: String): String =
    s"""{"metric":"pipeline_run","seconds":${f"$secs%.2f"},"langs":${report.langsWritten.size},""" +
    s""""lineage_rows":${report.lineageRows},"tokens":${report.tokensSeen},""" +
    s""""oov":${report.unknownWords},"triples_total":$nTriples,""" +
    s""""decoder":"${if (useViterbi) "viterbi" else "greedy"}","out":${graft.core.TableIO.jsonString(outRoot)}}"""
}
