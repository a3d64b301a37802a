package graft

import org.apache.spark.sql.SparkSession

/**
 * Two-cluster-size scaling evidence (north_rule: throughput scaling
 * efficiency >= 0.8 from N to 4N executors). No real cluster exists in the
 * sandbox, so the same job runs at two parallelism levels — local[8] and
 * local[32] by default — on identical input; efficiency = thr(4N) / (4 * thr(N)).
 *
 * Measured job = [[Pipeline.Chain]], the per-document chain `RunPipeline`
 * runs: pages -> sentences -> salted repartition -> language-routed NER ->
 * surface triples -> entity/canonical joins -> triple count. One-time model
 * prep (vocab builds, alias dict, CC over the dictionary) is done once up
 * front through `Pipeline` and excluded, exactly as a production run
 * amortizes model artifacts across the corpus.
 *
 * The corpus is replicated `copies` times with distinct urls so the timed
 * region has enough work to expose scheduling overheads honestly.
 */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    // Default 8->32; set SPARK_GRAFT_LEVELS=4,16 to stay within physical
    // cores on SMT hosts (SMT pairs share ports, which distorts the 4x
    // denominator).
    val p = Scaling.params(sys.env, sfDir = "/root/testdata/sf0.01", levels = "8,32")
    println(Scaling.run("scaling_efficiency", "graft-scaling", p)(runAt(_, _, p)))
  }

  /** One level: docs and triples per best rep of the chain. */
  def runAt(spark: SparkSession, cores: Int, p: Scaling.Params): Scaling.Level = {
    import spark.implicits._
    Pipeline.resetDatasets()
    def phase[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      val r = f
      System.err.println(f"[scaling] local[$cores] $name: ${(System.nanoTime() - t) / 1e9}%.2fs")
      r
    }
    // ---- one-time prep (excluded from throughput) ----
    phase("models")(Pipeline.models(spark, p.sfDir))
    phase("dict")(Pipeline.aliasDict(spark, p.sfDir).count())
    phase("canon")(Pipeline.canonMap(spark, p.sfDir).count())
    // replicated corpus, distinct urls, materialized OUTSIDE the timing.
    // explode over a copy-index column (one dataset node, not a 64-way
    // union whose lineage bloats every task binary).
    val pages = Pipeline.pages(spark, p.sfDir)
      .flatMap(pg => (0 until p.copies).iterator.map(c => pg.copy(url = s"${pg.url}?copy=$c")))
      .repartition(cores * 4)
      .persist()
    val nDocs = phase("pages")(pages.count())
    // ---- timed region: the per-document chain ----
    val chain = new Pipeline.Chain(spark, p.sfDir, pages)
    val (nTriples, secs) = try Scaling.bestOf(s"local[$cores] pipeline", p.reps)(chain.triples.count())
      finally chain.release()
    pages.unpersist()
    Pipeline.resetDatasets()
    Scaling.Level(Seq("docs" -> nDocs, "triples" -> nTriples), secs)
  }
}

/** The harness `ScalingBench` and `CurationScalingBench` share: their
  * parameters, one fresh `local[n]` session per level, best-of-reps timing
  * and the efficiency JSON. */
private[graft] object Scaling {

  /** @param levels N and 4N, the two `local[n]` core counts */
  final case class Params(sfDir: String, copies: Int, levels: (Int, Int), reps: Int)

  /** One level's result: the items each rep processes, by name (the first
    * one sets the headline efficiency), and the best rep's seconds. */
  final case class Level(items: Seq[(String, Long)], secs: Double)

  /** Reads SPARK_GRAFT_SF_DIR, SPARK_GRAFT_COPIES (default 8),
    * SPARK_GRAFT_LEVELS ("N,4N") and SPARK_GRAFT_REPS (default 3) from
    * `env`. Rejects a level pair that is not N,4N with N >= 1, and fewer than
    * one copy or one rep, either of which would leave no rate to report. */
  def params(env: Map[String, String], sfDir: String, levels: String): Params = {
    val lv = env.getOrElse("SPARK_GRAFT_LEVELS", levels).split(",").map(_.trim.toInt).toSeq
    require(lv.size == 2 && lv(0) >= 1 && lv(1) == 4 * lv(0), s"levels must be N,4N with N >= 1: $lv")
    val copies = env.getOrElse("SPARK_GRAFT_COPIES", "8").toInt
    require(copies >= 1, s"SPARK_GRAFT_COPIES must be >= 1, got $copies")
    val reps = env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    Params(env.getOrElse("SPARK_GRAFT_SF_DIR", sfDir), copies, (lv(0), lv(1)), reps)
  }

  /** The last result of `reps` runs of `body` and the fastest run's seconds
    * (JIT and cache steady state; the host shares cores with other tenants,
    * so the minimum is the honest capacity). */
  def bestOf[T](label: String, reps: Int)(body: => T): (T, Double) = {
    val runs = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaling] $label#$r: $secs%.2fs")
      (out, secs)
    }
    (runs.last._1, runs.map(_._2).min)
  }

  /** Runs `measure` at N and at 4N, each in a fresh session, and returns the
    * one-line JSON. */
  def run(metric: String, app: String, p: Params)(measure: (SparkSession, Int) => Level): String = {
    val (n, n4) = p.levels
    json(metric, p, at(app, n)(measure), at(app, n4)(measure))
  }

  private def at(app: String, cores: Int)(measure: (SparkSession, Int) => Level): Level = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"$app-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try measure(spark, cores)
    finally {
      spark.stop()
      // allow a fresh context with a different master
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** `value` is the first item's efficiency thr(4N) / (4 * thr(N)); every
    * item gets `<name>_per_sec` at both levels, and every further item its
    * own `<name>_eff`. A rate that is not finite prints as null. */
  def json(metric: String, p: Params, lo: Level, hi: Level): String = {
    def num(x: Double, digits: Int) = if (x.isNaN || x.isInfinite) "null" else s"%.${digits}f".format(x)
    val (l, h) = (s"local${p.levels._1}", s"local${p.levels._2}")
    def pair(a: Double, b: Double) = s"""{"$l":${num(a, 2)},"$h":${num(b, 2)}}"""
    val rates = lo.items.zip(hi.items).map { case ((name, a), (_, b)) =>
      (name, a / lo.secs, b / hi.secs) }
    val effs = rates.map { case (_, a, b) => num(b / a / 4.0, 4) }
    val perSec = rates.map { case (name, a, b) => s""""${name}_per_sec":${pair(a, b)},""" }
    val more = rates.zip(effs).drop(1).map { case ((name, _, _), e) => s""""${name}_eff":$e,""" }
    s"""{"metric":"$metric","value":${effs.head},"unit":"ratio",""" + perSec.mkString + more.mkString +
      s""""seconds":${pair(lo.secs, hi.secs)},"sf":${graft.core.TableIO.jsonString(p.sfDir)},"copies":${p.copies}}"""
  }
}
