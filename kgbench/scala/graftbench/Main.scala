package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in one JVM: set up (timed from JVM start), a cold pass,
 * the workload's warm-up passes, then timed passes for `--seconds`. With
 * `--trace 1` the timed phase alternates untraced and traced passes and the
 * result carries per-span metrics instead of the end-to-end ones.
 *
 * Usage: graftbench.Main --workload kg_build|kg_query|curation
 *   --seed N --seconds S --trace 0|1 --scale sf0.1 --data DIR --golden DIR
 *   --work DIR --result FILE --deadline-s S
 * The result file holds one JSON object; see kgbench/README.md.
 */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl: Workload = a("workload") match {
      case "kg_build" => KgBuild
      case "kg_query" => KgQuery
      case "curation" => CurationWl
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ctx = new Ctx(a("seed").toLong, a("scale"), a("data") + "/" + a("scale"),
      a("golden"), a("work"))
    val result = new Run(wl, ctx, a("seconds").toDouble, a("trace") == "1",
      a("deadline-s").toDouble).execute()
    Files.writeString(Paths.get(a("result")), Json.render(result))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

final class Run(wl: Workload, c: Ctx, seconds: Double, traced: Boolean, deadlineS: Double) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  private var attempted = 0L
  private var failed = 0L
  private var tracer: Option[Tracer] = None

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"kgbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.workDir}/local")
      .config("spark.sql.warehouse.dir", s"${c.workDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs one pass; a throw counts as one failed operation. */
  private def runPass(t: Option[Tracer]): PassOut = {
    val t0 = System.nanoTime()
    val out =
      try t.fold(wl.pass(c))(wl.tracedPass(c, _))
      catch { case e: Exception =>
        System.err.println(s"[kgbench] ${wl.name} pass failed: $e")
        e.printStackTrace()
        PassOut(Seq(Op((System.nanoTime() - t0) / 1e9, ok = false)))
      }
    attempted += out.ops.size
    failed += out.ops.count(!_.ok)
    out
  }

  private def passSeconds(p: PassOut): Double = p.ops.map(_.seconds).sum

  /** Creates the session and generates the inputs (kg_query also
    * materializes the KG). Returns the seconds since JVM start. */
  private def setUp(): Double = {
    c.spark = session()
    if (traced) {
      val l = new GroupListener
      c.spark.sparkContext.addSparkListener(l)
      tracer = Some(new Tracer(c.spark.sparkContext, l))
    }
    wl.setUp(c, tracer)
    sinceStart
  }

  def execute(): Map[String, Any] = {
    val setupS = setUp()
    wl.prepareChecks(c)

    val cold = runPass(None)
    val warm = ArrayBuffer.empty[Double]
    while (warm.size < wl.warmPasses && sinceStart < deadlineS * 0.5)
      warm += passSeconds(runPass(None))

    val measured = ArrayBuffer.empty[PassOut]
    // (pass, its spans, GC seconds during it)
    val tracedPasses = ArrayBuffer.empty[(PassOut, Seq[Span], Double)]
    val measureStart = System.nanoTime()
    def measureElapsed = (System.nanoTime() - measureStart) / 1e9
    var roundS = 0.0 // the last round of the loop below, to keep the next within the deadline
    def untracedPass(): Unit = measured += runPass(None)
    def tracedPass(): Unit = tracer.foreach { t =>
      val first = t.spans.size
      val gc0 = gcSeconds()
      val p = runPass(Some(t))
      tracedPasses += ((p, t.spans.slice(first, t.spans.size).toSeq, gcSeconds() - gc0))
    }
    while ((measureElapsed < seconds || measured.size < wl.minMeasured) &&
           (measured.size < 2 || sinceStart + roundS < deadlineS)) {
      val r0 = measureElapsed
      // traced runs alternate which kind goes first, so a pass-time trend
      // left after warm-up does not favour either side of trace.overhead_s
      if (measured.size % 2 == 0) { untracedPass(); tracedPass() }
      else { tracedPass(); untracedPass() }
      roundS = measureElapsed - r0
    }
    val checks = wl.finalChecks(c) ++ tracer.toSeq.flatMap(wl.tracedSweep(c, _))
    attempted += checks.size
    failed += checks.count(!_.ok)

    val passS = measured.map(passSeconds).toSeq
    val host = ListMap(
      "setup_s" -> setupS, "cold_s" -> passSeconds(cold),
      "warm_pass_s" -> warm.toSeq, "measured_pass_s" -> passS,
      "items_per_pass" -> wl.items, "run_s" -> sinceStart,
      "last_pass" -> measured.lastOption.map(_.extras).getOrElse(Map.empty))
    val metrics = tracer match {
      case None => endToEnd(setupS, cold, measured.toSeq)
      case Some(t) => perLayer(t, passS, tracedPasses.toSeq)
    }
    val spanLog = tracer.toSeq.flatMap(_.spans).map { s =>
      ListMap("name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - tracer.get.spans.head.startNs) / 1e9,
        "end_s" -> (s.endNs - tracer.get.spans.head.startNs) / 1e9)
    }
    c.spark.stop()
    ListMap("workload" -> wl.name, "seed" -> c.seed, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics._1, "detail" -> (host ++ metrics._2), "spans" -> spanLog)
  }

  private def m(v: Double, unit: String) = ListMap("value" -> v, "unit" -> unit)

  /** Returns (metrics, extra detail). */
  private def endToEnd(setupS: Double, cold: PassOut,
                       measured: Seq[PassOut]): (Map[String, Any], Map[String, Any]) = {
    val passS = measured.map(passSeconds)
    val lat = measured.flatMap(_.ops.filter(_.ok).map(_.seconds))
    val beyondP90 = lat.size - math.ceil(0.9 * lat.size).toInt
    // per-query latency only where an operation is a query; for the pass
    // workloads it would restate items_per_s
    val queryLatency = if (wl.name != KgQuery.name) Nil else Seq(
      "query_p50_s" -> m(percentile(lat, 0.5), "s"),
      "query_p90_s" -> m(percentile(lat, 0.9), "s"))
    (ListMap(
      "setup_s" -> m(setupS, "s"),
      "cold_s" -> m(passSeconds(cold), "s"),
      "items_per_s" -> m(wl.items / median(passS), "1/s")) ++ queryLatency ++ ListMap(
      "peak_rss_mb" -> m(peakRssMb(), "MB")),
     ListMap("latency_samples" -> lat.size, "latency_samples_beyond_p90" -> beyondP90))
  }

  /** Per-span medians over the traced passes, plus the whole-pass totals. */
  private def perLayer(t: Tracer, untracedS: Seq[Double],
                       passes: Seq[(PassOut, Seq[Span], Double)]): (Map[String, Any], Map[String, Any]) = {
    case class Row(wall: Double, self: Double, busy: Double, jobs: Double, tasks: Double,
                   shuffleMb: Double, spillMb: Double)
    val perPass: Seq[(Seq[(String, Row)], Double, PassOut)] = passes.map { case (p, spans, gc) =>
      val rows = spans.map { s =>
        val g = t.totals(s)
        s.name -> Row(s.wallS, t.selfS(s), g.busyMs / 1000.0, g.jobs.toDouble, g.tasks.toDouble,
          g.shuffleBytes / 1e6, g.spillBytes / 1e6)
      }
      (rows, gc, p)
    }
    def total(rows: Seq[(String, Row)], f: Row => Double) = rows.map(r => f(r._2)).sum
    val tracedS = perPass.map(_._3).map(passSeconds)
    val passWall = perPass.map(_._1.find(_._1 == "pass").get._2.wall)
    val childWall = perPass.map(_._1.filter(_._1 != "pass").map(_._2.wall).sum)
    val coverage = median(childWall.zip(passWall).map { case (a, b) => a / b })
    val busy = median(perPass.map(p => total(p._1, _.busy)))
    val wall = median(tracedS)
    val metrics = ListMap(
      "trace.overhead_s" -> m(wall - median(untracedS), "s"),
      "trace.wall_s" -> m(wall, "s"),
      "trace.busy_s" -> m(busy, "s"),
      "trace.util" -> m(busy / (median(passWall) * Cores), "ratio"),
      "trace.jobs" -> m(median(perPass.map(p => total(p._1, _.jobs))), "count"),
      "trace.tasks" -> m(median(perPass.map(p => total(p._1, _.tasks))), "count"),
      "trace.shuffle_mb" -> m(median(perPass.map(p => total(p._1, _.shuffleMb))), "MB"),
      "jvm.gc_s" -> m(median(perPass.map(_._2)), "s"))

    // per span name: medians over passes of the per-pass sums
    val names = perPass.head._1.map(_._1).distinct.filter(_ != "pass")
    val spanMetrics = names.flatMap { n =>
      def agg(f: Row => Double) = median(perPass.map(p => p._1.filter(_._1 == n).map(r => f(r._2)).sum))
      val w = agg(_.wall)
      Seq(s"$n.wall_s" -> w, s"$n.self_s" -> agg(_.self), s"$n.busy_s" -> agg(_.busy),
        s"$n.util" -> agg(_.busy) / (w * Cores), s"$n.jobs" -> agg(_.jobs),
        s"$n.tasks" -> agg(_.tasks), s"$n.shuffle_mb" -> agg(_.shuffleMb))
    }
    // the write layer is the span both listed workloads share, so it also
    // goes into the result line
    val shared = spanMetrics.filter { case (k, _) =>
      Seq("core.write.wall_s", "core.write.busy_s", "core.write.jobs", "core.write.tasks").contains(k)
    }.map { case (k, v) => k -> m(v, if (k.endsWith("_s")) "s" else "count") }
    // query families: kg_query's traced passes, or kg_build's query sweep
    val family = KgQuery.Families.keys.toSeq.flatMap { f =>
      val qs = t.spans.filter(_.name == f).toSeq
      val g = qs.map(t.totals)
      if (qs.isEmpty) Nil else Seq(s"$f.p50_s" -> median(qs.map(_.wallS)),
        s"$f.jobs_per_query" -> g.map(_.jobs).sum.toDouble / qs.size,
        s"$f.tasks_per_query" -> g.map(_.tasks).sum.toDouble / qs.size)
    }
    val extras = perPass.map(_._3.extras).filter(_.nonEmpty)
    val extraMed = extras.headOption.toSeq.flatMap(_.keys).map(k => k -> median(extras.map(_(k))))
    val derived = extraMed.collect { case ("ner.tag.tokens", tok) =>
      "ner.tag.tokens_per_core_s" -> tok / ListMap(spanMetrics: _*)("ner.tag.busy_s") }
    // kg_query's traced set-up: the KG materialization by layer
    val setupSpans = t.spans.filter(_.parent == "setup").map(s =>
      s"setup.${s.name}.wall_s" -> s.wallS)
    val spillMb = median(perPass.map(p => total(p._1, _.spillMb)))
    (metrics ++ shared, ListMap("layers" -> ListMap((spanMetrics ++ family ++ extraMed ++ derived ++
      setupSpans): _*), "trace.coverage" -> coverage, "jvm.spill_mb" -> spillMb,
      "traced_passes" -> passes.size, "untraced_pass_s" -> untracedS))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
