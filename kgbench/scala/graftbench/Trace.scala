package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Listener totals of one job group (one span instance). */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes every job, and every task of that job's stages, to the job
  * group set on the submitting thread. Spark SQL copies the caller's local
  * properties onto its broadcast and subquery threads, so those jobs land in
  * the caller's group as well. A stage shared by several jobs counts for the
  * first job that names it, so no task is counted twice. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, GroupTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      totals.getOrElseUpdate(g, new GroupTotals).jobs += 1
      e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val t = totals.getOrElseUpdate(g, new GroupTotals)
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.busyMs += m.executorRunTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def totalsFor(group: String): GroupTotals = synchronized {
    totals.getOrElse(group, new GroupTotals)
  }
}

/** One recorded span. `group` is the job group its jobs ran under. */
final case class Span(name: String, parent: String, group: String,
                      startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records nested spans in memory; each span runs its body under its own
  * job group so the listener can attribute jobs and tasks to it exactly. */
final class Tracer(sc: SparkContext, listener: GroupListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(String, String)] // (name, group)
  private var seq = 0

  def span[T](name: String)(body: => T): T = {
    seq += 1
    val group = s"$name#$seq"
    val parent = stack.headOption.map(_._1).getOrElse("")
    stack.push((name, group))
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some((pn, pg)) => sc.setJobGroup(pg, pn, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(name, parent, group, t0, t1)
    }
  }

  /** Listener totals of a finished span, after the bus has drained. */
  def totals(s: Span): GroupTotals = {
    BusDrain.drain(sc)
    listener.totalsFor(s.group)
  }

  /** Wall time of a span minus the wall time of its direct children. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(k => k.parent == s.name && k.startNs >= s.startNs && k.endNs <= s.endNs)
    s.wallS - kids.map(_.wallS).sum
  }
}
