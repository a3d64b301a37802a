package graft

import java.nio.file.Files
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/**
 * Job listing of one warm `Pipeline.runAndWrite`: each Spark job's id, start
 * offset from the call, wall time, tasks run and the call site of its first
 * stage, then the totals. One cold `runAndWrite` runs first (unlisted); the
 * listed one starts from `Pipeline.reset()`, as kgbench's kg_build pass does.
 * The session is kgbench's: local[4], 4 shuffle partitions, AQE on.
 *
 * {{{
 * sbt --batch "Test/runMain graft.JobListing /root/testdata/sf0.01"
 * }}}
 */
object JobListing {

  final case class Job(id: Int, startMs: Long, var endMs: Long, site: String,
                       stages: Seq[Int], var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: JobListing <sfDir>")
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-job-listing")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = Files.createTempDirectory("joblisting").toString
    try {
      Pipeline.reset()
      Pipeline.runAndWrite(spark, sfDir, s"$tmp/cold")
      Pipeline.reset()
      val (jobs, t0, t1) = listed(spark) {
        Pipeline.runAndWrite(spark, sfDir, s"$tmp/warm")
      }
      println(f"${"job"}%5s ${"start_s"}%8s ${"wall_s"}%7s ${"tasks"}%6s  first stage")
      jobs.foreach { j =>
        println(f"${j.id}%5d ${(j.startMs - t0) / 1e3}%8.3f ${(j.endMs - j.startMs) / 1e3}%7.3f ${j.tasks}%6d  ${j.site}")
      }
      println(f"total: ${jobs.size} jobs, ${jobs.map(_.tasks).sum} tasks, " +
        f"${jobs.map(j => j.endMs - j.startMs).sum / 1e3}%.3f s summed job wall, " +
        f"${(t1 - t0) / 1e3}%.3f s pass wall")
    } finally {
      Pipeline.reset()
      spark.stop()
      deleteRecursively(new java.io.File(tmp))
    }
  }

  /** Runs `f` with a listener attached; returns its jobs in id order and the
    * wall-clock bounds of the call. */
  private def listed(spark: SparkSession)(f: => Any): (Seq[Job], Long, Long) = {
    val sc = spark.sparkContext
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val jobOfStage = mutable.HashMap.empty[Int, Int]
    val queries = mutable.HashMap.empty[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => jobs.synchronized(queries(s.executionId) = s.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        // a query stage that AQE submits from its own pool carries the pool's
        // frame as its call site; the query's action names it instead
        val first = e.stageInfos.minBy(_.stageId).name
        val query = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => queries.get(id.toLong))
        val site = if (first.contains("withThreadLocalCaptured")) query.fold(first)(q => s"$q (query stage)") else first
        jobs(e.jobId) = Job(e.jobId, e.time, e.time, site, e.stageIds)
        e.stageIds.foreach(jobOfStage(_) = e.jobId)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        jobOfStage.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.tasks += e.stageInfo.numTasks)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
    }
    org.apache.spark.graftbridge.BusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis()
      f
      val t1 = System.currentTimeMillis()
      org.apache.spark.graftbridge.BusDrain.drain(sc)
      (jobs.synchronized(jobs.values.toSeq.sortBy(_.id)), t0, t1)
    } finally sc.removeSparkListener(listener)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
