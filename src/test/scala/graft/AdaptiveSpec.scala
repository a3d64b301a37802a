package graft

import graft.canon.ConnectedComponents
import graft.core.Adaptive
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

class AdaptiveSpec extends SparkSpec {

  test("gate: threshold rows run on the driver with every row, threshold + 1 run distributed") {
    import spark.implicits._
    val n = 50L
    val df = (1L to n).toDF("id").repartition(3)
    val driverRows = Adaptive.small(df, n)(rows => rows.map(_.getLong(0)).sorted.toSeq)(_ =>
      fail("threshold rows must run on the driver"))
    assert(driverRows == (1L to n))
    assert(Adaptive.small(df, n - 1)(_ => -1L)(_.count()) == n)
    // threshold 0: every non-empty input is distributed, an empty one is not
    assert(Adaptive.small(df, 0L)(_ => "driver")(_ => "distributed") == "distributed")
    assert(Adaptive.small(df.limit(0), 0L)(_ => "driver")(_ => "distributed") == "driver")
  }

  test("ConnectedComponents driver path: no checkpoint, input read once") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i, (i * 7L + 3L) % 200L))
    val dir = java.nio.file.Files.createTempDirectory("cc-gate").resolve("edges").toString
    edges.toDF("src", "dst").repartition(2).write.parquet(dir)
    val input = spark.read.parquet(dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        js.stageInfos.foreach(s => stageNames.add(s.name))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val labels = try {
      val out = ConnectedComponents.run(input)
      BusDrain.drain(spark.sparkContext)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    // one bounded probe: the distinct's shuffle stage and the read of its
    // output; a checkpoint-then-count-then-collect gate runs 5 jobs and
    // reads the checkpointed edges back twice
    assert(jobs.get <= 2, s"${jobs.get} jobs")
    assert(!stageNames.toArray.exists(_.toString.startsWith("localCheckpoint")), stageNames)
    assert(recordsRead.get == edges.size, "input read once, nothing read back")
    assert(labels.as[(Long, Long)].collect().toMap ==
      ConnectedComponents.run(input, smallGraphThreshold = 0L).as[(Long, Long)].collect().toMap)
  }
}
