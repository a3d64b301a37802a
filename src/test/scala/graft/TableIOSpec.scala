package graft

import graft.core.{LineageRow, TableIO}
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class TableIOSpec extends SparkSpec {

  test("resumable write: second run skips committed partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio").toString
    val df1 = Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang")
    val written1 = TableIO.writeResumable(df1, root, "lang")
    assert(written1 == Seq("de", "en"))
    // resume with one new partition: only "fr" is written
    val df2 = Seq((1L, "en"), (4L, "fr")).toDF("id", "lang")
    val written2 = TableIO.writeResumable(df2, root, "lang")
    assert(written2 == Seq("fr"))
    // a fully-covered rerun writes nothing
    assert(TableIO.writeResumable(df2, root, "lang").isEmpty)
    val back = TableIO.read(spark, root)
    assert(back.count() == 4) // 3 from run 1 + fr row (en row of df2 skipped)
    assert(TableIO.completedPartitions(root) == Set("en", "de", "fr"))
    assert(TableIO.listSnapshots(root).map(_.id) == Seq(0, 1))
  }

  test("crash between append and snapshot commit: resume rewrites, never duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio-crash").toString
    val df = Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("id", "lang")
    // simulate the failure window: files landed, snapshot commit never ran
    df.write.mode("append").partitionBy("lang").parquet(s"$root/data")
    assert(TableIO.completedPartitions(root).isEmpty)
    // snapshot-consistent read sees nothing of the half-written state
    assert(TableIO.read(spark, root, "lang").count() == 0)
    // resume: both partitions are still todo -> their leftover dirs are
    // deleted before the rewrite, so the data is NOT doubled
    val written = TableIO.writeResumable(df, root, "lang")
    assert(written == Seq("de", "en"))
    assert(TableIO.read(spark, root).count() == 3)
    assert(TableIO.read(spark, root, "lang").count() == 3)
    // second resume is a no-op
    assert(TableIO.writeResumable(df, root, "lang").isEmpty)
    assert(TableIO.read(spark, root, "lang").count() == 3)
  }

  test("time travel: readAt(snapshot) sees only that snapshot's partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio-tt").toString
    TableIO.writeResumable(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), root, "lang")
    TableIO.writeResumable(Seq((3L, "fr")).toDF("id", "lang"), root, "lang")
    assert(TableIO.readAt(spark, root, "lang", 0).count() == 2)
    assert(TableIO.readAt(spark, root, "lang", 1).count() == 3)
    intercept[IllegalArgumentException](TableIO.readAt(spark, root, "lang", 9))
  }

  test("lineage rows persist as json") {
    val root = Files.createTempDirectory("lineage").toString
    TableIO.writeLineage(root, "ner.tag", Seq(LineageRow("ner.tag", 0, 10, 9, 42, "")))
    val files = Files.list(java.nio.file.Paths.get(root, "_lineage")).toArray
    assert(files.length == 1)
    val content = new String(Files.readAllBytes(files(0).asInstanceOf[java.nio.file.Path]), "UTF-8")
    assert(content.contains("\"rowsIn\":10"))
    assert(content.contains("\"stage\":\"ner.tag\""))
  }

  test("one pass: writeResumable reads each parquet input record once") {
    import spark.implicits._
    val in = Files.createTempDirectory("tableio-once").resolve("in").toString
    val n = 300
    (0 until n).map(i => (i.toLong, Seq("en", "de", "fr")(i % 3))).toDF("id", "lang")
      .repartition(3).write.parquet(in)
    val root = Files.createTempDirectory("tableio-once-out").toString
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val written = try {
      val w = TableIO.writeResumable(spark.read.parquet(in), root, "lang")
      BusDrain.drain(spark.sparkContext)
      w
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(written == Seq("de", "en", "fr"))
    assert(recordsRead.get == n, "no pre-scan: the write is the only read of the input")
    assert(TableIO.read(spark, root, "lang").count() == n)
  }

  test("uncommitted directories are swept even for values absent from the input") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio-sweep").toString
    val data = Paths.get(root, "data")
    TableIO.writeResumable(Seq((1L, "en")).toDF("id", "lang"), root, "lang")
    def files(dir: String) = Files.list(data.resolve(dir)).toArray.map(_.toString).sorted.toSeq
    val enFiles = files("lang=en")
    // leftover of a failed attempt for a value the next input does not hold
    Seq((9L, "xx")).toDF("id", "lang").write.mode("append").partitionBy("lang").parquet(data.toString)
    assert(TableIO.writeResumable(Seq((2L, "de")).toDF("id", "lang"), root, "lang") == Seq("de"))
    assert(!Files.exists(data.resolve("lang=xx")))
    assert(files("lang=en") == enFiles)
    assert(TableIO.read(spark, root).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "en"), (2L, "de")))
    assert(TableIO.completedPartitions(root) == Set("en", "de"))
  }

  test("values Spark escapes in directory names round-trip, and a rerun writes nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio-escape").toString
    val odd = "q\"u\\o"
    val df = Seq((1L, "a:b"), (2L, odd), (3L, "c"), (4L, "a:b")).toDF("id", "lang")
    assert(TableIO.writeResumable(df, root, "lang") == Seq("a:b", "c", odd).sorted)
    assert(Files.isDirectory(Paths.get(root, "data", "lang=a%3Ab")))
    assert(TableIO.completedPartitions(root) == Set("a:b", odd, "c"))
    assert(TableIO.writeResumable(df, root, "lang").isEmpty)
    assert(TableIO.listSnapshots(root).map(_.id) == Seq(0))
    assert(TableIO.read(spark, root, "lang").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a:b"), (2L, odd), (3L, "c"), (4L, "a:b")))
  }

  test("a Long partition column round-trips") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio-long").toString
    val df1 = Seq((1L, 3L), (2L, 10L), (3L, 3L)).toDF("v", "batch_id")
    assert(TableIO.writeResumable(df1, root, "batch_id") == Seq("10", "3"))
    assert(TableIO.completedPartitions(root) == Set("3", "10"))
    val df2 = Seq((4L, 3L), (5L, 11L)).toDF("v", "batch_id")
    assert(TableIO.writeResumable(df2, root, "batch_id") == Seq("11"))
    assert(TableIO.read(spark, root, "batch_id").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 3L), (2L, 10L), (3L, 3L), (5L, 11L)))
  }

  test("a null partition value throws and commits nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("tableio-null").toString
    val withNull = Seq((1L, "en"), (2L, null)).toDF("id", "lang")
    intercept[IllegalArgumentException](TableIO.writeResumable(withNull, root, "lang"))
    assert(TableIO.listSnapshots(root).isEmpty)
    // also once other partitions are committed: the null row is not filtered away
    TableIO.writeResumable(Seq((3L, "de")).toDF("id", "lang"), root, "lang")
    intercept[IllegalArgumentException](TableIO.writeResumable(withNull, root, "lang"))
    assert(TableIO.listSnapshots(root).map(_.id) == Seq(0))
    assert(TableIO.completedPartitions(root) == Set("de"))
    assert(TableIO.read(spark, root).count() == 1)
  }

  test("lineage json escapes quotes, backslashes and control characters") {
    val root = Files.createTempDirectory("lineage-esc").toString
    val detail = "say \"hi\" \\ C:\\tmp\nnext\tline\u0001"
    TableIO.writeLineage(root, "ner.tag", Seq(LineageRow("ner.\"tag\"", 3, 10, 9, 42, detail)))
    val back = spark.read.option("multiLine", true).json(s"$root/_lineage").collect()
    assert(back.length == 1)
    assert(back(0).getAs[String]("detail") == detail)
    assert(back(0).getAs[String]("stage") == "ner.\"tag\"")
    assert(back(0).getAs[Long]("partition") == 3L)
  }
}
