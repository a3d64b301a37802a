package graft

import java.nio.file.Files
import graft.core.TableIO

class PipelineRunSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("runAndWrite: resumable triple write with lineage + OOV metrics; rerun is a no-op") {
    val out = Files.createTempDirectory("kgrun").toString + "/triples"
    val r1 = Pipeline.runAndWrite(spark, sf, out)
    assert(r1.langsWritten.nonEmpty)
    assert(r1.lineageRows > 0)
    assert(r1.tokensSeen > 0)
    assert(r1.unknownWords == 0) // synthetic vocab covers the corpus exactly
    // data landed partitioned by lang
    val back = TableIO.read(spark, out)
    assert(back.count() > 0)
    assert(back.columns.contains("lang"))
    // snapshot manifest committed
    assert(TableIO.completedPartitions(out) == r1.langsWritten.toSet)
    // lineage rows persisted
    val lineageDir = java.nio.file.Paths.get(out, "_lineage")
    assert(Files.list(lineageDir).count() == 1)
    // rerun: everything committed -> zero new partitions, zero inference
    val r2 = Pipeline.runAndWrite(spark, sf, out)
    assert(r2.langsWritten.isEmpty)
    assert(r2.tokensSeen == 0, "resume must not re-run inference on committed partitions")
    assert(TableIO.read(spark, out).count() == back.count())
  }

  test("runAndWrite: partial failure resume processes only missing partitions") {
    val out = Files.createTempDirectory("kgrun2").toString + "/triples"
    // simulate a prior partial run: commit a snapshot claiming 'en' is done
    TableIO.commitSnapshot(out, Seq("en"))
    val r = Pipeline.runAndWrite(spark, sf, out)
    assert(!r.langsWritten.contains("en"))
    assert(r.langsWritten.nonEmpty)
    val langs = TableIO.read(spark, out)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(!langs.contains("en")) // en rows were skipped (committed elsewhere)
  }

  test("runAndWrite: a rerun over committed partitions writes no lineage") {
    val out = Files.createTempDirectory("kgrun3").toString + "/triples"
    Pipeline.runAndWrite(spark, sf, out)
    val r2 = Pipeline.runAndWrite(spark, sf, out)
    assert(r2.lineageRows == 0)
    assert(Files.list(java.nio.file.Paths.get(out, "_lineage")).count() == 1)
  }
}
