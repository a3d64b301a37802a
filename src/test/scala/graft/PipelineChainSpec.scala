package graft

import java.nio.file.Files
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.TableIO

/** The KG chain as the board (`Pipeline.triples`) and the resumable run
  * (`Pipeline.runAndWrite`) both wire it: their job counts, their rows and
  * the board's memo. */
class PipelineChainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("jobs: one runAndWrite and one board triples count from a reset Pipeline") {
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("kgjobs").toString + "/triples"
    Pipeline.reset()
    val run = BusDrain.jobsOf(sc)(Pipeline.runAndWrite(spark, sf, out))
    Pipeline.reset()
    val board = BusDrain.jobsOf(sc)(Pipeline.triples(spark, sf).count())
    info(s"runAndWrite $run jobs, triples().count() $board jobs")
    // the counts of the two entry points before they shared one chain
    assert(run <= 24, s"runAndWrite ran $run jobs")
    assert(board <= 27, s"triples().count() ran $board jobs")
  }

  test("runAndWrite writes exactly the board's triples, as a multiset") {
    val out = Files.createTempDirectory("kgeq").toString + "/triples"
    Pipeline.reset()
    Pipeline.runAndWrite(spark, sf, out)
    val cols = Seq("subj", "pred", "obj", "lang", "url", "sentIdx")
    val written = TableIO.read(spark, out, "lang").select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val board = Pipeline.triples(spark, sf).toDF().select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(written.nonEmpty)
    assert(written == board)
  }

  test("reset unpersists every cached Dataset; resetDatasets keeps the model registry") {
    def board(): Seq[Dataset[_]] = Seq(Pipeline.taggedSentences(spark, sf),
      Pipeline.aliasDict(spark, sf), Pipeline.canonMap(spark, sf), Pipeline.triples(spark, sf))
    Pipeline.reset()
    val cached = board()
    Pipeline.triples(spark, sf).count()
    assert(cached.forall(_.storageLevel != StorageLevel.NONE))
    Pipeline.reset()
    assert(cached.forall(_.storageLevel == StorageLevel.NONE))

    val models = Pipeline.models(spark, sf)
    val before = board()
    Pipeline.resetDatasets()
    assert(Pipeline.models(spark, sf) eq models)
    assert(board().zip(before).forall { case (now, was) => !(now eq was) })
    before.foreach(_.unpersist())
    Pipeline.reset()
  }
}
