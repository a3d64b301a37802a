package graft

import java.nio.file.Files
import org.apache.spark.graftbridge.{BusDrain, DriverBlocks}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.TableIO

/** The KG chain as the board (`Pipeline.triples`) and the resumable run
  * (`Pipeline.runAndWrite`) both wire it: their job counts, their rows and
  * the board's memo. */
class PipelineChainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Jobs of one `runAndWrite` into a fresh directory from a reset Pipeline. */
  private def runJobs(sfDir: String): Int = {
    val out = Files.createTempDirectory("kgjobs").toString + "/triples"
    Pipeline.reset()
    BusDrain.jobsOf(spark.sparkContext)(Pipeline.runAndWrite(spark, sfDir, out))
  }

  test("jobs: one runAndWrite and one board triples count from a reset Pipeline") {
    val run = runJobs(sf)
    Pipeline.reset()
    val board = BusDrain.jobsOf(spark.sparkContext)(Pipeline.triples(spark, sf).count())
    info(s"runAndWrite $run jobs, triples().count() $board jobs")
    // one aggregate job over the sentences (its shuffle map stage and its
    // collect) builds the prep; the write adds the NER repartition's map
    // stage and the write itself (24 and 27 before the prep was one job)
    assert(run <= 4, s"runAndWrite ran $run jobs")
    assert(board <= 7, s"triples().count() ran $board jobs")
  }

  test("jobs: one runAndWrite at sf0.01 from a reset Pipeline") {
    val run = runJobs("/root/testdata/sf0.01")
    info(s"runAndWrite $run jobs")
    assert(run <= 4, s"runAndWrite ran $run jobs") // 24 before the prep was one job
  }

  test("runAndWrite releases its broadcasts: none of the two runs' model, lexicon or map values stays") {
    // the chain's broadcasts hold Scala collections (the model registry, the
    // predicate lexicon, the linking map); Spark's own (task binaries,
    // Hadoop configurations) are left to its ContextCleaner
    def chainValues(): Set[Long] = DriverBlocks.broadcastValues().collect {
      case (id, _: scala.collection.Map[_, _]) => id
      case (id, _: scala.collection.Set[_]) => id
    }.toSet
    val out = Files.createTempDirectory("kgbc").toString
    Pipeline.reset()
    Pipeline.runAndWrite(spark, sf, s"$out/warm")
    val before = chainValues()
    Pipeline.runAndWrite(spark, sf, s"$out/a")
    Pipeline.runAndWrite(spark, sf, s"$out/b")
    // destroy() removes the blocks asynchronously
    def left = chainValues() -- before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(left.isEmpty, s"broadcasts of the two runs still held: $left")
    Pipeline.reset()
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
