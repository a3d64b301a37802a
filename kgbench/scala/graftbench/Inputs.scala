package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every generated table keeps the
  * `documents.parquet` schema (doc_id, text, lang, source, n_chars), so the
  * program reads it through its own `sfDir` entry points. */
object Inputs {

  /** Writes `docs` as `<sfDir>/documents.parquet` in `Files` files, with
    * the row order and the rows' split into files drawn from `seed` (range-
    * partitioned and sorted on a seeded hash of doc_id). The file count is
    * fixed: it sets the scan's task count, and a seed must not change the
    * amount of parallel work. */
  val Files = 4

  def writePermuted(docs: DataFrame, seed: Long, sfDir: String): String = {
    docs.withColumn("_k", xxhash64(col("doc_id"), lit(seed)))
      .repartitionByRange(Files, col("_k"))
      .sortWithinPartitions(col("_k"))
      .drop("_k")
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    sfDir
  }

  /** The base documents with content unchanged (kg_build, kg_query). */
  def permutedCopy(spark: SparkSession, baseDir: String, seed: Long, sfDir: String): String =
    writePermuted(spark.read.parquet(s"$baseDir/documents.parquet"), seed, sfDir)

  /** `copies` replicas of the base documents with distinct doc_ids (the
    * curation workload). Copy 0 is the original; every other copy permutes
    * each document's tokens by a seeded hash of (copy, position), which keeps
    * every quality counter of the document and destroys shingle overlap
    * between copies, so the replicas flow through the whole chain instead
    * of collapsing into near-duplicate clusters. */
  def curationCopies(spark: SparkSession, baseDir: String, seed: Long,
                     copies: Int, sfDir: String): String = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val step = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val docs = base
      .crossJoin(spark.range(copies).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * step).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(array_join(
            transform(
              array_sort(
                transform(split(col("text"), " "),
                  (x, i) => struct(
                    xxhash64(lit(seed), col("copy"), i).as("k"),
                    x.as("t")))),
              s => s.getField("t")),
            " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    writePermuted(docs, seed, sfDir)
  }

  /** The query order of one kg_query run. */
  def queryOrder(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)
}
