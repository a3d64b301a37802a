package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Two-cluster-size scaling evidence for the CURATION side (the KG
 * pipeline's evidence lives in `ScalingBench`): the same curation chain
 * (quality filter -> exact dedup -> near-dup clusters -> decontamination ->
 * repetition filter -> redaction + LM rarity + packing -> count) runs at
 * two `local[N]` levels on identical input. At raw sf0.1 the chain is
 * job-overhead-bound (~16 s at BOTH local[4] and local[16]), so the corpus
 * is replicated `copies` times with distinct doc_ids — same device as
 * ScalingBench — to expose real scaling. The one-time read/replication is
 * excluded from the timed region.
 */
object CurationScalingBench {

  def main(args: Array[String]): Unit = {
    val p = Scaling.params(sys.env, sfDir = "/root/testdata/sf0.1", levels = "4,16")
    println(Scaling.run("curation_scaling_efficiency", "graft-curation-scaling", p)(runAt(_, _, p)))
  }

  /** One level: docs per best rep of the curation chain. */
  def runAt(spark: SparkSession, cores: Int, p: Scaling.Params): Scaling.Level = {
    val base = spark.read.parquet(s"${p.sfDir}/documents.parquet")
    val step = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val docs = base
      .crossJoin(spark.range(p.copies).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * step).as("doc_id"),
        // each copy PERMUTES the doc's tokens deterministically (sort by
        // xxhash64(copy, position)). This keeps every quality counter
        // identical (same token multiset -> same stopword/length ratios,
        // so the replicas flow through the whole chain instead of dying
        // at the quality filter, which token-MUTATING schemes trip) while
        // destroying shingle overlap (a one-token change would leave
        // cross-copy Jaccard near 1.0 and collapse the corpus into
        // copy-wide near-dup mega-clusters whose connected components
        // serialize on the driver — the pathology, not the chain)
        when(col("copy") === 0, col("text"))
          .otherwise(array_join(
            transform(
              array_sort(
                transform(split(col("text"), " "),
                  (x, i) => struct(
                    xxhash64(concat(col("copy"), lit(":"), i)).as("k"),
                    x.as("t")))),
              s => s.getField("t")),
            " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(cores * 4)
      .persist()
    val nDocs = docs.count()
    val (_, secs) = Scaling.bestOf(s"local[$cores] curation", p.reps) {
      Curation.curatedWithCounts(docs, budget = 512L)._1.count()
    }
    docs.unpersist()
    Scaling.Level(Seq("docs" -> nDocs), secs)
  }
}
