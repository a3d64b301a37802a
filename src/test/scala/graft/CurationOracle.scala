package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextStats}

/** The join-based curation chain `Curation` replaced, kept as its
  * reference: every stage localCheckpoint'ed and counted with `count()`,
  * doc_id filters applied as joins against keep-sets, and the rarity and
  * packing annotations joined back onto the corpus by doc_id. */
object CurationOracle {

  def curatedWithCounts(docsIn0: DataFrame, budget: Long): (DataFrame, Curation.Report) = {
    val docs = docsIn0.localCheckpoint()
    val docsIn = docs.count()

    val quality = docs.filter(TextStats.keepPredicate(col("text"))).localCheckpoint()
    val nQuality = quality.count()

    val exactKeep = quality.join(
      Dedup.exact(quality).select(col("keep_id").as("doc_id")), Seq("doc_id"))
      .localCheckpoint()
    val nExact = exactKeep.count()

    val nearKeep = exactKeep.join(
      Dedup.dedupClusters(exactKeep).filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id")), Seq("doc_id"))
      .localCheckpoint()
    val nNear = nearKeep.count()

    // holdout: the stand-in benchmark set (doc_id % 97 == 0, as q53)
    val benchmark = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val clean = nearKeep.join(
      Dedup.decontaminate(nearKeep, benchmark, k = 8)
        .filter(!col("contaminated")).select(col("doc_id")), Seq("doc_id"))
      .localCheckpoint()
    val nClean = clean.count()

    val unrepetitive = clean
      .filter(!TextStats.repetitivePredicate(col("text"))).localCheckpoint()
    val nUnrep = unrepetitive.count()

    val rarity = TextStats.lmRarity(unrepetitive)
      .select(col("doc_id"), col("lm_logprob"))
    val packed = TextStats.packByTokenBudget(unrepetitive, budget)
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack_id"))
    val out = unrepetitive
      .select(col("doc_id"), col("lang"), col("source"),
        TextStats.redactedText(col("text")).as("text"))
      .join(packed, Seq("doc_id"))
      .join(rarity, Seq("doc_id"))

    (out, Curation.Report(docsIn, nQuality, nExact, nNear, nClean, nUnrep, Nil))
  }
}
