package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/**
 * Blocking strategies for entity resolution beyond the alias-equality join
 * ([[EntityLink]]) and the LSH families (`ops.Dedup`): candidate-pair
 * generation that bounds the quadratic comparison space by a cheap global
 * structure instead of a hash family.
 */
object Blocking {

  /**
   * SORTED-NEIGHBORHOOD candidate pairs (Hernández & Stolfo 1995, the
   * merge/purge method): impose the total order (key, id), slide a window
   * of `w` records over it, and emit every pair that co-occurs in some
   * window — i.e. all (r1, r2) with 0 < rank(r2) - rank(r1) < w. Where
   * equality blocking misses near-misses ("acme corp" vs "acme corp.")
   * because they hash apart, the sort places them adjacent; the window
   * bounds the work at |R| * (w-1) pairs regardless of key skew (a block
   * of a million identical keys costs w-1 pairs per record, not the
   * quadratic block join).
   *
   * Distributed shape: the rank is a range-partitioned sort (Spark's
   * TeraSort machinery — no single-partition window, no driver
   * materialization) plus `zipWithIndex`'s one extra count job; pairing is
   * ONE keyed equi-join on the window bucket floor(rank/w), each record
   * registering under its own bucket and the previous one so cross-boundary
   * neighbors meet without replicating the whole table. Output is exact and
   * partitioning-invariant because (key, id) is a total order.
   *
   * Returns (id1, id2, key1, key2, dist) with rank(id1) < rank(id2),
   * dist = rank difference in [1, w-1].
   */
  def sortedNeighborhood(records: DataFrame, keyCol: String, idCol: String,
                         w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2, got $w")
    val spark = records.sparkSession
    val ranked0 = records
      .select(col(keyCol).cast("string").as("k"), col(idCol).cast("long").as("id"))
      // null keys cannot take a place in the total order — dropped, the
      // standard blocking behavior (and fuzzyJoin's)
      .filter(col("k").isNotNull)
      .rdd.map(r => (r.getString(0), r.getLong(1)))
      .sortBy(identity) // range-partitioned total order (k, id)
      .zipWithIndex()
      .map { case ((k, id), r) => (k, id, r) }
    import spark.implicits._
    val ranked = ranked0.toDF("k", "id", "rank")
    val b1 = ranked.withColumn("bucket", floor(col("rank") / w))
    val b2 = ranked
      .select(col("k").as("k2"), col("id").as("id2"), col("rank").as("rank2"))
      .withColumn("bucket", explode(array(
        floor(col("rank2") / w), floor(col("rank2") / w) - 1)))
    b1.join(b2, Seq("bucket"))
      .filter(col("rank2") > col("rank") && col("rank2") - col("rank") < w)
      .select(col("id").as("id1"), col("id2"),
        col("k").as("key1"), col("k2").as("key2"),
        (col("rank2") - col("rank")).as("dist"))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * Character-n-gram FUZZY string join (approximate dictionary lookup —
   * the ER recall path for misspelled / OOV surfaces that equality and
   * stem blocking both miss): every (query, catalog) pair whose char
   * n-gram Jaccard clears `minJaccardPct`, computed EXACTLY.
   *
   * This is the R×S adaptation of the PPJoin/AllPairs prefix filter
   * (`ops.Dedup.ngramJaccardPairsPrefix`'s family, Bayardo WWW'07): gram
   * document-frequencies over the UNION of both sides define one
   * canonical rarest-first (freq, gram) order; each string indexes only
   * its PREFIX — the first |G| − ceil(t·|G|) + 1 grams — because a pair
   * at Jaccard ≥ t must share a gram inside both prefixes, so prefix
   * indexing loses nothing while the frequent grams (the quadratic
   * blowup on a 26²-bigram alphabet) fall out of most prefixes. The
   * PPJoin LENGTH filter (t·|A| ≤ |B| ≤ |A|/t, cross-multiplied) prunes
   * before verification; the exact array intersection runs on surviving
   * candidates only. A prefix gram whose posting list still exceeds
   * `maxGramPostings` on either side is dropped LOUDLY
   * (`Dedup.lastDropReport("fuzzyJoin")`) — with zero drops the result is
   * exact.
   *
   * Plan: one gram-frequency agg over the union, one per-string window
   * (keyed by string — no global rank), one keyed equi-join of the two
   * prefix indexes, exact verification joins. All integer arithmetic.
   *
   * @return (q, c, inter, uni) with inter·100 ≥ uni·minJaccardPct
   */
  def fuzzyJoin(queries: DataFrame, qCol: String,
                catalog: DataFrame, cCol: String,
                n: Int = 2, minJaccardPct: Int = 50,
                maxGramPostings: Int = 10000): DataFrame = {
    import graft.functions.GraftFunctions.char_ngrams
    def prep(df: DataFrame, c: String, side: String): DataFrame = df
      .select(col(c).cast("string").as("s"))
      .filter(col("s").isNotNull).distinct()
      // An xxhash64-keyed repartition here (pinning the n-gram walk's
      // width past the distinct's AQE-coalesced byte-small exchange) was
      // measured and REVERTED: isolated noop reps looked ~0.3 s better,
      // but in the full warm board run the walk is cheap and the extra
      // exchange cost ~0.2-0.4 s (q157 1.3-1.5 -> 1.6-2.3 s while
      // control queries held flat) — the q08 rule: the spread pays only
      // when the widened compute outweighs the exchange.
      // native code-point n-gram walk (one compiled pass), distinct set
      // semantics via array_distinct — no per-character regex split
      .select(col("s"), array_distinct(char_ngrams(col("s"), n)).as("g"))
      .filter(size(col("g")) > 0)
      .withColumn("side", lit(side))
    // every persisted intermediate registers here so the finally-block
    // unpins them even when the join/verify stages throw (a failed call
    // must not leave cached frames pinned for the session's lifetime)
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df.persist(); df }
    try {
    val strs = pin(prep(queries, qCol, "q").unionAll(prep(catalog, cCol, "c")))
    val grams = strs.select(col("side"), col("s"),
      size(col("g")).cast("long").as("gsz"), explode(col("g")).as("gram"))
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("side"), col("s"))
      .orderBy(col("freq"), col("gram"))
    val prefixes = pin(grams.join(freq, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("gsz") - floor((col("gsz") * minJaccardPct + 99) / 100) + 1)
      .select(col("side"), col("gram"), col("s"), col("gsz")))
    val postings = pin(prefixes.groupBy(col("gram"), col("side"))
      .agg(count(lit(1)).as("psz")))
    val okGrams = postings.groupBy(col("gram"))
      .agg(max(col("psz")).as("mx")).filter(col("mx") <= maxGramPostings)
      .select(col("gram"))
    val qp = prefixes.filter(col("side") === "q").join(okGrams, Seq("gram"))
      .select(col("gram"), col("s").as("q"), col("gsz").as("qsz"))
    val cp = prefixes.filter(col("side") === "c").join(okGrams, Seq("gram"))
      .select(col("gram"), col("s").as("c"), col("gsz").as("csz"))
    val cands = qp.join(cp, Seq("gram"))
      .filter( // PPJoin length filter, cross-multiplied
        col("qsz") * 100 >= col("csz") * minJaccardPct &&
          col("csz") * 100 >= col("qsz") * minJaccardPct)
      .select(col("q"), col("c")).distinct()
    val verified = cands
      .join(strs.filter(col("side") === "q")
        .select(col("s").as("q"), col("g").as("g1")), Seq("q"))
      .join(strs.filter(col("side") === "c")
        .select(col("s").as("c"), col("g").as("g2")), Seq("c"))
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))).cast("long"))
      // gram arrays are DISTINCT (array_distinct in prep), so
      // |union| = |g1| + |g2| - |inter| exactly — arithmetic instead of
      // materializing a per-pair union array (the Dedup convention)
      .withColumn("uni",
        (size(col("g1")) + size(col("g2"))).cast("long") - col("inter"))
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("q"), col("c"), col("inter"), col("uni"))
    val out = verified.localCheckpoint(true)
    val dropRow = postings.filter(col("psz") > maxGramPostings)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("psz")), lit(0L)).as("sl"))
      .head()
    Dedup.lastDropReport("fuzzyJoin") = (dropRow.getLong(0), dropRow.getLong(1))
    if (dropRow.getLong(0) > 0)
      log.warn(s"[fuzzyJoin] dropped ${dropRow.getLong(0)} hot prefix " +
        s"gram posting list(s) covering ${dropRow.getLong(1)} slots " +
        s"(cap=$maxGramPostings)")
    out
    } finally pinned.foreach(_.unpersist(false))
  }
}
