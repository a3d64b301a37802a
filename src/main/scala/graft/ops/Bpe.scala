package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Distributed BPE (byte-pair-encoding) VOCABULARY INDUCTION — the
 * tokenizer-training step of an LLM data pipeline (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units", the
 * algorithm behind GPT-2/sentencepiece-BPE vocabularies).
 *
 * Scale shape: the corpus is touched ONCE (a map-side-combined word-count
 * aggregation — classic BPE trains on the distinct-word frequency table,
 * not the raw token stream). Each merge iteration then runs over the
 * DISTRIBUTED word table: one pair-count aggregation (partial aggs; pair
 * table is alphabet^2-bounded) + a TakeOrdered(1) for the argmax (no
 * global sort, one row to the driver) + a map-only merge application.
 * The word table NEVER materializes on the driver — at web scale distinct
 * words are ~10^8-9 rows, far past driver memory; only the single winning
 * pair per iteration comes back. Lineage is truncated with a
 * localCheckpoint every `checkpointEvery` merges (an iterative-algorithm
 * necessity, like GraphX's).
 *
 * Determinism: symbols are CODE-POINT seeded (UTF-16-char seeding would
 * split astral characters into lone surrogates, which do not survive
 * Spark's UTF-8 string representation — two distinct lone surrogates
 * byte-collapse to the same replacement char and would merge as one group
 * key); the winning pair is max-by (freq, then UTF-8-byte-lexicographically
 * smallest (left, right), matching Spark's own string sort) — a total
 * order, so results are independent of partitioning and cluster size.
 * Merge application replaces LEFTMOST-FIRST, non-overlapping (Sennrich's
 * semantics); pair counting counts every adjacent occurrence (so "aaa"
 * contributes (a,a) twice), also per Sennrich's get_stats.
 */
object Bpe {

  final case class SymWord(syms: Seq[String], cnt: Long)
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Code-point symbol seeding (see header). */
  private[graft] def seedSymbols(w: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toSeq
  }

  private[graft] def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  private[graft] def applyMergeArr(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new Array[String](syms.length)
    var i = 0
    var k = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out(k) = l + r; i += 2
      } else { out(k) = syms(i); i += 1 }
      k += 1
    }
    if (k == syms.length) syms else java.util.Arrays.copyOf(out, k)
  }

  /**
   * Tokenizer-APPLY semantics (the standard GPT-2/sentencepiece-BPE encode,
   * Sennrich's apply_bpe): repeatedly select the adjacent pair with the
   * SMALLEST merge rank present in the word and merge ALL its
   * non-overlapping occurrences leftmost-first; stop when no adjacent pair
   * has a learned rank. Rank-indexed: cost is O(passes * |word|) with
   * passes <= |word| — INDEPENDENT of |merges| (the round-3 form ran every
   * learned merge as its own full pass, O(|merges| * |word|) per word: a
   * ~1,600x blow-up at a production 32k-merge vocabulary).
   */
  private[graft] def segmentWordGreedy(w: String, rank: Map[(String, String), Int],
                                       mergeAt: Array[(String, String)]): Array[String] = {
    var syms: Array[String] = seedSymbols(w).toArray
    var more = syms.length > 1
    while (more) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) more = false
      else {
        val (l, r) = mergeAt(best)
        syms = applyMergeArr(syms, l, r)
        more = syms.length > 1
      }
    }
    syms
  }

  /**
   * Learn `numMerges` BPE merges from the corpus; stops early when the best
   * remaining pair's frequency falls below `minPairFreq`. Returns one row
   * per merge: (rank, left, right, freq).
   *
   * ADAPTIVE (the same driver-fallback pattern as the connected-components
   * canonicalizer): when the distinct-word table fits comfortably on the
   * driver (`<= driverVocabThreshold` rows — it is VOCAB-sized, not
   * corpus-sized), the merge loop runs locally instead of paying
   * numMerges x (Spark job latency) for kilobyte-scale aggregations; above
   * the threshold the distributed iteration takes over (web-scale corpora
   * have 10^8-9 distinct words). Both paths share the same argmax total
   * order, so they produce IDENTICAL merges (equality-tested, plus the
   * independent sequential twin).
   */
  def train(docs: DataFrame, numMerges: Int, minPairFreq: Long = 2L,
            checkpointEvery: Int = 8, driverVocabThreshold: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val merges = graft.core.Adaptive.small(words, driverVocabThreshold)(rows =>
      trainDriver(rows.map(r => (seedSymbols(r.getString(0)), r.getLong(1))),
        numMerges, minPairFreq))(
      trainDistributed(_, numMerges, minPairFreq, checkpointEvery))
    spark.createDataset(merges).toDF("rank", "left", "right", "freq")
  }

  /** The argmax tie-break compares symbols in UTF-8 BYTE order — what
    * Spark's string orderBy uses (UTF8String unsigned byte compare), NOT
    * Scala's default UTF-16 code-unit order. The two differ exactly when a
    * tie pits an astral-plane symbol against a BMP char above the surrogate
    * range (U+E000..U+FFFF): surrogate code units sort low in UTF-16 while
    * 4-byte UTF-8 sequences sort high. Tested on such a tie. */
  private def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val pairOrd: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      def compare(x: ((String, String), Long), y: ((String, String), Long)): Int = {
        val c0 = java.lang.Long.compare(y._2, x._2) // freq desc
        if (c0 != 0) c0
        else {
          val c1 = cmpUtf8(x._1._1, y._1._1)
          if (c1 != 0) c1 else cmpUtf8(x._1._2, y._1._2)
        }
      }
    }

  /**
   * Driver merge loop, INCREMENTAL (the Sennrich learn_bpe optimization
   * that makes thousands of merges cheap): pair counts and a pair -> word
   * index are maintained across merges, so merge k only re-counts the words
   * that actually CONTAIN the winning pair — the round-3 form recounted the
   * whole vocabulary every merge, O(|vocab| * len) per merge, which priced
   * a 2k-merge training run out entirely. The argmax is a lazy-deletion
   * priority queue under the same total order as the distributed path
   * (freq desc, then UTF-8-byte-smallest (left, right)): every count
   * change pushes a fresh entry; popped entries are valid only if their
   * frequency still matches the live count, so the top valid entry IS the
   * argmax. Identical merges to the recount form by construction
   * (equality-tested against the independent naive twin and the
   * distributed iteration in OpsSpec).
   */
  private def trainDriver(words0: Array[(Seq[String], Long)], numMerges: Int,
                          minPairFreq: Long): Seq[Merge] = {
    val words: Array[Array[String]] = words0.map(_._1.toArray)
    val wCnt: Array[Long] = words0.map(_._2)
    val stats = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap.empty[(String, String),
      scala.collection.mutable.HashSet[Int]]
    val touched = scala.collection.mutable.HashSet.empty[(String, String)]
    def adjustWord(wi: Int, sign: Long): Unit = {
      val syms = words(wi)
      val c = wCnt(wi) * sign
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val nv = stats.getOrElse(p, 0L) + c
        if (nv == 0L) stats.remove(p) else stats(p) = nv
        touched += p
        if (sign > 0L)
          where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += wi
        // sign < 0: stale `where` entries are tolerated — merge time
        // re-checks that the word still contains the pair
        i += 1
      }
    }
    var wi = 0
    while (wi < words.length) { adjustWord(wi, 1L); wi += 1 }
    // ascending under pairOrd = (freq desc, utf8(l), utf8(r)) -> head is best
    val heap = scala.collection.mutable.PriorityQueue.empty[((String, String), Long)](
      pairOrd.reverse)
    stats.foreach(heap += _)
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      // pop until a live entry (frequency matches the current count)
      var top: ((String, String), Long) = null
      while (top == null && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (stats.get(cand._1).contains(cand._2)) top = cand
      }
      if (top == null || top._2 < minPairFreq) done = true
      else {
        val ((l, r), f) = top
        out += Merge(k, l, r, f)
        touched.clear()
        val affected = where.getOrElse((l, r), scala.collection.mutable.HashSet.empty)
          .toArray.sorted
        var j = 0
        while (j < affected.length) {
          val w = affected(j)
          val syms = words(w)
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            has = syms(i) == l && syms(i + 1) == r
            i += 1
          }
          if (has) {
            adjustWord(w, -1L)
            words(w) = applyMergeArr(syms, l, r)
            adjustWord(w, 1L)
          }
          j += 1
        }
        where.remove((l, r))
        touched.foreach(p => stats.get(p).foreach(c => heap += ((p, c))))
        k += 1
      }
    }
    out.toSeq
  }

  private def trainDistributed(words: DataFrame, numMerges: Int, minPairFreq: Long,
                               checkpointEvery: Int): Seq[Merge] = {
    val spark = words.sparkSession
    import spark.implicits._
    var state: Dataset[SymWord] = words.as[(String, Long)]
      .map { case (w, c) => SymWord(seedSymbols(w), c) }
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val top = topPair(state).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairFreq) exhausted = true
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(k, l, r, f)
        val next = state.map(sw => SymWord(applyMerge(sw.syms, l, r), sw.cnt))
        state = if ((k + 1) % checkpointEvery == 0) next.localCheckpoint() else next
        k += 1
      }
    }
    merges.toSeq
  }

  /** The per-iteration pair-count + argmax: partial-aggregated pair sums,
    * winner via orderBy+limit(1) — Spark compiles that to
    * TakeOrderedAndProject (per-partition top-1 + driver merge of one row
    * per partition), NEVER a global sort of the pair table (plan-tested). */
  private[graft] def topPair(state: Dataset[SymWord]): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    state
      .flatMap(sw => sw.syms.iterator.zip(sw.syms.iterator.drop(1)).map(p => (p._1, p._2, sw.cnt)))
      .toDF("l", "r", "c")
      .groupBy(col("l"), col("r")).agg(sum(col("c")).as("freq"))
      .orderBy(col("freq").desc, col("l"), col("r"))
      .limit(1)
  }

  /**
   * Segment each document's tokens with a learned merge list — the apply
   * side of the tokenizer, emitting the ACTUAL subword sequence (what a
   * pretraining pipeline feeds to packing), not just counts. Map-only over
   * the corpus, merges broadcast; rank-indexed greedy merging per word
   * (`segmentWordGreedy` — cost independent of |merges|, so a production
   * 32k-merge vocabulary prices the same as a 20-merge test one); a
   * per-partition word -> subwords memo exploits the Zipfian repetition of
   * corpus words (the GPT-2 encoder's cache), so each DISTINCT word is
   * segmented once per partition.
   *
   * Returns (doc_id, n_tokens, n_subwords, subwords array<string>).
   */
  def segment(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges)
    // spread the map-only walk across the session's parallelism: the
    // board's documents table is ONE parquet split, which would run the
    // whole greedy-merge walk on one core; row-set identical (pure
    // per-row map)
    Similarity.spread(docs.select(col("doc_id"), split(col("text"), " ").as("toks")), "doc_id")
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val ms = bc.value.toArray
        val rank: Map[(String, String), Int] =
          ms.iterator.zipWithIndex.map { case (p, i) => p -> i }.toMap
        val memo = new java.util.HashMap[String, Array[String]]()
        it.map { case (id, toks) =>
          var nTok = 0L
          var nSub = 0L
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          toks.foreach { w =>
            if (w.nonEmpty) {
              nTok += 1L
              var subs = memo.get(w)
              if (subs == null) {
                subs = segmentWordGreedy(w, rank, ms)
                memo.put(w, subs)
              }
              nSub += subs.length
              out ++= subs
            }
          }
          (id, nTok, nSub, out.toSeq)
        }
      }
      .toDF("doc_id", "n_tokens", "n_subwords", "subwords")
  }

  /** Distinct single-code-point base symbols of the corpus (space — the
    * word separator — excluded), collected to the driver: alphabet-
    * bounded (bytes for Latin corpora, <= ~1M code points for full-
    * Unicode web text), never corpus-sized. */
  def baseSymbols(docs: DataFrame): Seq[String] =
    docs.select(explode(
        graft.functions.GraftFunctions.char_ngrams(col("text"), 1)).as("s"))
      .filter(col("s") =!= " ").distinct()
      .collect().map(_.getString(0)).toSeq

  /** Closed subword vocabulary induced by a merge list — the GPT-2
    * vocab.json shape: base symbols first in UTF-8 byte order (the
    * train-side tie-break order; ids 0..S-1), then each merge's OUTPUT
    * symbol in rank order. A string reachable by two different merge
    * paths keeps its FIRST id and ids stay dense. */
  def vocabulary(merges: Seq[(String, String)], base: Seq[String]): Map[String, Int] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    (base.distinct.sortWith(cmpUtf8(_, _) < 0) ++ merges.map { case (l, r) => l + r })
      .foreach(s => if (!m.contains(s)) m(s) = m.size)
    m.toMap
  }

  /** Tokenizer ENCODE: `segment` + vocabulary lookup -> subword ids (the
    * reference's token-to-id step — NeuralNERMono/utils/utilsLocal.py:318-324
    * — re-expressed for subword units; every training pipeline feeds ids,
    * not strings). Symbols absent from `vocab` (possible only when
    * encoding under a FOREIGN corpus's vocabulary) take `unkId`.
    * Returns (doc_id, n_subwords, ids array<int>); map-only, vocab
    * broadcast — the same scale shape as `segment`. */
  def encodeIds(docs: DataFrame, merges: Seq[(String, String)],
                vocab: Map[String, Int], unkId: Int = -1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vb = spark.sparkContext.broadcast(vocab)
    segment(docs, merges)
      .select(col("doc_id"), col("n_subwords"), col("subwords"))
      .as[(Long, Long, Seq[String])]
      .mapPartitions { it =>
        val v = vb.value
        it.map { case (id, n, subs) => (id, n, subs.map(s => v.getOrElse(s, unkId))) }
      }
      .toDF("doc_id", "n_subwords", "ids")
  }

  /** Persist a trained tokenizer (merge list + id vocabulary) as two
    * deterministic single-file parquet tables under `root` — the
    * tokenizer.json artifact analog (`ner.ModelStore` is the NER-weights
    * counterpart). Layout: root/merges.parquet (rank, left, right) and
    * root/vocab.parquet (token, id); each table overwrites whole. */
  def saveTokenizer(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[(String, String)], vocab: Map[String, Int],
                    root: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/merges.parquet")
    vocab.toSeq.sortBy(_._2).toDF("token", "id")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/vocab.parquet")
  }

  /** Load a tokenizer saved by `saveTokenizer`: (merges in rank order,
    * token -> id). Round-trips bit-identically (tested). */
  def loadTokenizer(spark: org.apache.spark.sql.SparkSession,
                    root: String): (Seq[(String, String)], Map[String, Int]) = {
    val merges = spark.read.parquet(s"$root/merges.parquet").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = spark.read.parquet(s"$root/vocab.parquet").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    (merges, vocab)
  }

  /**
   * Pretraining SAMPLE ASSEMBLY — the pipeline's last mile: encode every
   * document to subword ids (`encodeIds`), pack documents by subword
   * budget (`TextStats.packByCounts` — hash-bucketed, no global sort),
   * and emit ONE row per pack with the concatenated id sequence (documents
   * in ascending doc_id order inside a pack, the same deterministic order
   * the packing window uses). Returns
   * (bucket, pack_id, n_docs, n_subwords, ids array<int>).
   *
   * Scale shape: the collect_list buffer is per (bucket, pack_id) and
   * bounded by `budget` subwords + one document overhang — pack size is
   * the model's context-window budget, never corpus-scaled. */
  def packedIds(docs: DataFrame, merges: Seq[(String, String)],
                vocab: Map[String, Int], budget: Long,
                buckets: Int = 64): DataFrame =
    // the ids ride the ONE packing-window shuffle (packRows passthrough);
    // the groupBy reuses its bucket partitioning — no join, no second
    // exchange, and the corpus is encoded exactly once
    graft.ops.TextStats.packRows(
        encodeIds(docs, merges, vocab)
          .select(col("doc_id"), col("n_subwords").as("n_tokens"), col("ids")),
        budget, buckets)
      .groupBy(col("bucket"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_subwords"),
        flatten(transform(
          array_sort(collect_list(struct(col("doc_id"), col("ids")))),
          x => x.getField("ids"))).as("ids"))

  /**
   * Deterministic vocabulary ENRICHMENT for tokenizer-scale tests: the
   * synthetic corpus has only ~31 distinct whitespace tokens (nowhere near
   * enough adjacent-pair diversity to learn a production-sized merge list),
   * so each token occurrence gains a 1-2 hex-char suffix derived from
   * (doc_id, token position) — the vocabulary becomes ~|base vocab| x 256
   * distinct words while staying EXACTLY reproducible by the sequential
   * twin from (doc_id, text) alone (the syntheticPii pattern). Pure column
   * expressions; token count per document is preserved.
   */
  def syntheticRichText(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat_ws(" ", transform(split(col("text"), " "),
        (x, i) => concat(x, hex(pmod(xxhash64(col("doc_id"), i), lit(256)))))))
}
