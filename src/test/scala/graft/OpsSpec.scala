package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextStats}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
  }

  test("exact dedup groups identical texts under min doc_id") {
    import spark.implicits._
    val d = Dedup.exactByText(docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y"))
      .as[(Long, Long)].collect().sorted
    assert(d.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds planted near-duplicates and verifies exact jaccard") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val pairs = Dedup.minhashLsh(docs(1L -> base, 2L -> nearDup, 3L -> other),
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix-filtered exact Jaccard == naive quadratic at several thresholds") {
    import spark.implicits._
    // random overlapping-window corpus: plenty of near-threshold pairs
    val rnd = new scala.util.Random(4242)
    val d = (1L to 80L).map { i =>
      val start = rnd.nextInt(60)
      val len = 8 + rnd.nextInt(25)
      (i, (start until start + len).map(k => s"w$k").mkString(" "))
    }
    val df = docs(d: _*)
    for (pct <- Seq(30, 50, 80)) {
      def norm(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.get(2).toString.toLong, r.get(3).toString.toLong)
      val naive = Dedup.ngramJaccardPairs(df, n = 3, minJaccardPct = pct)
        .collect().map(norm).toSet
      val pref = Dedup.ngramJaccardPairsPrefix(df, n = 3, minJaccardPct = pct)
        .collect().map(norm).toSet
      assert(pref == naive, s"pct=$pct: prefix=${pref.size} naive=${naive.size}\n" +
        s"missing=${(naive -- pref).take(5)} extra=${(pref -- naive).take(5)}")
    }
  }

  test("simhash: identical docs share hash; near-dups within small hamming") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = Dedup.simhash(docs(1L -> base, 2L -> base, 3L -> "entirely different words here"))
      .as[(Long, Long)].collect().toMap
    assert(d(1L) == d(2L))
    assert(d(1L) != d(3L))
    val nd = Dedup.simhashNearDup(docs(1L -> base, 2L -> base), maxHamming = 0)
      .select("doc1", "doc2").collect()
    assert(nd.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("ngram jaccard pairs: exact intersection/union counts") {
    import spark.implicits._
    // doc1/doc2 share 2 of 3 distinct bigrams each -> J = 2/4 = 0.5
    val r = Dedup.ngramJaccardPairs(docs(1L -> "a b c d", 2L -> "a b c x"), n = 2, minJaccardPct = 50)
      .as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 2L, 2L, 4L)))
  }

  test("brute-force ANN: rank 1 is the true nearest by double cosine") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.95f, 0.2f), 1)).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, col("vec_id") === 0, 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(top.head == ((0L, 1L, 1)))
  }

  test("IVF ANN returns valid ranked neighbors (recall vs brute force on clustered data)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // two well-separated clusters
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0f, 0f, 0f) else Array(0f, 10f, 0f, 0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.5f), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val bf = Similarity.bruteForceTopK(vecs, col("vec_id") < 4, 5)
      .as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, col("vec_id") < 4, 5, nList = 4, nProbe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("langid picks max-marker language with deterministic tie-break") {
    val rows = TextStats.langId(docs(
      1L -> "der und das ist gut",
      2L -> "the of the and",
      3L -> "zzz qqq www")).collect().map(x => (x.getLong(0), x.getString(1), x.getInt(2))).toSeq
    assert(rows.contains((1L, "de", 4)))
    assert(rows.contains((2L, "en", 4)))
    assert(rows.contains((3L, "und", 0)))
  }

  test("fingerprint is stable and collision-free on distinct texts") {
    val a = TextStats.fingerprint64("hello world")
    assert(a == TextStats.fingerprint64("hello world"))
    assert(a != TextStats.fingerprint64("hello worlds"))
  }

  test("sequence packing: budget respected, deterministic, partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val d = (1L to 200L).map(i => (i, Seq.fill(1 + rnd.nextInt(40))("w").mkString(" ")))
    val df = docs(d: _*)
    val packed = graft.ops.TextStats.packByTokenBudget(df, budget = 64L, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(packed.length == 200)
    // a pack never starts beyond the budget boundary: within (bucket, pack),
    // total tokens < budget + max single doc (docs are indivisible)
    packed.groupBy(p => (p._3, p._4)).foreach { case ((b, pk), ds) =>
      val total = ds.map(_._2).sum
      val maxDoc = ds.map(_._2).max
      assert(total < 64 + maxDoc, s"bucket $b pack $pk overfilled: $total")
    }
    // pack ids are dense from 0 within each bucket
    packed.groupBy(_._3).foreach { case (_, ds) =>
      val ids = ds.map(_._4).distinct.sorted.toSeq
      assert(ids == (0 until ids.length).map(_.toLong))
    }
    // partition-count invariance
    val repart = graft.ops.TextStats.packByTokenBudget(df.repartition(7), budget = 64L, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(repart.sorted.toSeq == packed.sorted.toSeq)
  }

  test("packRows rejects a non-positive budget or bucket count") {
    val counted = spark.range(3).select(col("id").as("doc_id"), lit(5L).as("n_tokens"))
    intercept[IllegalArgumentException](TextStats.packRows(counted, budget = -1L))
    intercept[IllegalArgumentException](TextStats.packRows(counted, budget = 0L))
    intercept[IllegalArgumentException](TextStats.packRows(counted, budget = 64L, buckets = 0))
  }

  test("multimodal resize: aspect-preserving fit, no upscale, audio dropped") {
    import spark.implicits._
    val d = docs(0L -> "an image doc body", 1L -> "an audio doc", 2L -> "a video doc body here")
    val out = graft.ops.Multimodal.resize(graft.ops.Multimodal.syntheticMedia(d), box = 100)
      .collect().map(r => r.doc_id -> r).toMap
    assert(!out.contains(1L), "audio must pass out of resize")
    out.values.foreach { r =>
      assert(math.max(r.out_w, r.out_h) <= 100 || (r.out_w == r.src_w && r.out_h == r.src_h))
      assert(r.out_w <= r.src_w && r.out_h <= r.src_h, "never upscale")
      // aspect preserved within rounding
      val srcAspect = r.src_w.toDouble / r.src_h
      val outAspect = r.out_w.toDouble / r.out_h
      assert(math.abs(srcAspect - outAspect) / srcAspect < 0.05, s"$r")
      // image rows carry a real PNG rendition; video rows a real PNG
      // poster thumbnail of GIF frame 0
      assert((r.thumb(0) & 0xff) == 0x89 && r.thumb(1) == 'P', s"${r.doc_id}: not a PNG")
    }
    // deterministic across invocations
    val again = graft.ops.Multimodal.resize(graft.ops.Multimodal.syntheticMedia(d), box = 100)
      .collect().map(r => r.doc_id -> r.thumb.toSeq).toMap
    out.foreach { case (id, r) => assert(again(id) == r.thumb.toSeq) }
  }

  test("real PNG path: decode reads true dims; resize bytes == analytic twin") {
    import spark.implicits._
    import graft.golden.SequentialTwin
    // production decodes the actual bitstream; the twin never decodes —
    // it predicts dims and pixels in closed form
    for (id <- Seq(0L, 3L, 21L, 96L, 141L)) {
      val blob = Multimodal.pngFor(id)
      val (w, h, frames, feat) = Multimodal.decode("image/png", blob)
      assert((w, h) == SequentialTwin.twinImageDims(id), s"id=$id dims")
      assert(frames == 1 && feat.length == 8)
      val (sw, sh, ow, oh, thumb) = Multimodal.resizePng(blob, box = 24)
      assert((sw, sh) == ((w, h)) && math.max(ow, oh) <= 24)
      val twin = SequentialTwin.q49Resize(
        Seq(SequentialTwin.Doc(id, "body", "en", "s")), box = 24).head
      assert((twin.out_w, twin.out_h) == ((ow, oh)), s"id=$id fit")
      assert(twin.thumb.toSeq == thumb.toSeq, s"id=$id rendition bytes diverge")
    }
    // the distributed plumbing carries the real PNG end-to-end
    val meta = Multimodal.extract(Multimodal.syntheticMedia(docs(0L -> "x", 3L -> "y")))
      .collect().sortBy(_.doc_id)
    assert(meta.map(m => (m.width, m.height)).toSeq ==
      Seq(SequentialTwin.twinImageDims(0L), SequentialTwin.twinImageDims(3L)))
  }

  test("real WAV path: decode reads true rate/channels/frames; twin predicts all fields codec-free") {
    import spark.implicits._
    import graft.golden.SequentialTwin
    // production decodes the actual RIFF stream; the twin never decodes —
    // it predicts rate, channels, frames, byte size AND the amplitude
    // feature in closed form from the synthetic-audio spec
    for (id <- Seq(1L, 4L, 7L, 22L, 511L, 1024L + 1L)) {
      val blob = Multimodal.wavFor(id)
      assert(blob.length.toLong == SequentialTwin.twinWavBytes(id),
        s"id=$id: codec size ${blob.length} != analytic RIFF prediction")
      val (rate, channels, frames, feat) = Multimodal.decodeWav(blob)
      assert((rate, channels, frames) == SequentialTwin.twinAudioSpec(id), s"id=$id meta")
      assert(feat.toSeq == SequentialTwin.twinAudioFeature(id).toSeq,
        s"id=$id: decoded feature diverges from the analytic twin")
    }
    // the distributed plumbing carries the real WAV end-to-end (audio rows
    // are doc_id % 3 == 1)
    val meta = Multimodal.extract(Multimodal.syntheticMedia(docs(1L -> "x", 4L -> "y")))
      .collect().sortBy(_.doc_id)
    assert(meta.map(m => (m.width, m.height, m.n_frames)).toSeq ==
      Seq(SequentialTwin.twinAudioSpec(1L), SequentialTwin.twinAudioSpec(4L)))
    assert(meta.map(_.n_bytes).toSeq ==
      Seq(SequentialTwin.twinWavBytes(1L), SequentialTwin.twinWavBytes(4L)))
  }

  test("real GIF path: lossless animated round-trip; decode/hashes/resize == analytic twin") {
    import spark.implicits._
    import graft.golden.SequentialTwin
    // production decodes the actual GIF bitstream frame by frame; the
    // twin never decodes — it predicts dims, frame count, every frame
    // hash and the feature in closed form from the synthetic-video spec
    for (id <- Seq(2L, 5L, 8L, 47L, 1001L)) {
      val blob = Multimodal.gifFor(id)
      assert(blob(0) == 'G' && blob(1) == 'I' && blob(2) == 'F', s"id=$id: not a GIF")
      val (w, h, frames, feat) = Multimodal.decode("video/gif", blob)
      assert((w, h, frames) == SequentialTwin.twinVideoSpec(id), s"id=$id meta")
      assert(feat.toSeq == SequentialTwin.twinVideoFeature(id).toSeq,
        s"id=$id: decoded feature diverges from the analytic twin")
      // poster-frame resize: production's real decode + NN kernel must
      // emit the exact bytes the twin builds from the closed-form pixels
      val (sw, sh, ow, oh, thumb) = Multimodal.resizeGifPoster(blob, box = 24)
      assert((sw, sh) == ((w, h)) && math.max(ow, oh) <= 24)
      val twin = SequentialTwin.q49Resize(
        Seq(SequentialTwin.Doc(id, "body", "en", "s")), box = 24).head
      assert((twin.out_w, twin.out_h) == ((ow, oh)), s"id=$id fit")
      assert(twin.thumb.toSeq == thumb.toSeq, s"id=$id rendition bytes diverge")
    }
    // frame hashes: the distributed operator vs the analytic per-frame aHash
    val vids = docs(2L -> "x", 5L -> "y", 8L -> "z", 47L -> "w")
    val got = Multimodal.videoFrameHashes(Multimodal.syntheticMedia(vids))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).sorted.toSeq
    val want = SequentialTwin.q175VideoFrameHashes(
      Seq(2L, 5L, 8L, 47L).map(i => SequentialTwin.Doc(i, "b", "en", "s"))).sorted
    assert(got == want, "frame hashes diverge from the analytic twin")
    // multi-frame sampling is real: id=47 has 15 frames -> indices 0,4,8,12
    assert(got.filter(_._1 == 47L).map(_._2) == Seq(0L, 4L, 8L, 12L))
  }

  test("video near-dup: planted +768 exact copies found in full; twin parity") {
    import spark.implicits._
    import graft.golden.SequentialTwin
    // the spec's moduli (dims 24/16, gray 256, frames 12) all align at
    // id+768, so each planted copy is a bit-identical GIF the operator
    // must pair with its original at full frame match; the twin computes
    // the definitional quadratic all-pairs (no banding) and must agree
    val baseIds = Seq(2L, 5L, 8L)
    val withPlanted = baseIds ++ baseIds.map(_ + 768L)
    val media = Multimodal.syntheticMedia(withPlanted.toDF("doc_id"))
    val got = Multimodal.videoNearDup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sorted.toSeq
    val want = SequentialTwin.q176VideoNearDup(
      baseIds.map(i => SequentialTwin.Doc(i, "b", "en", "s")))
    assert(got == want, "distributed banded join diverges from the quadratic twin")
    for (id <- baseIds) {
      val p = got.find(r => r._1 == id && r._2 == id + 768L)
      assert(p.isDefined, s"planted copy of $id not found")
      assert(p.get._3 == p.get._5 && p.get._4 == p.get._6,
        s"exact copy of $id only partially matched: $p")
    }
    // structurally different videos never pair: ids with different dims
    assert(!got.exists(r => r._1 == 2L && r._2 == 5L))
  }

  test("multimodal extract: real-codec metadata for all three types, batch plumbing") {
    import spark.implicits._
    val meta = Multimodal.extract(Multimodal.syntheticMedia(docs(
      0L -> "aaa", 1L -> "bbb", 2L -> "ccc"))).collect().sortBy(_.doc_id)
    assert(meta.map(_.media_type).toSeq == Seq("image/png", "audio/wav", "video/gif"))
    assert(meta.forall(_.n_bytes > 0))
    assert(meta.forall(_.feature.length == 8))
    // determinism across runs
    val again = Multimodal.extract(Multimodal.syntheticMedia(docs(
      0L -> "aaa", 1L -> "bbb", 2L -> "ccc"))).collect().sortBy(_.doc_id)
    assert(meta.map(_.width).toSeq == again.map(_.width).toSeq)
  }

  test("dedup operators self-clean: zero cached plans after back-to-back calls") {
    import spark.implicits._
    spark.catalog.clearCache() // isolate from other suites' state
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> "q r s t u v w x y z a b")
    val emb = (1L to 20L).map(i => (i, Array.tabulate(8)(k => (i % 5 + k).toFloat)))
      .toDF("vec_id", "embedding")
    // a long-lived curation session: several ops back-to-back — the round-2
    // leak (no unpersist anywhere in ops/) filled the storage pool per call
    Dedup.minhashLsh(df).count()
    Dedup.simhashNearDup(df).count()
    Dedup.ngramJaccardPairsPrefix(df, n = 3, minJaccardPct = 50).count()
    Dedup.embeddingNearDup(emb, threshold = 0.4).count()
    Dedup.dedupClusters(df).count()
    // round-4 wave: the new persistIntermediate users self-clean too
    Similarity.semDedup(emb, threshold = 0.9, nList = 4, blocks = 2).count()
    TextStats.dsirSelect(df, df.filter(col("doc_id") === 1L), k = 2).count()
    TextStats.lmScore(df, TextStats.lmTrain(df)).count()
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheManagerIsEmpty(spark),
      "dedup/similarity operators left persisted plans in the CacheManager")
  }

  test("empty inputs: near-dup and IVF return empty results, correct schema") {
    import spark.implicits._
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDup(emptyEmb, threshold = 0.5)
    assert(nd.columns.toSeq == Seq("v1", "v2", "cosine") && nd.count() == 0)
    assert(Similarity.centroidCodebook(emptyEmb, 16).isEmpty)
    val ivf = Similarity.ivfTopK(emptyEmb, col("vec_id") < 5, 10)
    assert(ivf.columns.toSeq == Seq("query_id", "neighbor_id", "rank") && ivf.count() == 0)
  }

  test("prefix join hot-gram guard: loud drop, exact when unfired") {
    // 6 docs all sharing every gram (identical text, 4 grams each) -> every
    // prefix posting list has 6 entries; cap 4 drops them all
    val same = "a b c d e f"
    val hot = docs((1L to 6L).map(i => i -> same): _*)
    val dropped = Dedup.ngramJaccardPairsPrefix(hot, n = 3, minJaccardPct = 50,
      maxGramPostings = 4)
    assert(dropped.count() == 0)
    val (nGrams, nSlots) = Dedup.lastDropReport("ngramJaccardPairsPrefix")
    assert(nGrams >= 1 && nSlots >= 6, s"expected loud drop, got ($nGrams, $nSlots)")
    // same corpus, default cap: guard unfired -> exact (all 15 pairs, J=1)
    val full = Dedup.ngramJaccardPairsPrefix(hot, n = 3, minJaccardPct = 50)
    assert(full.count() == 15)
    assert(Dedup.lastDropReport("ngramJaccardPairsPrefix") == ((0L, 0L)))
  }

  test("dupSpans flags exactly the cross-document duplicated windows") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // one shared 10-window
    val d = docs(
      1L -> (shared + " a b c"),           // windows: shared + 3 shifted ones
      2L -> ("x y z " + shared),           // shares exactly the pure window
      3L -> (1 to 12).map(i => s"u$i").mkString(" "), // unique, 3 windows
      4L -> "too short")                   // < 10 tokens -> (0, 0)
    val got = Dedup.dupSpans(d, k = 10).as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ((4L, 1L)), got(1L)) // 13 tokens -> 4 windows, 1 shared
    assert(got(2L) == ((4L, 1L)), got(2L))
    assert(got(3L) == ((3L, 0L)), got(3L))
    assert(got(4L) == ((0L, 0L)), got(4L))
  }

  test("decontaminate flags benchmark n-gram overlap; plan broadcasts the benchmark") {
    import spark.implicits._
    val evalDoc = (1 to 8).map(i => s"e$i").mkString(" ")
    val corpus = docs(
      1L -> ("prefix tokens here " + evalDoc),  // contains the full 8-gram
      2L -> (1 to 8).map(i => s"c$i").mkString(" "), // clean
      3L -> evalDoc)                             // the benchmark doc itself
    val bench = corpus.filter(col("doc_id") === 3L)
    val res = Dedup.decontaminate(corpus, bench, k = 8)
    val got = res.as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((1L, true)))
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("sampleBySourceRates: per-source rates, default fallback, nested in sampleByHash") {
    import spark.implicits._
    val d = (1L to 2000L).map(i => (i, s"t$i words", s"src${i % 4}", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val rates = Map("src0" -> 100, "src1" -> 50, "src2" -> 0)
    val kept = TextStats.sampleBySourceRates(d, rates, defaultPct = 10)
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("src0") == 500)                       // 100% of 500
    assert(!bySrc.contains("src2"))                    // 0%
    assert(bySrc("src1") > 150 && bySrc("src1") < 350) // ~50%
    assert(bySrc("src3") > 10 && bySrc("src3") < 120)  // default 10%
    // mixture keeps are a SUBSET of the plain hash sample at the same pct
    val plain50 = TextStats.sampleByHash(d, col("doc_id"), 50)
      .select("doc_id").as[Long].collect().toSet
    kept.filter(_._2 == "src1").foreach(k => assert(plain50.contains(k._1)))
  }

  test("PPJoin length filter prunes candidates but never true pairs") {
    // mixed lengths around the bound: doc1 (10 grams) vs doc2 (30 grams)
    // can never reach J >= 0.5 (10/30 < 0.5) — the filter prunes the pair
    // before verification; doc1 vs doc3 (12 grams, 9 shared) survives
    val d1 = (1 to 12).map(i => s"w$i").mkString(" ")          // 10 trigrams
    val d2 = ((1 to 10) ++ (100 to 121)).map(i => s"w$i").mkString(" ") // 30
    val d3 = ((2 to 12) ++ Seq(200, 201)).map(i => s"w$i").mkString(" ")
    val got = Dedup.ngramJaccardPairsPrefix(docs(1L -> d1, 2L -> d2, 3L -> d3),
      n = 3, minJaccardPct = 50).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = Dedup.ngramJaccardPairs(docs(1L -> d1, 2L -> d2, 3L -> d3),
      n = 3, minJaccardPct = 50).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"got=$got naive=$naive")
    assert(!got.contains((1L, 2L)))
  }

  test("BPE train: classic merge sequence, deterministic tie-break, early stop") {
    import graft.ops.Bpe
    // hug x3, pug x2, bun x1: (u,g)=5 -> (h,ug)=3 -> (p,ug)=2 -> stop (<2)
    val d = docs(1L -> "hug hug hug", 2L -> "pug pug bun")
    val merges = Bpe.train(d, numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == Seq((0, "u", "g", 5L), (1, "h", "ug", 3L), (2, "p", "ug", 2L)), merges.toString)
    // equal-frequency pairs resolve to the lexicographically smallest
    val tie = Bpe.train(docs(1L -> "ab ab cd cd"), numMerges = 2)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(tie == Seq(("a", "b"), ("c", "d")), tie.toString)
    // UTF-8-BYTE tie-break order (Spark's string sort), where UTF-16 order
    // would differ: U+FFFA (3 UTF-8 bytes) sorts BELOW U+1F600 (4 bytes)
    // byte-wise, but above its surrogates code-unit-wise. Symbols are
    // code-point seeded, so the astral char is one symbol on every path.
    val e = new String(Character.toChars(0x1F600)); val x = "￺"
    for (thr <- Seq(0, 100000)) { // distributed and driver paths
      val m = Bpe.train(docs(1L -> s"a$e a$e a$x a$x"), numMerges = 2,
        driverVocabThreshold = thr)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      assert(m == Seq(("a", x), ("a", e)), s"thr=$thr: $m")
    }
    val twinTie = graft.golden.SequentialTwin.q60BpeMerges(
      Seq(graft.golden.SequentialTwin.Doc(1L, s"a$e a$e a$x a$x", "en", "s")),
      numMerges = 2).map { case (_, l, r, _) => (l, r) }
    assert(twinTie == Seq(("a", x), ("a", e)), twinTie.toString)
  }

  test("BPE train is partition-invariant and equals the independent sequential twin") {
    import graft.ops.Bpe
    val parquet = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // threshold 0 forces the DISTRIBUTED iteration (the 100 TB path)
    val a = Bpe.train(parquet, numMerges = 8, driverVocabThreshold = 0).collect().toSeq
    val b = Bpe.train(parquet.repartition(13), numMerges = 8, driverVocabThreshold = 0)
      .collect().toSeq
    assert(a == b, s"partitioning changed the merges:\n$a\n$b")
    // the adaptive driver fast path produces the identical merge list
    val drv = Bpe.train(parquet, numMerges = 8).collect().toSeq
    assert(a == drv, s"driver fast path != distributed:\n$a\n$drv")
    import spark.implicits._
    val seqDocs = parquet.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q60BpeMerges(seqDocs, numMerges = 8)
    val got = a.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got == twin, s"distributed != twin:\n$got\n$twin")
  }

  test("BPE segment: greedy rank-indexed apply, emits the subword sequence") {
    import graft.ops.Bpe
    val seg = Bpe.segment(docs(1L -> "hug bun", 2L -> "gg"),
      merges = Seq(("u", "g"), ("h", "ug")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[String](3))))
      .toMap
    assert(seg(1L) == ((2L, 4L, Seq("hug", "b", "u", "n"))), seg.toString)
    assert(seg(2L) == ((1L, 2L, Seq("g", "g"))), seg.toString) // no 'u' to merge
    // rank order decides, not list scan order: with ranks [(b,c), (a,b)],
    // "abc" must merge (b,c) FIRST (rank 0), leaving [a, bc] — a sequential
    // pass-per-merge in list order would produce the same here, but a
    // leftmost-pair-first strategy would wrongly merge (a,b)
    val ranked = Bpe.segment(docs(1L -> "abc"), merges = Seq(("b", "c"), ("a", "b")))
      .collect().map(r => r.getSeq[String](3)).head
    assert(ranked == Seq("a", "bc"), ranked.toString)
    // a later merge's output feeds an earlier-created symbol's merges:
    // ranks [(a,b)->ab, (ab,c)->abc]: "abc" -> [ab, c] -> [abc]
    val chained = Bpe.segment(docs(1L -> "abc"), merges = Seq(("a", "b"), ("ab", "c")))
      .collect().map(r => r.getSeq[String](3)).head
    assert(chained == Seq("abc"), chained.toString)
  }

  test("BPE incremental driver trainer == naive recount twin at tokenizer depth") {
    import graft.ops.Bpe
    import spark.implicits._
    val parquet = Bpe.syntheticRichText(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val mine = Bpe.train(parquet, numMerges = 300, minPairFreq = 1L).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(mine.size == 300, s"corpus exhausted at ${mine.size} merges")
    val seqDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
      .map(graft.golden.SequentialTwin.enrichRichText)
    val twin = graft.golden.SequentialTwin.q60BpeMerges(seqDocs, numMerges = 300,
      minPairFreq = 1L)
    assert(mine == twin, s"first diff at ${mine.zip(twin).indexWhere(p => p._1 != p._2)}")
  }

  test("syntheticRichText enrichment: Spark column form == twin, vocab widens") {
    import graft.ops.Bpe
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Bpe.syntheticRichText(base).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val twin = base.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect()
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }
      .map(graft.golden.SequentialTwin.enrichRichText)
    twin.foreach(d => assert(got(d.docId) == d.text, s"doc ${d.docId}"))
    val vocab = twin.flatMap(_.text.split(' ')).distinct.length
    assert(vocab > 2000, s"enriched vocab only $vocab distinct words")
  }

  test("corpusProfile: exact percentiles correct; approx within tolerance of exact") {
    val d = docs((1L to 9L).map(i => i -> (1L to i).map(j => s"t$j").mkString(" ")): _*)
    val exact = TextStats.corpusProfile(d, exact = true).collect()
    assert(exact.length == 1)
    val r = exact(0)
    assert(r.getLong(1) == 9L && r.getLong(2) == 45L)        // n_docs, total_tokens
    assert(r.getDouble(4) == 5.0, r.toString)                // p50 of 1..9
    assert(math.abs(r.getDouble(5) - 8.2) < 1e-9, r.toString) // p90 interpolated
    val approx = TextStats.corpusProfile(d).collect()(0)
    assert(math.abs(approx.getDouble(4) - r.getDouble(4)) <= 1.0)
    assert(math.abs(approx.getDouble(5) - r.getDouble(5)) <= 1.0)
  }

  test("removeDupSpans: excises non-first occurrences, keeps the global first") {
    val span = (1 to 10).map(i => s"A$i").mkString(" ")        // 10-token span
    val d = docs(
      1L -> s"$span x y z",                                    // keeper (pos 0)
      2L -> s"p q $span r",                                    // cross-doc dup
      3L -> s"$span $span",                                    // within-doc dup
      4L -> "u v w")                                           // untouched
    val got = Dedup.removeDupSpans(d, k = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((13L, 0L, s"$span x y z")), got(1L).toString)
    assert(got(2L) == ((13L, 10L, "p q r")), got(2L).toString)
    // doc 1 is the global keeper of the span, so BOTH of doc 3's
    // occurrences are non-first and the whole doc is excised
    assert(got(3L) == ((20L, 20L, "")), got(3L).toString)
    assert(got(4L) == ((3L, 0L, "u v w")), got(4L).toString)
    // within-doc first-occurrence keeping, no cross-doc keeper
    val solo = Dedup.removeDupSpans(docs(7L -> s"$span $span"), k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(solo == ((20L, 10L, span)), solo.toString)
    // twin agreement on the same corpus
    val twin = graft.golden.SequentialTwin.q63RemoveDupSpans(
      Seq((1L, s"$span x y z"), (2L, s"p q $span r"), (3L, s"$span $span"), (4L, "u v w"))
        .map { case (id, t) => graft.golden.SequentialTwin.Doc(id, t, "en", "s") }, k = 10)
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(twin == got, s"twin=$twin got=$got")
  }

  test("removeDupSpans pathological doc (90% duplicated) is not quadratic") {
    // one mostly-duplicated long doc: |removed| ~ n, so the per-token
    // array_contains form cost n * |removed| ~ 16k^2 per doc; the sorted-
    // merge excision is O(n + |removed|). Timed bound (generous for a
    // bursty co-tenant host) regression-guards the quadratic form.
    val span = (1 to 10).map(i => s"D$i").mkString(" ")
    val big = Seq.fill(1600)(span).mkString(" ")              // 16k tokens, all dup
    val d = docs(1L -> s"$span keep tail", 2L -> big, 3L -> big)
    val t0 = System.nanoTime()
    val got = Dedup.removeDupSpans(d, k = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got(2L)._1 == 16000L && got(2L)._2 == 16000L, got(2L).toString)
    assert(got(3L)._1 == 16000L && got(3L)._2 == 16000L, got(3L).toString)
    assert(secs < 30.0, s"pathological doc took ${secs}s — quadratic regression?")
  }

  test("keepPredicate/repetitivePredicate == their column twins on the corpus") {
    val parquet = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaProfile = TextStats.curate(parquet)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val viaPred = parquet.select(col("doc_id"),
      TextStats.keepPredicate(col("text")).as("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaProfile == viaPred)
    val repProfile = TextStats.repetitionProfile(parquet)
      .select(col("doc_id"), col("repetitive")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val repPred = parquet.select(col("doc_id"),
      TextStats.repetitivePredicate(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(repProfile == repPred)
  }

  test("capPerSource: exact cap, partition-invariant, nested subsets") {
    val parquet = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val c5 = TextStats.capPerSource(parquet, 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val c12 = TextStats.capPerSource(parquet, 12).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val perSource = c5.groupBy(_._2).map { case (s, v) => s -> v.size }
    assert(perSource.values.forall(_ <= 5), perSource.toString)
    assert(c5.subsetOf(c12), "smaller cap must be nested in the larger")
    val repart = TextStats.capPerSource(parquet.repartition(13), 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(repart == c5, "cap subset must be partition-invariant")
  }

  test("repetitionProfile flags repeated-ngram docs, passes diverse docs") {
    val rep1 = ("spam " * 10).trim + " a b c"                 // top1 10/13 tokens
    val rep2 = ("x y " * 10).trim + " p q r s t u v w"        // top2 'x y' 10x
    val clean = (1 to 40).map(i => s"t$i").mkString(" ")
    val got = TextStats.repetitionProfile(docs(1L -> rep1, 2L -> rep2, 3L -> clean))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)), r.getBoolean(5))).toMap
    assert(got(1L)._1._1 == 10L && got(1L)._2, got.toString)   // top1=10, flagged
    assert(got(2L)._1._2 == 10L && got(2L)._2, got.toString)   // top2=10, flagged
    assert(got(3L)._1 == ((1L, 1L, 1L)) && !got(3L)._2, got.toString)
  }

  test("lmRarity: rare-gram docs score lower; n_grams = len - n + 1") {
    // 9 docs share common text; 1 doc is unique chars -> rare trigrams
    val common = (1L to 9L).map(i => i -> "abcabcabcabc")
    val rare = Seq(10L -> "xqzwvyjkpfgh")
    val rows = TextStats.lmRarity(docs(common ++ rare: _*), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val byId = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (_, nGrams, _) => assert(nGrams == 10L) } // 12 - 3 + 1
    assert(byId(10L)._3 < byId(1L)._3,
      s"rare doc must score below common docs: ${byId(10L)._3} vs ${byId(1L)._3}")
  }

  test("kmeansCodebook: partition-invariant, bit-equal to the sequential twin, clusters converge") {
    import spark.implicits._
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kmeansCodebook(emb, nList = 16, iters = 3)
    val b = Similarity.kmeansCodebook(emb.repartition(13), nList = 16, iters = 3)
    assert(a.map(_.id).toSeq == b.map(_.id).toSeq)
    a.zip(b).foreach { case (x, y) =>
      assert(x.v.toSeq == y.v.toSeq, s"centroid ${x.id} differs across partitionings")
    }
    // the twin's own k-means (q66 path) produces bit-identical centroids:
    // re-derive them by running the twin with iters only (probe internals
    // are exercised by the q66 golden compare; here compare end-to-end rows)
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).toSeq
    val got = Similarity.ivfTopKTrained(emb, col("vec_id") < 20, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val twin = graft.golden.SequentialTwin.q66IvfTrained(vecs).toSet
    assert(got == twin, s"sym diff: ${(got diff twin).take(3)} / ${(twin diff got).take(3)}")
    // planted tight clusters: after training, members assign to their own
    // cluster's centroid (the stride init starts badly on purpose)
    val dim = 8
    // block-contiguous clusters (i / 16) so the stride init (ids 0/16/32/48)
    // seeds one centroid per true cluster — Lloyd then has to TIGHTEN them
    val planted = (0L until 64L).map { i =>
      val c = (i / 16).toInt
      (i, Array.tabulate(dim)(d => (if (d == c * 2) 10f else 0.1f) + (i % 7) * 0.01f))
    }
    val pdf = planted.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCodebook(pdf, nList = 4, iters = 5)
    val byCluster = planted.groupBy(_._1 / 16).view.mapValues { vs =>
      vs.map(v => Similarity.nearestList(v._2, cents)).distinct
    }.toMap
    byCluster.foreach { case (c, assigns) =>
      assert(assigns.size == 1, s"planted cluster $c split across centroids: $assigns")
    }
    assert(byCluster.values.flatten.toSet.size == 4, "distinct centroids per planted cluster")
  }

  test("encodeIds: GPT-2-shaped vocab, unk under foreign vocab, twin-equal") {
    import spark.implicits._
    import graft.ops.Bpe
    // vocabulary shape: base symbols UTF-8-ordered, then merge outputs by
    // rank; a duplicate-path output keeps its first id, ids stay dense
    val v = Bpe.vocabulary(
      Seq(("a", "b"), ("ab", "c"), ("b", "c"), ("a", "bc")),
      Seq("c", "a", "b"))
    assert(v("a") == 0 && v("b") == 1 && v("c") == 2)
    assert(v("ab") == 3 && v("abc") == 4 && v("bc") == 5)
    assert(v.size == 6 && v.values.toSeq.sorted == (0 to 5))
    // encode round-trip on a tiny corpus: ids map back to the segmentation
    val tiny = Seq((1L, "abc ab c x")).toDF("doc_id", "text")
    val merges = Seq(("a", "b"), ("ab", "c"))
    val tinyVocab = Bpe.vocabulary(merges, Seq("a", "b", "c", "x"))
    val enc = Bpe.encodeIds(tiny, merges, tinyVocab).collect().head
    assert(enc.getLong(1) == 4L) // abc, ab, c, x
    val rev = tinyVocab.map(_.swap)
    assert(enc.getSeq[Int](2).map(rev) == Seq("abc", "ab", "c", "x"))
    // foreign vocabulary: unseen base symbol takes unkId
    val foreign = Bpe.encodeIds(Seq((2L, "z ab")).toDF("doc_id", "text"),
      merges, tinyVocab).collect().head
    assert(foreign.getSeq[Int](2).head == -1 && foreign.getSeq[Int](2)(1) == tinyVocab("ab"))
    // corpus: production encode == independent twin (own vocab derivation)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpusMerges = Bpe.train(docs, numMerges = 20)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Bpe.encodeIds(docs, corpusMerges,
        Bpe.vocabulary(corpusMerges, Bpe.baseSymbols(docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).mkString(" "))).toSet
    val seqDocs = docs.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q70BpeEncode(seqDocs).toSet
    assert(got == twin, s"sym diff: ${(got diff twin).take(2)} / ${(twin diff got).take(2)}")
  }

  test("temperatureMixture: twin-equal, alpha=1 identity, flattening direction; chunkDocs windows") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextStats.temperatureMixture(docs, alpha = 0.3)
      .select("doc_id", "source", "pct").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val seqDocs = docs.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q74TemperatureMixture(seqDocs).toSet
    assert(got == twin, s"sym diff: ${(got diff twin).take(3)} / ${(twin diff got).take(3)}")
    // alpha = 1: proportional sampling degenerates to keep-everything
    assert(TextStats.temperatureMixture(docs, alpha = 1.0).count() == docs.count())
    // flattening direction on a skewed corpus: the small source keeps 100%,
    // the big one down-samples
    val skew = ((1L to 90L).map(i => (i, "t", "en", "big")) ++
      (91L to 100L).map(i => (i, "t", "en", "small")))
      .toDF("doc_id", "text", "lang", "source")
    val pcts = TextStats.temperatureMixture(skew, alpha = 0.3)
      .select("source", "pct").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(pcts("small") == 100 && pcts.get("big").forall(_ < 100), pcts.toString)
    // chunkDocs: exact overlapping windows; short docs pass through whole
    val d = Seq((1L, (1 to 20).map("w" + _).mkString(" ")), (2L, "a b"))
      .toDF("doc_id", "text")
    val ch = TextStats.chunkDocs(d, maxTokens = 8, overlap = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val d1 = ch.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._4).toSeq == Seq(1 to 8, 7 to 14, 13 to 20)
      .map(r => r.map("w" + _).mkString(" ")), d1.mkString("; "))
    assert(d1.map(_._3).toSeq == Seq(8L, 8L, 8L))
    assert(ch.filter(_._1 == 2L).map(_._4).toSeq == Seq("a b"))
  }

  test("ccnetBuckets: per-lang terciles, monotone thresholds, approx close to exact") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = TextStats.ccnetBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.length == docs.count())
    // every language has all three buckets, and buckets respect the
    // logprob order: min(head) >= max(tail) per lang
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val byB = rs.groupBy(_._4)
      assert(Set("head", "middle", "tail").subsetOf(byB.keySet), s"$lang: ${byB.keySet}")
      assert(byB("head").map(_._3).min >= byB("tail").map(_._3).max, lang)
      // terciles: each bucket holds between 1/6 and 1/2 of the lang's docs
      // (exact thirds up to threshold ties)
      byB.foreach { case (b, brs) =>
        assert(brs.size >= rs.size / 6 && brs.size <= rs.size / 2 + 1, s"$lang/$b: ${brs.size}/${rs.size}")
      }
    }
    // the t-digest path agrees with exact on >= 95% of docs (the 100 TB
    // trade; boundaries may shift within approximation error)
    val approx = TextStats.ccnetBuckets(docs, exact = false).collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    val agree = rows.count { case (id, _, _, b) => approx(id) == b }
    assert(agree >= (rows.length * 95) / 100, s"$agree/${rows.length}")
  }

  test("ngramCounts: exact counts, top-k tie-break, TakeOrdered plan") {
    import spark.implicits._
    val d = Seq((1L, "a b c a b c"), (2L, "a b c"), (3L, "x y")).toDF("doc_id", "text")
    val got = TextStats.ngramCounts(d, n = 3, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b c", 3L), ("b c a", 1L), ("c a b", 1L)), got.toString)
    // the k-boundary tie breaks lexically, deterministic across engines
    val top2 = TextStats.ngramCounts(d, 3, 2).collect().map(_.getString(0)).toSeq
    assert(top2 == Seq("a b c", "b c a"))
    // global selection is TakeOrdered, never Sort+GlobalLimit
    val p = TextStats.ngramCounts(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 3, 100)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("packedIds + tokenizer artifact: bit-identical round-trip, pack integrity, twin-equal") {
    import spark.implicits._
    import graft.ops.Bpe
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.train(docs, numMerges = 20)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = Bpe.vocabulary(merges, Bpe.baseSymbols(docs))
    // artifact round-trip is bit-identical, and encoding under the loaded
    // tokenizer equals encoding under the fresh one
    val root = java.nio.file.Files.createTempDirectory("tok_artifact").toString
    Bpe.saveTokenizer(spark, merges, vocab, root)
    val (m2, v2) = Bpe.loadTokenizer(spark, root)
    assert(m2 == merges && v2 == vocab)
    // pack integrity: concatenated ids match n_subwords; every doc lands
    // in exactly one pack
    val got = Bpe.packedIds(docs, m2, v2, budget = 512L).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Int](4)))
    got.foreach { case (b, p, _, nSub, ids) =>
      assert(ids.length.toLong == nSub, s"pack ($b,$p): ${ids.length} vs $nSub") }
    assert(got.map(_._3).sum == docs.count())
    // independent twin (own encode + packing composition)
    val gotSet = got.map { case (b, p, nd, ns, ids) =>
      (b, p, nd, ns, ids.mkString(" ")) }.toSet
    val seqDocs = docs.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q71PackedIds(seqDocs).toSet
    assert(gotSet == twin,
      s"sym diff: ${(gotSet diff twin).take(2)} / ${(twin diff gotSet).take(2)}")
  }

  test("dsirSelect: twin-equal, target-lean docs rank high, deterministic") {
    import spark.implicits._
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val got = rows(TextStats.dsirSelect(raw, raw.filter(col("lang") === "en"), k = 100))
    val seqDocs = raw.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q69Dsir(seqDocs).toSet
    assert(got == twin, s"sym diff: ${(got diff twin).take(3)} / ${(twin diff got).take(3)}")
    assert(got.size == 100 && got.map(_._3) == (1 to 100).toSet)
    // partition-invariant (selection rides rounded scores + hash noise)
    assert(rows(TextStats.dsirSelect(raw.repartition(11),
      raw.filter(col("lang") === "en"), k = 100)) == got)
    // planted: target trigrams boost a matching raw doc above a mismatched
    // one with overwhelming probability mass (importance weight sign)
    val target = Seq((100L, "xxx yyy zzz xxx yyy zzz", "en", "t"))
      .toDF("doc_id", "text", "lang", "source")
    val mixed = Seq(
      (1L, "xxx yyy zzz xxx yyy", "en", "s"),
      (2L, "aaa bbb ccc ddd eee", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val sel = TextStats.dsirSelect(mixed, target, k = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(sel(1L) > sel(2L),
      s"target-resembling doc must out-weigh the mismatch: $sel")
  }

  test("dedupParagraphs: first occurrence wins, hash-key parity, twin-equal") {
    import spark.implicits._
    // planted: cross-doc and within-doc shared paragraphs
    val planted = Seq(
      (1L, "a b\nc d\ne f"),
      (2L, "c d\ng h"),      // "c d" loses to doc1 pos1
      (3L, "a b\na b\nz z"), // both "a b" lose to doc1 pos0
      (4L, "q r")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, 0L, "a b\nc d\ne f"),
      (2L, 2L, 1L, "g h"),
      (3L, 3L, 2L, "z z"),
      (4L, 1L, 0L, "q r")))
    // corpus: partitioning changes nothing
    val docs = Dedup.syntheticParagraphs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val exact = rows(Dedup.dedupParagraphs(docs))
    assert(rows(Dedup.dedupParagraphs(docs.repartition(7))) == exact)
    // independent twin (enrichment + dedup re-derived from spec)
    val seqDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q68ParagraphDedup(seqDocs).toSet
    assert(exact == twin,
      s"sym diff: ${(exact diff twin).take(2)} / ${(twin diff exact).take(2)}")
    // a doc whose EVERY paragraph is a duplicate survives as empty text
    val wiped = Dedup.dedupParagraphs(
        Seq((1L, "a b\nc d"), (2L, "a b\nc d")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(wiped(2L) == ((2L, "")), wiped.toString)
  }

  test("semDedup: twin-equal, block/partition-invariant, planted dups grouped") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val got = rows(Similarity.semDedup(emb, threshold = 0.4))
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).toSeq
    val twin = graft.golden.SequentialTwin.q67SemDedup(vecs, threshold = 0.4).toSet
    assert(got == twin, s"sym diff: ${(got diff twin).take(3)} / ${(twin diff got).take(3)}")
    // blocking factor and input partitioning change nothing
    assert(rows(Similarity.semDedup(emb.repartition(13), threshold = 0.4, blocks = 1)) == got)
    assert(rows(Similarity.semDedup(emb.repartition(3), threshold = 0.4, blocks = 7)) == got)
    // the deployment path: a precomputed assignment fact table feeds
    // semDedupAssigned and yields the identical result
    val cents = Similarity.kmeansCodebook(emb, nList = 16, iters = 3)
    val assignedRows = vecs.map { case (id, v) =>
      val (lid, sim) = Similarity.nearestListSim(v, cents); (id, v, lid, sim)
    }.toDF("vec_id", "embedding", "list_id", "cent_cos")
    assert(rows(Similarity.semDedupAssigned(assignedRows, threshold = 0.4)) == got)
    // planted duplicate groups: pairs of near-identical vectors plus
    // orthogonal singletons; every pair becomes one group keeping exactly
    // the least-centroid-similar member, singletons keep themselves
    val dim = 8
    val planted = (0L until 40L).map { i =>
      val base = (i / 2).toInt % 4
      val jitter = if (i % 2 == 1) 0.05f else 0f // dup of the even twin
      (i, Array.tabulate(dim)(d => (if (d == base * 2) 10f else 0.2f) + jitter + (i / 8) * 0.001f))
    }
    val pres = Similarity.semDedup(planted.toDF("vec_id", "embedding"),
      threshold = 0.999, nList = 4, blocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val groups = pres.groupBy(_._2)
    groups.foreach { case (g, ms) =>
      assert(ms.count(_._3) == 1, s"group $g keeps ${ms.count(_._3)} members: ${ms.toSeq}")
      assert(g == ms.map(_._1).min, s"group label $g is not the min member id")
    }
    assert(pres.length == 40 && pres.count(_._3) < 40, "planted dups must drop rows")
    // degenerate: ALL vectors identical -> one corpus-wide group under the
    // first centroid, exactly one keeper (the mega-cluster shape the
    // triangle blocking exists for)
    val same = (0L until 50L).map(i => (i, Array.fill(8)(1f)))
    val sres = Similarity.semDedup(same.toDF("vec_id", "embedding"),
        threshold = 0.99, nList = 4, blocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(sres.length == 50 && sres.forall(_._2 == 0L) && sres.count(_._3) == 1,
      sres.take(5).toSeq.toString)
    // empty input: schema preserved, zero rows
    val empty = Similarity.semDedup(emb.filter(col("vec_id") < 0))
    assert(empty.columns.toSeq == Seq("vec_id", "group_id", "keep") && empty.count() == 0)
  }

  test("packByCounts budgets arbitrary units: subword packing == twin") {
    import graft.ops.Bpe
    import spark.implicits._
    val parquet = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.train(parquet, numMerges = 20)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextStats.packByCounts(
      Bpe.segment(parquet, merges).select(col("doc_id"), col("n_subwords").as("n_tokens")),
      budget = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val seqDocs = parquet.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }.toSeq
    val twin = graft.golden.SequentialTwin.q65PackBySubwords(seqDocs).toSet
    assert(got == twin, s"sym diff: ${(got diff twin).take(3)} / ${(twin diff got).take(3)}")
    // subword budgets differ from whitespace budgets (the packing is
    // actually driven by the counts column, not re-derived from text)
    val ws = TextStats.packByTokenBudget(parquet, budget = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val bySub = got.map(r => r._1 -> r._4).toMap
    assert(ws != bySub, "subword packs must differ from whitespace packs")
  }

  test("lmTrain/lmScore split: cross-corpus scoring, floored model, persistence") {
    import spark.implicits._
    // corpus B's model scores corpus A: grams unseen in B take the floor
    val corpusB = docs((1L to 5L).map(i => i -> "abcabcabc"): _*)
    val corpusA = docs(100L -> "abcabc", 101L -> "xyzxyz")
    val model = TextStats.lmTrain(corpusB, n = 3)
    val scored = TextStats.lmScore(corpusA, model, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // B's gram table: abc x15? no: "abcabcabc" has 7 trigrams x 5 docs = 35 total
    // doc 100 "abcabc": 4 grams, all present in B; doc 101: 4 grams, none present
    assert(scored(100L)._1 == 4L && scored(101L)._1 == 4L, scored.toString)
    assert(scored(101L)._3 < scored(100L)._3,
      s"out-of-domain doc must score lower: ${scored(101L)._3} vs ${scored(100L)._3}")
    // floor semantics: every unseen gram scores ln(floorCount/tot)
    val tot = model.agg(org.apache.spark.sql.functions.max(col("tot"))).head.getDouble(0)
    assert(math.abs(scored(101L)._3 - BigDecimal(math.log(1.0 / tot))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, scored(101L).toString)
    // model-size bound: minCount floors rare grams OUT of the table while
    // tot still counts them, so retained grams score unchanged
    val mixed = docs((1L to 9L).map(i => i -> "abcabcabcabc") :+ (10L -> "xqzwvyjkpfgh"): _*)
    val full = TextStats.lmTrain(mixed, n = 3)
    val floored = TextStats.lmTrain(mixed, n = 3, minCount = 2L)
    assert(floored.count() < full.count(), "flooring must shrink the model")
    assert(floored.agg(org.apache.spark.sql.functions.max(col("tot"))).head.getDouble(0) ==
      full.agg(org.apache.spark.sql.functions.max(col("tot"))).head.getDouble(0))
    val sFull = TextStats.lmScore(docs(50L -> "abcabc"), full, n = 3).head
    val sFloored = TextStats.lmScore(docs(50L -> "abcabc"), floored, n = 3).head
    assert(sFull == sFloored, s"$sFull vs $sFloored")
    // persistence round-trip: a saved+reloaded model scores identically
    val dir = java.nio.file.Files.createTempDirectory("lmmodel").toString
    model.write.mode("overwrite").parquet(dir)
    val reScored = TextStats.lmScore(corpusA, spark.read.parquet(dir), n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(reScored == scored, s"$reScored vs $scored")
    // self-composition == the one-shot operator (the q56 contract)
    val oneShot = TextStats.lmRarity(mixed, n = 3).collect().map(_.toSeq).toSet
    val composed = TextStats.lmScore(mixed, TextStats.lmTrain(mixed, 3), 3)
      .collect().map(_.toSeq).toSet
    assert(oneShot == composed)
  }

  test("redactPii counts and replaces emails, phones, IPs; leaves clean text") {
    val d = docs(
      1L -> "mail a.b-c_d@sub.example.org and x@y.co today",
      2L -> "call 555-123-4567 or 555-000-1111 from 192.168.0.1",
      3L -> "no pii here at all",
      4L -> "ip 10.0.0.7 text 1.2.3.4")
    val got = TextStats.redactPii(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)), r.getString(4))).toMap
    assert(got(1L)._1 == ((2, 0, 0)), got(1L).toString)
    assert(got(1L)._2 == "mail <EMAIL> and <EMAIL> today")
    assert(got(2L)._1 == ((0, 2, 1)), got(2L).toString)
    assert(got(2L)._2 == "call <PHONE> or <PHONE> from <IP>")
    assert(got(3L)._1 == ((0, 0, 0)) && got(3L)._2 == "no pii here at all")
    assert(got(4L)._2 == "ip <IP> text <IP>")
  }

  test("aHash64: shift-invariant, twin-predicted, near-dup pair caught") {
    import spark.implicits._
    def img(w: Int, h: Int, px: (Int, Int) => Int) = {
      val b = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, px(x, y))
      b
    }
    // brightness shift: +40 on every channel flips no bit
    def base(x: Int, y: Int) = ((x * 9 % 160) << 16) |
      ((y * 7 % 160) << 8) | ((x + y) % 160)
    def bright(x: Int, y: Int) = {
      val p = base(x, y)
      (((p >> 16) + 40) << 16) | ((((p >> 8) & 0xff) + 40) << 8) |
        ((p & 0xff) + 40)
    }
    val h0 = Multimodal.aHash64(img(32, 24, base))
    assert(h0 === Multimodal.aHash64(img(32, 24, bright)))
    // production REAL-decode hashes == the analytic twin on the corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Multimodal.imageHashes(Multimodal.syntheticMedia(corpus))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seqDocs = corpus.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
      .map { case (id, t, l, s) => graft.golden.SequentialTwin.Doc(id, t, l, s) }
    val twin = graft.golden.SequentialTwin.q170ImageHashes(seqDocs.toSeq).toMap
    assert(got === twin)
    assert(got.nonEmpty)
    // a RE-ENCODED copy (same pixels, fresh PNG container — the classic
    // perceptual-dup case byte hashing misses) lands at hamming 0 and the
    // banded near-dup join catches the pair; an unrelated flat image
    // stays out
    val orig = Multimodal.pngFor(3L)
    val reenc = {
      val im = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(orig))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val flat = {
      val im = img(20, 20, (x, y) => if ((x / 10 + y / 10) % 2 == 0) 0xffffff else 0)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val media = Seq((3L, "image/png", orig), (1003L, "image/png", reenc),
        (2000L, "image/png", flat))
      .toDF("doc_id", "media_type", "blob")
    val pairs = Multimodal.imageNearDup(media, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    assert(pairs.exists(p => p._1 == 3L && p._2 == 1003L && p._3 == 0L),
      pairs.mkString(","))
    assert(!pairs.exists(p => p._1 == 2000L || p._2 == 2000L),
      pairs.mkString(","))
    // planted duplicate-MASS regression (the q176 sf0.1 failure class):
    // 12 bit-identical copies under maxBucket = 2 — a doc-id banding
    // would overflow every bucket and drop ALL pairs; value banding
    // collapses the mass to one banded id, so all C(12,2) pairs survive
    val many = (0L until 12L).map(i => (i, "image/png", orig))
      .toDF("doc_id", "media_type", "blob")
    val massPairs = Multimodal.imageNearDup(many, maxHamming = 4, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(massPairs.length == 66 && massPairs.forall(p => p._1 < p._2),
      s"expected all 66 identical-copy pairs, got ${massPairs.length}")
  }

  test("near-dup hot-hash multiplicity cap drops quadratic mass LOUDLY") {
    import spark.implicits._
    // r5 verdict #3: the identity-expansion joins key on the raw 64-bit
    // hash, so m same-hash items -> ~m² joined rows through ONE key with
    // no cap — a universal black-frame hash is a single-key quadratic
    // blowout at scale. The cap must drop such hashes loudly, not emit m².
    val orig = Multimodal.pngFor(3L)
    val many = (0L until 12L).map(i => (i, "image/png", orig))
      .toDF("doc_id", "media_type", "blob")
    // below the cap: all 66 pairs, report says zero drops
    val under = Multimodal.imageNearDup(many, maxHamming = 4,
      maxHashMult = 12L).collect()
    assert(under.length == 66, s"under-cap run must keep all pairs, got ${under.length}")
    assert(Dedup.lastDropReport("imageNearDup.hotHash") == ((0L, 0L)))
    // at >= cap multiplicity: ZERO pairs from the hot hash, loud report
    val over = Multimodal.imageNearDup(many, maxHamming = 4,
      maxHashMult = 11L).collect()
    assert(over.isEmpty, s"hot hash must be dropped, got ${over.length} pairs")
    assert(Dedup.lastDropReport("imageNearDup.hotHash") == ((1L, 12L)),
      s"drop must be loud: ${Dedup.lastDropReport.get("imageNearDup.hotHash")}")

    // video side: 4 bit-identical GIFs (id + 768 aligns every modulus) —
    // each sampled frame hash occurs 4x; cap 3 drops them all loudly
    val ids = Seq(2L, 770L, 1538L, 2306L)
    val media = Multimodal.syntheticMedia(ids.toDF("doc_id"))
    val underV = Multimodal.videoNearDup(media, maxHashMult = 8L).collect()
    assert(underV.length == 6, s"4 identical videos must give 6 pairs, got ${underV.length}")
    assert(Dedup.lastDropReport("videoNearDup.hotHash") == ((0L, 0L)))
    val overV = Multimodal.videoNearDup(media, maxHashMult = 3L).collect()
    assert(overV.isEmpty, s"hot frame hashes must drop, got ${overV.length} pairs")
    val (nHot, slots) = Dedup.lastDropReport("videoNearDup.hotHash")
    assert(nHot > 0L && slots > 0L, s"video drop must be loud: ($nHot, $slots)")
  }

  test("readability: integer Flesch ingredients and hard flag") {
    import spark.implicits._
    val d = Seq(
      // 4 words, 1 sentence (no terminators -> floor), syllables 1+1+2+1=5
      (1L, "the dog barked loud"),
      // terminators count sentences; 'zz' has no vowel -> 1-syllable floor
      (2L, "go now. stop! zz"),
      // polysyllabic words push F below 50 -> hard
      (3L, "unquestionably extraordinary unbelievable organizational" +
        " incomprehensibilities administratively")
    ).toDF("doc_id", "text")
    val got = TextStats.readability(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    // doc1: W=4 S=1 Y= the(1)+dog(1)+barked(2: a,e)+loud(1: ou) = 5
    //   F = 206.835 - 1.015*4 - 84.6*5/4 = 96.9 -> easy
    assert(got(1L) === ((4L, 1L, 5L, false)))
    // doc2: W=4 S=2 ("now." and "stop!"), Y = go(1)+now(1)+stop(1)+zz(1)=4
    //   F = 206.835 - 1.015*2 - 84.6*1 = 120.2 -> easy
    assert(got(2L) === ((4L, 2L, 4L, false)))
    // doc3: 6 long words, many vowel groups -> hard
    assert(got(3L)._4 === true)
    // integer identity: hard iff the cross-multiplied form says so
    got.values.foreach { case (wds, s, y, hard) =>
      val lhs = 206835L * s * wds - 1015L * wds * wds - 84600L * y * s
      assert(hard === (lhs < 50000L * s * wds))
    }
  }

  test("stripBoilerplate: source-scoped election, no keeper, hash parity") {
    import spark.implicits._
    // "x y" is boilerplate in source A (3 distinct docs) and must be
    // excised from ALL of them — but doc 5 in source B also contains
    // "x y" once and must keep it (the election is per-source)
    val planted = Seq(
      (1L, "x y\na a", "A"), (2L, "x y\nb b", "A"),
      (3L, "c c\nx y", "A"), (4L, "d d", "A"),
      (5L, "x y\ne e", "B"), (6L, "f f", "B"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.stripBoilerplate(planted, minDocs = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, "a a"), (2L, 2L, 1L, "b b"), (3L, 2L, 1L, "c c"),
      (4L, 1L, 0L, "d d"), (5L, 2L, 0L, "x y\ne e"), (6L, 1L, 0L, "f f")))
    // a doc that is PURE boilerplate survives as empty text; within-doc
    // repeats count ONE distinct-doc vote but are all excised
    val wiped = Dedup.stripBoilerplate(Seq(
        (1L, "x y", "A"), (2L, "x y\nx y", "A"), (3L, "x y\nz", "A"))
        .toDF("doc_id", "text", "source"), minDocs = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(wiped(1L) == ((1L, "")) && wiped(2L) == ((2L, "")) &&
      wiped(3L) == ((1L, "z")), wiped.toString)
    // corpus enrichment: partitioning changes nothing;
    // every doc loses its nav header, even doc_ids the footer too
    val docs = Dedup.syntheticBoilerplate(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val exact = rows(Dedup.stripBoilerplate(docs))
    assert(rows(Dedup.stripBoilerplate(docs.repartition(7))) == exact)
    assert(exact.forall { case (id, _, _, nRem, clean) =>
      nRem == (if (id % 2 == 0) 2L else 1L) && !clean.contains("nav ") &&
        !clean.contains("copyright ") })
  }

  test("containmentPairs: asymmetric, brute-force twin, loud cap") {
    import spark.implicits._
    // doc 2 contains doc 1 verbatim plus as much again: every 6-gram of
    // doc 1 is in doc 2 (containment 100%), but not vice versa
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (100 to 114).map(i => s"v$i").mkString(" ")
    val other = (200 to 215).map(i => s"u$i").mkString(" ")
    val got = Dedup.containmentPairs(
        docs(1L -> small, 2L -> big, 3L -> other), n = 6, minContainPct = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString) // 7/22 grams the other way
    // brute-force twin on the corpus slice at two partitionings
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = rows(Dedup.containmentPairs(corpus, n = 6, minContainPct = 50))
    assert(rows(Dedup.containmentPairs(corpus.repartition(7), n = 6,
      minContainPct = 50)) == exact)
    assert(exact.nonEmpty)
    val twin = {
      val ds = corpus.select("doc_id", "text").as[(Long, String)].collect()
      val sh = ds.map { case (id, t) =>
        id -> t.split(" ", -1).sliding(6).filter(_.length == 6)
          .map(_.mkString("")).toSet }.toMap
      (for {
        (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a != b
        inter = (sa & sb).size if inter * 100 >= sa.size * 50
      } yield (a, b, inter.toLong, sa.size.toLong)).toSet
    }
    assert(exact == twin,
      s"sym diff: ${(exact diff twin).take(2)} / ${(twin diff exact).take(2)}")
    assert(Dedup.lastDropReport("containmentPairs") == ((0L, 0L)))
    // a tiny cap drops hot grams LOUDLY and can only lose pairs
    val capped = rows(Dedup.containmentPairs(corpus, n = 6,
      minContainPct = 50, maxGramPostings = 2))
    assert(Dedup.lastDropReport("containmentPairs")._1 > 0L)
    assert(capped.map(p => (p._1, p._2))
      .subsetOf(exact.map(p => (p._1, p._2))))
  }

  test("lmAnnotate scores rows in place exactly as lmScore's explode/join plan") {
    val corpus = docs(
      1L -> "ab",                                   // shorter than n: no gram
      2L -> "",
      3L -> "漢字かな交じり文、漢字かな",             // CJK
      4L -> "𝔘𝔫𝔦 😀😀😀😀 x",                      // supplementary plane
      5L -> "a😀b",                                 // one gram spanning a surrogate pair
      6L -> "abcabcabcabc",
      7L -> "the quick brown fox jumps over the lazy dog")
    val other = docs((20L to 24L).map(i => i -> "abcab 漢字かな 😀😀 the quick"): _*)
    val models = Seq(
      "self" -> TextStats.lmTrain(corpus, n = 3),
      "floored cross-corpus" -> TextStats.lmTrain(other, n = 3, minCount = 2L))
    for ((name, model) <- models; broadcastRows <- Seq(4000000L, 0L)) {
      val want = TextStats.lmScore(corpus, model, n = 3, broadcastRows = broadcastRows)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
      val (annotated, release) = TextStats.lmAnnotate(corpus, model, n = 3,
        broadcastRows = broadcastRows)
      assert(annotated.columns.toSeq == corpus.columns.toSeq ++
        Seq("n_grams", "freq_sum", "lm_logprob"), name)
      val got = annotated.collect().map { r =>
        val i = corpus.columns.length
        r.getLong(0) -> (if (r.isNullAt(i)) None
          else Some((r.getLong(i), r.getLong(i + 1), r.get(i + 2))))
      }.toMap
      release()
      assert(got.keySet == (1L to 7L).toSet, s"$name, $broadcastRows")
      assert(got.collect { case (id, Some(v)) => id -> v } == want, s"$name, $broadcastRows")
      assert(got(1L).isEmpty && got(2L).isEmpty && got(5L).map(_._1).contains(1L),
        s"$name, $broadcastRows: $got")
    }
  }
}
