package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Bloom, Bpe, Dedup, Multimodal, Similarity, TextStats, Urls}

/** Driver contract — queries (Spark) + oracleSql (DuckDB twin) per operator.
  * Column names/aliases match between both sides (the driver hash-compares
  * values under sorted column names). Double aggregates are rounded on BOTH
  * sides to absorb summation-order ulps. */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Flagship: end-to-end KG triples on the smallest corpus. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.triples(spark, "/root/testdata/sf0.001").toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------------- relational core
    "q01_pricing_agg" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),
    "q02_topk_orders" -> ((s, dir) => {
      s.read.parquet(t(dir, "orders"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"), col("o_orderpriority"))
    }),
    "q03_join_mktsegment" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
    }),
    "q04_part_brand_qty" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val p = s.read.parquet(t(dir, "part")).filter(col("p_size") < 15)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n_lines"))
    }),
    "q05_region_rollup" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val n = s.read.parquet(t(dir, "nation"))
      val r = s.read.parquet(t(dir, "region"))
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
    }),
    "q06_top_event_per_user" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      s.read.parquet(t(dir, "events"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), round(col("value"), 2).as("top_value"))
    }),
    "q07_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(t(dir, "events"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            col("ts").cast("timestamp").cast("double") -
              col("prev").cast("timestamp").cast("double") > 1800.0, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),
    "q08_salted_join" -> ((s, dir) => {
      // hot-key-only skew salting (the EntityLink.linkSalted pattern):
      // a cheap keyed-count pre-pass finds hot join keys; ONLY those are
      // salted/replicated — cold keys join once. Replicating the whole
      // build side xSalts would multiply shuffle volume by the salt count.
      // Result identical to a plain join (oracle-checked).
      val salts = 8
      // NO input spread here (tried, measured, reverted): lineitem rows
      // are wide (16 columns), so repartitioning them costs more than the
      // single-split scan it would parallelize — the spread discipline
      // pays off only when the spread rows are narrow relative to the
      // compute they feed
      val li0 = s.read.parquet(t(dir, "lineitem"))
      val hot = li0.groupBy(col("l_orderkey")).count()
        .filter(col("count") > 5L).select(col("l_orderkey").as("hk"))
      val li = li0.join(broadcast(hot), li0("l_orderkey") === col("hk"), "left")
        .withColumn("salt",
          when(col("hk").isNotNull,
            pmod(xxhash64(col("l_partkey"), col("l_linenumber")), lit(salts)).cast("int"))
            .otherwise(lit(0)))
        .drop("hk")
      val o = s.read.parquet(t(dir, "orders"))
        .join(broadcast(hot), col("o_orderkey") === col("hk"), "left")
        .withColumn("salt",
          explode(when(col("hk").isNotNull, sequence(lit(0), lit(salts - 1)))
            .otherwise(array(lit(0)))))
        .drop("hk")
      li.join(o, li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n_lines"))
    }),
    "q09_anti_semi" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val li = s.read.parquet(t(dir, "lineitem")).select(col("l_orderkey"))
      val withL = o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_lineitems"))
      val noL = o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_lineitems"))
      withL.unionByName(noL).select(col("kind"), col("n"))
    }),
    "q10_set_ops" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders")).select(col("o_custkey").as("k")).distinct()
      val c = s.read.parquet(t(dir, "customer")).filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("k"))
      val inter = o.intersect(c).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
      val minus = c.except(o).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
      inter.unionByName(minus).select(col("op"), col("n"))
    }),
    "q11_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(t(dir, "events"))
        .withColumn("running_value", round(sum(col("value")).over(w), 2))
        .select(col("user_id"), col("event_id"), col("running_value"))
    }),
    "q12_cube_revenue" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("revenue"), col("n"))
    }),
    "q13_distinct_agg" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
    }),
    // ------------------------------------------- corpus ops (vocab A1/A2)
    "q20_vocab_trim" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 10)
    }),
    "q21_dedup_exact" -> ((s, dir) =>
      Dedup.exactByText(s.read.parquet(t(dir, "documents")))),
    "q22_quality" -> ((s, dir) =>
      TextStats.quality(s.read.parquet(t(dir, "documents")))),
    "q23_lang_dist" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),
    // ---- TPC-H-class relational widening (q200-q205): the OLAP verb
    // surface under Catalyst's own join reordering / semi-join /
    // broadcast-scalar machinery; money sums follow the board's
    // round-4 convention, count/quantity aggregates are exact integers
    // (l_quantity is integral-valued, so its double sums are exact) ----
    // TPCH Q11 shape: brands whose revenue exceeds 1/25 of the total
    // (broadcast one-row total, the board's crossJoin convention)
    "q200_important_brands" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val part = s.read.parquet(t(dir, "part"))
      val rev = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("v"))
      val total = rev.agg(sum(col("v")).as("tot"))
      rev.crossJoin(broadcast(total))
        .filter(col("v") * lit(25) > col("tot"))
        .select(col("p_brand"), round(col("v"), 2).as("value"))
    }),
    // TPCH Q13: order-count distribution INCLUDING zero-order customers
    // (the left join no inner formulation can express) — exact integers
    "q201_customer_distribution" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val o = s.read.parquet(t(dir, "orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    }),
    // TPCH Q15 shape: top-3 suppliers by shipped revenue in one quarter
    "q202_top_suppliers" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val sup = s.read.parquet(t(dir, "supplier"))
      li.filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1995-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .orderBy(desc("rev"), asc("s_suppkey")).limit(3)
        .select(col("s_suppkey"), col("s_name"), round(col("rev"), 2).as("total_rev"))
    }),
    // TPCH Q4 shape: orders with at least one lineitem shipped after the
    // order date, counted per priority — a correlated EXISTS as one
    // conditioned LEFT SEMI join, exact integers
    "q203_priority_check" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val li = s.read.parquet(t(dir, "lineitem"))
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
    }),
    // TPCH Q18 shape: large-volume orders (sum of quantities > 150) with
    // their customer — quantity sums are exact (integral doubles)
    "q204_volume_orders" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      li.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("total_qty").cast("long").as("total_qty"))
    }),
    // TPCH Q5: regional nation revenue through the SIX-table join
    // (customer-orders-lineitem-supplier-nation-region, local suppliers
    // only) — the Catalyst join-reorder showcase
    "q205_regional_revenue" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val o = s.read.parquet(t(dir, "orders"))
      val li = s.read.parquet(t(dir, "lineitem"))
      val sup = s.read.parquet(t(dir, "supplier"))
      val n = s.read.parquet(t(dir, "nation"))
      val r = s.read.parquet(t(dir, "region"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey") &&
          col("r_name") === lit("ASIA"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),
    "q24_langid" -> ((s, dir) =>
      TextStats.langId(s.read.parquet(t(dir, "documents")))),
    "q25_token_counts" -> ((s, dir) =>
      TextStats.tokenCounts(s.read.parquet(t(dir, "documents")))),
    // EXACT heavy hitters (tokens > 1% of the stream) via the two-pass
    // Misra–Gries composition: pass 1's MG sketch (<= 100 counters per
    // partial buffer — the full histogram never shuffles) yields a
    // guaranteed candidate SUPERSET; pass 2 re-counts only candidates
    // exactly, so the order-dependent sketch counts never reach the
    // output and a plain GROUP BY + HAVING SQL oracle matches exactly
    "q182_heavy_hitters" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      graft.ops.Sketches.heavyHitters(
        docs.select(explode(split(lower(col("text")), " ")).as("token")),
        k = 100)
    }),
    // Count-Min error profile: one-pass CM sketch (order-invariant
    // counter sums; depth*width longs per task), probed at the exact
    // top-50 tokens — (token, cnt, cm_est) with est >= cnt always;
    // golden twin replays cells and probes with the same Xxh64 chain
    "q183_count_min" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      graft.ops.Sketches.cmTopEstimates(
        docs.select(explode(split(lower(col("text")), " ")).as("token")))
    }),
    // EXACT quadratic twin of the LSH dedups — intentionally bounded to a
    // fixed candidate universe (doc_id < 2000): pairwise work grows as the
    // square of docs sharing a gram, so the exact form exists to oracle the
    // LSH operators, never to run unbounded at scale (production uses
    // minhashLsh and verifies candidates only)
    "q26_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 2000), n = 2, minJaccardPct = 50)),
    "q27_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(s.read.parquet(t(dir, "documents")), shingleSize = 3,
        numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("doc1"), col("doc2"), col("inter"), col("uni"))),
    "q28_simhash" -> ((s, dir) =>
      Dedup.simhash(s.read.parquet(t(dir, "documents")))),
    "q29_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(s.read.parquet(t(dir, "documents")))),
    "q30_ann_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(s.read.parquet(t(dir, "embeddings")), col("vec_id") < 20, 10)),
    "q31_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(t(dir, "embeddings")), col("vec_id") < 20, 10)),
    // IVF under a TRAINED coarse quantizer: distributed k-means (Lloyd)
    // with the deterministic hierarchical mean fold; golden-oracled vs an
    // independent sequential k-means + probe/rank twin
    "q66_ann_ivf_trained" -> ((s, dir) =>
      Similarity.ivfTopKTrained(s.read.parquet(t(dir, "embeddings")), col("vec_id") < 20, 10)),
    // product quantization (Jégou et al. 2011): per-subspace L2 k-means
    // books, one-byte codes (32x compression at m=8), asymmetric-distance
    // approximate-cosine scan over the codes only; golden-oracled vs an
    // independent sequential PQ twin
    "q78_ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(s.read.parquet(t(dir, "embeddings")), col("vec_id") < 20, 10)),
    // composed IVF-PQ (Jégou et al. 2011 §IV): the trained coarse quantizer
    // prunes the ADC scan to nProbe lists per query — the 10^10-vector
    // serving plan (pqTopK's flat scan isolates the PQ contribution; this
    // is the production composition); golden-oracled vs the sequential
    // coarse-kmeans + probe-filtered ADC twin
    "q173_ann_ivf_pq" -> ((s, dir) =>
      Similarity.ivfPqTopK(s.read.parquet(t(dir, "embeddings")), col("vec_id") < 20, 10)),
    // SemDeDup (Abbas et al. 2023): k-means clusters -> exact within-cluster
    // cosine pairs (triangle-blocked all-pairs join) -> CC duplicate groups,
    // keep the least-centroid-similar representative; golden-oracled vs an
    // independent sequential twin (own union-find, unblocked O(c^2) scan)
    "q67_semdedup" -> ((s, dir) =>
      Similarity.semDedup(s.read.parquet(t(dir, "embeddings")), threshold = 0.4)),
    "q32_embedding_neardup" -> ((s, dir) =>
      // 0.4: the synthetic embeddings hold no true near-dups (their
      // most-similar pairs sit around 0.45-0.6 cosine), so at the honest
      // 64/4 production geometry the 16-bit bands surface only the most
      // collinear few — the row matters as the banding+verify machinery's
      // oracle; design-point (cosine 0.95+) recall is property-tested on
      // planted duplicates at up to 50k vectors in GoldenTwinSpec
      Dedup.embeddingNearDup(s.read.parquet(t(dir, "embeddings")), threshold = 0.4)
        .select(col("v1"), col("v2"), round(col("cosine"), 6).as("cosine"))),
    "q33_fingerprint" -> ((s, dir) =>
      TextStats.fingerprints(s.read.parquet(t(dir, "documents")))),
    "q34_multimodal_meta" -> ((s, dir) => {
      Multimodal.extract(Multimodal.syntheticMedia(s.read.parquet(t(dir, "documents"))))
        .toDF().select(col("doc_id"), col("media_type"), col("n_bytes"))
    }),
    "q35_frame_sample" -> ((s, dir) => {
      // frameSample keeps only video rows — generate only those (q170 note)
      Multimodal.frameSample(
        Multimodal.extract(Multimodal.syntheticMedia(
          s.read.parquet(t(dir, "documents")), Set("video/gif"))))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sampled"))
    }),
    // real in-JDK animated-GIF video decode: the aHash64 of every 4th
    // frame, read frame-by-frame from the actual bitstream — the
    // frame-level perceptual fingerprint that is the standard video
    // near-dup primitive; the golden twin predicts every hash from the
    // closed-form gray spec without ever opening a codec
    "q175_video_frame_hashes" -> ((s, dir) =>
      // video rows only (q170 note)
      Multimodal.videoFrameHashes(
        Multimodal.syntheticMedia(s.read.parquet(t(dir, "documents")),
          Set("video/gif")))),
    // perceptual video near-dup over the banded frame-hash join, with a
    // planted +768 union: the synthetic-video spec's moduli (dims 24/16,
    // gray 256, frames 12) all align at id+768 (≡ 0 mod 3, so the copy
    // stays a video row), making every planted copy a bit-identical GIF —
    // guaranteed-recall targets at every sf, beyond the natural id≡id+768k
    // duplicates sf0.1 already contains; golden twin = quadratic
    // definitional all-pairs (lossless vs the band join by pigeonhole)
    "q176_video_neardup" -> ((s, dir) => {
      val base = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val planted = base.filter(pmod(col("doc_id"), lit(3)) === 2)
        .select((col("doc_id") + 768L).as("doc_id"))
      Multimodal.videoNearDup(
        Multimodal.syntheticMedia(base.union(planted).distinct(),
          Set("video/gif"))) // video rows only (q170 note)
    }),
    // real in-JDK WAV decode (javax.sound.sampled): sample rate / channel
    // count / PCM frame count read from the actual RIFF bitstream; the
    // golden twin predicts every field analytically from the synthetic
    // audio spec without touching the codec
    "q174_audio_meta" -> ((s, dir) => {
      // audio rows only (q170 note); the filter below stays as the guard
      Multimodal.extract(Multimodal.syntheticMedia(
          s.read.parquet(t(dir, "documents")), Set("audio/wav")))
        .toDF().filter(col("media_type") === "audio/wav")
        .select(col("doc_id"), col("width").cast("long").as("sample_rate"),
          col("height").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"), col("n_bytes"))
    }),
    // transitive near-dup clusters: LSH pairs -> connected components ->
    // keep-list (A~B, B~C collapse to one representative without an A~C pair)
    "q36_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(s.read.parquet(t(dir, "documents")))),
    // deterministic sequence packing (pretraining batch assembly):
    // hash-bucketed, per-bucket doc_id order, 512-token cumulative budget
    "q51_sequence_packing" -> ((s, dir) =>
      TextStats.packByTokenBudget(s.read.parquet(t(dir, "documents")), budget = 512L)),
    // batched media resize (REAL codecs: PNG decode+NN-resample for image
    // rows, GIF frame-0 poster thumbnails for video rows, both re-encoded
    // as PNG): aspect-fitted dims + rendition bytes; audio passes out.
    // The rendition bytes are emitted HEX-ENCODED — the driver's pandas
    // compare cannot hash/sort raw binary columns (round-2 q49 err).
    "q49_media_resize" -> ((s, dir) =>
      // resize drops audio rows — generate image+video only (q170 note)
      Multimodal.resize(Multimodal.syntheticMedia(
          s.read.parquet(t(dir, "documents")),
          Set("image/png", "video/gif"))).toDF()
        .select(col("doc_id"), col("media_type"), col("src_w"), col("src_h"),
          col("out_w"), col("out_h"), hex(col("thumb")).as("thumb_hex"))),
    // EXACT Jaccard over the FULL corpus — no bounded universe needed:
    // the prefix-filtered inverted index (AllPairs/PPJoin) makes the exact
    // form scale; contrast with q26's deliberately bounded quadratic twin
    "q39_jaccard_prefix_filter" -> ((s, dir) =>
      Dedup.ngramJaccardPairsPrefix(s.read.parquet(t(dir, "documents")), n = 3,
        minJaccardPct = 60)),
    // Gopher/C4-style integer-rule quality filter
    "q37_quality_filter" -> ((s, dir) =>
      TextStats.curate(s.read.parquet(t(dir, "documents")))),
    // deterministic hash sampling (stable across runs/partitionings)
    "q38_hash_sample" -> ((s, dir) =>
      TextStats.sampleByHash(s.read.parquet(t(dir, "documents")), col("doc_id"), 37)
        .select(col("doc_id"))),
    // corpus-wide duplicated k-token SPAN detection (C4/Dolma primitive)
    "q52_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(s.read.parquet(t(dir, "documents")), k = 10)),
    // duplicated-span REMOVAL (Lee et al. 2022): excise every non-first
    // occurrence of a duplicated k-token window; golden-oracled vs an
    // independent two-pass sequential twin
    "q63_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDupSpans(s.read.parquet(t(dir, "documents")), k = 10)),
    // CCNet first-stage paragraph dedup (Wenzek et al. 2020) over the
    // deterministic multi-paragraph enrichment: corpus-wide first
    // occurrence of each distinct paragraph wins; golden-oracled vs an
    // independent two-pass sequential twin
    "q68_paragraph_dedup" -> ((s, dir) =>
      Dedup.dedupParagraphs(Dedup.syntheticParagraphs(s.read.parquet(t(dir, "documents"))))),
    // Dolma-style Bloom-filter dedup of an incoming snapshot (doc_id % 3
    // == 0) against the base corpus: filter built once from base
    // paragraphs, probe is a shuffle-free codegen'd per-row filter;
    // golden-oracled vs a twin that re-derives the double-hashing formula
    "q76_bloom_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Bloom.dedupAgainst(
        Dedup.syntheticParagraphs(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)),
        Dedup.syntheticParagraphs(docs.filter(pmod(col("doc_id"), lit(3L)) === 0)))
    }),
    // benchmark decontamination: n-gram overlap vs a stand-in eval set
    // (docs with doc_id % 97 == 0); benchmark grams broadcast, no corpus
    // shuffle (plan-tested)
    "q53_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.decontaminate(docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0), k = 8)
    }),
    // deterministic source-mixture sampling (pretraining data mixing)
    "q54_mixture_sample" -> ((s, dir) =>
      TextStats.sampleBySourceRates(s.read.parquet(t(dir, "documents")),
        Map("src0" -> 100, "src1" -> 80, "src2" -> 55, "src3" -> 30), defaultPct = 10)
        .select(col("doc_id"), col("source"))),
    // model-based quality filter (GPT-3/CCNet/LLaMA shape): linear
    // classifier over hashed word uni+bigram features — one codegen'd
    // per-row pass, zero shuffle, the weight table a broadcast plan
    // constant; integer logits, golden-oracled vs an independent twin
    "q77_quality_classifier" -> ((s, dir) =>
      TextStats.qualityClassifier(s.read.parquet(t(dir, "documents")),
        TextStats.classifierWeights(1 << 18))),
    // Gopher-style repetition profile: top word-1/2/3-gram counts, zero
    // shuffle (native codegen'd top_ngram_count — per-doc output, so the
    // gram counting never leaves the row)
    "q55_repetition" -> ((s, dir) =>
      TextStats.repetitionProfile(s.read.parquet(t(dir, "documents")))),
    // char-trigram LM rarity (perplexity-proxy quality signal): model table
    // broadcast, one per-doc combine shuffle
    "q56_lm_rarity" -> ((s, dir) =>
      TextStats.lmRarity(s.read.parquet(t(dir, "documents")), n = 3)),
    // corpus-wide word-trigram counts, top-100 (count desc, gram asc):
    // explode -> partial-agg combine -> TakeOrdered; full SQL twin
    "q72_ngram_counts" -> ((s, dir) =>
      TextStats.ngramCounts(s.read.parquet(t(dir, "documents")), n = 3, topK = 100)),
    // CCNet head/middle/tail quality terciles per language: LM logprobs +
    // broadcast percentile thresholds (no per-lang sort); full SQL twin
    // (the q56 gram pipeline composed with quantile_cont thresholds)
    "q73_ccnet_buckets" -> ((s, dir) =>
      TextStats.ccnetBuckets(s.read.parquet(t(dir, "documents")), n = 3)),
    // XLM temperature-scaled source mixing (alpha-sampling): derived
    // per-source keep rates + the deterministic hash rule, over a
    // deterministically SKEWED source map (doc_id % 4 != 0 -> 'web', so
    // one source holds 75% of the corpus and flattening actually fires);
    // golden-oracled (the hash rule has no DuckDB analog, as q54/q38)
    "q74_temperature_mixture" -> ((s, dir) =>
      TextStats.temperatureMixture(
        s.read.parquet(t(dir, "documents")).withColumn("source",
          when(pmod(col("doc_id"), lit(4)) === 0, col("source")).otherwise(lit("web"))),
        alpha = 0.3)
        .select(col("doc_id"), col("source"), col("pct"))),
    // fixed-window document chunking for context-length-bounded training
    // (maxTokens 16, overlap 4); full SQL twin (integer chunk arithmetic)
    "q75_chunk_docs" -> ((s, dir) =>
      TextStats.chunkDocs(s.read.parquet(t(dir, "documents")), maxTokens = 16, overlap = 4)),
    // DSIR importance resampling (Xie et al. 2023): target = the English
    // subset, raw = the full corpus; summed n-gram log-likelihood-ratio
    // weights, deterministic gumbel top-k; golden-oracled vs a sequential
    // twin with spec-re-derived char-n-gram models
    "q69_dsir_select" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      TextStats.dsirSelect(docs, docs.filter(col("lang") === "en"), k = 100)
    }),
    // PII redaction over deterministically injected emails/phones/IPs
    // (documents carry no natural PII; the oracle reconstructs the same
    // corpus independently from doc_id)
    "q57_pii_redact" -> ((s, dir) =>
      TextStats.redactPii(TextStats.syntheticPii(s.read.parquet(t(dir, "documents"))))),
    // URL canonicalization (domain-level dedup primitive): the oracle
    // CONSTRUCTS the expected canonical form independently from
    // (source, doc_id) rather than re-running a canonicalizer
    "q58_url_canonicalize" -> ((s, dir) =>
      Urls.canonicalize(Urls.syntheticUrls(s.read.parquet(t(dir, "documents"))))
        .select(col("doc_id"), col("url_canon"), col("domain"))),
    // deterministic per-source cap (C4/RefinedWeb per-domain cap): md5-
    // ordered nested subsets, SQL-oracled bit-for-bit
    "q62_domain_cap" -> ((s, dir) =>
      TextStats.capPerSource(s.read.parquet(t(dir, "documents")), k = 12)),
    // per-source corpus profile with EXACT percentiles (the oracled form;
    // approx_percentile is the 100 TB path, property-tested against exact)
    "q59_corpus_profile" -> ((s, dir) =>
      TextStats.corpusProfile(s.read.parquet(t(dir, "documents")), exact = true)),
    // distributed BPE vocabulary induction (tokenizer training): corpus
    // aggregated once to the distinct-word table; per-merge argmax via
    // TakeOrdered(1); golden-oracled vs an independent sequential BPE
    "q60_bpe_merges" -> ((s, dir) =>
      Bpe.train(s.read.parquet(t(dir, "documents")), numMerges = 20)),
    // tokenizer APPLY side: segment the corpus with the learned merges
    // (map-only, merges broadcast, greedy rank-indexed apply emitting the
    // REAL subword sequence); golden-oracled vs the twin's own
    // independently-trained-and-applied segmentation
    "q61_bpe_segment" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val merges = Bpe.train(docs, numMerges = 20)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.segment(docs, merges)
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"),
          concat_ws(" ", col("subwords")).as("subword_str"))
    }),
    // tokenizer ENCODE: subword ids under the induced GPT-2-shaped
    // vocabulary (base symbols UTF-8-ordered, then merge outputs by
    // rank); golden-oracled vs the twin's independently derived
    // vocabulary + its own greedy segmentation
    "q70_bpe_encode" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val merges = Bpe.train(docs, numMerges = 20)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encodeIds(docs, merges, Bpe.vocabulary(merges, Bpe.baseSymbols(docs)))
        .select(col("doc_id"), col("n_subwords"),
          array_join(transform(col("ids"), i => i.cast("string")), " ").as("ids_str"))
    }),
    // pretraining PACK ASSEMBLY (the pipeline's last mile): BPE-encode to
    // ids -> subword-budget packing -> per-pack concatenated id sequences,
    // with the tokenizer round-tripped through its saved parquet artifact
    // (train -> save -> load -> encode); golden-oracled vs the twin's own
    // encode + packing composition
    "q71_packed_ids" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val trained = Bpe.train(docs, numMerges = 20)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      val root = java.nio.file.Files.createTempDirectory("tokenizer_artifact").toString
      Bpe.saveTokenizer(s, trained, Bpe.vocabulary(trained, Bpe.baseSymbols(docs)), root)
      val (merges, vocab) = Bpe.loadTokenizer(s, root)
      Bpe.packedIds(docs, merges, vocab, budget = 512L)
        .select(col("bucket"), col("pack_id"), col("n_docs"), col("n_subwords"),
          array_join(transform(col("ids"), i => i.cast("string")), " ").as("ids_str"))
    }),
    // production-DEPTH tokenizer apply: 2,000 learned merges over the
    // deterministically enriched vocabulary (syntheticRichText — the base
    // corpus has only ~31 distinct tokens). The rank-indexed greedy apply
    // prices this the same as the 20-merge case (cost independent of
    // |merges|); the incremental driver trainer makes the 2k-merge training
    // itself cheap. Golden-oracled vs the twin's naive recount trainer +
    // min-scan greedy apply.
    "q64_bpe_segment_2k" -> ((s, dir) => {
      val docs = Bpe.syntheticRichText(s.read.parquet(t(dir, "documents")))
      val merges = Bpe.train(docs, numMerges = 2000, minPairFreq = 1L)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.segment(docs, merges)
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"),
          concat_ws(" ", col("subwords")).as("subword_str"))
    }),
    // sequence packing budgeted in BPE SUBWORD units (context windows are
    // sized in tokenizer units, not whitespace words): Bpe.segment's
    // n_subwords feeds the same bucket-local packing window as q51
    "q65_packing_subwords" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val merges = Bpe.train(docs, numMerges = 20)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      TextStats.packByCounts(
        Bpe.segment(docs, merges)
          .select(col("doc_id"), col("n_subwords").as("n_tokens")),
        budget = 512L)
    }),
    // ------------------------------------------------ KG pipeline (no SQL)
    "q40_extraction_invariant" -> ((s, dir) => {
      // native codegen'd Catalyst expression (graft.functions.ExtractText)
      Pipeline.pages(s, dir).toDF()
        .select(col("url"), col("lang"),
          (graft.functions.GraftFunctions.extract_text(col("html")) === col("text"))
            .as("extract_ok"))
    }),
    "q41_sentences" -> ((s, dir) => {
      import s.implicits._
      Pipeline.sentences(s, dir).map(x => (x.url, x.sentIdx, x.tokens.length))
        .toDF("url", "sentIdx", "n_tokens")
    }),
    "q42_mentions" -> ((s, dir) => Pipeline.mentions(s, dir).toDF()),
    "q43_tagged_tokens" -> ((s, dir) =>
      graft.ner.NerStage.taggedTokens(Pipeline.taggedSentences(s, dir)).toDF()
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))),
    "q44_linked" -> ((s, dir) =>
      graft.link.EntityLink.linkBroadcast(
        Pipeline.mentions(s, dir), Pipeline.aliasDict(s, dir)).toDF()),
    "q45_linked_salted_parity" -> ((s, dir) => {
      // salted path must equal broadcast path: multiset symmetric difference
      // == 0. ONE pass per side (groupBy-count) + one full-outer join — the
      // exceptAll formulation evaluated each link plan twice and shuffled
      // full-width rows four times.
      val m = Pipeline.mentions(s, dir)
      val d = Pipeline.aliasDict(s, dir)
      val a = graft.link.EntityLink.linkBroadcast(m, d).toDF()
      val b = graft.link.EntityLink.linkSalted(m, d, salts = 4, hotThreshold = 50L).toDF()
      val keys = a.columns.toSeq
      val ac = a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_a"))
      val bc = b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_b"))
      ac.join(bc, keys, "full_outer")
        .select(coalesce(col("n_a"), lit(0L)).as("n_a"),
                coalesce(col("n_b"), lit(0L)).as("n_b"))
        .agg(
          coalesce(sum(greatest(col("n_a") - col("n_b"), lit(0L))), lit(0L)).as("bms"),
          coalesce(sum(greatest(col("n_b") - col("n_a"), lit(0L))), lit(0L)).as("smb"))
        .select(expr(
          "stack(2, 'broadcast_minus_salted', bms, 'salted_minus_broadcast', smb) AS (side, n)"))
    }),
    "q46_canon_components" -> ((s, dir) => {
      Pipeline.canonMap(s, dir)
        .agg(count(lit(1)).as("n_nodes"), countDistinct(col("component")).as("n_components"))
    }),
    "q47_triples" -> ((s, dir) => Pipeline.triples(s, dir).toDF()),
    // static PageRank over the canonical entity graph in EXACT fixed-point
    // longs (no float summation -> shuffle-order invariant, bit-identical
    // to the sequential twin); 10 iterations, d = 0.85, GraphX
    // staticPageRank semantics (PageRankSpec cross-checks GraphX to 1e-4)
    "q79_pagerank" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.PageRank.run(tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // per-entity KG degree profile: out/in triple counts + distinct
    // neighbors, two 8-byte-key partial-agg shuffles full-outer stitched;
    // oracle = DuckDB aggregating the q47 golden triples independently
    "q80_entity_degrees" -> ((s, dir) =>
      graft.kg.PageRank.degreeProfile(Pipeline.triples(s, dir).toDF())),
    // personalized PageRank: entity salience relative to the 3 most
    // prolific subjects (teleport mass only on seeds, broadcast seed
    // table, same exact-fixed-point loop as q79)
    "q82_ppr_salience" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val seeds = graft.kg.PageRank.degreeProfile(tr)
        .orderBy(desc("out_triples"), asc("id")).limit(3).select(col("id"))
      graft.kg.PageRank.runPersonalized(
        tr.select(col("subj").as("src"), col("obj").as("dst")), seeds)
    }),
    "q48_span_metrics_greedy_vs_viterbi" -> ((s, dir) => {
      val greedy = graft.ner.NerStage.mentions(Pipeline.taggedSentences(s, dir, useViterbi = false))
      val vit = graft.ner.NerStage.mentions(Pipeline.taggedSentences(s, dir, useViterbi = true))
      graft.eval.SpanEval.prf(vit, greedy)
    }),
    // incremental KG maintenance: raw triples split into two snapshots by
    // url hash, each aggregated to a mergeable fact table (counts + KMV
    // url sketch), then UPSERTED — the oracle recomputes from scratch in
    // DuckDB, so equality proves snapshot-merge associativity; at this
    // scale every key is below sketch saturation, so est_urls is exact
    "q83_kg_upsert" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val a = tr.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
      val b = tr.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
      graft.kg.Triples.upsertFacts(
          graft.kg.Triples.facts(a), graft.kg.Triples.facts(b))
        .select("subj", "pred", "obj", "lang", "n_mentions", "est_urls")
    }),
    // mergeable KMV distinct-count sketch (k=64): per-lang distinct-text
    // estimates with O(k) state per group (map-side partial agg, only
    // k-long buffers shuffle) + an ALL row built by MERGING the per-lang
    // sketches — the twin recomputes ALL from raw hash sets, so equality
    // proves the sketch-merge algebra end-to-end
    "q81_distinct_sketch" -> ((s, dir) =>
      graft.ops.Sketches.distinctSketch(
        s.read.parquet(t(dir, "documents")), "lang", "text")),
    // temporal AS-OF join (merge shape: union-tag + ONE window per key, no
    // range-join explosion): each event joined to the user's latest order
    // at-or-before the event. Event timestamps (one month of 2024) are
    // remapped into the order-date era by INTEGER microsecond arithmetic
    // (x80 stretch from 2024-01-01 onto 1995-01-01) so different events of
    // a user match different orders and early events match nothing — the
    // oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, a genuinely independent
    // implementation of the operator. Right-side (user, date) ties are
    // collapsed by max orderkey first (determinism contract).
    "q84_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events")).select(
        col("event_id"), col("user_id"),
        timestamp_micros(lit(788918400000000L) +
          (unix_micros(col("ts").cast("timestamp")) -
            lit(1704067200000000L)) * 80L).as("ts_asof"))
      val ord = graft.ops.AsOf.latestPerTs(
        s.read.parquet(t(dir, "orders")).select(
          col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")),
        Seq("user_id"), "o_orderdate", col("o_orderkey").desc)
      graft.ops.AsOf.joinBackward(ev, ord, Seq("user_id"), "ts_asof", "o_orderdate")
        .select(col("event_id"), col("user_id"), col("ts_asof"),
          col("o_orderdate").as("asof_order_ts"),
          col("o_orderkey").as("asof_orderkey"),
          round(col("o_totalprice"), 2).as("asof_total"))
    }),
    // per-entity triangle counts over the undirected simple entity graph:
    // degree-ordered orientation (compact-forward — each triangle found
    // exactly once at its minimum-(deg,id) corner, wedge fan-out bounded
    // O(sqrt m) per node regardless of hub skew). Oracle = DuckDB running
    // the NAIVE unordered a<b<c three-way self-join over the golden
    // triples — a genuinely different algorithm with no orientation.
    "q85_triangles" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.triangles(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // duplicate-entity merge candidates: pairs whose URL-occurrence sets
    // (which pages mention the entity, either side of a triple) overlap
    // with Jaccard >= 3/5 — blocked through shared-url witnesses, exact
    // integer cross-multiplied threshold, no float division on any engine
    "q86_merge_candidates" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val occ = tr.select(col("subj").as("node"), col("url").as("w"))
        .unionAll(tr.select(col("obj").as("node"), col("url").as("w")))
      graft.kg.Graphs.mergeCandidates(occ, tauNum = 3, tauDen = 5)
    }),
    // multi-source directed BFS: shortest hop distance (<= 6) from the 3
    // most prolific subject entities (q82's seed rule) — frontier-only
    // expansion, settled-set anti-join per level; oracle = DuckDB's
    // RECURSIVE CTE engine walking the same golden graph
    "q87_bfs_reach" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val seeds = graft.kg.PageRank.degreeProfile(tr)
        .orderBy(desc("out_triples"), asc("id")).limit(3).select(col("id"))
      graft.kg.Graphs.bfs(
        tr.select(col("subj").as("src"), col("obj").as("dst")), seeds, maxDepth = 6)
    }),
    // incremental canonicalization: the entity graph (sparsified by a pure
    // integer-mod rule so it has >1 component — the full board graph is one
    // giant component) arrives as TWO snapshots split by url hash; the
    // result is upsertLabels(cc(half0), half1) — the INCREMENTAL path —
    // while the DuckDB oracle computes components from scratch by
    // recursive-CTE transitive closure over ALL edges, certifying
    // upsert(cc(a), b) == cc(a ∪ b) end-to-end (the q83 associativity
    // pattern, for graph connectivity instead of sketch algebra)
    "q88_canon_upsert" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val sparse = tr.filter(col("subj") =!= col("obj") &&
          (col("subj") % 13 + col("obj") % 13) % 13 === 0)
        .select(col("subj").as("src"), col("obj").as("dst"), col("url"))
      val h0 = sparse.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
        .select(col("src"), col("dst"))
      val h1 = sparse.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
        .select(col("src"), col("dst"))
      graft.canon.ConnectedComponents.upsertLabels(
        graft.canon.ConnectedComponents.run(h0), h1)
    }),
    // ontology-style materialization: irreflexive transitive closure of
    // the RARE-predicate relation (the hierarchy-shaped slice — the dense
    // related_to slice is exactly what closure must never run on, and the
    // scaladoc says so) via SEMI-NAIVE delta iteration; oracle = DuckDB's
    // recursive-CTE fixpoint over the same golden edges
    "q89_closure" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.transitiveClosure(
        tr.filter(col("pred") =!= "related_to")
          .select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // knowledge fusion: per (subj, pred) elect the canonical object by
    // support-weighted majority (mentions, then distinct urls, then min
    // obj) — one order-free max(struct) election, no window sort; the
    // oracle re-runs the vote as an explicit row_number window
    "q90_fuse_conflicts" -> ((s, dir) =>
      graft.kg.Triples.fuseConflicts(Pipeline.triples(s, dir).toDF())),
    // positive-PMI co-occurrence edges: entity pairs sharing a sentence
    // context more often than independence predicts — all-integer
    // cross-multiplied PMI test in decimal(38,0), support >= 2; context
    // key is the plain (url, sentIdx) string on BOTH engines (never a
    // hash the oracle can't reproduce)
    "q91_pmi_edges" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val ctx = concat(col("url"), lit("#"), col("sentIdx").cast("string"))
      val mentions = tr.select(ctx.as("ctx"), col("subj").as("node"))
        .unionAll(tr.select(ctx.as("ctx"), col("obj").as("node")))
      graft.kg.Graphs.pmiEdges(mentions, minSupport = 2L)
    }),
    // AMIE-style path-rule mining: for every (p1, p2, p3) the exact
    // integer support of `p1(x,z) ∧ p2(z,y) ⇒ p3(x,y)` — one mid-entity
    // self-join of the DISTINCT triple set, one pair-set head join,
    // confidence left as the exact fraction support/body_pairs
    "q92_rule_mining" -> ((s, dir) =>
      graft.kg.Triples.mineRules(Pipeline.triples(s, dir).toDF(), minSupport = 2L)),
    // cross-lingual entity support matrix: per-entity mention counts
    // pivoted WIDE by language — pivot values are the pipeline's CLOSED
    // language-routing set (ner.Models registry), passed explicitly so
    // Spark skips the extra distinct-values inference pass (the 100 TB
    // discipline for pivot: never let the engine scan for column names)
    "q93_entity_lang_matrix" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val wide = Pipeline.triples(s, dir).toDF()
        .groupBy(col("subj")).pivot("lang", langs).agg(count(lit(1)))
        .na.fill(0L, langs)
      wide.withColumn("total", langs.map(col).reduce(_ + _))
    }),
    // KG-embedding training prep: deterministic FILTERED negative sampling
    // (TransE setting) — candidate = id-sorted entity at
    // pmod(xxhash64(subj, pred, obj, slot, seed), |E|); corruptions that
    // are true triples are dropped; golden-oracled vs the sequential twin
    "q94_negative_samples" -> ((s, dir) =>
      graft.kg.Embedding.negativeSamples(Pipeline.triples(s, dir).toDF(), k = 4)),
    // k-core decomposition of the entity graph: coreness per node via
    // level-synchronous distributed peeling (adaptive BZ driver fallback);
    // golden-oracled vs the twin's naive min-degree peel
    "q95_coreness" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.coreness(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // SPARQL-style BGP: ?x merge ?z . ?z order ?y . ?x batch ?w — three
    // filtered scans joined on shared variables, DISTINCT bindings; the
    // oracle runs the same conjunction as plain DuckDB joins
    "q96_bgp_match" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgp(Pipeline.triples(s, dir).toDF(), Seq(
        Pattern(V("x"), "merge", V("z")),
        Pattern(V("z"), "order", V("y")),
        Pattern(V("x"), "batch", V("w"))))
    }),
    // weighted shortest paths from the q82/q87 seed set, hop-bounded
    // Bellman–Ford with frontier pruning; edge weight = support cost
    // (weakly-attested edges cost more): w = 6 - least(distinct urls, 5);
    // oracle = DuckDB recursive-CTE path enumeration (bounded by hops and
    // the integer weight ceiling) — an independent naive evaluation
    "q97_sssp" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val edges = tr.groupBy(col("subj").as("src"), col("obj").as("dst"))
        .agg((lit(6L) - least(countDistinct(col("url")), lit(5L))).as("w"))
      val seeds = graft.kg.PageRank.degreeProfile(tr)
        .orderBy(desc("out_triples"), asc("id")).limit(3).select(col("id"))
      graft.kg.Graphs.sssp(edges, seeds, maxHops = 6)
    }),
    // minimum spanning forest (distributed Borůvka) over the q97 weighted
    // co-mention relation made undirected — the cheapest-evidence backbone
    // of the KG's support graph; deterministic under the (w, a, b) total
    // order, so the golden Prim twin agrees by MSF uniqueness
    "q177_msf" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val edges = tr.filter(col("subj") =!= col("obj"))
        .groupBy(least(col("subj"), col("obj")).as("src"),
          greatest(col("subj"), col("obj")).as("dst"))
        .agg((lit(6L) - least(countDistinct(col("url")), lit(5L))).as("w"))
      graft.kg.Graphs.minSpanningForest(edges)
    }),
    // single-linkage clusters at support threshold w <= 4, computed by
    // CUTTING THE MSF (filter the forest, connected components over what
    // survives) — while the SQL oracle computes the same clusters from ALL
    // original edges <= 4 via a recursive CTE, never touching the forest:
    // the classic single-linkage equivalence theorem as an independent
    // cross-check of the MSF's structural correctness
    "q178_single_linkage" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val edges = tr.filter(col("subj") =!= col("obj"))
        .groupBy(least(col("subj"), col("obj")).as("src"),
          greatest(col("subj"), col("obj")).as("dst"))
        .agg((lit(6L) - least(countDistinct(col("url")), lit(5L))).as("w"))
      val msf = graft.kg.Graphs.minSpanningForest(edges)
      graft.canon.ConnectedComponents.run(
          msf.filter(col("w") <= 4).select(col("a").as("src"), col("b").as("dst")))
        .select(col("id"), col("component").as("cluster"))
    }),
    // maximal independent set over the rare-predicate hierarchy slice
    // (the q89 convention — the full co-mention graph is a near-clique
    // where MIS degenerates to one node) — deterministic Luby rounds
    // under the (xxhash64(id, seed), id) priority order: a maximal set
    // of pairwise NON-co-occurring entities
    // (landmark/anchor selection, conflict-free merge scheduling); golden
    // twin replays the identical recurrence sequentially (the priority IS
    // the spec, the q94/q99 convention)
    "q179_mis" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.maximalIndependentSet(
        tr.filter(col("pred") =!= "related_to")
          .select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // Jones–Plassmann greedy coloring of the same slice — per round every
    // priority-local-minimum uncolored node takes the smallest color its
    // colored neighbors don't use; colors partition entity-merge work into
    // lock-free waves, count bounded by maxDegree+1; golden twin
    "q180_coloring" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.greedyColoring(
        tr.filter(col("pred") =!= "related_to")
          .select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // densest subgraph (Charikar via the Bahmani batch peel) on the same
    // rare-predicate slice — the over-merge/spam-core detector; the
    // (1+eps)-average-degree rule is integer cross-multiplied so the
    // golden twin replays the identical peel; adaptive driver fallback,
    // distributed loop equality-tested at threshold 0
    "q184_densest" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.densestSubgraph(
        tr.filter(col("pred") =!= "related_to")
          .select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // per-entity 4-clique participation over the full co-mention graph —
    // kClist orientation (each 4-clique found once at its max-(deg,id)
    // extension of its min-corner triangle); oracle = DuckDB's naive
    // unordered a<b<c<d six-way self-join, no orientation anywhere
    "q185_four_cliques" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.fourCliques(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // per-entity BUTTERFLY counts (2×2 bicliques) over the page×entity
    // incidence of the rare-predicate slice (the q179/q184 convention —
    // the related_to hub makes the full incidence near-complete) — the
    // bipartite template/co-citation detector; wedge-formula counting
    // centered on the bounded page side, while the oracle is DuckDB's
    // naive four-way self-join enumerating every butterfly with no wedge
    // formula anywhere
    "q186_butterflies" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
        .filter(col("pred") =!= "related_to")
      val inc = tr.select(col("url").as("l"), col("subj").as("r"))
        .unionAll(tr.select(col("url").as("l"), col("obj").as("r")))
      // COMPUTED-DECIMAL PITFALL (r5 verdict): DuckDB materializes a
      // *computed* DECIMAL/HUGEINT column to pandas as float64, while
      // Spark's parquet decimal reads back as exact Decimal objects — the
      // driver then hashes Decimal('5') against 5.0 and mismatches even
      // though the values are bit-identical. The oracle SQL is frozen, so
      // the Spark side emits the same pandas-level float64 (values are
      // exact integers far inside 2^53 at any tested SF; the operator
      // itself keeps its exact decimal contract).
      graft.kg.Graphs.butterflies(inc)
        .withColumn("butterflies", col("butterflies").cast("double"))
    }),
    // TIME-RESPECTING earliest-arrival reachability from the top-3
    // out-degree entities: each triple edge usable only AT its page's
    // warc_ts, paths must be chronologically non-decreasing — the
    // provenance-propagation question static BFS (q87) answers wrongly;
    // golden twin replays the hop-bounded relaxation sequentially
    "q187_temporal_reach" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val pg = Pipeline.pages(s, dir).toDF()
        .select(col("url"), unix_micros(col("warc_ts")).as("ts"))
      val edges = tr.join(pg, Seq("url"))
        .select(col("subj").as("src"), col("obj").as("dst"), col("ts"))
      val seeds = graft.kg.PageRank.degreeProfile(tr)
        .orderBy(desc("out_triples"), asc("id")).limit(3).select(col("id"))
      graft.kg.Temporal.earliestReach(edges, seeds, startTs = 0L, maxHops = 12)
    }),
    // TRIADIC CLOSURE timestamps on the full co-mention graph: per
    // triangle, WHEN it completed (latest first-observation of its three
    // edges, each edge first observed at its earliest asserting page's
    // warc_ts) and the closure span — the link-prediction ground-truth
    // clock; oracle re-derives page timestamps analytically from doc ids
    // and re-enumerates triangles unordered in SQL
    "q189_triadic_closure" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val pg = Pipeline.pages(s, dir).toDF()
        .select(col("url"), unix_micros(col("warc_ts")).as("ts"))
      val edges = tr.join(pg, Seq("url"))
        .select(col("subj").as("src"), col("obj").as("dst"), col("ts"))
      graft.kg.Graphs.triadicClosures(edges)
    }),
    // cross-corpus KMV overlap profile: per SOURCE slice, the k-minimum
    // -values sketch of distinct word 3-shingles; every source pair gets
    // exact-integer sketch set statistics (union kept, common kept,
    // Jaccard permille) plus the deterministic cardinality estimates —
    // the corpus-contamination overlap measure that at 100 TB replaces
    // an exact distinct-join shuffle with |groups|·k longs; golden twin
    // replays the identical sketch math
    "q188_corpus_overlap" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val sh = docs.select(col("source"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("shingle"))
      graft.ops.Sketches.sketchOverlap(sh, "source", "shingle", k = 256)
    }),
    // CONDENSATION LAYERING — the bow-tie structure decomposition, run
    // on the top-3 kNN DIGRAPH over the embedding table (the graph that
    // keeps growing with the corpus — the fixed ~30-entity KG slice
    // collapses to ONE SCC past sf0.01): SCC-contract, drop intra-SCC
    // self-loops (the contracted cycles), topologically layer the DAG
    // (layer = longest incoming chain, Kahn peel rounds, cycles loud).
    // The node universe is a deterministic stride sample of <= 500
    // vectors (the q31 codebook arithmetic) so the INDEPENDENT SQL
    // oracle — mutual-reach recursive-CTE SCC + all-walks longest path —
    // stays tractable; production layers the full graph through the same
    // distributed scc/topoLayers paths (threshold-0 equality-tested)
    "q190_condensation_layers" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val stride = math.max(1L, (maxId + 1) / 500)
      val sub = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
      val knn = Similarity.bruteForceTopK(sub, lit(true), 3)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val labels = graft.kg.Graphs.scc(knn) // (id, scc)
      val dag = graft.kg.Graphs
        .quotientGraph(knn, labels.withColumnRenamed("scc", "label"))
        .filter(col("src_label") =!= col("dst_label"))
        .select(col("src_label").as("src"), col("dst_label").as("dst"))
      graft.kg.Graphs.topoLayers(dag,
        labels.select(col("scc").as("id")).distinct())
    }),
    // MUTUAL k-NN graph over the embedding table (the ER/semantic-cluster
    // primitive: hub neighbors that rank no one back are pruned). Probing
    // every list (nProbe = nList) makes the scan exhaustive, so the SQL
    // oracle is the brute-force mutual row_number window; production sets
    // nProbe << nList (the pruned path is spec-equality-tested against
    // mutualize(bruteForceTopK) at full probes)
    "q191_mutual_knn" -> ((s, dir) =>
      Similarity.mutualKnn(s.read.parquet(t(dir, "embeddings")), k = 10,
        nList = 16, nProbe = 16)),
    // Gopher-family compression-ratio quality signal: deflate level 6 raw
    // per row (codegen'd, zero shuffle), ratio_permille = deflate_len*1000
    // div n_bytes — the vocabulary-free repetition detector (catches
    // long-period templating n-gram profiles miss); empty docs defined
    // incompressible; golden twin runs its OWN Deflater walk
    "q199_compression_ratio" -> ((s, dir) =>
      graft.ops.TextStats.compressionProfile(
        s.read.parquet(t(dir, "documents")))),
    // AMS/CountSketch F2 (self-join size) profile per language: the exact
    // second moment beside the one-pass median-of-rows estimate — the
    // moment that prices every self-join/skew decision at 100 TB; cells
    // are order-free integer sums (linear sketch), state depth*width
    // longs per group; golden twin replays cells + median bit-for-bit
    "q198_f2_sketch" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      // exact_f2/est_f2 -> double: the oracle CASTs the golden strings to
      // DECIMAL(38,0), a *computed* decimal DuckDB hands to pandas as
      // float64 (see q186 note); n_rows/err_permille stay exact int64 on
      // both sides.
      graft.ops.Sketches.f2Profile(
        docs.select(col("lang"),
          explode(split(lower(col("text")), " ")).as("token")),
        "lang", "token")
        .withColumn("exact_f2", col("exact_f2").cast("double"))
        .withColumn("est_f2", col("est_f2").cast("double"))
    }),
    // retrieval EVAL harness (MRR / hits@k / first-relevant-rank,
    // integer-exact): the BM25 ranker scored against the self-retrieval
    // ground truth (doc i is the relevant answer to the query built from
    // doc i's own first five tokens) — 50 queries; missed queries appear
    // with rank 0, never silently dropped
    "q197_retrieval_eval" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val queries = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      val ranking = graft.ops.Retrieval.bm25TopK(docs, queries, k = 10)
      val qrels = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("query_id"), col("doc_id"))
      graft.ops.Retrieval.rankEval(ranking, qrels, k = 10)
    }),
    // RESIDUAL IVF-PQ (the Faiss IVFPQ default): sub-books quantize
    // r = v - c(list) so the byte budget spends itself on within-list
    // detail; ADC identity (dot(q,c)/|q| + sum lut) / sqrt(|c|^2 + sum den)
    // with per-LIST denominator tables; golden-oracled vs the sequential
    // residual twin (independent coarse kmeans + residual books + the
    // same identity, index-ascending accumulation)
    "q196_ann_ivf_pq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualTopK(s.read.parquet(t(dir, "embeddings")),
        col("vec_id") < 20, 10)),
    // HYBRID retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    // the lexical BM25 list (q192's ranker, depth 20) fused with the
    // embedding ANN list (q30's exact ranker, depth 20) — the synthetic
    // fixture's convention is vec_id i embeds doc_id i, so ranks meet on
    // one id space; each reciprocal enters as the exact floor
    // 1e6 div (60 + rank), so fused scores are order-free integer sums
    "q195_hybrid_rrf" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      val lexical = graft.ops.Retrieval.bm25TopK(docs, queries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val semantic = Similarity.bruteForceTopK(
        s.read.parquet(t(dir, "embeddings")), col("vec_id") < 5, 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      // rrf -> double: the oracle's SUM(BIGINT) is a DuckDB HUGEINT that
      // pandas materializes as float64 (see q186 note); ids/rank stay int64
      graft.ops.Retrieval.rrfFuse(Seq(lexical, semantic), k = 10)
        .withColumn("rrf", col("rrf").cast("double"))
    }),
    // margin-based bitext mining (Artetxe & Schwenk / CCMatrix): cross-set
    // pairs scored by the ratio margin over k-NN average cosines instead
    // of raw cosine (hubness correction) — integer-exact via round(cos·1e9)
    // neighbor sums and one cross-multiplied division; label 0 = source
    // side, label 1 = target side, forward "max" strategy (best y per x)
    "q194_bitext_margin" -> ((s, dir) =>
      // margin_permille -> double: the oracle's HUGEINT division result
      // materializes to pandas as float64 (see q186 note); ids stay int64
      Similarity.marginPairs(s.read.parquet(t(dir, "embeddings")),
        col("label") === 0, col("label") === 1, k = 4)
        .withColumn("margin_permille", col("margin_permille").cast("double"))),
    // MATRYOSHKA two-stage ANN (MRL adaptive retrieval): shortlist 50 by
    // cosine over the first 16 dims (a quarter of the float bytes), exact
    // full-dim rerank of the shortlist only; recall loss = shortlist miss
    // rate, surviving pairs rank bit-identically to the exact scan
    "q206_ann_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaTopK(s.read.parquet(t(dir, "embeddings")),
        col("vec_id") < 20, 10)),
    // SQ8 scalar-quantized ANN (Faiss SQ8 shape): one byte per dimension,
    // per-vector scale cancels in cosine so ranking runs on the INTEGER
    // codes — dot/ssq exact integers, one correctly-rounded division +
    // two sqrt, so the oracle recomputing codes from scratch matches
    // bit-for-bit; zero vectors excluded (no direction)
    "q193_ann_sq8" -> ((s, dir) =>
      Similarity.sq8TopK(s.read.parquet(t(dir, "embeddings")), col("vec_id") < 20, 10)),
    // INTEGER-EXACT BM25 retrieval (Okapi shape, raw Robertson idf ratio —
    // the whole score is cross-multiplied rationals floor-divided to scaled
    // integers, so per-term quotients SUM order-free and the independent
    // engine reproduces every score bit-for-bit; ranking is the bounded
    // Long-keyed k-heap — no Window). Queries = the first five tokens of
    // the five lowest-id documents (self-retrieval sanity built in)
    "q192_bm25" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      // score -> double: the oracle CASTs its HUGEINT sum to DECIMAL(38,0),
      // a *computed* decimal that pandas materializes as float64 (see q186
      // note); query_id/doc_id/rank stay exact int64 on both sides
      graft.ops.Retrieval.bm25TopK(docs, queries, k = 10)
        .withColumn("score", col("score").cast("double"))
    }),
    // hop-bounded Katz centrality, integer-exact: katz·4^H = Σ_h
    // walks_h(v)·4^(H−h) in decimal(38,0) — attenuated walk-count
    // influence (rewards MANY inbound walks, where PageRank normalizes
    // mass away); the oracle re-derives the walk counts as four unrolled
    // SQL joins over the golden triples and sums the same integers
    "q181_katz" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      // katz_scaled -> double: the oracle CASTs its HUGEINT walk sums to
      // DECIMAL(38,0), a *computed* decimal that pandas materializes as
      // float64 (see q186 note); the operator keeps its exact decimal
      // contract internally (loud ANSI overflow backstop intact)
      graft.kg.Graphs.katz(
        tr.select(col("subj").as("src"), col("obj").as("dst")), maxHops = 4)
        .withColumn("katz_scaled", col("katz_scaled").cast("double"))
    }),
    // RDF N-Quads serialization of the triple table (graph = provenance
    // url): pure per-row codegen'd projection, zero shuffle; control-char
    // rows quarantined loudly; the oracle rebuilds each line by string
    // concatenation over the golden triples
    "q98_nquads" -> ((s, dir) =>
      graft.kg.Rdf.toNQuads(Pipeline.triples(s, dir).toDF())),
    // DeepWalk corpus prep: 2 deterministic directed walks of length <= 4
    // from every non-sink entity — neighbor choice is a pure hash of
    // (start, walk, step, cur), so the distributed walks replay
    // bit-identically in the sequential golden twin
    "q99_random_walks" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.randomWalks(
        tr.select(col("subj").as("src"), col("obj").as("dst")),
        walksPerNode = 2, maxLen = 4)
    }),
    // deterministic synchronous label propagation (5 rounds): community
    // label per entity — window-free max(struct) election with the
    // bitwise-NOT tie-break; golden-oracled vs the sequential recurrence
    "q100_lpa_communities" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.labelPropagation(
        tr.select(col("subj").as("src"), col("obj").as("dst")), iters = 5)
    }),
    // local clustering coefficient as an exact integer fraction
    // (triangles, deg-choose-2 pairs) — the hub-vs-community KG-quality
    // signal; oracle recomputes both sides naively in DuckDB
    "q101_clustering_coeff" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.clusteringCoefficient(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // BGP with OPTIONAL groups: required ?x merge ?z, OPTIONAL ?z order ?y,
    // OPTIONAL ?x batch ?w — SPARQL left-outer semantics (unmatched
    // optionals keep the row with nulls); oracle = DuckDB LEFT JOINs
    "q102_bgp_optional" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpOptional(Pipeline.triples(s, dir).toDF(),
        Seq(Pattern(V("x"), "merge", V("z"))),
        Seq(Pattern(V("z"), "order", V("y")),
            Pattern(V("x"), "batch", V("w"))))
    }),
    // skip-gram (center, context) co-occurrence counts over the q99 walk
    // corpus, window 2 — the word2vec hand-off; ONE keyed equi-join
    // (positions explode to their target steps), oracle re-derives the
    // pairs from the committed golden walks by SQL self-join
    "q103_skipgram_pairs" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.skipGramPairs(
        graft.kg.Graphs.randomWalks(
          tr.select(col("subj").as("src"), col("obj").as("dst")),
          walksPerNode = 2, maxLen = 4),
        window = 2)
    }),
    // exact modularity ingredients of a labeling: per community
    // (members, within_edges, degree_sum, m) as pure integers — Q
    // derivable exactly downstream. The board labeling is the 4-way
    // id-hash partition (LPA floods this dense graph to ONE community,
    // a 1-row fixture; the spec twins modularity∘LPA separately);
    // oracle recomputes all four integers from the golden triples
    "q104_modularity" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val edges = tr.select(col("subj").as("src"), col("obj").as("dst"))
      val labels = tr.select(col("subj").as("id"))
        .unionAll(tr.select(col("obj").as("id"))).distinct()
        .withColumn("label", pmod(col("id"), lit(4L)))
      graft.kg.Graphs.modularity(edges, labels)
    }),
    // SPARQL UNION of FILTERed BGP branches: { ?a order ?b FILTER ?a<?b }
    // UNION { ?a batch ?b FILTER ?a!=?b } — distinct aligned bindings
    "q105_bgp_union" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpUnion(Pipeline.triples(s, dir).toDF(), Seq(
        (Seq(Pattern(V("a"), "order", V("b"))),
          Seq(Filter("a", Lt, V("b")))),
        (Seq(Pattern(V("a"), "batch", V("b"))),
          Seq(Filter("a", Ne, V("b"))))))
    }),
    // RDFS (ρdf) entailment materialization: subPropertyOf chain
    // merge/order->rel, sort->arranged->rel; domain/range axioms firing
    // on INFERRED predicates; subClassOf chain on the introduced class
    // ids — schema driver-closed, instance rules are broadcast joins;
    // oracle replays the rules with DuckDB recursive CTEs
    "q106_rdfs_closure" -> ((s, dir) => {
      import s.implicits._
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Rdfs.materialize(tr,
        subProp = Seq(("merge", "rel"), ("order", "rel"),
          ("sort", "arranged"), ("arranged", "rel")).toDF("sub", "sup"),
        subClass = Seq((9001L, 9100L), (9100L, 9200L), (9002L, 9200L),
          (9003L, 9100L)).toDF("sub", "sup"),
        domain = Seq(("merge", 9001L), ("batch", 9002L),
          ("arranged", 9003L)).toDF("pred", "cls"),
        range = Seq(("rel", 9004L)).toDF("pred", "cls"))
    }),
    // node2vec biased walks (integer weights wBack=2, wCommon=6, wFar=3
    // ~ p=3, q=2 scaled by 6): deterministic 2nd-order hash walks,
    // golden-oracled vs the sequential replay
    "q107_node2vec_walks" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.node2vecWalks(
        tr.select(col("subj").as("src"), col("obj").as("dst")),
        walksPerNode = 2, maxLen = 4, wBack = 2L, wCommon = 6L, wFar = 3L)
    }),
    // SPARQL property path ?x merge/order+ ?y: one-step merge composed
    // with the transitive closure of order (hierarchy-shaped slice);
    // oracle = DuckDB recursive CTE for order+ joined with merge
    "q108_property_path" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchPath(Pipeline.triples(s, dir).toDF(),
        Seq(Step("merge"), Step("order", plus = true)))
    }),
    // deterministic FILTERED link-prediction holdout (~1/5 test, one-pass
    // demotion of test rows whose subj/obj/pred lack train signal) —
    // golden-oracled vs the sequential hash/set replay
    "q109_link_split" -> ((s, dir) =>
      graft.kg.Embedding.linkPredictionSplit(
        Pipeline.triples(s, dir).toDF(), testNum = 1L, testDen = 5L)),
    // 1-WL color refinement, 3 rounds: per-entity structural fingerprint
    // colors — golden-oracled vs the sequential recurrence replay
    "q110_wl_colors" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.wlColors(
        tr.select(col("subj").as("src"), col("obj").as("dst")), rounds = 3)
    }),
    // GraphSAGE-style deterministic neighbor sampling, fanouts (3, 2):
    // bounded 2-hop training neighborhoods — golden-oracled vs the
    // sequential replay of the hash-ranked sample
    "q111_sampled_neighbors" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.sampleNeighbors(
        tr.select(col("subj").as("src"), col("obj").as("dst")), Seq(3, 2))
    }),
    // SHACL-style validation report: cardinality shapes (merge 1..2,
    // order exactly 1, scan <=1, hash 1..99 distinct objects per subject)
    // + an sh:in value shape on stream (allowed = the even-id objects);
    // constraints broadcast, one (subj,pred) counts shuffle, violations
    // stream out; oracle replays both constraint families as DuckDB SQL
    "q112_shacl_report" -> ((s, dir) => {
      import s.implicits._
      val tr = Pipeline.triples(s, dir).toDF()
      val card = Seq(("merge", 1L, 2L), ("order", 1L, 1L),
        ("scan", 0L, 1L), ("hash", 1L, 99L))
        .toDF("pred", "min_count", "max_count")
      val allowed = tr
        .filter(col("pred") === "stream" && col("obj") % 2 === 0)
        .select(col("pred"), col("obj")).distinct()
      graft.kg.Shacl.validate(tr, card, allowed)
    }),
    // SPARQL aggregate SELECT: per ?x the distinct-solution count and
    // COUNT(DISTINCT ?y) of { ?x merge ?z . ?z order ?y } — the BGP's
    // set-semantics bindings partial-aggregated once; oracle = the same
    // joins + GROUP BY in DuckDB
    "q113_bgp_agg" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpAgg(Pipeline.triples(s, dir).toDF(),
        Seq(Pattern(V("x"), "merge", V("z")),
          Pattern(V("z"), "order", V("y"))),
        groupVars = Seq("x"), countVar = "y")
    }),
    // SPARQL CONSTRUCT: derive a new graph from the bindings of
    // { ?x merge ?z . ?z order ?y } via two templates — (?x merged_order
    // ?y) and the reverse (?y feeds ?x); DISTINCT union (RDF set
    // semantics); oracle = UNION of two SELECT DISTINCTs
    "q114_construct" -> ((s, dir) => {
      import graft.kg.Bgp._
      construct(Pipeline.triples(s, dir).toDF(),
        Seq(Pattern(V("x"), "merge", V("z")),
          Pattern(V("z"), "order", V("y"))),
        Seq(Pattern(V("x"), "merged_order", V("y")),
          Pattern(V("y"), "feeds", V("x"))))
    }),
    // canonical structural digest per connected component of the q88
    // sparsified entity graph (6 components at sf0.001): WL colors
    // folded id-free — the KG-versioning / subgraph-dedup key;
    // golden-oracled vs the sequential union-find + WL + fold twin
    "q115_graph_digest" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val sparse = tr.filter(col("subj") =!= col("obj") &&
          (col("subj") % 13 + col("obj") % 13) % 13 === 0)
        .select(col("subj").as("src"), col("obj").as("dst"))
      graft.kg.Graphs.graphDigest(sparse, rounds = 3)
    }),
    // neighborhood function (HyperANF shape, KMV sketches): per entity
    // the h-hop reach size for h = 0..3 over the directed triple graph —
    // exact below sketch saturation (k = 1024 >> |V| here), so the
    // oracle is DuckDB's recursive-CTE exact BFS reach count
    "q116_reach_profile" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.neighborhoodFunction(
        tr.select(col("subj").as("src"), col("obj").as("dst")), maxHops = 3)
    }),
    // KG snapshot diff: the corpus split into two builds by sentence
    // parity (a SQL-replicable rule so the oracle sees the same split) —
    // added/removed/support-changed facts via two partial-agg profiles
    // and one keyed full-outer join; the unchanged majority never leaves
    // the join
    "q117_kg_diff" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Triples.diffSnapshots(
        tr.filter(col("sentIdx") % 2 === 0),
        tr.filter(col("sentIdx") % 2 === 1))
    }),
    // HITS hubs & authorities, 5 rounds, all-integer bitshift
    // renormalization — order-exact, bit-reproducible; golden-oracled vs
    // the sequential replay of the same recurrence
    "q118_hits" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.hits(
        tr.select(col("subj").as("src"), col("obj").as("dst")), iters = 5)
    }),
    // SPARQL negation: ?x merge ?z MINUS { ?z order ?y } MINUS
    // { ?x scan ?w } — merge bindings whose target orders nothing and
    // whose source scans nothing; oracle = DuckDB NOT EXISTS anti-joins
    "q119_bgp_minus" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpMinus(Pipeline.triples(s, dir).toDF(),
        Seq(Pattern(V("x"), "merge", V("z"))),
        Seq(Seq(Pattern(V("z"), "order", V("y"))),
          Seq(Pattern(V("x"), "scan", V("w")))))
    }),
    // OWL-lite property rules: inverseOf(merge, merged_by), symmetric
    // stream, transitive order — driver-closed mapping alphabet, one
    // broadcast mapping pass, semi-naive closure on the augmented order
    // slice, one post-closure mapping pass; oracle replays the rules
    // with DuckDB recursive CTEs
    "q120_owl_rules" -> ((s, dir) =>
      graft.kg.Rdfs.materializeOwl(Pipeline.triples(s, dir).toDF(),
        inverseOf = Seq(("merge", "merged_by")),
        symmetric = Seq("stream"),
        transitive = Seq("order")))
    ,
    // SPARQL ORDER BY/LIMIT: top-10 of { ?x merge ?z . ?z order ?y }
    // by ?y descending under the TOTAL (y desc, x asc, z asc) order —
    // TakeOrderedAndProject (per-partition heaps), never a global sort;
    // oracle = the same total order in DuckDB
    "q121_bgp_topk" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpTopK(Pipeline.triples(s, dir).toDF(),
        Seq(Pattern(V("x"), "merge", V("z")),
          Pattern(V("z"), "order", V("y"))),
        orderVar = "y", k = 10, descending = true)
    }),
    // hop-bounded closeness centrality (H = 3) from the KMV neighborhood
    // function — exact below saturation; oracle = DuckDB recursive-CTE
    // min-distances summed per source
    "q122_closeness" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.closeness(
        tr.select(col("subj").as("src"), col("obj").as("dst")), maxHops = 3)
    }),
    // strongly connected components of the DIRECTED entity graph on the
    // sparse preds (merge/scan/stream) — the ontology/alias cycle
    // detector; scc = min mutual-reachable id, so the oracle is DuckDB's
    // recursive-CTE closure intersected with its transpose
    "q123_scc" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.scc(
        tr.filter(col("pred").isin("merge", "scan", "stream"))
          .select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // link-prediction candidates: non-adjacent pairs at distance 2 with
    // exact integer features (cn, degrees, union) — every classical
    // predictor (Jaccard/AA/PA) derives downstream; pairs generate only
    // through shared neighbors, never all-pairs
    "q124_link_pred" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.linkPrediction(
        tr.filter(col("pred").isin("sort", "hash", "join"))
          .select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // SPARQL VALUES + GROUP_CONCAT: ?x merge ?z . ?z order ?y with an
    // inline VALUES ?x block (literal entity ids — canonical ids are
    // content-derived, stable across sf) and a deterministic ORDER BY
    // inside the concat; VALUES lowers to an IN pushed into the scans
    "q125_bgp_values_concat" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpGroupConcat(Pipeline.triples(s, dir).toDF(),
        Seq(Pattern(V("x"), "merge", V("z")),
          Pattern(V("z"), "order", V("y"))),
        groupVars = Seq("x"), concatVar = "y",
        values = Map("x" -> SparqlValuesIds))
    }),
    // fact validity intervals: recrawl observations of (user, event_type)
    // sessionized by a 1-day max gap — gaps-and-islands with ONE window
    // per key + ONE partial agg, all-integer microsecond arithmetic
    "q126_fact_intervals" -> ((s, dir) =>
      graft.kg.Temporal.coalesceIntervals(
        s.read.parquet(t(dir, "events")),
        keys = Seq("user_id", "event_type"), tsCol = "ts",
        maxGapMicros = 86400000000L)),
    // schema-level summary: predicate pairs co-occurring on a subject
    // with exact subject counts — fan-out bounded by the pred alphabet
    "q127_pred_cooccur" -> ((s, dir) =>
      graft.kg.Triples.predicateCooccurrence(
        Pipeline.triples(s, dir).toDF())),
    // SPARQL ASK: existence probe, short-circuited via limit(1) BEFORE
    // the aggregation (CollectLimit stops scans at the first solution)
    "q128_bgp_ask" -> ((s, dir) => {
      import graft.kg.Bgp._
      ask(Pipeline.triples(s, dir).toDF(), Seq(
        Pattern(V("x"), "merge", V("z")),
        Pattern(V("z"), "stream", V("w"))))
    }),
    // point-in-time snapshot: fact observations sessionized (1-day gap)
    // then filtered to the intervals covering 2024-01-15T00:00:00Z —
    // the bitemporal "what did the graph assert on day X" query
    "q129_facts_valid_at" -> ((s, dir) =>
      graft.kg.Temporal.validAt(
        s.read.parquet(t(dir, "events")),
        keys = Seq("user_id", "event_type"), tsCol = "ts",
        maxGapMicros = 86400000000L, atMicros = 1705276800000000L)),
    // one-row structure profile: reciprocity + exact integer
    // assortativity sums over the full entity graph
    "q130_degree_mixing" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.degreeMixingProfile(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // temporal RANGE JOIN: when was a user clicking WHILE purchasing —
    // both sides sessionized (12h gap), then the grid-bucketed overlap
    // join (1-day cells, each pair emitted exactly once in the cell of
    // the later start — no dedup shuffle, no theta join)
    "q131_interval_overlap" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      def iv(et: String) = graft.kg.Temporal.coalesceIntervals(
        ev.filter(col("event_type") === et),
        keys = Seq("user_id"), tsCol = "ts", maxGapMicros = 43200000000L)
      graft.kg.Temporal.overlapJoin(iv("click"), iv("purchase"),
        keys = Seq("user_id"), cellMicros = 86400000000L)
    }),
    // SPARQL DESCRIBE: the entity-page slice — one IN-filtered scan
    // (subj or obj in the literal id set), set-semantics distinct
    "q132_bgp_describe" -> ((s, dir) =>
      graft.kg.Bgp.describe(Pipeline.triples(s, dir).toDF(),
        SparqlValuesIds)),
    // ego network: the INDUCED 2-hop subgraph around two seed entities —
    // BFS reach + two semi-joins of the triple table (edges BETWEEN
    // reached nodes appear even when no BFS tree uses them)
    "q133_ego_graph" -> ((s, dir) =>
      graft.kg.Graphs.egoTriples(Pipeline.triples(s, dir).toDF(),
        SparqlValuesIds.take(2), maxDepth = 2)),
    // effective diameter at the 90th percentile from the neighborhood
    // function — cross-multiplied integer election, exact below sketch
    // saturation (k = 1024 >> |V| here), one row
    "q134_eff_diameter" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.effectiveDiameter(
        tr.select(col("subj").as("src"), col("obj").as("dst")), maxHops = 3)
    }),
    // schema induction: per-entity predicate-role signature (sorted
    // slot string, engine-exact) — one explode + one bounded-state agg
    "q135_entity_signatures" -> ((s, dir) =>
      graft.kg.Triples.entitySignatures(Pipeline.triples(s, dir).toDF())),
    // quotient graph: contract nodes to their k-core level (q95's
    // labeling) and count distinct edges between levels — the
    // multilevel "how do the cores wire to each other" summary
    "q136_quotient_graph" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val edges = tr.select(col("subj").as("src"), col("obj").as("dst"))
      graft.kg.Graphs.quotientGraph(edges,
        graft.kg.Graphs.coreness(edges)
          .select(col("id"), col("coreness").as("label")))
    }),
    // explainability: ALL simple <=3-hop paths between two seed
    // entities — frontier of partial paths, loud combinatorial bound
    "q137_enum_paths" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.enumPaths(
        tr.select(col("subj").as("src"), col("obj").as("dst")),
        SparqlValuesIds(0), SparqlValuesIds(1), maxLen = 3)
    }),
    // KG hygiene: per-component bipartiteness with exact odd-edge
    // witness counts (BFS parity from the canonical component root)
    "q138_bipartite" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.bipartiteness(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // ranked companion of q137: which entities BROKER the two seeds —
    // exact shortest-path counts through every on-path node from two
    // BFS sweeps (sigma*tau), never one-BFS-per-node betweenness
    "q139_path_brokerage" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.pathBrokerage(
        tr.select(col("subj").as("src"), col("obj").as("dst")),
        SparqlValuesIds(0), SparqlValuesIds(1), maxHops = 4)
    }),
    // embedding-based KG error detection: exact integer TransE residuals
    // (no division — scores scaled by the predicate count), top-3 least
    // plausible triples per predicate; entity->vector assignment is the
    // deterministic pmod hash into the embedding table, SQL-replayable
    "q140_transe_scores" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val emb = s.read.parquet(t(dir, "embeddings"))
      val nv = emb.count()
      val ents = tr.select(col("subj").as("id"))
        .unionAll(tr.select(col("obj").as("id"))).distinct()
      val entVecs = ents.join(
          emb.select(col("vec_id"), col("embedding").as("vec")),
          pmod(col("id"), lit(nv)) === col("vec_id"))
        .select(col("id"), col("vec"))
      val w = Window.partitionBy(col("pred"))
        .orderBy(col("score").desc, col("subj").asc, col("obj").asc)
      graft.kg.Embedding.transeScores(tr, entVecs)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }),
    // page-level entity aboutness index: top-3 entities per url by
    // (tf DESC, df ASC, id) with the exact tf-idf integer ingredients
    "q141_entity_salience" -> ((s, dir) =>
      graft.kg.Triples.entitySalience(Pipeline.triples(s, dir).toDF(), k = 3)),
    // linking-drift monitor: per linked entity the surface-form
    // distribution (dominant alias elected inside ONE aggregate via
    // min(struct(-cnt, surface)), sorted alias signature)
    "q142_alias_profile" -> ((s, dir) =>
      graft.link.EntityLink.aliasProfile(
        graft.link.EntityLink.linkBroadcast(
          Pipeline.mentions(s, dir), Pipeline.aliasDict(s, dir)).toDF())),
    // trending monitor over the event stream: daily buckets per
    // event_type, burst iff cnt >= 5 and cnt > 2x the trailing-7-day
    // mean — all-integer cross-multiplied test over the DENSE grid
    "q143_bursts" -> ((s, dir) =>
      graft.kg.Temporal.bursts(
        s.read.parquet(t(dir, "events")),
        keys = Seq("event_type"), tsCol = "ts",
        bucketMicros = 86400000000L, trailing = 7,
        numK = 2L, denK = 1L, minCount = 5L)),
    // SPARQL property-path alternation + inverse: ?x (merge|sort)/^hash ?y
    // — alternation is ONE IN-filtered scan, inversion a free column swap
    "q144_path_alt_inverse" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchPath(Pipeline.triples(s, dir).toDF(), Seq(
        Step("merge", alts = Seq("sort")),
        Step("hash", inverse = true)))
    }),
    // metapath INSTANCE counts (matchPath with multiplicity): how many
    // merge/order chains connect each endpoint pair — the metapath2vec
    // edge-weight / join-fan-out audit; count combines map-side
    "q145_metapath_counts" -> ((s, dir) => {
      import graft.kg.Bgp._
      countPaths(Pipeline.triples(s, dir).toDF(),
        Seq(Step("merge"), Step("order")))
    }),
    // semi-supervised typing: 4 trusted seed labels spread 2 synchronous
    // majority-vote rounds over the non-related_to entity graph; seeds
    // immutable, ties to the smallest type, unreached nodes absent
    "q146_type_propagation" -> ((s, dir) => {
      import s.implicits._
      val tr = Pipeline.triples(s, dir).toDF()
      val seeds = Seq(
        (SparqlValuesIds(0), "A"), (SparqlValuesIds(1), "B"),
        (SparqlValuesIds(2), "A"), (SparqlValuesIds(3), "C"))
        .toDF("id", "type")
      graft.kg.Graphs.propagateTypes(
        tr.filter(col("pred").isin("merge", "sort", "hash", "join", "order"))
          .select(col("subj").as("src"), col("obj").as("dst")),
        seeds, rounds = 2)
    }),
    // GNN feature assembly: one wide integer feature row per entity —
    // in/out degree over the simple edge set, k-core level, schema-role
    // count — stitched with keyed left joins, zero-filled
    "q147_entity_features" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val simple = tr.select(col("subj").as("src"), col("obj").as("dst"))
        .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
      val outDeg = simple.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("out_deg"))
      val inDeg = simple.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("in_deg"))
      val core = graft.kg.Graphs.coreness(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
      graft.kg.Triples.entitySignatures(tr)
        .select(col("id"), col("n_roles"))
        .join(inDeg, Seq("id"), "left")
        .join(outDeg, Seq("id"), "left")
        .join(core, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("coreness"), lit(0L)).as("coreness"),
          col("n_roles"))
    }),
    // bitemporal churn: which (user, event_type) facts the graph asserted
    // on Jan 15 but not Jan 8 (added) and vice versa (removed) — two
    // point-in-time slices anti-joined both ways
    "q148_temporal_churn" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      def va(at: Long) = graft.kg.Temporal.validAt(ev,
        keys = Seq("user_id", "event_type"), tsCol = "ts",
        maxGapMicros = 86400000000L, atMicros = at)
        .select(col("user_id"), col("event_type")).distinct()
      val before = va(1704672000000000L) // 2024-01-08T00:00:00Z
      val after = va(1705276800000000L)  // 2024-01-15T00:00:00Z
      after.join(before, Seq("user_id", "event_type"), "left_anti")
        .withColumn("status", lit("added"))
        .unionAll(before.join(after, Seq("user_id", "event_type"),
          "left_anti").withColumn("status", lit("removed")))
    }),
    // per-source template removal (C4 line-filter family, host-scoped):
    // a paragraph in >= 3 distinct docs of one source is boilerplate and
    // is excised EVERYWHERE (no keeper, unlike q68's first-wins dedup);
    // enrichment plants a per-source nav header + even-doc_id footer
    "q149_boilerplate_strip" -> ((s, dir) =>
      Dedup.stripBoilerplate(
        Dedup.syntheticBoilerplate(s.read.parquet(t(dir, "documents"))),
        minDocs = 3L)),
    // asymmetric 6-gram containment join (syndication detection):
    // |S(src) ∩ S(dst)| >= 50% of |S(src)| — the reprinted-wire-article
    // pairs symmetric Jaccard misses; exact inverted-index join with the
    // loud hot-gram cap
    "q150_containment" -> ((s, dir) =>
      Dedup.containmentPairs(s.read.parquet(t(dir, "documents")),
        n = 6, minContainPct = 50)),
    // sorted-neighborhood blocking over part names (merge/purge): window
    // w=4 under the total order (name, id) — near-miss candidate pairs
    // equality blocking hashes apart; range-partitioned sort + one
    // bucket-keyed join, never a single-partition window
    "q152_sorted_neighborhood" -> ((s, dir) =>
      graft.link.Blocking.sortedNeighborhood(
        s.read.parquet(t(dir, "part")), keyCol = "p_name",
        idCol = "p_partkey", w = 4)),
    // collective entity disambiguation: candidates rescored by KG
    // coherence with the page's other entities (pass-1 graph), elected by
    // (coherence DESC, prior DESC, id) — the AIDA-family reranking as one
    // page-bounded join + one edge probe + one window-free election
    "q151_coherent_linking" -> ((s, dir) =>
      graft.link.EntityLink.linkCoherent(
        Pipeline.mentions(s, dir), Pipeline.aliasDict(s, dir),
        Pipeline.canonMap(s, dir), Pipeline.triples(s, dir).toDF())),
    // SPARQL negated property set + zero-or-one:
    // ?x !(related_to|merge)/hash? ?y — NOT-IN scan, then the optional
    // step unions the untraversed endpoints through (p? semantics)
    "q154_path_negated_opt" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchPath(Pipeline.triples(s, dir).toDF(), Seq(
        Step.notIn("related_to", "merge"), Step("hash", opt = true)))
    }),
    // SPARQL GRAPH ?g { ?x merge ?y . ?y related_to ?z } — the BGP
    // co-grouped by provenance page; every join gains the graph key
    "q155_bgp_graphs" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchBgpGraphs(Pipeline.triples(s, dir).toDF(), Seq(
        Pattern(V("x"), "merge", V("y")),
        Pattern(V("y"), "related_to", V("z"))))
    }),
    // ordered conversion funnel view -> click -> purchase within 7 days
    // of the first view: per stage one filtered scan + one keyed join +
    // one min agg — greedy-earliest is exact (exchange argument)
    "q156_funnel" -> ((s, dir) =>
      graft.kg.Temporal.funnel(s.read.parquet(t(dir, "events")),
        keyCol = "user_id", tsCol = "ts", stageCol = "event_type",
        stages = Seq("view", "click", "purchase"),
        windowMicros = 604800000000L)),
    // fuzzy alias lookup (ER recall path): mention surfaces perturbed
    // deterministically (drop last char / append 'x') then matched to the
    // dictionary by exact char-bigram Jaccard >= 60% via the R×S
    // prefix-filtered inverted index — misspellings equality blocking
    // and stemming both miss
    "q157_fuzzy_alias" -> ((s, dir) => {
      val surf = Pipeline.mentions(s, dir).toDF()
        .select(lower(split(col("surface"), " ").getItem(0)).as("a")).distinct()
        .select(when(length(col("a")) > 3,
            expr("substring(a, 1, length(a) - 1)"))
          .otherwise(concat(col("a"), lit("x"))).as("qs"))
      graft.link.Blocking.fuzzyJoin(surf, "qs",
        Pipeline.aliasDict(s, dir), "alias", n = 2, minJaccardPct = 60)
    }),
    // one synchronous Louvain local-move round from singletons over the
    // entity graph: argmax modularity gain = argmin neighbor degree
    // (2m > ki*kj cross-multiplied), ties to the smallest id, all moves
    // simultaneous — the gain-based seed for multilevel contraction
    "q158_louvain_move" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.modularityMove(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // hop-bounded harmonic centrality from the KMV neighborhood function:
    // sum of delta_h * (lcm(1..3) div h) — integer-exact, well-defined on
    // disconnected graphs (unreachable nodes contribute 0)
    "q159_harmonic" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.harmonic(
        tr.select(col("subj").as("src"), col("obj").as("dst")), maxHops = 3)
    }),
    // per-key funnel outcomes: deepest stage, anchor, greedy-chosen last
    // stage time, elapsed micros — the time-to-convert / drop-off surface
    "q161_funnel_times" -> ((s, dir) =>
      graft.kg.Temporal.funnelTimes(s.read.parquet(t(dir, "events")),
        keyCol = "user_id", tsCol = "ts", stageCol = "event_type",
        stages = Seq("view", "click", "purchase"),
        windowMicros = 604800000000L)),
    // per-predicate cardinality profile: functional / inverse-functional
    // induction over the distinct assertion set — the schema the corpus
    // actually uses, and the fusion stage's precondition
    "q162_pred_cardinality" -> ((s, dir) =>
      graft.kg.Triples.predCardinality(Pipeline.triples(s, dir).toDF())),
    // per-edge triangle support (k-truss inner primitive / weak-tie
    // detector): degree-ordered orientation, one explode crediting each
    // triangle's 3 edges, zero-support edges kept
    "q163_edge_support" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.edgeSupport(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // Flesch readability ingredients + integer-exact hard flag
    "q164_readability" -> ((s, dir) =>
      TextStats.readability(s.read.parquet(t(dir, "documents")))),
    // full truss decomposition (edge-level coreness): k-level peel
    // distributed, min-support bucket-queue peel on the driver below
    // threshold — the over-merge audit (low-truss high-degree edges)
    "q165_trussness" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.trussness(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // evidence-weighted entity importance: PageRank with rank mass split
    // by mention multiplicity — (rank·85·w) div (wout·100), the same
    // all-integer fixed point, twin-exact
    "q171_weighted_pagerank" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      val edgesW = tr.filter(col("subj") =!= col("obj"))
        .groupBy(col("subj").as("src"), col("obj").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.kg.PageRank.runWeighted(edgesW)
    }),
    // one multilevel round end-to-end: handshake matching -> quotient
    // contraction -> Louvain gain move on the coarse graph, mapped back
    // to fine nodes — the pieces composing is the point
    "q172_coarsen_move" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      // checkpoint the shared edge projection once: three composed
      // operators (matching, quotient contraction, the label derivation)
      // each re-scan it — one 16 B/row materialization replaces three
      // passes over the cached triples' columnar decode
      val edges = tr.select(col("subj").as("src"), col("obj").as("dst"))
        .localCheckpoint(true)
      val matched = graft.kg.Graphs.handshakeMatching(edges)
      val simple = edges.filter(col("src") =!= col("dst"))
      val nodes = simple.select(col("src").as("id"))
        .unionAll(simple.select(col("dst").as("id"))).distinct()
      val mLab = matched.select(col("a").as("id"), col("a").as("label"))
        .unionAll(matched.select(col("b").as("id"), col("a").as("label")))
      val labels = nodes.join(mLab, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      val contracted = graft.kg.Graphs.quotientGraph(edges, labels)
      val move = graft.kg.Graphs.modularityMove(contracted.select(
        col("src_label").as("src"), col("dst_label").as("dst")))
      labels.join(move.withColumnRenamed("id", "label"), Seq("label"))
        .select(col("id"), col("comm"))
    }),
    // perceptual image fingerprint: aHash64 of the REAL javax.imageio
    // decode per image row — golden-oracled against the analytic twin
    // that predicts the hash from the closed-form pixel spec without
    // touching a codec
    "q170_image_phash" -> ((s, dir) =>
      // image rows only: skip the WAV/GIF encodes the downstream filter
      // would discard (the type set prunes by the id-dispatch rule
      // BEFORE generation — Catalyst cannot push the predicate through
      // the opaque mapPartitions)
      Multimodal.imageHashes(
        Multimodal.syntheticMedia(s.read.parquet(t(dir, "documents")),
          Set("image/png")))),
    // per-subject top-3 fact ranking by predicate rarity (entity card —
    // the serving layer's summarization query): one broadcast df join +
    // one subject-keyed window
    "q168_entity_card" -> ((s, dir) =>
      graft.kg.Triples.entityCard(Pipeline.triples(s, dir).toDF(), k = 3)),
    // one-round handshake matching (multilevel-coarsening seed): propose
    // to the (deg, id)-min neighbor, keep mutual proposals
    "q169_matching" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.handshakeMatching(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // rich-club connectivity profile: per degree threshold the node and
    // hub-hub edge counts from cumulative sums over the DEGREE HISTOGRAM
    // (sketch-size axis) — the over-merge curve monitor
    "q167_rich_club" -> ((s, dir) => {
      val tr = Pipeline.triples(s, dir).toDF()
      graft.kg.Graphs.richClub(
        tr.select(col("subj").as("src"), col("obj").as("dst")))
    }),
    // SPARQL bounded repetition related_to{1,2}: n-1 frontier joins,
    // never the unbounded fixpoint — the bounded form that stays sane on
    // DENSE predicates
    "q166_path_bounded" -> ((s, dir) => {
      import graft.kg.Bgp._
      matchPath(Pipeline.triples(s, dir).toDF(),
        Seq(Step("related_to", plus = true, maxHops = 2)))
    }),
    // char-CNN cosine rerank of the fuzzy candidates (north_star:
    // "scoring with character-embedding cosine features mirroring the
    // char-CNN"): bigram blocker proposes, the tagger's own convolution
    // weights dispose — (cosine DESC, candidate ASC) election per query
    "q160_char_cosine_rerank" -> ((s, dir) => {
      val surf = Pipeline.mentions(s, dir).toDF()
        .select(lower(split(col("surface"), " ").getItem(0)).as("a")).distinct()
        .select(when(length(col("a")) > 3,
            expr("substring(a, 1, length(a) - 1)"))
          .otherwise(concat(col("a"), lit("x"))).as("qs"))
      val pairs = graft.link.Blocking.fuzzyJoin(surf, "qs",
          Pipeline.aliasDict(s, dir), "alias", n = 2, minJaccardPct = 60)
        .select(col("q"), col("c"))
      val models = Pipeline.models(s, dir)
      graft.link.EntityLink.rerankCharCosine(pairs, models(models.keys.min))
    }),
    // ER-audit pair confusion: near-dup transitive clusters (LSH+CC)
    // against exact-text clusters — tp/a/b pair counts via the C(n,2)
    // cell identity, no pair materialization
    "q153_cluster_agreement" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val near = Dedup.dedupClusters(docs)
      val exact = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("exact_id"),
          collect_list(col("doc_id")).as("ids"))
        .select(explode(col("ids")).as("doc_id"), col("exact_id"))
      graft.eval.ClusterMetrics.pairConfusion(
        near.join(exact, Seq("doc_id")), aCol = "keep_id", bCol = "exact_id")
    })
  )

  /** Literal VALUES block for q125 — canonical entity ids are
    * content-hash-derived and identical at every sf (verified across
    * sf0.001/0.01/0.1), so the inline list is portable like a SPARQL
    * query's IRIs. */
  private val SparqlValuesIds: Seq[Long] = Seq(
    43742838867161564L, 68161420763871704L, 179267666149446318L,
    237728371366780273L, 530696702214124699L, 581772127397857594L)

  /** The same ids as a SQL IN-list fragment (q132's DESCRIBE oracle). */
  private def SparqlValuesIdsSql: String = SparqlValuesIds.mkString(", ")

  /** Golden-fixture oracle: DuckDB reads the committed parquet written by
    * GoldenGen, the sequential twin under src/test (NaiveKernel dense math,
    * union-find canonicalizer, independent XXH64). Verify substitutes
    * __SF__ with the sf directory name at dump time. The fixture root is
    * overridable (repo relocation / alternate fixture sets) via
    * SPARK_GRAFT_GOLDEN_DIR, resolved in the dumping JVM. */
  private def goldenRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_GOLDEN_DIR", "/root/repo/golden")

  private def golden(name: String): String =
    s"SELECT * FROM '$goldenRoot/__SF__/$name.parquet/*.parquet'"

  def oracleSql: Map[String, String] = Map(
    "q28_simhash" -> golden("q28_simhash"),
    "q36_dedup_clusters" -> golden("q36_dedup_clusters"),
    // golden stores the raw rendition bytes; hex on the oracle side mirrors
    // the query's hex(thumb) (both engines emit uppercase hex)
    "q49_media_resize" ->
      s"""SELECT doc_id, media_type, src_w, src_h, out_w, out_h,
          hex(thumb) AS thumb_hex
          FROM '$goldenRoot/__SF__/q49_media_resize.parquet/*.parquet'""",
    "q51_sequence_packing" -> golden("q51_sequence_packing"),
    "q38_hash_sample" -> golden("q38_hash_sample"),
    "q29_simhash_neardup" -> golden("q29_simhash_neardup"),
    "q32_embedding_neardup" -> golden("q32_embedding_neardup"),
    "q67_semdedup" -> golden("q67_semdedup"),
    "q33_fingerprint" -> golden("q33_fingerprint"),
    "q35_frame_sample" -> golden("q35_frame_sample"),
    "q174_audio_meta" -> golden("q174_audio_meta"),
    "q175_video_frame_hashes" -> golden("q175_video_frame_hashes"),
    "q176_video_neardup" -> golden("q176_video_neardup"),
    "q41_sentences" -> golden("q41_sentences"),
    "q42_mentions" -> golden("q42_mentions"),
    "q43_tagged_tokens" -> golden("q43_tagged_tokens"),
    "q44_linked" -> golden("q44_linked"),
    "q46_canon_components" -> golden("q46_canon_components"),
    "q47_triples" -> golden("q47_triples"),
    "q79_pagerank" -> golden("q79_pagerank"),
    "q82_ppr_salience" -> golden("q82_ppr_salience"),
    // real SQL twin: DuckDB re-aggregates the golden triples itself
    "q80_entity_degrees" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      o AS (SELECT subj AS id, count(*) AS out_triples, count(DISTINCT obj) AS out_nbrs
            FROM t GROUP BY 1),
      i AS (SELECT obj AS id, count(*) AS in_triples, count(DISTINCT subj) AS in_nbrs
            FROM t GROUP BY 1)
      SELECT COALESCE(o.id, i.id) AS id,
             COALESCE(out_triples, 0) AS out_triples,
             COALESCE(out_nbrs, 0) AS out_nbrs,
             COALESCE(in_triples, 0) AS in_triples,
             COALESCE(in_nbrs, 0) AS in_nbrs
      FROM o FULL OUTER JOIN i ON o.id = i.id""",
    "q48_span_metrics_greedy_vs_viterbi" -> golden("q48_span_metrics_greedy_vs_viterbi"),
    "q179_mis" -> golden("q179_mis"),
    "q180_coloring" -> golden("q180_coloring"),
    "q184_densest" -> golden("q184_densest"),
    // naive unordered 4-clique enumeration: six-way self-join over the
    // canonical a<b edge set with a<b<c<d — a genuinely different
    // algorithm from the degree-ordered kClist orientation
    "q185_four_cliques" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      q AS (SELECT e1.a AS w, e1.b AS x, e2.b AS y, e4.b AS z
            FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
                      JOIN e e4 ON e4.a = e2.b
                      JOIN e e5 ON e5.a = e1.b AND e5.b = e4.b
                      JOIN e e6 ON e6.a = e1.a AND e6.b = e4.b),
      n AS (SELECT w AS id FROM q UNION ALL SELECT x FROM q
            UNION ALL SELECT y FROM q UNION ALL SELECT z FROM q),
      c AS (SELECT id, count(*) AS cliques4 FROM n GROUP BY 1),
      nodes AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e)
      SELECT nodes.id, COALESCE(c.cliques4, 0) AS cliques4
      FROM nodes LEFT JOIN c ON c.id = nodes.id""",
    // naive butterfly enumeration: four-way self-join over the distinct
    // page×entity incidence of the rare-predicate slice — every 2×2
    // biclique found by brute force (page pairs ordered by url string,
    // entity pairs by id), no wedge formula anywhere — then per-entity
    // counts; a genuinely different algorithm from the wedge aggregation
    "q186_butterflies" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'
                 WHERE pred <> 'related_to'),
      e AS (SELECT DISTINCT url, subj AS r FROM t
            UNION SELECT DISTINCT url, obj FROM t),
      q AS (SELECT e1.r AS x, e2.r AS y
            FROM e e1 JOIN e e2 ON e2.url = e1.url AND e2.r > e1.r
                      JOIN e e3 ON e3.r = e1.r AND e3.url > e1.url
                      JOIN e e4 ON e4.url = e3.url AND e4.r = e2.r),
      n AS (SELECT x AS id FROM q UNION ALL SELECT y FROM q),
      c AS (SELECT id, count(*) AS cnt FROM n GROUP BY 1),
      nodes AS (SELECT DISTINCT r AS id FROM e)
      SELECT nodes.id, CAST(COALESCE(c.cnt, 0) AS DECIMAL(38,0)) AS butterflies
      FROM nodes LEFT JOIN c ON c.id = nodes.id""",
    "q187_temporal_reach" -> golden("q187_temporal_reach"),
    "q188_corpus_overlap" -> golden("q188_corpus_overlap"),
    // unordered triangle enumeration with per-edge first-observation
    // minima; page timestamps re-derived analytically from the url's doc
    // id (CorpusGen: warc_ts = 2024-01-01 + id seconds), so any engine
    // timestamp drift breaks the row hash
    "q189_triadic_closure" -> s"""
      WITH t AS (SELECT subj, obj,
                   (1704067200000 + CAST(regexp_extract(url, 'doc(\\d+)$$', 1)
                      AS BIGINT) * 1000) * 1000 AS ts
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'
                 WHERE subj <> obj),
      e AS (SELECT least(subj, obj) AS a, greatest(subj, obj) AS b,
                   min(ts) AS fts
            FROM t GROUP BY 1, 2),
      tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c,
                     e1.fts AS t1, e2.fts AS t2, e3.fts AS t3
              FROM e e1 JOIN e e2 ON e2.a = e1.b
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT a, b, c, greatest(t1, t2, t3) AS formed_ts,
             greatest(t1, t2, t3) - least(t1, t2, t3) AS span_micros
      FROM tri""",
    // independent algorithm end to end: brute-force top-3 window over the
    // stride-sampled vectors (q31's sampling arithmetic), mutual-reach
    // SCC (recursive CTE, q123's construction) + ALL-WALKS longest path
    // over the condensation (base = every component at 0; max walk length
    // ending at a node == its Kahn peel round) — vs production's
    // trim+FW-BW/Tarjan + Kahn peel
    "q190_condensation_layers" -> {
      val cos = (a: String, b: String) =>
        s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"
      s"""WITH RECURSIVE
      mx AS (SELECT max(vec_id) AS mid FROM embeddings),
      sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings, mx
              WHERE vec_id % greatest(1, (mid + 1) // 500) = 0),
      e AS (SELECT src, dst FROM (
          SELECT q.vec_id AS src, n.vec_id AS dst,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(${cos("q.v", "n.v")}, 9) DESC,
                            n.vec_id ASC) AS rank
          FROM sub q JOIN sub n ON n.vec_id <> q.vec_id)
        WHERE rank <= 3),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      reach(s, d) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src),
      mr AS (SELECT s, d FROM reach UNION SELECT id, id FROM nodes),
      sc AS (SELECT a.s AS id, min(a.d) AS scc
             FROM mr a JOIN mr b ON a.s = b.d AND a.d = b.s GROUP BY 1),
      cn AS (SELECT DISTINCT scc FROM sc),
      ce AS (SELECT DISTINCT sa.scc AS src, sb.scc AS dst
             FROM e JOIN sc sa ON sa.id = e.src
                    JOIN sc sb ON sb.id = e.dst
             WHERE sa.scc <> sb.scc),
      walk(id, l) AS (
        SELECT scc, 0 FROM cn
        UNION
        SELECT ce.dst, w.l + 1 FROM walk w JOIN ce ON ce.src = w.id)
      SELECT id, CAST(max(l) AS INT) AS layer FROM walk GROUP BY 1"""
    },
    // brute-force mutual top-k: with nProbe = nList every list is probed,
    // so the IVF scan is exhaustive and the window oracle is exact
    "q191_mutual_knn" -> {
      val cos = (a: String, b: String) =>
        s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"
      s"""WITH r AS (
        SELECT query_id, neighbor_id, rank FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${cos("CAST(q.embedding AS DOUBLE[])", "CAST(e.embedding AS DOUBLE[])")} DESC,
                            e.vec_id ASC) AS rank
          FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id)
        WHERE rank <= 10)
      SELECT x.query_id AS a, x.neighbor_id AS b,
             x.rank AS rank_ab, y.rank AS rank_ba
      FROM r x JOIN r y ON y.query_id = x.neighbor_id
                       AND y.neighbor_id = x.query_id
      WHERE x.query_id < x.neighbor_id"""
    },
    // the BM25 replay at 50 queries + the eval joins: first relevant rank,
    // hits in top 10, floored reciprocal rank — all integers
    "q197_retrieval_eval" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(len(ts)) AS HUGEINT) AS s FROM toks),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS HUGEINT) AS tf,
                       CAST(MAX(dl) AS HUGEINT) AS dl
                FROM (SELECT doc_id, unnest(ts) AS term, len(ts) AS dl FROM toks)
                GROUP BY doc_id, term),
         dft AS (SELECT term, CAST(COUNT(*) AS HUGEINT) AS df FROM tf GROUP BY term),
         q AS (SELECT DISTINCT doc_id AS query_id, unnest(ts[1:5]) AS term
               FROM toks WHERE doc_id < 50),
         sc AS (SELECT q.query_id, tf.doc_id,
                  (1000000::HUGEINT * (2*st.n - 2*dft.df + 1) * 44 * tf.tf * st.s)
                  // ((2*dft.df + 1) * (20*tf.tf*st.s + 6*st.s + 18*tf.dl*st.n)) AS v
                FROM q JOIN tf USING (term) JOIN dft USING (term), st),
         agg AS (SELECT query_id, doc_id, SUM(v) AS score FROM sc GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, rank FROM (
                   SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id ASC) AS rank FROM agg)
                 WHERE rank <= 10),
         rels AS (SELECT DISTINCT doc_id AS query_id, doc_id
                  FROM documents WHERE doc_id < 50),
         rel AS (SELECT query_id, CAST(MIN(rank) AS BIGINT) AS frr,
                        COUNT(*) AS h
                 FROM lex JOIN rels USING (query_id, doc_id) GROUP BY 1)
         SELECT rq.query_id, CAST(1 AS BIGINT) AS n_rel,
                COALESCE(rel.frr, 0) AS first_rel_rank,
                COALESCE(rel.h, 0) AS hits,
                COALESCE(1000000 // rel.frr, 0) AS rr_scaled
         FROM (SELECT DISTINCT query_id FROM rels) rq
         LEFT JOIN rel USING (query_id)""",
    // both rankers replayed from scratch (the q192 BM25 algebra at depth
    // 20 + the q30 cosine window at depth 20), reciprocals floored the
    // same way (1e6 // (60 + rank)), integer sums, same final ranking
    "q195_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(len(ts)) AS HUGEINT) AS s FROM toks),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS HUGEINT) AS tf,
                       CAST(MAX(dl) AS HUGEINT) AS dl
                FROM (SELECT doc_id, unnest(ts) AS term, len(ts) AS dl FROM toks)
                GROUP BY doc_id, term),
         dft AS (SELECT term, CAST(COUNT(*) AS HUGEINT) AS df FROM tf GROUP BY term),
         q AS (SELECT DISTINCT doc_id AS query_id, unnest(ts[1:5]) AS term
               FROM toks WHERE doc_id < 5),
         sc AS (SELECT q.query_id, tf.doc_id,
                  (1000000::HUGEINT * (2*st.n - 2*dft.df + 1) * 44 * tf.tf * st.s)
                  // ((2*dft.df + 1) * (20*tf.tf*st.s + 6*st.s + 18*tf.dl*st.n)) AS v
                FROM q JOIN tf USING (term) JOIN dft USING (term), st),
         agg AS (SELECT query_id, doc_id, SUM(v) AS score FROM sc GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, rank FROM (
                   SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id ASC) AS rank FROM agg)
                 WHERE rank <= 20),
         sem AS (SELECT query_id, doc_id, rank FROM (
                   SELECT e0.vec_id AS query_id, e.vec_id AS doc_id,
                     row_number() OVER (PARTITION BY e0.vec_id
                       ORDER BY round(list_cosine_similarity(
                         CAST(e0.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 9) DESC,
                       e.vec_id ASC) AS rank
                   FROM embeddings e0 JOIN embeddings e ON e.vec_id <> e0.vec_id
                   WHERE e0.vec_id < 5)
                 WHERE rank <= 20),
         u AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS contrib FROM lex
               UNION ALL
               SELECT query_id, doc_id, 1000000 // (60 + rank) FROM sem),
         f AS (SELECT query_id, doc_id, SUM(contrib) AS rrf FROM u GROUP BY 1, 2)
         SELECT query_id, doc_id, rank, rrf FROM (
           SELECT query_id, doc_id, rrf, row_number() OVER (PARTITION BY query_id
             ORDER BY rrf DESC, doc_id ASC) AS rank FROM f)
         WHERE rank <= 10""",
    // the margin algebra replayed from scratch: the same round(cos·1e9)
    // integers, both k-NN windows, unfiltered neighbor sums, the same
    // cross-multiplied integer division on positives (c > 0 keeps // and
    // Spark's div on ground where floor == truncate)
    "q194_bitext_margin" -> {
      val cos = (a: String, b: String) =>
        s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"
      s"""WITH x AS (SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE label = 0),
         y AS (SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE label = 1),
         p AS (SELECT x_id, y_id,
                 CAST(round(${cos("x.v", "y.v")} * 1e9) AS BIGINT) AS c
               FROM x, y),
         fwd AS (SELECT x_id, y_id, c FROM (
                   SELECT p.*, row_number() OVER (PARTITION BY x_id
                     ORDER BY c DESC, y_id ASC) AS r FROM p) WHERE r <= 4),
         bcand AS (SELECT DISTINCT y_id FROM fwd),
         bwd AS (SELECT y_id, c FROM (
                   SELECT p.y_id, p.c, row_number() OVER (PARTITION BY p.y_id
                     ORDER BY p.c DESC, p.x_id ASC) AS r
                   FROM p JOIN bcand USING (y_id)) WHERE r <= 4),
         sx AS (SELECT x_id, SUM(c) AS sum_x, COUNT(*) AS kx FROM fwd GROUP BY 1),
         sy AS (SELECT y_id, SUM(c) AS sum_y, COUNT(*) AS ky FROM bwd GROUP BY 1),
         sc AS (SELECT f.x_id, f.y_id,
                  (2 * sx.kx * sy.ky * f.c * 1000)
                  // (sx.sum_x * sy.ky + sy.sum_y * sx.kx) AS m
                FROM fwd f JOIN sx USING (x_id) JOIN sy USING (y_id)
                WHERE f.c > 0 AND sx.sum_x * sy.ky + sy.sum_y * sx.kx > 0)
         SELECT x_id, y_id, m AS margin_permille FROM (
           SELECT x_id, y_id, m, row_number() OVER (PARTITION BY x_id
             ORDER BY m DESC, y_id ASC) AS r FROM sc)
         WHERE r = 1"""
    },
    // both stages replayed as windows: prefix-16 cosine shortlist of 50,
    // then the exact full-dim rerank over just that shortlist — the same
    // round-9/id-asc contract at each stage
    "q206_ann_matryoshka" -> {
      val cos = (a: String, b: String) =>
        s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         q AS (SELECT vec_id AS query_id, e AS qv, e[1:16] AS qp
               FROM v WHERE vec_id < 20),
         c1 AS (SELECT query_id, neighbor_id FROM (
                  SELECT q.query_id, n.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY
                      round(${cos("q.qp", "n.e[1:16]")}, 9) DESC,
                      n.vec_id ASC) AS r
                  FROM q JOIN v n ON n.vec_id <> q.query_id)
                WHERE r <= 50)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT c1.query_id, c1.neighbor_id,
             row_number() OVER (PARTITION BY c1.query_id ORDER BY
               round(${cos("q.qv", "n.e")}, 9) DESC, c1.neighbor_id ASC) AS rank
           FROM c1 JOIN v n ON n.vec_id = c1.neighbor_id
                   JOIN q ON q.query_id = c1.query_id)
         WHERE rank <= 10"""
    },
    // SQ8 codes recomputed from scratch (floor(x·127/amax) over the DOUBLE
    // cast), integer dot/ssq via exact double sums (< 2^53), the same
    // div + sqrt shape — bit-identical sims, same round-9/id-asc ranking
    "q193_ann_sq8" ->
      """WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
              FROM embeddings),
         s AS (SELECT vec_id,
                 list_transform(e, x -> CAST(CAST(floor(x * 127.0 / amax) AS BIGINT) AS DOUBLE)) AS code
               FROM a WHERE amax > 0),
         w AS (SELECT vec_id, code, list_inner_product(code, code) AS ssq FROM s)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round(list_inner_product(q.code, n.code)
                          / (sqrt(q.ssq) * sqrt(n.ssq)), 9) DESC,
                    n.vec_id ASC) AS rank
           FROM w q JOIN w n ON n.vec_id <> q.vec_id
           WHERE q.vec_id < 20)
         WHERE rank <= 10""",
    // BM25 rebuilt from scratch: postings/df/corpus scalars re-derived in
    // SQL, the same cross-multiplied rational floor-divided (// on
    // HUGEINT) to the same scaled integers — exact integer sums rank
    // identically in both engines (constants 44/20/6/18 = k1 6/5, b 3/4)
    "q192_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(len(ts)) AS HUGEINT) AS s FROM toks),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS HUGEINT) AS tf,
                       CAST(MAX(dl) AS HUGEINT) AS dl
                FROM (SELECT doc_id, unnest(ts) AS term, len(ts) AS dl FROM toks)
                GROUP BY doc_id, term),
         dft AS (SELECT term, CAST(COUNT(*) AS HUGEINT) AS df FROM tf GROUP BY term),
         q AS (SELECT DISTINCT doc_id AS query_id, unnest(ts[1:5]) AS term
               FROM toks WHERE doc_id < 5),
         sc AS (SELECT q.query_id, tf.doc_id,
                  (1000000::HUGEINT * (2*st.n - 2*dft.df + 1) * 44 * tf.tf * st.s)
                  // ((2*dft.df + 1) * (20*tf.tf*st.s + 6*st.s + 18*tf.dl*st.n)) AS v
                FROM q JOIN tf USING (term) JOIN dft USING (term), st),
         agg AS (SELECT query_id, doc_id, SUM(v) AS score FROM sc GROUP BY 1, 2)
         SELECT query_id, doc_id, rank, score FROM (
           SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc_id ASC) AS rank,
                  CAST(score AS DECIMAL(38,0)) AS score
           FROM agg)
         WHERE rank <= 10""",
    // walk counts per length unrolled as four chained joins (H = 4,
    // betaDen = 4 -> weights 64/16/4/1); HUGEINT sums cast to
    // DECIMAL(38,0) so both engines compare as exact integers
    "q181_katz" -> s"""
      WITH t AS (SELECT DISTINCT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'
                 WHERE subj <> obj),
      n AS (SELECT subj AS id FROM t UNION SELECT obj FROM t),
      w1 AS (SELECT obj AS id, CAST(count(*) AS HUGEINT) AS c
             FROM t GROUP BY 1),
      w2 AS (SELECT t.obj AS id, CAST(sum(w1.c) AS HUGEINT) AS c
             FROM t JOIN w1 ON w1.id = t.subj GROUP BY 1),
      w3 AS (SELECT t.obj AS id, CAST(sum(w2.c) AS HUGEINT) AS c
             FROM t JOIN w2 ON w2.id = t.subj GROUP BY 1),
      w4 AS (SELECT t.obj AS id, CAST(sum(w3.c) AS HUGEINT) AS c
             FROM t JOIN w3 ON w3.id = t.subj GROUP BY 1)
      SELECT n.id,
             CAST(COALESCE(w1.c, 0) * 64 + COALESCE(w2.c, 0) * 16
                + COALESCE(w3.c, 0) * 4 + COALESCE(w4.c, 0)
               AS DECIMAL(38,0)) AS katz_scaled
      FROM n
      LEFT JOIN w1 ON w1.id = n.id
      LEFT JOIN w2 ON w2.id = n.id
      LEFT JOIN w3 ON w3.id = n.id
      LEFT JOIN w4 ON w4.id = n.id""",
    "q81_distinct_sketch" -> golden("q81_distinct_sketch"),
    // real cross-engine oracle: DuckDB re-aggregates the golden triples;
    // valid because q83 runs below KMV saturation (est == exact distinct)
    "q83_kg_upsert" -> s"""
      SELECT subj, pred, obj, lang, count(*) AS n_mentions,
             count(DISTINCT url) AS est_urls
      FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'
      GROUP BY 1, 2, 3, 4""",
    // independent implementation of the same operator: DuckDB's native
    // ASOF LEFT JOIN (inclusive backward match) over the tie-collapsed
    // order snapshots; integer-microsecond timestamp remap on both engines
    "q84_asof_join" -> """
      WITH ev AS (
        SELECT event_id, user_id,
               make_timestamp(788918400000000 +
                 (epoch_us(ts) - 1704067200000000) * 80) AS ts_asof
        FROM events),
      ord AS (
        SELECT user_id, o_orderdate,
               max(o_orderkey) AS o_orderkey,
               arg_max(o_totalprice, o_orderkey) AS o_totalprice
        FROM (SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice
              FROM orders)
        GROUP BY 1, 2)
      SELECT e.event_id, e.user_id, e.ts_asof,
             o.o_orderdate AS asof_order_ts,
             o.o_orderkey AS asof_orderkey,
             round(o.o_totalprice, 2) AS asof_total
      FROM ev e ASOF LEFT JOIN ord o
        ON e.user_id = o.user_id AND e.ts_asof >= o.o_orderdate""",
    // independent algorithm: the naive unordered a<b<c three-way self-join
    // (no degree orientation) over the golden triples
    "q85_triangles" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1 JOIN e e2 ON e2.a = e1.b
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      n AS (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
            UNION ALL SELECT z AS id FROM tri),
      c AS (SELECT id, count(*) AS triangles FROM n GROUP BY 1),
      nodes AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e)
      SELECT nodes.id, COALESCE(c.triangles, 0) AS triangles
      FROM nodes LEFT JOIN c ON c.id = nodes.id""",
    "q86_merge_candidates" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      occ AS (SELECT DISTINCT subj AS node, url AS w FROM t
              UNION SELECT DISTINCT obj AS node, url AS w FROM t),
      deg AS (SELECT node, count(*) AS d FROM occ GROUP BY 1),
      p AS (SELECT l.node AS a, r.node AS b, count(*) AS common
            FROM occ l JOIN occ r ON l.w = r.w AND l.node < r.node
            GROUP BY 1, 2)
      SELECT a, b, common, da.d + db.d - common AS union_size
      FROM p JOIN deg da ON da.node = p.a JOIN deg db ON db.node = p.b
      WHERE common * 5 >= 3 * (da.d + db.d - common)""",
    // independent engine: DuckDB's recursive-CTE fixpoint walks the graph;
    // same seed rule as the Spark side (top-3 subjects by triple count)
    "q87_bfs_reach" -> s"""
      WITH RECURSIVE t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      seeds AS (SELECT subj AS id FROM t GROUP BY subj
                ORDER BY count(*) DESC, subj LIMIT 3),
      walk(id, dist) AS (
        SELECT id, 0 AS dist FROM seeds
        UNION
        SELECT t.obj AS id, walk.dist + 1 AS dist
        FROM walk JOIN t ON t.subj = walk.id AND t.subj <> t.obj
        WHERE walk.dist < 6)
      SELECT id, min(dist) AS dist FROM walk GROUP BY 1""",
    // from-scratch components by transitive closure (recursive CTE) over
    // ALL sparsified edges — never sees the snapshot split, so agreement
    // certifies the incremental upsert algebra
    "q88_canon_upsert" -> s"""
      WITH RECURSIVE t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e0 AS (SELECT DISTINCT subj AS a, obj AS b FROM t
             WHERE subj <> obj AND (subj % 13 + obj % 13) % 13 = 0),
      e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      walk(id, r) AS (
        SELECT a AS id, a AS r FROM e
        UNION
        SELECT walk.id, e.b AS r FROM walk JOIN e ON e.a = walk.r)
      SELECT id, min(r) AS component FROM walk GROUP BY 1""",
    // recursive-CTE reachability fixpoint — the naive evaluation, a
    // genuinely different algorithm from the semi-naive delta loop
    "q89_closure" -> s"""
      WITH RECURSIVE t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t
            WHERE pred <> 'related_to' AND subj <> obj),
      walk(src, dst) AS (
        SELECT src, dst FROM e
        UNION
        SELECT walk.src, e.dst FROM walk JOIN e ON e.src = walk.dst)
      SELECT src, dst FROM walk WHERE src <> dst""",
    // the same vote as an explicit per-group sort (row_number) — the
    // production side never sorts (order-free max(struct) election)
    "q90_fuse_conflicts" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      s AS (SELECT subj, pred, obj, count(*) AS n_mentions,
                   count(DISTINCT url) AS n_urls
            FROM t GROUP BY 1, 2, 3),
      r AS (SELECT *,
              row_number() OVER (PARTITION BY subj, pred
                ORDER BY n_mentions DESC, n_urls DESC, obj ASC) AS rn,
              count(*) OVER (PARTITION BY subj, pred) AS n_objs,
              sum(n_mentions) OVER (PARTITION BY subj, pred) AS tm
            FROM s)
      SELECT subj, pred, obj, n_mentions, n_urls,
             CAST(n_objs AS BIGINT) AS n_objs,
             CAST(tm AS BIGINT) AS total_mentions
      FROM r WHERE rn = 1""",
    "q91_pmi_edges" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      m AS (SELECT DISTINCT url || '#' || CAST(sentIdx AS VARCHAR) AS ctx,
                   subj AS node FROM t
            UNION SELECT DISTINCT url || '#' || CAST(sentIdx AS VARCHAR), obj FROM t),
      n AS (SELECT count(DISTINCT ctx) AS n_ctx FROM m),
      deg AS (SELECT node, count(*) AS d FROM m GROUP BY 1),
      p AS (SELECT l.node AS a, r.node AS b, count(*) AS n_ab
            FROM m l JOIN m r ON l.ctx = r.ctx AND l.node < r.node
            GROUP BY 1, 2)
      SELECT p.a, p.b, p.n_ab, da.d AS n_a, db.d AS n_b,
             CAST(n.n_ctx AS BIGINT) AS n_ctx
      FROM p JOIN deg da ON da.node = p.a
             JOIN deg db ON db.node = p.b, n
      WHERE p.n_ab >= 2
        AND CAST(p.n_ab AS HUGEINT) * n.n_ctx > CAST(da.d AS HUGEINT) * db.d""",
    "q92_rule_mining" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      r AS (SELECT DISTINCT subj, pred, obj FROM t),
      body AS (SELECT DISTINCT a.pred AS p1, b.pred AS p2, a.subj AS x, b.obj AS y
               FROM r a JOIN r b ON b.subj = a.obj WHERE a.subj <> b.obj),
      bc AS (SELECT p1, p2, count(*) AS body_pairs FROM body GROUP BY 1, 2),
      hc AS (SELECT pred AS p3, count(*) AS head_pairs FROM r GROUP BY 1),
      s AS (SELECT body.p1, body.p2, r.pred AS p3, count(*) AS support
            FROM body JOIN r ON r.subj = body.x AND r.obj = body.y
            GROUP BY 1, 2, 3)
      SELECT s.p1, s.p2, s.p3, bc.body_pairs, hc.head_pairs, s.support
      FROM s JOIN bc ON bc.p1 = s.p1 AND bc.p2 = s.p2
             JOIN hc ON hc.p3 = s.p3
      WHERE s.support >= 2""",
    "q93_entity_lang_matrix" -> s"""
      SELECT subj,
             count(*) FILTER (WHERE lang = 'de') AS de,
             count(*) FILTER (WHERE lang = 'en') AS en,
             count(*) FILTER (WHERE lang = 'es') AS es,
             count(*) FILTER (WHERE lang = 'fr') AS fr,
             count(*) FILTER (WHERE lang = 'zh') AS zh,
             count(*) AS total
      FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'
      GROUP BY 1""",
    "q94_negative_samples" -> golden("q94_negative_samples"),
    "q95_coreness" -> golden("q95_coreness"),
    "q96_bgp_match" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      p1 AS (SELECT DISTINCT subj AS x, obj AS z FROM t WHERE pred = 'merge'),
      p2 AS (SELECT DISTINCT subj AS z, obj AS y FROM t WHERE pred = 'order'),
      p3 AS (SELECT DISTINCT subj AS x, obj AS w FROM t WHERE pred = 'batch')
      SELECT DISTINCT p1.x, z, y, w
      FROM p1 JOIN p2 USING (z) JOIN p3 USING (x)""",
    "q97_sssp" -> s"""
      WITH RECURSIVE t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT subj AS src, obj AS dst,
                   CAST(6 - least(count(DISTINCT url), 5) AS BIGINT) AS w
            FROM t WHERE subj <> obj GROUP BY subj, obj),
      seeds AS (SELECT subj AS id FROM t GROUP BY subj
                ORDER BY count(*) DESC, subj ASC LIMIT 3),
      walk(id, hops, d) AS (
        SELECT id, 0, CAST(0 AS BIGINT) FROM seeds
        UNION
        SELECT e.dst, walk.hops + 1, walk.d + e.w
        FROM walk JOIN e ON e.src = walk.id WHERE walk.hops < 6)
      SELECT id, min(d) AS dist FROM walk GROUP BY id""",
    "q177_msf" -> golden("q177_msf"),
    // single-linkage equivalence: the oracle clusters over ALL original
    // edges with w <= 4 (recursive reachability), never reading the MSF —
    // agreement proves the Spark side's cut-the-forest shortcut exact
    "q178_single_linkage" -> s"""
      WITH RECURSIVE t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT least(subj, obj) AS a, greatest(subj, obj) AS b,
                   CAST(6 - least(count(DISTINCT url), 5) AS BIGINT) AS w
            FROM t WHERE subj <> obj GROUP BY 1, 2),
      ud AS (SELECT a AS u, b AS v FROM e WHERE w <= 4
             UNION SELECT b, a FROM e WHERE w <= 4),
      reach(id, r) AS (
        SELECT u, u FROM ud
        UNION
        SELECT reach.id, ud.v FROM reach JOIN ud ON ud.u = reach.r)
      SELECT id, min(r) AS cluster FROM reach GROUP BY id""",
    "q98_nquads" -> s"""
      SELECT '<http://graft.kg/e/' || CAST(subj AS VARCHAR)
          || '> <http://graft.kg/p/' || pred
          || '> <http://graft.kg/e/' || CAST(obj AS VARCHAR)
          || '> <' || url || '> .' AS line
      FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'""",
    "q99_random_walks" -> golden("q99_random_walks"),
    "q100_lpa_communities" -> golden("q100_lpa_communities"),
    "q107_node2vec_walks" -> golden("q107_node2vec_walks"),
    "q109_link_split" -> golden("q109_link_split"),
    "q110_wl_colors" -> golden("q110_wl_colors"),
    "q111_sampled_neighbors" -> golden("q111_sampled_neighbors"),
    "q115_graph_digest" -> golden("q115_graph_digest"),
    "q118_hits" -> golden("q118_hits"),
    "q117_kg_diff" -> s"""
      WITH t AS (SELECT subj, pred, obj, url, "sentIdx" AS sent_idx
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      pa AS (SELECT subj, pred, obj, count(*) AS n_a,
                    count(DISTINCT url) AS n_urls_a
             FROM t WHERE sent_idx % 2 = 0 GROUP BY 1, 2, 3),
      pb AS (SELECT subj, pred, obj, count(*) AS n_b,
                    count(DISTINCT url) AS n_urls_b
             FROM t WHERE sent_idx % 2 = 1 GROUP BY 1, 2, 3),
      j AS (SELECT COALESCE(pa.subj, pb.subj) AS subj,
                   COALESCE(pa.pred, pb.pred) AS pred,
                   COALESCE(pa.obj, pb.obj) AS obj,
                   COALESCE(n_a, 0) AS n_a, COALESCE(n_urls_a, 0) AS n_urls_a,
                   COALESCE(n_b, 0) AS n_b, COALESCE(n_urls_b, 0) AS n_urls_b
            FROM pa FULL OUTER JOIN pb
              ON pa.subj = pb.subj AND pa.pred = pb.pred AND pa.obj = pb.obj)
      SELECT *, CASE WHEN n_a = 0 THEN 'added'
                     WHEN n_b = 0 THEN 'removed'
                     ELSE 'changed' END AS status
      FROM j WHERE n_a <> n_b OR n_urls_a <> n_urls_b""",
    "q121_bgp_topk" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      b AS (SELECT DISTINCT t1.subj AS x, t1.obj AS z, t2.obj AS y
            FROM t t1 JOIN t t2 ON t1.obj = t2.subj
            WHERE t1.pred = 'merge' AND t2.pred = 'order')
      SELECT x, y, z FROM b ORDER BY y DESC, x ASC, z ASC LIMIT 10""",
    "q122_closeness" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      reach(id, dst, d) AS (
        SELECT id, id, 0 FROM nodes
        UNION
        SELECT r.id, e.dst, r.d + 1 FROM reach r JOIN e ON r.dst = e.src
        WHERE r.d < 3),
      md AS (SELECT id, dst, min(d) AS d FROM reach GROUP BY 1, 2)
      SELECT id, count(*) AS n_reach, CAST(sum(d) AS BIGINT) AS dist_sum
      FROM md GROUP BY 1""",
    "q123_scc" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t
            WHERE pred IN ('merge', 'scan', 'stream') AND subj <> obj),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e
                UNION SELECT subj FROM t
                WHERE pred IN ('merge', 'scan', 'stream') AND subj = obj),
      reach(s, d) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src),
      m AS (SELECT s, d FROM reach UNION SELECT id, id FROM nodes)
      SELECT a.s AS id, min(a.d) AS scc
      FROM m a JOIN m b ON a.s = b.d AND a.d = b.s GROUP BY 1""",
    "q124_link_pred" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE pred IN ('sort', 'hash', 'join') AND subj <> obj),
      nb AS (SELECT a AS node, b AS w FROM e
             UNION ALL SELECT b, a FROM e),
      deg AS (SELECT node, count(*) AS d FROM nb GROUP BY 1),
      cn AS (SELECT l.node AS a, r.node AS b, count(*) AS cn
             FROM nb l JOIN nb r ON l.w = r.w AND l.node < r.node
             GROUP BY 1, 2),
      cand AS (SELECT * FROM cn c WHERE NOT EXISTS
               (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b))
      SELECT c.a, c.b, c.cn, da.d AS deg_a, db.d AS deg_b,
             da.d + db.d - c.cn AS union_size
      FROM cand c JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node""",
    "q125_bgp_values_concat" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      p1 AS (SELECT DISTINCT subj AS x, obj AS z FROM t WHERE pred = 'merge'),
      p2 AS (SELECT DISTINCT subj AS z, obj AS y FROM t WHERE pred = 'order'),
      b AS (SELECT DISTINCT x, z, y FROM p1 JOIN p2 USING (z)
            WHERE x IN (43742838867161564, 68161420763871704,
                        179267666149446318, 237728371366780273,
                        530696702214124699, 581772127397857594))
      SELECT x, count(*) AS n_bindings,
             string_agg(CAST(y AS VARCHAR), ',' ORDER BY y) AS group_concat
      FROM b GROUP BY 1""",
    "q126_fact_intervals" -> """
      WITH o AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) AS us
                 FROM events),
      g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 86400000000
                           THEN 1 ELSE 0 END AS gap
            FROM o WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us)),
      i AS (SELECT *, sum(gap) OVER (PARTITION BY user_id, event_type
                                     ORDER BY us ROWS UNBOUNDED PRECEDING)
                        AS island FROM g)
      SELECT user_id, event_type,
             make_timestamp(min(us)) AS valid_from,
             make_timestamp(max(us)) AS valid_to,
             count(*) AS n_obs
      FROM i GROUP BY user_id, event_type, island""",
    "q127_pred_cooccur" -> s"""
      WITH t AS (SELECT subj, pred
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      sp AS (SELECT DISTINCT subj, pred FROM t)
      SELECT l.pred AS p1, r.pred AS p2, count(*) AS n_subjects
      FROM sp l JOIN sp r ON l.subj = r.subj AND l.pred < r.pred
      GROUP BY 1, 2""",
    "q128_bgp_ask" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      p1 AS (SELECT DISTINCT subj AS x, obj AS z FROM t WHERE pred = 'merge'),
      p2 AS (SELECT DISTINCT subj AS z, obj AS w FROM t WHERE pred = 'stream')
      SELECT count(*) > 0 AS ask
      FROM (SELECT 1 FROM p1 JOIN p2 USING (z) LIMIT 1)""",
    "q129_facts_valid_at" -> """
      WITH o AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) AS us
                 FROM events),
      g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 86400000000
                           THEN 1 ELSE 0 END AS gap
            FROM o WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us)),
      i AS (SELECT *, sum(gap) OVER (PARTITION BY user_id, event_type
                                     ORDER BY us ROWS UNBOUNDED PRECEDING)
                        AS island FROM g),
      iv AS (SELECT user_id, event_type,
                    min(us) AS f, max(us) AS tt, count(*) AS n_obs
             FROM i GROUP BY user_id, event_type, island)
      SELECT user_id, event_type,
             make_timestamp(f) AS valid_from, make_timestamp(tt) AS valid_to,
             n_obs
      FROM iv WHERE f <= 1705276800000000 AND tt >= 1705276800000000""",
    "q130_degree_mixing" -> s"""
      WITH t AS (SELECT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      dir AS (SELECT DISTINCT subj AS src, obj AS dst FROM t
              WHERE subj <> obj),
      und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM dir),
      stubs AS (SELECT a AS x, b AS y FROM und
                UNION ALL SELECT b, a FROM und),
      deg AS (SELECT x AS node, count(*) AS d FROM stubs GROUP BY 1)
      SELECT
        (SELECT count(*) FROM dir) AS n_edges_directed,
        (SELECT count(*) FROM dir d1 JOIN dir d2
           ON d1.src = d2.dst AND d1.dst = d2.src) AS n_reciprocal,
        (SELECT count(*) FROM und) AS n_edges,
        (SELECT CAST(sum(dx.d * dy.d) AS VARCHAR) FROM stubs s
           JOIN deg dx ON s.x = dx.node JOIN deg dy ON s.y = dy.node)
          AS sum_xy,
        (SELECT CAST(sum(dx.d) AS VARCHAR) FROM stubs s
           JOIN deg dx ON s.x = dx.node) AS sum_x,
        (SELECT CAST(sum(dx.d * dx.d) AS VARCHAR) FROM stubs s
           JOIN deg dx ON s.x = dx.node) AS sum_x2""",
    "q131_interval_overlap" -> """
      WITH o AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) AS us
                 FROM events WHERE event_type IN ('click', 'purchase')),
      g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 43200000000
                           THEN 1 ELSE 0 END AS gap
            FROM o WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us)),
      i AS (SELECT *, sum(gap) OVER (PARTITION BY user_id, event_type
                                     ORDER BY us ROWS UNBOUNDED PRECEDING)
                        AS island FROM g),
      iv AS (SELECT user_id, event_type, min(us) AS f, max(us) AS tt
             FROM i GROUP BY user_id, event_type, island),
      l AS (SELECT user_id, f, tt FROM iv WHERE event_type = 'click'),
      r AS (SELECT user_id, f, tt FROM iv WHERE event_type = 'purchase')
      SELECT l.user_id,
             make_timestamp(l.f) AS l_from, make_timestamp(l.tt) AS l_to,
             make_timestamp(r.f) AS r_from, make_timestamp(r.tt) AS r_to,
             make_timestamp(greatest(l.f, r.f)) AS overlap_from,
             make_timestamp(least(l.tt, r.tt)) AS overlap_to
      FROM l JOIN r ON l.user_id = r.user_id
                   AND l.f <= r.tt AND r.f <= l.tt""",
    "q132_bgp_describe" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet')
      SELECT DISTINCT subj, pred, obj FROM t
      WHERE subj IN ($SparqlValuesIdsSql) OR obj IN ($SparqlValuesIdsSql)""",
    "q133_ego_graph" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      reach(id, d) AS (
        SELECT CAST(v.id AS BIGINT), 0
        FROM (VALUES (${SparqlValuesIds(0)}), (${SparqlValuesIds(1)})) v(id)
        UNION
        SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.id
        WHERE r.d < 2),
      ids AS (SELECT DISTINCT id FROM reach)
      SELECT DISTINCT subj, pred, obj FROM t
      WHERE subj IN (SELECT id FROM ids) AND obj IN (SELECT id FROM ids)""",
    "q134_eff_diameter" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      reach(id, dst, d) AS (
        SELECT id, id, 0 FROM nodes
        UNION
        SELECT r.id, e.dst, r.d + 1 FROM reach r JOIN e ON r.dst = e.src
        WHERE r.d < 3),
      md AS (SELECT id, dst, min(d) AS d FROM reach GROUP BY 1, 2),
      ph AS (SELECT CAST(h.hop AS BIGINT) AS hop, count(*) AS pairs
             FROM md JOIN (VALUES (0), (1), (2), (3)) AS h(hop)
               ON md.d <= h.hop
             GROUP BY 1),
      tot AS (SELECT pairs AS pairs_total FROM ph WHERE hop = 3)
      SELECT hop AS h_eff, CAST(pairs AS VARCHAR) AS n_pairs,
             CAST(pairs_total AS VARCHAR) AS n_pairs_total
      FROM ph, tot WHERE pairs * 10 >= pairs_total * 9
      ORDER BY hop LIMIT 1""",
    "q135_entity_signatures" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      r AS (SELECT subj AS id, 's:' || pred AS role FROM t
            UNION
            SELECT obj AS id, 'o:' || pred AS role FROM t)
      SELECT id, string_agg(role, ',' ORDER BY role) AS signature,
             count(*) AS n_roles
      FROM r GROUP BY 1""",
    "q136_quotient_graph" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      lab AS (SELECT id, coreness AS label
              FROM '$goldenRoot/__SF__/q95_coreness.parquet/*.parquet')
      SELECT ls.label AS src_label, ld.label AS dst_label,
             count(*) AS weight
      FROM e JOIN lab ls ON ls.id = e.src JOIN lab ld ON ld.id = e.dst
      GROUP BY 1, 2""",
    "q137_enum_paths" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      p(last, path, n) AS (
        SELECT CAST(${SparqlValuesIds(0)} AS BIGINT),
               ',${SparqlValuesIds(0)},', 0
        UNION ALL
        SELECT e.dst, p.path || e.dst || ',', p.n + 1
        FROM p JOIN e ON e.src = p.last
        WHERE p.n < 3 AND p.last <> ${SparqlValuesIds(1)}
          AND position(',' || e.dst || ',' IN p.path) = 0)
      SELECT trim(path, ',') AS path, CAST(n AS BIGINT) AS n_hops
      FROM p WHERE last = ${SparqlValuesIds(1)} AND n >= 1""",
    "q138_bipartite" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      und AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
              FROM t WHERE subj <> obj),
      sym AS (SELECT a AS src, b AS dst FROM und
              UNION ALL SELECT b, a FROM und),
      reach(id, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
      lab AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
      roots AS (SELECT DISTINCT component AS id FROM lab),
      d(id, dd) AS (
        SELECT id, 0 FROM roots
        UNION
        SELECT s.dst, d.dd + 1 FROM d JOIN sym s ON s.src = d.id
        WHERE d.dd < 32),
      md AS (SELECT id, min(dd) AS dd FROM d GROUP BY 1),
      odd AS (SELECT l.component, count(*) AS n_odd
              FROM und u
              JOIN md ma ON ma.id = u.a JOIN md mb ON mb.id = u.b
              JOIN lab l ON l.id = u.a
              WHERE ma.dd % 2 = mb.dd % 2
              GROUP BY 1)
      SELECT lab.component, count(*) AS n_nodes,
             coalesce(max(o.n_odd), 0) AS n_odd_edges,
             coalesce(max(o.n_odd), 0) = 0 AS is_bipartite
      FROM lab LEFT JOIN odd o ON o.component = lab.component
      GROUP BY 1""",
    "q139_path_brokerage" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      fd(id, d) AS (
        SELECT CAST(${SparqlValuesIds(0)} AS BIGINT), 0
        UNION
        SELECT e.dst, fd.d + 1 FROM fd JOIN e ON e.src = fd.id
        WHERE fd.d < 4),
      mf AS (SELECT id, min(d) AS d FROM fd GROUP BY 1),
      bd(id, d) AS (
        SELECT CAST(${SparqlValuesIds(1)} AS BIGINT), 0
        UNION
        SELECT e.src, bd.d + 1 FROM bd JOIN e ON e.dst = bd.id
        WHERE bd.d < 4),
      mb AS (SELECT id, min(d) AS d FROM bd GROUP BY 1),
      -- one row per shortest-path prefix: walks restricted to the
      -- min-distance DAG, so count(*) per node = sigma(node)
      sig(id, d) AS (
        SELECT CAST(${SparqlValuesIds(0)} AS BIGINT), 0
        UNION ALL
        SELECT e.dst, sig.d + 1 FROM sig JOIN e ON e.src = sig.id
        JOIN mf ON mf.id = e.dst AND mf.d = sig.d + 1
        WHERE sig.d < 4),
      tau(id, d) AS (
        SELECT CAST(${SparqlValuesIds(1)} AS BIGINT), 0
        UNION ALL
        SELECT e.src, tau.d + 1 FROM tau JOIN e ON e.dst = tau.id
        JOIN mb ON mb.id = e.src AND mb.d = tau.d + 1
        WHERE tau.d < 4),
      sg AS (SELECT id, count(*) AS c FROM sig GROUP BY 1),
      tg AS (SELECT id, count(*) AS c FROM tau GROUP BY 1),
      dt AS (SELECT d FROM mf WHERE id = ${SparqlValuesIds(1)})
      SELECT sg.id, CAST(mf.d AS BIGINT) AS d_from_src,
             CAST(CAST(sg.c AS DECIMAL(38,0)) * tg.c AS VARCHAR)
               AS n_paths_through
      FROM sg JOIN mf ON mf.id = sg.id
      JOIN tg ON tg.id = sg.id JOIN mb ON mb.id = sg.id
      JOIN dt ON mf.d + mb.d = dt.d""",
    // exact integer TransE: quantize floor(x*1024) (float32->double and
    // *2^10 are exact, so both engines see identical integers), fit
    // r_p = sum(q_o - q_s) per predicate, score = sum_i |rsum - cnt*diff|
    "q140_transe_scores" -> s"""
      WITH t AS (SELECT DISTINCT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      n AS (SELECT count(*) AS nv FROM embeddings),
      ents AS (SELECT DISTINCT id FROM
               (SELECT subj AS id FROM t UNION SELECT obj FROM t)),
      ev AS (SELECT e.id,
               list_transform(em.embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
             FROM ents e CROSS JOIN n JOIN embeddings em
               ON em.vec_id = ((e.id % n.nv) + n.nv) % n.nv),
      j AS (SELECT t.subj, t.pred, t.obj, s.q AS qs, o.q AS qo
            FROM t JOIN ev s ON s.id = t.subj JOIN ev o ON o.id = t.obj),
      m AS (SELECT pred, i, sum(o_el - s_el) AS rsum FROM (
              SELECT pred, unnest(qo) AS o_el, unnest(qs) AS s_el,
                     unnest(range(1, len(qo) + 1)) AS i FROM j) u
            GROUP BY 1, 2),
      r AS (SELECT pred, list(rsum ORDER BY i) AS rsum FROM m GROUP BY 1),
      c AS (SELECT pred, count(*) AS cnt FROM j GROUP BY 1),
      sc AS (SELECT j.subj, j.pred, j.obj,
               CAST(list_sum(list_transform(list_zip(j.qo, j.qs, r.rsum),
                 z -> abs(z[3] - c.cnt * (z[1] - z[2])))) AS BIGINT) AS score
             FROM j JOIN r ON r.pred = j.pred JOIN c ON c.pred = j.pred)
      SELECT pred, subj, obj, score, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY pred
            ORDER BY score DESC, subj, obj) AS BIGINT) AS rank
        FROM sc) WHERE rank <= 3""",
    "q141_entity_salience" -> s"""
      WITH t AS (SELECT url, subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      slots AS (SELECT url, subj AS id FROM t
                UNION ALL SELECT url, obj FROM t),
      tf AS (SELECT url, id, count(*) AS tf FROM slots GROUP BY 1, 2),
      df AS (SELECT id, count(*) AS df FROM tf GROUP BY 1),
      np AS (SELECT count(DISTINCT url) AS n_pages FROM t)
      SELECT url, id, tf, df, n_pages, rank FROM (
        SELECT tf.url, tf.id, tf.tf, df.df,
               CAST(row_number() OVER (PARTITION BY tf.url
                 ORDER BY tf.tf DESC, df.df ASC, tf.id ASC) AS BIGINT) AS rank
        FROM tf JOIN df USING (id)) x CROSS JOIN np
      WHERE rank <= 3""",
    "q142_alias_profile" -> s"""
      WITH l AS (SELECT entityId AS entity_id, surface
                 FROM '$goldenRoot/__SF__/q44_linked.parquet/*.parquet'),
      pair AS (SELECT entity_id, surface, count(*) AS cnt
               FROM l GROUP BY 1, 2),
      top AS (SELECT entity_id, surface AS top_surface, cnt AS top_count
              FROM (SELECT *, row_number() OVER (PARTITION BY entity_id
                      ORDER BY cnt DESC, surface ASC) AS rn FROM pair)
              WHERE rn = 1),
      agg AS (SELECT entity_id, CAST(sum(cnt) AS BIGINT) AS n_mentions,
                     count(*) AS n_surfaces,
                     string_agg(surface, '|' ORDER BY surface) AS alias_sig
              FROM pair GROUP BY 1)
      SELECT agg.entity_id, agg.n_mentions, agg.n_surfaces,
             top.top_surface, top.top_count, agg.alias_sig
      FROM agg JOIN top USING (entity_id)""",
    "q143_bursts" -> s"""
      WITH c AS (SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS b,
                   count(*) AS cnt
                 FROM events GROUP BY 1, 2),
      g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS b FROM (
              SELECT event_type, min(b) AS lo, max(b) AS hi
              FROM c GROUP BY 1)),
      d AS (SELECT g.event_type, g.b, coalesce(c.cnt, 0) AS cnt
            FROM g LEFT JOIN c USING (event_type, b)),
      w AS (SELECT event_type, b, cnt,
              CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY b
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
                AS trailing_total,
              count(*) OVER (PARTITION BY event_type ORDER BY b
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n
            FROM d)
      SELECT event_type, make_timestamp(b * 86400000000) AS bucket_start,
             cnt, trailing_total,
             (cnt >= 5 AND cnt * 7 * 1 > 2 * trailing_total) AS is_burst
      FROM w WHERE n = 7""",
    "q144_path_alt_inverse" -> s"""
      WITH t AS (SELECT DISTINCT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      s1 AS (SELECT DISTINCT subj AS s, obj AS o FROM t
             WHERE pred IN ('merge', 'sort')),
      s2 AS (SELECT DISTINCT obj AS s, subj AS o FROM t
             WHERE pred = 'hash')
      SELECT DISTINCT s1.s AS x, s2.o AS y
      FROM s1 JOIN s2 ON s2.s = s1.o""",
    "q145_metapath_counts" -> s"""
      WITH t AS (SELECT DISTINCT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      s1 AS (SELECT DISTINCT subj AS s, obj AS o FROM t
             WHERE pred = 'merge'),
      s2 AS (SELECT DISTINCT subj AS s, obj AS o FROM t
             WHERE pred = 'order')
      SELECT s1.s AS x, s2.o AS y, count(*) AS n_paths
      FROM s1 JOIN s2 ON s2.s = s1.o GROUP BY 1, 2""",
    // synchronous seeded majority vote, 2 rounds unrolled: v_k votes from
    // labels l_{k-1}, seeds immutable, ties to the smallest type
    "q146_type_propagation" -> s"""
      WITH t AS (SELECT DISTINCT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'
                 WHERE pred IN ('merge', 'sort', 'hash', 'join', 'order')),
      e0 AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
             FROM t WHERE subj <> obj),
      e AS (SELECT a AS src, b AS dst FROM e0
            UNION ALL SELECT b, a FROM e0),
      seeds(id, type) AS (VALUES
        (${SparqlValuesIds(0)}, 'A'), (${SparqlValuesIds(1)}, 'B'),
        (${SparqlValuesIds(2)}, 'A'), (${SparqlValuesIds(3)}, 'C')),
      l0 AS (SELECT id, type FROM seeds),
      v1 AS (SELECT e.dst AS id, l.type, count(*) AS c
             FROM e JOIN l0 l ON l.id = e.src
             WHERE e.dst NOT IN (SELECT id FROM seeds) GROUP BY 1, 2),
      d1 AS (SELECT id, type FROM (SELECT *, row_number() OVER (
               PARTITION BY id ORDER BY c DESC, type) AS rn FROM v1)
             WHERE rn = 1),
      l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM d1),
      v2 AS (SELECT e.dst AS id, l.type, count(*) AS c
             FROM e JOIN l1 l ON l.id = e.src
             WHERE e.dst NOT IN (SELECT id FROM seeds) GROUP BY 1, 2),
      d2 AS (SELECT id, type FROM (SELECT *, row_number() OVER (
               PARTITION BY id ORDER BY c DESC, type) AS rn FROM v2)
             WHERE rn = 1)
      SELECT l.id, l.type,
             CASE WHEN s.id IS NOT NULL THEN 'seed' ELSE 'derived' END
               AS origin
      FROM (SELECT * FROM l0 UNION ALL SELECT * FROM d2) l
      LEFT JOIN seeds s ON s.id = l.id""",
    "q147_entity_features" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      simple AS (SELECT DISTINCT subj AS src, obj AS dst FROM t
                 WHERE subj <> obj),
      od AS (SELECT src AS id, count(*) AS out_deg FROM simple GROUP BY 1),
      idg AS (SELECT dst AS id, count(*) AS in_deg FROM simple GROUP BY 1),
      core AS (SELECT id, coreness
               FROM '$goldenRoot/__SF__/q95_coreness.parquet/*.parquet'),
      roles AS (SELECT id, count(DISTINCT role) AS n_roles FROM (
                  SELECT subj AS id, 's:' || pred AS role FROM t
                  UNION ALL SELECT obj, 'o:' || pred FROM t) u GROUP BY 1)
      SELECT r.id, coalesce(idg.in_deg, 0) AS in_deg,
             coalesce(od.out_deg, 0) AS out_deg,
             coalesce(core.coreness, 0) AS coreness, r.n_roles
      FROM roles r LEFT JOIN od USING (id) LEFT JOIN idg USING (id)
      LEFT JOIN core USING (id)""",
    "q148_temporal_churn" -> """
      WITH o AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) AS us
                 FROM events),
      g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 86400000000
                           THEN 1 ELSE 0 END AS gap
            FROM o WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us)),
      i AS (SELECT *, sum(gap) OVER (PARTITION BY user_id, event_type
                                     ORDER BY us ROWS UNBOUNDED PRECEDING)
                        AS island FROM g),
      iv AS (SELECT user_id, event_type, min(us) AS f, max(us) AS tt
             FROM i GROUP BY user_id, event_type, island),
      before AS (SELECT DISTINCT user_id, event_type FROM iv
                 WHERE f <= 1704672000000000 AND tt >= 1704672000000000),
      after AS (SELECT DISTINCT user_id, event_type FROM iv
                WHERE f <= 1705276800000000 AND tt >= 1705276800000000)
      SELECT user_id, event_type, 'added' AS status
      FROM after ANTI JOIN before USING (user_id, event_type)
      UNION ALL
      SELECT user_id, event_type, 'removed' AS status
      FROM before ANTI JOIN after USING (user_id, event_type)""",
    // reconstructs the synthetic page independently (header pos 0, body
    // chunks of 4+doc_id%5 tokens, even-doc_id footer), elects boilerplate
    // per (source, paragraph) on distinct-doc support >= 3, then excises
    "q149_boilerplate_strip" -> """
      WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS ts,
                           CAST(4 + doc_id % 5 AS BIGINT) AS k FROM documents),
      body AS (SELECT doc_id, source, ts, k,
                      unnest(range(0, CAST(ceil(len(ts)::DOUBLE / k) AS BIGINT))) AS i
               FROM toks),
      chunks AS (SELECT doc_id, source, i + 1 AS pos,
                        array_to_string(ts[(i*k+1):((i+1)*k)], ' ') AS p FROM body),
      hdr AS (SELECT doc_id, source, 0 AS pos,
                     'nav ' || source || ' home about' AS p FROM documents),
      ftr AS (SELECT doc_id, source,
                     CAST(ceil(len(ts)::DOUBLE / k) AS BIGINT) + 1 AS pos,
                     'copyright ' || source || ' all rights reserved' AS p
              FROM toks WHERE doc_id % 2 = 0),
      pars AS (SELECT * FROM hdr UNION ALL SELECT * FROM chunks
               UNION ALL SELECT * FROM ftr),
      boiler AS (SELECT source, p FROM (
                   SELECT source, p, count(DISTINCT doc_id) AS nd
                   FROM pars GROUP BY 1, 2) WHERE nd >= 3),
      flagged AS (SELECT pars.*, (b.p IS NOT NULL) AS is_b
                  FROM pars LEFT JOIN boiler b USING (source, p))
      SELECT doc_id, any_value(source) AS source,
             count(*) AS n_paras,
             count(*) FILTER (WHERE is_b) AS n_removed,
             coalesce(string_agg(p, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT is_b), '') AS text_clean
      FROM flagged GROUP BY doc_id""",
    // exact containment in SQL — full inverted-index join, no cap (the
    // Spark cap provably never bites: zero rows in lastDropReport)
    "q150_containment" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 4),
                  i -> ts[i] || ts[i+1] || ts[i+2] || ts[i+3] || ts[i+4] || ts[i+5]))) AS g
                FROM toks),
      sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      ip AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
             FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
             GROUP BY 1, 2)
      SELECT src, dst, inter, sz AS src_sz
      FROM ip JOIN sizes ON sizes.doc_id = ip.src
      WHERE inter * 100 >= sz * 50""",
    "q152_sorted_neighborhood" -> """
      WITH ranked AS (SELECT p_partkey AS id, p_name AS k,
                             row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS r
                      FROM part)
      SELECT a.id AS id1, b.id AS id2, a.k AS key1, b.k AS key2,
             b.r - a.r AS dist
      FROM ranked a JOIN ranked b ON b.r > a.r AND b.r - a.r < 4""",
    "q151_coherent_linking" -> golden("q151_coherent_linking"),
    "q160_char_cosine_rerank" -> golden("q160_char_cosine_rerank"),
    "q165_trussness" -> golden("q165_trussness"),
    "q170_image_phash" -> golden("q170_image_phash"),
    "q171_weighted_pagerank" -> golden("q171_weighted_pagerank"),
    // full SQL replay of the multilevel round: q169's matching, label
    // derivation, quotient contraction, then q158's gain move on the
    // coarse simple graph, inner-joined back to fine nodes
    "q172_coarsen_move" -> s"""
      WITH t AS (SELECT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      deg AS (SELECT id, count(*) AS deg FROM
                (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
      dir AS (SELECT a AS i, b AS j FROM e UNION ALL SELECT b, a FROM e),
      prop AS (SELECT i, j FROM (
                 SELECT dir.i, dir.j,
                        row_number() OVER (PARTITION BY dir.i
                          ORDER BY d.deg, dir.j) AS rn
                 FROM dir JOIN deg d ON d.id = dir.j) WHERE rn = 1),
      mtch AS (SELECT p1.i AS a, p1.j AS b
               FROM prop p1 JOIN prop p2 ON p2.i = p1.j AND p2.j = p1.i
               WHERE p1.i < p1.j),
      mlab AS (SELECT a AS id, a AS label FROM mtch
               UNION ALL SELECT b, a FROM mtch),
      lab AS (SELECT deg.id, coalesce(mlab.label, deg.id) AS label
              FROM deg LEFT JOIN mlab ON mlab.id = deg.id),
      ce AS (SELECT DISTINCT least(l1.label, l2.label) AS a,
                             greatest(l1.label, l2.label) AS b
             FROM e JOIN lab l1 ON l1.id = e.a JOIN lab l2 ON l2.id = e.b
             WHERE l1.label <> l2.label),
      m2 AS (SELECT count(*) AS m FROM ce),
      deg2 AS (SELECT id, count(*) AS deg FROM
                 (SELECT a AS id FROM ce UNION ALL SELECT b FROM ce)
               GROUP BY 1),
      dir2 AS (SELECT a AS i, b AS j FROM ce UNION ALL SELECT b, a FROM ce),
      cand2 AS (SELECT i, j, kj.deg AS kj
                FROM dir2 JOIN deg2 ki ON ki.id = dir2.i
                          JOIN deg2 kj ON kj.id = dir2.j, m2
                WHERE 2 * m2.m > ki.deg * kj.deg),
      best2 AS (SELECT id, comm FROM (
                  SELECT i AS id, j AS comm,
                         row_number() OVER (PARTITION BY i
                           ORDER BY kj, j) AS rn FROM cand2) WHERE rn = 1),
      mm AS (SELECT deg2.id, coalesce(best2.comm, deg2.id) AS comm
             FROM deg2 LEFT JOIN best2 USING (id))
      SELECT lab.id, mm.comm FROM lab JOIN mm ON mm.id = lab.label""",
    "q168_entity_card" -> s"""
      WITH t AS (SELECT DISTINCT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      pdf AS (SELECT pred, count(*) AS pred_df FROM t GROUP BY pred)
      SELECT subj, pred, obj, pred_df, rank FROM (
        SELECT t.subj, t.pred, t.obj, pdf.pred_df,
               row_number() OVER (PARTITION BY t.subj
                 ORDER BY pdf.pred_df ASC, t.pred ASC, t.obj ASC) AS rank
        FROM t JOIN pdf ON pdf.pred = t.pred)
      WHERE rank <= 3""",
    "q169_matching" -> s"""
      WITH t AS (SELECT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      deg AS (SELECT id, count(*) AS deg FROM
                (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
      dir AS (SELECT a AS i, b AS j FROM e UNION ALL SELECT b, a FROM e),
      prop AS (SELECT i, j FROM (
                 SELECT dir.i, dir.j,
                        row_number() OVER (PARTITION BY dir.i
                          ORDER BY d.deg, dir.j) AS rn
                 FROM dir JOIN deg d ON d.id = dir.j) WHERE rn = 1)
      SELECT p1.i AS a, p1.j AS b
      FROM prop p1 JOIN prop p2 ON p2.i = p1.j AND p2.j = p1.i
      WHERE p1.i < p1.j""",
    "q167_rich_club" -> s"""
      WITH t AS (SELECT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      deg AS (SELECT id, count(*) AS deg FROM
                (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
      em AS (SELECT least(da.deg, db.deg) AS md
             FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b)
      SELECT d.deg AS k,
             (SELECT count(*) FROM deg x WHERE x.deg > d.deg) AS n_nodes,
             (SELECT count(*) FROM em WHERE em.md > d.deg) AS n_edges
      FROM (SELECT DISTINCT deg FROM deg) d""",
    "q166_path_bounded" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      one AS (SELECT DISTINCT subj AS s, obj AS o FROM t
              WHERE pred = 'related_to'),
      two AS (SELECT a.s, b.o FROM one a JOIN one b ON a.o = b.s)
      SELECT DISTINCT x, y FROM (
        SELECT s AS x, o AS y FROM one
        UNION ALL SELECT s AS x, o AS y FROM two)""",
    "q161_funnel_times" -> """
      WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, event_type AS st
                  FROM events),
      l0 AS (SELECT k, min(us) AS t, min(us) AS t0 FROM ev
             WHERE st = 'view' GROUP BY k),
      l1 AS (SELECT l0.k, l0.t0, min(us) AS t FROM l0 JOIN ev
             ON ev.k = l0.k AND ev.st = 'click' AND ev.us > l0.t
                AND ev.us <= l0.t0 + 604800000000
             GROUP BY l0.k, l0.t0),
      l2 AS (SELECT l1.k, l1.t0, min(us) AS t FROM l1 JOIN ev
             ON ev.k = l1.k AND ev.st = 'purchase' AND ev.us > l1.t
                AND ev.us <= l1.t0 + 604800000000
             GROUP BY l1.k, l1.t0),
      lv AS (SELECT k, t0, t, CAST(1 AS BIGINT) AS depth FROM l0
             UNION ALL SELECT k, t0, t, 2 FROM l1
             UNION ALL SELECT k, t0, t, 3 FROM l2),
      best AS (SELECT k, max(depth) AS d FROM lv GROUP BY k)
      SELECT lv.k, lv.depth, lv.t0, lv.t AS t_last,
             lv.t - lv.t0 AS convert_micros
      FROM lv JOIN best ON lv.k = best.k AND lv.depth = best.d""",
    "q162_pred_cardinality" -> s"""
      WITH t AS (SELECT DISTINCT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      base AS (SELECT pred, count(*) AS n_triples,
                      count(DISTINCT subj) AS n_subj,
                      count(DISTINCT obj) AS n_obj FROM t GROUP BY pred),
      o AS (SELECT pred, max(c) AS max_out FROM
              (SELECT pred, subj, count(*) AS c FROM t GROUP BY 1, 2)
            GROUP BY pred),
      i AS (SELECT pred, max(c) AS max_in FROM
              (SELECT pred, obj, count(*) AS c FROM t GROUP BY 1, 2)
            GROUP BY pred)
      SELECT base.pred, n_triples, n_subj, n_obj, max_out, max_in,
             (max_out = 1) AS functional, (max_in = 1) AS inverse_functional
      FROM base JOIN o ON o.pred = base.pred JOIN i ON i.pred = base.pred""",
    // brute-force: support = common-neighbor count per undirected edge
    "q163_edge_support" -> s"""
      WITH t AS (SELECT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      sym AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
      cn AS (SELECT e.a, e.b, count(*) AS c
             FROM e JOIN sym n1 ON n1.x = e.a
                    JOIN sym n2 ON n2.x = e.b AND n2.y = n1.y
             GROUP BY e.a, e.b)
      SELECT e.a, e.b, CAST(coalesce(cn.c, 0) AS BIGINT) AS support
      FROM e LEFT JOIN cn ON cn.a = e.a AND cn.b = e.b""",
    "q164_readability" -> """
      SELECT doc_id, n_words, n_sents, n_syllables,
             (206835 * n_sents * n_words - 1015 * n_words * n_words
              - 84600 * n_syllables * n_sents
              < 50000 * n_sents * n_words) AS hard
      FROM (SELECT doc_id,
              CAST(len(ts) AS BIGINT) AS n_words,
              CAST(greatest(1, len(list_filter(ts,
                tk -> regexp_matches(tk, '[.!?।]$')))) AS BIGINT) AS n_sents,
              CAST(list_sum(list_transform(ts,
                w -> greatest(1, len(regexp_extract_all(w, '[aeiou]+')))))
                AS BIGINT) AS n_syllables
            FROM (SELECT doc_id, string_split(text, ' ') AS ts
                  FROM documents))""",
    // full quadratic exact bigram Jaccard in SQL — proves the prefix
    // filter loses no pair (same surfaces from the golden mention fixture,
    // same perturbation, dictionary = the corpus token universe)
    "q157_fuzzy_alias" -> s"""
      WITH surf AS (SELECT DISTINCT lower(string_split(surface, ' ')[1]) AS a
                    FROM '$goldenRoot/__SF__/q42_mentions.parquet/*.parquet'),
      q0 AS (SELECT DISTINCT CASE WHEN length(a) > 3 THEN a[1:length(a)-1]
                                  ELSE a || 'x' END AS s FROM surf),
      c0 AS (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS s
             FROM documents),
      qg AS (SELECT s, list_distinct(list_transform(range(1, length(s)),
                       i -> s[i:i+1])) AS g FROM q0 WHERE length(s) >= 2),
      cg AS (SELECT s, list_distinct(list_transform(range(1, length(s)),
                       i -> s[i:i+1])) AS g FROM c0 WHERE length(s) >= 2),
      pairs AS (SELECT qg.s AS q, cg.s AS c,
                       len(list_intersect(qg.g, cg.g)) AS inter,
                       len(qg.g) + len(cg.g) - len(list_intersect(qg.g, cg.g)) AS uni
                FROM qg, cg)
      SELECT q, c, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
      FROM pairs WHERE inter * 100 >= uni * 60""",
    "q158_louvain_move" -> s"""
      WITH t AS (SELECT subj, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      m AS (SELECT count(*) AS m FROM e),
      deg AS (SELECT id, count(*) AS deg FROM
                (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      dir AS (SELECT a AS i, b AS j FROM e UNION ALL SELECT b, a FROM e),
      cand AS (SELECT i, j, kj.deg AS kj
               FROM dir JOIN deg ki ON ki.id = dir.i
                        JOIN deg kj ON kj.id = dir.j, m
               WHERE 2 * m.m > ki.deg * kj.deg),
      best AS (SELECT id, comm FROM (
                 SELECT i AS id, j AS comm,
                        row_number() OVER (PARTITION BY i ORDER BY kj, j) AS rn
                 FROM cand) WHERE rn = 1)
      SELECT deg.id, coalesce(best.comm, deg.id) AS comm
      FROM deg LEFT JOIN best USING (id)""",
    "q159_harmonic" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      reach(id, dst, d) AS (
        SELECT id, id, 0 FROM nodes
        UNION
        SELECT r.id, e.dst, r.d + 1 FROM reach r JOIN e ON r.dst = e.src
        WHERE r.d < 3),
      md AS (SELECT id, dst, min(d) AS d FROM reach GROUP BY 1, 2)
      SELECT id, count(*) AS n_reach,
             CAST(coalesce(sum(6 // d) FILTER (WHERE d > 0), 0) AS BIGINT)
               AS harmonic_num
      FROM md GROUP BY 1""",
    "q154_path_negated_opt" -> s"""
      WITH tt AS (SELECT DISTINCT subj, pred, obj
                  FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      s1 AS (SELECT DISTINCT subj AS s, obj AS o FROM tt
             WHERE pred NOT IN ('related_to', 'merge')),
      s2 AS (SELECT DISTINCT subj AS s, obj AS o FROM tt WHERE pred = 'hash')
      SELECT DISTINCT x, y FROM (
        SELECT s1.s AS x, s2.o AS y FROM s1 JOIN s2 ON s1.o = s2.s
        UNION ALL SELECT s AS x, o AS y FROM s1)""",
    "q155_bgp_graphs" -> s"""
      WITH tt AS (SELECT DISTINCT url AS g, subj, pred, obj
                  FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      m AS (SELECT DISTINCT g, subj AS x, obj AS y FROM tt WHERE pred = 'merge'),
      s AS (SELECT DISTINCT g, subj AS y, obj AS z FROM tt
            WHERE pred = 'related_to')
      SELECT DISTINCT g, x, y, z FROM m JOIN s USING (g, y)""",
    "q156_funnel" -> """
      WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, event_type AS st
                  FROM events),
      l0 AS (SELECT k, min(us) AS t, min(us) AS t0 FROM ev
             WHERE st = 'view' GROUP BY k),
      l1 AS (SELECT l0.k, l0.t0, min(us) AS t FROM l0 JOIN ev
             ON ev.k = l0.k AND ev.st = 'click' AND ev.us > l0.t
                AND ev.us <= l0.t0 + 604800000000
             GROUP BY l0.k, l0.t0),
      l2 AS (SELECT l1.k, l1.t0, min(us) AS t FROM l1 JOIN ev
             ON ev.k = l1.k AND ev.st = 'purchase' AND ev.us > l1.t
                AND ev.us <= l1.t0 + 604800000000
             GROUP BY l1.k, l1.t0)
      SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), 'view', (SELECT count(*) FROM l0)),
        (CAST(1 AS BIGINT), 'click', (SELECT count(*) FROM l1)),
        (CAST(2 AS BIGINT), 'purchase', (SELECT count(*) FROM l2)))
        AS v(stage_idx, stage, n_keys)""",
    // near-dup clustering (golden q36 fixture) confused against exact-text
    // clusters via the C(n,2) cell identity — integer-exact on both engines
    "q153_cluster_agreement" -> s"""
      WITH near AS (SELECT doc_id, keep_id
                    FROM '$goldenRoot/__SF__/q36_dedup_clusters.parquet/*.parquet'),
      exm AS (SELECT text, min(doc_id) AS exact_id FROM documents GROUP BY text),
      items AS (SELECT d.doc_id, n.keep_id, m.exact_id
                FROM documents d JOIN near n USING (doc_id)
                JOIN exm m ON d.text = m.text),
      cells AS (SELECT keep_id, exact_id, count(*) AS n FROM items GROUP BY 1, 2)
      SELECT
        (SELECT CAST(sum(n*(n-1)//2) AS BIGINT) FROM cells) AS tp_pairs,
        (SELECT CAST(sum(n*(n-1)//2) AS BIGINT) FROM
           (SELECT sum(n) AS n FROM cells GROUP BY keep_id)) AS a_pairs,
        (SELECT CAST(sum(n*(n-1)//2) AS BIGINT) FROM
           (SELECT sum(n) AS n FROM cells GROUP BY exact_id)) AS b_pairs,
        (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n_items""",
    "q119_bgp_minus" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet')
      SELECT DISTINCT m.subj AS x, m.obj AS z
      FROM t m
      WHERE m.pred = 'merge'
        AND NOT EXISTS (SELECT 1 FROM t o
                        WHERE o.pred = 'order' AND o.subj = m.obj)
        AND NOT EXISTS (SELECT 1 FROM t s
                        WHERE s.pred = 'scan' AND s.subj = m.subj)""",
    "q120_owl_rules" -> s"""
      WITH RECURSIVE
      t AS (SELECT DISTINCT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      inv AS (SELECT obj AS subj, 'merged_by' AS pred, subj AS obj
              FROM t WHERE pred = 'merge'),
      sym AS (SELECT obj AS subj, 'stream' AS pred, subj AS obj
              FROM t WHERE pred = 'stream'),
      ord0 AS (SELECT DISTINCT subj AS s, obj AS o FROM t
               WHERE pred = 'order' AND subj <> obj),
      oplus(s, o) AS (SELECT s, o FROM ord0
                      UNION
                      SELECT p.s, e.o FROM oplus p JOIN ord0 e ON e.s = p.o),
      ordc AS (SELECT s AS subj, 'order' AS pred, o AS obj FROM oplus
               WHERE s <> o)
      SELECT DISTINCT subj, pred, obj FROM (
        SELECT * FROM t UNION ALL SELECT * FROM inv
        UNION ALL SELECT * FROM sym UNION ALL SELECT * FROM ordc)""",
    "q112_shacl_report" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      subjects AS (SELECT DISTINCT subj FROM t),
      card(pred, min_count, max_count) AS
        (VALUES ('merge', 1, 2), ('order', 1, 1),
                ('scan', 0, 1), ('hash', 1, 99)),
      counts AS (SELECT subj, pred, count(DISTINCT obj) AS n
                 FROM t GROUP BY 1, 2),
      cv AS (SELECT s.subj, c.pred,
               CASE WHEN COALESCE(n, 0) < c.min_count
                    THEN 'minCount' ELSE 'maxCount' END AS code,
               CAST(COALESCE(n, 0) AS BIGINT) AS observed,
               CAST(CASE WHEN COALESCE(n, 0) < c.min_count
                    THEN c.min_count ELSE c.max_count END AS BIGINT) AS bound
             FROM subjects s CROSS JOIN card c
             LEFT JOIN counts ON counts.subj = s.subj AND counts.pred = c.pred
             WHERE COALESCE(n, 0) < c.min_count OR COALESCE(n, 0) > c.max_count),
      av AS (SELECT DISTINCT subj, pred, 'valueNotAllowed' AS code,
                    obj AS observed, CAST(NULL AS BIGINT) AS bound
             FROM t WHERE pred = 'stream' AND obj % 2 <> 0)
      SELECT * FROM cv UNION ALL SELECT * FROM av""",
    "q113_bgp_agg" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      b AS (SELECT DISTINCT t1.subj AS x, t1.obj AS z, t2.obj AS y
            FROM t t1 JOIN t t2 ON t1.obj = t2.subj
            WHERE t1.pred = 'merge' AND t2.pred = 'order')
      SELECT x, count(*) AS n_bindings, count(DISTINCT y) AS n_distinct
      FROM b GROUP BY x""",
    "q114_construct" -> s"""
      WITH t AS (SELECT subj, pred, obj
                 FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      b AS (SELECT DISTINCT t1.subj AS x, t1.obj AS z, t2.obj AS y
            FROM t t1 JOIN t t2 ON t1.obj = t2.subj
            WHERE t1.pred = 'merge' AND t2.pred = 'order')
      SELECT DISTINCT x AS subj, 'merged_order' AS pred, y AS obj FROM b
      UNION
      SELECT DISTINCT y AS subj, 'feeds' AS pred, x AS obj FROM b""",
    "q116_reach_profile" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      reach(id, dst, d) AS (
        SELECT id, id, 0 FROM nodes
        UNION
        SELECT r.id, e.dst, r.d + 1 FROM reach r JOIN e ON r.dst = e.src
        WHERE r.d < 3),
      md AS (SELECT id, dst, min(d) AS d FROM reach GROUP BY 1, 2)
      SELECT md.id, CAST(h.hop AS BIGINT) AS hop,
             count(*) AS n_reach
      FROM md JOIN (VALUES (0), (1), (2), (3)) AS h(hop) ON md.d <= h.hop
      GROUP BY 1, 2""",
    "q108_property_path" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      m AS (SELECT DISTINCT subj AS s, obj AS o FROM t WHERE pred = 'merge'),
      ord AS (SELECT DISTINCT subj AS s, obj AS o FROM t
              WHERE pred = 'order' AND subj <> obj),
      oplus(s, o) AS (SELECT s, o FROM ord
                      UNION
                      SELECT p.s, e.o FROM oplus p JOIN ord e ON e.s = p.o
                      WHERE p.s <> e.o),
      path AS (SELECT m.s AS x, oplus.o AS y FROM m JOIN oplus ON oplus.s = m.o)
      SELECT DISTINCT x, y FROM path""",
    "q103_skipgram_pairs" -> s"""
      WITH w AS (SELECT * FROM '$goldenRoot/__SF__/q99_random_walks.parquet/*.parquet')
      SELECT a.node AS center, b.node AS context, count(*) AS cnt
      FROM w a JOIN w b
        ON a."start" = b."start" AND a.walk = b.walk
        AND b.step <> a.step AND abs(b.step - a.step) <= 2
      GROUP BY 1, 2""",
    "q104_modularity" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      l AS (SELECT id, id % 4 AS label FROM
             (SELECT DISTINCT subj AS id FROM t
              UNION SELECT DISTINCT obj AS id FROM t)),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      deg AS (SELECT id, count(*) AS d FROM
               (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
              GROUP BY 1),
      within AS (SELECT la.label, count(*) AS w
                 FROM e JOIN l la ON la.id = e.a
                        JOIN l lb ON lb.id = e.b AND lb.label = la.label
                 GROUP BY 1),
      ks AS (SELECT l.label, count(*) AS members,
                    CAST(sum(deg.d) AS BIGINT) AS degree_sum
             FROM deg JOIN l ON l.id = deg.id GROUP BY 1)
      SELECT ks.label, ks.members, COALESCE(within.w, 0) AS within_edges,
             ks.degree_sum, (SELECT count(*) FROM e) AS m_edges
      FROM ks LEFT JOIN within USING (label)""",
    "q105_bgp_union" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      b1 AS (SELECT DISTINCT subj AS a, obj AS b FROM t
             WHERE pred = 'order' AND subj < obj),
      b2 AS (SELECT DISTINCT subj AS a, obj AS b FROM t
             WHERE pred = 'batch' AND subj <> obj)
      SELECT DISTINCT a, b FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)""",
    "q106_rdfs_closure" -> s"""
      WITH RECURSIVE
      t AS (SELECT subj, pred, obj
            FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      spax AS (SELECT * FROM (VALUES ('merge', 'rel'), ('order', 'rel'),
               ('sort', 'arranged'), ('arranged', 'rel')) v(sub, sup)),
      spc(sub, sup) AS (SELECT sub, sup FROM spax
                        UNION
                        SELECT s.sub, a.sup FROM spc s
                        JOIN spax a ON a.sub = s.sup),
      scax AS (SELECT * FROM (VALUES (9001, 9100), (9100, 9200),
               (9002, 9200), (9003, 9100)) v(sub, sup)),
      scc(sub, sup) AS (SELECT sub, sup FROM scax
                        UNION
                        SELECT s.sub, a.sup FROM scc s
                        JOIN scax a ON a.sub = s.sup),
      dom AS (SELECT * FROM (VALUES ('merge', 9001), ('batch', 9002),
              ('arranged', 9003)) v(pred, cls)),
      rng AS (SELECT * FROM (VALUES ('rel', 9004)) v(pred, cls)),
      sp AS (SELECT t.subj, spc.sup AS pred, t.obj
             FROM t JOIN spc ON spc.sub = t.pred),
      allp AS (SELECT subj, pred, obj FROM t
               UNION ALL SELECT subj, pred, obj FROM sp),
      domt AS (SELECT subj, 'type' AS pred, CAST(cls AS BIGINT) AS obj
               FROM allp JOIN dom USING (pred)),
      rngt AS (SELECT allp.obj AS subj, 'type' AS pred,
                      CAST(cls AS BIGINT) AS obj
               FROM allp JOIN rng USING (pred)),
      types AS (SELECT subj, pred, obj FROM allp WHERE pred = 'type'
                UNION ALL SELECT subj, pred, obj FROM domt
                UNION ALL SELECT subj, pred, obj FROM rngt),
      sct AS (SELECT types.subj, 'type' AS pred, CAST(scc.sup AS BIGINT) AS obj
              FROM types JOIN scc ON scc.sub = types.obj)
      SELECT DISTINCT subj, pred, obj FROM
        (SELECT subj, pred, obj FROM allp
         UNION ALL SELECT subj, pred, obj FROM domt
         UNION ALL SELECT subj, pred, obj FROM rngt
         UNION ALL SELECT subj, pred, obj FROM sct)""",
    "q101_clustering_coeff" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM t WHERE subj <> obj),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1 JOIN e e2 ON e2.a = e1.b
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      n AS (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
            UNION ALL SELECT z AS id FROM tri),
      c AS (SELECT id, count(*) AS triangles FROM n GROUP BY 1),
      deg AS (SELECT id, count(*) AS d FROM
                (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
              GROUP BY 1)
      SELECT deg.id, COALESCE(c.triangles, 0) AS triangles,
             deg.d * (deg.d - 1) // 2 AS pairs
      FROM deg LEFT JOIN c ON c.id = deg.id""",
    "q102_bgp_optional" -> s"""
      WITH t AS (SELECT * FROM '$goldenRoot/__SF__/q47_triples.parquet/*.parquet'),
      p1 AS (SELECT DISTINCT subj AS x, obj AS z FROM t WHERE pred = 'merge'),
      p2 AS (SELECT DISTINCT subj AS z, obj AS y FROM t WHERE pred = 'order'),
      p3 AS (SELECT DISTINCT subj AS x, obj AS w FROM t WHERE pred = 'batch')
      SELECT DISTINCT p1.x, z, y, w
      FROM p1 LEFT JOIN p2 USING (z) LEFT JOIN p3 USING (x)""",
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 6) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_topk_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total, o_orderpriority
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q200_important_brands" ->
      """WITH rev AS (
           SELECT p_brand, sum(l_extendedprice * (1 - l_discount)) AS v
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand),
         tot AS (SELECT sum(v) AS tot FROM rev)
         SELECT p_brand, round(v, 2) AS value FROM rev, tot
         WHERE v * 25 > tot""",
    "q201_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
           GROUP BY c.c_custkey)
         GROUP BY c_count""",
    "q202_top_suppliers" ->
      """WITH rev AS (
           SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, round(rev, 2) AS total_rev
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY rev DESC, s_suppkey ASC LIMIT 3""",
    "q203_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY o_orderpriority""",
    "q204_volume_orders" ->
      """WITH big AS (
           SELECT l_orderkey, sum(l_quantity) AS total_qty
           FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
         SELECT c_name, o_orderkey, CAST(total_qty AS BIGINT) AS total_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey""",
    "q205_regional_revenue" ->
      """SELECT n_name,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",
    "q03_join_mktsegment" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""",
    "q04_part_brand_qty" ->
      """SELECT p_brand, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size < 15 GROUP BY p_brand""",
    "q05_region_rollup" ->
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""",
    "q06_top_event_per_user" ->
      """SELECT user_id, event_id, round(value, 2) AS top_value FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
           FROM events) WHERE rn = 1""",
    "q07_sessionize" ->
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
           SELECT user_id,
                  CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800.0 THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, ts,
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                 FROM events)) GROUP BY user_id""",
    "q08_salted_join" ->
      """SELECT o_orderpriority, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority""",
    "q09_anti_semi" ->
      """SELECT 'with_lineitems' AS kind, count(*) AS n FROM orders
           WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
         UNION ALL
         SELECT 'without_lineitems' AS kind, count(*) AS n FROM orders
           WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)""",
    "q10_set_ops" ->
      """SELECT 'intersect' AS op, count(*) AS n FROM (
           SELECT DISTINCT o_custkey AS k FROM orders
           INTERSECT SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0)
         UNION ALL
         SELECT 'except' AS op, count(*) AS n FROM (
           SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
           EXCEPT SELECT DISTINCT o_custkey AS k FROM orders)""",
    "q11_running_total" ->
      """SELECT user_id, event_id,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
         FROM events""",
    "q12_cube_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q13_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type""",
    "q52_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         wins AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 8),
                    i -> array_to_string(ts[i:i+9], '')))) AS win FROM toks),
         owners AS (SELECT win, count(DISTINCT doc_id) AS nd FROM wins GROUP BY win),
         perdoc AS (SELECT doc_id, count(*) AS nw,
                           sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS ndw
                    FROM wins JOIN owners USING (win) GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
                CAST(coalesce(ndw, 0) AS BIGINT) AS n_dup_windows
         FROM documents d LEFT JOIN perdoc USING (doc_id)""",
    "q53_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                  i -> array_to_string(ts[i:i+7], '')))) AS g FROM toks WHERE doc_id % 97 = 0),
         dg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                  i -> array_to_string(ts[i:i+7], '')))) AS g FROM toks),
         hits AS (SELECT doc_id, count(*) AS nh FROM dg JOIN bg USING (g) GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
                coalesce(nh, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits USING (doc_id)""",
    "q54_mixture_sample" -> golden("q54_mixture_sample"),
    "q55_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         g1 AS (SELECT doc_id, unnest(ts) AS g FROM t),
         g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                  i -> ts[i] || ' ' || ts[i+1])) AS g FROM t),
         g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
                  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g FROM t),
         m1 AS (SELECT doc_id, max(c) AS top1 FROM (SELECT doc_id, g, count(*) AS c FROM g1 GROUP BY 1, 2) GROUP BY 1),
         m2 AS (SELECT doc_id, max(c) AS top2 FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
         m3 AS (SELECT doc_id, max(c) AS top3 FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1)
         SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(coalesce(top1, 0) AS BIGINT) AS top1_count,
                CAST(coalesce(top2, 0) AS BIGINT) AS top2_count,
                CAST(coalesce(top3, 0) AS BIGINT) AS top3_count,
                (coalesce(top1, 0) * 10 > len(ts) * 3
                 OR coalesce(top2, 0) * 5 > greatest(len(ts) - 1, 0)
                 OR coalesce(top3, 0) * 20 > greatest(len(ts) - 2, 0) * 3) AS repetitive
         FROM t LEFT JOIN m1 USING (doc_id) LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)""",
    "q56_lm_rarity" ->
      """WITH g AS (SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
                      i -> substr(text, i::INT, 3))) AS gram FROM documents),
         f AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM f)
         SELECT doc_id, count(*) AS n_grams, CAST(sum(cnt) AS BIGINT) AS freq_sum,
                round(avg(ln(cnt / tot)), 6) AS lm_logprob
         FROM g JOIN f USING (gram) CROSS JOIN tot GROUP BY doc_id""",
    "q57_pii_redact" ->
      """WITH p AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 5 = 0 THEN ' reach user' || doc_id || '@mail.example.com' ELSE '' END ||
           CASE WHEN doc_id % 7 = 0 THEN ' call 555-01' || (doc_id % 10) || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) || '.7' ELSE '' END AS text
         FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
           len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
         FROM p""",
    "q59_corpus_profile" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           quantile_cont(len(string_split(text, ' ')), 0.5) AS p50_tokens,
           quantile_cont(len(string_split(text, ' ')), 0.9) AS p90_tokens
         FROM documents GROUP BY source""",
    "q60_bpe_merges" -> golden("q60_bpe_merges"),
    "q63_remove_dup_spans" -> golden("q63_remove_dup_spans"),
    "q68_paragraph_dedup" -> golden("q68_paragraph_dedup"),
    "q76_bloom_dedup" -> golden("q76_bloom_dedup"),
    "q77_quality_classifier" -> golden("q77_quality_classifier"),
    "q69_dsir_select" -> golden("q69_dsir_select"),
    "q70_bpe_encode" -> golden("q70_bpe_encode"),
    "q71_packed_ids" -> golden("q71_packed_ids"),
    "q74_temperature_mixture" -> golden("q74_temperature_mixture"),
    "q75_chunk_docs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         n AS (SELECT doc_id, ts, len(ts) AS nt FROM toks),
         c AS (SELECT doc_id, ts,
                 CASE WHEN nt <= 16 THEN 1 ELSE (nt - 16 + 11) // 12 + 1 END AS nc
               FROM n),
         e AS (SELECT doc_id, ts, unnest(range(nc)) AS ci FROM c)
         SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           CAST(len(ts[ci*12+1 : ci*12+16]) AS BIGINT) AS n_tokens,
           array_to_string(ts[ci*12+1 : ci*12+16], ' ') AS chunk
         FROM e""",
    "q73_ccnet_buckets" ->
      """WITH g AS (SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
                      i -> substr(text, i::INT, 3))) AS gram FROM documents),
         f AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM f),
         s AS (SELECT doc_id, round(avg(ln(cnt / tot)), 6) AS lm_logprob
               FROM g JOIN f USING (gram) CROSS JOIN tot GROUP BY doc_id),
         sl AS (SELECT d.doc_id, d.lang, s.lm_logprob FROM documents d JOIN s USING (doc_id)),
         th AS (SELECT lang, quantile_cont(lm_logprob, 2.0/3) AS t_head,
                       quantile_cont(lm_logprob, 1.0/3) AS t_mid
                FROM sl GROUP BY lang)
         SELECT doc_id, lang, lm_logprob,
           CASE WHEN lm_logprob >= t_head THEN 'head'
                WHEN lm_logprob >= t_mid THEN 'middle' ELSE 'tail' END AS bucket
         FROM sl JOIN th USING (lang)""",
    "q72_ngram_counts" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
         g AS (SELECT array_to_string(ts[i : i+2], ' ') AS gram
               FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i
                     FROM toks WHERE len(ts) >= 3))
         SELECT gram, COUNT(*) AS cnt FROM g
         GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""",
    "q62_domain_cap" ->
      """SELECT doc_id, source, rnk FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(source || ':' || doc_id), doc_id) AS BIGINT) AS rnk
           FROM documents) WHERE rnk <= 12""",
    "q61_bpe_segment" -> golden("q61_bpe_segment"),
    "q64_bpe_segment_2k" -> golden("q64_bpe_segment_2k"),
    "q65_packing_subwords" -> golden("q65_packing_subwords"),
    "q66_ann_ivf_trained" -> golden("q66_ann_ivf_trained"),
    "q78_ann_pq" -> golden("q78_ann_pq"),
    "q173_ann_ivf_pq" -> golden("q173_ann_ivf_pq"),
    "q196_ann_ivf_pq_residual" -> golden("q196_ann_ivf_pq_residual"),
    "q199_compression_ratio" -> golden("q199_compression_ratio"),
    // the twin stores exact/est as strings (no Long ceiling in the
    // fixture); cast to DECIMAL(38,0) so both engines compare as the
    // same float64-normalized integers
    "q198_f2_sketch" ->
      s"""SELECT "group", n_rows, CAST(exact_f2 AS DECIMAL(38,0)) AS exact_f2,
             CAST(est_f2 AS DECIMAL(38,0)) AS est_f2, err_permille
          FROM '$goldenRoot/__SF__/q198_f2_sketch.parquet/*.parquet'""",
    // INDEPENDENT oracle: constructs the expected canonical form from
    // (source, doc_id) directly — never re-runs a canonicalizer. Tracking
    // params (utm_source, ref) vanish; surviving params byte-sorted
    // ('id=' < 'z='); scheme/host lowercased; www., :443 and #frag dropped.
    "q58_url_canonicalize" ->
      """SELECT doc_id,
           'https://' || lower(source) || '.example.com/p/' || doc_id ||
             '?id=' || doc_id || '&z=' || (doc_id % 7) AS url_canon,
           'example.com' AS domain
         FROM documents""",
    "q20_vocab_trim" ->
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
         GROUP BY token HAVING count(*) > 10""",
    // exact heavy hitters straight from the definition — the two-pass
    // MG path must agree bit-for-bit (cnt * k > N, k = 100)
    "q182_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                       FROM documents),
         c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
         SELECT token, cnt FROM c, tot WHERE cnt * 100 > n""",
    "q183_count_min" -> golden("q183_count_min"),
    "q21_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents GROUP BY text""",
    "q22_quality" ->
      s"""SELECT doc_id,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
          len(list_filter(string_split(text, ' '), x -> x IN (${TextStats.stopwords.map("'" + _ + "'").mkString(",")}))) AS n_stopwords,
          length(text) AS n_chars,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
          FROM documents""",
    "q23_lang_dist" ->
      // CAST: DuckDB sum(BIGINT) yields HUGEINT, which the driver's pandas
      // materialization renders as float64 -> hash mismatch vs Spark's int64
      "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang",
    "q37_quality_filter" ->
      s"""SELECT doc_id, n_tokens, n_uniq_tokens, n_stopwords, n_chars, n_punct,
          (n_tokens BETWEEN 5 AND 100000
           AND n_chars >= n_tokens * 2 AND n_chars <= n_tokens * 12
           AND n_stopwords * 100 >= n_tokens
           AND n_punct * 5 <= n_chars) AS keep
          FROM (SELECT doc_id,
            len(string_split(text, ' ')) AS n_tokens,
            len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
            len(list_filter(string_split(text, ' '), x -> x IN (${TextStats.stopwords.map("'" + _ + "'").mkString(",")}))) AS n_stopwords,
            length(text) AS n_chars,
            length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
            FROM documents)""",
    "q24_langid" -> {
      val scores = TextStats.markers.map { case (lg, ms) =>
        s"len(list_filter(string_split(text, ' '), x -> x IN (${ms.map("'" + _ + "'").mkString(",")}))) AS s_$lg"
      }.mkString(", ")
      val gl = "greatest(" + TextStats.markers.map("s_" + _._1).mkString(", ") + ")"
      val cases = TextStats.markers.map { case (lg, _) => s"WHEN s_$lg = $gl THEN '$lg'" }.mkString(" ")
      s"""SELECT doc_id,
          CASE WHEN $gl = 0 THEN 'und' $cases END AS pred_lang,
          $gl AS marker_hits
          FROM (SELECT doc_id, $scores FROM documents)"""
    },
    "q25_token_counts" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
         CAST(list_sum(list_transform(string_split(text, ' '), x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_units
         FROM documents""",
    "q26_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents WHERE doc_id < 2000),
         grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || chr(1) || ts[i+1]))) AS g FROM toks),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         ip AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS cnt
                FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc1, doc2, cnt AS inter, s1.sz + s2.sz - cnt AS uni
         FROM ip JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
         WHERE cnt * 100 >= (s1.sz + s2.sz - cnt) * 50""",
    // exact n-gram Jaccard as the LSH oracle: every pair minhashLsh reports
    // must be a true >=0.5-Jaccard pair AND (verified empirically: the
    // corpus' near-dups are high-similarity, where 8x4 banding recall ~ 1)
    // every true pair must be found — so the exact twin IS the answer
    "q27_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                     i -> ts[i] || ts[i+1] || ts[i+2]))) AS g FROM toks),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         ip AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS cnt
                FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc1, doc2, CAST(cnt AS INT) AS inter, CAST(s1.sz + s2.sz - cnt AS INT) AS uni
         FROM ip JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
         WHERE cnt * 2 >= s1.sz + s2.sz - cnt""",
    // the full-corpus exact twin of q39's prefix-filtered join — the naive
    // quadratic form in SQL; identical rows prove the prefix filter loses
    // no pair (the theorem's empirical check at every sf)
    "q39_jaccard_prefix_filter" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                     i -> ts[i] || ts[i+1] || ts[i+2]))) AS g FROM toks),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         ip AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS cnt
                FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc1, doc2, CAST(cnt AS INT) AS inter, CAST(s1.sz + s2.sz - cnt AS INT) AS uni
         FROM ip JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
         WHERE cnt * 100 >= (s1.sz + s2.sz - cnt) * 60""",
    // full IVF replication in SQL: same deterministic codebook (stride on
    // max id, ordered cut), same assignment/probe/rank tie-breaks; cosines
    // computed as dot/(sqrt*sqrt) over DOUBLE[] in array order on both
    // sides, so the doubles are bit-identical and need no rounding
    "q31_ann_ivf" -> {
      val cos = (a: String, b: String) =>
        s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"
      s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
         cents AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings, mx
                   WHERE vec_id % greatest(1, (m + 1) // 16) = 0
                   ORDER BY vec_id LIMIT 16),
         assigned AS (SELECT vec_id, ev, centroid_id AS list_id FROM (
             SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev, c.centroid_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cos("CAST(e.embedding AS DOUBLE[])", "c.cv")} DESC, c.centroid_id ASC) AS rn
             FROM embeddings e, cents c) WHERE rn = 1),
         probes AS (SELECT query_id, qv, centroid_id AS list_id FROM (
             SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.centroid_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cos("CAST(q.embedding AS DOUBLE[])", "c.cv")} DESC, c.centroid_id ASC) AS rn
             FROM embeddings q, cents c WHERE q.vec_id < 20) WHERE rn <= 4)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT p.query_id, a.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY p.query_id
                    ORDER BY ${cos("p.qv", "a.ev")} DESC, a.vec_id ASC) AS rank
           FROM assigned a JOIN probes p ON a.list_id = p.list_id AND a.vec_id <> p.query_id)
         WHERE rank <= 10"""
    },
    "q30_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT query_id, e.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 9) DESC,
                             e.vec_id ASC) AS rank
           FROM q, embeddings e WHERE e.vec_id <> q.query_id)
         WHERE rank <= 10""",
    // the per-row extraction invariant: every page's extract_text(html)
    // equals its text column — the oracle asserts TRUE for every url
    "q40_extraction_invariant" ->
      """SELECT 'https://crawl.example.org/' || lang || '/' || source || '/doc'
           || CAST(doc_id AS VARCHAR) AS url,
         lang, TRUE AS extract_ok FROM documents""",
    // multiset symmetric difference between the two link plans is empty
    "q45_linked_salted_parity" ->
      """SELECT 'broadcast_minus_salted' AS side, CAST(0 AS BIGINT) AS n
         UNION ALL
         SELECT 'salted_minus_broadcast' AS side, CAST(0 AS BIGINT) AS n""",
    // image rows carry a REAL PNG (n_bytes not SQL-expressible): the twin
    // constructs its own PNG from the analytic pixel spec and sizes it
    "q34_multimodal_meta" -> golden("q34_multimodal_meta")
  )
}
