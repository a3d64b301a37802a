package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/**
 * Physical-plan audits: the properties that make the 100 TB case work must
 * hold in the actual optimized plans, not just in intent — filter pushdown
 * to the parquet scan, column pruning (never read `html`/`text` when not
 * needed), broadcast joins for dimension tables.
 */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: shipdate filter is pushed to the parquet scan") {
    val p = plan(SparkEntry.queries("q01_pricing_agg")(spark, sf))
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q25: scan reads only doc_id and text (column pruning past the ops)") {
    val p = plan(SparkEntry.queries("q25_token_counts")(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("q03/q04/q05: dimension joins are broadcast hash joins") {
    for (q <- Seq("q03_join_mktsegment", "q04_part_brand_qty", "q05_region_rollup")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(1500)}")
      assert(!p.contains("SortMergeJoin"), s"$q should not shuffle the fact side")
    }
  }

  test("NER sentence source never reads the html column") {
    val pages = Pipeline.pages(spark, sf)
    val p = plan(graft.ner.NerStage.sentences(pages).toDF())
    // the corpus is derived from documents.parquet: text flows in, html is
    // synthesized per-row; the scan must not read columns the narrow
    // projection drops (n_chars is unused everywhere)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("n_chars"), readSchema)
  }

  test("q20 vocab counts: partial aggregation before the shuffle") {
    val p = plan(SparkEntry.queries("q20_vocab_trim")(spark, sf))
    // two HashAggregates around one exchange = map-side combine
    val n = p.linesIterator.count(_.contains("HashAggregate"))
    assert(n >= 2, p.take(1500))
    assert(p.contains("Exchange"), p.take(1500))
  }

  test("bucketed tables join without any Exchange (co-located join)") {
    import spark.implicits._
    import graft.core.TableIO
    val triples = Pipeline.triples(spark, sf).toDF().limit(500)
    val canon = Pipeline.canonMap(spark, sf)
    TableIO.writeBucketed(triples, "t_triples_b", 4, "subj", "subj")
    TableIO.writeBucketed(canon.withColumnRenamed("id", "subj"), "t_canon_b", 4, "subj", "subj")
    // force the sort-merge path (tiny test tables would otherwise broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("t_triples_b").join(spark.table("t_canon_b"), "subj")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${p.take(1500)}")
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert(p.contains("Bucketed: true"), p.take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("triple sink: lang partition pruning reaches the scan on read-back") {
    val dir = java.nio.file.Files.createTempDirectory("trip").toString
    graft.kg.Triples.write(Pipeline.triples(spark, sf).limit(200), dir, buckets = 2)
    val back = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en")
    val p = plan(back)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("lang"), s"expected lang partition filter:\n${p.take(1200)}")
  }

  test("IVF: assignment never shuffles — no Exchange on list_id, probes broadcast, no window") {
    val p = plan(SparkEntry.queries("q31_ann_ivf")(spark, sf))
    // nearest-centroid assignment is a mapPartitions projection (no xNList
    // explode, no per-vector window); the nList-valued list_id must never
    // key an Exchange (it would cap parallelism at nList and skew)
    assert(!p.contains("hashpartitioning(list_id"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the per-query top-k is the bounded k-heap aggregate: ZERO windows
    // (a window would exchange each query's full candidate list to one
    // task), and the aggregate runs partial (map-side) + final
    assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")), p.take(3000))
    val objAggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate, got $objAggs:\n${p.take(3000)}")
  }

  test("ANN rankers (brute-force, PQ): bounded k-heap top-k — no window, partial agg") {
    for (q <- Seq("q30_ann_bruteforce", "q78_ann_pq")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
        s"$q still ranks with a window:\n${p.take(3000)}")
      val objAggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
      assert(objAggs >= 2, s"$q: expected partial+final ObjectHashAggregate:\n${p.take(3000)}")
    }
  }

  test("entity-link top-1 is a partial-merge aggregate, not a window sort") {
    val m = Pipeline.mentions(spark, sf)
    val d = Pipeline.aliasDict(spark, sf)
    val p = plan(graft.link.EntityLink.linkBroadcast(m, d).toDF())
    assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")), p.take(3000))
    // min_by(struct) -> SortAggregate/ObjectHashAggregate with a map-side
    // partial before the exchange (the shuffle carries one row per mention
    // per partition, not every candidate)
    val aggs = p.linesIterator.count(l => l.matches("\\(\\d+\\) (Sort|Hash|ObjectHash)Aggregate.*"))
    assert(aggs >= 2, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("new curation ops: column pruning holds, no single-partition exchange") {
    // q39's operator is eager/self-cleaning by default (returns a
    // materialized checkpoint); lazy mode exposes the real plan to audit
    graft.ops.Dedup.withLazyPlans {
      for (q <- Seq("q37_quality_filter", "q39_jaccard_prefix_filter",
                    "q52_dup_spans", "q53_decontaminate")) {
        val p = plan(SparkEntry.queries(q)(spark, sf))
        val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
        // every scan pruned to what it needs: doc_id always, text on the
        // gram-producing scan, never lang/source (q52/q53's left-join-back
        // scan legitimately reads doc_id alone)
        assert(readSchemas.nonEmpty && readSchemas.forall(rs =>
          rs.contains("doc_id") && !rs.contains("lang") && !rs.contains("source")),
          s"$q: $readSchemas")
        assert(readSchemas.exists(_.contains("text")), s"$q: $readSchemas")
        // nothing may funnel the corpus through one task (the prefix-filter
        // join's canonical order is the (freq, gram) PAIR — no global rank)
        assert(!p.contains("SinglePartition"), s"$q has a single-partition exchange")
      }
      // q39's per-doc prefix window partitions by doc_id, never globally
      val p39 = plan(SparkEntry.queries("q39_jaccard_prefix_filter")(spark, sf))
      assert(p39.contains("hashpartitioning(doc_id"), p39.take(3000))
    }
  }

  test("q55/q57/q58 run with ZERO exchanges; q56's model join is broadcast") {
    // repetition profile, PII redaction and URL canonicalization are pure
    // per-row passes — any Exchange in their plans is a regression
    for (q <- Seq("q55_repetition", "q57_pii_redact", "q58_url_canonicalize",
                  "q77_quality_classifier")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(2000)}")
      assert(!p.contains("ScalaUDF"), s"$q must stay codegen'd")
    }
    // LM rarity: the gram MODEL is broadcast onto the gram stream (never a
    // sort-merge join of the stream against itself), the model-build count
    // is partial-aggregated (shuffle volume = distinct grams, not gram
    // occurrences), and the scoring side's only shuffle is the per-doc
    // combine
    // lmScore self-cleans eagerly (Dedup.finish), so audit the lazy plan
    val p56 = graft.ops.Dedup.withLazyPlans {
      plan(SparkEntry.queries("q56_lm_rarity")(spark, sf))
    }
    assert(p56.contains("BroadcastHashJoin"), p56.take(2000))
    assert(!p56.contains("SortMergeJoin"), p56.take(2000))
    assert(p56.contains("partial_count"), p56.take(3000))
    assert(p56.contains("hashpartitioning(doc_id"), p56.take(3000))
    // above the broadcast bound the model join degrades to a SHUFFLE hash
    // join instead of an executor-crushing broadcast (round-3 defect)
    val docs0 = spark.read.parquet(s"$sf/documents.parquet")
    val pBig = graft.ops.Dedup.withLazyPlans {
      plan(graft.ops.TextStats.lmScore(docs0,
        graft.ops.TextStats.lmTrain(docs0, 3), n = 3, broadcastRows = 0L))
    }
    assert(!pBig.contains("BroadcastHashJoin"), pBig.take(2000))
  }

  test("q60 BPE iteration: argmax is TakeOrdered(1), never a global sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, lit, split}
    val state = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => graft.ops.Bpe.SymWord(w.map(_.toString), c) }
    val df = graft.ops.Bpe.topPair(state)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("GlobalSort") && !p.linesIterator.exists(l =>
      l.trim.startsWith("Sort ") || l.trim.startsWith("+- Sort ")), p.take(1500))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(1500))
  }

  test("round-4 ops: semDedup exchanges keyed (list_id, bp); DSIR TakeOrdered; q68 pruned + hashed keys") {
    import spark.implicits._
    // semDedup pair generation: parallelism must come from the block-pair
    // key — an Exchange keyed on the nList-valued list_id ALONE would cap
    // tasks at nList and skew on mega-clusters
    val assigned = (0L until 64L).map(i => (i, Array.fill(4)(i.toFloat + 1f), i % 3))
      .toDF("vec_id", "embedding", "list_id")
    // tiny inputs legitimately broadcast; force the shuffle path to audit
    // the at-scale exchange keys
    val bcThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pe = plan(graft.ops.Similarity.semDedupEdges(assigned, 0.5, 4))
      val parts = pe.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(parts.nonEmpty, pe.take(2000))
      parts.filter(_.contains("list_id")).foreach(l0 =>
        assert(l0.contains("bp"), s"exchange keyed on list_id without bp: $l0"))
      // representative election is a min(struct) partial aggregate — a
      // mega duplicate-group must never sort its member list in one task
      graft.ops.Dedup.withLazyPlans {
        val pSem = plan(graft.ops.Similarity.semDedupAssigned(
          assigned.withColumn("cent_cos",
            org.apache.spark.sql.functions.col("vec_id").cast("double") / 100d), 0.5))
        assert(!pSem.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
          pSem.take(3000))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
    // DSIR: the global k-selection is TakeOrdered, never Sort+GlobalLimit
    graft.ops.Dedup.withLazyPlans {
      val p69 = plan(SparkEntry.queries("q69_dsir_select")(spark, sf))
      assert(p69.contains("TakeOrderedAndProject"), p69.take(3000))
      // CCNet buckets: comparison-only assignment — the lang-cardinality
      // threshold table joins BROADCAST and there is no ntile/Window (a
      // per-lang window would cap parallelism at |langs| and global-sort)
      val p73 = plan(SparkEntry.queries("q73_ccnet_buckets")(spark, sf))
      assert(!p73.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")), p73.take(3000))
      assert(p73.contains("BroadcastHashJoin"), p73.take(3000))
    }
    // q71 pack assembly: the ids ride the packRows bucket window and the
    // per-pack groupBy reuses that partitioning — NO join anywhere, and
    // exactly TWO Exchanges in the whole plan: the r6 scale-adaptive
    // input spread (xxhash64(doc_id), ahead of the single-split BPE
    // segment walk) and the bucket-window shuffle; the groupBy adding a
    // third would mean the window partitioning stopped being reused
    val p71 = plan(SparkEntry.queries("q71_packed_ids")(spark, sf))
    assert(!p71.contains("Join"), p71.take(3000))
    val exchanges = p71.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n${p71.take(3000)}")
    // paragraph dedup: scans pruned past lang/source
    val docs = graft.ops.Dedup.syntheticParagraphs(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p68 = plan(graft.ops.Dedup.dedupParagraphs(docs))
    val rs = p68.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs.nonEmpty && rs.forall(r => !r.contains("lang") && !r.contains("source")),
      rs.toString)
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    import spark.implicits._
    // one pathological key (20k rows) among 200 normal keys; thresholds
    // lowered so the skew is visible at test scale — at 100 TB the defaults
    // fire the same OptimizeSkewedJoin rule (the runtime complement of the
    // explicit salting in EntityLink.linkSalted / q08)
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val fact = (1 to 20000).map(i => (0L, s"pad-$i-${"x" * 40}")) ++
        (1 to 200).map(i => (i.toLong, s"v$i"))
      val dim = (0 to 200).map(i => (i.toLong, s"name$i"))
      val joined = fact.toDF("k", "payload").repartition(8)
        .join(dim.toDF("k", "name").repartition(8), "k")
      // collect() executes THIS queryExecution (count() would plan a new
      // one and leave this AdaptiveSparkPlan unfinalized)
      assert(joined.collect().length == 20200)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(2000))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("whole-stage codegen spans cover the relational queries") {
    // AQE reveals codegen stages only in the final (executed) plan
    val df = SparkEntry.queries("q01_pricing_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(1500))
  }

  test("KG wave: fusion is window-free aggregation; PMI/rule joins are keyed, never cross") {
    import org.apache.spark.sql.functions._
    val tr = spark.read.parquet("golden/sf0.001/q47_triples.parquet")
    // fuseConflicts: the election must be aggregation (max(struct)), never
    // a row_number window or a per-group sort
    val fuse = plan(graft.kg.Triples.fuseConflicts(tr))
    assert(!fuse.contains("Window"), fuse.take(2500))
    // the struct-max election lowers to SortAggregate (sorted by GROUP KEY
    // only, streamed, max folded row-by-row) — crucially with a map-side
    // partial before the shuffle; a window would sort by group key AND
    // vote key and materialize a rank per support row
    assert("""\(\d+\) SortAggregate""".r.findAllIn(fuse).size == 2, fuse.take(2500))
    assert(fuse.contains("partial_max"), fuse.take(2500))
    // pmiEdges: pairs generate only through the ctx equi-join
    val ctx = concat(col("url"), lit("#"), col("sentIdx").cast("string"))
    val mentions = tr.select(ctx.as("ctx"), col("subj").as("node"))
      .unionAll(tr.select(ctx.as("ctx"), col("obj").as("node")))
    val pmi = plan(graft.kg.Graphs.pmiEdges(mentions, 2L))
    assert(!pmi.contains("CartesianProduct") &&
      !pmi.contains("BroadcastNestedLoopJoin"), pmi.take(2500))
    // mineRules: head/support joins are keyed equi-joins too
    val rules = plan(graft.kg.Triples.mineRules(tr, 2L))
    assert(!rules.contains("CartesianProduct") &&
      !rules.contains("BroadcastNestedLoopJoin"), rules.take(2500))
  }

  test("KMV sketch agg: partial ObjectHashAggregate map-side, ONE exchange, text-only scan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kmv = udaf(new graft.ops.Sketches.KmvAgg(64))
    val df = docs.withColumn("__h", xxhash64(col("text")))
      .groupBy(col("lang")).agg(kmv(col("__h")).as("r"))
    val p = plan(df)
    // typed Aggregator buffers partial-reduce before the shuffle: two
    // ObjectHashAggregate nodes (partial + final) around one Exchange
    assert("""\(\d+\) ObjectHashAggregate""".r.findAllIn(p).size == 2, p.take(2500))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p.take(2500))
    assert(p.contains("partial_kmvagg"), p.take(2500))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"), readSchema)
  }

  test("q103/q106: skip-gram is ONE keyed join + partial agg; RDFS rules are all broadcast joins") {
    import org.apache.spark.sql.functions._
    val tr = spark.read.parquet("golden/sf0.001/q47_triples.parquet")
    val walks = graft.kg.Graphs.randomWalks(
      tr.select(col("subj").as("src"), col("obj").as("dst")), 2, 4)
      .localCheckpoint(true) // isolate skipGramPairs' own plan
    val sg = plan(graft.kg.Graphs.skipGramPairs(walks, 2))
    // exactly one join (the exact-key context probe), keyed, never nested-loop
    assert("""\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"""
      .r.findAllIn(sg).size == 1, sg.take(2500))
    assert(!sg.contains("CartesianProduct") &&
      !sg.contains("BroadcastNestedLoopJoin"), sg.take(2500))
    // count aggregation partial-combines map-side before its exchange
    assert(sg.contains("partial_count"), sg.take(2500))

    import spark.implicits._
    val rdfs = plan(graft.kg.Rdfs.materialize(tr,
      subProp = Seq(("merge", "rel"), ("order", "rel")).toDF("sub", "sup"),
      subClass = Seq((9001L, 9100L)).toDF("sub", "sup"),
      domain = Seq(("merge", 9001L)).toDF("pred", "cls"),
      range = Seq(("rel", 9004L)).toDF("pred", "cls")))
    // every instance-side rule joins against driver-closed schema:
    // broadcast hash joins only — the corpus is never shuffled for a rule,
    // never self-joined, never nested-loop
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(rdfs).nonEmpty, rdfs.take(2500))
    assert(!rdfs.contains("SortMergeJoin") && !rdfs.contains("ShuffledHashJoin") &&
      !rdfs.contains("CartesianProduct") &&
      !rdfs.contains("BroadcastNestedLoopJoin"), rdfs.take(2500))
    // the only exchange is the final DISTINCT's hash repartition
    assert("""\(\d+\) Exchange""".r.findAllIn(rdfs).size == 1, rdfs.take(2500))
  }

  test("q112-q114: SHACL constraint sides broadcast; BGP agg partial-aggregates; construct keyed-joins only") {
    import org.apache.spark.sql.functions._
    import graft.kg.Bgp._
    import spark.implicits._
    val tr = spark.read.parquet("golden/sf0.001/q47_triples.parquet")

    // SHACL: the shape tables ride as broadcast sides (the subjects ×
    // card pairing is a broadcast nested loop over the HUMAN-WRITTEN
    // shape table — never a corpus-sized cartesian), the sh:in probes
    // are broadcast hash joins, and nothing corpus-sized cross-joins
    val card = Seq(("merge", 1L, 2L)).toDF("pred", "min_count", "max_count")
    val allowed = tr.filter(col("pred") === "stream" && col("obj") % 2 === 0)
      .select(col("pred"), col("obj")).distinct()
    val shacl = plan(graft.kg.Shacl.validate(tr, card, allowed))
    assert(!shacl.contains("CartesianProduct"), shacl.take(2500))
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(shacl).nonEmpty,
      shacl.take(2500))
    // no corpus-side SortMergeJoin: the only non-broadcast join key is
    // (subj, pred) against the checkpointed counts — tiny
    assert(!shacl.contains("ShuffledHashJoin"), shacl.take(2500))

    // BGP aggregate: distinct bindings + the grouped counters both
    // partial-aggregate map-side; the joins stay keyed
    val agg = plan(matchBgpAgg(tr, Seq(
        Pattern(V("x"), "merge", V("z")), Pattern(V("z"), "order", V("y"))),
      Seq("x"), "y"))
    assert(agg.contains("partial_count"), agg.take(2500))
    assert(!agg.contains("CartesianProduct") &&
      !agg.contains("BroadcastNestedLoopJoin"), agg.take(2500))

    // CONSTRUCT: template instantiation adds projections + one distinct,
    // never another join shape
    val con = plan(construct(tr, Seq(
        Pattern(V("x"), "merge", V("z")), Pattern(V("z"), "order", V("y"))),
      Seq(Pattern(V("x"), "merged_order", V("y")),
        Pattern(V("y"), "feeds", V("x")))))
    assert(!con.contains("CartesianProduct") &&
      !con.contains("BroadcastNestedLoopJoin"), con.take(2500))
  }

  test("q117/q121: snapshot diff keeps partial aggs + one keyed full-outer; top-k is TakeOrdered") {
    import org.apache.spark.sql.functions._
    import graft.kg.Bgp._
    val tr = spark.read.parquet("golden/sf0.001/q47_triples.parquet")

    // diffSnapshots: both sides partial-aggregate before their exchange;
    // the alignment is ONE keyed full-outer (never broadcast — both
    // sides are corpus-sized — and never a nested loop)
    val diff = plan(graft.kg.Triples.diffSnapshots(
      tr.filter(col("sentIdx") % 2 === 0), tr.filter(col("sentIdx") % 2 === 1)))
    assert(diff.contains("partial_count"), diff.take(2500))
    assert(diff.contains("FullOuter"), diff.take(2500))
    assert(!diff.contains("CartesianProduct") &&
      !diff.contains("BroadcastNestedLoopJoin"), diff.take(2500))

    // top-k bindings: per-partition heaps + driver merge, no global Sort
    val topk = plan(matchBgpTopK(tr, Seq(
        Pattern(V("x"), "merge", V("z")), Pattern(V("z"), "order", V("y"))),
      orderVar = "y", k = 10, descending = true))
    assert(topk.contains("TakeOrderedAndProject"), topk.take(2500))
  }

  test("q149/q150/q153: keyed joins only, partial aggs, no cross product") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.ops.Dedup.withLazyPlans {
      val pBoiler = plan(graft.ops.Dedup.stripBoilerplate(
        graft.ops.Dedup.syntheticBoilerplate(docs)))
      assert(!pBoiler.contains("CartesianProduct") &&
        !pBoiler.contains("BroadcastNestedLoopJoin"), pBoiler.take(2000))
      assert(pBoiler.contains("partial_count") ||
        pBoiler.contains("HashAggregate"), pBoiler.take(2000))
      val pCont = plan(graft.ops.Dedup.containmentPairs(docs))
      assert(!pCont.contains("CartesianProduct") &&
        !pCont.contains("BroadcastNestedLoopJoin"), pCont.take(2000))
    }
    // cluster metrics: the contingency cells partial-aggregate map-side
    val items = docs.select(col("doc_id"),
      (col("doc_id") % 7).as("a"), (col("doc_id") % 5).as("b"))
    val pCm = plan(graft.eval.ClusterMetrics.pairConfusion(items, "a", "b"))
    assert(pCm.contains("partial_count") || pCm.contains("partial_sum"),
      pCm.take(2000))
    // the only joins are the two 1-row aggregate stitches (intended);
    // the contingency table itself must aggregate, never join or sort
    assert(!pCm.contains("SortMergeJoin"), pCm.take(2000))
  }

  test("q158/q163: gain election and support credits are keyed equi-joins") {
    import org.apache.spark.sql.functions.col
    val tr = graft.Pipeline.triples(spark, sf).toDF()
      .select(col("subj").as("src"), col("obj").as("dst"))
    for ((name, df) <- Seq(
        "modularityMove" -> graft.kg.Graphs.modularityMove(tr),
        "edgeSupport" -> graft.kg.Graphs.edgeSupport(tr))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n${p.take(2000)}")
    }
  }

  test("q168/q171: card window keyed by subject, weighted PR keyed joins") {
    import org.apache.spark.sql.functions.col
    val tr = graft.Pipeline.triples(spark, sf).toDF()
    // entity card: the predicate-df side broadcasts; the per-subject
    // rank is the bounded k-heap fact aggregate — NO window (a
    // mega-subject's fan-out must never sort in one task), partial+final
    // ObjectHashAggregate
    val pCard = plan(graft.kg.Triples.entityCard(tr, k = 3))
    assert(pCard.contains("BroadcastHashJoin"), pCard.take(2000))
    assert(!pCard.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")), pCard.take(3000))
    assert(pCard.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2, pCard.take(3000))
    // weighted PageRank (distributed path via threshold 0): keyed
    // equi-joins only, partial-agg weight sums
    val edgesW = tr.filter(col("subj") =!= col("obj"))
      .groupBy(col("subj").as("src"), col("obj").as("dst"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("w"))
    val pPr = plan(graft.kg.PageRank.runWeighted(edgesW, iterations = 1,
      smallGraphThreshold = 0L))
    assert(!pPr.contains("CartesianProduct") &&
      !pPr.contains("BroadcastNestedLoopJoin"), pPr.take(2000))
  }

  test("q175/q176: media scan reads only doc_id; video near-dup joins keyed, no window") {
    // syntheticMedia derives blobs from the id alone — the wide text
    // column must never leave the documents scan
    val pHash = plan(SparkEntry.queries("q175_video_frame_hashes")(spark, sf))
    val readSchemas = pHash.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
      s.contains("doc_id") && !s.contains("text") && !s.contains("html")),
      readSchemas.mkString("\n"))
    // the near-dup join graph: banded candidates + hash verify + count
    // joins are all keyed equi-joins — never a cartesian / nested-loop —
    // and the match-fraction gate is aggregation, not a window sort
    val pDup = plan(SparkEntry.queries("q176_video_neardup")(spark, sf))
    assert(!pDup.contains("CartesianProduct") &&
      !pDup.contains("BroadcastNestedLoopJoin"), pDup.take(3000))
    assert(!pDup.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
      pDup.take(3000))
  }

  test("q186: butterfly wedge join and credit sums are keyed, partial-aggregated, window-free") {
    val p = plan(SparkEntry.queries("q186_butterflies")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
      p.take(3000))
    // the pair-count and credit aggregations partial-aggregate map-side
    assert(p.contains("partial_"), p.take(3000))
  }

  test("q187: temporal-reach edge assembly is a keyed url join; relaxation loop keyed at threshold 0") {
    import org.apache.spark.sql.functions._
    // the query's edge assembly (triples x page warc_ts on url) — audited
    // directly because the sf0.001 query output is the driver fallback's
    // LocalRelation (the loop itself is equality-tested in TemporalSpec)
    val tr = Pipeline.triples(spark, sf).toDF()
    val pg = Pipeline.pages(spark, sf).toDF()
      .select(col("url"), unix_micros(col("warc_ts")).as("ts"))
    val edges = tr.join(pg, Seq("url"))
      .select(col("subj").as("src"), col("obj").as("dst"), col("ts"))
    val pEdges = plan(edges)
    assert(!pEdges.contains("CartesianProduct") &&
      !pEdges.contains("BroadcastNestedLoopJoin"), pEdges.take(3000))
    // distributed relaxation output (threshold 0): window-free, no cross
    val seeds = graft.kg.PageRank.degreeProfile(tr)
      .orderBy(desc("out_triples"), asc("id")).limit(3).select(col("id"))
    val pLoop = plan(graft.kg.Temporal.earliestReach(edges, seeds,
      startTs = 0L, maxHops = 2, smallGraphThreshold = 0L))
    assert(!pLoop.contains("CartesianProduct") &&
      !pLoop.contains("BroadcastNestedLoopJoin"), pLoop.take(3000))
    assert(!pLoop.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
      pLoop.take(3000))
  }

  test("q203/q205: EXISTS runs as a semi join; the six-table Q5 broadcasts dims, no cartesian") {
    val p3 = plan(SparkEntry.queries("q203_priority_check")(spark, sf))
    assert(p3.contains("LeftSemi") || p3.contains("Semi"), p3.take(2000))
    assert(!p3.contains("CartesianProduct"), p3.take(2000))
    val p5 = plan(SparkEntry.queries("q205_regional_revenue")(spark, sf))
    assert(p5.contains("BroadcastHashJoin"), p5.take(2000))
    assert(!p5.contains("CartesianProduct") &&
      !p5.contains("BroadcastNestedLoopJoin"), p5.take(2000))
    // the one-row total in q200 is the only nested-loop shape allowed
    val p0 = plan(SparkEntry.queries("q200_important_brands")(spark, sf))
    assert(!p0.contains("CartesianProduct"), p0.take(2000))
  }

  test("q192/q195: BM25 and RRF rank via partial k-heap aggregation, never a Window") {
    for (q <- Seq("q192_bm25", "q195_hybrid_rrf", "q197_retrieval_eval")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
        s"$q:\n${p.take(2500)}")
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2500)}")
    }
  }
}
