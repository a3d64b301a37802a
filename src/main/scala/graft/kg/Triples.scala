package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Triple
import graft.ner.RawTriple

/**
 * Triple materialization: attach entity ids to surface triples via the
 * alias dictionary, canonicalize via connected components over alias edges,
 * and write the final (subj, pred, obj) table partitioned by `lang` and
 * bucketed by canonical-subject hash (north_star sink K6).
 */
object Triples {

  /** Surface triples -> canonical entity triples through the alias ->
    * canonical entity map of `dict` (alias, entity_id, prior) and `canonMap`
    * (id, component), built by [[linkMap]] from the two tables' collected
    * rows and shipped in one broadcast, which Spark's ContextCleaner
    * releases once the returned Dataset is unreachable. */
  def canonicalTriples(raw: Dataset[RawTriple], dict: DataFrame,
                       canonMap: DataFrame): Dataset[Triple] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val dictRows = dict.select($"alias", $"entity_id".cast("long"), $"prior".cast("double"))
      .as[(String, Long, Double)].collect()
    val canonRows = canonMap.select($"id".cast("long"), $"component".cast("long")).as[(Long, Long)].collect()
    canonicalTriples(raw, spark.sparkContext.broadcast(linkMap(dictRows, canonRows)))
  }

  /** Surface triples -> canonical entity triples: the linking key of each
    * surface (its head token, lowercased by Spark's `lower`) is looked up in
    * `links`, an alias -> canonical entity map ([[linkMap]]); a triple with
    * either key absent from the map is dropped. */
  private[graft] def canonicalTriples(raw: Dataset[RawTriple],
                                      links: Broadcast[Map[String, Long]]): Dataset[Triple] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val canonOf = udf { (alias: String) => Option(alias).flatMap(links.value.get).map(Long.box).orNull }
    def key(surface: String) = lower(split(col(surface), " ").getItem(0))
    raw.toDF()
      .select(canonOf(key("subjSurface")).as("subj"), $"pred", canonOf(key("objSurface")).as("obj"),
        $"lang", $"url", $"sentIdx")
      .filter($"subj".isNotNull && $"obj".isNotNull)
      .as[Triple]
  }

  /** Alias -> canonical entity: the alias's top candidate in `dict` (alias,
    * entity_id, prior) — highest prior, then smallest entity_id — mapped
    * through the `canon` labels (id, component); an unlabelled id is its own
    * canonical entity. */
  private[graft] def linkMap(dict: Iterable[(String, Long, Double)],
                             canon: Iterable[(Long, Long)]): Map[String, Long] = {
    val component = canon.toMap
    dict.groupMapReduce(_._1)(r => (r._3, r._2)) { (a, b) =>
      if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
    }.map { case (alias, (_, id)) => alias -> component.getOrElse(id, id) }
  }

  /** Alias-merge edges for canonicalization: entity(alias) <-> entity(stem)
    * pairs from the dictionary (the aliases the dict itself declares). */
  def aliasEdges(dict: DataFrame): DataFrame = {
    dict.groupBy(col("alias"))
      .agg(min(col("entity_id")).as("src"), max(col("entity_id")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
  }

  /** [[aliasEdges]] of dictionary rows (alias, entity_id, prior) held on the
    * driver, as (src, dst) pairs. */
  private[graft] def aliasEdges(dict: Iterable[(String, Long, Double)]): Array[(Long, Long)] =
    dict.groupMapReduce(_._1)(r => (r._2, r._2)) { (a, b) => (a._1 min b._1, a._2 max b._2) }
      .values.filter { case (src, dst) => src != dst }.toArray

  /**
   * Mergeable KG fact table — the incremental-maintenance unit: one row
   * per (subj, pred, obj, lang) carrying mention support and a KMV
   * url-distinct sketch ([[graft.ops.Sketches]]). Snapshots aggregate
   * INDEPENDENTLY and combine via [[upsertFacts]] without touching raw
   * data: counts add, sketches union+truncate — both associative and
   * commutative, so a 10^12-page corpus can be folded in snapshot by
   * snapshot (or partition by partition) in any order with O(k) state
   * per fact. Below k distinct urls the sketch estimate IS the exact
   * distinct count (the board oracle q83 runs in that regime; saturation
   * behavior is spec-tested).
   */
  def facts(triples: DataFrame, k: Int = 256): DataFrame = {
    val kmv = udaf(new graft.ops.Sketches.KmvAgg(k))
    triples.groupBy(col("subj"), col("pred"), col("obj"), col("lang"))
      .agg(count(lit(1)).as("n_mentions"),
        kmv(xxhash64(col("url"))).as("r"))
      .select(col("subj"), col("pred"), col("obj"), col("lang"),
        col("n_mentions"), col("r.est").as("est_urls"),
        col("r.sketch").as("url_sketch"))
  }

  /** Fold any number of stacked fact-snapshot rows (the [[facts]] schema)
    * into one consistent fact table: counts add, url sketches re-merge —
    * both associative and commutative, so ANY grouping of snapshots folds
    * to the same table. */
  def foldFacts(stacked: DataFrame, k: Int = 256): DataFrame = {
    val merge = udaf(new graft.ops.Sketches.KmvMergeAgg(k))
    stacked
      .groupBy(col("subj"), col("pred"), col("obj"), col("lang"))
      .agg(sum(col("n_mentions")).as("n_mentions"),
        merge(col("url_sketch")).as("r"))
      .select(col("subj"), col("pred"), col("obj"), col("lang"),
        col("n_mentions"), col("r.est").as("est_urls"),
        col("r.sketch").as("url_sketch"))
  }

  /** Merge two fact snapshots (see [[facts]]): counts add, url sketches
    * re-merge. `upsertFacts(facts(a), facts(b)) == facts(a union b)` —
    * the associativity the q83 oracle checks end-to-end. */
  def upsertFacts(base: DataFrame, delta: DataFrame, k: Int = 256): DataFrame =
    foldFacts(base.unionByName(delta), k)

  /**
   * Knowledge fusion for FUNCTIONAL predicates (conflict resolution): a
   * functional predicate admits one object per subject, but extraction
   * from the web yields several (OCR noise, stale pages, homonyms). For
   * each (subj, pred) this elects the canonical object by support-
   * weighted majority vote — most supporting mentions, then most
   * distinct supporting urls, then smallest object id — the "resolve by
   * source agreement" step of every web-scale KG build (Knowledge Vault
   * shape, reduced to its deterministic voting core).
   *
   * Determinism without a window: the election is
   * `max(struct(n_mentions, n_urls, ~obj))` — struct comparison is
   * lexicographic and `~obj` (bitwise NOT) is a total order-REVERSING
   * bijection on longs (no `-obj` overflow at Long.MinValue), so a plain
   * aggregation picks exactly the row a row_number window would, folding
   * the max row-by-row. Physically this lowers to SortAggregate (sorted
   * by GROUP KEY only, groups streamed) WITH a map-side partial before
   * the shuffle — a window would sort by group key AND vote key and
   * materialize a rank for every support row (plan-tested: no Window,
   * partial_max present). Two integer-key shuffles total: (subj, pred,
   * obj) support counts, then the (subj, pred) election. All output
   * columns are integers/strings — engine-exact, no float tolerance.
   *
   * @return (subj, pred, obj, n_mentions, n_urls, n_objs, total_mentions):
   *         the elected object with its own support, the number of
   *         DISTINCT competing objects (1 = no conflict), and the
   *         group's total mention count.
   */
  def fuseConflicts(triples: DataFrame): DataFrame = {
    val support = triples
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("url")).as("n_urls"))
    support
      .groupBy(col("subj"), col("pred"))
      .agg(
        max(struct(col("n_mentions"), col("n_urls"),
          bitwise_not(col("obj")).as("nobj"))).as("w"),
        count(lit(1)).as("n_objs"),
        sum(col("n_mentions")).as("total_mentions"))
      .select(col("subj"), col("pred"),
        bitwise_not(col("w.nobj")).as("obj"),
        col("w.n_mentions").as("n_mentions"),
        col("w.n_urls").as("n_urls"),
        col("n_objs"), col("total_mentions"))
  }

  /**
   * KG SNAPSHOT DIFF — the release-engineering primitive of a
   * continuously rebuilt KG: given two mention-level triple bags (last
   * week's build and this week's), report every fact whose SUPPORT
   * changed — added (no prior support), removed (support vanished), or
   * changed (both sides attest it, with different mention/url counts).
   * Facts with identical support on both sides — the overwhelming
   * majority between adjacent builds — are filtered out after the join
   * and never materialize downstream.
   *
   * Shape at 10^12 triples: each side collapses to its per-fact support
   * profile with ONE partial-aggregated groupBy on (subj, pred, obj) —
   * the triple table's natural key, so a bucketed/pre-partitioned fact
   * store joins shuffle-free — then one keyed full-outer join aligns the
   * two profiles. Nothing is ever broadcast (both sides are corpus-
   * sized) and nothing self-joins.
   *
   * @return (subj, pred, obj, n_a, n_urls_a, n_b, n_urls_b, status) with
   *         status in 'added' (n_a = 0), 'removed' (n_b = 0), 'changed';
   *         absent sides report 0 counts
   */
  def diffSnapshots(a: DataFrame, b: DataFrame): DataFrame = {
    def profile(t: DataFrame, nCol: String, uCol: String): DataFrame = t
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as(nCol), countDistinct(col("url")).as(uCol))
    val pa = profile(a, "n_a", "n_urls_a")
    val pb = profile(b, "n_b", "n_urls_b")
    pa.join(pb, Seq("subj", "pred", "obj"), "full_outer")
      .select(col("subj"), col("pred"), col("obj"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_urls_a"), lit(0L)).as("n_urls_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_urls_b"), lit(0L)).as("n_urls_b"))
      .filter(col("n_a") =!= col("n_b") || col("n_urls_a") =!= col("n_urls_b"))
      .withColumn("status",
        when(col("n_a") === 0L, lit("added"))
          .when(col("n_b") === 0L, lit("removed"))
          .otherwise(lit("changed")))
  }

  /**
   * AMIE-style path-rule mining: for every predicate triple (p1, p2, p3)
   * measure how well the 2-hop composition rule
   * `p1(x, z) ∧ p2(z, y) ⇒ p3(x, y)` holds in the KG — the standard
   * rule-induction primitive for KG completion (AMIE, Galárraga 2013;
   * reduced to its deterministic counting core). All outputs are exact
   * integers: `body_pairs` = distinct (x, y) with x != y satisfying the
   * body, `head_pairs` = |p3|'s distinct pair set, `support` = distinct
   * (x, y) satisfying BOTH — confidence is support/body_pairs, left to
   * the caller as a fraction of the two longs (no float division, so the
   * rule ranking is engine-exact).
   *
   * Shape: one self-join of the DISTINCT triple set on the shared mid
   * entity z (8-byte key), one pair-set join against the head relation,
   * three partial aggregations — never an all-pairs product. The
   * explosion risk is a hub mid-entity (a country, a year): z
   * contributes in_deg(z) × out_deg(z) body rows, so `maxMidFanout`
   * bounds that product; hubs above it are EXCLUDED from body
   * generation and reported loudly ([[graft.ops.Dedup.lastDropReport]]
   * ("rule_mining"), the shared convention), making support a documented
   * lower bound in capped runs.
   *
   * @param triplesIn rows with (subj, pred, obj); duplicates collapse
   * @param minSupport minimum joint support to emit a rule
   * @return (p1, p2, p3, body_pairs, head_pairs, support)
   */
  def mineRules(triplesIn: DataFrame, minSupport: Long = 1L,
                maxMidFanout: Long = Long.MaxValue): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val r = triplesIn.select(col("subj").cast("long"), col("pred"),
      col("obj").cast("long")).distinct().localCheckpoint(true)
    val left0 = r.select(col("subj").as("x"), col("pred").as("p1"), col("obj").as("z"))
    val right0 = r.select(col("subj").as("z"), col("pred").as("p2"), col("obj").as("y"))
    // hub exclusion applies to the MID position only: body legs through a
    // hub z are skipped; every triple keeps feeding the head and the
    // non-mid leg positions, so only z-composition is bounded
    val (left, right) = if (maxMidFanout == Long.MaxValue) (left0, right0) else {
      val fan = r.groupBy(col("obj").as("z")).agg(count(lit(1)).as("ind"))
        .join(r.groupBy(col("subj").as("z")).agg(count(lit(1)).as("outd")), Seq("z"))
        .withColumn("pairs", col("ind").cast("decimal(38,0)") * col("outd"))
        .persist()
      val dropped = fan.filter(col("pairs") > maxMidFanout)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
          coalesce(sum(col("pairs")),
            lit(java.math.BigDecimal.ZERO)).as("slots")).head()
      val (nDrop, slots) =
        (dropped.getLong(0), dropped.getDecimal(1).longValueExact())
      graft.ops.Dedup.lastDropReport("rule_mining") = (nDrop, slots)
      if (nDrop > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[rule_mining] excluded $nDrop hub mid-entities covering $slots " +
            s"body-pair slots (cap=$maxMidFanout); support values are lower bounds")
      val hubs = fan.filter(col("pairs") > maxMidFanout)
        .select(col("z")).localCheckpoint(true)
      fan.unpersist()
      (left0.join(hubs, Seq("z"), "left_anti"),
        right0.join(hubs, Seq("z"), "left_anti"))
    }
    val body = left.join(right, Seq("z"))
      .filter(col("x") =!= col("y"))
      .select(col("p1"), col("p2"), col("x"), col("y")).distinct()
      .localCheckpoint(true)
    val bodyCnt = body.groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("body_pairs"))
    val head = r.select(col("pred").as("p3"), col("subj").as("x"), col("obj").as("y"))
      .distinct()
    val headCnt = head.groupBy(col("p3")).agg(count(lit(1)).as("head_pairs"))
    body.join(head, Seq("x", "y"))
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= lit(minSupport))
      .join(bodyCnt, Seq("p1", "p2"))
      .join(headCnt, Seq("p3"))
      .select(col("p1"), col("p2"), col("p3"),
        col("body_pairs"), col("head_pairs"), col("support"))
  }

  /**
   * SCHEMA-level summary graph: unordered predicate pairs that co-occur
   * on a shared subject, with exact subject counts — the ontology-
   * induction / schema-drift monitor ("entities that `merge` usually also
   * `sort`"; a new predicate pairing appearing between two KG builds is a
   * schema change worth a diff row). Operates on DISTINCT (subj, pred) —
   * mention multiplicity never inflates the profile.
   *
   * Shape: the pair join is blocked on subj, and its fan-out is bounded
   * by the PREDICATE ALPHABET, not the data — a subject with k distinct
   * predicates emits C(k,2) <= |preds|² rows no matter how many mentions
   * it has, so the output is at most |preds|² rows TOTAL and both
   * aggregations partial-combine map-side. At 10^12 documents the only
   * wide step is the distinct on (subj, pred) — 8-byte + dictionary-
   * encoded keys.
   *
   * @return (p1, p2, n_subjects) with p1 < p2 lexicographically
   */
  def predicateCooccurrence(triples: DataFrame): DataFrame = {
    val sp = triples.select(col("subj").cast("long"), col("pred"))
      .distinct()
    sp.select(col("subj"), col("pred").as("p1"))
      .join(sp.select(col("subj"), col("pred").as("p2")), Seq("subj"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_subjects"))
  }

  /**
   * SCHEMA INDUCTION by predicate-role signature: each entity's TYPE, as
   * far as an untyped KG can observe it, is the set of (role, predicate)
   * slots it fills — "things that `merge` something and are `order`ed by
   * something" behave as one class. Emitting the sorted signature STRING
   * (not a hash) keeps the output engine-exact and human-auditable; a
   * `groupBy(signature)` downstream is the class histogram, and a
   * signature change between snapshots is the schema-drift alarm.
   *
   * Shape: one 2× role explode + ONE groupBy(id) whose `collect_set`
   * state is bounded by 2·|pred alphabet| per entity — a corpus-scale
   * reduction to |entities| rows with map-side partial aggregation;
   * signatures sort INSIDE the row (array sort, no global sort).
   *
   * @return (id, signature — comma-joined sorted "s:pred"/"o:pred"
   *         slots, n_roles — distinct slots filled)
   */
  def entitySignatures(triples: DataFrame): DataFrame = {
    val roles = triples
      .select(col("subj").cast("long").as("id"),
        concat(lit("s:"), col("pred")).as("role"))
      .unionAll(triples
        .select(col("obj").cast("long").as("id"),
          concat(lit("o:"), col("pred")).as("role")))
    roles.groupBy(col("id"))
      .agg(sort_array(collect_set(col("role"))).as("__roles"))
      .select(col("id"),
        concat_ws(",", col("__roles")).as("signature"),
        size(col("__roles")).cast("long").as("n_roles"))
  }

  /**
   * ENTITY SALIENCE per page: which entities a page is ABOUT — the
   * page-level entity index every KG-backed search/recommendation layer
   * builds (aboutness ranking, related-pages retrieval, entity-centric
   * crawling priorities). Per (url, entity): tf = how many triple slots
   * the entity fills on that page; per entity: df = how many pages
   * mention it at all; n_pages = the corpus page count — the exact
   * integer ingredients of any tf-idf-style salience score, emitted raw
   * so the downstream weighting (log, BM25, whatever) stays the caller's
   * float-precision decision, the [[graft.kg.Graphs.modularity]]
   * convention. Rows are the top-`k` entities per page under the TOTAL
   * order (tf DESC, df ASC, id ASC) — commonness breaks ties toward the
   * RARER entity, the salience-useful direction.
   *
   * 100 TB shape: one 2× role explode + ONE partial-aggregated
   * (url, id) count; df is ONE partial-aggregated count over the pair
   * table (never the raw slots); n_pages rides in as a broadcast
   * one-row cross join; the top-k window partitions by url — a BOUNDED
   * axis (each partition holds one page's distinct entities, capped by
   * that page's own triple count — per-document state, never
   * corpus-sized), millions of small partitions, no skew, no global
   * sort.
   *
   * @return (url, id, tf, df, n_pages, rank) — rank 1..k per url
   */
  def entitySalience(triples: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val slots = triples.select(col("url"), col("subj").cast("long").as("id"))
      .unionAll(triples.select(col("url"), col("obj").cast("long").as("id")))
    val tf = slots.groupBy(col("url"), col("id"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("id")).agg(count(lit(1)).as("df"))
    val nPages = triples.select(col("url")).distinct()
      .agg(count(lit(1)).as("n_pages"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
      .orderBy(col("tf").desc, col("df").asc, col("id").asc)
    tf.join(df, Seq("id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(nPages))
      .select(col("url"), col("id"), col("tf"), col("df"),
        col("n_pages"), col("rank").cast("long").as("rank"))
  }

  /**
   * Partitioned + bucketed sink (K6). Parquet stand-in for an Iceberg table
   * (no Iceberg jars offline — see SURVEY.md §7): directory-partitioned by
   * lang; files within a partition are split by `pmod(hash(subj), buckets)`
   * via repartition so a downstream co-located join on subj avoids a
   * shuffle after `spark.read` + bucket pruning.
   */
  def write(triples: Dataset[Triple], path: String, buckets: Int = 16): Unit = {
    triples.toDF()
      .repartition(buckets, col("lang"), pmod(hash(col("subj")), lit(buckets)))
      .write.mode("overwrite")
      .partitionBy("lang")
      .parquet(path)
  }

  /**
   * ENTITY CARD — per-subject top-k fact ranking (the LinkSum/RELIN
   * entity-summarization family, integer-exact): the facts a serving
   * layer shows first when a user opens an entity page. Informativeness
   * = predicate RARITY (a fact asserted through a rare predicate says
   * more than one more `related_to`): facts rank by (global predicate
   * df ASC, pred ASC, obj ASC) within each subject, top-k kept.
   *
   * Shape: one distinct, ONE small predicate-df aggregation broadcast
   * onto the fact scan, then a bounded k-heap fact-rank aggregate
   * ([[graft.ops.FactRankAgg]]) keyed by subj — a MEGA-SUBJECT (a
   * celebrity entity with 10^7 facts) costs O(k) state per map partial,
   * never a single-task sort of its whole fan-out (the per-subject
   * `row_number` window this replaces did exactly that).
   *
   * @return (subj, pred, obj, pred_df, rank) with rank <= k
   */
  def entityCard(triples: DataFrame, k: Int): DataFrame = {
    val t = triples.select(col("subj"), col("pred"), col("obj")).distinct()
    val df = t.groupBy(col("pred")).agg(count(lit(1)).as("pred_df"))
    graft.ops.TopK.rankFacts(t.join(broadcast(df), Seq("pred")), k)
  }

  /**
   * Per-predicate CARDINALITY profile — the OWL-characteristic induction
   * the fusion stage ([[fuseConflicts]]) and the SHACL shapes
   * ([[graft.kg.Shacl]]) both presuppose: over the DISTINCT (subj, pred,
   * obj) assertion set, each predicate's usage counts and its maximum
   * fan-outs in both directions. `max_out = 1` means the predicate is
   * FUNCTIONAL (each subject has one object — safe to fuse by vote);
   * `max_in = 1` means INVERSE-FUNCTIONAL (the object identifies the
   * subject — an ER blocking key). On an untyped extracted KG this
   * profile IS the schema the corpus actually uses, and predicates whose
   * profile drifts between snapshots are extraction-regression alarms.
   *
   * Shape: one distinct, then three partial-aggregated groupBys stitched
   * by two keyed joins on the (tiny) predicate dimension — fan-out maxima
   * aggregate (subj, pred) / (obj, pred) counters first, so a celebrity
   * object costs one counter, never a member list.
   *
   * @return (pred, n_triples, n_subj, n_obj, max_out, max_in,
   *         functional, inverse_functional)
   */
  def predCardinality(triples: DataFrame): DataFrame = {
    val t = triples.select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint(true)
    val base = t.groupBy(col("pred")).agg(
      count(lit(1)).as("n_triples"),
      count_distinct(col("subj")).as("n_subj"),
      count_distinct(col("obj")).as("n_obj"))
    val outF = t.groupBy(col("pred"), col("subj"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("pred")).agg(max(col("c")).as("max_out"))
    val inF = t.groupBy(col("pred"), col("obj"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("pred")).agg(max(col("c")).as("max_in"))
    base.join(outF, Seq("pred")).join(inF, Seq("pred"))
      .select(col("pred"), col("n_triples"), col("n_subj"), col("n_obj"),
        col("max_out"), col("max_in"),
        (col("max_out") === 1L).as("functional"),
        (col("max_in") === 1L).as("inverse_functional"))
  }
}
