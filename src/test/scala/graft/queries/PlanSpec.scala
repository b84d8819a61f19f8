package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PartitionedEvents

/** Physical-plan guards: the properties that make these queries viable
  * at cluster scale must hold in the compiled plan, not just in intent.
  * A regression that un-pushes a filter or widens a scan fails here
  * long before it shows up in a benchmark. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The same events as four files. At sf0.001 the events table is one
    * split, which the `ev_*` queries read as one partition with no
    * Exchange above the scan; the multi-split plan, the one a larger
    * table gets, is pinned over this copy. */
  private lazy val split4 = multiSplitEvents(dir, 4)

  private def qe(q: String, at: String = dir): org.apache.spark.sql.execution.QueryExecution = {
    // queries that end in Tables.released() hand back a checkpointed
    // frame whose own plan is an RDD scan; the stash holds the
    // execution the checkpoint ran — pin that one
    graft.util.Tables.lastReleasedPlan = None
    val df = graft.SparkEntry.queries(q)(spark, at)
    graft.util.Tables.lastReleasedPlan.getOrElse(df.queryExecution)
  }

  private def plan(q: String, at: String = dir): String = {
    // an already-executed adaptive plan prints BOTH its final and
    // initial sections — keep only the final one so node counts
    // aren't doubled for released() queries. Cut ONLY at the
    // top-level (column-0) marker: cached InMemoryRelations nest
    // their own adaptive sections at deeper indentation and those
    // must stay in the string.
    val s = qe(q, at).executedPlan.toString
    val cut = s.indexOf("\n+- == Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("pricing summary: shipdate filter reaches the parquet scan; columns pruned") {
    val p = plan("tpch_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // only the 7 referenced columns are read (toString truncates the
    // full ReadSchema, so check the scan column list + absent columns)
    assert(p.contains("FileScan parquet [l_quantity#"), p)
    assert(!p.contains("l_orderkey"), p)
    assert(!p.contains("l_partkey"), p)
    // map-side partial aggregation before the shuffle
    assert(p.contains("partial_sum"), p)
  }

  test("shipping priority: dimension filter pushed; aggregation partial") {
    val p = plan("tpch_shipping_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("hourly metrics: events scan pruned to referenced columns") {
    val p = plan("ev_hourly_metrics", split4)
    assert(!p.contains("event_id"), p) // unused column not read
    assert(p.contains("partial_"), p)
  }

  test("as-of join: no join operator, exactly one hash shuffle (the key)") {
    val p = plan("ev_asof_join", split4)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p) // union+window sweep, not a range join
    val hashShuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashShuffles == 1, s"expected 1 hash shuffle, plan:\n$p")
  }

  test("range join: equi-join on (key, bucket), never a nested-loop theta join") {
    val p = plan("ev_range_join", split4)
    // the whole point of band bucketing: the |dt|<=tol predicate must
    // ride on an equi-join, not degenerate to BNLJ/cartesian per key
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("Join"), p)
  }

  test("one-split events: the scan is one partition and the panel plans no Exchange") {
    // graft.Bench's static join regime: with the session default, the
    // 27 KB range-join side would be a planned broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for (q <- Seq("ev_asof_join", "ev_range_join", "ev_validation_summary")) {
      val p = plan(q)
      assert(p.contains("Coalesce 1"), s"$q:\n$p")
      assert(!p.contains("Exchange"), s"$q:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("frame sample: scan pruned to (doc_id, text); no shuffle before sort") {
    val p = plan("mm_frame_sample")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("lang"), p)
    assert(!p.contains("source"), p)
    assert(!"hashpartitioning\\(".r.findAllIn(p).hasNext, p)
  }

  test("int8 quantize: pure map plan — no aggregates, no hash shuffles") {
    val p = plan("emb_quantize")
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("label"), p) // unused column pruned from the scan
  }

  test("ngram jaccard: posting cap survives optimization; no nested loop") {
    val p = plan("dedup_ngram_jaccard")
    // the skew guard must reach the plan — without it one hot shingle
    // makes the self-join quadratic
    assert(p.contains("<= 1000"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("stream interval join: equality is the join key, time bounds residual") {
    val p = plan("ev_stream_interval_join", split4)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("Join"), p)
  }

  test("label centroids: pure hash aggregation — no per-group array buffers") {
    val p = plan("emb_label_centroids")
    // the fixed-point design's whole point: a hot label must cost one
    // long per (label,pos) aggregation buffer, never an N-struct array
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("collect_list"), p)
    assert(p.contains("partial_sum"), p) // map-side combine before the shuffle
  }

  test("tpch joins: broadcast hints only on bounded dims (nation/region)") {
    // forced hints bypass AQE's size check; growing dims (customer,
    // supplier) must reach the planner hint-free so runtime size decides
    def hints(q: String): Int =
      "ResolvedHint".r.findAllIn(
        graft.SparkEntry.queries(q)(spark, dir).queryExecution.analyzed.toString).length
    assert(hints("tpch_shipping_priority") == 0)
    assert(hints("tpch_region_revenue") == 2) // nation + region only
  }

  test("top supplier: shipdate range pushed to scan; argmax over aggregate") {
    val p = plan("tpch_top_supplier")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("Window"), p)
  }

  test("tfidf: vocabulary-sized equi-joins with map-side partial counts") {
    val p = plan("txt_tfidf")
    assert(p.contains("partial_count"), p)
    // exactly one non-equi join: the 1-row n_docs scalar cross join;
    // the tf x df join itself must stay an equi-join on term
    assert("CartesianProduct|BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty, p)
  }

  test("forecast revenue: every predicate reaches the parquet scan") {
    // 7 pushed filters: the default 100-char metadata cap elides the tail
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    val p = try plan("tpch_forecast_revenue")
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
  }

  test("nation trade: bounded nation dim broadcast twice, nothing else hinted") {
    val hints = "ResolvedHint".r.findAllIn(
      graft.SparkEntry.queries("tpch_nation_trade")(spark, dir)
        .queryExecution.analyzed.toString).length
    assert(hints == 2)
  }

  test("small-qty revenue: threshold re-join stays an equi-join with partial aggs") {
    val p = plan("tpch_small_qty_revenue")
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("disjunctive revenue: part-side OR chain pushed below the join") {
    val p = plan("tpch_disjunctive_revenue")
    // PushExtraPredicateThroughJoin must extract the part-only
    // disjunction (brand/size bands) and push it to the part scan —
    // without it every part row joins before filtering
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("Or(") && p.contains("p_brand"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("kmeans step: seeds broadcast; recompute has no per-group array buffers") {
    val p = plan("emb_kmeans_step")
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("collect_list"), p)
    assert(p.contains("partial_sum"), p) // fixed-point sums combine map-side
    assert(p.contains("Broadcast"), p)   // k seeds, never the corpus
  }

  test("contamination: posting cap survives optimization; no nested loop") {
    val p = plan("dedup_contamination")
    assert(p.contains("<= 1000"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("length deciles: cumulative window runs over the aggregated grain") {
    val p = plan("txt_length_deciles")
    assert(p.contains("Window"), p)
    // documents reduce to (n_chars -> count) BEFORE the window: the
    // partial aggregation must appear below it in the plan
    assert(p.contains("partial_count"), p)
  }

  test("power iteration: fixed-point accumulation, no per-group array buffers") {
    val p = plan("emb_power_iteration")
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("collect_list"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("pca2: v1 joins back as a broadcast row, fixed-point accumulation") {
    val p = plan("emb_pca2")
    // the deflation pass must receive v1 via a broadcast of the ONE
    // pivoted row — a shuffled join (or a collect) here would be wrong
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("collect_list"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("pack sequences: prefix sum is range-distributed, not per-source serial") {
    val p = plan("txt_pack_sequences")
    // the source domain is FIXED, so a window partitioned by source
    // alone serializes each whole source through one task as the
    // corpus grows; the running sum must partition by (pid, source)
    // with earlier-partition totals joined in
    assert(p.contains("windowspecdefinition(pid"), p)
    assert(!p.contains("windowspecdefinition(source"), p)
  }

  test("runtime bloom filter: filtered dim injects a row filter into the fact scan") {
    // the 100 TB scan-reduction path: when the dim side carries a
    // selective filter and the join shuffles, Spark's runtime bloom
    // filter should prune fact rows before the exchange. Thresholds are
    // sized for clusters, so lower them to observe the injection here.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = plan("tpch_shipping_priority")
      assert(p.contains("might_contain"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("waiting suppliers: no Expand — multi-distinct decorrelated into two aggs") {
    val p = plan("tpch_waiting_suppliers")
    // the dual COUNT(DISTINCT) formulation would put an Expand (3x the
    // fact rows) in front of the shuffle; the two-level aggregate must
    // keep the plan Expand-free with map-side partials at both levels
    assert(!p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("min-cost supplier: selective part filter pushed; window over reduced grain") {
    val p = plan("tpch_min_cost_supplier")
    // (PushedFilters text truncates in toString; the Filter node shows
    // the same predicates reached the scan's DataFilters)
    assert(p.contains("= STANDARD)"), p)
    assert(p.contains("GreaterThanOrEqual(p_size,10)"), p)
    // per-part min is a window over the (part, supplier) aggregate,
    // never the raw fact: the Window's child must aggregate first
    assert(p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
  }

  test("pq topk: codebook broadcast; encoding aggregates instead of windowing") {
    val p = plan("ann_pq_topk")
    // k=31 codebook rides a broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    // argmin encoding is min(struct(...)) — a partial-aggregable
    // HashAggregate, not a row_number window over corpus x k x M rows
    assert(p.contains("partial_min"), p)
  }

  test("skew profile: one fact shuffle, rank window over the key grain") {
    val p = plan("util_skew_profile")
    // exactly one hashpartitioning of fact rows (the groupBy user_id);
    // the rank window runs on the aggregated key grain downstream
    assert(p.contains("partial_count"), p)
    assert(p.contains("Window"), p)
  }

  test("supplier part counts: bad-supplier exclusion is a broadcast anti join") {
    val p = plan("tpch_supplier_part_counts")
    assert(p.contains("LeftAnti, BuildRight"), p)
    assert(p.contains("LessThan(s_acctbal,0.0)"), p)
  }

  test("funnel sequences: groupBy reuses the window's user_id partitioning") {
    val p = plan("ev_funnel_sequences", split4)
    // one hash shuffle total: the lead() window sorts within user_id
    // partitions and the per-user rollup must NOT re-shuffle
    val hashShuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashShuffles == 1, s"expected 1 hash shuffle, plan:\n$p")
    assert(p.contains("Window"), p)
  }

  test("product profit: p_name prefix filter pushed as StringStartsWith") {
    val p = plan("tpch_product_profit")
    assert(p.contains("StringStartsWith(p_name,red)"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("market share: customer region leg is a semi join, share aggs partial") {
    val p = plan("tpch_market_share")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("dow-type cube: all four grouping sets expand into ONE shuffle") {
    val p = plan("ev_dow_type_cube", split4)
    assert(p.contains("Expand"), p) // grouping-set expansion is the plan
    val hashShuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashShuffles == 1, s"expected 1 hash shuffle, plan:\n$p")
    assert(p.contains("partial_count"), p)
  }

  test("knn join: neighbor-pool cap survives optimization; equi-join only") {
    val p = plan("ann_knn_join")
    // without the md5-threshold pool the in-label self-join is
    // quadratic in block size (measured 19.8x at 10x data, round 7)
    assert(p.contains("1048576"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("WindowGroupLimit"), p) // map-side top-k retained
  }

  test("embedding cosine: canonical-side pool cap survives optimization") {
    val p = plan("dedup_embedding_cosine")
    // without the md5-threshold pool the in-label pair join is
    // quadratic in block size (measured 2.57x at 2x data, round 7)
    assert(p.contains("1048576"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("cosine lsh: bucket equi-join with the same pool cap, no corpus window") {
    val p = plan("dedup_cosine_lsh")
    // the per-bucket md5 pool cap must survive optimization (same
    // rationale as the label-blocked variant), the pair join must stay
    // an equi-join on the bucket code, and bucketing must be a
    // map-side expression — no window/sort over the corpus
    assert(p.contains("1048576"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("Cartesian"), p)
    assert(!p.contains("Window"), p)
  }

  test("ivfpq: cell assignment and encoding aggregate, never window the corpus") {
    val p = plan("ann_ivfpq_topk")
    // coarse assignment is max(struct) — partial-aggregable, map-side
    // combined; a row_number window here would shuffle corpus x cells
    assert(p.contains("partial_max"), p)
    // PQ encoding argmin likewise stays a partial aggregate
    assert(p.contains("partial_min"), p)
    // centroids/codebook/LUT all ride broadcasts; nothing cartesian
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25: posting cap survives optimization; probe stays an equi-join") {
    val p = plan("txt_bm25_topk")
    // without the md5 posting pool a stopword-like term joins every
    // query against the whole corpus
    assert(p.contains("1048576"), p)
    // the only nested loop allowed is the broadcast 1-row stats scalar
    assert("NestedLoop".r.findAllIn(p).length ==
      "BroadcastNestedLoopJoin".r.findAllIn(p).length, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ivfpq residual: aggregate-form index passes, broadcast geometry") {
    val p = plan("ann_ivfpq_residual")
    // coarse assignment stays the partial-aggregable argmax and the
    // residual encode stays the partial-aggregable argmin — the same
    // no-corpus-window contract as ann_ivfpq_topk; centroids, residual
    // codebook, and the cell-keyed LUT all ride broadcasts
    assert(p.contains("partial_max"), p)
    assert(p.contains("partial_min"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pq learned: training sample bound reaches the embeddings scan") {
    // without the pushed vec_id bound the Lloyd's training pass would
    // scale with the corpus instead of staying <=2000 vectors
    val p = SimilarityQueries.pqTrainingInput(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("LessThan(vec_id,8000)"), p)
  }

  test("user ranks: no global unpartitioned window anywhere in the plan") {
    // the user grain grows with the data — a single-partition WindowExec
    // here (the round-6 `weak`) serializes every user through one task.
    // ntile/rank/dense_rank are rewritten as range-bucketed position +
    // bounded domain joins; only the per-user firsts window (partitioned
    // by user_id) may remain.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val opt = qe("ev_user_ranks", split4).optimizedPlan
    val global = opt.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, s"unpartitioned windows: ${global.mkString("\n")}")
    val partitioned = opt.collect {
      case w: LogicalWindow => w
    }
    assert(partitioned.nonEmpty) // the firsts/bucket windows are still windows
  }

  test("retention cohorts: raw events scanned once; branches reuse the checkpointed grain") {
    // the (user, week) distinct is the only raw-grain pass; the three
    // consumers (activity join, first-seen, cohort sizes) must all read
    // the lazily checkpointed grain, not re-scan parquet. Checked on
    // the optimized LOGICAL plan: the checkpoint is a LogicalRDD leaf
    // there, so any LogicalRelation would be a real re-scan.
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lp = graft.SparkEntry.queries("ev_retention_cohorts")(spark, split4)
      .queryExecution.optimizedPlan
    assert(lp.collect { case r: LogicalRDD => r }.nonEmpty, lp.toString)
    assert(lp.collect { case r: LogicalRelation => r }.isEmpty, lp.toString)
  }

  test("date-partitioned events: time predicate prunes partitions") {
    val out = tmpDir("graft-part").resolve("events_by_date").toString
    val ev = graft.util.Tables.load(spark, dir, "events")
    PartitionedEvents.write(ev, out)

    val filtered = PartitionedEvents.read(spark, out)
      .filter(col("event_date") === "2024-01-15")
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_date"), p)
    // pruning actually reduces the scanned file set
    val all = PartitionedEvents.read(spark, out)
    assert(filtered.count() > 0)
    assert(filtered.count() < all.count())
  }

  test("weighted sample: per-stratum top-K is a map-side WindowGroupLimit") {
    val p = plan("util_weighted_sample")
    // the race key is a projection; partitions keep only local winners,
    // so the one shuffle moves ~|sources| x K rows at any corpus size
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scd2 merge: one shuffle join pair, no windows, no cartesian") {
    val p = plan("util_scd2_merge")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // classification is per-row CASE
  }

  test("multiprobe lsh: probe explode rides the query side, join stays equi") {
    val p = plan("ann_lsh_multiprobe")
    assert(p.contains("Generate explode"), p) // the probe-set explode
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p) // top-k stays map-side
  }

  test("dup spans: global top-50 is TakeOrdered, never a full sort") {
    val p = plan("txt_dup_spans")
    // orderBy+limit(50) must compile to TakeOrderedAndProject — a
    // total sort of the span-grain table would be the corpus-sized
    // stage at scale
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("strip spans: no window partitioned on the span hash") {
    // keeper selection must stay aggregate-shaped: a Window over the
    // span groups would put a corpus-wide boilerplate span's whole
    // occurrence list in one partition. The only windows allowed are
    // the per-document sweep.
    val p = plan("txt_strip_spans")
    assert(p.contains("windowspecdefinition(doc_id#"), p)
    assert(!p.contains("windowspecdefinition(s#"), p)
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
  }

  test("anomaly-mad: percentiles run over the cached hourly grain, never raw events") {
    val p = plan("ev_anomaly_mad", split4)
    // median/MAD enter as 1-row broadcasts over the persisted hourly
    // grain (the event FileScan appears only inside the cache's build
    // plan, pruned to the two referenced columns)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,value:double>") ||
      p.contains("ReadSchema: struct<ts:timestamp,value:double>"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("k-anonymity: dims and class frames broadcast; no corpus-sized shuffle join") {
    val p = plan("util_k_anonymity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the final rollup partial-aggregates map-side
    assert(p.contains("partial_count"), p)
  }

  test("mix-kl: one corpus pass; totals enter as a 1-row broadcast") {
    val p = plan("util_mix_kl")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("whiten: basis and scales are 1-row broadcasts; no corpus-vs-corpus join") {
    val p = plan("emb_whiten")
    // the basis (wb) and the energy scales both enter the per-vector
    // passes as 1-row broadcast cross joins over the persisted
    // projection grain; nothing may shuffle the corpus against itself
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("quality-lr: weights ride as 1-row broadcasts; top-20 is TakeOrdered") {
    val p = plan("txt_quality_lr")
    // the training rounds run eagerly (localCheckpointed weight
    // frames), so this is the SERVING plan: the trained weights must
    // enter as a 1-row broadcast (BNLJ Cross against the persisted
    // feature grain), and the output cut is a TakeOrdered — never a
    // shuffle against the 1-row table or a full sort of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("kneser-ney: model tables broadcast into the scoring join; B is a 1-row scalar") {
    val p = plan("txt_kneser_ney")
    // the lm table is vocabulary²-bounded — it must broadcast into the
    // corpus-grain scoring join rather than shuffling the (doc,w1,w2)
    // frame a second time; the bigram-type count enters as a 1-row
    // broadcast scalar, never a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-doc aggregation partial-combines map-side
    assert(p.contains("partial_sum"), p)
  }

  test("heavy hitters: candidate verify is a broadcast semi-join, no key-domain SMJ") {
    val p = plan("txt_heavy_hitters")
    // the exact second pass must only shuffle candidate rows: the
    // MG candidate frame (<= HhCap keys) broadcasts into a LeftSemi
    // probe of the token stream — a SortMergeJoin here would shuffle
    // the whole token domain, exactly what the sketch pass avoids
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the MG pass itself partial-aggregates per task (bounded buffer)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("importance resample: B-row model broadcasts; selection is TakeOrdered") {
    val p = plan("util_importance_resample")
    // the log-ratio table (DsirBuckets rows) must broadcast onto the
    // token grain — shuffling the grain against a 1024-row frame
    // would add a corpus-scale exchange for nothing
    assert(p.contains("BroadcastHashJoin"), p)
    // top-K selection never runs a global window or full sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p)
  }

  test("bootstrap CI: replicate means partial-combine; no resample shuffle") {
    val p = plan("ev_bootstrap_ci", split4)
    // the replicate explode feeds a 32-group aggregate whose partials
    // combine map-side — the Poisson bootstrap's whole point is that
    // no resampled dataset is ever materialized or shuffled
    assert(p.contains("Generate explode"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Window"), p)
    // percentile over the 32-row frame is the only ordered step
    assert(!p.contains("CartesianProduct"), p)
  }

  test("transition matrix: one corpus shuffle (the user window); tiny rollup after") {
    val p = plan("ev_transition_matrix", split4)
    // the lead() window is the only corpus-scale exchange; the pair
    // rollup and row-normalizing window run on |types|^2 rows
    assert(p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("event_id") || p.contains("user_id"), p)
  }

  test("knn classify: bucket equi-join with WindowGroupLimit; no cross join") {
    val p = plan("emb_knn_classify")
    // candidates come from the LSH bucket equi-join, never a
    // labeled-by-unlabeled nested loop; the top-5 cut runs the
    // WindowGroupLimit partial pass before the rank shuffle
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("filtered ann: predicate applies below the bucket join (pre-filter)") {
    val p = plan("ann_filtered_topk")
    // pre-filter semantics: the metadata predicate must restrict the
    // corpus BEFORE the bucket equi-join — post-filtering the join
    // output would silently under-fill selective queries
    assert(p.contains("% 3"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("hamming topk: the pair join reads MATERIALIZED signatures") {
    val p = plan("ann_hamming_topk")
    // if the 64-term sign projection rides unfused into the BNLJ
    // stage, Catalyst re-evaluates it per PAIR — measured 25x at sf1;
    // both join inputs must come from the cached signature frame
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hybrid rrf and mmr rerank: fusion stages add no unbounded operator") {
    for (q <- Seq("txt_hybrid_rrf", "emb_mmr_rerank")) {
      val p = plan(q)
      // both compose already-bounded legs; the fusion/greedy stages
      // must stay equi-joins over top-k lists. (The legs' own 1-row
      // scalar crosses plan as BNLJ-Cross — bounded by construction,
      // same as the quality-lr pin — so only CartesianProduct, the
      // unbounded row-by-row form, is banned.)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // the fused rank cut runs the map-side WindowGroupLimit partial
      // pass (mmr's greedy rounds run eagerly behind localCheckpoint,
      // so its final plan is checkpoint scans + union + sort)
      if (q == "txt_hybrid_rrf")
        assert(p.contains("WindowGroupLimit"), s"$q:\n$p")
    }
  }

  test("hamming bucketed: prefix equi-join, never the exact tier's pair loop") {
    val p = plan("ann_hamming_bucketed")
    // the whole point of the tier: candidates come from the 9-probe
    // bucket equi-join — a nested-loop or cartesian pair join here
    // would silently recreate the exact tier's queries x corpus cost
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("sketch active users: one corpus pass, no user-grain expand") {
    val p = plan("ev_active_users_approx", split4)
    // the exact twin must explode the (day,user) grain 7x for WAU;
    // the sketch twin's explode multiplies |days| sketch ROWS only —
    // the corpus-grain stage is exactly one hll_sketch_agg aggregate
    assert("hll_sketch_agg".r.findAllIn(p).length >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    // a user-grain distinct would appear as an Expand or a
    // count(distinct) aggregate; neither may exist here
    assert(!p.contains("Expand"), p)
    assert(!p.toLowerCase.contains("distinct"), p)
  }

  test("blocklist scrub: single pass — no explode, no pre-rollup shuffle") {
    val p = plan("txt_blocklist_scrub")
    // blocked counts come from a higher-order filter over the token
    // array inside the scan projection; a Generate here means the
    // one-pass claim regressed to an exploded token grain
    assert(!p.contains("Generate"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // exactly one exchange: the |sources|-keyed rollup
    assert("hashpartitioning\\(".r.findAllIn(p).length == 1, p)
  }

  test("hard negatives: candidates ride the bucket equi-join") {
    val p = plan("emb_hard_negatives")
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("pipeline curate: the visible plan is stats-only; no cartesian anywhere") {
    // the stage gating (semi/anti joins) executes INSIDE the eagerly
    // checkpointed survivor frames, so the final plan is the 1-row
    // stat crosses + union + sort — gating-join correctness is pinned
    // by the oracle hash and PipelineCurateSpec's reconciliation
    // instead. What the final plan CAN regress on: a row-by-row
    // cartesian in the stat combination.
    val p = plan("pipeline_curate")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Union"), p)
  }

  test("domain cap: partitions keep only their local top-K before the shuffle") {
    val p = plan("util_domain_cap")
    // the per-source quota must plan as WindowGroupLimit — without it
    // every doc of an over-quota domain rides the shuffle and the skew
    // this operator exists to cut comes back as shuffle skew
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("containment pairs: equi-join candidates; array verify, no pair explode") {
    val p = plan("dedup_containment_pairs")
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the verify must intersect doc-grain sorted arrays map-side — a
    // regression to the pair×posting exploded join re-creates the
    // billion-row shuffle+agg measured at 8.1× @10× (BENCH_SF1.md r10)
    assert(p.contains("array_intersect"), p)
  }

  test("pii scrub: one corpus scan; match grain never materializes") {
    val p = plan("txt_pii_scrub")
    // all four class counters compute in the projection of a single
    // documents scan; a second scan would mean per-pattern passes
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
    // the only Generate is the bounded 4-struct class unpivot — a
    // match-grain explode would multiply rows by hit count instead
    assert("Generate explode".r.findAllIn(p).length <= 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ks drift: grid joins broadcast; argmax rides WindowGroupLimit") {
    val p = plan("util_ks_drift")
    // the |sources| x |jump points| evaluation grid is built by
    // broadcasting the bounded length marginal — an unbroadcast cross
    // would plan CartesianProduct and shuffle corpus-derived rows
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-source argmax (rn = 1) keeps only local winners per partition
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("delta dedup: candidates ride the band equi-join off the delta side") {
    val p = plan("dedup_delta_pairs")
    // incremental shape: delta bands probe (corpus ∪ delta) bands as
    // an equi-join on the band tuple — never a corpus×corpus pair
    // loop, and no unkeyed join anywhere in the chain
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(p.contains("band_id"), p)
    // the corpus's shingle+size pass is built once and reused via the
    // cache across the band build and both verify legs
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("perceptual media pairs: tile equi-join; signature computed once") {
    val p = plan("mm_near_dup_pairs")
    // candidates ride the (format, tile_id, tile) equi-join — never an
    // asset pair loop (the signature itself is pure per-row expression
    // work: windows -> 4 tile votes, no shuffle before the join)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(p.contains("tile_id"), p)
    // both join sides read the cached signature frame, not a re-scan
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("budget select: single-partition windows touch only bounded grains") {
    val p = plan("txt_budget_select")
    assert(!p.contains("CartesianProduct"), p)
    // the scored doc grain is computed ONCE (cached) — a regression to
    // per-consumer recompute re-runs the tokenize pass three times
    assert(p.contains("InMemoryTableScan"), p)
    // the doc-grain cumulative is PARTITIONED (by quality bucket); the
    // only unpartitioned exchanges carry the ≤1e6-bucket offsets and
    // the 1-row budget scalar — never the corpus grain
    assert(p.contains("hashpartitioning(qmicro"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 2, p)
  }

  test("type-day rollup: grouping sets run through Expand, aggregates partial") {
    val p = plan("ev_type_day_rollup", split4)
    // the subtotal levels come from ONE Expand fan-out feeding one
    // aggregation — not three separate scans unioned
    assert(p.contains("Expand"), p)
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Union"), p)
  }

  test("value quantiles: exact percentile is a partial-merge aggregate") {
    val p = plan("ev_value_quantiles", split4)
    // one shuffle on the bounded event_type grain; percentile buffers
    // merge map-side partials — no window, no global sort before the
    // final ORDER BY
    assert(p.contains("partial_percentile") || p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("epoch plan: thresholds broadcast to the corpus grain; cache is narrow") {
    val p = plan("util_epoch_plan")
    // the fractional-epoch pass re-reads the corpus-sized grain; the
    // |sources| threshold table must come to IT by broadcast — a
    // shuffle of the corpus grain keyed by source would be the skewed
    // full exchange this query exists to avoid
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the persisted grain is (source, n_tok, draw) only — caching text
    // would pin the whole corpus in executor memory
    assert(p.contains("InMemoryTableScan"), p)
    assert("InMemoryTableScan \\[source#\\d+, n_tok#\\d+L, draw#\\d+L\\]".r
      .findFirstIn(p).isDefined, p)
  }
}
