package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the scale properties the engine relies on must
  * be visible in `.explain` — filters reaching the parquet scan, projections
  * pruning the read schema, small dims broadcast, top-k planned without a
  * global sort. Queries execute first so AQE finalizes the plan, then the
  * formatted explain is asserted. Runs against real sf0.001 files so the
  * scan is a genuine FileSourceScan.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): String = {
    df.collect() // finalize the adaptive plan
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def q(name: String): String = finalPlan(SparkEntry.queries(name)(spark, dir))

  test("timestamp range filter is pushed down to the parquet scan (q07)") {
    val plan = q("q07_ts_range_filter")
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), s"l_shipdate not pushed:\n$plan")
  }

  test("projection prunes the parquet read schema (q06)") {
    val plan = q("q06_project")
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("c_acctbal") && !plan.contains("c_nationkey"),
      s"unpruned columns read:\n$plan")
  }

  test("small dimension is broadcast, not shuffled (q41)") {
    assert(q("q41_keyed_fanout").contains("BroadcastHashJoin"))
  }

  test("anti-join dedup plans as a real anti join (q12)") {
    assert(q("q12_anti_join_dedup").contains("LeftAnti"))
  }

  test("top-k is TakeOrderedAndProject, not a global sort (q17)") {
    assert(q("q17_topk_groups").contains("TakeOrderedAndProject"))
  }

  test("weighted sample's global top-n is a heap, not a full sort (q145)") {
    assert(q("q145_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("journey trigrams: heap top-k; ONE window exchange for both leads (q153)") {
    val df = SparkEntry.queries("q153_journey_trigrams")(spark, dir)
    df.collect()
    assert(df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .contains("TakeOrderedAndProject"))
    // both lead()s must resolve in a single user-hash window stage — a
    // second per-lead exchange would double the shuffle for no reason
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case qs: QueryStageExec => flatten(qs.plan)
      case other => other.children.flatMap(flatten)
    })
    val userExchanges = flatten(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeLike if (s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "user_id"))
        case _ => false
      }) => s
    }
    assert(userExchanges.size == 1,
      s"expected exactly one user_id exchange, got ${userExchanges.size}")
  }

  test("clamped balance carries no per-key history buffer (q192)") {
    // the max-plus rewrite must keep the plan free of collect_list — an
    // array buffer of a hot key's ledger is the 100 TB executor-OOM case
    val plan = q("q192_clamped_balance")
    assert(!plan.contains("collect_list"), s"history buffer in plan:\n$plan")
  }

  test("winsorize cut frame re-joins as a broadcast, fact side unshuffled (q152)") {
    val plan = q("q152_winsorize")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("unpivot melts via a map-side Expand — no join, no extra exchange (q156)") {
    val plan = q("q156_unpivot")
    assert(plan.contains("Expand"), s"expected the unpivot Expand:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"melt must not plan a join:\n$plan")
  }

  test("aggregations split into partial + final hash agg (q15)") {
    val plan = q("q15_groupby_count")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"expected 2-phase agg:\n$plan")
  }

  test("whole-stage codegen covers the scan->filter->project hot path (q07)") {
    val plan = q("q07_ts_range_filter")
    assert(plan.contains("[codegen id :"), s"no codegen spans:\n$plan")
  }

  test("exact dedup shuffles hashes, not document text (q43)") {
    val plan = q("q43_exact_dedup")
    assert(plan.contains("hashpartitioning(__h"), s"expected shuffle on content hash:\n$plan")
  }

  test("lexicon sentiment is a pure map-side projection — native expression, no exchange (q34)") {
    // round 10: the registered path is the codegen'd LexiconScore
    // expression; scoring adds NO shuffle (the only Exchange allowed is the
    // final orderBy's range partitioning) and stays inside codegen
    val plan = q("q34_sentiment_udf")
    assert(plan.contains("lexicon_score_tenths"),
      s"expected the native expression in the plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("HashAggregate"),
      s"native path must not join or aggregate:\n$plan")
    assert(shuffleExchanges(plan) <= 1, // the orderBy only
      s"scoring must add no exchange beyond the output sort:\n$plan")
    assert(plan.contains("[codegen id :"), s"no codegen spans:\n$plan")
  }

  test("embedding near-dup has no cartesian product — LSH candidates only (q54)") {
    val plan = q("q54_embed_neardup")
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
  }

  test("exact cosine top-k ranks two-phase — no full-width per-query window (q45)") {
    val plan = q("q45_cosine_topk")
    // phase 1 is a per-input-partition bounded k-heap; a Window here would
    // mean the |corpus|×|queries| scored set funnels into |queries| reducers
    assert(!plan.contains("Window"), s"unbounded per-query window in plan:\n$plan")
    assert(plan.contains("MapPartitions"), s"missing partial top-k stage:\n$plan")
  }

  test("IVF top-k ranking is also two-phase after the cell join (q58)") {
    val plan = q("q58_ann_ivf")
    assert(plan.contains("MapPartitions"), s"missing partial top-k stage:\n$plan")
  }

  test("pageRank iteration broadcasts ranks; one node-keyed exchange (q120 shape)") {
    import graft.ops.Graph
    import org.apache.spark.sql.functions.{col, lit}
    val edges = Graph.coOccurrenceEdges(
      spark.read.parquet(s"$dir/lineitem.parquet"), "l_partkey", "l_orderkey")
    val adj = Graph.adjacency(edges).localCheckpoint()
    val ranks = adj.select(col("src").as("node"), lit(Graph.Scale).as("rank"))
    val plan = finalPlan(Graph.pageRankStep(adj, ranks, broadcastRanks = true))
    // rank frame joins map-side against the stationary adjacency...
    assert(plan.contains("BroadcastHashJoin"), s"rank join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"edge-keyed shuffle join crept back:\n$plan")
    // ...and the ONLY shuffle is the contribution groupBy — a regression to
    // edge-keyed iteration would add a second exchange before the join
    val exchanges = shuffleExchanges(plan)
    assert(exchanges == 1, s"expected exactly 1 shuffle exchange, got $exchanges:\n$plan")
  }

  test("triangle closing joins broadcast adjacency; single post-closing exchange (q125)") {
    val plan = q("q125_triangle_count")
    assert(plan.contains("BroadcastHashJoin"), s"adjacency not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"wedge closing left the broadcast formulation:\n$plan")
    val exchanges = shuffleExchanges(plan)
    assert(exchanges <= 1, s"expected at most 1 shuffle exchange after closing, got $exchanges:\n$plan")
  }

  /** Shuffle (non-broadcast) exchange count in the EXECUTED tree — the
    * formatted explain repeats the pre-AQE tree under "== Initial Plan ==",
    * which must not double-count. */
  private def shuffleExchanges(plan: String): Int =
    " Exchange \\(".r.findAllIn(plan.split("== Initial Plan ==")(0)).size

  test("expectations evaluate ALL rules in one scan — no Expand, one agg pair (q144)") {
    val plan = q("q144_expectations")
    assert(!plan.contains("Expand"), s"rule set expanded the table:\n$plan")
    // one partial+final global aggregate over the single scan
    assert("HashAggregate".r.findAllIn(plan.split("== Initial Plan ==")(0)).size == 2, plan)
    assert("Scan parquet".r.findAllIn(plan.split("== Initial Plan ==")(0)).size == 1,
      s"rules must share one scan:\n$plan")
  }

  test("token entropy folds inside the aggregate — no per-doc window (q140)") {
    val plan = q("q140_token_entropy")
    assert(!plan.contains("Window"), s"entropy left the aggregate for a window:\n$plan")
  }

  test("forward as-of join is union + one window — no range/nested-loop join (q142)") {
    val plan = q("q142_asof_forward")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of fell back to a range join:\n$plan")
    assert(plan.contains("Window"), s"missing the forward-frame carry:\n$plan")
  }

  test("date-partitioned layout prunes to the filtered day directories (q99)") {
    val plan = q("q99_partitioned_layout")
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    // the scan must report pruning: 5 of 30 day partitions survive
    assert(plan.contains("partition filters: 5") ||
      """(?s)number of partitions read.{0,40}5""".r.findFirstIn(plan).isDefined ||
      plan.contains("PartitionFilters: [isnotnull(day"),
      s"partition pruning not visible:\n$plan")
  }

  test("merge-upsert plans one join, no extra exchange per value column (q95)") {
    // count in the FINAL plan tree only — the formatted explain repeats
    // operators in the AQE initial plan and the per-node details section
    val finalTree = q("q95_merge_upsert").split("== Initial Plan ==")(0)
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(finalTree).size == 1,
      s"expected exactly one join:\n$finalTree")
  }

  test("scd2 history reuses one key exchange for both window passes (q94)") {
    val plan = q("q94_scd2_history")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size <= 2,
      s"window passes should share the user_id partitioning:\n$plan")
  }

  test("decontamination probe broadcasts the eval shingles; corpus never shuffles (q102)") {
    val plan = q("q102_contamination")
    assert(plan.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$plan")
  }

  test("histogram percentiles never fall back to sort-based aggregation (q65)") {
    val plan = q("q65_percentiles")
    assert(!plan.contains("SortAggregate"), s"value histogram must hash-aggregate:\n$plan")
  }

  test("profile sorts nothing but the output row order (q107)") {
    // the distinct Expand must stay hash-aggregated and the global string
    // min/max agg needs no ordering — one Sort total (the final orderBy)
    val finalTree = q("q107_profile").split("== Initial Plan ==")(0)
    assert(finalTree.contains("Expand"), s"expected the count-distinct expand:\n$finalTree")
    assert("\\bSort \\(".r.findAllIn(finalTree).size == 1,
      s"only the output orderBy may sort:\n$finalTree")
  }

  test("sliding distinct fans days out map-side — no range join, no cartesian (q108)") {
    val plan = q("q108_sliding_distinct")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"day fan-out must be map-side, not a join:\n$plan")
  }

  test("bloom prune filters the fact scan BEFORE any exchange (q119)") {
    val df = SparkEntry.queries("q119_bloom_prune")(spark, dir)
    df.collect()
    // walk the executed plan: the Filter carrying bloom_might_contain must
    // sit directly over the fact file scan with no shuffle in between —
    // that's the entire point (prune before paying the exchange)
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // flatten THROUGH AQE stage boundaries (QueryStageExec is a leaf to
    // TreeNode.collect, hiding everything the stage executed)
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case qs: QueryStageExec => flatten(qs.plan)
      case other => other.children.flatMap(flatten)
    })
    val all = flatten(df.queryExecution.executedPlan)
    val bloomFilters = all.collect {
      case f: FilterExec if f.condition.exists(
        _.isInstanceOf[graft.functions.BloomMightContainExpression]) => f
    }
    assert(bloomFilters.nonEmpty, "no bloom_might_contain filter in the plan")
    bloomFilters.foreach { f =>
      val shufflesBelow = flatten(f).drop(1).collect { case s: ShuffleExchangeLike => s }
      assert(shufflesBelow.isEmpty,
        "bloom filter must prune map-side, before the fact exchange")
    }
  }

  test("co-purchase rank joins on the container key — no cartesian (q120)") {
    val plan = q("q120_copurchase_rank")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"edge derivation must stay keyed on the order:\n$plan")
  }

  test("doc chunking is one map-side pass — zero exchanges (q128 core)") {
    // the registered key appends the determinism orderBy (a range exchange);
    // the OPERATOR itself must plan scan → project → generate, nothing else
    val df = graft.ops.Curation.chunkDocuments(
      Tables.load(spark, dir, "documents"), "doc_id", "text", 20, 15)
    val plan = finalPlan(df)
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    assert(plan.contains("Generate"), s"expected the posexplode fan-out:\n$plan")
  }

  test("forward fill shuffles once, on the key hash — never a global window (q129)") {
    val plan = q("q129_forward_fill")
    // the fill's window exchange hashes on the key — an empty partition spec
    // would plan SinglePartition and serialize the whole table through one task
    assert(plan.contains("hashpartitioning(user_id"),
      s"fill window must partition by the key:\n$plan")
  }

  test("psi drift joins the bin spine and totals as broadcasts (q158)") {
    val plan = q("q158_psi_drift")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"psi must never shuffle-join its metadata-sized frames:\n$plan")
  }

  test("group correlation is one aggregate — no join, no window (q159)") {
    val plan = q("q159_group_corr")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"exact-sum correlation needs only a grouped aggregate:\n$plan")
  }

  test("pmi re-joins vocab counts and totals as broadcasts only (q161)") {
    val plan = q("q161_pmi_bigrams")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"unigram margins must broadcast, not shuffle-join:\n$plan")
  }

  test("resample generates the spine map-side; LOCF window is key-partitioned (q162)") {
    val plan = q("q162_resample")
    assert(plan.contains("Generate"), s"no sequence explode found:\n$plan")
    assert(plan.contains("hashpartitioning(event_type"),
      s"LOCF window must partition by the key:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("skyline collapses through an aggregate before the frontier window (q164)") {
    val plan = q("q164_skyline")
    assert(plan.contains("Window") && plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"),
      s"frontier needs no join at all:\n$plan")
  }

  test("skew profile unions independent per-column aggregates — no join (q166)") {
    val plan = q("q166_skew_profile")
    assert(plan.contains("Union"), plan)
    assert(!plan.contains("Join"),
      s"per-column stats must stay join-free:\n$plan")
  }

  test("mutual info margins and totals re-join as broadcasts (q167)") {
    val plan = q("q167_mutual_info")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("gini windows over the value-domain aggregate, never raw rows (q168)") {
    val plan = q("q168_gini")
    // tree order is output→scan: the cumulative Window must CONSUME the
    // (group, value) aggregate, so Window prints above a HashAggregate
    val w = plan.indexOf("Window")
    val a = plan.indexOf("HashAggregate", w)
    assert(w >= 0 && a > w,
      s"gini window must run over the count aggregate:\n$plan")
    assert(plan.contains("hashpartitioning(event_type"), plan)
  }

  test("cusum totals and peaks join back as broadcasts (q170)") {
    val plan = q("q170_changepoint")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("bollinger bands window is key-partitioned over the daily aggregate (q179)") {
    val plan = q("q179_bollinger")
    assert(plan.contains("hashpartitioning(event_type"),
      s"rolling frame must partition by the series key:\n$plan")
    // the window consumes the (type, day) aggregate, never raw events
    val w = plan.indexOf("Window")
    val a = plan.indexOf("HashAggregate", w)
    assert(w >= 0 && a > w, s"bands must run over the aggregated series:\n$plan")
  }

  test("cohort retention sizes re-join as a broadcast (q183)") {
    val plan = q("q183_cohort_retention")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("audience overlap joins sizes as broadcasts; pairing is user-keyed (q186)") {
    val plan = q("q186_audience_overlap")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pivot with an explicit value list is one aggregate — no pivot-values job (q187)") {
    val plan = q("q187_pivot")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"explicit-list pivot must not plan joins or windows:\n$plan")
  }

  test("max concurrency never plans a SinglePartition window (q193)") {
    val plan = q("q193_max_concurrency")
    // the global running sum must ride the two-phase rewrite: every Window
    // in the plan partitions on the bin hash, none on SinglePartition
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"two-phase prefix must keep windows bin-partitioned:\n$plan")
    assert(plan.contains("hashpartitioning(__bin"),
      s"expected the two-phase bin hash:\n$plan")
  }

  test("weighted median picks via TakeOrdered over the two-phase cumulative (q195)") {
    val plan = q("q195_weighted_median")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("hashpartitioning(__bin"),
      s"cumulative weight must be two-phase binned:\n$plan")
  }

  test("streaks window per user over distinct days, never raw events (q199)") {
    val plan = q("q199_streak")
    assert(plan.contains("hashpartitioning(__e"),
      s"island window must partition by the entity:\n$plan")
    assert(!plan.contains("SinglePartition") || !plan.contains("Window ["),
      s"no global window in gaps-and-islands:\n$plan")
  }

  test("entity resolution: blocked equi-joins only, no cartesian (q203)") {
    val plan = q("q203_entity_resolution")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy matching must stay blocked:\n$plan")
  }

  test("bigram LM derivation: margins broadcast; no positional self-join (q204)") {
    // q204's consumer reads the SHARED materialized score table, so the
    // scale-bearing plan is the DERIVATION (captured here BEFORE
    // Materialize.once persists it): unigram margins and the 1-row corpus
    // total must broadcast back onto the bigram cells, never a shuffled
    // cartesian or positional self-join.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = finalPlan(
      ops.TextAnalysis.bigramLogProb(docs, "doc_id", "text", lambdaBp = 7000))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bigram LM consumer: reads the materialized score table, no recompute (q204)") {
    val plan = q("q204_bigram_lm")
    assert(plan.contains("lm_scores"),
      s"consumer must scan the shared materialized LM score table:\n$plan")
    assert(!plan.contains("Join"),
      s"consumer must not re-derive (score-once, scan-many):\n$plan")
  }

  test("KS drift: prefix sums stay two-phase — no single-partition window (q207)") {
    val plan = q("q207_ks_drift")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"KS cumulative counts must ride TwoPhase, not a global window:\n$plan")
  }

  test("AUC: histogram + two-phase prefix, no per-row rank window (q208)") {
    val plan = q("q208_auc")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"AUC must be rank-free:\n$plan")
  }

  test("silhouette: fixed sample broadcast against one corpus pass (q209)") {
    val plan = q("q209_silhouette")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the sample side must broadcast (corpus never shuffles raw):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no shuffled cartesian allowed:\n$plan")
  }

  test("chi-square association: marginals broadcast back onto the cells (q210)") {
    val plan = q("q210_chi2_assoc")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"cell-frame joins are metadata-sized and must broadcast:\n$plan")
  }

  test("calibration: one hash aggregate, no join, no window (q211)") {
    val plan = q("q211_calibration")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window [") && !plan.contains("Join"),
      s"calibration is a single aggregate:\n$plan")
  }

  test("recall@k: both rankings broadcast-probe; no shuffled cartesian (q212)") {
    val plan = q("q212_recall_at_k")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast against the corpus scan:\n$plan")
  }

  test("Mann-Kendall pairs join the AGGREGATED day series, never raw events (q213)") {
    val plan = q("q213_mann_kendall")
    assert(!plan.contains("CartesianProduct"), plan)
    // the self-join input must already be the (event_type, day) aggregate
    assert(plan.contains("HashAggregate"), plan)
  }

  test("log-odds terms: rank window over the aggregated term frame; no cartesian (q215)") {
    val plan = q("q215_log_odds_terms")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"the group margins must broadcast:\n$plan")
  }

  test("curation funnel: one aggregate pass, no join, no window (q216)") {
    val plan = q("q216_curation_funnel")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join") && !plan.contains("Window ["),
      s"funnel is a single conditional-count aggregate:\n$plan")
  }

  test("LM buckets: tercile rank is two-phase — no single-partition window (q218)") {
    val plan = q("q218_lm_buckets")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"bucketing must ride TwoPhase.globalRank:\n$plan")
  }

  test("Pettitt: pair join and prefix run on the aggregated day frame (q219)") {
    val plan = q("q219_pettitt")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("cross-correlation: lag fan-out broadcasts; join is key-hash on day (q220)") {
    val plan = q("q220_cross_corr")
    assert(!plan.contains("CartesianProduct"),
      s"the lag fan-out must broadcast, not shuffle a cartesian:\n$plan")
  }

  test("group KS: grid windows partition by group; group dim broadcasts (q221)") {
    val plan = q("q221_group_ks")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"all prefix windows must partition by group:\n$plan")
  }

  test("Naive Bayes: priors broadcast; no window; scoring joins are hash (q230)") {
    val plan = q("q230_nb_classify")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), s"argmax must be struct-max, not a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"priors/class totals must broadcast:\n$plan")
  }

  test("containment: candidates come from the shingle equi-join (q231)") {
    val plan = q("q231_containment")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("seasonal backtest: joins the aggregated day frame, no window (q232)") {
    val plan = q("q232_seasonal_error")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("minhash recall: truth is a keyed join; counts broadcast (q233)") {
    val plan = q("q233_minhash_recall")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row count frames must broadcast-join:\n$plan")
  }

  test("centroid classifier: centroid frame broadcasts; argmin is struct-min (q235)") {
    val plan = q("q235_centroid_classify")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
    assert(plan.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$plan")
  }

  test("personalized PageRank: no cartesian; heap top-k (q237)") {
    val plan = q("q237_personalized_pr")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("kappa: margins reduce to 1-row frames that broadcast (q238)") {
    val plan = q("q238_kappa_agreement")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("outlier sweep: one centroid row per component, class stats broadcast (q239)") {
    val plan = q("q239_label_outliers")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("textrank: word graph joins are hash joins; heap top-k (q240)") {
    val plan = q("q240_textrank")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("EMD: grid windows partition by group; cum sums + lead share one exchange (q241)") {
    val plan = q("q241_emd_drift")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"grid windows must partition by group:\n$plan")
    // the two cumulative sums and the unit lead must resolve in ONE
    // group-hash window stage — count Window operators
    assert("Window \\[".r.findAllIn(plan).size <= 1,
      s"cum sums and lead must share one window stage:\n$plan")
  }

  test("novelty: keyed shingle join, no window, no pair join (q242)") {
    val plan = q("q242_novelty")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("Welch t: one aggregate pass, no join on raw rows, no window (q244)") {
    val plan = q("q244_welch_t")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("SortMergeJoin"), s"no raw-row join expected:\n$plan")
  }

  test("BH FDR: rank window runs over the segments metadata frame only (q245)") {
    val plan = q("q245_bh_fdr")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sequence packing: prefix sum is two-phase — no single-partition window (q260)") {
    val plan = q("q260_sequence_pack")
    // the global token prefix sum must run per-bin, never one task
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"global-window prefix sum detected:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("withCache: views read the pinned InMemoryRelation; output equals uncached (q259)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Sentiment
    def views(e: DataFrame): DataFrame =
      e.groupBy(col("sentiment")).agg(count(lit(1)).as("n"))
        .select(lit("by_sentiment").as("view_name"), col("sentiment").as("k"), col("n"))
        .unionByName(e.filter(col("sentiment") === "positive")
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .select(lit("positive_by_lang").as("view_name"), col("lang").as("k"), col("n")))
        .orderBy("view_name", "k")
    val scored = Sentiment.scoreByLexiconNative(
      Tables.documents(spark, dir), "text")
    val uncached = views(scored).collect().toSeq
    val (plan, cached) = Pipeline.withCache(scored) { e =>
      val v = views(e)
      val rows = v.collect().toSeq // materialize INSIDE the cache scope
      (v.queryExecution.explainString(ExplainMode.fromString("formatted")), rows)
    }
    assert(plan.contains("InMemory") || plan.contains("TableCache"),
      s"views did not read the cached subtree:\n$plan")
    assert(cached == uncached, "cached and uncached outputs diverge")
  }

  test("incremental components: history is a stored-index scan, probe is equi-join (q265 shape)") {
    // q265's final plan is checkpoint-truncated (the component merge
    // checkpoints between label rounds), so assert the load-bearing PROBE
    // stage directly: the historical side must be a parquet scan of the
    // materialized band index — never a second shingle→minhash banding
    // pass over old documents — and the probe must stay a band-keyed
    // equi-join.
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = tmpDir("graft_q265_plan") + "/idx"
    val bands = Dedup.componentIndexBands(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25, indexDir = idx)
    val fresh = Dedup.bandedSignatures(docs.filter(col("doc_id") >= 350),
      "doc_id", "text", shingleK = 2, numHashes = 16, bands = 8)
    val plan = finalPlan(Dedup.probeNearDupBanded(
      bands.filter(col("doc_id") < 350), fresh, "doc_id", 16, 0.25))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"probe must stay a band-keyed equi-join:\n$plan")
    assert(plan.contains(idx),
      s"old side must read the stored band index:\n$plan")
    // the pushed-down id filter proves the "as-of previous ingest" read is
    // a narrow pruned scan, not a recompute
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,350)]") ||
      plan.contains("LessThan(doc_id,350)"),
      s"historical-id predicate must reach the index scan:\n$plan")
  }

  test("streaming gate probe join: batch side broadcasts, index never reshuffles (q266 shape)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = tmpDir("graft_probe_plan") + "/bands"
    Dedup.bandedSignatures(docs.filter(col("doc_id") < 300), "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8).write.parquet(idx)
    val fresh = Dedup.bandedSignatures(docs.filter(col("doc_id") >= 300), "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8)
    val plan = finalPlan(Dedup.probeNearDupBanded(
      spark.read.parquet(idx), fresh, "doc_id", 16, 0.25))
    assert(plan.contains("BroadcastHashJoin"),
      s"the small fresh-batch side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ANN curves: every per-leg join broadcasts the metadata side; no cartesian (q268/q269)") {
    Seq("q268_ivfpq_curve", "q269_pq_codebook_curve").foreach { k =>
      val plan = q(k)
      assert(plan.contains("BroadcastHashJoin"), s"$k:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$k:\n$plan")
    }
  }

  test("PQ rerank: shortlist-bounded exact scoring, all joins broadcast (q272)") {
    val plan = q("q272_pq_rerank")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("semdedup: pair join is cell-keyed, never a corpus cross join (q273)") {
    val plan = q("q273_semdedup")
    assert(!plan.contains("CartesianProduct"),
      s"within-cell prune must stay cell-bounded:\n$plan")
  }

  test("DSIR: bucket log-ratios broadcast back onto the token frame (q275)") {
    val plan = q("q275_dsir")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // q276_editdist_confirm registers q447's plan since round 17; its scan/
  // broadcast claims are asserted on the inner pipeline by the q447 test
  // below (the registered frame truncates at the checkpoint barrier).

  test("residual PQ: per-(query,cell) LUT broadcasts; candidates cell-keyed; no cartesian (q282)") {
    val plan = q("q282_residual_pq")
    assert(plan.contains("BroadcastHashJoin"),
      s"the metadata-sized LUT/centroid frames must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidate volume must stay bounded by the cell equi-join:\n$plan")
  }

  test("IVF balance: one assignment pass; the 1-row total joins back broadcast (q283)") {
    val plan = q("q283_ivf_balance")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the count(*) total is 1 row and must broadcast, never shuffle:\n$plan")
  }

  test("SQ8: dim-sized stats broadcast onto the encode pass; no cartesian (q284)") {
    val plan = q("q284_sq8_search")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 64-row per-dim stats frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("shard merge: merged search is the cell equi-join, never all-pairs (q285)") {
    val plan = q("q285_shard_merge")
    assert(!plan.contains("CartesianProduct"),
      s"the merged-index search must stay cell-bounded:\n$plan")
  }

  test("MRR: label gathers are id-keyed; queries broadcast (q286)") {
    val plan = q("q286_mrr")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("scene cuts: decode fans out map-side; the lag window partitions by doc (q287)") {
    val plan = q("q287_scene_cuts")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange SinglePartition"),
      s"the frame window must never collapse to one partition:\n$plan")
  }

  test("covariance moments: map-side outer product, zero joins (q288)") {
    val plan = q("q288_embed_covariance")
    assert(!plan.contains("Join"),
      s"the outer product must fan out via chained generators, never a self-join:\n$plan")
    assert(plan.contains("Generate"), plan)
  }

  test("index delete: tombstones apply as a broadcast anti join (q289)") {
    val plan = q("q289_index_delete")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the tombstone set must broadcast and anti-join, never shuffle the index:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("image resize: decode fan-out map-side, pixels never shuffle (q290)") {
    val plan = q("q290_image_resize")
    assert(!plan.contains("Join"), s"resize must not join anything:\n$plan")
  }

  test("temperature mix: one token aggregate; the 1-row total broadcasts (q291)") {
    val plan = q("q291_temperature_mix")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Generate"),
      s"the token count must be size(filter(split)) per doc — no token explode:\n$plan")
  }

  test("source sketch: one shingle pass, sources-frame pairing only (q293)") {
    val plan = q("q293_source_sketch")
    assert(!plan.contains("SortMergeJoin"),
      s"the |sources|-row sketch pairing must broadcast, never shuffle-join:\n$plan")
  }

  test("tf-idf pairs: candidates from the df-capped token equi-join, no all-pairs (q294)") {
    val plan = q("q294_tfidf_pairs")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay token-keyed:\n$plan")
  }

  test("power iteration: corpus-sized work is one moment pass; iterations on checkpointed metadata (q295)") {
    val plan = q("q295_power_iteration")
    // the final plan reads the checkpointed 16-row vector frame — the
    // N-row scan happened exactly once, upstream of the first checkpoint
    assert(!plan.contains("parquet"),
      s"iterations must run on metadata frames, not rescan the corpus:\n$plan")
  }

  test("assortativity: degree joins stay node-keyed; no pair blow-up (q297)") {
    val plan = q("q297_assortativity")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"endpoint-degree gathers must be id-keyed equi-joins on the edge list:\n$plan")
  }

  test("average precision: label-mate counts broadcast back; ranking on the top-5 frame (q298)") {
    val plan = q("q298_average_precision")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ABTT: direction and dim-sums broadcast onto one corpus scan; top-20 is TakeOrdered (q299)") {
    val plan = q("q299_abtt_outliers")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-|projection| pick must never be a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"the 16-row direction/stats frames must broadcast, never shuffle the corpus:\n$plan")
  }

  test("matryoshka curve: every prefix leg broadcasts the query set; corpus never shuffles (q300)") {
    val plan = q("q300_matryoshka_curve")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"prefix scoring must be a broadcast-queries corpus scan (q45's shape):\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("filtered ANN: predicate pushed to the corpus scan; candidates stay cell-keyed (q302)") {
    val plan = q("q302_filtered_ann")
    assert(plan.contains("EqualTo(label,2)"),
      s"the metadata filter must reach the parquet scan, not run post-score:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("freshness decay: one user aggregate; top-20 is TakeOrdered, never a global sort (q303)") {
    val plan = q("q303_freshness_decay")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      s"only the 1-row anchor may cross-join, as a broadcast:\n$plan")
  }

  test("MaxSim: the whole interaction is map-side — zero shuffles upstream of the k-heap (q304)") {
    val plan = q("q304_colbert_maxsim")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // in the final-plan tree, everything upstream of the per-partition
    // k-heap (scan → normalize → broadcast join → 16-dot fold) must carry
    // no shuffle Exchange — only the build side's BroadcastExchange (an
    // explode-and-regroup formulation would shuffle 4·N·|q| scored rows)
    val fin = plan.substring(plan.indexOf("== Final Plan =="),
      math.max(plan.indexOf("== Initial Plan =="), plan.indexOf("== Final Plan ==") + 16))
    val mp = fin.indexOf("MapPartitions")
    assert(mp >= 0, fin)
    assert(!fin.substring(mp).contains("- Exchange ("),
      s"scoring must reach the k-heap without shuffling:\n$fin")
  }

  test("vocab coverage: head ranks are two-phase — no single-partition window over the vocabulary (q305)") {
    val plan = q("q305_vocab_coverage")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"the frequency rank must ride the binned two-phase rewrite:\n$plan")
  }

  test("filtered recall: every leg's truth/approx intersect via broadcast; candidates cell-keyed (q307)") {
    val plan = q("q307_filtered_recall")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the probed-cell joins start as SMJ in the initial plan and AQE
    // re-plans them as broadcasts once the 16-row query side is measured —
    // assert the EXECUTED plan only
    val cut = plan.indexOf("== Initial Plan ==")
    val fin = if (cut >= 0) plan.substring(0, cut) else plan
    assert(!fin.contains("SortMergeJoin"),
      s"the executed intersections must broadcast, never shuffle:\n$fin")
  }

  test("spearman: ranks via the two-phase rewrite — no single-partition window over users (q301)") {
    val plan = q("q301_spearman")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"global ranks must come from the binned two-phase prefix sum:\n$plan")
  }

  test("k-anonymity: one corpus aggregate; the k-sweep is a broadcast metadata cross (q308)") {
    val plan = q("q308_k_anonymity")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 3-row k frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no shuffled cartesian anywhere:\n$plan")
  }

  test("bloom cross-dump dedup: the sketch filter runs before the new side's exchange (q309)") {
    val plan = q("q309_bloom_dedup")
    assert(plan.contains("bloom_might_contain"),
      s"the bloom prefilter must be in the plan (map-side, pre-shuffle):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("point-in-time features: one user exchange, one shared window frame — never per-label joins (q310)") {
    val plan = q("q310_pit_features")
    // strictly-earlier semantics ride a single range window inside the
    // user partition; the quadratic inequality join exists only in the oracle
    assert(plan.contains("Window ("), plan)
    assert(!plan.contains("SinglePartition"), s"window must partition by user:\n$plan")
    assert(!plan.contains("Join"), s"no join anywhere — one pass:\n$plan")
  }

  test("url canonicalization: map-side string work + one groupBy on the canonical key (q311)") {
    val plan = q("q311_url_canonical")
    assert(!plan.contains("Join"), s"frontier dedup is one aggregate, no joins:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("diverse top-k: label lookup broadcasts the shortlist; rank windows partition by query (q312)") {
    val plan = q("q312_diverse_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |q|×10 shortlist must broadcast for its label join-back:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"rank windows must partition by query, never globally:\n$plan")
  }

  test("image near-dup: candidates from the band equi-join, never a pixel/hash cartesian (q313)") {
    val plan = q("q313_image_neardup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banding must bound the candidate join:\n$plan")
  }

  test("rouge overlap: clipped counts meet on the (pair, token) equi-join — no cartesian (q314)") {
    val plan = q("q314_rouge_overlap")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"tokens must only meet inside their pair:\n$plan")
  }

  test("span corruption: pure map-side transform — the only exchange is the output sort (q315)") {
    val plan = q("q315_span_corruption")
    assert(!plan.contains("Join"), s"no join anywhere:\n$plan")
    assert(!plan.contains("HashAggregate"), s"no aggregate anywhere:\n$plan")
    assert(!plan.contains("Generate"), s"masking is array ops per row, never explode:\n$plan")
  }

  test("cdc apply: the whole log lands in ONE aggregate — no window, no per-op joins (q317)") {
    val plan = q("q317_cdc_apply")
    assert(!plan.contains("Window ("), s"latest-op-wins is max(struct), never a rank window:\n$plan")
    assert(!plan.contains("Join"), s"union + one aggregate, no joins:\n$plan")
    // max(struct) plans as SortAggregate (struct max isn't hash-aggregable);
    // the partial/final pair around one exchange is the one-pass contract
    assert(plan.contains("SortAggregate") || plan.contains("HashAggregate"), plan)
  }

  test("hits half-step: score gather joins on the node key; the 1-row max broadcasts (q318 shape)") {
    import graft.ops.Graph
    import org.apache.spark.sql.functions.{col, lit}
    val e = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("h"), col("l_partkey").as("a")).distinct()
      .localCheckpoint()
    val hub = e.select(col("h").as("node")).distinct()
      .select(col("node"), lit(Graph.Scale).as("score"))
    val plan = finalPlan(Graph.hitsHalfStep(e, hub, "h", "a"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row max must join back as a broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("audio downsample: decode + decimation fan map-side; samples never shuffle (q319)") {
    val plan = q("q319_audio_downsample")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"a pure per-partition map pass + output sort:\n$plan")
  }

  test("fixed width: offset parse is map-side; one segment aggregate (q320)") {
    val plan = q("q320_fixed_width")
    assert(!plan.contains("Join"), s"parse + one groupBy, no joins:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("corrupt quarantine: classification rides the scan — no join, one global agg (q321)") {
    val plan = q("q321_corrupt_quarantine")
    assert(!plan.contains("Join"), plan)
  }

  test("nucleus mass: per-lang running sums window by (lang, bin), never by lang alone (q323)") {
    val plan = q("q323_nucleus_mass")
    assert(!plan.contains("SinglePartition") || !plan.contains("Window ("),
      s"no global window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the offset and totals frames must broadcast:\n$plan")
  }

  test("two-hop reach: path join is node-keyed through capped intermediates — no cartesian (q324)") {
    val plan = q("q324_two_hop_reach")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row degree cap must broadcast:\n$plan")
  }

  test("burstiness: one token pass to vocabulary moments; top-20 is TakeOrdered (q325)") {
    val plan = q("q325_burstiness")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ordered limit must plan as TakeOrdered, not a global sort:\n$plan")
  }

  test("equi-depth histogram: rank is two-phase — no single-partition window over orders (q326)") {
    val plan = q("q326_equidepth_hist")
    assert(!plan.contains("Window (") || !plan.contains("SinglePartition"),
      s"bucket assignment must ride the binned two-phase rank:\n$plan")
  }

  test("strip accents: a codegen'd expression pass — no UDF, no join, map-side only (q327)") {
    val plan = q("q327_strip_accents")
    assert(plan.contains("strip_accents"), s"the native expression must appear:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("BatchEvalPython"), plan)
    assert(plan.contains("codegen id"), s"expression must stay inside codegen:\n$plan")
  }

  test("robots filter: blocklist broadcasts; extraction is map-side array ops (q328)") {
    val plan = q("q328_robots_filter")
    assert(plan.contains("BroadcastHashJoin"), s"the blocklist must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("vector norm audit: medians selected by two-phase rank; stats join back broadcast (q329)") {
    val plan = q("q329_vector_norm_audit")
    assert(!plan.contains("Window (") || !plan.contains("SinglePartition"),
      s"median rank must ride the binned two-phase rewrite:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row median/MAD must broadcast:\n$plan")
  }

  test("feature hashing: one token pass, one bucket aggregate — no vocab table, no join (q330)") {
    val plan = q("q330_feature_hashing")
    assert(!plan.contains("Join"), s"the hashing trick needs no vocabulary join:\n$plan")
    assert(plan.contains("rolling_hash") || plan.contains("RollingHash"),
      s"the codegen'd hash must be in the plan:\n$plan")
  }

  test("count-min: the 192-cell sketch broadcasts for readback; top-20 is TakeOrdered (q331)") {
    val plan = q("q331_count_min")
    assert(plan.contains("BroadcastHashJoin"), s"sketch readback must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-20 truth must be a heap top-k, not a global sort:\n$plan")
  }

  test("dynamic pruning: the dim's day set prunes fact partitions at runtime (q334)") {
    val plan = q("q334_dynamic_pruning")
    assert(plan.contains("dynamicpruning"),
      s"the fact scan must carry a dynamicpruning partition filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"the day dim must broadcast:\n$plan")
  }

  test("code switch: per-half langid is expression-native, map-side, no joins (q335)") {
    val plan = q("q335_code_switch")
    assert(!plan.contains("Join") && !plan.contains("BatchEvalPython"), plan)
  }

  test("temporal split: CASE tags ride one scan; overlap via broadcast user frame (q336)") {
    val plan = q("q336_temporal_split")
    assert(plan.contains("BroadcastHashJoin"), s"the test-user frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("template dedup: normalization map-side, ONE groupBy on the key — no pairwise (q337)") {
    val plan = q("q337_template_dedup")
    assert(!plan.contains("Join"), s"template dedup is one aggregate:\n$plan")
  }

  test("cross-modal audit: both pair lists candidate-bounded; classification join id-keyed (q338)") {
    val plan = q("q338_cross_modal_audit")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs anywhere:\n$plan")
  }

  test("padding waste: ladder + one aggregate, no join, no window (q340)") {
    val plan = q("q340_padding_waste")
    assert(!plan.contains("Join") && !plan.contains("Window ("), plan)
  }

  test("rendezvous shards: assignment is map-side struct-argmax — no per-shard explode join (q341)") {
    val plan = q("q341_rendezvous_shards")
    assert(!plan.contains("Generate"), s"argmax is an array fold per row, never explode:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pattern match: one user exchange, leads in one window frame — no self-joins (q342)") {
    val plan = q("q342_pattern_match")
    assert(!plan.contains("Join"), s"CEP via window leads, never sequence self-joins:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("missing partitions: calendar from a 1-row aggregate; anti join on |days| frames (q343)") {
    val plan = q("q343_missing_partitions")
    assert(plan.contains("Generate"), s"the calendar is one sequence explode:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("watermark sizing: one running-max frame shared by all delays; delays broadcast (q344)") {
    val plan = q("q344_watermark_sizing")
    assert(!plan.contains("SinglePartition"),
      s"the running max must partition by user:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 3-row delay frame must broadcast:\n$plan")
  }

  test("prefix cache: one corpus pass, N frame broadcast, slices map-side (q345)") {
    val plan = q("q345_prefix_cache")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 3-row N frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("draft acceptance: argmax is one vocab aggregate; scoring one w1-keyed join (q346)") {
    val plan = q("q346_draft_acceptance")
    assert(!plan.contains("Window ("), s"argmax via min(struct), never a rank window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("retrieval overlap: pair counting on the |q|x5 frame only — corpus scanned once (q347)") {
    val plan = q("q347_retrieval_overlap")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("lsh cost plan: two aggregates over the materialized band-index scan only (q348)") {
    val plan = q("q348_lsh_cost_plan")
    assert(!plan.contains("Join"), s"capacity planning never joins, only aggregates:\n$plan")
    assert(plan.contains("Scan parquet"), s"must read the stored index:\n$plan")
  }

  test("oov drift: frozen vocab is TakeOrdered top-k and broadcasts onto one token pass (q349)") {
    val plan = q("q349_oov_drift")
    assert(plan.contains("TakeOrderedAndProject"), s"vocab must be a heap top-k:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"the 100-row vocab must broadcast:\n$plan")
  }

  test("grouped rank normalize: per-source ranks never SinglePartition; counts broadcast (q350)") {
    val plan = q("q350_grouped_rank_normalize")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"the per-source rank must come from the keyed two-phase prefix sum:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-source count frame must broadcast:\n$plan")
  }

  test("quality survivorship: reads the stored component map; argmax via max(struct), no window (q351)") {
    val plan = q("q351_quality_survivorship")
    assert(plan.contains("Scan parquet"), s"must read the materialized index:\n$plan")
    assert(!plan.contains("Window ("), s"keeper via max(struct), never a rank window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dup weighting: component map and sizes broadcast onto one corpus scan (q352)") {
    val plan = q("q352_dup_weighting")
    assert(plan.contains("BroadcastHashJoin"),
      s"the cluster-sized maps must broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-wide shuffle join before the |sources|-row aggregate:\n$plan")
  }

  test("shard checksum: order-invariant sums, no row-level replica join (q353)") {
    val plan = q("q353_shard_checksum")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 16-row shard frames join broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"replicas must never join row-by-row:\n$plan")
  }

  test("bitext margin: both directions broadcast their queries; backward bounded by the shortlist (q354)") {
    val plan = q("q354_bitext_margin")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"scoring must broadcast the query side over one corpus scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"px/py margins are query-sized and must broadcast back:\n$plan")
  }

  test("bucketed batching: per-tier offsets from the keyed two-phase sum, never SinglePartition (q355)") {
    val plan = q("q355_bucketed_batching")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"a partitionBy(bucket)-only window would serialize each tier:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤|tiers|·32 offset frame must broadcast:\n$plan")
  }

  test("bottomk sample: two-phase k-heap, never a per-source rank window (q356)") {
    val plan = q("q356_bottomk_sample")
    assert(!plan.contains("Window ("), s"a partitionBy(source) window would serialize a corpus-sized source:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"the |sources|-row key map must broadcast:\n$plan")
  }

  test("heaps law: one token pass; checkpoints broadcast onto type/doc summaries only (q357)") {
    val plan = q("q357_heaps_law")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 4-row checkpoint frame joins by inequality, broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("neighborhood jaccard: stored edge index, no cartesian, anti join for existing edges (q358)") {
    val plan = q("q358_neighborhood_jaccard")
    assert(plan.contains("Scan parquet"), s"edges must come from the materialized index:\n$plan")
    assert(plan.contains("LeftAnti"), s"existing-edge exclusion is an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ab ztest: one scan, one hash aggregate, zero joins (q359)") {
    val plan = q("q359_ab_ztest")
    assert(!plan.contains("Join"), s"the experiment readout never joins:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("wilson rank: TakeOrdered heap on the |parts| metadata frame, no window, no global sort (q360)") {
    val plan = q("q360_wilson_rank")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must be a heap:\n$plan")
    assert(!plan.contains("Window ("), plan)
  }

  test("ks time drift: CDF windows partition by metric, never SinglePartition (q361)") {
    val plan = q("q361_ks_time_drift")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"the CDF windows run per event_type over the domain-sized frame:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("conformal bound: keyed two-phase rank, no per-group rank window; means broadcast (q362)") {
    val plan = q("q362_conformal_bound")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"the order statistic must come from the keyed two-phase rank:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |metrics|-row mean frame must broadcast:\n$plan")
  }

  test("chi square: one corpus aggregate; margins and N broadcast onto metadata cells (q363)") {
    val plan = q("q363_chi_square")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the margin completion runs on broadcast metadata frames:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stationary dist: consumer reads the checkpointed |states| vector, no corpus work (q364)") {
    // the corpus-sized lead() pass and the per-step broadcast joins all run
    // inside localCheckpoint'd metadata frames (the q295 pattern); the
    // returned plan must be nothing but the final |states|-row scan
    val plan = q("q364_stationary_dist")
    assert(plan.contains("Scan ExistingRDD"),
      s"the chain must be materialized metadata, not a live corpus plan:\n$plan")
    assert(!plan.contains("Scan parquet") && !plan.contains("Join"),
      s"no corpus scan or join may survive into the consumer plan:\n$plan")
  }

  test("stickiness: day fan-out then hash count-distinct; series join broadcast (q365)") {
    val plan = q("q365_stickiness")
    assert(!plan.contains("Window ("),
      s"never a count-distinct range window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |days|-row series must join broadcast:\n$plan")
  }

  test("l diversity: one aggregate to the QI frame; the l sweep is a broadcast cross join (q366)") {
    val plan = q("q366_l_diversity")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 3-row l frame must broadcast onto the QI metadata:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("slo burn rate: one aggregate to |days|; trailing frame over metadata rows only (q367)") {
    val plan = q("q367_slo_burn_rate")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"), s"the burn readout never joins:\n$plan")
  }

  test("hll mergeability: union-of-partials path present; series join broadcast (q368)") {
    val plan = q("q368_hll_mergeability")
    assert(plan.contains("hll_union_agg"),
      s"the merged leg must union per-day partial sketches:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |metrics|-row merged estimates join broadcast:\n$plan")
  }

  test("csv multiline: the readback is a real csv scan, no joins (q369)") {
    val plan = q("q369_csv_multiline")
    assert(plan.contains("Scan csv"), s"must read back its own CSV:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("png chunk walk: per-partition byte walk, no joins, no decode-side shuffle (q370)") {
    val plan = q("q370_png_chunk_walk")
    assert(plan.contains("Scan ExistingRDD"),
      s"the walk is a partition-parallel RDD transform:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("mahalanobis: one moment aggregate broadcast back; top-20 is a heap (q371)") {
    val plan = q("q371_mahalanobis")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row moment frame must broadcast onto the scoring scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must be a heap:\n$plan")
    assert(!plan.contains("Window ("), plan)
  }

  test("preference pairs: one aggregate, argmax/argmin via max/min(struct), no window (q372)") {
    val plan = q("q372_preference_pairs")
    assert(!plan.contains("Window ("), s"pairing never ranks with a window:\n$plan")
    assert(!plan.contains("Join"), s"quality is map-side; no join needed:\n$plan")
  }

  test("source exclusive vocab: all joins on the vocab-sized distinct frame (q373)") {
    val plan = q("q373_source_exclusive_vocab")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("isotonic calibration: corpus collapses to bins; minimax solve on broadcast metadata (q374)") {
    val plan = q("q374_isotonic_calibration")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the triple join runs on the ≤10-row bin frame, broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("jackknife ratio: totals broadcast onto the |days| frame; exact quantized fold (q375)") {
    val plan = q("q375_jackknife_ratio")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals must broadcast onto the day frame:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("erasure audit: tombstone set broadcast; semi/anti membership, never a row join (q376)") {
    val plan = q("q376_erasure_audit")
    assert(plan.contains("LeftSemi"), s"ref counting is a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"deletion is an anti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"the tombstone set must broadcast:\n$plan")
  }

  test("epoch shuffle: two-phase global rank, never a single-partition corpus sort (q377)") {
    val plan = q("q377_epoch_shuffle")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      s"the rank must come from the two-phase rewrite:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤32-row offset frames must broadcast:\n$plan")
  }

  test("schema compat: the ledger is metadata only — no data scan in the plan (q378)") {
    val plan = q("q378_schema_compat")
    assert(plan.contains("LocalTableScan") || plan.contains("Scan ExistingRDD"),
      s"the ledger is built from parquet footers, not a data scan:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"no data pages may be read for a schema diff:\n$plan")
  }

  test("pseudonymize: map-side token expression, one aggregate, no join (q379)") {
    val plan = q("q379_pseudonymize")
    assert(plan.contains("rolling_hash"),
      s"the token must be the codegen'd expression, not a UDF:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("embedding drift: one scan, map-side projection fan-out, one 16-row aggregate (q380)") {
    val plan = q("q380_embedding_drift")
    assert(plan.contains("Generate"), s"the 16-dim fan-out is a map-side explode:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("join ivm: four delta-term joins, no cartesian, single final aggregate (q381)") {
    val plan = q("q381_join_ivm")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Union"), s"the delta algebra is a union of join terms:\n$plan")
  }

  test("cdc chunking: map-side chunk fan-out and fingerprints; ledger is one aggregate (q382)") {
    val plan = q("q382_cdc_chunking")
    assert(plan.contains("Generate"), s"chunks explode map-side:\n$plan")
    assert(!plan.contains("Join") || plan.contains("BroadcastNestedLoopJoin"),
      s"only the 1-row distinct count joins back:\n$plan")
  }

  test("join size estimate: two 192-cell sketches; the exact join runs only as the yardstick (q383)") {
    val plan = q("q383_join_size_estimate")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("worst slices: one aggregate to the slice frame; heap top-10 (q384)") {
    val plan = q("q384_worst_slices")
    assert(plan.contains("TakeOrderedAndProject"), s"worst-10 must be a heap:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("variant shred: one parse, binary path walk, one aggregate — no string re-parse (q385)") {
    val plan = q("q385_variant_shred")
    assert(plan.contains("variant_get") || plan.contains("VariantGet"),
      s"extraction must run on the VARIANT encoding:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("pipe sql: the |> program compiles to the same aggregate shape as nested SQL (q387)") {
    val plan = q("q387_pipe_sql")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"), s"syntax-only feature must add nothing:\n$plan")
  }

  test("collated group: one aggregate over the collated key, no lower() double scan (q388)") {
    val plan = q("q388_collated_group")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("markov attribution: chain solved on collected metadata; consumer plan is local (q389)") {
    // the corpus-sized lead pass lands in the collect()'d ≤5×6 tallies (the
    // TwoPhase metadata-action discipline); the returned frame is the
    // driver-solved 4-row result
    val plan = q("q389_markov_attribution")
    assert(plan.contains("LocalTableScan") || plan.contains("Scan ExistingRDD"),
      s"the attribution table is driver-solved metadata:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"no corpus scan may survive into the consumer plan:\n$plan")
  }

  test("restatement ledger: one scan, two conditional sums, no join (q390)") {
    val plan = q("q390_restatement_ledger")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("aqe skew join: OptimizeSkewedJoin splits the planted hot partition at runtime (q391)") {
    // re-execute q391's join under the same scoped configuration and read
    // the AQE-final plan: the SortMergeJoin must carry the skew marker
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100b")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100b")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val df = ops.Relational.plantedSkewJoin(Tables.load(spark, dir, "events"))
      val plan = finalPlan(df)
      assert(plan.contains("SortMergeJoin"),
        s"the demo must run through the sort-merge path:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE must mark the hot partition split:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("binary embedding: sign words built map-side; queries and truth broadcast (q316)") {
    val plan = q("q316_binary_embedding")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the 8-query frame and the truth set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("grid radius join: candidates come from a cell equi-join, no cross product (q394)") {
    val plan = q("q394_grid_radius_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs spatial join in plan:\n$plan")
  }

  test("winnowing: every window partitions by doc_id, none global (q395)") {
    val plan = q("q395_winnowing")
    assert(!plan.contains("SinglePartition") || !plan.contains("Window ["),
      s"a global window would serialize the corpus through one task:\n$plan")
  }

  test("logistic GD: weight state rides broadcast joins, data side never reshuffles (q393)") {
    val plan = q("q393_logistic_gd")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row weight frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"a non-broadcast cross join would shuffle the corpus per iteration:\n$plan")
  }

  test("OLS: one hash aggregate with map-side partials, no window, no join (q392)") {
    val plan = q("q392_ols_regression")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window [") && !plan.contains("Join"),
      s"the moment fit must be a single aggregation pass:\n$plan")
  }

  test("theta sketch: bottom-k window partitions by segment, never global (q404)") {
    val plan = q("q404_theta_sketch")
    assert(!plan.contains("SinglePartition") || !plan.contains("Window ["),
      s"the KMV retention must not serialize the corpus:\n$plan")
  }

  test("skip-gram pairs: per-doc leads + a TakeOrdered heap head (q409)") {
    val plan = q("q409_skipgram_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-30 must be a heap, not a global sort:\n$plan")
  }

  test("hash ring: the 72-vnode table broadcasts, keys never reshuffle (q407)") {
    val plan = q("q407_hash_ring")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the vnode fan-out must be a broadcast:\n$plan")
  }

  test("mutual kNN: query sides broadcast, no cartesian (q412)") {
    // the registered key reads the shared materialized index — the
    // load-bearing plan is the BUILD pipeline (the q430/q447 convention)
    val build = SparkEntry.mutualKnnExactPairs(spark, dir)
    build.collect()
    val plan = finalPlan(build)
    assert(!plan.contains("CartesianProduct"),
      s"pool-by-pool scoring must ride the broadcast path:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the query batch must broadcast over the one corpus scan:\n$plan")
  }

  test("set cover: covered anti-join sits below the aggregate; pair index scans once (q416)") {
    // the LAST round's plan is representative: a broadcast left-anti of the
    // covered vocabulary feeding ONE hash aggregate — no sort before the
    // argmax (the limit is a TakeOrdered heap), no cartesian anywhere
    val pairs = SparkEntry.queries("q416_set_cover")(spark, dir) // runs the loop
    pairs.collect()
    val plan = finalPlan(
      graft.ops.Curation.greedySetCover(spark,
        spark.read.json(spark.createDataset(Seq(
          """{"doc_id": 1, "tok": "a b"}""", """{"doc_id": 1, "tok": "b c"}""",
          """{"doc_id": 2, "tok": "a b"}"""))(org.apache.spark.sql.Encoders.STRING)),
        rounds = 1))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF mutual kNN: probed-cell equi-joins, centroids broadcast, no cartesian in the scoring joins (q417)") {
    val plan = q("q417_mutual_knn_ivf")
    assert(!plan.contains("CartesianProduct"),
      s"IVF scoring must join on cell, never cross-score:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"centroids/query cells must broadcast:\n$plan")
  }

  test("k-center round: centers broadcast over one corpus pass, never a point-point matrix (q430)") {
    // the registry's emitted frame is a driver-built seed list (PLANS.md
    // shows a LocalTableScan); the load-bearing plan is the PER-ROUND probe
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probe = graft.ops.Similarity.kcenterRound(emb, Seq(0L, 5L, 9L),
      "vec_id", "embedding")
    probe.collect()
    val plan = finalPlan(probe)
    assert(!plan.contains("CartesianProduct"),
      s"the center cross must ride a broadcast, not a cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centers must broadcast:\n$plan")
  }

  // ---------------------------------------------- round-15 density-scaled

  test("scaled silhouette: count-derived sample broadcasts, corpus scans once (q442)") {
    val plan = q("q442_silhouette_scaled")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the fixed-size sample must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no shuffled cartesian:\n$plan")
  }

  test("LSH semdedup: within-cell join is cell-keyed, never a corpus cross (q443)") {
    val plan = q("q443_semdedup_lsh")
    assert(!plan.contains("CartesianProduct"),
      s"the prune must stay cell-bounded:\n$plan")
  }

  test("range count by rank: NO candidate join — two binned windows + broadcast offsets (q444)") {
    val plan = q("q444_range_count_rank")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the rank-difference path must not enumerate pairs:\n$plan")
    // the only join allowed is the broadcast of the per-bin offset table
    assert(plan.contains("BroadcastHashJoin"), s"bin offsets must broadcast:\n$plan")
    assert(!(plan.contains("Window") && plan.contains("SinglePartition")),
      s"the prefix sum must partition by __bin, never globally:\n$plan")
  }

  test("name-group join: candidates come from a variant equi-join on the distinct-name frame (q445)") {
    // the registered key reads the shared materialized pair index — assert
    // the BUILD pipeline's shape (the confirmPrunedInner/q447 convention)
    val inner = RegistryAnalyticsGraph.nameGroupPairs(spark, dir)
    inner.collect()
    val plan = finalPlan(inner)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"deletion-neighborhood blocking must stay an equi-join:\n$plan")
    // and the registered key itself must stay join-free: one index scan
    val keyPlan = q("q445_name_group_join")
    assert(!keyPlan.contains("CartesianProduct"), keyPlan)
  }

  test("pruned confirm: estimate gate reaches the pair index scan; gated pairs broadcast (q447)") {
    // the registered key truncates at the checkpoint barrier — assert the
    // inner pipeline (the kcenter/q430 convention for barrier'd keys)
    val inner = RegistryAnnDedup.confirmPrunedInner(spark, dir)
    inner.collect()
    val plan = finalPlan(inner)
    assert(plan.contains("GreaterThanOrEqual(est_jaccard,0.5)"),
      s"the estimate gate must be pushed into the parquet scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the gated pairs must broadcast against streamed texts:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("scaled radius join: density-derived cells, still a pure equi-join (q448)") {
    val plan = q("q448_radius_scaled")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs spatial join in plan:\n$plan")
  }

  test("ANN serving: the stored index feeds the probe join with NO Exchange on its side (q449)") {
    // assert on the probe JOIN itself (the registered key's topKPerQuery
    // stage legitimately exchanges its k·P partials downstream). Broadcast
    // and AQE are off so the co-location claim is visible as a plain
    // SortMergeJoin tree: the bucketed index side must carry NO shuffle —
    // only the (tiny, per-request) query side may exchange.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (idxCells, queryCells) = RegistryAnnDedup.annServingParts(spark, dir)
      val probe = idxCells.join(queryCells.localCheckpoint(), "cell")
      assert(probe.count() > 0)
      val root = probe.queryExecution.executedPlan
      def servingSide(p: SparkPlan): Boolean = p.collect {
        case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table.startsWith("g449_ivf_serving")) => s
      }.nonEmpty
      val joinChildren = root.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.children
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.children
      }.flatten
      val idxSide = joinChildren.filter(servingSide)
      assert(idxSide.nonEmpty, s"no join child scans the serving table:\n$root")
      idxSide.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"query traffic must never reshuffle the stored corpus:\n$side")
      }
      assert(finalPlan(probe).contains("SelectedBucketsCount"),
        "the index scan must read its bucketed layout")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("ADC search: LUT broadcasts, candidate embeddings never read (q451)") {
    val plan = q("q451_adc_search")
    // the per-query lookup table is request-sized metadata — it must reach
    // the candidate stream as a broadcast, never a shuffle
    assert(plan.contains("BroadcastHashJoin"), s"LUT join not broadcast:\n$plan")
    // the serving-table side of the scoring path reads codes + ids only:
    // cv (the stored embedding) exists for q449's exact-float consumer and
    // must be PRUNED out of q451's scan of the bucketed table
    val servingReads = plan.linesIterator
      .filter(_.contains("g449_ivf_serving")).mkString("\n")
    assert(servingReads.nonEmpty, s"no serving-table scan in:\n$plan")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.exists(l => l.contains("c0") && !l.contains("embedding")),
      s"the ADC path must score from codes without reading vectors:\n$plan")
  }

  test("plan normalizer: a re-run keeps its fingerprint (q107), a plan change moves it (q12)") {
    import graft.examples.DumpPlans
    import graft.examples.DumpPlans.{fp, normalize}
    def raw(key: String): String = DumpPlans.finalPlan(SparkEntry.queries(key)(spark, dir))
    // a second build of the same frame gets fresh exprIds, and q107's
    // count-distinct rewrite numbers its groups and orders their columns
    // by raw exprId hash order
    val (first, second) = (raw("q107_profile"), raw("q107_profile"))
    assert(first != second, "two builds should differ in raw exprIds")
    assert(fp(normalize(first)) == fp(normalize(second)),
      s"one plan, two fingerprints:\n${normalize(first)}\n---\n${normalize(second)}")
    // the same rewrite as two builds can print it, pinned as text so the
    // check does not depend on which order this run's hashes happened to give
    val a =
      """(9) Expand [codegen id : 3]
        |Input [4]: [o_orderkey#1L, o_custkey#2L, o_orderstatus#3, o_orderpriority#4]
        |Arguments: [[null, null, null, o_orderkey#1L, 4], [null, null, o_orderstatus#3, null, 3], [null, o_orderpriority#4, null, null, 2], [o_custkey#2L, null, null, null, 1]], [o_custkey#5L, o_orderpriority#6, o_orderstatus#7, o_orderkey#8L, gid#9]
        |
        |(10) HashAggregate [codegen id : 3]
        |Input [5]: [o_custkey#5L, o_orderpriority#6, o_orderstatus#7, o_orderkey#8L, gid#9]
        |Functions [2]: [partial_count(o_orderkey#8L) FILTER (WHERE (gid#9 = 4)), partial_count(o_custkey#5L) FILTER (WHERE (gid#9 = 1))]""".stripMargin
    val b =
      """(9) Expand [codegen id : 3]
        |Input [4]: [o_orderkey#101L, o_custkey#102L, o_orderstatus#103, o_orderpriority#104]
        |Arguments: [[null, null, null, o_orderstatus#103, 4], [null, null, o_custkey#102L, null, 3], [null, o_orderpriority#104, null, null, 2], [o_orderkey#101L, null, null, null, 1]], [o_orderkey#105L, o_orderpriority#106, o_custkey#107L, o_orderstatus#108, gid#109]
        |
        |(10) HashAggregate [codegen id : 3]
        |Input [5]: [o_orderkey#105L, o_orderpriority#106, o_custkey#107L, o_orderstatus#108, gid#109]
        |Functions [2]: [partial_count(o_orderkey#105L) FILTER (WHERE (gid#109 = 1)), partial_count(o_custkey#107L) FILTER (WHERE (gid#109 = 3))]""".stripMargin
    assert(normalize(a) == normalize(b), s"\n${normalize(a)}\n---\n${normalize(b)}")
    // counting o_orderkey over o_custkey's group rows is a different plan
    assert(normalize(a.replace("(gid#9 = 4)", "(gid#9 = 1)")) != normalize(a))
    // a checkpoint's call site moves with any edit above it in the source
    // file; the plan does not
    val scan = "Scan ExistingRDD (1)\nArguments: [node#1L], MapPartitionsRDD[42] " +
      "at localCheckpoint at Dedup.scala:%d, ExistingRDD, UnknownPartitioning(0)"
    assert(fp(normalize(scan.format(637))) == fp(normalize(scan.format(559))))
    // a lambda variable's suffix is a JVM-global counter: how many lambdas
    // were built before this frame, not the plan
    val lambdaA = "Output [2]: [vec_id#1L, zip_with(cast(embedding#2 as array<double>), __cv#3, " +
      "lambdafunction((lambda x_1#4 - lambda y_2#5), lambda x_1#4, lambda y_2#5, false)) AS rvec#6]"
    val lambdaB = lambdaA.replaceAll("#(\\d)", "#12$1").replace("x_1", "x_5").replace("y_2", "y_6")
    assert(normalize(lambdaA) == normalize(lambdaB), s"\n${normalize(lambdaA)}\n---\n${normalize(lambdaB)}")
    assert(normalize(lambdaA) != normalize(
      lambdaA.replace("(lambda x_1#4 - lambda y_2#5)", "(lambda y_2#5 - lambda x_1#4)")))
    // Spark cuts a scan's metadata value at spark.sql.maxMetadataStringLength
    // characters of the RAW text, so the cut moves with exprId digit widths
    val scanRest = "Format: Parquet, Location: InMemoryFileIndex [<path>, ... 2 entries], " +
      "PartitionFilters: [], PushedFilters: [IsNotNull(vec_id), IsNotNull(embedding), " +
      "LessThan(vec_id,8), IsNotNull(label)], ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>"
    val cutNarrow = "+- FileScan parquet [vec_id#12L,embedding#13,label#14] Batched: true, DataFilters: " +
      "[isnotnull(vec_id#12L), isnotnull(embedding#13), (vec_id#12L < 8), (size(embedding#13, true) = 64..., " +
      scanRest
    val cutWide = "+- FileScan parquet [vec_id#1204L,embedding#1205,label#1206] Batched: true, DataFilters: " +
      "[isnotnull(vec_id#1204L), isnotnull(embedding#1205), (vec_id#1204L < 8), (size(embedding#1205, tr..., " +
      scanRest
    assert(normalize(cutNarrow) == normalize(cutWide), s"\n${normalize(cutNarrow)}\n---\n${normalize(cutWide)}")
    // the mask takes the cut value only: the other entries still count
    assert(normalize(cutNarrow) != normalize(cutNarrow.replace("LessThan(vec_id,8)", "LessThan(vec_id,16)")))
    assert(normalize(cutNarrow).contains("InMemoryFileIndex [<path>, ... 2 entries]"))

    val broadcast = raw("q12_anti_join_dedup")
    val shuffled = withSQLConf(broadcastOff)(raw("q12_anti_join_dedup"))
    // the raw plans differ in operators, not only in ids
    assert(broadcast.contains("BroadcastHashJoin") && !shuffled.contains("BroadcastHashJoin"),
      s"the threshold did not change the join:\n$broadcast\n---\n$shuffled")
    assert(fp(normalize(broadcast)) != fp(normalize(shuffled)),
      s"two plans, one fingerprint:\n$broadcast\n---\n$shuffled")
  }
}
