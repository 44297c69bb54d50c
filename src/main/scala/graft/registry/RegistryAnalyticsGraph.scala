package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal

import SparkEntry._
import graft.storage.Materialize

/** Registry part: analytics, graph, BPE and eval keys (q173-q242), with
  * the density-scaled twins q442 (silhouette, next to q209) and q445/q446
  * (name-group join and entity resolution, where q203 was).
  *
  * Split VERBATIM from SparkEntry's single queries/oracleSql map literals
  * (round-13 verdict item 8 - pure maintainability, zero semantic change);
  * merged back into the public maps at SparkEntry init. RegistrySpec pins
  * the merged key set and the 1:1 queries<->oracleSql correspondence.
  */
private[graft] object RegistryAnalyticsGraph {

  /** q445/q446's shared group frame: distinct customer names with their
    * min-custkey group id and member count (dedup-BEFORE-block: the 100 TB
    * fix for q127's growing blocks — identical names collapse to one node
    * no matter how many members repeat them, so the fuzzy join runs on the
    * distinct-name universe, which grows with the ENTITY population, not
    * the row count). Fixture rows carried from q127. */
  private def nameGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      .unionByName(Seq(
        (900000001L, "Customer#A00001111"),
        (900000002L, "Customer#B00001111")).toDF("c_custkey", "c_name"))
      .groupBy(col("c_name"))
      .agg(min(col("c_custkey")).as("gid"), count(lit(1)).as("cnt"))
  }

  /** Deletion-1 neighborhood pairs over [[nameGroups]]: every group keyed
    * by itself and each delete-one-char variant, equi-joined on the
    * variant, then verified with exact Levenshtein <= 1. The deletion
    * neighborhood is COMPLETE for edit distance 1 (a substitution at
    * position p makes both names share the delete-p variant; an
    * insertion/deletion pair shares the shorter name itself), unlike
    * q127's two-pass prefix/suffix blocking — and each name contributes
    * length+1 variant rows, so the join input is O(groups · len) with
    * bucket occupancy bounded by the near-neighbor density, never by the
    * corpus row count. Verify kills variant collisions at distance 2. */
  private[graft] def nameGroupPairs(s: SparkSession, dir: String): DataFrame = {
    // checkpoint both frames: g feeds the variant explode AND two gather
    // joins; v feeds BOTH sides of the candidate self-join — without the
    // barriers the groupBy and the length(c_name)-way substring explode
    // each run twice (measured 4.3 s -> 2.6 s for q445 at sf0.1). Both
    // frames are narrow and |distinct names|-sized.
    val g = nameGroups(s, dir).localCheckpoint()
    val v = g.select(col("gid"), col("c_name"),
      explode(concat(
        array(col("c_name")),
        expr("transform(sequence(1, length(c_name)), i -> " +
          "concat(substring(c_name, 1, i - 1), substring(c_name, i + 1, 1000000)))")))
        .as("var"))
      .select(col("gid"), col("var"))
      .localCheckpoint()
    val cand = v.select(col("var"), col("gid").as("gid_a"))
      .join(v.select(col("var"), col("gid").as("gid_b")), Seq("var"))
      .filter(col("gid_a") < col("gid_b"))
      .select(col("gid_a"), col("gid_b")).distinct()
    cand
      .join(g.select(col("gid").as("gid_a"), col("c_name").as("__na"),
        col("cnt").as("n_a")), "gid_a")
      .join(g.select(col("gid").as("gid_b"), col("c_name").as("__nb"),
        col("cnt").as("n_b")), "gid_b")
      .withColumn("dist", levenshtein(col("__na"), col("__nb")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("gid_a"), col("gid_b"), col("dist"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
  }

  /** The SHARED distinct-name fuzzy-pair table — [[nameGroupPairs]]
    * materialized once per (input dir) per JVM and read back as parquet by
    * its three registered consumers: q445 emits it, q446 closes components
    * over it, and the q127/q203 twin aliases re-run those two. Before this
    * index each consumer re-derived the full pipeline (distinct-name
    * groupBy → deletion-variant explode → variant self-join → Levenshtein
    * verify — the most expensive block in the registry's top-3 keys); now
    * the derivation runs once per run, the copurchaseEdges/dedupIndex
    * convention (r17 verdict item 7 — an in-run shared artifact, never a
    * cross-run cache: the Materialize key folds in the customer table's
    * content fingerprint and every new JVM recomputes). */
  private def nameGroupPairsIndex(s: SparkSession, dir: String): DataFrame = {
    val idxDir = Materialize.scratch("name_pairs/del1", dir)
    Materialize.once(idxDir, T(s, dir, "customer")) {
      nameGroupPairs(s, dir).write.parquet(idxDir)
    }
    s.read.parquet(idxDir)
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q173_rank_normalize" -> ((s, dir) => {
      // quantile (rank) normalization of the value column — EXACT global
      // percentile in basis points, via the q96/q137 two-phase global rank
      // (never a single-partition row_number window)
      val ev = T(s, dir, "events")
        .select(col("event_id"), ops.Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      val (ranked, n) = graft.ops.TwoPhase.globalRank(ev, col("cents"),
        Seq(col("cents"), col("event_id")), "rank")
      ranked.select(col("event_id"), col("cents"), col("rank").cast("long").as("rank"),
        expr(s"((rank - 1) * 10000) div ${n - 1}L").as("pct_bp"))
        .orderBy("rank")
    }),
    "q174_rfm" -> ((s, dir) => {
      // RFM segmentation against the corpus's own tercile cutpoints — the
      // anchor "now" is the data max (no wall clock), cut values broadcast
      val ev = T(s, dir, "events")
        .withColumn("amount", when(col("event_type") === "purchase",
          ops.Num.roundz(col("value") * 100, 0).cast("long")).otherwise(0L))
      Stats.rfmSegments(ev, "user_id", "ts", "amount")
        .orderBy("user_id")
    }),
    "q175_seasonality" -> ((s, dir) =>
      // weekday over/under-indexing per type, floor basis points — runs on
      // the daily aggregate, never raw events
      Stats.seasonalityIndex(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts")))
          .withColumn("dow",
            expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') % 7").cast("long"))
          .groupBy(col("event_type"), col("day"), col("dow"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "dow", "x")
        .orderBy("event_type", "dow")),
    "q176_autocorr" -> ((s, dir) =>
      // does today's volume predict tomorrow's (lag 1) and next week's
      // (lag 7)? — exact-sum Pearson over lag pairs from ONE shared window
      Stats.autocorrByGroup(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts")))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x", Seq(1, 7))
        .orderBy("event_type", "lag")),
    "q177_survival" -> ((s, dir) => {
      // Kaplan-Meier time-to-conversion: users who never purchase inside
      // the horizon are right-censored, not dropped — the honest funnel
      val ev = T(s, dir, "events")
      val entry = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("__t0"))
      val hit = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("__t1"))
        .join(entry, Seq("user_id"))
        .filter(col("__t1") >= col("__t0"))
        .groupBy(col("user_id")).agg(min(col("__t1")).as("__te"))
      val horizon = ev.agg(max(col("ts")).as("__h"))
      val durations = entry.join(hit, Seq("user_id"), "left")
        .crossJoin(broadcast(horizon))
        .select(
          when(col("__te").isNotNull,
            datediff(col("__te").cast("date"), col("__t0").cast("date")))
            .otherwise(datediff(col("__h").cast("date"), col("__t0").cast("date")))
            .cast("long").as("duration_days"),
          col("__te").isNotNull.as("converted"))
      Stats.kaplanMeier(durations, "duration_days", "converted")
        .orderBy("duration_days")
    }),
    "q178_bm25" -> ((s, dir) =>
      // Okapi BM25 top-k for a fixed query over the corpus — the ranking
      // layer on top of q136's inverted index; rank AFTER the limit
      TextAnalysis.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
        Seq("join", "filter", "scan"), k = 20)
        .orderBy("rank")),
    "q179_bollinger" -> ((s, dir) =>
      // trailing 7-day mean ± 2sigma bands with an EXACT integer breakout
      // test — a band-edge value can never flip engines
      Stats.rollingBands(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts")))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x", frameRows = 7)
        .orderBy("event_type", "day")),
    "q180_top_movers" -> ((s, dir) =>
      // week-over-week movement in basis points, sign-split so truncation
      // semantics agree across engines below zero
      Stats.periodMovers(
        T(s, dir, "events")
          .withColumn("week",
            expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7"))
          .groupBy(col("event_type"), col("week"))
          .agg(count(lit(1)).as("x")),
        "event_type", "week", "x")
        .orderBy("event_type", "week")),
    "q181_ewma" -> ((s, dir) =>
      // smoothed daily level per type: sequential fold seeded from the
      // first day — identical IEEE op order to the oracle's list_reduce
      Stats.ewma(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts")))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x", alphaBp = 3000)
        .orderBy("event_type")),
    "q182_twap" -> ((s, dir) =>
      // time-weighted mean value per type: each observation holds until
      // the next (micros-exact durations, decimal-exact weighted sums)
      Stats.timeWeightedAvg(
        T(s, dir, "events")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "event_type", "ts", "event_id", "cents")
        .orderBy("event_type")),
    "q183_cohort_retention" -> ((s, dir) =>
      // first-week cohorts × weeks-since: distinct actives and exact
      // basis-point retention vs the cohort's own week-0 size
      Relational.cohortRetention(T(s, dir, "events"), "user_id", "ts",
        origin = "2024-01-01")
        .orderBy("cohort_week", "week_offset")),
    "q184_benford" -> ((s, dir) =>
      // first-digit audit over order totals in cents — string-bucketed,
      // so no float log sits in the grouping path
      Profiling.benford(
        T(s, dir, "orders")
          .withColumn("cents", expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")),
        "cents")
        .orderBy("digit")),
    "q185_clustering_coeff" -> ((s, dir) =>
      // how clique-like each part's co-purchase neighborhood is:
      // triangles over wedges, exact basis points
      Graph.clusteringCoefficient(
        copurchaseEdges(s, dir),
        degrees = Some(copurchaseDegrees(s, dir)))
        .orderBy(col("coeff_bp").desc, col("triangles").desc, col("node"))
        .limit(30)),
    "q186_audience_overlap" -> ((s, dir) =>
      // pairwise user-set Jaccard between event types — membership
      // collapses to distinct (user, type) BEFORE any pairing
      Relational.audienceOverlap(T(s, dir, "events"), "user_id", "event_type")
        .orderBy("seg_a", "seg_b")),
    "q187_pivot" -> ((s, dir) =>
      // long-to-wide with an explicit value list: one aggregate pass,
      // schema fixed at plan time (no hidden distinct-collect job)
      Relational.pivotCounts(
        T(s, dir, "events").withColumn("day", TextFunctions.dayString(col("ts"))),
        "day", "event_type", Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("day")),
    "q188_session_stats" -> ((s, dir) =>
      // dwell-time distribution over q57's gap sessions: discrete
      // percentiles on exact microsecond durations
      Relational.sessionStats(T(s, dir, "events"), "user_id", "ts")),
    "q189_rrf_fusion" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val byText = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("join", "filter", "scan"), k = 20).select(col("doc_id"), col("rank"))
      val byLen = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
      // calibration-free merge of the lexical and length signals; both
      // inputs are top-20 lists so the fusion runs on metadata
      TextAnalysis.rrfFusion(Seq(byText, byLen), "doc_id", "rank", k = 60)
        .orderBy("fused_rank")
    }),
    "q190_jsd" -> ((s, dir) =>
      // symmetric, smoothing-free drift between the month's two halves
      Stats.jsDivergence(
        T(s, dir, "events").withColumn("period",
          when(expr("CAST(ts AS DATE) < DATE '2024-01-16'"), "a").otherwise("b")),
        "event_type", "period")),
    "q191_kcore" -> ((s, dir) =>
      // dense-subgraph extraction: 3 bounded peel rounds at k=6 over the
      // co-purchase graph, survivors with their post-peel degree
      Graph.kCorePeel(
        copurchaseEdges(s, dir),
        k = 6, rounds = 3,
        initialDegrees = Some(copurchaseDegrees(s, dir)))
        .orderBy(col("deg").desc, col("node")).limit(50)),
    "q192_clamped_balance" -> ((s, dir) =>
      // credit-ledger fold per user: purchases draw down, everything else
      // accrues, the balance floors at zero — nonlinear, so no window
      // prefix-sum; pure long arithmetic end to end
      Stats.clampedBalance(
        T(s, dir, "events")
          .withColumn("delta",
            when(col("event_type") === "purchase",
              -expr("CAST(round(value * 100, 0) AS BIGINT)"))
              .otherwise(expr("CAST(round(value * 100, 0) AS BIGINT)"))),
        "user_id", Seq("ts", "event_id"), "delta")
        .orderBy("user_id")),
    "q193_max_concurrency" -> ((s, dir) =>
      // capacity peak over gap sessions: ±1 sweep through the two-phase
      // global prefix sum, starts ordering before ends at the same instant
      Relational.maxConcurrentSessions(T(s, dir, "events"), "user_id", "ts")),
    "q194_theil" -> ((s, dir) =>
      // inequality in order revenue BETWEEN nations vs WITHIN them; the
      // decomposition identity defines the reported total
      Stats.theilDecomposition(
        T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(T(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .withColumn("cents", expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")),
        "n_name", "cents")),
    "q195_weighted_median" -> ((s, dir) =>
      // the price the median traded UNIT moved at — quantity-weighted,
      // exact longs through the two-phase prefix sum
      Relational.weightedMedian(
        T(s, dir, "lineitem")
          .withColumn("cents", expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")),
        "cents", "l_quantity", Seq("l_orderkey", "l_linenumber"))),
    "q196_lorenz" -> ((s, dir) =>
      // who holds the revenue: customers decile'd by spend via the
      // two-phase exact ntile, shares in exact basis points
      Stats.lorenzDeciles(
        T(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(expr("sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))").as("spend")),
        "spend", "o_custkey")
        .orderBy("decile")),
    "q197_trimmed_mean" -> ((s, dir) =>
      // tail-dropping robust center per type; discrete percentile bounds,
      // one exact division
      Stats.trimmedMean(
        T(s, dir, "events")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "event_type", "cents")
        .orderBy("event_type")),
    "q198_mode" -> ((s, dir) =>
      // most common order priority per nation, ties to the lexicographic
      // first — the categorical profile column
      Stats.modePerGroup(
        T(s, dir, "orders")
          .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(T(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey")),
        "n_name", "o_orderpriority")
        .orderBy("n_name")),
    "q199_streak" -> ((s, dir) =>
      // longest consecutive-day streak per user (gaps-and-islands),
      // summarized as a streak-length histogram
      Relational.longestStreak(T(s, dir, "events"), "user_id", "ts",
        origin = "2024-01-01")
        .groupBy(col("streak_days"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("streak_days")),
    "q200_holt" -> ((s, dir) =>
      // level + trend smoothing per type: the registry's only two-state
      // fold, struct accumulator with identical lambda text both engines
      Stats.holt(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts")))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x")
        .orderBy("event_type")),
    "q201_bfs_hops" -> ((s, dir) =>
      // reach profile from the busiest part: nodes first touched at each
      // hop, 3 bounded frontier expansions
      Graph.bfsHopCounts(
        copurchaseEdges(s, dir),
        maxHops = 3,
        degrees = Some(copurchaseDegrees(s, dir)))
        .orderBy("hop")),
    "q202_systematic" -> ((s, dir) =>
      // every-100th doc in (n_chars, doc_id) order — uniform coverage of
      // the length dimension via the two-phase exact global rank
      Curation.systematicSample(
        T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq("n_chars", "doc_id"), k = 100)
        .select(col("doc_id"), col("n_chars"), col("rank"))
        .orderBy("rank")),
    // q203_entity_resolution is registered via SparkEntry.retiredToTwins
    // (round 17): the member-level closure builds its pair graph from
    // row-level fuzzy matches whose volume grows with the duplicate
    // population; the registered plan is q446's group-graph closure and the
    // member-level shape lives on as a DedupSpec yardstick.
    "q445_name_group_join" -> ((s, dir) =>
      // q127's fuzzy join re-registered dedup-before-block: pairs of
      // DISTINCT-NAME GROUPS (min-custkey id + member count) within edit
      // distance 1, candidates from the complete deletion-1 neighborhood
      // join. Identical names — however many rows repeat them — are ONE
      // node, so candidate volume is bounded by the distinct-name
      // universe and near-neighbor density, never by row replication
      // (q127's blocks grow ∝ n when names repeat: 22x at sf1). Full
      // recall at dist <= 1, unlike q127's prefix/suffix passes (hole at
      // positions 11-16 of an 18-char name).
      nameGroupPairsIndex(s, dir).orderBy("gid_a", "gid_b")),
    "q446_er_groups" -> ((s, dir) => {
      // q203's MDM closure run on the GROUP graph: min-label connected
      // components over q445's distinct-name pairs, every group stamped
      // with its entity id, the entity's group count and total MEMBER
      // count (multiplicities fold back as a sum, never as rows).
      // Closure input is |distinct names| nodes — at sf1 that is 15k
      // nodes instead of q203's 150k members and 675k duplicate-name
      // member pairs (16x at sf1). Sequential fixture names chain into
      // one giant entity — the known over-merge behavior of transitive
      // ER — which makes the gate pin full min-label convergence across
      // the component diameter.
      val g = nameGroups(s, dir).localCheckpoint() // read by 2 branches
      val pairs = nameGroupPairsIndex(s, dir)
        .select(col("gid_a").as("id_a"), col("gid_b").as("id_b"))
      val comp = Dedup.connectedComponents(pairs)
      val m = g.join(comp, g("gid") === comp("node"), "left")
        .select(col("gid"), col("cnt"),
          coalesce(col("component"), col("gid")).as("entity_id"))
      val sz = m.groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_groups"), sum(col("cnt")).as("n_members"))
      m.join(sz, Seq("entity_id"))
        .select(col("gid"), col("entity_id"),
          (col("gid") === col("entity_id")).as("is_canonical"),
          col("n_groups").cast("long").as("n_groups"),
          col("n_members").cast("long").as("n_members"))
        .orderBy("gid")
    }),
    "q204_bigram_lm" -> ((s, dir) =>
      // context-aware fluency score: Jelinek-Mercer interpolated bigram
      // NLL per document, unseen bigrams backed off to the unigram floor;
      // served from the SHARED materialized score table (q218 buckets the
      // same scores - the CCNet score-once shape)
      lmScores(s, dir).orderBy("doc_id")),
    "q205_srm" -> ((s, dir) =>
      // experiment-health gate per event type: deterministic user_id % 2
      // arms; the 5% flag decides on exact integers, chi2 is display-only
      Stats.sampleRatioMismatch(
        T(s, dir, "events").withColumn("arm", expr("pmod(user_id, 2)")),
        "event_type", "arm")
        .orderBy("event_type")),
    "q206_did" -> ((s, dir) =>
      // treatment effect net of the control drift: q205's deterministic
      // arms, the month's halves as pre/post, value cents as the outcome
      Stats.diffInDiff(
        T(s, dir, "events")
          .withColumn("arm", expr("pmod(user_id, 2)"))
          .withColumn("period",
            when(expr("CAST(ts AS DATE) < DATE '2024-01-16'"), "a").otherwise("b"))
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "arm", "period", "cents")),
    "q207_ks_drift" -> ((s, dir) =>
      // distribution-level arm health: exact-integer KS over value cents,
      // complements q205's count-level SRM
      Stats.ksDrift(
        T(s, dir, "events")
          .withColumn("arm", expr("pmod(user_id, 2)"))
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "arm", "cents")),
    "q208_auc" -> ((s, dir) =>
      // scorer quality readout: exact Mann-Whitney AUC of value cents as a
      // predictor of the purchase label — rank-free histogram formulation
      Stats.aucFromScores(
        T(s, dir, "events")
          .withColumn("is_purchase", col("event_type") === "purchase")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "is_purchase", "cents")),
    "q209_silhouette" -> ((s, dir) => {
      // cluster validity over the labeled embedding table: sampled
      // silhouette, distances on the tenth-of-bp integer grid. The sample
      // knob is COUNT-CLAMPED (round-15 verdict item 1): mod =
      // greatest(4, n div 500) pins the sample to ~500 vectors at any
      // scale — bit-identical to the original mod=4 at every fixture SF
      // (n <= 2000 there), linear 500·n pair work beyond (the id%4
      // constant-fraction sample made it n²/4: 66.8x at sf1) — so the
      // yardstick itself stays benchable at sf1+.
      val emb = T(s, dir, "embeddings")
      val mod = math.max(4L, emb.count() / 500L)
      Similarity.silhouetteSampled(emb, "vec_id", "embedding", "label",
        sampleMod = mod.toInt)
        .orderBy("vec_id")
    }),
    "q442_silhouette_scaled" -> ((s, dir) => {
      // q209 with the sample pinned to a CONSTANT size instead of a
      // constant fraction: sampleMod = max(1, n div 128) keeps |sample|
      // ~128 at every scale, so the broadcast-nested-loop work is
      // 128 · n — linear — where q209's id%4 sample made it n²/4
      // (65x at sf1, SCALE.md round 14). Same tenth-of-bp integer
      // distance grid, same output shape.
      val emb = T(s, dir, "embeddings")
      val mod = math.max(1L, emb.count() / 128L)
      Similarity.silhouetteSampled(emb, "vec_id", "embedding", "label",
        sampleMod = mod.toInt)
        .orderBy("vec_id")
    }),
    "q210_chi2_assoc" -> ((s, dir) =>
      // is language independent of source? exact micro-unit chi-square
      // contribution per (lang, source) cell
      Stats.chi2Independence(T(s, dir, "documents"), "lang", "source")
        .orderBy("lang", "source")),
    "q211_calibration" -> ((s, dir) =>
      // reliability deciles: mean predicted score vs observed purchase
      // rate per clamped score decile
      Stats.calibrationBins(
        T(s, dir, "events")
          .withColumn("is_purchase", col("event_type") === "purchase")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "is_purchase", "cents")
        .orderBy("bin")),
    "q212_recall_at_k" -> ((s, dir) => {
      // ANN eval harness: recall@5 of the IVF path (q58) against the exact
      // brute-force truth (q45) — the number that justifies nprobe/cell
      // choices before a recall target ships
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(emb, queries, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", 5)
      recallJoin(truth, approx)
        .groupBy(col("query_id"))
        .agg(count(col("__an")).as("hits"))
        .select(col("query_id"), col("hits").cast("long").as("hits"),
          ops.Num.roundz(col("hits") / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    }),
    "q213_mann_kendall" -> ((s, dir) =>
      // monotonic-trend gate over the daily count series per event type;
      // pair join runs on the aggregated |days| frame, never raw events
      Stats.mannKendall(
        T(s, dir, "events")
          .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x")
        .orderBy("event_type")),
    "q214_readability" -> ((s, dir) =>
      // Flesch reading ease per doc — dictionary-free vowel-group syllables
      TextAnalysis.readability(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q215_log_odds_terms" -> ((s, dir) =>
      // per-source distinctive vocabulary: smoothed log-odds vs the rest of
      // the corpus, top-5 per source
      TextAnalysis.logOddsTerms(T(s, dir, "documents"), "source", "text", k = 5)
        .orderBy("source", "rank")),
    "q216_curation_funnel" -> ((s, dir) =>
      // survival counts through the cumulative cleaning gates — one pass
      Curation.curationFunnel(T(s, dir, "documents"), "text", "lang", "n_chars")
        .orderBy("stage_idx")),
    "q217_neardup_rate" -> ((s, dir) => {
      // corpus-health readout: per source, share of docs with >= 1 minhash
      // near-dup candidate (q44's banding, est_jaccard >= 0.25)
      val docs = T(s, dir, "documents")
      val pairs = Dedup.minHashNearDup(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25)
      val ids = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
        .withColumn("__dup", lit(1L))
      docs.join(ids, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
        .select(col("source"), col("n_docs").cast("long").as("n_docs"),
          col("n_dup").cast("long").as("n_dup"),
          ops.Num.roundz(col("n_dup").cast("double") / col("n_docs").cast("double"), 4)
            .as("dup_rate"))
        .orderBy("source")
    }),
    "q218_lm_buckets" -> ((s, dir) => {
      // CCNet-style corpus split: exact terciles of the q204 bigram-LM
      // score (head = fluent, tail = noisy), two-phase rank — no global
      // window; mean rides exact scaled ints
      val scores = lmScores(s, dir)
      val (ranked, n) = graft.ops.TwoPhase.globalRank(scores, col("avg_nll"),
        Seq(col("avg_nll"), col("doc_id")), "__rank")
      ranked
        .withColumn("bucket",
          graft.ops.TwoPhase.ntileFromRank("__rank", n, 3).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min("avg_nll").as("min_nll"), max("avg_nll").as("max_nll"),
          sum(ops.Num.roundz(col("avg_nll") * 10000, 0).cast("long")).as("__s"))
        .select(col("bucket"), col("n_docs").cast("long").as("n_docs"),
          col("min_nll"), col("max_nll"),
          ops.Num.roundz(col("__s").cast("double") /
            (col("n_docs").cast("double") * lit(10000.0)), 4).as("mean_nll"))
        .orderBy("bucket")
    }),
    "q219_pettitt" -> ((s, dir) =>
      // nonparametric changepoint LOCATION per event type (q170's CUSUM
      // says THAT it drifted; Pettitt says WHERE) — exact U_t via the
      // interval-add identity over the aggregated day series
      Stats.pettittChangepoint(
        T(s, dir, "events")
          .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x")
        .orderBy("event_type")),
    "q220_cross_corr" -> ((s, dir) =>
      // lead/lag readout: do views at day t predict purchases at t+lag?
      Stats.crossCorrLagged(
        T(s, dir, "events")
          .groupBy(expr("CAST(ts AS DATE)").as("day"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("purchases")),
        "day", "views", "purchases", maxLag = 3)
        .orderBy("lag")),
    "q221_group_ks" -> ((s, dir) =>
      // segment-level drift table: each event type's value-cents
      // distribution vs the rest of the corpus
      Stats.ksDriftByGroup(
        T(s, dir, "events")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "event_type", "cents")
        .orderBy("event_type")),
    "q222_ttr" -> ((s, dir) =>
      // lexical diversity per doc: type-token ratio — the boilerplate /
      // keyword-spam signal complementing q140's entropy (TTR is
      // length-sensitive where entropy is distribution-sensitive)
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("__t"))
        .filter(length(col("__t")) > 0)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__n"), count_distinct(col("__t")).as("__d"))
        .select(col("doc_id"), col("__n").cast("long").as("n_tokens"),
          col("__d").cast("long").as("n_types"),
          ops.Num.roundz(col("__d").cast("double") / col("__n").cast("double"), 4)
            .as("ttr"))
        .orderBy("doc_id")),
    "q223_bpe_merges" -> ((s, dir) => {
      // BPE vocabulary learning (ops/Bpe.scala) gets its gate key: k = 8
      // bounded merges over the word-frequency table. Each step is one
      // distributed pair-count aggregate with map-side combine plus a 1-row
      // argmax collect (metadata, not data) — the corpus is scanned once,
      // ever, to build the |vocab|-sized word table. The oracle unrolls the
      // same k steps as chained CTEs (see [[bpeOracleSql]]).
      import s.implicits._
      Bpe.learnMerges(T(s, dir, "documents"), "text", k = 8)
        .zipWithIndex
        .map { case ((p1, p2, cnt), i) => (i + 1L, p1, p2, cnt) }
        .toDF("rank", "p1", "p2", "cnt")
        .orderBy("rank")
    }),
    "q224_pq_search" -> ((s, dir) => {
      // ADC search over the q116 PQ codes — the query path that completes
      // the ANN triple (LSH buckets / IVF cells / PQ codes): per query an
      // m×K LUT of quantized sub-distances, candidate distance = m exact
      // long lookups summed, ranking via the two-phase k-heap
      val emb = T(s, dir, "embeddings")
      val cb = emb.filter(col("vec_id") < 8)
      val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding",
        m = 4, subDim = 16)
      Similarity.pqSearchTopK(codes, emb.filter(col("vec_id") < 8), cb,
        "vec_id", "embedding", m = 4, subDim = 16, k = 5)
        .orderBy("query_id", "rn")
    }),
    "q225_pq_recall" -> ((s, dir) => {
      // recall@5 of the PQ/ADC path against q45's exact brute-force truth —
      // the q212 harness pointed at the third ANN index; the number that
      // justifies m/subDim before a recall target ships
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      val codes = Similarity.pqEncode(emb, queries, "vec_id", "embedding",
        m = 4, subDim = 16)
      val approx = Similarity.pqSearchTopK(codes, queries, queries,
        "vec_id", "embedding", m = 4, subDim = 16, k = 5)
      recallJoin(truth, approx)
        .groupBy(col("query_id"))
        .agg(count(col("__an")).as("hits"))
        .select(col("query_id"), col("hits").cast("long").as("hits"),
          ops.Num.roundz(col("hits") / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    }),
    "q226_link_predict" -> ((s, dir) =>
      // Resource-Allocation link prediction over the co-purchase graph:
      // which part pairs are NOT co-purchased but structurally implied by
      // shared neighbors. Scaled-long contributions (order-free integer
      // sums), wedge fan-out map-side from sorted neighbor arrays, one
      // (u,v)-keyed aggregate, anti-join vs existing edges, distributed
      // TakeOrdered top-k. The relation is TIME-WINDOWED (one ship year) —
      // candidate generation runs on recent activity by design: wedge
      // volume is Σ deg², and the full-history graph's mean degree grows
      // with corpus age while the recommendation signal does not (the
      // whole-history variant measured 37 s vs ~1 s here at sf0.1, all of
      // it wedge shuffle)
      Graph.resourceAllocationTopK(
        Graph.coOccurrenceEdges(
          T(s, dir, "lineitem").filter(
            col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp")),
          "l_partkey", "l_orderkey"),
        k = 20)
        .select(col("u"), col("v"), col("score"))),
    "q227_bpe_encode" -> ((s, dir) => {
      // the q223 learner's natural pair: ENCODE the corpus with the learned
      // merges — token counting under a learned tokenizer, the per-doc
      // budget signal a training pipeline actually bills by. Merges are
      // driver-side metadata (k rows); the encode is one map-side
      // projection (chained codegen'd folds), no join, no shuffle beyond
      // the output sort
      val docs = T(s, dir, "documents")
      val merges = Bpe.learnMerges(docs, "text", k = 8)
        .map { case (p1, p2, _) => (p1, p2) }
      // encodeRanked, not the fold-chain encode: the rank loop ships the
      // merge table once per partition and costs O(|word|·k) per word with
      // NO per-merge plan growth — the fold chain measured 20 s at sf0.1
      // vs ~2 s here (equivalence on learner output proven in BpeSpec)
      Bpe.encodeRanked(docs.select(col("doc_id"), col("text")),
          "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          concat_ws(" ", col("tokens")).as("tokens_s"))
        .orderBy("doc_id")
    }),
    "q228_image_dhash" -> ((s, dir) => {
      // IMAGE near-duplicate detection under the gate: per doc a 9×7
      // gradient PNG is synthesized (pixel value a pure function of
      // doc_id % 50 and position, so ~50 planted duplicate groups), REAL
      // ImageIO decode + 56-bit difference hash per partition, then dedup
      // is a hash groupBy — never pairwise pixel comparison. The oracle
      // predicts every gradient bit arithmetically
      import s.implicits._
      val imgs = T(s, dir, "documents").select(col("doc_id"))
        .as[Long].mapPartitions(_.map { id =>
          val g = id % 50
          (id, Multimodal.synthPngPixels(9, 7, (x, y) =>
            { val v = ((g * 13 + x * (y + 3)) % 256).toInt; (v << 16) | (v << 8) | v }))
        }).toDF("doc_id", "payload")
      Multimodal.dHash56(imgs, "doc_id")
        .groupBy(col("dhash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
        .filter(col("n_docs") >= 2)
        .orderBy("dhash")
    }),
    "q229_negative_sample" -> ((s, dir) => {
      // deterministic negative sampling for training pairs: per customer,
      // 5 hash-derived candidate parts, minus anything actually purchased
      // (anti-join on the positive set). Hash is plain integer arithmetic
      // so any engine reproduces it bit-for-bit; the anti-join shuffles on
      // the (custkey, partkey) key — no randomness, no driver loop
      val positives = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
      val maxP = T(s, dir, "part").agg(max(col("p_partkey")).as("__maxp"))
      T(s, dir, "orders").select(col("o_custkey").as("c")).distinct()
        .crossJoin(broadcast(maxP))
        .select(col("c"), col("__maxp"), explode(sequence(lit(0L), lit(4L))).as("sample_idx"))
        .withColumn("p",
          expr("((c * 2654435761 + sample_idx * 40503 + 12345) % 1000000007) % __maxp + 1"))
        .join(positives, Seq("c", "p"), "left_anti")
        .select(col("c").as("c_custkey"), col("sample_idx"), col("p").as("neg_partkey"))
        .orderBy("c_custkey", "sample_idx")
    }),
    "q230_nb_classify" -> ((s, dir) => {
      // supervised curation gate trained in-engine: multinomial Naive Bayes
      // over whitespace tokens, lang as the class — train on doc_id % 5 <> 0,
      // score the held-out fifth. Integer micro-nat weights make every score
      // an exact long sum (q224's ADC discipline), so the argmax — and the
      // per-doc hit flag against the true label — is deterministic
      val docs = T(s, dir, "documents")
      TextAnalysis.naiveBayes(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),
    "q231_containment" -> ((s, dir) =>
      // asymmetric sub-document duplication: directed |A∩B|/|A| over the
      // q49 candidate generator — catches the quoted-paragraph/template
      // cases symmetric Jaccard structurally misses. Same doc_id slice and
      // df-cap as q49 so bucket volume stays maxShingleDf²-bounded
      Dedup.ngramContainment(T(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", k = 2, threshold = 0.5)
        .orderBy("src_id", "dst_id")),
    "q232_seasonal_error" -> ((s, dir) =>
      // seasonal-naive backtest on the daily event series: the exact
      // integer error floor (SAE longs, floor-divided MAPE basis points)
      // that gates trust in the smoothing forecasts (q200/q181)
      Stats.seasonalNaiveError(
        T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c")),
        "event_type", "day", "c", season = 7)
        .orderBy("event_type")),
    "q233_minhash_recall" -> ((s, dir) => {
      // the dedup family's eval loop (q212/q225's role for ANN): plant
      // HARD near-dups — each variant keeps only the first half of the
      // doc's words, putting exact Jaccard near the 8-band × 2-row LSH
      // curve's steep region (j ≈ 0.5 → P(catch) = 1−(1−j²)⁸ ≈ 0.9) so
      // recall < 1 actually measures band-collision physics, not a
      // foregone conclusion. Truth = exact Jaccard ≥ 0.25 computed ONLY on
      // the planted pair mapping — a keyed (shingle, id→id+100000) join,
      // never all-pairs
      val base = T(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val variants = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, '\\\\s+'), 1, " +
            "(size(split(text, '\\\\s+')) + 1) div 2))").as("text"))
      val corp = base.unionByName(variants)
      val mh = Dedup.minHashNearDup(corp, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25)
        .select("id_a", "id_b")
      val sh = Dedup.wordShingles(corp, "doc_id", "text", 2)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val shared = sh.as("x").join(sh.as("y"),
          col("y.shingle") === col("x.shingle") &&
            col("y.doc_id") === col("x.doc_id") + 100000L)
        .filter(col("x.doc_id") < 300 && col("x.doc_id") % 3 === 0)
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
      val truth = shared
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
        .filter(ops.Num.roundz(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 4) >= 0.25)
        .select("id_a", "id_b")
      val caught = truth.join(mh, Seq("id_a", "id_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(caught.agg(count(lit(1)).as("n_caught"))))
        .select(col("n_truth"), col("n_caught"),
          ops.Num.roundz(col("n_caught").cast("double") / col("n_truth"), 4)
            .as("recall"))
    }),
    "q234_bpe_fertility" -> ((s, dir) => {
      // tokens-per-word under the LEARNED tokenizer, per language — the
      // fertility curve a multilingual mix is budgeted by. Reuses the
      // q223 learner + q227 encodeRanked (merge table ships once per
      // partition); the per-lang aggregate is exact longs, one 4-dp ratio
      val docs = T(s, dir, "documents")
      val merges = Bpe.learnMerges(docs, "text", k = 8)
        .map { case (p1, p2, _) => (p1, p2) }
      val enc = Bpe.encodeRanked(docs.select(col("doc_id"), col("text")),
          "doc_id", "text", merges)
        .select(col("doc_id"), size(col("tokens")).cast("long").as("n_bpe_doc"))
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_words_doc"))
        .join(enc, "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_words_doc")).as("n_words"), sum(col("n_bpe_doc")).as("n_bpe"))
        .filter(col("n_words") > 0)
        .select(col("lang"), col("n_words").cast("long").as("n_words"),
          col("n_bpe").cast("long").as("n_bpe"),
          ops.Num.roundz(col("n_bpe").cast("double") / col("n_words"), 4)
            .as("fertility"))
        .orderBy("lang")
    }),
    "q235_centroid_classify" -> ((s, dir) =>
      // embedding-quality readout: per-label centroids, nearest-centroid
      // assignment, confusion matrix — exact micro-long arithmetic end to
      // end (quantize once, floor-div centroids, long squared distances)
      Similarity.nearestCentroid(T(s, dir, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy("label", "pred_label")),
    "q236_audio_segments" -> ((s, dir) => {
      // REAL voice-activity segmentation under the gate: per doc a WAV of
      // (n_chars%8+4) 100-sample blocks is synthesized — block b silent
      // when (doc_id+b)%3=0, else constant amplitude doc_id%20000+500 —
      // and silenceSegments genuinely parses the RIFF container and scans
      // the PCM. The oracle predicts every block flag arithmetically
      import s.implicits._
      val wavs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
          val nb = (nc % 8 + 4).toInt
          val amp = (id % 20000 + 500).toShort
          val samples = Array.tabulate[Short](nb * 100) { i =>
            if ((id + i / 100) % 3 == 0) 0 else amp
          }
          (id, Multimodal.synthWavSamples(samples, 16000))
        }).toDF("doc_id", "payload")
      Multimodal.silenceSegments(wavs, "doc_id", blockSamples = 100,
          threshold = 250)
        .orderBy("doc_id")
    }),
    "q237_personalized_pr" -> ((s, dir) =>
      // recommendation-from-seeds: restart mass pinned to the seed items
      // (partkey % 97 = 0) over the q120 co-purchase graph; same exact
      // scaled-long damping, top-20 neighborhood via TakeOrdered
      Graph.personalizedPageRank(
          copurchaseEdges(s, dir),
          seedPred = col("src") % 97 === 0, iterations = 3)
        .select(col("node").as("p_partkey"), col("rank").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("p_partkey")).limit(20)),
    "q238_kappa_agreement" -> ((s, dir) => {
      // do the q50 heuristic and the q230 trained classifier actually
      // agree? Cohen's kappa on the scored split via the rational identity
      // kappa = (n·agree − Σr·c)/(n² − Σr·c): every count exact, products
      // on decimal(38,0), ONE display division
      val dec = "decimal(38,0)"
      val docs = T(s, dir, "documents")
      val nb = TextAnalysis.naiveBayes(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", "lang")
      val pairs = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("a"))
        .join(nb.select(col("doc_id"), col("pred_label").as("b")), "doc_id")
        .localCheckpoint(eager = false)
      val tot = pairs.agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("ag"))
      val ra = pairs.groupBy(col("a")).agg(count(lit(1)).as("r"))
      val cb = pairs.groupBy(col("b")).agg(count(lit(1)).as("c"))
      val pe = ra.join(cb, col("a") === col("b"))
        .agg(coalesce(sum(col("r").cast(dec) * col("c")), lit(0L).cast(dec)).as("sm"))
      tot.crossJoin(broadcast(pe))
        .filter(col("n").cast(dec) * col("n") > col("sm"))
        .select(col("n").cast("long").as("n"), col("ag").cast("long").as("n_agree"),
          col("sm").cast("long").as("pe_num"),
          ops.Num.roundz((col("n").cast(dec) * col("ag") - col("sm")).cast("double") /
            (col("n").cast(dec) * col("n") - col("sm")).cast("double"), 4).as("kappa"))
    }),
    "q239_label_outliers" -> ((s, dir) =>
      // corrupted-embedding sweep with PLANTED corruption: vec_id % 50 = 0
      // rows are ×4-scaled (a power of two — float math exact in BOTH
      // engines, no single-vs-double rounding skew), modeling a
      // wrong-normalization batch. Measured separation: clean ratios
      // ≤ 1.11, planted ≥ 8.8 → factor 4 flags exactly the planted set.
      // Exact micro-long distances, decimal cross-product flag, no division
      Similarity.centroidOutliers(
          T(s, dir, "embeddings").select(col("vec_id"), col("label"),
            when(col("vec_id") % 50 === 0,
              expr("transform(embedding, x -> x * CAST(4 AS FLOAT))"))
              .otherwise(col("embedding")).as("embedding")),
          "vec_id", "embedding", "label")
        .orderBy("vec_id")),
    "q240_textrank" -> ((s, dir) => {
      // graph-based keyword extraction (TextRank): adjacent-word pairs
      // with corpus count ≥ 3 form the word graph (the df-cap discipline
      // inverted — RARE pairs drop, bounding the graph to recurring
      // collocations), then the q120 PageRank machinery runs verbatim on
      // word nodes — exact scaled-long damping, top-20 via TakeOrdered
      val pairs = T(s, dir, "documents")
        .withColumn("__w", split(lower(col("text")), "\\s+"))
        .filter(size(col("__w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__w")) - 1),
          i => struct(element_at(col("__w"), i).as("a"),
            element_at(col("__w"), i + 1).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b") && length(col("a")) > 0 && length(col("b")) > 0)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 3)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      Graph.pageRank(edges, iterations = 3)
        .select(col("node").as("word"), col("rank").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("word")).limit(20)
    }),
    "q241_emd_drift" -> ((s, dir) =>
      // q221's KS table, integrated: earth-mover distance of each event
      // type's value-cents distribution vs the rest — prices how much
      // value MOVED, not just the worst CDF gap; exact gap-weighted
      // cross-multiplied integers on decimal(38,0)
      Stats.emdDriftByGroup(
        T(s, dir, "events")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "event_type", "cents")
        .orderBy("event_type")),
    "q242_novelty" -> ((s, dir) =>
      // the corpus-order novelty curve: share of each doc's bigrams first
      // seen IN that doc — per-doc complement of the pairwise near-dup
      // gates (catches fragment-assembled docs that evade every pairwise
      // check); floor basis points, one min-aggregate + one keyed join
      Dedup.noveltyByDoc(T(s, dir, "documents"), "doc_id", "text", k = 2)
        .orderBy("doc_id")))

  val oracleSql: Seq[(String, String)] = Seq(
    "q173_rank_normalize" ->
      // the oracle's global window IS the thing the two-phase rank replaces
      """WITH e AS (SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_id, cents,
        |  row_number() OVER (ORDER BY cents, event_id) AS rank,
        |  count(*) OVER () AS n FROM e)
        |SELECT event_id, cents, CAST(rank AS BIGINT) AS rank,
        |  CAST(((rank - 1) * 10000) // (n - 1) AS BIGINT) AS pct_bp
        |FROM r ORDER BY rank""".stripMargin,
    "q174_rfm" ->
      // quantile_disc cutpoints are actual elements; recency scores invert
      """WITH anchor AS (SELECT max(CAST(ts AS TIMESTAMP)) AS now FROM events),
        |per AS (SELECT user_id,
        |  min(date_diff('day', CAST(ts AS DATE), CAST(now AS DATE))) AS recency_days,
        |  count(*) AS frequency,
        |  sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS monetary
        |  FROM events CROSS JOIN anchor GROUP BY 1),
        |cuts AS (SELECT
        |  quantile_disc(recency_days, 0.33) AS r33, quantile_disc(recency_days, 0.67) AS r67,
        |  quantile_disc(frequency, 0.33) AS f33, quantile_disc(frequency, 0.67) AS f67,
        |  quantile_disc(monetary, 0.33) AS m33, quantile_disc(monetary, 0.67) AS m67 FROM per),
        |s AS (SELECT user_id, recency_days, frequency, monetary,
        |  4 - (1 + (CASE WHEN recency_days > r33 THEN 1 ELSE 0 END) +
        |           (CASE WHEN recency_days > r67 THEN 1 ELSE 0 END)) AS r_score,
        |  1 + (CASE WHEN frequency > f33 THEN 1 ELSE 0 END) +
        |      (CASE WHEN frequency > f67 THEN 1 ELSE 0 END) AS f_score,
        |  1 + (CASE WHEN monetary > m33 THEN 1 ELSE 0 END) +
        |      (CASE WHEN monetary > m67 THEN 1 ELSE 0 END) AS m_score
        |  FROM per CROSS JOIN cuts)
        |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency,
        |  CAST(monetary AS BIGINT) AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
        |FROM s ORDER BY user_id""".stripMargin,
    "q175_seasonality" ->
      """WITH s AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
        |  count(*) AS x FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT event_type, dow, count(*) AS n_buckets_phase, sum(x) AS sum_phase
        |  FROM s GROUP BY 1, 2),
        |t AS (SELECT event_type, count(*) AS nb, sum(x) AS tot FROM s GROUP BY 1)
        |SELECT p.event_type, p.dow, p.n_buckets_phase,
        |  CAST(p.sum_phase AS BIGINT) AS sum_phase,
        |  CAST((10000 * p.sum_phase * t.nb) // (p.n_buckets_phase * t.tot) AS BIGINT)
        |    AS seasonal_idx_bp
        |FROM p JOIN t ON p.event_type = t.event_type WHERE t.tot > 0
        |ORDER BY 1, 2""".stripMargin,
    "q176_autocorr" ->
      // identical power-sum formula as q159, over (series, lag) pairs
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, x,
        |  lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
        |  lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x7 FROM d),
        |pairs AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS lag, x1 AS xa, x AS xb FROM l WHERE x1 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, CAST(7 AS BIGINT) AS lag, x7 AS xa, x AS xb FROM l WHERE x7 IS NOT NULL),
        |s AS (SELECT event_type, lag, count(*) AS n, sum(xa) AS sx, sum(xb) AS sy,
        |  sum(xa * xa) AS sxx, sum(xb * xb) AS syy, sum(xa * xb) AS sxy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, lag, n, (round(CASE
        |  WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |   AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END, 4) + 0.0) AS r
        |FROM s ORDER BY 1, 2""".stripMargin,
    "q177_survival" ->
      // same ordered running ln-sum as the Spark side; the everyone-
      // converts case rides a cumulative zero-flag (Spark ln(0) is NULL,
      // libm's is −inf — neither crosses engines safely)
      """WITH entry AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |hit AS (SELECT e.user_id, min(CAST(p.ts AS TIMESTAMP)) AS te
        |  FROM entry e JOIN events p ON p.user_id = e.user_id
        |  AND p.event_type = 'purchase' AND CAST(p.ts AS TIMESTAMP) >= e.t0 GROUP BY 1),
        |hz AS (SELECT max(CAST(ts AS TIMESTAMP)) AS h FROM events),
        |d AS (SELECT entry.user_id,
        |  CASE WHEN te IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(te AS DATE))
        |    ELSE date_diff('day', CAST(t0 AS DATE), CAST(h AS DATE)) END AS dur,
        |  te IS NOT NULL AS ev FROM entry LEFT JOIN hit USING (user_id) CROSS JOIN hz),
        |g AS (SELECT dur, sum(CASE WHEN ev THEN 1 ELSE 0 END) AS events,
        |  sum(CASE WHEN ev THEN 0 ELSE 1 END) AS censored FROM d GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM d),
        |w AS (SELECT dur, events, censored,
        |  total - coalesce(sum(events + censored) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
        |  FROM g CROSS JOIN t),
        |s AS (SELECT dur, events, censored, at_risk,
        |  sum(CASE WHEN events > 0 AND at_risk > events
        |    THEN ln(CAST(at_risk - events AS DOUBLE) / at_risk)
        |    ELSE CAST(0.0 AS DOUBLE) END)
        |    OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumln,
        |  sum(CASE WHEN events > 0 AND at_risk = events THEN 1 ELSE 0 END)
        |    OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
        |  FROM w)
        |SELECT dur AS duration_days, CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(events AS BIGINT) AS events, CAST(censored AS BIGINT) AS censored,
        |  CASE WHEN zeroed > 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE (round(exp(cumln), 4) + 0.0) END AS survival
        |FROM s ORDER BY 1""".stripMargin,
    "q178_bm25" ->
      // identical float shapes: idf, the length normalizer, the ordered
      // per-doc term fold; rank over the ROUNDED score after the limit
      s"""WITH $bm25TopCtes
        |SELECT doc_id, bm25,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
        |FROM top ORDER BY rank""".stripMargin,
    "q179_bollinger" ->
      // breakout decided on exact integers: (7x − Σx)² > 4·(7·Σx² − Σx²̂)
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |  count(*) OVER f AS cnt, sum(x) OVER f AS sx, sum(x * x) OVER f AS sxx
        |  FROM d WINDOW f AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, CAST(x AS BIGINT) AS x,
        |  (round(CAST(sx AS DOUBLE) / 7, 4) + 0.0) AS mean,
        |  (round(sqrt(CAST(7 AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 7, 4) + 0.0) AS sd,
        |  (7 * x - sx) * (7 * x - sx) > 4 * (7 * sxx - sx * sx) AS breakout
        |FROM w WHERE cnt = 7 ORDER BY event_type, day""".stripMargin,
    "q180_top_movers" ->
      // sign-split division: magnitudes divide on non-negative operands
      """WITH s AS (SELECT event_type,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, x,
        |  lag(x, 1) OVER (PARTITION BY event_type ORDER BY week) AS prev FROM s)
        |SELECT event_type, week, CAST(prev AS BIGINT) AS prev, CAST(x AS BIGINT) AS cur,
        |  CASE WHEN prev > 0 THEN
        |    CASE WHEN x >= prev THEN CAST(((x - prev) * 10000) // prev AS BIGINT)
        |    ELSE -CAST(((prev - x) * 10000) // prev AS BIGINT) END END AS change_bp
        |FROM l WHERE prev IS NOT NULL ORDER BY event_type, week""".stripMargin,
    "q181_ewma" ->
      // list_reduce seeds from the head exactly like the engine's
      // aggregate-over-tail; same fold expression text → same IEEE sequence
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS x FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        |  (round(list_reduce(list(CAST(x AS DOUBLE) ORDER BY day),
        |    (acc, e) -> acc * 0.7 + e * 0.3), 4) + 0.0) AS ewma
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q182_twap" ->
      // epoch_us ≡ unix_micros; weighted sums ride HUGEINT ≡ decimal(38,0)
      """WITH e AS (SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |d AS (SELECT event_type, cents,
        |    lead(us, 1) OVER (PARTITION BY event_type ORDER BY us, event_id) - us AS dur
        |  FROM e),
        |f AS (SELECT event_type, count(*) AS n_obs, sum(dur) AS sw,
        |    sum(CAST(cents AS HUGEINT) * dur) AS swv
        |  FROM d WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs, CAST(sw AS BIGINT) AS total_us,
        |  (round(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE), 4) + 0.0) AS twap_cents
        |FROM f WHERE sw > 0 ORDER BY event_type""".stripMargin,
    "q183_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS w FROM events),
        |f AS (SELECT user_id, min(w) AS w0 FROM wk GROUP BY 1),
        |m AS (SELECT w0 AS cohort_week, w - w0 AS week_offset, count(*) AS n_users
        |  FROM wk JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_week, n_users AS size FROM m WHERE week_offset = 0)
        |SELECT m.cohort_week, m.week_offset, CAST(m.n_users AS BIGINT) AS n_users,
        |  CAST((10000 * m.n_users) // s.size AS BIGINT) AS retained_bp
        |FROM m JOIN s USING (cohort_week) ORDER BY cohort_week, week_offset""".stripMargin,
    "q184_benford" ->
      // digit bucketing is a string op; the only doubles are the 4-dp
      // expected-share constants (identical formula text)
      """WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    count(*) AS n FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM d),
        |b AS (SELECT digit, CAST(n AS BIGINT) AS n,
        |    CAST((10000 * n) // tot AS BIGINT) AS share_bp,
        |    (round(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit) * 10000, 4) + 0.0)
        |      AS expected_bp
        |  FROM d, t)
        |SELECT digit, n, share_bp, expected_bp,
        |  (round(CAST(share_bp AS DOUBLE) - expected_bp, 4) + 0.0) AS gap_bp
        |FROM b ORDER BY digit""".stripMargin,
    "q185_clustering_coeff" ->
      // q125's u<v<w triangle enumeration plus degrees from the same
      // canonical pair list; coefficient = triangles over deg-choose-2
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT unnest([a, b, c]) AS node FROM t),
        |tri AS (SELECT node, count(*) AS triangles FROM n GROUP BY 1),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
        |m AS (SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
        |    CAST(coalesce(tri.triangles, 0) AS BIGINT) AS triangles,
        |    CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS wedges
        |  FROM deg d LEFT JOIN tri USING (node) WHERE d.deg >= 2)
        |SELECT node, deg, triangles, wedges,
        |  CAST((10000 * triangles) // wedges AS BIGINT) AS coeff_bp
        |FROM m ORDER BY coeff_bp DESC, triangles DESC, node LIMIT 30""".stripMargin,
    "q186_audience_overlap" ->
      """WITH m AS (SELECT DISTINCT user_id AS u, event_type AS s FROM events
        |    WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |sz AS (SELECT s, count(*) AS n FROM m GROUP BY 1),
        |i AS (SELECT a.s AS seg_a, b.s AS seg_b, count(*) AS n_both
        |  FROM m a JOIN m b ON a.u = b.u AND a.s < b.s GROUP BY 1, 2)
        |SELECT seg_a, seg_b, CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST((10000 * n_both) // (x.n + y.n - n_both) AS BIGINT) AS jaccard_bp
        |FROM i JOIN sz x ON i.seg_a = x.s JOIN sz y ON i.seg_b = y.s
        |ORDER BY seg_a, seg_b""".stripMargin,
    "q187_pivot" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q188_session_stats" ->
      // q57's gap-break reconstruction, summarized; quantile_disc ≡
      // percentile_disc, durations in exact epoch_us
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |  CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS sid FROM x),
        |s AS (SELECT user_id, sid, epoch_us(max(t)) - epoch_us(min(t)) AS dur,
        |    count(*) AS ev FROM y GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(quantile_disc(dur, 0.5) AS BIGINT) AS p50_dur_us,
        |  CAST(quantile_disc(dur, 0.9) AS BIGINT) AS p90_dur_us,
        |  CAST(quantile_disc(ev, 0.5) AS BIGINT) AS p50_events,
        |  CAST((100 * sum(ev)) // count(*) AS BIGINT) AS avg_events_x100
        |FROM s""".stripMargin,
    "q189_rrf_fusion" ->
      // q178's BM25 list fused with a length ranking; reciprocal terms in
      // fixed order, fused rank over the ROUNDED score
      s"""WITH $bm25TopCtes,
        |la AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_0 FROM top),
        |lb AS (SELECT doc_id, rank_1 FROM (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_1
        |  FROM documents) WHERE rank_1 <= 20),
        |j AS (SELECT coalesce(la.doc_id, lb.doc_id) AS doc_id, la.rank_0, lb.rank_1,
        |  (round(coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + la.rank_0), CAST(0 AS DOUBLE)) +
        |    coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + lb.rank_1), CAST(0 AS DOUBLE)), 4) + 0.0) AS rrf
        |  FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id)
        |SELECT doc_id, rank_0, rank_1, rrf,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
        |FROM j ORDER BY fused_rank""".stripMargin,
    "q190_jsd" ->
      // 0·ln0 ≡ 0 encoded as the same CASE guard; category-sorted fold,
      // halved then rounded — identical formula text
      s"""WITH p AS (SELECT event_type AS cat,
        |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'a' ELSE 'b' END AS period
        |  FROM events),
        |c AS (SELECT cat, count(*) FILTER (WHERE period = 'a') AS ca,
        |    count(*) FILTER (WHERE period = 'b') AS cb FROM p GROUP BY 1),
        |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
        |r AS (SELECT cat, na, nb, CAST(ca AS DOUBLE) / na AS pa,
        |    CAST(cb AS DOUBLE) / nb AS pb FROM c, t),
        |s AS (SELECT cat, na, nb,
        |    (CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE CAST(0 AS DOUBLE) END +
        |     CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE CAST(0 AS DOUBLE) END) AS term
        |  FROM r)
        |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(count(*) AS BIGINT) AS n_cats,
        |  (round(${orderedSumSql("term", "cat")} / 2, 4) + 0.0) AS jsd
        |FROM s""".stripMargin,
    "q191_kcore" ->
      // the same 3 peel rounds unrolled; degree recounted AFTER the last
      // restriction, exactly like the engine's loop
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d1 AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        |n1 AS MATERIALIZED (SELECT node FROM d1 WHERE d >= 6),
        |e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT node FROM n1)
        |  AND v IN (SELECT node FROM n1)),
        |d2 AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
        |n2 AS MATERIALIZED (SELECT node FROM d2 WHERE d >= 6),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM n2)
        |  AND v IN (SELECT node FROM n2)),
        |d3 AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
        |n3 AS MATERIALIZED (SELECT node FROM d3 WHERE d >= 6),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM n3)
        |  AND v IN (SELECT node FROM n3)),
        |f AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) GROUP BY 1)
        |SELECT node, CAST(deg AS BIGINT) AS deg FROM f
        |ORDER BY deg DESC, node LIMIT 50""".stripMargin,
    "q192_clamped_balance" ->
      // same fold, same zero floor, pure BIGINT arithmetic
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
        |    CASE WHEN event_type = 'purchase' THEN -CAST(round(value * 100, 0) AS BIGINT)
        |         ELSE CAST(round(value * 100, 0) AS BIGINT) END AS delta
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(delta ORDER BY t, event_id)),
        |    (acc, x) -> greatest(acc + x, CAST(0 AS BIGINT))) AS balance
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q193_max_concurrency" ->
      // ±1 sweep over the q57 sessions; starts order before ends at the
      // same instant (end-inclusive), running sum peaks at the answer
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |  CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS sid FROM x),
        |s AS (SELECT user_id, sid, min(t) AS st, max(t) AS en FROM y GROUP BY 1, 2),
        |sw AS (SELECT epoch_us(st) AS t, 1 AS d FROM s
        |  UNION ALL SELECT epoch_us(en) AS t, -1 AS d FROM s),
        |r AS (SELECT sum(d) OVER (ORDER BY t, -d ROWS UNBOUNDED PRECEDING) AS running FROM sw)
        |SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sessions,
        |  CAST(max(running) AS BIGINT) AS max_concurrent FROM r""".stripMargin,
    "q194_theil" ->
      // same decomposition: member folds per group, group folds over the
      // nation list, total DEFINED as between + within
      s"""WITH rows0 AS (SELECT n_name AS g,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |grp AS (SELECT g, count(*) AS ng, sum(x) AS sxg FROM rows0 GROUP BY 1),
        |tot AS (SELECT sum(ng) AS n, sum(sxg) AS sx FROM grp),
        |gs AS (SELECT g, ng, sxg, n, sx,
        |    CAST(sxg AS DOUBLE) / ng AS mug, CAST(sx AS DOUBLE) / n AS mu
        |  FROM grp, tot),
        |w AS (SELECT r.g, ${orderedSumSql("(r.x / gs.mug) * ln(r.x / gs.mug)", "r.x")} AS tsum
        |  FROM rows0 r JOIN gs USING (g) GROUP BY r.g),
        |f AS (SELECT gs.g, gs.n, gs.ng,
        |    (CAST(gs.sxg AS DOUBLE) / CAST(gs.sx AS DOUBLE)) * ln(gs.mug / gs.mu) AS bterm,
        |    (CAST(gs.sxg AS DOUBLE) / CAST(gs.sx AS DOUBLE)) * (w.tsum / gs.ng) AS wterm
        |  FROM gs JOIN w USING (g)),
        |z AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_groups,
        |  (round(${orderedSumSql("bterm", "g")}, 4) + 0.0) AS t_between,
        |  (round(${orderedSumSql("wterm", "g")}, 4) + 0.0) AS t_within
        |  FROM f)
        |SELECT n, n_groups, t_between, t_within,
        |  (round(t_between + t_within, 4) + 0.0) AS t_total FROM z""".stripMargin,
    "q195_weighted_median" ->
      // explicit ROWS frame mirrors the engine's two-phase row-wise
      // cumulative; the pick is total-order-first with 2·cum ≥ total
      """WITH x AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS q, l_orderkey, l_linenumber FROM lineitem),
        |w AS (SELECT cents, l_orderkey, l_linenumber,
        |    sum(q) OVER (ORDER BY cents, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cw,
        |    (SELECT sum(q) FROM x) AS tot FROM x)
        |SELECT cents AS median_amount, CAST(tot AS BIGINT) AS total_weight
        |FROM w WHERE 2 * cw >= tot
        |ORDER BY cents, l_orderkey, l_linenumber LIMIT 1""".stripMargin,
    "q196_lorenz" ->
      // window ntile ≡ the engine's two-phase rank allocation
      // (TwoPhaseSpec pins the parity)
      """WITH sp AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS spend
        |  FROM orders GROUP BY 1),
        |d AS (SELECT spend, ntile(10) OVER (ORDER BY spend, o_custkey) AS decile FROM sp),
        |g AS (SELECT decile, count(*) AS n, sum(spend) AS amt FROM d GROUP BY 1),
        |t AS (SELECT sum(amt) AS tot FROM g),
        |c AS (SELECT decile, n, amt,
        |    sum(amt) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n,
        |  CAST(amt AS BIGINT) AS amount,
        |  CAST((10000 * amt) // tot AS BIGINT) AS share_bp,
        |  CAST((10000 * cum) // tot AS BIGINT) AS cum_share_bp
        |FROM c, t ORDER BY decile""".stripMargin,
    "q197_trimmed_mean" ->
      """WITH x AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT event_type, quantile_disc(cents, 0.05) AS lo,
        |    quantile_disc(cents, 0.95) AS hi FROM x GROUP BY 1),
        |k AS (SELECT x.event_type, cents, lo, hi FROM x JOIN b USING (event_type)
        |  WHERE cents >= lo AND cents <= hi)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(lo) AS BIGINT) AS lo, CAST(max(hi) AS BIGINT) AS hi,
        |  CAST((100 * sum(cents)) // count(*) AS BIGINT) AS mean_x100
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q198_mode" ->
      """WITH j AS (SELECT n_name, o_orderpriority AS v FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |c AS (SELECT n_name, v, count(*) AS n FROM j GROUP BY 1, 2),
        |r AS (SELECT n_name, v, n,
        |    row_number() OVER (PARTITION BY n_name ORDER BY n DESC, v) AS rn FROM c)
        |SELECT n_name, v AS mode_value, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1 ORDER BY n_name""".stripMargin,
    "q199_streak" ->
      // gaps-and-islands: consecutive day numbers share dd − row_number()
      """WITH d AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd FROM events),
        |i AS (SELECT user_id, dd,
        |    dd - row_number() OVER (PARTITION BY user_id ORDER BY dd) AS isl FROM d),
        |l AS (SELECT user_id, count(*) AS len FROM i GROUP BY user_id, isl),
        |m AS (SELECT user_id, max(len) AS streak_days FROM l GROUP BY 1)
        |SELECT CAST(streak_days AS BIGINT) AS streak_days,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM m GROUP BY 1 ORDER BY streak_days""".stripMargin,
    "q200_holt" ->
      // recursive CTE with PURE step semantics and the engine's exact
      // lambda text. (A struct-state list_reduce was tried first and
      // silently diverged: DuckDB evaluates lambda struct fields
      // sequentially and mutates the accumulator IN PLACE, so the trend
      // field saw the freshly-assigned level — don't fold multi-field
      // state through list_reduce.)
      """WITH RECURSIVE d AS (SELECT event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
        |    CAST(x AS DOUBLE) AS x FROM d),
        |nb AS (SELECT event_type, max(rn) AS n FROM ser GROUP BY 1),
        |rec AS (
        |  SELECT s2.event_type, CAST(2 AS BIGINT) AS rn, s2.x AS l, s2.x - s1.x AS b
        |  FROM ser s1 JOIN ser s2 ON s1.event_type = s2.event_type
        |    AND s1.rn = 1 AND s2.rn = 2
        |  UNION ALL
        |  SELECT r.event_type, r.rn + 1,
        |    0.3 * s.x + 0.7 * (r.l + r.b),
        |    0.1 * (0.3 * s.x + 0.7 * (r.l + r.b) - r.l) + 0.9 * r.b
        |  FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.rn = r.rn + 1)
        |SELECT r.event_type, CAST(nb.n AS BIGINT) AS n_buckets,
        |  (round(r.l, 4) + 0.0) AS level, (round(r.b, 4) + 0.0) AS trend,
        |  (round(r.l + r.b, 4) + 0.0) AS forecast
        |FROM rec r JOIN nb ON r.event_type = nb.event_type AND r.rn = nb.n
        |WHERE nb.n >= 2 ORDER BY r.event_type""".stripMargin,
    "q201_bfs_hops" ->
      // 3 unrolled frontier expansions from the same max-degree seed
      """WITH p AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS MATERIALIZED (SELECT u AS node, count(*) AS d FROM p GROUP BY 1),
        |seed AS MATERIALIZED (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
        |v0 AS MATERIALIZED (SELECT node FROM seed),
        |f1 AS MATERIALIZED (SELECT DISTINCT v AS node FROM p WHERE u IN (SELECT node FROM v0)
        |  AND v NOT IN (SELECT node FROM v0)),
        |v1 AS MATERIALIZED (SELECT node FROM v0 UNION ALL SELECT node FROM f1),
        |f2 AS MATERIALIZED (SELECT DISTINCT v AS node FROM p WHERE u IN (SELECT node FROM f1)
        |  AND v NOT IN (SELECT node FROM v1)),
        |v2 AS MATERIALIZED (SELECT node FROM v1 UNION ALL SELECT node FROM f2),
        |f3 AS MATERIALIZED (SELECT DISTINCT v AS node FROM p WHERE u IN (SELECT node FROM f2)
        |  AND v NOT IN (SELECT node FROM v2)),
        |h AS MATERIALIZED (SELECT 0 AS hop, count(*) AS n FROM v0
        |  UNION ALL SELECT 1, count(*) FROM f1
        |  UNION ALL SELECT 2, count(*) FROM f2
        |  UNION ALL SELECT 3, count(*) FROM f3)
        |SELECT CAST(hop AS BIGINT) AS hop, CAST(n AS BIGINT) AS n_nodes
        |FROM h WHERE n > 0 ORDER BY hop""".stripMargin,
    "q202_systematic" ->
      // window row_number ≡ the engine's two-phase global rank
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank FROM documents)
        |SELECT doc_id, n_chars, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank % 100 = 1 ORDER BY rank""".stripMargin,
    // q203_entity_resolution verifies against q446's oracle
    // (SparkEntry.retiredToTwins, round 17)
    "q445_name_group_join" ->
      // same group frame, same deletion-1 neighborhood, same verify
      """WITH base AS (SELECT c_custkey, c_name FROM customer
        |  UNION ALL SELECT * FROM (VALUES (900000001, 'Customer#A00001111'),
        |    (900000002, 'Customer#B00001111')) t(c_custkey, c_name)),
        |g AS (SELECT c_name, min(c_custkey) AS gid, count(*) AS cnt FROM base GROUP BY 1),
        |v AS (SELECT gid, CASE WHEN t.i = 0 THEN c_name
        |    ELSE substr(c_name, 1, CAST(t.i AS INT) - 1) || substr(c_name, CAST(t.i AS INT) + 1) END AS var
        |  FROM g, LATERAL (SELECT unnest(range(0, length(c_name) + 1)) AS i) t),
        |cand AS (SELECT DISTINCT a.gid AS gid_a, b.gid AS gid_b
        |  FROM v a JOIN v b ON a.var = b.var AND a.gid < b.gid)
        |SELECT gid_a, gid_b, CAST(levenshtein(ga.c_name, gb.c_name) AS BIGINT) AS dist,
        |  CAST(ga.cnt AS BIGINT) AS n_a, CAST(gb.cnt AS BIGINT) AS n_b
        |FROM cand JOIN g ga ON ga.gid = cand.gid_a JOIN g gb ON gb.gid = cand.gid_b
        |WHERE levenshtein(ga.c_name, gb.c_name) <= 1
        |ORDER BY gid_a, gid_b""".stripMargin,
    "q446_er_groups" ->
      // q445's pairs + the shared pointer-jumping min-label closure
      // (minLabelCc — q203's oracle convention, O(log diameter) rounds);
      // singletons self-canonical via the left-join coalesce, entity
      // sizes fold member counts back in
      s"""WITH base AS (SELECT c_custkey, c_name FROM customer
        |  UNION ALL SELECT * FROM (VALUES (900000001, 'Customer#A00001111'),
        |    (900000002, 'Customer#B00001111')) t(c_custkey, c_name)),
        |g AS MATERIALIZED (SELECT c_name, min(c_custkey) AS gid, count(*) AS cnt
        |  FROM base GROUP BY 1),
        |v AS (SELECT gid, CASE WHEN t.i = 0 THEN c_name
        |    ELSE substr(c_name, 1, CAST(t.i AS INT) - 1) || substr(c_name, CAST(t.i AS INT) + 1) END AS var
        |  FROM g, LATERAL (SELECT unnest(range(0, length(c_name) + 1)) AS i) t),
        |cand AS (SELECT DISTINCT a.gid AS gid_a, b.gid AS gid_b
        |  FROM v a JOIN v b ON a.var = b.var AND a.gid < b.gid),
        |pr AS (SELECT gid_a, gid_b FROM cand
        |  JOIN g ga ON ga.gid = cand.gid_a JOIN g gb ON gb.gid = cand.gid_b
        |  WHERE levenshtein(ga.c_name, gb.c_name) <= 1),
        |e AS MATERIALIZED (SELECT gid_a AS src, gid_b AS dst FROM pr
        |  UNION SELECT gid_b, gid_a FROM pr),
        |${minLabelCc()},
        |m AS (SELECT g.gid, g.cnt, coalesce(l$ccRounds.lab, g.gid) AS entity_id
        |  FROM g LEFT JOIN l$ccRounds ON l$ccRounds.node = g.gid),
        |sz AS (SELECT entity_id, count(*) AS n_groups, sum(cnt) AS n_members
        |  FROM m GROUP BY 1)
        |SELECT m.gid, m.entity_id, m.gid = m.entity_id AS is_canonical,
        |  CAST(sz.n_groups AS BIGINT) AS n_groups,
        |  CAST(sz.n_members AS BIGINT) AS n_members
        |FROM m JOIN sz USING (entity_id) ORDER BY m.gid""".stripMargin,
    "q204_bigram_lm" -> q204Sql,
    "q205_srm" ->
      // two-cell chi-square: flag (n_a - n_b)^2 * 100 > 384 * n on exact ints
      """WITH a AS (SELECT event_type,
        |    count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
        |    count(*) FILTER (WHERE user_id % 2 = 1) AS n_b
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  (round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE), 4) + 0.0) AS chi2,
        |  (n_a - n_b) * (n_a - n_b) * 100 > 384 * (n_a + n_b) AS srm_flag
        |FROM a ORDER BY event_type""".stripMargin,
    "q206_did" ->
      // four exact cells from one pass; means and the DiD share formula
      // text with the engine (sum/count casts, rounding order)
      """WITH e AS (SELECT user_id % 2 AS arm,
        |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'a' ELSE 'b' END AS period,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |c AS (SELECT
        |    sum(cents) FILTER (WHERE arm = 0 AND period = 'a') AS sca,
        |    count(*) FILTER (WHERE arm = 0 AND period = 'a') AS n_c_pre,
        |    sum(cents) FILTER (WHERE arm = 0 AND period = 'b') AS scb,
        |    count(*) FILTER (WHERE arm = 0 AND period = 'b') AS n_c_post,
        |    sum(cents) FILTER (WHERE arm = 1 AND period = 'a') AS sta,
        |    count(*) FILTER (WHERE arm = 1 AND period = 'a') AS n_t_pre,
        |    sum(cents) FILTER (WHERE arm = 1 AND period = 'b') AS stb,
        |    count(*) FILTER (WHERE arm = 1 AND period = 'b') AS n_t_post
        |  FROM e)
        |SELECT CAST(n_c_pre AS BIGINT) AS n_c_pre, CAST(n_c_post AS BIGINT) AS n_c_post,
        |  CAST(n_t_pre AS BIGINT) AS n_t_pre, CAST(n_t_post AS BIGINT) AS n_t_post,
        |  (round(CAST(sca AS DOUBLE) / CAST(n_c_pre AS DOUBLE), 4) + 0.0) AS m_c_pre,
        |  (round(CAST(scb AS DOUBLE) / CAST(n_c_post AS DOUBLE), 4) + 0.0) AS m_c_post,
        |  (round(CAST(sta AS DOUBLE) / CAST(n_t_pre AS DOUBLE), 4) + 0.0) AS m_t_pre,
        |  (round(CAST(stb AS DOUBLE) / CAST(n_t_post AS DOUBLE), 4) + 0.0) AS m_t_post,
        |  (round((CAST(stb AS DOUBLE) / CAST(n_t_post AS DOUBLE)
        |      - CAST(sta AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
        |    - (CAST(scb AS DOUBLE) / CAST(n_c_post AS DOUBLE)
        |      - CAST(sca AS DOUBLE) / CAST(n_c_pre AS DOUBLE)), 4) + 0.0) AS did
        |FROM c WHERE n_c_pre > 0 AND n_c_post > 0 AND n_t_pre > 0 AND n_t_post > 0""".stripMargin,
    "q207_ks_drift" ->
      // exact-integer KS: D numerator = max |cumA·nB − cumB·nA| over the
      // pooled distinct cents; flag squares the 1.358·sqrt bound into
      // hugeint arithmetic (≡ the engine's decimal(38,0))
      """WITH e AS (SELECT user_id % 2 AS arm,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |g AS (SELECT cents,
        |    count(*) FILTER (WHERE arm = 0) AS na,
        |    count(*) FILTER (WHERE arm = 1) AS nb FROM e GROUP BY 1),
        |c AS (SELECT cents, sum(na) OVER (ORDER BY cents) AS ca,
        |    sum(nb) OVER (ORDER BY cents) AS cb FROM g),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb FROM g),
        |d AS (SELECT CAST(max(abs(ca * tb - cb * ta)) AS BIGINT) AS d_num
        |  FROM c CROSS JOIN t)
        |SELECT ta AS n_a, tb AS n_b, d_num,
        |  (round(CAST(d_num AS DOUBLE) / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 4) + 0.0)
        |    AS d_stat,
        |  CAST(d_num AS HUGEINT) * CAST(d_num AS HUGEINT) * 1000000
        |    > CAST(1844164 AS HUGEINT) * ta * tb * (ta + tb) AS drift_flag
        |FROM d CROSS JOIN t""".stripMargin,
    "q208_auc" ->
      // rank-free exact AUC from the score histogram: positives at score s
      // beat negatives below s, half-tie with negatives at s → exact 2U
      """WITH e AS (SELECT event_type = 'purchase' AS lab,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |g AS (SELECT cents,
        |    count(*) FILTER (WHERE lab) AS np,
        |    count(*) FILTER (WHERE NOT lab) AS nn FROM e GROUP BY 1),
        |c AS (SELECT cents, np, nn,
        |    sum(nn) OVER (ORDER BY cents) - nn AS below FROM g),
        |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    (SELECT CAST(sum(nn) AS BIGINT) FROM g) AS n_neg,
        |    CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2 FROM c)
        |SELECT n_pos, n_neg, u2,
        |  (round(CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 4) + 0.0) AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin,
    "q209_silhouette" ->
      // pairwise Euclidean via norms+dot on double-cast lists, quantized to
      // the tenth-of-bp integer grid before any mean — matches the engine's
      // DotProduct accumulation bit for bit; the sample mod is the same
      // greatest(4, n div 500) count clamp the engine derives (= 4 at every
      // fixture SF, so the historical hash is unchanged there)
      silhouetteSql(4, 500),
    "q442_silhouette_scaled" ->
      // q209's pairwise-Euclidean-on-the-integer-grid oracle with the
      // sample mod derived from the same count the engine uses
      silhouetteSql(1, 128),
    "q210_chi2_assoc" ->
      // per-cell chi-square contribution in exact micro-units:
      // (o·n − r·c)²·10⁶ // (r·c·n) on hugeint ≡ the engine's decimal floor
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, sum(o) AS r FROM cells GROUP BY 1),
        |c AS (SELECT source, sum(o) AS c FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM cells)
        |SELECT lang, source, o AS observed,
        |  (round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 4) + 0.0) AS expected,
        |  CAST((CAST(o * n - r * c AS HUGEINT) * CAST(o * n - r * c AS HUGEINT) * 1000000)
        |    // (CAST(r AS HUGEINT) * c * n) AS BIGINT) AS contrib_micro
        |FROM cells JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
        |ORDER BY lang, source""".stripMargin,
    "q211_calibration" ->
      // clamped score deciles: exact integer sums, 4-dp display ratios;
      // greatest(…, 0) clamps out-of-domain negatives into bin 0 exactly
      // like the engine does
      """WITH e AS (SELECT event_type = 'purchase' AS lab,
        |    greatest(least(CAST(round(value * 100, 0) AS BIGINT), 10000), 0) AS cents FROM events),
        |b AS (SELECT least((cents * 10) // 10000, 9) AS bin, cents, lab FROM e)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  (round(CAST(sum(cents) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0), 4) + 0.0)
        |    AS mean_score,
        |  (round(CAST(count(*) FILTER (WHERE lab) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) + 0.0)
        |    AS pos_rate,
        |  (round(CAST(count(*) FILTER (WHERE lab) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    - CAST(sum(cents) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0), 4) + 0.0) AS gap
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q212_recall_at_k" ->
      // truth = q45's brute-force top-5; approx = q58's nprobe=1 IVF top-5;
      // recall = |intersection| / k per query
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM vecs WHERE vec_id < 8),
         |bs AS (SELECT query_id, vec_id AS neighbor_id,
         |  list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
         |  FROM vecs CROSS JOIN q WHERE vec_id <> query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
         |  FROM bs) WHERE rn <= 5),
         |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |${ivfCellCte("scored", "cent", "x.vec_id, x.vv, c.cell")},
         |asg AS (SELECT vec_id, vv, cell FROM scored WHERE crn = 1),
         |qa AS (SELECT vec_id AS query_id, vv AS qv, cell FROM asg WHERE vec_id < 8),
         |s2 AS (SELECT qa.query_id, a.vec_id AS neighbor_id,
         |  list_dot_product(qa.qv, a.vv) / (sqrt(list_dot_product(qa.qv, qa.qv)) * sqrt(list_dot_product(a.vv, a.vv))) AS cosine
         |  FROM qa JOIN asg a ON a.cell = qa.cell AND a.vec_id <> qa.query_id),
         |ap AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
         |  FROM s2) WHERE rn <= 5)
         |SELECT tr.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS hits,
         |  (round(count(ap.neighbor_id) / 5.0, 4) + 0.0) AS recall
         |FROM tr LEFT JOIN ap ON ap.query_id = tr.query_id AND ap.neighbor_id = tr.neighbor_id
         |GROUP BY tr.query_id ORDER BY tr.query_id""".stripMargin,
    "q213_mann_kendall" ->
      // S and the tie-corrected 18·Var(S) exact; flag S²·18·10⁴ > 38416·var18
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day GROUP BY 1),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT event_type, sum(tn * (tn - 1) * (2 * tn + 5)) AS tv
        |  FROM (SELECT event_type, x, count(*) AS tn FROM d GROUP BY 1, 2) GROUP BY 1)
        |SELECT n.event_type, n.n AS n, CAST(coalesce(p.s, 0) AS BIGINT) AS s,
        |  CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tv AS BIGINT) AS var18,
        |  CASE WHEN n.n * (n.n - 1) * (2 * n.n + 5) - t.tv > 0 THEN
        |    (round(CAST(coalesce(p.s, 0) AS DOUBLE)
        |      / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tv AS DOUBLE) / 18.0), 4) + 0.0)
        |  END AS z,
        |  CAST(coalesce(p.s, 0) AS HUGEINT) * coalesce(p.s, 0) * 180000
        |    > 38416 * CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tv AS HUGEINT) AS trend_flag
        |FROM n JOIN t USING (event_type) LEFT JOIN p USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q214_readability" ->
      // identical formula text: 206.835 − 1.015·(w/s) − 84.6·(sy/w), 4 dp
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
        |    CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS syllables
        |  FROM documents)
        |SELECT doc_id, words, sentences, syllables,
        |  CASE WHEN words > 0 THEN
        |    (round(206.835 - 1.015 * CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)
        |      - 84.6 * CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE), 4) + 0.0)
        |  END AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    "q215_log_odds_terms" ->
      // identical formula text: ln((y+1)/(ns−y+1)) − ln((yt−y+1)/((n−ns)−(yt−y)+1))
      """WITH tok AS (SELECT source, t.term FROM documents,
        |  LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term) t
        |  WHERE length(t.term) > 0),
        |yst AS (SELECT source, term, CAST(count(*) AS BIGINT) AS y FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, sum(y) AS ns FROM yst GROUP BY 1),
        |yt AS (SELECT term, sum(y) AS yt FROM yst GROUP BY 1),
        |n AS (SELECT sum(y) AS n FROM yst),
        |sc AS (SELECT source, term, y,
        |    ln(CAST(y + 1 AS DOUBLE) / CAST(ns - y + 1 AS DOUBLE))
        |      - ln(CAST(yt - y + 1 AS DOUBLE) / CAST((n - ns) - (yt - y) + 1 AS DOUBLE)) AS score
        |  FROM yst JOIN ns USING (source) JOIN yt USING (term) CROSS JOIN n),
        |r AS (SELECT source, term, y, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT source, term, y, CAST(rank AS BIGINT) AS rank, (round(score, 4) + 0.0) AS log_odds
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "q216_curation_funnel" ->
      // cumulative conjunction counts from ONE aggregate; UNION ALL unpivot
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS s0,
        |    CAST(count(*) FILTER (WHERE n_chars BETWEEN 100 AND 500) AS BIGINT) AS s1,
        |    CAST(count(*) FILTER (WHERE n_chars BETWEEN 100 AND 500
        |      AND lang IN ('en', 'es', 'de')) AS BIGINT) AS s2,
        |    CAST(count(*) FILTER (WHERE n_chars BETWEEN 100 AND 500
        |      AND lang IN ('en', 'es', 'de')
        |      AND len(regexp_extract_all(text, '\S+')) >= 20) AS BIGINT) AS s3,
        |    CAST(count(*) FILTER (WHERE n_chars BETWEEN 100 AND 500
        |      AND lang IN ('en', 'es', 'de')
        |      AND len(regexp_extract_all(text, '\S+')) >= 20
        |      AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 10
        |        >= length(text) * 4) AS BIGINT) AS s4
        |  FROM documents),
        |u AS (SELECT 0 AS stage_idx, 'total' AS stage, s0 AS n, s0 FROM m
        |  UNION ALL SELECT 1, 'length', s1, s0 FROM m
        |  UNION ALL SELECT 2, 'lang', s2, s0 FROM m
        |  UNION ALL SELECT 3, 'tokens', s3, s0 FROM m
        |  UNION ALL SELECT 4, 'alpha', s4, s0 FROM m)
        |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n,
        |  (round(CAST(n AS DOUBLE) / CAST(s0 AS DOUBLE), 4) + 0.0) AS share
        |FROM u ORDER BY stage_idx""".stripMargin,
    "q217_neardup_rate" ->
      s"""WITH pairs AS ($q44Sql),
         |ids AS (SELECT id_a AS doc_id FROM pairs UNION SELECT id_b AS doc_id FROM pairs),
         |f AS (SELECT d.source, d.doc_id, CASE WHEN ids.doc_id IS NULL THEN 0 ELSE 1 END AS dup
         |  FROM documents d LEFT JOIN ids ON d.doc_id = ids.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dup) AS BIGINT) AS n_dup,
         |  (round(CAST(sum(dup) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) + 0.0) AS dup_rate
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q218_lm_buckets" ->
      s"""WITH scores AS ($q204Sql),
         |b AS (SELECT doc_id, avg_nll,
         |    CAST(ntile(3) OVER (ORDER BY avg_nll, doc_id) AS BIGINT) AS bucket
         |  FROM scores)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(avg_nll) AS min_nll, max(avg_nll) AS max_nll,
         |  (round(CAST(sum(CAST(round(avg_nll * 10000, 0) AS BIGINT)) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 10000.0), 4) + 0.0) AS mean_nll
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q219_pettitt" ->
      // interval-add identity: each (i<j) pair contributes sgn on [i, j);
      // flag in hugeint ≡ the engine's decimal(38,0)
      """WITH d0 AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |d AS (SELECT g, day, x,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY day) AS BIGINT) AS t FROM d0),
        |pr AS (SELECT a.g, a.t AS i, b.t AS j,
        |    CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END AS s
        |  FROM d a JOIN d b ON a.g = b.g AND a.t < b.t),
        |em AS (SELECT g, i AS t, s FROM pr UNION ALL SELECT g, j AS t, -s FROM pr),
        |pt AS (SELECT g, t, sum(s) AS ds FROM em GROUP BY 1, 2),
        |u AS (SELECT g, t, sum(ds) OVER (PARTITION BY g ORDER BY t) AS u FROM pt),
        |k AS (SELECT g, max(abs(u)) AS k FROM u GROUP BY 1),
        |tsr AS (SELECT u.g, k.k, min(u.t) AS t_star
        |  FROM u JOIN k ON u.g = k.g AND abs(u.u) = k.k GROUP BY 1, 2),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1)
        |SELECT n.g AS event_type, n.n AS n, CAST(tsr.k AS BIGINT) AS k,
        |  CAST(tsr.t_star AS BIGINT) AS t_star, d.day AS break_bucket,
        |  (round(least(2.0 * exp(-(6.0 * tsr.k * tsr.k)
        |    / (CAST(n.n * n.n * n.n AS DOUBLE) + CAST(n.n * n.n AS DOUBLE))), 1.0), 4) + 0.0)
        |    AS p_approx,
        |  CAST(6000000 AS HUGEINT) * tsr.k * tsr.k
        |    > CAST(3688879 AS HUGEINT) * (CAST(n.n AS HUGEINT) * n.n * n.n
        |      + CAST(n.n AS HUGEINT) * n.n) AS break_flag
        |FROM n JOIN tsr ON n.g = tsr.g JOIN d ON d.g = n.g AND d.t = tsr.t_star
        |ORDER BY event_type""".stripMargin,
    "q220_cross_corr" ->
      // exact sufficient statistics per lag; r double only at the final row
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS x,
        |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |l AS (SELECT unnest(range(0, 4)) AS lag),
        |j AS (SELECT l.lag, a.x, b.y FROM daily a CROSS JOIN l
        |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
        |agg AS (SELECT lag, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM j GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    (round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 4) + 0.0)
        |  END AS r
        |FROM agg ORDER BY lag""".stripMargin,
    "q221_group_ks" ->
      // the group×unit grid zero-fills absent units so the ECDF difference
      // is evaluated at every pooled distinct unit; hugeint flag as q207
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS u FROM events),
        |counts AS (SELECT g, u, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |groups AS (SELECT g, sum(c) AS ng FROM counts GROUP BY 1),
        |units AS (SELECT u, sum(c) AS cu FROM counts GROUP BY 1),
        |grand AS (SELECT sum(c) AS n FROM counts),
        |grid AS (SELECT units.u, groups.g, groups.ng, units.cu,
        |    coalesce(counts.c, 0) AS cg
        |  FROM units CROSS JOIN groups
        |  LEFT JOIN counts ON counts.g = groups.g AND counts.u = units.u),
        |cums AS (SELECT g, ng, cu, u,
        |    sum(cg) OVER (PARTITION BY g ORDER BY u) AS cumg,
        |    sum(cu) OVER (PARTITION BY g ORDER BY u) AS cumall
        |  FROM grid),
        |d AS (SELECT g, ng, n - ng AS nr,
        |    max(abs(cumg * (n - ng) - (cumall - cumg) * ng)) AS d_num
        |  FROM cums CROSS JOIN grand GROUP BY 1, 2, 3)
        |SELECT g AS event_type, CAST(ng AS BIGINT) AS n_group,
        |  CAST(nr AS BIGINT) AS n_rest, CAST(d_num AS BIGINT) AS d_num,
        |  (round(CAST(d_num AS DOUBLE) / (CAST(ng AS DOUBLE) * CAST(nr AS DOUBLE)), 4) + 0.0)
        |    AS d_stat,
        |  CAST(d_num AS HUGEINT) * CAST(d_num AS HUGEINT) * 1000000
        |    > CAST(1844164 AS HUGEINT) * ng * nr * (ng + nr) AS drift_flag
        |FROM d WHERE ng > 0 AND nr > 0 ORDER BY event_type""".stripMargin,
    "q222_ttr" ->
      """WITH tok AS (SELECT doc_id, t.term FROM documents,
        |  LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term) t
        |  WHERE length(t.term) > 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT term) AS BIGINT) AS n_types,
        |  (round(CAST(count(DISTINCT term) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) + 0.0) AS ttr
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q223_bpe_merges" -> bpeOracleSql(8),
    "q226_link_predict" ->
      // q120's co-occurrence edge CTE, RA weights as floor-divided scaled
      // longs (// = Spark's div on non-negatives), wedge pairs via the
      // center self-join, anti-join on the symmetric edge list
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-01-01'),
        |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |sc AS (SELECT e1.dst AS u, e2.dst AS v,
        |    CAST(sum(1000000 // d.deg) AS BIGINT) AS score
        |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  JOIN d ON d.src = e1.src
        |  WHERE d.deg <= 10000
        |  GROUP BY 1, 2)
        |SELECT u, v, score FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM e x WHERE x.src = sc.u AND x.dst = sc.v)
        |ORDER BY score DESC, u, v LIMIT 20""".stripMargin,
    "q227_bpe_encode" -> bpeEncodeOracleSql(8),
    "q228_image_dhash" ->
      // every gradient bit of the synthesized 9×7 PNG predicted
      // arithmetically: bit (x, y) set when pixel(x+1, y) > pixel(x, y),
      // pixel(x, y) = (13·(doc_id % 50) + x·(y + 3)) % 256 — genuine
      // ImageIO decode + per-pixel hash loop on the Spark side
      """WITH g AS (SELECT doc_id, doc_id % 50 AS gv FROM documents),
        |bits AS (SELECT g.doc_id,
        |    CASE WHEN (g.gv * 13 + (x.x + 1) * (y.y + 3)) % 256
        |            > (g.gv * 13 + x.x * (y.y + 3)) % 256
        |      THEN CAST(1 AS BIGINT) << CAST(y.y * 8 + x.x AS INT)
        |      ELSE 0 END AS b
        |  FROM g,
        |    (SELECT unnest(range(0, 8)) AS x) x,
        |    (SELECT unnest(range(0, 7)) AS y) y),
        |h AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS dhash FROM bits GROUP BY 1)
        |SELECT dhash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_id
        |FROM h GROUP BY dhash HAVING count(*) >= 2 ORDER BY dhash""".stripMargin,
    "q229_negative_sample" ->
      // the identical integer hash on both engines; candidates minus the
      // actually-purchased (custkey, partkey) set
      """WITH mp AS (SELECT max(p_partkey) AS maxp FROM part),
        |pos AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cand AS (SELECT c, sample_idx,
        |    ((c * 2654435761 + sample_idx * 40503 + 12345) % 1000000007) % maxp + 1 AS p
        |  FROM (SELECT DISTINCT o_custkey AS c FROM orders),
        |    (SELECT unnest(range(0, 5)) AS sample_idx), mp)
        |SELECT c AS c_custkey, CAST(sample_idx AS BIGINT) AS sample_idx,
        |  CAST(p AS BIGINT) AS neg_partkey
        |FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.c = cand.c AND pos.p = cand.p)
        |ORDER BY c_custkey, sample_idx""".stripMargin,
    "q230_nb_classify" -> q230Sql,
    "q231_containment" ->
      // q49's shingle CTEs verbatim; pairs directed (<>) and scored
      // against the SOURCE size only — threshold on the rounded value
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents WHERE doc_id < 100),
        |sha AS (SELECT DISTINCT doc_id, w[CAST(i AS BIGINT)] || ' ' || w[CAST(i AS BIGINT) + 1] AS shingle
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
        |rare AS (SELECT shingle FROM sha GROUP BY shingle HAVING count(*) <= 100),
        |sh AS (SELECT sha.doc_id, sha.shingle FROM sha JOIN rare USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |shared AS (SELECT x.doc_id AS src_id, y.doc_id AS dst_id, count(*) AS shared
        |  FROM sh x JOIN sh y USING (shingle) WHERE x.doc_id <> y.doc_id GROUP BY 1, 2)
        |SELECT src_id, dst_id, CAST(ns.n AS BIGINT) AS n_src,
        |  CAST(shared AS BIGINT) AS shared,
        |  (round(CAST(shared AS DOUBLE) / ns.n, 4) + 0.0) AS containment
        |FROM shared JOIN sizes ns ON ns.doc_id = src_id
        |WHERE (round(CAST(shared AS DOUBLE) / ns.n, 4) + 0.0) >= 0.5
        |ORDER BY src_id, dst_id""".stripMargin,
    "q232_seasonal_error" ->
      // identical aggregated day frame; DuckDB's // is Spark's div on the
      // non-negative error units
      """WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.c, b.c AS p
        |  FROM d a JOIN d b ON b.event_type = a.event_type AND b.day = a.day - 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(c - p)) AS BIGINT) AS sae,
        |  (round(CAST(sum(abs(c - p)) AS DOUBLE) / count(*), 4) + 0.0) AS mae,
        |  CAST(sum((10000 * abs(c - p)) // c) // count(*) AS BIGINT) AS mape_bp
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q233_minhash_recall" -> q233Sql,
    "q234_bpe_fertility" -> bpeFertilityOracleSql(8),
    "q235_centroid_classify" ->
      // same micro-long quantization, floor-div centroids, exact long
      // squared distances; argmin tie to the SMALLEST label via the
      // min-dist-then-min-label pair (= Spark's struct-min)
      """WITH comp AS (SELECT vec_id, CAST(label AS BIGINT) AS label, t.d AS dim,
        |    CAST(round(CAST(embedding[CAST(t.d AS BIGINT)] AS DOUBLE) * 1000000, 0)
        |      AS BIGINT) AS vm
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d) t),
        |cent AS (SELECT label AS clabel, dim,
        |    CAST(floor(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        |  FROM comp GROUP BY 1, 2),
        |dist AS (SELECT c.vec_id, c.label, ct.clabel,
        |    sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
        |  FROM comp c JOIN cent ct ON ct.dim = c.dim GROUP BY 1, 2, 3),
        |best AS (SELECT vec_id, min(d2) AS md FROM dist GROUP BY 1),
        |pred AS (SELECT d.vec_id, d.label, min(d.clabel) AS pred_label
        |  FROM dist d JOIN best b ON b.vec_id = d.vec_id AND d.d2 = b.md
        |  GROUP BY 1, 2)
        |SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q236_audio_segments" ->
      // every block flag is arithmetic: block b of doc d is silent iff
      // (d + b) % 3 = 0; a segment starts at a non-silent block whose
      // predecessor is silent (or at block 0) — genuine RIFF parsing and
      // PCM peak scanning on the Spark side
      """WITH v AS (SELECT doc_id, n_chars % 8 + 4 AS nb FROM documents),
        |b AS (SELECT doc_id, nb, unnest(range(0, nb)) AS blk FROM v),
        |fl AS (SELECT doc_id, nb,
        |    CASE WHEN (doc_id + blk) % 3 = 0 THEN 1 ELSE 0 END AS silent,
        |    CASE WHEN (doc_id + blk) % 3 <> 0
        |      AND (blk = 0 OR (doc_id + blk - 1) % 3 = 0)
        |      THEN 1 ELSE 0 END AS seg_start
        |  FROM b)
        |SELECT doc_id, CAST(min(nb) AS BIGINT) AS n_blocks,
        |  CAST(sum(silent) AS BIGINT) AS n_silent,
        |  CAST(sum(seg_start) AS BIGINT) AS n_segments
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q237_personalized_pr" ->
      // q120's edge/degree CTEs; 3 unrolled steps with the restart term
      // gated on seed membership via a FULL JOIN against the seed set
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |s AS (SELECT DISTINCT src AS snode FROM e WHERE src % 97 = 0),
        |r0 AS (SELECT snode AS node, CAST(1000000 AS BIGINT) AS r FROM s),
        |c1 AS (SELECT e.dst AS node, CAST((85 * sum(r0.r // d.deg)) // 100 AS BIGINT) AS cin
        |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT coalesce(c.node, s.snode) AS node,
        |    CAST(CASE WHEN s.snode IS NOT NULL THEN 150000 ELSE 0 END
        |      + coalesce(c.cin, 0) AS BIGINT) AS r
        |  FROM c1 c FULL JOIN s ON s.snode = c.node),
        |c2 AS (SELECT e.dst AS node, CAST((85 * sum(r1.r // d.deg)) // 100 AS BIGINT) AS cin
        |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT coalesce(c.node, s.snode) AS node,
        |    CAST(CASE WHEN s.snode IS NOT NULL THEN 150000 ELSE 0 END
        |      + coalesce(c.cin, 0) AS BIGINT) AS r
        |  FROM c2 c FULL JOIN s ON s.snode = c.node),
        |c3 AS (SELECT e.dst AS node, CAST((85 * sum(r2.r // d.deg)) // 100 AS BIGINT) AS cin
        |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT coalesce(c.node, s.snode) AS node,
        |    CAST(CASE WHEN s.snode IS NOT NULL THEN 150000 ELSE 0 END
        |      + coalesce(c.cin, 0) AS BIGINT) AS r
        |  FROM c3 c FULL JOIN s ON s.snode = c.node)
        |SELECT node AS p_partkey, r AS rank_scaled FROM r3
        |ORDER BY rank_scaled DESC, p_partkey LIMIT 20""".stripMargin,
    "q238_kappa_agreement" -> q238Sql,
    "q239_label_outliers" ->
      // q235's comp/cent CTEs verbatim; own-class distance joins exactly
      // ONE centroid row per component; flag on HUGEINT cross-products
      """WITH base AS (SELECT vec_id, label,
        |    CASE WHEN vec_id % 50 = 0
        |      THEN list_transform(embedding, x -> x * CAST(4 AS FLOAT))
        |      ELSE embedding END AS embedding
        |  FROM embeddings),
        |comp AS (SELECT vec_id, CAST(label AS BIGINT) AS label, t.d AS dim,
        |    CAST(round(CAST(embedding[CAST(t.d AS BIGINT)] AS DOUBLE) * 1000000, 0)
        |      AS BIGINT) AS vm
        |  FROM base,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d) t),
        |cent AS (SELECT label AS clabel, dim,
        |    CAST(floor(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        |  FROM comp GROUP BY 1, 2),
        |own AS (SELECT c.vec_id, c.label,
        |    sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
        |  FROM comp c JOIN cent ct ON ct.dim = c.dim AND ct.clabel = c.label
        |  GROUP BY 1, 2),
        |cls AS (SELECT label, sum(CAST(d2 AS HUGEINT)) AS s, count(*) AS n
        |  FROM own GROUP BY 1)
        |SELECT o.vec_id, o.label, CAST(o.d2 AS BIGINT) AS d2
        |FROM own o JOIN cls ON cls.label = o.label
        |WHERE CAST(o.d2 AS HUGEINT) * cls.n > 4 * cls.s
        |ORDER BY o.vec_id""".stripMargin,
    "q240_textrank" ->
      // adjacent-pair word graph (count ≥ 3, symmetric, deduped), then
      // q120's three unrolled damped steps on word nodes
      """WITH ws AS (SELECT regexp_split_to_array(lower(text), '\s+') AS w FROM documents),
        |bp AS (SELECT w[CAST(i AS BIGINT)] AS a, w[CAST(i AS BIGINT) + 1] AS b
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
        |pc AS (SELECT a, b, count(*) AS c FROM bp
        |  WHERE a <> b AND length(a) > 0 AND length(b) > 0 GROUP BY 1, 2),
        |pf AS (SELECT a, b FROM pc WHERE c >= 3),
        |e AS (SELECT a AS src, b AS dst FROM pf UNION SELECT b, a FROM pf),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d),
        |r1 AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(r0.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(r1.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(r2.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst)
        |SELECT node AS word, r AS rank_scaled FROM r3
        |ORDER BY rank_scaled DESC, word LIMIT 20""".stripMargin,
    "q241_emd_drift" ->
      // q221's grid/cums CTEs with the max swapped for the gap-weighted
      // HUGEINT sum; the trailing grid row's gap coalesces to 0
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS u FROM events),
        |counts AS (SELECT g, u, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |groups AS (SELECT g, sum(c) AS ng FROM counts GROUP BY 1),
        |units AS (SELECT u, sum(c) AS cu FROM counts GROUP BY 1),
        |grand AS (SELECT sum(c) AS n FROM counts),
        |grid AS (SELECT units.u, groups.g, groups.ng, units.cu,
        |    coalesce(counts.c, 0) AS cg
        |  FROM units CROSS JOIN groups
        |  LEFT JOIN counts ON counts.g = groups.g AND counts.u = units.u),
        |cums AS (SELECT g, ng, u,
        |    sum(cg) OVER (PARTITION BY g ORDER BY u) AS cumg,
        |    sum(cu) OVER (PARTITION BY g ORDER BY u) AS cumall,
        |    coalesce(lead(u) OVER (PARTITION BY g ORDER BY u) - u, 0) AS gap
        |  FROM grid),
        |d AS (SELECT g, ng, n - ng AS nr,
        |    sum(CAST(abs(cumg * (n - ng) - (cumall - cumg) * ng) AS HUGEINT)
        |      * gap) AS emd
        |  FROM cums CROSS JOIN grand GROUP BY 1, 2, 3)
        |SELECT g AS event_type, CAST(ng AS BIGINT) AS n_group,
        |  CAST(nr AS BIGINT) AS n_rest, CAST(emd AS BIGINT) AS emd_num,
        |  (round(CAST(emd AS DOUBLE) / (CAST(ng AS DOUBLE) * CAST(nr AS DOUBLE)), 4)
        |    + 0.0) AS emd_units
        |FROM d WHERE ng > 0 AND nr > 0 ORDER BY event_type""".stripMargin,
    "q242_novelty" ->
      // q44's shingle CTE (whole corpus), first-occurrence min per
      // shingle, floor-bp novelty share per doc
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[CAST(i AS BIGINT)] || ' ' || w[CAST(i AS BIGINT) + 1] AS shingle
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
        |f AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY 1)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST((10000 * sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS novelty_bp
        |FROM sh JOIN f USING (shingle)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "q224_pq_search" ->
      // q116's assignment CTEs verbatim, then the ADC chain: per-query LUT
      // of round(d·1e5) longs (clamped at 0 like q209), exact long sums,
      // (adist_tb, neighbor_id) ranking
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |${pqLutCtes(0, 8)},
         |sc2 AS (SELECT l.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(l.d) AS BIGINT) AS adist_tb
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, adist_tb,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS BIGINT) AS rn FROM sc2)
         |SELECT query_id, neighbor_id, adist_tb, rn FROM r WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,
    "q225_pq_recall" ->
      // q45's truth CTE + q224's ADC chain, joined per (query, neighbor)
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |$cosTruthCtes,
         |${pqLutCtes(0, 8)},
         |sc2 AS (SELECT l.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(l.d) AS BIGINT) AS adist_tb
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
         |ap AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS BIGINT) AS rn FROM sc2) WHERE rn <= 5)
         |SELECT tr.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS hits,
         |  (round(count(ap.neighbor_id) / 5.0, 4) + 0.0) AS recall
         |FROM tr LEFT JOIN ap ON ap.query_id = tr.query_id AND ap.neighbor_id = tr.neighbor_id
         |GROUP BY tr.query_id ORDER BY tr.query_id""".stripMargin)
}
