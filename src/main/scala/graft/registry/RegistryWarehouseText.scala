package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal

import SparkEntry._
import graft.storage.Materialize.scratch

/** Registry part: warehouse, multimodal and text-analysis keys (q64-q141),
  * with q456 next to q113.
  *
  * Split VERBATIM from SparkEntry's single queries/oracleSql map literals
  * (round-13 verdict item 8 - pure maintainability, zero semantic change);
  * merged back into the public maps at SparkEntry init. RegistrySpec pins
  * the merged key set and the 1:1 queries<->oracleSql correspondence.
  */
private[graft] object RegistryWarehouseText {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q115_xml_roundtrip" -> ((s, dir) => {
      // Spark 4's native XML source (the web-scrape interchange format the
      // reference's collectors would meet in the wild): write, read back
      // with declared schema, prove value fidelity through the gate
      val nation = T(s, dir, "nation")
      val tmp = scratch("q115_xml", dir)
      nation.coalesce(1).write.mode("overwrite")
        .option("rootTag", "nations").option("rowTag", "nation").xml(tmp)
      s.read.schema(nation.schema)
        .option("rowTag", "nation").xml(tmp)
        .orderBy("n_nationkey")
    }),
    "q64_rollup" -> ((s, dir) =>
      // multi-granularity dashboard aggregate: (type, day), per-type subtotal,
      // grand total in ONE pass (vs re-scanning per granularity)
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)),
    "q65_percentiles" -> ((s, dir) => {
      // exact quantiles via the value-histogram path: `percentile()` holds
      // every group value in one task's buffer at scale, while the histogram
      // shuffles (type, DISTINCT cents value) with map-side combine and its
      // CDF window is bounded by the quantized value domain. Bit-compatible
      // with percentile() (RelationalSpec asserts parity).
      val quants = Relational.histogramQuantiles(
        T(s, dir, "events"), "event_type", "value", Seq(0.5, 0.9, 0.99))
      quants.groupBy(col("event_type"))
        .agg(ops.Num.roundz(min(when(col("q") === 0.5, col("quantile"))), 4).as("p50"),
          ops.Num.roundz(min(when(col("q") === 0.9, col("quantile"))), 4).as("p90"),
          ops.Num.roundz(min(when(col("q") === 0.99, col("quantile"))), 4).as("p99"))
        .orderBy("event_type")
    }),
    "q66_pivot" -> ((s, dir) =>
      // dashboard crosstab: one row per day, one column per event type —
      // explicit pivot values keep the schema deterministic (no value scan)
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("day")),
    "q67_cumulative_users" -> ((s, dir) => {
      // new + cumulative distinct users per day: first-seen day per user,
      // then a running sum over the (tiny) per-day aggregate
      val firstSeen = T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(TextFunctions.dayString(col("ts"))).as("day"))
      firstSeen.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users",
          sum(col("new_users")).over(
            org.apache.spark.sql.expressions.Window.orderBy("day")))
        .orderBy("day")
    }),
    "q68_frame_sample" -> ((s, dir) =>
      // multimodal frame fan-out: N rows out per payload in, fingerprinted —
      // the explode happens in the map stage, before any shuffle
      Multimodal.frameSampleStub(
        Multimodal.asMultimodal(T(s, dir, "documents"), "doc_id", "text"),
        "doc_id", everyNBytes = 256)
        .select(col("doc_id"), col("frame_idx"),
          graft.functions.RollingHash(decode(col("frame"), "UTF-8")).as("frame_hash"))
        .orderBy("doc_id", "frame_idx")),
    "q69_salted_count" -> ((s, dir) =>
      // the skew remedy itself under the oracle: two-phase salted count over
      // a 3-value key equals the plain GROUP BY exactly
      Relational.saltedCount(T(s, dir, "events"), "event_type", salts = 8)
        .orderBy("event_type")),
    "q70_semi_join" -> ((s, dir) =>
      // existence probe as a real left_semi (no row duplication from the
      // multi-match right side, right columns never materialize)
      T(s, dir, "customer")
        .join(T(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),
    "q71_except" -> ((s, dir) => {
      // set difference: customers active in 1996 but not in 1997
      val orders = T(s, dir, "orders")
      def activeIn(y: Int) = orders
        .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      activeIn(1996).except(activeIn(1997))
        .select(col("o_custkey").as("custkey")).orderBy("custkey")
    }),
    "q72_pii_scrub" -> ((s, dir) =>
      // pre-training hygiene: inject deterministic synthetic PII (the corpus
      // has none), then redact emails / IPv4s / phone runs with placeholders
      T(s, dir, "documents")
        .withColumn("dirty", concat(
          lit("contact user"), col("doc_id"), lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 call +1 (555) 123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" :: "), col("text")))
        .select(col("doc_id"), TextFunctions.scrubPii(col("dirty")).as("clean"))
        .orderBy("doc_id")),
    "q73_repetition_filter" -> ((s, dir) =>
      // C4/Gopher-style quality gate: repetition ratio + keep flag
      T(s, dir, "documents")
        .withColumn("rep_ratio", TextFunctions.repetitionRatio(col("text")))
        .withColumn("keep", col("rep_ratio") <= 0.2)
        .select("doc_id", "rep_ratio", "keep")
        .orderBy("doc_id")),
    "q74_unified_pipeline" -> ((s, dir) => {
      // The reference's ACTUAL end-to-end DAG under the gate
      // (`Data Collection/Airflow.py:95-102` collect → unify → nlp;
      // `Analysis Dashboard/app.py:105-130` dashboard agg): three raw
      // source-shaped frames are synthesized deterministically from the
      // documents table — reddit with epoch-seconds timestamps
      // (`Reddit.py:151-161`), 4chan with HTML bodies + free-text
      // `MM/dd/yy(Day)HH:mm:ss` timestamps (`chan4.py:81`, the SURVEY §7.4
      // "hard part"), youtube with ISO-`Z` text timestamps
      // (`Youtube_final.py:59,90-96`) — then run through the full
      // Pipeline.run (per-source adapters → unify → dedup → anti-join skip of
      // already-enriched ids → clean → sentiment → moderation) and the
      // per-platform/day dashboard aggregate.
      val docs = T(s, dir, "documents")
      val pad2 = (c: org.apache.spark.sql.Column) => lpad(c.cast("string"), 2, "0")
      val reddit = docs.filter(col("doc_id") % 3 === 0).select(
        concat(lit("sub"), (col("doc_id") % 5).cast("string")).as("subreddit"),
        concat(lit("p"), (col("doc_id") % 50).cast("string")).as("post_id"),
        col("text").as("body"),
        (col("doc_id") % 100).cast("int").as("score"),
        (lit(1704067200L) + (col("doc_id") % 20) * 86400L + col("doc_id") % 1000)
          .as("created_utc"),
        concat(lit("r"), col("doc_id").cast("string")).as("comment_id"))
      val chan = docs.filter(col("doc_id") % 3 === 1).select(
        col("doc_id").cast("string").as("post_number"),
        // HTML shape the reference strips at ingest (`chan4.py:56-62`):
        // quote-ref span, bold wrapper, an &amp; entity
        concat(lit("<span class=\"quote\">&gt;&gt;"), (col("doc_id") - 1).cast("string"),
          lit("</span> <b>"), col("text"), lit("</b> &amp; done")).as("comment"),
        concat(pad2(col("doc_id") % 12 + 1), lit("/"), pad2(col("doc_id") % 28 + 1),
          lit("/24(Day)"), pad2(col("doc_id") % 24), lit(":"),
          pad2(col("doc_id") % 60), lit(":"), pad2(col("doc_id") % 60))
          .as("timestamp_raw"),
        lit("Anonymous").as("name"),
        lit(null).cast("string").as("image_filename"))
      val youtube = docs.filter(col("doc_id") % 3 === 2).select(
        concat(lit("v"), (col("doc_id") % 7).cast("string")).as("video_id"),
        lit("recession talk").as("video_title"),
        concat(lit("y"), col("doc_id").cast("string")).as("comment_id"),
        concat(lit("2024-02-"), pad2(col("doc_id") % 28 + 1), lit("T"),
          pad2(col("doc_id") % 24), lit(":"), pad2(col("doc_id") % 60), lit(":00Z"))
          .as("comment_time"),
        col("text").as("comment_text"))
      // enrich-once: every 10th reddit id is already in the store and must be
      // skipped by the anti-join (`Reddit_4chan_Analysis.py:88-99`)
      val already = docs
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 0)
        .select(concat(lit("r"), col("doc_id").cast("string")).as("comment_id"))
      val enriched = Pipeline.run(reddit, chan, youtube, already)
      enriched
        .groupBy(col("platform"), TextFunctions.dayString(col("created_ts")).as("day"),
          col("sentiment"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("is_hate_speech"), 1L).otherwise(0L)).as("hate_cnt"),
          // exact integer 1e-4-unit sum of the (4dp-rounded) scores:
          // order-independent and bit-identical to the oracle
          (sum(ops.Num.roundz(col("sentiment_score") * 10000, 0).cast("long")) / 10000.0)
            .as("sum_score"))
        .orderBy("platform", "day", "sentiment")
    }),
    "q75_stateful_sessions" -> ((s, dir) =>
      // the flatMapGroupsWithState sessionizer replayed under the SAME oracle
      // as the built-in session_window (q57): custom state must agree with
      // the declarative twin (flush-sentinel determinism — Streaming.scala)
      Streaming.statefulSessionsReplay(s, dir, scratch("q75_src", dir))
        .orderBy("user_id", "session_start")),
    "q76_curation_chain" -> ((s, dir) =>
      // the composed C4/Gopher-style curation pipeline with per-doc audit
      // verdicts: langid -> quality -> repetition -> content-hash dedup
      Curation.curationChain(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q77_neardup_components" -> ((s, dir) => {
      // pairwise near-dup hits -> duplicate CLUSTERS -> one canonical doc per
      // cluster (min id): min-label propagation to the connected-component
      // fixpoint, against a recursive-CTE oracle; components come from the
      // SHARED materialized index (one derivation for q77/q105/q138/q250/q255)
      val (_, comp) = dedupIndex(s, dir)
      comp
        .withColumn("is_canonical", col("node") === col("component"))
        .select(col("node").as("doc_id"), col("component"), col("is_canonical"))
        .orderBy("doc_id")
    }),
    "q78_tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rn")),
    "q79_weighted_mixture" -> ((s, dir) =>
      // data-mixing quota sampler under the gate: per-source budget split
      // 3:1 over two sources, everything else dropped — deterministic
      // pseudo-shuffle order, so the oracle reproduces the exact sample
      Curation.weightedMixture(T(s, dir, "documents"), "source", "doc_id",
        Map("src1" -> 3.0, "src2" -> 1.0), totalBudget = 40)
        .select(col("doc_id"), col("source"))
        .orderBy("source", "doc_id")),
    "q80_moving_average" -> ((s, dir) => {
      // 7-day trailing moving average of daily event value — the dashboard
      // trend-line primitive; the window runs over per-day aggregates (ONE
      // row per day), never raw events, with an integer day index so the
      // RANGE frame is engine-portable
      val daily = T(s, dir, "events")
        .groupBy(TextFunctions.dayString(col("ts")).as("day"))
        .agg(sum(ops.Num.roundz(col("value") * 100, 0).cast("long")).as("day_cents"))
        .withColumn("day_idx", datediff(col("day").cast("date"), lit("1970-01-01").cast("date")))
      // exact-arithmetic moving average: one long sum over the frame, one
      // final double division (a segment-tree vs sequential float summation
      // would otherwise let the two engines disagree in the last ulp)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day_idx")).rangeBetween(-6, 0)
      daily
        .withColumn("ma7", ops.Num.roundz(
          sum(col("day_cents")).over(w).cast("double") /
            count(col("day_cents")).over(w) / 100.0, 4))
        .select(col("day"), (col("day_cents") / 100.0).as("day_value"), col("ma7"))
        .orderBy("day")
    }),
    "q81_stream_stream_join" -> ((s, dir) =>
      // watermarked stream-stream self-join (view→purchase attribution
      // within 1 h), replayed to equality with the batch range join
      Streaming.streamStreamAttribution(s, dir)
        .orderBy("purchase_id", "view_id")),
    "q82_hopping_window" -> ((s, dir) =>
      // 24 h windows sliding every 6 h: each event lands in exactly 4
      // windows via a map-side Expand — no row blowup crosses a shuffle
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 day", "6 hours"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("bucket_start"), col("cnt"))
        .orderBy("bucket_start")),
    "q83_custom_udaf" -> ((s, dir) =>
      // typed Aggregator surface: RMS with an exact (Σ cents², n) buffer —
      // partials merge in any order, sqrt+divide happen once at finish
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(ops.Num.roundz(udaf(graft.functions.RmsCents).apply(col("value")), 4).as("rms_value"))
        .orderBy("event_type")),
    "q93_vocab_encode" -> ((s, dir) => {
      // text → training tensors: frequency-ranked vocabulary (1 = most
      // frequent, token tie-break), tokens id-mapped through a BROADCAST
      // vocab join, per-doc sequences rebuilt in position order and
      // Karp–Rabin-fingerprinted for compact verification
      val toks = T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
      // frequency ranking via TwoPhase global rank (bin by -freq so bins
      // follow the sort order; ties — the freq=1 tier — share a bin, which
      // bounds serialization at the largest tie tier, not the whole vocab).
      // The freq frame is checkpointed so the token explode runs once.
      val vocabFreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      val (vocab, _) = graft.ops.TwoPhase.globalRank(vocabFreq, -col("freq"),
        Seq(col("freq").desc, col("tok")), "token_id")
      toks.join(broadcast(vocab.select("tok", "token_id")), "tok")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("token_id")))).as("ps"))
        .select(col("doc_id"), expr("transform(ps, x -> x.token_id)").as("ids"))
        .select(col("doc_id"), size(col("ids")).cast("long").as("n_tokens"),
          expr("aggregate(ids, CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)")
            .as("ids_fp"))
        .orderBy("doc_id")
    }),
    "q92_jdbc_roundtrip" -> ((s, dir) => {
      // the reference's Postgres store under the gate (Derby stands in —
      // same JDBC write/scan path): per-type daily counts written with
      // batched set-based inserts, read back through the JDBC scan twin
      // no dir cleanup: Derby stays booted for the JVM's lifetime, so
      // deleting under it between calls would corrupt the instance;
      // Overwrite mode replaces the table on every call instead
      val db = scratch("q92_derby", dir)
      val url = s"jdbc:derby:$db;create=true"
      val agg = T(s, dir, "events")
        .groupBy(col("event_type"), TextFunctions.dayString(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.storage.Storage.writeJdbc(agg, url, "type_daily",
        org.apache.spark.sql.SaveMode.Overwrite)
      graft.storage.Storage.readJdbc(s, url, "type_daily")
        .select(col("event_type"), col("day"), col("cnt"))
        .orderBy("event_type", "day")
    }),
    "q91_sequence_packing" -> ((s, dir) => {
      // concat-then-chunk packing: docs in id order form one token stream,
      // chunked into 2048-token training sequences — chunk = the sequence
      // the doc STARTS in (floor of the preceding token count / budget).
      // The cumulative sum is a TwoPhase prefix sum (bin by doc_id range,
      // per-bin local windows in parallel, broadcast bin offsets) — no
      // empty-partition window anywhere in the plan, so nothing serializes
      // onto one task at scale. Token counts are localCheckpoint'ed so the
      // tokenizer runs once, not once per two-phase pass.
      val budget = 2048
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint()
      val (cum, _) = graft.ops.TwoPhase.prefixSum(docs, col("doc_id"),
        Seq(col("doc_id")), col("n_tokens"), "__cum")
      cum
        .withColumn("__preceding", col("__cum") - col("n_tokens"))
        // exact integer floor division (`div`), matching the oracle's `//`
        .withColumn("chunk_id", expr(s"__preceding div $budget"))
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("chunk_id")
    }),
    "q89_histogram" -> ((s, dir) =>
      // fixed-width value histogram per class — one two-phase hash agg; the
      // bin edge is a float floor both engines compute identically
      T(s, dir, "events")
        .groupBy(col("event_type"),
          (floor(col("value") / 25) * 25).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type", "bin")),
    "q90_zscore_anomaly" -> ((s, dir) => {
      // windowed anomaly detection: each day's total scored against the
      // trailing 7-day mean/std. Moments come from EXACT long sums
      // (Σcents, Σcents²) over the frame with the float ops (two divisions,
      // one sqrt) applied once at the end — engine-portable like q80/q83.
      // Headroom bound (same contract as RmsCents): c² wraps silently in
      // Spark while DuckDB sums into HUGEINT, so per-day |cents| must stay
      // ≤ ~3.0e9 (7·c² < 2^63). sf0.1 peaks near 2.7e7 cents/day — ~100×
      // headroom on c; a deployment with larger daily totals must rescale
      // the unit (e.g. whole currency) before this frame.
      val daily = T(s, dir, "events")
        .groupBy(TextFunctions.dayString(col("ts")).as("day"))
        .agg(sum(ops.Num.roundz(col("value") * 100, 0).cast("long")).as("c"))
        .withColumn("day_idx",
          datediff(col("day").cast("date"), lit("1970-01-01").cast("date")))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day_idx")).rangeBetween(-6, 0)
      val n = count(col("c")).over(w).cast("double")
      val mean = sum(col("c")).over(w).cast("double") / n
      val msq = sum(col("c") * col("c")).over(w).cast("double") / n
      val vr = msq - mean * mean
      val std = when(vr > 0, sqrt(vr)).otherwise(lit(0.0))
      val z = when(std > 0, ops.Num.roundz((col("c").cast("double") - mean) / std, 4))
        .otherwise(lit(0.0))
      daily
        .withColumn("zscore", z)
        .select(col("day"), (col("c") / 100.0).as("day_value"), col("zscore"),
          (abs(col("zscore")) > 2).as("anomaly"))
        .orderBy("day")
    }),
    "q88_bucketed_join" -> ((s, dir) => {
      // the 100 TB layout technique under the gate: both sides written
      // bucketed+sorted on the join key, then joined through the catalog —
      // results provably equal the plain join (the exchange-free plan
      // property itself is asserted in StorageSpec)
      graft.storage.Storage.writeBucketed(
        T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "g88_orders", "o_custkey", 8)
      graft.storage.Storage.writeBucketed(
        T(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "g88_customer", "c_custkey", 8)
      s.table("g88_orders")
        .join(s.table("g88_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          (sum(ops.Num.roundz(col("o_totalprice") * 100, 0).cast("long")) / 100.0).as("sum_price"))
        .orderBy("c_mktsegment")
    }),
    "q86_funnel" -> ((s, dir) => {
      // ordered funnel signup -> view -> purchase: each stage's timestamp
      // must follow the previous stage's; three keyed aggregates + two
      // broadcast-sized joins on user_id, no window over raw events
      val ev = T(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "view").join(s1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val counts = s1.agg(count(lit(1)).as("users")).withColumn("stage", lit("1_signup"))
        .unionByName(s2.agg(count(lit(1)).as("users")).withColumn("stage", lit("2_view")))
        .unionByName(s3.agg(count(lit(1)).as("users")).withColumn("stage", lit("3_purchase")))
      counts.select(col("stage"), col("users")).orderBy("stage")
    }),
    "q87_retention" -> ((s, dir) => {
      // cohort retention: users grouped by first-seen day, activity counted
      // at day offsets 0/1/7 — first-seen agg + one join + one (cohort,
      // offset) agg; distinct users via the same exact path as q67
      val ev = T(s, dir, "events").select(col("user_id"), col("ts"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      ev.join(cohort, "user_id")
        .withColumn("day_offset",
          datediff(to_date(col("ts")), col("cohort_day")).cast("long"))
        .filter(col("day_offset").isin(0L, 1L, 7L))
        .groupBy(TextFunctions.dayString(col("cohort_day")).as("cohort"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy("cohort", "day_offset")
    }),
    "q85_salted_join" -> ((s, dir) =>
      // the skew JOIN remedy itself under the oracle: salting replicates the
      // dim 8x and spreads each hot event_type over 8 reducers, with results
      // exactly equal to the plain join (the salt never reaches the output)
      Relational.saltedJoin(
        T(s, dir, "events").select(col("event_id"), col("event_type")),
        T(s, dir, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("type_total")),
        "event_type", salts = 8)
        .select(col("event_id"), col("event_type"), col("type_total"))
        .orderBy("event_id")),
    "q84_full_outer_join" -> ((s, dir) => {
      // year-over-year customer activity: full outer keeps customers active
      // in either year; USING-style key coalescing, absent side counts as 0
      val orders = T(s, dir, "orders")
      def yearly(y: Int, alias: String) = orders
        .filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as(alias))
      yearly(1996, "cnt96")
        .join(yearly(1997, "cnt97"), Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("cnt96"), lit(0L)).as("cnt96"),
          coalesce(col("cnt97"), lit(0L)).as("cnt97"))
        .orderBy("custkey")
    }),
    "q94_scd2_history" -> ((s, dir) =>
      // CDC history build: collapse the per-user event-type stream into
      // SCD2 validity ranges — one key exchange, two window passes
      Warehouse.scd2Compact(
        T(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
        "user_id", "event_type", "ts", "event_id")
        .orderBy("user_id", "valid_from")),
    "q95_merge_upsert" -> ((s, dir) => {
      // MERGE INTO shape: early-January profiles upserted with a late-
      // January delta — matched users update, new users insert, absent
      // users keep; exact cents so the full-outer coalesce is portable
      val ev = T(s, dir, "events").select(col("user_id"), col("ts"),
        ops.Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      def profile(f: org.apache.spark.sql.Column) = ev.filter(f).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
      Warehouse.mergeUpsert(
        profile(col("ts") < lit("2024-01-03").cast("timestamp")),
        profile(col("ts") >= lit("2024-01-28").cast("timestamp")),
        "user_id", Seq("n_events", "total_cents"))
        .orderBy("user_id")
    }),
    "q96_decile_stats" -> ((s, dir) => {
      // quantile bucketing of docs by length: EXACT ntile(10) semantics with
      // no global single-partition window — TwoPhase global rank over the
      // unique order (n_chars, doc_id), then the SQL-standard ntile
      // allocation computed map-side from (rank, N). Bit-identical to the
      // window ntile (TwoPhaseSpec asserts parity), distributed at any scale.
      // avg is one exact-long sum divided once — engine-portable
      val docs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val (ranked, n) = graft.ops.TwoPhase.globalRank(docs, col("n_chars"),
        Seq(col("n_chars"), col("doc_id")), "__rank")
      ranked
        .withColumn("decile", graft.ops.TwoPhase.ntileFromRank("__rank", n, 10).cast("long"))
        .drop("__rank")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("cnt"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("decile")
    }),
    "q97_latest_per_key" -> ((s, dir) => {
      // latest-3 snapshot per key — the "current state" read every serving
      // layer runs; rank inside the key partition, never a global sort
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      T(s, dir, "events").select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("user_id", "rn")
    }),
    "q98_embed_quantize" -> ((s, dir) =>
      // the codes array itself is unit-tested; the gate row compresses it
      // to (fp, sum, dims) because the driver compare is scalar-only —
      // same convention as q93's id-sequence fingerprint. +128 keeps the
      // fold positive (codes ∈ [-127, 127]) so both engines' % agree
      Similarity.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale_e6"),
          expr("aggregate(codes, CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x + 128) % 1000000007)")
            .as("codes_fp"),
          expr("aggregate(codes, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("sum_codes"),
          size(col("codes")).cast("long").as("n_dims"))
        .orderBy("vec_id")),
    "q99_partitioned_layout" -> ((s, dir) => {
      // hive-style date partitioning — THE 100 TB layout for time-range
      // scans: the filtered read prunes to 5 of 30 day directories before
      // any row is touched (PlanSpec asserts the pruned partition count)
      val tmp = scratch("q99_part", dir)
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("day").between("2024-01-10", "2024-01-14"))
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(ops.Num.roundz(col("value") * 100, 0).cast("long")).as("sum_cents"))
        .orderBy("day")
    }),
    "q100_bigram_freq" -> ((s, dir) =>
      TextAnalysis.bigramCounts(T(s, dir, "documents"), "text", k = 40)),
    "q101_interval_merge" -> ((s, dir) =>
      // gaps-and-islands: fuse each user's 5-minute activity intervals;
      // exact epoch-microsecond arithmetic end to end
      Warehouse.mergeIntervals(T(s, dir, "events"), "user_id", "ts", widthSec = 300)
        .orderBy("user_id", "island")),
    "q102_contamination" -> ((s, dir) =>
      // benchmark decontamination: flag training docs sharing 3-gram shingles
      // with the (synthetic) eval slice doc_id % 97 == 0; broadcast the tiny
      // eval shingle set, corpus never shuffles for the probe
      Dedup.shingleContamination(T(s, dir, "documents"), "doc_id", "text",
        col("doc_id") % 97 === 0, k = 3, minHits = 3)
        .orderBy("doc_id")),
    "q103_token_zipf" -> ((s, dir) =>
      // corpus-composition audit: top-50 token head with exact cumulative
      // counts (rank/cumsum windows run AFTER the limit — bounded by k)
      TextAnalysis.tokenZipf(T(s, dir, "documents"), "text", k = 50)
        .orderBy("rank")),
    "q104_prefix_dedup" -> ((s, dir) =>
      // prefix-fingerprint dedup: same opening 80 chars ⇒ one keeper —
      // catches truncated/extended re-crawls exact hashing misses
      Dedup.prefixDedup(T(s, dir, "documents"), "doc_id", "text", prefixLen = 80)
        .orderBy("doc_id")),
    "q105_cluster_reps" -> ((s, dir) => {
      // canonical-doc election: near-dup components (shared materialized
      // index, q44 params) -> keep the LONGEST member per cluster (tie: min
      // id) — the quality-aware upgrade of q77's min-id canonicalization
      val (_, comp) = dedupIndex(s, dir)
      Dedup.clusterRepresentatives(comp, T(s, dir, "documents"), "doc_id", "n_chars")
        .orderBy("component", "doc_id")
    }),
    "q106_sequence_assembly" -> ((s, dir) =>
      // event log -> next-action-prediction sequences: per user-day ordered
      // event-type chain, merge-order-independent via post-collect sort
      Curation.assembleSequences(T(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type")
        .orderBy("user_id", "day")),
    "q107_profile" -> ((s, dir) =>
      // data-quality profile: per-column null/distinct/min/max in ONE agg
      // pass + stack unpivot (the look-before-you-train table summary)
      Profiling.profile(T(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")),
    "q108_sliding_distinct" -> ((s, dir) =>
      // trailing-7-day distinct users per day: distinct (day,user) first,
      // then a map-side day fan-out — no count-distinct window, no range join
      Relational.slidingDistinct(T(s, dir, "events"), "user_id", "ts", windowDays = 7)
        .orderBy("day")),
    "q109_train_split" -> ((s, dir) =>
      // deterministic 80/10/10 train/val/test assignment by multiplicative
      // id hash; per-split exact counts + char volume
      Curation.trainValTestSplit(T(s, dir, "documents"), "doc_id", "n_chars")
        .orderBy("split")),
    "q110_multimodal_features" -> ((s, dir) =>
      // gate cover for the per-partition feature-extraction seam (q56's
      // decode slot, the mapPartitions shape a real codec plugs into):
      // FakeDecoder emits integral byte stats, so the float vector
      // compresses to an exact fingerprint (q98's scalar convention)
      Multimodal.extractFeatures(
        Multimodal.asMultimodal(T(s, dir, "documents"), "doc_id", "text"),
        "doc_id", Multimodal.FakeDecoder)
        .select(col("doc_id"),
          size(col("features")).cast("long").as("n_features"),
          expr("aggregate(transform(features, x -> CAST(x AS BIGINT)), " +
            "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)")
            .as("features_fp"))
        .orderBy("doc_id")),
    "q111_incremental_agg" -> ((s, dir) => {
      // materialized-view refresh under the gate: history + one new slice
      // each aggregated separately, merged with mergeAggStates (counts/sums
      // add, min/max take extremes) — the oracle recomputes over base ∪
      // delta in FULL, so a green row proves merge == full recompute
      val ev = T(s, dir, "events").select(col("user_id"), col("ts"),
        ops.Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      val cutoff = lit("2024-01-20").cast("timestamp")
      def agg(f: org.apache.spark.sql.Column) = ev.filter(f).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      Warehouse.mergeAggStates(agg(col("ts") < cutoff), agg(col("ts") >= cutoff),
        "user_id", sumCols = Seq("n_events", "total_cents"),
        minCols = Seq("first_ts"), maxCols = Seq("last_ts"))
        .orderBy("user_id")
    }),
    "q112_image_decode" -> ((s, dir) => {
      // REAL image decode under the gate: per doc, a solid-color PNG is
      // synthesized with geometry/color derived from (doc_id, n_chars), and
      // ImageDecoder genuinely parses the PNG bytes per partition (JDK
      // ImageIO — no external codecs). The oracle predicts the decoded
      // (width, height, mean RGB) arithmetically; means of a constant-color
      // image are exact, so the compare is bit-strict.
      import s.implicits._
      val imgs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
          val rgb = (((id % 256) << 16) | ((nc % 256) << 8) | 7L).toInt
          (id, Multimodal.synthPng((nc % 16 + 1).toInt, (id % 16 + 1).toInt, rgb))
        }).toDF("doc_id", "payload")
      Multimodal.extractFeatures(imgs, "doc_id", Multimodal.ImageDecoder)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("mean_r"),
          element_at(col("features"), 4).cast("long").as("mean_g"),
          element_at(col("features"), 5).cast("long").as("mean_b"))
        .orderBy("doc_id")
    }),
    "q113_audio_decode" -> ((s, dir) => {
      // REAL audio decode under the gate: per doc, a constant-amplitude
      // 16-bit mono PCM WAV is synthesized and WavDecoder genuinely parses
      // the RIFF container (JDK javax.sound). Oracle predicts (sample rate,
      // frame count, peak amplitude) arithmetically.
      import s.implicits._
      val wavs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
          (id, Multimodal.synthWav((nc % 500 + 1).toInt,
            (id % 30000).toShort, 16000))
        }).toDF("doc_id", "payload")
      Multimodal.extractFeatures(wavs, "doc_id", Multimodal.WavDecoder)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("n_frames"),
          element_at(col("features"), 3).cast("long").as("peak"))
        .orderBy("doc_id")
    }),
    "q456_audio_fingerprint" -> ((s, dir) => {
      // Walsh–Hadamard audio fingerprint dedup: per doc a 64-sample PCM
      // waveform derives from a seed hashed off the doc's leading 40 chars
      // (so docs sharing their opening content share audio — the planted
      // '+ dup' family collides by construction), a REAL WAV container is
      // synthesized and REALLY parsed back (javax.sound), the decoded
      // samples fingerprint through the exact-integer WHT (see
      // Multimodal.whtFingerprint), and matching is one equi-join on the
      // 64-bit key. Output: every doc with its fingerprint, canonical
      // group id (min doc_id) and group size.
      import s.implicits._
      // coalesce BEFORE the seed derivation: a null text must fingerprint
      // as the empty waveform on both engines, not null-poison the typed
      // decode (r16 advice — the generator permits null text)
      val seeded = T(s, dir, "documents").select(col("doc_id"),
        expr("CAST(conv(substring(sha2(substring(coalesce(text, ''), 1, 40), 256), 1, 8), 16, 10) AS BIGINT)")
          .as("seed"))
      val wavs = seeded.as[(Long, Long)].mapPartitions(_.map { case (id, seed) =>
        val samples = Array.tabulate(64)(i =>
          (((seed + i.toLong * 2654435761L) % 65536L) - 32768L).toShort)
        (id, graft.multimodal.Multimodal.synthWavSamples(samples, 16000))
      }).toDF("doc_id", "payload")
      val fps = graft.multimodal.Multimodal.whtFingerprint(wavs, "doc_id")
      val groups = fps.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("group_id"), count(lit(1)).as("group_size"))
      fps.join(groups, "fp")
        .select(col("doc_id"), col("fp"), col("group_id"),
          col("group_size").cast("long").as("group_size"))
        .orderBy("doc_id")
    }),
    "q139_video_frames" -> ((s, dir) => {
      // REAL video-container frame sampling under the gate: per doc, an
      // animated GIF with (n_chars%5+2) solid-color frames is synthesized
      // (indexed palette — lossless), and sampleGifFrames genuinely walks
      // the container with the JDK ImageIO reader, decoding every 2nd
      // frame. The oracle predicts frame count, geometry, and exact
      // per-channel means arithmetically.
      import s.implicits._
      val vids = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
          val nFrames = (nc % 5 + 2).toInt
          val colors = (0 until nFrames).map { i =>
            val r = ((id + 37L * i) % 256).toInt
            val g = ((nc + 11L * i) % 256).toInt
            val b = (29 * i + 7) % 256
            (r << 16) | (g << 8) | b
          }
          (id, Multimodal.synthGif((id % 8 + 1).toInt, 3, colors))
        }).toDF("doc_id", "payload")
      Multimodal.sampleGifFrames(vids, "doc_id", step = 2)
        .orderBy("doc_id", "frame_idx")
    }),
    "q140_token_entropy" -> ((s, dir) =>
      // repetition/gibberish curation signal: per-doc token-distribution
      // entropy, float sum folded in sorted token order on both engines
      TextAnalysis.tokenEntropy(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q141_incremental_neardup" -> ((s, dir) => {
      // production dedup shape: the existing corpus's banded MinHash index
      // is probed by the new batch — (existing, new) candidates only, the
      // index never self-joins, recomputation stays linear in the batch
      val docs = T(s, dir, "documents")
      val index = Dedup.bandedSignatures(docs.filter(col("doc_id") < 400),
        "doc_id", "text", shingleK = 2, numHashes = 16, bands = 8)
      Dedup.probeNearDup(index, docs.filter(col("doc_id") >= 400),
        "doc_id", "text", shingleK = 2, numHashes = 16, bands = 8,
        threshold = 0.25)
        .orderBy("existing_id", "new_id")
    }),
    "q114_stream_outer_join" -> ((s, dir) =>
      // outer stream-stream attribution: unmatched purchases survive as
      // null-extended rows, flushed deterministically by watermark sentinels
      // (Streaming.scala); oracle = the batch LEFT JOIN twin
      Streaming.streamOuterAttribution(s, dir, scratch("q114_src", dir))
        // null view_id sorts differently in the two engines — make the
        // gate order explicit: nulls first, like Spark's asc default
        .orderBy(col("purchase_id"), col("view_id").asc_nulls_first)),
    "q128_doc_chunking" -> ((s, dir) =>
      // sliding context-window chunking (size 20, stride 15 → overlap 5):
      // one map-side pass, the fan-out happens after column pruning
      Curation.chunkDocuments(T(s, dir, "documents"), "doc_id", "text",
        chunkSize = 20, stride = 15)
        .orderBy("doc_id", "chunk_id")),
    "q129_forward_fill" -> ((s, dir) =>
      // dense series from sparse observations: `value` is only meaningful on
      // purchase events here; carry the last purchase value forward per user
      Relational.forwardFill(
        T(s, dir, "events").withColumn("__sparse",
          when(col("event_type") === "purchase", col("value"))),
        "user_id", "ts", "event_id", "__sparse")
        .select(col("event_id"), col("user_id"), col("ts"), col("filled_value"))
        .orderBy("event_id")),
    "q130_unicode_normalize" -> ((s, dir) => {
      // NFC canonical composition (native codegen'd Expression). The ASCII
      // testdata normalizes to itself, so a decomposed suffix (combining
      // acute + diaeresis) is appended to every doc — the char-count drop
      // proves real composition happened, not an identity pass.
      val raw = concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))
      T(s, dir, "documents").select(
        col("doc_id"),
        length(raw).cast("long").as("n_chars_raw"),
        graft.functions.NfcNormalize(raw).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
        .orderBy("doc_id")
    }),
    "q131_attribution" -> ((s, dir) =>
      // first/last-touch journey attribution for converting users — two
      // co-partitioned hash aggs, tie-breaks inside struct min/max (no window)
      Relational.attribution(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", conversionType = "purchase")
        .orderBy("user_id")),
    "q132_manifest_prune" -> ((s, dir) => {
      // file-level min/max data skipping: time-clustered layout (8 range
      // files over 30 days) + manifest consulted on the driver → a 7-day
      // scan opens ~2 of 8 files (StorageSpec asserts the prune count);
      // result ≡ full scan + filter, which is exactly what the oracle runs
      val tmp = scratch("q132_man", dir)
      T(s, dir, "events")
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(tmp)
      val (pruned, _, _) = graft.storage.Storage.manifestPrunedRange(
        s, tmp, "ts",
        java.sql.Timestamp.valueOf("2024-01-08 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      pruned.select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }),
    "q133_compaction" -> ((s, dir) => {
      // lakehouse OPTIMIZE: a fragmented hive layout (16 writer tasks × 30
      // day dirs ≈ 480 small files) compacts to one file per day with the
      // layout — and its pruning — intact; the gate proves row fidelity
      val tmp = scratch("q133_comp", dir)
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .repartition(16)
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      graft.storage.Storage.compactPartitioned(s, tmp, "day")
      s.read.parquet(tmp)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("day").cast("string").as("day"))
        .orderBy("event_id")
    }),
    "q134_embed_centroids" -> ((s, dir) =>
      // exact fixed-point class prototypes: posexplode fan-out is map-side,
      // one hash agg reduces to |labels|·dim rows; integer sums commute so
      // the result is partition-order independent (a float avg is not)
      Similarity.labelCentroids(T(s, dir, "embeddings"), "label", "embedding")
        .select(col("label").cast("long").as("label"), col("pos"),
          col("sum_scaled"), col("n"))
        .orderBy("label", "pos")),
    "q135_scd2_lookup" -> ((s, dir) => {
      // the SCD2 consumer: each purchase enriched with the browsing state
      // the user was in AT purchase time (q94 builds the history; this is
      // the join that makes historical attributes honest — joining
      // "current state" instead silently time-travels them backwards)
      val ev = T(s, dir, "events")
      val dim = Warehouse.scd2Compact(
        ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
        "user_id", "event_type", "ts", "event_id")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Warehouse.pointInTimeLookup(facts, dim, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("state").as("state_at_purchase"))
        .orderBy("event_id")
    }),
    "q137_budget_select" -> ((s, dir) =>
      // greedy token-budget curation: best-quality-first cumulative token
      // sum via the two-phase prefix machinery — no global window
      Curation.budgetSelect(T(s, dir, "documents"), "doc_id", "text",
        budget = 100000L)
        .select(col("doc_id"), col("quality"), col("toks"), col("cum_tokens"))
        .orderBy("doc_id")),
    "q138_cluster_split" -> ((s, dir) => {
      // leakage-safe split: assignment hashes the near-dup CLUSTER (shared
      // materialized index), so a training doc's near-copies can never land
      // in the eval split
      val docs = T(s, dir, "documents")
      val (_, comp) = dedupIndex(s, dir)
      Curation.clusterSafeSplit(docs, "doc_id", "n_chars", comp)
        .orderBy("split")
    }),
    "q136_inverted_index" -> ((s, dir) =>
      // IR posting lists over the corpus: term → sorted doc ids + df. The
      // gate row carries the list as a fold fingerprint + end-point docs
      // (q98 convention — array cells don't survive the value comparator),
      // which pins the exact sorted content modulo hash collisions
      TextAnalysis.invertedIndex(T(s, dir, "documents"), "doc_id", "text")
        .select(col("term"), col("df"),
          element_at(col("postings"), 1).as("first_doc"),
          element_at(col("postings"), -1).as("last_doc"),
          expr("aggregate(postings, CAST(0 AS BIGINT)," +
            " (a, x) -> (a * 31 + x) % 1000000007)").as("postings_fp"))
        .orderBy("term"))
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q74_unified_pipeline" -> q74Sql,
    "q76_curation_chain" -> q76Sql,
    "q78_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, t.term FROM documents,
        |  LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term) t
        |  WHERE length(t.term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term, (round(tf * ln((n + 1.0) / (df + 1.0)), 4) + 0.0) AS tfidf
        |  FROM tf JOIN idf USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rn FROM s)
        |SELECT doc_id, term, tfidf, rn FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q115_xml_roundtrip" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "q64_rollup" ->
      """SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt
        |FROM events GROUP BY ROLLUP (event_type, day)
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q65_percentiles" ->
      """SELECT event_type,
        |(round(quantile_cont(value, 0.5), 4) + 0.0) AS p50,
        |(round(quantile_cont(value, 0.9), 4) + 0.0) AS p90,
        |(round(quantile_cont(value, 0.99), 4) + 0.0) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q66_pivot" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |count(*) FILTER (event_type = 'click') AS click,
        |count(*) FILTER (event_type = 'error') AS error,
        |count(*) FILTER (event_type = 'purchase') AS purchase,
        |count(*) FILTER (event_type = 'signup') AS signup,
        |count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_cumulative_users" ->
      """WITH f AS (SELECT user_id, min(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users, CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cumulative_users
        |FROM d ORDER BY day""".stripMargin,
    "q69_salted_count" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1",
    "q70_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c WHERE EXISTS
        |(SELECT 1 FROM orders o WHERE o.o_orderstatus = 'P' AND o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q71_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY custkey""".stripMargin,
    "q72_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |  'contact user' || doc_id || '@example.com from 10.0.' || (doc_id % 256) ||
        |  '.7 call +1 (555) 123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |  ' :: ' || text AS dirty FROM documents)
        |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(dirty,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |  '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS clean
        |FROM d ORDER BY doc_id""".stripMargin,
    "q73_repetition_filter" ->
      """WITH r AS (SELECT doc_id,
        |  (round(1.0 - CAST(len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS DOUBLE)
        |    / len(regexp_split_to_array(lower(text), '\s+')), 4) + 0.0) AS rep_ratio
        |  FROM documents)
        |SELECT doc_id, rep_ratio, rep_ratio <= CAST(0.2 AS DOUBLE) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q68_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         |    substr(text, CAST(i * 256 + 1 AS INT), 256) AS frame
         |  FROM documents, LATERAL (SELECT unnest(range(0,
         |    CAST(greatest(ceil(length(text) / 256.0), 1) AS BIGINT))) AS i) t)
         |SELECT doc_id, frame_idx, ${krSql("frame")} AS frame_hash
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // the custom-state path must agree with the SAME declarative oracle
    "q75_stateful_sessions" -> sessionizeSql,
    "q92_jdbc_roundtrip" ->
      """SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q93_vocab_encode" ->
      """WITH raw AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents),
        |tokraw AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(arr) + 1),
        |    i -> {'pos': i, 'tok': arr[CAST(i AS INT)]})) AS u FROM raw),
        |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tokraw WHERE length(u.tok) > 0),
        |v AS (SELECT tok, count(*) AS freq FROM tok GROUP BY 1),
        |v2 AS (SELECT tok, CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS token_id FROM v),
        |seq AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids
        |  FROM tok JOIN v2 USING (tok) GROUP BY 1)
        |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS ids_fp
        |FROM seq ORDER BY doc_id""".stripMargin,
    "q91_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  -- integer // : DuckDB's CAST(double AS BIGINT) rounds to nearest,
        |  -- Spark's cast truncates — floor division sidesteps both
        |  (CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens)
        |    // 2048 AS chunk_id
        |  FROM t)
        |SELECT chunk_id, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q89_histogram" ->
      """SELECT event_type, CAST(floor(value / 25) * 25 AS BIGINT) AS bin, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q90_zscore_anomaly" ->
      """WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |i AS (SELECT day, c,
        |  CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx FROM d),
        |m AS (SELECT day, c,
        |  CAST(count(*) OVER w AS DOUBLE) AS n,
        |  CAST(CAST(sum(c) OVER w AS BIGINT) AS DOUBLE) AS sc,
        |  CAST(CAST(sum(c * c) OVER w AS BIGINT) AS DOUBLE) AS scc
        |  FROM i WINDOW w AS (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT day, c,
        |  CASE WHEN (scc / n - (sc / n) * (sc / n)) > 0
        |       AND sqrt(scc / n - (sc / n) * (sc / n)) > 0
        |    THEN (round((CAST(c AS DOUBLE) - sc / n) / sqrt(scc / n - (sc / n) * (sc / n)), 4) + 0.0)
        |    ELSE 0.0 END AS zscore
        |  FROM m)
        |SELECT day, c / 100.0 AS day_value, zscore, abs(zscore) > 2 AS anomaly
        |FROM z ORDER BY day""".stripMargin,
    "q88_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q86_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT user_id, min(ts) AS t2 FROM ev JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
        |s3 AS (SELECT user_id, min(ts) AS t3 FROM ev JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
        |SELECT stage, users FROM (
        |  SELECT '1_signup' AS stage, count(*) AS users FROM s1
        |  UNION ALL SELECT '2_view', count(*) FROM s2
        |  UNION ALL SELECT '3_purchase', count(*) FROM s3)
        |ORDER BY stage""".stripMargin,
    "q87_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM ev GROUP BY 1),
        |j AS (SELECT user_id, cohort_day,
        |  CAST(CAST(ts AS DATE) - cohort_day AS BIGINT) AS day_offset
        |  FROM ev JOIN c USING (user_id))
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort, day_offset,
        |  count(DISTINCT user_id) AS active_users
        |FROM j WHERE day_offset IN (0, 1, 7) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q85_salted_join" ->
      """WITH t AS (SELECT event_type, count(*) AS type_total FROM events GROUP BY 1)
        |SELECT event_id, event_type, type_total FROM events JOIN t USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q83_custom_udaf" ->
      """WITH c AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT event_type,
        |  (round(sqrt(CAST(CAST(sum(cents * cents) AS BIGINT) AS DOUBLE) / count(*)) / 100.0, 4) + 0.0) AS rms_value
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q94_scd2_history" ->
      """WITH ev AS (SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |ch AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM ev),
        |f AS (SELECT user_id, state, ts AS valid_from, event_id FROM ch
        |  WHERE prev IS NULL OR prev <> state)
        |SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  lead(valid_from) OVER w IS NULL AS is_current
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        |ORDER BY user_id, valid_from""".stripMargin,
    "q95_merge_upsert" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |t AS (SELECT user_id, count(*) AS tn, CAST(sum(cents) AS BIGINT) AS tc
        |  FROM ev WHERE ts < TIMESTAMP '2024-01-03' GROUP BY 1),
        |u AS (SELECT user_id, count(*) AS un, CAST(sum(cents) AS BIGINT) AS uc
        |  FROM ev WHERE ts >= TIMESTAMP '2024-01-28' GROUP BY 1)
        |SELECT user_id, coalesce(un, tn) AS n_events, coalesce(uc, tc) AS total_cents,
        |  CASE WHEN un IS NOT NULL AND tn IS NOT NULL THEN 'update'
        |       WHEN tn IS NULL THEN 'insert' ELSE 'keep' END AS merge_action
        |FROM t FULL OUTER JOIN u USING (user_id) ORDER BY user_id""".stripMargin,
    "q96_decile_stats" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |  CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS decile FROM documents)
        |SELECT decile, count(*) AS cnt, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q97_latest_per_key" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |r AS (SELECT *, CAST(row_number() OVER (
        |  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rn FROM ev)
        |SELECT user_id, event_id, event_type, ts, rn FROM r WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin,
    "q98_embed_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
        |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx FROM embeddings),
        |s AS (SELECT vec_id, embedding,
        |  CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scale FROM m),
        |q AS (SELECT vec_id, CAST(floor(scale * 1000000 + 0.5) AS BIGINT) AS scale_e6,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS codes
        |  FROM s)
        |SELECT vec_id, scale_e6,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
        |    (acc, x) -> (acc * 31 + x + 128) % 1000000007) AS codes_fp,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  CAST(len(codes) AS BIGINT) AS n_dims
        |FROM q ORDER BY vec_id""".stripMargin,
    "q99_partitioned_layout" ->
      """WITH ev AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT day, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM ev WHERE day BETWEEN '2024-01-10' AND '2024-01-14'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q100_bigram_freq" ->
      """WITH w AS (SELECT regexp_split_to_array(lower(text), '\s+') AS l FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS bigram
        |  FROM w WHERE len(l) >= 2)
        |SELECT bigram, count(*) AS cnt FROM b GROUP BY 1
        |ORDER BY cnt DESC, bigram LIMIT 40""".stripMargin,
    "q101_interval_merge" ->
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s FROM events),
        |i AS (SELECT user_id, s, s + 300000000 AS e FROM ev),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM i),
        |f AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nf FROM m),
        |g AS (SELECT *, CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY s, e
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island FROM f)
        |SELECT user_id, island, make_timestamp(min(s)) AS start_ts, make_timestamp(max(e)) AS end_ts,
        |  CAST(max(e) - min(s) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin,
    "q102_contamination" ->
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    w[CAST(i AS BIGINT)] || ' ' || w[CAST(i AS BIGINT) + 1] || ' ' || w[CAST(i AS BIGINT) + 2] AS shingle
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
        |SELECT doc_id, count(*) AS hits, count(*) >= 3 AS contaminated
        |FROM sh JOIN bench USING (shingle) WHERE doc_id % 97 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q103_token_zipf" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tok WHERE len(token) > 0
        |  GROUP BY token ORDER BY cnt DESC, token LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank, token, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
        |FROM c ORDER BY rank""".stripMargin,
    "q104_prefix_dedup" ->
      """WITH p AS (SELECT doc_id,
        |    substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 80) AS pref FROM documents)
        |SELECT doc_id, count(*) OVER (PARTITION BY pref) AS group_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY pref) AS kept
        |FROM p ORDER BY doc_id""".stripMargin,
    "q105_cluster_reps" ->
      s"""WITH ${nearDupComponentCtes("node")},
         |j AS (SELECT lab.component, lab.node AS doc_id, d.n_chars
         |  FROM lab JOIN documents d ON d.doc_id = lab.node),
         |r AS (SELECT *, count(*) OVER (PARTITION BY component) AS cluster_size,
         |  row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rk FROM j)
         |SELECT component, doc_id, n_chars, cluster_size, rk = 1 AS is_rep
         |FROM r ORDER BY component, doc_id""".stripMargin,
    "q106_sequence_assembly" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events)
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
        |  count(*) AS n_events
        |FROM e GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,
    "q107_profile" ->
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value, CAST(max($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q108_sliding_distinct" ->
      """WITH e AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM e),
        |f AS (SELECT d + CAST(i AS INTEGER) AS day, user_id
        |  FROM e, LATERAL (SELECT unnest(range(0, 7)) AS i) t)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS active
        |FROM f WHERE day IN (SELECT d FROM days)
        |GROUP BY day ORDER BY day""".stripMargin,
    "q109_train_split" ->
      """WITH s AS (SELECT n_chars,
        |  -- reduce-first multiply, mirroring Curation.trainValTestSplit:
        |  -- overflow-free in BOTH engines for the whole BIGINT id domain
        |  CASE WHEN (((doc_id % 1000000007) * 2654435761) % 1000000007) % 100 < 80 THEN 'train'
        |       WHEN (((doc_id % 1000000007) * 2654435761) % 1000000007) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split FROM documents)
        |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "q110_multimodal_features" ->
      // byte stats over the UTF-8 payload; ord(substr) == byte value on the
      // ASCII testdata (same precondition as the Karp–Rabin twin)
      """WITH b AS (SELECT doc_id, list_transform(range(1, length(text) + 1),
        |    i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS bs FROM documents),
        |f AS (SELECT doc_id, CASE WHEN len(bs) = 0
        |    THEN [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)]
        |    ELSE [CAST(len(bs) AS BIGINT), CAST(list_sum(bs) AS BIGINT), list_min(bs), list_max(bs)]
        |    END AS fs FROM b)
        |SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_features,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), fs),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS features_fp
        |FROM f ORDER BY doc_id""".stripMargin,
    "q111_incremental_agg" ->
      // FULL recompute over base ∪ delta — the merge must equal this exactly
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT user_id, count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS total_cents,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q112_image_decode" ->
      // the decoded properties of a solid-color (n_chars%16+1)×(doc_id%16+1)
      // PNG with RGB (doc_id%256, n_chars%256, 7) — pure arithmetic here,
      // genuine ImageIO parsing on the Spark side
      """SELECT doc_id, CAST(n_chars % 16 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 16 + 1 AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS mean_r,
        |  CAST(n_chars % 256 AS BIGINT) AS mean_g,
        |  CAST(7 AS BIGINT) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q113_audio_decode" ->
      // decoded WAV properties: 16 kHz, n_chars%500+1 frames, constant
      // amplitude doc_id%30000 — arithmetic here, real RIFF parsing there
      """SELECT doc_id, CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(n_chars % 500 + 1 AS BIGINT) AS n_frames,
        |  CAST(doc_id % 30000 AS BIGINT) AS peak
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q456_audio_fingerprint" -> {
      // the same seed (first 8 sha256 hex chars of the 40-char prefix),
      // the same 64-sample integer waveform, the 6 WHT butterfly stages
      // unrolled as list_transform CTEs, sign bits 1..32 packed
      val stages = Iterator.iterate(1)(_ * 2).takeWhile(_ < 64).map { bit =>
        val prev = if (bit == 1) "a0" else s"s${bit / 2}"
        s"""s$bit AS (SELECT doc_id, list_transform(range(0, 64), i ->
           |  CASE WHEN (i & $bit) = 0 THEN a[CAST(i + 1 AS INT)] + a[CAST(i + $bit + 1 AS INT)]
           |  ELSE a[CAST(i - $bit + 1 AS INT)] - a[CAST(i + 1 AS INT)] END) AS a FROM $prev)""".stripMargin
      }.mkString(",\n")
      s"""WITH sd AS (SELECT doc_id,
         |    CAST(CAST(('0x' || substr(sha256(substr(coalesce(text, ''), 1, 40)), 1, 8)) AS UBIGINT) AS BIGINT) AS seed
         |  FROM documents),
         |a0 AS (SELECT doc_id,
         |    list_transform(range(0, 64), i -> (seed + i * 2654435761) % 65536 - 32768) AS a
         |  FROM sd),
         |$stages,
         |fps AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 33), j ->
         |    CASE WHEN a[CAST(j + 1 AS INT)] > 0 THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) ELSE 0 END))
         |  AS BIGINT) AS fp FROM s32),
         |g AS (SELECT fp, min(doc_id) AS group_id, count(*) AS group_size FROM fps GROUP BY 1)
         |SELECT f.doc_id, f.fp, g.group_id, CAST(g.group_size AS BIGINT) AS group_size
         |FROM fps f JOIN g USING (fp) ORDER BY f.doc_id""".stripMargin
    },
    "q139_video_frames" ->
      // every-2nd-frame walk of a (n_chars%5+2)-frame animated GIF of
      // (doc_id%8+1)×3 solid-color frames — frame colors are pure
      // arithmetic here, genuine ImageIO container parsing on the Spark
      // side (indexed-palette GIF encoding is lossless, so means are exact)
      """WITH v AS (SELECT doc_id, n_chars, n_chars % 5 + 2 AS nf, doc_id % 8 + 1 AS w
        |  FROM documents),
        |f AS (SELECT doc_id, n_chars, nf, w, unnest(range(0, nf, 2)) AS frame_idx FROM v)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
        |  CAST((doc_id + 37 * frame_idx) % 256 AS BIGINT) AS mean_r,
        |  CAST((n_chars + 11 * frame_idx) % 256 AS BIGINT) AS mean_g,
        |  CAST((29 * frame_idx + 7) % 256 AS BIGINT) AS mean_b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "q140_token_entropy" ->
      // the identical ordered fold: per-token terms listed in sorted token
      // order, summed left-to-right from 0.0 — same IEEE ops, same order
      s"""WITH raw AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents),
        |tok AS (SELECT doc_id, unnest(arr) AS tok FROM raw),
        |tk AS (SELECT doc_id, tok, count(*) AS c FROM tok WHERE length(tok) > 0 GROUP BY 1, 2),
        |sz AS (SELECT doc_id, sum(c) AS n FROM tk GROUP BY 1),
        |terms AS (SELECT tk.doc_id, tk.tok,
        |  (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term
        |  FROM tk JOIN sz USING (doc_id)),
        |ent AS (SELECT doc_id,
        |  (round(-${orderedSumSql("term", "tok")}, 4) + 0.0) AS entropy
        |  FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(sz.n, 0) AS BIGINT) AS n_tokens,
        |  coalesce(ent.entropy, CAST(0.0 AS DOUBLE)) AS entropy
        |FROM documents d LEFT JOIN sz ON d.doc_id = sz.doc_id
        |LEFT JOIN ent ON d.doc_id = ent.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q141_incremental_neardup" -> q141Sql,
    "q114_stream_outer_join" ->
      // NULLS FIRST matches Spark's ascending null ordering
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM ev WHERE event_type = 'view')
        |SELECT p.user_id, purchase_id, view_id
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND view_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts
        |ORDER BY purchase_id, view_id NULLS FIRST""".stripMargin,
    "q84_full_outer_join" ->
      """WITH a AS (SELECT o_custkey AS custkey, count(*) AS cnt96 FROM orders
        |  WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |b AS (SELECT o_custkey AS custkey, count(*) AS cnt97 FROM orders
        |  WHERE year(o_orderdate) = 1997 GROUP BY 1)
        |SELECT custkey, coalesce(cnt96, 0) AS cnt96, coalesce(cnt97, 0) AS cnt97
        |FROM a FULL OUTER JOIN b USING (custkey) ORDER BY custkey""".stripMargin,
    "q81_stream_stream_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM ev WHERE event_type = 'view')
        |SELECT p.user_id, purchase_id, view_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND view_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts
        |ORDER BY purchase_id, view_id""".stripMargin,
    "q82_hopping_window" ->
      // Spark window(ts, 1d, 6h): epoch-aligned starts; every event belongs
      // to exactly the 4 windows starting at floor_6h(ts) - k*6h, k = 0..3
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |w AS (SELECT make_timestamp(((CAST(floor(epoch(ts) / 21600) AS BIGINT) - k.k) * 21600)
        |    * CAST(1000000 AS BIGINT)) AS bucket_start
        |  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT bucket_start, count(*) AS cnt FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_weighted_mixture" ->
      // quotas = floor(40 * w / sum(w)): src1 -> 30, src2 -> 10, others 0
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) AS rn
        |  FROM documents WHERE source IN ('src1', 'src2'))
        |WHERE rn <= CASE source WHEN 'src1' THEN 30 ELSE 10 END
        |ORDER BY source, doc_id""".stripMargin,
    "q80_moving_average" ->
      """WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |i AS (SELECT day, cents,
        |  CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx FROM d)
        |SELECT day, cents / 100.0 AS day_value,
        |  (round(CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) OVER w AS BIGINT) / 100.0, 4) + 0.0) AS ma7
        |FROM i WINDOW w AS (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q128_doc_chunking" ->
      // same window arithmetic: ceil(n/15) windows (min 1), slices of 20;
      // DuckDB zips the parallel unnests positionally
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id,
        |  unnest(range(0, greatest(CAST(ceil(len(tk) / 15.0) AS BIGINT), 1))) AS chunk_id,
        |  unnest(list_transform(range(0, greatest(CAST(ceil(len(tk) / 15.0) AS BIGINT), 1)),
        |    i -> array_to_string(tk[i * 15 + 1 : i * 15 + 20], ' '))) AS chunk,
        |  unnest(list_transform(range(0, greatest(CAST(ceil(len(tk) / 15.0) AS BIGINT), 1)),
        |    i -> CAST(len(tk[i * 15 + 1 : i * 15 + 20]) AS BIGINT))) AS chunk_tokens
        |FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk, chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q129_forward_fill" ->
      """SELECT event_id, user_id, ts,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q130_unicode_normalize" ->
      // chr(769)/chr(776) = the same combining acute/diaeresis the engine
      // appends; both engines implement Unicode NFC, both count code points
      """WITH r AS (SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  nfc_normalize(raw) AS norm_text,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_norm
        |FROM r ORDER BY doc_id""".stripMargin,
    "q131_attribution" ->
      // rn is unique inside each user, so min_by/max_by on it are
      // deterministic — the window twin of the engine's struct min/max
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |fp AS (SELECT user_id, min(rn) AS prn FROM e
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |ft AS (SELECT user_id, min_by(event_type, rn) AS first_touch FROM e GROUP BY 1),
        |lt AS (SELECT e.user_id, max_by(e.event_type, e.rn) AS last_touch
        |       FROM e JOIN fp USING (user_id) WHERE e.rn < fp.prn GROUP BY 1),
        |cv AS (SELECT e.user_id, e.ts AS conversion_at
        |       FROM e JOIN fp USING (user_id) WHERE e.rn = fp.prn)
        |SELECT cv.user_id, ft.first_touch, lt.last_touch, cv.conversion_at
        |FROM cv JOIN ft USING (user_id) LEFT JOIN lt USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q132_manifest_prune" ->
      // pruning is invisible to correctness: the oracle is the full filter
      """SELECT event_id, ts, user_id, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |ORDER BY event_id""".stripMargin,
    "q133_compaction" ->
      """SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d') AS day
        |FROM events ORDER BY event_id""".stripMargin,
    "q134_embed_centroids" ->
      // identical fixed-point scaling: float→double cast and ·10⁶ are
      // IEEE-exact, round is half-away-from-zero in both engines
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    unnest(range(0, len(embedding))) AS pos FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, pos,
        |  CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,
    "q137_budget_select" ->
      // q51's quality formula + a plain windowed cumsum — the oracle can
      // afford the global window the engine's two-phase rewrite avoids
      """WITH f AS (SELECT doc_id,
        |CAST(length(text) AS DOUBLE) AS len,
        |CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS toks,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
        |CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS DOUBLE) AS stop
        |FROM documents),
        |q AS (SELECT doc_id, (round(
        |(CASE WHEN len >= 100 AND len <= 10000 THEN CAST(1.0 AS DOUBLE) WHEN len >= 20 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
        |+ (CASE WHEN len > 0 THEN alpha / len ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
        |+ (CASE WHEN toks > 0 THEN least(stop / toks * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE),
        |4) + 0.0) AS quality, CAST(toks AS BIGINT) AS toks FROM f),
        |c AS (SELECT doc_id, quality, toks,
        |  sum(toks) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens FROM q)
        |SELECT doc_id, quality, toks, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 100000 ORDER BY doc_id""".stripMargin,
    "q138_cluster_split" ->
      // q77's component CTE; unpaired docs are singleton clusters; the
      // same reduce-first hash as q109, applied to the component id
      s"""WITH ${nearDupComponentCtes("node AS a")},
         |dc AS (SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component, d.n_chars
         |       FROM documents d LEFT JOIN lab l ON d.doc_id = l.a),
         |s AS (SELECT *, (((component % 1000000007) * 2654435761) % 1000000007) % 100 AS cell FROM dc)
         |SELECT CASE WHEN cell < 80 THEN 'train' WHEN cell < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM s GROUP BY 1 ORDER BY split""".stripMargin,
    "q135_scd2_lookup" ->
      // the q94 history CTE over non-purchase events, consumed by a
      // validity-window join; versions are non-overlapping so each purchase
      // matches at most one — LEFT keeps pre-history purchases with NULL
      """WITH ev AS (SELECT user_id, event_type AS state, ts, event_id
        |  FROM events WHERE event_type <> 'purchase'),
        |ch AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM ev),
        |f AS (SELECT user_id, state, ts AS valid_from, event_id FROM ch
        |  WHERE prev IS NULL OR prev <> state),
        |d AS (SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to FROM f),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, d.state AS state_at_purchase
        |FROM p LEFT JOIN d ON p.user_id = d.user_id
        |  AND d.valid_from <= p.ts AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |ORDER BY p.event_id""".stripMargin,
    "q136_inverted_index" ->
      // list_reduce seeds with the first element — identical to the
      // engine's 0-seeded fold because (0·31 + x) mod M = x for doc ids < M
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |p AS (SELECT term, list_sort(list(DISTINCT doc_id)) AS postings,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM t WHERE term <> '' GROUP BY term)
        |SELECT term, df, postings[1] AS first_doc, postings[-1] AS last_doc,
        |  list_reduce(postings, (a, x) -> (a * 31 + x) % 1000000007) AS postings_fp
        |FROM p ORDER BY term""".stripMargin,
    "q77_neardup_components" ->
      s"""WITH ${nearDupComponentCtes("node AS a")}
         |SELECT a AS doc_id, component, component = a AS is_canonical
         |FROM lab ORDER BY doc_id""".stripMargin)
}
