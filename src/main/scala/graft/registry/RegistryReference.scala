package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal

import SparkEntry._
import graft.storage.Materialize.scratch

/** Registry part: the reference surface (q01-q40) and the round-5/6 stats batch (q143-q172).
  *
  * Each key is ONE record in `keys`, which sits last so that every val an
  * oracle reads is set before it: a [[SparkEntry.Key]] (frame, DuckDB oracle,
  * plan note) or a retired key's [[SparkEntry.Alias]]. SparkEntry's maps
  * project the records; RegistrySpec pins the key set.
  */
private[graft] object RegistryReference {
  val keys: Seq[Entry] = Seq(
    // ---------------------------------------------------------- §2.1 sources
    Key("q01_csv_scan", (s, dir) => {
      val region = T(s, dir, "region")
      val tmp = scratch("q01_csv", dir)
      region.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").schema(region.schema).csv(tmp).orderBy("r_regionkey")
    },
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    Key("q02_json_flatten", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType.fromDDL("k INT")).getField("k").as("k"))
        .orderBy("event_id"),
      "SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events ORDER BY event_id"),
    Key("q03_json_explode", (s, dir) => {
      // build the 2-level nested shape (threads[].posts[]-like), then unnest both levels.
      // TEST-SHAPE-ONLY synthesis: the two collect_list groupBys exist solely to
      // MANUFACTURE the nested input from flat TPC-H rows (real nested data
      // arrives nested from the source, e.g. q02's from_json). At scale,
      // collect_list on a skewed key is unbounded per-group state — never use
      // this build pattern on production-sized groups; the operator under test
      // here is the double explode below, which is map-side and scale-safe.
      val items = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_linenumber"), col("l_quantity"))).as("items"))
      val nested = T(s, dir, "orders")
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(collect_list(struct(col("o_orderkey"), col("items"))).as("orders_arr"))
      nested.select(col("o_custkey").as("custkey"), explode(col("orders_arr")).as("o"))
        .select(col("custkey"), explode(col("o.items")).as("it"))
        .groupBy(col("custkey"))
        // exact integer-cents sum: order-independent, bit-identical to the oracle
        .agg((sum(ops.Num.roundz(col("it.l_quantity") * 100, 0).cast("long")) / 100.0).as("sum_qty"))
        .orderBy("custkey")
    },
      """SELECT o_custkey AS custkey, sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY custkey""".stripMargin,
      note = "two generate (explode) stages run map-side in one scan; no shuffle before the final sort"),
    Key("q04_table_sink_append", (s, dir) => {
      val sink = scratch("q04_sink", dir)
      val li = T(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "R").write.mode("overwrite").parquet(sink)
      li.filter(col("l_returnflag") === "A").write.mode("append").parquet(sink)
      s.read.parquet(sink).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt")).orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE l_returnflag IN ('A', 'R') GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "append sink round-trip: the cost is the table write+read I/O, not an exchange"),
    Key("q05_table_scan", (s, dir) => T(s, dir, "orders").orderBy("o_orderkey"),
      "SELECT * FROM orders ORDER BY o_orderkey"),
    // ---------------------------------------------------------- §2.2 filters
    Key("q06_project", (s, dir) =>
      T(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey"),
    Key("q07_ts_range_filter", (s, dir) =>
      // ORDER BY every output column: the testdata's (l_orderkey,
      // l_linenumber) is NOT unique (118k dup pairs at sf0.1), so the
      // 2-column sort was only total by luck — the sf1 replay caught the
      // tie order diverging between engines once Spark sorts across 32
      // real partitions. Sorting on the full projection is total up to
      // fully-duplicate rows, which the value compare is insensitive to.
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber", "l_shipdate"),
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_shipdate""".stripMargin,
      note = "range predicate in PushedFilters; 3-column ReadSchema"),
    Key("q08_between_filter", (s, dir) =>
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate").between(
          lit("1997-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment, count(*) AS cnt FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Key("q09_recency_filter", (s, dir) =>
      Relational.recentWithin(T(s, dir, "events"), "ts", "1 DAY")
        .select(col("event_id"), col("ts"), col("event_type")).orderBy("event_id"),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |WHERE CAST(ts AS TIMESTAMP) > (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 1 DAY
        |ORDER BY event_id""".stripMargin),
    Key("q10_date_cast_filter", (s, dir) =>
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .filter(col("day").between("2024-01-10", "2024-01-19"))
        .groupBy(col("day")).agg(count(lit(1)).as("cnt")).orderBy("day"),
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt FROM events
        |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-19'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---------------------------------------------------------- §2.3 joins
    Key("q11_inner_equijoin", (s, dir) =>
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          (sum(ops.Num.roundz(col("o_totalprice") * 100, 0).cast("long")) / 100.0).as("sum_price"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment, count(*) AS cnt,
        |sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "fact-fact equi-join, two-phase agg above it"),
    Key("q12_anti_join_dedup", (s, dir) =>
      Relational.antiDedup(
        T(s, dir, "customer"),
        T(s, dir, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))
        .select(col("c_custkey")).orderBy("c_custkey"),
      """SELECT c_custkey FROM customer c WHERE NOT EXISTS
        |(SELECT 1 FROM orders o WHERE o.o_orderstatus = 'P' AND o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
      note = "LeftAnti (broadcast at this size), no per-row probes"),
    Key("q13_composite_key_anti", (s, dir) => {
      val li = T(s, dir, "lineitem")
      Relational.antiDedup(
        li.filter(col("l_returnflag") === "N").select(col("l_orderkey"), col("l_suppkey")).distinct(),
        li.filter(col("l_returnflag") === "R").select(col("l_orderkey"), col("l_suppkey")),
        Seq("l_orderkey", "l_suppkey"))
        .orderBy("l_orderkey", "l_suppkey")
    },
      """SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem l
        |WHERE l_returnflag = 'N' AND NOT EXISTS
        |(SELECT 1 FROM lineitem r WHERE r.l_returnflag = 'R'
        | AND r.l_orderkey = l.l_orderkey AND r.l_suppkey = l.l_suppkey)
        |ORDER BY l_orderkey, l_suppkey""".stripMargin,
      note = "LeftAnti on the composite key (broadcast at this size); no pre-distinct"),
    // ---------------------------------------------------------- §2.4 aggs
    Key("q14_count_global", (s, dir) => T(s, dir, "lineitem").agg(count(lit(1)).as("cnt")),
      "SELECT count(*) AS cnt FROM lineitem"),
    Key("q15_groupby_count", (s, dir) =>
      T(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1"),
    Key("q16_groupby_multi", (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus", "ship_year"),
      """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |count(*) AS cnt FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Key("q17_topk_groups", (s, dir) => Relational.topKGroups(T(s, dir, "orders"), "o_orderpriority", 10),
      """SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1
        |ORDER BY cnt DESC, o_orderpriority LIMIT 10""".stripMargin,
      note = "TakeOrderedAndProject instead of global sort"),
    Key("q18_tumbling_day_count", (s, dir) =>
      Relational.tumblingCounts(T(s, dir, "events"), "ts", "1 day").orderBy("bucket_start"),
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket_start, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Key("q19_share_of_total", (s, dir) =>
      Relational.shareOfTotal(T(s, dir, "events"), "event_type").orderBy("event_type"),
      """SELECT event_type, count(*) AS cnt,
        |(round(count(*) * 100.0 / sum(count(*)) OVER (), 4) + 0.0) AS pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---------------------------------------------------------- §2.5 sort/window
    Key("q20_orderby_ts", (s, dir) =>
      T(s, dir, "events").select(col("event_id"), col("ts"), col("event_type"))
        .orderBy("ts", "event_id"),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |ORDER BY ts, event_id""".stripMargin),
    Key("q21_orderby_desc_limit", (s, dir) =>
      T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    Key("q22_running_state", (s, dir) =>
      Relational.runningState(T(s, dir, "events"), "user_id", "ts", "event_id", "value")
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("user_id", "rn"),
      """SELECT user_id, event_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
        |lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY user_id, rn""".stripMargin),
    // ---------------------------------------------------------- §2.6 set ops
    Key("q23_union_all", (s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_orderkey"), lit("open").as("src"))
        .unionByName(
          o.filter(col("o_totalprice") > 400000).select(col("o_orderkey"), lit("big").as("src")))
        .orderBy("o_orderkey", "src")
    },
      """SELECT o_orderkey, src FROM (
        |SELECT o_orderkey, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, 'big' AS src FROM orders WHERE o_totalprice > 400000)
        |ORDER BY o_orderkey, src""".stripMargin),
    // ---------------------------------------------------------- §2.7 scalar fns
    Key("q24_url_strip", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.stripUrls(
          concat(lit("see https://example.com/d/"), col("doc_id"), lit(" :: "), col("text")))
          .as("clean"))
        .orderBy("doc_id"),
      """SELECT doc_id, regexp_replace('see https://example.com/d/' || CAST(doc_id AS VARCHAR) || ' :: ' || text,
        |'https?://\S+', '', 'g') AS clean FROM documents ORDER BY doc_id""".stripMargin),
    Key("q25_normalize_text", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.normalizeText(upper(col("text"))).as("normalized"))
        .orderBy("doc_id"),
      """SELECT doc_id, lower(regexp_replace(upper(text), '[^a-zA-Z0-9\s]', '', 'g')) AS normalized
        |FROM documents ORDER BY doc_id""".stripMargin),
    Key("q26_html_to_text", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.htmlToText(
          concat(lit("<p>Line &amp; <b>"), col("text"), lit("</b> &gt;&gt;42 tail</p>")))
          .as("clean"))
        .orderBy("doc_id"),
      """SELECT doc_id, regexp_replace(regexp_replace(
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |'<p>Line &amp; <b>' || text || '</b> &gt;&gt;42 tail</p>',
        |'<[^>]+>', '', 'g'), '&gt;', '>', 'g'), '&lt;', '<', 'g'), '&quot;', '"', 'g'),
        |'&#039;', '''', 'g'), '&amp;', '&', 'g'), '>>\d+', '', 'g'), '^>+', '', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),
    Key("q27_epoch_to_ts", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"), TextFunctions.epochToTs(col("ts").cast("long")).as("ts_sec"))
        .orderBy("event_id"),
      """SELECT event_id, make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) * 1000000) AS ts_sec
        |FROM events ORDER BY event_id""".stripMargin),
    Key("q28_iso_parse", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"), TextFunctions.isoParse(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("parsed"))
        .orderBy("event_id"),
      """SELECT event_id, strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ'),
        |'%Y-%m-%dT%H:%M:%SZ') AS parsed FROM events ORDER BY event_id""".stripMargin),
    Key("q29_date_format", (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"), TextFunctions.dayString(col("o_orderdate")).as("day"))
        .orderBy("o_orderkey"),
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders ORDER BY o_orderkey"),
    Key("q30_date_arith", (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due"))
        .orderBy("o_orderkey"),
      "SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY AS due FROM orders ORDER BY o_orderkey"),
    Key("q31_scalar_math", (s, dir) =>
      T(s, dir, "events")
        .groupBy(TextFunctions.dayString(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("extrapolated", ops.Num.roundz(col("cnt") / lit(10.0) * lit(5.5), 2))
        .orderBy("day"),
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt,
        |(round(count(*) / 10.0 * 5.5, 2) + 0.0) AS extrapolated FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Key("q32_json_get", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"), TextFunctions.jsonGetLong(col("props"), "k", -1).as("k"))
        .orderBy("event_id"),
      """SELECT event_id, coalesce(CAST(json_extract(props, '$.k') AS BIGINT), -1) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    Key("q33_null_guard", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          when(col("text").isNull || length(col("text")) === 0, lit("not a string"))
            .otherwise(substring(col("text"), 1, 20)).as("guarded"))
        .orderBy("doc_id"),
      """SELECT doc_id, CASE WHEN text IS NULL OR length(text) = 0 THEN 'not a string'
        |ELSE substr(text, 1, 20) END AS guarded FROM documents ORDER BY doc_id""".stripMargin),
    // ---------------------------------------------------------- §2.8 UDF surface
    Key("q34_sentiment_udf", (s, dir) =>
      // native codegen'd expression (functions/LexiconScore.scala): scoring
      // is one map-side byte loop per row — no token explode, no join, no
      // exchange; bit-parity with the relational and UDF forms is spec'd
      Sentiment.scoreByLexiconNative(T(s, dir, "documents"), "text")
        .select(col("doc_id"), col("sentiment_score"), col("sentiment"))
        .orderBy("doc_id"),
      s"""WITH lex(word, tenths) AS (VALUES $lexValues),
         |tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word FROM documents),
         |sc AS (SELECT doc_id, sum(tenths) / 10.0 AS sv FROM tok JOIN lex USING (word) GROUP BY doc_id)
         |SELECT d.doc_id,
         |(round(coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0), 4) + 0.0) AS sentiment_score,
         |CASE WHEN coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0) >= 0.05 THEN 'positive'
         |     WHEN coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0) <= -0.05 THEN 'negative'
         |     ELSE 'neutral' END AS sentiment
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
      note = "lexicon BroadcastHashJoin; only (doc_id, tenths) shuffles"),
    Key("q35_hate_udf", (s, dir) =>
      Moderation.classify(T(s, dir, "documents"), "text")
        .select(col("doc_id"), col("is_hate_speech"), col("hate_speech_confidence"))
        .orderBy("doc_id"),
      """WITH h AS (SELECT doc_id,
        |CAST(len(regexp_extract_all(lower(text), '\b(error|slow|bad|crash|fail)\b')) AS DOUBLE) AS hits
        |FROM documents)
        |SELECT doc_id, (round(hits / (hits + 1.0), 4) + 0.0) > 0.9 AS is_hate_speech,
        |(round(hits / (hits + 1.0), 4) + 0.0) AS hate_speech_confidence FROM h ORDER BY doc_id""".stripMargin),
    Key("q36_case_label", (s, dir) =>
      T(s, dir, "events").groupBy(valueBucket.as("label")).agg(count(lit(1)).as("cnt"))
        .orderBy("label"),
      """SELECT CASE WHEN value >= 100 THEN 'high' WHEN value >= 50 THEN 'mid' ELSE 'low' END AS label,
        |count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---------------------------------------------------------- §2.9 streaming
    Key("q37_microbatch_trigger", (s, dir) =>
      Streaming.countsByType(s, dir).orderBy("event_type"),
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),
    Key("q38_stream_dedup", (s, dir) =>
      Streaming.streamDedupKeys(s, dir).orderBy("user_id"),
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
      note = "dropDuplicatesWithinWatermark state keyed on user_id only (4 state partitions); the exchange carries (user_id, ts), eviction by the 30-day watermark"),
    Key("q39_late_data_drop", (s, dir) =>
      Relational.recentWithin(T(s, dir, "events"), "ts", "12 HOURS")
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt")).orderBy("event_type"),
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE CAST(ts AS TIMESTAMP) > (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 12 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Key("q40_incremental_enrich", (s, dir) => {
      val ev = T(s, dir, "events")
      val existing = ev.filter(col("event_id") % 10 === 0).select(col("event_id"))
      Streaming.incrementalEnrich(ev, existing, "event_id")(
        _.withColumn("label", valueBucket))
        .groupBy(col("label")).agg(count(lit(1)).as("cnt")).orderBy("label")
    },
      """SELECT CASE WHEN value >= 100 THEN 'high' WHEN value >= 50 THEN 'mid' ELSE 'low' END AS label,
        |count(*) AS cnt FROM events e WHERE NOT EXISTS
        |(SELECT 1 FROM events x WHERE x.event_id % 10 = 0 AND x.event_id = e.event_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Key("q143_stream_static_join", (s, dir) =>
      // per-micro-batch broadcast join against a static dimension — no
      // streaming state anywhere; complete-mode agg equals the batch twin
      Streaming.streamStaticTierCounts(s, dir).orderBy("tier"),
      """SELECT CASE CAST(user_id % 5 AS INT) WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
        |WHEN 2 THEN 'gold' WHEN 3 THEN 'platinum' ELSE 'diamond' END AS tier,
        |count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Key("q144_expectations", (s, dir) =>
      // ingest-gate quality audit: the whole rule set in ONE scan; a rule
      // passes only when TRUE (NULL strict-fails)
      Profiling.expectations(T(s, dir, "events"), Seq(
        "value_present_non_negative" -> (col("value").isNotNull && col("value") >= 0),
        "value_at_most_100" -> (col("value") <= 100),
        "user_id_present" -> col("user_id").isNotNull,
        "props_nonempty" -> (length(col("props")) > 0)))
        .orderBy("rule"),
      // same strict pass rule (TRUE passes, NULL fails) via coalesce
      """WITH t AS (SELECT count(*) AS total,
        |  sum(CASE WHEN coalesce(value IS NOT NULL AND value >= 0, false) THEN 0 ELSE 1 END) AS v_nonneg,
        |  sum(CASE WHEN coalesce(value <= 100, false) THEN 0 ELSE 1 END) AS v_max,
        |  sum(CASE WHEN coalesce(user_id IS NOT NULL, false) THEN 0 ELSE 1 END) AS v_uid,
        |  sum(CASE WHEN coalesce(length(props) > 0, false) THEN 0 ELSE 1 END) AS v_props
        |  FROM events)
        |SELECT rule, CAST(violations AS BIGINT) AS violations, CAST(total AS BIGINT) AS total,
        |  CAST((10000 * (total - violations)) // total AS BIGINT) AS pass_bp
        |FROM (
        |  SELECT 'value_present_non_negative' AS rule, v_nonneg AS violations, total FROM t
        |  UNION ALL SELECT 'value_at_most_100', v_max, total FROM t
        |  UNION ALL SELECT 'user_id_present', v_uid, total FROM t
        |  UNION ALL SELECT 'props_nonempty', v_props, total FROM t)
        |ORDER BY rule""".stripMargin,
      note = "all rules in one global aggregate (partial+final, no Expand); explode emits the per-rule rows"),
    Key("q145_weighted_sample", (s, dir) =>
      // A-ES weighted sampling via the exponential race: 100 docs drawn
      // w.p. proportional to length — global top-n plans as
      // TakeOrderedAndProject (per-partition heap), never a full sort
      Curation.weightedPrioritySample(T(s, dir, "documents"), "doc_id", "n_chars", n = 100)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("priority"))
        .orderBy("doc_id"),
      // same exponential-race key: u from the integer pseudo-shuffle, one
      // ln + one divide, rounded to 10 dp with the id tie-break
      """SELECT doc_id, lang, n_chars, priority FROM (
        |  SELECT doc_id, lang, n_chars,
        |    (round(-ln((((doc_id % 1000003) * 2654435761) % 1000003 + 1) / 1000004.0)
        |      / CAST(n_chars AS DOUBLE), 10) + 0.0) AS priority
        |  FROM documents ORDER BY priority, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
      note = "exponential-race key map-side; global top-n is TakeOrderedAndProject (per-partition heap), no full sort"),
    Key("q146_rolling_median", (s, dir) => {
      // robust 7-day trend line: exact median over a bounded frame of
      // per-day aggregates — per-row state is O(frame), not O(partition)
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), TextFunctions.dayString(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      Relational.rollingMedian(daily, "event_type", "day", "cnt", frameRows = 7)
        .orderBy("event_type", "day")
    },
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cnt,
        |  median(cnt) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rolling_median
        |FROM d ORDER BY event_type, day""".stripMargin,
      note = "bounded collect_list frame inside the key-partitioned window; the only exchange is the key hash"),
    Key("q147_mad_outliers", (s, dir) => {
      // breakdown-robust anomaly flags: |cnt − median| > 3·MAD per event
      // type — exact interpolating percentiles over integer counts, group
      // stats broadcast back so the daily frame never reshuffles
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), TextFunctions.dayString(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      Profiling.madOutliers(daily, "event_type", "cnt", k = 3.0)
        .select(col("event_type"), col("day"), col("cnt"), col("med"),
          col("mad"), col("is_outlier"))
        .orderBy("event_type", "day")
    },
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, median(cnt) AS med FROM d GROUP BY 1),
        |dev AS (SELECT d.event_type, d.day, d.cnt, m.med,
        |  abs(CAST(d.cnt AS DOUBLE) - m.med) AS dv FROM d JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(dv) AS mad FROM dev GROUP BY 1)
        |SELECT dev.event_type, day, cnt, med, mad, dv > mad * 3.0 AS is_outlier
        |FROM dev JOIN md USING (event_type) ORDER BY event_type, day""".stripMargin,
      note = "two grouped exact percentiles; med/mad stat frames re-join as BroadcastHashJoin — the daily frame never reshuffles"),
    Key("q148_unigram_logprob", (s, dir) =>
      // corpus-unigram perplexity stand-in: per-doc avg negative
      // log-likelihood under the corpus's own token distribution
      TextAnalysis.unigramLogProb(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // the identical ordered fold as q140, over corpus-frequency terms
      s"""WITH raw AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents),
        |tok AS (SELECT doc_id, unnest(arr) AS tok FROM raw),
        |tk AS (SELECT doc_id, tok, count(*) AS c FROM tok WHERE length(tok) > 0 GROUP BY 1, 2),
        |cf AS (SELECT tok, sum(c) AS cf FROM tk GROUP BY 1),
        |n AS (SELECT sum(cf) AS n FROM cf),
        |sz AS (SELECT doc_id, sum(c) AS nt FROM tk GROUP BY 1),
        |terms AS (SELECT tk.doc_id, tk.tok,
        |  CAST(c AS DOUBLE) * ln(CAST(cf AS DOUBLE) / CAST(n.n AS DOUBLE)) AS term
        |  FROM tk JOIN cf USING (tok) CROSS JOIN n),
        |s AS (SELECT t.doc_id,
        |  (round(-${orderedSumSql("term", "tok")} / CAST(any_value(sz.nt) AS DOUBLE), 4) + 0.0) AS avg_nll
        |  FROM terms t JOIN sz ON t.doc_id = sz.doc_id GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(coalesce(sz.nt, 0) AS BIGINT) AS n_tokens,
        |  coalesce(s.avg_nll, CAST(0.0 AS DOUBLE)) AS avg_nll
        |FROM documents d LEFT JOIN sz ON d.doc_id = sz.doc_id
        |LEFT JOIN s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,
      note = "one (id, token) exchange; cf and N broadcast back; ordered fold inside the per-doc aggregate"),
    Key("q149_time_travel", (s, dir) => {
      // snapshot-isolation time travel: v1 commits the first half-month,
      // v2 appends the rest to the SAME directory; reading v1 afterwards
      // must not see the appended files — the txn-log read, not a data copy
      val tmp = scratch("q149_tt", dir)
      val log = scratch("q149_tt_log", dir)
      val ev = T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
      ev.filter(col("day") < "2024-01-16")
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      graft.storage.Storage.commitSnapshot(s, tmp, log, 1L, reset = true)
      ev.filter(col("day") >= "2024-01-16")
        .write.mode("append").partitionBy("day").parquet(tmp)
      graft.storage.Storage.commitSnapshot(s, tmp, log, 2L)
      graft.storage.Storage.readSnapshot(s, tmp, log, 1L)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("sum_id"))
        .orderBy("day")
    },
      // v1's snapshot ≡ the rows that existed before the second append
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_id FROM events
        |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') < '2024-01-16'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "txn-log snapshot resolved driver-side; the scan reads exactly the snapshot's files"),
    Key("q150_snapshot_diff", (s, dir) => {
      // incremental consumption: process ONLY the files the v2 commit added
      // — the change-feed read whose cost tracks the increment, not the
      // table (file-granularity complement of q123's row-level CDC)
      val tmp = scratch("q150_sd", dir)
      val log = scratch("q150_sd_log", dir)
      val ev = T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
      ev.filter(col("day") < "2024-01-16")
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      graft.storage.Storage.commitSnapshot(s, tmp, log, 1L, reset = true)
      ev.filter(col("day") >= "2024-01-16")
        .write.mode("append").partitionBy("day").parquet(tmp)
      graft.storage.Storage.commitSnapshot(s, tmp, log, 2L)
      graft.storage.Storage.readSnapshotDiff(s, tmp, log, 1L, 2L)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("sum_id"))
        .orderBy("day")
    },
      // the v1→v2 increment ≡ the rows the second append landed
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_id FROM events
        |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') >= '2024-01-16'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "change-feed read: only the chosen commit's added files are scanned"),
    Key("q151_transition_matrix", (s, dir) =>
      // first-order Markov journey matrix: which event follows which, and
      // how often — one user-hash window + a matrix-sized share window
      Relational.transitionMatrix(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type"),
      """WITH p AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type FROM events),
        |m AS (SELECT from_type, to_type, count(*) AS cnt FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |  CAST((10000 * cnt) // sum(cnt) OVER (PARTITION BY from_type) AS BIGINT) AS share_bp
        |FROM m ORDER BY from_type, to_type""".stripMargin,
      note = "one user-hash lead window; share window over the |states|²-row aggregated matrix, never events"),
    Key("q152_winsorize", (s, dir) => {
      // robust clipping to per-type [p05, p95] DISCRETE percentiles — cut
      // points are actual elements, so the audit sums stay exact longs
      val ev = T(s, dir, "events")
        .withColumn("cents", ops.Num.roundz(col("value") * 100, 0).cast("long"))
      Profiling.winsorize(ev, "event_type", "cents", 0.05, 0.95)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("clipped_low"), 1L).otherwise(0L)).as("clipped_low"),
          sum(when(col("clipped_high"), 1L).otherwise(0L)).as("clipped_high"),
          sum(col("winsorized")).as("sum_winsorized"))
        .orderBy("event_type")
    },
      // quantile_disc ≡ SQL-standard percentile_disc: actual elements, so
      // the winsorized sum is exact integer arithmetic end-to-end
      """WITH e AS (SELECT event_type,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |c AS (SELECT event_type, quantile_disc(cents, 0.05) AS lo,
        |  quantile_disc(cents, 0.95) AS hi FROM e GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS clipped_low,
        |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS clipped_high,
        |  CAST(sum(greatest(least(cents, hi), lo)) AS BIGINT) AS sum_winsorized
        |FROM e JOIN c USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "one grouped percentile_disc pass; cut frame re-joins as BroadcastHashJoin — the fact side never reshuffles"),
    Key("q153_journey_trigrams", (s, dir) =>
      // order-3 behavioral n-grams: two leads share ONE user-hash window;
      // rank runs after the top-k limit (bounded by k, the q103 discipline)
      Relational.journeyTrigrams(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", k = 25)
        .orderBy("rank"),
      """WITH p AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS step3 FROM events),
        |m AS (SELECT step1, step2, step3, count(*) AS cnt FROM p
        |  WHERE step2 IS NOT NULL AND step3 IS NOT NULL GROUP BY 1, 2, 3
        |  ORDER BY cnt DESC, step1, step2, step3 LIMIT 25)
        |SELECT step1, step2, step3, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, step1, step2, step3) AS BIGINT) AS rank
        |FROM m ORDER BY rank""".stripMargin,
      note = "both leads in ONE user-hash window stage; TakeOrderedAndProject top-k; rank after the limit"),
    Key("q154_interevent_gaps", (s, dir) =>
      // latency fingerprint: whole-second gaps since the user's previous
      // event, summarized with DISCRETE percentiles — exact longs only
      Relational.interEventGaps(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("event_type"),
      // floor(gap_us / 1e6): // on non-negative BIGINTs ≡ Spark's `div`
      """WITH g AS (SELECT event_type,
        |  (epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP), 1)
        |    OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)))
        |    // 1000000 AS gap_s
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(quantile_disc(gap_s, 0.5) AS BIGINT) AS p50_s,
        |  CAST(quantile_disc(gap_s, 0.9) AS BIGINT) AS p90_s,
        |  CAST(max(gap_s) AS BIGINT) AS max_s
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "one lag window on the user hash, then a two-phase agg per event type — nothing global"),
    Key("q155_heavy_hitters", (s, dir) => {
      // Misra–Gries candidates (map-side, k counters per partition) +
      // exact recount of candidates only — the vocabulary never shuffles
      import s.implicits._
      val toks = T(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("item"))
        .filter(length(col("item")) > 0).as[String]
      ops.Sketch.heavyHitters(toks, shareBp = 100L).orderBy("item")
    },
      // the sketch only proposes candidates — the answer is this exact query
      """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS item FROM documents),
        |t AS (SELECT item FROM tok WHERE length(item) > 0),
        |n AS (SELECT count(*) AS total FROM t)
        |SELECT item, cnt, CAST((10000 * cnt) // total AS BIGINT) AS share_bp FROM (
        |  SELECT item, count(*) AS cnt FROM t GROUP BY 1) CROSS JOIN n
        |WHERE cnt >= (total * 100 + 9999) // 10000
        |ORDER BY item""".stripMargin),
    Key("q156_unpivot", (s, dir) =>
      // wide→long reshape (melt), q66's inverse: the crosstab unpivots back
      // to (day, event_type, cnt) rows — native `unpivot` plans an Expand,
      // a pure map-side row fan-out with no exchange
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1))).na.fill(0)
        .unpivot(Array(col("day")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "cnt")
        .orderBy("day", "event_type"),
      // the melt round-trip keeps pivot's zero-filled cells as explicit rows
      """WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM d),
        |types AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type)
        |SELECT days.day, types.event_type, CAST(coalesce(d.cnt, 0) AS BIGINT) AS cnt
        |FROM days CROSS JOIN types
        |LEFT JOIN d ON d.day = days.day AND d.event_type = types.event_type
        |ORDER BY 1, 2""".stripMargin),
    Key("q157_cube", (s, dir) =>
      // full 2-D cube: every (type, day) cell, both 1-D margins, and the
      // grand total in ONE pass — rollup's (q64) superset, same Expand-based
      // plan (no re-scan per granularity)
      T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .withColumn("cents", ops.Num.roundz(col("value") * 100, 0).cast("long"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first),
      """SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY CUBE (event_type, day)
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin),
    Key("q158_psi_drift", (s, dir) =>
      // distribution drift: PSI of the value histogram, first half-month vs
      // second, per event type — the training-data freshness gate
      Stats.psiDrift(
        T(s, dir, "events")
          .withColumn("cents", ops.Num.roundz(col("value") * 100, 0).cast("long"))
          .withColumn("period",
            when(TextFunctions.dayString(col("ts")) < "2024-01-16", "a").otherwise("b")),
        "event_type", "cents", "period", bins = 10, binWidth = 5000L)
        .orderBy("event_type"),
      // identical smoothed-term formula and bin-ordered fold as the Spark
      // side; the explicit spine makes absent bins contribute in both
      s"""WITH e AS (SELECT event_type AS g,
        |  CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') < '2024-01-16'
        |    THEN 'a' ELSE 'b' END AS p,
        |  least(CAST(round(value * 100, 0) AS BIGINT) // 5000, 9) AS bin FROM events),
        |c AS (SELECT g, bin, count(*) FILTER (p = 'a') AS ca,
        |  count(*) FILTER (p = 'b') AS cb FROM e GROUP BY 1, 2),
        |t AS (SELECT g, sum(ca) AS na, sum(cb) AS nb FROM c GROUP BY 1),
        |spine AS (SELECT g, unnest(range(10)) AS bin FROM (SELECT DISTINCT g FROM e)),
        |terms AS (SELECT spine.g, spine.bin, t.na, t.nb,
        |  (CAST(coalesce(c.ca, 0) + 1 AS DOUBLE) / (t.na + 10) -
        |   CAST(coalesce(c.cb, 0) + 1 AS DOUBLE) / (t.nb + 10)) *
        |  ln((CAST(coalesce(c.ca, 0) + 1 AS DOUBLE) / (t.na + 10)) /
        |     (CAST(coalesce(c.cb, 0) + 1 AS DOUBLE) / (t.nb + 10))) AS term
        |  FROM spine LEFT JOIN c ON spine.g = c.g AND spine.bin = c.bin
        |  JOIN t ON spine.g = t.g)
        |SELECT g AS event_type, CAST(any_value(na) AS BIGINT) AS n_a,
        |  CAST(any_value(nb) AS BIGINT) AS n_b,
        |  (round(${orderedSumSql("term", "bin")}, 4) + 0.0) AS psi
        |FROM terms GROUP BY g ORDER BY 1""".stripMargin,
      note = "one (group, bin) two-phase count agg; bin spine joins the metadata-sized counts, totals broadcast; fold over ≤ bins terms per group"),
    Key("q159_group_corr", (s, dir) =>
      // price–quantity correlation per return flag from exact power sums
      // (never the engines' own streaming `corr` — see Stats.pearsonByGroup)
      Stats.pearsonByGroup(
        T(s, dir, "lineitem")
          .withColumn("qty", col("l_quantity").cast("long"))
          .withColumn("cents", ops.Num.roundz(col("l_extendedprice") * 100, 0).cast("long")),
        "l_returnflag", "qty", "cents")
        .orderBy("l_returnflag"),
      // exact integer power sums (HUGEINT ≡ Spark decimal(38,0)), then the
      // one textbook formula on doubles — never the engine's streaming corr
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT)) AS sx,
        |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sy,
        |  sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syy,
        |  sum(CAST(l_quantity AS BIGINT) *
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, (round(CASE
        |  WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |   AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END, 4) + 0.0) AS r
        |FROM s ORDER BY 1""".stripMargin,
      note = "a single grouped aggregate with six exact numeric buffers — no window, no second scan, |groups| output rows"),
    Key("q160_event_entropy", (s, dir) =>
      // per-day event-mix entropy: a day collapsing to one event type is a
      // collection outage, not a trend — the degenerate-slice detector
      Stats.categoricalEntropy(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts"))),
        "day", "event_type")
        .orderBy("day"),
      // the q148-style ordered fold, over each day's category terms
      s"""WITH c AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  event_type AS cat, count(*) AS c FROM events GROUP BY 1, 2),
        |t AS (SELECT day, sum(c) AS n FROM c GROUP BY 1),
        |terms AS (SELECT c.day, t.n, c.cat,
        |  (CAST(c.c AS DOUBLE) / t.n) * ln(CAST(c.c AS DOUBLE) / t.n) AS term
        |  FROM c JOIN t USING (day))
        |SELECT day, CAST(any_value(n) AS BIGINT) AS n, count(*) AS n_cats,
        |  (round(-${orderedSumSql("term", "cat")}, 4) + 0.0) AS entropy
        |FROM terms GROUP BY day ORDER BY day""".stripMargin),
    Key("q161_pmi_bigrams", (s, dir) =>
      // collocation mining: adjacent-pair PMI over the corpus — phrase
      // candidates for tokenizer merges and multi-word unit detection
      TextAnalysis.pmiBigrams(T(s, dir, "documents"), "text", minCount = 25L)
        .orderBy("w1", "w2"),
      // pmi = ln cb − ln Nb − ln cx − ln cy + 2·ln Nu, the exact term order
      // the Spark side evaluates; Nb is taken BEFORE the min-count floor
      """WITH raw AS (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0) AS arr FROM documents),
        |w AS (SELECT arr FROM raw WHERE len(arr) > 0),
        |uc AS (SELECT tok, count(*) AS cw FROM (SELECT unnest(arr) AS tok FROM w) GROUP BY 1),
        |nu AS (SELECT sum(cw) AS nu FROM uc),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM (
        |  SELECT unnest(arr[:len(arr)-1]) AS w1, unnest(arr[2:]) AS w2 FROM w
        |  WHERE len(arr) >= 2) GROUP BY 1, 2),
        |nb AS (SELECT sum(cb) AS nb FROM bc)
        |SELECT w1, w2, cb,
        |  (round(ln(CAST(cb AS DOUBLE)) - ln(CAST(nb.nb AS DOUBLE)) -
        |    ln(CAST(u1.cw AS DOUBLE)) - ln(CAST(u2.cw AS DOUBLE)) +
        |    2.0 * ln(CAST(nu.nu AS DOUBLE)), 4) + 0.0) AS pmi
        |FROM bc JOIN uc u1 ON bc.w1 = u1.tok JOIN uc u2 ON bc.w2 = u2.tok
        |CROSS JOIN nb CROSS JOIN nu
        |WHERE cb >= 25 ORDER BY w1, w2""".stripMargin,
      note = "checkpointed token arrays feed two count shuffles; unigram vocab and 1-row totals re-join as BroadcastHashJoins"),
    Key("q162_resample", (s, dir) =>
      // hourly resample with LOCF gap fill: dense regular grid per type,
      // manufactured buckets flagged, last observed sum carried forward
      Relational.resampleLocf(
        T(s, dir, "events")
          .withColumn("cents", ops.Num.roundz(col("value") * 100, 0).cast("long")),
        "event_type", "ts", "cents", grain = "hour")
        .select(col("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH").as("bucket"),
          col("cnt"), col("filled"), col("locf").cast("long").as("locf_cents"))
        .orderBy("event_type", "bucket"),
      // generate_series is inclusive on both ends, matching Spark sequence
      """WITH h AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
        |  count(*) AS cnt, sum(CAST(round(value * 100, 0) AS BIGINT)) AS sc
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(b) AS mn, max(b) AS mx FROM h GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b FROM s)
        |SELECT spine.event_type, strftime(spine.b, '%Y-%m-%d %H') AS bucket,
        |  CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt, h.cnt IS NULL AS filled,
        |  CAST(last_value(h.sc IGNORE NULLS) OVER (PARTITION BY spine.event_type
        |    ORDER BY spine.b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS locf_cents
        |FROM spine LEFT JOIN h ON spine.event_type = h.event_type AND spine.b = h.b
        |ORDER BY 1, 2""".stripMargin,
      note = "per-key sequence spine is a map-side explode; LOCF window partitions by key over the bounded spine, never raw events"),
    Key("q163_conversion_lift", (s, dir) =>
      // funnel health: per-day purchase/view conversion in basis points and
      // its two-proportion z-score against the month's pooled rate
      Stats.conversionLift(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts"))),
        "day", "event_type", denomType = "view", numType = "purchase")
        .orderBy("day"),
      // z is guarded to genuine proportions (0 < pooled < 1) — the two
      // event types need not be nested, so the pooled rate can exceed 1
      """WITH per AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposures,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conversions
        |  FROM events GROUP BY 1),
        |p AS (SELECT * FROM per WHERE exposures > 0),
        |g AS (SELECT sum(exposures) AS e, sum(conversions) AS c FROM p)
        |SELECT day, CAST(exposures AS BIGINT) AS exposures,
        |  CAST(conversions AS BIGINT) AS conversions,
        |  CAST((10000 * conversions) // exposures AS BIGINT) AS cvr_bp,
        |  CASE WHEN g.c > 0 AND g.c < g.e THEN
        |    (round((CAST(conversions AS DOUBLE) / exposures - CAST(g.c AS DOUBLE) / g.e) /
        |      sqrt((CAST(g.c AS DOUBLE) / g.e) * (1.0 - CAST(g.c AS DOUBLE) / g.e) /
        |        CAST(exposures AS DOUBLE)), 4) + 0.0) END AS z
        |FROM p CROSS JOIN g ORDER BY day""".stripMargin),
    Key("q164_skyline", (s, dir) =>
      // 2-D Pareto frontier: cheapest price at each quantity level that no
      // higher quantity beats — input collapses to |distinct qty| candidates
      // BEFORE the single-partition frontier window
      Relational.paretoFrontier(
        T(s, dir, "lineitem")
          .withColumn("qty", col("l_quantity").cast("long"))
          .withColumn("cents", ops.Num.roundz(col("l_extendedprice") * 100, 0).cast("long")),
        "qty", "cents")
        .orderBy("qty"),
      // frontier of (qty, min cents per qty) ≡ frontier of the raw points;
      // ROWS preceding under qty DESC = all strictly-greater quantities
      """WITH best AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |  min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1),
        |f AS (SELECT qty, cents, min(cents) OVER (ORDER BY qty DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev FROM best)
        |SELECT qty, cents FROM f WHERE prev IS NULL OR cents < prev
        |ORDER BY qty""".stripMargin,
      note = "min-per-x two-phase agg collapses the input BEFORE the frontier window — the single partition sorts |x-domain| rows, not raw data"),
    Key("q165_timed_funnel", (s, dir) =>
      // cohorted view→purchase conversion WITHIN 24h of the user's first
      // view — the timed complement of q86's ordered funnel
      Relational.timedFunnel(T(s, dir, "events"),
        "user_id", "ts", "event_type", "view", "purchase", withinHours = 24)
        .orderBy("cohort_day"),
      // latency = floor-seconds(tc) − floor-seconds(t0), matching Spark's
      // timestamp→long cast; quantile_disc ignores non-converted NULLs
      """WITH entry AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |hit AS (SELECT e.user_id, min(CAST(p.ts AS TIMESTAMP)) AS tc
        |  FROM entry e JOIN events p ON p.user_id = e.user_id
        |  AND p.event_type = 'purchase'
        |  AND CAST(p.ts AS TIMESTAMP) >= e.t0
        |  AND CAST(p.ts AS TIMESTAMP) <= e.t0 + INTERVAL 24 HOURS GROUP BY 1),
        |j AS (SELECT entry.user_id, t0,
        |  epoch_us(tc) // 1000000 - epoch_us(t0) // 1000000 AS lat
        |  FROM entry LEFT JOIN hit ON entry.user_id = hit.user_id)
        |SELECT strftime(t0, '%Y-%m-%d') AS cohort_day, count(*) AS users,
        |  CAST(sum(CASE WHEN lat IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS converted,
        |  CAST(quantile_disc(lat, 0.5) AS BIGINT) AS p50_latency_s,
        |  CAST((10000 * sum(CASE WHEN lat IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS cvr_bp
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "user-keyed entry agg, user-keyed interval join, then a day-sized cohort agg — no global window anywhere"),
    Key("q166_skew_profile", (s, dir) =>
      // the pre-salting diagnosis: per join-key candidate, exact hot-key
      // share / p99 / mean — q69/q85 are the treatments this prescribes
      Relational.skewProfile(T(s, dir, "events"), Seq("user_id", "event_type"))
        .orderBy("col_name"),
      """WITH cu AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
        |ce AS (SELECT event_type AS k, count(*) AS cnt FROM events GROUP BY 1),
        |su AS (SELECT 'user_id' AS col_name, CAST(sum(cnt) AS BIGINT) AS n,
        |  count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS max_cnt,
        |  CAST(sum(cnt) // count(*) AS BIGINT) AS avg_cnt,
        |  CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt,
        |  CAST((10000 * max(cnt)) // sum(cnt) AS BIGINT) AS top1_share_bp FROM cu),
        |se AS (SELECT 'event_type' AS col_name, CAST(sum(cnt) AS BIGINT) AS n,
        |  count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS max_cnt,
        |  CAST(sum(cnt) // count(*) AS BIGINT) AS avg_cnt,
        |  CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt,
        |  CAST((10000 * max(cnt)) // sum(cnt) AS BIGINT) AS top1_share_bp FROM ce)
        |SELECT * FROM su UNION ALL SELECT * FROM se ORDER BY col_name""".stripMargin,
      note = "per column: two-phase count agg then a 1-row summary over the count table; columns are independent branches of one union job"),
    Key("q167_mutual_info", (s, dir) =>
      // does the event mix depend on the weekday? MI(event_type; dow) per
      // week, in nats — the aggregated twin of q161's per-pair PMI
      Stats.mutualInfo(
        T(s, dir, "events")
          .withColumn("week", expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7"))
          .withColumn("dow", expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') % 7")),
        "week", "event_type", "dow")
        .orderBy("week"),
      // same ln-space cell terms as the Spark side, folded in (x, y) order
      s"""WITH e AS (SELECT
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week,
        |  event_type,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow FROM events),
        |cells AS (SELECT week, event_type AS x, dow AS y, count(*) AS c FROM e GROUP BY 1, 2, 3),
        |mx AS (SELECT week, x, sum(c) AS cx FROM cells GROUP BY 1, 2),
        |my AS (SELECT week, y, sum(c) AS cy FROM cells GROUP BY 1, 2),
        |t AS (SELECT week, sum(c) AS n FROM cells GROUP BY 1),
        |terms AS (SELECT cells.week, t.n, cells.x, cells.y,
        |  (CAST(c AS DOUBLE) / t.n) * (ln(CAST(c AS DOUBLE)) - ln(CAST(cx AS DOUBLE)) -
        |    ln(CAST(cy AS DOUBLE)) + ln(CAST(t.n AS DOUBLE))) AS term
        |  FROM cells JOIN mx ON cells.week = mx.week AND cells.x = mx.x
        |  JOIN my ON cells.week = my.week AND cells.y = my.y
        |  JOIN t ON cells.week = t.week)
        |SELECT week, CAST(any_value(n) AS BIGINT) AS n,
        |  (round(${orderedSumSql("term", "x, y")}, 4) + 0.0) AS mi
        |FROM terms GROUP BY week ORDER BY week""".stripMargin,
      note = "one checkpointed cell-count shuffle; margins and totals re-join as BroadcastHashJoins; fold bounded by the category domains"),
    Key("q168_gini", (s, dir) =>
      // engagement inequality: Gini of the cents distribution per type via
      // the exact rank-sum identity over the GROUPED value domain
      Stats.giniByGroup(
        T(s, dir, "events")
          .withColumn("cents", ops.Num.roundz(col("value") * 100, 0).cast("long")),
        "event_type", "cents")
        .orderBy("event_type"),
      // rank-sum identity over grouped values: a run of c equal values v
      // after cumulative count cp contributes v·(c·cp + c(c+1)/2) — exact
      """WITH e AS (SELECT event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |c AS (SELECT g, v, count(*) AS c FROM e GROUP BY 1, 2),
        |w AS (SELECT g, v, c, coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp FROM c),
        |a AS (SELECT g, sum(c) AS n, sum(v * c) AS s,
        |  sum(v * (c * cp + (c * (c + 1)) // 2)) AS n1 FROM w GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_value,
        |  (round(CASE WHEN s > 0 THEN
        |    (2.0 * CAST(n1 AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) -
        |    CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) END, 4) + 0.0) AS gini
        |FROM a ORDER BY 1""".stripMargin,
      note = "the (group, value) count agg collapses input to the value domain before the cumulative window — the window sorts ≤ |domain| rows per group"),
    Key("q169_hhi", (s, dir) =>
      // concentration twin of q160's entropy: HHI of each day's event mix
      Stats.hhiByGroup(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts"))),
        "day", "event_type")
        .orderBy("day"),
      // same count shuffle + ordered fold as q160, squared-share terms
      s"""WITH c AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  event_type AS cat, count(*) AS c FROM events GROUP BY 1, 2),
        |t AS (SELECT day, sum(c) AS n FROM c GROUP BY 1),
        |terms AS (SELECT c.day, t.n, c.cat,
        |  (CAST(c.c AS DOUBLE) / t.n) * (CAST(c.c AS DOUBLE) / t.n) AS term
        |  FROM c JOIN t USING (day))
        |SELECT day, CAST(any_value(n) AS BIGINT) AS n, count(*) AS n_cats,
        |  (round(${orderedSumSql("term", "cat")}, 4) + 0.0) AS hhi
        |FROM terms GROUP BY day ORDER BY day""".stripMargin),
    Key("q170_changepoint", (s, dir) =>
      // CUSUM mean-shift probe over daily counts — scaled-long cumulative
      // sums, argmax resolved by max + earliest-day join-back
      Stats.cusumChangepoint(
        T(s, dir, "events")
          .withColumn("day", TextFunctions.dayString(col("ts")))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x")
        .orderBy("event_type"),
      // K-scaled CUSUM keeps everything in exact longs; ties resolve to the
      // earliest day, matching the Spark min-over-peak join-back
      """WITH d AS (SELECT event_type AS g, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |t AS (SELECT g, count(*) AS k, sum(x) AS s FROM d GROUP BY 1),
        |w AS (SELECT d.g, d.day, t.k,
        |  abs(sum(t.k * d.x - t.s) OVER (PARTITION BY d.g ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS a
        |  FROM d JOIN t ON d.g = t.g),
        |m AS (SELECT g, max(a) AS ma FROM w GROUP BY 1)
        |SELECT w.g AS event_type, CAST(any_value(w.k) AS BIGINT) AS n_buckets,
        |  CAST(m.ma AS BIGINT) AS cusum_max_abs, min(w.day) AS changepoint
        |FROM w JOIN m ON w.g = m.g AND w.a = m.ma GROUP BY w.g, m.ma
        |ORDER BY 1""".stripMargin,
      note = "time-domain-bounded per-group window on the aggregated series; totals and peaks re-join as broadcasts, argmax without collect"),
    Key("q171_assoc_rules", (s, dir) =>
      // market-basket rules: per-order item pairs → support/confidence/lift;
      // pairs fan out AFTER the per-basket agg, margins re-join as broadcasts
      Graph.associationRules(T(s, dir, "lineitem"),
        "l_partkey", "l_orderkey", minPairs = 2L)
        .orderBy("x", "y"),
      // item counts come from the DISTINCT per-basket item lists, so ci =
      // baskets containing the item — the same frame the pairs explode from
      """WITH b AS (SELECT l_orderkey AS c, list_sort(list(DISTINCT l_partkey)) AS items
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT c, unnest(items) AS item FROM b),
        |pc AS (SELECT p1.item AS x, p2.item AS y, count(*) AS n_pairs
        |  FROM p p1 JOIN p p2 ON p1.c = p2.c AND p1.item < p2.item GROUP BY 1, 2),
        |f AS (SELECT * FROM pc WHERE n_pairs >= 2),
        |ic AS (SELECT item, count(*) AS ci FROM p GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM b)
        |SELECT x, y, n_pairs,
        |  CAST((10000 * n_pairs) // n.n AS BIGINT) AS support_bp,
        |  CAST((10000 * n_pairs) // i1.ci AS BIGINT) AS conf_xy_bp,
        |  CAST((10000 * n_pairs) // i2.ci AS BIGINT) AS conf_yx_bp,
        |  (round((CAST(n_pairs AS DOUBLE) * n.n) / (CAST(i1.ci AS DOUBLE) * i2.ci), 4) + 0.0) AS lift
        |FROM f JOIN ic i1 ON f.x = i1.item JOIN ic i2 ON f.y = i2.item CROSS JOIN n
        |ORDER BY x, y""".stripMargin,
      note = "pairs explode map-side AFTER the per-basket set agg (no row self-join); item margins and the basket total re-join as broadcasts"),
    Key("q172_golden_record", (s, dir) => {
      // survivorship merge: the freshest NON-NULL per column — a user whose
      // newest event isn't a purchase still keeps the last purchase amount
      val ev = T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
        .withColumn("amount_cents", when(col("event_type") === "purchase",
          ops.Num.roundz(col("value") * 100, 0).cast("long")))
      Warehouse.goldenRecord(ev, "user_id", "ts", "event_id",
        Seq("amount_cents", "event_type", "day"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
        |  CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100, 0) AS BIGINT) END AS amount_cents,
        |  event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events),
        |w AS (SELECT user_id,
        |  last_value(amount_cents IGNORE NULLS) OVER win AS amount_cents,
        |  last_value(event_type IGNORE NULLS) OVER win AS event_type,
        |  last_value(day IGNORE NULLS) OVER win AS day,
        |  count(*) OVER (PARTITION BY user_id) AS n_versions,
        |  row_number() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, amount_cents, event_type, day,
        |  CAST(n_versions AS BIGINT) AS n_versions
        |FROM w WHERE rn = 1 ORDER BY user_id""".stripMargin,
      note = "fill and latest-rank windows share ONE key-hash exchange; no join anywhere"))
}
