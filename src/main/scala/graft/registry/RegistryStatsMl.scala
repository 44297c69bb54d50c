package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal

import SparkEntry._
import graft.storage.Materialize.scratch

/** Registry part: the statistics/ML batches (q384-q441, q457) and the LLM-pipeline
  * extensions (q41-q63, q116-q127), with the density-scaled twins q444/q448
  * (where q62/q394 were) and q454 next to q63.
  *
  * Split VERBATIM from SparkEntry's single queries/oracleSql map literals
  * (round-13 verdict item 8 - pure maintainability, zero semantic change);
  * merged back into the public maps at SparkEntry init. RegistrySpec pins
  * the merged key set and the 1:1 queries<->oracleSql correspondence.
  */
private[graft] object RegistryStatsMl {

  /** Merkle tree over key ranges (fanout 512 rows/leaf, 32 leaves/node):
    * levels bottom-up, each one hash aggregate whose collect is bounded by
    * the FANOUT (never the table), concatenation ordered by child id so
    * both engines hash identical strings. Returns (level, node_id, h) with
    * level 0 = leaves. */
  private def merkleLevels(rows: DataFrame): DataFrame = {
    val leaves = rows
      .withColumn("node_id", expr("k div 512"))
      .groupBy(col("node_id"))
      .agg(md5(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(k, rh))), x -> x.rh)"))).as("h"))
      .withColumn("level", lit(0L))
    // child concat sorts on the child NODE ID (not the hash) — two children
    // sharing a hash must not reorder
    val l1 = leaves
      .withColumn("pid", expr("node_id div 32"))
      .groupBy(col("pid"))
      .agg(md5(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(node_id, h))), x -> x.h)"))).as("h"))
      .select(col("pid").as("node_id"), col("h"), lit(1L).as("level"))
    val root = l1
      .groupBy()
      .agg(md5(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(node_id, h))), x -> x.h)"))).as("h"))
      .select(lit(0L).as("node_id"), col("h"), lit(2L).as("level"))
    leaves.select(col("node_id"), col("h"), col("level"))
      .unionByName(l1).unionByName(root)
  }

  /** Densified per-type daily series over January: one row per
    * (event_type, day 1..31), absent days as REAL ZEROS (q411's calendar
    * convention), values collected into a day-ordered array — the bounded
    * per-group frame the series operators (q431 DTW, q433 Holt-Winters)
    * fold over. |types| x 31 rows, never raw events. */
  private def dailySeries(s: SparkSession, dir: String,
                          asDouble: Boolean): DataFrame = {
    val d = T(s, dir, "events")
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val dense = d.select(col("event_type")).distinct()
      .crossJoin(s.range(1, 32).toDF("day"))
      .join(d, Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val xVal = if (asDouble) "CAST(e.x AS DOUBLE)" else "e.x"
    dense.groupBy(col("event_type"))
      .agg(expr(s"transform(array_sort(collect_list(struct(day, x))), e -> $xVal)")
        .as("xs"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q384_worst_slices" -> ((s, dir) => {
      // worst-slice mining (SliceFinder-style): evaluate the q50 langid
      // model per (source, lang) subgroup and surface the 10 worst
      // slices with support ≥ 20 — per-slice evaluation catches the
      // failure the global confusion matrix (q279) averages away (a
      // model can be 95% overall and 40% on one source's German). One
      // scan, one hash aggregate to the |sources|·|langs| frame, heap
      // top-10 on (acc, support desc) — never a global sort.
      T(s, dir, "documents")
        .select(col("source"), col("lang"),
          (TextAnalysis.langId(col("text")) === col("lang")).as("ok"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("correct"))
        .filter(col("n") >= 20)
        .select(col("source"), col("lang"), col("n"), col("correct"),
          expr("correct * 10000 div n").as("acc_bp"))
        .orderBy(col("acc_bp"), col("n").desc, col("source"), col("lang"))
        .limit(10)
    }),
    "q385_variant_shred" -> ((s, dir) =>
      // semi-structured payloads through Spark 4's native VARIANT type:
      // parse_json once into the binary variant encoding, then typed
      // path extraction (variant_get) — the open-schema ingest shape that
      // replaces per-query get_json_object string re-parsing (q32): at
      // 100 TB the JSON parses ONCE at ingest and every downstream
      // extraction is a binary field walk, not a text scan. The gate
      // groups on the extracted typed value, so a wrong shred changes
      // the histogram.
      T(s, dir, "events")
        .filter(col("props").isNotNull)
        .selectExpr("parse_json(props) AS v")
        .selectExpr("CAST(variant_get(v, '$.k') AS BIGINT) AS k")
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .orderBy("k")),
    "q386_observed_metrics" -> ((s, dir) => {
      // pipeline observability WITHOUT a second scan: Dataset.observe
      // attaches accumulator-backed metrics (row count, null count, value
      // mass) to the input of a real aggregation, and the metrics arrive
      // as a side effect of the one action — the production data-quality
      // ledger pattern (a separate auditing query would double the I/O at
      // 100 TB). The gate pins the observed values against the oracle's
      // direct computation, proving the observation path reports exactly
      // what flowed.
      import org.apache.spark.sql.Observation
      val obs = Observation(
        "q386_" + java.util.UUID.randomUUID().toString.take(8))
      val ev = T(s, dir, "events").observe(obs,
        count(lit(1)).as("rows_in"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
        sum(coalesce(Num.roundz(col("value") * 100, 0).cast("long"), lit(0L)))
          .as("cents_in"))
      val rowsOut = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).count()
      val m = obs.get
      import s.implicits._
      Seq((m("rows_in").asInstanceOf[Long],
        m("null_values").asInstanceOf[Long],
        m("cents_in").asInstanceOf[Long], rowsOut))
        .toDF("rows_in", "null_values", "cents_in", "rows_out")
    }),
    "q387_pipe_sql" -> ((s, dir) => {
      // Spark 4 SQL PIPE syntax (`|>`): the linear query form that reads
      // in execution order — same Catalyst plan as the nested-SELECT
      // equivalent the oracle runs, which is the point: the surface is
      // new, the engine semantics are identical, and the gate proves it
      // (a syntax-only feature must cost nothing and change nothing).
      T(s, dir, "events").createOrReplaceTempView("q387_events")
      s.sql(
        """FROM q387_events
          ||> WHERE value IS NOT NULL AND value > 50
          ||> AGGREGATE count(*) AS cnt,
          |     CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          |   GROUP BY event_type
          ||> ORDER BY event_type""".stripMargin)
    }),
    "q388_collated_group" -> ((s, dir) =>
      // Spark 4 COLLATION support: case-insensitive grouping via a
      // UTF8_LCASE-collated key instead of the lower()-projection
      // workaround — collation-aware hashing/equality runs inside the
      // aggregate (and, unlike lower(), preserves the original strings
      // for output). Mixed case is planted deterministically (odd ids
      // upper-cased); min() over the raw binary-collated column keeps
      // the representative choice engine-independent.
      T(s, dir, "documents")
        .select(when(col("doc_id") % 2 === 1, upper(col("source")))
          .otherwise(col("source")).as("s"))
        .groupBy(expr("collate(s, 'UTF8_LCASE')").as("g"))
        .agg(min(col("s")).as("variant_min"), count(lit(1)).as("cnt"))
        .select(col("variant_min"), col("cnt"))
        .orderBy("variant_min")),
    "q389_markov_attribution" -> ((s, dir) => {
      // Markov removal-effect attribution (Anderl et al. 2014) — the
      // data-driven alternative to q131's positional rules: each
      // channel's credit is how much the journey chain's conversion
      // probability DROPS when every transition into that channel is
      // absorbed into null. Journeys truncate at the first purchase
      // (absorbing); the only corpus-sized work is ONE user-keyed
      // ordering pass for the transition tallies — the chain itself is a
      // ≤5×6 matrix collected to the driver (the TwoPhase metadata-action
      // discipline) and solved by 8 fixed-point steps in EXACT millionth
      // integer arithmetic, replayed identically by the oracle's
      // unrolled CTEs: p' = b + ⌊Q·p/10⁶⌋, once per removal.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val o = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("ord"))
      val fp = o.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ord")).as("po"))
      val tr = o.join(fp, Seq("user_id"), "left")
        .filter(col("po").isNull || col("ord") <= col("po"))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("ord"))
      val steps = tr
        .withColumn("t", coalesce(lead(col("event_type"), 1).over(w2), lit("end")))
        .filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("f"), col("t"))
      val starts = tr.filter(col("ord") === 1)
        .select(lit("start").as("f"), col("event_type").as("t"))
      val tallies = steps.unionByName(starts)
        .groupBy(col("f"), col("t")).agg(count(lit(1)).as("c"))
        .collect() // ≤ 5×6 metadata rows — the chain, not the corpus
      val cnt = tallies.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val tot = cnt.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
      def qm(f: String, t: String): Long =
        cnt.get((f, t)).map(_ * 1000000L / tot(f)).getOrElse(0L)
      val all = Seq("start", "view", "click", "signup", "error")
      def solve(removed: Option[String]): Long = {
        val st = all.filterNot(removed.contains)
        var p = st.map(_ -> 0L).toMap
        (1 to 8).foreach { _ =>
          p = st.map { x =>
            x -> (qm(x, "purchase") +
              st.filter(_ != "start").map(t => qm(x, t) * p(t)).sum / 1000000L)
          }.toMap
        }
        p("start")
      }
      val base = solve(None)
      val channels = Seq("click", "error", "signup", "view")
      val rows = channels.map(c => (c, base, solve(Some(c))))
      val sumDiff = math.max(rows.map { case (_, b, r) => b - r }.sum, 1L)
      import s.implicits._
      rows.map { case (c, b, r) =>
        (c, b, r, b - r, (b - r) * 10000L / sumDiff)
      }.toDF("channel", "p_base_ppm", "p_removed_ppm", "diff_ppm", "share_bp")
        .orderBy("channel")
    }),
    "q390_restatement_ledger" -> ((s, dir) => {
      // RESTATEMENT ledger: what yesterday's report said vs what the data
      // says now. Each event's arrival is its event time plus a
      // deterministic processing delay (q344's jitter device); the
      // first-report count for day d includes only events that had
      // ARRIVED by d's midnight close, the final count includes
      // everything — restated_bp is the share of each day's truth the
      // first report missed. The reconciliation every bitemporal
      // reporting stack publishes next to its dashboards (the reference's
      // dashboard re-queries live tables and silently restates history).
      // One scan, two conditional sums per day.
      val e = T(s, dir, "events")
        .select(TextFunctions.dayString(col("ts")).as("day"),
          (col("ts") + expr(
            "make_interval(0, 0, 0, 0, CAST(event_id % 48 AS INT), 0, 0)"))
            .as("arrival"),
          (to_date(col("ts")) + lit(1)).cast("timestamp").as("day_end"))
      e.groupBy(col("day"))
        .agg(count(lit(1)).as("n_final"),
          sum(when(col("arrival") < col("day_end"), 1L).otherwise(0L))
            .as("n_first"))
        .select(col("day"), col("n_final"), col("n_first"),
          expr("(n_final - n_first) * 10000 div n_final").as("restated_bp"))
        .orderBy("day")
    }),
    "q391_aqe_skew_join" -> ((s, dir) => {
      // AQE SKEW-JOIN under the gate: a fact⋈dim join with 90% of rows on
      // one planted hot key, executed with the broadcast path disabled
      // and the skew thresholds lowered so OptimizeSkewedJoin must split
      // the hot partition AT RUNTIME from observed sizes — the automatic
      // remedy whose manual twin is q85's salting (which re-keys ahead of
      // time; AQE re-plans after the map stage measures). The result
      // materializes inside the scoped configuration (localCheckpoint) so
      // the session's settings are restored before the frame is consumed;
      // PlanSpec re-executes the same join under the same scope and
      // asserts the `skew=true` marker on the SortMergeJoin. The oracle
      // pins that the split changes NOTHING about the answer.
      val conf = s.conf
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
        Relational.plantedSkewJoin(T(s, dir, "events")).localCheckpoint()
      } finally saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _))
      }
    }),
    "q392_ols_regression" -> ((s, dir) => {
      // Per-cohort OLS by NORMAL EQUATIONS: the only corpus-sized work is
      // one hash aggregate collecting six exact integer moments (n, Σx,
      // Σy, Σxy, Σx², Σy²) — sufficient statistics combine associatively,
      // so the fit is map-side partials + one shuffle regardless of data
      // size (a row-iterating fit would be the .collect() antipattern).
      // Slope / intercept / r² are ONE fixed double chain over the exact
      // longs, written operator-for-operator identically in the oracle
      // (the q301/q297 exact-moments discipline).
      val e = T(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          hour(col("ts")).cast("long").as("x"),
          Num.roundz(col("value") * 100, 0).cast("long").as("y"))
      val m = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
      val nD = col("n").cast("double")
      val cov = nD * col("sxy") - col("sx").cast("double") * col("sy")
      val vx = nD * col("sx2") - col("sx").cast("double") * col("sx")
      val vy = nD * col("sy2") - col("sy").cast("double") * col("sy")
      m.select(col("event_type"), col("n"),
          Num.roundz(cov / vx, 4).as("slope"),
          Num.roundz((col("sy").cast("double") - cov / vx * col("sx")) / nD, 4)
            .as("intercept"),
          Num.roundz(cov * cov / (vx * vy), 4).as("r2"))
        .orderBy("event_type")
    }),
    "q393_logistic_gd" -> ((s, dir) => {
      // FULL-BATCH gradient descent trained in-engine: 3 unrolled
      // iterations of a hard-sigmoid logistic fit (σ̂(z) = clamp(0.5 +
      // z/4, 0, 1), the piecewise-linear sigmoid of Courbariaux et al.
      // 2015) predicting purchase from the centered hour. EVERY quantity
      // is an exact integer micro — gradients are plain sums (map-side
      // combinable), the weight state between iterations is a 1-row
      // broadcast frame, so each iteration costs one scan + one reduce
      // and nothing touches the driver. Truncating integer division
      // matches DuckDB's `//` bit-for-bit (both round toward zero), so
      // the oracle replays the 3 steps as chained CTEs.
      val e = T(s, dir, "events")
        .select((hour(col("ts")).cast("long") - 12L).as("x"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      def step(w: DataFrame): DataFrame =
        e.crossJoin(broadcast(w))
          .select(col("w0"), col("w1"), col("x"),
            (expr("greatest(least(500000 + (w0 + w1 * x) div 4, 1000000), 0)")
              - col("y") * 1000000L).as("err"))
          .agg(max(col("w0")).as("pw0"), max(col("w1")).as("pw1"),
            count(lit(1)).as("n"), sum(col("err")).as("g0"),
            sum(col("err") * col("x")).as("g1"))
          .selectExpr("pw0 - g0 div (2 * n) AS w0", "pw1 - g1 div (20 * n) AS w1")
      val w0 = s.range(1).select(lit(0L).as("w0"), lit(0L).as("w1"))
      val w3 = step(step(step(w0)))
      e.crossJoin(broadcast(w3))
        .select(col("w0"), col("w1"),
          (expr("greatest(least(500000 + (w0 + w1 * x) div 4, 1000000), 0)")
            > 500000L).as("pred"),
          (col("y") === 1L).as("pos"))
        .agg(max(col("w0")).as("w0"), max(col("w1")).as("w1"),
          count(lit(1)).as("n"),
          sum(when(col("pred") === col("pos"), 1L).otherwise(0L)).as("correct"))
        .selectExpr("w0", "w1", "n", "correct * 10000 div n AS correct_bp")
    }),
    "q395_winnowing" -> ((s, dir) => {
      // Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
      // — the MOSS algorithm): token-trigram Karp–Rabin hashes, then from
      // every window of w = 4 consecutive hashes keep the RIGHTMOST
      // MINIMUM. The tie-aware argmin rides ONE packed key —
      // hash·2²⁰ + (2²⁰−1−pos) — so a plain bounded window min() both
      // finds the min hash AND breaks ties toward the largest position;
      // distinct selected keys per doc are the fingerprint set (any two
      // docs sharing a run of ≥ w+k−1 = 6 tokens share a fingerprint).
      // All windows are per-doc and 4-row bounded; the packed key assumes
      // < 2²⁰ tokens/doc (chunk longer docs with q128 first).
      import org.apache.spark.sql.expressions.Window
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"))
          .as(Seq("pos", "tok")))
        .withColumn("h", graft.functions.RollingHash(col("tok")))
      val wLead = Window.partitionBy("doc_id").orderBy("pos")
      val tri = toks
        .withColumn("h1", lead(col("h"), 1).over(wLead))
        .withColumn("h2", lead(col("h"), 2).over(wLead))
        .filter(col("h2").isNotNull)
        .withColumn("gh",
          expr("((h * 31 + h1) % 1000000007 * 31 + h2) % 1000000007"))
      val wMin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
      tri.withColumn("k", expr("gh * 1048576 + (1048575 - pos)"))
        .withColumn("wmin", min(col("k")).over(wMin))
        .filter(col("pos") >= 3) // full windows only
        .select(col("doc_id"), col("wmin")).distinct()
        .select(col("doc_id"),
          expr("wmin div 1048576").as("hash"),
          (lit(1048575L) - expr("wmin % 1048576")).as("pos"))
        .orderBy("doc_id", "pos")
    }),
    "q396_t_closeness" -> ((s, dir) => {
      // t-closeness release audit (Li, Li & Venkatasubramanian, ICDE
      // 2007) — completes the privacy triad next to q308's k-anonymity
      // and q366's l-diversity: per quasi-identifier group, the ORDERED
      // earth-mover distance between the group's sensitive-band
      // distribution and the global one, EMD = Σ|cum_p − cum_q|/(m−1),
      // everything in exact integer ppm. The band grid is completed by a
      // groups × bands cross join (4 bands — metadata-sized), cumulative
      // sums ride a 4-row bounded window, and the global distribution is
      // a 4-row broadcast; one corpus aggregate total.
      val c = T(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"),
          Num.roundz(col("c_acctbal") * 100, 0).cast("long").as("cents"))
        .withColumn("band",
          expr("greatest(least((cents + 100000) div 300000, 3), 0)"))
      // glob rides the same complete 0..3 grid as the per-group side
      // (coalesce(gc, 0)): a globally-empty band still contributes a
      // q_ppm = 0 row, so the downstream band join never drops a grid
      // position and the EMD divisor (m−1 = 3) stays honest.
      val glob = s.range(0, 4).select(col("id").as("band"))
        .join(c.groupBy(col("band")).agg(count(lit(1)).as("gc")),
          Seq("band"), "left")
        .crossJoin(broadcast(c.agg(count(lit(1)).as("gn"))))
        .select(col("band"),
          expr("coalesce(gc, 0) * 1000000 div gn").as("q_ppm"))
      val groups = c.groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).as("n"))
      val grid = groups
        .withColumn("band", explode(expr("sequence(CAST(0 AS BIGINT), 3)")))
      val cnt = c.groupBy(col("nat"), col("seg"), col("band"))
        .agg(count(lit(1)).as("nb"))
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.partitionBy("nat", "seg").orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(cnt, Seq("nat", "seg", "band"), "left")
        .join(broadcast(glob), Seq("band"))
        .withColumn("p_ppm", expr("coalesce(nb, 0) * 1000000 div n"))
        .withColumn("cp", sum(col("p_ppm")).over(wCum))
        .withColumn("cq", sum(col("q_ppm")).over(wCum))
        .filter(col("band") <= 2) // the (m-1) cumulative positions
        .groupBy(col("nat"), col("seg"))
        .agg(max(col("n")).as("n"),
          sum(abs(col("cp") - col("cq"))).as("emd_sum"))
        .select(col("nat"), col("seg"), col("n"),
          expr("emd_sum div 3").as("emd_ppm"))
        .withColumn("meets_t20", col("emd_ppm") <= 200000L)
        .orderBy("nat", "seg")
    }),
    "q397_ips_eval" -> ((s, dir) => {
      // OFFLINE POLICY EVALUATION by inverse propensity scoring (Horvitz–
      // Thompson; SNIPS per Swaminathan & Joachims 2015): logged actions
      // with known behavior-policy propensities {0.5, 0.3, 0.2} are
      // replayed against a deterministic target policy π(user) =
      // user_id % 3; IPS = Σ r·1[π=a]/p / N and the self-normalized
      // variant divide ONLY matched rows' micro-weights — all exact
      // integers, one hash aggregate per arm. The counterfactual-eval
      // shape every recommender ships before an online test.
      val e = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("r"))
        .withColumn("a", expr(
          "CASE WHEN event_id % 10 < 5 THEN 0 WHEN event_id % 10 < 8 THEN 1 ELSE 2 END"))
        .withColumn("w_micro", expr(
          "CASE WHEN a = 0 THEN 2000000 WHEN a = 1 THEN 3333333 ELSE 5000000 END"))
        .withColumn("pi", expr("CAST(user_id % 3 AS INT)"))
        .withColumn("m", when(col("pi") === col("a"), 1L).otherwise(0L))
      e.groupBy(col("pi").cast("long").as("pi_arm"))
        .agg(count(lit(1)).as("n"), sum(col("m")).as("n_matched"),
          sum(col("r") * col("m") * col("w_micro")).as("swr"),
          sum(col("m") * col("w_micro")).as("sw"),
          sum(col("r")).as("sr"))
        .select(col("pi_arm"), col("n"), col("n_matched"),
          expr("swr div n").as("ips_micro"),
          expr("swr * 10000 div greatest(sw, 1)").as("snips_bp"),
          expr("sr * 10000 div n").as("logged_reward_bp"))
        .orderBy("pi_arm")
    }),
    "q398_bitmap_index" -> ((s, dir) => {
      // BITMAP INDEX set algebra: each event-type segment's user set is
      // packed into 32-bit words (word = id div 32, mask = 1 << id%32,
      // OR-aggregated — 32, not 64, because DuckDB's left shift overflows
      // at bit 63), then segment-pair intersections are ONE equi-join on
      // the word index + bit_count(a & b): the roaring-bitmap serving
      // shape, where |A∩B| costs O(words), not O(users). Cardinalities
      // come from the same bitmaps (never recounted from rows), and the
      // 5×5 pair frame is metadata-sized.
      val bm = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_type").as("seg"), col("user_id")).distinct()
        .select(col("seg"), expr("user_id div 32").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").as("m"))
        .groupBy(col("seg"), col("w")).agg(expr("bit_or(m)").as("bits"))
      val card = bm.groupBy(col("seg"))
        .agg(sum(expr("bit_count(bits)")).as("card"))
      val inter = bm.select(col("seg").as("seg_a"), col("w"), col("bits").as("ba"))
        .join(bm.select(col("seg").as("seg_b"), col("w"), col("bits").as("bb")),
          Seq("w"))
        .filter(col("seg_a") < col("seg_b"))
        .groupBy(col("seg_a"), col("seg_b"))
        .agg(sum(expr("bit_count(ba & bb)")).as("inter"))
      val ca = card.select(col("seg").as("seg_a"), col("card").as("card_a"))
      val cb = card.select(col("seg").as("seg_b"), col("card").as("card_b"))
      ca.crossJoin(cb).filter(col("seg_a") < col("seg_b"))
        .join(inter, Seq("seg_a", "seg_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .select(col("seg_a"), col("seg_b"), col("card_a"), col("card_b"),
          col("inter"),
          (col("card_a") + col("card_b") - col("inter")).as("uni"))
        .withColumn("jaccard_bp", expr("inter * 10000 div uni"))
        .orderBy("seg_a", "seg_b")
    }),
    "q399_powerlaw_mle" -> ((s, dir) =>
      // Power-law tail fit (Clauset, Shalizi & Newman 2009): per source,
      // the continuous MLE α = 1 + n / Σ ln(x/xmin) over doc lengths ≥
      // xmin = 200. Each row's log is quantized to EXACT floor-micros
      // before the sum, so the aggregate is an order-free integer sum
      // (summing raw doubles would leak partition order; buffering values
      // for an ordered fold would be the collect_list antipattern) — the
      // one double division happens once per source at the end.
      T(s, dir, "documents")
        .filter(col("n_chars") >= 200)
        .select(col("source"), expr(
          "CAST(floor(ln(CAST(n_chars AS DOUBLE) / 200.0) * 1000000) AS BIGINT)")
          .as("lnx"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tail"), sum(col("lnx")).as("s_micro"))
        .select(col("source"), col("n_tail"), col("s_micro"),
          Num.roundz(lit(1.0) + col("n_tail").cast("double") * 1000000.0
            / expr("CAST(nullif(s_micro, 0) AS DOUBLE)"), 4).as("alpha"))
        .orderBy("source")),
    "q400_brier_decomposition" -> ((s, dir) => {
      // Murphy decomposition of the Brier score (Murphy 1973): forecasts
      // bucketed into 11 probability bins; per bin the EXACT ingredients
      // — n, hits, Σforecast_bp, and the raw Brier numerator
      // Σ(f_bp − y·10⁴)² (exact long) — plus the reliability term
      // n_k(f̄_k − ō_k)² as ONE fixed double chain over those longs
      // (the square of a 10⁴-scaled sum overflows int64 at sf1, so the
      // division-bearing term is double by design). One hash aggregate;
      // the calibration-audit twin of q211 with the variance accounting.
      val e = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(expr("(user_id * 31 % 101) * 100").as("f_bp"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      e.groupBy(expr("f_bp div 1000").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("o"),
          sum(col("f_bp")).as("sum_f_bp"),
          sum(expr("(f_bp - y * 10000) * (f_bp - y * 10000)")).as("brier_num"))
        .withColumn("rel", Num.roundz(
          (col("sum_f_bp").cast("double") - lit(10000.0) * col("o"))
            * (col("sum_f_bp").cast("double") - lit(10000.0) * col("o"))
            / (lit(100000000.0) * col("n")), 4))
        .orderBy("bin")
    }),
    "q401_neyman_allocation" -> ((s, dir) => {
      // NEYMAN OPTIMAL ALLOCATION (Neyman 1934) of a 1000-row sample
      // budget across strata: n_h ∝ N_h·S_h, with each stratum's sd from
      // exact integer moments and the weight quantized to floor(N·sd·10³)
      // BEFORE the cross-stratum sum (5 exact longs — order-free), then
      // LARGEST-REMAINDER rounding so the allocations sum to exactly 1000
      // deterministically. The strata frame is 5 rows of metadata; the
      // only corpus-sized work is one moment aggregate.
      import org.apache.spark.sql.expressions.Window
      val m = T(s, dir, "events")
        .select(col("event_type"),
          Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("ss"))
        .withColumn("w_scaled", expr(
          """CAST(floor(CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
            | - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
            | / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) * 1000) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
      val tot = m.agg(sum(col("w_scaled")).as("tw"))
      val base = m.crossJoin(broadcast(tot))
        .withColumn("alloc_base", expr("w_scaled * 1000 div tw"))
        .withColumn("rem", expr("(w_scaled * 1000) % tw"))
      val used = base.agg(sum(col("alloc_base")).as("ub"))
      base.crossJoin(broadcast(used))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("event_type"))))
        .withColumn("alloc", col("alloc_base")
          + when(col("rk") <= lit(1000L) - col("ub"), 1L).otherwise(0L))
        .select(col("event_type"), col("n"), col("w_scaled"), col("alloc"))
        .orderBy("event_type")
    }),
    "q402_paa_symbolize" -> ((s, dir) => {
      // SAX-style series symbolization (Lin, Keogh et al. 2003): each
      // event type's daily-count series is piecewise-aggregate-
      // approximated over 4-day segments (exact micro means via integer
      // division — gaps shrink the divisor, not the truth), then
      // discretized to a 4-symbol alphabet by min-max scaling against the
      // series' own PAA range. Two bounded aggregates + a per-series
      // min/max broadcast join; symbols are exact integers end to end
      // (the Gaussian-breakpoint variant would hinge on cross-engine
      // float quantiles — min-max keeps the gate bit-exact).
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2020-01-01")).cast("long").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val paa = daily.groupBy(col("event_type"), expr("d div 4").as("seg"))
        .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("sum_cnt"))
        .withColumn("paa_micro", expr("sum_cnt * 1000000 div n_days"))
      val rng = paa.groupBy(col("event_type"))
        .agg(min(col("paa_micro")).as("lo"), max(col("paa_micro")).as("hi"))
      paa.join(broadcast(rng), Seq("event_type"))
        .withColumn("sym", expr("(paa_micro - lo) * 4 div (hi - lo + 1)"))
        .select(col("event_type"), col("seg"), col("n_days"), col("sum_cnt"),
          col("paa_micro"), col("sym"))
        .orderBy("event_type", "seg")
    }),
    "q403_poisson_bootstrap" -> ((s, dir) => {
      // POISSON BOOTSTRAP standard error (Chamandy et al. 2012, the
      // resampling that works on streams/shards because replicate weights
      // are i.i.d. per row — no global sample draw): 32 replicas, each
      // row's weight a deterministic Poisson(1) variate read off hash
      // thresholds (CDF·10⁴ = 3679/7358/9197/9810/9963), replica means in
      // exact micros, and the SE over the 32 replica means from exact
      // integer moments with ONE sqrt at the end. The explode is a narrow
      // 32× map fan-out that map-side-combines straight back down to 32
      // groups — no corpus-sized shuffle.
      val e = T(s, dir, "events")
        .select(col("event_id"),
          Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      val rep = e.withColumn("r", explode(expr("sequence(CAST(0 AS BIGINT), 31)")))
        .withColumn("h", expr("((event_id * 131 + r) * 48271) % 2147483647 % 10000"))
        .withColumn("w", expr(
          """CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1 WHEN h < 9197 THEN 2
            | WHEN h < 9810 THEN 3 WHEN h < 9963 THEN 4 ELSE 5 END"""
            .stripMargin.replace("\n", " ")))
        .groupBy(col("r"))
        .agg(sum(col("w")).as("sw"), sum(col("w") * col("cents")).as("swy"))
        .select(expr("swy * 100 div greatest(sw, 1)").as("m"))
        .agg(count(lit(1)).as("n_rep"), sum(col("m")).as("sm"),
          sum(col("m") * col("m")).as("sm2"))
      val pe = e.agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sc"))
        .select(col("n_events"), expr("sc * 100 div n_events").as("point_mean_micros"))
      pe.crossJoin(broadcast(rep))
        .select(col("n_events"), col("point_mean_micros"),
          expr("sm div n_rep").as("boot_mean_micros"),
          Num.roundz(sqrt((col("n_rep").cast("double") * col("sm2")
            - col("sm").cast("double") * col("sm"))
            / (col("n_rep").cast("double") * (col("n_rep") - lit(1L)))), 4)
            .as("boot_se_micros"))
    }),
    "q404_theta_sketch" -> ((s, dir) => {
      // THETA (KMV bottom-k) sketch set algebra (Dasgupta et al. 2016,
      // the DataSketches theta family): per segment keep the k = 32
      // smallest MINSTD priorities — a mergeable O(k) summary. Union /
      // intersection estimates come from the RETAINED ENTRIES below
      // θ = min(θ_a, θ_b) — |{p < θ}|·M div θ, exact integer division —
      // next to the EXACT intersection from one corpus join, so the gate
      // row carries the estimator AND its truth (the q212 honest-eval
      // convention). The MINSTD map is a bijection mod the prime, so
      // priorities are collision-free; everything after the per-segment
      // bottom-k is a ≤5·32-row metadata frame.
      import org.apache.spark.sql.expressions.Window
      val M = 2147483647L
      val d = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_type").as("seg"), col("user_id")).distinct()
        .withColumn("p", expr("(user_id * 48271) % 2147483647 + 1"))
      val sk = d.withColumn("rn",
          row_number().over(Window.partitionBy("seg").orderBy("p")))
        .filter(col("rn") <= 32)
      val theta = sk.groupBy(col("seg"))
        .agg(max(col("p")).as("kth"), count(lit(1)).as("n_ret"))
        .join(d.groupBy(col("seg")).agg(count(lit(1)).as("n_exact")), Seq("seg"))
        .withColumn("theta",
          when(col("n_ret") < 32, lit(M)).otherwise(col("kth")))
        .withColumn("est",
          when(col("n_ret") < 32, col("n_exact"))
            .otherwise(expr("CAST(31 AS BIGINT) * 2147483647 div theta")))
      val pa = theta.select(col("seg").as("seg_a"), col("theta").as("th_a"),
        col("est").as("est_a"))
      val pb = theta.select(col("seg").as("seg_b"), col("theta").as("th_b"),
        col("est").as("est_b"))
      val pairs = pa.crossJoin(pb).filter(col("seg_a") < col("seg_b"))
        .withColumn("th", least(col("th_a"), col("th_b")))
      val skp = pairs.select(col("seg_a"), col("seg_b"), col("th"))
        .join(sk.select(col("seg").as("sseg"), col("p")),
          col("sseg") === col("seg_a") || col("sseg") === col("seg_b"))
        .filter(col("p") < col("th"))
        .groupBy(col("seg_a"), col("seg_b"), col("th"), col("p"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("seg_a"), col("seg_b"), col("th"))
        .agg(count(lit(1)).as("u_cnt"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("i_cnt"))
        .drop("th") // pairs carries the authoritative copy into the select
      val exact = d.select(col("seg").as("seg_a"), col("user_id"))
        .join(d.select(col("seg").as("seg_b"), col("user_id")), Seq("user_id"))
        .filter(col("seg_a") < col("seg_b"))
        .groupBy(col("seg_a"), col("seg_b"))
        .agg(count(lit(1)).as("true_inter"))
      pairs.join(skp, Seq("seg_a", "seg_b"), "left")
        .join(exact, Seq("seg_a", "seg_b"), "left")
        .select(col("seg_a"), col("seg_b"), col("est_a"), col("est_b"),
          expr("coalesce(u_cnt, 0) * 2147483647 div th").as("est_union"),
          expr("coalesce(i_cnt, 0) * 2147483647 div th").as("est_inter"),
          coalesce(col("true_inter"), lit(0L)).as("true_inter"))
        .orderBy("seg_a", "seg_b")
    }),
    "q405_borda_kendall" -> ((s, dir) => {
      // RANK AGGREGATION with agreement audit: three rankers' top-20s
      // (price, size, and a MINSTD "random" baseline) fuse by BORDA COUNT
      // (score = Σ(21 − rank), absent = 0, de Borda 1781), then each
      // input ranker is scored against the consensus by exact KENDALL
      // TAU-A over the items both lists share. Each top-20 is a
      // TakeOrderedAndProject heap (never a global sort of parts); all
      // pair counting happens on ≤20-row metadata frames. The
      // formula-complement of q189's reciprocal-rank fusion.
      import org.apache.spark.sql.expressions.Window
      val parts = T(s, dir, "part")
      def top20(ord: Column, name: String): DataFrame = {
        val t = parts.select(col("p_partkey"), ord.as("__o"))
          .orderBy(col("__o"), col("p_partkey")).limit(20)
        t.withColumn(name,
          row_number().over(Window.orderBy(col("__o"), col("p_partkey"))))
          .drop("__o")
      }
      val r1 = top20(negate(col("p_retailprice")), "r_price")
      val r2 = top20(negate(col("p_size").cast("long")), "r_size")
      val r3 = top20(expr("(p_partkey * 16807) % 2147483647"), "r_hash")
      val fused = r1.join(r2, Seq("p_partkey"), "full")
        .join(r3, Seq("p_partkey"), "full")
        .withColumn("borda",
          expr("coalesce(21 - r_price, 0) + coalesce(21 - r_size, 0)" +
            " + coalesce(21 - r_hash, 0)").cast("long"))
        .withColumn("consensus",
          row_number().over(Window.orderBy(col("borda").desc, col("p_partkey"))))
      def tau(rcol: String): DataFrame = {
        val c = fused.filter(col(rcol).isNotNull)
          .select(col("p_partkey").as("k"), col("consensus").as("cr"),
            col(rcol).cast("long").as("rr"))
        c.as("x").join(c.as("y"), col("x.k") < col("y.k"))
          .select((((col("x.cr") < col("y.cr")) === (col("x.rr") < col("y.rr")))
            .cast("long")).as("conc"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("conc")).as("concordant"))
          .select(lit(rcol).as("ranker"), col("n_pairs"), col("concordant"),
            (col("n_pairs") - col("concordant")).as("discordant"),
            expr("(concordant - (n_pairs - concordant)) * 1000 div n_pairs")
              .as("tau_milli"))
      }
      tau("r_price").unionByName(tau("r_size")).unionByName(tau("r_hash"))
        .orderBy("ranker")
    }),
    "q406_good_turing" -> ((s, dir) => {
      // GOOD–TURING frequency re-estimation (Good 1953, the smoothing
      // under Katz backoff and the SGT family): token frequencies r →
      // frequencies-of-frequencies N_r → adjusted mass r* = (r+1)·N_{r+1}
      // / N_r in exact milli-units, plus the unseen-mass estimate
      // P₀ = N₁/N in bp. Two hash aggregates over the corpus; the N_r
      // frame is ≤ |distinct frequencies| rows (≈√corpus — metadata), and
      // the r+1 lookup is an equi-join on it, not a window.
      val tok = T(s, dir, "documents")
        .select(explode(expr(
          "filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("tok"))
      val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("r"))
      val nr = freq.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      val tot = freq.agg(sum(col("r")).as("n_tokens"),
        sum(when(col("r") === 1, 1L).otherwise(0L)).as("n1"))
      nr.join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")),
          Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          expr("(r + 1) * coalesce(n_r1, 0) * 1000 div n_r").as("r_star_milli"),
          expr("n1 * 10000 div n_tokens").as("p0_bp"))
        .orderBy("r").limit(20) // the 20 lowest frequencies PRESENT (a
        // fixed r <= 20 cut can be empty on a head-heavy tiny corpus)
    }),
    "q407_hash_ring" -> ((s, dir) => {
      // CONSISTENT-HASH RING with a resize audit — the ring twin of
      // q341's rendezvous sharding: 8 virtual nodes per shard at MINSTD
      // positions, every key owned by its clockwise successor (min
      // position ≥ key hash, wrapping to the global min). The successor
      // argmin rides ONE packed key (pos·100 + shard), so both ring
      // configurations (8 and 9 shards) resolve in a single conditional
      // aggregate over one 72-row broadcast fan-out. The ring property
      // under test: growing 8 → 9 shards moves ONLY keys claimed by the
      // new shard's vnodes — n_moved ≡ n_to_new, keys never reshuffle
      // among survivors (the audit column the gate pins).
      val vn = s.range(72).select(
        expr("id div 8").as("shard"),
        // Knuth multiplier > modulus so positions WRAP and spread over the
        // whole ring (a small MINSTD multiplier parks all 72 vnodes in the
        // first 0.2% of the ring and the wrap case dominates)
        expr("((id + 1) * 2654435761) % 2147483647").as("pos"))
        .withColumn("packed", expr("pos * 100 + shard"))
      val keys = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .withColumn("kh", expr("(user_id * 2654435761) % 2147483647"))
      val asg = keys.crossJoin(broadcast(vn))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("shard") < 8 && col("pos") >= col("kh"),
            col("packed"))).as("s8succ"),
          min(when(col("shard") < 8, col("packed"))).as("s8wrap"),
          min(when(col("pos") >= col("kh"), col("packed"))).as("s9succ"),
          min(col("packed")).as("s9wrap"))
        .select(col("user_id"),
          expr("coalesce(s8succ, s8wrap) % 100").as("shard8"),
          expr("coalesce(s9succ, s9wrap) % 100").as("shard9"))
      asg.groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("shard9") === 8, 1L).otherwise(0L)).as("n_to_new"))
        .withColumn("moved_bp", expr("n_moved * 10000 div n_keys"))
        .orderBy("shard8")
    }),
    "q408_contribution_bounding" -> ((s, dir) => {
      // PER-USER CONTRIBUTION BOUNDING — the differential-privacy
      // preprocessing step (Wilson et al. 2020, "DP SQL"): each user
      // contributes at most k = 8 events (first 8 by time, deterministic
      // tie-break), capping any aggregate's per-user sensitivity at k.
      // One user-keyed window pass; the output ledger shows per day what
      // the clamp cost — the utility-vs-sensitivity table a DP release
      // publishes before choosing ε.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .groupBy(TextFunctions.dayString(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("rn") <= 8, 1L).otherwise(0L)).as("n_bounded"))
        .withColumn("clamp_loss_bp",
          expr("(n_raw - n_bounded) * 10000 div n_raw"))
        .orderBy("day")
    }),
    "q409_skipgram_pairs" -> ((s, dir) => {
      // SKIP-GRAM training-pair extraction (Mikolov et al. 2013): for
      // every token, its contexts at offsets ±1 and ±2 — both directions
      // emitted, so the pair table is exactly what a word2vec/fastText
      // run consumes. Contexts come from per-doc window leads (no
      // self-join on position), the global head is a TakeOrdered heap,
      // and the distance weight is the exact 1000/dist milli-unit.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val t = T(s, dir, "documents")
        .select(col("doc_id"), posexplode(expr(
          "filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"))
          .as(Seq("pos", "tok")))
        .withColumn("n1", lead(col("tok"), 1).over(w))
        .withColumn("n2", lead(col("tok"), 2).over(w))
      val fwd1 = t.filter(col("n1").isNotNull)
        .select(col("tok").as("w1"), col("n1").as("w2"), lit(1L).as("dist"))
      val fwd2 = t.filter(col("n2").isNotNull)
        .select(col("tok").as("w1"), col("n2").as("w2"), lit(2L).as("dist"))
      val bwd1 = fwd1.select(col("w2").as("w1"), col("w1").as("w2"), col("dist"))
      val bwd2 = fwd2.select(col("w2").as("w1"), col("w1").as("w2"), col("dist"))
      fwd1.unionByName(fwd2).unionByName(bwd1).unionByName(bwd2)
        .groupBy(col("w1"), col("w2"), col("dist"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("weight_milli", expr("1000 div dist"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"), col("dist"))
        .limit(30)
    }),
    "q410_churn_labels" -> ((s, dir) => {
      // FORWARD-WINDOW CHURN LABELING — the label-generation twin of
      // q310's point-in-time features: a user-day is "churned" when the
      // user has NO activity in the strictly-later 14-day window. The
      // lookahead is one lead() over the user's distinct active days —
      // strictly future data flows ONLY into the label column, never a
      // feature (the leakage direction q336's embargo guards). Output is
      // the per-day churn base rate a retention model trains against.
      import org.apache.spark.sql.expressions.Window
      val days = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val w = Window.partitionBy("user_id").orderBy("d")
      days.withColumn("nxt", lead(col("d"), 1).over(w))
        .withColumn("churned",
          when(col("nxt").isNull || datediff(col("nxt"), col("d")) > 14, 1L)
            .otherwise(0L))
        .groupBy(date_format(col("d"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_user_days"), sum(col("churned")).as("n_churned"))
        .withColumn("churn_bp", expr("n_churned * 10000 div n_user_days"))
        .orderBy("day")
    }),
    "q411_haar_wavelet" -> ((s, dir) => {
      // UNNORMALIZED HAAR WAVELET decomposition of each event type's
      // daily-count series (Haar 1910; the data-sketch use is Matias,
      // Vitter & Wang SIGMOD'98 wavelet synopses): 3 levels of pairwise
      // (sum, difference) coefficients — all exact integers because the
      // √2 normalization is dropped (resolution-k energy just carries a
      // 2^k scale). The series densifies against a calendar derived from
      // ONE 1-row min/max aggregate (gaps are real zeros, not absent
      // rows — pairing must align), then each level is one bounded
      // groupBy idx div 2. The smooth coefficients ARE the next level's
      // input, so the whole transform is 3 tiny aggregates after the
      // daily rollup.
      val e = T(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"))
      val bounds = e.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      val cal = bounds.select(explode(expr(
        "sequence(CAST(0 AS BIGINT), CAST(datediff(d1, d0) AS BIGINT))")).as("idx"))
      val types = e.select(col("event_type")).distinct()
      val daily = e.crossJoin(broadcast(bounds))
        .groupBy(col("event_type"),
          datediff(col("d"), col("d0")).cast("long").as("idx"))
        .agg(count(lit(1)).as("c"))
      val dense = types.crossJoin(cal)
        .join(daily, Seq("event_type", "idx"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      def level(prev: DataFrame): DataFrame = prev
        // signed term computed BEFORE regrouping so the aggregate never
        // references the (re-aliased) group key
        .withColumn("sgn",
          when(col("idx") % 2 === 0, col("c")).otherwise(-col("c")))
        .groupBy(col("event_type"), expr("idx div 2").as("idx"))
        .agg(sum(col("c")).as("c"), sum(col("sgn")).as("dcoef"))
      val l1 = level(dense)
      val l2 = level(l1.select(col("event_type"), col("idx"), col("c")))
      val l3 = level(l2.select(col("event_type"), col("idx"), col("c")))
      l1.withColumn("level", lit(1L))
        .unionByName(l2.withColumn("level", lit(2L)))
        .unionByName(l3.withColumn("level", lit(3L)))
        .select(col("event_type"), col("level"), col("idx"),
          col("c").as("smooth"), col("dcoef"))
        .orderBy("event_type", "level", "idx")
    }),
    "q412_mutual_knn" -> ((s, dir) => {
      // MUTUAL nearest neighbors (reciprocal top-1) — the hard filter on
      // top of q354's soft margin for bitext/alignment mining: x↔y is a
      // pair iff y is x's best forward match AND x is y's best backward
      // match. The backward pass scores ONLY the forward hits (≤|queries|
      // rows, broadcast back over one X-pool scan) — never pool×pool;
      // ranking on exact bp-quantized cosines, one IEEE division per
      // scored pair. At corpus scale both directions run on the IVF index
      // (q58); the exact scan here is the bounded-query-batch shape that
      // requireQueryBatch enforces. The pair table is the SHARED
      // materialized yardstick (mutualKnnExactIndex) q417's recall curve
      // reads — built once per (dir) per JVM.
      mutualKnnExactIndex(s, dir).orderBy("x")
    }),
    "q413_anova" -> ((s, dir) => {
      // ONE-WAY ANOVA across the k = 5 event-type arms (Fisher): the
      // k-arm generalization of q244's two-arm Welch t. Between/within
      // sums of squares decompose into per-group exact integer moments
      // (n_g, Σy, Σy²) plus grand totals — one hash aggregate, then a
      // 5-row metadata fold; F = (SSB/(k−1))/(SSW/(N−k)) is one fixed
      // double chain written identically in the oracle. The experiment
      // readout for "did ANY arm move" before pairwise tests.
      val m = T(s, dir, "events")
        .select(col("event_type"),
          Num.roundz(col("value") * 100, 0).cast("long").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
          sum(col("y") * col("y")).as("ss"))
      val g = m.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("s")).as("ts"),
        sum(col("ss")).as("tss"),
        // Σ_g s_g²/n_g quantized per group to exact CENTI units BEFORE the
        // sum (float-order-free, q399 discipline; centi not micro because
        // (Σcents)²/n · 10⁶ would overflow int64 at sf1)
        sum(expr("CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)" +
          " / CAST(n AS DOUBLE) * 100) AS BIGINT)")).as("sg_centi"))
      g.select(col("k"), col("nn"),
          Num.roundz((col("sg_centi") / lit(100.0)
            - col("ts").cast("double") * col("ts") / col("nn")), 4).as("ssb"),
          Num.roundz((col("tss").cast("double")
            - col("sg_centi") / lit(100.0)), 4).as("ssw"),
          Num.roundz(((col("sg_centi") / lit(100.0)
            - col("ts").cast("double") * col("ts") / col("nn"))
            / (col("k") - lit(1L)))
            / ((col("tss").cast("double") - col("sg_centi") / lit(100.0))
              / (col("nn") - col("k"))), 4).as("f_stat"))
    }),
    "q414_stratified_kfold" -> ((s, dir) =>
      // STRATIFIED k-fold assignment (the cross-validation counterpart of
      // q109's single split): within each label stratum, documents take
      // folds round-robin in a deterministic (doc_id) order, so every
      // fold's stratum mix matches the corpus mix to within one document
      // — the property the gate row pins (per fold × stratum counts).
      // One stratum-keyed window pass; folds never shuffle the corpus.
      {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy("doc_id")
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
          .withColumn("fold", (row_number().over(w) - 1) % 5)
          .groupBy(col("fold").cast("long").as("fold"), col("lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("fold", "lang")
      }),
    "q415_eb_shrinkage" -> ((s, dir) => {
      // EMPIRICAL-BAYES shrinkage of per-part return rates toward the
      // corpus prior (additive smoothing with data-derived prior mean,
      // prior strength τ = 20 pseudo-observations) — the stabilizer next
      // to q360's Wilson bound: a 1-return/1-line part no longer tops the
      // board. shrunk = (r + τ·p̄)/(n + τ) with p̄ = R/N evaluates EXACTLY
      // as (r·N + τ·R)·10⁴ div ((n + τ)·N) — all integers, one corpus
      // aggregate plus a 1-row broadcast.
      val per = T(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"))
      per.crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("n"), col("r"),
          expr("r * 10000 div n").as("raw_bp"),
          expr("(r * nn + 20 * rr) * 10000 div ((n + 20) * nn)").as("shrunk_bp"))
        .orderBy(col("shrunk_bp").desc, col("l_partkey")).limit(20)
    }),
    "q416_set_cover" -> ((s, dir) => {
      // GREEDY SET COVER over token vocabularies — coverage-maximizing
      // corpus selection (the submodular data-selection shape of
      // facility-location/coreset curation, Wei et al. 2015): 10 rounds,
      // each picking the document adding the most not-yet-covered tokens
      // (ties to the smallest doc_id). Greedy is (1−1/e)-optimal and
      // INHERENTLY sequential — each round is one aggregate over the
      // doc-token pair index (derived once, localCheckpointed) with the
      // covered vocabulary as a ≤rounds·|doc| broadcast anti-join; the
      // per-round argmax is a 1-row metadata collect (q389 discipline).
      // the universe is BIGRAMS (unigram cover saturates in one pick on
      // this corpus's 31-word vocabulary — bigrams give the greedy walk
      // a real frontier at every SF)
      // size(arr) >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) and
      // element_at(arr, 0) throws, so a 0/1-token doc would crash the
      // transform; DuckDB's range(1, len) is simply empty. Filtering short
      // docs keeps both engines at "no bigrams" parity.
      val pairs = T(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")
            .as("arr"))
        .filter(expr("size(arr) >= 2"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(arr) - 1)," +
            " i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"))
          .as("tok"))
        .distinct()
        .localCheckpoint()
      Curation.greedySetCover(s, pairs, rounds = 10)
    }),
    "q417_mutual_knn_ivf" -> ((s, dir) => {
      // IVF-INDEXED mutual kNN — the corpus-scale variant q412's design
      // note promises: BOTH directions run on the q58 IVF index (probed
      // cells only, never a full scan), and recall is measured against
      // q412's exact reciprocal-top-1 semantics at nprobe 1/2/4/8 (the
      // q268 curve pattern). This is the operator a 100 TB bitext-mining
      // user actually runs: forward = X queries probe the Y index,
      // backward = the forward hits probe the X index; a pair survives
      // iff both directions agree. Per-direction cost is
      // nprobe/|cells| of one index scan; the exact truth (here the
      // recall yardstick) is what the index approximates. The cell
      // ASSIGNMENT is derived ONCE for the whole table and checkpointed
      // (the stored-index production shape — round-14 verdict item 3);
      // the 8 searches (4 nprobe points × 2 directions) filter the shared
      // index instead of re-assigning their corpus side per call.
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") >= 100 && col("vec_id") < 116)
      // ONE centroid-scoring pass ranks every vector's cells 1..8; every
      // curve point and direction below FILTERS this frame — probe_rank=1
      // doubles as the storage assignment (the stored-index shape)
      val probed = Similarity.ivfProbeRanked(emb, cents, "vec_id",
        "embedding", maxProbe = 8).localCheckpoint()
      def qc(side: DataFrame): DataFrame = side.select(col("cell"),
        col("vec_id").as("query_id"), col("embedding").as("qv"))
      val xsP = probed.filter(col("vec_id") % 2 === 0 && col("vec_id") < 2000)
      val ysIdx = probed
        .filter(col("vec_id") % 2 === 1 && col("probe_rank") === 1)
        .select(col("cell"), col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"))
      val xsIdx = probed
        .filter(col("vec_id") % 2 === 0 && col("vec_id") < 2000 &&
          col("probe_rank") === 1)
        .select(col("cell"), col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"))
      // the exact yardstick is q412's SHARED materialized pair table —
      // the curve never re-runs the two exact corpus passes
      val exact = mutualKnnExactIndex(s, dir).select(col("x"), col("y"))
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      Seq(1, 2, 4, 8).map { np =>
        val fwd = Similarity.ivfTopKPrepared(ysIdx,
            qc(xsP.filter(col("probe_rank") <= np)), k = 1)
          .select(col("query_id").as("x"), col("neighbor_id").as("y"))
        val backQ = probed.join(fwd.select(col("y").as("vec_id")).distinct(),
          Seq("vec_id")).filter(col("probe_rank") <= np)
        val bwd = Similarity.ivfTopKPrepared(xsIdx, qc(backQ), k = 1)
          .select(col("query_id").as("y"), col("neighbor_id").as("bx"))
        val approx = fwd.join(bwd, Seq("y")).filter(col("x") === col("bx"))
          .select(col("x"), col("y"))
        approx.join(exact.withColumn("__hit", lit(1)), Seq("x", "y"), "left")
          .agg(count(lit(1)).as("n_pairs"), count(col("__hit")).as("hits"))
          .crossJoin(broadcast(nEx))
          .select(lit(np.toLong).as("nprobe"),
            col("n_pairs").cast("long").as("n_pairs"),
            col("hits").cast("long").as("hits"),
            col("n_exact").cast("long").as("n_exact"),
            Num.roundz(col("hits") / greatest(col("n_exact"), lit(1L)), 4)
              .as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),
    "q418_mcnemar" -> ((s, dir) => {
      // McNemar's paired test — the eval-family gap next to q208 (AUC) /
      // q238 (kappa): q208 scores ONE model, q238 measures rater agreement;
      // shipping a model swap needs the PAIRED comparison on the SAME docs,
      // where only the discordant cells carry information. A = the q50
      // n-gram langid, B = the majority-class baseline (always 'en');
      // b = A right & B wrong, c = A wrong & B right,
      // chi2 = (b-c)^2/(b+c) — exact integer centi-scale, the q205 SRM
      // convention (the 5%-level flag 3.84 decides on integers).
      // Scale shape: one scan, one global aggregate; 1 output row.
      val d = T(s, dir, "documents")
        .select((ops.TextAnalysis.langId(col("text")) === col("lang")).as("a_ok"),
          (col("lang") === "en").as("b_ok"))
      d.agg(
        sum(when(col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("n00"))
        .select(col("n11"), col("b"), col("c"), col("n00"),
          expr("CASE WHEN b + c = 0 THEN 0L ELSE (100 * (b - c) * (b - c)) div (b + c) END")
            .as("chi2_centi"),
          (expr("CASE WHEN b + c = 0 THEN 0L ELSE (100 * (b - c) * (b - c)) div (b + c) END")
            > 384L).as("significant"))
    }),
    "q419_shapley_attribution" -> ((s, dir) => {
      // exact Shapley-value channel attribution — the cooperative-game
      // complement of q389's Markov removal effect: v(S) counts converted
      // users whose touched-channel set fits inside coalition S, and each
      // channel's credit is the exact Shapley sum over all 2^5 coalitions.
      // With 5 fixed channels the coalition lattice is 32 rows — a
      // broadcast-side constant — so the corpus pays ONE user aggregate
      // and one |masks|<=32 rollup regardless of row count; everything
      // after is bounded algebra. phi * 120 (= 5!) is an exact integer:
      // weights k!(4-k)! are 24/6/4/6/24 by |S|.
      val idx = "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1" +
        " WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END"
      val users = T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum_distinct(expr(s"CAST(shiftleft(1, $idx) AS BIGINT)")).as("mask"),
          max(col("value")).as("mx"))
        .filter(col("mx") >= 300.0)
      val obs = users.groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // <=32 rows; two consumers below
      val coal = s.range(0, 32).toDF("sm")
      val v = coal.join(broadcast(obs), expr("(mask & sm) = mask"), "left")
        .groupBy(col("sm")).agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
      val ch = s.range(0, 5).toDF("ci")
      ch.join(broadcast(v.as("vs")), expr("(sm & shiftleft(1, CAST(ci AS INT))) = 0"))
        .join(broadcast(v.select(col("sm").as("sm2"), col("v").as("v2")).as("vi")),
          expr("sm2 = (sm | shiftleft(1, CAST(ci AS INT)))"))
        .withColumn("w", expr("CASE bit_count(sm) WHEN 0 THEN 24 WHEN 1 THEN 6" +
          " WHEN 2 THEN 4 WHEN 3 THEN 6 ELSE 24 END"))
        .groupBy(col("ci"))
        .agg(sum(expr("w * (v2 - v)")).cast("long").as("shapley_x120"))
        .select(expr("CASE ci WHEN 0 THEN 'click' WHEN 1 THEN 'error'" +
          " WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup' ELSE 'view' END")
          .as("channel"), col("shapley_x120"))
        .orderBy("channel")
    }),
    "q420_pass_at_k" -> ((s, dir) => {
      // the unbiased pass@k estimator (1 - C(n-c,k)/C(n,k)) per part,
      // treating its lineitems as trials and returnflag='R' as a pass —
      // the LLM-eval aggregation shape (n samples per task, c successes,
      // report pass@{1,5,10}). The combinatorial ratio is computed as the
      // ORDER-SPECIFIED product prod_{i<k} (n-c-i)/(n-i): each step is one
      // correctly-rounded IEEE divide and multiply, and the oracle folds
      // the identical sequence, so the doubles match BIT-FOR-BIT — no
      // quantization needed (ln/exp never enters). One hash aggregate to
      // |parts| rows; the fold is k<=10 scalar ops per row.
      def passAt(k: Int) = expr(
        s"CASE WHEN n - c < $k THEN CAST(1.0 AS DOUBLE) ELSE " +
          s"1.0 - aggregate(sequence(0, ${k - 1}), CAST(1.0 AS DOUBLE), " +
          s"(acc, i) -> acc * (CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE))) END")
      T(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("c"))
        .filter(col("n") >= 10)
        .select(col("l_partkey"), col("n"), col("c"),
          passAt(1).as("pass_at_1"), passAt(5).as("pass_at_5"),
          passAt(10).as("pass_at_10"))
        .orderBy("l_partkey")
    }),
    "q421_cusum_control" -> ((s, dir) => {
      // one-sided CUSUM control chart per event type: baseline mean from
      // the first 10 calendar days, then S_i = max(0, S_{i-1} + x_i - mu -
      // mu/20) over the monitored days, alarming when S crosses 4*mu.
      // DISTRIBUTED form: the reset-at-zero recursion is the reflected-walk
      // identity S_i = P_i - min(0, min_{j<=i} P_j) (P = prefix sum of the
      // increments), so the whole chart is two window functions over the
      // per-day frame — no sequential fold, unlike q200's Holt state, and
      // the frame is |types| x |days|, never raw events. All integer: cents
      // scaled by 20*n0 make mu + mu/20 the exact integer 21*base_sum.
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), ops.TextFunctions.dayString(col("ts")).as("day"))
        .agg(sum(ops.Num.roundz(col("value") * 100, 0).cast("long")).as("cents"))
      val base = daily.filter(col("day") <= "2024-01-10")
        .groupBy(col("event_type"))
        .agg(sum(col("cents")).as("base_sum"), count(lit(1)).as("n0"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
      daily.filter(col("day") > "2024-01-10")
        .join(broadcast(base), Seq("event_type"))
        .withColumn("inc", expr("20 * n0 * cents - 21 * base_sum"))
        .withColumn("p", sum(col("inc")).over(w))
        .withColumn("s_scaled",
          col("p") - least(lit(0L), min(col("p")).over(w)))
        .select(col("event_type"), col("day"), col("inc"), col("s_scaled"),
          (col("s_scaled") > expr("80 * base_sum")).as("alarm"))
        .orderBy("event_type", "day")
    }),
    "q422_decision_stump" -> ((s, dir) => {
      // histogram-based split finding (the LightGBM/XGBoost hist trick) —
      // the tree-learning primitive the stats family lacks: bin the feature
      // (price, $100 bins), aggregate per-bin (n, pos) once, then score
      // every split from prefix sums. Label: p_size >= 25. The split score
      // minimizes weighted Gini; ranking uses the EXACT integer rational
      //   score/1e6 = (pl^2+(nl-pl)^2)/nl + (pr^2+(nr-pr)^2)/nr
      // via decimal(38,0) `div` (the numerator tops int64 at sf1) — no
      // float enters, so cross-engine argmax cannot flip. Scale shape: one
      // hash aggregate to |bins| rows; prefix sums + scoring run on that
      // bounded frame, NEVER the corpus — the 100 TB shape (one pass +
      // bounded algebra), vs the naive sort-all-candidate-thresholds.
      val bins = T(s, dir, "part")
        .groupBy(expr("CAST(round(p_retailprice * 100, 0) AS BIGINT) div 10000")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p_size") >= 25, 1L).otherwise(0L)).as("pos"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bin")).rowsBetween(Long.MinValue, 0)
      bins
        .withColumn("nl", sum(col("n")).over(w))
        .withColumn("pl", sum(col("pos")).over(w))
        .crossJoin(broadcast(bins.agg(sum(col("n")).as("nt"), sum(col("pos")).as("pt"))))
        .filter(col("nl") < col("nt"))
        .withColumn("nr", col("nt") - col("nl"))
        .withColumn("pr", col("pt") - col("pl"))
        .withColumn("a", expr("pl * pl + (nl - pl) * (nl - pl)"))
        .withColumn("bb", expr("pr * pr + (nr - pr) * (nr - pr)"))
        .withColumn("score_ppm", expr(
          "CAST(CAST(1000000 AS DECIMAL(38,0)) * (CAST(a AS DECIMAL(38,0)) * nr + " +
            "CAST(bb AS DECIMAL(38,0)) * nl) div (CAST(nl AS DECIMAL(38,0)) * nr) AS BIGINT)"))
        .select(col("bin").as("split_bin"), col("nl"), col("pl"), col("nr"),
          col("pr"), col("score_ppm"))
        .orderBy(col("score_ppm").desc, col("split_bin"))
        .limit(10)
    }),
    "q423_uplift_qini" -> ((s, dir) => {
      // uplift deciles + the Qini numerator — the targeting readout next to
      // q163's average lift: rank users by a pre-period activity score,
      // then per score-decile compare treated vs control conversion, and
      // accumulate the Qini curve top-down. Everything after the per-user
      // aggregate is a 10-row frame; the Qini value at each decile is the
      // EXACT integer ct_cum*nc_cum - cc_cum*nt_cum (the 1/nc_cum
      // normalization would be rational — scaling by nc_cum keeps the
      // cross-engine compare on integers, the q252 convention).
      val ev = T(s, dir, "events")
      val users = ev.groupBy(col("user_id"))
        .agg(sum(when(ops.TextFunctions.dayString(col("ts")) <= "2024-01-15", 1L)
          .otherwise(0L)).as("score"),
          max(when(ops.TextFunctions.dayString(col("ts")) > "2024-01-15"
            && col("value") >= 300.0, 1L).otherwise(0L)).as("conv"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      val wOrd = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("user_id"))
      val byDec = users
        .withColumn("decile", ntile(10).over(wOrd).cast("long"))
        .groupBy(col("decile"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("ct"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("cc"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col("decile")).rowsBetween(Long.MinValue, 0)
      byDec
        .withColumn("qini_x", sum(col("ct")).over(wCum) * sum(col("nc")).over(wCum)
          - sum(col("cc")).over(wCum) * sum(col("nt")).over(wCum))
        .select(col("decile"), col("nt"), col("nc"), col("ct"), col("cc"),
          col("qini_x"))
        .orderBy("decile")
    }),
    "q424_bleu" -> ((s, dir) => {
      // corpus BLEU-4 — the generation-eval twin of q314's ROUGE overlap:
      // candidates are the planted near-dup docs, references their
      // originals (cand = ref + ' dup'), paired by an equi-join on the
      // constructed text. Modified n-gram precision is the clipped
      // multiset intersection summed over the corpus (exact integers);
      // the geometric mean is sqrt(sqrt(p1*p2*p3*p4)) — sqrt and the
      // four divides are correctly-rounded IEEE ops folded in the same
      // order by both engines, so the final double matches bit-for-bit
      // and ln/exp never enters (the brevity penalty's exp sits in a
      // CASE branch that c>=r makes unreachable). Scale shape: n-gram
      // explode only over the PAIRED docs (5% of the corpus), grouped
      // counts both sides, one bounded join per n.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.as("c").join(docs.as("r"),
        expr("c.text = concat(r.text, ' dup')"))
        .select(col("c.doc_id").as("pair_id"), col("c.text").as("ct"),
          col("r.text").as("rt"))
        .localCheckpoint() // reused by 4 n-gram passes + the length sums
      def grams(src: String, n: Int) = pairs
        .select(col("pair_id"), split(col(src), " ").as("t"))
        .filter(size(col("t")) >= n) // sequence(1, 0) would DESCEND (q416 lesson)
        .select(col("pair_id"), explode(expr(
          s"transform(sequence(1, size(t) - ${n - 1}), i -> " +
            s"concat_ws(' ', slice(t, i, $n)))")).as("g"))
        .groupBy(col("pair_id"), col("g")).agg(count(lit(1)).as("cnt"))
      val perN = (1 to 4).map { n =>
        val c = grams("ct", n)
        val r = grams("rt", n).withColumnRenamed("cnt", "rcnt")
        val m = c.join(r, Seq("pair_id", "g"))
          .agg(coalesce(sum(least(col("cnt"), col("rcnt"))), lit(0L)).as("match"))
        val t = c.agg(sum(col("cnt")).as("total"))
        m.crossJoin(t).select(lit(n).as("n"), col("match"), col("total"))
      }.reduce(_.unionByName(_))
      val lens = pairs.agg(
        sum(size(split(col("ct"), " "))).cast("long").as("c_len"),
        sum(size(split(col("rt"), " "))).cast("long").as("r_len"))
      perN.groupBy()
        .agg(sum(when(col("n") === 1, col("match"))).as("match1"),
          sum(when(col("n") === 1, col("total"))).as("total1"),
          sum(when(col("n") === 2, col("match"))).as("match2"),
          sum(when(col("n") === 2, col("total"))).as("total2"),
          sum(when(col("n") === 3, col("match"))).as("match3"),
          sum(when(col("n") === 3, col("total"))).as("total3"),
          sum(when(col("n") === 4, col("match"))).as("match4"),
          sum(when(col("n") === 4, col("total"))).as("total4"))
        .crossJoin(lens)
        .withColumn("bleu", expr(
          "(CASE WHEN c_len >= r_len THEN CAST(1.0 AS DOUBLE)" +
            " ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END) * " +
            "sqrt(sqrt((CAST(match1 AS DOUBLE) / CAST(total1 AS DOUBLE)) * " +
            "(CAST(match2 AS DOUBLE) / CAST(total2 AS DOUBLE)) * " +
            "(CAST(match3 AS DOUBLE) / CAST(total3 AS DOUBLE)) * " +
            "(CAST(match4 AS DOUBLE) / CAST(total4 AS DOUBLE))))"))
        .drop("c_len", "r_len")
    }),
    "q425_sort_for_compression" -> ((s, dir) => {
      // layout advisor: which sort key makes the OTHER columns compress? —
      // the decision input for q99/q124-style rewrites. For each candidate
      // key, count the RLE runs each payload column would have after
      // ORDER BY (key, orderkey, linenumber), computed WITHOUT a global
      // sort: rows group by (key, l_orderkey div 4096), transitions are
      // counted inside each bucket by a PARTITIONED window, and every
      // bucket boundary conservatively opens a new run (+1). The metric is
      // defined as this bucketed upper bound precisely so it distributes —
      // a true global-adjacency count would serialize a 3-value key's
      // whole corpus through one window task at 100 TB. Exact integers.
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_returnflag"), col("l_linestatus"),
        ops.TextFunctions.dayString(col("l_shipdate")).substr(1, 7).as("ship_month"))
      val payload = Seq("l_partkey", "l_suppkey", "l_returnflag", "l_linestatus")
      def runsFor(keyName: String): DataFrame = {
        // (l_orderkey, l_linenumber) is NOT unique in this data (the q07
        // lesson) — ordering by every payload column too makes the
        // within-bucket sequence invariant under duplicate sort keys, so
        // the transition counts are total-order-independent cross-engine
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__k"), col("__b"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_returnflag"), col("l_linestatus"))
        val flagged = li
          .withColumn("__k", col(keyName).cast("string"))
          .withColumn("__b", expr("l_orderkey div 4096"))
          .select(Seq(col("__k"), col("__b"), col("l_orderkey"), col("l_linenumber")) ++
            payload.map { c =>
              when(lag(col(c), 1).over(w).isNull
                || lag(col(c), 1).over(w) =!= col(c), 1L).otherwise(0L).as(s"__r_$c")
            }: _*)
        val agg = flagged.agg(
          payload.map(c => sum(col(s"__r_$c")).as(c)).head,
          payload.map(c => sum(col(s"__r_$c")).as(c)).tail: _*)
        agg.select(Seq(lit(keyName).as("sort_key")) ++
          payload.map(col): _*)
      }
      Seq("l_returnflag", "l_linestatus", "ship_month").map(runsFor)
        .reduce(_.unionByName(_))
        .select(col("sort_key"), col("l_partkey").as("runs_partkey"),
          col("l_suppkey").as("runs_suppkey"),
          col("l_returnflag").as("runs_returnflag"),
          col("l_linestatus").as("runs_linestatus"))
        .orderBy("sort_key")
    }),
    "q426_hierarchy_paths" -> ((s, dir) => {
      // FK-chain flatten: every node's root + full path through the
      // customer→nation→region hierarchy, by POINTER JUMPING — each round
      // joins the state with itself on (my farthest ancestor = your node),
      // DOUBLING the resolved horizon, so a depth-d hierarchy needs
      // ceil(log2 d) shuffle rounds, not d (the difference between 2 and
      // 40 rounds on a deep org/thread tree at 100 TB). Two rounds here
      // cover depth <= 4 > the schema's 3; roots are their own fixpoint
      // (suffix '', +0 depth), so extra rounds are no-ops, never wrong.
      def nodes(t: String, id: String, pid: String, p: String, pp: String) =
        T(s, dir, t).select(concat(lit(p), col(id)).as("node"),
          (if (pp.isEmpty) lit(null).cast("string")
           else concat(lit(pp), col(pid))).as("parent"))
      val all = nodes("customer", "c_custkey", "c_nationkey", "c:", "n:")
        .unionByName(nodes("nation", "n_nationkey", "n_regionkey", "n:", "r:"))
        .unionByName(T(s, dir, "region")
          .select(concat(lit("r:"), col("r_regionkey")).as("node"),
            lit(null).cast("string").as("parent")))
      val init = all.select(col("node"),
        coalesce(col("parent"), col("node")).as("anc"),
        when(col("parent").isNull, 0L).otherwise(1L).as("depth"),
        when(col("parent").isNull, "").otherwise(concat(lit("/"), col("parent")))
          .as("sfx"))
      val resolved = (1 to 2).foldLeft(init) { (st, _) =>
        st.as("a").join(
          st.select(col("node").as("bn"), col("anc").as("banc"),
            col("depth").as("bd"), col("sfx").as("bsfx")).as("b"),
          col("a.anc") === col("bn"))
          .select(col("a.node").as("node"), col("banc").as("anc"),
            (col("a.depth") + col("bd")).as("depth"),
            concat(col("a.sfx"), col("bsfx")).as("sfx"))
      }
      resolved.select(col("node"), col("anc").as("root"), col("depth"),
        concat(col("node"), col("sfx")).as("path"))
        .orderBy("node")
    }),
    "q427_policy_mask" -> ((s, dir) => {
      // data-driven row/column security (ops.Policy): the rule set below is
      // METADATA — per role it compiles to one pushed row-filter + one
      // codegen'd masking projection over customer, zero extra shuffles.
      // analyst: names truncated, balances nulled, one segment row-filtered
      // out; support: names pseudonymized by md5; admin: passthrough. The
      // gate pins that masking composes with filtering and that an unknown
      // action can never silently pass data through (Policy `require`s).
      import ops.Policy
      Policy.applyPolicy(
        T(s, dir, "customer"),
        Seq(
          Policy.Rule("analyst", "c_name", "redact_tail", "9"),
          Policy.Rule("analyst", "c_acctbal", "nullify", ""),
          Policy.Rule("analyst", "__row_filter__",
            "c_mktsegment <> 'AUTOMOBILE'", ""),
          Policy.Rule("support", "c_name", "md5", "")),
        roles = Seq("admin", "analyst", "support"),
        keepCols = Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
        .orderBy("role", "c_custkey")
    }),
    "q428_merkle_ranges" -> ((s, dir) => {
      // snapshot diff by Merkle descent — the integrity primitive behind
      // "which key ranges changed between yesterday's copy and today's?"
      // without shipping either table: both snapshots hash into a 3-level
      // tree (512-row leaves, fanout 32), and ONLY differing nodes surface.
      // At 100 TB the comparison exchanges |tree| = N/512 + N/16384 + 1
      // hashes instead of N rows, and an unchanged subtree is pruned at its
      // root. The synthetic 'today' bumps every 997th order's price and
      // deletes every 1009th order, so the gate pins both edit kinds
      // (value change and membership change) surfacing on exactly the
      // ranges that hold them.
      val rows = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
        col("o_orderstatus"))
      def hashed(df: DataFrame) = df.select(col("k"),
        md5(concat_ws("|", col("k"), col("cents"), col("o_orderstatus"))).as("rh"))
      val base = hashed(rows)
      val cur = hashed(rows
        .filter(col("k") % 1009 =!= 0)
        .withColumn("cents",
          when(col("k") % 997 === 0, col("cents") + 100).otherwise(col("cents"))))
      merkleLevels(base).as("b")
        .join(merkleLevels(cur)
          .select(col("level").as("cl"), col("node_id").as("cn"),
            col("h").as("ch")).as("c"),
          col("level") === col("cl") && col("node_id") === col("cn"), "full")
        .filter(!(col("h") <=> col("ch")))
        .select(coalesce(col("level"), col("cl")).as("level"),
          coalesce(col("node_id"), col("cn")).as("node_id"),
          col("h").as("base_h"), col("ch").as("cur_h"))
        .orderBy(col("level").desc, col("node_id"))
    }),
    "q429_mannwhitney_u" -> ((s, dir) => {
      // Mann-Whitney U — the nonparametric twin of q244's Welch t: arm
      // comparison on RANKS, so one $10k outlier cannot buy the verdict.
      // Rank sums come from the (type, cents) HISTOGRAM, not per-row
      // ranking: average tied ranks x2 are the exact integer 2s+t+1 (s =
      // count below the tie group, t = its size), so the window runs over
      // |distinct cents| rows per type — bounded by the value domain, not
      // the corpus — and every statistic stays an exact integer (U doubled;
      // the rank-biserial effect floor'd at ppm on decimal/hugeint).
      val g = T(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
          pmod(col("user_id"), lit(2L)).as("arm"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("t"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("t1"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Long.MinValue, -1)
      g.withColumn("s", coalesce(sum(col("t")).over(w), lit(0L)))
        .groupBy(col("event_type"))
        .agg(sum(expr("t1 * (2 * s + t + 1)")).as("r1_2"),
          sum(col("t1")).as("n1"), sum(expr("t - t1")).as("n2"))
        .withColumn("u2", expr("r1_2 - n1 * (n1 + 1)"))
        .select(col("event_type"), col("n1"), col("n2"), col("u2"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * u2) div (n1 * n2) AS BIGINT)")
            .as("rb_plus1_ppm"))
        .orderBy("event_type")
    }),
    "q430_kcenter_seeds" -> ((s, dir) => {
      // greedy farthest-point k-center seeding — the deterministic
      // initializer the q257/q58 kmeans path lacks (its seeds are fixed id
      // ranges): each round picks the point farthest from every chosen
      // center, so the seed set 2-approximates the optimal k-center cover
      // (Gonzalez '85) and the emitted radius curve IS the coverage bound.
      // Each round is one broadcast pass over the corpus (<=k centers
      // crossed against points, min per point) + a 1-row argmax collect
      // (the q416 greedy convention); k rounds total, never a pairwise
      // matrix. dist^2 rides the dot identity |x|^2-2x.c+|c|^2 rounded to
      // 6dp before the argmax — last-ulp dot-order noise cannot flip a
      // pick (the q45 convention); ties break on vec_id.
      import s.implicits._
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .localCheckpoint() // k scans of a frozen frame, not k re-reads
      var picked = Vector((0L, Option.empty[Double])) // seed 0: the convention start
      (1 to 7).foreach { _ =>
        val best = ops.Similarity
          .kcenterRound(emb, picked.map(_._1), "vec_id", "embedding")
          .orderBy(col("d").desc, col("vec_id")).limit(1)
          .head()
        picked = picked :+ ((best.getLong(0), Some(best.getDouble(1))))
      }
      picked.zipWithIndex
        .map { case ((cid, rad), r) => (r.toLong, cid, rad) }
        .toDF("r", "cid", "radius")
        .select(col("r"), col("cid"), ops.Num.normZero(col("radius")).as("radius"))
        .orderBy("r")
    }),
    "q431_dtw_distance" -> ((s, dir) => {
      // banded Dynamic Time Warping between every pair of event-type daily
      // series — the elastic series similarity q220's lag-scan cross-
      // correlation cannot express (DTW aligns local stretches, not one
      // global shift). Sakoe-Chiba band w=3, cost |a-b| on exact integer
      // counts, so the whole DP is integer arithmetic — bit-identical
      // cross-engine by construction. The grid is 31x31 per pair folded
      // INSIDE one row via nested higher-order aggregates (outer over
      // rows, inner over cells, O(band) effective work): |types|^2/2 rows
      // of bounded CPU, zero extra shuffles beyond the daily rollup —
      // at corpus scale the cost is the rollup, not the DP.
      val INF = "1000000000000000"
      val ser = dailySeries(s, dir, asDouble = false)
      val pairs = ser.select(col("event_type").as("ta"), col("xs").as("xa"))
        .join(ser.select(col("event_type").as("tb"), col("xs").as("xb")),
          col("ta") < col("tb"))
      val row1 =
        s"""aggregate(sequence(2, 31), array(abs(element_at(xa, 1) - element_at(xb, 1))),
           |  (N, j) -> concat(N, array(CASE WHEN abs(1 - j) <= 3
           |    THEN abs(element_at(xa, 1) - element_at(xb, j)) + element_at(N, j - 1)
           |    ELSE $INF END)))""".stripMargin
      val dp =
        s"""aggregate(sequence(2, 31), $row1,
           |  (P, i) -> aggregate(sequence(2, 31),
           |    array(CASE WHEN abs(i - 1) <= 3
           |      THEN abs(element_at(xa, i) - element_at(xb, 1)) + element_at(P, 1)
           |      ELSE $INF END),
           |    (N, j) -> concat(N, array(CASE WHEN abs(i - j) <= 3
           |      THEN abs(element_at(xa, i) - element_at(xb, j)) +
           |        least(element_at(P, j), element_at(P, j - 1), element_at(N, j - 1))
           |      ELSE $INF END))))""".stripMargin
      pairs.select(col("ta"), col("tb"),
        expr(s"element_at($dp, 31)").as("dtw"))
        .orderBy("ta", "tb")
    }),
    "q432_fellegi_sunter" -> ((s, dir) => {
      // Fellegi-Sunter probabilistic record linkage — the WEIGHTED layer
      // q203's rule-based entity resolution lacks: per comparison field
      // estimate m (agreement rate among true matches) and u (among
      // non-matches) from labeled candidates, then score every agreement
      // pattern by its likelihood ratio prod m_k/u_k (agree) x
      // (1-m_k)/(1-u_k) (disagree). Candidates come from one equi-join
      // block (n_chars div 25) over a fixed probe slice (doc_id < 400,
      // the q49 bounding convention — pairwise listings are a harness
      // yardstick, not a corpus scan); truth is the planted '+ dup'
      // construction. The weight is an order-specified chain of
      // correctly-rounded IEEE ops on exact counts — bit-identical
      // cross-engine; degenerate denominators surface as NULL, never a
      // crash or a silent wrong weight.
      val d = T(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), expr("n_chars div 25").as("bucket"))
      val cands = d.as("a").join(d.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(
          (col("a.lang") === col("b.lang")).as("f1"),
          (col("a.source") === col("b.source")).as("f2"),
          (abs(col("a.n_chars") - col("b.n_chars")) <= 4).as("f3"),
          (col("b.text") === concat(col("a.text"), lit(" dup"))).as("is_match"))
        .localCheckpoint() // scanned by the global-count and pattern aggs
      val g = cands.agg(
        sum(when(col("is_match"), 1L).otherwise(0L)).as("mt"),
        sum(when(!col("is_match"), 1L).otherwise(0L)).as("ut"),
        sum(when(col("is_match") && col("f1"), 1L).otherwise(0L)).as("ma1"),
        sum(when(!col("is_match") && col("f1"), 1L).otherwise(0L)).as("ua1"),
        sum(when(col("is_match") && col("f2"), 1L).otherwise(0L)).as("ma2"),
        sum(when(!col("is_match") && col("f2"), 1L).otherwise(0L)).as("ua2"),
        sum(when(col("is_match") && col("f3"), 1L).otherwise(0L)).as("ma3"),
        sum(when(!col("is_match") && col("f3"), 1L).otherwise(0L)).as("ua3"))
      def ratio(k: Int) =
        s"""CASE WHEN f$k THEN
           |  CASE WHEN mt = 0 OR ut = 0 OR ua$k = 0 THEN CAST(NULL AS DOUBLE)
           |    ELSE (CAST(ma$k AS DOUBLE) / CAST(mt AS DOUBLE)) / (CAST(ua$k AS DOUBLE) / CAST(ut AS DOUBLE)) END
           |ELSE
           |  CASE WHEN mt = 0 OR ut = 0 OR ut = ua$k THEN CAST(NULL AS DOUBLE)
           |    ELSE (CAST(mt - ma$k AS DOUBLE) / CAST(mt AS DOUBLE)) / (CAST(ut - ua$k AS DOUBLE) / CAST(ut AS DOUBLE)) END
           |END""".stripMargin
      cands.groupBy(col("f1"), col("f2"), col("f3"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("is_match"), 1L).otherwise(0L)).as("n_match"))
        .crossJoin(broadcast(g))
        .withColumn("weight",
          expr(s"((${ratio(1)}) * (${ratio(2)})) * (${ratio(3)})"))
        .select(col("f1"), col("f2"), col("f3"), col("n_pairs"), col("n_match"),
          col("weight"))
        .orderBy("f1", "f2", "f3")
    }),
    "q433_holt_winters" -> ((s, dir) => {
      // additive Holt-Winters (level + trend + weekly seasonality) — the
      // seasonal extension of q200's Holt: q175 MEASURES seasonality,
      // q200 smooths through it; this key forecasts WITH it. State
      // (l, b, s[7]) folds over the densified daily series inside one
      // row per type (the q200 struct-fold idiom; the seasonal ring
      // rotates by slice+append, never indexed mutation — the safe shape
      // both engines evaluate purely). alpha/beta/gamma = 0.3/0.1/0.2;
      // init: l = mean(week1), b = (mean(week2) - mean(week1))/7,
      // s_j = x_j - mean(week1). Identical fold text both engines, 4dp
      // display rounding at the end only.
      val ser = dailySeries(s, dir, asDouble = true)
      val m1 = (1 to 7).map(i => s"element_at(xs, $i)").mkString("(", " + ", ") / 7.0D")
      val m2 = (8 to 14).map(i => s"element_at(xs, $i)").mkString("(", " + ", ") / 7.0D")
      val s0 = (1 to 7).map(i => s"element_at(xs, $i) - __m1").mkString("array(", ", ", ")")
      val nl = "0.3D * (element_at(xs, t) - element_at(acc.s, 1)) + 0.7D * (acc.l + acc.b)"
      val fold =
        s"""aggregate(sequence(8, 31),
           |  named_struct('l', __m1, 'b', (__m2 - __m1) / 7.0D, 's', $s0),
           |  (acc, t) -> named_struct(
           |    'l', $nl,
           |    'b', 0.1D * (($nl) - acc.l) + 0.9D * acc.b,
           |    's', concat(slice(acc.s, 2, 6),
           |      array(0.2D * (element_at(xs, t) - ($nl)) + 0.8D * element_at(acc.s, 1)))))""".stripMargin
      ser
        .withColumn("__m1", expr(m1)).withColumn("__m2", expr(m2))
        .withColumn("__f", expr(fold))
        .select(col("event_type"),
          ops.Num.roundz(col("__f.l"), 4).as("level"),
          ops.Num.roundz(col("__f.b"), 4).as("trend"),
          ops.Num.roundz(expr("__f.l + __f.b + element_at(__f.s, 1)"), 4)
            .as("forecast"))
        .orderBy("event_type")
    }),
    "q434_theilsen_slope" -> ((s, dir) => {
      // Theil-Sen robust trend per event type: the MEDIAN of all pairwise
      // slopes (x_j - x_i)/(j - i) — one wild day cannot buy the trend the
      // way it buys q392's OLS line. The 465 day-pairs per type come from
      // self-joining the 31-row daily frame (bounded algebra, never
      // events); each slope is quantized as floor(1e6 * num/den) where the
      // division is ONE correctly-rounded IEEE op on exact integers — both
      // engines produce the same double, so the same floor and the same
      // median element (rank ceil(n/2) in (slope, i, j) order).
      val ser = dailySeries(s, dir, asDouble = false)
        .select(col("event_type"), explode(expr(
          "transform(sequence(1, 31), i -> named_struct('i', CAST(i AS BIGINT), 'x', element_at(xs, i)))"))
          .as("p"))
        .select(col("event_type"), col("p.i").as("i"), col("p.x").as("x"))
      val pairs = ser.as("a").join(ser.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.i") < col("b.i"))
        .select(col("a.event_type").as("event_type"),
          col("a.i").as("i"), col("b.i").as("j"),
          expr("FLOOR(1000000 * (CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE)))")
            .cast("long").as("slope_q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("slope_q"), col("i"), col("j"))
      pairs
        .withColumn("rn", row_number().over(w))
        .join(broadcast(pairs.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"))), Seq("event_type"))
        .filter(col("rn") === expr("CAST(ceil(n_pairs / 2.0) AS BIGINT)"))
        .select(col("event_type"), col("n_pairs"), col("slope_q").as("median_slope_q"))
        .orderBy("event_type")
    }),
    "q435_delta_method_ci" -> ((s, dir) => {
      // ratio-metric variance by the delta method — the missing CI next to
      // q359's proportion z-test: per-user ratio metrics (cents per event)
      // violate the iid-row assumption, so var(X̄/Ȳ) is estimated as
      // (s_xx − 2R·s_xy + R²·s_yy) / (n·Ȳ²) over USER-level totals. One
      // user aggregate then one moment aggregate per (type, arm) — exact
      // integer sums (squares on decimal(38): Σx² tops int64 at sf1), the
      // double algebra in one fixed order → bit-identical CI half-widths.
      val u = T(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("user_id"), lit(2L)).as("arm"),
          col("user_id"))
        .agg(sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("x"),
          count(lit(1)).as("y"))
      val dec = "decimal(38,0)"
      u.groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"),
          sum(col("y").cast(dec) * col("y")).as("syy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"))
        .filter(col("n") >= 2)
        .withColumn("r", expr("CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)"))
        .withColumn("vr", expr(
          // sample (co)variances from exact sums, then the delta form;
          // every subexpression parenthesized so both engines fold the
          // same op order
          "(((CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))" +
            " - (2.0 * r) * ((CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))" +
            " + (r * r) * ((CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)))" +
            " / (CAST(n AS DOUBLE) * ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))"))
        .select(col("event_type"), col("arm"), col("n"), col("r"),
          col("vr"), expr("1.96 * sqrt(vr)").as("ci_half"))
        .orderBy("event_type", "arm")
    }),
    "q436_mips_transform" -> ((s, dir) => {
      // maximum-inner-product search via the norm-augmentation reduction
      // (Bachrach et al. '14): append sqrt(M² − |x|²) to every corpus
      // vector and 0 to the query — argmax cosine on the augmented space
      // IS argmax dot on the original. The gate runs both paths (exact
      // dot top-1 vs transformed cosine top-1 through the SAME q45
      // two-phase scorer) and pins agreement per query — the reduction's
      // correctness certificate. Norms are varied first (unit vectors
      // would make the reduction trivially degenerate). Corpus scans
      // twice, queries broadcast; never a matrix.
      val emb = T(s, dir, "embeddings")
        .select(col("vec_id"), expr(
          "transform(embedding, v -> CAST(v AS DOUBLE) * ((1 + (vec_id % 5)) / 5.0))")
          .as("embedding"))
        .localCheckpoint() // two scoring passes over a frozen frame
      val qs = emb.filter(col("vec_id") < 8)
      // exact MIPS: brute-force dot (queries broadcast over one scan)
      val dot = "aggregate(zip_with(%s, %s, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
      val exact = emb.crossJoin(broadcast(
        qs.select(col("vec_id").as("qid"), col("embedding").as("qe"))))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr(dot.format("embedding", "qe")), 6).as("ip"))
        .groupBy(col("qid"))
        .agg(max(struct(col("ip"), (-col("vec_id")).as("negid"))).as("m"))
        .select(col("qid"), (-col("m.negid")).as("exact_id"))
      // transformed path: augment corpus with sqrt(M^2 - |x|^2), query with 0
      val m2 = emb.select(expr(s"max(${dot.format("embedding", "embedding")})").as("m2"))
      val aug = emb.crossJoin(broadcast(m2))
        .select(col("vec_id"), expr(
          s"concat(embedding, array(sqrt(m2 - (${dot.format("embedding", "embedding")}))))")
          .as("embedding"))
      val augQ = qs.select(col("vec_id"),
        expr("concat(embedding, array(CAST(0.0 AS DOUBLE)))").as("embedding"))
      val viaCos = ops.Similarity.cosineTopK(aug, augQ, "vec_id", "embedding", 1)
        .select(col("query_id").as("qid"), col("neighbor_id").as("mips_id"))
      exact.join(viaCos, Seq("qid"))
        .select(col("qid"), col("exact_id"), col("mips_id"),
          (col("exact_id") === col("mips_id")).as("agree"))
        .orderBy("qid")
    }),
    "q437_simpson_flags" -> ((s, dir) => {
      // Simpson's-paradox detector: per market segment, does the
      // within-stratum (acctbal, order count) association point the OTHER
      // way from the pooled one? The decision rides EXACT integer
      // covariance numerators n·Σxy − Σx·Σy (decimal(38) — n·Σxy tops
      // int64 at sf1); the surfaced magnitude is the numerator cast to
      // double (same integer → same double both engines). One customer
      // aggregate, one 5-row stratum rollup, pooled from the same sums.
      val cust = T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(min(expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)")).as("x"),
          count(col("o_orderkey")).as("y"))
      val dec = "decimal(38,0)"
      val per = cust.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"))
        .withColumn("cov_num", expr(s"CAST(n AS $dec) * sxy - CAST(sx AS $dec) * sy"))
      val pooled = cust.groupBy()
        .agg(count(lit(1)).as("pn"), sum(col("x")).as("psx"), sum(col("y")).as("psy"),
          sum(col("x").cast(dec) * col("y")).as("psxy"))
        .withColumn("pooled_num", expr(s"CAST(pn AS $dec) * psxy - CAST(psx AS $dec) * psy"))
        .select(col("pooled_num"))
      per.crossJoin(broadcast(pooled))
        .select(col("c_mktsegment"), col("n"),
          signum(col("cov_num").cast("double")).cast("long").as("stratum_sign"),
          signum(col("pooled_num").cast("double")).cast("long").as("pooled_sign"),
          (signum(col("cov_num").cast("double")) =!=
            signum(col("pooled_num").cast("double"))).as("flipped"))
        .orderBy("c_mktsegment")
    }),
    "q438_lof" -> ((s, dir) => {
      // Local Outlier Factor (Breunig '00) over embeddings — DENSITY-
      // relative anomaly detection: a point is outlying iff its local
      // density is low relative to its neighbors', which z-score fences
      // (q90/q147/q371) structurally cannot express. LOF's 3-hop need
      // (kNN of probes, k-dist of their neighbors, k-dist of THOSE
      // neighbors) runs as THREE staged knnL2 batches — each a broadcast-
      // queries/one-corpus-scan pass whose query set is the previous
      // stage's bounded neighbor closure (32 → ≤160+32 → ≤800+), never a
      // corpus self-join. Reach-dist sums fold in (d, id) order over
      // exactly 5 doubles, so lrd and LOF are bit-identical cross-engine.
      import ops.Similarity
      val e = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .localCheckpoint() // three scoring passes over a frozen frame
      def ids(df: DataFrame, c: String) = df.select(col(c).as("vec_id")).distinct()
      val probes = e.filter(col("vec_id") < 32)
      val nA = Similarity.knnL2(e, probes, "vec_id", "embedding", 5)
        .select(col("query_id").as("q"), col("neighbor_id").as("o"), col("d"))
        .localCheckpoint()
      val e2 = e.join(ids(nA, "q").unionByName(ids(nA, "o")).distinct(), Seq("vec_id"))
      val nB = Similarity.knnL2(e, e2, "vec_id", "embedding", 5)
        .select(col("query_id").as("q"), col("neighbor_id").as("o"), col("d"))
        .localCheckpoint()
      val e3 = e.join(ids(nB, "o"), Seq("vec_id"))
      val kd = Similarity.knnL2(e, e3, "vec_id", "embedding", 5)
        .filter(col("rn") === 5)
        .select(col("query_id").as("vec_id"), col("d").as("kdist"))
      val orderedSum = "aggregate(transform(array_sort(collect_list(" +
        "struct(d, o, rd))), s -> s.rd), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
      val lrd = nB.join(kd, nB("o") === kd("vec_id"))
        .select(col("q"), col("o"), col("d"), greatest(col("kdist"), col("d")).as("rd"))
        .groupBy(col("q"))
        .agg(expr(s"5.0 / ($orderedSum)").as("lrd"))
        .localCheckpoint() // joined twice below
      nA
        .join(lrd.select(col("q").as("o"), col("lrd").as("rd")), Seq("o"))
        .join(lrd.select(col("q"), col("lrd").as("plrd")), Seq("q"))
        .groupBy(col("q"))
        .agg((expr("aggregate(transform(array_sort(collect_list(struct(d, o, rd))), " +
          "s -> s.rd), CAST(0.0 AS DOUBLE), (a, b) -> a + b)") / lit(5.0) /
          max(col("plrd"))).as("lof"))
        .select(col("q").as("vec_id"), col("lof"))
        .orderBy("vec_id")
    }),
    "q439_cohens_d" -> ((s, dir) => {
      // Cohen's d + Hedges' g per event type — the standardized EFFECT SIZE
      // the q244/q413 test family reports next to its p-value ("significant"
      // is not "large" at 6M rows, where trivial deltas reach p<.05). One
      // hash aggregate to the (type, arm) moment frame (squares on
      // decimal(38) — sum of cents² tops int64 at sf1), then fixed-order
      // double algebra: pooled SD from the two arms' exact sums, g = d ×
      // the small-sample correction — bit-identical cross-engine.
      val dec = "decimal(38,0)"
      val m = T(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("x"),
          pmod(col("user_id"), lit(2L)).as("arm"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx1"),
          sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx0"),
          sum(when(col("arm") === 1, col("x").cast(dec) * col("x"))
            .otherwise(lit(0).cast(dec))).as("sxx1"),
          sum(when(col("arm") === 0, col("x").cast(dec) * col("x"))
            .otherwise(lit(0).cast(dec))).as("sxx0"))
        .filter(col("n1") >= 2 && col("n0") >= 2)
      m.withColumn("d", expr(
        "((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)))" +
          " / sqrt(((CAST(sxx1 AS DOUBLE) - (CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) / CAST(n1 AS DOUBLE))" +
          " + (CAST(sxx0 AS DOUBLE) - (CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)) / CAST(n0 AS DOUBLE)))" +
          " / CAST(n1 + n0 - 2 AS DOUBLE))"))
        .select(col("event_type"), col("n1"), col("n0"), col("d"),
          expr("d * (1.0 - 3.0 / CAST(4 * (n1 + n0) - 9 AS DOUBLE))").as("hedges_g"))
        .orderBy("event_type")
    }),
    "q440_levene_bf" -> ((s, dir) => {
      // Brown-Forsythe (median-centered Levene) variance-homogeneity test
      // per event type — the GATE before q244/q439 trust their pooled-SD
      // assumptions: are the two arms' spreads even comparable? Group
      // medians come from the (type, arm, cents) HISTOGRAM (the q429
      // convention — the 'sort' is a window over the value domain, never
      // rows), doubled (lo+hi order statistics) so even-n medians stay
      // exact integers; |2x − med2| deviations are exact; the one-way F
      // on deviations is fixed-order double algebra from exact moments.
      val ev = T(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("x"),
          pmod(col("user_id"), lit(2L)).as("arm"))
      val hist = ev.groupBy(col("event_type"), col("arm"), col("x"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("arm")).orderBy(col("x"))
      val med = hist
        .withColumn("hi", sum(col("c")).over(w))
        .withColumn("lo", col("hi") - col("c") + 1)
        .join(broadcast(ev.groupBy(col("event_type"), col("arm"))
          .agg(count(lit(1)).as("n"))), Seq("event_type", "arm"))
        .groupBy(col("event_type"), col("arm"))
        .agg((sum(when(col("lo") <= expr("(n + 1) div 2")
          && expr("(n + 1) div 2") <= col("hi"), col("x")).otherwise(0L))
          + sum(when(col("lo") <= expr("(n + 2) div 2")
            && expr("(n + 2) div 2") <= col("hi"), col("x")).otherwise(0L)))
          .as("med2"))
      val dec = "decimal(38,0)"
      val z = ev.join(broadcast(med), Seq("event_type", "arm"))
        .select(col("event_type"), col("arm"), abs(expr("2 * x - med2")).as("z"))
      z.groupBy(col("event_type"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, col("z")).otherwise(0L)).as("sz1"),
          sum(when(col("arm") === 0, col("z")).otherwise(0L)).as("sz0"),
          sum(when(col("arm") === 1, col("z").cast(dec) * col("z"))
            .otherwise(lit(0).cast(dec))).as("szz1"),
          sum(when(col("arm") === 0, col("z").cast(dec) * col("z"))
            .otherwise(lit(0).cast(dec))).as("szz0"))
        .filter(col("n1") >= 2 && col("n0") >= 2)
        .withColumn("ssw", expr(
          "(CAST(szz1 AS DOUBLE) - (CAST(sz1 AS DOUBLE) * CAST(sz1 AS DOUBLE)) / CAST(n1 AS DOUBLE))" +
            " + (CAST(szz0 AS DOUBLE) - (CAST(sz0 AS DOUBLE) * CAST(sz0 AS DOUBLE)) / CAST(n0 AS DOUBLE))"))
        .withColumn("ssb", expr(
          "CAST(n1 AS DOUBLE) * (((CAST(sz1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))) * ((CAST(sz1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))))" +
            " + CAST(n0 AS DOUBLE) * (((CAST(sz0 AS DOUBLE) / CAST(n0 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))) * ((CAST(sz0 AS DOUBLE) / CAST(n0 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))))"))
        .select(col("event_type"), col("n1"), col("n0"),
          expr("CASE WHEN ssw = 0.0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE (ssb * CAST(n1 + n0 - 2 AS DOUBLE)) / ssw END").as("f_bf"))
        .orderBy("event_type")
    }),
    "q441_ordinal_patterns" -> ((s, dir) => {
      // Bandt-Pompe ordinal patterns (order 3) per event-type daily series
      // — the permutation-entropy complexity histogram: each of the 29
      // sliding windows maps to the permutation that sorts its 3 values
      // (ties broken by POSITION, so the pattern is total and exact), and
      // the pattern distribution separates trending / oscillating / noisy
      // series where q176's autocorrelation sees only linear structure.
      // Pure integer outputs: code = 4·[k0<k1] + 2·[k0<k2] + [k1<k2] over
      // (value, position) keys — 6 of 8 codes are realizable. The corpus
      // pays the one daily rollup; patterns explode from the bounded
      // 31-element array.
      val lt = "(%s < %s OR (%s = %s AND %s < %s))" // (value, pos) lexicographic
      def cmp(a: Int, b: Int) =
        lt.format(s"x$a", s"x$b", s"x$a", s"x$b", a.toString, b.toString)
      dailySeries(s, dir, asDouble = false)
        .select(col("event_type"), explode(expr(
          "transform(sequence(1, 29), i -> named_struct(" +
            "'x0', element_at(xs, i), 'x1', element_at(xs, i + 1)," +
            " 'x2', element_at(xs, i + 2)))")).as("w"))
        .select(col("event_type"), col("w.x0").as("x0"), col("w.x1").as("x1"),
          col("w.x2").as("x2"))
        .withColumn("code", expr(
          s"4 * CAST(${cmp(0, 1)} AS INT) + 2 * CAST(${cmp(0, 2)} AS INT)" +
            s" + CAST(${cmp(1, 2)} AS INT)").cast("long"))
        .groupBy(col("event_type"), col("code"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type", "code")
    }),
    "q457_quantile_merge" -> ((s, dir) => {
      // MERGEABLE quantile summaries — the distributed-percentile pattern
      // a 100 TB deployment actually runs: each shard (event_id % 8,
      // standing in for 8 independent ingest partitions) reduces to a
      // 32-bound equi-depth summary (bound i = the shard value at exact
      // rank (i·ns) div 32, weight = the rank step — integer weights that
      // sum to ns), the 256-row summary union answers any quantile with
      // bounded rank error, and the key reports estimate vs EXACT global
      // quantile with the absolute error per percentile (the number that
      // justifies shipping summaries instead of raw values). Exact side
      // via the q65 value-histogram discipline (TwoPhase prefix sum over
      // the bounded cents domain — no single-partition window over data).
      val ev = T(s, dir, "events").select(
        (col("event_id") % 8).as("shard"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      val hist = ev.groupBy(col("shard"), col("cents"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the shard CDF AND the exact global CDF
      val cum = hist
        .withColumn("cr", sum(col("c")).over(
          Window.partitionBy(col("shard")).orderBy(col("cents"))))
        .withColumn("ns", sum(col("c")).over(Window.partitionBy(col("shard"))))
        .localCheckpoint() // scanned once per join side below
      val bk = cum.groupBy(col("shard")).agg(max(col("ns")).as("ns"))
        .select(col("shard"), col("ns"),
          explode(expr("sequence(1, 32)")).as("i"))
        .select(col("shard"),
          expr("(i * ns) div 32").as("r"),
          expr("(i * ns) div 32 - ((i - 1) * ns) div 32").as("w"))
        .filter(col("w") > 0)
      val bounds = bk.join(cum, Seq("shard"))
        .filter(col("cr") >= col("r"))
        .groupBy(col("shard"), col("r"), col("w"))
        .agg(min(col("cents")).as("cents"))
      val mg = bounds.groupBy(col("cents")).agg(sum(col("w")).as("w"))
        // <= shards·32 summary rows: the partition-less window is a
        // metadata scan, the accepted q189 convention
        .withColumn("cw", sum(col("w")).over(
          Window.orderBy(col("cents"))))
      val (ec, n) = graft.ops.TwoPhase.prefixSum(
        hist.groupBy(col("cents")).agg(sum(col("c")).as("c")),
        binKey = col("cents"), order = Seq(col("cents")),
        value = col("c"), out = "cr")
      val ps = s.range(1, 2).select(
        explode(expr("array(1L, 5L, 25L, 50L, 75L, 95L, 99L)")).as("p"))
        .withColumn("r", expr(s"(p * ${n}L + 99) div 100"))
      val est = ps.join(mg, col("cw") >= col("r"))
        .groupBy(col("p"), col("r")).agg(min(col("cents")).as("est_cents"))
      val exq = ps.join(ec, col("cr") >= col("r"))
        .groupBy(col("p")).agg(min(col("cents")).as("exact_cents"))
      est.join(exq, "p")
        .select(col("p"), col("est_cents"), col("exact_cents"),
          abs(col("est_cents") - col("exact_cents")).as("abs_err"))
        .orderBy("p")
    }),
    "q41_keyed_fanout" -> ((s, dir) =>
      broadcast(T(s, dir, "nation"))
        .join(T(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(ops.Num.roundz(col("c_acctbal") * 100, 0).cast("long")).as("__cents"))
        // integer half-up rounding of cents/cnt: engine-independent (fp round
        // semantics differ between Spark and DuckDB at exact .5 boundaries)
        .withColumn("avg_bal", (expr("(__cents * 2 + cnt) div (2 * cnt)") / lit(100.0)))
        .drop("__cents")
        .orderBy("n_name")),
    "q42_session_window" -> ((s, dir) =>
      Streaming.tumblingDailyCounts(s, dir).orderBy("bucket_start")),
    // ---------------------------------------------------------- §2.10 extensions
    "q43_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(T(s, dir, "documents"), "doc_id", "text").orderBy("keeper_id")),
    "q44_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDup(T(s, dir, "documents"), "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25)
        .orderBy("id_a", "id_b")),
    "q45_cosine_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
        .orderBy("query_id", "rn")
    }),
    "q46_approx_distinct" -> ((s, dir) =>
      T(s, dir, "events").groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("users")).orderBy("event_type")),
    "q47_text_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(T(s, dir, "documents"), "lang", "text").orderBy("lang")),
    "q48_simhash" -> ((s, dir) =>
      Dedup.simHash(T(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),
    "q49_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(T(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", k = 2, threshold = 0.1)
        .orderBy("id_a", "id_b")),
    "q50_langid" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "q51_quality_score" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q52_token_count" -> ((s, dir) =>
      T(s, dir, "documents").groupBy(col("lang"))
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("ws_tokens"),
          sum(TextAnalysis.bpeishTokenCount(col("text"))).as("bpe_tokens"))
        .orderBy("lang")),
    "q53_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), graft.functions.RollingHash(col("text")).as("fp"))
        .orderBy("doc_id")),
    "q54_embed_neardup" -> ((s, dir) =>
      // scale path: LSH-banded candidates + exact cosine re-score — no
      // CartesianProduct anywhere in the plan (the brute-force all-pairs
      // variant survives only as the recall yardstick in SimilaritySpec)
      Similarity.lshBucketNearDup(
        T(s, dir, "embeddings").filter(col("vec_id") < 200), "vec_id", "embedding",
        threshold = 0.35, numPlanes = 32, bands = 8, dim = 64)
        .orderBy("id_a", "id_b")),
    "q55_ann_lsh" -> ((s, dir) =>
      Similarity.lshBucketNearDup(T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, numPlanes = 32, bands = 4, dim = 64)
        .orderBy("id_a", "id_b")),
    "q56_multimodal" -> ((s, dir) =>
      Multimodal.asMultimodal(T(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"))
        .orderBy("doc_id")),
    "q57_sessionize" -> ((s, dir) =>
      // gap-based sessionization (session_window): a new session starts only
      // when the inter-event gap EXCEEDS 30 min — session_window merges a
      // window starting exactly at the previous end (boundary-inclusive;
      // verified empirically, RelationalSpec "sessionStats")
      T(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("events"))
        .drop("session_window")
        .orderBy("user_id", "session_start")),
    "q58_ann_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", 5)
        .orderBy("query_id", "rn")
    }),
    "q59_stratified_sample" -> ((s, dir) =>
      Curation.stratifiedSample(T(s, dir, "documents"), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang"))
        .orderBy("lang", "doc_id")),
    "q60_vader" -> ((s, dir) =>
      Sentiment.scoreVader(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q61_asof_join" -> ((s, dir) => {
      // point-in-time lookup: each purchase labeled with the user's most
      // recent view at-or-before it (union + one window pass — no range join)
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      Relational.asOfJoin(purchases, views, "user_id", "ts", "ts",
        Seq("view_event_id", "view_value"))
        .orderBy("event_id")
    }),
    "q142_asof_forward" -> ((s, dir) => {
      // the mirror lookup of q61: each purchase labeled with the user's
      // NEXT view at-or-after it (post-purchase behavior attribution) —
      // union + one forward-facing window pass, no range join
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      Relational.asOfJoinForward(purchases, views, "user_id", "ts", "ts",
        Seq("view_event_id", "view_value"))
        .orderBy("event_id")
    }),
    // q62_range_join / q127_fuzzy_join / q394_grid_radius_join are
    // registered via SparkEntry.retiredToTwins (round 17): the binned
    // interval join, the prefix/suffix-blocked row-level fuzzy join and the
    // fixed-knob grid radius join enumerate pair volumes that grow
    // superlinearly with density; the registered plans are their
    // density-scaled twins (q444/q445/q448) and the original shapes live on
    // as RelationalSpec (q62/q394) and DedupSpec (q127) yardsticks built
    // inline.
    "q444_range_count_rank" -> ((s, dir) => {
      // q62's EXACT semantics (clicks within ±30min per signup) computed
      // WITHOUT enumerating pairs: the count is a difference of two
      // cumulative click ranks — F(t+30min, inclusive) − F(t−30min,
      // exclusive) — over the merged click/probe order, so the cost is
      // one two-phase prefix sum (TwoPhase.prefixSum: range-binned
      // parallel windows, bin offsets as driver metadata), O(n log n)
      // with NO candidate pairs at all. q62's binned join enumerates
      // every qualifying pair, and in a fixture where both sides densify
      // in the same month the pair count itself grows ∝ n² (29x at sf1)
      // — counting via ranks is the production shape when the answer is
      // a COUNT, not a pair listing. Boundary ties land exactly via the
      // probe side order: lo probes sort BEFORE clicks at equal ts
      // (excluded), hi probes AFTER (included).
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts").as("__t"), lit(1).as("__side"),
          col("event_id"), lit(1L).as("__click"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("ts"))
      val lo = signups.select(
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("__t"),
        lit(0).as("__side"), col("event_id"), lit(0L).as("__click"))
      val hi = signups.select(
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("__t"),
        lit(2).as("__side"), col("event_id"), lit(0L).as("__click"))
      val merged = clicks.unionByName(lo).unionByName(hi)
      val (ranked, _) = TwoPhase.prefixSum(merged,
        binKey = unix_micros(col("__t")),
        order = Seq(col("__t"), col("__side"), col("event_id")),
        value = col("__click"), out = "__f")
      ranked.filter(col("__side") =!= 1)
        .groupBy(col("event_id"))
        .agg((max(when(col("__side") === 2, col("__f"))) -
          max(when(col("__side") === 0, col("__f")))).as("clicks_nearby"))
        .filter(col("clicks_nearby") > 0)
        .orderBy("event_id")
    }),
    "q448_radius_scaled" -> ((s, dir) => {
      // q394's grid radius join with the radius (and with it the cell
      // size) derived from density: r² = max(1, 33_750_000 div n) keeps
      // the EXPECTED neighbor count per point constant (≈34 on the
      // 1001² planted plane) as points densify, and w = floor(sqrt(r²))
      // + 1 >= r keeps the 3×3 halo a complete cover — so candidate
      // volume is n · 9 · (n·w²/10⁶) ≈ 300 n, linear, where q394's
      // fixed 200-cell/150-radius pins made per-cell occupancy grow ∝ n
      // (12x at sf1). At the reference density (1500 points, sf0.1)
      // the derived knobs equal q394's exactly. floor(sqrt(integer))
      // is the one non-integer step — correctly rounded IEEE sqrt, so
      // both engines floor the same double.
      val u = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .localCheckpoint() // counted, then scanned by probe+build
      val n = u.count()
      val r2 = math.max(1L, 33750000L / n)
      val w = math.floor(math.sqrt(r2.toDouble)).toLong + 1L
      val pts = u.select(col("user_id"),
        (col("user_id") * 7919L % 1001L - 500L).as("px"),
        (col("user_id") * 104729L % 1001L - 500L).as("py"))
      val cell = pts
        .withColumn("cx", expr(s"(px + 500) div $w"))
        .withColumn("cy", expr(s"(py + 500) div $w"))
      val probe = cell
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("user_id").as("u_a"), col("px").as("xa"), col("py").as("ya"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      val build = cell.select(col("user_id").as("u_b"), col("px").as("xb"),
        col("py").as("yb"), col("cx"), col("cy"))
      probe.join(build, Seq("cx", "cy"))
        .filter(col("u_a") =!= col("u_b"))
        .withColumn("dist2",
          expr("(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)"))
        .filter(col("dist2") <= r2)
        .groupBy(col("u_a"))
        .agg(count(lit(1)).as("n_neighbors"),
          min(col("dist2")).as("min_dist2"),
          sum(col("dist2")).as("sum_dist2"))
        .orderBy("u_a")
    }),
    "q63_orc_roundtrip" -> ((s, dir) => {
      val nation = T(s, dir, "nation")
      val tmp = scratch("q63_orc", dir)
      nation.coalesce(1).write.mode("overwrite").orc(tmp)
      s.read.schema(nation.schema).orc(tmp).orderBy("n_nationkey")
    }),
    "q454_orc_roundtrip" -> ((s, dir) => {
      // ORC source/sink (Spark-native, the other columnar interchange
      // format next to parquet/q115's XML): hive-partitioned write on the
      // priority key, read back with a partition predicate — the scan
      // lists ONLY the matching partition directory, and every value
      // (including the binary double o_totalprice) round-trips exactly
      val orders = T(s, dir, "orders")
      val tmp = scratch("q454_orc", dir)
      orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority").orc(tmp)
      s.read.orc(tmp)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),
    "q116_pq_encode" -> ((s, dir) => {
      // product quantization: m=4 subvectors × 16 dims, codes = nearest
      // codebook centroid per subvector (min L2, id tie-break); codebook =
      // first 8 vectors by id, q58's deterministic-gate convention
      val emb = T(s, dir, "embeddings")
      Similarity.pqEncode(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", m = 4, subDim = 16)
        .orderBy("vec_id")
    }),
    "q117_rare_tokens" -> ((s, dir) =>
      // unigram-LM-flavored quality signal: rare-token counts + basis-point
      // ratio, all exact integers (no float accumulation anywhere)
      TextAnalysis.rareTokenStats(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q118_schema_evolution" -> ((s, dir) => {
      // schema drift across ingest batches: an early batch lacks a column
      // later batches carry; mergeSchema reads the union, old rows NULL
      val nation = T(s, dir, "nation")
      val tmp = scratch("q118_evo", dir)
      nation.select("n_nationkey", "n_name").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      nation.coalesce(1).write.mode("overwrite").parquet(s"$tmp/batch=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("batch").cast("int").as("batch"))
        .orderBy("batch", "n_nationkey")
    }),
    "q119_bloom_prune" -> ((s, dir) => {
      // bloom-filter join pruning: the dim key set rides as a sketch that
      // filters the fact MAP-SIDE before its exchange; the semi join then
      // removes false positives, so the result is exactly the semi join
      val cust = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      Relational.bloomPrunedSemiJoin(T(s, dir, "orders"), cust,
        "o_custkey", "c_custkey", expectedItems = 100000L)
        .orderBy("o_orderkey")
    }),
    "q120_copurchase_rank" -> ((s, dir) =>
      // item-importance over the co-purchase graph: damped PageRank in
      // scaled-long arithmetic (deterministic across partitionings)
      Graph.pageRank(
        copurchaseEdges(s, dir),
        iterations = 3) // auto strategy: |parts| nodes measure inside broadcast range
        .select(col("node").as("p_partkey"), col("rank").as("rank_scaled"))
        .orderBy("p_partkey")),
    "q121_line_dedup" -> ((s, dir) => {
      // corpus-frequency boilerplate removal (CCNet-style line dedup). The
      // testdata carries no newlines, so the gate segments each doc into
      // fixed 3-token pseudo-lines — the operator takes any lines array
      // (real `\n` lines in the wild) and the rebuild re-joins with the
      // same separator, so an untouched doc round-trips byte-identical.
      val docs = T(s, dir, "documents").withColumn("__tk", split(col("text"), " "))
      val lines = expr("transform(sequence(0, cast(ceil(size(__tk) / 3.0) as int) - 1)," +
        " i -> concat_ws(' ', slice(__tk, i * 3 + 1, 3)))")
      Dedup.commonLineRemoval(docs, "doc_id", lines, maxFreq = 2, sep = " ")
        .orderBy("doc_id")
    }),
    "q122_binary_ingest" -> ((s, dir) => {
      // blob-directory ingest via the binaryFile source — the multimodal
      // landing pattern (a crawl dumps one file per asset; Spark lists,
      // batches small files by maxPartitionBytes, and reads (path, length,
      // content) without a custom reader). Files are staged from executors
      // (one per doc, UTF-8 payload) and the scan proves content fidelity
      // by length + sha2 against the source table.
      // The foreachPartition+Files.write staging loop below is TEST
      // SCAFFOLDING ONLY — it manufactures the blob directory the operator
      // then reads. In production the assets land from the crawler; never
      // copy this one-file-per-row write as a Spark output path (it is the
      // small-files antipattern q133's compaction exists to fix).
      import s.implicits._
      val docs = T(s, dir, "documents")
      val tmp = scratch("q122_bin", dir)
      // stage ONCE per (dir) per JVM: the operator under test is the
      // binaryFile SCAN; re-staging 5k small files per invocation made the
      // key's bench time mostly dirty-page writeback noise (round-15
      // adjudication of the r14 "q122 regression": isolated probes of
      // identical code ranged 1.3-2.8 s)
      graft.storage.Materialize.once(tmp, docs) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        // a NULL text has no byte payload to stage — skipped on BOTH sides
        // (the oracle filters identically), instead of an executor NPE
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .foreachPartition { (it: Iterator[(Long, String)]) =>
            it.foreach { case (id, text) =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(f"$tmp%s/$id%09d.bin"),
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
      }
      s.read.format("binaryFile").load(tmp)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("sha"))
        .orderBy("doc_id")
    }),
    "q123_cdc_diff" -> ((s, dir) => {
      // snapshot-diff CDC: the upstream republishes full snapshots; the diff
      // emits the delta stream (insert/update/delete + old/new values).
      // Synthetic drift off one deterministic base: keys ≡3 (mod 10) are
      // missing from the old snapshot (inserts), keys ≡0 (mod 10) from the
      // new one (deletes), balances shift for keys ≡0 (mod 7) and segments
      // churn for keys ≡0 (mod 13) (updates).
      val base = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val oldSnap = base.filter(col("c_custkey") % 10 =!= 3)
      val newSnap = base.filter(col("c_custkey") % 10 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 10).otherwise(col("c_acctbal")))
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 13 === 0, lit("CHURNED")).otherwise(col("c_mktsegment")))
      Warehouse.cdcDiff(oldSnap, newSnap, "c_custkey", Seq("c_acctbal", "c_mktsegment"))
        .orderBy("c_custkey")
    }),
    "q124_zorder_layout" -> ((s, dir) => {
      // Z-order clustered layout: interleave (user bucket, day-of-month)
      // into one Morton key, range-partition + sort the write on it so every
      // file's min/max footer spans a small rectangle of BOTH dimensions —
      // scans filtered on either dimension prune most files (StorageSpec
      // measures the per-file span shrink vs an unclustered layout). The
      // gate proves the interleave bit-exact through a write/read roundtrip.
      val tmp = scratch("q124_z", dir)
      T(s, dir, "events")
        .select(col("event_id"),
          (col("user_id") % 1024).cast("long").as("xb"),
          dayofmonth(col("ts")).cast("long").as("yb"))
        .withColumn("zval", graft.functions.ZOrder(col("xb"), col("yb")))
        .repartitionByRange(8, col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp).orderBy("event_id")
    }),
    "q125_triangle_count" -> ((s, dir) =>
      // local clustering over the co-purchase graph: per-part triangle
      // participation via degree-oriented wedge closing (Graph.scala — the
      // O(m^1.5) formulation; no hub ever owns Σdeg² work)
      Graph.triangleCounts(
        copurchaseEdges(s, dir),
        degrees = Some(copurchaseDegrees(s, dir)))
        .select(col("node").as("p_partkey"), col("triangles"))
        .orderBy(col("triangles").desc, col("p_partkey"))
        .limit(20)),
    "q126_grouping_sets" -> ((s, dir) =>
      // one-pass multi-granularity OLAP: CUBE over (status, priority) with
      // grouping_id disambiguating subtotal levels from genuine NULL keys;
      // revenue in scaled-long cents (float sums are accumulation-order-
      // dependent and could never hash-match)
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("cnt"),
          sum(ops.Num.roundz(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)))

  val oracleSql: Seq[(String, String)] = Seq(
    "q60_vader" -> q60Sql,
    "q61_asof_join" ->
      // one struct carried by ONE last_value(IGNORE NULLS): mirrors the Spark
      // asOfJoin's atomic payload carry, so a view row with a NULL view_value
      // can never have its fields stitched from two different view rows
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |u AS (
        |  SELECT user_id, ts AS uts, 0 AS side, event_id AS view_event_id,
        |         {'vid': event_id, 'vval': value} AS payload,
        |         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS pts
        |    FROM ev WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, 1, NULL, NULL, event_id, ts FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT *,
        |  last_value(payload IGNORE NULLS) OVER win AS a
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY uts, side, view_event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, pts AS ts, a.vid AS view_event_id, a.vval AS view_value
        |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q142_asof_forward" ->
      // q61's carry, mirrored: left orders BEFORE right at equal ts (side
      // 1 vs 2) and first_value faces the following frame
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |u AS (
        |  SELECT user_id, ts AS uts, 2 AS side, event_id AS view_event_id,
        |         {'vid': event_id, 'vval': value} AS payload,
        |         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS pts
        |    FROM ev WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, 1, NULL, NULL, event_id, ts FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT *,
        |  first_value(payload IGNORE NULLS) OVER win AS a
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY uts, side, view_event_id
        |                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, pts AS ts, a.vid AS view_event_id, a.vval AS view_value
        |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q62_range_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s AS (SELECT event_id, ts FROM ev WHERE event_type = 'signup'),
        |c AS (SELECT ts AS cts FROM ev WHERE event_type = 'click')
        |SELECT s.event_id, count(*) AS clicks_nearby
        |FROM s JOIN c ON cts BETWEEN s.ts - INTERVAL 30 MINUTE AND s.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q444_range_count_rank" ->
      // IDENTICAL semantics to q62 — the oracle is q62's interval join;
      // the engine side proves the rank-difference identity against it
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s AS (SELECT event_id, ts FROM ev WHERE event_type = 'signup'),
        |c AS (SELECT ts AS cts FROM ev WHERE event_type = 'click')
        |SELECT s.event_id, count(*) AS clicks_nearby
        |FROM s JOIN c ON cts BETWEEN s.ts - INTERVAL 30 MINUTE AND s.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q448_radius_scaled" ->
      // q394's plane and halo with r² and w derived from the same
      // distinct-point count
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |nn AS (SELECT greatest(1, 33750000 // count(*)) AS r2 FROM u),
        |ww AS (SELECT r2, CAST(floor(sqrt(CAST(r2 AS DOUBLE))) AS BIGINT) + 1 AS w FROM nn),
        |p AS (SELECT user_id, (user_id * 7919) % 1001 - 500 AS px,
        |    (user_id * 104729) % 1001 - 500 AS py FROM u),
        |c AS (SELECT user_id, px, py, (px + 500) // (SELECT w FROM ww) AS cx,
        |    (py + 500) // (SELECT w FROM ww) AS cy FROM p),
        |o AS (SELECT CAST(unnest([-1, 0, 1]) AS BIGINT) AS d),
        |pr AS (SELECT c.user_id AS u_a, px AS xa, py AS ya,
        |    cx + ox.d AS cx, cy + oy.d AS cy FROM c, o ox, o oy),
        |j AS (SELECT pr.u_a,
        |    (pr.xa - b.px) * (pr.xa - b.px) + (pr.ya - b.py) * (pr.ya - b.py) AS dist2
        |  FROM pr JOIN c b ON pr.cx = b.cx AND pr.cy = b.cy AND pr.u_a <> b.user_id)
        |SELECT u_a, count(*) AS n_neighbors, CAST(min(dist2) AS BIGINT) AS min_dist2,
        |  CAST(sum(dist2) AS BIGINT) AS sum_dist2
        |FROM j WHERE dist2 <= (SELECT r2 FROM ww) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63_orc_roundtrip" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "q454_orc_roundtrip" ->
      // the layout changes the container, never the values — the oracle is
      // the filtered source table
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,
    "q117_rare_tokens" ->
      // same folded threshold: cf·10⁶ < n·ppm ⇔ cf ≤ (n·ppm − 1) // 10⁶
      """WITH tok AS (SELECT doc_id, t.term FROM documents,
        |  LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term) t
        |  WHERE length(t.term) > 0),
        |f AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
        |n AS (SELECT CAST(coalesce(sum(cf), 0) AS BIGINT) AS n FROM f),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN cf <= (n.n * 1000 - 1) // 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS rare_tokens
        |  FROM tok JOIN f USING (term) CROSS JOIN n GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(rare_tokens, 0) AS rare_tokens,
        |  CAST(CASE WHEN coalesce(n_tokens, 0) > 0
        |    THEN (10000 * rare_tokens) // n_tokens ELSE 0 END AS BIGINT) AS rare_bp
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q118_schema_evolution" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey,
        |  CAST(1 AS INTEGER) AS batch FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, CAST(2 AS INTEGER) FROM nation
        |ORDER BY batch, n_nationkey""".stripMargin,
    "q119_bloom_prune" ->
      """SELECT * FROM orders WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,
    "q120_copurchase_rank" ->
      // 3 unrolled damped-PageRank steps in the same scaled-long arithmetic
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d),
        |r1 AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(r0.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(r1.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(r2.r // d.deg)) // 100 AS BIGINT) AS r
        |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst)
        |SELECT node AS p_partkey, r AS rank_scaled FROM r3 ORDER BY 1""".stripMargin,
    "q121_line_dedup" ->
      // same 3-token segmentation, frequency on the line text itself (the
      // engine counts on xxhash64(line) — identical modulo 64-bit collisions)
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |chunks AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, CAST(ceil(len(tk) / 3.0) AS BIGINT)),
        |      i -> array_to_string(tk[i * 3 + 1 : i * 3 + 3], ' '))) AS line,
        |    unnest(range(0, CAST(ceil(len(tk) / 3.0) AS BIGINT))) AS pos
        |  FROM toks),
        |freq AS (SELECT line, count(*) AS cf FROM chunks GROUP BY line)
        |SELECT c.doc_id,
        |  coalesce(string_agg(c.line, ' ' ORDER BY c.pos) FILTER (f.cf <= 2), '') AS clean_text,
        |  CAST(count(*) FILTER (f.cf <= 2) AS BIGINT) AS kept_lines,
        |  CAST(count(*) FILTER (f.cf > 2) AS BIGINT) AS dropped_lines
        |FROM chunks c JOIN freq f USING (line)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q122_binary_ingest" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    "q123_cdc_diff" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |o AS (SELECT * FROM base WHERE c_custkey % 10 <> 3),
        |n AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal,
        |    CASE WHEN c_custkey % 13 = 0 THEN 'CHURNED' ELSE c_mktsegment END AS c_mktsegment
        |  FROM base WHERE c_custkey % 10 <> 0)
        |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
        |  CASE WHEN o.c_custkey IS NULL THEN 'insert'
        |       WHEN n.c_custkey IS NULL THEN 'delete' ELSE 'update' END AS change_type,
        |  o.c_acctbal AS old_c_acctbal, n.c_acctbal AS new_c_acctbal,
        |  o.c_mktsegment AS old_c_mktsegment, n.c_mktsegment AS new_c_mktsegment
        |FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "q124_zorder_layout" ->
      // bit-by-bit Morton interleave, generated as plain bit arithmetic —
      // the engine's magic-number spread (ZOrder.scala) must agree on every
      // one of the 32 bit placements
      s"""WITH b AS (SELECT event_id, CAST(user_id % 1024 AS BIGINT) AS xb,
         |    CAST(day(ts) AS BIGINT) AS yb FROM events)
         |SELECT event_id, xb, yb, CAST(${zorderSql("xb", "yb")} AS BIGINT) AS zval
         |FROM b ORDER BY event_id""".stripMargin,
    "q125_triangle_count" ->
      // plain u<v<w three-way join enumeration (no orientation needed at
      // oracle scale), each triangle credited to all three vertices
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT unnest([a, b, c]) AS p_partkey FROM t)
        |SELECT p_partkey, CAST(count(*) AS BIGINT) AS triangles
        |FROM n GROUP BY 1 ORDER BY triangles DESC, p_partkey LIMIT 20""".stripMargin,
    "q126_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    // q127_fuzzy_join / q394_grid_radius_join verify against their twins'
    // oracles (SparkEntry.retiredToTwins, round 17)
    "q116_pq_encode" ->
      // same L2 expansion x·x − 2·x·c + c·c over list_dot_product, same
      // centroid-id tie-break — code assignment must agree per subvector
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |$pqSubsCte,
         |${pqAssignCtes(0, 8)}
         |SELECT vec_id,
         |  max(CASE WHEN sub = 0 THEN code END) AS c0,
         |  max(CASE WHEN sub = 1 THEN code END) AS c1,
         |  max(CASE WHEN sub = 2 THEN code END) AS c2,
         |  max(CASE WHEN sub = 3 THEN code END) AS c3
         |FROM sc WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q41_keyed_fanout" ->
      """SELECT n_name, count(*) AS cnt,
        |CAST((sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) * 2 + count(*)) // (2 * count(*)) AS BIGINT) / 100.0 AS avg_bal
        |FROM nation JOIN customer ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_session_window" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket_start, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_exact_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS dupes FROM documents
        |GROUP BY text ORDER BY keeper_id""".stripMargin,
    "q45_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id")},
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM s)
         |SELECT query_id, neighbor_id, (round(cosine, 4) + 0.0) AS cosine, rn FROM r WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,
    "q46_approx_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS users FROM events GROUP BY 1 ORDER BY 1",
    "q47_text_stats" ->
      """SELECT lang, count(*) AS docs,
        |CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens,
        |(round(avg(length(text)), 2) + 0.0) AS avg_chars, CAST(max(length(text)) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q49_ngram_jaccard" ->
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents WHERE doc_id < 100),
        |sha AS (SELECT DISTINCT doc_id, w[CAST(i AS BIGINT)] || ' ' || w[CAST(i AS BIGINT) + 1] AS shingle
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
        |rare AS (SELECT shingle FROM sha GROUP BY shingle HAVING count(*) <= 100),
        |sh AS (SELECT sha.doc_id, sha.shingle FROM sha JOIN rare USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
        |  FROM sh x JOIN sh y USING (shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, (round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 4) + 0.0) AS jaccard
        |FROM shared JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        |WHERE (round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 4) + 0.0) >= 0.1
        |ORDER BY id_a, id_b""".stripMargin,
    "q50_langid" ->
      s"SELECT doc_id, $langCase AS lang_pred FROM documents ORDER BY doc_id",
    "q51_quality_score" ->
      """WITH f AS (SELECT doc_id,
        |CAST(length(text) AS DOUBLE) AS len,
        |CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS toks,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
        |CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS DOUBLE) AS stop
        |FROM documents)
        |SELECT doc_id, (round(
        |(CASE WHEN len >= 100 AND len <= 10000 THEN CAST(1.0 AS DOUBLE) WHEN len >= 20 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
        |+ (CASE WHEN len > 0 THEN alpha / len ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
        |+ (CASE WHEN toks > 0 THEN least(stop / toks * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE),
        |4) + 0.0) AS quality FROM f ORDER BY doc_id""".stripMargin,
    "q52_token_count" ->
      """SELECT lang,
        |CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
        |CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_embed_neardup" -> q54Sql,
    "q55_ann_lsh" ->
      s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bb AS (SELECT vec_id, v,
         |  (${lshBandSql(0)}) AS buck0, (${lshBandSql(1)}) AS buck1,
         |  (${lshBandSql(2)}) AS buck2, (${lshBandSql(3)}) AS buck3 FROM b),
         |banded AS (SELECT vec_id, v, t.band,
         |  CASE t.band WHEN 0 THEN buck0 WHEN 1 THEN buck1 WHEN 2 THEN buck2 ELSE buck3 END AS bucket
         |  FROM bb, (VALUES (0), (1), (2), (3)) AS t(band)),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b, x.v AS xv, y.v AS yv
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |p AS (SELECT id_a, id_b,
         |  list_dot_product(xv, yv) / (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv))) AS cosine
         |  FROM cand)
         |SELECT id_a, id_b, (round(cosine, 4) + 0.0) AS cosine FROM p WHERE cosine >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "q56_multimodal" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q57_sessionize" -> sessionizeSql,
    "q58_ann_ivf" ->
      ivfTopKSql("crn = 1", "asg WHERE vec_id < 8"),
    "q59_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    // fold over code points replicates the byte fold exactly for ASCII corpora
    // (the testdata is pure ASCII; unicode behavior is unit-tested Spark-side)
    "q53_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_transform(range(1, length(text) + 1),
        |    i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q44_minhash_neardup" -> q44Sql,
    "q384_worst_slices" ->
      s"""SELECT source, lang, count(*) AS n,
         |  CAST(sum(CASE WHEN $langCase = lang THEN 1 ELSE 0 END) AS BIGINT) AS correct,
         |  CAST(sum(CASE WHEN $langCase = lang THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS acc_bp
         |FROM documents GROUP BY 1, 2 HAVING count(*) >= 20
         |ORDER BY acc_bp, n DESC, source, lang LIMIT 10""".stripMargin,
    "q385_variant_shred" ->
      // the engine parses once into VARIANT and walks the binary field;
      // the oracle re-parses the JSON text — same typed values
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS cnt
        |FROM events WHERE props IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q386_observed_metrics" ->
      // the oracle computes directly what observe() must have reported
      """SELECT count(*) AS rows_in,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_values,
        |  CAST(sum(COALESCE(CAST(round(value * 100) AS BIGINT), 0)) AS BIGINT) AS cents_in,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS rows_out
        |FROM events""".stripMargin,
    "q387_pipe_sql" ->
      // the nested-SELECT equivalent of the pipe program
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE value IS NOT NULL AND value > 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q388_collated_group" ->
      // collation-aware grouping ≡ the lower()-projection workaround
      """WITH d AS (SELECT CASE WHEN doc_id % 2 = 1 THEN upper(source)
        |    ELSE source END AS s FROM documents)
        |SELECT min(s) AS variant_min, count(*) AS cnt FROM d
        |GROUP BY lower(s) ORDER BY variant_min""".stripMargin,
    "q389_markov_attribution" -> q389Sql,
    "q390_restatement_ledger" ->
      // identical deterministic arrival = event time + (id % 48) hours
      """WITH e AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(ts AS TIMESTAMP) + (event_id % 48) * INTERVAL 1 HOUR AS arrival,
        |    CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP) AS day_end
        |  FROM events)
        |SELECT day, count(*) AS n_final,
        |  CAST(sum(CASE WHEN arrival < day_end THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  CAST((count(*) - sum(CASE WHEN arrival < day_end THEN 1 ELSE 0 END)) * 10000
        |    // count(*) AS BIGINT) AS restated_bp
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q391_aqe_skew_join" ->
      // the plain join — the runtime skew split must change nothing
      """WITH f AS (SELECT event_id,
        |    CASE WHEN event_id % 10 < 9 THEN 'hot'
        |         ELSE 'cold' || CAST(event_id % 97 AS VARCHAR) END AS k,
        |    (event_id * 48271) % 2147483647 AS pad
        |  FROM events),
        |d AS (SELECT k, count(*) AS dim_n FROM f GROUP BY 1),
        |j AS (SELECT f.k, f.pad, d.dim_n FROM f JOIN d USING (k))
        |SELECT CASE WHEN k = 'hot' THEN 'hot' ELSE 'cold' END AS k_class,
        |  count(*) AS n, CAST(sum(dim_n) AS BIGINT) AS dim_mass,
        |  CAST(sum(pad) AS BIGINT) AS pad_mass
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q392_ols_regression" ->
      // same six exact integer moments, same fixed double chain
      """WITH e AS (SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
        |    CAST(round(value * 100, 0) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sx2, CAST(sum(y * y) AS BIGINT) AS sy2
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  (round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) + 0.0) AS slope,
        |  (round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) + 0.0) AS intercept,
        |  (round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) + 0.0) AS r2
        |FROM m ORDER BY event_type""".stripMargin,
    "q393_logistic_gd" ->
      // the 3 GD steps unrolled as chained CTEs; `//` and `div` both
      // truncate toward zero, so the integer walk is bit-identical
      """WITH e AS (SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) - 12 AS x,
        |    CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE 0 END AS y FROM events),
        |i0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1),
        |s1 AS (SELECT max(w0) AS pw0, max(w1) AS pw1, count(*) AS n,
        |    CAST(sum(greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) - y * 1000000) AS BIGINT) AS g0,
        |    CAST(sum((greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) - y * 1000000) * x) AS BIGINT) AS g1
        |  FROM e CROSS JOIN i0),
        |i1 AS (SELECT pw0 - g0 // (2 * n) AS w0, pw1 - g1 // (20 * n) AS w1 FROM s1),
        |s2 AS (SELECT max(w0) AS pw0, max(w1) AS pw1, count(*) AS n,
        |    CAST(sum(greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) - y * 1000000) AS BIGINT) AS g0,
        |    CAST(sum((greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) - y * 1000000) * x) AS BIGINT) AS g1
        |  FROM e CROSS JOIN i1),
        |i2 AS (SELECT pw0 - g0 // (2 * n) AS w0, pw1 - g1 // (20 * n) AS w1 FROM s2),
        |s3 AS (SELECT max(w0) AS pw0, max(w1) AS pw1, count(*) AS n,
        |    CAST(sum(greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) - y * 1000000) AS BIGINT) AS g0,
        |    CAST(sum((greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) - y * 1000000) * x) AS BIGINT) AS g1
        |  FROM e CROSS JOIN i2),
        |i3 AS (SELECT pw0 - g0 // (2 * n) AS w0, pw1 - g1 // (20 * n) AS w1 FROM s3),
        |ev AS (SELECT max(w0) AS w0, max(w1) AS w1, count(*) AS n,
        |    CAST(sum(CASE WHEN (greatest(least(500000 + (w0 + w1 * x) // 4, 1000000), 0) > 500000) = (y = 1)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS correct
        |  FROM e CROSS JOIN i3)
        |SELECT w0, w1, n, correct * 10000 // n AS correct_bp FROM ev""".stripMargin,
    "q395_winnowing" ->
      // same trigram Karp-Rabin ring (the q353-proven ord/byte parity),
      // same packed rightmost-min key, same 4-row window
      """WITH raw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0) AS arr FROM documents),
        |px AS (SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |    i -> {'pos': i - 1, 'tok': arr[i]})) AS g FROM raw),
        |th AS (SELECT doc_id, CAST(g.pos AS BIGINT) AS pos,
        |    list_reduce(list_transform(range(1, length(g.tok) + 1),
        |      i -> CAST(ord(substr(g.tok, CAST(i AS INT), 1)) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM px),
        |tri AS (SELECT doc_id, pos,
        |    ((h * 31 + lead(h, 1) OVER w) % 1000000007 * 31 + lead(h, 2) OVER w) % 1000000007 AS gh,
        |    lead(h, 2) OVER w IS NOT NULL AS full3
        |  FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |k AS (SELECT doc_id, pos, gh * 1048576 + (1048575 - pos) AS k FROM tri WHERE full3),
        |wm AS (SELECT doc_id, pos, min(k) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin FROM k),
        |sel AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos >= 3)
        |SELECT doc_id, wmin // 1048576 AS hash, 1048575 - (wmin % 1048576) AS pos
        |FROM sel ORDER BY doc_id, pos""".stripMargin,
    "q396_t_closeness" ->
      // same 4-band grid, same ppm integer divisions, same (m-1) cum sum
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents FROM customer),
        |b AS (SELECT nat, seg, greatest(least((cents + 100000) // 300000, 3), 0) AS band FROM c),
        |g AS (SELECT band, count(*) AS gc FROM b GROUP BY 1),
        |gt AS (SELECT count(*) AS gn FROM b),
        |q AS (SELECT CAST(gb.band AS BIGINT) AS band,
        |    coalesce(g.gc, 0) * 1000000 // gt.gn AS q_ppm
        |  FROM (SELECT unnest([0, 1, 2, 3]) AS band) gb
        |  LEFT JOIN g ON g.band = gb.band, gt),
        |gr AS (SELECT nat, seg, count(*) AS n FROM b GROUP BY 1, 2),
        |grid AS (SELECT nat, seg, n, CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS band FROM gr),
        |cnt AS (SELECT nat, seg, band, count(*) AS nb FROM b GROUP BY 1, 2, 3),
        |p AS (SELECT grid.nat, grid.seg, grid.band, grid.n,
        |    coalesce(cnt.nb, 0) * 1000000 // grid.n AS p_ppm, q.q_ppm
        |  FROM grid LEFT JOIN cnt USING (nat, seg, band) JOIN q USING (band)),
        |cum AS (SELECT nat, seg, n, band,
        |    sum(p_ppm) OVER (PARTITION BY nat, seg ORDER BY band) AS cp,
        |    sum(q_ppm) OVER (PARTITION BY nat, seg ORDER BY band) AS cq
        |  FROM p)
        |SELECT nat, seg, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(abs(cp - cq)) AS BIGINT) // 3 AS emd_ppm,
        |  (CAST(sum(abs(cp - cq)) AS BIGINT) // 3) <= 200000 AS meets_t20
        |FROM cum WHERE band <= 2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q397_ips_eval" ->
      // same hash-planted actions/propensities, same exact micro weights
      """WITH e AS (SELECT CAST(user_id % 3 AS BIGINT) AS pi_arm,
        |    CASE WHEN event_id % 10 < 5 THEN 0 WHEN event_id % 10 < 8 THEN 1 ELSE 2 END AS a,
        |    CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE 0 END AS r
        |  FROM events WHERE user_id IS NOT NULL),
        |w AS (SELECT pi_arm, r,
        |    CASE WHEN a = 0 THEN 2000000 WHEN a = 1 THEN 3333333 ELSE 5000000 END AS w_micro,
        |    CASE WHEN pi_arm = a THEN CAST(1 AS BIGINT) ELSE 0 END AS m FROM e)
        |SELECT pi_arm, count(*) AS n, CAST(sum(m) AS BIGINT) AS n_matched,
        |  CAST(sum(r * m * w_micro) AS BIGINT) // count(*) AS ips_micro,
        |  CAST(sum(r * m * w_micro) AS BIGINT) * 10000
        |    // greatest(CAST(sum(m * w_micro) AS BIGINT), 1) AS snips_bp,
        |  CAST(sum(r) AS BIGINT) * 10000 // count(*) AS logged_reward_bp
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "q398_bitmap_index" ->
      // same 32-bit word packing, same bit_or / bit_count algebra
      """WITH d AS (SELECT DISTINCT event_type AS seg, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |bm AS (SELECT seg, user_id // 32 AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM d GROUP BY 1, 2),
        |card AS (SELECT seg, CAST(sum(bit_count(bits)) AS BIGINT) AS card FROM bm GROUP BY 1),
        |inter AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
        |    CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS inter
        |  FROM bm a JOIN bm b ON a.w = b.w AND a.seg < b.seg GROUP BY 1, 2),
        |pairs AS (SELECT ca.seg AS seg_a, cb.seg AS seg_b, ca.card AS card_a, cb.card AS card_b
        |  FROM card ca CROSS JOIN card cb WHERE ca.seg < cb.seg)
        |SELECT p.seg_a, p.seg_b, p.card_a, p.card_b,
        |  coalesce(i.inter, 0) AS inter,
        |  p.card_a + p.card_b - coalesce(i.inter, 0) AS uni,
        |  coalesce(i.inter, 0) * 10000 // (p.card_a + p.card_b - coalesce(i.inter, 0)) AS jaccard_bp
        |FROM pairs p LEFT JOIN inter i USING (seg_a, seg_b) ORDER BY 1, 2""".stripMargin,
    "q399_powerlaw_mle" ->
      // same floor-micro log quantization, same single closing division
      """WITH d AS (SELECT source,
        |    CAST(floor(ln(CAST(n_chars AS DOUBLE) / 200.0) * 1000000) AS BIGINT) AS lnx
        |  FROM documents WHERE n_chars >= 200)
        |SELECT source, count(*) AS n_tail, CAST(sum(lnx) AS BIGINT) AS s_micro,
        |  (round(1.0 + CAST(count(*) AS DOUBLE) * 1000000.0
        |    / CAST(nullif(CAST(sum(lnx) AS BIGINT), 0) AS DOUBLE), 4) + 0.0) AS alpha
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q400_brier_decomposition" ->
      // same 11 bins, same exact Brier numerator, same double rel chain
      """WITH e AS (SELECT (user_id * 31 % 101) * 100 AS f_bp,
        |    CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE 0 END AS y
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT f_bp // 1000 AS bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS o,
        |  CAST(sum(f_bp) AS BIGINT) AS sum_f_bp,
        |  CAST(sum((f_bp - y * 10000) * (f_bp - y * 10000)) AS BIGINT) AS brier_num,
        |  (round((CAST(CAST(sum(f_bp) AS BIGINT) AS DOUBLE) - 10000.0 * CAST(sum(y) AS BIGINT))
        |    * (CAST(CAST(sum(f_bp) AS BIGINT) AS DOUBLE) - 10000.0 * CAST(sum(y) AS BIGINT))
        |    / (100000000.0 * count(*)), 4) + 0.0) AS rel
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q401_neyman_allocation" ->
      // same exact moments, same floor(N·sd·10³) quantization, same
      // largest-remainder walk over the 5-row strata frame
      """WITH m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
        |      * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS ss
        |  FROM events GROUP BY 1),
        |w AS (SELECT event_type, n,
        |    CAST(floor(CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) * 1000) AS BIGINT) AS w_scaled
        |  FROM m),
        |t AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS tw FROM w),
        |b AS (SELECT w.event_type, w.n, w.w_scaled,
        |    w.w_scaled * 1000 // t.tw AS alloc_base, (w.w_scaled * 1000) % t.tw AS rem
        |  FROM w, t),
        |u AS (SELECT CAST(sum(alloc_base) AS BIGINT) AS ub FROM b),
        |r AS (SELECT b.*, u.ub, row_number() OVER (ORDER BY rem DESC, event_type) AS rk FROM b, u)
        |SELECT event_type, n, w_scaled,
        |  alloc_base + CASE WHEN rk <= 1000 - ub THEN 1 ELSE 0 END AS alloc
        |FROM r ORDER BY event_type""".stripMargin,
    "q402_paa_symbolize" ->
      // same fixed anchor, same exact micro PAA, same min-max symbols
      """WITH daily AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |paa AS (SELECT event_type, d // 4 AS seg, count(*) AS n_days,
        |    CAST(sum(cnt) AS BIGINT) AS sum_cnt FROM daily GROUP BY 1, 2),
        |p2 AS (SELECT *, sum_cnt * 1000000 // n_days AS paa_micro FROM paa),
        |rng AS (SELECT event_type, min(paa_micro) AS lo, max(paa_micro) AS hi FROM p2 GROUP BY 1)
        |SELECT p2.event_type, p2.seg, p2.n_days, p2.sum_cnt, p2.paa_micro,
        |  (p2.paa_micro - rng.lo) * 4 // (rng.hi - rng.lo + 1) AS sym
        |FROM p2 JOIN rng USING (event_type) ORDER BY 1, 2""".stripMargin,
    "q403_poisson_bootstrap" ->
      // same hash-threshold Poisson(1) weights, same exact micro means,
      // same integer moments with one closing sqrt
      """WITH e AS (SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |rep AS (SELECT event_id, cents, CAST(unnest(range(0, 32)) AS BIGINT) AS r FROM e),
        |h AS (SELECT r, cents, ((event_id * 131 + r) * 48271) % 2147483647 % 10000 AS h FROM rep),
        |w AS (SELECT r, cents, CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1
        |    WHEN h < 9197 THEN 2 WHEN h < 9810 THEN 3 WHEN h < 9963 THEN 4 ELSE 5 END AS w
        |  FROM h),
        |g AS (SELECT r, CAST(sum(w) AS BIGINT) AS sw, CAST(sum(w * cents) AS BIGINT) AS swy
        |  FROM w GROUP BY 1),
        |mm AS (SELECT swy * 100 // greatest(sw, 1) AS m FROM g),
        |agg AS (SELECT count(*) AS n_rep, CAST(sum(m) AS BIGINT) AS sm,
        |    CAST(sum(m * m) AS BIGINT) AS sm2 FROM mm),
        |pe AS (SELECT count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) * 100 // count(*) AS point_mean_micros FROM e)
        |SELECT pe.n_events, pe.point_mean_micros, agg.sm // agg.n_rep AS boot_mean_micros,
        |  (round(sqrt((CAST(agg.n_rep AS DOUBLE) * CAST(agg.sm2 AS DOUBLE)
        |    - CAST(agg.sm AS DOUBLE) * CAST(agg.sm AS DOUBLE))
        |    / (CAST(agg.n_rep AS DOUBLE) * CAST(agg.n_rep - 1 AS DOUBLE))), 4) + 0.0) AS boot_se_micros
        |FROM pe, agg""".stripMargin,
    "q404_theta_sketch" ->
      // same MINSTD priorities, same bottom-32 retention, same θ algebra
      """WITH d AS (SELECT DISTINCT event_type AS seg, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |pr AS (SELECT seg, user_id, (user_id * 48271) % 2147483647 + 1 AS p FROM d),
        |sk AS (SELECT seg, p FROM (SELECT seg, p,
        |    row_number() OVER (PARTITION BY seg ORDER BY p) AS rn FROM pr)
        |  WHERE rn <= 32),
        |th AS (SELECT sk.seg, CASE WHEN count(*) < 32 THEN 2147483647
        |    ELSE max(sk.p) END AS theta, count(*) AS n_ret FROM sk GROUP BY 1),
        |ne AS (SELECT seg, count(*) AS n_exact FROM pr GROUP BY 1),
        |est AS (SELECT th.seg, th.theta,
        |    CASE WHEN th.n_ret < 32 THEN ne.n_exact
        |      ELSE CAST(31 AS BIGINT) * 2147483647 // th.theta END AS est
        |  FROM th JOIN ne USING (seg)),
        |pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.est AS est_a, b.est AS est_b,
        |    least(a.theta, b.theta) AS th
        |  FROM est a CROSS JOIN est b WHERE a.seg < b.seg),
        |skp AS (SELECT p.seg_a, p.seg_b, p.th, s.p AS pv, count(*) AS c
        |  FROM pairs p JOIN sk s ON (s.seg = p.seg_a OR s.seg = p.seg_b) AND s.p < p.th
        |  GROUP BY 1, 2, 3, 4),
        |cnts AS (SELECT seg_a, seg_b, th, count(*) AS u_cnt,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS i_cnt
        |  FROM skp GROUP BY 1, 2, 3),
        |ex AS (SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS true_inter
        |  FROM d a JOIN d b ON a.user_id = b.user_id AND a.seg < b.seg GROUP BY 1, 2)
        |SELECT p.seg_a, p.seg_b, p.est_a, p.est_b,
        |  coalesce(c.u_cnt, 0) * 2147483647 // p.th AS est_union,
        |  coalesce(c.i_cnt, 0) * 2147483647 // p.th AS est_inter,
        |  coalesce(ex.true_inter, 0) AS true_inter
        |FROM pairs p LEFT JOIN cnts c USING (seg_a, seg_b)
        |LEFT JOIN ex USING (seg_a, seg_b) ORDER BY 1, 2""".stripMargin,
    "q405_borda_kendall" ->
      // same three top-20 heaps, same Borda fold, same pair concordance
      """WITH r1 AS (SELECT p_partkey, row_number() OVER (ORDER BY p_retailprice DESC, p_partkey) AS r_price
        |  FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 20),
        |r2 AS (SELECT p_partkey, row_number() OVER (ORDER BY p_size DESC, p_partkey) AS r_size
        |  FROM part ORDER BY p_size DESC, p_partkey LIMIT 20),
        |r3 AS (SELECT p_partkey, row_number() OVER (ORDER BY (p_partkey * 16807) % 2147483647, p_partkey) AS r_hash
        |  FROM part ORDER BY (p_partkey * 16807) % 2147483647, p_partkey LIMIT 20),
        |fused AS (SELECT coalesce(r1.p_partkey, r2.p_partkey, r3.p_partkey) AS k,
        |    r_price, r_size, r_hash,
        |    CAST(coalesce(21 - r_price, 0) + coalesce(21 - r_size, 0)
        |      + coalesce(21 - r_hash, 0) AS BIGINT) AS borda
        |  FROM r1 FULL JOIN r2 ON r1.p_partkey = r2.p_partkey
        |  FULL JOIN r3 ON coalesce(r1.p_partkey, r2.p_partkey) = r3.p_partkey),
        |cons AS (SELECT k, r_price, r_size, r_hash,
        |    row_number() OVER (ORDER BY borda DESC, k) AS consensus FROM fused),
        |tp AS (SELECT 'r_price' AS ranker, x.consensus AS c1, y.consensus AS c2,
        |    CAST(x.r_price AS BIGINT) AS v1, CAST(y.r_price AS BIGINT) AS v2
        |  FROM cons x JOIN cons y ON x.k < y.k
        |  WHERE x.r_price IS NOT NULL AND y.r_price IS NOT NULL
        |  UNION ALL
        |  SELECT 'r_size', x.consensus, y.consensus,
        |    CAST(x.r_size AS BIGINT), CAST(y.r_size AS BIGINT)
        |  FROM cons x JOIN cons y ON x.k < y.k
        |  WHERE x.r_size IS NOT NULL AND y.r_size IS NOT NULL
        |  UNION ALL
        |  SELECT 'r_hash', x.consensus, y.consensus,
        |    CAST(x.r_hash AS BIGINT), CAST(y.r_hash AS BIGINT)
        |  FROM cons x JOIN cons y ON x.k < y.k
        |  WHERE x.r_hash IS NOT NULL AND y.r_hash IS NOT NULL)
        |SELECT ranker, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN (c1 < c2) = (v1 < v2) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |  count(*) - CAST(sum(CASE WHEN (c1 < c2) = (v1 < v2) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |  (CAST(sum(CASE WHEN (c1 < c2) = (v1 < v2) THEN 1 ELSE 0 END) AS BIGINT)
        |    - (count(*) - CAST(sum(CASE WHEN (c1 < c2) = (v1 < v2) THEN 1 ELSE 0 END) AS BIGINT)))
        |    * 1000 // count(*) AS tau_milli
        |FROM tp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q406_good_turing" ->
      // same tokenization, same N_r table, same exact milli adjustment
      """WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS r FROM tok GROUP BY 1),
        |nr AS (SELECT r, count(*) AS n_r FROM freq GROUP BY 1),
        |tot AS (SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM freq)
        |SELECT nr.r, nr.n_r,
        |  (nr.r + 1) * coalesce(n2.n_r, 0) * 1000 // nr.n_r AS r_star_milli,
        |  tot.n1 * 10000 // tot.n_tokens AS p0_bp
        |FROM nr LEFT JOIN nr n2 ON n2.r = nr.r + 1 CROSS JOIN tot
        |ORDER BY nr.r LIMIT 20""".stripMargin,
    "q407_hash_ring" ->
      // same 72-vnode ring, same packed successor argmin, same audit
      """WITH vn AS (SELECT CAST(unnest(range(0, 72)) AS BIGINT) AS v),
        |ring AS (SELECT v // 8 AS shard, ((v + 1) * 2654435761) % 2147483647 AS pos FROM vn),
        |pk AS (SELECT shard, pos, pos * 100 + shard AS packed FROM ring),
        |keys AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |kh AS (SELECT user_id, (user_id * 2654435761) % 2147483647 AS kh FROM keys),
        |asg AS (SELECT k.user_id,
        |    coalesce(min(CASE WHEN p.shard < 8 AND p.pos >= k.kh THEN p.packed END),
        |      min(CASE WHEN p.shard < 8 THEN p.packed END)) % 100 AS shard8,
        |    coalesce(min(CASE WHEN p.pos >= k.kh THEN p.packed END),
        |      min(p.packed)) % 100 AS shard9
        |  FROM kh k CROSS JOIN pk p GROUP BY 1, k.kh)
        |SELECT shard8, count(*) AS n_keys,
        |  CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |  CAST(sum(CASE WHEN shard9 = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_to_new,
        |  CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |    // count(*) AS moved_bp
        |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q408_contribution_bounding" ->
      // same first-8-per-user clamp, same per-day ledger
      """WITH e AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT day, count(*) AS n_raw,
        |  CAST(sum(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounded,
        |  (count(*) - CAST(sum(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT)) * 10000
        |    // count(*) AS clamp_loss_bp
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q409_skipgram_pairs" ->
      // same per-doc leads, both directions, same top-30 total order
      """WITH raw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0) AS arr FROM documents),
        |px AS (SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |    i -> {'pos': i - 1, 'tok': arr[i]})) AS g FROM raw),
        |t AS (SELECT doc_id, g.pos AS pos, g.tok AS tok,
        |    lead(g.tok, 1) OVER w AS n1, lead(g.tok, 2) OVER w AS n2
        |  FROM px WINDOW w AS (PARTITION BY doc_id ORDER BY g.pos)),
        |prs AS (SELECT tok AS w1, n1 AS w2, CAST(1 AS BIGINT) AS dist FROM t WHERE n1 IS NOT NULL
        |  UNION ALL SELECT tok, n2, 2 FROM t WHERE n2 IS NOT NULL
        |  UNION ALL SELECT n1, tok, 1 FROM t WHERE n1 IS NOT NULL
        |  UNION ALL SELECT n2, tok, 2 FROM t WHERE n2 IS NOT NULL)
        |SELECT w1, w2, dist, count(*) AS cnt, 1000 // dist AS weight_milli
        |FROM prs GROUP BY 1, 2, 3
        |ORDER BY cnt DESC, w1, w2, dist LIMIT 30""".stripMargin,
    "q410_churn_labels" ->
      // same distinct active days, same strictly-forward 14-day lookahead
      """WITH days AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |lb AS (SELECT user_id, d, lead(d, 1) OVER (PARTITION BY user_id ORDER BY d) AS nxt
        |  FROM days)
        |SELECT strftime(d, '%Y-%m-%d') AS day, count(*) AS n_user_days,
        |  CAST(sum(CASE WHEN nxt IS NULL OR date_diff('day', d, nxt) > 14
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  CAST(sum(CASE WHEN nxt IS NULL OR date_diff('day', d, nxt) > 14
        |    THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS churn_bp
        |FROM lb GROUP BY 1 ORDER BY 1""".stripMargin,
    "q411_haar_wavelet" ->
      // same dense calendar, same 3 pairwise (sum, diff) levels
      """WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |cal AS (SELECT CAST(unnest(range(0, date_diff('day', d0, d1) + 1)) AS BIGINT) AS idx FROM b),
        |ty AS (SELECT DISTINCT event_type FROM e),
        |daily AS (SELECT event_type, CAST(date_diff('day', b.d0, e.d) AS BIGINT) AS idx,
        |    count(*) AS c FROM e, b GROUP BY 1, 2),
        |dense AS (SELECT ty.event_type, cal.idx, CAST(coalesce(daily.c, 0) AS BIGINT) AS c
        |  FROM ty CROSS JOIN cal LEFT JOIN daily
        |  ON daily.event_type = ty.event_type AND daily.idx = cal.idx),
        |l1 AS (SELECT event_type, idx // 2 AS idx, CAST(sum(c) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN idx % 2 = 0 THEN c ELSE -c END) AS BIGINT) AS dcoef
        |  FROM dense GROUP BY 1, 2),
        |l2 AS (SELECT event_type, idx // 2 AS idx, CAST(sum(c) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN idx % 2 = 0 THEN c ELSE -c END) AS BIGINT) AS dcoef
        |  FROM l1 GROUP BY 1, 2),
        |l3 AS (SELECT event_type, idx // 2 AS idx, CAST(sum(c) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN idx % 2 = 0 THEN c ELSE -c END) AS BIGINT) AS dcoef
        |  FROM l2 GROUP BY 1, 2),
        |uni AS (SELECT event_type, CAST(1 AS BIGINT) AS level, idx, c AS smooth, dcoef FROM l1
        |  UNION ALL SELECT event_type, 2, idx, c, dcoef FROM l2
        |  UNION ALL SELECT event_type, 3, idx, c, dcoef FROM l3)
        |SELECT event_type, level, idx, smooth, dcoef FROM uni
        |ORDER BY event_type, level, idx""".stripMargin,
    "q412_mutual_knn" ->
      // same forward/backward exact scoring (q45's raw-cosine ranking),
      // backward restricted to the forward-hit set, same bp quantization
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |xs AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0 AND vec_id < 2000),
        |ys AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
        |fs AS (SELECT x.vec_id AS x, y.vec_id AS y,
        |    list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cosine
        |  FROM xs x CROSS JOIN ys y),
        |fr AS (SELECT x, y, cosine, row_number() OVER (PARTITION BY x ORDER BY cosine DESC, y) AS rn FROM fs),
        |fwd AS (SELECT x, y, cosine FROM fr WHERE rn = 1),
        |bq AS (SELECT DISTINCT y FROM fwd),
        |bs AS (SELECT b.y, x.vec_id AS bx,
        |    list_dot_product(yv.v, x.v) / (sqrt(list_dot_product(yv.v, yv.v)) * sqrt(list_dot_product(x.v, x.v))) AS cosine
        |  FROM bq b JOIN ys yv ON yv.vec_id = b.y CROSS JOIN xs x),
        |br AS (SELECT y, bx, row_number() OVER (PARTITION BY y ORDER BY cosine DESC, bx) AS rn FROM bs),
        |bwd AS (SELECT y, bx FROM br WHERE rn = 1)
        |SELECT f.x, f.y, CAST(round(f.cosine * 10000) AS BIGINT) AS cos_bp
        |FROM fwd f JOIN bwd ON f.y = bwd.y AND f.x = bwd.bx ORDER BY f.x""".stripMargin,
    "q413_anova" ->
      // same per-arm exact moments, same centi-quantized Σs²/n, same chain
      """WITH e AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS y FROM events),
        |m AS (SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS s,
        |    CAST(sum(y * y) AS BIGINT) AS ss FROM e GROUP BY 1),
        |g AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(s) AS BIGINT) AS ts, CAST(sum(ss) AS BIGINT) AS tss,
        |    CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS sg_centi
        |  FROM m)
        |SELECT k, nn,
        |  (round(sg_centi / 100.0 - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(nn AS DOUBLE), 4) + 0.0) AS ssb,
        |  (round(CAST(tss AS DOUBLE) - sg_centi / 100.0, 4) + 0.0) AS ssw,
        |  (round(((sg_centi / 100.0 - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(nn AS DOUBLE))
        |    / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(tss AS DOUBLE) - sg_centi / 100.0) / CAST(nn - k AS DOUBLE)), 4) + 0.0) AS f_stat
        |FROM g""".stripMargin,
    "q414_stratified_kfold" ->
      // same per-stratum round-robin in (doc_id) order
      """WITH d AS (SELECT doc_id, lang,
        |    (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1) % 5 AS fold
        |  FROM documents)
        |SELECT CAST(fold AS BIGINT) AS fold, lang, count(*) AS n
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q415_eb_shrinkage" ->
      // same exact-integer additive-smoothing identity, same top-20 order
      """WITH per AS (SELECT l_partkey, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr FROM per)
        |SELECT l_partkey, n, r, r * 10000 // n AS raw_bp,
        |  (r * nn + 20 * rr) * 10000 // ((n + 20) * nn) AS shrunk_bp
        |FROM per, tot ORDER BY shrunk_bp DESC, l_partkey LIMIT 20""".stripMargin,
    "q416_set_cover" -> q416Sql,
    "q417_mutual_knn_ivf" -> q417Sql,
    "q418_mcnemar" -> {
      val langCase = SparkEntry.langCaseOn("text")
      s"""WITH cls AS (SELECT ($langCase) = lang AS a_ok, lang = 'en' AS b_ok FROM documents),
         |m AS (SELECT
         |  CAST(sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |  CAST(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |  CAST(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |  CAST(sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM cls)
         |SELECT n11, b, c, n00,
         |  CAST(CASE WHEN b + c = 0 THEN 0 ELSE (100 * (b - c) * (b - c)) // (b + c) END AS BIGINT) AS chi2_centi,
         |  (CASE WHEN b + c = 0 THEN 0 ELSE (100 * (b - c) * (b - c)) // (b + c) END) > 384 AS significant
         |FROM m""".stripMargin
    },
    "q419_shapley_attribution" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(DISTINCT 1 << (CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END)) AS BIGINT) AS mask,
        |    max(value) AS mx FROM events GROUP BY 1),
        |obs AS (SELECT mask, count(*) AS cnt FROM u WHERE mx >= 300.0 GROUP BY 1),
        |coal AS (SELECT unnest(range(0, 32)) AS sm),
        |v AS (SELECT sm, CAST(coalesce(sum(cnt), 0) AS BIGINT) AS v
        |  FROM coal LEFT JOIN obs ON (obs.mask & coal.sm) = obs.mask GROUP BY 1),
        |ch AS (SELECT unnest(range(0, 5)) AS ci)
        |SELECT CASE ci WHEN 0 THEN 'click' WHEN 1 THEN 'error' WHEN 2 THEN 'purchase'
        |    WHEN 3 THEN 'signup' ELSE 'view' END AS channel,
        |  CAST(sum((CASE bit_count(vs.sm) WHEN 0 THEN 24 WHEN 1 THEN 6 WHEN 2 THEN 4
        |    WHEN 3 THEN 6 ELSE 24 END) * (vi.v - vs.v)) AS BIGINT) AS shapley_x120
        |FROM ch JOIN v vs ON (vs.sm & (1 << ci)) = 0
        |JOIN v vi ON vi.sm = (vs.sm | (1 << ci))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q420_pass_at_k" ->
      """WITH g AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1 HAVING count(*) >= 10)
        |SELECT l_partkey, n, c,
        |  CASE WHEN n - c < 1 THEN CAST(1.0 AS DOUBLE) ELSE 1.0 - list_reduce(
        |    list_transform(range(0, 1), i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
        |    (acc, x) -> acc * x) END AS pass_at_1,
        |  CASE WHEN n - c < 5 THEN CAST(1.0 AS DOUBLE) ELSE 1.0 - list_reduce(
        |    list_transform(range(0, 5), i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
        |    (acc, x) -> acc * x) END AS pass_at_5,
        |  CASE WHEN n - c < 10 THEN CAST(1.0 AS DOUBLE) ELSE 1.0 - list_reduce(
        |    list_transform(range(0, 10), i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
        |    (acc, x) -> acc * x) END AS pass_at_10
        |FROM g ORDER BY l_partkey""".stripMargin,
    "q421_cusum_control" ->
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS base_sum,
        |    CAST(count(*) AS BIGINT) AS n0
        |  FROM d WHERE day <= '2024-01-10' GROUP BY 1),
        |m AS (SELECT d.event_type, d.day,
        |    CAST(20 * b.n0 * d.cents - 21 * b.base_sum AS BIGINT) AS inc, b.base_sum
        |  FROM d JOIN b ON d.event_type = b.event_type WHERE d.day > '2024-01-10'),
        |p0 AS (SELECT event_type, day, inc, base_sum,
        |    sum(inc) OVER (PARTITION BY event_type ORDER BY day) AS p FROM m),
        |p AS (SELECT event_type, day, inc, base_sum, p,
        |    min(p) OVER (PARTITION BY event_type ORDER BY day) AS mp FROM p0)
        |SELECT event_type, day, inc, CAST(p - least(0, mp) AS BIGINT) AS s_scaled,
        |  (p - least(0, mp)) > 80 * base_sum AS alarm
        |FROM p ORDER BY event_type, day""".stripMargin,
    "q422_decision_stump" ->
      """WITH bins AS (SELECT CAST(round(p_retailprice * 100, 0) AS BIGINT) // 10000 AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN p_size >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM part GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS pt FROM bins),
        |pre AS (SELECT bin,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS pl
        |  FROM bins),
        |sc AS (SELECT bin, nl, pl, nt - nl AS nr, pt - pl AS pr,
        |    pl * pl + (nl - pl) * (nl - pl) AS a,
        |    pr * pr + ((nt - nl) - pr) * ((nt - nl) - pr) AS bb
        |  FROM pre, tot WHERE nl < nt)
        |SELECT bin AS split_bin, nl, pl, CAST(nr AS BIGINT) AS nr, CAST(pr AS BIGINT) AS pr,
        |  CAST((CAST(1000000 AS HUGEINT) * (CAST(a AS HUGEINT) * nr + CAST(bb AS HUGEINT) * nl))
        |    // (CAST(nl AS HUGEINT) * nr) AS BIGINT) AS score_ppm
        |FROM sc ORDER BY score_ppm DESC, split_bin LIMIT 10""".stripMargin,
    "q423_uplift_qini" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') <= '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS score,
        |    CAST(max(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') > '2024-01-15'
        |      AND value >= 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS conv,
        |    user_id % 2 AS arm
        |  FROM events GROUP BY user_id),
        |d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT) AS decile FROM u),
        |g AS (SELECT decile,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS cc
        |  FROM d GROUP BY 1)
        |SELECT decile, nt, nc, ct, cc,
        |  CAST(sum(ct) OVER (ORDER BY decile) * sum(nc) OVER (ORDER BY decile)
        |    - sum(cc) OVER (ORDER BY decile) * sum(nt) OVER (ORDER BY decile) AS BIGINT) AS qini_x
        |FROM g ORDER BY decile""".stripMargin,
    "q424_bleu" ->
      """WITH pr AS (SELECT c.doc_id AS pair_id,
        |    regexp_split_to_array(c.text, ' ') AS ct, regexp_split_to_array(r.text, ' ') AS rt
        |  FROM documents c JOIN documents r ON c.text = r.text || ' dup'),
        |ns AS (SELECT unnest(range(1, 5)) AS n),
        |cg0 AS (SELECT pair_id, n, ct, unnest(range(1, len(ct) - n + 2)) AS i
        |  FROM pr, ns WHERE len(ct) >= n),
        |cg AS (SELECT pair_id, n,
        |    array_to_string(ct[CAST(i AS BIGINT):CAST(i + n - 1 AS BIGINT)], ' ') AS g,
        |    count(*) AS cnt FROM cg0 GROUP BY 1, 2, 3),
        |rg0 AS (SELECT pair_id, n, rt, unnest(range(1, len(rt) - n + 2)) AS i
        |  FROM pr, ns WHERE len(rt) >= n),
        |rg AS (SELECT pair_id, n,
        |    array_to_string(rt[CAST(i AS BIGINT):CAST(i + n - 1 AS BIGINT)], ' ') AS g,
        |    count(*) AS rcnt FROM rg0 GROUP BY 1, 2, 3),
        |mm AS (SELECT cg.n, CAST(coalesce(sum(least(cg.cnt, rg.rcnt)), 0) AS BIGINT) AS m
        |  FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n AND cg.g = rg.g
        |  GROUP BY 1),
        |tt AS (SELECT n, CAST(sum(cnt) AS BIGINT) AS tot FROM cg GROUP BY 1),
        |agg AS (SELECT
        |    max(CASE WHEN n = 1 THEN coalesce(m, 0) END) AS match1, max(CASE WHEN n = 1 THEN tot END) AS total1,
        |    max(CASE WHEN n = 2 THEN coalesce(m, 0) END) AS match2, max(CASE WHEN n = 2 THEN tot END) AS total2,
        |    max(CASE WHEN n = 3 THEN coalesce(m, 0) END) AS match3, max(CASE WHEN n = 3 THEN tot END) AS total3,
        |    max(CASE WHEN n = 4 THEN coalesce(m, 0) END) AS match4, max(CASE WHEN n = 4 THEN tot END) AS total4
        |  FROM tt LEFT JOIN mm USING (n)),
        |ln2 AS (SELECT CAST(sum(len(ct)) AS BIGINT) AS c_len, CAST(sum(len(rt)) AS BIGINT) AS r_len FROM pr)
        |SELECT match1, total1, match2, total2, match3, total3, match4, total4,
        |  (CASE WHEN c_len >= r_len THEN CAST(1.0 AS DOUBLE)
        |    ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END) *
        |  sqrt(sqrt((CAST(match1 AS DOUBLE) / CAST(total1 AS DOUBLE)) *
        |    (CAST(match2 AS DOUBLE) / CAST(total2 AS DOUBLE)) *
        |    (CAST(match3 AS DOUBLE) / CAST(total3 AS DOUBLE)) *
        |    (CAST(match4 AS DOUBLE) / CAST(total4 AS DOUBLE)))) AS bleu
        |FROM agg, ln2""".stripMargin,
    "q425_sort_for_compression" -> {
      def runsSql(keyExpr: String, keyName: String) =
        s"""SELECT '$keyName' AS sort_key,
           |  CAST(sum(CASE WHEN pp IS NULL OR pp <> l_partkey THEN 1 ELSE 0 END) AS BIGINT) AS runs_partkey,
           |  CAST(sum(CASE WHEN ps IS NULL OR ps <> l_suppkey THEN 1 ELSE 0 END) AS BIGINT) AS runs_suppkey,
           |  CAST(sum(CASE WHEN pf IS NULL OR pf <> l_returnflag THEN 1 ELSE 0 END) AS BIGINT) AS runs_returnflag,
           |  CAST(sum(CASE WHEN pl IS NULL OR pl <> l_linestatus THEN 1 ELSE 0 END) AS BIGINT) AS runs_linestatus
           |FROM (SELECT l_partkey, l_suppkey, l_returnflag, l_linestatus,
           |  lag(l_partkey) OVER w AS pp, lag(l_suppkey) OVER w AS ps,
           |  lag(l_returnflag) OVER w AS pf, lag(l_linestatus) OVER w AS pl
           |  FROM (SELECT *, $keyExpr AS __k, l_orderkey // 4096 AS __b FROM lineitem)
           |  WINDOW w AS (PARTITION BY __k, __b
           |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag, l_linestatus))""".stripMargin
      Seq(
        runsSql("CAST(l_returnflag AS VARCHAR)", "l_returnflag"),
        runsSql("CAST(l_linestatus AS VARCHAR)", "l_linestatus"),
        runsSql("strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m')", "ship_month"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY sort_key")
    },
    "q426_hierarchy_paths" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'c:' || c_custkey AS node, 'n:' || c_nationkey AS parent FROM customer
        |  UNION ALL SELECT 'n:' || n_nationkey, 'r:' || n_regionkey FROM nation
        |  UNION ALL SELECT 'r:' || r_regionkey, NULL FROM region),
        |rec AS (
        |  SELECT node, node AS cur, 0 AS depth, node AS path FROM e
        |  UNION ALL
        |  SELECT r.node, e.parent, r.depth + 1, r.path || '/' || e.parent
        |  FROM rec r JOIN e ON e.node = r.cur WHERE e.parent IS NOT NULL)
        |SELECT r.node, r.cur AS root, CAST(r.depth AS BIGINT) AS depth, r.path
        |FROM rec r JOIN e t ON t.node = r.cur
        |WHERE t.parent IS NULL ORDER BY r.node""".stripMargin,
    "q427_policy_mask" ->
      """SELECT * FROM (
        |  SELECT 'admin' AS role, c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |  UNION ALL
        |  SELECT 'analyst', c_custkey, substr(c_name, 1, 9) || '***',
        |    CAST(NULL AS DOUBLE), c_mktsegment
        |  FROM customer WHERE c_mktsegment <> 'AUTOMOBILE'
        |  UNION ALL
        |  SELECT 'support', c_custkey, md5(c_name), c_acctbal, c_mktsegment FROM customer)
        |ORDER BY role, c_custkey""".stripMargin,
    "q428_merkle_ranges" ->
      """WITH rows0 AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, o_orderstatus
        |  FROM orders),
        |b AS (SELECT k, md5(k || '|' || cents || '|' || o_orderstatus) AS rh FROM rows0),
        |c AS (SELECT k, md5(k || '|' ||
        |    (CASE WHEN k % 997 = 0 THEN cents + 100 ELSE cents END) || '|' || o_orderstatus) AS rh
        |  FROM rows0 WHERE k % 1009 <> 0),
        |b0 AS (SELECT k // 512 AS node_id, md5(string_agg(rh, '' ORDER BY k)) AS h, 0 AS level FROM b GROUP BY 1),
        |b1 AS (SELECT node_id // 32 AS node_id, md5(string_agg(h, '' ORDER BY node_id)) AS h, 1 AS level FROM b0 GROUP BY 1),
        |b2 AS (SELECT CAST(0 AS BIGINT) AS node_id, md5(string_agg(h, '' ORDER BY node_id)) AS h, 2 AS level FROM b1),
        |c0 AS (SELECT k // 512 AS node_id, md5(string_agg(rh, '' ORDER BY k)) AS h, 0 AS level FROM c GROUP BY 1),
        |c1 AS (SELECT node_id // 32 AS node_id, md5(string_agg(h, '' ORDER BY node_id)) AS h, 1 AS level FROM c0 GROUP BY 1),
        |c2 AS (SELECT CAST(0 AS BIGINT) AS node_id, md5(string_agg(h, '' ORDER BY node_id)) AS h, 2 AS level FROM c1),
        |bt AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |ct AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        |SELECT CAST(coalesce(bt.level, ct.level) AS BIGINT) AS level,
        |  CAST(coalesce(bt.node_id, ct.node_id) AS BIGINT) AS node_id,
        |  bt.h AS base_h, ct.h AS cur_h
        |FROM bt FULL OUTER JOIN ct ON bt.level = ct.level AND bt.node_id = ct.node_id
        |WHERE bt.h IS DISTINCT FROM ct.h
        |ORDER BY level DESC, node_id""".stripMargin,
    "q429_mannwhitney_u" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |    user_id % 2 AS arm FROM events),
        |g AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT *, coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM g),
        |p AS (SELECT event_type, CAST(sum(t1 * (2 * s + t + 1)) AS BIGINT) AS r1_2,
        |    CAST(sum(t1) AS BIGINT) AS n1, CAST(sum(t - t1) AS BIGINT) AS n2
        |  FROM r GROUP BY 1)
        |SELECT event_type, n1, n2, CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u2,
        |  CAST((CAST(1000000 AS HUGEINT) * (r1_2 - n1 * (n1 + 1)))
        |    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS rb_plus1_ppm
        |FROM p ORDER BY event_type""".stripMargin,
    "q430_kcenter_seeds" -> {
      // 7 chained MATERIALIZED greedy rounds (the q416/q422 oracle
      // technique); dist^2 via the same dot identity, rounded 6dp before
      // the (d DESC, vec_id) argmax
      val rounds = new StringBuilder(
        "c0 AS MATERIALIZED (SELECT 0 AS r, CAST(0 AS BIGINT) AS cid, CAST(NULL AS DOUBLE) AS radius)")
      (1 to 7).foreach { r =>
        val prev = (0 until r).map(i => s"SELECT cid FROM c$i").mkString(" UNION ALL ")
        rounds.append(
          s""",
             |d$r AS MATERIALIZED (SELECT p.vec_id, min((round(
             |    list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))
             |    - 2 * list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
             |    + list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) + 0.0)) AS d
             |  FROM embeddings p CROSS JOIN (SELECT e.embedding FROM embeddings e
             |    WHERE e.vec_id IN ($prev)) c GROUP BY 1),
             |c$r AS MATERIALIZED (SELECT $r AS r, vec_id AS cid, d AS radius FROM d$r
             |  ORDER BY d DESC, vec_id LIMIT 1)""".stripMargin)
      }
      val union = (0 to 7).map(i => s"SELECT * FROM c$i").mkString(" UNION ALL ")
      s"""WITH ${rounds.result()}
         |SELECT CAST(r AS BIGINT) AS r, cid, (radius + 0.0) AS radius
         |FROM ($union) ORDER BY r""".stripMargin
    },
    "q431_dtw_distance" ->
      // row-major linearized DP: one recursive CTE step per cell, state =
      // (prev row P, current row N) as BIGINT lists; 31*31 steps per pair.
      // (The engine folds the same grid via nested aggregate() lambdas —
      // DuckDB's list_reduce cannot carry a list accumulator, hence the
      // linearization here.)
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(strftime(CAST(ts AS TIMESTAMP), '%d') AS BIGINT) AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |cal AS (SELECT unnest(range(1, 32)) AS day),
        |types AS (SELECT DISTINCT event_type FROM d),
        |dense AS (SELECT t.event_type, c.day, coalesce(d.x, 0) AS x
        |  FROM types t CROSS JOIN cal c
        |  LEFT JOIN d ON d.event_type = t.event_type AND d.day = c.day),
        |ser AS (SELECT event_type, list(x ORDER BY day) AS xs FROM dense GROUP BY 1),
        |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb, a.xs AS xa, b.xs AS xb
        |  FROM ser a JOIN ser b ON a.event_type < b.event_type),
        |rec AS (
        |  SELECT ta, tb, xa, xb, CAST(1 AS BIGINT) AS s,
        |    CAST([] AS BIGINT[]) AS p,
        |    CAST([abs(xa[1] - xb[1])] AS BIGINT[]) AS n
        |  FROM pairs
        |  UNION ALL
        |  SELECT ta, tb, xa, xb, s + 1,
        |    CASE WHEN (s % 31) = 0 THEN n ELSE p END,
        |    CASE WHEN (s % 31) = 0
        |      THEN [CASE WHEN abs((s // 31 + 1) - 1) <= 3
        |        THEN abs(xa[CAST(s // 31 + 1 AS BIGINT)] - xb[1]) + n[1]
        |        ELSE 1000000000000000 END]
        |      ELSE n || [CASE WHEN abs((s // 31 + 1) - (s % 31 + 1)) <= 3
        |        THEN abs(xa[CAST(s // 31 + 1 AS BIGINT)] - xb[CAST(s % 31 + 1 AS BIGINT)]) +
        |          least(CASE WHEN s // 31 = 0 THEN 1000000000000000 ELSE p[CAST(s % 31 + 1 AS BIGINT)] END,
        |                CASE WHEN s // 31 = 0 OR s % 31 = 0 THEN 1000000000000000 ELSE p[CAST(s % 31 AS BIGINT)] END,
        |                n[CAST(s % 31 AS BIGINT)])
        |        ELSE 1000000000000000 END]
        |      END
        |  FROM rec WHERE s < 31 * 31)
        |SELECT ta, tb, n[31] AS dtw FROM rec WHERE s = 31 * 31 ORDER BY ta, tb""".stripMargin,
    "q432_fellegi_sunter" -> {
      def ratioSql(k: Int) =
        s"""CASE WHEN f$k THEN
           |  CASE WHEN mt = 0 OR ut = 0 OR ua$k = 0 THEN CAST(NULL AS DOUBLE)
           |    ELSE (CAST(ma$k AS DOUBLE) / CAST(mt AS DOUBLE)) / (CAST(ua$k AS DOUBLE) / CAST(ut AS DOUBLE)) END
           |ELSE
           |  CASE WHEN mt = 0 OR ut = 0 OR ut = ua$k THEN CAST(NULL AS DOUBLE)
           |    ELSE (CAST(mt - ma$k AS DOUBLE) / CAST(mt AS DOUBLE)) / (CAST(ut - ua$k AS DOUBLE) / CAST(ut AS DOUBLE)) END
           |END""".stripMargin
      s"""WITH d AS (SELECT doc_id, text, lang, source, n_chars, n_chars // 25 AS bucket
         |  FROM documents WHERE doc_id < 400),
         |cands AS (SELECT a.lang = b.lang AS f1, a.source = b.source AS f2,
         |    abs(a.n_chars - b.n_chars) <= 4 AS f3,
         |    b.text = a.text || ' dup' AS is_match
         |  FROM d a JOIN d b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS mt,
         |    CAST(sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS ut,
         |    CAST(sum(CASE WHEN is_match AND f1 THEN 1 ELSE 0 END) AS BIGINT) AS ma1,
         |    CAST(sum(CASE WHEN NOT is_match AND f1 THEN 1 ELSE 0 END) AS BIGINT) AS ua1,
         |    CAST(sum(CASE WHEN is_match AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS ma2,
         |    CAST(sum(CASE WHEN NOT is_match AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS ua2,
         |    CAST(sum(CASE WHEN is_match AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS ma3,
         |    CAST(sum(CASE WHEN NOT is_match AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS ua3
         |  FROM cands)
         |SELECT f1, f2, f3, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  ((${ratioSql(1)}) * (${ratioSql(2)})) * (${ratioSql(3)}) AS weight
         |FROM cands, g GROUP BY f1, f2, f3, mt, ut, ma1, ua1, ma2, ua2, ma3, ua3
         |ORDER BY f1, f2, f3""".stripMargin
    },
    "q433_holt_winters" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(strftime(CAST(ts AS TIMESTAMP), '%d') AS BIGINT) AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |cal AS (SELECT unnest(range(1, 32)) AS day),
        |types AS (SELECT DISTINCT event_type FROM d),
        |dense AS (SELECT t.event_type, c.day, CAST(coalesce(d.x, 0) AS DOUBLE) AS x
        |  FROM types t CROSS JOIN cal c
        |  LEFT JOIN d ON d.event_type = t.event_type AND d.day = c.day),
        |ser AS (SELECT event_type, list(x ORDER BY day) AS xs FROM dense GROUP BY 1),
        |init AS (SELECT event_type, xs,
        |    (xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6] + xs[7]) / 7.0 AS m1,
        |    (xs[8] + xs[9] + xs[10] + xs[11] + xs[12] + xs[13] + xs[14]) / 7.0 AS m2
        |  FROM ser),
        |rec AS (
        |  SELECT event_type, xs, CAST(7 AS BIGINT) AS t, m1 AS lvl, (m2 - m1) / 7.0 AS tr,
        |    [xs[1] - m1, xs[2] - m1, xs[3] - m1, xs[4] - m1, xs[5] - m1, xs[6] - m1, xs[7] - m1] AS s
        |  FROM init
        |  UNION ALL
        |  SELECT event_type, xs, t + 1,
        |    0.3 * (xs[CAST(t + 1 AS BIGINT)] - s[1]) + 0.7 * (lvl + tr),
        |    0.1 * ((0.3 * (xs[CAST(t + 1 AS BIGINT)] - s[1]) + 0.7 * (lvl + tr)) - lvl) + 0.9 * tr,
        |    s[2:7] || [0.2 * (xs[CAST(t + 1 AS BIGINT)] - (0.3 * (xs[CAST(t + 1 AS BIGINT)] - s[1]) + 0.7 * (lvl + tr))) + 0.8 * s[1]]
        |  FROM rec WHERE t < 31)
        |SELECT event_type, (round(lvl, 4) + 0.0) AS level, (round(tr, 4) + 0.0) AS trend,
        |  (round(lvl + tr + s[1], 4) + 0.0) AS forecast
        |FROM rec WHERE t = 31 ORDER BY event_type""".stripMargin,
    "q434_theilsen_slope" ->
      """WITH d AS (SELECT event_type, CAST(strftime(CAST(ts AS TIMESTAMP), '%d') AS BIGINT) AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |cal AS (SELECT unnest(range(1, 32)) AS day),
        |types AS (SELECT DISTINCT event_type FROM d),
        |dense AS (SELECT t.event_type, c.day AS i, coalesce(d.x, 0) AS x
        |  FROM types t CROSS JOIN cal c
        |  LEFT JOIN d ON d.event_type = t.event_type AND d.day = c.day),
        |p AS (SELECT a.event_type, a.i AS i, b.i AS j,
        |    CAST(floor(1000000 * (CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE))) AS BIGINT) AS slope_q
        |  FROM dense a JOIN dense b ON a.event_type = b.event_type AND a.i < b.i),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY slope_q, i, j) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS np FROM p)
        |SELECT event_type, CAST(np AS BIGINT) AS n_pairs, slope_q AS median_slope_q
        |FROM r WHERE rn = CAST(ceil(np / 2.0) AS BIGINT) ORDER BY event_type""".stripMargin,
    "q435_delta_method_ci" ->
      """WITH u AS (SELECT event_type, user_id % 2 AS arm, user_id,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (SELECT event_type, CAST(arm AS BIGINT) AS arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM u GROUP BY 1, 2 HAVING count(*) >= 2),
        |v AS (SELECT *, CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r FROM g),
        |w AS (SELECT *,
        |    (((CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
        |     - (2.0 * r) * ((CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
        |     + (r * r) * ((CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) * ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS vr
        |  FROM v)
        |SELECT event_type, arm, n, r, vr, 1.96 * sqrt(vr) AS ci_half
        |FROM w ORDER BY event_type, arm""".stripMargin,
    "q436_mips_transform" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE) * ((1 + (vec_id % 5)) / 5.0)) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 8),
        |ex AS (SELECT qid, e.vec_id, (round(list_dot_product(emb, qe), 6) + 0.0) AS ip
        |  FROM e CROSS JOIN q WHERE e.vec_id <> qid),
        |exr AS (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vec_id) AS rn FROM ex),
        |exact AS (SELECT qid, vec_id AS exact_id FROM exr WHERE rn = 1),
        |m2 AS (SELECT max(list_dot_product(emb, emb)) AS m2 FROM e),
        |aug AS (SELECT vec_id, emb || [sqrt(m2.m2 - list_dot_product(emb, emb))] AS emb
        |  FROM e, m2),
        |augq AS (SELECT vec_id AS qid, emb || [CAST(0.0 AS DOUBLE)] AS qe
        |  FROM e WHERE vec_id < 8),
        |cosd AS (SELECT qid, a.vec_id,
        |    list_dot_product(a.emb, qe) /
        |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(qe, qe))) AS cosine
        |  FROM aug a CROSS JOIN augq WHERE a.vec_id <> qid),
        |cosr AS (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM cosd),
        |mips AS (SELECT qid, vec_id AS mips_id FROM cosr WHERE rn = 1)
        |SELECT exact.qid, exact_id, mips_id, exact_id = mips_id AS agree
        |FROM exact JOIN mips ON exact.qid = mips.qid ORDER BY exact.qid""".stripMargin,
    "q437_simpson_flags" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment,
        |    min(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS x,
        |    CAST(count(o_orderkey) AS BIGINT) AS y
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1, 2),
        |per AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM cust GROUP BY 1),
        |per2 AS (SELECT *, CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_num FROM per),
        |pooled AS (SELECT CAST(count(*) AS BIGINT) AS pn, CAST(sum(x) AS BIGINT) AS psx,
        |    CAST(sum(y) AS BIGINT) AS psy, sum(CAST(x AS HUGEINT) * y) AS psxy FROM cust),
        |pooled2 AS (SELECT CAST(pn AS HUGEINT) * psxy - CAST(psx AS HUGEINT) * psy AS pooled_num FROM pooled)
        |SELECT c_mktsegment, n,
        |  CAST(sign(CAST(cov_num AS DOUBLE)) AS BIGINT) AS stratum_sign,
        |  CAST(sign(CAST(pooled_num AS DOUBLE)) AS BIGINT) AS pooled_sign,
        |  sign(CAST(cov_num AS DOUBLE)) <> sign(CAST(pooled_num AS DOUBLE)) AS flipped
        |FROM per2, pooled2 ORDER BY c_mktsegment""".stripMargin,
    "q438_lof" ->
      // the same three staged kNN closures; reach/lrd folds via
      // list(... ORDER BY d, o) + list_reduce (left fold = the engine's
      // aggregate() with a 0.0 seed — 0.0 + x is exact)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |probes AS (SELECT vec_id, v FROM e WHERE vec_id < 32),
        |dA AS (SELECT p.vec_id AS q, c.vec_id AS o, (round(
        |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.v) + list_dot_product(c.v, c.v), 6) + 0.0) AS d
        |  FROM probes p CROSS JOIN e c WHERE c.vec_id <> p.vec_id),
        |rA AS (SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, o) AS rn FROM dA),
        |nA AS (SELECT q, o, d FROM rA WHERE rn <= 5),
        |q2 AS (SELECT DISTINCT vec_id FROM (SELECT q AS vec_id FROM nA UNION ALL SELECT o FROM nA)),
        |e2 AS (SELECT e.vec_id, v FROM e JOIN q2 USING (vec_id)),
        |dB AS (SELECT p.vec_id AS q, c.vec_id AS o, (round(
        |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.v) + list_dot_product(c.v, c.v), 6) + 0.0) AS d
        |  FROM e2 p CROSS JOIN e c WHERE c.vec_id <> p.vec_id),
        |rB AS (SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, o) AS rn FROM dB),
        |nB AS (SELECT q, o, d FROM rB WHERE rn <= 5),
        |q3 AS (SELECT DISTINCT o AS vec_id FROM nB),
        |e3 AS (SELECT e.vec_id, v FROM e JOIN q3 USING (vec_id)),
        |dC AS (SELECT p.vec_id AS q, c.vec_id AS o, (round(
        |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.v) + list_dot_product(c.v, c.v), 6) + 0.0) AS d
        |  FROM e3 p CROSS JOIN e c WHERE c.vec_id <> p.vec_id),
        |rC AS (SELECT q, d, row_number() OVER (PARTITION BY q ORDER BY d, o) AS rn FROM dC),
        |kd AS (SELECT q AS vec_id, d AS kdist FROM rC WHERE rn = 5),
        |reach AS (SELECT nB.q, nB.o, nB.d, greatest(kd.kdist, nB.d) AS rd
        |  FROM nB JOIN kd ON kd.vec_id = nB.o),
        |lrd AS (SELECT q AS vec_id,
        |    5.0 / list_reduce(list(rd ORDER BY d, o), (a, b) -> a + b) AS lrd
        |  FROM reach GROUP BY q),
        |lof AS (SELECT nA.q, (list_reduce(list(lo.lrd ORDER BY nA.d, nA.o), (a, b) -> a + b) / 5.0)
        |      / max(lp.lrd) AS lof
        |  FROM nA JOIN lrd lo ON lo.vec_id = nA.o JOIN lrd lp ON lp.vec_id = nA.q
        |  GROUP BY nA.q)
        |SELECT q AS vec_id, lof FROM lof ORDER BY vec_id""".stripMargin,
    "q439_cohens_d" ->
      """WITH m AS (SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sx1,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sx0,
        |    sum(CASE WHEN user_id % 2 = 1 THEN CAST(CAST(round(value * 100, 0) AS BIGINT) AS HUGEINT) * CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS sxx1,
        |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(CAST(round(value * 100, 0) AS BIGINT) AS HUGEINT) * CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS sxx0
        |  FROM events GROUP BY 1
        |  HAVING sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) >= 2
        |    AND sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) >= 2),
        |d AS (SELECT *,
        |    ((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
        |    / sqrt(((CAST(sxx1 AS DOUBLE) - (CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) / CAST(n1 AS DOUBLE))
        |    + (CAST(sxx0 AS DOUBLE) - (CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)) / CAST(n0 AS DOUBLE)))
        |    / CAST(n1 + n0 - 2 AS DOUBLE)) AS d
        |  FROM m)
        |SELECT event_type, n1, n0, d,
        |  d * (1.0 - 3.0 / CAST(4 * (n1 + n0) - 9 AS DOUBLE)) AS hedges_g
        |FROM d ORDER BY event_type""".stripMargin,
    "q440_levene_bf" ->
      """WITH ev AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS x,
        |    user_id % 2 AS arm FROM events),
        |hist AS (SELECT event_type, arm, x, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |np AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2),
        |cum AS (SELECT *, sum(c) OVER (PARTITION BY event_type, arm ORDER BY x) AS hi FROM hist),
        |cum2 AS (SELECT *, hi - c + 1 AS lo FROM cum),
        |med AS (SELECT cum2.event_type, cum2.arm,
        |    CAST(sum(CASE WHEN lo <= (n + 1) // 2 AND (n + 1) // 2 <= hi THEN x ELSE 0 END)
        |      + sum(CASE WHEN lo <= (n + 2) // 2 AND (n + 2) // 2 <= hi THEN x ELSE 0 END) AS BIGINT) AS med2
        |  FROM cum2 JOIN np ON np.event_type = cum2.event_type AND np.arm = cum2.arm
        |  GROUP BY 1, 2),
        |z AS (SELECT ev.event_type, ev.arm, abs(2 * x - med2) AS z
        |  FROM ev JOIN med ON med.event_type = ev.event_type AND med.arm = ev.arm),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN z ELSE 0 END) AS BIGINT) AS sz1,
        |    CAST(sum(CASE WHEN arm = 0 THEN z ELSE 0 END) AS BIGINT) AS sz0,
        |    sum(CASE WHEN arm = 1 THEN CAST(z AS HUGEINT) * z ELSE 0 END) AS szz1,
        |    sum(CASE WHEN arm = 0 THEN CAST(z AS HUGEINT) * z ELSE 0 END) AS szz0
        |  FROM z GROUP BY 1
        |  HAVING sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) >= 2
        |    AND sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) >= 2),
        |f AS (SELECT *,
        |    (CAST(szz1 AS DOUBLE) - (CAST(sz1 AS DOUBLE) * CAST(sz1 AS DOUBLE)) / CAST(n1 AS DOUBLE))
        |    + (CAST(szz0 AS DOUBLE) - (CAST(sz0 AS DOUBLE) * CAST(sz0 AS DOUBLE)) / CAST(n0 AS DOUBLE)) AS ssw,
        |    CAST(n1 AS DOUBLE) * (((CAST(sz1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))) * ((CAST(sz1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))))
        |    + CAST(n0 AS DOUBLE) * (((CAST(sz0 AS DOUBLE) / CAST(n0 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE))) * ((CAST(sz0 AS DOUBLE) / CAST(n0 AS DOUBLE)) - ((CAST(sz1 AS DOUBLE) + CAST(sz0 AS DOUBLE)) / CAST(n1 + n0 AS DOUBLE)))) AS ssb
        |  FROM g)
        |SELECT event_type, n1, n0,
        |  CASE WHEN ssw = 0.0 THEN CAST(NULL AS DOUBLE)
        |    ELSE (ssb * CAST(n1 + n0 - 2 AS DOUBLE)) / ssw END AS f_bf
        |FROM f ORDER BY event_type""".stripMargin,
    "q441_ordinal_patterns" ->
      """WITH d AS (SELECT event_type, CAST(strftime(CAST(ts AS TIMESTAMP), '%d') AS BIGINT) AS day,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |cal AS (SELECT unnest(range(1, 32)) AS day),
        |types AS (SELECT DISTINCT event_type FROM d),
        |dense AS (SELECT t.event_type, c.day, coalesce(d.x, 0) AS x
        |  FROM types t CROSS JOIN cal c
        |  LEFT JOIN d ON d.event_type = t.event_type AND d.day = c.day),
        |w AS (SELECT event_type, day, x AS x0,
        |    lead(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
        |    lead(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2
        |  FROM dense),
        |codes AS (SELECT event_type,
        |    CAST(4 * CAST((x0 < x1 OR (x0 = x1 AND 0 < 1)) AS INT)
        |      + 2 * CAST((x0 < x2 OR (x0 = x2 AND 0 < 2)) AS INT)
        |      + CAST((x1 < x2 OR (x1 = x2 AND 1 < 2)) AS INT) AS BIGINT) AS code
        |  FROM w WHERE day <= 29)
        |SELECT event_type, code, CAST(count(*) AS BIGINT) AS cnt
        |FROM codes GROUP BY 1, 2 ORDER BY event_type, code""".stripMargin,
    "q457_quantile_merge" ->
      // the summary-merge recursion (error bound pinned by StatsSpec's
      // "q457: summary estimates carry the equi-depth rank-error bound"):
      // per-shard CDF, 32 exact-rank bounds with integer weights, merged
      // weighted CDF vs the exact global CDF, ceil-rank targets
      """WITH ev AS (SELECT event_id % 8 AS shard,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |hist AS (SELECT shard, cents, count(*) AS c FROM ev GROUP BY 1, 2),
        |cum AS (SELECT shard, cents, c,
        |    sum(c) OVER (PARTITION BY shard ORDER BY cents) AS cr,
        |    sum(c) OVER (PARTITION BY shard) AS ns
        |  FROM hist),
        |sz AS (SELECT shard, max(ns) AS ns FROM cum GROUP BY 1),
        |bk AS (SELECT shard,
        |    (CAST(t.i AS BIGINT) * ns) // 32 AS r,
        |    (CAST(t.i AS BIGINT) * ns) // 32 - ((CAST(t.i AS BIGINT) - 1) * ns) // 32 AS w
        |  FROM sz, LATERAL (SELECT unnest(range(1, 33)) AS i) t),
        |summ AS (SELECT b.shard, b.r, b.w, min(c.cents) AS cents
        |  FROM bk b JOIN cum c ON c.shard = b.shard AND c.cr >= b.r
        |  WHERE b.w > 0 GROUP BY 1, 2, 3),
        |mg AS (SELECT cents, sum(w) AS w FROM summ GROUP BY 1),
        |mc AS (SELECT cents, w, sum(w) OVER (ORDER BY cents) AS cw FROM mg),
        |eh AS (SELECT cents, sum(c) AS c FROM hist GROUP BY 1),
        |ec AS (SELECT cents, sum(c) OVER (ORDER BY cents) AS cr,
        |    sum(c) OVER () AS n FROM eh),
        |ps AS (SELECT CAST(unnest([1, 5, 25, 50, 75, 95, 99]) AS BIGINT) AS p),
        |tgt AS (SELECT p, (p * (SELECT max(n) FROM ec) + 99) // 100 AS r FROM ps),
        |est AS (SELECT t.p, min(m.cents) AS est_cents FROM tgt t
        |  JOIN mc m ON m.cw >= t.r GROUP BY 1),
        |exq AS (SELECT t.p, min(e.cents) AS exact_cents FROM tgt t
        |  JOIN ec e ON e.cr >= t.r GROUP BY 1)
        |SELECT e.p, CAST(e.est_cents AS BIGINT) AS est_cents,
        |  CAST(x.exact_cents AS BIGINT) AS exact_cents,
        |  CAST(abs(e.est_cents - x.exact_cents) AS BIGINT) AS abs_err
        |FROM est e JOIN exq x USING (p) ORDER BY e.p""".stripMargin,
    "q48_simhash" -> q48Sql
  )
}
