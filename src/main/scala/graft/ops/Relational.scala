package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational building blocks (SURVEY.md §2.2–2.6).
  *
  * Everything here is a pure `DataFrame => DataFrame` transformation built from
  * Spark built-ins so Catalyst keeps full visibility: predicate pushdown,
  * column pruning, partial aggregation, broadcast-join selection and AQE all
  * apply without any custom rules.
  *
  * Scale notes are attached per-op; the common theme: replace the reference's
  * row-at-a-time client loops (per-row EXISTS probes, `df.iterrows` windowing)
  * with set-based operators that shuffle once on the key.
  */
object Relational {

  /** Insert-if-absent dedup (reference: per-row `SELECT EXISTS` probes,
    * `Data Collection/Reddit.py:75-80`, `Data Analysis/Reddit_4chan_Analysis.py:115-119`).
    * Set-based left_anti: one shuffle on the key instead of N round-trips.
    * At 100 TB: both sides hash-partition on `keys`; if `existing` is small
    * (the usual incremental case) Catalyst/AQE picks BroadcastHashJoin(LeftAnti).
    */
  def antiDedup(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing, keys, "left_anti")

  /** Top-k groups by count (reference: `GROUP BY x ORDER BY count DESC LIMIT k`,
    * `Data Analysis/Analysis_queries.ipynb:35-39`). Spark plans partial+final
    * hash agg then TakeOrderedAndProject — no global sort materialized.
    * Tie-break on the group key for determinism.
    */
  def topKGroups(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(key))
      .limit(k)

  /** Percentage-of-total per class (reference findings: "55% positive…",
    * `README.md:21-24`). The single-partition window over the aggregated rows
    * is fine at any scale: it runs over |distinct keys| rows, not input rows.
    */
  def shareOfTotal(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    counts.withColumn(
      "pct",
      Num.roundz(col("cnt") * lit(100.0) / sum(col("cnt")).over(Window.partitionBy()), 4))
  }

  /** Tumbling daily counts (reference hand-rolls this with an ordered python
    * loop over every row, `Analysis Dashboard/app.py:44-59`). `window()` is a
    * plain hash aggregation — no global sort, fully parallel.
    */
  def tumblingCounts(df: DataFrame, tsCol: String, width: String): DataFrame =
    df.groupBy(window(col(tsCol), width))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket_start"), col("cnt"))

  /** Recency filter anchored at the data's own max timestamp (reference:
    * `now - ts < 3 min`, `Data Collection/chan4.py:76-77`). The anchor is a
    * one-row aggregate broadcast to every partition — deterministic (no
    * `current_timestamp`) and scan-parallel.
    */
  def recentWithin(df: DataFrame, tsCol: String, interval: String): DataFrame = {
    val anchor = df.agg(max(col(tsCol)).as("__max_ts"))
    df.crossJoin(broadcast(anchor))
      .filter(col(tsCol) > col("__max_ts") - expr(s"INTERVAL $interval"))
      .drop("__max_ts")
  }

  /** Skew-salted aggregation: two-phase groupBy for keys whose cardinality is
    * tiny relative to data volume (e.g. per-platform counts over 100 TB, 3
    * platforms ⇒ 3 reducers own everything). Phase 1 aggregates on
    * (key, salt) spreading each hot key over `salts` reducers; phase 2
    * combines the per-salt partials — it shuffles `|keys| × salts` rows, not
    * data. Only sum-decomposable aggregates belong here (counts, sums).
    */
  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("__partial"))
      .groupBy(col(key)).agg(sum(col("__partial")).as("cnt"))

  /** Skew-salted join: replicate the small side `salts` times, salt the big
    * side's hot keys, join on (key, salt). Bounds any single reducer's share
    * of a hot key to 1/salts of its rows — the classic remedy when AQE skew
    * splitting isn't available (e.g. bucketed inputs or stream-static joins).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(col(key), spark_partition_id(), monotonically_increasing_id()), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** As-of (point-in-time) join: for each left row, the payload of the
    * LATEST right row with `rightTs <= leftTs` in the same key — the lookup
    * every feature/training pipeline needs (label with the most recent
    * signal as of event time), which Spark has no native operator for.
    *
    * Implementation is union + ONE window pass, not a range join: right rows
    * (side 0) and left rows (side 1) interleave on (key, ts, side, tiebreak),
    * and `last(payload, ignoreNulls)` carries the newest right payload
    * forward to each left row. Cost at 100 TB: a single shuffle+sort on
    * (key, ts) — each key's timeline is scanned once, no per-pair work, no
    * candidate explosion, skew bounded by the hottest single key exactly as
    * any keyed window is.
    *
    * Ties: a right row AT the left timestamp is included (side orders right
    * first); equal-ts right rows order by `payloadCols` for determinism.
    * Output: all left columns + `payloadCols` (null where no prior right row).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               payloadCols: Seq[String]): DataFrame = {
    // the union namespace must be unambiguous: a left column named like a
    // payload (or the markers) would be carried as the "as-of" value
    val reserved = payloadCols ++ Seq("__ts", "__side", "__payload")
    val clash = reserved.filter(left.columns.contains)
    require(clash.isEmpty, s"left side must not contain column(s): ${clash.mkString(", ")}")
    // payload travels as ONE struct so the carried value is an atomic right
    // ROW — per-column last() would stitch fields from different right rows
    // whenever a payload field is null, and could never represent a null
    // field in the genuinely-latest row
    val r = right.select(col(key), col(rightTs).as("__ts"), lit(0).as("__side"),
      struct(payloadCols.map(col): _*).as("__payload"))
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = u.withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
    val outCols = left.columns.map(col).toSeq ++
      payloadCols.map(p => col(s"__asof.$p").as(p))
    carried.filter(col("__side") === 1).select(outCols: _*)
  }

  /** FORWARD as-of join — the mirror of [[asOfJoin]]: each left row is
    * enriched with the EARLIEST right row at-or-after its timestamp (the
    * "next event" lookup: next price quote after a trade, next maintenance
    * window after an alert, the post-purchase behavior label). Same
    * union + ONE window pass, no range join — the frame just faces forward:
    * `first(payload, ignoreNulls)` over [current row, unbounded following]
    * on the (key, ts, side) interleave. Cost at 100 TB is identical to the
    * backward variant: a single shuffle+sort on (key, ts), each key's
    * timeline scanned once, skew bounded by the hottest key.
    *
    * Ties: a right row AT the left timestamp matches (left orders before
    * right here — side 1 vs 2 — so it falls inside the forward frame);
    * equal-ts right rows order by `payloadCols`, making the carried row the
    * smallest payload deterministically. Output: all left columns +
    * `payloadCols` (null where no following right row). */
  def asOfJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftTs: String, rightTs: String,
                      payloadCols: Seq[String]): DataFrame = {
    val reserved = payloadCols ++ Seq("__ts", "__side", "__payload")
    val clash = reserved.filter(left.columns.contains)
    require(clash.isEmpty, s"left side must not contain column(s): ${clash.mkString(", ")}")
    val r = right.select(col(key), col(rightTs).as("__ts"), lit(2).as("__side"),
      struct(payloadCols.map(col): _*).as("__payload"))
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__payload"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = u.withColumn("__asof", first(col("__payload"), ignoreNulls = true).over(w))
    val outCols = left.columns.map(col).toSeq ++
      payloadCols.map(p => col(s"__asof.$p").as(p))
    carried.filter(col("__side") === 1).select(outCols: _*)
  }

  /** Ordered running state via window functions (reference carries `start`/
    * `count` across an ordered python loop, `Analysis Dashboard/app.py:44-56`).
    * Partitioned by a key so state never concentrates on one task.
    */
  def runningState(df: DataFrame, partKey: String, tsCol: String, tieBreak: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(partKey)).orderBy(col(tsCol), col(tieBreak))
    df.select(
      col(partKey), col(tieBreak),
      row_number().over(w).as("rn"),
      lag(col(valueCol), 1).over(w).as("prev_value"))
  }

  /** Trailing `windowDays`-day DISTINCT-key count per day (rolling active
    * users). COUNT(DISTINCT) isn't window-able in Spark, and a collect_set
    * window would buffer |window keys| per row — instead the log reduces to
    * distinct (day, key) pairs FIRST (two-phase, map-side collapsed), then
    * each pair fans out map-side to the ≤ `windowDays` day buckets it is
    * visible in (explode of a sequence literal — no join, no range probe),
    * and one distinct-count per bucket lands the answer. The fan-out
    * multiplies the (already tiny) day-key frame, not the event log, and a
    * semi-join against real days drops buckets past the horizon so a day
    * only appears if the log contains it.
    *
    * Output: (day string, active) per day present in the log. */
  def slidingDistinct(events: DataFrame, keyCol: String, tsCol: String,
                      windowDays: Int = 7): DataFrame = {
    val dayKey = events
      .select(to_date(col(tsCol)).as("__d"), col(keyCol).as("__k")).distinct()
    val days = dayKey.select(col("__d").as("__day")).distinct()
    dayKey
      .select(explode(transform(sequence(lit(0), lit(windowDays - 1)),
        i => date_add(col("__d"), i))).as("__day"), col("__k"))
      .join(days, Seq("__day"), "left_semi")
      .groupBy(col("__day"))
      .agg(count_distinct(col("__k")).as("active"))
      .select(date_format(col("__day"), "yyyy-MM-dd").as("day"), col("active"))
  }

  /** Exact per-group quantiles via a value histogram — the scale path for
    * `percentile(value, array(...))`, whose aggregation buffer holds every
    * group value on one task at 100 TB. Here the one shuffle carries
    * (group, DISTINCT value) with map-side combine, the CDF window runs over
    * the distinct-value domain (bounded for quantized values — the repo's
    * cents discipline — regardless of row count), and each quantile reads
    * exactly the one or two covering histogram rows.
    *
    * Bit-compatible with Spark's `percentile`: the interpolation reproduces
    * its exact expression `(hi - pos)·v_lo + (pos - lo)·v_hi` (NOT the
    * algebraically equal `v_lo + frac·Δ`, which can differ in the last ulp
    * and flip a 4-dp rounding). Precondition: bounded/quantized value
    * domain; for continuous unbounded domains use `percentile_approx`.
    *
    * Output: (groupCol, q, quantile) — one row per group × requested q. */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                         qs: Seq[Double]): DataFrame = {
    // percentile() skips NULL values — mirror that before the histogram, or
    // a (group, NULL) row would enter the CDF and shift every rank
    val cdf = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__hi", sum(col("__c")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("__v"))))
      .withColumn("__lo", col("__hi") - col("__c"))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
    val spark = df.sparkSession
    import spark.implicits._
    val qf = broadcast(qs.toDF("__q"))
    val pos = col("__q") * (col("__n") - 1).cast("double")
    val coversLo = col("__lo") <= floor(pos) && floor(pos) < col("__hi")
    val coversHi = col("__lo") <= ceil(pos) && ceil(pos) < col("__hi")
    cdf.join(qf, coversLo || coversHi)
      .groupBy(col(groupCol), col("__q"))
      .agg(min(when(coversLo, col("__v"))).as("__vlo"),
        min(when(coversHi, col("__v"))).as("__vhi"),
        min(pos).as("__pos"))
      .withColumn("quantile",
        when(ceil(col("__pos")) === floor(col("__pos")), col("__vlo"))
          .otherwise((ceil(col("__pos")) - col("__pos")) * col("__vlo") +
            (col("__pos") - floor(col("__pos"))) * col("__vhi")))
      .select(col(groupCol), col("__q").as("q"), col("quantile"))
  }

  /** Semi join with bloom-filter pre-pruning — for the dim-table size band
    * where a broadcast hash join no longer fits (hundreds of millions of
    * keys) but the key SET still compresses into a few-MB sketch.
    *
    * Shape: build the sketch in one pass over the dim keys (driver-merged,
    * like any sketch agg), ship it inside a codegen'd
    * [[graft.functions.BloomMightContainExpression]], and filter the fact
    * side MAP-SIDE — before its exchange — so the shuffled semi join that
    * removes the sketch's false positives only moves rows that probably
    * match. At 1% fpp on a selective dim this cuts the fact shuffle by the
    * full selectivity factor; the result is exactly `fact SEMI JOIN dim`
    * (the recheck join makes the bloom a pure optimization, invisible to
    * correctness — same contract as Spark's own runtime row-group filters).
    *
    * Precondition: `factKey`/`dimKey` are integral (the sketch hashes
    * longs). NULL fact keys never match, as in a plain semi join.
    */
  def bloomPrunedSemiJoin(fact: DataFrame, dim: DataFrame,
                          factKey: String, dimKey: String,
                          expectedItems: Long = 1000000L,
                          fpp: Double = 0.01): DataFrame = {
    val bf = dim.stat.bloomFilter(dimKey, expectedItems, fpp)
    val pruned = fact.filter(
      graft.functions.BloomMightContain(col(factKey).cast("long"),
        graft.functions.BloomMightContain.serialize(bf)))
    pruned.join(dim, pruned(factKey) === dim(dimKey), "left_semi")
  }

  /** Forward fill (last-observation-carried-forward): replace NULLs in
    * `valueCol` with the most recent non-NULL value of the SAME key, in
    * (orderCol, tieCol) order. The gap-filling primitive for sparse metrics
    * — sensors report on change, events carry a value only on some types —
    * before any windowed math that needs a dense series.
    *
    * One `last(ignoreNulls)` running window inside the key partition: the
    * shuffle is the key hash exchange only, state per row is one value, and
    * no key's window ever spans partitions (contrast a GLOBAL ordered fill,
    * which would serialize — same trap as the q91 pre-fix window). The
    * tie-break column makes the fill deterministic under equal timestamps.
    */
  def forwardFill(df: DataFrame, keyCol: String, orderCol: String,
                  tieCol: String, valueCol: String,
                  filledAs: String = "filled_value"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(filledAs, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** First/last-touch conversion attribution: for every key (user) that
    * converts, the event type that opened the journey and the one
    * immediately preceding the FIRST conversion. The marketing-analytics
    * staple the reference's dashboard queries circle around
    * (`Analysis Dashboard/app.py` engagement funnels) without owning.
    *
    * Two hash aggregates on the same key — the first finds each key's
    * first conversion instant as `min(struct(order, tie))` (struct min =
    * lexicographic, so the tie-break rides inside the aggregate: no window,
    * no sort), the second folds first/last-touch as conditional struct
    * min/max against that instant. Both exchanges hash on `keyCol` and AQE
    * coalesces them into one effective shuffle; per-key state is three
    * structs regardless of journey length.
    */
  def attribution(events: DataFrame, keyCol: String, orderCol: String,
                  tieCol: String, typeCol: String,
                  conversionType: String): DataFrame = {
    val conv = events.filter(col(typeCol) === conversionType)
      .groupBy(col(keyCol))
      .agg(min(struct(col(orderCol), col(tieCol))).as("__conv"))
    events.join(conv, keyCol)
      .groupBy(col(keyCol))
      .agg(
        min(struct(col(orderCol), col(tieCol), col(typeCol))).as("__first"),
        max(when(struct(col(orderCol), col(tieCol)) < col("__conv"),
          struct(col(orderCol), col(tieCol), col(typeCol)))).as("__last"),
        first(col("__conv")).as("__c"))
      .select(col(keyCol),
        col(s"__first.$typeCol").as("first_touch"),
        col(s"__last.$typeCol").as("last_touch"),
        col(s"__c.$orderCol").as("conversion_at"))
  }

  /** Event-transition matrix (first-order Markov counts): for every
    * consecutive pair of events within a key's timeline, count (from → to)
    * and its share of the from-state's outgoing transitions — the journey
    * analysis behind funnel design (which step follows which, and how
    * often). Exact basis points, floor-divided.
    *
    * Scale shape: ONE key-hash exchange for the `lead` window (per-row state
    * is one lookahead value), then a two-phase hash agg on the (from, to)
    * pair; the share window runs over the AGGREGATED matrix —
    * |states|² rows, never events. The tie column makes equal-timestamp
    * ordering deterministic. */
  def transitionMatrix(events: DataFrame, keyCol: String, orderCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val fromW = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("__tot", sum(col("cnt")).over(fromW))
      .withColumn("share_bp", expr("(10000 * cnt) div __tot"))
      .drop("__tot")
  }

  /** Top-k behavioral n-grams (order-3 journeys): the most common
    * three-step event sequences within a key's timeline — transitionMatrix's
    * higher-order sibling (catches patterns a first-order matrix factors
    * away, e.g. view→click→purchase vs view→click→bounce).
    *
    * Scale shape: the two `lead`s share ONE key-hash window (single
    * exchange, two lookahead values per row), then a two-phase hash agg on
    * the trigram; top-k is TakeOrderedAndProject and the rank window runs
    * AFTER the limit — bounded by k, the q103 discipline. */
  def journeyTrigrams(events: DataFrame, keyCol: String, orderCol: String,
                      tieCol: String, typeCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    val counts = events
      .withColumn("__e2", lead(col(typeCol), 1).over(w))
      .withColumn("__e3", lead(col(typeCol), 2).over(w))
      .filter(col("__e2").isNotNull && col("__e3").isNotNull)
      .groupBy(col(typeCol).as("step1"), col("__e2").as("step2"),
        col("__e3").as("step3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
    counts.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("step1"), col("step2"), col("step3")))
      .cast("long"))
  }

  /** Inter-event gap distribution: per event type, how long since the same
    * user's PREVIOUS event (any type) — the latency fingerprint behind
    * "time to purchase" dashboards. Gaps are exact whole seconds (floored
    * integer division of the microsecond difference) and the distribution
    * summary uses DISCRETE percentiles, so every output value is an exact
    * long — no interpolation, no float.
    *
    * Scale shape: one key-hash window (per-row state = one lag), then a
    * two-phase agg per event type; percentile_disc groups are event-type
    * sized. */
  def interEventGaps(events: DataFrame, keyCol: String, orderCol: String,
                     tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    events
      .withColumn("__us", unix_micros(col(orderCol)))
      .withColumn("__prev_us", lag(col("__us"), 1).over(w))
      // gaps are non-negative (ascending order), so integer `div` IS floor
      .withColumn("__gap_s", expr("(__us - __prev_us) div 1000000"))
      .filter(col("__gap_s").isNotNull)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __gap_s)")
          .cast("long").as("p50_s"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY __gap_s)")
          .cast("long").as("p90_s"),
        max(col("__gap_s")).as("max_s"))
  }

  /** Exact rolling median over a trailing `frameRows`-row frame per key —
    * the robust twin of the q80 moving average (a single spike day drags a
    * mean but not a median; ops dashboards smooth with both). Spark has no
    * exact-median window function, so the frame is materialized as a
    * `collect_list` over the window, sorted, and the middle element(s) read
    * out — exact integer-derived arithmetic (the even-frame case averages
    * two longs into a double: exact halves), so the result is bit-equal to
    * the DuckDB `median(...) OVER (... ROWS BETWEEN k PRECEDING AND CURRENT
    * ROW)` twin with no rounding discipline needed.
    *
    * Scale shape: the list is bounded by `frameRows` (a constant, typically
    * 7–30), NOT by partition size, so per-row state is O(frame); the only
    * exchange is the key hash partition. Run it over per-day aggregates —
    * one row per (key, day) — never raw events. */
  def rollingMedian(df: DataFrame, keyCol: String, orderCol: String,
                    valueCol: String, frameRows: Int,
                    medianAs: String = "rolling_median"): DataFrame = {
    require(frameRows >= 1, s"frameRows must be >= 1, got $frameRows")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(-(frameRows - 1L), Window.currentRow)
    df.withColumn("__frame", sort_array(collect_list(col(valueCol).cast("long")).over(w)))
      .withColumn(medianAs, expr(
        "CASE WHEN size(__frame) % 2 = 1 " +
          "THEN CAST(element_at(__frame, CAST(size(__frame) DIV 2 + 1 AS INT)) AS DOUBLE) " +
          "ELSE (CAST(element_at(__frame, CAST(size(__frame) DIV 2 AS INT)) AS DOUBLE) + " +
          "element_at(__frame, CAST(size(__frame) DIV 2 + 1 AS INT))) / 2.0 END"))
      .drop("__frame")
  }

  /** Fixed-grain time-series resample with gap fill: aggregate raw events
    * to one row per (key, bucket), densify each key's span to EVERY bucket
    * between its first and last observation, and carry the last observed
    * sum forward (LOCF) across the manufactured gaps. Downstream
    * window/forecast ops need a dense regular grid; raw event time is
    * neither (the reference's dashboard loop manufactures the x-axis
    * client-side, `Analysis Dashboard/app.py:32-59`).
    *
    * Scale shape: the aggregate shuffles (key, bucket) partials —
    * metadata-sized vs the raw events; the spine is a per-key `sequence`
    * explode (|keys| · span rows, generated map-side, no exchange of its
    * own); the LOCF window sorts per key over that bounded spine, not
    * over raw events. First bucket is an observation by construction, so
    * `locf` is never NULL. */
  def resampleLocf(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, grain: String = "hour"): DataFrame = {
    val bucketed = events
      .groupBy(col(keyCol), date_trunc(grain, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("__sum"))
    val span = bucketed.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__mn"), max(col("bucket")).as("__mx"))
    val spine = span.select(col(keyCol),
      explode(expr(s"sequence(__mn, __mx, interval 1 $grain)")).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(bucketed, Seq(keyCol, "bucket"), "left")
      .withColumn("filled", col("cnt").isNull)
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("locf", last(col("__sum"), ignoreNulls = true).over(w))
      .drop("__sum")
  }

  /** 2-D Pareto frontier (skyline): the points where `maxCol` cannot be
    * raised without raising `minCol` — best-price-for-quantity curves,
    * cost/quality trade-off menus. A point survives iff its y is strictly
    * below EVERY y at strictly greater x.
    *
    * Scale shape: the frontier of (x, min y per x) equals the frontier of
    * the raw points, so the heavy input collapses FIRST through a two-phase
    * min-per-x aggregate (map-side combine; |distinct x| rows out). Only
    * that domain-bounded candidate set pays the single-partition running-min
    * window — for a quantized x (quantity, rating, bucketed size) that is
    * tens-to-thousands of rows regardless of input scale. An unbounded
    * continuous x would make the window the bottleneck; quantize x first
    * (the same rule as q89's histogram). */
  def paretoFrontier(df: DataFrame, maxCol: String, minCol: String): DataFrame = {
    val best = df.groupBy(col(maxCol)).agg(min(col(minCol)).as("__y"))
    // one row per distinct x, so "rows preceding" under x DESC ≡ all
    // strictly-greater x — rowsBetween is exact here, no range semantics
    val w = Window.orderBy(col(maxCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    best.withColumn("__prev", min(col("__y")).over(w))
      .filter(col("__prev").isNull || col("__y") < col("__prev"))
      .select(col(maxCol), col("__y").as(minCol))
  }

  /** Time-bounded funnel conversion: of the users whose FIRST `startType`
    * event landed in a cohort bucket, how many reached `endType` within
    * `withinHours` — and how fast. The timed version of q86's ordered
    * funnel (a purchase a week later is organic, not converted).
    *
    * Scale shape: two user-keyed aggregates and one user-keyed join — the
    * cohort entry frame is (user, t0), metadata vs raw events; the join
    * filters the end-type stream against [t0, t0+w] per user and takes the
    * FIRST qualifying hit. Latency summarizes via discrete percentiles
    * (actual elements, exact longs). */
  def timedFunnel(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, startType: String, endType: String,
                  withinHours: Int): DataFrame = {
    require(withinHours > 0, s"withinHours must be > 0, got $withinHours")
    val entry = events.filter(col(typeCol) === startType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t0"))
    val hit = events.filter(col(typeCol) === endType)
      .select(col(userCol), col(tsCol).as("__t1"))
      .join(entry, Seq(userCol))
      .filter(col("__t1") >= col("__t0") &&
        col("__t1") <= col("__t0") + expr(s"interval $withinHours hours"))
      .groupBy(col(userCol)).agg(min(col("__t1")).as("__tc"), first(col("__t0")).as("__t0c"))
      .withColumn("__lat_s",
        (col("__tc").cast("long") - col("__t0c").cast("long")))
    entry.join(hit.select(col(userCol), col("__lat_s")), Seq(userCol), "left")
      .groupBy(TextFunctions.dayString(col("__t0")).as("cohort_day"))
      .agg(count(lit(1)).as("users"),
        sum(when(col("__lat_s").isNotNull, 1L).otherwise(0L)).as("converted"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __lat_s)")
          .cast("long").as("p50_latency_s"))
      .withColumn("cvr_bp", expr("(10000 * converted) div users"))
  }

  /** Join-key skew profile: the numbers you read BEFORE deciding to salt,
    * broadcast, or AQE-split a join (q69/q85 are the treatments; this is
    * the diagnosis). Per candidate key column: rows, distinct keys, the
    * hottest key's count, floor-mean count, p99 count, and the hottest
    * key's share in basis points — all exact integer arithmetic.
    *
    * Scale shape: per column, ONE two-phase count aggregate (the same
    * exchange the real join would pay) and then a single aggregate over
    * the |distinct|-row count table; columns union as independent branches
    * of one job. percentile_disc holds a group's counts in one buffer —
    * |distinct|-bounded, the q65 histogram rule applies if that ever
    * exceeds memory. */
  def skewProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "skewProfile needs at least one column")
    cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
        .agg(sum(col("__cnt")).as("n"), count(lit(1)).as("n_distinct"),
          max(col("__cnt")).as("max_cnt"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY __cnt)")
            .cast("long").as("p99_cnt"))
        .select(lit(c).as("col_name"), col("n").cast("long").as("n"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("max_cnt").cast("long").as("max_cnt"),
          expr("n div n_distinct").as("avg_cnt"),
          col("p99_cnt"),
          expr("(10000 * max_cnt) div n").as("top1_share_bp"))
    }.reduce(_ union _)
  }

  /** Cohort retention matrix: users bucketed by the week of their FIRST
    * event, then per (cohort_week, weeks-since) the distinct users still
    * active and their share of the cohort — the classic "do users come
    * back?" triangle every growth dashboard draws. Weeks are day-offsets
    * from `origin` div 7, so the bucket math is exact integer and
    * identical across engines (origin must not postdate the data —
    * non-negative `div` precondition, SURVEY §7.6).
    *
    * Scale shape: the raw stream collapses FIRST to distinct
    * (user, week) — the smallest frame that still answers the question —
    * then one user-keyed min-aggregate and a user-keyed join that AQE can
    * co-partition (both sides hash on user), then a (cohort, offset)
    * count whose output is calendar² rows. The cohort-size denominator
    * joins back from the offset-0 slice of the SAME matrix — a
    * metadata-sized broadcast, not a second pass over events. */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      origin: String): DataFrame = {
    val weeks = events.select(col(userCol).as("__u"),
      expr(s"datediff(CAST($tsCol AS DATE), DATE '$origin') div 7").as("__w"))
      .distinct()
    val firstW = weeks.groupBy(col("__u")).agg(min(col("__w")).as("__w0"))
    val matrix = weeks.join(firstW, Seq("__u"))
      .groupBy(col("__w0").as("cohort_week"),
        (col("__w") - col("__w0")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = matrix.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("__size"))
    matrix.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"),
        col("n_users").cast("long").as("n_users"),
        expr("(10000 * n_users) div __size").as("retained_bp"))
  }

  /** Pairwise audience overlap between categorical segments: for every
    * unordered segment pair, the distinct users in both and the exact
    * Jaccard in basis points — "how much does #viewers overlap with
    * #buyers?". The user universe never materializes pairwise; segments
    * first collapse to distinct (user, segment) memberships.
    *
    * Scale shape: the membership frame self-joins on user — per-user
    * fan-out is (segments-per-user choose 2), bounded by the SEGMENT
    * DOMAIN (a handful), never by user count — then one (a, b) count.
    * Per-segment sizes are a |segments|-row broadcast joined twice.
    * Jaccard stays exact: |A∪B| = |A| + |B| − |A∩B| in longs. */
  def audienceOverlap(events: DataFrame, userCol: String,
                      segmentCol: String): DataFrame = {
    val m = events.select(col(userCol).as("__u"), col(segmentCol).as("__s"))
      .filter(col("__u").isNotNull && col("__s").isNotNull)
      .distinct()
    val sizes = m.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val inter = m.select(col("__u"), col("__s").as("seg_a"))
      .join(m.select(col("__u"), col("__s").as("seg_b")), Seq("__u"))
      .filter(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("__s").as("seg_a"), col("__n").as("n_a"))), Seq("seg_a"))
      .join(broadcast(sizes.select(col("__s").as("seg_b"), col("__n").as("n_b"))), Seq("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("n_both").cast("long").as("n_both"),
        expr("(10000 * n_both) div (n_a + n_b - n_both)").as("jaccard_bp"))
  }

  /** Long-to-wide pivot with an EXPLICIT value list — the inverse of q156's
    * unpivot. Passing `values` is the scale-correct form: Spark's
    * values-less `pivot` first runs a separate distinct-collect job over
    * the pivot column (a full extra scan, and an unbounded-width schema if
    * the column is dirty); with the list supplied the whole reshape is ONE
    * count aggregate whose output schema is fixed at plan time. Absent
    * cells surface as exact 0, not NULL. */
  def pivotCounts(df: DataFrame, rowCol: String, pivotCol: String,
                  values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "pivotCounts needs an explicit value list")
    df.groupBy(col(rowCol))
      .pivot(pivotCol, values)
      .agg(count(lit(1)))
      .select(col(rowCol) +: values.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
  }

  /** Session summary distribution on top of q57's gap sessionization: one
    * row with the session count, discrete duration percentiles
    * (microseconds — actual elements, exact longs), the median depth, and
    * the exact mean depth ×100. The "how long do people actually stay?"
    * readout.
    *
    * Scale shape: `session_window` keeps the grouping streaming-capable
    * and per-user-bounded; the summary is a single global aggregate whose
    * percentile buffers hold per-SESSION rows (events collapse first) —
    * the q65 histogram rule applies if sessions themselves outgrow a
    * buffer. */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
                   gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(min(col(tsCol)).as("__st"), max(col(tsCol)).as("__en"),
        count(lit(1)).as("__ev"))
      .select((unix_micros(col("__en")) - unix_micros(col("__st"))).as("__dur"),
        col("__ev"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __dur)")
          .cast("long").as("p50_dur_us"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY __dur)")
          .cast("long").as("p90_dur_us"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __ev)")
          .cast("long").as("p50_events"),
        expr("(100 * sum(__ev)) div count(*)").as("avg_events_x100"))
      .select(col("n_sessions").cast("long").as("n_sessions"),
        col("p50_dur_us"), col("p90_dur_us"), col("p50_events"),
        col("avg_events_x100"))

  /** Peak concurrency over q57's gap sessions — the capacity-planning
    * number ("how many users were on at once?"). Each session becomes a
    * +1 at its start and a −1 at its end (END-INCLUSIVE: starts order
    * before ends at the same instant, so a single-event session still
    * counts while it exists); the running sum over the global
    * (time, −delta) order peaks at the answer.
    *
    * Scale shape: the global prefix sum is the q91 two-phase rewrite
    * ([[TwoPhase.prefixSum]]: range bins → per-bin windows → broadcast
    * offsets) — NO single-partition window even though the order is
    * global; the sweep frame is 2 rows per SESSION, not per event. */
  def maxConcurrentSessions(events: DataFrame, userCol: String, tsCol: String,
                            gap: String = "30 minutes"): DataFrame = {
    val ses = events
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(min(col(tsCol)).as("__st"), max(col(tsCol)).as("__en"))
    val sweep = ses.select(unix_micros(col("__st")).as("t"), lit(1L).as("d"))
      .unionAll(ses.select(unix_micros(col("__en")).as("t"), lit(-1L).as("d")))
    val (cum, _) = TwoPhase.prefixSum(sweep, col("t"),
      Seq(col("t"), -col("d")), col("d"), "running")
    cum.agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
      max(col("running")).cast("long").as("max_concurrent"))
  }

  /** Weighted median: the smallest amount whose cumulative weight reaches
    * half the total — "the price the median UNIT traded at", which a
    * row-median misstates whenever weights skew. Entirely exact longs:
    * the cumulative weight is a global prefix sum in a fixed total order
    * and the pick is the first row with 2·cum ≥ total.
    *
    * Scale shape: [[TwoPhase.prefixSum]] again (range bins + broadcast
    * offsets — no single-partition window); the pick is a 1-row
    * TakeOrdered over the qualifying suffix. */
  def weightedMedian(df: DataFrame, amountCol: String, weightCol: String,
                     tieCols: Seq[String]): DataFrame = {
    val (cum, total) = TwoPhase.prefixSum(df, col(amountCol),
      col(amountCol) +: tieCols.map(col), col(weightCol).cast("long"), "__cw")
    cum.filter(col("__cw") * 2 >= total)
      .orderBy(col(amountCol) +: tieCols.map(col): _*)
      .limit(1)
      .select(col(amountCol).cast("long").as("median_amount"),
        lit(total).as("total_weight"))
  }

  /** Longest consecutive-day activity streak per entity — gaps-and-islands
    * on the calendar: distinct active days first, then the island id
    * day_number − row_number() (consecutive days share it), then the
    * longest island per entity. Entirely exact integer date arithmetic.
    *
    * Scale shape: the raw stream collapses to distinct (entity, day)
    * BEFORE any window; the row_number window and both counts share the
    * entity key-hash — per-entity state is its DAY LIST (calendar-
    * bounded), never its events. */
  /** A fact⋈dim join with PLANTED key skew (90% of rows on one hot key) —
    * the fixture behind the AQE skew-join demonstration (q391): with the
    * broadcast path disabled and the skew thresholds lowered, AQE's
    * OptimizeSkewedJoin must split the hot partition at runtime
    * (`skew=true` on the SortMergeJoin — PlanSpec asserts it) while the
    * output stays exactly the plain join's. This is the AUTOMATIC remedy
    * whose manual twin is [[saltedJoin]] (q85): salting re-keys ahead of
    * time; AQE re-plans from observed partition sizes. Output: one row
    * per key with the fact count and the dim value joined back. */
  def plantedSkewJoin(events: DataFrame): DataFrame = {
    // round-robin pre-split: a skewed REDUCE partition can only be split
    // along MAP-output boundaries — a single-file scan feeds the join
    // exchange from one map task, leaving the hot partition one indivisible
    // chunk (OptimizeSkewedJoin then reports "0 skewed partitions"); eight
    // map tasks give the splitter eight chunks to deal out
    // `pad` is a scrambled (incompressible) long CONSUMED by the final
    // aggregate: without it, 900 repeated 'hot' rows lz4-compress to the
    // same shuffle bytes as the cold partitions and the skew detector —
    // which reads COMPRESSED map-output sizes — sees a uniform exchange
    // (measured: 963 vs ~716 bytes; with the pad: ~9× the median)
    val f = events.select(col("event_id"),
      when(col("event_id") % 10 < 9, lit("hot"))
        .otherwise(concat(lit("cold"), (col("event_id") % 97).cast("string")))
        .as("k"),
      expr("(event_id * 48271) % 2147483647").as("pad"))
      .repartition(8)
    // the dim materializes first: OptimizeSkewedJoin pattern-matches
    // SMJ(sort(shuffle stage), sort(shuffle stage)) — a dim that is still
    // an aggregate RIDING its own exchange reuses that partitioning and
    // the rule cannot split either side
    val d = f.groupBy(col("k")).agg(count(lit(1)).as("dim_n")).localCheckpoint()
    // the readout aggregates on a DERIVED class, not on k: a groupBy(k)
    // would reuse the join's hash partitioning, and splitting the hot
    // partition would invalidate that reuse — OptimizeSkewedJoin refuses
    // plans it can't keep valid, force flag or not
    f.join(d, Seq("k"))
      .groupBy(expr("CASE WHEN k = 'hot' THEN 'hot' ELSE 'cold' END")
        .as("k_class"))
      .agg(count(lit(1)).as("n"), sum(col("dim_n")).as("dim_mass"),
        sum(col("pad")).as("pad_mass"))
      .orderBy("k_class")
  }

  def longestStreak(events: DataFrame, entityCol: String, tsCol: String,
                    origin: String): DataFrame = {
    val days = events.select(col(entityCol).as("__e"),
      expr(s"datediff(CAST($tsCol AS DATE), DATE '$origin')").as("__d"))
      .distinct()
    val w = Window.partitionBy(col("__e")).orderBy(col("__d"))
    days
      .withColumn("__isl", col("__d") - row_number().over(w))
      .groupBy(col("__e"), col("__isl"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("__e").as(entityCol))
      .agg(max(col("__len")).cast("long").as("streak_days"))
  }
}
