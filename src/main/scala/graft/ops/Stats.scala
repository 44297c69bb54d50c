package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Comparative statistics over grouped streams: distribution drift,
  * correlation, entropy, and experiment lift. The reference compares
  * period-over-period counts by re-issuing one Postgres COUNT(*) per
  * platform and eyeballing the plot (`Analysis Dashboard/app.py:69-92`);
  * these are the engine-side versions of that "did the data move?"
  * question, each a one-or-two-pass aggregate that never collects rows.
  *
  * Determinism discipline (SURVEY.md §7.6): all inputs to a float op are
  * exact integers (counts, cents), every float reduction is an ordered
  * fold over a sorted collect_list, and every surfaced double is rounded
  * to 4 dp — so the DuckDB oracle (same formula text, list_reduce over
  * list(... ORDER BY ...)) hashes identically.
  */
object Stats {

  /** Population Stability Index between two labelled periods, per group —
    * the standard "has this feature drifted?" monitor (banking scorecards,
    * training-data freshness gates). Values are bucketed into `bins`
    * fixed-width bins of `binWidth` (last bin open-ended), counts are
    * add-1 smoothed so empty bins stay finite, and
    * psi = Σ_bins (pa − pb) · ln(pa / pb).
    *
    * Scale shape: ONE (group, bin) count shuffle with map-side combine —
    * the cardinality after the partial agg is |groups|·|bins|·|periods|,
    * metadata-sized no matter how many rows scan in. The bin spine is
    * enumerated per group (groups × bins rows) so absent bins contribute
    * their smoothed term identically in both engines; the per-group fold
    * runs over ≤ `bins` elements sorted by bin id.
    *
    * Precondition: `centsCol` must be non-negative (enforced in-plan) and
    * `periodCol` must be exactly 'a' or 'b'. */
  def psiDrift(df: DataFrame, groupCol: String, centsCol: String,
               periodCol: String, bins: Int = 10, binWidth: Long = 5000L): DataFrame = {
    require(bins >= 2 && binWidth > 0, s"bad binning ($bins, $binWidth)")
    val guarded = df.withColumn("__v",
      when(col(centsCol) >= 0 && col(periodCol).isin("a", "b"), col(centsCol))
        .otherwise(raise_error(lit(
          s"psiDrift: $centsCol must be >= 0 and $periodCol in ('a','b')"))))
    val binned = guarded.select(col(groupCol).as("g"), col(periodCol).as("p"),
      least(expr(s"__v div $binWidth"), lit(bins - 1L)).as("bin"))
    val counts = binned.groupBy(col("g"), col("bin"))
      .agg(sum(when(col("p") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("p") === "b", 1L).otherwise(0L)).as("cb"))
    val totals = counts.groupBy(col("g"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // explicit bin spine: a bin empty in BOTH periods still carries its
    // smoothed term, so the fold's element list is engine-independent
    val spine = counts.select(col("g")).distinct()
      .select(col("g"), explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    val terms = spine.join(counts, Seq("g", "bin"), "left")
      .join(broadcast(totals), Seq("g"))
      .select(col("g"), col("bin"), col("na"), col("nb"),
        ((coalesce(col("ca"), lit(0L)) + lit(1L)).cast("double") / (col("na") + lit(bins.toLong)))
          .as("__pa"),
        ((coalesce(col("cb"), lit(0L)) + lit(1L)).cast("double") / (col("nb") + lit(bins.toLong)))
          .as("__pb"))
      .select(col("g"), col("bin"), col("na"), col("nb"),
        ((col("__pa") - col("__pb")) * log(col("__pa") / col("__pb"))).as("term"))
    terms.groupBy(col("g"))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        sort_array(collect_list(struct(col("bin"), col("term")))).as("__t"))
      .select(col("g").as(groupCol),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        Num.roundz(Num.orderedSum("__t", "t.term"), 4)
          .as("psi"))
  }

  /** Per-group Pearson correlation from EXACT integer power sums. Never
    * uses the engines' `corr` (their streaming update orders differ, so
    * the last ulp diverges); instead both engines sum n, Σx, Σy, Σx²,
    * Σy², Σxy exactly — per-row products fit a long for cents-scale
    * inputs, the sums go through decimal(38,0) ≡ HUGEINT — and evaluate
    * the ONE textbook formula on doubles cast from those exact sums:
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²̂) · √(n·Σy² − Σy²̂)).
    *
    * Scale shape: a single grouped aggregate (map-side partials, six
    * numeric buffers), |groups| output rows. Degenerate groups (zero
    * variance on either axis) surface NULL, matching SQL `corr`. */
  def pearsonByGroup(df: DataFrame, groupCol: String,
                     xCol: String, yCol: String): DataFrame =
    pearsonByGroups(df, Seq(groupCol), xCol, yCol)

  /** Multi-key variant of [[pearsonByGroup]] — same exact power sums and
    * formula, grouped on a composite key (e.g. (series, lag)). */
  def pearsonByGroups(df: DataFrame, groupCols: Seq[String],
                      xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val sums = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(xCol)).cast(dec).as("sx"),
        sum(col(yCol)).cast(dec).as("sy"),
        sum((col(xCol) * col(xCol)).cast(dec)).as("sxx"),
        sum((col(yCol) * col(yCol)).cast(dec)).as("syy"),
        sum((col(xCol) * col(yCol)).cast(dec)).as("sxy"))
    def d(c: String): Column = col(c).cast("double")
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    val denX = sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
    val denY = sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    sums.select(groupCols.map(col) ++ Seq(col("n"),
      Num.roundz(when(denX > 0 && denY > 0, num / (denX * denY)), 4).as("r")): _*)
  }

  /** Shannon entropy (nats) of a categorical column's distribution per
    * group — the "is this slice degenerate?" curation signal (a day whose
    * event mix collapses to one type, a source emitting a single
    * language). H = −Σ_cat (c/n)·ln(c/n), folded over categories in
    * sorted order.
    *
    * Scale shape: one (group, category) count shuffle with map-side
    * combine, then a per-group fold over that group's DISTINCT categories
    * only — the collect_list is bounded by the category domain, never by
    * row count. */
  def categoricalEntropy(df: DataFrame, groupCol: String, catCol: String): DataFrame =
    shareFold(df, groupCol, catCol, p => p * log(p),
      total => Num.roundz(negate(total), 4).as("entropy"))

  /** The body [[categoricalEntropy]] and [[hhiByGroup]] share: per group,
    * count each category, turn the count into its share p = c/n, and fold
    * `term(p)` over the categories in sorted order. Output: (groupCol, n,
    * n_cats, `out(folded sum)`). */
  private def shareFold(df: DataFrame, groupCol: String, catCol: String,
                        term: Column => Column, out: Column => Column): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col(groupCol)).agg(sum(col("c")).as("n"))
    counts.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col("n"), col(catCol).as("cat"),
        term(col("c").cast("double") / col("n")).as("term"))
      .groupBy(col(groupCol))
      .agg(first(col("n")).as("__n"), count(lit(1)).as("n_cats"),
        sort_array(collect_list(struct(col("cat"), col("term")))).as("__t"))
      .select(col(groupCol), col("__n").cast("long").as("n"),
        col("n_cats").cast("long").as("n_cats"),
        out(Num.orderedSum("__t", "t.term")))
  }

  /** Per-slice conversion rate vs the global baseline, with a
    * two-proportion z-score — the experiment-readout / funnel-health
    * query (`app.py` plots raw per-platform counts; this is the version
    * with the statistics attached). For each group: exposures = rows of
    * `denomType`, conversions = rows of `numType`, cvr in integer basis
    * points, and z = (p − p0) / √(p0·(1−p0)/exposures) against the
    * pooled rate p0.
    *
    * Scale shape: one conditional-count aggregate per group plus a 1-row
    * global aggregate broadcast back — the fact table is scanned once.
    *
    * The z-score is a two-PROPORTION statistic: it is only defined while
    * the pooled rate is a genuine proportion (0 < p0 < 1). When the
    * "conversion" events are not a subset of the "exposure" events (they
    * need not share rows — any two type labels can be compared), the
    * pooled count can reach or exceed the exposure count; z surfaces NULL
    * there instead of a NaN/negative-sqrt (cvr_bp is still exact). */
  def conversionLift(df: DataFrame, groupCol: String, typeCol: String,
                     denomType: String, numType: String): DataFrame = {
    val per = df.groupBy(col(groupCol))
      .agg(sum(when(col(typeCol) === denomType, 1L).otherwise(0L)).as("exposures"),
        sum(when(col(typeCol) === numType, 1L).otherwise(0L)).as("conversions"))
      .filter(col("exposures") > 0)
    val global = per.agg(sum(col("exposures")).as("__e"), sum(col("conversions")).as("__c"))
    per.crossJoin(broadcast(global))
      .select(col(groupCol), col("exposures"), col("conversions"),
        expr("(10000 * conversions) div exposures").as("cvr_bp"),
        Num.roundz(when(col("__c") > 0 && col("__c") < col("__e"),
          (col("conversions").cast("double") / col("exposures") -
            col("__c").cast("double") / col("__e")) /
            sqrt((col("__c").cast("double") / col("__e")) *
              (lit(1.0) - col("__c").cast("double") / col("__e")) /
              col("exposures").cast("double"))), 4).as("z"))
  }

  /** Mutual information (nats) between two categorical columns, per group —
    * "does event mix depend on weekday?" quantified. With cell counts c_xy
    * over n rows and margins c_x, c_y:
    * mi = Σ_cells (c_xy/n) · (ln c_xy − ln c_x − ln c_y + ln n),
    * the ln-space decomposition (q161's discipline) so no product of
    * margins ever materializes; folded over cells in (x, y) order.
    *
    * Scale shape: ONE (group, x, y) count shuffle — checkpointed, since
    * both margins and the total derive from it rather than re-scanning the
    * input — then margin/total joins as broadcasts (domain-sized); the
    * fold is bounded by |x-domain|·|y-domain| cells per group. */
  def mutualInfo(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(groupCol), col(xCol), col(yCol))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val mx = cells.groupBy(col(groupCol), col(xCol)).agg(sum(col("c")).as("cx"))
    val my = cells.groupBy(col(groupCol), col(yCol)).agg(sum(col("c")).as("cy"))
    val tot = cells.groupBy(col(groupCol)).agg(sum(col("c")).as("n"))
    cells.join(broadcast(mx), Seq(groupCol, xCol))
      .join(broadcast(my), Seq(groupCol, yCol))
      .join(broadcast(tot), Seq(groupCol))
      .select(col(groupCol), col("n"),
        struct(col(xCol).as("x"), col(yCol).as("y"),
          ((col("c").cast("double") / col("n")) *
            (log(col("c").cast("double")) - log(col("cx").cast("double")) -
              log(col("cy").cast("double")) + log(col("n").cast("double"))))
            .as("term")).as("__cell"))
      .groupBy(col(groupCol))
      .agg(first(col("n")).as("__n"), sort_array(collect_list(col("__cell"))).as("__t"))
      .select(col(groupCol), col("__n").cast("long").as("n"),
        Num.roundz(Num.orderedSum("__t", "t.term"), 4)
          .as("mi"))
  }

  /** Gini coefficient of a non-negative integer measure per group — the
    * inequality number behind "1% of users generate 40% of events" /
    * "a handful of documents carry most of the tokens". Uses the
    * rank-sum identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n, computed over
    * the GROUPED value distribution: a run of c equal values x starting
    * after cumulative count C contributes x·(c·C + c(c+1)/2) — exact
    * integer arithmetic, invariant to tie order.
    *
    * Scale shape: one (group, value) count shuffle with map-side combine
    * collapses the input to the value domain; the cumulative window and
    * final aggregate run over ≤ |value-domain| rows per group (the q65
    * histogram rule — quantize a continuous measure first). Contribution
    * products stay within long for n ≤ ~3·10⁹ per group; the sums ride
    * decimal(38,0) ≡ HUGEINT. */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val guarded = df.withColumn("__v",
      when(col(valueCol) >= 0, col(valueCol)).otherwise(
        raise_error(lit(s"giniByGroup: $valueCol must be non-negative"))))
    val counts = guarded.groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sums = counts
      .withColumn("cp", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(sum(col("c")).as("n"),
        sum((col("__v") * col("c")).cast("decimal(38,0)")).as("s"),
        sum((col("__v") * (col("c") * col("cp") +
          expr("(c * (c + 1)) div 2"))).cast("decimal(38,0)")).as("n1"))
    sums.select(col(groupCol), col("n").cast("long").as("n"),
      col("s").cast("long").as("sum_value"),
      Num.roundz(when(col("s") > 0,
        (lit(2.0) * col("n1").cast("double")) /
          (col("n").cast("double") * col("s").cast("double")) -
          (col("n") + lit(1L)).cast("double") / col("n").cast("double")), 4)
        .as("gini"))
  }

  /** Herfindahl–Hirschman concentration of a categorical mix per group —
    * entropy's (q160) market-share twin: Σ_cat (c/n)², 1/|cats| ≤ hhi ≤ 1.
    * Same single count shuffle and category-ordered fold as entropy; the
    * two surface complementary readings of the same distribution (entropy:
    * "how many effective categories"; HHI: "how dominated by the top"). */
  def hhiByGroup(df: DataFrame, groupCol: String, catCol: String): DataFrame =
    shareFold(df, groupCol, catCol, p => p * p,
      total => Num.roundz(total, 4).as("hhi"))

  /** CUSUM changepoint probe over a per-group ordered series: with K
    * buckets and total S, the k-th cumulative sum of (K·xᵢ − S) crosses
    * zero-mean drift scaled by K — EXACT longs, no division. Reports the
    * largest |CUSUM| and the earliest bucket achieving it: the most
    * likely single changepoint under a mean-shift model. The monitoring
    * query behind "did collection break mid-month?" (the reference
    * eyeballs this on a dashboard plot, `Analysis Dashboard/app.py:32-59`).
    *
    * Scale shape: the series is an aggregated (group, bucket) frame —
    * time-domain-bounded per group — so the per-group cumulative window
    * sorts ≤ |buckets| rows; group totals join back as a broadcast and
    * the argmax resolves via a broadcast self-join (max, then earliest
    * bucket), never a collect. */
  def cusumChangepoint(series: DataFrame, groupCol: String, bucketCol: String,
                       valueCol: String): DataFrame = {
    val totals = series.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__k"), sum(col(valueCol)).as("__s"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = series.join(broadcast(totals), Seq(groupCol))
      .withColumn("__c",
        sum(col("__k") * col(valueCol) - col("__s")).over(w))
      .withColumn("__abs", abs(col("__c")))
    val peaks = cusum.groupBy(col(groupCol))
      .agg(first(col("__k")).as("n_buckets"), max(col("__abs")).as("cusum_max_abs"))
    cusum.join(broadcast(peaks.withColumnRenamed(groupCol, "__g")),
        col(groupCol) === col("__g") && col("__abs") === col("cusum_max_abs"))
      .groupBy(col(groupCol))
      .agg(first(col("n_buckets")).cast("long").as("n_buckets"),
        first(col("cusum_max_abs")).cast("long").as("cusum_max_abs"),
        min(col(bucketCol)).as("changepoint"))
  }

  /** RFM segmentation: per entity, Recency (buckets since last activity,
    * lower = fresher), Frequency (row count), Monetary (an exact integer
    * measure), each scored 1–3 against the population's DISCRETE tercile
    * cutpoints, concatenated into the classic "333 = best" segment label.
    * Recency scores INVERTED (recent = high score).
    *
    * Scale shape: one entity-level aggregate (the anchor "now" is the
    * corpus max, a 1-row broadcast — no wall clock, SURVEY §7.6), then ONE
    * grouped percentile pass over the |entities|-row frame whose 6 cut
    * values broadcast back; scoring is a map-side comparison ladder.
    * percentile_disc cutpoints are actual elements (exact longs, the q152
    * discipline). */
  def rfmSegments(df: DataFrame, entityCol: String, tsCol: String,
                  monetaryCol: String): DataFrame = {
    val anchor = df.agg(max(col(tsCol)).as("__now"))
    val per = df.crossJoin(broadcast(anchor))
      .groupBy(col(entityCol))
      .agg(min(datediff(col("__now").cast("date"), col(tsCol).cast("date")))
        .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        coalesce(sum(col(monetaryCol)), lit(0L)).as("monetary"))
    val cuts = per.agg(
      expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY recency_days)").cast("long").as("__r33"),
      expr("percentile_disc(0.67) WITHIN GROUP (ORDER BY recency_days)").cast("long").as("__r67"),
      expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY frequency)").cast("long").as("__f33"),
      expr("percentile_disc(0.67) WITHIN GROUP (ORDER BY frequency)").cast("long").as("__f67"),
      expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY monetary)").cast("long").as("__m33"),
      expr("percentile_disc(0.67) WITHIN GROUP (ORDER BY monetary)").cast("long").as("__m67"))
    def score(v: Column, c33: Column, c67: Column): Column =
      lit(1L) + when(v > c33, 1L).otherwise(0L) + when(v > c67, 1L).otherwise(0L)
    per.crossJoin(broadcast(cuts))
      .withColumn("r_score",
        lit(4L) - score(col("recency_days"), col("__r33"), col("__r67")))
      .withColumn("f_score", score(col("frequency"), col("__f33"), col("__f67")))
      .withColumn("m_score", score(col("monetary"), col("__m33"), col("__m67")))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
      .select(col(entityCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        col("segment"))
  }

  /** Per-(group, phase) seasonality index: how each cyclic phase (weekday,
    * hour-of-day) over- or under-indexes against the group's own mean, in
    * floor basis points — idx = mean(phase) / mean(all) =
    * (sum_phase · n_buckets) / (cnt_phase · total), evaluated as ONE
    * integer expression. 10000 = neutral.
    *
    * Scale shape: runs on an aggregated (group, bucket, value) series —
    * two tiny grouped aggregates ((group, phase) and (group)) and a
    * broadcast join; nothing touches raw rows. Products stay in longs for
    * totals up to ~10¹⁴ per group. */
  def seasonalityIndex(series: DataFrame, groupCol: String, bucketCol: String,
                       phaseCol: String, valueCol: String): DataFrame = {
    val byPhase = series.groupBy(col(groupCol), col(phaseCol))
      .agg(count(lit(1)).as("n_buckets_phase"), sum(col(valueCol)).as("sum_phase"))
    val totals = series.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__nb"), sum(col(valueCol)).as("__tot"))
    byPhase.join(broadcast(totals), Seq(groupCol))
      .filter(col("__tot") > 0)
      .select(col(groupCol), col(phaseCol), col("n_buckets_phase"),
        col("sum_phase"),
        expr("(10000 * sum_phase * __nb) div (n_buckets_phase * __tot)")
          .as("seasonal_idx_bp"))
  }

  /** Lag-k autocorrelation of a per-group ordered series, for several lags
    * at once — "does today predict tomorrow (k=1)? last week (k=7)?". Each
    * lag contributes the (xₜ₋ₖ, xₜ) pairs via one shared per-group lag
    * window; the correlations themselves reuse [[pearsonByGroup]]'s
    * exact-integer power sums on a (group, lag) composite key.
    *
    * Scale shape: the input is an aggregated series (time-domain-bounded
    * per group), so the lag window sorts ≤ |buckets| rows per group; the
    * lags union map-side before ONE grouped aggregate. */
  def autocorrByGroup(series: DataFrame, groupCol: String, bucketCol: String,
                      valueCol: String, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"bad lags: $lags")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
    // only the REQUESTED lags get a column; they all share one window spec,
    // so Spark plans a single Window operator with one sort
    val lagged = lags.foldLeft(series) { (d, k) =>
      d.withColumn(s"__lag_$k", lag(col(valueCol), k).over(w))
    }
    val pairs = lags.map { k =>
      lagged.filter(col(s"__lag_$k").isNotNull)
        .select(col(groupCol), lit(k.toLong).as("lag"),
          col(s"__lag_$k").as("__x"), col(valueCol).as("__y"))
    }.reduce(_ union _)
    pearsonByGroups(pairs, Seq(groupCol, "lag"), "__x", "__y")
  }

  /** Kaplan–Meier survival over right-censored integer durations: at each
    * distinct duration d, S(d) = Π_{d'≤d, events>0} (1 − e/n_at_risk) —
    * "how long until a user converts / a doc is revised / a job fails,
    * when many never do inside the horizon". Censored rows (event=false)
    * leave the risk set silently, the textbook KM treatment.
    *
    * Determinism: n_at_risk and event counts are exact longs; the product
    * evaluates as exp(Σ ln(1 − e/n)) with BOTH the ln terms and the
    * running sum ordered by duration. A duration where EVERYONE at risk
    * converts would need ln(0) — Spark's `log` returns NULL there while
    * libm returns −∞, so that case rides an explicit cumulative zero-flag
    * (survival pinned to 0.0 from that row on) instead of an infinity.
    * The cumulative windows are GLOBAL but run over the grouped duration
    * frame — bounded by the duration domain (days within the horizon),
    * the q91 empty-partitionBy precedent, never raw rows. */
  def kaplanMeier(durations: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val g = durations.groupBy(col(durationCol))
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("events"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("censored"))
    val total = durations.agg(count(lit(1)).as("__total"))
    val wPrev = Window.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(total))
      .withColumn("at_risk",
        col("__total") - coalesce(sum(col("events") + col("censored")).over(wPrev), lit(0L)))
      .withColumn("__term", when(col("events") > 0 && col("at_risk") > col("events"),
        log((col("at_risk") - col("events")).cast("double") / col("at_risk")))
        .otherwise(lit(0.0)))
      .withColumn("__zero",
        when(col("events") > 0 && col("at_risk") === col("events"), 1L).otherwise(0L))
      .withColumn("survival",
        when(sum(col("__zero")).over(wCum) > 0, lit(0.0))
          .otherwise(Num.roundz(exp(sum(col("__term")).over(wCum)), 4)))
      .select(col(durationCol), col("at_risk").cast("long").as("at_risk"),
        col("events").cast("long").as("events"),
        col("censored").cast("long").as("censored"), col("survival"))
  }

  /** Bollinger-style rolling bands over a per-group ordered series: the
    * trailing `frameRows`-bucket mean ± 2σ, plus a breakout flag. The
    * surfaced mean/σ are display doubles (4 dp), but the FLAG is decided
    * in exact integer arithmetic — |x − μ| > 2σ ⟺ (n·x − Σx)² > 4·(n·Σx² − (Σx)²)
    * — so a value sitting on the band never flips engines (the float
    * boundary-compare trap q163/q177 taught, avoided by construction).
    * Only full frames emit (partial leading windows are not comparable).
    *
    * Scale shape: runs on the aggregated series; one key-hash window whose
    * state is the constant-size frame (the q146 rolling-median rule);
    * squares ride decimal(38,0) so hot series cannot overflow. */
  def rollingBands(series: DataFrame, groupCol: String, bucketCol: String,
                   valueCol: String, frameRows: Int = 7): DataFrame = {
    require(frameRows >= 2, s"frameRows must be >= 2, got $frameRows")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(-(frameRows - 1L), Window.currentRow)
    val dec = "decimal(38,0)"
    val framed = series
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__sx", sum(col(valueCol)).over(w).cast(dec))
      .withColumn("__sxx", sum((col(valueCol) * col(valueCol)).cast(dec)).over(w))
      .filter(col("__cnt") === frameRows)
    val n = lit(frameRows.toLong)
    // exact integer breakout test: (n·x − Σx)² > 4·(n·Σx² − Σx²̂)
    val dev = (n.cast(dec) * col(valueCol) - col("__sx")).cast(dec)
    val varTerm = (n.cast(dec) * col("__sxx") - col("__sx") * col("__sx"))
    framed.select(col(groupCol), col(bucketCol), col(valueCol),
      Num.roundz(col("__sx").cast("double") / n, 4).as("mean"),
      Num.roundz(sqrt((n.cast("double") * col("__sxx").cast("double") -
        col("__sx").cast("double") * col("__sx").cast("double"))) / n, 4).as("sd"),
      (dev * dev > lit(4).cast(dec) * varTerm).as("breakout"))
  }

  /** Period-over-period top movers: for each (group, period) with a
    * predecessor, the basis-point change vs the previous period — the
    * "what's trending" readout. Exact integers end-to-end; groups whose
    * previous period is 0 surface NULL change (a 0→n jump has no finite
    * percentage). Negative changes are computed sign-split — magnitude
    * divided on NON-NEGATIVE operands, then negated — because Spark's
    * `div` truncates toward zero while floor semantics differ across
    * engines below zero (SURVEY §7.6 only equates them for n ≥ 0).
    *
    * Scale shape: one (group, period) aggregate feeds a per-group lag
    * window bounded by the period domain; nothing global. */
  def periodMovers(series: DataFrame, groupCol: String, periodCol: String,
                   valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(periodCol))
    series
      .withColumn("prev", lag(col(valueCol), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col(groupCol), col(periodCol), col("prev").cast("long").as("prev"),
        col(valueCol).cast("long").as("cur"),
        when(col("prev") > 0,
          when(col(valueCol) >= col("prev"),
            expr(s"(($valueCol - prev) * 10000) div prev"))
            .otherwise(-expr(s"((prev - $valueCol) * 10000) div prev")))
          .as("change_bp"))
  }

  /** Exponentially-weighted moving average of a per-group ordered series —
    * the smoothed "current level" readout (alerting baselines, trend
    * dashboards). The fold sₖ = sₖ₋₁·(1−α) + xₖ·α is inherently
    * sequential, so it runs as an ordered fold seeded by the FIRST
    * element (both engines: Spark `aggregate` over the sorted tail,
    * DuckDB `list_reduce`, which seeds from the head) — identical IEEE
    * op sequence, rounded 4 dp on the way out. `alphaBp` is α in basis
    * points so the smoothing weight itself is exact.
    *
    * Scale shape: one (group, bucket) pre-aggregate upstream, then ONE
    * group-keyed collect whose state is the group's bucket series — the
    * same bound as every per-group fold here (buckets per group is the
    * calendar, not the row count). Emits the final level and the series
    * length. */
  def ewma(series: DataFrame, groupCol: String, bucketCol: String,
           valueCol: String, alphaBp: Int = 3000): DataFrame = {
    require(alphaBp > 0 && alphaBp < 10000, s"alphaBp must be in (0,10000), got $alphaBp")
    val a = alphaBp / 10000.0
    series
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_buckets"),
        sort_array(collect_list(struct(col(bucketCol).as("b"),
          col(valueCol).cast("double").as("x")))).as("__s"))
      .select(col(groupCol), col("n_buckets").cast("long").as("n_buckets"),
        Num.roundz(expr(
          s"aggregate(slice(__s, 2, size(__s) - 1), __s[0].x, " +
            s"(acc, e) -> acc * ${1.0 - a} + e.x * $a)"), 4).as("ewma"))
  }

  /** Time-weighted average value per group — the TWAP/mean-level of an
    * irregularly-sampled series, where each observation holds until the
    * next one. Each row's weight is its duration in seconds to the group's
    * next event ((ts, id)-ordered so ties pair deterministically); the
    * last observation has no duration and drops out. Entirely exact:
    * durations are integer MICROSECONDS (`unix_micros` ≡ DuckDB
    * `epoch_us` — no seconds-cast truncation ambiguity), weighted sums
    * ride decimal(38,0), and the surfaced average is the one final
    * division rounded 4 dp.
    *
    * Scale shape: one group-keyed lead window (state = nothing beyond the
    * sort) then a group aggregate on the same key-hash partitioning —
    * ONE exchange end to end. */
  def timeWeightedAvg(events: DataFrame, groupCol: String, tsCol: String,
                      idCol: String, centsCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(tsCol), col(idCol))
    val dec = "decimal(38,0)"
    events
      .withColumn("__next", lead(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("__next").isNotNull)
      .withColumn("__dur", col("__next") - unix_micros(col(tsCol)))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("__dur")).cast(dec).as("__sw"),
        sum((col(centsCol) * col("__dur")).cast(dec)).as("__swv"))
      .filter(col("__sw") > 0)
      .select(col(groupCol), col("n_obs").cast("long").as("n_obs"),
        col("__sw").cast("long").as("total_us"),
        Num.roundz(col("__swv").cast("double") / col("__sw").cast("double"), 4)
          .as("twap_cents"))
  }

  /** Jensen–Shannon divergence between two labelled periods' categorical
    * distributions — the symmetric, bounded (≤ ln 2) drift measure that,
    * unlike q158's PSI, needs no smoothing: a category absent from one
    * side contributes only the other side's half-KL term (0·ln0 ≡ 0 by
    * convention, encoded as a guard in BOTH engines).
    *
    *   jsd = ½·Σ pa·ln(pa/m) + ½·Σ pb·ln(pb/m),  m = ½(pa + pb)
    *
    * Scale shape: ONE (category, period) count shuffle with map-side
    * combine; totals are a 1-row broadcast; the per-category terms fold
    * category-sorted (the engine-parity float discipline). Output is a
    * single row: period sizes, category count, jsd at 4 dp. */
  def jsDivergence(df: DataFrame, catCol: String, periodCol: String): DataFrame = {
    val counts = df
      .filter(col(periodCol).isin("a", "b"))
      .groupBy(col(catCol).as("cat"))
      .agg(sum(when(col(periodCol) === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col(periodCol) === "b", 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    counts.crossJoin(broadcast(totals))
      .select(col("cat"), col("na"), col("nb"),
        (col("ca").cast("double") / col("na")).as("__pa"),
        (col("cb").cast("double") / col("nb")).as("__pb"))
      .select(col("cat"), col("na"), col("nb"),
        (when(col("__pa") > 0,
          col("__pa") * log(col("__pa") / ((col("__pa") + col("__pb")) / 2)))
          .otherwise(lit(0.0)) +
          when(col("__pb") > 0,
            col("__pb") * log(col("__pb") / ((col("__pa") + col("__pb")) / 2)))
            .otherwise(lit(0.0))).as("term"))
      .groupBy()
      .agg(first(col("na")).as("__na"), first(col("nb")).as("__nb"),
        count(lit(1)).as("n_cats"),
        sort_array(collect_list(struct(col("cat"), col("term")))).as("__t"))
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        col("n_cats").cast("long").as("n_cats"),
        Num.roundz(Num.orderedSum("__t", "t.term") / 2, 4)
          .as("jsd"))
  }

  /** Clamped running balance: per key, fold the (order-sorted) delta
    * stream through balance ← max(0, balance + δ) — the
    * inventory/credit-ledger recurrence where stock can't go negative.
    *
    * The step LOOKS nonlinear, but it lives in the max-plus semiring:
    * x → max(x+δ, 0) steps compose closed,
    * (a₁,b₁)∘(a₂,b₂) = (a₁+a₂, max(b₁+a₂, b₂)), and the whole fold from
    * zero collapses to the prefix-sum identity
    *
    *   balance = S_n − min(0, min_i S_i)   (S_i = running Σδ)
    *
    * so NO per-key history buffer is ever needed. Three steps, all exact
    * LONG arithmetic: (1) global range cutpoints on the leading order
    * column split each key's ledger into ≤`bins` segments (one
    * approx-percentile pass — accuracy only shapes balance); (2) per
    * (key, bin) an incremental-frame running sum gives the segment's
    * (count, Σδ, min-prefix) summary — the window's running frame carries
    * O(1) state and the sort spills, unlike an array buffer; (3) segment
    * summaries compose per key under a ≤bins-row window (offset = prefix
    * of segment sums; global min-prefix = min over bins of offset +
    * segment min-prefix). Emits the final balance and the step count.
    *
    * Scale shape: one shuffle on (key, bin) + one on key over |keys|·bins
    * summary rows. A single hot key's ledger (the bot account that is the
    * 100 TB OOM case for any collect_list formulation) splits across
    * `bins` parallel tasks; nothing anywhere buffers a key's history. */
  def clampedBalance(deltas: DataFrame, keyCol: String, orderCols: Seq[String],
                     deltaCol: String, bins: Int = 32): DataFrame = {
    require(orderCols.nonEmpty, "clampedBalance needs an ordering")
    Seq("__bin", "__ps", "__n", "__a", "__m", "__off").foreach { tmp =>
      require(!deltas.columns.contains(tmp),
        s"clampedBalance: input already has a column named '$tmp' (reserved)")
    }
    val d = col(deltaCol).cast("long")
    // monotone long image of the leading order column (timestamp → epoch
    // seconds): equal keys share a bin, bins inherit the order
    val binKeyNum = col(orderCols.head).cast("long")
    val binCol = TwoPhase.rangeBin(deltas, binKeyNum, bins)
    val wseg = Window.partitionBy(col(keyCol), col("__bin"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = deltas.withColumn("__bin", binCol)
      .withColumn("__ps", sum(d).over(wseg))
      .groupBy(col(keyCol), col("__bin"))
      .agg(count(lit(1)).as("__n"), sum(d).as("__a"), min(col("__ps")).as("__m"))
    // compose segments in bin order: a ≤bins-row per-key window, then one
    // aggregate — min(0, global min-prefix) folds the clamp's zero floor in
    val wkey = Window.partitionBy(col(keyCol)).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    seg
      .withColumn("__off", coalesce(sum(col("__a")).over(wkey), lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).cast("long").as("n_steps"),
        sum(col("__a")).as("__a"),
        min(least(lit(0L), col("__off") + col("__m"))).as("__m"))
      .select(col(keyCol), col("n_steps"),
        (col("__a") - col("__m")).cast("long").as("balance"))
  }

  /** Theil T inequality index with its between/within-group decomposition
    * — the inequality measure that (unlike q168's Gini) splits exactly
    * into "inequality ACROSS groups" + "inequality INSIDE groups":
    *
    *   T_between = Σ_g s_g · ln(μ_g/μ),   T_within = Σ_g s_g · T_g,
    *   T_g = (1/n_g) Σ_i (x_i/μ_g) · ln(x_i/μ_g),   s_g = Σ_g x / Σ x
    *
    * and T_total is REPORTED as their sum (the decomposition identity),
    * so every float reduction is either a per-group member fold or a
    * |groups|-sized fold — nothing folds over the whole table. Amounts
    * must be positive (ln); enforced in-plan.
    *
    * Scale shape: one (group) sum/count aggregate; member terms join the
    * group frame back as a broadcast; the member fold is per-group
    * ordered ((amount, group) sort inside the group's buffer, q65 bound);
    * the two cross-group folds run over |groups| rows of metadata. */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         amountCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = df
      .filter(when(col(amountCol) > 0, lit(true)).otherwise(raise_error(
        lit("theilDecomposition: amounts must be positive (ln of a " +
          "non-positive share is undefined)"))))
      .select(col(groupCol).as("g"), col(amountCol).cast("long").as("x"))
    val groups = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).cast(dec).as("sxg"))
    val totals = groups.agg(sum(col("ng")).as("n"), sum(col("sxg")).as("sx"))
    val gstat = groups.crossJoin(broadcast(totals))
      .select(col("g"), col("ng"), col("sxg"), col("n"), col("sx"),
        (col("sxg").cast("double") / col("ng")).as("__mug"),
        (col("sx").cast("double") / col("n")).as("__mu"))
    // member terms: (x/μg)·ln(x/μg), folded per group in (x) order
    val within = rows.join(broadcast(gstat.select(col("g"), col("__mug"))), Seq("g"))
      .select(col("g"),
        ((col("x") / col("__mug")) * log(col("x") / col("__mug"))).as("term"),
        col("x"))
      .groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("x"), col("term")))).as("__t"))
      .select(col("g"), Num.orderedSum("__t", "t.term").as("tsum"))
    // group terms fold over |groups| rows, g-sorted
    gstat.join(within, Seq("g"))
      .select(col("g"), col("n"), col("ng"),
        ((col("sxg").cast("double") / col("sx").cast("double")) *
          log(col("__mug") / col("__mu"))).as("bterm"),
        ((col("sxg").cast("double") / col("sx").cast("double")) *
          (col("tsum") / col("ng"))).as("wterm"))
      .groupBy()
      .agg(first(col("n")).as("__n"), count(lit(1)).as("n_groups"),
        sort_array(collect_list(struct(col("g"), col("bterm")))).as("__b"),
        sort_array(collect_list(struct(col("g"), col("wterm")))).as("__w"))
      .select(col("__n").cast("long").as("n"),
        col("n_groups").cast("long").as("n_groups"),
        Num.roundz(Num.orderedSum("__b", "t.bterm"), 4)
          .as("t_between"),
        Num.roundz(Num.orderedSum("__w", "t.wterm"), 4)
          .as("t_within"))
      .withColumn("t_total", Num.roundz(col("t_between") + col("t_within"), 4))
  }

  /** Lorenz curve points: entities decile-bucketed by amount ascending,
    * each decile's exact share of the total and the cumulative share —
    * the "bottom 10% hold X bp" readout behind q168's single Gini number.
    * Deciles come from [[TwoPhase.globalRank]] + SQL-standard ntile
    * allocation (no single-partition window); shares are non-negative
    * integer division in basis points; the cumulative sum runs over the
    * 10-row decile frame.
    *
    * `tieCol` must make (amount, tie) unique — ntile semantics need a
    * total order. Amounts must be non-negative (share math). */
  def lorenzDeciles(df: DataFrame, amountCol: String, tieCol: String): DataFrame = {
    val guarded = df
      .filter(when(col(amountCol) >= 0, lit(true)).otherwise(raise_error(
        lit("lorenzDeciles: amounts must be non-negative"))))
    val (ranked, n) = TwoPhase.globalRank(guarded, col(amountCol),
      Seq(col(amountCol), col(tieCol)), "__rank")
    val dec = "decimal(38,0)"
    val byDecile = ranked
      .withColumn("decile", TwoPhase.ntileFromRank("__rank", n, 10).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col(amountCol)).cast(dec).as("__amt"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy()
    byDecile
      .withColumn("__tot", sum(col("__amt")).over(total))
      .withColumn("__cum", sum(col("__amt")).over(w))
      .select(col("decile"), col("n").cast("long").as("n"),
        col("__amt").cast("long").as("amount"),
        expr("CAST((10000 * __amt) div __tot AS BIGINT)").as("share_bp"),
        expr("CAST((10000 * __cum) div __tot AS BIGINT)").as("cum_share_bp"))
  }

  /** Trimmed mean per group: the mean of the values inside the discrete
    * [loP, hiP] percentile band — the outlier-robust center that, unlike
    * q152's winsorize, DROPS the tails instead of clamping them. Bounds
    * are actual elements (percentile_disc), the kept-mean is one exact
    * integer division ×100.
    *
    * Scale shape: one percentile aggregate per group (buffer = the
    * group's values, q65 bound) broadcast back, then one filtered
    * sum/count on the same grouping key. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  loP: Double = 0.05, hiP: Double = 0.95): DataFrame = {
    require(loP >= 0 && hiP <= 1 && loP < hiP, s"bad band ($loP, $hiP)")
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile_disc($loP) WITHIN GROUP (ORDER BY $valueCol)").as("__lo"),
        expr(s"percentile_disc($hiP) WITHIN GROUP (ORDER BY $valueCol)").as("__hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .filter(col(valueCol) >= col("__lo") && col(valueCol) <= col("__hi"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"),
        sum(col(valueCol)).cast("decimal(38,0)").as("__s"),
        first(col("__lo")).as("lo"), first(col("__hi")).as("hi"))
      .select(col(groupCol), col("n_kept").cast("long").as("n_kept"),
        col("lo").cast("long").as("lo"), col("hi").cast("long").as("hi"),
        expr("CAST((100 * __s) div n_kept AS BIGINT)").as("mean_x100"))
  }

  /** Holt's linear-trend smoothing per series — [[ewma]] plus a TREND
    * state, the two-state recurrence
    *
    *   lₜ = α·xₜ + (1−α)(lₜ₋₁ + bₜ₋₁),   bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    *
    * seeded textbook-style (l = x₂, b = x₂ − x₁, fold from the third
    * bucket). Both engines fold a STRUCT accumulator over struct
    * elements with the same lambda text — the only two-state fold in the
    * registry, and the level expression is repeated verbatim inside the
    * trend update so the IEEE sequence is identical by construction.
    * Emits level, trend, and the one-step forecast (level + trend),
    * 4 dp. Groups need ≥ 2 buckets (the seed).
    *
    * Scale shape: identical to [[ewma]] — one group-keyed collect whose
    * state is the group's bucket series. */
  def holt(series: DataFrame, groupCol: String, bucketCol: String,
           valueCol: String, alphaBp: Int = 3000, betaBp: Int = 1000): DataFrame = {
    require(alphaBp > 0 && alphaBp < 10000 && betaBp > 0 && betaBp < 10000,
      s"alpha/beta must be in (0,10000) bp, got ($alphaBp, $betaBp)")
    val a = alphaBp / 10000.0
    val b = betaBp / 10000.0
    val (ia, ib) = (1.0 - a, 1.0 - b)
    val lvl = s"$a * e.l + $ia * (acc.l + acc.b)"
    series
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_buckets"),
        sort_array(collect_list(struct(col(bucketCol).as("d"),
          col(valueCol).cast("double").as("l"),
          lit(0.0).as("b")))).as("__s"))
      .filter(col("n_buckets") >= 2)
      .select(col(groupCol), col("n_buckets").cast("long").as("n_buckets"),
        expr(
          s"aggregate(slice(__s, 3, greatest(size(__s) - 2, 0)), " +
            s"named_struct('d', __s[1].d, 'l', __s[1].l, 'b', __s[1].l - __s[0].l), " +
            s"(acc, e) -> named_struct('d', e.d, 'l', $lvl, " +
            s"'b', $b * ($lvl - acc.l) + $ib * acc.b))").as("__f"))
      .select(col(groupCol), col("n_buckets"),
        Num.roundz(col("__f.l"), 4).as("level"),
        Num.roundz(col("__f.b"), 4).as("trend"),
        Num.roundz(col("__f.l") + col("__f.b"), 4).as("forecast"))
  }

  /** Sample-ratio-mismatch check for a deterministic 50/50 split — the
    * first experiment-health gate: if the two arms' sizes diverge more
    * than chance allows, the assignment (not the treatment) is broken and
    * every downstream readout (q163's lift) is invalid. For a two-cell
    * split, χ² = (n_a − n_b)²/n, so the 5%-level flag
    * χ² > 3.84 ⟺ (n_a − n_b)²·100 > 384·n decides on EXACT integers —
    * the surfaced χ² is display-only (4 dp).
    *
    * Scale shape: one (group, arm) count with map-side combine; |groups|
    * output rows. Squares ride decimal(38,0). */
  def sampleRatioMismatch(df: DataFrame, groupCol: String,
                          armCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df
      .filter(when(col(armCol).isin(0, 1), lit(true)).otherwise(raise_error(
        lit("sampleRatioMismatch: arm must be 0 or 1"))))
      .groupBy(col(groupCol))
      .agg(sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(armCol) === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col(groupCol), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        Num.roundz((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"), 4).as("chi2"),
        (((col("n_a") - col("n_b")).cast(dec) * (col("n_a") - col("n_b")).cast(dec))
          * lit(100) > lit(384).cast(dec) * (col("n_a") + col("n_b")).cast(dec))
          .as("srm_flag"))
  }

  /** Difference-in-differences: the treatment effect estimate that
    * subtracts the control arm's pre→post drift from the treated arm's —
    * the readout that separates "the feature moved the metric" from "the
    * metric was moving anyway". Cells are (arm ∈ {0 control, 1 treated},
    * period ∈ {'a' pre, 'b' post}); all four sums/counts are exact longs
    * from ONE aggregate, the four means and the DiD are display doubles
    * computed from them with identical formula text (4 dp).
    *
    * Scale shape: a single global aggregate with conditional sums — one
    * pass, no join, no window, 1 output row. */
  def diffInDiff(df: DataFrame, armCol: String, periodCol: String,
                 centsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def cell(arm: Int, p: String) =
      (sum(when(col(armCol) === arm && col(periodCol) === p, col(centsCol))
        .otherwise(lit(0L))).cast(dec),
        sum(when(col(armCol) === arm && col(periodCol) === p, 1L)
          .otherwise(0L)))
    val ((sc_a, _), (sc_b, _), (st_a, _), (st_b, _)) =
      (cell(0, "a"), cell(0, "b"), cell(1, "a"), cell(1, "b"))
    val guarded = df.filter(
      when(col(armCol).isin(0, 1) && col(periodCol).isin("a", "b"), lit(true))
        .otherwise(raise_error(lit(
          "diffInDiff: arm must be 0/1 and period 'a'/'b'"))))
    def m(s: Column, n: Column) = s.cast("double") / n.cast("double")
    guarded
      .agg(sc_a.as("__sca"), cell(0, "a")._2.as("n_c_pre"),
        sc_b.as("__scb"), cell(0, "b")._2.as("n_c_post"),
        st_a.as("__sta"), cell(1, "a")._2.as("n_t_pre"),
        st_b.as("__stb"), cell(1, "b")._2.as("n_t_post"))
      .filter(col("n_c_pre") > 0 && col("n_c_post") > 0 &&
        col("n_t_pre") > 0 && col("n_t_post") > 0)
      .select(
        col("n_c_pre").cast("long").as("n_c_pre"),
        col("n_c_post").cast("long").as("n_c_post"),
        col("n_t_pre").cast("long").as("n_t_pre"),
        col("n_t_post").cast("long").as("n_t_post"),
        Num.roundz(m(col("__sca"), col("n_c_pre")), 4).as("m_c_pre"),
        Num.roundz(m(col("__scb"), col("n_c_post")), 4).as("m_c_post"),
        Num.roundz(m(col("__sta"), col("n_t_pre")), 4).as("m_t_pre"),
        Num.roundz(m(col("__stb"), col("n_t_post")), 4).as("m_t_post"),
        Num.roundz((m(col("__stb"), col("n_t_post")) - m(col("__sta"), col("n_t_pre"))) -
          (m(col("__scb"), col("n_c_post")) - m(col("__sca"), col("n_c_pre"))), 4)
          .as("did"))
  }

  /** Per-group mode with a deterministic tie-break (highest count, then
    * LOWEST value) — the categorical "typical value" profile column.
    * Exact counts; the winner selection is a (count desc, value) window
    * rank on the already-aggregated (group, value) frame.
    *
    * Scale shape: one two-phase count aggregate, then a window whose
    * partitions are the DISTINCT-VALUE frame per group — never raw rows. */
  def modePerGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col(valueCol))
    counts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col(valueCol).as("mode_value"),
        col("n").cast("long").as("n"))
  }

  /** Two-sample Kolmogorov–Smirnov drift gate over an exact integer unit
    * column (cents/bp) — the distribution-level health check that catches
    * what q205's count-level SRM can't: two arms with identical sizes but
    * shifted value distributions. D is computed as an exact integer
    * numerator `max |cumA·nB − cumB·nA|` over the pooled distinct units
    * (D = numerator / (nA·nB)); the 5% rejection flag squares the classic
    * large-sample bound D > 1.358·√((nA+nB)/(nA·nB)) into pure integer
    * arithmetic on decimal(38,0): num²·10⁶ > 1844164·nA·nB·(nA+nB)
    * (1844164 = ⌈1.358²·10⁶⌉ truncated — both engines compare the same
    * exact integers, no float boundary). The surfaced d_stat is 4-dp
    * display.
    *
    * Scale shape: one (unit, arm-conditional counts) aggregate with
    * map-side combine, then [[TwoPhase.prefixSum]] twice over the
    * |distinct units| frame (never raw rows, no empty-partition window),
    * then a single global max. 1 output row. */
  def ksDrift(df: DataFrame, armCol: String, unitsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val grouped = df
      .filter(when(col(armCol).isin(0, 1), lit(true)).otherwise(raise_error(
        lit("ksDrift: arm must be 0 or 1"))))
      .groupBy(col(unitsCol).as("__u"))
      .agg(sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col(armCol) === 1, 1L).otherwise(0L)).as("__nb"))
    val (withA, totA) = TwoPhase.prefixSum(
      grouped, col("__u"), Seq(col("__u")), col("__na"), "__ca")
    val (withB, totB) = TwoPhase.prefixSum(
      withA, col("__u"), Seq(col("__u")), col("__nb"), "__cb")
    require(totA > 0 && totB > 0, "ksDrift: both arms must be non-empty")
    withB
      .agg(max(abs(col("__ca") * lit(totB) - col("__cb") * lit(totA))).as("d_num"))
      .select(lit(totA).as("n_a"), lit(totB).as("n_b"),
        col("d_num").cast("long").as("d_num"),
        Num.roundz(col("d_num").cast("double") /
          (lit(totA).cast("double") * lit(totB).cast("double")), 4).as("d_stat"),
        (col("d_num").cast(dec) * col("d_num").cast(dec) * lit(1000000L).cast(dec) >
          lit(1844164L).cast(dec) * lit(totA).cast(dec) * lit(totB).cast(dec) *
            lit(totA + totB).cast(dec)).as("drift_flag"))
  }

  /** Per-group two-sample KS: each group's unit distribution against the
    * REST of the corpus — the segment-level drift table ("which source's
    * value distribution is the outlier"), generalizing [[ksDrift]]'s
    * two-arm gate. The ECDF difference must be evaluated at every pooled
    * distinct unit, including units absent from a group, so the group×unit
    * GRID is materialized with zero-filled counts and group-partitioned
    * prefix sums — exact integer numerators as in [[ksDrift]], same
    * decimal(38,0) 5% flag, d_stat 4-dp display.
    *
    * Scale shape: the grid is |groups|·|distinct units| rows — bounded by
    * segment count × value-domain granularity (cents), NOT by raw rows;
    * all windows partition by group. Raw rows are touched once. */
  def ksDriftByGroup(df: DataFrame, groupCol: String, unitsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val (grid, _, grand) = ecdfGrid(df, groupCol, unitsCol)
    val cums = grid
      .crossJoin(broadcast(grand))
      .withColumn("__nr", col("__n") - col("__ng"))
      .withColumn("__diff", abs(col("__cumG") * col("__nr") -
        (col("__cumAll") - col("__cumG")) * col("__ng")))
    cums
      .groupBy(col("__g"), col("__ng"), col("__nr"))
      .agg(max("__diff").as("d_num"))
      .filter(col("__ng") > 0 && col("__nr") > 0)
      .select(col("__g").as(groupCol), col("__ng").cast("long").as("n_group"),
        col("__nr").cast("long").as("n_rest"),
        col("d_num").cast("long").as("d_num"),
        Num.roundz(col("d_num").cast("double") /
          (col("__ng").cast("double") * col("__nr").cast("double")), 4).as("d_stat"),
        (col("d_num").cast(dec) * col("d_num").cast(dec) * lit(1000000L).cast(dec) >
          lit(1844164L).cast(dec) * col("__ng").cast(dec) * col("__nr").cast(dec) *
            (col("__ng") + col("__nr")).cast(dec)).as("drift_flag"))
  }

  /** The group×unit ECDF grid [[ksDriftByGroup]] and [[emdDriftByGroup]]
    * share: one (group, unit) count shuffle (checkpointed), every pooled
    * distinct unit crossed with every group and zero-filled, then the
    * group's cumulative count `__cumG` and the pooled one `__cumAll` in
    * unit order. Returns the grid (`__g`, `__u`, `__ng`, `__cu`, `__cg`,
    * the two cums), its group-partitioned unit-ordered window (a caller's
    * further columns over it share the one exchange) and the 1-row grand
    * total `__n`. */
  private def ecdfGrid(df: DataFrame, groupCol: String,
                       unitsCol: String): (DataFrame, WindowSpec, DataFrame) = {
    val counts = df.groupBy(col(groupCol).as("__g"), col(unitsCol).as("__u"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false)
    val groups = counts.groupBy(col("__g")).agg(sum("__c").as("__ng"))
    val units = counts.groupBy(col("__u")).agg(sum("__c").as("__cu"))
    val grand = counts.agg(sum("__c").as("__n"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__u"))
    val grid = units.crossJoin(broadcast(groups))
      .join(counts, Seq("__g", "__u"), "left")
      .withColumn("__cg", coalesce(col("__c"), lit(0L)))
      .withColumn("__cumG", sum("__cg").over(w))
      .withColumn("__cumAll", sum("__cu").over(w))
    (grid, w, grand)
  }

  /** Exact AUC (= Mann-Whitney U / (nP·nN)) of an integer score column
    * against a boolean label — the standard readout for any quality /
    * toxicity / dedup-priority scorer feeding a curation gate. Computed
    * rank-free from the grouped score histogram: for each distinct score,
    * positives there beat every negative BELOW it and half-tie with the
    * negatives AT it, so 2U = Σ nP(s)·(2·cumNegBelow(s) + nN(s)) — exact
    * longs end to end (u2 ≤ 2·nP·nN), AUC surfaced as 4-dp display.
    *
    * Scale shape: one histogram aggregate with map-side combine, one
    * [[TwoPhase.prefixSum]] over |distinct scores| rows, one global sum.
    * No per-row ranks, no window over raw rows. 1 output row. */
  def aucFromScores(df: DataFrame, labelCol: String, unitsCol: String): DataFrame = {
    // NULL labels belong to neither class: drop them up front so the engine
    // sees the same row set as the oracle's count(*) FILTER (WHERE lab) /
    // FILTER (WHERE NOT lab) pair, which skips NULLs on both counts —
    // otherwise(1L) alone would silently count a NULL label as a negative.
    val grouped = df
      .filter(col(labelCol).isNotNull)
      .groupBy(col(unitsCol).as("__u"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__nn"))
    val (withC, totN) = TwoPhase.prefixSum(
      grouped, col("__u"), Seq(col("__u")), col("__nn"), "__cn")
    withC
      .agg(sum(col("__np")).as("n_pos"),
        sum(col("__np") * (lit(2L) * (col("__cn") - col("__nn")) + col("__nn")))
          .as("u2"))
      .filter(col("n_pos") > 0 && lit(totN) > 0)
      .select(col("n_pos").cast("long").as("n_pos"), lit(totN).as("n_neg"),
        col("u2").cast("long").as("u2"),
        Num.roundz(col("u2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * lit(totN).cast("double")), 4)
          .as("auc"))
  }

  /** Pearson chi-square contribution table for the independence of two
    * categorical columns — the drift/association profile over e.g.
    * (lang, source). Each cell's contribution (o−e)²/e is surfaced in
    * exact integer MICRO-units via the overflow-safe identity
    * (o·n − r·c)²·10⁶ div (r·c·n) on decimal(38,0) (floor division written
    * as (x − x mod d)/d so both engines floor identically — Spark's
    * decimal `/` alone rounds HALF_UP at scale 6, which could cross an
    * integer boundary). `expected` is 4-dp display from the same exact
    * marginals.
    *
    * Scale shape: raw rows are touched ONCE (the cell count aggregate,
    * map-side combined, localCheckpointed); marginals and the total reduce
    * the |x|·|y| cell frame and come back broadcast. |x|·|y| output rows. */
  def chi2Independence(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("__o"))
      .localCheckpoint(eager = false)
    val rowTot = cells.groupBy(col(xCol)).agg(sum("__o").as("__r"))
    val colTot = cells.groupBy(col(yCol)).agg(sum("__o").as("__c"))
    val grand = cells.agg(sum("__o").as("__n"))
    val num = (col("__o") * col("__n") - col("__r") * col("__c")).cast(dec)
    val num2 = num * num * lit(1000000L).cast(dec)
    val den = (col("__r") * col("__c")).cast(dec) * col("__n").cast(dec)
    cells
      .join(broadcast(rowTot), Seq(xCol))
      .join(broadcast(colTot), Seq(yCol))
      .crossJoin(broadcast(grand))
      .select(col(xCol), col(yCol), col("__o").cast("long").as("observed"),
        Num.roundz(col("__r").cast("double") * col("__c").cast("double") /
          col("__n").cast("double"), 4).as("expected"),
        ((num2 - num2 % den) / den).cast("long").as("contrib_micro"))
  }

  /** Mann-Kendall monotonic-trend test per group over an ALREADY-BUCKETED
    * series (e.g. daily counts): S = Σ_{i<j in time} sign(x_j − x_i),
    * exact from a within-group pair join; the tie-corrected variance rides
    * as the exact integer `var18` = 18·Var(S) = n(n−1)(2n+5) − Σ_t
    * t(t−1)(2t+5); the 5% two-sided flag squares |S| > 1.96·√(var18/18)
    * into pure integers: S²·18·10⁴ > 38416·var18, evaluated on
    * decimal(38,0) (like ksDrift / pettittChangepoint / chi2Independence)
    * because S²·18·10⁴ exceeds Long at n ≳ 4600 buckets per group and
    * non-ANSI Spark would wrap silently; the oracle runs the same
    * comparison on HUGEINT. z is 4-dp display.
    *
    * Scale shape: the pair join runs on the AGGREGATED |buckets|-per-group
    * frame (|buckets|² per group pairs of metadata rows), never raw
    * events — same discipline as q176's autocorrelation. Groups with
    * var18 = 0 (constant series) surface z NULL, flag false. */
  def mannKendall(series: DataFrame, groupCol: String, bucketCol: String,
                  valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val a = series.select(col(groupCol).as("__g"), col(bucketCol).as("__t"),
      col(valueCol).cast("long").as("__x"))
    val b = series.select(col(groupCol).as("__g2"), col(bucketCol).as("__t2"),
      col(valueCol).cast("long").as("__x2"))
    val sAgg = a.join(b, col("__g") === col("__g2") && col("__t") < col("__t2"))
      .groupBy(col("__g"))
      .agg(sum(when(col("__x2") > col("__x"), 1L)
        .when(col("__x2") < col("__x"), -1L).otherwise(0L)).as("__s"))
    val nAgg = a.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val ties = a.groupBy(col("__g"), col("__x")).agg(count(lit(1)).as("__tn"))
      .groupBy(col("__g"))
      .agg(sum(col("__tn") * (col("__tn") - 1) * (lit(2L) * col("__tn") + 5))
        .as("__tv"))
    val var18 = (col("__n") * (col("__n") - 1) * (lit(2L) * col("__n") + 5) -
      col("__tv")).cast("long")
    nAgg.join(ties, Seq("__g"))
      .join(sAgg, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n"),
        coalesce(col("__s"), lit(0L)).cast("long").as("s"),
        var18.as("var18"),
        when(var18 > 0, Num.roundz(coalesce(col("__s"), lit(0L)).cast("double") /
          sqrt(var18.cast("double") / lit(18.0)), 4)).as("z"),
        (coalesce(col("__s"), lit(0L)).cast(dec) *
          coalesce(col("__s"), lit(0L)).cast(dec) * lit(180000L).cast(dec) >
          lit(38416L).cast(dec) * var18.cast(dec)).as("trend_flag"))
  }

  /** Pettitt changepoint test per group over an ALREADY-BUCKETED series:
    * the nonparametric "where did the level shift" complement to q170's
    * CUSUM (which flags THAT it drifted). U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i−x_j)
    * is computed exactly via the interval-add identity — each (i<j) pair
    * contributes its sign on [i, j) only, so emitting (+s at i, −s at j)
    * and prefix-summing per group reconstructs every U_t from 2·pairs
    * delta rows. K = max|U_t|, t* = the earliest t attaining it; the
    * approximate significance p ≈ 2·exp(−6K²/(n³+n²)) is 4-dp display and
    * the 5% flag decides on exact integers (6·10⁶·K² > 3688879·(n³+n²),
    * 3688879 = ⌊ln(40)·10⁶⌋).
    *
    * Scale shape: like [[mannKendall]], the pair join runs on the
    * aggregated |buckets|-per-group frame; the prefix window partitions by
    * group over ≤ |buckets| delta rows. */
  def pettittChangepoint(series: DataFrame, groupCol: String, bucketCol: String,
                         valueCol: String): DataFrame = {
    val wIdx = Window.partitionBy(col("__g")).orderBy(col("__b"))
    val d = series.select(col(groupCol).as("__g"), col(bucketCol).as("__b"),
        col(valueCol).cast("long").as("__x"))
      .withColumn("__t", row_number().over(wIdx).cast("long"))
    val a = d.select(col("__g"), col("__t").as("__i"), col("__x"))
    val b = d.select(col("__g").as("__g2"), col("__t").as("__j"),
      col("__x").as("__x2"))
    val pairs = a.join(b, col("__g") === col("__g2") && col("__i") < col("__j"))
      .select(col("__g"), col("__i"), col("__j"),
        when(col("__x") > col("__x2"), 1L)
          .when(col("__x") < col("__x2"), -1L).otherwise(0L).as("__s"))
    val em = pairs.select(col("__g"), col("__i").as("__t"), col("__s"))
      .unionAll(pairs.select(col("__g"), col("__j").as("__t"),
        negate(col("__s")).as("__s")))
    val u = em.groupBy(col("__g"), col("__t")).agg(sum("__s").as("__d"))
      .withColumn("__u",
        sum("__d").over(Window.partitionBy(col("__g")).orderBy(col("__t"))))
    val k = u.groupBy(col("__g")).agg(max(abs(col("__u"))).as("__k"))
    val tStar = u.join(k, Seq("__g"))
      .filter(abs(col("__u")) === col("__k"))
      .groupBy(col("__g"), col("__k")).agg(min(col("__t")).as("t_star"))
    val n = d.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val dd = d.select(col("__g").as("__g3"), col("__t").as("__t3"), col("__b"))
    val dec = "decimal(38,0)"
    val nCubed = (col("__n") * col("__n") * col("__n")).cast("double") +
      (col("__n") * col("__n")).cast("double")
    n.join(tStar, Seq("__g"))
      .join(dd, col("__t3") === col("t_star") && col("__g3") === col("__g"))
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n"),
        col("__k").cast("long").as("k"), col("t_star").cast("long").as("t_star"),
        col("__b").as("break_bucket"),
        Num.roundz(least(lit(2.0) * exp(negate(lit(6.0) * col("__k") * col("__k")) /
          nCubed), lit(1.0)), 4).as("p_approx"),
        (lit(6000000L).cast(dec) * col("__k").cast(dec) * col("__k").cast(dec) >
          lit(3688879L).cast(dec) * (col("__n").cast(dec) * col("__n").cast(dec) *
            col("__n").cast(dec) + col("__n").cast(dec) * col("__n").cast(dec)))
          .as("break_flag"))
  }

  /** Lagged cross-correlation between two aligned daily series — the
    * lead/lag readout ("do views at day t predict purchases at t+lag?").
    * For each lag 0..maxLag, Pearson r over the overlapping days from ONE
    * exact-integer sufficient-statistics aggregate per lag:
    * r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)), double only at the
    * final per-lag row, 4-dp display.
    *
    * Scale shape: the daily frame is calendar-sized; lags fan it out
    * |lags|× (a handful) and each lag reduces to one row of exact longs.
    * Raw events are touched once, in the caller's daily aggregate. */
  def crossCorrLagged(daily: DataFrame, bucketCol: String, xCol: String,
                      yCol: String, maxLag: Int = 3): DataFrame = {
    val lags = daily.sparkSession.range(0, maxLag + 1)
      .select(col("id").cast("int").as("__lag"))
    val xs = daily.select(col(bucketCol).as("__d"), col(xCol).cast("long").as("__x"))
    val ys = daily.select(col(bucketCol).as("__d2"), col(yCol).cast("long").as("__y"))
    xs.crossJoin(broadcast(lags))
      .join(ys, col("__d2") === date_add(col("__d"), col("__lag")))
      .groupBy(col("__lag"))
      .agg(count(lit(1)).as("__n"), sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .select(col("__lag").cast("long").as("lag"),
        col("__n").cast("long").as("n_days"),
        when(
          col("__n") * col("__sxx") - col("__sx") * col("__sx") > 0 &&
            col("__n") * col("__syy") - col("__sy") * col("__sy") > 0,
          Num.roundz((col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
            sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double") *
              (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double")), 4))
          .as("r"))
  }

  /** Welch's unequal-variance t-test per group between two arms — the
    * default two-sample mean test for experiment readouts where the z-test
    * (q- uplift family) assumes a known/pooled variance it doesn't have.
    * All sufficient statistics are EXACT: per-arm n (long), Σx (long
    * units), Σx² (decimal(38,0) — the per-row square can pass Long under
    * large units × deep groups); the sample variance uses the
    * overflow-safe identity (n·Σx² − (Σx)²)/(n·(n−1)) on decimals. The
    * t statistic and the Welch–Satterthwaite df are then plain double
    * arithmetic over those exact integers — both engines evaluate the
    * SAME expression tree on the SAME doubles, and sqrt is IEEE
    * correctly-rounded in both, so full-precision values agree bit-for-bit
    * before the 4-dp display rounds. The 5% flag compares |t| against
    * 1.96 on the full-precision double (not the display value).
    *
    * Groups need ≥ 2 rows per arm and a nonzero variance sum — degenerate
    * groups drop in both engines.
    *
    * Scale shape: ONE aggregate over raw rows with map-side combine
    * (per-(group, arm) partials), a |groups|-row self-merge, no window,
    * ≤ |groups| output rows. */
  def welchTTest(df: DataFrame, groupCol: String, armCol: String,
                 unitsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val stats = df
      .filter(when(col(armCol).isin(0, 1), lit(true)).otherwise(raise_error(
        lit("welchTTest: arm must be 0 or 1"))))
      .groupBy(col(groupCol).as("__g"))
      .agg(
        sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col(armCol) === 0, col(unitsCol).cast("long")).otherwise(0L)).as("__sa"),
        sum(when(col(armCol) === 0,
          (col(unitsCol).cast("long") * col(unitsCol).cast("long")).cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__qa"),
        sum(when(col(armCol) === 1, 1L).otherwise(0L)).as("__nb"),
        sum(when(col(armCol) === 1, col(unitsCol).cast("long")).otherwise(0L)).as("__sb"),
        sum(when(col(armCol) === 1,
          (col(unitsCol).cast("long") * col(unitsCol).cast("long")).cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__qb"))
      .filter(col("__na") >= 2 && col("__nb") >= 2)
    // exact-integer variance numerators, then one double chain
    val va = (col("__na").cast(dec) * col("__qa") -
      col("__sa").cast(dec) * col("__sa").cast(dec)).cast("double") /
      (col("__na").cast("double") * (col("__na") - 1).cast("double"))
    val vb = (col("__nb").cast(dec) * col("__qb") -
      col("__sb").cast(dec) * col("__sb").cast(dec)).cast("double") /
      (col("__nb").cast("double") * (col("__nb") - 1).cast("double"))
    stats
      .withColumn("__wa", va / col("__na").cast("double"))
      .withColumn("__wb", vb / col("__nb").cast("double"))
      .filter(col("__wa") + col("__wb") > 0)
      .withColumn("__t",
        (col("__sa").cast("double") / col("__na") -
          col("__sb").cast("double") / col("__nb")) /
          sqrt(col("__wa") + col("__wb")))
      .select(col("__g").as(groupCol),
        col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
        Num.roundz(col("__t"), 4).as("t_stat"),
        Num.roundz((col("__wa") + col("__wb")) * (col("__wa") + col("__wb")) /
          (col("__wa") * col("__wa") / (col("__na") - 1).cast("double") +
            col("__wb") * col("__wb") / (col("__nb") - 1).cast("double")), 4)
          .as("df"),
        (abs(col("__t")) > lit(1.96)).as("sig_flag"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    * per-user pre-period activity is the covariate, θ = cov(x,y)/var(x)
    * pooled, and the adjusted arm difference is
    * (ȳ_A − ȳ_B) − θ·(x̄_A − x̄_B) — same expectation as the raw diff,
    * variance shrunk by the covariate's R². The pre/post boundary anchors
    * on the DATA (min day + `preDays`), not the wall clock, so a testdata
    * regeneration moves the split with it.
    *
    * Exactness: one aggregate produces every sufficient statistic —
    * per-user cent sums as longs, Σx², Σxy and per-arm sums on
    * decimal(38,0) — and θ/means/diffs are one double chain over those
    * exact integers (identical expression tree both engines; the q244
    * discipline). Degenerate variance (n·Σx² = (Σx)²) drops the row.
    *
    * Scale shape: raw rows collapse ONCE to the per-user (x, y) frame
    * (user-keyed, map-side combined), then ONE global aggregate with
    * map-side partials; 1 output row. No window, no join. */
  def cuped(events: DataFrame, userCol: String, armCol: String,
            dayCol: String, unitsCol: String, preDays: Int = 15): DataFrame = {
    val dec = "decimal(38,0)"
    val anchor = events.agg(min(col(dayCol)).as("__d0"))
    val per = events
      .filter(when(col(armCol).isin(0, 1), lit(true)).otherwise(raise_error(
        lit("cuped: arm must be 0 or 1"))))
      .crossJoin(broadcast(anchor))
      .withColumn("__pre", col(dayCol) < date_add(col("__d0"), preDays))
      .groupBy(col(userCol).as("__u"), col(armCol).as("__arm"))
      .agg(sum(when(col("__pre"), col(unitsCol)).otherwise(0L)).as("__x"),
        sum(when(!col("__pre"), col(unitsCol)).otherwise(0L)).as("__y"))
    val s = per.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x").cast(dec) * col("__x")).as("__sxx"),
      sum(col("__x").cast(dec) * col("__y")).as("__sxy"),
      sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("__na"),
      sum(when(col("__arm") === 0, col("__x")).otherwise(0L)).as("__sxa"),
      sum(when(col("__arm") === 0, col("__y")).otherwise(0L)).as("__sya"),
      sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("__nb"),
      sum(when(col("__arm") === 1, col("__x")).otherwise(0L)).as("__sxb"),
      sum(when(col("__arm") === 1, col("__y")).otherwise(0L)).as("__syb"))
    val theta = (col("__n").cast(dec) * col("__sxy") -
      col("__sx").cast(dec) * col("__sy")).cast("double") /
      (col("__n").cast(dec) * col("__sxx") -
        col("__sx").cast(dec) * col("__sx")).cast("double")
    val rawDiff = col("__sya").cast("double") / col("__na") -
      col("__syb").cast("double") / col("__nb")
    val xDiff = col("__sxa").cast("double") / col("__na") -
      col("__sxb").cast("double") / col("__nb")
    s.filter(col("__na") > 0 && col("__nb") > 0 &&
        col("__n").cast(dec) * col("__sxx") =!=
          col("__sx").cast(dec) * col("__sx"))
      .select(col("__n").cast("long").as("n_users"),
        col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
        Num.roundz(theta, 4).as("theta"),
        Num.roundz(rawDiff, 4).as("diff_raw"),
        Num.roundz(rawDiff - theta * xDiff, 4).as("diff_adj"))
  }

  /** Sequential experiment monitor — the "peeking curve" per metric: the
    * cumulative two-arm count difference day by day, with the FIRST day
    * the running two-proportion statistic crosses the 5% bound and the
    * final state. This is the op behind "when could we have stopped?"
    * retros and naive-peeking audits (if first_sig_day ≪ the planned
    * horizon, someone peeking daily at fixed α would have stopped early —
    * the documented multiple-looks inflation this table makes visible;
    * q245's BH is the across-metrics correction, this exposes the
    * across-TIME one).
    *
    * Exactness: the crossing decides on EXACT integers —
    * (nA−nB)²·10⁴ > 38416·(nA+nB) on decimal(38,0) (1.96² = 3.8416, the
    * ksDrift/srm convention) — so first_sig_day needs no float anywhere;
    * the final z is 4-dp display from one double chain.
    *
    * Scale shape: raw rows collapse to the (group, day, arm) frame ONCE;
    * cumulative sums and the min-crossing/last-day picks run
    * group-partitioned over the day-bounded frame (the mannKendall
    * discipline); ≤ |groups| output rows. */
  def sequentialMonitor(df: DataFrame, groupCol: String, armCol: String,
                        dayCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = df
      .filter(when(col(armCol).isin(0, 1), lit(true)).otherwise(raise_error(
        lit("sequentialMonitor: arm must be 0 or 1"))))
      .groupBy(col(groupCol).as("__g"), col(dayCol).as("__d"))
      .agg(sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("__a"),
        sum(when(col(armCol) === 1, 1L).otherwise(0L)).as("__b"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("__ca", sum(col("__a")).over(w))
      .withColumn("__cb", sum(col("__b")).over(w))
      .withColumn("__diff", col("__ca") - col("__cb"))
      .withColumn("__n", col("__ca") + col("__cb"))
      .withColumn("__sig",
        col("__diff").cast(dec) * col("__diff").cast(dec) * lit(10000L).cast(dec) >
          lit(38416L).cast(dec) * col("__n").cast(dec))
    cum.groupBy(col("__g"))
      .agg(count(lit(1)).as("__days"),
        min(when(col("__sig"), col("__d"))).as("first_sig_day"),
        max(struct(col("__d"), col("__diff"), col("__n"))).as("__last"))
      .select(col("__g").as(groupCol), col("__days").cast("long").as("n_days"),
        col("first_sig_day"),
        col("__last.__diff").cast("long").as("final_diff"),
        col("__last.__n").cast("long").as("final_n"),
        Num.roundz(col("__last.__diff").cast("double") /
          sqrt(col("__last.__n").cast("double")), 4).as("final_z"))
  }

  /** F1-optimal operating point for an integer scorer against a boolean
    * label — the threshold-selection step between "we trained a scorer"
    * (q230/q34/q51) and "the curation gate ships": sweep every distinct
    * score value t (predict positive when score ≥ t), pick the t
    * maximizing F1. Uses the identity F1(t) = 2·TP(t)/(cum(t) + P) where
    * cum(t) = TP+FP is the count at-or-above t — so the whole sweep is
    * two descending prefix sums over the SCORE HISTOGRAM (value-domain
    * rows, the q65 discipline), not a per-row scan per candidate.
    *
    * Exactness: the argmax compares exact MICRO F1 longs
    * ((2·TP·10⁶) div (cum+P) — fits Long to ~4·10¹² rows) via one
    * struct-max, ties to the LARGER threshold; precision/recall-style
    * display is one 4-dp division. No positives ⇒ no row (both engines).
    *
    * Scale shape: one histogram aggregate with map-side combine, two
    * [[TwoPhase.prefixSum]] passes over |distinct scores| rows (no
    * single-partition window), a 1-row struct-max. */
  def bestF1Threshold(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val hist = df.groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__np"),
        count(lit(1)).as("__nc"))
      .withColumn("__negs", -col("__s"))
    val (withTp, totPos) = TwoPhase.prefixSum(
      hist, col("__negs"), Seq(col("__negs")), col("__np"), "__tp")
    val (withCn, _) = TwoPhase.prefixSum(
      withTp, col("__negs"), Seq(col("__negs")), col("__nc"), "__cn")
    withCn
      .filter(lit(totPos) > 0)
      .select(col("__s"), col("__tp"), col("__cn"),
        expr(s"(2 * __tp * 1000000) div (__cn + $totPos)").as("__f1m"))
      .agg(max(struct(col("__f1m"), col("__s"), col("__tp"), col("__cn"))).as("__b"))
      // a global agg over zero rows still emits one (all-null) row — drop it
      .filter(col("__b").isNotNull)
      .select(col("__b.__s").cast("long").as("threshold"),
        col("__b.__tp").cast("long").as("tp"),
        (col("__b.__cn") - col("__b.__tp")).cast("long").as("fp"),
        (lit(totPos) - col("__b.__tp")).cast("long").as("fn"),
        Num.roundz(lit(2.0) * col("__b.__tp") /
          (col("__b.__cn") + lit(totPos.toDouble)), 4).as("f1"))
  }

  /** Benjamini–Hochberg FDR correction over a FAMILY of per-test
    * p-values — the multiple-testing step every per-segment drift/
    * significance table (q221, q210, q213…) needs before anyone acts on
    * "23 of 40 segments flagged": rank p ascending, reject ranks ≤ k* =
    * max{i : p₍ᵢ₎ ≤ q·i/m}. Deterministic because both engines rank the
    * SAME doubles (p must arrive computed from exact integers by an
    * identical formula) with ties broken by the test id, and the
    * acceptance inequality is evaluated on the same doubles.
    *
    * Scale shape: the input is an ALREADY-AGGREGATED one-row-per-test
    * frame (|tests| = segments, not raw data); the rank window and the
    * k* aggregate run over that metadata frame, with k* re-broadcast.
    * `qPct` is the FDR level in percent (5 → 0.05). */
  def bhAdjust(tests: DataFrame, testCol: String, pCol: String,
               qPct: Int = 5): DataFrame = {
    val w = Window.orderBy(col(pCol).asc, col(testCol).asc)
    // |tests|-row metadata frame: the single-partition rank window is the
    // deliberate exception to the two-phase rule (same as q215's rank
    // over the aggregated term frame)
    val ranked = tests
      // p must be a real p-value: Spark's ORDER BY ranks NULL first while
      // DuckDB ranks it last, so a NULL would silently take rank 1 and
      // shift every rejection — fail loudly instead (welchTTest convention)
      .filter(when(col(pCol).isNotNull && col(pCol) >= 0 && col(pCol) <= 1,
        lit(true)).otherwise(raise_error(
        lit("bhAdjust: p-values must be non-null and in [0, 1]"))))
      .withColumn("__rank", row_number().over(w))
      .crossJoin(broadcast(tests.agg(count(lit(1)).as("__m"))))
      .withColumn("__ok",
        col(pCol) * lit(100.0) * col("__m") <= col("__rank") * lit(qPct.toDouble))
    val kStar = ranked.agg(coalesce(max(when(col("__ok"), col("__rank"))), lit(0))
      .as("__k"))
    ranked.crossJoin(broadcast(kStar))
      .select(col(testCol), col(pCol),
        col("__rank").cast("long").as("rank"),
        (col("__rank") <= col("__k")).as("rejected"))
  }

  /** Earth-mover (1-Wasserstein) drift per group vs the rest of the
    * corpus — [[ksDriftByGroup]]'s integrating twin: KS reads the single
    * WORST CDF gap (sensitive to one sharp shift, blind to how long it
    * persists), EMD integrates |CDF_g − CDF_rest| over the value domain,
    * so a broad small shift and a narrow large one rank differently —
    * the distance that prices "how much value actually moved", in the
    * unit's own scale. On the discrete unit grid EMD = Σᵢ |cumdiff(uᵢ)| ·
    * (uᵢ₊₁ − uᵢ): the CDF gap is constant between observed units, so the
    * gap-weighted sum over the grid is EXACT, not an approximation.
    *
    * Exactness: cumdiff numerators are the same cross-multiplied integers
    * as KS (cumG·nr − (cumAll−cumG)·ng); each term × its unit gap rides
    * decimal(38,0) (n²·domain-width can pass Long); the surfaced
    * `emd_units` = emd_num/(ng·nr) is ONE 4-dp display division. The last
    * grid row has no successor — its gap coalesces to 0, and its cumdiff
    * is identically 0 there anyway (both CDFs have reached 1).
    *
    * Scale shape: identical to [[ksDriftByGroup]] — one (group, unit)
    * count shuffle (checkpointed), zero-filled grid bounded by
    * |groups| × |unit-domain|, group-partitioned windows (the cum sums and
    * the unit lead share ONE exchange), ≤ |groups| output rows. */
  def emdDriftByGroup(df: DataFrame, groupCol: String, unitsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val (grid, w, grand) = ecdfGrid(df, groupCol, unitsCol)
    val cums = grid
      .withColumn("__gap", coalesce(lead(col("__u"), 1).over(w) - col("__u"), lit(0L)))
      .crossJoin(broadcast(grand))
      .withColumn("__nr", col("__n") - col("__ng"))
      .withColumn("__term",
        (abs(col("__cumG") * col("__nr") - (col("__cumAll") - col("__cumG")) * col("__ng"))
          .cast(dec) * col("__gap").cast(dec)))
    cums
      .groupBy(col("__g"), col("__ng"), col("__nr"))
      .agg(sum(col("__term")).as("__emd"))
      .filter(col("__ng") > 0 && col("__nr") > 0)
      .select(col("__g").as(groupCol), col("__ng").cast("long").as("n_group"),
        col("__nr").cast("long").as("n_rest"),
        col("__emd").cast("long").as("emd_num"),
        Num.roundz(col("__emd").cast("double") /
          (col("__ng").cast("double") * col("__nr").cast("double")), 4)
          .as("emd_units"))
  }

  /** Seasonal-naive backtest per group over an ALREADY-BUCKETED daily
    * series: predict each day with the value `season` days earlier, then
    * score the prediction — the mandatory accuracy floor before any
    * smoothing forecast (q200's Holt, q181's EWMA) is trusted, and the
    * drift tripwire when a pipeline's "same day last week" assumption
    * quietly breaks. Days without a predecessor (the first `season` days
    * of each group) are excluded from scoring in both engines.
    *
    * Error discipline: SAE = Σ|c−p| is an exact long; MAE is that one
    * exact ratio at 4-dp display; MAPE rides basis points with per-day
    * FLOOR division ((10⁴·|c−p|) div c, c ≥ 1 since buckets come from
    * counts) summed as exact longs then floor-divided by n — no float
    * accumulates anywhere, so the metric is order-free.
    *
    * Scale shape: the self-join runs on the aggregated (group, day) frame
    * (calendar-bounded metadata, never raw events — the
    * mannKendall/autocorr discipline), keyed on (group, day): co-partition
    * friendly, no window, ≤ |groups| output rows. */
  def seasonalNaiveError(series: DataFrame, groupCol: String, dayCol: String,
                         valueCol: String, season: Int = 7): DataFrame = {
    val actual = series.select(col(groupCol).as("__g"), col(dayCol).as("__d"),
      col(valueCol).cast("long").as("__c"))
      // the MAPE term divides by the actual: a zero/negative bucket would
      // yield NULL here (silently dropped from the sum) while the DuckDB
      // oracle's `//` raises — enforce the documented c ≥ 1 precondition
      // loudly for the general valueCol API (count buckets satisfy it free)
      .filter(when(col("__c") >= 1, lit(true)).otherwise(raise_error(
        lit("seasonalNaiveError: bucket values must be >= 1 (MAPE divides by the actual)"))))
    val pred = series.select(col(groupCol).as("__g"),
      date_add(col(dayCol), season).as("__d"), col(valueCol).cast("long").as("__p"))
    actual.join(pred, Seq("__g", "__d"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(abs(col("__c") - col("__p"))).as("__sae"),
        sum(expr("(10000 * abs(__c - __p)) div __c")).as("__sape"))
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n_days"),
        col("__sae").cast("long").as("sae"),
        Num.roundz(col("__sae").cast("double") / col("__n"), 4).as("mae"),
        expr("__sape div __n").cast("long").as("mape_bp"))
  }

  /** Calibration (reliability) bins for an integer score in [0, maxUnits]
    * against a boolean label: per decile-of-score, the mean predicted
    * score vs the observed positive rate and their gap — the standard
    * check before a classifier's scores are trusted as selection
    * probabilities in a curation pipeline. Scores above `maxUnits` clamp
    * into the top bin; NEGATIVE scores clamp into bin 0 with the
    * contribution clamped to 0 — the SAME clamp the oracle SQL applies, so
    * out-of-domain inputs (a refund-style negative cents value in a future
    * testdata generation) keep the engines aligned instead of one raising
    * where the other bins (advisor note, round 10). All three surfaced
    * ratios are 4-dp display computed from exact integer sums; bin
    * assignment is integer floor division (`div`), identical to the
    * oracle's `//`.
    *
    * Scale shape: one aggregate over raw rows with map-side combine,
    * ≤ `bins` output rows, no join, no window. */
  def calibrationBins(df: DataFrame, labelCol: String, unitsCol: String,
                      bins: Int = 10, maxUnits: Long = 10000L): DataFrame = {
    val capped = greatest(lit(0L),
      least(col(unitsCol).cast("long"), lit(maxUnits)))
    val bin = least(expr(s"(greatest(least(CAST($unitsCol AS BIGINT), " +
      s"$maxUnits), 0) * $bins) div $maxUnits"), lit(bins - 1L)).cast("long")
    df
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("__n"), sum(capped).as("__s"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"))
      .select(col("bin"), col("__n").cast("long").as("n"),
        Num.roundz(col("__s").cast("double") /
          (col("__n").cast("double") * lit(maxUnits.toDouble)), 4).as("mean_score"),
        Num.roundz(col("__p").cast("double") / col("__n").cast("double"), 4).as("pos_rate"),
        Num.roundz(col("__p").cast("double") / col("__n").cast("double") -
          col("__s").cast("double") / (col("__n").cast("double") *
            lit(maxUnits.toDouble)), 4).as("gap"))
  }
}
