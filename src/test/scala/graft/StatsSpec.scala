package graft

import org.apache.spark.sql.functions._
import graft.ops.{Relational, Stats, TextAnalysis}

class StatsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- psiDrift

  test("psiDrift: identical distributions score ~0, shifted ones > 0") {
    val same = (0 until 100).flatMap(i => Seq(("g", "a", (i % 10) * 5000L),
      ("g", "b", (i % 10) * 5000L))).toDF("g", "p", "v")
    val Array((na, nb, psi0)) = Stats.psiDrift(same, "g", "v", "p")
      .select("n_a", "n_b", "psi").as[(Long, Long, Double)].collect()
    assert(na == 100L && nb == 100L && psi0 == 0.0)

    // period b collapses into bin 0 — a gross shift must score big
    val shifted = (0 until 100).flatMap(i =>
      Seq(("g", "a", (i % 10) * 5000L), ("g", "b", 0L))).toDF("g", "p", "v")
    val psi = Stats.psiDrift(shifted, "g", "v", "p")
      .select("psi").as[Double].head()
    assert(psi > 1.0, s"expected gross drift to score > 1, got $psi")
  }

  test("psiDrift: a bin empty in BOTH periods still contributes its smoothed term") {
    // all mass in bin 0 for both periods, but with different counts: the
    // smoothed probabilities differ in EVERY bin, including the 9 empty ones
    val df = ((0 until 40).map(_ => ("g", "a", 0L)) ++
      (0 until 10).map(_ => ("g", "b", 0L))).toDF("g", "p", "v")
    val psi = Stats.psiDrift(df, "g", "v", "p").select("psi").as[Double].head()
    // hand-computed: pa0=41/50, pb0=11/20, empty bins pa=1/50 vs pb=1/20
    val t0 = (41.0 / 50 - 11.0 / 20) * math.log((41.0 / 50) / (11.0 / 20))
    val te = (1.0 / 50 - 1.0 / 20) * math.log((1.0 / 50) / (1.0 / 20))
    val expect = BigDecimal(t0 + 9 * te).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(math.abs(psi - expect.toDouble) < 1e-9, s"got $psi want $expect")
  }

  test("psiDrift rejects negative values and unknown period labels") {
    val bad = Seq(("g", "a", -1L)).toDF("g", "p", "v")
    val e = intercept[Exception](Stats.psiDrift(bad, "g", "v", "p").collect())
    assert(e.getMessage.contains("psiDrift"))
    val badP = Seq(("g", "x", 1L)).toDF("g", "p", "v")
    val e2 = intercept[Exception](Stats.psiDrift(badP, "g", "v", "p").collect())
    assert(e2.getMessage.contains("psiDrift"))
  }

  // -------------------------------------------------------- pearsonByGroup

  test("pearsonByGroup: perfect line r=1, anti-line r=-1, constant is NULL") {
    val df = Seq(
      ("up", 1L, 10L), ("up", 2L, 20L), ("up", 3L, 30L),
      ("dn", 1L, 30L), ("dn", 2L, 20L), ("dn", 3L, 10L),
      ("fl", 1L, 5L), ("fl", 2L, 5L), ("fl", 3L, 5L)
    ).toDF("g", "x", "y")
    val out = Stats.pearsonByGroup(df, "g", "x", "y")
      .orderBy("g").as[(String, Long, Option[Double])].collect().toSeq
    assert(out == Seq(("dn", 3L, Some(-1.0)), ("fl", 3L, None), ("up", 3L, Some(1.0))))
  }

  test("pearsonByGroup matches Spark's corr to 4 dp on noisy data") {
    val df = (1 to 200).map(i =>
      ("g", i.toLong, (i * 3 + (i * 2654435761L % 97) - 48).toLong))
      .toDF("g", "x", "y")
    val r = Stats.pearsonByGroup(df, "g", "x", "y").select("r").as[Double].head()
    val ref = df.agg(corr(col("x").cast("double"), col("y").cast("double")))
      .as[Double].head()
    assert(math.abs(r - ref) < 5e-5, s"exact-sum r=$r vs streaming corr=$ref")
  }

  // ----------------------------------------------------- categoricalEntropy

  test("categoricalEntropy: uniform = ln(k), degenerate = 0, counts exact") {
    val df = (Seq.fill(10)(("uni", "a")) ++ Seq.fill(10)(("uni", "b")) ++
      Seq.fill(10)(("uni", "c")) ++ Seq.fill(10)(("uni", "d")) ++
      Seq.fill(7)(("one", "z"))).toDF("g", "cat")
    val out = Stats.categoricalEntropy(df, "g", "cat")
      .orderBy("g").as[(String, Long, Long, Double)].collect().toSeq
    val ln4 = BigDecimal(math.log(4)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(out == Seq(("one", 7L, 1L, 0.0), ("uni", 40L, 4L, ln4.toDouble)))
  }

  test("categoricalEntropy is bit-identical across partition counts") {
    val rows = (0 until 500).map(i => (s"g${i % 3}", s"c${i % 7}"))
    val a = Stats.categoricalEntropy(rows.toDF("g", "cat").repartition(1), "g", "cat")
      .orderBy("g").as[(String, Long, Long, Double)].collect().toSeq
    val b = Stats.categoricalEntropy(rows.toDF("g", "cat").repartition(13), "g", "cat")
      .orderBy("g").as[(String, Long, Long, Double)].collect().toSeq
    assert(a == b)
  }

  // -------------------------------------------------------- conversionLift

  test("conversionLift: exact counts, floor basis points, z sign and baseline") {
    val df = (Seq.fill(100)(("d1", "view")) ++ Seq.fill(30)(("d1", "purchase")) ++
      Seq.fill(100)(("d2", "view")) ++ Seq.fill(10)(("d2", "purchase")) ++
      Seq.fill(5)(("d1", "click"))).toDF("day", "et")
    val out = Stats.conversionLift(df, "day", "et", "view", "purchase")
      .orderBy("day").as[(String, Long, Long, Long, Double)].collect().toSeq
    // pooled p0 = 40/200 = 0.2
    assert(out.map(r => (r._1, r._2, r._3, r._4)) ==
      Seq(("d1", 100L, 30L, 3000L), ("d2", 100L, 10L, 1000L)))
    val z1 = out.head._5; val z2 = out(1)._5
    assert(z1 > 0 && z2 < 0, s"lift signs wrong: $z1, $z2")
    val se = math.sqrt(0.2 * 0.8 / 100)
    assert(math.abs(z1 - (0.3 - 0.2) / se) < 1e-3)
  }

  test("conversionLift drops groups with zero exposures instead of dividing by 0") {
    val df = Seq(("d1", "view"), ("d1", "purchase"), ("d2", "click")).toDF("day", "et")
    val out = Stats.conversionLift(df, "day", "et", "view", "purchase")
    assert(out.select("day").as[String].collect().toSeq == Seq("d1"))
  }

  test("conversionLift: z is NULL when the pooled rate is not a proportion") {
    // conversions EXCEED exposures (the types aren't nested) — the pooled
    // rate is > 1, so z must surface NULL, never NaN / sqrt-of-negative
    val df = (Seq.fill(10)(("d1", "view")) ++ Seq.fill(30)(("d1", "purchase")))
      .toDF("day", "et")
    val out = Stats.conversionLift(df, "day", "et", "view", "purchase")
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(("d1", 10L, 30L, 30000L, None)))
  }

  // ---------------------------------------------------------- resampleLocf

  test("resampleLocf: gaps densified, flagged, and carried forward") {
    val df = Seq(
      ("k", "2024-01-01 00:10:00", 5L),
      ("k", "2024-01-01 00:50:00", 7L),   // hour 00: cnt 2, sum 12
      ("k", "2024-01-01 03:00:00", 9L)    // hours 01,02 are gaps
    ).toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = Relational.resampleLocf(df, "k", "ts", "v")
      .select(col("k"), date_format(col("bucket"), "HH").as("h"),
        col("cnt"), col("filled"), col("locf"))
      .orderBy("h").as[(String, String, Long, Boolean, Long)].collect().toSeq
    assert(out == Seq(
      ("k", "00", 2L, false, 12L),
      ("k", "01", 0L, true, 12L),
      ("k", "02", 0L, true, 12L),
      ("k", "03", 1L, false, 9L)))
  }

  test("resampleLocf spans are PER KEY, not global") {
    val df = Seq(
      ("a", "2024-01-01 00:00:00", 1L),
      ("a", "2024-01-01 01:00:00", 2L),
      ("b", "2024-01-01 05:00:00", 3L)
    ).toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = Relational.resampleLocf(df, "k", "ts", "v")
    assert(out.count() == 3) // key b contributes ONE bucket, not hours 0-5
  }

  // ------------------------------------------------------------ pmiBigrams

  test("pmiBigrams: hand-computed pmi on a tiny corpus, floor applied") {
    // corpus: "x y" twice, "x z" once → Nu=6, Nb=3; cb(x,y)=2, cx=3, cy=2
    val docs = Seq("x y", "x y", "x z").toDF("text")
    val out = TextAnalysis.pmiBigrams(docs, "text", minCount = 2L)
      .as[(String, String, Long, Double)].collect().toSeq
    val expect = math.log(2.0) - math.log(3.0) - math.log(3.0) - math.log(2.0) +
      2.0 * math.log(6.0)
    val e4 = BigDecimal(expect).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(out == Seq(("x", "y", 2L, e4.toDouble)))
  }

  // ------------------------------------------------------------ mutualInfo

  test("mutualInfo: independent columns score ~0, copies score ln(k)") {
    // x uniform over 2 values, y uniform over 2 values, fully crossed →
    // independent → MI = 0 exactly (every cell term cancels)
    val ind = (0 until 40).map(i => ("g", s"x${i % 2}", (i / 2 % 2).toLong))
      .toDF("g", "x", "y")
    val mi0 = Stats.mutualInfo(ind, "g", "x", "y").select("mi").as[Double].head()
    assert(mi0 == 0.0, s"independent MI should be 0, got $mi0")

    // y is a copy of x over 4 symbols → MI = H(x) = ln 4
    val dep = (0 until 40).map(i => ("g", s"x${i % 4}", (i % 4).toLong))
      .toDF("g", "x", "y")
    val mi = Stats.mutualInfo(dep, "g", "x", "y").select("mi").as[Double].head()
    val ln4 = BigDecimal(math.log(4)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(mi == ln4.toDouble, s"copy MI should be ln4, got $mi")
  }

  test("mutualInfo is bit-identical across partition counts") {
    val rows = (0 until 300).map(i => (s"g${i % 2}", s"x${i % 5}", (i % 3).toLong))
    val a = Stats.mutualInfo(rows.toDF("g", "x", "y").repartition(1), "g", "x", "y")
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    val b = Stats.mutualInfo(rows.toDF("g", "x", "y").repartition(17), "g", "x", "y")
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("pmiBigrams: multi-space runs never create empty-token bigrams") {
    val docs = Seq("a  b", "a \t b", "a b").toDF("text")
    val out = TextAnalysis.pmiBigrams(docs, "text", minCount = 3L)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq(("a", "b", 3L)))
  }

  // ----------------------------------------------------------- giniByGroup

  test("giniByGroup: perfect equality 0, one-holder max (n-1)/n, zero-sum NULL") {
    val df = (Seq.fill(4)(("eq", 5L)) ++
      Seq(("one", 0L), ("one", 0L), ("one", 0L), ("one", 10L)) ++
      Seq(("z", 0L), ("z", 0L))).toDF("g", "v")
    val out = Stats.giniByGroup(df, "g", "v")
      .orderBy("g").as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      ("eq", 4L, 20L, Some(0.0)),
      ("one", 4L, 10L, Some(0.75)),   // (n-1)/n with n=4
      ("z", 2L, 0L, None)))
  }

  test("giniByGroup: tie runs are order-invariant and match the itemized formula") {
    // values [1,1,2,4]: Σ i·x with ties 1,1 at ranks 1,2 = 1+2+6+16 = 25
    // G = 2·25/(4·8) − 5/4 = 1.5625 − 1.25 = 0.3125
    val df = Seq(("g", 2L), ("g", 1L), ("g", 4L), ("g", 1L)).toDF("g", "v")
    val a = Stats.giniByGroup(df.repartition(1), "g", "v")
      .select("gini").as[Double].head()
    val b = Stats.giniByGroup(df.repartition(7), "g", "v")
      .select("gini").as[Double].head()
    assert(a == 0.3125 && b == 0.3125)
  }

  test("giniByGroup rejects negative values in-plan") {
    val e = intercept[Exception](
      Stats.giniByGroup(Seq(("g", -1L)).toDF("g", "v"), "g", "v").collect())
    assert(e.getMessage.contains("giniByGroup"))
  }

  // ------------------------------------------------------------ hhiByGroup

  test("hhiByGroup: uniform k categories = 1/k, single category = 1") {
    val df = ((0 until 40).map(i => ("uni", s"c${i % 4}")) ++
      Seq.fill(9)(("mono", "only"))).toDF("g", "cat")
    val out = Stats.hhiByGroup(df, "g", "cat")
      .orderBy("g").as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("mono", 9L, 1L, 1.0), ("uni", 40L, 4L, 0.25)))
  }

  // ------------------------------------------------------ cusumChangepoint

  test("cusumChangepoint: peak lands on the last pre-break bucket, exact longs") {
    // counts [10,10,10,2]: K=4, S=32, K·x−S = [8,8,8,−24], cusum [8,16,24,0]
    val s = Seq(("g", "d1", 10L), ("g", "d2", 10L), ("g", "d3", 10L), ("g", "d4", 2L))
      .toDF("g", "day", "x")
    val out = Stats.cusumChangepoint(s, "g", "day", "x")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(out == Seq(("g", 4L, 24L, "d3")))
  }

  test("cusumChangepoint: tied peaks resolve to the EARLIEST bucket") {
    // counts [10,2,10,2]: cusum [16,0,16,0] — d1 and d3 tie at 16
    val s = Seq(("g", "d1", 10L), ("g", "d2", 2L), ("g", "d3", 10L), ("g", "d4", 2L))
      .toDF("g", "day", "x")
    val out = Stats.cusumChangepoint(s, "g", "day", "x")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(out == Seq(("g", 4L, 16L, "d1")))
  }

  test("cusumChangepoint: a flat series peaks at 0 on its first bucket") {
    val s = Seq(("g", "d1", 5L), ("g", "d2", 5L), ("g", "d3", 5L)).toDF("g", "day", "x")
    val out = Stats.cusumChangepoint(s, "g", "day", "x")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(out == Seq(("g", 3L, 0L, "d1")))
  }

  // ------------------------------------------------------------ rfmSegments

  test("rfmSegments: discrete tercile scores with inverted recency") {
    // user k (1..9): k events, all on day 10−k, 100 cents each →
    // recency = k−1 (0..8), frequency = k, monetary = 100k.
    // Discrete cuts (cum ≥ p over 9 values): r33=2, r67=6; f33=3, f67=7;
    // m33=300, m67=700 → k≤3 score "311", k=4..7 "222", k≥8 "133".
    val rows = (1 to 9).flatMap(k =>
      Seq.fill(k)((k.toLong, f"2024-01-0${10 - k}%d", 100L)))
    val df = rows.toDF("u", "d", "amount")
      .withColumn("ts", to_timestamp(col("d")))
    val out = Stats.rfmSegments(df, "u", "ts", "amount")
      .orderBy("u")
      .select("u", "recency_days", "frequency", "monetary", "segment")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out.map(_._5) ==
      Seq("311", "311", "311", "222", "222", "222", "222", "133", "133"))
    assert(out(8) == (9L, 8L, 9L, 900L, "133"))
    assert(out(0) == (1L, 0L, 1L, 100L, "311"))
  }

  // ------------------------------------------------------- seasonalityIndex

  test("seasonalityIndex: a flat series indexes 10000 everywhere; spikes over-index") {
    val flat = Seq(("g", "d1", 0L, 10L), ("g", "d2", 1L, 10L),
      ("g", "d3", 0L, 10L), ("g", "d4", 1L, 10L)).toDF("g", "b", "ph", "x")
    val f = Stats.seasonalityIndex(flat, "g", "b", "ph", "x")
      .select("seasonal_idx_bp").as[Long].collect().toSeq
    assert(f == Seq(10000L, 10000L))

    // phase 1 carries double volume: mean(ph1)=20 vs mean(all)=15 → 13333
    val skew = Seq(("g", "d1", 0L, 10L), ("g", "d2", 1L, 20L),
      ("g", "d3", 0L, 10L), ("g", "d4", 1L, 20L)).toDF("g", "b", "ph", "x")
    val s = Stats.seasonalityIndex(skew, "g", "b", "ph", "x")
      .orderBy("ph").select("seasonal_idx_bp").as[Long].collect().toSeq
    assert(s == Seq(6666L, 13333L))
  }

  // -------------------------------------------------------- autocorrByGroup

  test("autocorrByGroup: alternating series has r = -1 at lag 1, +1 at lag 2") {
    val s = (0 until 10).map(i => ("g", f"d$i%02d", if (i % 2 == 0) 10L else 20L))
      .toDF("g", "b", "x")
    val out = Stats.autocorrByGroup(s, "g", "b", "x", Seq(1, 2))
      .orderBy("lag").as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(("g", 1L, 9L, Some(-1.0)), ("g", 2L, 8L, Some(1.0))))
  }

  test("autocorrByGroup: constant series surfaces NULL (zero variance)") {
    val s = (0 until 5).map(i => ("g", s"d$i", 7L)).toDF("g", "b", "x")
    val out = Stats.autocorrByGroup(s, "g", "b", "x", Seq(1))
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(("g", 1L, 4L, None)))
  }

  // ------------------------------------------------------------ kaplanMeier

  test("kaplanMeier: censoring shrinks the risk set without a survival step") {
    // durations: two events at d=1, one CENSOR at d=2, one event at d=3
    val d = Seq((1L, true), (1L, true), (2L, false), (3L, true))
      .toDF("dur", "ev")
    val out = Stats.kaplanMeier(d, "dur", "ev")
      .orderBy("dur").as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 2L, 0L, 0.5),   // S = 1·(1 − 2/4)
      (2L, 2L, 0L, 1L, 0.5),   // censor: no step, risk set 2 → 1
      (3L, 1L, 1L, 0L, 0.0)))  // last survivor converts → S = 0
  }

  test("kaplanMeier: all-censored input keeps S = 1 throughout") {
    val d = Seq((5L, false), (9L, false)).toDF("dur", "ev")
    val out = Stats.kaplanMeier(d, "dur", "ev")
      .orderBy("dur").select("survival").as[Double].collect().toSeq
    assert(out == Seq(1.0, 1.0))
  }

  // ------------------------------------------------------------ rollingBands

  test("rollingBands: exact integer breakout test, partial frames excluded") {
    // 7 stable days then a spike: day 8's frame is [10×6, 40] →
    // dev = 7·40−100 = 180, dev² = 32400 > 4·(7·2200−100²) = 21600 → breakout
    val s = ((1 to 7).map(i => ("g", f"d$i%02d", 10L)) :+ (("g", "d08", 40L)))
      .toDF("g", "b", "x")
    val out = Stats.rollingBands(s, "g", "b", "x", frameRows = 7)
      .orderBy("b").select("b", "breakout").as[(String, Boolean)].collect().toSeq
    assert(out == Seq(("d07", false), ("d08", true))) // days 1-6: partial frames
  }

  test("rollingBands: a constant series has sd 0 and never breaks out") {
    val s = (1 to 9).map(i => ("g", f"d$i%02d", 5L)).toDF("g", "b", "x")
    val out = Stats.rollingBands(s, "g", "b", "x", frameRows = 7)
      .select("mean", "sd", "breakout").as[(Double, Double, Boolean)].collect().toSeq
    assert(out.size == 3 && out.forall(_ == ((5.0, 0.0, false))))
  }

  // ------------------------------------------------------------ periodMovers

  test("periodMovers: sign-split basis points, zero-base surfaces NULL") {
    val s = Seq(("g", 1L, 100L), ("g", 2L, 150L), ("g", 3L, 75L),
      ("z", 1L, 0L), ("z", 2L, 10L)).toDF("g", "w", "x")
    val out = Stats.periodMovers(s, "g", "w", "x")
      .orderBy("g", "w")
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    assert(out == Seq(
      ("g", 2L, 100L, 150L, Some(5000L)),
      ("g", 3L, 150L, 75L, Some(-5000L)),
      ("z", 2L, 0L, 10L, None)))
  }

  // ------------------------------------------------------------------ ewma

  test("ewma: sequential fold seeded from the first bucket") {
    val s = Seq(("g", "d1", 10L), ("g", "d2", 20L), ("g", "d3", 40L),
      ("z", "d1", 5L)).toDF("g", "b", "x")
    val out = Stats.ewma(s, "g", "b", "x", alphaBp = 3000)
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    // g: 10 → 10·0.7+20·0.3 = 13 → 13·0.7+40·0.3 = 21.1; z: seed only
    assert(out == Seq(("g", 3L, 21.1), ("z", 1L, 5.0)))
  }

  // ------------------------------------------------------- timeWeightedAvg

  test("timeWeightedAvg: micros-exact durations, last observation drops") {
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(("g", 1L, t(0), 100L), ("g", 2L, t(10), 200L),
      ("g", 3L, t(30), 300L)).toDF("g", "id", "ts", "cents")
    val out = Stats.timeWeightedAvg(ev, "g", "ts", "id", "cents")
      .as[(String, Long, Long, Double)].collect().toSeq
    // (100·10s + 200·20s) / 30s = 166.6667, in µs on both sides
    assert(out == Seq(("g", 2L, 30000000L, 166.6667)))
  }

  // ---------------------------------------------------------- jsDivergence

  test("jsDivergence: identical distributions score 0, disjoint score ln 2") {
    val same = Seq(("x", "a"), ("y", "a"), ("x", "b"), ("y", "b"))
      .toDF("cat", "p")
    val s = Stats.jsDivergence(same, "cat", "p")
      .as[(Long, Long, Long, Double)].collect().head
    assert(s == ((2L, 2L, 2L, 0.0)))
    val disj = Seq(("x", "a"), ("x", "a"), ("y", "b")).toDF("cat", "p")
    val d = Stats.jsDivergence(disj, "cat", "p")
      .as[(Long, Long, Long, Double)].collect().head
    assert(d == ((2L, 1L, 2L, 0.6931))) // ln 2
  }

  // -------------------------------------------------------- clampedBalance

  test("clampedBalance: the zero floor absorbs overdraws order-sensitively") {
    val d = Seq(("g", 1L, 5L), ("g", 2L, -8L), ("g", 3L, 3L),
      ("z", 1L, -4L)).toDF("k", "seq", "delta")
    val out = Stats.clampedBalance(d, "k", Seq("seq"), "delta")
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    // g: 5 → max(0, −3) = 0 → 3 (an unfloored sum would say 0);
    // z: a first-step overdraw floors at 0
    assert(out == Seq(("g", 3L, 3L), ("z", 1L, 0L)))
  }

  // ---------------------------------------------------- theilDecomposition

  test("theilDecomposition: perfectly equal amounts score zero everywhere") {
    val df = Seq(("a", 100L), ("a", 100L), ("b", 100L), ("b", 100L))
      .toDF("g", "amt")
    val out = Stats.theilDecomposition(df, "g", "amt")
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(out == ((4L, 2L, 0.0, 0.0, 0.0)))
  }

  test("theilDecomposition rejects non-positive amounts in-plan") {
    val df = Seq(("a", 100L), ("a", 0L)).toDF("g", "amt")
    assertThrows[Exception] {
      Stats.theilDecomposition(df, "g", "amt").collect()
    }
  }

  // ------------------------------------------------------------------ holt

  test("holt: textbook seed (l=x2, b=x2-x1), two-state fold from bucket 3") {
    val s = Seq(("g", "a", 1L), ("g", "b", 2L), ("g", "c", 4L),
      ("z", "a", 7L)).toDF("g", "d", "x")
    val out = Stats.holt(s, "g", "d", "x")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // g: seed (2, 1); x=4 → l = 0.3·4 + 0.7·3 = 3.3, b = 0.1·1.3 + 0.9 = 1.03
    // z: single bucket → filtered (no seed)
    assert(out == Seq(("g", 3L, 3.3, 1.03, 4.33)))
  }

  // --------------------------------------------------------- lorenzDeciles

  test("lorenzDeciles: exact decile shares, cumulative reaches 10000 bp") {
    val df = (1L to 10L).map(i => (i, i)).toDF("amt", "id")
    val out = Stats.lorenzDeciles(df, "amt", "id")
      .orderBy("decile")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // total 55: bottom decile holds 1 → 181 bp; top holds 10 → 1818 bp
    assert(out.head == ((1L, 1L, 1L, 181L, 181L)))
    assert(out.last == ((10L, 1L, 10L, 1818L, 10000L)))
    assert(out.size == 10)
  }

  // ----------------------------------------------------------- trimmedMean

  test("trimmedMean: the p95 cut drops the tail the winsorize would clamp") {
    val vals = (1L to 19L) :+ 1000L
    val df = vals.map(("g", _)).toDF("grp", "v")
    val out = Stats.trimmedMean(df, "grp", "v")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // disc bounds [1, 19] keep 19 values; mean = 190/19 = 10
    assert(out == Seq(("g", 19L, 1L, 19L, 1000L)))
  }

  // --------------------------------------------------- sampleRatioMismatch

  test("sampleRatioMismatch: exact-integer flag at the 3.84 boundary") {
    // 60/40 of 100: chi2 = 400/100 = 4 > 3.84 → flag; 59/41: 3.24 → clear
    val df = (1 to 60).map(_ => ("g", 0)) ++ (1 to 40).map(_ => ("g", 1)) ++
      (1 to 59).map(_ => ("h", 0)) ++ (1 to 41).map(_ => ("h", 1))
    val out = Stats.sampleRatioMismatch(df.toDF("g", "arm"), "g", "arm")
      .orderBy("g").as[(String, Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq(("g", 60L, 40L, 4.0, true), ("h", 59L, 41L, 3.24, false)))
  }

  test("sampleRatioMismatch rejects arms outside {0, 1} in-plan") {
    val df = Seq(("g", 2)).toDF("g", "arm")
    assertThrows[Exception] {
      Stats.sampleRatioMismatch(df, "g", "arm").collect()
    }
  }

  // ------------------------------------------------------------ diffInDiff

  test("diffInDiff: treated lift net of the control drift") {
    // control drifts +10 (100→110); treated moves +30 (100→130): did = 20
    val rows = Seq((0, "a", 100L), (0, "b", 110L),
      (1, "a", 100L), (1, "b", 130L)).map { case (a, p, c) => (a, p, c) }
    val out = Stats.diffInDiff(rows.toDF("arm", "period", "cents"),
      "arm", "period", "cents")
      .select("m_c_pre", "m_c_post", "m_t_pre", "m_t_post", "did")
      .as[(Double, Double, Double, Double, Double)].collect().toSeq
    assert(out == Seq((100.0, 110.0, 100.0, 130.0, 20.0)))
  }

  test("diffInDiff: an empty cell yields no row rather than a NaN estimate") {
    val rows = Seq((0, "a", 100L), (1, "a", 100L), (1, "b", 130L))
    val out = Stats.diffInDiff(rows.toDF("arm", "period", "cents"),
      "arm", "period", "cents").collect()
    assert(out.isEmpty)
  }

  // ---------------------------------------------------------- modePerGroup

  test("modePerGroup: highest count wins, ties break to the lowest value") {
    val df = Seq(("g", "a"), ("g", "a"), ("g", "b"),
      ("t", "b"), ("t", "a")).toDF("grp", "v")
    val out = Stats.modePerGroup(df, "grp", "v")
      .orderBy("grp").as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("g", "a", 2L), ("t", "a", 1L)))
  }

  // --------------------------------------------------------------- ksDrift

  test("ksDrift: identical arms score zero, disjoint arms score D=1 and flag") {
    val same = (1 to 4).flatMap(v => Seq((0, v.toLong), (1, v.toLong)))
      .toDF("arm", "u")
    val (na0, nb0, dn0, d0, f0) = Stats.ksDrift(same, "arm", "u")
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert((na0, nb0, dn0, d0, f0) == (4L, 4L, 0L, 0.0, false))

    val disjoint = ((1 to 10).map(_ => (0, 1L)) ++ (1 to 10).map(_ => (1, 2L)))
      .toDF("arm", "u")
    val (_, _, dn1, d1, f1) = Stats.ksDrift(disjoint, "arm", "u")
      .as[(Long, Long, Long, Double, Boolean)].head()
    // D = 1 exactly: numerator = nA·nB = 100
    assert(dn1 == 100L && d1 == 1.0 && f1)
  }

  test("ksDrift: exact hand-computed numerator") {
    // arm0 = {1,1,2}, arm1 = {2,3,3}: cum diffs ·3 are 6, 6, 0 → d_num = 6
    val df = Seq((0, 1L), (0, 1L), (0, 2L), (1, 2L), (1, 3L), (1, 3L))
      .toDF("arm", "u")
    val (na, nb, dn, d, _) = Stats.ksDrift(df, "arm", "u")
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(na == 3L && nb == 3L && dn == 6L && d == 0.6667)
  }

  test("ksDriftByGroup: disjoint segments score D=1 against the rest") {
    val df = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L)).toDF("g", "u")
    val out = Stats.ksDriftByGroup(df, "g", "u")
      .orderBy("g").as[(String, Long, Long, Long, Double, Boolean)]
      .collect().toSeq
    // A vs rest: at u=1 |2·2 − 0·2| = 4 → D = 4/(2·2) = 1; flag needs
    // 16e6 > 1844164·2·2·4 = 2.95e7 → false at these tiny n
    assert(out == Seq(("A", 2L, 2L, 4L, 1.0, false),
      ("B", 2L, 2L, 4L, 1.0, false)))
  }

  test("ksDriftByGroup: a group matching the pooled mix scores low") {
    // C has the same 50/50 mix as the rest → its ECDF tracks the rest's
    val df = (Seq.fill(5)(("C", 1L)) ++ Seq.fill(5)(("C", 2L)) ++
      Seq.fill(10)(("D", 1L)) ++ Seq.fill(10)(("E", 2L))).toDF("g", "u")
    val c = Stats.ksDriftByGroup(df, "g", "u")
      .filter(col("g") === "C").select("d_stat").as[Double].head()
    assert(c == 0.0, s"matched mix must score 0, got $c")
  }

  test("ksDrift rejects arms outside {0, 1} in-plan") {
    val bad = Seq((2, 1L)).toDF("arm", "u")
    val e = intercept[Exception](Stats.ksDrift(bad, "arm", "u"))
    assert(e.getMessage.contains("arm must be 0 or 1"))
  }

  // --------------------------------------------------------- aucFromScores

  test("aucFromScores: perfect separation scores 1, all-tied scores 0.5") {
    val perfect = Seq((true, 3L), (true, 4L), (false, 1L), (false, 2L))
      .toDF("lab", "u")
    val (np, nn, u2, auc) = Stats.aucFromScores(perfect, "lab", "u")
      .as[(Long, Long, Long, Double)].head()
    assert((np, nn, u2, auc) == (2L, 2L, 8L, 1.0))

    val tied = Seq((true, 5L), (true, 5L), (false, 5L), (false, 5L))
      .toDF("lab", "u")
    val (_, _, u2t, auct) = Stats.aucFromScores(tied, "lab", "u")
      .as[(Long, Long, Long, Double)].head()
    assert(u2t == 4L && auct == 0.5)
  }

  test("aucFromScores: ties at the positive's score count half") {
    // pos {2}, neg {1,2,3}: 2U = 2·below(2) + ties(2) = 2·1 + 1 = 3
    val df = Seq((true, 2L), (false, 1L), (false, 2L), (false, 3L))
      .toDF("lab", "u")
    val (np, nn, u2, auc) = Stats.aucFromScores(df, "lab", "u")
      .as[(Long, Long, Long, Double)].head()
    assert((np, nn, u2, auc) == (1L, 3L, 3L, 0.5))
  }

  // ------------------------------------------------------ chi2Independence

  test("chi2Independence: independent table contributes zero, dependent cells exact") {
    val indep = (0 until 8).map(i =>
      (if (i % 2 == 0) "a" else "b", if (i % 4 < 2) "x" else "y"))
      .toDF("p", "q")
    val zeros = Stats.chi2Independence(indep, "p", "q")
      .select("contrib_micro").as[Long].collect()
    assert(zeros.length == 4 && zeros.forall(_ == 0L))

    // 30/10/10/30 on 2×2: every e = 20, every (o−e)²/e = 5 → 5_000_000 micro
    val dep = (Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(30)(("b", "y"))).toDF("p", "q")
    val cells = Stats.chi2Independence(dep, "p", "q")
      .orderBy("p", "q")
      .select("observed", "expected", "contrib_micro")
      .as[(Long, Double, Long)].collect().toSeq
    assert(cells == Seq((30L, 20.0, 5000000L), (10L, 20.0, 5000000L),
      (10L, 20.0, 5000000L), (30L, 20.0, 5000000L)))
  }

  // ------------------------------------------------------- calibrationBins

  test("calibrationBins: decile assignment, clamping, and exact ratios") {
    val df = Seq((false, 500L), (true, 1500L), (false, 1500L),
      (true, 9000L), (true, 15000L)).toDF("lab", "u")
    val out = Stats.calibrationBins(df, "lab", "u")
      .orderBy("bin").as[(Long, Long, Double, Double, Double)].collect().toSeq
    // bin 0: one row at 500 → mean 0.05, rate 0; bin 1: 1500×2 → mean 0.15,
    // rate 0.5; bin 9: 9000 + clamped 15000→10000 → mean 0.95, rate 1
    assert(out == Seq(
      (0L, 1L, 0.05, 0.0, -0.05),
      (1L, 2L, 0.15, 0.5, 0.35),
      (9L, 2L, 0.95, 1.0, 0.05)))
  }

  test("calibrationBins clamps negative score units into bin 0, like the oracle") {
    // out-of-domain negatives bin at 0 with their contribution clamped to 0
    // (round-10 advisor note: the oracle SQL applies the same greatest(…,0),
    // so neither engine errors where the other bins)
    val df = Seq((true, -250L), (false, -1L), (false, 1500L))
      .toDF("lab", "u")
    val out = Stats.calibrationBins(df, "lab", "u")
      .orderBy("bin")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // bin 0: two clamped rows, capped sum 0 → mean_score 0, pos_rate 0.5
    // bin 1: 1500 → mean 0.15, pos_rate 0
    assert(out == Seq(
      (0L, 2L, 0.0, 0.5, 0.5),
      (1L, 1L, 0.15, 0.0, -0.15)))
  }

  // ----------------------------------------------------------- mannKendall

  test("mannKendall: monotone series hit ±n(n−1)/2, constants are null-z") {
    val df = Seq(
      ("up", 1, 1L), ("up", 2, 2L), ("up", 3, 3L),
      ("down", 1, 5L), ("down", 2, 3L), ("down", 3, 1L),
      ("flat", 1, 2L), ("flat", 2, 2L)).toDF("g", "t", "x")
    val out = Stats.mannKendall(df, "g", "t", "x")
      .orderBy("g")
      .as[(String, Long, Long, Long, Option[Double], Boolean)].collect().toSeq
    // n=3 no ties: var18 = 3·2·11 = 66; z = ±3/√(66/18) = ±1.5667;
    // flag: 9·180000 = 1.62e6 vs 38416·66 = 2.535e6 → false
    assert(out == Seq(
      ("down", 3L, -3L, 66L, Some(-1.5667), false),
      ("flat", 2L, 0L, 0L, None, false),
      ("up", 3L, 3L, 66L, Some(1.5667), false)))
  }

  test("cuped: hand-computed theta and the adjusted arm difference") {
    // per-user (x, y): arm0 {(10,20), (20,30)}, arm1 {(30,35), (40,45)} →
    // θ = (4·3650 − 100·130)/(4·3000 − 100²) = 0.8; raw diff = 25 − 40 =
    // −15; adj = −15 − 0.8·(15 − 35) = +1 — the covariate explains the
    // entire apparent deficit (the arms started imbalanced)
    val rows = Seq(
      (1L, 0L, "2024-01-01", 10L), (1L, 0L, "2024-01-20", 20L),
      (2L, 0L, "2024-01-01", 20L), (2L, 0L, "2024-01-20", 30L),
      (3L, 1L, "2024-01-01", 30L), (3L, 1L, "2024-01-20", 35L),
      (4L, 1L, "2024-01-01", 40L), (4L, 1L, "2024-01-20", 45L))
      .toDF("u", "arm", "day", "cents").withColumn("day", to_date($"day"))
    val out = Stats.cuped(rows, "u", "arm", "day", "cents")
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq((4L, 2L, 2L, 0.8, -15.0, 1.0)))
  }

  test("sequentialMonitor: early crossing recorded, final state from last day") {
    // day 1: 5 vs 0 → diff² ·10⁴ = 25·10⁴ > 38416·5 → SIGNIFICANT on day 1;
    // day 2 adds 0 vs 5 → the curve returns to 0 by the end (final_z 0.0,
    // normalized signed zero) — exactly the peeking hazard the op exposes
    val df = (Seq.fill(5)(("g", 0L, "2024-01-01")) ++
      Seq.fill(5)(("g", 1L, "2024-01-02")))
      .toDF("g", "arm", "day").withColumn("day", to_date($"day"))
    val out = Stats.sequentialMonitor(df, "g", "arm", "day")
      .as[(String, Long, Option[java.sql.Date], Long, Long, Double)]
      .collect().toSeq
    assert(out == Seq(("g", 2L, Some(java.sql.Date.valueOf("2024-01-01")),
      0L, 10L, 0.0)))
  }

  test("welchTTest: hand-computed t, Welch df, degenerate groups drop") {
    // g: arm0 {0, 2} (mean 1, var 2 → w=1), arm1 {10, 14} (mean 12,
    // var 8 → w=4): t = −11/√5 = −4.9193, df = 25/17 = 1.4706, |t| > 1.96.
    // h: arm1 has one row → drops. i: both arms constant → w sum 0 → drops
    val df = Seq(
      ("g", 0L, 0L), ("g", 0L, 2L), ("g", 1L, 10L), ("g", 1L, 14L),
      ("h", 0L, 1L), ("h", 0L, 2L), ("h", 1L, 3L),
      ("i", 0L, 5L), ("i", 0L, 5L), ("i", 1L, 7L), ("i", 1L, 7L))
      .toDF("g", "arm", "u")
    val out = Stats.welchTTest(df, "g", "arm", "u")
      .as[(String, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(out == Seq(("g", 2L, 2L, -4.9193, 1.4706, true)))
  }

  test("welchTTest rejects invalid arms loudly") {
    val df = Seq(("g", 2L, 1L)).toDF("g", "arm", "u")
    val e = intercept[Exception](Stats.welchTTest(df, "g", "arm", "u").collect())
    assert(e.getMessage.contains("arm must be 0 or 1"))
  }

  test("bestF1Threshold: interior optimum, no-positive input yields no row") {
    // scores desc: 10:T, 9:T, 8:F, 7:F → P = 2; F1 by threshold:
    // t=10: 2/3, t=9: 4/4 = 1 (perfect split), t=8: 4/5, t=7: 4/6 → t=9
    val df = Seq((10L, true), (9L, true), (8L, false), (7L, false))
      .toDF("score", "lab")
    val out = Stats.bestF1Threshold(df, "lab", "score")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((9L, 2L, 0L, 0L, 1.0)))
    assert(Stats.bestF1Threshold(
      Seq((5L, false)).toDF("score", "lab"), "lab", "score").count() == 0L)
  }

  test("bhAdjust: step-up cutoff rejects exactly the first k* ranks") {
    // m = 5 at 5% FDR → thresholds i/100: p = .005, .015, .025 pass their
    // slots, .5/.9 fail → k* = 3; note .025 is rejected even though it
    // exceeds threshold 2 — the STEP-UP property a per-test cutoff misses
    val tests = Seq(("a", 0.005), ("b", 0.015), ("c", 0.025),
      ("d", 0.5), ("e", 0.9)).toDF("t", "p")
    val out = Stats.bhAdjust(tests, "t", "p")
      .orderBy("rank").as[(String, Double, Long, Boolean)].collect().toSeq
    assert(out.map(r => (r._1, r._4)) ==
      Seq(("a", true), ("b", true), ("c", true), ("d", false), ("e", false)))
  }

  test("bhAdjust: NULL or out-of-range p fails loudly instead of ranking first") {
    // Spark ranks NULL first, DuckDB last — a NULL p would silently take
    // rank 1 and shift every rejection; the guard raises instead
    val bad = Seq(("a", Some(0.01)), ("b", None)).toDF("t", "p")
    val e = intercept[Exception](Stats.bhAdjust(bad, "t", "p").collect())
    assert(e.getMessage.contains("bhAdjust"))
    val oob = Seq(("a", 0.01), ("b", 1.5)).toDF("t", "p")
    assert(intercept[Exception](Stats.bhAdjust(oob, "t", "p").collect())
      .getMessage.contains("bhAdjust"))
  }

  test("emdDriftByGroup: hand-computed gap-weighted CDF integral") {
    // a = {0, 0, 10, 10}, b = {0, 0, 20, 20}; grid units {0, 10, 20}.
    // Group a vs rest: cumdiffs ×(ng·nr=16) are 0 @0, 8 @10 (gap 10),
    // 0 @20 → emd_num 80, emd = 80/16 = 5.0; b symmetric
    val df = Seq(("a", 0L), ("a", 0L), ("a", 10L), ("a", 10L),
      ("b", 0L), ("b", 0L), ("b", 20L), ("b", 20L)).toDF("g", "u")
    val out = Stats.emdDriftByGroup(df, "g", "u").orderBy("g")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("a", 4L, 4L, 80L, 5.0), ("b", 4L, 4L, 80L, 5.0)))
  }

  test("emdDriftByGroup: identical distributions score exactly zero") {
    val df = (0 until 40).flatMap(i => Seq(("x", (i % 5) * 7L), ("y", (i % 5) * 7L)))
      .toDF("g", "u")
    val out = Stats.emdDriftByGroup(df, "g", "u")
      .select("emd_num").as[Long].collect().toSeq
    assert(out == Seq(0L, 0L))
  }

  test("seasonalNaiveError: hand-computed SAE/MAE/MAPE, headless days drop") {
    val df = Seq(
      ("a", "2024-01-01", 10L), ("a", "2024-01-08", 12L), ("a", "2024-01-15", 9L),
      ("b", "2024-01-01", 5L))
      .toDF("g", "day", "c").withColumn("day", to_date($"day"))
    val out = Stats.seasonalNaiveError(df, "g", "day", "c", season = 7)
      .as[(String, Long, Long, Double, Long)].collect().toSeq
    // a: 01-08 predicted by 01-01 (|12−10|=2, ape 1666 bp), 01-15 by 01-08
    // (|9−12|=3, ape 3333 bp) → n=2, sae=5, mae=2.5, mape=(1666+3333) div 2;
    // b has no day with a 7-day predecessor → no row
    assert(out == Seq(("a", 2L, 5L, 2.5, 2499L)))
  }

  test("seasonalNaiveError: zero bucket value fails loudly (MAPE divides by it)") {
    // a zero actual would NULL the Spark MAPE term (silently dropped) while
    // the DuckDB oracle's `//` raises — the c >= 1 precondition is enforced
    val df = Seq(("a", "2024-01-01", 10L), ("a", "2024-01-08", 0L))
      .toDF("g", "day", "c").withColumn("day", to_date($"day"))
    val e = intercept[Exception](
      Stats.seasonalNaiveError(df, "g", "day", "c", season = 7).collect())
    assert(e.getMessage.contains("seasonalNaiveError"))
  }

  test("pettittChangepoint: hand-computed U_t, break position, and p") {
    // x = [1,1,5,5]: U = [-2,-4,-2,0] → K=4 at t*=2 (the true break);
    // p = 2·exp(−6·16/(64+16)) = 0.6024; flag 9.6e7 > 2.95e8 is false
    val df = Seq(("g", 1, 1L), ("g", 2, 1L), ("g", 3, 5L), ("g", 4, 5L))
      .toDF("g", "b", "x")
    val out = Stats.pettittChangepoint(df, "g", "b", "x")
      .as[(String, Long, Long, Long, Int, Double, Boolean)].head()
    assert(out == (("g", 4L, 4L, 2L, 2, 0.6024, false)))
  }

  test("crossCorrLagged: the planted lag-1 shift scores r=1 at lag 1") {
    val d = java.sql.Date.valueOf(_: String)
    val df = Seq(
      (d("2024-01-01"), 1L, 5L), (d("2024-01-02"), 2L, 1L),
      (d("2024-01-03"), 3L, 2L), (d("2024-01-04"), 4L, 3L))
      .toDF("day", "x", "y")
    val out = Stats.crossCorrLagged(df, "day", "x", "y", maxLag = 3)
      .orderBy("lag").as[(Long, Long, Option[Double])].collect().toSeq
    // lag0 over all 4 days: r = −10/√(20·35) = −0.378; lag1 aligns the
    // shifted series exactly; lag2 has 2 colinear points; lag3 n=1 → null
    assert(out == Seq((0L, 4L, Some(-0.378)), (1L, 3L, Some(1.0)),
      (2L, 2L, Some(1.0)), (3L, 1L, None)))
  }

  test("mannKendall: tie correction subtracts the tied run's variance share") {
    // x = [1, 1, 2]: pairs (1,1)=0, (1,2)=+1, (1,2)=+1 → S = 2;
    // var18 = 3·2·11 − 2·1·9 = 48
    val df = Seq(("g", 1, 1L), ("g", 2, 1L), ("g", 3, 2L)).toDF("g", "t", "x")
    val (_, n, s, v, _, _) = Stats.mannKendall(df, "g", "t", "x")
      .as[(String, Long, Long, Long, Option[Double], Boolean)].head()
    assert((n, s, v) == (3L, 2L, 48L))
  }

  // ------------------------------------------------------------------- CUSUM
  // the reflected-walk window identity must equal the direct sequential
  // recursion S_i = max(0, S_{i-1} + inc_i) — replay it from the key's own
  // output increments

  test("q421: windowed CUSUM equals the sequential max(0, S+inc) recursion") {
    val rows = SparkEntry.queries("q421_cusum_control")(spark, sf)
      .select("event_type", "day", "inc", "s_scaled")
      .as[(String, String, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, days) =>
      var s = 0L
      days.sortBy(_._2).foreach { case (_, _, inc, got) =>
        s = math.max(0L, s + inc)
        assert(got == s, s"CUSUM mismatch: got $got want $s")
      }
    }
  }

  // ----------------------------------------------------------------- pass@k
  // exact hand case: n=10, c=3 → pass@1 = 0.3, pass@10 = 1.0, and
  // pass@5 = 1 - C(7,5)/C(10,5) = 1 - 21/252

  test("q420: pass@k matches the order-specified reference fold on every row") {
    def ref(n: Long, c: Long, k: Int): Double =
      if (n - c < k) 1.0
      else 1.0 - (0 until k).foldLeft(1.0) { (acc, i) =>
        acc * ((n - c - i).toDouble / (n - i).toDouble)
      }
    val r = SparkEntry.queries("q420_pass_at_k")(spark, sf)
      .select("n", "c", "pass_at_1", "pass_at_5", "pass_at_10")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (n, c, p1, p5, p10) =>
      assert(p1 == ref(n, c, 1), s"pass@1 n=$n c=$c")
      assert(p5 == ref(n, c, 5), s"pass@5 n=$n c=$c")
      assert(p10 == ref(n, c, 10), s"pass@10 n=$n c=$c")
      assert(p1 >= 0.0 && p1 <= p5 && p5 <= p10 && p10 <= 1.0)
    }
  }

  // ------------------------------------------------------------ Mann-Whitney
  // U1 + U2 = n1*n2 (doubled: u2_arm1 + u2_arm0 = 2*n1*n2) — recompute the
  // other arm's U from the same frame by symmetry

  test("q429: doubled U matches the pairwise definition; arms sum to 2*n1*n2") {
    val r = SparkEntry.queries("q429_mannwhitney_u")(spark, sf)
      .select("event_type", "n1", "n2", "u2")
      .as[(String, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    // independent recomputation from the raw rows: doubled U(arm1) =
    // 2*#{x1 > x0} + #{x1 == x0} over every cross-arm pair (the histogram
    // rank-sum route in the query never enumerates pairs — this does)
    val byType = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
        pmod(col("user_id"), lit(2L)).as("arm"))
      .as[(String, Long, Long)].collect().groupBy(_._1)
    def doubledU(win: Seq[Long], lose: Seq[Long]): Long =
      win.iterator.map { x =>
        2L * lose.count(x > _) + lose.count(x == _)
      }.sum
    r.foreach { case (t, n1, n2, u2) =>
      val (a1, a0) = byType(t).toSeq.partition(_._3 == 1L)
      assert(n1 == a1.length && n2 == a0.length, s"$t arm sizes")
      assert(u2 == doubledU(a1.map(_._2), a0.map(_._2)),
        s"$t: u2=$u2 disagrees with the pairwise definition")
      // symmetry identity on the INDEPENDENTLY computed other arm
      assert(u2 + doubledU(a0.map(_._2), a1.map(_._2)) == 2L * n1 * n2)
    }
  }

  test("q457: summary estimates carry the equi-depth rank-error bound") {
    // a 32-bound equi-depth summary's rank error is < ns/32 per shard, so
    // the merged estimate's rank error is < N/32 — verify the VALUE at
    // the estimate's exact rank stays inside that band, and the summary
    // is exact wherever a shard bound lands on the target rank
    val out = SparkEntry.queries("q457_quantile_merge")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 5L, 25L, 50L, 75L, 95L, 99L))
    val cents = Tables.events(spark, sf)
      .select(expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"))
      .as[Long].collect().sorted
    val n = cents.length
    out.foreach { case (p, est, exact, err) =>
      assert(err == math.abs(est - exact))
      assert(exact == cents(((p * n + 99) / 100 - 1).toInt),
        s"exact side must be the true percentile at p=$p")
      // est is >= exact (summaries bias up: bound_i sits at the TOP of its
      // bucket) and its true rank is within N/32 + 8 (one bucket per shard
      // boundary slack) of the target
      assert(est >= exact, s"equi-depth upper bounds can't undershoot at p=$p")
      val targetRank = (p * n + 99) / 100
      val estRank = cents.count(_ <= est)
      assert(estRank - targetRank <= n / 32 + 8,
        s"estimate rank error beyond the summary bound at p=$p")
    }
  }

  test("q459: the histogram estimate brackets the exact count within one bucket's mass") {
    val rows = SparkEntry.queries("q459_histogram_selectivity")(spark, sf)
      .select("t_cents", "n_total", "est_rows", "actual_rows", "err_bp")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 5)
    rows.foreach { case (t, n, est, actual, err) =>
      // the estimator can only be off inside the boundary bucket: its
      // error is bounded by one bucket's row mass (ceil(n/32))
      val bucketMass = (n + 31) / 32
      assert(math.abs(est - actual) <= bucketMass,
        s"t=$t: |$est - $actual| exceeds one bucket ($bucketMass)")
      assert(err == math.abs(est - actual) * 10000 / n)
    }
    // monotone: higher thresholds keep fewer rows, estimated AND actual
    assert(rows.map(_._3).toSeq == rows.map(_._3).toSeq.sorted.reverse)
    assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted.reverse)
  }
}
