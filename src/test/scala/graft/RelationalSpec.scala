package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Policy, Relational}

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("antiDedup removes already-present keys and is idempotent") {
    val incoming = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("comment_id", "v")
    val existing = Seq("b").toDF("comment_id")
    val out = Relational.antiDedup(incoming, existing, Seq("comment_id"))
    assert(out.select("comment_id").as[String].collect().sorted.toSeq == Seq("a", "c"))
    val twice = Relational.antiDedup(out, existing, Seq("comment_id"))
    assert(twice.count() == out.count())
  }

  test("antiDedup on composite key") {
    val incoming = Seq(("v1", "c1"), ("v1", "c2"), ("v2", "c1")).toDF("video_id", "comment_id")
    val existing = Seq(("v1", "c1")).toDF("video_id", "comment_id")
    val out = Relational.antiDedup(incoming, existing, Seq("video_id", "comment_id"))
    assert(out.count() == 2)
  }

  test("topKGroups orders by count desc with key tie-break") {
    val df = Seq("x", "x", "x", "y", "y", "z", "w", "w").toDF("k")
    val out = Relational.topKGroups(df, "k", 3).as[(String, Long)].collect().toSeq
    assert(out == Seq(("x", 3L), ("w", 2L), ("y", 2L)))
  }

  test("shareOfTotal sums to 100") {
    val df = Seq("a", "a", "b", "c").toDF("k")
    val pcts = Relational.shareOfTotal(df, "k").select("pct").as[Double].collect()
    assert(math.abs(pcts.sum - 100.0) < 1e-9)
  }

  test("tumblingCounts totals equal global count and buckets align to day") {
    val df = Seq(
      Timestamp.valueOf("2024-01-01 23:59:59"),
      Timestamp.valueOf("2024-01-02 00:00:00"), // day-boundary straddle
      Timestamp.valueOf("2024-01-02 12:00:00")
    ).toDF("ts")
    val out = Relational.tumblingCounts(df, "ts", "1 day")
      .orderBy("bucket_start").as[(Timestamp, Long)].collect().toSeq
    assert(out.map(_._2).sum == 3)
    assert(out == Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (Timestamp.valueOf("2024-01-02 00:00:00"), 2L)))
  }

  test("recentWithin keeps a strict window anchored at max ts") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00")),
      (3L, Timestamp.valueOf("2024-01-01 12:00:00"))
    ).toDF("id", "ts")
    val kept = Relational.recentWithin(df, "ts", "1 HOUR").select("id").as[Long].collect().sorted
    // strict >: the row exactly at (max - 1h) is dropped, max itself kept
    assert(kept.toSeq == Seq(3L))
  }

  test("asOfJoin picks the latest right row at-or-before each left ts per key") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(10), "p1"), (1L, ts(20), "p2"), (2L, ts(5), "p3"))
      .toDF("k", "lts", "tag")
    val right = Seq((1L, ts(5), 100L), (1L, ts(10), 200L), (1L, ts(15), 300L),
      (2L, ts(99), 999L))
      .toDF("k", "rts", "payload")
      .select(col("k"), col("rts").as("lts"), col("payload")) // share the ts name
    val out = Relational.asOfJoin(left, right, "k", "lts", "lts", Seq("payload"))
      .select("tag", "payload").as[(String, Option[Long])].collect().toMap
    // p1 at ts 10: right row AT 10 wins (inclusive); p2 at 20: latest is 15;
    // p3 at 5: key 2's only right row is in the future -> null
    assert(out == Map("p1" -> Some(200L), "p2" -> Some(300L), "p3" -> None))
  }

  test("asOfJoinForward picks the earliest right row at-or-after each left ts per key") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(10), "p1"), (1L, ts(20), "p2"), (2L, ts(99), "p3"))
      .toDF("k", "lts", "tag")
    val right = Seq((1L, ts(5), 100L), (1L, ts(10), 200L), (1L, ts(15), 300L),
      (2L, ts(5), 999L))
      .toDF("k", "rts", "payload")
      .select(col("k"), col("rts").as("lts"), col("payload")) // share the ts name
    val out = Relational.asOfJoinForward(left, right, "k", "lts", "lts", Seq("payload"))
      .select("tag", "payload").as[(String, Option[Long])].collect().toMap
    // p1 at ts 10: right row AT 10 matches (inclusive); p2 at 20: nothing
    // follows -> null; p3 at 99: key 2's only right row is in the past -> null
    assert(out == Map("p1" -> Some(200L), "p2" -> None, "p3" -> None))
  }

  test("asOfJoin carries the latest right ROW atomically, including its null fields") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(20))).toDF("k", "lts")
    // latest right row has x = null: the output must NOT stitch the stale
    // non-null x from the older row
    val right = Seq((1L, ts(5), Some("a"), None: Option[String]),
      (1L, ts(10), None: Option[String], Some("b")))
      .toDF("k", "lts", "x", "y")
    val out = Relational.asOfJoin(left, right, "k", "lts", "lts", Seq("x", "y"))
      .select("x", "y").as[(Option[String], Option[String])].collect().head
    assert(out == ((None, Some("b"))), s"payload stitched across rows: $out")
  }

  test("asOfJoin rejects left columns that collide with the payload namespace") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(20), "own")).toDF("k", "lts", "payload")
    val right = Seq((1L, ts(5), "r")).toDF("k", "lts", "payload")
    val e = intercept[IllegalArgumentException] {
      Relational.asOfJoin(left, right, "k", "lts", "lts", Seq("payload"))
    }
    assert(e.getMessage.contains("payload"))
  }

  /** Unkeyed interval join via time-binning: pairs (l, r) with
    * `rightTs ∈ [leftTs − before, leftTs + after]`. A naive unkeyed range
    * join is a cartesian product; here both sides shuffle on a time BIN of
    * `binWidth` micros — left rows replicate to every bin their interval
    * touches (≤ 2 + (before+after)/binWidth copies), right rows keep their
    * own bin, and the exact predicate re-applies after the equi-join on the
    * bin. Cost is Σ bin² over co-occurring bins, not |L|·|R|; each matching
    * pair meets in exactly one bin (the right row's), so no dedup pass.
    * Timestamps must be non-negative (epoch micros; `div` floors there).
    * The pair-enumerating q62 yardstick: q444's rank-difference count must
    * equal its per-row match count.
    */
  private def binnedRangeJoin(left: DataFrame, right: DataFrame,
                              leftTs: String, rightTs: String,
                              before: String, after: String,
                              binWidth: String = "1 hour"): DataFrame = {
    def micros(interval: String): Column =
      expr(s"unix_micros(timestamp '1970-01-01 00:00:00Z' + INTERVAL $interval)")
    val w = micros(binWidth)
    val lm = unix_micros(col(leftTs))
    val lo = lm - micros(before)
    val hi = lm + micros(after)
    // micros < 2^53 ⇒ the double quotient is exact enough for floor (an
    // integer quotient is itself representable, so floor can't misround)
    val lBinned = left
      .withColumn("__bin", explode(sequence(floor(lo / w), floor(hi / w))))
    val rBinned = right.withColumn("__bin", floor(unix_micros(col(rightTs)) / w))
    lBinned.join(rBinned, Seq("__bin"))
      .filter(col(rightTs).between(col(leftTs) - expr(s"INTERVAL $before"),
        col(leftTs) + expr(s"INTERVAL $after")))
      .drop("__bin")
  }

  test("binnedRangeJoin equals the naive range join across bin boundaries") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // seconds chosen to straddle the 60s bins: matches within same bin,
    // adjacent bin, and non-matches just outside the range
    val left = Seq((1L, ts(59)), (2L, ts(61)), (3L, ts(150))).toDF("lid", "lts")
    val right = Seq((10L, ts(30)), (11L, ts(60)), (12L, ts(89)),
      (13L, ts(121)), (14L, ts(179)), (15L, ts(181))).toDF("rid", "rts")
    val binned = binnedRangeJoin(left, right, "lts", "rts",
      before = "30 seconds", after = "30 seconds", binWidth = "1 minute")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val naive = left.crossJoin(right)
      .filter(col("rts").between(col("lts") - expr("INTERVAL 30 seconds"),
        col("lts") + expr("INTERVAL 30 seconds")))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(binned == naive && naive.nonEmpty)
    assert(binned.contains((1L, 10L)) && binned.contains((2L, 12L)))
  }

  test("runningState row-numbers and lags within partition") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01"), 10L, 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:00:02"), 11L, 2.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:01"), 12L, 3.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Relational.runningState(df, "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "rn")
      .select("user_id", "rn", "prev_value").collect()
    assert(out(0).getInt(1) == 1 && out(0).isNullAt(2))
    assert(out(1).getInt(1) == 2 && out(1).getDouble(2) == 1.0)
    assert(out(2).getInt(1) == 1 && out(2).isNullAt(2))
  }
  test("slidingDistinct counts trailing-window distinct keys, only for present days") {
    val ts = (d: String) => java.sql.Timestamp.valueOf(d + " 12:00:00")
    val ev = Seq(
      (ts("2024-01-01"), 1L), (ts("2024-01-01"), 1L),
      (ts("2024-01-05"), 2L),
      (ts("2024-02-01"), 3L)
    ).toDF("ts", "user_id")
    val out = Relational.slidingDistinct(ev, "user_id", "ts", windowDays = 7)
      .orderBy("day").as[(String, Long)].collect().toSeq
    // Jan 5 sees user 1 (Jan 1 is within the trailing 7 days) + user 2;
    // Jan 2-4 produce no row (absent from the log); Feb 1 sees only user 3
    assert(out == Seq(("2024-01-01", 1L), ("2024-01-05", 2L), ("2024-02-01", 1L)))
  }

  test("histogramQuantiles skips NULL values exactly like percentile()") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)), ("a", Some(2.0)),
      ("b", None), ("b", Some(5.0))).toDF("g", "v")
    val expect = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("p"))
      .as[(String, Double)].collect().toMap
    val got = Relational.histogramQuantiles(df, "g", "v", Seq(0.5))
      .select("g", "quantile").as[(String, Double)].collect().toMap
    assert(got == expect, s"$got != $expect")
  }

  test("histogramQuantiles is bit-identical to percentile() incl. ties and 1-row groups") {
    // heavy-tie quantized data, one singleton group, integral and fractional
    // interpolation positions across 0.5/0.9/0.99
    val rows = (1 to 97).map(i => ("a", (i % 13) * 0.25)) ++
      (1 to 40).map(i => ("b", (i % 7) * 1.5)) ++ Seq(("c", 42.0))
    val df = rows.toDF("g", "v")
    val qs = Seq(0.5, 0.9, 0.99)
    val expect = df.groupBy("g")
      .agg(expr("percentile(v, array(0.5, 0.9, 0.99))").as("p"))
      .select(col("g"), posexplode(col("p")))
      .select(col("g"), col("pos"), col("col"))
      .as[(String, Int, Double)].collect()
      .map { case (g, i, v) => ((g, qs(i)), v) }.toMap
    val got = Relational.histogramQuantiles(df, "g", "v", qs)
      .as[(String, Double, Double)].collect()
      .map { case (g, q, v) => ((g, q), v) }.toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(expect(k)), s"$k: $v != ${expect(k)}")
    }
  }

  test("bloomPrunedSemiJoin equals the plain semi join, false positives removed") {
    val dim = (1L to 60L).filter(_ % 7 == 0).toDF("k")
    val fact = (1L to 500L).map(i => (i, i % 60)).toDF("id", "fk")
    val got = Relational.bloomPrunedSemiJoin(fact, dim, "fk", "k",
      expectedItems = 100L, fpp = 0.03)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val expect = fact.join(dim, fact("fk") === dim("k"), "left_semi")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("BloomMightContain rejects a STRING key at analysis instead of NULLing it") {
    val dim = (0L until 10L).toDF("k")
    val bf = dim.stat.bloomFilter("k", 10L, 0.01)
    val bits = graft.functions.BloomMightContain.serialize(bf)
    val strs = Seq("1", "oops").toDF("s")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      strs.filter(graft.functions.BloomMightContain(col("s"), bits)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("integral key"),
      s"unexpected analysis error: ${e.getMessage}")
  }

  test("BloomMightContain never rejects an inserted key (one-sided error only)") {
    val dim = (0L until 1000L).toDF("k")
    val bf = dim.stat.bloomFilter("k", 1000L, 0.01)
    val bits = graft.functions.BloomMightContain.serialize(bf)
    val kept = dim.filter(graft.functions.BloomMightContain(col("k"), bits)).count()
    assert(kept == 1000L, "a bloom filter must have no false negatives")
  }

  test("BloomMightContain widens narrower integral keys at plan time") {
    val dim = (0L until 100L).toDF("k")
    val bf = dim.stat.bloomFilter("k", 100L, 0.01)
    val bits = graft.functions.BloomMightContain.serialize(bf)
    // IntegerType probe column: must coerce, not ClassCastException
    val ints = (0 until 100).toDF("i")
    assert(ints.filter(graft.functions.BloomMightContain(col("i"), bits)).count() == 100L)
    // foldable int child is evaluated interpreted by ConstantFolding on the
    // driver; key 5 is inserted, so the constant filter keeps every row
    val folded = dim.filter(graft.functions.BloomMightContain(lit(5), bits)).count()
    assert(folded == 100L)
  }

  test("forwardFill carries the last non-null forward, leaves leading nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, Option.empty[Double]), // leading null stays null
      (1L, 2L, Some(5.0)),
      (1L, 3L, None), // filled with 5.0
      (1L, 4L, Some(7.0)),
      (1L, 5L, None), // filled with 7.0
      (2L, 1L, None) // other key unaffected by key 1's values
    ).toDF("k", "seq", "v")
    val out = Relational.forwardFill(df, "k", "seq", "seq", "v")
      .orderBy("k", "seq")
      .select(col("filled_value")).as[Option[Double]].collect().toSeq
    assert(out == Seq(None, Some(5.0), Some(5.0), Some(7.0), Some(7.0), None))
  }

  test("forwardFill tie-break makes equal order keys deterministic") {
    import spark.implicits._
    // two observations at the SAME ts: the higher tie id wins downstream
    val df = Seq(
      (1L, 10L, 1L, Some(1.0)), (1L, 10L, 2L, Some(2.0)), (1L, 11L, 3L, None)
    ).toDF("k", "ts", "id", "v")
    val out = Relational.forwardFill(df, "k", "ts", "id", "v")
      .filter(col("id") === 3).select("filled_value").as[Double].head()
    assert(out == 2.0)
  }

  test("attribution finds first touch, last touch before FIRST conversion") {
    import spark.implicits._
    val df = Seq(
      // user 1: view → click → purchase → signup → purchase
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"), (1L, 3L, 30L, "purchase"),
      (1L, 4L, 40L, "signup"), (1L, 5L, 50L, "purchase"),
      // user 2: purchase first — no last touch
      (2L, 6L, 10L, "purchase"), (2L, 7L, 20L, "view"),
      // user 3: never converts — absent from output
      (3L, 8L, 10L, "view")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Relational.attribution(df, "user_id", "ts", "event_id",
      "event_type", "purchase")
      .orderBy("user_id")
      .select("user_id", "first_touch", "last_touch", "conversion_at")
      .as[(Long, String, Option[String], Long)].collect().toSeq
    assert(out == Seq(
      (1L, "view", Some("click"), 30L),
      (2L, "purchase", None, 10L)))
  }

  test("transitionMatrix counts consecutive pairs per key with exact shares") {
    import spark.implicits._
    // user 1: a→b→a ; user 2: a→b — transitions: a→b ×2, b→a ×1
    val df = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "a"),
      (2L, 10L, 4L, "a"), (2L, 20L, 5L, "b")).toDF("u", "t", "id", "et")
    val out = Relational.transitionMatrix(df, "u", "t", "id", "et")
      .orderBy("from_type", "to_type")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", "b", 2L, 10000L), ("b", "a", 1L, 10000L)))
  }

  test("transitionMatrix: equal timestamps order by the tie column") {
    import spark.implicits._
    val df = Seq((1L, 10L, 1L, "x"), (1L, 10L, 2L, "y"), (1L, 10L, 3L, "z"))
      .toDF("u", "t", "id", "et")
    val out = Relational.transitionMatrix(df, "u", "t", "id", "et")
      .orderBy("from_type").select("from_type", "to_type")
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("x", "y"), ("y", "z")))
  }

  test("journeyTrigrams counts three-step sequences with post-limit rank") {
    import spark.implicits._
    // user 1: a b c a b c → (a,b,c)×2, (b,c,a)×1, (c,a,b)×1
    val df = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"),
      (1L, 4L, "a"), (1L, 5L, "b"), (1L, 6L, "c"))
      .map { case (u, t, e) => (u, t, t, e) }.toDF("u", "t", "id", "et")
    val out = Relational.journeyTrigrams(df, "u", "t", "id", "et", k = 10)
      .orderBy("rank")
      .as[(String, String, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", "b", "c", 2L, 1L), ("b", "c", "a", 1L, 2L), ("c", "a", "b", 1L, 3L)))
  }

  test("journeyTrigrams: sequences never cross key boundaries") {
    import spark.implicits._
    val df = Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"),
      (2L, 3L, 3L, "c"), (2L, 4L, 4L, "d")).toDF("u", "t", "id", "et")
    assert(Relational.journeyTrigrams(df, "u", "t", "id", "et", 10).count() == 0)
  }

  test("interEventGaps: exact whole-second gaps with discrete percentiles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_micros
    // one user, events at 0s, 10s, 10.9s, 31s — gaps (by CURRENT type):
    // b: 10s, c: 0s (floored from 0.9), d: 20s (floored from 20.1)
    val df = Seq((1L, 0L, 1L, "a"), (1L, 10000000L, 2L, "b"),
      (1L, 10900000L, 3L, "c"), (1L, 31000000L, 4L, "d"))
      .toDF("u", "us", "id", "et")
      .withColumn("ts", timestamp_micros($"us"))
    val out = Relational.interEventGaps(df, "u", "ts", "id", "et")
      .orderBy("et")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("b", 1L, 10L, 10L, 10L), ("c", 1L, 0L, 0L, 0L),
      ("d", 1L, 20L, 20L, 20L)))
  }

  test("rollingMedian: exact medians over a 3-row trailing frame") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("a", 4L, 4L), ("a", 5L, 5L)).toDF("k", "t", "v")
    val out = Relational.rollingMedian(df, "k", "t", "v", frameRows = 3)
      .orderBy("t").select("rolling_median").as[Double].collect().toSeq
    assert(out == Seq(1.0, 1.5, 2.0, 3.0, 4.0))
  }

  test("journeyTrigrams rank ties break on the trigram strings") {
    import spark.implicits._
    // two distinct trigrams, same count — rank order must be lexicographic
    val df = Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "c"),
      (2L, 1L, 4L, "x"), (2L, 2L, 5L, "y"), (2L, 3L, 6L, "z"))
      .toDF("u", "t", "id", "et")
    val out = Relational.journeyTrigrams(df, "u", "t", "id", "et", 10)
      .orderBy("rank").select("step1", "rank")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 1L), ("x", 2L)))
  }

  test("interEventGaps: a single-event user contributes no gap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_micros
    val df = Seq((1L, 0L, 1L, "a")).toDF("u", "us", "id", "et")
      .withColumn("ts", timestamp_micros($"us"))
    assert(Relational.interEventGaps(df, "u", "ts", "id", "et").count() == 0)
  }

  test("rollingMedian: even frames average the two middles; keys isolate") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1L), ("a", 2L, 4L), ("a", 3L, 10L),
      ("b", 1L, 100L)).toDF("k", "t", "v")
    val out = Relational.rollingMedian(df, "k", "t", "v", frameRows = 2)
      .orderBy("k", "t").select("rolling_median").as[Double].collect().toSeq
    assert(out == Seq(1.0, 2.5, 7.0, 100.0))
  }

  test("paretoFrontier: strict domination, equal-y at greater x dominates") {
    val pts = Seq(
      (1L, 50L), (1L, 90L),   // qty 1: best 50 — kept (50 < 55, nothing above beats it)
      (2L, 55L),              // equal price to qty 3's 55 → dominated by (3, 55)
      (3L, 55L),              // kept: 55 < best of qty >= 4 (65)
      (4L, 70L),              // qty 5 is cheaper (65 <= 70) → dominated
      (5L, 65L)
    ).toDF("q", "p")
    val out = Relational.paretoFrontier(pts, "q", "p")
      .orderBy("q").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 50L), (3L, 55L), (5L, 65L)))
  }

  test("paretoFrontier: price increasing with qty keeps all, decreasing keeps one") {
    val inc = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("q", "p")
    assert(Relational.paretoFrontier(inc, "q", "p")
      .orderBy("q").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // a strictly cheaper HIGHER quantity dominates everything below it
    val dec = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("q", "p")
    assert(Relational.paretoFrontier(dec, "q", "p")
      .orderBy("q").as[(Long, Long)].collect().toSeq == Seq((3L, 10L)))
  }

  test("timedFunnel: converts inside the window only, from the FIRST start event") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val ev = Seq(
      // u1: first view 01:00, purchase 05:00 → converted, lat 4h = 14400 s
      (1L, "2024-01-01 01:00:00", "view"),
      (1L, "2024-01-01 09:00:00", "view"),      // later view must NOT reset t0
      (1L, "2024-01-01 05:00:00", "purchase"),
      // u2: purchase 26h after first view → outside 24h
      (2L, "2024-01-01 01:00:00", "view"),
      (2L, "2024-01-02 03:00:00", "purchase"),
      // u3: purchase BEFORE the first view → not a conversion
      (3L, "2024-01-01 10:00:00", "purchase"),
      (3L, "2024-01-01 12:00:00", "view")
    ).toDF("u", "ts", "et").withColumn("ts", to_timestamp(col("ts")))
    val out = Relational.timedFunnel(ev, "u", "ts", "et", "view", "purchase", 24)
      .orderBy("cohort_day")
      .as[(String, Long, Long, Option[Long], Long)].collect().toSeq
    assert(out == Seq(("2024-01-01", 3L, 1L, Some(14400L), 3333L)))
  }

  test("timedFunnel: a boundary hit exactly at t0+window converts") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-02 00:00:00", "purchase")
    ).toDF("u", "ts", "et").withColumn("ts", to_timestamp(col("ts")))
    val out = Relational.timedFunnel(ev, "u", "ts", "et", "view", "purchase", 24)
      .as[(String, Long, Long, Option[Long], Long)].collect().toSeq
    assert(out == Seq(("2024-01-01", 1L, 1L, Some(86400L), 10000L)))
  }

  test("skewProfile: exact hot-key stats per candidate column") {
    val df = (Seq.fill(70)(("hot", 1L)) ++ (1 to 30).map(i => (s"k$i", i.toLong)))
      .toDF("k", "v")
    val out = Relational.skewProfile(df, Seq("k"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // n=100, distinct=31, max=70, avg=100 div 31=3, top1=7000bp
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5, r._7)) ==
      Seq(("k", 100L, 31L, 70L, 3L, 7000L)))
  }

  test("skewProfile unions one row per column in argument order") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b")).toDF("x", "y")
    val out = Relational.skewProfile(df, Seq("x", "y"))
      .select("col_name", "n", "n_distinct", "max_cnt")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("x", 3L, 2L, 2L), ("y", 3L, 2L, 2L)))
  }

  // ------------------------------------------------------- cohortRetention

  test("cohortRetention: first-week cohorts, exact bp vs week-0 size") {
    def t(d: String) = Timestamp.valueOf(s"2024-01-$d 12:00:00")
    // u1: weeks 0+1; u2: week 0 only; u3: first seen week 1
    val ev = Seq((1L, t("03")), (1L, t("10")), (1L, t("10")),
      (2L, t("05")), (3L, t("11"))).toDF("user_id", "ts")
    val out = Relational.cohortRetention(ev, "user_id", "ts", "2024-01-01")
      .orderBy("cohort_week", "week_offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 2L, 10000L), (0L, 1L, 1L, 5000L),
      (1L, 0L, 1L, 10000L)))
  }

  // ------------------------------------------------------- audienceOverlap

  test("audienceOverlap: distinct membership, exact Jaccard bp") {
    val ev = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"),
      (3L, "b"), (4L, "a"), (4L, "b")).toDF("user_id", "event_type")
    val out = Relational.audienceOverlap(ev, "user_id", "event_type")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // |a|=3, |b|=3, both={1,4} → 2/4 = 5000bp
    assert(out == Seq(("a", "b", 3L, 3L, 2L, 5000L)))
  }

  // ----------------------------------------------------------- pivotCounts

  test("pivotCounts: fixed schema from the value list, absent cells are 0") {
    val df = Seq(("d1", "x"), ("d1", "x"), ("d1", "y"), ("d2", "y"),
      ("d2", "z")).toDF("day", "t") // z not in the value list: ignored
    val out = Relational.pivotCounts(df, "day", "t", Seq("x", "y"))
      .orderBy("day").as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("d1", 2L, 1L), ("d2", 0L, 1L)))
  }

  // ---------------------------------------------------------- sessionStats

  test("sessionStats: exact 30-min gap MERGES (boundary-inclusive), " +
      "strictly larger breaks") {
    def t(min: Long) = new Timestamp(1700000000000L + min * 60000)
    // u1: 0, 10, 40 — the 10→40 gap is exactly 30 min and session_window
    // MERGES it (window starting at the previous end is absorbed), so u1
    // is ONE 40-min session; 40→71 (31 min) would break. u2: singleton.
    val ev = Seq((1L, t(0)), (1L, t(10)), (1L, t(40)), (2L, t(5)))
      .toDF("user_id", "ts")
    val out = Relational.sessionStats(ev, "user_id", "ts")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // durations [0, 2400e6]: p50 = 0, p90 = 2400e6; events [1, 3]:
    // p50 = 1, mean×100 = 400 div 2 = 200
    assert(out == Seq((2L, 0L, 2400000000L, 1L, 200L)))
  }

  // -------------------------------------------- maxConcurrentSessions

  test("maxConcurrentSessions: overlapping sessions peak, disjoint don't") {
    def t(min: Long) = new Timestamp(1700000000000L + min * 60000)
    // u1 session [0, 10], u2 session [5, 5] (overlaps u1), u3 at 60
    val ev = Seq((1L, t(0)), (1L, t(10)), (2L, t(5)), (3L, t(60)))
      .toDF("user_id", "ts")
    val out = Relational.maxConcurrentSessions(ev, "user_id", "ts")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((3L, 2L)))
  }

  // -------------------------------------------------------- weightedMedian

  test("weightedMedian: weights move the median off the row median") {
    val df = Seq((10L, 1L, 1L), (20L, 10L, 2L), (30L, 1L, 3L))
      .toDF("amt", "w", "id")
    val out = Relational.weightedMedian(df, "amt", "w", Seq("id"))
      .as[(Long, Long)].collect().toSeq
    // total 12; first amount with 2·cum ≥ 12 is 20 (cum 11); the row
    // median would also be 20 here, but with weight on 30 it shifts:
    assert(out == Seq((20L, 12L)))
    val df2 = Seq((10L, 1L, 1L), (20L, 1L, 2L), (30L, 10L, 3L))
      .toDF("amt", "w", "id")
    val out2 = Relational.weightedMedian(df2, "amt", "w", Seq("id"))
      .as[(Long, Long)].collect().toSeq
    assert(out2 == Seq((30L, 12L)))
  }

  // --------------------------------------------------------- longestStreak

  test("longestStreak: gaps split islands, duplicates within a day don't") {
    def t(d: String) = Timestamp.valueOf(s"2024-01-$d 09:00:00")
    val ev = Seq((1L, t("01")), (1L, t("02")), (1L, t("02")), (1L, t("03")),
      (1L, t("05")), (1L, t("06")), (2L, t("04"))).toDF("user_id", "ts")
    val out = Relational.longestStreak(ev, "user_id", "ts", "2024-01-01")
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (2L, 1L)))
  }

  // ----------------------------------------------------------------- Policy

  test("Policy: unknown action fails loudly, never passes data through") {
    val df = Seq((1L, "alice")).toDF("id", "name")
    val boom = intercept[IllegalArgumentException] {
      Policy.applyPolicy(df,
        Seq(Policy.Rule("r", "name", "redactt_tail", "3")),
        roles = Seq("r"), keepCols = Seq("id", "name"))
    }
    assert(boom.getMessage.contains("unknown policy action"))
  }

  test("Policy: masks compose with the row filter; admin passthrough intact") {
    val df = Seq((1L, "alice", 10.0), (2L, "bob", 20.0)).toDF("id", "name", "bal")
    val out = Policy.applyPolicy(df,
      Seq(Policy.Rule("a", "name", "redact_tail", "2"),
        Policy.Rule("a", "bal", "nullify", ""),
        Policy.Rule("a", "__row_filter__", "id <> 2", "")),
      roles = Seq("a", "admin"), keepCols = Seq("id", "name", "bal"))
      .orderBy("role", "id")
      .as[(String, Long, String, Option[Double])].collect()
    assert(out.toSeq == Seq(
      ("a", 1L, "al***", None),
      ("admin", 1L, "alice", Some(10.0)),
      ("admin", 2L, "bob", Some(20.0))))
  }

  // --------------------------------------------------------------- hierarchy
  test("q426: every path walks node -> root with depth segments") {
    val rows = SparkEntry.queries("q426_hierarchy_paths")(spark, sf)
      .select("node", "root", "depth", "path").as[(String, String, Long, String)]
      .collect()
    assert(rows.forall { case (n, r, d, p) =>
      val segs = p.split("/")
      segs.head == n && segs.last == r && segs.length == d + 1
    })
    assert(rows.filter(_._1.startsWith("c:")).forall(_._3 == 2L))
    assert(rows.filter(_._1.startsWith("r:")).forall(r => r._1 == r._2))
  }

  test("q444: the rank-difference count IS the interval-join count (retired q62 shape)") {
    // the superlinear original — pair-enumerating binned interval join —
    // rebuilt inline as the yardstick (q62 now registers q444's plan)
    val ev = Tables.events(spark, sf)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts").as("click_ts"))
    val viaJoin = binnedRangeJoin(signups, clicks, "ts", "click_ts",
      before = "30 minutes", after = "30 minutes", binWidth = "1 hour")
      .groupBy(col("event_id")).agg(count(lit(1)).as("clicks_nearby"))
      .select("event_id", "clicks_nearby").as[(Long, Long)].collect().toMap
    val viaRank = SparkEntry.queries("q444_range_count_rank")(spark, sf)
      .select("event_id", "clicks_nearby").as[(Long, Long)].collect().toMap
    assert(viaRank == viaJoin, "same semantics, different algorithm — must agree")
  }

  test("q448: brute-force parity under the density-derived radius") {
    val out = SparkEntry.queries("q448_radius_scaled")(spark, sf)
      .select("u_a", "n_neighbors", "min_dist2", "sum_dist2")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val users = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id").isNotNull)
      .select("user_id").distinct().as[Long].collect()
    val r2 = math.max(1L, 33750000L / users.length)
    val pts = users.map(u => u -> ((u * 7919 % 1001) - 500, (u * 104729 % 1001) - 500)).toMap
    users.foreach { u =>
      val ds = users.filter(_ != u).map { v =>
        val (xa, ya) = pts(u); val (xb, yb) = pts(v)
        (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      }.filter(_ <= r2)
      if (ds.isEmpty) assert(!out.contains(u))
      else {
        val (n, mn, sm) = out(u)
        assert(n == ds.length && mn == ds.min && sm == ds.sum,
          s"user $u: got ($n,$mn,$sm) want (${ds.length},${ds.min},${ds.sum})")
      }
    }
  }

  test("retired q394 shape: fixed-knob grid join equals brute force at r=150") {
    val users = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id").isNotNull)
      .select("user_id").distinct().as[Long].collect()
    val pts = users.map(u => u -> ((u * 7919 % 1001) - 500, (u * 104729 % 1001) - 500)).toMap
    // the original fixed 200-cell/150-radius plan, inline
    val u = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        (col("user_id") * 7919L % 1001L - 500L).as("px"),
        (col("user_id") * 104729L % 1001L - 500L).as("py"))
    val cell = u
      .withColumn("cx", expr("(px + 500) div 200"))
      .withColumn("cy", expr("(py + 500) div 200"))
    val probe = cell
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("user_id").as("u_a"), col("px").as("xa"), col("py").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val build = cell.select(col("user_id").as("u_b"), col("px").as("xb"),
      col("py").as("yb"), col("cx"), col("cy"))
    val out = probe.join(build, Seq("cx", "cy"))
      .filter(col("u_a") =!= col("u_b"))
      .withColumn("dist2", expr("(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)"))
      .filter(col("dist2") <= 22500L)
      .groupBy(col("u_a"))
      .agg(count(lit(1)).as("n"), min(col("dist2")).as("mn"), sum(col("dist2")).as("sm"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    users.foreach { x =>
      val ds = users.filter(_ != x).map { v =>
        val (xa, ya) = pts(x); val (xb, yb) = pts(v)
        (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      }.filter(_ <= 22500L)
      if (ds.isEmpty) assert(!out.contains(x))
      else assert(out(x) == ((ds.length.toLong, ds.min, ds.sum)),
        s"user $x: got ${out(x)} want (${ds.length},${ds.min},${ds.sum})")
    }
  }
}
