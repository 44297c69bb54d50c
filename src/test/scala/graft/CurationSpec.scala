package graft

import org.apache.spark.sql.functions._

import graft.ops.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (1L to 100L).map(i =>
    (i, if (i % 4 == 0) "de" else "en")).toDF("doc_id", "lang")

  test("stratifiedSample keeps exactly the quota per stratum, reproducibly") {
    val a = Curation.stratifiedSample(docs, "lang", "doc_id", 10)
    val counts = a.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts == Map("en" -> 10L, "de" -> 10L))
    val b = Curation.stratifiedSample(docs, "lang", "doc_id", 10)
    assert(a.orderBy("doc_id").collect().toSeq == b.orderBy("doc_id").collect().toSeq)
  }

  test("stratifiedSample with quota above stratum size keeps everything") {
    val out = Curation.stratifiedSample(docs, "lang", "doc_id", 1000)
    assert(out.count() == 100)
  }

  test("weightedMixture allocates the budget by weight") {
    val out = Curation.weightedMixture(docs, "lang", "doc_id",
      Map("en" -> 3.0, "de" -> 1.0), totalBudget = 40)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts == Map("en" -> 30L, "de" -> 10L))
  }

  test("weightedMixture drops strata with no weight") {
    val out = Curation.weightedMixture(docs, "lang", "doc_id",
      Map("en" -> 1.0), totalBudget = 12)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts == Map("en" -> 12L))
  }

  test("weightedPrioritySample returns n rows, reproducibly") {
    val weighted = docs.withColumn("w", org.apache.spark.sql.functions.lit(10L))
    val a = Curation.weightedPrioritySample(weighted, "doc_id", "w", 25)
    assert(a.count() == 25)
    assert(a.columns.contains("priority"))
    val b = Curation.weightedPrioritySample(weighted, "doc_id", "w", 25)
    assert(a.orderBy("doc_id").collect().toSeq == b.orderBy("doc_id").collect().toSeq)
  }

  test("weightedPrioritySample favors heavy weights (exponential race)") {
    import org.apache.spark.sql.functions._
    // even ids carry a 10^6× weight: their exponential keys are ~10^6×
    // smaller, so the top-50 of 200 must be all even
    val weighted = (1L to 200L).toDF("doc_id")
      .withColumn("w", when(col("doc_id") % 2 === 0, 1000000L).otherwise(1L))
    val picked = Curation.weightedPrioritySample(weighted, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect()
    assert(picked.length == 50)
    assert(picked.forall(_ % 2 == 0), s"light rows leaked into: ${picked.toSeq}")
  }

  test("weightedPrioritySample with n above the population keeps every row") {
    val weighted = docs.withColumn("w", org.apache.spark.sql.functions.lit(5L))
    assert(Curation.weightedPrioritySample(weighted, "doc_id", "w", 1000).count() == 100)
  }

  test("weightedPrioritySample fails loudly on negative ids or zero weights") {
    import org.apache.spark.sql.functions._
    val negId = Seq((-1L, 5L), (2L, 5L)).toDF("doc_id", "w")
    intercept[Exception] {
      Curation.weightedPrioritySample(negId, "doc_id", "w", 10).collect()
    }
    val zeroW = Seq((1L, 0L), (2L, 5L)).toDF("doc_id", "w")
    intercept[Exception] {
      Curation.weightedPrioritySample(zeroW, "doc_id", "w", 10).collect()
    }
  }

  test("curationChain assigns first-failure reasons and dedups by content") {
    val good = "the quick brown fox jumps over the lazy dog and runs on " +
      "through the green fields of a long morning walk is a fine thing " +
      "when the sun is up and the air is cool and clear"
    val fixture = Seq(
      (1L, good),                         // keeper
      (2L, good),                         // exact duplicate of 1 -> duplicate
      (3L, "der und die ist das der und die ist das der und die ist das " +
        "der und die ist das der und die ist das der und die ist das " +
        "der und die ist das der und die ist das"), // German -> lang
      (4L, "the sun is up"),              // English but too short -> quality
      (5L, ("the and of is a " * 30).trim) // all repeats -> repetition
    ).toDF("doc_id", "text")
    val out = Curation.curationChain(fixture, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "kept", "drop_reason")
      .as[(Long, Boolean, Option[String])].collect().toSeq
    assert(out == Seq(
      (1L, true, None),
      (2L, false, Some("duplicate")),
      (3L, false, Some("lang")),
      (4L, false, Some("quality")),
      (5L, false, Some("repetition"))))
  }

  test("curationChain audits degenerate docs as kept=false, never null") {
    // empty/whitespace text makes rep_ratio null -> __pass null; the audit
    // contract (matching the oracle's coalesce(..., FALSE)) is kept=false
    val fixture = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val kept = Curation.curationChain(fixture, "doc_id", "text")
      .select("kept").as[Boolean].collect().toSeq
    assert(kept == Seq(false, false, false)) // would throw on null before collect otherwise
  }
  test("assembleSequences orders by (ts, tiebreak) regardless of partial merge order") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (7L, ts("2024-03-01 10:00:02"), 3L, "purchase"),
      (7L, ts("2024-03-01 10:00:01"), 2L, "click"),
      (7L, ts("2024-03-01 10:00:01"), 1L, "view"),
      (7L, ts("2024-03-02 09:00:00"), 4L, "view"),
      (8L, ts("2024-03-01 08:00:00"), 5L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type").repartition(4)
    val out = Curation.assembleSequences(ev, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "day").as[(Long, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (7L, "2024-03-01", "view>click>purchase", 3L),
      (7L, "2024-03-02", "view", 1L),
      (8L, "2024-03-01", "view", 1L)))
  }

  test("trainValTestSplit is exhaustive, deterministic, and ~80/10/10") {
    val docs = (1L to 1000L).map(i => (i, 10L)).toDF("doc_id", "n_chars")
    val out = Curation.trainValTestSplit(docs, "doc_id", "n_chars")
      .as[(String, Long, Long)].collect().toSeq.sorted
    val counts = out.map(r => (r._1, r._2)).toMap
    assert(counts.values.sum == 1000L)
    assert(counts("train") > 700L && counts("val") > 50L && counts("test") > 50L)
    val again = Curation.trainValTestSplit(docs, "doc_id", "n_chars")
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(out == again)
  }

  test("trainValTestSplit is overflow-free for ids beyond 2^32") {
    // ids where the un-reduced multiply id * 2654435761 would wrap a long
    // (id >= ~2^31.7): the reduce-first hash must agree with exact BigInt
    // arithmetic — the same arithmetic the wider-integer oracle performs
    val bigIds = Seq(1L << 33, (1L << 40) + 17L, (1L << 62) + 999L, Long.MaxValue)
    val docs = bigIds.map(i => (i, 1L)).toDF("doc_id", "n_chars")
    val out = Curation.trainValTestSplit(docs, "doc_id", "n_chars")
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2)).toMap
    val expected = bigIds
      .map(i => ((BigInt(i) * BigInt(2654435761L)) mod BigInt(1000000007L)) mod BigInt(100))
      .map(c => if (c < 80) "train" else if (c < 90) "val" else "test")
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    assert(out == expected, s"spark=$out bigint=$expected")
  }

  test("chunkDocuments covers every token, overlaps by chunkSize - stride") {
    val doc = (1 to 47).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc)).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(df, "doc_id", "text", chunkSize = 20, stride = 15)
      .orderBy("chunk_id").as[(Long, Long, String, Long)].collect()
    // ceil(47/15) = 4 windows; starts 0,15,30,45; sizes 20,20,17,2
    assert(chunks.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(chunks.map(_._4).toSeq == Seq(20L, 20L, 17L, 2L))
    // coverage: the concatenation of stride-prefixes rebuilds the doc
    val toks = doc.split(" ")
    chunks.foreach { case (_, cid, chunk, _) =>
      val start = (cid * 15).toInt
      assert(chunk == toks.slice(start, start + 20).mkString(" "))
    }
    // overlap: each window's first 5 tokens = previous window's last 5
    chunks.sliding(2).foreach { case Array(a, b) =>
      if (a._4 == 20 && b._4 >= 5)
        assert(a._3.split(" ").takeRight(5).toSeq == b._3.split(" ").take(5).toSeq)
      case _ => ()
    }
  }

  test("chunkDocuments: a short doc yields exactly one chunk, itself") {
    val df = Seq((7L, "only three tokens")).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(df, "doc_id", "text", 20, 15)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(out == Seq((7L, 0L, "only three tokens", 3L)))
  }

  test("chunkDocuments rejects a stride wider than the chunk (gaps)") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(df, "doc_id", "text", chunkSize = 10, stride = 20)
    }
  }

  test("budgetSelect keeps best-quality docs until the token budget is spent") {
    // quality ladder: long alpha text scores high, short junk low
    val good = ("the and of is a " * 30).trim // 150 tokens, stopword-rich
    val mid = "plain words here without stopwords " * 5 // 25 tokens
    val junk = "!!" // 1 token, score 0
    val docs = Seq((1L, good), (2L, junk), (3L, mid), (4L, good))
      .toDF("doc_id", "text")
    // budget fits the two good docs (300) + mid (25) but not junk's turn
    val out = Curation.budgetSelect(docs, "doc_id", "text", budget = 325L)
      .orderBy("doc_id").select("doc_id", "cum_tokens")
      .as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 3L, 4L))
    // inclusive boundary: the last kept doc lands exactly on the budget
    assert(out.map(_._2).max == 325L)
  }

  test("clusterSafeSplit lands every cluster member in the same split") {
    val docs = (1L to 300L).map(i => (i, 10L)).toDF("doc_id", "n_chars")
    // clusters: {1..10} -> 1, {11..20} -> 11; rest singletons
    val comp = (1L to 20L).map(i => (i, if (i <= 10) 1L else 11L))
      .toDF("node", "component")
    val out = Curation.clusterSafeSplit(docs, "doc_id", "n_chars", comp)
      .as[(String, Long, Long, Long)].collect()
    // doc and char volumes conserved; clusters = 2 real + 280 singletons,
    // and none is double-counted across splits (split is a component fn)
    assert(out.map(_._2).sum == 300L && out.map(_._4).sum == 3000L)
    assert(out.map(_._3).sum == 282L, s"cluster accounting off: ${out.toSeq}")
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("systematicSample: ranks 1 (mod k) in the explicit total order") {
    val df = (1L to 10L).map(i => (i, i * 10)).toDF("id", "v")
    val out = Curation.systematicSample(df, Seq("v", "id"), k = 4)
      .orderBy("rank").select("id", "rank").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L), (5L, 5L), (9L, 9L)))
  }

  test("curationFunnel: each stage is a cumulative conjunction") {
    val passText = (1 to 25).map(_ => "word").mkString(" ") // 25 tokens, all alpha
    val df = Seq(
      (passText, "en", 300L),            // survives every gate
      ("short", "en", 50L),              // fails length band
      (passText, "zh", 300L),            // fails language
      ("one two three", "en", 300L))     // fails min tokens
      .toDF("text", "lang", "n_chars")
    val out = Curation.curationFunnel(df, "text", "lang", "n_chars")
      .orderBy("stage_idx")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, "total", 4L, 1.0), (1L, "length", 3L, 0.75),
      (2L, "lang", 2L, 0.5), (3L, "tokens", 1L, 0.25),
      (4L, "alpha", 1L, 0.25)))
  }

  test("sequencePackStats: hand-computed straddles and tail waste, capacity 10") {
    // spans (id order): [0,6) [6,14) [14,20) [20,21); capacity 10 →
    // doc 2 straddles (6→14 crosses 10), doc 3 ends AT 20 (no straddle:
    // last token index 19 is in chunk 1), doc 4 starts chunk 2.
    // 21 tokens → 3 chunks; waste = (30−21)/30 = 3000 bp; empty doc drops
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val df = Seq((1L, words(6)), (2L, words(8)), (3L, words(6)),
      (4L, words(1)), (5L, "")).toDF("doc_id", "text")
    val out = Curation.sequencePackStats(df, "doc_id", "text", capacity = 10)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(out == ((4L, 21L, 3L, 1L, 2500L, 3000L)))
  }

  test("sequencePackStats equals the single-window oracle on a larger frame") {
    // two-phase prefix sum vs the naive global window, straddle-for-straddle
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).map(i => (i, (1 to (i % 37 + 1).toInt).map(_ => "t").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.sequencePackStats(df, "doc_id", "text", capacity = 64)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val naive = df.select(col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("tk"))
      .withColumn("e", sum("tk").over(Window.orderBy("doc_id")))
      .agg(count(lit(1)), sum("tk"),
        sum(when(expr("(e - tk) div 64") =!= expr("(e - 1) div 64"), 1L).otherwise(0L)))
      .as[(Long, Long, Long)].head()
    assert((got._1, got._2, got._4) == naive)
  }

  test("mixturePlan: weight-share targets and upsampling flag on exact longs") {
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val df = Seq(("a", words(100)), ("a", words(100)), ("b", words(10)),
      ("c", words(50))).toDF("source", "text")
    // budget 300, weights a:2 b:1 (c unweighted → drops); Σw=3 →
    // a target 200 over 200 avail = 10000 bp; b target 100 over 10 → 100000 bp
    val out = Curation.mixturePlan(df, "source", "text",
      Map("a" -> 2L, "b" -> 1L), totalBudget = 300L)
      .orderBy("source").as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("a", 200L, 200L, 10000L), ("b", 10L, 100L, 100000L)))
  }

  test("greedySetCover picks max-gain docs with doc_id tie-break") {
    // universe: d1={a,b,c}, d2={c,d}, d3={e} — greedy: d1 (3), d2 (+1), d3 (+1)
    val pairs = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "c"), (2L, "d"),
      (3L, "e")).toDF("doc_id", "tok")
    val got = Curation.greedySetCover(spark, pairs, rounds = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L, 3L), (2L, 2L, 1L, 4L), (3L, 3L, 1L, 5L)))
  }

  test("greedySetCover single-pass and iterative arms pick identically") {
    // the GraphSpec strategy-equality discipline: both arms on a corpus
    // with overlap, ties, an exhaustion point, and an untouched doc
    val pairs = (1L to 40L).flatMap { d =>
      (0L until (d % 7 + 1)).map(t => (d, s"t${(d * 3 + t * 5) % 23}"))
    }.toDF("doc_id", "tok")
    val (onePass, iterative) = bothArms(Curation.greedySetCover(spark, pairs, rounds = 6)
      .as[(Long, Long, Long, Long)].collect().toSeq)
    assert(onePass == iterative, s"single-pass $onePass != iterative $iterative")
    assert(onePass.nonEmpty)
  }

  test("greedySetCover fails loudly when the covered vocabulary would exceed the bound") {
    val pairs = (1L to 50L).map(t => (1L, s"t$t")).toDF("doc_id", "tok")
    // iterative arm (broadcast off): the per-round driver check throws at
    // call time
    val e = intercept[IllegalArgumentException] {
      withSQLConf(broadcastOff) {
        Curation.greedySetCover(spark, pairs, rounds = 2, maxCoveredRows = 10L)
      }
    }
    assert(e.getMessage.contains("maxCoveredRows"))
    // single-pass arm (the default here): the walk runs inside the
    // aggregate, so the require surfaces at action time (wrapped by the
    // task runner) — still loud
    val e2 = intercept[Throwable] {
      Curation.greedySetCover(spark, pairs, rounds = 2, maxCoveredRows = 10L).collect()
    }
    val msgs = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("maxCoveredRows"), msgs)
  }
}
