package graft

import org.apache.spark.sql.functions._

import graft.ops.{Moderation, Sentiment}

class SentimentModerationSpec extends SparkSpec {
  import spark.implicits._

  test("label thresholds are inclusive at exactly +/-0.05 (R4A.py:152-158)") {
    val df = Seq(0.05, 0.049999, -0.05, -0.049999, 0.0).toDF("c")
    val out = df.select(Sentiment.label(col("c")).as("l")).as[String].collect().toSeq
    assert(out == Seq("positive", "neutral", "negative", "neutral", "neutral"))
  }

  test("compound normalization matches s/sqrt(s^2+15)") {
    val s = 3.1
    val expected = s / math.sqrt(s * s + 15.0)
    val got = Seq(s).toDF("s").select(Sentiment.compoundOf(col("s")).as("c")).as[Double].head()
    assert(math.abs(got - expected) < 1e-12)
  }

  test("scoreByLexiconJoin scores hits and leaves no-hit docs neutral at 0") {
    val docs = Seq(
      (1L, "this is good good stuff"),   // 2 x good = +3.8
      (2L, "totally bad"),               // -2.5
      (3L, "nothing lexical here")       // no hits -> 0.0 neutral
    ).toDF("doc_id", "text")
    val out = Sentiment.scoreByLexiconJoin(docs, "doc_id", "text")
      .orderBy("doc_id").select("sentiment_score", "sentiment")
      .as[(Double, String)].collect().toSeq
    val c1 = 3.8 / math.sqrt(3.8 * 3.8 + 15.0)
    val c2 = -2.5 / math.sqrt(2.5 * 2.5 + 15.0)
    assert(math.abs(out(0)._1 - c1) < 1e-4 && out(0)._2 == "positive")
    assert(math.abs(out(1)._1 - c2) < 1e-4 && out(1)._2 == "negative")
    assert(out(2) == (0.0, "neutral"))
  }

  test("scoreByLexiconNative agrees bit-for-bit with the join form on testdata + edges") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val edges = Seq(
      (9000001L, null.asInstanceOf[String]),     // NULL text -> 0.0 neutral
      (9000002L, ""),                            // empty -> 0.0
      (9000003L, "  GOOD\tgReAt\ncrash  "),      // case + all six \s chars
      (9000004L, "good, win! (fail)"),           // punctuation glues tokens: no hits
      (9000005L, "goodgood good win"),      // NBSP is NOT \s: glued token
      (9000006L, "münchen ß good Σ bad")         // multi-byte neighbors
    ).toDF("doc_id", "text")
    val docs = real.unionByName(edges)
    val viaJoin = Sentiment.scoreByLexiconJoin(docs, "doc_id", "text")
      .select("doc_id", "sentiment_score", "sentiment")
      .orderBy("doc_id").as[(Long, Double, String)].collect().toSeq
    val viaNative = Sentiment.scoreByLexiconNative(docs, "text")
      .select("doc_id", "sentiment_score", "sentiment")
      .orderBy("doc_id").as[(Long, Double, String)].collect().toSeq
    assert(viaNative.size == viaJoin.size)
    viaJoin.zip(viaNative).foreach { case ((id1, s1, l1), (id2, s2, l2)) =>
      assert(id1 == id2 && l1 == l2, s"label diverged at $id1: $l1 vs $l2")
      assert(java.lang.Double.doubleToRawLongBits(s1) ==
        java.lang.Double.doubleToRawLongBits(s2),
        s"score diverged at $id1: $s1 vs $s2")
    }
    // and the crafted rows score what a hand count says
    val byId = viaNative.map(t => t._1 -> t).toMap
    assert(byId(9000001L)._3 == "neutral" && byId(9000001L)._2 == 0.0)
    assert(byId(9000004L)._2 == 0.0, "punctuation-glued tokens must not match")
    val c3 = (1.9 + 3.1 - 3.0) / math.sqrt(2.0 * 2.0 + 15.0)
    assert(math.abs(byId(9000003L)._2 - c3) < 1e-4)
  }

  test("moderation threshold is strictly > 0.9 (R4A.py:42)") {
    // 9 hits -> conf = 0.9 exactly -> NOT flagged; 10 hits -> 0.9091 -> flagged
    val nine = Array.fill(9)("error").mkString(" ")
    val ten = Array.fill(10)("error").mkString(" ")
    val df = Seq((1L, nine), (2L, ten), (3L, "clean text")).toDF("id", "text")
    val out = Moderation.classify(df, "text").orderBy("id")
      .select("is_hate_speech", "hate_speech_confidence")
      .as[(Boolean, Double)].collect().toSeq
    assert(out(0) == (false, 0.9))
    assert(out(1)._1 && math.abs(out(1)._2 - 10.0 / 11.0) < 1e-3)
    assert(out(2) == (false, 0.0))
  }

  test("scoreVader golden fixtures: negation, boosters, punctuation emphasis") {
    // expected values computed offline with an independent implementation of
    // the documented heuristics (integer-micro valences, sign-aware booster,
    // 3-token negation scope x -0.74, '!' emphasis capped at 4)
    val docs = Seq(
      (1L, "good stuff"),            // plain lexicon hit
      (2L, "not good stuff"),        // negation flips x -0.74
      (3L, "very good indeed"),      // booster intensifies (+0.293)
      (4L, "slightly bad result"),   // dampener pulls toward zero
      (5L, "not very good at all"),  // booster then negation compose
      (6L, "love it!!"),             // exclamation emphasis
      (7L, "plain words only"),      // no hits -> 0 / neutral
      (8L, "never a fast crash")     // negation scope reaches 3 tokens
    ).toDF("doc_id", "text")
    val out = graft.ops.Sentiment.scoreVader(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Double, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0.4404, "positive"), (2L, -0.3412, "negative"),
      (3L, 0.4927, "positive"), (4L, -0.4951, "negative"),
      (5L, -0.3865, "negative"), (6L, 0.6988, "positive"),
      (7L, 0.0, "neutral"), (8L, 0.1695, "positive")))
  }
}
