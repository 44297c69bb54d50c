package graft

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, input: String)(implicit e: org.apache.spark.sql.Encoder[T]): T =
    Seq(input).toDF("s").select(c.as("r")).as[T].head()

  test("tokenCount counts \\S+ runs, robust to empties") {
    assert(one[Long](TextAnalysis.tokenCount(col("s")), "a  b\tc") == 3L)
    assert(one[Long](TextAnalysis.tokenCount(col("s")), "") == 0L)
    assert(one[Long](TextAnalysis.tokenCount(col("s")), "   ") == 0L)
  }

  test("native TokenCount equals regexp_count(\\S+) on random and unicode inputs") {
    val rnd = new scala.util.Random(13)
    val alphabet = "ab \t\n\f\r  é語🎉x-"
    val cases = Seq("", " ", "a", "a b", "x", "é é  語",
      "🎉🎉 🎉", "a\r\nb", "-", "ab12,cd", "1a2b3", "é9語", "12 34a") ++
      (1 to 60).map(_ => (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = cases.toDF("s")
    val out = df.select(
      graft.functions.TokenCount(col("s")).as("native"),
      regexp_count(col("s"), lit("\\S+")).cast("long").as("re"),
      graft.functions.BpeishCount(col("s")).as("nbpe"),
      regexp_count(col("s"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("rbpe"))
      .as[(Long, Long, Long, Long)].collect()
    out.zip(cases).foreach { case ((n, r, nb, rb), c) =>
      val hex = c.map(ch => f"\\u${ch.toInt}%04x").mkString
      assert(n == r, s"\\S+ mismatch on $hex")
      assert(nb == rb, s"bpeish mismatch on $hex")
    }
  }

  test("bpeishTokenCount splits alpha/digit/symbol runs") {
    // "ab12,cd" -> [ab][12][,][cd] = 4
    assert(one[Long](TextAnalysis.bpeishTokenCount(col("s")), "ab12,cd") == 4L)
  }

  test("langId picks the language with most stopword hits, fixed tie order") {
    assert(one[String](TextAnalysis.langId(col("s")), "the cat and the dog is here") == "en")
    assert(one[String](TextAnalysis.langId(col("s")), "der hund und die katze ist da") == "de")
    assert(one[String](TextAnalysis.langId(col("s")), "xyzzy qwerty") == "und")
  }

  test("qualityScore rewards long alpha-heavy stopword-bearing text") {
    val good = "the quick brown fox jumps over the lazy dog and keeps going " * 4
    val junk = "@@@@ #### 1234 $$$$"
    val g = one[Double](TextAnalysis.qualityScore(col("s")), good)
    val j = one[Double](TextAnalysis.qualityScore(col("s")), junk)
    assert(g > 0.7 && j < 0.4 && g > j)
  }

  test("corpusStats aggregates per language") {
    val docs = Seq((1L, "aa bb", "en"), (2L, "cc", "en"), (3L, "dd ee ff", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.corpusStats(docs, "lang", "text").orderBy("lang")
      .as[(String, Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq(("de", 1L, 3L, 8.0, 8L), ("en", 2L, 3L, 3.5, 5L)))
  }

  test("tfIdfTopTerms ranks rare terms above corpus-universal ones") {
    // 'common' appears in every doc (idf ~ 0); each doc's unique term wins
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2 rare2"),
      (3L, "common plain")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 1)
      .orderBy("doc_id").as[(Long, String, Double, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._4)) ==
      Seq((1L, "rare1", 1L), (2L, "rare2", 1L), (3L, "plain", 1L)))
    // idf of a term present in all 3 docs: ln(4/4) = 0 -> tfidf 0, ranked last
    val full = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 3)
    assert(full.filter(col("term") === "common" && col("tfidf") =!= 0.0).count() == 0)
  }

  test("bigramCounts counts adjacent pairs, skips 1-word docs, breaks ties on the bigram") {
    val docs = Seq(
      (1L, "the cat sat"),     // "the cat", "cat sat"
      (2L, "the cat ran"),     // "the cat", "cat ran"
      (3L, "solo")             // no bigrams (and no error)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramCounts(docs, "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("the cat", 2L), ("cat ran", 1L), ("cat sat", 1L)))
  }
  test("tokenZipf ranks by count then token, cumsum is exact") {
    val docs = Seq("a a a b", "b c a").toDF("text")
    val out = TextAnalysis.tokenZipf(docs, "text", k = 2)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 4L, 4L), (2L, "b", 2L, 6L)))
  }

  test("tokenEntropy: hand-computed H, zero for repetition, empty docs restored") {
    val docs = Seq(
      (1L, "a a b"),       // H = -(2/3 ln 2/3 + 1/3 ln 1/3) = 0.6365
      (2L, "x x x x"),     // single distinct token -> 0.0
      (3L, "  "))          // no tokens -> restored (0, 0.0)
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 0.6365), (2L, 4L, 0.0), (3L, 0L, 0.0)))
  }

  test("tokenEntropy is bit-identical across partition counts (ordered fold)") {
    val docs = (1L to 50L).map(i => (i, s"t${i % 7} t${i % 3} t${i % 3} filler$i words here"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.tokenEntropy(docs.repartition(1), "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val b = TextAnalysis.tokenEntropy(docs.repartition(13), "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("rareTokenStats: share threshold, integer ratio, empty docs restored") {
    // corpus: 9 tokens — cf(a)=7, cf(b)=1, cf(c)=1. At rarePpm=200000 (20%)
    // the folded threshold is (9·200000−1) div 10⁶ = 1, so b and c are rare.
    val docs = Seq((1L, "a a a a b"), (2L, "a a a c"), (3L, "  "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.rareTokenStats(docs, "doc_id", "text", rarePpm = 200000L)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 5L, 1L, 2000L), (2L, 4L, 1L, 2500L), (3L, 0L, 0L, 0L)))
  }

  test("rareTokenStats default threshold marks nothing rare in a tiny corpus") {
    // n = 9 ⇒ threshold (9·1000−1) div 10⁶ = 0 ⇒ no cf ≤ 0: scale-free ppm
    // thresholds only activate once the corpus dwarfs its tail
    val docs = Seq((1L, "a a a a b"), (2L, "a a a c")).toDF("doc_id", "text")
    val out = TextAnalysis.rareTokenStats(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._3).forall(_ == 0L))
  }

  test("invertedIndex: sorted unique postings, duplicate tokens counted once") {
    val docs = Seq(
      (3L, "b a b"), (1L, "a c"), (2L, "a")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(docs, "doc_id", "text")
      .orderBy("term").as[(String, Seq[Long], Long)].collect().toSeq
    assert(out == Seq(
      ("a", Seq(1L, 2L, 3L), 3L), // doc 3 lists 'a' once despite "b a b"
      ("b", Seq(3L), 1L),
      ("c", Seq(1L), 1L)))
  }

  test("invertedIndex postings are identical across partitionings") {
    val docs = (1L to 200L).map(i => (i, s"w${i % 7} w${i % 11}")).toDF("doc_id", "text")
    val a = TextAnalysis.invertedIndex(docs.repartition(1), "doc_id", "text")
      .orderBy("term").as[(String, Seq[Long], Long)].collect().toSeq
    val b = TextAnalysis.invertedIndex(docs.repartition(9), "doc_id", "text")
      .orderBy("term").as[(String, Seq[Long], Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("unigramLogProb: hand-computed corpus NLL, zero-token doc restored") {
    // corpus: a=2 b=2 c=1, N=5. doc1 "a a b": -(3·ln(2/5))/3 = 0.9163
    // doc2 "b c": -(ln(2/5)+ln(1/5))/2 = 1.2629; doc3 empty → (0, 0.0)
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "  ")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 0.9163), (2L, 2L, 1.2629), (3L, 0L, 0.0)))
  }

  test("unigramLogProb is identical across partitionings (ordered fold)") {
    val docs = (1L to 120L).map(i => (i, s"w${i % 5} w${i % 9} w${i % 2}"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.unigramLogProb(docs.repartition(1), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val b = TextAnalysis.unigramLogProb(docs.repartition(11), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("bm25TopK: higher tf ranks higher; formula matches the hand rollout") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "a b"), (2L, "a a"), (3L, "c")).toDF("id", "text")
    val out = TextAnalysis.bm25TopK(docs, "id", "text", Seq("a"), k = 10)
      .orderBy("rank").as[(Long, Double, Long)].collect().toSeq
    // N=3, total len 5, avg 5/3; df(a)=2 → idf = ln(1 + 1.5/2.5)
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / 2.5)
    def s(tf: Long, len: Long): Double = {
      val raw = idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * (len / (5.0 / 3.0))))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out == Seq((2L, s(2, 2), 1L), (1L, s(1, 2), 2L)))
    assert(out.head._2 > out(1)._2)
  }

  test("bm25TopK: score ties rank by doc id, and k truncates") {
    val docs = Seq((5L, "x y"), (3L, "x y"), (9L, "x y")).toDF("id", "text")
    val out = TextAnalysis.bm25TopK(docs, "id", "text", Seq("x"), k = 2)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(out == Seq(3L, 5L))
  }

  test("bigramLogProb: JM mixture, short docs surface 0 not -inf") {
    val docs = Seq((1L, "a b a b"), (2L, "a")).toDF("id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // corpus: cf2(a,b)=2, cf2(b,a)=1, cf1(a)=2, cf1(b)=1, unigrams a=3 b=2
    // N=5 → p(b|a) = 0.7·1 + 0.3·0.4 = 0.82; p(a|b) = 0.7·1 + 0.3·0.6 = 0.88
    // doc1 nll = −(2·ln0.82 + ln0.88)/3 = 0.175; doc2: no bigrams → 0
    assert(out.map(_._2) == Seq(3L, 0L))
    assert(math.abs(out.head._3 - 0.175) < 0.001 && out(1)._3 == 0.0)
  }

  test("rrfFusion: fixed-order reciprocal terms, absent list contributes 0") {
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val out = TextAnalysis.rrfFusion(Seq(a, b), "id", "rank", k = 60)
      .orderBy("fused_rank")
      .select("id", "rrf", "fused_rank")
      .as[(Long, Double, Long)].collect().toSeq
    // d2 in both lists: 1/62 + 1/61 = 0.0325; d1: 1/61 = 0.0164; d3: 1/62
    assert(out == Seq((2L, 0.0325, 1L), (1L, 0.0164, 2L), (3L, 0.0161, 3L)))
  }

  test("logOddsTerms: hand-computed smoothed log-odds and rank order") {
    import spark.implicits._
    val df = Seq(("A", "cat cat dog"), ("B", "dog dog bird"))
      .toDF("source", "text")
    val out = TextAnalysis.logOddsTerms(df, "source", "text", k = 2)
      .orderBy("source", "rank")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    // A/cat: ln(3/2) − ln(1/4) = 1.7918; A/dog: ln(2/3) − ln(3/2) = −0.8109
    // B/bird: ln(2/3) − ln(1/4) = 0.9808; B/dog: ln(3/2) − ln(2/3) = 0.8109
    assert(out == Seq(
      ("A", "cat", 2L, 1L, 1.7918), ("A", "dog", 1L, 2L, -0.8109),
      ("B", "bird", 1L, 1L, 0.9808), ("B", "dog", 2L, 2L, 0.8109)))
  }

  test("readability: exact counts and the hand-computed Flesch score") {
    import spark.implicits._
    val df = Seq((1L, "Hello world. It is good."), (2L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.readability(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    // doc 1: 5 words, 2 sentence runs, 6 vowel groups (he-llo=2, world=1,
    // it=1, is=1, good=1) → 206.835 − 1.015·2.5 − 84.6·1.2 = 102.7775
    assert(out(0) == ((1L, 5L, 2L, 6L, Some(102.7775))))
    // zero words → score null; sentence/syllable floors at 1
    assert(out(1) == ((2L, 0L, 1L, 1L, None)))
  }

  test("naiveBayes: separable classes, OOV drop, tie to greatest label") {
    import spark.implicits._
    // train vocabulary: A = {alpha:3, beta:2} (5 toks), B = {gamma:3,
    // delta:2} (5 toks); V = 4; priors 2/4 each — fully symmetric, so
    // hand-reasoned argmaxes below are exact
    val train = Seq(
      (1L, "alpha beta alpha", "A"), (2L, "alpha beta", "A"),
      (3L, "gamma delta gamma", "B"), (4L, "gamma delta", "B"))
      .toDF("doc_id", "text", "lang")
    val score = Seq(
      (10L, "alpha alpha beta", "A"),  // clearly A → hit
      (11L, "gamma delta", "B"),       // clearly B → hit
      (12L, "beta gamma", "A"),        // B's evidence wins (4/9 vs 3/9) → miss
      (13L, "zzz qqq", "A"),           // all OOV → drops from the output
      (14L, "alpha gamma", "A"))       // exact score tie → greatest label B
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.naiveBayes(train, score, "doc_id", "text", "lang")
      .orderBy("doc_id")
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._4)) ==
      Seq((10L, "A", true), (11L, "B", true), (12L, "B", false),
        (14L, "B", false)))
    // doc 11 exact micro-nat score: prior ln(1/2) + ln(4/9) + ln(3/9),
    // each term quantized independently (±1 covers rounding-mode nuance
    // vs the test's Math.round; the gate proves the exact convention)
    val expected = Seq(0.5, 4.0 / 9, 3.0 / 9)
      .map(x => Math.round(math.log(x) * 1e6)).sum
    assert(math.abs(out(1)._3 - expected) <= 3)
  }

  test("naiveBayes is identical across partitionings (exact integer sums)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (1L to 60L).map { i =>
      val lab = if (i % 3 == 0) "B" else "A"
      val bias = if (lab == "A") 0 else 2
      (i, (1 to 8).map(_ => words((rnd.nextInt(4) + bias) % 6)).mkString(" "), lab)
    }.toDF("doc_id", "text", "lang")
    val tr = docs.filter($"doc_id" % 5 =!= 0)
    val sc = docs.filter($"doc_id" % 5 === 0)
    val a = TextAnalysis.naiveBayes(tr.repartition(1), sc.repartition(1),
      "doc_id", "text", "lang").orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.naiveBayes(tr.repartition(11), sc.repartition(7),
      "doc_id", "text", "lang").orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
