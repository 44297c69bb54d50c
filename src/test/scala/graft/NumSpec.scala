package graft

import graft.ops.{Num, Stats, TextAnalysis}
import org.apache.spark.sql.functions._

/** Signed-zero hygiene (round 10). The correctness gate hashes values
  * BIT-exactly, so −0.0 (bits 8000000000000000) and +0.0 (bits 0) are
  * different answers even though they compare equal — exactly the one-row
  * divergence that failed q161_pmi_bigrams in round 9 (Spark's BigDecimal
  * round drops the sign of a tiny negative that rounds to zero; DuckDB's
  * round keeps it). Contract under test:
  *
  *  1. [[Num.roundz]] never surfaces −0.0, and is bit-identical to plain
  *     `round` for every other value (NULL and NaN included);
  *  2. every op that rounds a sign-capable metric emits +0.0 when a row
  *     rounds to zero from below;
  *  3. every `round(` in every oracle SQL string is `+ 0.0`-normalized
  *     (unless its result is integer-destined via a directly-enclosing
  *     CAST), so a FUTURE key cannot reintroduce the trap.
  */
class NumSpec extends SparkSpec {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("roundz: a tiny negative that rounds to zero surfaces +0.0, bit-exact") {
    // −3.5e-9 is the q161 shape: rounds to zero from below at 4 dp
    val ds = Seq(-3.5e-9, -0.0, 0.0, -4.9e-5).toDF("x")
      .select(Num.roundz(col("x"), 4).as("r")).as[Double].collect()
    ds.foreach(r => assert(bits(r) == 0L,
      s"expected +0.0 bits, got ${bits(r).toHexString}"))
  }

  test("roundz: bit-identical to round for non-zero values, NULL and NaN preserved") {
    val vals = Seq(1.23456, -1.23456, 123456.789, -9.87654e3, 4.9e-5,
      Double.MaxValue, Double.MinPositiveValue, Double.NaN)
    val rows = vals.toDF("x")
      .select(round(col("x"), 4).as("plain"), Num.roundz(col("x"), 4).as("z"))
      .as[(Double, Double)].collect()
    rows.foreach { case (p, z) => assert(bits(p) == bits(z), s"$p vs $z") }
    val nulls = Seq[Option[Double]](None).toDF("x")
      .select(Num.roundz(col("x"), 4).as("z")).collect()
    assert(nulls.head.isNullAt(0), "NULL must propagate through roundz")
  }

  test("pmiBigrams: a pmi landing exactly on the ±0.0 boundary emits +0.0") {
    // docs = 50×"t t": cb("t t")=50, cx=cy=100, Nu=100, Nb=50, so
    // pmi = ln50 − ln50 − ln100 − ln100 + 2·ln100. Evaluated left-to-right
    // in doubles that is ((0 − a) − a) + 2a with a = ln100: −2a is exact
    // (same exponent), and −2a + 2a is +0.0 under round-to-nearest — the
    // exact boundary where a sign-preserving round would be free to emit
    // either zero. The contract pins the positive one.
    val docs = Seq.fill(50)("t t").toDF("text")
    val out = TextAnalysis.pmiBigrams(docs, "text", minCount = 1L)
      .select("pmi").as[Double].collect()
    assert(out.length == 1 && out.head == 0.0)
    assert(bits(out.head) == 0L,
      s"pmi zero must be +0.0, got bits ${bits(out.head).toHexString}")
  }

  test("crossCorrLagged: an r that rounds to zero from below emits +0.0") {
    // x = 0..n−1, y alternating 1,0,1,0…: exact integer sufficient stats
    // give r = −√3/√(n²−1) (num = −n²/4, denx = n²(n²−1)/12, deny = n²/4).
    // n = 40000 → r ≈ −4.33e-5: NEGATIVE and rounding to zero at 4 dp —
    // precisely the q161 failure shape. The surfaced value must be +0.0.
    val n = 40000
    val start = java.time.LocalDate.of(2024, 1, 1)
    val daily = (0 until n).map { i =>
      (java.sql.Date.valueOf(start.plusDays(i.toLong)), i.toLong, (1 - i % 2).toLong)
    }.toDF("day", "x", "y")
    val r = Stats.crossCorrLagged(daily, "day", "x", "y", maxLag = 0)
      .select("r").as[Double].head()
    assert(r == 0.0 && bits(r) == 0L,
      s"tiny-negative r must normalize to +0.0, got $r bits ${bits(r).toHexString}")
  }

  test("orderedSum: bit-identical over 1 and 8 partitions, equal to a left fold in key order") {
    // ±1e16 beside small terms: 1e16 + x rounds x away unless the big
    // terms have cancelled first, so the sum depends on the addition order
    // and only a fold in key order reproduces
    val terms = (0 until 64).map { k =>
      (k, Seq(1e16, 1.0 + k, -1e16, 0.5 * k)(k % 4))
    }
    val rows = new scala.util.Random(7).shuffle(terms)
    val byKey = terms.foldLeft(0.0)(_ + _._2)
    assert(bits(rows.foldLeft(0.0)(_ + _._2)) != bits(byKey),
      "the terms must sum differently in row order and in key order")
    def folded(parts: Int): Double = rows.toDF("k", "term").repartition(parts)
      .groupBy()
      .agg(sort_array(collect_list(struct(col("k"), col("term")))).as("__t"))
      .select(Num.orderedSum("__t", "t.term")).as[Double].head()
    val (one, eight) = (folded(1), folded(8))
    assert(bits(one) == bits(eight), s"1 partition $one vs 8 partitions $eight")
    assert(bits(one) == bits(byKey), s"$one vs the key-order left fold $byKey")
  }

  test("every oracle round( is +0.0-normalized or integer-destined") {
    // paren-match each round(...) in each oracle SQL; it must either be
    // directly inside CAST( (integer-destined) or followed by `+ 0.0`.
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.oracleSql.foreach { case (key, sql) =>
      var i = 0
      while (i < sql.length) {
        if (sql.startsWith("round(", i) &&
          (i == 0 || !(sql(i - 1).isLetterOrDigit || sql(i - 1) == '_'))) {
          var j = i - 1
          while (j >= 0 && (sql(j) == ' ' || sql(j) == '\n')) j -= 1
          val castBefore = j >= 4 &&
            sql.substring(j - 4, j + 1).equalsIgnoreCase("CAST(")
          var k = i + 5; var depth = 0; var done = false
          while (!done) {
            if (sql(k) == '(') depth += 1
            else if (sql(k) == ')') { depth -= 1; if (depth == 0) done = true }
            k += 1
          }
          val after = sql.substring(k, math.min(sql.length, k + 12))
            .replaceAll("[\\s\\n|]+", " ")
          if (!castBefore && !after.startsWith(" + 0.0"))
            offenders += s"$key: …${sql.substring(i, math.min(sql.length, k))}"
          i = k
        } else i += 1
      }
    }
    assert(offenders.isEmpty,
      s"un-normalized oracle rounds:\n${offenders.mkString("\n")}")
  }
}
