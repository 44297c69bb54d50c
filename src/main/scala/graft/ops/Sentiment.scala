package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic lexicon sentiment scorer (SURVEY.md §2.8 q34/q36).
  *
  * The reference scores every comment with VADER (`Data Analysis/
  * Reddit_4chan_Analysis.py:145-163`, re-instantiating the analyzer per row)
  * and labels with the ±0.05 compound thresholds (`:152-158`). We ship the
  * documented deterministic subset: token valences summed per document, then
  * VADER's compound normalization `s / sqrt(s² + 15)`, then the same
  * threshold ladder. Capability parity (score + label columns), not bit parity
  * with NLTK.
  *
  * Three formulations, bit-identical (SentimentModerationSpec):
  *  - [[scoreByLexiconNative]]: one codegen'd byte loop per row — a map-side
  *    projection with no explode, join or shuffle. The registered q34 scorer
  *    and the one [[graft.Pipeline.enrich]] runs.
  *  - [[scoreByLexiconJoin]]: tokens ⋈ broadcast lexicon + hash agg. Fully
  *    relational — Catalyst sees the token relation, and the lexicon can be
  *    inlined as VALUES for the DuckDB oracle. It reads `docs` twice (tokens
  *    and the join back), so a fused pipeline plan evaluates every upstream
  *    expression and scan twice; the parity reference, not a pipeline stage.
  *  - [[compoundUdf]]: a self-contained scalar UDF for API parity with the
  *    reference's per-row call shape (UDFs are opaque to codegen).
  */
object Sentiment {

  /** Bundled word → valence map (deterministic stand-in for the VADER lexicon;
    * values in VADER's [-4, 4] convention). Canonical copy lives with the
    * native expression ([[graft.functions.LexiconScore.words]]) so all three
    * forms — native, join, UDF — score from one table. */
  val lexicon: Seq[(String, Double)] = graft.functions.LexiconScore.words

  val normalizationAlpha = 15.0
  val positiveThreshold = 0.05
  val negativeThreshold = -0.05

  /** VADER compound normalization: maps an unbounded valence sum to [-1, 1]. */
  def compoundOf(c: Column): Column = c / sqrt(c * c + lit(normalizationAlpha))

  /** ±0.05 threshold ladder (`Reddit_4chan_Analysis.py:152-158`) — pure
    * `when` expression, no UDF (q36). */
  def label(compound: Column): Column =
    when(compound >= positiveThreshold, "positive")
      .when(compound <= negativeThreshold, "negative")
      .otherwise("neutral")

  /** Relational scorer: explode whitespace tokens, inner-join the broadcast
    * lexicon, sum valences per doc, normalize, label. Docs with no lexicon
    * hits keep score 0 / "neutral" via the left join back.
    *
    * Output: all columns of `docs` plus (`sentiment_score` rounded to 4dp,
    * `sentiment`).
    */
  def scoreByLexiconJoin(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // valences carried as integer tenths so the per-doc sum is exact and
    // order-independent (doubles would drift under shuffle reordering)
    val lex = broadcast(lexicon.map { case (w, v) => (w, math.round(v * 10)) }
      .toDF("word", "tenths"))
    val tokens = docs
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("word"))
    val sums = tokens.join(lex, "word")
      .groupBy(col(idCol)).agg((sum(col("tenths")) / 10.0).as("__s"))
    docs.join(sums, Seq(idCol), "left")
      .withColumn("__s", coalesce(col("__s"), lit(0.0)))
      .withColumn("sentiment_score", Num.roundz(compoundOf(col("__s")), 4))
      .withColumn("sentiment", label(compoundOf(col("__s"))))
      .drop("__s")
  }

  /** Native scorer — the registered q34 path: the codegen'd
    * [[graft.functions.LexiconScore]] expression computes the identical
    * tenths sum in one byte loop per row, so scoring is a pure MAP-SIDE
    * projection: no token explode, no join, no aggregate, no exchange
    * anywhere (PlanSpec pins the plan). The relational
    * [[scoreByLexiconJoin]] stays as the parity reference (and for a
    * lexicon too big to bake into an expression); [[compoundUdf]] stays for
    * per-row API parity with the reference.
    * All three agree bit-for-bit (SentimentModerationSpec).
    *
    * Output matches [[scoreByLexiconJoin]]: docs columns +
    * (`sentiment_score` 4dp, `sentiment`); NULL/hitless text scores 0. */
  def scoreByLexiconNative(docs: DataFrame, textCol: String): DataFrame = {
    val s = coalesce(graft.functions.LexiconScore(col(textCol)), lit(0L)) / 10.0
    docs
      .withColumn("sentiment_score", Num.roundz(compoundOf(s), 4))
      .withColumn("sentiment", label(compoundOf(s)))
  }

  // ------------------------------------------------------- VADER heuristics

  /** Negation tokens (VADER's NEGATE list, trimmed to the deterministic
    * subset): a sentiment word within 3 tokens after one of these flips
    * valence × −0.74. */
  val negators: Seq[String] = Seq(
    "not", "no", "never", "none", "cannot", "cant", "dont", "wont", "isnt",
    "arent", "wasnt", "werent", "didnt", "doesnt", "neither", "nor")

  /** Degree modifiers (VADER BOOSTER_DICT convention): signed increments
    * applied to the following sentiment word, sign-aware (intensify moves
    * away from zero, dampen toward it). */
  val boosters: Seq[(String, Double)] = Seq(
    "very" -> 0.293, "extremely" -> 0.293, "absolutely" -> 0.293,
    "incredibly" -> 0.293, "really" -> 0.293, "totally" -> 0.293,
    "slightly" -> -0.293, "somewhat" -> -0.293, "barely" -> -0.293,
    "marginally" -> -0.293)

  val negationFactor = -0.74
  val exclamationBoost = 0.292 // per '!', capped at 4 — VADER's punctuation emphasis

  /** Full-heuristic VADER scorer (negation, boosters, exclamation emphasis) —
    * the depth the reference gets from NLTK's analyzer
    * (`Data Analysis/Reddit_4chan_Analysis.py:145-163`), re-expressed as pure
    * relational operators: posexplode keeps token positions, window lags see
    * the 3-token negation scope and the preceding booster, and the per-token
    * adjusted valence is rounded to exact integer 1e-4 units before the
    * per-doc sum (order-independent under shuffle). No UDF anywhere, so the
    * whole scorer is DuckDB-oracle-able (q60) and codegen-friendly.
    *
    * Scoped out (documented): ALL-CAPS emphasis (tokens are lowercased
    * upstream) and the "but"-clause reweighting.
    *
    * Output: (idCol, vader_score rounded 4dp, vader_label).
    */
  def scoreVader(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = broadcast(lexicon.map { case (w, v) => (w, math.round(v * 10)) }
      .toDF("word", "tenths"))
    val tokens = docs.select(col(idCol),
      posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("pos", "word")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val ann = tokens
      .withColumn("prev1", lag(col("word"), 1).over(w))
      .withColumn("prev2", lag(col("word"), 2).over(w))
      .withColumn("prev3", lag(col("word"), 3).over(w))
    val boost = boosters.foldLeft(lit(0.0)) { case (acc, (b, v)) =>
      when(col("prev1") === b, lit(v)).otherwise(acc)
    }
    val negated = col("prev1").isin(negators: _*) ||
      col("prev2").isin(negators: _*) || col("prev3").isin(negators: _*)
    val v = col("tenths") / 10.0
    val v2 = (v + signum(v) * boost) *
      when(negated, lit(negationFactor)).otherwise(lit(1.0))
    val sums = ann.join(lex, "word")
      .withColumn("__micro", Num.roundz(v2 * 10000, 0).cast("long"))
      .groupBy(col(idCol)).agg(sum(col("__micro")).as("__micro"))
    // '!' count (capped at 4) amplifies the total, sign-aware; micro units
    val excl = least(length(col(textCol)) - length(regexp_replace(col(textCol), "!", "")), lit(4))
    docs.select(col(idCol), (excl * lit((exclamationBoost * 10000).round)).as("__amp"))
      .join(sums, Seq(idCol), "left")
      .withColumn("__micro", coalesce(col("__micro"), lit(0L)))
      .withColumn("__s", (col("__micro") + signum(col("__micro")) * col("__amp")) / 10000.0)
      .select(col(idCol),
        Num.roundz(compoundOf(col("__s")), 4).as("vader_score"),
        label(compoundOf(col("__s"))).as("vader_label"))
  }

  /** Scalar UDF variant: whole scorer in one call, mirroring the reference's
    * `analyze_sentiment(comment)` shape. Deterministic; test/parity use. */
  def compoundUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val lex = lexicon.toMap
    udf { (text: String) =>
      if (text == null) 0.0
      else {
        val s = text.toLowerCase.split("\\s+").iterator.map(w => lex.getOrElse(w, 0.0)).sum
        val c = s / math.sqrt(s * s + normalizationAlpha)
        math.rint(c * 10000) / 10000
      }
    }
  }
}
