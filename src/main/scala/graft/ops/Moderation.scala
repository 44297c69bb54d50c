package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic moderation classifier (SURVEY.md §2.8 q35).
  *
  * The reference POSTs every row to the ModerateHateSpeech API and flags when
  * `class == "flag" && confidence > 0.9` (`Data Analysis/
  * Reddit_4chan_Analysis.py:18-53`, threshold at `:19,42`) — one blocking HTTP
  * call per row, the pipeline's throughput ceiling. We keep the output
  * contract (`is_hate_speech: Boolean`, `hate_speech_confidence: Double`,
  * strict `> 0.9`) but replace the remote model with a deterministic keyword
  * scorer evaluated as codegen'd column expressions.
  */
object Moderation {

  /** Deterministic stand-in term list. */
  val flaggedTerms: Seq[String] = Seq("error", "slow", "bad", "crash", "fail")

  val confidenceThreshold = 0.9

  private def termPattern: String = "\\b(" + flaggedTerms.mkString("|") + ")\\b"

  /** Confidence = hits / (hits + 1): monotone in hit count, in [0, 1), crosses
    * the 0.9 threshold at 10+ hits. Pure codegen'd expressions. */
  def confidence(textCol: Column): Column = {
    // null text scores 0.0 (no hits)
    val hits = coalesce(regexp_count(lower(textCol), lit(termPattern)), lit(0)).cast("double")
    Num.roundz(hits / (hits + lit(1.0)), 4)
  }

  def isHate(conf: Column): Column = conf > confidenceThreshold

  /** Expression-based classifier — the default path (stays in codegen). */
  def classify(df: DataFrame, textCol: String): DataFrame = {
    val conf = confidence(col(textCol))
    df.withColumn("hate_speech_confidence", conf)
      .withColumn("is_hate_speech", isHate(col("hate_speech_confidence")))
  }
}
