package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.schema.Comments

/** End-to-end pipeline over reference-shaped fixtures (FIXTURES.md §A),
  * including every edge-case row the fixtures mandate: duplicate ids, null
  * bodies, URLs + HTML entities + quote markers, all three timestamp formats,
  * unicode/emoji. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def reddit = Seq(
    ("politics", "p1", "Economy is good https://news.example/a 😀", 12, 1704067200.0, "rc1"),
    ("politics", "p1", "bad bad crash!", -1, 1704067260.0, "rc2"),
    ("economy", "p2", null.asInstanceOf[String], 0, 1704067320.0, "rc3"),
    ("economy", "p2", "dup body", 0, 1704067380.0, "rc1") // duplicate comment_id
  ).toDF("subreddit", "post_id", "body", "score", "created_utc", "comment_id")

  private def chan = Seq(
    ("1001", "<p>recession is &gt;fake&lt;/p&gt; &amp; slow</p>", "01/01/24(Mon)00:00:00", "anon", null.asInstanceOf[String]),
    ("1002", ">>1001 agreed, error error", "01/01/24(Mon)00:01:00", "anon", "img.png")
  ).toDF("post_number", "comment", "timestamp_raw", "name", "image_filename")

  private def youtube = Seq(
    ("v1", "Recession Explained", "yc1", "2024-01-01T00:02:00Z", "great video, love it"),
    ("v1", "Recession Explained", "yc2", "2024-01-01T00:03:00Z", "meh 😀")
  ).toDF("video_id", "video_title", "comment_id", "comment_time", "comment_text")

  test("adapters emit the canonical schema and unify is a clean union") {
    val unified = Comments.unify(
      Comments.fromReddit(reddit), Comments.fromChan(chan), Comments.fromYoutube(youtube))
    assert(unified.schema.fieldNames.toSeq ==
      Seq("platform", "comment_id", "parent_id", "body", "author", "score", "created_ts"))
    assert(unified.count() == 8)
    val byPlatform = unified.groupBy("platform").count()
      .as[(String, Long)].collect().toMap
    assert(byPlatform == Map("reddit" -> 4L, "4chan" -> 2L, "youtube" -> 2L))
  }

  test("timestamp adapters agree across the three source formats") {
    val unified = Comments.unify(
      Comments.fromReddit(reddit), Comments.fromChan(chan), Comments.fromYoutube(youtube))
    val ts = unified.select("comment_id", "created_ts").as[(String, Timestamp)].collect().toMap
    assert(ts("rc2") == Timestamp.valueOf("2024-01-01 00:01:00"))
    assert(ts("1001") == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(ts("yc1") == Timestamp.valueOf("2024-01-01 00:02:00"))
  }

  test("full pipeline: dedup, enrich-once, sentiment + moderation columns") {
    val out = Pipeline.run(reddit, chan, youtube,
      alreadyEnriched = Seq("yc2").toDF("comment_id"))
    // 8 raw - 1 duplicate reddit id - 1 already enriched = 6
    assert(out.count() == 6)
    val cols = out.columns.toSet
    assert(Set("sentiment", "sentiment_score", "is_hate_speech", "hate_speech_confidence")
      .subsetOf(cols))
    val sentiments = out.select("comment_id", "sentiment").as[(String, String)].collect().toMap
    assert(sentiments("rc2") == "negative") // bad bad crash
    assert(sentiments("yc1") == "positive") // great, love
    assert(sentiments("rc3") == "neutral")  // null body -> no tokens -> 0
  }

  test("run's output schema: names, types and order of the enriched store table") {
    val out = Pipeline.run(reddit, chan, youtube, Seq("yc2").toDF("comment_id"))
    assert(out.schema.toDDL == Seq("comment_id STRING", "platform STRING NOT NULL",
      "parent_id STRING", "body STRING", "author STRING", "score INT NOT NULL",
      "created_ts TIMESTAMP", "cleaned_body STRING", "sentiment_score DOUBLE",
      "sentiment STRING NOT NULL", "hate_speech_confidence DOUBLE",
      "is_hate_speech BOOLEAN").mkString(","))
  }

  test("the fused plan cleans each row once and scans each raw input once") {
    val base = tmpDir("graft_pipeline_plan")
    reddit.write.parquet(s"$base/reddit")
    chan.write.parquet(s"$base/chan")
    youtube.write.parquet(s"$base/youtube")
    val out = Pipeline.run(spark.read.parquet(s"$base/reddit"),
      spark.read.parquet(s"$base/chan"), spark.read.parquet(s"$base/youtube"),
      Seq("yc2").toDF("comment_id"))
    assert(out.collect().length == 6) // runs the frame's own plan to its AQE-final form
    object Plan extends AdaptiveSparkPlanHelper
    val plan = out.queryExecution.executedPlan
    val scans = Plan.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName).mkString
    }
    assert(scans.sorted == Seq("chan", "reddit", "youtube"), plan.toString)
    val stripNodes = Plan.collectWithSubqueries(plan) {
      case p if p.expressions.exists(_.exists {
        case r: RegExpReplace =>
          r.regexp.foldable && String.valueOf(r.regexp.eval()).startsWith("https?://")
        case _ => false
      }) => p
    }
    assert(stripNodes.size == 1, plan.toString)
  }

  test("dashboard views: shares sum to 100 per platform, daily counts total") {
    val enriched = Pipeline.run(reddit, chan, youtube, Seq.empty[String].toDF("comment_id"))
    val share = Pipeline.sentimentShareByPlatform(enriched)
    val perPlatform = share.groupBy("platform").agg(sum("pct").as("total"))
      .as[(String, Double)].collect().toMap
    perPlatform.values.foreach(v => assert(math.abs(v - 100.0) < 0.1))
    val daily = Pipeline.dailyCounts(enriched)
    assert(daily.agg(sum("cnt")).as[Long].head() == enriched.count())
  }

  test("withCache pins the frame for the body's scope and releases after") {
    import org.apache.spark.storage.StorageLevel
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val n = Pipeline.withCache(df) { cached =>
      assert(cached.storageLevel != StorageLevel.NONE, "cached inside the scope")
      cached.count() + cached.filter(col("k") > 1).count()
    }
    assert(n == 3)
    assert(df.storageLevel == StorageLevel.NONE, "released after the scope")
  }

  test("q74 gate key: all three adapters parse and the anti-join skip holds") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q74_unified_pipeline")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(0)).toSet == Set("reddit", "4chan", "youtube"))
    // a null day would mean one of the three timestamp formats failed to parse
    assert(out.forall(_.getString(1) != null))
    // kept rows = all docs minus the "already enriched" reddit slice
    // (doc_id%3==0 && doc_id%10==0 <=> doc_id%30==0)
    val docs = Tables.documents(spark, dir)
    val expected = docs.filter(col("doc_id") % 30 =!= 0).count()
    assert(out.map(_.getLong(3)).sum == expected)
  }
}
