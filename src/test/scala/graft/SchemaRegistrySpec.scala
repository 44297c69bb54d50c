package graft

import org.apache.spark.sql.types._

import graft.schema.{Comments, SchemaRegistry}

class SchemaRegistrySpec extends SparkSpec {
  import spark.implicits._

  test("default registry builds the an_*-shaped enrichment table from its column config") {
    val s = SchemaRegistry.default.schema("an_reddit")
    assert(s.fieldNames.toSeq == Seq("comment_id", "original_comment", "cleaned_comment",
      "is_hate_speech", "hate_speech_confidence", "sentiment", "sentiment_score"))
    assert(s("is_hate_speech").dataType == BooleanType)
    assert(s("hate_speech_confidence").dataType == DoubleType)
  }

  test("conform casts, fills missing columns with typed nulls, drops extras, reorders") {
    val reg = SchemaRegistry.default
    // out-of-order, int score instead of double, extra column, missing columns
    val raw = Seq(("yes", "c1", 1, "junk"))
      .toDF("sentiment", "comment_id", "sentiment_score", "extra")
    val out = reg.conform(raw, "an_youtube")
    // names/types/order must match exactly; nullability may tighten (Spark
    // proves some columns non-null, which only helps downstream)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      reg.schema("an_youtube").map(f => (f.name, f.dataType)))
    val row = out.collect().head
    assert(row.getAs[String]("comment_id") == "c1")
    assert(row.getAs[Double]("sentiment_score") == 1.0)
    assert(row.isNullAt(out.schema.fieldIndex("is_hate_speech")))
    assert(!out.columns.contains("extra"))
  }

  test("conform resolves differently-cased source columns (session default)") {
    // spark.sql.caseSensitive defaults to false: a source delivering
    // Comment_ID must feed comment_id, not silently become NULL
    val raw = Seq(("C9", 0.5)).toDF("Comment_ID", "SENTIMENT_SCORE")
    val row = SchemaRegistry.default.conform(raw, "an_reddit").collect().head
    assert(row.getAs[String]("comment_id") == "C9")
    assert(row.getAs[Double]("sentiment_score") == 0.5)
  }

  test("default registry carries the canonical comment schema") {
    assert(SchemaRegistry.default.schema("comments") == Comments.schema)
  }

  test("pipeline enrichment conforms to the registered an_* shape end-to-end") {
    val comments = Seq(("reddit", "c1", "love this great thing http://x.io"))
      .toDF("platform", "comment_id", "body")
    val enriched = Pipeline.enrich(comments, Seq.empty[String].toDF("comment_id"))
    val out = Pipeline.toEnrichedTable(enriched, "an_reddit")
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      SchemaRegistry.default.schema("an_reddit").map(f => (f.name, f.dataType)))
    assert(out.count() == 1)
  }
}
