package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Config-driven schema registry (SURVEY.md §1.4).
  *
  * The reference drives its tables from config dicts: `TABLE_FIELDS[name]` →
  * source column list and `NEW_TABLE_CONFIG = {name, columns}` → enrichment
  * DDL (`Data Analysis/Reddit_4chan_Analysis.py:8,97`,
  * `Data Analysis/Youtube_Analysis.py:100-110,126-135`). The Spark-first
  * equivalent keeps the same compact (column → type-name) config shape but
  * produces `StructType`s — consumed by readers (streaming sources need a
  * declared schema), writers, and a generic conforming adapter — instead of
  * string-built CREATE TABLE statements.
  *
  * Scale note: `conform` is a pure projection (select/cast/reorder + null
  * fill), so it rides inside whole-stage codegen and never blocks pushdown.
  */
final case class SchemaRegistry(tables: Map[String, StructType]) {

  def schema(name: String): StructType =
    tables.getOrElse(name, sys.error(s"no registered schema: $name"))

  /** Conform a DataFrame to a registered schema: cast columns present in the
    * input, fill absent ones with typed nulls, drop extras, and order columns
    * exactly as registered — the generic per-source adapter the reference
    * hand-writes per table. Column matching honors the session's
    * `spark.sql.caseSensitive` (default false), so a source delivering
    * `Comment_ID` still feeds `comment_id` instead of silently nulling it. */
  def conform(df: DataFrame, name: String): DataFrame = {
    val target = schema(name)
    val caseSensitive =
      df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def resolve(n: String): Option[String] =
      if (caseSensitive) df.columns.find(_ == n)
      else df.columns.find(_.equalsIgnoreCase(n))
    df.select(target.fields.toIndexedSeq.map { f =>
      (resolve(f.name) match {
        case Some(actual) => col(actual)
        case None => lit(null)
      }).cast(f.dataType).as(f.name)
    }: _*)
  }
}

object SchemaRegistry {

  /** Enrichment-table columns, mirroring the reference's analysis DDL
    * (`Data Analysis/Reddit_4chan_Analysis.py:66-76`): comment key, raw +
    * cleaned text, moderation verdict, sentiment score + label. */
  val enrichedColumns: Seq[(String, String)] = Seq(
    "comment_id" -> "string",
    "original_comment" -> "string",
    "cleaned_comment" -> "string",
    "is_hate_speech" -> "boolean",
    "hate_speech_confidence" -> "double",
    "sentiment" -> "string",
    "sentiment_score" -> "double")

  /** Default registry: the canonical comment store plus the `an_*` enrichment
    * shapes the reference materializes per platform. */
  def default: SchemaRegistry = {
    val canonical = "comments" -> Comments.schema
    val enriched = Seq("an_reddit", "an_4chan", "an_youtube")
      .map(n => n -> StructType(enrichedColumns.map { case (c, t) =>
        StructField(c, DataType.fromDDL(t))
      }))
    SchemaRegistry((enriched :+ canonical).toMap)
  }
}
