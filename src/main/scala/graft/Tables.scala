package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical table loaders for the driver testdata (TESTDATA.md).
  *
  * Design note (100 TB): every loader returns a plain parquet scan so Catalyst
  * keeps predicate pushdown / column pruning / partition pruning intact. No
  * caching, no collect — loaders are lazy plans, not materialized data.
  */
object Tables {

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(path(dir, name))

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events.parquet` has shipped with two physical `ts` encodings across
    * driver testdata generations: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader only exposes as a raw long behind
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain TIMESTAMP(MICROS)
    * (read natively as TIMESTAMP_NTZ). [[normalizeTs]] folds both into the
    * same microsecond TimestampType so every downstream plan and oracle is
    * encoding-agnostic.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(path(dir, "events")))
  }

  /** Normalize the `ts` column to microsecond TimestampType regardless of the
    * physical parquet encoding.
    *
    *  - raw long (nanos behind `nanosAsLong`): converted with true FLOOR
    *    division (`div` alone truncates toward zero, which would diverge from
    *    DuckDB's flooring `CAST(ts AS TIMESTAMP)` by 1µs on pre-1970 negative
    *    epochs) — subtracting `pmod(ts, 1000)` first makes the quotient exact
    *    in long arithmetic for the full domain.
    *  - TIMESTAMP_NTZ (micros): cast to TimestampType — an identity on the
    *    underlying micros under the UTC session timezone every entrypoint
    *    pins, so plans/oracles see the exact values DuckDB sees.
    */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
