package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.stream.Streaming

/** Streaming STATE depth probe (round-14 verdict item 8): measures — not
  * argues — the state story of the stateful pipelines (q38-shape ingest
  * dedup, q81-shape stream-stream join, watermarked window agg) under both
  * state-store providers (default HDFS-backed heap vs RocksDB) and under a
  * sweep of dedup TTL horizons.
  *
  * The events table is staged into 8 ascending-time slices replayed one
  * file per micro-batch, so the event-time watermark ADVANCES across
  * batches and eviction actually happens mid-replay (a single-batch replay
  * would only ever evict at the final no-data batch). Metrics come from
  * the query's own progress stream (`stateOperators`: numRowsTotal,
  * memoryUsedBytes) at the last state-bearing batch.
  *
  * `sbt "runMain graft.examples.StreamStateProbe [sfDir]"` — prints one
  * markdown table + one JSON line; SCALE.md carries the sf0.1/sf1 numbers.
  */
object StreamStateProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- stage events into 8 time-ordered slices (one file per batch)
    val stage = graft.storage.Materialize.scratch("stream_state_probe", dir)
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    // slice strictly by TIME so each batch advances the watermark
    val tcuts = ev.select(unix_micros(col("ts")).as("m"))
      .stat.approxQuantile("m", (1 to 7).map(_ / 8.0).toArray, 0.0)
    val tb = (Array(Long.MinValue.toDouble) ++ tcuts) :+ Double.MaxValue
    Streaming.stageBatches(stage, ev, tb.toSeq.sliding(2).map { case Seq(lo, hi) =>
      ev.filter(unix_micros(col("ts")) > lo && unix_micros(col("ts")) <= hi)
    }.toSeq)

    final case class Res(pipeline: String, provider: String,
                         outRows: Long, batches: Int,
                         stateRows: Long, stateMemBytes: Long)
    var results = Vector.empty[Res]

    def run(pipeline: String, provider: String, mode: String)
           (build: DataFrame => DataFrame): Unit = {
      val q = Streaming.replayToMemory(spark, s =>
        build(s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)),
        mode, statePartitions = Some(8),
        extraConfs =
          if (provider == "rocksdb")
            Map("spark.sql.streaming.stateStore.providerClass" ->
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          else Map.empty)
      val stateful = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val last = stateful.lastOption
      results :+= Res(pipeline, provider,
        q.sparkSession.table(q.name).count(),
        q.recentProgress.length,
        last.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L))
    }

    for (provider <- Seq("hdfs", "rocksdb")) {
      for (horizon <- Seq("30 days", "7 days", "1 day"))
        run(s"dedup_event_${horizon.replace(' ', '_')}", provider, "append")(
          _.withWatermark("ts", horizon)
            .dropDuplicatesWithinWatermark("event_id")
            .select("event_id"))
      run("join_attr_1h", provider, "append") { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts").as("view_ts"))
          .withWatermark("view_ts", "1 hour")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"),
            col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        purchases.join(views,
          col("p_user_id") === col("user_id") &&
            col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("view_ts") <= col("purchase_ts"))
          .select(col("user_id"), col("purchase_id"), col("view_id"))
      }
      run("window_day_wm1d", provider, "append")(
        _.withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("window.start").as("bucket_start"), col("cnt")))
    }

    println("| pipeline | provider | out_rows | batches | state_rows | state_mem |")
    println("|---|---|---|---|---|---|")
    results.foreach { r =>
      println(s"| ${r.pipeline} | ${r.provider} | ${r.outRows} | ${r.batches} " +
        s"| ${r.stateRows} | ${r.stateMemBytes} |")
    }
    val json = results.map(r =>
      s"""{"pipeline":"${r.pipeline}","provider":"${r.provider}",""" +
        s""""out_rows":${r.outRows},"batches":${r.batches},""" +
        s""""state_rows":${r.stateRows},"state_mem_bytes":${r.stateMemBytes}}""")
      .mkString("[", ",", "]")
    println(s"""{"probe":"stream_state","sf":"$dir","results":$json}""")
    spark.stop()
  }
}
