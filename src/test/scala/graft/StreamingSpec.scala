package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.stream.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("stream-batch parity: countsByType equals the batch aggregate") {
    val streamed = Streaming.countsByType(spark, dir)
      .orderBy("event_type").as[(String, Long)].collect().toSeq
    val batch = Tables.events(spark, dir).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type").as[(String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("stream-batch parity: streamDedupKeys equals batch distinct") {
    val streamed = Streaming.streamDedupKeys(spark, dir)
      .orderBy("user_id").as[Long].collect().toSeq
    val batch = Tables.events(spark, dir).select("user_id").distinct()
      .orderBy("user_id").as[Long].collect().toSeq
    assert(streamed == batch)
    // provider parity: the RocksDB state store (the beyond-heap store a
    // 100 TB deployment runs) must return the IDENTICAL key set — state
    // storage is an implementation detail, never a semantics change
    val rocks = Streaming.runToResult(spark, s =>
      Streaming.streamTable(s, dir, "events")
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "append", statePartitions = Some(4),
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .orderBy("user_id").as[Long].collect().toSeq
    assert(rocks == batch, "RocksDB state store changed the dedup result")
  }

  test("stream-batch parity: stream-static tier join equals the batch join") {
    val streamed = Streaming.streamStaticTierCounts(spark, dir)
      .orderBy("tier").as[(String, Long)].collect().toSeq
    val batch = Tables.events(spark, dir)
      .withColumn("__t", pmod(col("user_id"), lit(5L)))
      .join(Seq((0L, "bronze"), (1L, "silver"), (2L, "gold"),
        (3L, "platinum"), (4L, "diamond")).toDF("__t", "tier"), "__t")
      .groupBy("tier").agg(count(lit(1)).as("cnt"))
      .orderBy("tier").as[(String, Long)].collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("multi-batch MemoryStream dedup drops cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val q = mem.toDF().toDF("id", "v")
      .dropDuplicates("id")
      .writeStream.format("memory").queryName("dedup_parity")
      .outputMode("append").start()
    mem.addData(("a", 1), ("b", 2))
    q.processAllAvailable()
    mem.addData(("a", 3), ("c", 4)) // "a" is a cross-batch duplicate
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_parity").select("id").as[String].collect().sorted.toSeq
    assert(ids == Seq("a", "b", "c"))
  }

  test("stream-stream attribution join equals the batch range join") {
    val streamed = Streaming.streamStreamAttribution(spark, dir)
      .orderBy("purchase_id", "view_id")
      .as[(Long, Long, Long)].collect().toSeq
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val batch = p.join(v, col("pu") === col("user_id") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("view_id"))
      .orderBy("purchase_id", "view_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q38 bounded-state dedup: within-horizon dups drop, past-horizon state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
      .select("user_id", "ts")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    def row(u: Long, min: Long) = (u, new Timestamp((600 + min) * 60000L))
    mem.addData(row(1, 0), row(2, 1))
    q.processAllAvailable()
    // within the 10-min horizon: duplicate of u1 is dropped
    mem.addData(row(1, 5))
    q.processAllAvailable()
    assert(spark.table("dedup_wm").select("user_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    // advance the watermark far past u1's ts + horizon → its state is EVICTED
    mem.addData(row(3, 60))
    q.processAllAvailable()
    // a duplicate of u1 beyond the horizon is re-emitted: the documented
    // bounded-state contract (state = keys within the horizon, not all keys)
    mem.addData(row(1, 55))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_wm").select("user_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 1L, 2L, 3L))
  }

  test("flatMapGroupsWithState sessionization emits each closed session exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{ClosedSession, SessionEvent}
    val mem = MemoryStream[SessionEvent]
    val out = Streaming.statefulSessions(mem.toDS(), gapMinutes = 30)
    val q = out.writeStream.format("memory").queryName("stateful_sessions")
      .outputMode("append").start()
    // offset from epoch 0: a row with ts == the initial watermark (0) is
    // dropped as late by the stateful operator's late-row filter
    def ev(u: Long, min: Long) = SessionEvent(u, new Timestamp((600 + min) * 60000L))
    def emitted() = spark.table("stateful_sessions").as[ClosedSession].collect()
      .map(c => (c.user_id, c.session_start.getTime / 60000 - 600,
        c.session_end.getTime / 60000 - 600, c.events))
      .toSet

    mem.addData(ev(1, 0), ev(1, 10), ev(2, 5)) // u1 session {0,10}, u2 {5}
    q.processAllAvailable()
    assert(emitted().isEmpty, "no session is closed yet")
    // ev(1,120) closes u1's session by gap; the end-of-batch watermark (90)
    // also passes u2's end+gap (35), firing its event-time timeout
    mem.addData(ev(1, 120))
    q.processAllAvailable()
    assert(emitted() == Set((1L, 0L, 10L, 2L), (2L, 5L, 5L, 1L)))
    mem.addData(ev(9, 500)) // watermark 470 > 150: u1's open session times out
    q.processAllAvailable()
    assert(emitted() == Set((1L, 0L, 10L, 2L), (2L, 5L, 5L, 1L), (1L, 120L, 120L, 1L)))
    mem.addData(ev(9, 1000)) // gap-closes u9's first session
    q.processAllAvailable()
    q.stop()
    assert(emitted() == Set((1L, 0L, 10L, 2L), (2L, 5L, 5L, 1L),
      (1L, 120L, 120L, 1L), (9L, 500L, 500L, 1L)),
      "each closed session must appear exactly once, open sessions not at all")
  }

  test("stateful sessionizer is store-agnostic: RocksDB provider equals the default store") {
    // the 100 TB state path: the default HDFS-backed store keeps state on
    // the executor heap; RocksDB spills beyond it. Same replay, same result.
    val tmp = tmpDir("rocksdb_replay")
    val rocks = Streaming.statefulSessionsReplay(spark, dir, tmp,
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .orderBy("user_id", "session_start").collect().map(_.toString).toSeq
    val default = Streaming.statefulSessionsReplay(spark, dir, tmp)
      .orderBy("user_id", "session_start").collect().map(_.toString).toSeq
    assert(rocks.nonEmpty && rocks == default)
  }

  test("stateful session absorbs an in-horizon out-of-order event on the start side") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{ClosedSession, SessionEvent}
    val mem = MemoryStream[SessionEvent]
    val q = Streaming.statefulSessions(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("stateful_ooo")
      .outputMode("append").start()
    def ev(u: Long, min: Long) = SessionEvent(u, new Timestamp((600 + min) * 60000L))
    mem.addData(ev(1, 100))
    q.processAllAvailable() // watermark 70
    mem.addData(ev(1, 95)) // late but within the horizon: precedes the open start
    q.processAllAvailable()
    mem.addData(ev(1, 300)) // gap-closes the session
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("stateful_ooo").as[ClosedSession].collect()
      .map(c => (c.session_start.getTime / 60000 - 600,
        c.session_end.getTime / 60000 - 600, c.events)).toSet
    assert(sessions == Set((95L, 100L, 2L)),
      "session interval must extend backward to cover the late event")
  }

  test("durable parquet sink: restart from checkpoint resumes, no loss no dupes") {
    val base = tmpDir("graft_sink")
    val src = s"$base/src"; val out = s"$base/out"; val chk = s"$base/chk"
    new java.io.File(src).mkdirs()
    // stage a new input file into the watched dir (unique name = new data)
    def addInput(name: String, ids: Seq[Long]): Unit = {
      val stage = s"$base/stage_$name"
      ids.map(i => (i, i % 2)).toDF("id", "part")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("id LONG, part LONG").parquet(src)
      val q = Streaming.toParquetSink(stream, out, chk, partitionCols = Seq("part"))
      q.awaitTermination()
    }
    def sinkIds() = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq

    addInput("b1", 1L to 5L)
    runOnce() // batch 1 committed, query stops (AvailableNow)
    assert(sinkIds() == (1L to 5L))
    addInput("b2", 6L to 10L)
    runOnce() // restart from the same checkpoint: only the new file processed
    assert(sinkIds() == (1L to 10L), "restart lost or duplicated rows")
    runOnce() // restart with no new data: nothing re-emitted
    assert(sinkIds() == (1L to 10L), "idle restart duplicated rows")
    // the append is genuinely partitioned
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part="))
    assert(parts.toSet == Set("part=0", "part=1"))
  }

  test("statefulSessions survives a mid-stream kill: restart resumes state, exactly-once") {
    // q75's replay gate proves end-to-end determinism on an uninterrupted
    // run; this closes the exactly-once claim for the CUSTOM-STATE path
    // under failure — kill the query between micro-batches, restart from
    // the same checkpoint, and the emitted session set must still equal
    // the batch session_window twin: no lost open-session state (user 3's
    // session spans the kill point), no duplicated closed sessions (the
    // file sink's metadata log + state-store versioning together).
    import Streaming.{ClosedSession, SessionEvent}
    val base = tmpDir("graft_sess_restart")
    val src = s"$base/src"; val out = s"$base/out"; val chk = s"$base/chk"
    new java.io.File(src).mkdirs()
    // +1000 min base: an event at exactly epoch 0 sits ON the initial
    // watermark value and is dropped as late — a degenerate boundary the
    // other stateful tests also avoid (their 600-min base)
    def min(m: Long) = new Timestamp((1000L + m) * 60000L)
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = s"$base/stage_$name"
      rows.map { case (u, m) => (u, min(m)) }.toDF("user_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    // gap = 30 min. Sessions: u1 (0-20,3) (100-110,2) (200-200,1);
    // u2 (5-5,1) (50-55,2); u3 (0-75,4) — u3's single session is extended
    // in every early file, so its OPEN state must cross the restart.
    addFile("f1", Seq((1L, 0L), (1L, 10L), (1L, 20L), (2L, 5L), (3L, 0L), (3L, 25L)))
    addFile("f2", Seq((2L, 50L), (2L, 55L), (3L, 50L), (3L, 75L)))
    addFile("f3", Seq((1L, 100L), (1L, 110L)))
    def startRun(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(src).as[SessionEvent]
      Streaming.statefulSessions(stream, gapMinutes = 30).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    def commits: Int = Option(new java.io.File(s"$chk/commits").listFiles())
      .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)
    val q1 = startRun()
    while (q1.isActive && commits < 2) Thread.sleep(10)
    q1.stop(); q1.awaitTermination() // the kill, mid-stream
    // the flush sentinels (close every open session; their own 1-event
    // sessions stay open, never emitted) arrive only AFTER the kill — the
    // restart provably does real work from recovered state
    addFile("f4", Seq((1L, 200L), (1L, 100000L), (2L, 100000L), (3L, 100000L)))
    val q2 = startRun(); q2.awaitTermination()
    val got = spark.read.parquet(out).as[ClosedSession].collect()
      .map(c => (c.user_id, c.session_start.getTime / 60000L - 1000L,
        c.session_end.getTime / 60000L - 1000L, c.events)).toSet
    assert(got == Set(
      (1L, 0L, 20L, 3L), (1L, 100L, 110L, 2L), (1L, 200L, 200L, 1L),
      (2L, 5L, 5L, 1L), (2L, 50L, 55L, 2L), (3L, 0L, 75L, 4L)),
      s"restart lost or duplicated sessions: $got")
  }

  test("watermark drops late data beyond the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = Streaming.watermarkedDailyCounts(
      mem.toDF().toDF("ts", "k"), "1 hour")
    val q = agg.writeStream.format("memory").queryName("wm_drop")
      .outputMode("append").start()
    mem.addData((Timestamp.valueOf("2024-01-01 10:00:00"), "x"))
    q.processAllAvailable()
    // advance watermark far past day 1
    mem.addData((Timestamp.valueOf("2024-01-05 10:00:00"), "x"))
    q.processAllAvailable()
    // this arrival is 4 days late — beyond the 1h horizon, must be dropped
    mem.addData((Timestamp.valueOf("2024-01-01 11:00:00"), "late"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-09 10:00:00"), "x")) // flush day 5
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm_drop")
      .select(col("bucket_start").cast("string"), col("cnt")).as[(String, Long)].collect().toMap
    assert(out("2024-01-01 00:00:00") == 1L) // late row NOT counted
    assert(out("2024-01-05 00:00:00") == 1L)
  }

  test("live foreachBatch enrich-once appends only unseen keys to the sink") {
    implicit val sqlCtx = spark.sqlContext
    val sink = s"${tmpDir("stream_enrich")}/sink"
    val mem = MemoryStream[(String, Double)]
    val existing = Seq("a").toDF("comment_id")
    val q = mem.toDF().toDF("comment_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Streaming.incrementalEnrich(batch, existing, "comment_id")(
          _.withColumn("enriched", col("v") * 2))
          .write.mode("append").parquet(sink)
      }
      .start()
    mem.addData(("a", 1.0), ("b", 2.0))
    q.processAllAvailable()
    mem.addData(("c", 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink)
      .select("comment_id", "enriched").as[(String, Double)].collect().sorted.toSeq
    assert(rows == Seq(("b", 4.0), ("c", 6.0))) // "a" skipped across both batches
  }

  test("batch and streaming sessionization agree at the gap boundary") {
    val dir001 = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q57_sessionize")(spark, dir001)
    // total evented rows across sessions must equal the table count
    assert(batch.agg(sum("events")).as[Long].head() ==
      Tables.events(spark, dir001).count())
    // sessions are disjoint and ordered per user
    val perUser = batch.groupBy("user_id").count().as[(Long, Long)].collect()
    assert(perUser.forall(_._2 >= 1))
  }

  test("incrementalEnrich only processes the delta") {
    val all = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("comment_id", "v")
    val existing = Seq("a").toDF("comment_id")
    val out = Streaming.incrementalEnrich(all, existing, "comment_id")(
      _.withColumn("enriched", col("v") * 2))
    assert(out.select("comment_id").as[String].collect().sorted.toSeq == Seq("b", "c"))
  }

  test("quotaByHour: hand-computed hourly ledgers; sentinel closes the tail") {
    import Streaming.SessionEvent
    val src = tmpDir("graft_quota")
    // absolute epoch hours 100/101: u1 puts 3 events in hour 100 (quota 2
    // → 1 dropped) and 1 in hour 101; u2 1 in hour 100. The -1 sentinel
    // (far future) advances the watermark so every real ledger times out;
    // its own key never emits and is filtered batch-side
    def at(h: Long, m: Long) = new Timestamp((h * 3600L + m * 60L) * 1000L)
    Seq((1L, at(100, 0)), (1L, at(100, 10)), (1L, at(100, 20)),
      (1L, at(101, 5)), (2L, at(100, 30)), (-1L, at(5000, 0)))
      .toDF("user_id", "ts").write.mode("overwrite").parquet(src)
    val out = Streaming.runToResult(spark, { s =>
      Streaming.quotaByHour(
        s.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(src)
          .as[SessionEvent](org.apache.spark.sql.Encoders.product[SessionEvent]),
        maxPerHour = 2).toDF()
    }, "append", statePartitions = Some(2))
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "hour_start")
      .as[(Long, Timestamp, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, at(100, 0), 3L, 2L, 1L),
      (1L, at(101, 0), 1L, 1L, 0L),
      (2L, at(100, 0), 1L, 1L, 0L)), out.toString)
  }

  test("quotaByHour survives a mid-stream kill: restart resumes counters, exactly-once") {
    // the sessionizer's kill/restart harness pointed at the quota ledger:
    // (u1, hour-100)'s counter accumulates across the f1/f2 micro-batches
    // that COMMIT BEFORE the kill, the flush sentinel arrives only after
    // the restart, and the emitted ledgers must equal the batch
    // least(n, quota) twin — lost state would under-count n_events,
    // sink-metadata failure would duplicate ledgers
    import Streaming.{HourQuota, SessionEvent}
    val base = tmpDir("graft_quota_restart")
    val src = s"$base/src"; val out = s"$base/out"; val chk = s"$base/chk"
    new java.io.File(src).mkdirs()
    def at(h: Long, m: Long) = new Timestamp((h * 3600L + m * 60L) * 1000L)
    def addFile(name: String, rows: Seq[(Long, Timestamp)]): Unit = {
      val stage = s"$base/stage_$name"
      rows.toDF("user_id", "ts").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    addFile("f1", Seq((1L, at(100, 0)), (1L, at(100, 10)), (2L, at(100, 30))))
    addFile("f2", Seq((1L, at(100, 20)), (1L, at(101, 5)))) // u1 h100 spans the kill
    addFile("f3", Seq((2L, at(101, 10)), (2L, at(101, 20)), (2L, at(101, 40))))
    def startRun(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src).as[SessionEvent]
      Streaming.quotaByHour(stream, maxPerHour = 2).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    def commits: Int = Option(new java.io.File(s"$chk/commits").listFiles())
      .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)
    val q1 = startRun()
    while (q1.isActive && commits < 2) Thread.sleep(10)
    q1.stop(); q1.awaitTermination() // the kill, mid-stream
    addFile("f4", Seq((-1L, at(5000, 0)))) // watermark flush, post-restart only
    val q2 = startRun(); q2.awaitTermination()
    val got = spark.read.parquet(out).as[HourQuota].collect()
      .filter(_.user_id >= 0)
      .map(h => (h.user_id, h.hour_start, h.n_events, h.n_accepted, h.n_dropped))
      .sortBy(r => (r._1, r._2.getTime)).toSeq
    assert(got == Seq(
      (1L, at(100, 0), 3L, 2L, 1L),
      (1L, at(101, 0), 1L, 1L, 0L),
      (2L, at(100, 0), 1L, 1L, 0L),
      (2L, at(101, 0), 3L, 2L, 1L)),
      s"restart lost or duplicated quota ledgers: $got")
  }

  test("nearDupGateReplay: dups caught across AND within batches; survivors exact") {
    // maxId 7 → span 2 → batches [0,2) [2,4) [4,6) [6,8).
    // 3 dups 0 (cross-batch, via the index probe), 4 dups 1 (cross),
    // 5 dups 2 (cross), 7 dups 6 (WITHIN batch 3) → survivors 0,1,2,6
    val base = tmpDir("graft_gate")
    val dir = s"$base/data"; new java.io.File(dir).mkdirs()
    Seq((0L, "a b c d e"), (1L, "p q r s t"), (2L, "x y z w v"),
      (3L, "a b c d e"), (4L, "p q r s t"), (5L, "x y z w v"),
      (6L, "m n o k l"), (7L, "m n o k l"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = Streaming.nearDupGateReplay(spark, dir, s"$base/stage", batches = 4)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L), (1L, 0L), (2L, 1L), (6L, 3L)), out.toString)
  }

  test("vectorIngestReplay: accumulated streaming index equals the batch assignment") {
    val base = tmpDir("graft_vi")
    val dir = s"$base/data"; new java.io.File(dir).mkdirs()
    val vecs = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i % 7) + d * 0.25f + (i % 3) * 0.1f)))
    }
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val streamed = Streaming.vectorIngestReplay(spark, dir, s"$base/stage", batches = 4)
      .orderBy("cell").as[(Long, Long, Long, Long)].collect().toSeq
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val asg = graft.ops.Similarity.ivfAssign(
      emb, emb.filter(col("vec_id") < 16), "vec_id", "embedding")
    val total = asg.count()
    val batch = asg.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .select(col("cell").cast("long"), col("n_vecs").cast("long"),
        expr(s"(10000 * n_vecs) div $total").cast("long"),
        expr(s"(1000 * n_vecs * 16) div $total").cast("long"))
      .orderBy("cell").as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("cdcApplyReplay: streamed merge chain lands on the one-shot batch fold") {
    val base = tmpDir("graft_cdc")
    val dir = s"$base/data"; new java.io.File(dir).mkdirs()
    // a synthetic customer table exercising every op path: keys 1..140
    // hit the %7 update, %10 delete, and %20 re-insert tiers
    (1L to 140L).map(k => (k, s"Customer#$k", 1, k * 1.5, s"SEG${k % 3}"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val streamed = Streaming.cdcApplyReplay(spark, dir, s"$base/stage")
      .as[(Long, Long, String)].collect().toSeq
    // batch fold twin (q317's shape): union + latest-op-wins + drop D
    val b = spark.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"),
      graft.ops.Num.roundz(col("c_acctbal") * 100, 0).cast("long").as("cents"),
      col("c_mktsegment").as("segment"))
    val logAll = b.select(col("c_custkey"), lit(0L).as("seq"), lit("I").as("op"),
        col("cents"), col("segment"))
      .unionByName(b.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit(1L).as("seq"), lit("U").as("op"),
          (col("cents") + 1000L).as("cents"), col("segment")))
      .unionByName(b.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit(2L).as("seq"), lit("D").as("op"),
          col("cents"), col("segment")))
      .unionByName(b.filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey"), lit(3L).as("seq"), lit("I").as("op"),
          lit(555L).as("cents"), lit("WINBACK").as("segment")))
    val batch = logAll.groupBy(col("c_custkey"))
      .agg(max(struct(col("seq"), col("op"), col("cents"), col("segment"))).as("l"))
      .filter(col("l.op") =!= "D")
      .select(col("c_custkey"), col("l.cents"), col("l.segment"))
      .orderBy("c_custkey").as[(Long, Long, String)].collect().toSeq
    assert(streamed == batch, s"stream=${streamed.take(5)}… batch=${batch.take(5)}…")
    // the delete-then-reinsert tier must be WINBACK, the delete-only tier absent
    val byKey = streamed.map(r => r._1 -> r).toMap
    assert(byKey(20L)._3 == "WINBACK" && byKey(20L)._2 == 555L)
    assert(!byKey.contains(10L) && !byKey.contains(30L))
  }

  test("psiReplay: planted drift in the last batch scores far above the clean ones") {
    // ids 0..39 → span 10; batches 0-2 draw the same value pattern,
    // batch 3 is shifted two bins up — its PSI row must dominate
    val base = tmpDir("graft_psi")
    val dir = s"$base/data"; new java.io.File(dir).mkdirs()
    def at(i: Long) = new Timestamp(1700000000000L + i * 60000L)
    val rows = (0L until 40L).map { i =>
      val v = if (i < 30) (i % 10) * 50.0 else (i % 10) * 50.0 + 250.0
      (i, at(i), i % 5, "view", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Streaming.psiReplay(spark, dir, s"$base/stage", batches = 4)
      .orderBy("batch_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L), out.toString)
    assert(out.forall(r => r._2 == 10L && r._3 == 10L))
    val psi = out.map(r => r._1 -> r._4).toMap
    assert(psi(1L) == psi(2L), "identical batches must score identically")
    assert(psi(3L) > psi(1L) * 3, s"planted drift not detected: $psi")
  }

  test("quotaReplay: flush sentinel is data-anchored, not a fixed date") {
    // events dated 2026 — PAST the old hard-coded 2025-01-01 sentinel,
    // which would have silently withheld every tail ledger; the max(ts)+48h
    // sentinel moves with the data, so all ledgers emit
    val base = tmpDir("graft_quota_anchor")
    val dir = s"$base/data"; new java.io.File(dir).mkdirs()
    def at(s: String) = Timestamp.valueOf(s)
    Seq((1L, at("2026-03-01 10:00:00")), (1L, at("2026-03-01 10:10:00")),
      (1L, at("2026-03-01 10:20:00")), (2L, at("2026-03-01 11:30:00")))
      .toDF("user_id", "ts").write.parquet(s"$dir/events.parquet")
    val out = Streaming.quotaReplay(spark, dir, s"$base/stage", maxPerHour = 2)
      .orderBy("user_id")
      .as[(Long, Timestamp, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, at("2026-03-01 10:00:00"), 3L, 2L, 1L),
      (2L, at("2026-03-01 11:00:00"), 1L, 1L, 0L)), out.toString)
  }

  /** Top-level entries of this JVM's scratch root, where every replay's
    * checkpoint and work dir live while it runs. */
  private def rootEntries(): Set[String] =
    Option(graft.storage.Materialize.root.list()).toSeq.flatten.toSet

  /** A tmpfs checkpoint base outside the scratch root: no replay may create
    * it, since nothing would ever remove it. */
  private def shmCheckpointBase =
    new java.io.File(s"/dev/shm/graft_stream_ckpt_${ProcessHandle.current().pid()}")

  test("replay harness: a step that throws on batch 2 rethrows and leaves no checkpoint or work tree") {
    val stage = tmpDir("replay_fail")
    val slices = (0 until 3).map(i => Seq(i.toLong).toDF("id"))
    Streaming.stageBatches(stage, slices.head, slices)
    val before = rootEntries()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    var workDir = ""
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streaming.foreachBatchReplay(spark, stage, slices.head.schema) { (batch, work) =>
        workDir = work
        batch.write.parquet(s"$work/b${calls.get}")
        if (calls.incrementAndGet() == 2) throw new IllegalStateException("step failed")
      }(work => spark.read.parquet(s"$work/b*"))
    }
    assert(calls.get == 2)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => e.isInstanceOf[IllegalStateException] && e.getMessage == "step failed"), err)
    assert(workDir.startsWith(graft.storage.Materialize.root.getPath), workDir)
    assert(!new java.io.File(workDir).getParentFile.exists(),
      "the failed replay's checkpoint and work dir must be deleted")
    assert(rootEntries() == before)
    assert(!shmCheckpointBase.exists())
  }

  test("replay harness: completed memory and foreachBatch replays leave only their stage dirs") {
    val base = tmpDir("replay_clean")
    val dir = s"$base/data"
    (0L until 40L).map(i =>
      (i, new Timestamp(1700000000000L + i * 60000L), i % 5, "view", (i % 10) * 50.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val before = rootEntries()
    // psiReplay runs foreachBatch with a work dir, quotaReplay a memory sink
    val psiRows = Streaming.psiReplay(spark, dir, s"$base/psi_stage", batches = 4).count()
    val quotaRows = Streaming.quotaReplay(spark, dir, s"$base/quota_stage", maxPerHour = 2).count()
    assert(psiRows == 3L && quotaRows > 0L)
    assert(rootEntries() == before, "a replay left scratch under the JVM's root")
    assert(new java.io.File(base).list().toSet == Set("data", "psi_stage", "quota_stage"))
    assert(!shmCheckpointBase.exists())
  }

  /** Replay staged batches of (uid, day) rows one file per micro-batch
    * through dropDuplicatesWithinWatermark — the measurement harness behind
    * the q452/q455 semantics pins below. */
  private def ttlReplayBatches(batches: Seq[Seq[(String, Int)]],
                               horizon: String): Seq[(String, Int)] = {
    def dayTs(d: Int) = Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")
    val slices = batches.map(_.map { case (u, d) => (u, dayTs(d)) }.toDF("uid", "ts"))
    val stage = tmpDir("ttl_pin")
    Streaming.stageBatches(stage, slices.head, slices)
    Streaming.runToResult(spark, s =>
      s.readStream.schema("uid STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark("uid"),
      "append", statePartitions = Some(4))
      .select(col("uid"), (dayofmonth(col("ts")) - 1).as("d"))
      .as[(String, Int)].collect().sorted.toSeq
  }

  /** One batch per event day, in day order. */
  private def ttlReplay(days: Seq[(String, Int)], horizon: String): Seq[(String, Int)] =
    ttlReplayBatches(days.map(_._2).distinct.sorted.map(d => days.filter(_._2 == d)),
      horizon)

  test("q452 semantics pin: dedup state is evicted by the LAG-2 watermark, >= at equality, no refresh") {
    // The q452 oracle replays this exact model: a key's state carries
    // expiry = firstSeen + horizon, duplicates never refresh it, and the
    // eviction watermark for micro-batch N derives from event times
    // through batch N-2 (one batch of commit lag), evicting at >= the
    // expiry. Three measured fixtures pin each clause; if a Spark upgrade
    // changes the operator, THIS fails before the gate does.
    // (1) dense days, horizon 2: u2 posts every day yet re-emits on day 6 —
    // the first batch whose lag-2 watermark (day4 - 2 = day2) reaches the
    // expiry (day0 + 2 = day2): >= at exact equality, and no refresh
    // (a refreshing state would never re-emit under daily duplicates).
    val dense = ttlReplay(
      (0 to 9).map(d => ("u2", d)) ++ Seq(0, 3, 4, 5, 6, 9).map(d => ("u1", d)),
      "2 days")
    assert(dense.filter(_._1 == "u1").map(_._2) == Seq(0, 6), dense.toString)
    assert(dense.filter(_._1 == "u2").map(_._2) == Seq(0, 6), dense.toString)
    // (2) sparse batch days {0,5,6}: a LAG-1 watermark at batch day6 would
    // be day5 - 2 = day3 >= expiry day2 and re-emit; the measured lag-2
    // watermark is day0 - 2 and does not
    assert(ttlReplay(Seq(("u2", 0), ("u2", 5), ("u2", 6)), "2 days")
      .map(_._2) == Seq(0), "lag-1 eviction would re-emit at day 6")
    // (3) gapped days {0,5,6,7,9}: re-emission lands exactly where lag-2
    // first reaches the expiry (batch day7: day5 - 2 = day3 >= day2)
    assert(ttlReplay(Seq(0, 5, 6, 7, 9).map(d => ("u2", d)), "2 days")
      .map(_._2) == Seq(0, 7), "lag-2 eviction fires at day 7")
  }

  test("q455 semantics pin: late rows drop against the LAG-2 watermark, boundary row dropped") {
    // The q455 oracle replays this exact rule. One staged fixture pins all
    // three clauses: u9's day-0 row arrives in batch 2 where the lag-2
    // watermark is still -inf-ish (kept — a LAG-1 watermark of day3 would
    // drop it); u8's day-0 row arrives in batch 3 where the lag-2
    // watermark is day5 - 2 = day3 (dropped — the filter is active); u7's
    // day-4 row arrives in batch 4 where the lag-2 watermark is EXACTLY
    // day4 (dropped — the boundary row is late, survival needs ts > wm).
    val out = ttlReplayBatches(Seq(
      Seq(("u2", 0)),
      Seq(("u2", 5)),
      Seq(("u2", 6), ("u9", 0)),
      Seq(("u2", 7), ("u8", 0)),
      Seq(("u2", 9), ("u7", 4))), "2 days")
    assert(out.filter(_._1 == "u9").map(_._2) == Seq(0), "lag-1 would drop u9")
    assert(!out.exists(_._1 == "u8"), "the late filter must be active")
    assert(!out.exists(_._1 == "u7"), "ts == watermark is late, not on-time")
    // u2's own chain re-checks the eviction half on this staging
    assert(out.filter(_._1 == "u2").map(_._2) == Seq(0, 7), out.toString)
  }

  test("q455: the delivery ledger balances and only the delayed stream drops") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q455_late_data_audit")(spark, sf)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (d, total, delivered, dropped) =>
      assert(total == delivered + dropped, s"ledger must balance on $d")
    }
    assert(out.map(_._4).sum > 0, "the 3-day delay under a 1-day horizon must drop rows")
    // on-time rows (id % 17 != 0) are never late: drops never exceed the
    // delayed stream's population
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("event_id"))
      .as[(java.sql.Date, Long)].collect().toSeq
    val delayedPerDay = ev.filter(_._2 % 17 == 0).groupBy(_._1).view.mapValues(_.size)
    out.foreach { case (d, _, _, dropped) =>
      assert(dropped <= delayedPerDay.getOrElse(d, 0).toLong,
        s"on-time rows must never drop ($d)")
    }
  }

  test("q452: TTL bounds the dedup state to ~2 horizons of keys, under both providers") {
    val sf = "/root/testdata/sf0.01"
    // materialize the registered key once (stages the per-day batches and
    // computes the era chain the assertions below compare against)
    val eras = SparkEntry.queries("q452_stream_ttl_dedup")(spark, sf)
      .as[(Long, java.sql.Date, Long)].collect().toSeq
    val users = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select("user_id").distinct().count()
    assert(eras.count(_._3 == 2L) > 0, "the horizon must BITE: some second eras")
    val stage = s"${graft.storage.Materialize.scratch("stream_ttl", sf)}/ttl_b3_d6"
    val maxDay = eras.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val h = 3L // horizon DAYS: 3-day buckets x (10-bucket fixture span div 6)
    // live state at end of replay = entries the final (lag-2) watermark has
    // not yet evicted: their era started within the last 2 horizons (+lag)
    val liveBound = eras.groupBy(_._1).values
      .map(_.maxBy(_._3)._2.toLocalDate)
      .count(d => d.toEpochDay >= maxDay.toEpochDay - (2 * h + 6)) // lag = 2 batches = 6 days
    for (provider <- Seq("hdfs", "rocksdb")) {
      val confs =
        if (provider == "rocksdb")
          Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Map.empty[String, String]
      val q = Streaming.replayToMemory(spark, s =>
        s.readStream.schema("user_id BIGINT, ts TIMESTAMP")
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .withWatermark("ts", "3 days")
          .dropDuplicatesWithinWatermark("user_id"),
        "append", statePartitions = Some(4), extraConfs = confs)
      val emitted = q.sparkSession.table(q.name)
        .select(col("user_id"), to_date(col("ts")))
        .as[(Long, java.sql.Date)].collect().toSet
      assert(emitted == eras.map(e => (e._1, e._2)).toSet,
        s"$provider replay must emit the gate's exact era chain")
      // the TTL contract: state is keyed by user (one entry each, an
      // evicted era REPLACED by the next — re-emissions above prove
      // eviction fired) and holds only keys whose latest era is inside
      // ~2 horizons of the final watermark. At this fixture density every
      // user is active in the final window, so the bound equals `users`;
      // what the assertion rules out is the unbounded-history store
      // (state > one entry per key, or entries for keys long past the
      // horizon — the reference's whole-table EXISTS probe shape).
      val stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      assert(stateRows > 0 && stateRows <= users,
        s"$provider: state must hold at most one entry per key (state=$stateRows, users=$users)")
      assert(stateRows <= liveBound,
        s"$provider: state ($stateRows) must stay within the 2-horizon key bound ($liveBound)")
    }
  }
}
