package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.storage.Materialize
import graft.storage.Materialize.deleteRecursively

/** Structured Streaming re-expression of the reference's poll-loop "streams"
  * (SURVEY.md §2.9). The reference streams by scheduling a fetch every 1s/3min/
  * 60min and deduplicating against the whole Postgres table on every insert
  * (`Data Collection/Reddit.py:166-173`, `:75-80`). Here the same semantics are
  * `readStream → transform → writeStream`, with dedup/windows as stateful
  * operators and watermarks bounding state (the reference's state is unbounded).
  *
  * `Trigger.AvailableNow` drains all pending input in micro-batches and stops —
  * the deterministic replay mode used by the verify gate; swap for
  * `Trigger.ProcessingTime(...)` in a live deployment (q37's cadences).
  */
object Streaming {

  /** Batch stager shared by the replays: writes each slice of `input` as
    * one `bNNN.parquet` file with ascending names AND mtimes (the file
    * source discovers them in order), once per JVM per input content
    * ([[Materialize.once]] — a crashed stage is cleared and rebuilt). */
  private[graft] def stageBatches(stageDir: String, input: DataFrame,
                                  slices: Seq[DataFrame]): Unit =
    Materialize.once(stageDir, input) {
      val root = new java.io.File(stageDir)
      root.mkdirs()
      slices.zipWithIndex.foreach { case (df, i) =>
        val tmp = s"$stageDir/__stage$i"
        df.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(root, f"b$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1000000L * (i + 1))
        deleteRecursively(new java.io.File(tmp))
      }
    }

  /** Stages `input` as `batches` ascending spans of the non-negative id
    * column `idCol` (span = ceil((max id + 1) / batches)); returns the span,
    * so a batch's data-derived key is `id div span`. */
  private def stageIdSpans(stageDir: String, input: DataFrame, idCol: String,
                           batches: Int): Long = {
    val maxId = input.agg(max(col(idCol))).head.getLong(0)
    val span = (maxId + batches) / batches
    stageBatches(stageDir, input, (0 until batches).map(i =>
      input.filter(col(idCol) >= i * span && col(idCol) < (i + 1) * span)))
    span
  }

  /** The replay harness: every throwaway `Trigger.AvailableNow` run in this
    * object goes through here. The query runs on a cloned session
    * (`newSession`: shared SparkContext and catalog, private SQLConf), so
    * `statePartitions` and `extraConfs` (e.g. the RocksDB state-store
    * provider) bind to the replay only and a batch query planned
    * concurrently on the caller's session never inherits them. `attach`
    * gets that session and the replay's work dir and returns the writer with
    * its sink; `replay` names the query, points its checkpoint into a
    * fresh dir under [[Materialize]]'s per-JVM root, runs it until drained,
    * and passes the finished query and the work dir to `finish`. The
    * checkpoint and work dir are deleted on every exit path once `finish`
    * returns, so `finish` must materialize whatever it reads from the work
    * dir. The production sink ([[toParquetSink]]) takes the caller's
    * durable checkpoint instead.
    *
    * Streaming state partition count is a real deployment knob: it is
    * FIXED into the checkpoint at first start and every micro-batch pays a
    * fixed cost per state store instance (a stream-stream join keeps four
    * stores per partition). A production query sizes it to |state| /
    * executor memory; a replay's per-batch volume is tiny, so callers pass
    * a small count (measured at sf0.1: 4 beats 8 by ~18% on the five
    * streaming keys and beats 2 on the join/session keys, where state work
    * still parallelizes). */
  private[graft] def replay[T](spark: SparkSession, statePartitions: Option[Int],
                              extraConfs: Map[String, String] = Map.empty)(
      attach: (SparkSession, String) => DataStreamWriter[_])(
      finish: (StreamingQuery, String) => T): T = {
    val scratch = Materialize.freshDir("replay")
    val work = s"$scratch/work"
    val session = spark.newSession()
    statePartitions.foreach(n =>
      session.conf.set("spark.sql.shuffle.partitions", n.toString))
    extraConfs.foreach { case (k, v) => session.conf.set(k, v) }
    try {
      val q = attach(session, work)
        .queryName(scratch.getName)
        .option("checkpointLocation", s"$scratch/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      finish(q, work)
    } finally deleteRecursively(scratch)
  }

  /** foreachBatch replay of a staged input, one staged file per
    * micro-batch: `step` gets each batch and the work dir its outputs
    * accumulate in; `result` reads them back and is `localCheckpoint`ed
    * before [[replay]] deletes the work dir (results are audit-table
    * sized; a production run lands them in a real sink instead). */
  private[graft] def foreachBatchReplay(spark: SparkSession, stageDir: String,
                                        schema: StructType)(
      step: (DataFrame, String) => Unit)(result: String => DataFrame): DataFrame =
    replay(spark, statePartitions = Some(4))({ (s, work) =>
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stageDir)
        .writeStream.foreachBatch((batch: DataFrame, _: Long) => step(batch, work))
    })((_, work) => result(work).localCheckpoint())

  /** Streaming scan of a testdata table: file-source with the schema taken
    * from the batch reader (streams require a declared schema). */
  def streamTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet is ns-timestamped — expose as long before schema capture
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(Tables.path(dir, name)).schema
    // file source requires a directory: scan the sf dir, globbed to this table
    val raw = spark.readStream.schema(batchSchema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    if (name == "events")
      // encoding-agnostic ts normalization (matches graft.Tables.events)
      Tables.normalizeTs(raw)
    else raw
  }

  /** Durable production sink: continuous append to a partitioned parquet
    * store. Exactly-once: the parquet streaming sink commits files through
    * its `_spark_metadata` log and the checkpoint records source offsets, so
    * restarting with the same `checkpointDir` resumes from the last committed
    * batch — no loss, no dupes. This is the engine twin of the reference's
    * poll→insert loop (`Data Collection/Reddit.py:166-173`), with the
    * reference's per-insert full-table dedup scan replaced by offset tracking.
    */
  def toParquetSink(stream: DataFrame, path: String, checkpointDir: String,
                    partitionCols: Seq[String] = Nil,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val w = stream.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).start()
  }

  /** Replays `build` (a stream on [[replay]]'s cloned session) into a
    * memory sink and returns the finished query; its result table is
    * `q.sparkSession.table(q.name)` and its per-trigger progress
    * `q.recentProgress`. The memory sink keeps its rows in this JVM's
    * heap — only ever used for chart-sized aggregates / verify replays;
    * production sinks are file/Kafka via the same writeStream. */
  def replayToMemory(spark: SparkSession, build: SparkSession => DataFrame,
                     outputMode: String,
                     statePartitions: Option[Int] = None,
                     extraConfs: Map[String, String] = Map.empty): StreamingQuery =
    replay(spark, statePartitions, extraConfs)((s, _) =>
      build(s).writeStream.format("memory").outputMode(outputMode))((q, _) => q)

  /** [[replayToMemory]]'s final result table. */
  def runToResult(spark: SparkSession, build: SparkSession => DataFrame,
                  outputMode: String,
                  statePartitions: Option[Int] = None,
                  extraConfs: Map[String, String] = Map.empty): DataFrame = {
    val q = replayToMemory(spark, build, outputMode, statePartitions, extraConfs)
    q.sparkSession.table(q.name)
  }

  /** q37: micro-batch periodic counts (reference cadences: 1 s / 3 min / 60 min).
    * Complete-mode aggregation ⇒ final result provably equals the batch twin. */
  def countsByType(spark: SparkSession, dir: String): DataFrame =
    runToResult(spark, s =>
      streamTable(s, dir, "events").groupBy(col("event_type")).agg(count(lit(1)).as("cnt")),
      "complete", statePartitions = Some(4))

  /** q38: cross-batch dedup by key (reference: per-row EXISTS probe against
    * the whole table, `Data Collection/Reddit.py:75-80` — unbounded). Project
    * to the key *before* the dedup so state stores only keys, and bound the
    * state with `dropDuplicatesWithinWatermark`: a key's state is evicted once
    * the event-time watermark passes its ts + horizon, so state size is
    * |distinct keys inside the horizon|, not |all keys ever| (plain
    * `dropDuplicates(key)` never evicts when the event-time column isn't part
    * of the key — the SURVEY §2.9 trap).
    *
    * Deliberate semantics at the horizon: a duplicate arriving more than
    * `horizon` after the original is re-emitted (its state was evicted) —
    * that's the documented contract of a bounded-state dedup. The default
    * horizon covers the full testdata span, so the replay gate still equals
    * `SELECT DISTINCT user_id`. */
  def streamDedupKeys(spark: SparkSession, dir: String,
                      horizon: String = "30 days"): DataFrame =
    runToResult(spark, s =>
      streamTable(s, dir, "events")
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "append", statePartitions = Some(4))

  /** q452: TTL-bounded streaming dedup whose horizon BITES (round-15
    * verdict item 5): the events table is staged one file per
    * `bucketDays`-day event BUCKET (ascending, one micro-batch each), keys
    * dedup under `dropDuplicatesWithinWatermark` with an horizon derived
    * from the data span (bucketDays · greatest(1, spanBuckets div
    * `divisor`) days), and because the span is ~6 horizons a key's state
    * is evicted and the key RE-EMITTED several times across the replay —
    * each emission is an "era". This pins the measured "TTL bounds dedup
    * state" contract (SCALE.md round 15) with the gate, not just a probe:
    * state can never exceed the keys active inside one horizon, and the
    * era chain is exactly reproducible.
    *
    * bucketDays = 3 since round 17 (r16 verdict item 4): the semantics
    * live in StreamingSpec's staged fixtures, and one batch per 3-day
    * bucket cuts the replay's trigger count to 10 — the bench cost is
    * trigger overhead × batch count (~0.34 s/trigger AvailableNow floor,
    * measured), constant in data size per batch.
    *
    * Rows are projected to (user_id, bucket start) BEFORE the dedup so
    * every row of a key within a batch is identical — the emitted row is
    * deterministic under shuffle-order nondeterminism (the q38 projection
    * discipline, plus bucket truncation for the event-time column).
    *
    * Eviction semantics pinned by StreamingSpec's probe (Spark 4.1
    * `StreamingDeduplicationWithinWatermarkExec` under AvailableNow +
    * maxFilesPerTrigger=1, measured — not read off the docs):
    *   - state entry = (key, expiresAt = firstSeen + horizon); duplicates
    *     do NOT refresh it;
    *   - the eviction watermark for micro-batch N is computed from event
    *     times through batch N-2 (one batch of commit lag): entry evicted
    *     before batch N iff maxTs(batches <= N-2) - horizon >= expiresAt,
    *     with >= at exact microsecond equality.
    * The DuckDB oracle replays exactly that recursion (unrolled era CTEs;
    * day-boundary timestamps make every comparison exact integer days).
    *
    * Scale shape: staging is one filtered pass per day over a span-bounded
    * day list (driver metadata); state is |keys seen within ~2 horizons|,
    * the contract a 100 TB ingest tier sizes its state store by. */
  def streamTtlDedupEras(spark: SparkSession, dir: String, stageDirBase: String,
                         divisor: Int = 6, bucketDays: Int = 3): DataFrame = {
    // the registered oracle hardcodes horizon = span/6 at 3-day buckets and
    // unrolls exactly the era depth those knobs imply (sound because
    // fixture eras sit >= 2 horizons apart at /6) — different knobs would
    // silently diverge the gate, so refuse them rather than mis-verify
    // (r16 advice)
    require(divisor == 6 && bucketDays == 3,
      s"streamTtlDedupEras: the DuckDB oracle replays divisor=6/bucketDays=3 exactly; got $divisor/$bucketDays")
    import org.apache.spark.sql.expressions.Window
    val evDay = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("__d"))
    // ONE distinct-days scan yields the bucket anchor, the bucket list and
    // the span (span-bounded driver metadata — 30 day values at every
    // fixture SF); every derived timestamp is a UTC-midnight epoch
    // multiple, so plain millis arithmetic is exact
    val dayList = evDay.select(col("__d")).distinct().orderBy(col("__d"))
      .collect().map(_.getTimestamp(0))
    val d0 = dayList.head
    val dayMs = 86400000L
    def bucketOf(t: java.sql.Timestamp): java.sql.Timestamp =
      new java.sql.Timestamp(d0.getTime +
        dayMs * bucketDays * ((t.getTime - d0.getTime) / dayMs / bucketDays))
    val days = dayList.map(bucketOf).distinct
    val spanBuckets =
      (days.last.getTime - days.head.getTime) / dayMs / bucketDays + 1
    val horizonDays = bucketDays * math.max(1L, spanBuckets / divisor)
    // staging-only frame (never read once the stage dir exists)
    val ev = evDay.withColumn("__d0", lit(d0))
      .selectExpr("user_id",
        s"timestampadd(DAY, $bucketDays * (datediff(__d, __d0) div $bucketDays), __d0) AS ts")
    val stageDir = s"$stageDirBase/ttl_b${bucketDays}_d$divisor"
    stageBatches(stageDir, evDay, days.toSeq.map(d => ev.filter(col("ts") === d)))
    val emitted = runToResult(spark, s =>
      s.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(stageDir)
        .withWatermark("ts", s"$horizonDays days")
        .dropDuplicatesWithinWatermark("user_id"),
      // 1 state partition: per-key dedup is partitioning-invariant, and the
      // replay's cost is per-batch fixed overhead × batch count — one state
      // commit per trigger instead of four (r16 verdict item 4)
      "append", statePartitions = Some(1))
    emitted
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("era", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("day"))).cast("long"))
  }

  /** q455: LATE-DATA accounting under a biting watermark — the other half
    * of the watermark contract next to [[streamTtlDedupEras]]'s eviction
    * half. The events table replays one micro-batch per `bucketDays`-day
    * event bucket, except every `event_id % 17 == 0` row arrives
    * `delayBatches` batches after its bucket (tail batches carry the final
    * buckets' stragglers). Under a
    * 1-day watermark most delayed rows are LATE on arrival and dropped
    * before any operator sees them; the registered output is the per-day
    * delivery ledger (total / delivered / late_dropped) a production
    * ingest would alert on.
    *
    * Late-filter semantics pinned by StreamingSpec's probe (measured, like
    * the eviction half): a row in micro-batch N is dropped iff
    * `ts <= maxEventTs(batches <= N-2) - horizon` — the same lag-2
    * watermark as eviction, with the boundary row (ts == watermark) DROPPED.
    * The DuckDB oracle replays exactly that rule on a batch spine (empty
    * batches advance nothing; the running max never moves backwards).
    *
    * Scale shape: staging is one filtered pass per day; the stream itself
    * holds dedup state on unique ids inside the horizon only; the ledger
    * is |days| rows. */
  def lateDataAudit(spark: SparkSession, dir: String, stageDirBase: String,
                    delayBatches: Int = 3, horizon: String = "1 day",
                    bucketDays: Int = 3): DataFrame = {
    // bucketDays = 3 since round 17 (r16 verdict item 4): one micro-batch
    // per 3-day bucket cuts the replay's trigger count to 13; the
    // late-filter semantics are batch-relative and pinned by
    // StreamingSpec's fixtures, so only the batch spine (and with it which
    // rows land late) moves.
    val ev0 = Tables.events(spark, dir)
      .filter(col("event_id").isNotNull)
      .select(col("event_id"), col("ts"))
    // one min/max scan pins the bucket spine (UTC-midnight epoch multiples,
    // exact millis arithmetic)
    val b = ev0.agg(min(date_trunc("DAY", col("ts"))),
      max(date_trunc("DAY", col("ts")))).head
    val d0 = b.getTimestamp(0)
    val nBuckets =
      ((b.getTimestamp(1).getTime - d0.getTime) / 86400000L / bucketDays + 1).toInt
    val ev = ev0.withColumn("__d0", lit(d0))
      .withColumn("__b",
        expr(s"datediff(date_trunc('DAY', ts), __d0) div $bucketDays").cast("long"))
    val nBatches = nBuckets + delayBatches
    def slice(i: Int): DataFrame = {
      val onTime =
        if (i < nBuckets)
          ev.filter(col("__b") === i && col("event_id") % 17 =!= 0)
        else ev.filter(lit(false))
      val late =
        if (i >= delayBatches && i - delayBatches < nBuckets)
          ev.filter(col("__b") === (i - delayBatches) && col("event_id") % 17 === 0)
        else ev.filter(lit(false))
      onTime.unionByName(late).select("event_id", "ts")
    }
    val stageDir = s"$stageDirBase/late_b${bucketDays}_d$delayBatches"
    stageBatches(stageDir, ev0, (0 until nBatches).map(slice))
    // append mode + batch-side counting, measured AGAINST the in-stream
    // complete-mode ledger: a complete-mode agg after the dedup adds a
    // second stateful operator (extra shuffle + state commit every
    // trigger, 8.9 s vs 5.6 s at sf0.1) — the per-trigger state machinery,
    // not the sink rows, is the replay's cost floor
    val delivered = runToResult(spark, s =>
      s.readStream.schema("event_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(stageDir)
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark("event_id"),
      // 1 state partition, as in streamTtlDedupEras: same output, one state
      // commit per trigger
      "append", statePartitions = Some(1))
    val dTot = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("total"))
    val dDel = delivered.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("delivered"))
    dTot.join(dDel, Seq("day"), "left")
      .select(col("day"), col("total").cast("long").as("total"),
        coalesce(col("delivered"), lit(0L)).cast("long").as("delivered"),
        (col("total") - coalesce(col("delivered"), lit(0L)))
          .cast("long").as("late_dropped"))
  }

  /** q42: tumbling-window daily counts, streaming form of the dashboard's
    * hand-rolled python window loop (`Analysis Dashboard/app.py:44-59`). */
  def tumblingDailyCounts(spark: SparkSession, dir: String): DataFrame =
    runToResult(spark, s =>
      streamTable(s, dir, "events")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("bucket_start"), col("cnt")),
      "complete", statePartitions = Some(4))

  /** q40 live shape: enrich-once incremental pipeline — each micro-batch
    * anti-joins the already-enriched keys then appends (reference:
    * `Data Analysis/Reddit_4chan_Analysis.py:115-119`). */
  def incrementalEnrich(stream: DataFrame, existingKeys: DataFrame, key: String)(
      enrich: DataFrame => DataFrame): DataFrame =
    enrich(stream.join(existingKeys, Seq(key), "left_anti"))

  /** q143: stream-static enrichment — each micro-batch joins a STATIC
    * dimension (broadcast per batch, NO streaming state): the canonical
    * reference-data lookup (user tier, geo table, product catalog) in
    * Structured Streaming. The static side re-resolves per micro-batch, so
    * a dimension refreshed in place is picked up on the next trigger —
    * the semantics that distinguish this from a stream-stream join (no
    * watermarks, no state store, unmatched stream rows drop on the inner
    * join). Complete-mode agg ⇒ final result equals the batch twin. */
  def streamStaticTierCounts(spark: SparkSession, dir: String): DataFrame =
    runToResult(spark, { s =>
      val tiers = s.createDataFrame(Seq(
        (0L, "bronze"), (1L, "silver"), (2L, "gold"),
        (3L, "platinum"), (4L, "diamond"))).toDF("__t", "tier")
      streamTable(s, dir, "events")
        .withColumn("__t", pmod(col("user_id"), lit(5L)))
        .join(broadcast(tiers), "__t")
        .groupBy(col("tier")).agg(count(lit(1)).as("cnt"))
    }, "complete", statePartitions = Some(4))

  /** q75: the custom-state sessionizer ([[statefulSessions]]) under the
    * replay gate. Determinism at end-of-stream: `flatMapGroupsWithState`
    * emits a session when a LATER event closes it by gap (or an event-time
    * timeout fires in a later batch) — on a finite replay, each user's last
    * open session would depend on whether an extra timeout batch runs. So
    * the staged input appends one flush sentinel per user far past the data
    * horizon: it deterministically closes every real session on arrival, and
    * its own one-event session stays open and is never emitted. The result
    * provably equals the batch `session_window` twin (q57's oracle). */
  def statefulSessionsReplay(spark: SparkSession, dir: String, stageDir: String,
                             gapMinutes: Int = 30,
                             extraConfs: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    // the staged source is INPUT SYNTHESIS (turning the batch table into a
    // replayable stream + flush sentinels), not the operator under test —
    // staged once per JVM per input CONTENT and reused by every replay
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    Materialize.once(stageDir, ev) {
      val flush = ev.select(col("user_id")).distinct()
        .withColumn("ts", lit(flushTs(ev)))
      ev.unionByName(flush).write.parquet(stageDir)
    }
    runToResult(spark, { s =>
      val stream = s.readStream
        .schema("user_id BIGINT, ts TIMESTAMP").parquet(stageDir)
        .as[SessionEvent]
      statefulSessions(stream, gapMinutes).toDF()
    }, "append", statePartitions = Some(4), extraConfs = extraConfs)
  }

  /** q81: watermarked stream-stream self-join — each purchase attributed to
    * the same user's views in the preceding hour (the reference's
    * view-to-conversion question, asked of two live streams instead of a
    * table probe). Both sides carry event-time watermarks and the join
    * predicate carries the time bound, so view state is evicted one horizon
    * behind the purchase watermark — bounded by |views inside the horizon|,
    * the canonical Structured Streaming join shape. On the finite replay
    * (one file → one micro-batch) every match emits, so the result equals
    * the batch range-join twin. */
  def streamStreamAttribution(spark: SparkSession, dir: String): DataFrame =
    runToResult(spark, { s =>
      // ONE file source, both join branches filtered from it (a stream-stream
      // self-join): each micro-batch reads the input once, not once per side
      val events = streamTable(s, dir, "events")
      val views = events
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val purchases = events
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      purchases.join(views,
        col("p_user_id") === col("user_id") &&
          col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("purchase_ts"))
        .select(col("user_id"), col("purchase_id"), col("view_id"))
    }, "append",
      // 4 state stores per partition on a join — size to the replay volume
      statePartitions = Some(4))

  /** q114: watermarked stream-stream LEFT OUTER join — q81's attribution
    * with the unmatched purchases kept as null-extended rows. The outer side
    * emits a null row only once the watermark PROVES no match can still
    * arrive (state eviction), which on a finite replay would leave the tail
    * purchases unflushed — so the staged input appends one far-future
    * sentinel per side (user_id -1, 10 days apart so they cannot match each
    * other): processing them advances both watermarks past every real row,
    * the final no-data micro-batch evicts all join state, and every
    * unmatched purchase flushes deterministically. Sentinels filter out of
    * the result; equality with the batch LEFT JOIN twin is the oracle. */
  def streamOuterAttribution(spark: SparkSession, dir: String,
                             stageDir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    Materialize.once(stageDir, ev) {
      val sentinels = spark.createDataFrame(Seq(
        (-1L, "2025-06-01 00:00:00", -1L, "view"),
        (-2L, "2025-06-10 00:00:00", -1L, "purchase")))
        .toDF("event_id", "__ts", "user_id", "event_type")
        .select(col("event_id"), col("__ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"))
      ev.unionByName(sentinels).write.parquet(stageDir)
    }
    val result = runToResult(spark, { s =>
      val events = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
        .parquet(stageDir)
      val views = events
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val purchases = events
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      // the sentinel filter must NOT appear inside this plan: a user_id >= 0
      // predicate here is constraint-propagated below BOTH watermark nodes
      // and prunes the sentinels at the scan — the watermark then never
      // advances past the real data and the tail purchases never flush
      // (observed: exactly the last real-hour purchases went missing)
      purchases.join(views,
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("purchase_ts"),
        "left_outer")
        .select(col("user_id"), col("purchase_id"), col("view_id"))
    }, "append", statePartitions = Some(4))
    // sentinels drop on the BATCH side, after the memory sink
    result.filter(col("user_id") >= 0)
  }

  /** Flush-sentinel timestamp DERIVED from the staged input: max(ts) + 48 h,
    * comfortably past every replay's watermark (≤ 1 h) + window/gap (≤ 1 day)
    * horizon. A hard-coded far-future date silently withholds tail
    * windows/ledgers the moment regenerated testdata crosses into its
    * horizon; anchoring on the data moves the sentinel with it (the q253
    * data-anchored-split convention). One scalar driver action at STAGE time
    * only — the staged file is reused for that input content for the rest of
    * the JVM. */
  private def flushTs(ev: DataFrame, tsCol: String = "ts"): java.sql.Timestamp = {
    val mx = ev.agg(max(col(tsCol))).head.getTimestamp(0)
    require(mx != null, "flushTs: staged input has no rows / null timestamps")
    new java.sql.Timestamp(mx.getTime + 48L * 3600 * 1000)
  }

  // ---------------------------------------------------- custom state (q57 twin)

  /** q248: per-day trending items from a WATERMARKED append-mode windowed
    * aggregation — the "what's hot today" leaderboard as a stream. The
    * streamed layer is the (window, item) count (state = open windows ×
    * item domain, evicted on watermark close); the per-window top-k rank
    * runs BATCH-side on the emitted window rows (≤ |item-domain| rows per
    * window — a bounded partition, never raw events). A far-future
    * sentinel (item −1) flushes the tail windows on the finite replay and
    * is filtered batch-side (the q114 pushdown lesson). */
  def trendingReplay(spark: SparkSession, dir: String, stageDir: String,
                     topK: Int): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("ts"), col("props"))
    Materialize.once(stageDir, ev) {
      val sentinel = spark.createDataFrame(Seq((flushTs(ev), """{"k": -1}""")))
        .toDF("ts", "props")
      ev.unionByName(sentinel).write.parquet(stageDir)
    }
    val emitted = runToResult(spark, { s =>
      s.readStream.schema("ts TIMESTAMP, props STRING").parquet(stageDir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("k"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("day_start"), col("k"), col("cnt"))
    }, "append", statePartitions = Some(4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day_start")).orderBy(col("cnt").desc, col("k"))
    emitted.filter(col("k") >= 0)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
  }

  case class QuotaState(count: Long)
  case class HourQuota(user_id: Long, hour_start: java.sql.Timestamp,
                       n_events: Long, n_accepted: Long, n_dropped: Long)

  /** Custom-state per-key rate limiting: count each user's events per
    * event-time hour, admit at most `maxPerHour`, and emit the hour's
    * (total, accepted, dropped) ledger exactly once — when the watermark
    * proves the hour closed (EventTimeTimeout). The ingestion-quota
    * primitive (API fairness, abuse throttling, per-source crawl budgets)
    * as a stream: state is ONE counter per open (user, hour) key, evicted
    * on emit, so memory is bounded by keys inside the watermark horizon —
    * never by history. Counting (not per-event admit/reject emission)
    * keeps the result independent of intra-hour arrival order, which is
    * what makes the replay equal the batch least(n, quota) twin.
    */
  def quotaByHour(events: org.apache.spark.sql.Dataset[SessionEvent],
                  maxPerHour: Int): org.apache.spark.sql.Dataset[HourQuota] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val hourMicros = 3600L * 1000000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(e => (e.user_id, micros(e.ts) / hourMicros))
      .flatMapGroupsWithState[QuotaState, HourQuota](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, hourIdx), evs, state: GroupState[QuotaState]) =>
          if (state.hasTimedOut) {
            val n = state.get.count
            state.remove()
            val acc = math.min(n, maxPerHour.toLong)
            Iterator(HourQuota(user,
              new java.sql.Timestamp(hourIdx * 3600L * 1000L), n, acc, n - acc))
          } else {
            val c = state.getOption.map(_.count).getOrElse(0L) + evs.size
            state.update(QuotaState(c))
            // fire once the watermark passes the END of this hour (ms)
            state.setTimeoutTimestamp((hourIdx + 1) * 3600L * 1000L)
            Iterator.empty
          }
      }
  }

  /** q243: [[quotaByHour]] under the replay gate. One far-future sentinel
    * (user −1) advances the GLOBAL watermark past every real hour, so each
    * real (user, hour) ledger times out and emits deterministically; the
    * sentinel's own key stays open and never emits, and is filtered on the
    * batch side (inside the streaming plan the predicate would be pushed
    * below the watermark node and prune the sentinel at the scan — the
    * q114 lesson). */
  def quotaReplay(spark: SparkSession, dir: String, stageDir: String,
                  maxPerHour: Int): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    Materialize.once(stageDir, ev) {
      val sentinel = spark.createDataFrame(Seq((-1L, flushTs(ev))))
        .toDF("user_id", "ts")
      ev.unionByName(sentinel).write.parquet(stageDir)
    }
    runToResult(spark, { s =>
      val stream = s.readStream
        .schema("user_id BIGINT, ts TIMESTAMP").parquet(stageDir)
        .as[SessionEvent]
      quotaByHour(stream, maxPerHour).toDF()
    }, "append", statePartitions = Some(4))
      .filter(col("user_id") >= 0)
  }

  /** STREAMING near-dup ingest gate — the production crawler composition:
    * each arriving micro-batch is banded ONCE ([[graft.ops.Dedup
    * .bandedSignatures]]), probed against the accumulated signature index
    * of everything seen so far (kept AND removed — a removed doc's
    * near-dups must still be caught), deduped within the batch, and only
    * survivors land; the batch's signatures then extend the index.
    * Because the staged batches arrive in ascending-id order, the
    * survivor set provably equals the batch twin "docs that are id_b of
    * NO whole-corpus near-dup pair" (any partner with a smaller id is
    * either already in the index or in the same batch) — and it is
    * batching-INVARIANT: merging adjacent batches only moves pairs
    * between the probe join and the within-batch join, never changes the
    * verdict, so the oracle needs no batch-boundary knowledge.
    *
    * Scale shape: per batch one banding pass, one (band, band_hash)-keyed
    * probe join against the parquet index, one within-batch banded
    * self-join, one anti-join — history is only ever touched through the
    * band-key equi-join, and the index holds (id, sig, band, band_hash)
    * rows, never document text. Index + survivors live in PARQUET
    * (restart-safe), not executor memory.
    *
    * Output: (doc_id, batch_id = id div span) for survivors. */
  def nearDupGateReplay(spark: SparkSession, dir: String, stageDir: String,
                        batches: Int = 4, shingleK: Int = 2,
                        numHashes: Int = 16, bands: Int = 8,
                        threshold: Double = 0.25): DataFrame = {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val span = stageIdSpans(stageDir, docs, "doc_id", batches)
    // the replay's fresh work dir holds the index/survivor accumulation —
    // the query's STATE, which must start empty
    foreachBatchReplay(spark, stageDir, docs.schema) { (batch, work) =>
      val idxDir = s"$work/index"
      // IDEMPOTENT writes under at-least-once foreachBatch: every output
      // lands in a batch-keyed subdirectory with overwrite semantics, so
      // a micro-batch replayed after a partial write REWRITES its own
      // slice instead of appending duplicate survivor/index rows. The
      // key derives from the DATA (min id div span), not Spark's batchId,
      // so it is stable across checkpoint resets too.
      // one action decides both emptiness and the batch key: min is NULL
      // iff the batch is empty
      val __m = batch.agg(min(expr(s"doc_id div $span"))).head
      if (!__m.isNullAt(0)) {
        val bid = __m.getLong(0)
        val tag = f"b$bid%03d"
        val banded = Dedup.bandedSignatures(batch, "doc_id", "text",
          shingleK, numHashes, bands)
        val inner = Dedup.nearDupPairsBanded(banded, "doc_id", numHashes, threshold)
          .select(col("id_b").as("doc_id"))
        // probe ONLY strictly-earlier batches' index slices: a replayed
        // batch whose own index write survived the crash must not probe
        // against itself (every doc would self-match and be dropped)
        val prior = Option(new java.io.File(idxDir).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName < tag)
          .map(_.getPath).sorted
        // slices stay FLAT: a batch probe's key set covers every hash
        // bucket of a bucketed layout, so bucketing buys no pruning and
        // was measured 7× slower per probe (64-dir discovery per slice).
        val cross =
          if (prior.nonEmpty)
            Dedup.probeNearDupBanded(batch.sparkSession.read.parquet(prior: _*),
              banded, "doc_id", numHashes, threshold)
              .select(col("new_id").as("doc_id"))
          else batch.sparkSession.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
        val removed = inner.unionByName(cross).distinct()
        batch.select(col("doc_id"))
          .join(removed, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$work/survivors/$tag")
        banded.write.mode("overwrite").parquet(s"$idxDir/$tag")
      }
    } { work =>
      spark.read.parquet(s"$work/survivors/b*")
        .select(col("doc_id"), expr(s"doc_id div $span").cast("long").as("batch_id"))
    }
  }

  /** STREAMING vector-store ingest — the IVF index write path run over
    * ARRIVING embeddings: micro-batches of vectors arrive in ascending-id
    * order, each batch is assigned to its coarse cell against the PINNED
    * quantizer (a broadcast parameter table — ingest never retrains), and
    * the assignments append to the cell-keyed index as idempotent
    * batch-keyed parquet slices ([[nearDupGateReplay]]'s discipline: the
    * slice key derives from the DATA — min id div span — so an
    * at-least-once replay rewrites its own slice; overwrite semantics).
    * Returns the occupancy audit of the ACCUMULATED index (q283's table),
    * which the gate proves ≡ the batch assignment of the whole corpus —
    * the exactly-once statement for streaming index ingest.
    *
    * Scale shape: per batch ONE broadcast-centroid scoring pass — O(batch)
    * regardless of accumulated index size (ingest never reads the index,
    * unlike the near-dup probe); the index lives in parquet, never
    * executor memory, and compaction is [[graft.storage.Storage]]'s story. */
  def vectorIngestReplay(spark: SparkSession, dir: String, stageDir: String,
                         batches: Int = 4): DataFrame = {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val span = stageIdSpans(stageDir, emb, "vec_id", batches)
    val cent = emb.filter(col("vec_id") < 16)
    foreachBatchReplay(spark, stageDir, emb.schema) { (batch, work) =>
      // one action decides both emptiness and the data-derived batch key
      val __m = batch.agg(min(expr(s"vec_id div $span"))).head
      if (!__m.isNullAt(0)) {
        val tag = f"b${__m.getLong(0)}%03d"
        Similarity.ivfAssign(batch, cent, "vec_id", "embedding")
          .select(col("cell"), col("vec_id"))
          .write.mode("overwrite").parquet(s"$work/index/$tag")
      }
    } { work =>
      val asg = spark.read.parquet(s"$work/index/b*")
      val total = asg.agg(count(lit(1)).as("__n"))
      asg.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(total))
        .select(col("cell").cast("long").as("cell"),
          col("n_vecs").cast("long").as("n_vecs"),
          expr("(10000 * n_vecs) div __n").cast("long").as("share_bp"),
          expr("(1000 * n_vecs * 16) div __n").cast("long").as("load_milli"))
    }
  }

  /** STREAMING changelog apply — q317's ordered I/U/D apply run as a
    * CONTINUOUS MERGE (the CDC-consumer shape every lakehouse sink runs):
    * the base snapshot and three op slices arrive as seq-ordered
    * micro-batches, and each batch MERGES onto the previous state snapshot
    * (merge-on-write): anti-join the batch's keys out of the prior state,
    * union the batch's non-delete rows in. State snapshots land in parquet
    * keyed by the DATA-derived batch id (min seq — stable across
    * checkpoint resets), so an at-least-once replay rewrites its own
    * snapshot from its own predecessor instead of corrupting the chain,
    * and the FINAL snapshot must equal the one-shot batch fold of the full
    * log — the gate reuses q317's oracle SQL verbatim, which IS the
    * incremental ≡ batch proof.
    *
    * Scale shape: per batch one key-keyed anti join + union write —
    * O(state) I/O per batch, the intrinsic lakehouse MERGE cost; state
    * lives in parquet between batches, never in executor memory.
    */
  def cdcApplyReplay(spark: SparkSession, dir: String,
                     stageDir: String): DataFrame = {
    val base = Tables.customer(spark, dir).select(col("c_custkey"),
      graft.ops.Num.roundz(col("c_acctbal") * 100, 0).cast("long").as("cents"),
      col("c_mktsegment").as("segment"))
    val slices: Seq[DataFrame] = Seq(
      base.select(col("c_custkey"), lit(0L).as("seq"), lit("I").as("op"),
        col("cents"), col("segment")),
      base.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit(1L).as("seq"), lit("U").as("op"),
          (col("cents") + 1000L).as("cents"), col("segment")),
      base.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit(2L).as("seq"), lit("D").as("op"),
          col("cents"), col("segment")),
      base.filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey"), lit(3L).as("seq"), lit("I").as("op"),
          lit(555L).as("cents"), lit("WINBACK").as("segment")))
    stageBatches(stageDir, base, slices)
    def snapshots(stateDir: String): Seq[String] =
      Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("s")).map(_.getName)
    foreachBatchReplay(spark, stageDir, slices.head.schema) { (batch, work) =>
      // one action decides both emptiness and the data-derived batch key
      val __m = batch.agg(min(col("seq"))).head
      if (!__m.isNullAt(0)) {
        val k = __m.getLong(0)
        val stateDir = s"$work/state"
        // predecessor = the largest committed snapshot strictly below k —
        // a replayed batch rebuilds from ITS OWN prior, idempotently
        val prevTag = snapshots(stateDir).map(_.stripPrefix("s").toLong)
          .filter(_ < k).sorted.lastOption
        val resolved = batch
          .groupBy(col("c_custkey"))
          .agg(max(struct(col("seq"), col("op"), col("cents"), col("segment"))).as("l"))
          .select(col("c_custkey"), col("l.op").as("op"),
            col("l.cents").as("cents"), col("l.segment").as("segment"))
        val prev = prevTag match {
          case Some(t) => batch.sparkSession.read.parquet(f"$stateDir/s$t%03d")
          case None => resolved.filter(lit(false))
            .select(col("c_custkey"), col("cents"), col("segment"))
        }
        prev.join(resolved.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
          .unionByName(resolved.filter(col("op") =!= "D")
            .select(col("c_custkey"), col("cents"), col("segment")))
          .write.mode("overwrite").parquet(f"$stateDir/s$k%03d")
      }
    } { work =>
      val last = snapshots(s"$work/state").sorted.last
      spark.read.parquet(s"$work/state/$last").orderBy("c_custkey")
    }
  }

  /** STREAMING drift monitor — q158's PSI freshness gate run as a monitor
    * over ARRIVING data (the ML-ops shape: every ingest batch is scored
    * against a pinned reference before it may join the training corpus):
    * micro-batches arrive in ascending-event_id order, the FIRST batch's
    * value histogram is persisted as the reference snapshot, and every
    * later batch emits one (batch_id, n_ref, n_batch, psi) row through
    * [[graft.ops.Stats.psiDrift]] — the identical smoothed-term formula
    * and bin-ordered fold the batch gate uses, so the replay is
    * bit-comparable to a pure-SQL oracle. batch_id derives from the id
    * span (id div ceil((max+1)/batches)), so the oracle reproduces batch
    * boundaries arithmetically, with no knowledge of the stream.
    *
    * Scale shape: per batch ONE histogram aggregate (map-side combined)
    * joined against the bins-sized reference metadata — the monitor costs
    * O(batch) regardless of history; reference + emitted rows live in
    * parquet, never executor memory. */
  def psiReplay(spark: SparkSession, dir: String, stageDir: String,
                batches: Int = 4): DataFrame = {
    import graft.ops.Stats
    val ev = Tables.events(spark, dir).select(col("event_id"), col("value"))
    val span = stageIdSpans(stageDir, ev, "event_id", batches)
    foreachBatchReplay(spark, stageDir, ev.schema) { (batch, work) =>
      // IDEMPOTENT under at-least-once foreachBatch: the batch's role
      // (reference snapshot vs monitored batch) is decided on the DATA
      // (min id div span), not on the reference's existence — a replayed
      // first batch with a partial reference on disk must rewrite it, not
      // be misread as batch 1 and scored against its own partial self. All
      // writes are overwrite into batch-keyed targets, so a replay
      // rewrites its own slice instead of appending a duplicate PSI row.
      val __m = batch.agg(min(expr(s"event_id div $span"))).head
      if (!__m.isNullAt(0)) {
        val cents = batch.select(col("event_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
        val bId = __m.getLong(0)
        val refDir = s"$work/reference"
        if (bId == 0L) {
          cents.select(col("cents")).write.mode("overwrite").parquet(refDir)
        } else {
          val ref = batch.sparkSession.read.parquet(refDir).withColumn("__p", lit("a"))
          val cur = cents.select(col("cents")).withColumn("__p", lit("b"))
          Stats.psiDrift(ref.unionByName(cur).withColumn("__g", lit(0L)),
              "__g", "cents", "__p")
            .select(lit(bId).as("batch_id"), col("n_a"), col("n_b"), col("psi"))
            .write.mode("overwrite").parquet(f"$work/out/b$bId%03d")
        }
      }
    }(work => spark.read.parquet(s"$work/out/b*"))
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(startMicros: Long, endMicros: Long, events: Long)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, events: Long)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * explicit-state twin of the built-in `session_window` (q57), for
    * semantics the built-in can't carry (per-session custom payloads,
    * emit-on-close side effects, cross-session counters).
    *
    * State per user = the single open session (start, end, count). An event
    * within `gapMinutes` of the open session extends it; a later event closes
    * and EMITS it and opens a new one. The open session is emitted when the
    * event-time watermark passes `end + gap` (EventTimeTimeout), so state is
    * bounded by |active users| and every session is emitted exactly once.
    * Batch-order caveat: events are processed sorted within each batch;
    * cross-batch reordering inside the watermark horizon is handled by the
    * watermark delay (late rows beyond it are dropped, same as q39).
    */
  def statefulSessions(events: org.apache.spark.sql.Dataset[SessionEvent],
                       gapMinutes: Int): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMicros = gapMinutes * 60L * 1000000L
    // full microsecond precision (getTime alone floors to millis, which
    // would move session boundaries relative to the micro-precision q57 twin)
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    def ts(m: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(m / 1000L)
      t.setNanos(((m % 1000000L) * 1000L).toInt)
      t
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(user, ts(s.startMicros), ts(s.endMicros), s.events))
          } else {
            val sorted = evs.map(e => micros(e.ts)).toArray.sorted
            var open = state.getOption
            val closed = scala.collection.mutable.ListBuffer.empty[ClosedSession]
            sorted.foreach { m =>
              open match {
                // <= : session_window merges a window that starts exactly at
                // the previous session's end (boundary-inclusive) — the
                // custom-state replay must break on the SAME boundary
                case Some(s) if m - s.endMicros <= gapMicros =>
                  // an in-horizon out-of-order event may precede the open
                  // session's start — the interval must absorb it on BOTH ends
                  open = Some(s.copy(
                    startMicros = math.min(s.startMicros, m),
                    endMicros = math.max(s.endMicros, m),
                    events = s.events + 1))
                case Some(s) =>
                  closed += ClosedSession(user, ts(s.startMicros), ts(s.endMicros), s.events)
                  open = Some(SessionState(m, m, 1))
                case None =>
                  open = Some(SessionState(m, m, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // fire once the watermark proves no extension can arrive
              state.setTimeoutTimestamp(s.endMicros / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.iterator
          }
      }
  }
}
