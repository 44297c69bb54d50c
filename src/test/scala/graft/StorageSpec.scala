package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.storage.Storage

class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def comments = Seq(
    ("reddit", "a", Timestamp.valueOf("2024-01-01 10:00:00")),
    ("reddit", "b", Timestamp.valueOf("2024-01-02 10:00:00")),
    ("4chan", "c", Timestamp.valueOf("2024-01-01 11:00:00")),
    ("youtube", "d", Timestamp.valueOf("2024-01-02 12:00:00"))
  ).toDF("platform", "comment_id", "created_ts")

  test("partitioned store prunes partitions at scan time") {
    val path = s"${tmpDir("store_part")}/t"
    Storage.writePartitionedByDay(comments, "created_ts", path)
    val scan = spark.read.parquet(path)
      .filter(col("platform") === "reddit" && col("day") === "2024-01-02")
    assert(scan.count() == 1)
    val plan = finalPlan(scan)
    // both predicates land in PartitionFilters, none in the data filter
    assert(plan.contains("PartitionFilters") && plan.contains("platform"), plan)
    assert(!plan.contains("PushedFilters: [IsNotNull(platform)"), plan)
  }

  test("bucketed tables join without an exchange") {
    val left = (1L to 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 1000L).map(i => (i, s"r$i")).toDF("k", "rv")
    Storage.writeBucketed(left, "bkt_left", "k", 4)
    Storage.writeBucketed(right, "bkt_right", "k", 4)
    // force the non-broadcast path: co-location matters for fact-fact joins,
    // where neither side fits in a broadcast anyway
    withSQLConf(broadcastOff) {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() == 1000)
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), plan)
    }
  }

  test("compact rewrites many small files into few") {
    val path = s"${tmpDir("store_compact")}/t"
    (1 to 500).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(20).write.mode("overwrite").parquet(path)
    def parquetFiles = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 20)
    Storage.compact(spark, path, targetFileMB = 256)
    assert(parquetFiles == 1)
    assert(spark.read.parquet(path).count() == 500)
  }

  test("JDBC sink round-trips against embedded Derby (reference Postgres parity)") {
    val db = tmpDir("graft_derby") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    Storage.writeJdbc(Seq((1L, "a"), (2L, "b")).toDF("id", "body"), url, "comments",
      org.apache.spark.sql.SaveMode.Overwrite)
    Storage.writeJdbc(Seq((3L, "c")).toDF("id", "body"), url, "comments") // append mode
    val back = Storage.readJdbc(spark, url, "comments")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(back == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streaming JDBC sink: checkpointed foreachBatch appends only new files") {
    val base = tmpDir("graft_jdbc_stream")
    val src = s"$base/src"; val chk = s"$base/chk"
    val url = s"jdbc:derby:$base/db;create=true"
    new java.io.File(src).mkdirs()
    def addInput(name: String, ids: Seq[Long]): Unit = {
      val stage = s"$base/stage_$name"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    def runOnce(): Unit =
      Storage.jdbcStreamSink(spark.readStream.schema("id LONG").parquet(src),
        url, "stream_sink", chk).awaitTermination()
    def sinkIds() = Storage.readJdbc(spark, url, "stream_sink")
      .select("id").as[Long].collect().sorted.toSeq

    addInput("b1", 1L to 4L)
    runOnce()
    assert(sinkIds() == (1L to 4L))
    addInput("b2", 5L to 8L)
    runOnce() // restart from checkpoint: only the new file lands in the table
    assert(sinkIds() == (1L to 8L), "restart lost or duplicated rows")
  }

  test("saltedCount equals plain count under heavy key skew") {
    val skewed = (Seq.fill(5000)("hot") ++ Seq.fill(10)("cold")).toDF("k")
    val salted = Relational.saltedCount(skewed, "k", 8)
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(salted == Seq(("cold", 10L), ("hot", 5000L)))
  }

  test("salting bounds the hot-key reducer on a 3-value platform key (sf0.1)") {
    // the reference's real key shape: 3 platforms, one dominating — at 100 TB
    // an unsalted shuffle join sends ~all rows to ONE reducer
    val events = Tables.events(spark, "/root/testdata/sf0.1").select("event_id")
      .withColumn("platform",
        when(pmod(col("event_id"), lit(100)) < 96, "reddit")
          .when(pmod(col("event_id"), lit(100)) < 98, "youtube")
          .otherwise(lit("4chan")))
    val total = events.count()
    val hot = events.filter(col("platform") === "reddit").count()
    assert(hot > total * 8 / 10, s"skew setup broken: hot=$hot total=$total")

    // measure exactly the exchange a shuffle join performs: rows per reducer
    // under hash partitioning on the join key, with and without the salt
    def maxReducerRows(df: org.apache.spark.sql.DataFrame,
                       keys: org.apache.spark.sql.Column*): Long =
      df.repartition(32, keys: _*)
        .groupBy(spark_partition_id().as("p")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).as[Long].head()

    val unsaltedMax = maxReducerRows(events, col("platform"))
    val salted = events.withColumn("__salt",
      pmod(hash(col("platform"), spark_partition_id(), monotonically_increasing_id()), lit(8)))
    val saltedMax = maxReducerRows(salted, col("platform"), col("__salt"))
    assert(unsaltedMax >= hot, "unsalted: one reducer should own the whole hot key")
    assert(saltedMax < hot / 4,
      s"salted reducer not bounded: max=$saltedMax hot=$hot (expected ~hot/8)")

    // equivalence + plan in the no-broadcast regime (bucketed/stream-static
    // joins — the case AQE skew handling can't reach)
    val dims = Seq(("reddit", 1), ("youtube", 2), ("4chan", 3)).toDF("platform", "dim_id")
    withSQLConf(broadcastOff) {
      val agg = Relational.saltedJoin(events, dims, "platform", 8)
        .groupBy("platform").agg(count(lit(1)).as("n"))
      val counts = agg.as[(String, Long)].collect().toMap
      assert(counts("reddit") == hot && counts.values.sum == total)
      val plan = agg.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("__salt"), s"join key does not carry the salt:\n$plan")
    }
  }

  test("z-order layout bounds BOTH dimensions' per-file spans; linear sort only one") {
    import graft.functions.ZOrder
    // 64×64 grid, one row per cell — every layout writes the same rows
    val grid = spark.range(4096)
      .select((col("id") % 64).as("xb"), expr("id div 64").as("yb"))
      .withColumn("zval", ZOrder(col("xb"), col("yb")))
    def spans(path: String): Seq[(Long, Long)] = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col("xb")) - min(col("xb"))).as("xs"),
          (max(col("yb")) - min(col("yb"))).as("ys"))
      perFile.select("xs", "ys").as[(Long, Long)].collect().toSeq
    }
    val base = tmpDir("zorder_layout")
    val zDir = s"$base/zorder"
    val linDir = s"$base/linear"
    grid.repartitionByRange(16, col("zval")).sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(zDir)
    grid.repartitionByRange(16, col("xb"), col("yb"))
      .sortWithinPartitions(col("xb"), col("yb"))
      .write.mode("overwrite").parquet(linDir)
    val z = spans(zDir)
    val lin = spans(linDir)
    def avg(v: Seq[Long]): Double = v.sum.toDouble / v.size
    // 16 z-range files ≈ 16 quadrant cells: both spans collapse to ~16 of 64.
    // The linear layout pins x tightly but every file spans (almost) all of y
    // — a y-only predicate prunes nothing there.
    assert(avg(z.map(_._1)) < 24 && avg(z.map(_._2)) < 24,
      s"z-order spans too wide: $z")
    assert(avg(lin.map(_._2)) > 48, s"expected linear layout to span y: $lin")
    assert(avg(z.map(_._2)) < avg(lin.map(_._2)) / 2)
  }

  test("saltedJoin equals plain join under heavy key skew") {
    val big = (Seq.fill(3000)(1L) ++ (2L to 50L)).toDF("k")
    val small = Seq((1L, "one"), (2L, "two"), (99L, "none")).toDF("k", "name")
    val plain = big.join(small, "k").groupBy("name").count()
      .as[(String, Long)].collect().toMap
    val salted = Relational.saltedJoin(big, small, "k", 8).groupBy("name").count()
      .as[(String, Long)].collect().toMap
    assert(salted == plain && plain("one") == 3000L)
  }

  test("compactPartitioned collapses each partition dir to one file, rows intact") {
    val path = s"${tmpDir("test_compact")}/t"
    val df = (1L to 400L).map(i => (i, s"d${i % 4}")).toDF("id", "day")
    df.repartition(8).write.mode("overwrite").partitionBy("day").parquet(path)
    def filesPerDay: Map[String, Int] = {
      val root = new java.io.File(path)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    }
    assert(filesPerDay.values.forall(_ > 1), s"fixture not fragmented: $filesPerDay")
    Storage.compactPartitioned(spark, path, "day")
    assert(filesPerDay.values.forall(_ == 1), s"not compacted: $filesPerDay")
    val back = spark.read.parquet(path).select("id").as[Long].collect().sorted.toSeq
    assert(back == (1L to 400L).toSeq)
  }

  test("manifestPrunedRange opens only overlapping files, result = full filter") {
    val path = s"${tmpDir("test_manifest")}/t"
    // 8 range files over a sorted key: a [250, 500) scan overlaps ~2 of them
    (0L until 1000L).toDF("v")
      .repartitionByRange(8, col("v")).sortWithinPartitions("v")
      .write.mode("overwrite").parquet(path)
    val (pruned, selected, total) =
      Storage.manifestPrunedRange(spark, path, "v", 250L, 500L)
    assert(total == 8 && selected < total,
      s"manifest must prune: selected=$selected total=$total")
    val got = pruned.select("v").as[Long].collect().sorted.toSeq
    assert(got == (250L until 500L).toSeq)
  }

  test("manifestPrunedRange skips a file whose stat column is entirely NULL") {
    val path = s"${tmpDir("test_manifest_null")}/t"
    (0L until 50L).map(Some(_)).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(path)
    Seq.fill(10)(Option.empty[Long]).toDF("v").coalesce(1)
      .write.mode("append").parquet(path)
    val (pruned, selected, total) =
      Storage.manifestPrunedRange(spark, path, "v", 10L, 20L)
    assert(total == 2 && selected == 1, s"sel=$selected tot=$total")
    assert(pruned.select("v").as[Long].collect().sorted.toSeq == (10L until 20L).toSeq)
  }

  test("manifestPrunedRange with no overlapping file returns empty, keeps schema") {
    val path = s"${tmpDir("test_manifest_empty")}/t"
    (0L until 100L).toDF("v")
      .repartitionByRange(4, col("v")).sortWithinPartitions("v")
      .write.mode("overwrite").parquet(path)
    val (pruned, selected, total) =
      Storage.manifestPrunedRange(spark, path, "v", 5000L, 6000L)
    assert(selected == 0 && total == 4)
    assert(pruned.columns.toSeq == Seq("v") && pruned.count() == 0)
  }

  test("snapshot log: v1 read is isolated from a later append; v2 sees all") {
    val base = tmpDir("snapshot")
    val path = s"$base/t"
    val log = s"$base/log"
    (0L until 40L).toDF("v").coalesce(2).write.mode("overwrite").parquet(path)
    Storage.commitSnapshot(spark, path, log, 1L, reset = true)
    (40L until 60L).toDF("v").coalesce(1).write.mode("append").parquet(path)
    Storage.commitSnapshot(spark, path, log, 2L)
    val v1 = Storage.readSnapshot(spark, path, log, 1L).as[Long].collect().sorted
    val v2 = Storage.readSnapshot(spark, path, log, 2L).as[Long].collect().sorted
    assert(v1.toSeq == (0L until 40L), s"v1 leaked appended rows: ${v1.length}")
    assert(v2.toSeq == (0L until 60L))
    // unknown version: empty but schema-true
    val v9 = Storage.readSnapshot(spark, path, log, 9L)
    assert(v9.columns.toSeq == Seq("v") && v9.count() == 0)
    // the v1→v2 increment is exactly the appended rows; v1→v1 is empty
    val diff = Storage.readSnapshotDiff(spark, path, log, 1L, 2L)
      .as[Long].collect().sorted
    assert(diff.toSeq == (40L until 60L))
    assert(Storage.readSnapshotDiff(spark, path, log, 1L, 1L).count() == 0)
  }

  test("vacuum reclaims exactly the unreferenced generation; retained snapshots read intact") {
    val base = tmpDir("vacuum")
    val path = s"$base/t"
    val log = s"$base/log"
    (0L until 40L).toDF("v").coalesce(2).write.mode("overwrite").parquet(path)
    Storage.commitSnapshot(spark, path, log, 1L, reset = true)
    (40L until 60L).toDF("v").coalesce(1).write.mode("append").parquet(path)
    Storage.commitSnapshot(spark, path, log, 2L)
    // OPTIMIZE rewrite: new compacted files APPEND; v2's files stay on disk
    Storage.readSnapshot(spark, path, log, 2L)
      .coalesce(1).write.mode("append").parquet(path)
    Storage.commitRewrite(spark, path, log, 3L, replacing = 2L)
    // before vacuum: a naive dir read double-counts (old + rewritten)
    assert(spark.read.parquet(path).count() == 120L)
    // retention at v2 deletes nothing: v1's files are all referenced by v2
    assert(Storage.vacuumPlan(spark, log, 2L).count() == 0)
    // retention at v3 reclaims exactly the pre-rewrite generation (3 files)
    val deleted = Storage.vacuum(spark, log, 3L)
    assert(deleted == 3L, s"expected the 3 v1/v2 data files reclaimed, got $deleted")
    // the retained snapshot is untouched; the dir now reads as v3 alone
    val v3 = Storage.readSnapshot(spark, path, log, 3L).as[Long].collect().sorted
    assert(v3.toSeq == (0L until 60L))
    assert(spark.read.parquet(path).count() == 60L)
    // idempotent: a second vacuum finds nothing left to delete
    assert(Storage.vacuum(spark, log, 3L) == 0L)
  }
}
