package graft

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Dedup
import graft.storage.Materialize
import graft.stream.Streaming

/** The build-once guard and the per-JVM scratch root: the guard keys on
  * input CONTENT, not path (a long-lived JVM that rewrites an input in place
  * gets a fresh derivation on next touch), never serves a crashed build's
  * partial output, and builds once under concurrent first touches; each JVM
  * writes under its own root and sweeps the roots of dead runs. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("once() refreshes when the input is rewritten in place within one JVM") {
    val base = tmpDir("graft_mat")
    val in = s"$base/docs"
    val idx = s"$base/idx"

    Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "totally different words here now"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val (_, comp1) = Dedup.componentIndex(spark.read.parquet(in), "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25, indexDir = idx)
    val ids1 = comp1.select("node").as[Long].collect().toSet
    assert(ids1 == Set(1L, 2L)) // doc 3 has no near-dup pair, so no component row

    // rewrite the SAME path with different content (one more doc)
    Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "totally different words here now"),
      (4L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val (_, comp2) = Dedup.componentIndex(spark.read.parquet(in), "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25, indexDir = idx)
    val ids2 = comp2.select("node").as[Long].collect().toSet
    assert(ids2 == Set(1L, 2L, 4L),
      s"stale artifact served after in-place input rewrite: $ids2")
  }

  test("a build that throws leaves no partial output; the next touch rebuilds only its own rows") {
    val base = tmpDir("graft_mat_crash")
    Seq(1L).toDF("id").write.parquet(s"$base/in")
    val input = spark.read.parquet(s"$base/in")
    val dir = s"$base/idx"
    // a leftover from a run that died mid-build is cleared before building
    Seq(99L).toDF("id").write.parquet(dir)
    intercept[IllegalStateException] {
      Materialize.once(dir, input) {
        Seq(1L, 2L).toDF("id").write.mode("append").parquet(dir)
        throw new IllegalStateException("crash after a partial write")
      }
    }
    assert(!new File(dir).exists(), "the failed build's output must be removed")
    val builds = new AtomicInteger
    def touch(): Unit = Materialize.once(dir, input) {
      builds.incrementAndGet()
      Seq(7L).toDF("id").write.mode("append").parquet(dir)
    }
    touch(); touch()
    assert(builds.get == 1)
    assert(spark.read.parquet(dir).as[Long].collect().toSeq == Seq(7L))
  }

  test("inputs alternating on one dir always read their own build") {
    val base = tmpDir("graft_mat_alt")
    Seq(1L).toDF("id").write.parquet(s"$base/a")
    Seq(2L).toDF("id").write.parquet(s"$base/b")
    val dir = s"$base/idx"
    def touch(in: String): Seq[Long] = {
      val input = spark.read.parquet(in)
      Materialize.once(dir, input)(input.write.parquet(dir))
      spark.read.parquet(dir).as[Long].collect().toSeq
    }
    assert(touch(s"$base/a") == Seq(1L))
    assert(touch(s"$base/b") == Seq(2L))
    assert(touch(s"$base/a") == Seq(1L), "served the other input's build")
  }

  test("two sessions first-touching one index on two threads build it once") {
    val base = tmpDir("graft_mat_race")
    Seq(1L, 2L).toDF("id").write.parquet(s"$base/in")
    val dir = s"$base/idx"
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq.fill(2)(spark.newSession()).map { s =>
      new Thread(() => try {
        start.await()
        val input = s.read.parquet(s"$base/in")
        Materialize.once(dir, input) {
          builds.incrementAndGet()
          Thread.sleep(300) // hold the build open while the other thread arrives
          input.write.parquet(dir)
        }
        counts.add(s.read.parquet(dir).count())
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(TimeUnit.MINUTES.toMillis(2)))
    assert(errors.isEmpty, errors.toString)
    assert(builds.get == 1, s"built ${builds.get} times")
    assert(counts.toArray.toSeq == Seq(2L, 2L))
  }

  test("scratch roots are per PID, and a dead run's root is swept") {
    val base = new File(tmpDir("graft_mat_roots"))
    val deadPid = {
      val p = new ProcessBuilder("true").start()
      p.waitFor()
      p.pid()
    }
    val stale = new File(base, s"run-$deadPid/dedup_index")
    stale.mkdirs()
    val sleeper = new ProcessBuilder("sleep", "60").start()
    try {
      val liveOther = new File(base, s"run-${sleeper.pid()}")
      liveOther.mkdirs()
      val me = ProcessHandle.current().pid()
      val mine = Materialize.runRoot(base, me)
      assert(mine == new File(base, s"run-$me") && mine.isDirectory)
      assert(!stale.getParentFile.exists(), "a dead run's root must be swept")
      assert(liveOther.exists(), "a live run's root must be kept")
      val theirs = Materialize.runRoot(base, sleeper.pid())
      assert(theirs != mine && mine.exists())
    } finally sleeper.destroy()
    // this JVM's scratch paths live under its own root, one sanitized
    // segment per input dir that Spark does not treat as hidden
    val p = Materialize.scratch("idx/k2", "/data/sf0.01")
    assert(p.endsWith(s"target/qtmp/run-${ProcessHandle.current().pid()}/idx/k2/data_sf0.01"), p)
  }

  test("a rewritten events table re-stages a replay input") {
    val base = tmpDir("graft_mat_restage")
    val dir = s"$base/data"
    val stage = s"$base/stage"
    def at(s: String) = Timestamp.valueOf(s)
    def replay() = Streaming.quotaReplay(spark, dir, stage, maxPerHour = 1)
      .as[(Long, Timestamp, Long, Long, Long)].collect().toSeq
    Seq((1L, at("2026-03-01 10:00:00")), (1L, at("2026-03-01 10:10:00")))
      .toDF("user_id", "ts").write.parquet(s"$dir/events.parquet")
    assert(replay() == Seq((1L, at("2026-03-01 10:00:00"), 2L, 1L, 1L)))
    // regenerate the table under the SAME path: the stage must follow
    Seq((2L, at("2026-03-02 08:00:00")), (2L, at("2026-03-02 08:05:00")),
      (2L, at("2026-03-02 08:10:00")))
      .toDF("user_id", "ts").write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(replay() == Seq((2L, at("2026-03-02 08:00:00"), 3L, 1L, 2L)),
      "a stale stage was replayed after the input was rewritten")
  }
}
