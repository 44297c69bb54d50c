package graft

import graft.sources.PagedIngest

class PagedIngestSpec extends SparkSpec {
  import spark.implicits._

  private def fakeClient = new PagedIngest.PageClient[(Long, String)] {
    val pages: Map[Option[String], (Seq[(Long, String)], Option[String])] = Map(
      None -> (Seq((1L, "a"), (2L, "b")), Some("c1")),
      Some("c1") -> (Seq((3L, "c")), Some("c2")),
      Some("c2") -> (Seq.empty, Some("c3")), // empty page mid-stream
      Some("c3") -> (Seq((4L, "d")), None))
    def fetch(cursor: Option[String]): (Seq[(Long, String)], Option[String]) = pages(cursor)
  }

  test("paged ingest drains the cursor chain, appending one page at a time") {
    val out = tmpDir("graft_ingest") + "/sink"
    val res = PagedIngest.ingest(spark, fakeClient) { df =>
      df.write.mode("append").parquet(out)
    }
    // 4 fetches issued, the empty mid-page appends nothing, chain exhausted
    assert(res.fetches == 4 && res.pages == 3 && res.rows == 4 && res.resumeCursor.isEmpty)
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("maxFetches bounds remote calls; resumeCursor resumes the chain") {
    val out = tmpDir("graft_ingest2") + "/sink"
    val r1 = PagedIngest.ingest(spark, fakeClient, maxFetches = 1) { df =>
      df.write.mode("append").parquet(out)
    }
    assert(r1.fetches == 1 && r1.rows == 2 && r1.resumeCursor == Some("c1"))
    // resume from the REPORTED cursor: the rest of the chain lands
    val r2 = PagedIngest.ingest(spark, fakeClient, startCursor = r1.resumeCursor) { df =>
      df.write.mode("append").parquet(out)
    }
    assert(r2.fetches == 3 && r2.rows == 2 && r2.resumeCursor.isEmpty)
    assert(spark.read.parquet(out).count() == 4)
  }

  test("a repeated cursor stops the run instead of looping to maxFetches") {
    val endless = new PagedIngest.PageClient[(Long, String)] {
      def fetch(c: Option[String]) =
        (Seq.empty, Some("again")) // echoes the same cursor forever
    }
    // fetch(None)→"again" is legitimate; fetch("again")→"again" is stuck
    val res = PagedIngest.ingest(spark, endless, maxFetches = 5)(_ => ())
    // resumeCursor is None (resuming from "again" would re-fetch a page that
    // already landed); the raw repeated cursor is surfaced in stuckAt
    assert(res.fetches == 2 && res.pages == 0 && res.stuckAt.isDefined &&
      res.resumeCursor.isEmpty && res.stuckAt == Some("again"))
  }

  test("detectStuckCursor=false ingests queue-style constant-cursor clients") {
    var served = 0
    val queueish = new PagedIngest.PageClient[(Long, String)] {
      // a tail-style endpoint: constant cursor, new rows each call, then dry
      def fetch(c: Option[String]) = {
        served += 1
        (if (served <= 3) Seq((served.toLong, "q")) else Seq.empty, Some("tail"))
      }
    }
    var written = Seq.empty[(Long, String)]
    val res = PagedIngest.ingest(spark, queueish, maxFetches = 5,
      detectStuckCursor = false) { df =>
      written ++= df.as[(Long, String)].collect()
    }
    // runs to the maxFetches bound, not stuck; all 3 queue rows land
    assert(res.fetches == 5 && res.rows == 3 && !res.stuckAt.isDefined &&
      res.resumeCursor == Some("tail"))
    assert(written.sorted == Seq((1L, "q"), (2L, "q"), (3L, "q")))
  }

  test("a stuck cursor with non-empty pages writes each page exactly once") {
    var served = 0
    val echo = new PagedIngest.PageClient[(Long, String)] {
      def fetch(c: Option[String]) = { served += 1; (Seq((served.toLong, "x")), Some("loop")) }
    }
    var written = Seq.empty[(Long, String)]
    val res = PagedIngest.ingest(spark, echo) { df =>
      written ++= df.as[(Long, String)].collect()
    }
    // page at cursor None and page at cursor "loop" each land once; the
    // re-fetch of "loop" (which would duplicate) never happens
    assert(res.fetches == 2 && res.rows == 2 && res.stuckAt.isDefined)
    assert(written.sorted == Seq((1L, "x"), (2L, "x")))
    // the documented resume recipe (persist resumeCursor, pass as startCursor)
    // is duplicate-free by construction: a stuck run reports no resume cursor
    assert(res.resumeCursor.isEmpty && res.stuckAt == Some("loop"))
  }

  // ------------------------------------------------- retry/backoff/throttle

  /** Fake time: clock() reads a counter, sleep() advances it and records. */
  private class FakeTime {
    var now = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def clock(): Long = now
    def sleep(ms: Long): Unit = { sleeps += ms; now += ms }
  }

  test("resilient: retry-then-succeed with exponential backoff ordering") {
    val t = new FakeTime
    var calls = 0
    val flaky = new PagedIngest.PageClient[(Long, String)] {
      def fetch(c: Option[String]) = {
        calls += 1
        if (calls <= 2) throw new RuntimeException(s"transient $calls")
        (Seq((1L, "ok")), None)
      }
    }
    val client = PagedIngest.resilient(flaky,
      PagedIngest.RetryPolicy(maxRetries = 3, initialBackoffMs = 100, backoffFactor = 2.0),
      clock = t.clock _, sleep = t.sleep _)
    val res = PagedIngest.ingest(spark, client)(_ => ())
    assert(res.rows == 1 && res.resumeCursor.isEmpty && calls == 3)
    // two failures → two backoff sleeps, exponentially ordered
    assert(t.sleeps.toSeq == Seq(100L, 200L))
  }

  test("resilient: retry budget exhaustion rethrows the last failure") {
    val t = new FakeTime
    var calls = 0
    val dead = new PagedIngest.PageClient[(Long, String)] {
      def fetch(c: Option[String]) = { calls += 1; throw new RuntimeException(s"down $calls") }
    }
    val client = PagedIngest.resilient(dead,
      PagedIngest.RetryPolicy(maxRetries = 2, initialBackoffMs = 50),
      clock = t.clock _, sleep = t.sleep _)
    val e = intercept[RuntimeException] { client.fetch(None) }
    // 1 initial + 2 retries, the LAST error surfaces, backoffs 50 then 100
    assert(calls == 3 && e.getMessage == "down 3")
    assert(t.sleeps.toSeq == Seq(50L, 100L))
  }

  test("resilient: requests-per-minute budget delays the over-budget call") {
    val t = new FakeTime
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    val counter = new PagedIngest.PageClient[(Long, String)] {
      def fetch(c: Option[String]) = { times += t.now; (Seq.empty, None) }
    }
    val client = PagedIngest.resilient(counter,
      PagedIngest.RetryPolicy(requestsPerMinute = 2),
      clock = t.clock _, sleep = t.sleep _)
    client.fetch(None); client.fetch(None)
    client.fetch(None) // third call within the same minute must wait
    assert(times.toSeq == Seq(0L, 0L, 60000L))
    // after the window slides, a fourth call goes straight through
    t.now = 130000L
    client.fetch(None)
    assert(times.last == 130000L && t.sleeps.size == 1)
  }
}
