package graft
import org.apache.spark.sql.SparkSession

/** Benchmark runner (driver contract): one JSON line with per-query seconds.
  *
  * Measurement validity: every query is fully materialized through a
  * `noop`-format write — unlike `.count()`, this executes the complete plan
  * (scalar expression work, output sorts) instead of letting Catalyst prune
  * projected columns and eliminate sorts under a bare count. A query that
  * throws is recorded at a 60 s penalty sentinel and listed under "errors" —
  * a broken query must never *improve* the bench.
  */
object Bench {
  private val ErrorSentinelSec = 60.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = localSession()

    def materialize(name: String, dir: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        false
      }

    // optional key filter (comma-separated keys): time a subset in
    // isolation — the driver never sets this, so the contract is unchanged
    val names = sys.env.get("SPARK_GRAFT_KEYS") match {
      case Some(ks) =>
        val asked = ks.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val unknown = asked.filterNot(SparkEntry.queries.contains)
        // a typo'd key must fail loudly, not silently shrink the run into a
        // fast-looking partial pass
        require(unknown.isEmpty,
          s"SPARK_GRAFT_KEYS contains unknown keys: ${unknown.mkString(", ")}")
        asked.sorted
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    // Release localCheckpoint blocks left behind by the query just timed.
    // Safe: no table-level cache exists and every pass rebuilds each query's
    // plan from scratch, so nothing reuses a prior query's persisted RDDs.
    // blocking=true so the block-manager removal completes HERE, between
    // timed regions, not inside the next query's timer. (A System.gc() here
    // was tried and made totals WORSE (+10%): the ContextCleaner work it
    // enqueues is asynchronous and lands inside the next timed region —
    // synchronous unpersist has no such tail.)
    def releaseCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // Untimed warm-up at the smallest SF: pays Janino/JIT codegen and file
    // index costs once so the timed pass measures data processing.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { n => materialize(n, warmDir); releaseCheckpoints() }

    // Ambient-load sentinel: ONE fixed compute job (no I/O, no registry
    // key) timed at run start / middle / end. The code is identical each
    // time, so any drift between the three timings is MACHINE load, not a
    // plan change — round 12 produced 4.5× ghost deltas between two runs
    // of identical code, and the judge had to re-probe every apparent
    // regression by hand. A drift > 1.5× stamps the whole run as
    // load-contaminated in the JSON, so a reader discounts its deltas
    // up front.
    // min-of-3 back-to-back: a single-shot sentinel double-counted JVM
    // state as machine load — after hundreds of generated query classes,
    // the sentinel's own codegen/JIT is evicted from the code cache and
    // its FIRST rerun pays recompilation (observed: start 0.09-0.12 s
    // right after warmup, mid/end 0.25-0.41 s on a box `ps` shows idle,
    // round 13 + two round-14 attempts — same signature every time). The
    // min of three consecutive runs recovers the steady-state cost, so
    // drift now measures SUSTAINED ambient load, not transient recompiles.
    def sentinelSec(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0L, 200000000L, 1L, numPartitions = cpus.toInt)
          .selectExpr("bit_xor(xxhash64(id)) AS s") // xor: overflow-free under ANSI
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    sentinelSec() // untimed: pays the sentinel's own codegen once

    // min of two timed passes per query: damps machine-load noise (observed
    // run-to-run swings of 30%+ on an otherwise idle box). Before round 9,
    // lingering checkpoint blocks from earlier queries were released only at
    // GC time and heavy keys read ±30-65% depending on what ran before them
    // (q78 measured 1.01 s alone vs 1.78 s after the q1xx family);
    // releaseCheckpoints() between timed regions removes that coupling.
    def timedPass(): Seq[(String, Double, Boolean)] =
      names.map { name =>
        val t0 = System.nanoTime()
        val ok = materialize(name, sfDir)
        val t = (System.nanoTime() - t0) / 1e9
        releaseCheckpoints()
        (name, if (ok) t else ErrorSentinelSec, ok)
      }
    val sentinelStart = sentinelSec()
    val p1 = timedPass()
    val sentinelMid = sentinelSec()
    val p2 = timedPass()
    // ADAPTIVE third measurement: min-of-2 still lets a load spike that
    // straddles both passes' visits to a key write a phantom regression
    // into the committed record (round 10: q203 stamped 11.30 s vs 2.94 s
    // for identical code — a 3.8× ghost the next judge must un-pick). Any
    // non-trivial key whose two timings disagree by > 1.5× gets ONE more
    // isolated measurement and reports min-of-3; agreeing keys don't pay.
    val noisy = p1.zip(p2).collect {
      case ((n, t1, ok1), (_, t2, ok2))
          if ok1 && ok2 && math.min(t1, t2) > 0.5 &&
            math.max(t1, t2) > 1.5 * math.min(t1, t2) => n
    }.toSet
    val p3: Map[String, Double] = noisy.toSeq.sorted.map { n =>
      val t0 = System.nanoTime()
      val ok = materialize(n, sfDir)
      val t = (System.nanoTime() - t0) / 1e9
      releaseCheckpoints()
      // a CRASHED rerun must never improve the record: sentinel-pricing it
      // here would let min(t1, t2, p3) drop an honest >60 s key to 60 s
      // with ok still true — MaxValue makes a failed third pass a no-op
      n -> (if (ok) t else Double.MaxValue)
    }.toMap
    val results = p1.zip(p2).map { case ((n, t1, ok1), (_, t2, ok2)) =>
      // intermittent failure still takes the full penalty — otherwise a query
      // that throws in one pass would report its lucky pass's min and a
      // flagged-broken query could improve the total
      val ok = ok1 && ok2
      val best = math.min(math.min(t1, t2), p3.getOrElse(n, Double.MaxValue))
      (n, if (ok) best else ErrorSentinelSec, ok)
    }
    val sentinelEnd = sentinelSec()
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => "\"" + k + "\"" }.mkString("[", ",", "]")
    // run-count provenance: 2 passes everywhere, +1 for the listed keys
    val reruns = noisy.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val ss = Seq(sentinelStart, sentinelMid, sentinelEnd)
    val drift = ss.max / math.max(ss.min, 1e-9)
    val sentinelJson = f""""load_sentinel":{"start":${sentinelStart}%.3f,"mid":${sentinelMid}%.3f,"end":${sentinelEnd}%.3f,"drift":$drift%.3f,"flagged":${drift > 1.5}}"""
    // "cpus" is recorded so a reader (and scripts/bench_regress.py) can
    // refuse cross-core comparisons — the driver ALSO runs the bench at a
    // lower core count for its scaling measurement, and those runs are not
    // comparable to the 32-core round records (r17 verdict item 2: an
    // 8-core scaling run stamped itself as BENCH_LOCAL_r18 and would have
    // read as a 15% regression)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"passes":2,"third_pass_keys":$reruns,"cpus":${cpus.toInt},$sentinelJson,"sf":"$sfDir"}"""
    println(line)
    // provenance: the driver's BENCH_r{N}.json tails truncate the per-query
    // map, so also land the full line at a stable path for round-over-round
    // comparison — BOTH the fixed scratch path and the round-stamped repo
    // path (BENCH_LOCAL_r{NN}.json) that gets committed. The round is the
    // successor of the newest driver-written BENCH_r{N}.json (that file
    // exists from round N before round N+1's bench runs), overridable with
    // SPARK_GRAFT_ROUND; no BENCH_r files → no stamped copy (fresh clone).
    try {
      new java.io.File("target").mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench_local.json"), line)
      val round = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).orElse {
        val prev = Option(new java.io.File(".").listFiles()).toSeq.flatten
          .map(_.getName).filter(_.matches("BENCH_r\\d+\\.json"))
          .map(_.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
        if (prev.isEmpty) None else Some(prev.max + 1)
      }
      // a SPARK_GRAFT_KEYS-filtered probe run must never stamp the round
      // record — a 6-key subset masquerading as the round bench would
      // poison every round-over-round comparison; same for any run at a
      // core count other than the record convention's (r17 verdict item 2:
      // an 8-core scaling run auto-stamped itself as BENCH_LOCAL_r18 — a
      // phantom 15% regression).
      // Every committed BENCH_LOCAL_r* record is a local[32] run; a
      // different-core run still prints its line and lands at
      // target/bench_local.json, it just never becomes the round record.
      val recordCpus = 32
      if (sys.env.get("SPARK_GRAFT_KEYS").isEmpty && cpus.toInt == recordCpus)
        round.foreach { r =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(f"BENCH_LOCAL_r$r%02d.json"), line)
        }
    } catch { case _: Throwable => () } // never fail the bench over provenance
    spark.stop()
  }

  /** Local cores of the runners' session: `SPARK_GRAFT_CPUS`, default 4. */
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The local session both runners (Bench, [[Verify]]) run in:
    * [[cpus]] cores and as many shuffle partitions, UTC, no UI, WARN
    * logging. */
  private[graft] def localSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
