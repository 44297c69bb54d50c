package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against graft's public API and writes
  * what it measured, plus the paths of the outputs to check, as JSON.
  *
  * Args: --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *       --cores K --out FILE
  *
  * Timed runs (`--trace 0`) time whole operations in a closed loop with no
  * listener attached. Traced runs (`--trace 1`) time each layer's public
  * call on a pre-materialized input instead (see [[Tracer]]). Output checks
  * run after the timed window, in `run.py`.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts("cores").toInt
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, opts("inputs"), work, opts("seconds").toDouble,
      opts("trace") == "1", cores, mainStart)
    h.result("session_s") = h.sinceStart
    opts("workload") match {
      case "ingest_enrich" => Ingest.run(h)
      case "dashboard_read" => Dashboard.run(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    h.result("peak_rss_mb") = Harness.peakRssMb
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(h.result))
    spark.stop()
  }
}

/** Shared run state: the session, the run's directories, the warm-up and
  * timed loops, and the result map that becomes the JSON output. */
final class Harness(val spark: SparkSession, val inputs: String, val work: String,
                    val seconds: Double, val trace: Boolean, val cores: Int,
                    mainStart: Long) {
  val result = mutable.LinkedHashMap.empty[String, Any]
  lazy val tracer: Tracer = Tracer.install(spark.sparkContext)

  def path(p: String): String = s"$work/$p"
  def sinceStart: Double = (System.nanoTime() - mainStart) / 1e9

  /** Times the set-up build of `name` into a fresh directory; returns it. */
  def setupBuild(name: String)(build: String => Unit): String = {
    val t0 = System.nanoTime()
    build(path(name))
    result("build_s") = (System.nanoTime() - t0) / 1e9
    path(name)
  }

  /** Untimed warm-up: runs `op(i)` until its latency stops falling — the
    * latest operation no faster than 0.95x the best before it — within
    * [WarmUpMinOps, WarmUpMaxOps] operations. */
  def warmUp(op: Int => Unit): Unit = {
    import Harness.{WarmUpMaxOps, WarmUpMinOps}
    val t0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Double]
    def flat = lat.last >= 0.95 * lat.init.min
    while (lat.size < WarmUpMaxOps && !(lat.size >= WarmUpMinOps && flat)) {
      val s = System.nanoTime()
      op(lat.size)
      lat += (System.nanoTime() - s) / 1e6
    }
    result("warmup_ms") = lat.toSeq
    result("warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  /** The timed closed loop: one client runs `op(i)` back to back until the
    * window closes or `available` operations are used up; traced runs,
    * whose operations are far longer, run at least 3. An operation that
    * throws is recorded as failed. Returns the number of operations run. */
  def timed(available: Int)(op: Int => Map[String, Any]): Int = {
    result("setup_wall_s") = sinceStart
    val minOps = if (trace) 3 else 1
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    while (ops.size < available &&
           (ops.size < minOps || System.nanoTime() - start < seconds * 1e9)) {
      val s = System.nanoTime()
      val (done, extra) =
        try (true, op(ops.size))
        catch { case e: Exception => (false, Map[String, Any]("error" -> e.toString)) }
      ops += extra ++ Map("latency_ms" -> (System.nanoTime() - s) / 1e6, "completed" -> done)
    }
    result("window_s") = (System.nanoTime() - start) / 1e9
    result("ops") = ops.toSeq
    ops.size
  }
}

object Harness {
  val WarmUpMinOps = 3
  val WarmUpMaxOps = 6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** (files, bytes) of the parquet files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
        (files.size.toLong, files.map(p => Files.size(p)).sum)
      } finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-operation Spark-engine figures summed over the given spans. */
  def engineMetrics(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val e = new EngineStats
    spans.foreach(s => e.add(s.engine))
    val wallMs = spans.map(_.ms).sum
    val tm = e.taskMs.map(_.toDouble).toSeq
    Map(
      "spark.build_ms" -> spans.map(_.buildMs).sum,
      "spark.plan_ms" -> spans.map(_.planMs).sum,
      "spark.exec_ms" -> spans.map(_.execMs).sum,
      "spark.jobs" -> e.jobs.toDouble,
      "spark.tasks" -> e.tasks.toDouble,
      "spark.task_cpu_ms" -> e.cpuNs / 1e6,
      "spark.gc_ms" -> e.gcMs.toDouble,
      "spark.shuffle_write_bytes" -> e.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> e.spillBytes.toDouble,
      "spark.core_busy_ratio" -> (if (wallMs > 0) e.runMs / (wallMs * cores) else 0.0),
      "spark.task_skew" -> (if (tm.isEmpty) 0.0 else tm.max / math.max(1.0, median(tm))),
      "spark.failed_tasks" -> e.failedTasks.toDouble)
  }

  /** Median over operations of each per-operation figure. */
  def medians(perOp: Seq[Map[String, Double]]): Map[String, Double] =
    perOp.flatMap(_.keys).distinct.map(k => k -> median(perOp.flatMap(_.get(k)))).toMap

  def spansJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.map { s =>
    Map("op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "ms" -> s.ms, "build_ms" -> s.buildMs, "plan_ms" -> s.planMs, "exec_ms" -> s.execMs,
      "jobs" -> s.engine.jobs, "tasks" -> s.engine.tasks,
      "task_cpu_ms" -> s.engine.cpuNs / 1e6, "shuffle_write_bytes" -> s.engine.shuffleWriteBytes)
  }

  def listDirs(dir: String, prefix: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq.sortBy(_.toString)
    finally s.close()
  }
}
