package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spark-engine counters of one span: everything its job group ran. */
final class EngineStats {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: EngineStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    taskMs ++= o.taskMs
  }
}

/** One timed call into a layer. `buildMs`/`planMs`/`execMs` split the span
  * where the caller measured them. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long,
                      buildMs: Double, planMs: Double, execMs: Double,
                      engine: EngineStats) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Listener-backed span recorder for the traced run. Each span runs under its
  * own job group, the listener attributes every job, stage and task to the
  * group, and spans stay in memory until the run writes them out. */
final class Tracer private (sc: SparkContext) extends SparkListener {
  @volatile var enabled = true
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, EngineStats]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var seq = 0

  private def statsOf(g: String) = stats.computeIfAbsent(g, _ => new EngineStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      e.stageIds.foreach(stageGroup.put(_, g))
      val s = statsOf(g)
      s.synchronized(s.jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val s = statsOf(g)
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        s.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Runs `body` as span `name` of operation `op` under a fresh job group.
    * `body` may report its build/plan/exec split through the [[SpanTimer]]
    * it receives. */
  def span[A](op: Int, name: String)(body: SpanTimer => A): A = {
    seq += 1
    val group = s"perfbench-$seq-$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t = new SpanTimer
    val start = System.nanoTime()
    try body(t)
    finally {
      val end = System.nanoTime()
      sc.clearJobGroup()
      // listener events are asynchronous: drain the bus so the span's tasks
      // are all counted before the span is closed
      org.apache.spark.perfbench.BusShim.drain(sc)
      spans += Span(op, name, start, end, t.buildMs, t.planMs, t.execMs,
        Option(stats.remove(group)).getOrElse(new EngineStats))
    }
  }
}

/** Collects the optional build/plan/exec split inside a span. */
final class SpanTimer {
  var buildMs = 0.0
  var planMs = 0.0
  var execMs = 0.0
  /** Physical plan of the last frame planned in this span. */
  var plan: SparkPlan = _

  /** Build the frame (including any eager jobs its construction runs), plan
    * it, then execute it through a `noop` write. Returns the built frame. */
  def noop(build: => DataFrame): DataFrame = {
    val df = Clock.ms(build)(buildMs += _)
    Clock.ms { plan = df.queryExecution.executedPlan }(planMs += _)
    Clock.ms(df.write.format("noop").mode("overwrite").save())(execMs += _)
    df
  }

  /** As [[noop]], but the frame is executed by collecting it (the dashboard
    * fetches its results), on the same query execution that was planned. */
  def collect(build: => DataFrame): Array[Row] = {
    val df = Clock.ms(build)(buildMs += _)
    Clock.ms { plan = df.queryExecution.executedPlan }(planMs += _)
    Clock.ms(df.collect())(execMs += _)
  }

  /** Time an arbitrary action as execution. */
  def exec[A](body: => A): A = Clock.ms(body)(execMs += _)
}

object Tracer {
  private var installed: Option[Tracer] = None

  /** Registers the tracer on `sc` once; later calls return the same one
    * (check before add, so a second install never double-counts). */
  def install(sc: SparkContext): Tracer = synchronized {
    installed match {
      case Some(t) => t
      case None =>
        val t = new Tracer(sc)
        sc.addSparkListener(t)
        installed = Some(t)
        t
    }
  }
}

/** What a physical plan reads and evaluates. */
object Scans extends AdaptiveSparkPlanHelper {
  private def scans(plan: SparkPlan, root: String): Seq[FileSourceScanExec] =
    if (plan == null) Nil
    else collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(root)) => s
    }

  /** Files selected by scans rooted under `root`, after static partition pruning. */
  def filesUnder(plan: SparkPlan, root: String): Long =
    scans(plan, root).map(_.selectedPartitions.totalNumberOfFiles).sum

  /** File scans rooted under `root`; a reused exchange is not a second scan. */
  def scansUnder(plan: SparkPlan, root: String): Int = scans(plan, root).size

  /** Plan nodes that evaluate `regexp_replace` with `pattern`; each evaluates
    * it once per input row, and a reused exchange does not count again. */
  def regexpNodes(plan: SparkPlan, pattern: String): Int =
    if (plan == null) 0
    else collectWithSubqueries(plan) {
      case p if p.expressions.exists(_.exists {
        case r: RegExpReplace => r.regexp.foldable && String.valueOf(r.regexp.eval()) == pattern
        case _ => false
      }) => 1
    }.sum
}

object Clock {
  def ms[A](body: => A)(record: Double => Unit): A = {
    val t0 = System.nanoTime()
    val a = body
    record((System.nanoTime() - t0) / 1e6)
    a
  }
}
