package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry

/** Per-key plan dumper for the round's before/after evidence: executes each
  * requested key at the given SF through the frame's OWN QueryExecution
  * (`toRdd`, drained where it runs — no result rows are collected),
  * so the dumped plan is the AQE-final one (isFinalPlan=true). A noop write
  * would spawn a separate QueryExecution and leave the explained plan at
  * the initial, pre-AQE state (r17 advice item 1 — every plans/r17 dump
  * shows isFinalPlan=false). Writes `<outDir>/<key><suffix>.txt` with the
  * `explain("formatted")` output. Session config mirrors DumpPlans so dumps
  * are comparable across commits.
  *
  *   sbt "runMain graft.examples.DumpPlanFiles plans/r18 _after \
  *        q62_range_join,q452_stream_ttl_dedup [sfDir]"
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { key =>
      val df = SparkEntry.queries(key)(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ()) // df's own QE: explain below is AQE-final
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"$key$suffix.txt"), plan)
      println(s"[dumpplanfiles] wrote $outDir/$key$suffix.txt")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
