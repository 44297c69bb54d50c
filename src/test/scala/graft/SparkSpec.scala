package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Materialize

/** Shared local session for all suites (one JVM, Test/fork := true). */
object SparkSpec {
  /** A fresh empty directory under this JVM's scratch root — the one place
    * tests write to; the next JVM sweeps it once this one is gone. */
  def tmpDir(prefix: String): String = Materialize.freshDir(prefix).getPath

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tmpDir("warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)

  /** The smallest fixture SF (TESTDATA.md), which key-level checks run on. */
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` with the session confs `pairs` set, then restores each one's
    * previous value (or unsets it). */
  def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark's own "broadcast off" value: under it `Graph.fitsRankBroadcast`
    * answers no, so every size-conditional plan takes its fallback arm. */
  val broadcastOff: (String, String) = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** `f` evaluated at the session defaults (the broadcast or single-pass
    * arms, on test-sized inputs) and again with the broadcast switch off
    * (the shuffle and iterative arms). */
  def bothArms[A](f: => A): (A, A) = (f, withSQLConf(broadcastOff)(f))
}
