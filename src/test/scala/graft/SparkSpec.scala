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
}
