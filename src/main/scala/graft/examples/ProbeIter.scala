package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{Dedup, Graph}

/** Scratch A/B harness for the round-17 iterative-loop change (not part of
  * any registered surface): same-JVM, INTERLEAVED timing of each changed
  * operator with the strategy pinned to the round-16 shape (shuffle) vs the
  * round-17 one (size-conditional broadcast), A/B/A/B so ambient machine
  * drift cancels. `sbt "runMain graft.examples.ProbeIter [sfDir]"` */
object ProbeIter {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t1(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      t
    }
    def ab(label: String)(shuffle: => DataFrame)(bcast: => DataFrame): Unit = {
      // warm both, then 2 interleaved measured rounds; report per-arm min
      t1(shuffle); t1(bcast)
      val as = Seq(t1(shuffle), t1(shuffle))
      val bs = Seq(t1(bcast), t1(bcast))
      println(f"[probeiter] $label%-22s shuffle ${as.min}%.2f s  bcast ${bs.min}%.2f s  " +
        f"(A: ${as.map(x => f"$x%.2f").mkString(",")} B: ${bs.map(x => f"$x%.2f").mkString(",")})")
    }

    val e = SparkEntry.copurchaseEdges(spark, dir)
    val degIdx = SparkEntry.copurchaseDegrees(spark, dir)

    ab("bfs (q201 op)") {
      Graph.bfsHopCounts(e, maxHops = 3, degrees = Some(degIdx),
        broadcastFrontier = Some(false)).orderBy("hop")
    } {
      Graph.bfsHopCounts(e, maxHops = 3, degrees = Some(degIdx),
        broadcastFrontier = Some(true)).orderBy("hop")
    }

    ab("kcore (q191 op)") {
      Graph.kCorePeel(e, k = 6, rounds = 3, initialDegrees = Some(degIdx),
        broadcastKeep = Some(false))
        .orderBy(col("deg").desc, col("node")).limit(50)
    } {
      Graph.kCorePeel(e, k = 6, rounds = 3, initialDegrees = Some(degIdx),
        broadcastKeep = Some(true))
        .orderBy(col("deg").desc, col("node")).limit(50)
    }

    val hitsRel = graft.Tables.load(spark, dir, "orders")
      .join(graft.Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
    ab("hits (q318 op)") {
      Graph.hits(hitsRel, "o_custkey", "l_partkey", iterations = 2,
        broadcastScores = Some(false))
        .orderBy(col("side"), col("score").desc, col("node")).limit(40)
    } {
      Graph.hits(hitsRel, "o_custkey", "l_partkey", iterations = 2,
        broadcastScores = Some(true))
        .orderBy(col("side"), col("score").desc, col("node")).limit(40)
    }

    val pairsPath = graft.storage.Materialize.scratch("probeiter_pairs", dir)
    SparkEntry.queries("q445_name_group_join")(spark, dir)
      .select(col("gid_a").as("id_a"), col("gid_b").as("id_b"))
      .write.mode("overwrite").parquet(pairsPath)
    val ccPairs = spark.read.parquet(pairsPath)
    ab("cc (q446 tail)") {
      Dedup.connectedComponents(ccPairs, broadcastLabels = Some(false))
    } {
      Dedup.connectedComponents(ccPairs, broadcastLabels = Some(true))
    }

    // LPA inline (the q296 loop body), label side pinned each way
    def lpa(bcast: Boolean): DataFrame = {
      var lab = e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      (1 to 4).foreach { _ =>
        val labSide = lab.select(col("node").as("dst"), col("label"))
        val gathered = e
          .join(if (bcast) broadcast(labSide) else labSide, "dst")
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        lab = gathered
          .groupBy(col("src"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("b"))
          .select(col("src").as("node"), (-col("b.nl")).as("label"))
          .localCheckpoint()
      }
      lab.select(col("node").cast("long").as("node"),
          col("label").cast("long").as("label"))
        .orderBy("node")
    }
    ab("lpa (q296 loop)")(lpa(false))(lpa(true))
    spark.stop()
  }
}
