package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Accumulated-index growth probe for the streaming near-dup gate (q266):
  * is the per-batch cost still O(batch) once the stored band index has
  * grown corpus-sized, and what does periodic compaction buy?
  *
  * Replays N ascending-id batches through the gate's EXACT per-batch data
  * path — band the batch, probe the accumulated parquet band index
  * ([[Dedup.probeNearDupBanded]]), self-join within batch, append the
  * batch's signatures as a new index slice — without the micro-batch
  * machinery (its ~2 s/batch fixed replay floor would mask the growth
  * signal; the joins ARE the question). Per batch it prints index rows,
  * index files, and probe-join seconds; after the replay it compacts the
  * accumulated slices (glob read → size-targeted rewrite, the
  * [[graft.storage.Storage.compact]] shape — in production this runs at a
  * batch barrier, so "compacted ≡ strictly earlier" still holds for the
  * probe's earlier-slices-only read) and re-times the LAST batch's probe
  * against the compacted index: same rows, file-open/listing overhead gone.
  *
  * Usage: runMain graft.examples.ProbeStreamIndex [docsParquet] [batches]
  */
object ProbeStreamIndex {
  def main(args: Array[String]): Unit = {
    val docsPath =
      if (args.length > 0) args(0) else "target/scale100/documents.parquet"
    val batches = if (args.length > 1) args(1).toInt else 20
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val span = (maxId + batches) / batches
    val work = graft.storage.Materialize.freshDir("idx_probe").getPath
    val idxDir = s"$work/index"

    def timeS[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def indexFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(idxDir))
    }

    println(f"[idxprobe] docs=${docs.count()} batches=$batches span=$span")
    var indexRows = 0L
    var lastBatchBanded: DataFrame = null
    (0 until batches).foreach { b =>
      val batch = docs.filter(col("doc_id") >= b * span && col("doc_id") < (b + 1) * span)
      val banded = Dedup.bandedSignatures(batch, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8)
      lastBatchBanded = banded
      val prior = Option(new java.io.File(idxDir).listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getPath).sorted
      val (nRemoved, probeSec) =
        if (prior.isEmpty) (0L, 0.0)
        else timeS {
          Dedup.probeNearDupBanded(spark.read.parquet(prior: _*), banded,
            "doc_id", 16, 0.25).count()
        }
      banded.write.mode("overwrite").parquet(f"$idxDir/b$b%03d")
      indexRows += banded.count()
      println(f"[idxprobe] batch=$b%3d index_rows=$indexRows%9d files=${indexFiles()}%5d probe_hits=$nRemoved%6d probe_sec=$probeSec%.3f")
    }

    // compaction #1, INGEST layout: all slices → one size-targeted FLAT
    // table, then re-time the LAST batch's probe (identical join rows).
    // Batch probes cover every bucket, so flat is the right layout for
    // them — fewest files, one listing.
    val compacted = s"$work/index_compacted"
    val (_, compactSec) = timeS {
      spark.read.parquet(s"$idxDir/b*").repartition(8)
        .write.mode("overwrite").parquet(compacted)
    }
    def walkParquet(root: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(root))
    }
    val preFiles = indexFiles()
    val postFiles = walkParquet(compacted)
    val (hitsPre, tPre) = timeS {
      Dedup.probeNearDupBanded(spark.read.parquet(s"$idxDir/b*"),
        lastBatchBanded, "doc_id", 16, 0.25).count()
    }
    val (hitsPost, tPost) = timeS {
      Dedup.probeNearDupBanded(spark.read.parquet(compacted),
        lastBatchBanded, "doc_id", 16, 0.25).count()
    }
    require(hitsPre == hitsPost, s"compaction changed the answer: $hitsPre vs $hitsPost")
    println(f"[idxprobe] compact(flat): $preFiles files -> $postFiles files in $compactSec%.3f s; last-batch probe $tPre%.3f s -> $tPost%.3f s (hits=$hitsPre)")

    // compaction #2, SERVING layout: the same rows bucket-partitioned by
    // hb = hash(band, band_hash) mod 64 (Storage.compactPartitioned's
    // shape). Wrong layout for batch probes (bucket discovery tax, no
    // pruning at full coverage) — measured and reported as such — but a
    // POINT lookup carries `bands` keys, covers ≤ bands buckets, and
    // reads ~bands/64 of the index via directory pruning.
    val served = s"$work/index_served"
    val (_, servedSec) = timeS {
      Dedup.withBandBucket(spark.read.parquet(compacted))
        .repartition(col("hb"))
        .write.partitionBy("hb").mode("overwrite").parquet(served)
    }
    val (hitsServedBatch, tServedBatch) = timeS {
      Dedup.probeNearDupBanded(spark.read.parquet(served).drop("hb"),
        lastBatchBanded, "doc_id", 16, 0.25).count()
    }
    require(hitsServedBatch == hitsPre,
      s"serving layout changed the answer: $hitsServedBatch vs $hitsPre")
    println(f"[idxprobe] serving layout: ${walkParquet(served)} files in $servedSec%.3f s; batch probe there $tServedBatch%.3f s (discovery tax vs flat $tPost%.3f s)")

    // SERVING probe — "is this ONE document a dup?": bands keys → ≤ bands
    // of the 64 layout buckets, so dir-level pruning skips ~7/8 of the
    // index. Timed full-scan vs pruned on the compacted layout; identical
    // hits is the correctness pin, bucket coverage is the pruning proof.
    val oneId = lastBatchBanded.agg(min(col("doc_id"))).head.getLong(0)
    val oneDoc = lastBatchBanded.filter(col("doc_id") === oneId).localCheckpoint()
    val idxP = spark.read.parquet(served)
    val (sFullHits, sFullT) = timeS {
      Dedup.probeNearDupBanded(idxP.drop("hb"), oneDoc, "doc_id", 16, 0.25).count()
    }
    val prunedIdx = Dedup.pruneToProbeBuckets(idxP, oneDoc)
    val (sPrHits, sPrT) = timeS {
      Dedup.probeNearDupBanded(prunedIdx.drop("hb"), oneDoc, "doc_id", 16, 0.25).count()
    }
    require(sFullHits == sPrHits, s"bucket pruning changed the answer: $sFullHits vs $sPrHits")
    val coverage = prunedIdx.select("hb").distinct().count()
    val scanned = prunedIdx.count(); val total = idxP.count()
    println(f"[idxprobe] serving probe (1 doc): buckets=$coverage/64 rows_scanned=$scanned/$total full=$sFullT%.3f s pruned=$sPrT%.3f s (hits=$sFullHits)")
    // the claim that matters at scale: the BATCH side broadcasts, so the
    // index is scanned linearly but never reshuffled per batch
    val probeDf = Dedup.probeNearDupBanded(spark.read.parquet(compacted),
      lastBatchBanded, "doc_id", 16, 0.25)
    probeDf.collect()
    val plan = probeDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println(s"[idxprobe] probe join broadcasts batch side: ${plan.contains("BroadcastHashJoin")}; index-side shuffle: ${plan.contains("Exchange hashpartitioning")}")
    spark.stop()
  }
}
