package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.ops.Dedup

/** The near-dup gate (`ops/Dedup`, `storage/Materialize`), measured by stage
  * cuts inside the ingest_enrich traced run. Set-up builds the band index
  * over a base corpus with `Dedup.componentIndex`; each step takes a new
  * document batch through banding, the probe against the stored index, the
  * in-batch self-join and `mergeComponents`, then appends the batch's bands
  * to the index. After the last step a one-shot `componentIndex` over the
  * same documents gives the reference components for the output check. */
final class NearDupGate(h: Harness, docs: String) {
  import NearDup._
  private val spark = h.spark
  private val tr = h.tracer
  private val batches = Harness.listDirs(docs, "batch-").map(_.toString)
  private val base = spark.read.parquet(s"$docs/base.parquet")
  private val index = h.path("nd/index")
  private val bands = s"$index/bands"
  private def comp(b: Int) = if (b < 0) s"$index/components" else h.path(f"nd/components/$b%03d")

  val buildS: Double = {
    val t0 = System.nanoTime()
    Dedup.componentIndex(base, "doc_id", "text", ShingleK, NumHashes, Bands, Threshold, index)
    (System.nanoTime() - t0) / 1e9
  }

  // an untimed warm-up step on the first batch probes the base index and
  // writes scratch outputs only
  locally {
    val banded = Dedup.bandedSignatures(spark.read.parquet(batches.head), "doc_id", "text",
      ShingleK, NumHashes, Bands)
    val pairs = h.path("nd/warm/pairs")
    pairsOf(spark.read.parquet(bands), banded).write.parquet(pairs)
    Dedup.mergeComponents(spark.read.parquet(comp(-1)), spark.read.parquet(pairs))
      .write.parquet(h.path("nd/warm/comp"))
    banded.write.parquet(h.path("nd/warm/bands"))
  }

  /** One traced step on document batch `b`; returns its per-layer figures. */
  def step(b: Int): Map[String, Double] = {
    val cutBands = h.path(f"nd/cuts/$b%03d")
    val pairsOut = h.path(f"nd/pairs/$b%03d")
    tr.span(b, "dedup.band") { t =>
      t.noop(Dedup.bandedSignatures(spark.read.parquet(batches(b)), "doc_id", "text",
        ShingleK, NumHashes, Bands))
    }.write.parquet(cutBands)
    val sBand = tr.spans.last
    val banded = spark.read.parquet(cutBands)
    val index = spark.read.parquet(bands)
    tr.span(b, "dedup.probe")(_.noop(pairsOf(index, banded)))
    val sProbe = tr.spans.last
    pairsOf(index, banded).write.parquet(pairsOut)
    // candidates: distinct id pairs sharing a band key, before the
    // signature-agreement threshold
    def keys(df: DataFrame, id: String) = df.select(col("doc_id").as(id), col("band"), col("band_hash"))
    val cand = keys(index, "id_a").join(keys(banded, "id_b"), Seq("band", "band_hash"))
      .unionByName(keys(banded, "id_a").join(keys(banded, "id_b"), Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b")))
      .select("id_a", "id_b").distinct().count()
    val confirmed = spark.read.parquet(pairsOut).count()
    tr.span(b, "dedup.merge") { t =>
      t.exec(Dedup.mergeComponents(spark.read.parquet(comp(b - 1)), spark.read.parquet(pairsOut))
        .write.parquet(comp(b)))
    }
    val sMerge = tr.spans.last
    tr.span(b, "dedup.index_append")(t => t.exec(banded.write.mode(SaveMode.Append).parquet(bands)))
    val sAppend = tr.spans.last
    Map("dedup.band_ms" -> sBand.ms, "dedup.probe_ms" -> sProbe.ms,
      "dedup.candidate_pairs" -> cand.toDouble,
      "dedup.confirm_ratio" -> confirmed.toDouble / math.max(1L, cand),
      "dedup.merge_ms" -> sMerge.ms, "dedup.index_append_ms" -> sAppend.ms)
  }

  /** Builds the one-shot reference over the base and the first `done`
    * batches and records where the outputs to check are. */
  def finish(done: Int): Unit = {
    val all = (base +: batches.take(done).map(spark.read.parquet(_))).reduce(_.unionByName(_))
    Dedup.componentIndex(all, "doc_id", "text", ShingleK, NumHashes, Bands, Threshold,
      h.path("nd/oneshot"))
    h.result("nd") = Map("docs" -> docs, "build_s" -> buildS, "batches_done" -> done,
      "pairs_dir" -> h.path("nd/pairs"), "components" -> comp(done - 1),
      "oneshot_components" -> h.path("nd/oneshot/components"))
  }
}

object NearDup {
  val ShingleK = 3
  val NumHashes = 16
  val Bands = 8
  val Threshold = 0.5

  /** (id_a, id_b, est_jaccard) of a banded batch: its pairs with the stored
    * index plus its in-batch pairs. */
  def pairsOf(index: DataFrame, banded: DataFrame): DataFrame =
    Dedup.probeNearDupBanded(index, banded, "doc_id", NumHashes, Threshold)
      .select(col("existing_id").as("id_a"), col("new_id").as("id_b"), col("est_jaccard"))
      .unionByName(Dedup.nearDupPairsBanded(banded, "doc_id", NumHashes, Threshold))
}
