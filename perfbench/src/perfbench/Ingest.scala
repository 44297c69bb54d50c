package perfbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Pipeline
import graft.ops.{Moderation, Relational, Sentiment, TextFunctions}
import graft.schema.Comments
import graft.storage.Storage

/** `ingest_enrich`: each operation is one batch of the reference's Airflow
  * DAG — read the three raw source files, `Pipeline.run` them with the
  * store's ids as `alreadyEnriched`, append to the (platform, day) store. */
object Ingest {
  /** The pattern of `TextFunctions.stripUrls`, to find the clean step in a plan. */
  val StripUrlsPattern = "https?://\\S+"

  /** The three raw source files of one batch directory. */
  def raw(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/reddit.parquet"), spark.read.parquet(s"$dir/chan.parquet"),
      spark.read.parquet(s"$dir/youtube.parquet"))

  /** Set-up of both workloads: the raw history, enriched by the pipeline
    * into a new (platform, day) store at `dir`. */
  def buildStore(spark: SparkSession, history: String, dir: String): Unit = {
    val (r, c, y) = raw(spark, history)
    val noIds = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("comment_id", StringType))))
    Storage.writePartitionedByDay(Pipeline.run(r, c, y, noIds), "created_ts", dir)
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val batches = Harness.listDirs(h.inputs, "batch-").map(_.toString)
    val store = h.setupBuild("store")(buildStore(spark, s"${h.inputs}/history", _))
    def batch(b: Int, idsFrom: String, writeTo: String): Unit = {
      val (r, c, y) = raw(spark, batches(b))
      val already = spark.read.parquet(idsFrom).select("comment_id")
      Storage.writePartitionedByDay(Pipeline.run(r, c, y, already), "created_ts", writeTo,
        SaveMode.Append)
    }
    // warm-up batches read the store's ids but append to a scratch store, so
    // the timed window starts from the same store on every run
    h.warmUp(b => batch(b, store, h.path("warm-store")))
    val done =
      if (!h.trace) h.timed(batches.size)(b => { batch(b, store, store); Map("batch" -> b) })
      else traced(h, store, batches)
    h.result("store") = store
    h.result("batches_done") = done
  }

  /** Stage cuts: each layer's input is materialized to parquet first, then
    * the layer's public call is timed through a `noop` write. The fused
    * `Pipeline.run` is timed on the same batch with tracing on and off, and
    * the stage-cut output is what gets appended to the store. Each traced
    * batch also takes one document batch through the near-dup gate
    * ([[NearDupGate]]), the stage cuts of `ops/Dedup`. */
  private def traced(h: Harness, store: String, batches: Seq[String]): Int = {
    val spark = h.spark
    val tr = h.tracer
    val perOp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val gate = new NearDupGate(h, s"${h.inputs}/docs")
    def cut(b: Int, name: String, df: DataFrame): (DataFrame, Long) = {
      val p = h.path(f"cuts/$b%03d/$name")
      df.write.parquet(p)
      val back = spark.read.parquet(p)
      (back, back.count())
    }
    val done = h.timed(batches.size) { b =>
      val (r, c, y) = raw(spark, batches(b))
      def span(name: String)(body: SpanTimer => DataFrame) = {
        val df = tr.span(b, name)(body)
        (tr.spans.last, df)
      }
      val (sAdapt, unified) = span("comments.adapt")(_.noop(Comments.unify(
        Comments.fromReddit(r), Comments.fromChan(c), Comments.fromYoutube(y))))
      val (u, nU) = cut(b, "unified", unified)
      // Pipeline.run's own dedup step, cut out on its own
      val (sDedup, deduped) = span("pipeline.dedup")(_.noop(u.dropDuplicates("platform", "comment_id")))
      val (d, nD) = cut(b, "deduped", deduped)
      val (sOpen, storeDf) = span("storage.open")(t => Clock.ms(spark.read.parquet(store))(t.buildMs += _))
      val (sAnti, delta) = span("pipeline.antijoin")(_.noop(
        Relational.antiDedup(d, storeDf.select("comment_id"), Seq("comment_id"))))
      val filesRead = Scans.filesUnder(delta.queryExecution.executedPlan, store)
      val (a, nA) = cut(b, "delta", delta)
      val (sClean, cleaned) = span("textfunctions.clean")(_.noop(a.withColumn("cleaned_body",
        TextFunctions.normalizeText(TextFunctions.stripUrls(col("body"))))))
      val (cl, _) = cut(b, "cleaned", cleaned)
      val (sScore, scored) = span("sentiment.score")(_.noop(
        Sentiment.scoreByLexiconJoin(cl, "comment_id", "cleaned_body")))
      val (sc, _) = cut(b, "scored", scored)
      val (sClass, classified) = span("moderation.classify")(_.noop(Moderation.classify(sc, "cleaned_body")))
      val (en, nE) = cut(b, "enriched", classified)
      val flagged = en.filter(col("is_hate_speech")).count()

      // fused run, traced and untraced, in alternating order
      def fused() = Pipeline.run(r, c, y, spark.read.parquet(store).select("comment_id"))
      def plain(): Unit = {
        tr.enabled = false
        try Clock.ms(fused().write.format("noop").mode("overwrite").save())(untraced += _)
        finally tr.enabled = true
      }
      if (b % 2 == 1) plain()
      val (sFused, _) = span("pipeline.fused") { t =>
        val df = t.noop(fused())
        // how often the fused plan evaluates the clean step and scans the batch
        h.result("fused_clean_nodes") = Scans.regexpNodes(t.plan, StripUrlsPattern)
        h.result("fused_batch_scans") = Scans.scansUnder(t.plan, batches(b))
        df
      }
      if (b % 2 == 0) plain()

      val (filesBefore, bytesBefore) = Harness.parquetFiles(store)
      val (sAppend, _) = span("storage.append")(t => t.exec {
        Storage.writePartitionedByDay(en, "created_ts", store, SaveMode.Append); en })
      val (filesAfter, bytesAfter) = Harness.parquetFiles(store)

      val staged = Seq(sAdapt, sDedup, sAnti, sClean, sScore, sClass).map(_.ms).sum
      perOp += Map(
        "comments.adapt_ms" -> sAdapt.ms, "comments.rows_out" -> nU.toDouble,
        "pipeline.dedup_ms" -> sDedup.ms, "pipeline.dedup_keep_ratio" -> nD.toDouble / nU,
        "pipeline.antijoin_ms" -> sAnti.ms, "pipeline.antijoin_keep_ratio" -> nA.toDouble / nD,
        "pipeline.fused_gap_ms" -> (sFused.ms - staged),
        "pipeline.fused_ms" -> sFused.ms,
        "textfunctions.clean_ms" -> sClean.ms,
        "sentiment.score_ms" -> sScore.ms,
        "sentiment.shuffle_bytes" -> sScore.engine.shuffleWriteBytes.toDouble,
        "moderation.classify_ms" -> sClass.ms,
        "moderation.flag_ratio" -> flagged.toDouble / math.max(1L, nE),
        "storage.append_ms" -> sAppend.ms,
        "storage.files_written" -> (filesAfter - filesBefore).toDouble,
        "storage.bytes_written" -> (bytesAfter - bytesBefore).toDouble,
        "storage.open_ms" -> sOpen.ms,
        "storage.files_read" -> filesRead.toDouble,
        "storage.prune_ratio" -> (1.0 - filesRead.toDouble / math.max(1L, filesBefore))
      ) ++ Harness.engineMetrics(Seq(sFused, sAppend), h.cores) ++ gate.step(b)
      Map("batch" -> b)
    }
    gate.finish(done)
    val layers = Harness.medians(perOp.toSeq)
    val fusedTraced = Harness.median(perOp.map(_("pipeline.fused_ms")).toSeq)
    h.result("layers") = layers
    h.result("untraced_fused_ms") = untraced.toSeq
    h.result("trace_overhead_ms") = fusedTraced - Harness.median(untraced.toSeq)
    h.result("spans") = Harness.spansJson(tr.spans.toSeq)
    done
  }
}
