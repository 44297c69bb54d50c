package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.Pipeline
import graft.ops.Relational

/** `dashboard_read`: one client runs a seeded mix of six query templates
  * over an enriched store built during set-up. Every query opens the store
  * afresh, as the dashboard's routes do, and fetches its result. */
object Dashboard {
  final case class Query(template: String, lo: String, hi: String, platform: Option[String])

  val templates: Seq[String] = Seq("sentiment_share", "toxicity_share", "daily_counts",
    "platform_counts", "top_threads", "platform_day_count")

  /** The query over an opened store: rows of `[lo, hi]` (days, inclusive). */
  def query(store: DataFrame, q: Query): DataFrame = {
    val f = store.filter(col("day").between(lit(java.sql.Date.valueOf(q.lo)),
      lit(java.sql.Date.valueOf(q.hi))))
    q.template match {
      case "sentiment_share" => Pipeline.sentimentShareByPlatform(f)
      case "toxicity_share" => Pipeline.toxicityShare(f)
      case "daily_counts" => Pipeline.dailyCounts(f)
      case "platform_counts" => Relational.topKGroups(f, "platform", 3)
      case "top_threads" => Relational.topKGroups(f.filter(col("parent_id").isNotNull), "parent_id", 10)
      case "platform_day_count" =>
        Relational.topKGroups(f.filter(col("platform") === q.platform.get), "platform", 1)
    }
  }

  /** Result rows as JSON-ready values; timestamps as UTC `yyyy-MM-dd HH:mm:ss`. */
  def rowsOut(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case t: java.sql.Timestamp =>
      t.toInstant.toString.replace("T", " ").stripSuffix("Z")
    case v => v
  })

  def run(h: Harness): Unit = {
    val spark = h.spark
    val queries = Main.mapper.readTree(Files.readString(Paths.get(s"${h.inputs}/queries.json")))
      .elements().asScala.map { n =>
        Query(n.get("template").asText(), n.get("lo").asText(), n.get("hi").asText(),
          Option(n.get("platform")).filterNot(_.isNull).map(_.asText()))
      }.toIndexedSeq
    val store = h.setupBuild("store")(Ingest.buildStore(spark, s"${h.inputs}/history", _))
    // warm-up: rounds of all six templates over the full span
    val first = queries.map(_.lo).min
    val last = queries.map(_.hi).max
    h.warmUp { _ =>
      templates.foreach(t => query(spark.read.parquet(store),
        Query(t, first, last, Some("reddit"))).collect())
    }
    val done =
      if (!h.trace) h.timed(queries.size) { i =>
        val q = queries(i)
        Map("query" -> i, "rows" -> rowsOut(query(spark.read.parquet(store), q).collect()))
      }
      else traced(h, store, queries)
    h.result("store") = store
    h.result("queries_done") = done
  }

  private def traced(h: Harness, store: String, queries: IndexedSeq[Query]): Int = {
    val tr = h.tracer
    val perOp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val (filesTotal, _) = Harness.parquetFiles(store)
    val done = h.timed(queries.size) { i =>
      val q = queries(i)
      val opened = tr.span(i, "storage.open")(t => Clock.ms(h.spark.read.parquet(store))(t.buildMs += _))
      val sOpen = tr.spans.last
      var plan: org.apache.spark.sql.execution.SparkPlan = null
      val rows = tr.span(i, s"relational.${q.template}") { t =>
        val r = t.collect(query(opened, q)); plan = t.plan; r
      }
      val sQuery = tr.spans.last
      val filesRead = Scans.filesUnder(plan, store)
      perOp += Map(
        s"relational.${q.template}_ms" -> sQuery.ms,
        "storage.open_ms" -> sOpen.ms,
        "storage.files_read" -> filesRead.toDouble,
        "storage.prune_ratio" -> (1.0 - filesRead.toDouble / math.max(1L, filesTotal))
      ) ++ Harness.engineMetrics(Seq(sOpen, sQuery), h.cores)
      Map("query" -> i, "rows" -> rowsOut(rows))
    }
    h.result("layers") = Harness.medians(perOp.toSeq)
    h.result("spans") = Harness.spansJson(tr.spans.toSeq)
    done
  }
}
