package graft.examples

import java.nio.file.{Files, Paths}
import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, SparkEntry}

/** The plan tool. Every key runs through its frame's OWN QueryExecution
  * (`toRdd`, drained where it runs, so no result rows reach the driver) and
  * the explained plan is the AQE-final one; a noop write would run a
  * separate QueryExecution and leave this one's plan pre-AQE. Two modes:
  *
  *   sbt "runMain graft.examples.DumpPlans [sfDir]"
  *     rewrites PLANS.md: one row per registered key with the fingerprint
  *     of its normalized plan and its annotation.
  *   sbt "runMain graft.examples.DumpPlans <sfDir> <outDir> <key,...>"
  *     writes each listed key's normalized plan — the text the fingerprint
  *     hashes — to `<outDir>/<key>.txt`; PLANS.md is left alone.
  *
  * `sfDir` defaults to /root/testdata/sf0.001, the scale PLANS.md records.
  * The session is [[graft.Bench.localSession]]'s (`SPARK_GRAFT_CPUS` cores
  * and shuffle partitions, 4 by default — the count PLANS.md records).
  */
object DumpPlans {
  // Dumped plans are NORMALIZED so a no-plan-change commit regenerates the
  // same text: exprIds renumbered by first appearance, volatile
  // ids/statistics/paths canonicalized. Real plan changes still read as
  // real diffs, and the fingerprint table turns "did any plan move?" into a
  // one-line diff per changed key.
  //
  // Expand operators are generated from expression-set traversals whose
  // order tracks the RAW exprId values, so identical code prints them
  // differently run to run — and the first-appearance renumbering then
  // cascades that one reordered line through every later id in the plan.
  // [[canonExpandArgs]] puts every Expand in a canonical form before
  // renumbering.

  /** Top-level comma split of a bracketed list's inside. */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start).trim
    out.toSeq
  }

  private def unbracket(s: String): Seq[String] = splitTop(s.drop(1).dropRight(1))

  private def stripIds(s: String): String = s.replaceAll("#\\d+", "#")

  private val NodeHeader = "^\\(\\d+\\) ([A-Za-z]+)".r

  /** Canonical Expand text. Every Expand's projections are sorted by their
    * id-stripped text (ties keep input order). The distinct-aggregate
    * rewrite's Expand (output `…, gid#n, …`) also numbers its distinct
    * groups, and orders their columns, by hash-map iteration over raw
    * exprIds, so two builds of one query can permute those columns and gid
    * literals through every later list and `FILTER (WHERE (gid#n = k))`;
    * [[distinctGroups]] ranks them by text instead. */
  private[graft] def canonExpandArgs(plan: String): String = {
    var inExpand = false
    val expandArgs = plan.split("\n", -1).filter { line =>
      NodeHeader.findFirstMatchIn(line).foreach(h => inExpand = h.group(1) == "Expand")
      inExpand && line.startsWith("Arguments: [[")
    }
    expandArgs.distinct.foldLeft(plan) { (text, line) =>
      splitTop(line.stripPrefix("Arguments: ")) match {
        case Seq(projList, outList) =>
          val projs = unbracket(projList)
          val (canonProjs, canonOut, rewrite) =
            distinctGroups(projs.map(unbracket), unbracket(outList))
              .getOrElse((projs, outList, identity[String] _))
          val canon = "Arguments: [" + canonProjs.sortBy(stripIds).mkString(", ") + "], " + canonOut
          text.split("\n", -1).map(l => if (l == line) canon else rewrite(l)).mkString("\n")
        case _ => text
      }
    }
  }

  /** For a distinct-aggregate Expand: its projections and output list with
    * the group columns and gids in rank order (groups ranked by their
    * columns' id-stripped text), and the rewrite that carries that order
    * into every other line. None for any other Expand. */
  private def distinctGroups(projs: Seq[Seq[String]], out: Seq[String])
      : Option[(Seq[String], String, String => String)] = {
    val gi = out.indexWhere(_.matches("gid#\\d+"))
    // group columns: before gid and null in some projection (the group-by
    // keys before them never are)
    val cols = (0 until math.max(gi, 0)).filter(c => projs.exists(_(c) == "null"))
    if (gi < 0 || cols.isEmpty || cols != (cols.head to cols.last) ||
        projs.exists(p => p.size != out.size || !p(gi).matches("\\d+"))) None
    else {
      def own(p: Seq[String]) = cols.filter(p(_) != "null").sortBy(c => stripIds(p(c)))
      val ranked = projs.filter(own(_).nonEmpty)
        .sortBy(p => own(p).map(c => stripIds(p(c))).mkString(","))
      val gid = ranked.map(_(gi)).zip(ranked.map(_(gi)).sortBy(_.toInt)).toMap
      val order = ranked.flatMap(own).distinct
      val perm = out.indices.map(c => if (cols.contains(c)) order(cols.indexOf(c)) else c)
      val seq = ("(?<![\\w#])" + Pattern.quote(cols.map(out).mkString(", ")) + "(?![\\w#])").r
      val newSeq = Matcher.quoteReplacement(order.map(out).mkString(", "))
      val gidRef = ("\\(" + Pattern.quote(out(gi)) + " = (\\d+)\\)").r
      Some((
        projs.map(p => perm.map(p).updated(gi, gid.getOrElse(p(gi), p(gi))).mkString("[", ", ", "]")),
        perm.map(out).mkString("[", ", ", "]"),
        l => gidRef.replaceAllIn(seq.replaceAllIn(l, newSeq), m =>
          Matcher.quoteReplacement(s"(${out(gi)} = ${gid.getOrElse(m.group(1), m.group(1))})"))))
    }
  }

  /** A lambda variable's name (`lambda x_5`): its suffix is a JVM-global
    * counter, so it moves with how many lambdas were built before. */
  private val LambdaVar = "(?<=lambda )[A-Za-z]\\w*_\\d+\\b".r
  private val SuffixedName = "\\b([A-Za-z]\\w*)_(\\d+)\\b".r

  /** Spark abbreviates a scan's metadata values (`DataFilters`, …) to
    * `spark.sql.maxMetadataStringLength` characters of the RAW text, so the
    * cut moves with exprId digit widths: [[normalize]] masks a cut value, and
    * the dump session raises the length so its own plans print them whole. */
  private val MetadataStringLength = Int.MaxValue

  private[graft] def normalize(plan: String): String = {
    val ids = scala.collection.mutable.HashMap[String, Int]()
    val idRe = "#(\\d+)".r
    val renumbered = idRe.replaceAllIn(canonExpandArgs(plan),
      m => "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    // lambda variables renumbered by first appearance, like the exprIds
    val lambdas = LambdaVar.findAllIn(renumbered).distinct.zipWithIndex.toMap
    SuffixedName.replaceAllIn(renumbered, m => Matcher.quoteReplacement(
      lambdas.get(m.matched).fold(m.matched)(i => s"${m.group(1)}_${i + 1}")))
      .replaceAll("(?m)(\\w+): (?:(?!, \\w+: ).)*?\\.\\.\\.(?=, \\w+: |$)", "$1: <cut>")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[id=#?\\d+\\]", "[id=x]")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
      .replaceAll("file:[^\\s,\\)\\]]+", "<path>")
      .replaceAll("\\(\\d+ paths?\\)", "(x paths)")
      .replaceAll("graft_stream_\\d+", "graft_stream_x")
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[x]")
      .replaceAll("rdd_\\d+_\\d+", "rdd_x")
      // call sites of checkpoints (`localCheckpoint at Dedup.scala:637`):
      // an edit above the call moves the line, not the plan
      .replaceAll("\\.scala:\\d+", ".scala:x")
      // JVM identity leaks: byte-array/bloom toStrings, lambda classes
      .replaceAll("@[0-9a-f]{4,}", "@x")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x/0xx")
      // codegen STAGE numbering depends on subquery scheduling order and
      // varies run-to-run on an identical tree — the spans themselves
      // (which operators fuse) are what matters and they stay visible
      .replaceAll("codegen id : \\d+", "codegen id : x")
      .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen (x)")
      // a whole-line bare integer Arguments is a WholeStageCodegen's
      // stage id (real argument lists are never a lone number)
      .replaceAll("(?m)^Arguments: \\d+$", "Arguments: x")
  }

  /** sha256-48 of a normalized plan: the PLANS.md fingerprint. */
  private[graft] def fp(normalized: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Executes `df` through its own QueryExecution and returns the formatted
    * AQE-final plan, raw. */
  private[graft] def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", MetadataStringLength)
    def plan(key: String): String =
      try normalize(finalPlan(SparkEntry.queries(key)(spark, dir)))
      finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    args.drop(1) match {
      case Array(outDir, keyList) =>
        Files.createDirectories(Paths.get(outDir))
        keyList.split(",").map(_.trim).filter(_.nonEmpty).foreach { key =>
          Files.writeString(Paths.get(outDir, s"$key.txt"), plan(key) + "\n")
          println(s"[dumpplans] wrote $outDir/$key.txt")
        }
      case Array() =>
        val sb = new StringBuilder
        sb.append(s"# PLANS — executed physical plan fingerprints (${Paths.get(dir).getFileName}, AQE-final)\n\n")
        sb.append("Generated by `graft.examples.DumpPlans`: one row per registered key,\n")
        sb.append("the sha256-48 of its normalized executed plan and what to look for in\n")
        sb.append("it (the note in the key's record; `PlanSpec` asserts these properties\n")
        sb.append("in CI). A changed hash = a changed physical plan (exprIds/lambda\n")
        sb.append("variables/statistics/paths/codegen-stage numbering/JVM identities\n")
        sb.append("canonicalized). Caveat: these keys sit on AQE decision boundaries\n")
        sb.append("(which join side is built, broadcast against sort-merge), and their\n")
        sb.append("FINAL plans were measured varying run to run: q183, q232, q238,\n")
        sb.append("q257, q258, q268, q282, q301, q302, q307, q314, q357, q383, q404,\n")
        sb.append("q417, q424, q426, q438, q450, q451, q457 and q458.\n")
        sb.append("The full normalized text a row hashes comes from\n")
        sb.append("`DumpPlans <sfDir> <outDir> <key,...>`.\n\n")
        sb.append("| key | plan fp | what to look for |\n|---|---|---|\n")
        SparkEntry.registry.sortBy(_.name).foreach { e =>
          sb.append(s"| ${e.name} | `${fp(plan(e.name))}` | ${e.note.replace("|", "\\|")} |\n")
        }
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println(s"wrote PLANS.md (${sb.length} chars)")
      case _ =>
        sys.error("usage: DumpPlans [sfDir] | DumpPlans <sfDir> <outDir> <key,...>")
    }
    spark.stop()
  }
}
