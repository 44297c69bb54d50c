package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry. Each key is one record in its family part's `keys`
  * Seq (`Registry*.scala`): a [[SparkEntry.Key]] holds its frame, oracle and
  * plan note, a [[SparkEntry.Alias]] names the key it runs. The records must
  * carry EXACTLY the canonical key set — a part file accidentally dropping,
  * duplicating, or renaming a record fails here, not silently at the
  * driver's gate. The canonical list is a committed test resource; appending
  * a NEW key is a deliberate two-line change (record + resource line).
  */
class RegistrySpec extends AnyFunSuite {

  private val canonical: Set[String] = {
    val in = getClass.getResourceAsStream("/registry_keys.txt")
    try scala.io.Source.fromInputStream(in).getLines().filter(_.nonEmpty).toSet
    finally in.close()
  }

  test("queries carries exactly the canonical key set") {
    val got = SparkEntry.queries.keySet
    val missing = canonical -- got
    val extra = got -- canonical
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.toSeq.sorted.mkString(",")} extra=${extra.toSeq.sorted.mkString(",")}")
  }

  // The two slips a nested stripMargin/interpolation fold can make: a margin
  // bar left on a line (or a `||` line stripped down to one `|`), and a `${`
  // that was never interpolated. Either one only fails at the DuckDB replay.
  test("no oracle line starts with a lone margin bar or holds an unexpanded interpolation") {
    val slips = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (key, sql) =>
      sql.linesIterator.zipWithIndex.collect {
        case (line, i) if line.trim.matches("""\|(?!\|).*""") || line.contains("${") =>
          s"$key line ${i + 1}: $line"
      }
    }
    assert(slips.isEmpty, slips.mkString("\n"))
  }

  // Each key is one record in its family part; SparkEntry's maps are
  // projections of them, so a pairing slip can only show up here.
  test("every query key has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty && (o -- q).isEmpty,
      s"noOracle=${(q -- o).toSeq.sorted.mkString(",")} noQuery=${(o -- q).toSeq.sorted.mkString(",")}")
    val entries = SparkEntry.registry
    val keys = entries.collect { case k: SparkEntry.Key => k.name }.toSet
    val strays = entries.collect { case a: SparkEntry.Alias if !keys(a.twin) => s"${a.name} -> ${a.twin}" }
    assert(strays.isEmpty, s"aliases whose twin is no key record: ${strays.mkString(", ")}")
    // an oracle that reads a val defined below the records sees null
    val unset = entries.collect {
      case k: SparkEntry.Key if k.oracle == null || k.oracle.trim.isEmpty => k.name
      case a: SparkEntry.Alias if a.oracle.exists(o => o == null || o.trim.isEmpty) => a.name
    }
    assert(unset.isEmpty, s"null or blank oracles: ${unset.sorted.mkString(",")}")
  }

  test("no part file registers a key another part already holds") {
    val parts = Seq(
      "RegistryReference" -> RegistryReference.keys,
      "RegistryAnalyticsGraph" -> RegistryAnalyticsGraph.keys,
      "RegistryAnnDedup" -> RegistryAnnDedup.keys,
      "RegistryPipelineOps" -> RegistryPipelineOps.keys,
      "RegistryStatsMl" -> RegistryStatsMl.keys,
      "RegistryWarehouseText" -> RegistryWarehouseText.keys)
    val all = parts.flatMap { case (part, es) => es.map(e => (e.name, part)) }
    val dupes = all.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => s"$n in ${ps.map(_._2).mkString("+")}" }
    assert(dupes.isEmpty, s"keys held by more than one record: ${dupes.toSeq.sorted.mkString(", ")}")
    // SparkEntry.registry is exactly the part union, and that union is the
    // canonical key set
    assert(SparkEntry.registry.map(_.name) == all.map(_._1))
    val names = all.map(_._1).toSet
    assert(names == canonical,
      s"missing=${(canonical -- names).toSeq.sorted.mkString(",")} extra=${(names -- canonical).toSeq.sorted.mkString(",")}")
  }
}
