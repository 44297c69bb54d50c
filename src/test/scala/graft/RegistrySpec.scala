package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry after the per-family split (round-13 verdict item 8):
  * the merged maps must carry EXACTLY the canonical key set — a part file
  * accidentally dropping, duplicating, or renaming an entry fails here, not
  * silently at the driver's gate. The canonical list is a committed test
  * resource; appending a NEW key is a deliberate two-line change (entry +
  * resource line).
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

  test("every query key has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty && (o -- q).isEmpty,
      s"noOracle=${(q -- o).toSeq.sorted.mkString(",")} noQuery=${(o -- q).toSeq.sorted.mkString(",")}")
  }

  test("no part file registers a key another part already holds") {
    val parts = Seq(
      "RegistryReference" -> RegistryReference.queries,
      "RegistryAnalyticsGraph" -> RegistryAnalyticsGraph.queries,
      "RegistryAnnDedup" -> RegistryAnnDedup.queries,
      "RegistryPipelineOps" -> RegistryPipelineOps.queries,
      "RegistryStatsMl" -> RegistryStatsMl.queries,
      "RegistryWarehouseText" -> RegistryWarehouseText.queries)
    val all = parts.flatMap { case (n, qs) => qs.map(q => (q._1, n)) }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"duplicate keys across parts: $dupes")
    // the retired keys (round 17) live in NO part file — SparkEntry
    // composes them onto their twins' code, so the canonical set is the
    // part union plus exactly that alias map
    assert(all.size + SparkEntry.retiredToTwins.size == canonical.size)
    assert(SparkEntry.retiredToTwins.keySet.intersect(all.map(_._1).toSet).isEmpty,
      "a retired key must not ALSO be registered in a part file")
  }
}
