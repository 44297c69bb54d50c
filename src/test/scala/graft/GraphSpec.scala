package graft

import graft.ops.{Dedup, Graph}
import org.apache.spark.sql.functions.{col, count, lit}

/** Graph ops: co-occurrence edge derivation and the integer-deterministic
  * PageRank (exact recurrence parity + partitioning invariance — the whole
  * point of scaled-long arithmetic).
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  test("coOccurrenceEdges: symmetric, loop-free, deduped across containers") {
    val rel = Seq((1L, 10L), (1L, 11L), (1L, 11L), (2L, 11L), (2L, 12L),
      (3L, 13L), (4L, 11L), (4L, 12L)).toDF("c", "e")
    val edges = Graph.coOccurrenceEdges(rel, "e", "c")
      .as[(Long, Long)].collect().toSet
    // 13 is alone in its container — no edges; (11,12) co-occurs in two
    // containers but appears once
    assert(edges == Set((10L, 11L), (11L, 10L), (11L, 12L), (12L, 11L)))
  }

  test("pageRank matches the hand-computed integer recurrence") {
    // triangle 1-2-3 plus pendant 4-1, undirected (both directions listed)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L), (1L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iterations = 2).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    val deg = Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L)
    val in = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L))
    def step(r: Map[Long, Long]): Map[Long, Long] =
      in.map { case (n, ms) =>
        n -> (150000L + 85L * ms.map(m => r(m) / deg(m)).sum / 100L)
      }
    val r0 = deg.map { case (n, _) => n -> Graph.Scale }
    val expect = step(step(r0)).toSeq.sortBy(_._1)
    assert(got == expect)
  }

  test("triangleCounts: K4 has four triangles, three per node") {
    val k4 = for {
      u <- 1L to 4L; v <- 1L to 4L if u < v
    } yield (u, v)
    val got = Graph.triangleCounts(k4.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: a square without diagonals has none") {
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(Graph.triangleCounts(sq).count() == 0)
  }

  test("triangleCounts canonicalizes mixed directions and duplicate edges") {
    // triangle 1-2-3 listed with every edge in some direction, twice
    val messy = Seq((1L, 2L), (2L, 1L), (3L, 2L), (2L, 3L), (1L, 3L), (1L, 3L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(messy).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts is invariant across partition counts") {
    val rel = (1L to 600L).map(i => (i % 41, i % 23)).toDF("c", "e")
    val edges = Graph.coOccurrenceEdges(rel, "e", "c")
    val a = Graph.triangleCounts(edges.repartition(1)).as[(Long, Long)].collect().toSet
    val b = Graph.triangleCounts(edges.repartition(7)).as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("triangleCounts fails loudly on ids outside the packed-key domain") {
    val bad = Seq((-5L, 2L), (2L, 3L), (3L, -5L)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.triangleCounts(bad).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("unsigned 32 bits")), e.getMessage)
  }

  test("coOccurrenceEdges never links entities through a NULL container") {
    val rel = Seq(
      (Some(1L), Some(10L)), // only entity in container 10 -> no pairs
      (Some(2L), Option.empty[Long]), // NULL container: no membership
      (Some(3L), Option.empty[Long]),
      (Option.empty[Long], Some(10L)) // NULL entity: ignored
    ).toDF("e", "c")
    assert(Graph.coOccurrenceEdges(rel, "e", "c").count() == 0)
  }

  test("pageRank is bit-identical across partition counts") {
    val rel = (1L to 400L).map(i => (i % 37, i % 11)).toDF("c", "e")
    val edges = Graph.coOccurrenceEdges(rel, "e", "c")
    val a = Graph.pageRank(edges.repartition(1), 3)
      .as[(Long, Long)].collect().toSet
    val b = Graph.pageRank(edges.repartition(13), 3)
      .as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("pageRank broadcast and shuffle rank joins agree bit-identically") {
    val rel = (1L to 400L).map(i => (i % 37, i % 11)).toDF("c", "e")
    val edges = Graph.coOccurrenceEdges(rel, "e", "c")
    val (bcast, shuffled) = bothArms(
      Graph.pageRank(edges, 3).as[(Long, Long)].collect().toSet)
    assert(shuffled == bcast && shuffled.nonEmpty)
  }

  // the frontier and keep joins are sized from a degree frame: without one
  // both calls would take the shuffled arm
  private def degreesOf(edges: org.apache.spark.sql.DataFrame) =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  test("bfsHopCounts broadcast and shuffled frontier joins agree bit-identically") {
    val rel = (1L to 400L).map(i => (i % 37, i % 11)).toDF("c", "e")
    val edges = Graph.coOccurrenceEdges(rel, "e", "c")
    val (bcast, shuffled) = bothArms(Graph.bfsHopCounts(edges, maxHops = 3,
      degrees = Some(degreesOf(edges))).as[(Long, Long)].collect().toSet)
    assert(shuffled == bcast && shuffled.nonEmpty)
  }

  test("kCorePeel broadcast and shuffled keep joins agree bit-identically") {
    val rel = (1L to 400L).map(i => (i % 37, i % 11)).toDF("c", "e")
    val edges = Graph.coOccurrenceEdges(rel, "e", "c")
    val (bcast, shuffled) = bothArms(Graph.kCorePeel(edges, k = 3, rounds = 3,
      initialDegrees = Some(degreesOf(edges))).as[(Long, Long)].collect().toSet)
    assert(shuffled == bcast && shuffled.nonEmpty)
  }

  test("hits broadcast and shuffled score gathers agree bit-identically") {
    val rel = (1L to 400L).map(i => (i % 37, i % 11)).toDF("h", "a")
    val (bcast, shuffled) = bothArms(Graph.hits(rel, "h", "a", iterations = 2)
      .as[(String, Long, Long)].collect().toSet)
    assert(shuffled == bcast && shuffled.nonEmpty)
  }

  test("triangleCounts broadcast and shuffled adjacency joins agree bit-identically") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val (bcast, shuffled) = bothArms(
      Graph.triangleCounts(edges).as[(Long, Long)].collect().toSet)
    assert(shuffled == bcast && shuffled.nonEmpty)
  }

  test("coOccurrenceEdgeIndex equals the direct derivation and writes once per JVM") {
    val rel = (1L to 300L).map(i => (i % 23, i % 7)).toDF("c", "e")
    val dir = tmpDir("graft_eidx") + "/idx"
    val idx = Graph.coOccurrenceEdgeIndex(rel, "e", "c", dir)
    val direct = Graph.coOccurrenceEdges(rel, "e", "c")
    assert(idx.as[(Long, Long)].collect().toSet ==
      direct.as[(Long, Long)].collect().toSet)
    def mtimes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val before = mtimes
    Graph.coOccurrenceEdgeIndex(rel, "e", "c", dir).count()
    assert(mtimes == before, "second touch rewrote the edge index")
  }

  test("co-materialized degree index matches the derived degrees, and every " +
      "degree-consuming algorithm is bit-identical with and without it") {
    val rel = (1L to 400L).map(i => (i % 19, i % 11)).toDF("c", "e")
    val dir = tmpDir("graft_didx") + "/idx"
    val edges = Graph.coOccurrenceEdgeIndex(rel, "e", "c", dir)
    val degIdx = Graph.coOccurrenceDegreeIndex(rel, "e", "c", dir)
    val derived = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("degree"))
    assert(degIdx.as[(Long, Long)].collect().toSet ==
      derived.as[(Long, Long)].collect().toSet)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Graph.triangleCounts(edges, degrees = Some(degIdx))) ==
      rows(Graph.triangleCounts(edges)))
    assert(rows(Graph.clusteringCoefficient(edges, degrees = Some(degIdx))) ==
      rows(Graph.clusteringCoefficient(edges)))
    assert(rows(Graph.kCorePeel(edges, k = 3, rounds = 2,
        initialDegrees = Some(degIdx))) ==
      rows(Graph.kCorePeel(edges, k = 3, rounds = 2)))
    assert(rows(Graph.bfsHopCounts(edges, maxHops = 2, degrees = Some(degIdx))) ==
      rows(Graph.bfsHopCounts(edges, maxHops = 2)))
  }

  test("rank-frame broadcast guard is byte-based, not a row-count proxy") {
    import org.apache.spark.sql.types._
    // a (node, rank) frame of two longs: 32 B/row estimate, so the 2-long
    // frame keeps the old 10M-row ceiling exactly
    assert(Graph.fitsRankBroadcast(10000000L, LongType, LongType))
    assert(!Graph.fitsRankBroadcast(10000001L, LongType, LongType))
    // a widened frame (e.g. a 64-float payload riding along) shrinks the
    // row ceiling automatically — the case a row-count proxy under-estimates
    // (defaultSize adds the array estimate)
    assert(!Graph.fitsRankBroadcast(10000000L, LongType, LongType, ArrayType(FloatType)))
    // Spark's broadcast-off value turns every gate to its fallback arm
    assert(Graph.fitsRankBroadcast(1L, LongType, LongType))
    withSQLConf(broadcastOff) {
      assert(!Graph.fitsRankBroadcast(1L, LongType, LongType))
    }
  }

  test("associationRules: hand-computed support/confidence/lift, floor applied") {
    // baskets: {1,2,3}, {1,2}, {1,2}, {3} → pair (1,2)×3, (1,3)×1, (2,3)×1
    val rel = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L), (30L, 2L), // duplicate line must not double-count
      (40L, 3L)
    ).toDF("basket", "item")
    val out = Graph.associationRules(rel, "item", "basket", minPairs = 2L)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    // support 3/4 = 7500bp; c(1)=3, c(2)=3 → conf 10000bp both directions;
    // lift = 3·4 / (3·3) = 1.3333
    assert(out == Seq((1L, 2L, 3L, 7500L, 10000L, 10000L, 1.3333)))
  }

  test("associationRules drops NULL baskets/items instead of pairing them") {
    val rel = Seq(
      (Some(1L), Some(1L)), (Some(1L), Some(2L)),
      (None, Some(1L)), (None, Some(2L)),        // null basket: no phantom pair
      (Some(2L), Some(1L)), (Some(2L), Some(2L)),
      (Some(3L), None)                           // null item: ignored
    ).toDF("basket", "item")
    val out = Graph.associationRules(rel, "item", "basket", minPairs = 2L)
      .select("x", "y", "n_pairs").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L)))
  }

  test("clusteringCoefficient: triangles over wedges, exact bp") {
    // triangle {1,2,3} plus {1,2,4}: nodes 3,4 are fully clustered
    // (deg 2, 1 triangle, 1 wedge); nodes 1,2 have deg 3 → 3 wedges, 2 closed
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.clusteringCoefficient(edges)
      .orderBy(col("coeff_bp").desc, col("node"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (3L, 2L, 1L, 1L, 10000L), (4L, 2L, 1L, 1L, 10000L),
      (1L, 3L, 2L, 3L, 6666L), (2L, 3L, 2L, 3L, 6666L)))
  }

  test("kCorePeel: pendant nodes peel off, the core's degrees recount") {
    // triangle {1,2,3} with pendant 4—1: at k=2 the pendant drops in
    // round 1 and node 1's degree recounts from 3 to 2
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.kCorePeel(edges, k = 2, rounds = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("bfsHopCounts: max-degree seed, hops count first-reach only") {
    // path 2—1—3—4 plus 2—5: node 1 and 3 tie on degree 2 → seed 1
    val und = Seq((1L, 2L), (1L, 3L), (3L, 4L), (2L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.bfsHopCounts(edges, maxHops = 3)
      .orderBy("hop").as[(Long, Long)].collect().toSeq
    // hop0 {1}, hop1 {2,3}, hop2 {4,5}
    assert(out == Seq((0L, 1L), (1L, 2L), (2L, 2L)))
  }

  test("resourceAllocationTopK scores non-adjacent pairs by 1/deg of shared neighbors") {
    // path 1—2—3 plus 2—4: center 2 (deg 3) implies the missing pairs
    // (1,3)/(1,4)/(3,4) each at Scale div 3; existing edges never surface
    val und = Seq((1L, 2L), (2L, 3L), (2L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.resourceAllocationTopK(edges, k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    val w = Graph.Scale / 3
    assert(out == Seq((1L, 3L, w), (1L, 4L, w), (3L, 4L, w)))
  }

  test("resourceAllocationTopK: maxDegree drops hub centers before fan-out") {
    // star center 10 with 5 leaves: capping degree at 4 removes the only
    // center, so no pair scores at all
    val und = (1L to 5L).map(i => (10L, i))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(Graph.resourceAllocationTopK(edges, k = 10, maxDegree = 4).count() == 0)
    // uncapped, every leaf pair scores Scale div 5 through the center
    val got = Graph.resourceAllocationTopK(edges, k = 100)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size == 10 && got.forall(_._3 == Graph.Scale / 5))
  }

  test("personalizedPageRank matches the hand-computed seeded recurrence") {
    // 3-cycle 1→2→3→1, seed {1}: r0 = {1: 10⁶};
    // r1 = {1: 150000 (restart), 2: 850000};
    // r2 = {1: 150000, 2: 127500, 3: 722500};
    // r3 = {1: 614125 + 150000, 2: 127500, 3: 108375} — mass flows back to
    // the seed's in-neighborhood, non-seeds never get restart
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.personalizedPageRank(edges, col("src") === 1, iterations = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 764125L), (2L, 127500L), (3L, 108375L)))
  }

  test("modularity: two disjoint triangles score exactly 0.5") {
    // m = 6, two components, each e_c = 3, d_c = 6:
    // Q = 2 · (3/6 − (6/12)²) = 0.5; one giant clique instead → Q = 0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (11L, 12L), (12L, 13L), (11L, 13L))
      .toDF("id_a", "id_b")
    val out = Graph.modularity(tri, Dedup.connectedComponents(tri))
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((2L, 6L, 0.5)))
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val one = Graph.modularity(k4, Dedup.connectedComponents(k4))
      .as[(Long, Long, Double)].collect().toSeq
    assert(one == Seq((1L, 6L, 0.0)))
  }

  test("personalizedPageRank is bit-identical across partitionings/strategies") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def ppr(parts: Int) = Graph.personalizedPageRank(edges.repartition(parts),
      col("src") % 7 === 0, iterations = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val a = ppr(1)
    val b = withSQLConf(broadcastOff)(ppr(13))
    assert(a == b && a.nonEmpty)
  }
}
