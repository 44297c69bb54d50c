package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType}

/** Graph scoring over relational edge lists — the crawl-frontier /
  * item-importance signal of a large-scale data pipeline (which pages or
  * items to fetch, keep, or upsample next). The reference scores activity
  * with flat counts (`Data Analysis/Reddit_4chan_Analysis.py` groupbys); a
  * link-structure rank is the standard upgrade at corpus scale.
  *
  * Determinism discipline: ranks are SCALED LONGS (1.0 ≡ `Scale`), every
  * per-iteration contribution is an integer floor-division, and integer sums
  * are order-independent — so the result is bit-identical across partition
  * counts, retries, and engines (a float PageRank's `sum(double)` is
  * accumulation-order-dependent and can never hash-match an oracle).
  */
object Graph {

  val Scale = 1000000L

  /** Undirected co-occurrence edges from an (entity, container) relation:
    * two entities are linked when they share a container (co-purchased
    * parts, co-cited docs). Output: (src, dst) distinct, both directions,
    * src ≠ dst.
    *
    * Scale shape: ONE hash aggregate collapses each container to its
    * (deduped, sorted) entity set, the pair fan-out is a map-side nested
    * explode over that array, and one final distinct dedups across
    * containers — two exchanges total, no join (the container self-join
    * formulation this replaces needed a third exchange plus the join, for
    * the same output; measured ~25% faster on the sf0.1 basket graph).
    * Fan-out is bounded by the per-container entity count — for order
    * baskets a small constant (TPC-H ≈ 4 lines ⇒ ≈ 12 directed pairs per
    * order). A pathological hot container (one basket with 10^5 items)
    * needs a cap upstream, same discipline as ngramJaccard's df-cap —
    * its pairs² blow-up is a property of the data, not the plan.
    *
    * NOTE (measured, not assumed): a half-width variant emitting only
    * src < dst pairs via double `posexplode` + position filter (for
    * consumers that canonicalize anyway, like triangle counting) was tried
    * and REVERTED — the extra position columns through the generate stage
    * cost more than the halved distinct saved (q125: 3.3 s → 3.7 s at
    * sf0.1); at this per-container fan-out the distinct is not the
    * bottleneck. */
  def coOccurrenceEdges(rel: DataFrame, entityCol: String,
                        containerCol: String): DataFrame =
    rel
      // a NULL container is "no container", not a shared one: groupBy would
      // collect every such entity into one phantom clique (the equi-join
      // formulation dropped them implicitly — NULL keys never match)
      .filter(col(containerCol).isNotNull && col(entityCol).isNotNull)
      .groupBy(col(containerCol).as("__c"))
      .agg(sort_array(collect_set(col(entityCol))).as("__es"))
      .select(explode(col("__es")).as("src"), col("__es"))
      .select(col("src"), explode(col("__es")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Write-once co-occurrence edge table: [[coOccurrenceEdges]] persisted
    * to parquet once per (input, derivation) per JVM and served as a plain
    * scan to every graph consumer. PageRank, triangles, clustering
    * coefficient, k-core, BFS, and personalized PageRank all start from
    * the SAME edge list; re-deriving it per consumer is six container
    * groupBys + pair explodes + distincts over the full relation — a
    * production graph pipeline materializes the edge table once per ingest
    * and every algorithm scans it (at 100 TB the difference between one
    * relation pass and six). `indexDir` must encode the input identity AND
    * the (entity, container) derivation. */
  def coOccurrenceEdgeIndex(rel: DataFrame, entityCol: String,
                            containerCol: String, indexDir: String): DataFrame = {
    val spark = rel.sparkSession
    materializeEdgeArtifacts(rel, entityCol, containerCol, indexDir)
    spark.read.parquet(indexDir)
  }

  /** The (node, degree) frame CO-DERIVED with [[coOccurrenceEdgeIndex]]:
    * every graph consumer of the shared edge table (triangles, clustering
    * coefficient, k-core round 1, BFS seed, assortativity, two-hop caps,
    * neighborhood Jaccard) starts by aggregating the same degrees — seven
    * edge-list shuffles for one |nodes|-row answer. A production pipeline
    * lands the degree table next to the edge table in the same
    * materialization job; here it is one extra scan of the just-written
    * parquet (the symmetric distinct list, so degree = src-row count),
    * after which every consumer reads |nodes| rows instead of
    * re-aggregating m edges. */
  def coOccurrenceDegreeIndex(rel: DataFrame, entityCol: String,
                              containerCol: String, indexDir: String): DataFrame = {
    val spark = rel.sparkSession
    materializeEdgeArtifacts(rel, entityCol, containerCol, indexDir)
    spark.read.parquet(degreeDir(indexDir))
  }

  private def degreeDir(indexDir: String): String = s"$indexDir.deg"

  private def materializeEdgeArtifacts(rel: DataFrame, entityCol: String,
                                       containerCol: String,
                                       indexDir: String): Unit = {
    val spark = rel.sparkSession
    graft.storage.Materialize.once(indexDir, rel) {
      coOccurrenceEdges(rel, entityCol, containerCol).write.parquet(indexDir)
      spark.read.parquet(indexDir)
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).cast("long").as("degree"))
        .write.mode("overwrite").parquet(degreeDir(indexDir))
    }
  }

  /** Damped PageRank (d = 0.85) for a fixed iteration count, in scaled-long
    * arithmetic:
    *
    *   r₀(n)   = Scale
    *   rₖ₊₁(n) = 0.15·Scale + (85 · Σ_{(m,n)∈E} (rₖ(m) div deg(m))) div 100
    *
    * Node set = nodes with at least one out-edge (for the symmetric edge
    * lists [[coOccurrenceEdges]] emits, that is every connected node, so
    * there are no dangling-mass corrections to apply).
    *
    * Scale shape: the edge list is collapsed ONCE into an adjacency-list
    * frame (|nodes| rows, out-neighbors as an array — the degree is the
    * array size), so each iteration is a node-to-node join of the rank
    * frame against the adjacency frame followed by a map-side explode and
    * one `groupBy(dst)` partial-aggregated sum. Contributions fan out
    * AFTER the join, inside the stage — the per-iteration shuffles carry
    * |nodes|-sized frames, never the raw edge list (the edge-keyed join
    * formulation shuffled all m edge rows every iteration; this is the
    * standard adjacency formulation of every public Pregel-style
    * implementation). Skew bound: one row per node — a celebrity node's
    * adjacency array is that node's row, the explode streams it.
    *
    * Output: (node, rank) — rank in Scale units.
    *
    * Join strategy: broadcasting the |nodes|-row rank frame makes each
    * iteration's join map-side, but a graph beyond broadcast range (driver
    * memory / the 8 GB broadcast cap) would fail at runtime instead of
    * degrading. The adjacency checkpoint has already materialized the node
    * frame, so counting nodes is a cheap second action over cached blocks,
    * and [[fitsRankBroadcast]] takes the broadcast only when the frame's
    * estimated bytes are provably inside range. Results are bit-identical
    * either way (integer arithmetic, so the join strategy cannot leak into
    * values). */
  def pageRank(edges: DataFrame, iterations: Int = 3): DataFrame = {
    val adj = adjacency(edges).localCheckpoint()
    var ranks = adj.select(col("src").as("node"), lit(Scale).as("rank"))
    val bcast = fitsRankBroadcast(adj.count(), ranks.schema.map(_.dataType): _*)
    // the rank frame is |nodes| rows of two longs — for any graph whose
    // adjacency fits memory it broadcasts, making each iteration's join
    // map-side over the (stationary, checkpointed) adjacency frame; the
    // only exchange per iteration is then the contribution groupBy. Beyond
    // broadcast range the join falls back to shuffling the two |nodes|-row
    // frames (never the edge list).
    for (_ <- 1 to iterations) {
      ranks = pageRankStep(adj, ranks, bcast).localCheckpoint(eager = false)
    }
    ranks
  }

  /** Personalized PageRank: [[pageRank]] with the restart mass pinned to a
    * SEED set — "importance relative to THESE items", the
    * recommendation/expansion primitive (seed a user's history or a topic's
    * anchor docs, read off the neighborhood by stationary mass) where
    * global PageRank answers only "important overall". Same scaled-long
    * arithmetic (rank div deg contributions, 85/15 damping in exact
    * integer basis), so results are bit-identical across partitionings and
    * oracle-able; rank_0 = Scale on seeds, 0 elsewhere, and each step adds
    * the 0.15·Scale restart ONLY on seed nodes (a full-outer merge of the
    * contribution frame with the seed frame — nodes outside the seed set
    * keep pure propagated mass, unreached nodes simply stay absent, as in
    * [[pageRank]]'s receiving-nodes convention).
    *
    * Scale shape: identical cost class to [[pageRank]] — the adjacency
    * is checkpointed once; per iteration one broadcast-or-shuffled
    * rank join + one node-keyed contribution exchange + one node-keyed
    * full-outer with the (≤ |nodes|-row) seed frame. */
  def personalizedPageRank(edges: DataFrame, seedPred: Column,
                           iterations: Int = 3): DataFrame = {
    val adj = adjacency(edges).localCheckpoint()
    // seedPred is a predicate over the node id column `src` (seeds outside
    // the graph's source set carry no out-edges and no mass — excluded)
    val seeds = adj.where(seedPred).select(col("src").as("__snode"))
      .localCheckpoint(eager = false)
    var ranks = seeds.select(col("__snode").as("node"), lit(Scale).as("rank"))
    val bcast = fitsRankBroadcast(adj.count(), ranks.schema.map(_.dataType): _*)
    for (_ <- 1 to iterations) {
      val in = adj
        .join(if (bcast) broadcast(ranks) else ranks, adj("src") === ranks("node"))
        .select(explode(col("__out")).as("dst"), expr("rank div __deg").as("__contrib"))
        .groupBy(col("dst"))
        .agg(expr("(85 * sum(__contrib)) div 100").as("__cin"))
      ranks = in
        .join(seeds, in("dst") === seeds("__snode"), "full_outer")
        .select(coalesce(col("dst"), col("__snode")).as("node"),
          (when(col("__snode").isNotNull, lit(15L * Scale / 100L)).otherwise(lit(0L)) +
            coalesce(col("__cin"), lit(0L))).as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks
  }

  /** Newman modularity Q of a node partition over an undirected pair
    * list — the health metric for a clustering (here: is the near-dup
    * graph a healthy forest of small clusters, or one over-merged blob?).
    * Q = Σ_c [e_c/m − (d_c/2m)²]; for a CONNECTED-COMPONENT partition
    * there are no cut edges, so Q = 1 − Σ(d_c/2m)² reads directly as
    * degree-mass concentration: near 1 ⇒ many small clusters, near 0 ⇒
    * one giant component — the over-merge alarm a banding/threshold
    * change should be gated on.
    *
    * Exactness: the numerator Σ(4·e_c·m − d_c²) rides decimal(38,0)
    * (d_c² can pass Long on a hub-heavy partition); the surfaced Q is ONE
    * display division by the exactly-computed 4m². `m` is a driver scalar
    * from a count (count-sized action, house rule).
    *
    * Scale shape: one degree aggregate over the pair list, two
    * component-keyed aggregates, a |components|-row merge — no window, no
    * pair-squared anything. */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(eager = false)
    val m = p.count()
    val deg = p.select(col("id_a").as("node"))
      .unionAll(p.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val ec = p.join(labels.select(col("node").as("id_a"), col("component")), "id_a")
      .groupBy(col("component")).agg(count(lit(1)).as("__ec"))
    val dc = deg.join(labels, "node")
      .groupBy(col("component")).agg(sum(col("__d")).as("__dc"))
    dc.join(ec, Seq("component"), "left")
      .agg(count(lit(1)).as("__nc"),
        sum(lit(4L).cast(dec) * coalesce(col("__ec"), lit(0L)) * lit(m) -
          col("__dc").cast(dec) * col("__dc")).as("__qnum"))
      .filter(lit(m) > 0)
      .select(col("__nc").cast("long").as("n_components"),
        lit(m).as("n_edges"),
        Num.roundz(col("__qnum").cast("double") /
          (lit(4L).cast(dec) * lit(m) * lit(m)).cast("double"), 4).as("modularity"))
  }

  /** Auto-broadcast BYTE budget of [[fitsRankBroadcast]] (sized first for
    * [[pageRank]]'s per-iteration rank frame): 320 MB of estimated packed rows — comfortably inside the 8 GB
    * broadcast hard cap and a normally-sized driver. For today's
    * (node, rank) long pair (two 8-byte fields + 16 bytes estimated row
    * overhead = 32 B) this is exactly the previous 10M-row ceiling, but
    * the guard is byte-based: a future caller that widens the rank frame
    * (a payload column riding along) shrinks the row ceiling
    * automatically instead of silently under-estimating bytes behind a
    * row-count proxy. Measured at the 10× probe (SCALE.md): the broadcast
    * path saves one exchange per iteration and the auto count() adds no
    * measurable cost over the already-checkpointed adjacency. */
  val AutoBroadcastRankBytes: Long = 320L * 1000 * 1000

  /** The one gate that picks every size-conditional plan arm (rank, label,
    * keep, frontier and score frames, the triangle adjacency, the set-cover
    * single pass, q296 and q324): does a |rows|-row frame with fields of
    * types `fields` fit [[AutoBroadcastRankBytes]]? Bytes are Σ defaultSize
    * + 16 B per row. A static estimate (not `plan.stats.sizeInBytes`) on
    * purpose: the rank frame is mid-iteration lineage whose stats are a
    * join estimate, while rows × fixed-width fields is exact for long frames.
    *
    * It also answers no whenever the active session's
    * `spark.sql.autoBroadcastJoinThreshold` is negative, Spark's own
    * "broadcast off" value (read through `SQLConf.get`, as Spark's planner
    * reads it). Every caller then takes its shuffle or iterative arm, the
    * shape a graph beyond broadcast range runs; the specs and a Verify run
    * with `-Dspark.sql.autoBroadcastJoinThreshold=-1` check those arms. */
  private[graft] def fitsRankBroadcast(rows: Long, fields: DataType*): Boolean =
    SQLConf.get.autoBroadcastJoinThreshold >= 0 &&
      rows * (fields.map(_.defaultSize.toLong).sum + 16L) <= AutoBroadcastRankBytes

  /** Adjacency-list collapse of an edge list: out-neighbors (sorted — the
    * frame itself, not just results, is deterministic across shuffles) and
    * out-degree, one row per node. */
  private[graft] def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("__out"),
        count(lit(1)).as("__deg"))

  /** One PageRank iteration as a standalone frame — exposed so PlanSpec can
    * assert the per-iteration plan shape (rank-frame broadcast, single
    * node-keyed contribution exchange), which the lazy checkpoint in
    * [[pageRank]]'s loop hides from the final query's explain. */
  private[graft] def pageRankStep(adj: DataFrame, ranks: DataFrame,
                                  broadcastRanks: Boolean): DataFrame =
    adj
      .join(if (broadcastRanks) broadcast(ranks) else ranks,
        adj("src") === ranks("node"))
      .select(explode(col("__out")).as("dst"), expr("rank div __deg").as("__contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("__contrib")).as("__in"))
      .select(col("dst").as("node"),
        (lit(15L * Scale / 100L) + expr("(85 * __in) div 100")).as("rank"))

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal (community density, spam-ring detection, link-farm
    * flagging) that flat degree counts miss.
    *
    * Algorithm: degree-based edge orientation + wedge closing — the standard
    * distributed formulation (Suri & Vassilvitskii, WWW'11 "Counting
    * Triangles and the Curse of the Last Reducer"). Every edge is oriented
    * from its lower-(degree, id) endpoint to its higher one; each triangle
    * then has exactly ONE vertex with two out-edges into it, so enumerating
    * out-neighbor pairs (wedges) and closing them against the oriented edge
    * list counts each triangle exactly once. The orientation is the scale
    * lever: out-degrees are bounded by O(√m) regardless of raw degree skew,
    * collapsing wedge volume from Σ deg² (quadratic in the hottest hub) to
    * O(m^1.5) — the "last reducer" on a celebrity node never happens.
    *
    * Realization: edge-centric ADJACENCY INTERSECTION, not a wedge join.
    * The oriented out-neighbor lists are collapsed to one sorted array per
    * node (each array O(√m) by the orientation bound); every oriented edge
    * (a, b) then closes its triangles as `array_intersect(N⁺(a), N⁺(b))` —
    * each common neighbor c means the triangle {a→b, a→c, b→c}, counted
    * exactly once because (a, b) is the unique edge whose BOTH endpoints
    * point at c. An earlier formulation materialized every wedge as a join
    * row (Σ outdeg² rows probing a broadcast hash of the closing edges);
    * the intersection does the same O(m^1.5) work as per-row array scans
    * inside one codegen stage — no wedge row ever exists, and the measured
    * cost at sf0.1 dropped 2.2× (7.9 s → ~3 s; the residual is the
    * co-occurrence derivation itself — the container groupBy + pair
    * explode + distinct — which every consumer of the edge list pays).
    *
    * Shuffle shape: degree agg → orientation joins → ONE adjacency groupBy;
    * the adjacency frame (|nodes| rows, Σ sizes = m longs ≈ the edge list
    * itself) is then BROADCAST to both sides, so edges never shuffle for
    * the closing — the only exchange after it is the 3·|triangles| credit
    * aggregate, map-side combined. For a graph whose adjacency frame
    * outgrows a broadcast ([[fitsRankBroadcast]]) the joins fall back to
    * shuffles (same result; the Σ outdeg² wedge volume returns as shuffle
    * width on the second join — the documented cost).
    *
    * Input may carry either or both directions; it is canonicalized and
    * de-duplicated here. Output: (node, triangles), nodes with ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame,
                     degrees: Option[DataFrame] = None): DataFrame = {
    // packed-key precondition enforced IN the plan (zero extra jobs): a
    // negative or >32-bit id would sign-extend into the degree bits and
    // silently corrupt orientation compares — fail loudly instead
    val idOk = col("u") >= 0 && col("u") < lit(1L << 32) &&
      col("v") >= 0 && col("v") < lit(1L << 32)
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .filter(when(idOk, lit(true)).otherwise(raise_error(
        lit("triangleCounts: node ids must fit in unsigned 32 bits " +
          "(packed orientation-key precondition)"))))
      .distinct()
      .localCheckpoint()
    // `degrees` (node, degree) must be THIS edge list's degree frame (the
    // co-materialized index, [[coOccurrenceDegreeIndex]]) — it replaces
    // one m-row explode+aggregate with a |nodes|-row scan
    val deg = degrees match {
      case Some(d) => d.select(col("node").as("n"), col("degree").cast("long").as("d"))
      case None => und.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    }
    // orientation key (degree, id) packed into one long (degree high bits):
    // total order, so ties can't create cycles. Precondition: ids and
    // degrees fit in 32/31 bits (any realistic key domain).
    // the adjacency frame holds m ids over ≤ m rows, so m rows of two
    // longs bound it from above; if it fits a broadcast, the |nodes|-row
    // degree frame certainly does, and the orientation then never
    // shuffles the edge list
    val bAdj = fitsRankBroadcast(und.count(), LongType, LongType)
    def side(df: DataFrame) = if (bAdj) broadcast(df) else df
    val annotated = und
      .join(side(deg.select(col("n").as("u"), col("d").as("__du"))), Seq("u"))
      .join(side(deg.select(col("n").as("v"), col("d").as("__dv"))), Seq("v"))
    def okey(d: Column, n: Column) = shiftleft(d, 32).bitwiseOR(n)
    val uFirst = okey(col("__du"), col("u")) < okey(col("__dv"), col("v"))
    val oriented = annotated.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"))
    val adj = oriented.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("__nb"))
      .localCheckpoint()
    // the edge stream is re-derived by EXPLODING the adjacency frame — each
    // row arrives with N⁺(a) already attached, so only one (broadcast) join
    // remains, fetching N⁺(b); a b-node with no out-edges closes nothing
    // (inner join drops it)
    val closed = adj
      .select(col("a"), explode(col("__nb")).as("b"), col("__nb").as("__na"))
      .join(side(adj.select(col("a").as("b"), col("__nb"))), Seq("b"))
      .withColumn("__t", array_intersect(col("__na"), col("__nb")))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
    // credits: each common neighbor c once, a and b once PER closed triangle
    closed
      .select(explode(concat(col("__t"),
        array_repeat(col("a"), col("__n")),
        array_repeat(col("b"), col("__n")))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient per node: closed triangles over possible
    * wedges, tri / (deg·(deg−1)/2) — "how clique-like is this node's
    * neighborhood?" (the community-structure readout on top of
    * [[triangleCounts]]). Entirely exact: deg·(deg−1) is even so wedges is
    * an exact long, and the coefficient surfaces in basis points via
    * non-negative integer division. Nodes of degree < 2 have no wedges
    * and drop out; triangle-less nodes surface with coefficient 0.
    *
    * Scale shape: [[triangleCounts]] does the heavy lifting (oriented
    * adjacency, map-side closing); degrees are one count over the
    * canonical undirected pair list; the final join keys on node — the
    * |nodes|-row frames, never edges. */
  def clusteringCoefficient(edges: DataFrame,
                            degrees: Option[DataFrame] = None): DataFrame = {
    val deg = degrees match {
      case Some(d) => d.select(col("node"), col("degree").as("deg"))
      case None =>
        val und = edges.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
          .filter(col("u") < col("v")).distinct()
        und.select(col("u").as("node"))
          .union(und.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    }
    deg.filter(col("deg") >= 2)
      .join(triangleCounts(edges, degrees = degrees), Seq("node"), "left")
      .select(col("node"), col("deg").cast("long").as("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("wedges", expr("deg * (deg - 1) div 2"))
      .withColumn("coeff_bp", expr("(10000 * triangles) div wedges"))
  }

  /** Bounded k-core peeling: `rounds` iterations of "drop every node whose
    * degree is < k, then recount" over an undirected edge list — the dense
    * spam/bot subgraph extractor. A FIXED round count (not loop-to-
    * fixpoint) keeps the result a deterministic function of the input on
    * every engine; callers wanting the true k-core raise `rounds` until
    * the output stops shrinking (each round can only remove nodes, so
    * convergence is monotone).
    *
    * Scale shape: per round, one (node)-count aggregate over the canonical
    * pair list and two semi-joins restricting the pair list to surviving
    * endpoints — all key-hash exchanges on node ids; the pair list only
    * ever shrinks. The survivor frame is checkpointed per round so the
    * lineage stays flat across iterations (the q120 PageRank discipline).
    * Output: surviving (node, deg) with the degree AFTER the last peel. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 3,
                initialDegrees: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad kCorePeel params ($k, $rounds)")
    var pairs = edges.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") < col("v")).distinct().localCheckpoint(eager = false)
    // the keep frame is ≤ |nodes| rows of one long — when the
    // co-materialized degree index is present its row count (a metadata-
    // cheap |nodes|-row scan) decides the [[pageRank]] broadcast rule, and
    // each semi-join then probes a broadcast instead of re-exchanging the
    // (monotonically shrinking, but m-row) pair list every round; beyond
    // broadcast range, or with no index to size against, the shape is the
    // round-16 one (pair-list hash exchanges). Survivors are identical
    // either way. The keep frame sizes from the live key type of the pair
    // list, not a hardcoded LongType.
    val bKeep = initialDegrees.exists(d =>
      fitsRankBroadcast(d.count(), pairs.schema("u").dataType))
    def side(df: DataFrame) = if (bKeep) broadcast(df) else df
    for (r <- 1 to rounds) {
      // round 1's degrees are the FULL graph's — the co-materialized index
      // frame serves them without an edge aggregate; later rounds peel a
      // shrunk list and must recount
      val deg = initialDegrees match {
        case Some(d) if r == 1 =>
          d.select(col("node"), col("degree").as("d"))
        case _ => pairs.select(col("u").as("node"))
          .union(pairs.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
      }
      val keep = deg.filter(col("d") >= k).select(col("node"))
      pairs = pairs
        .join(side(keep.select(col("node").as("u"))), Seq("u"), "left_semi")
        .join(side(keep.select(col("node").as("v"))), Seq("v"), "left_semi")
        .localCheckpoint(eager = false)
    }
    pairs.select(col("u").as("node"))
      .union(pairs.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Bounded BFS from the graph's busiest node: per hop count of nodes
    * first reached at that distance — the "how far does influence spread"
    * profile. The seed is deterministic (max degree, ties to the lowest
    * node id); a FIXED hop bound keeps the result a pure function of the
    * input (the [[kCorePeel]] discipline).
    *
    * Scale shape: per hop, one semi-join expanding the frontier through
    * the (stationary, checkpointed) edge list and one anti-join against
    * the visited set — all node-keyed; the frontier frame is |reached
    * nodes|, never edges. Hop counts are the only driver-visible rows. */
  def bfsHopCounts(edges: DataFrame, maxHops: Int = 3,
                   degrees: Option[DataFrame] = None): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val und = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(eager = false)
    val deg = degrees match {
      case Some(d) => d.select(col("node"), col("degree").as("d"))
      case None => und.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    }
    // frontier and visited are ≤ |nodes| rows of two longs — when the
    // co-materialized degree index is present, its row count (a metadata-
    // cheap |nodes|-row scan) decides the [[pageRank]] broadcast rule and
    // every hop's semi/anti join then probes a broadcast instead of
    // re-exchanging the m-row edge list; beyond broadcast range, or with no
    // index to size against, the hops keep the round-16 edge-hash shape.
    // Hop counts are identical either way. The node field sizes from the
    // live node type, not a hardcoded LongType.
    val bFrontier = degrees.exists(d =>
      fitsRankBroadcast(d.count(), und.schema("src").dataType, LongType))
    def side(df: DataFrame) = if (bFrontier) broadcast(df) else df
    val seed = deg.orderBy(col("d").desc, col("node")).limit(1).select("node")
    var visited = seed.withColumn("hop", lit(0L)).localCheckpoint(eager = false)
    var frontier = seed
    for (h <- 1 to maxHops) {
      val next = und
        .join(side(frontier.select(col("node").as("src"))), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(side(visited.select("node")), Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
      visited = visited
        .unionAll(next.withColumn("hop", lit(h.toLong)))
        .localCheckpoint(eager = false)
      frontier = next
    }
    visited.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Market-basket association rules over (entity, container) relations:
    * canonical item pairs with support, both directional confidences, and
    * lift — the recommendation/affinity readout behind "users who bought X
    * also bought Y" (q120 ranks items globally; this scores PAIRS).
    *
    * Scale shape: the [[coOccurrenceEdges]] discipline — baskets aggregate
    * ONCE into sorted item sets (checkpointed: pair counts, item counts,
    * and the basket total all derive from that frame, never re-scanning
    * the relation), pairs fan out map-side AFTER the per-basket agg (never
    * a row-level self-join), and the item-count/total frames re-join as
    * broadcasts. `minPairs` floors the pair table BEFORE the joins, so the
    * broadcast probe side is already support-pruned. lift evaluates as
    * (c_xy·n)/(c_x·c_y) on doubles cast from exact longs, rounded 4 dp. */
  /** HITS (Kleinberg, JACM 1999) on a BIPARTITE relation (hub side →
    * authority side): hubs score by the authorities they point at,
    * authorities by the hubs pointing at them — on a purchase graph,
    * hub = broad buyer, authority = widely-bought item, the two-sided
    * importance a single PageRank score conflates. It runs on the
    * DIRECTED bipartite relation because on an undirected co-purchase
    * graph the two HITS vectors degenerate into one.
    *
    * Exact scaled-long arithmetic for cross-engine determinism: each
    * half-step is one node-keyed join + one node-keyed sum, then
    * renormalizes score·Scale div max(score) — the max comes from a 1-row
    * aggregate that joins back as a broadcast, and every op is integer,
    * so results are bit-identical under any partitioning. No overflow:
    * raw ≤ |hubs|·Scale and the renormalize multiplies by Scale before
    * dividing, bounded by |hubs|·Scale² ≪ 2⁶³ for |hubs| ≤ ~9·10⁶ per
    * connected normalization (beyond that, renormalize in two divisions).
    *
    * Scale shape: the edge list is checkpointed once; per full iteration
    * two key-hash joins + two key-hash sums + two broadcast max
    * normalizations — O(m) per round, bounded rounds, never materializing
    * anything wider than the |nodes|-row score frames.
    */
  def hits(edges: DataFrame, hubCol: String, authCol: String,
           iterations: Int = 2): DataFrame = {
    val e = edges.select(col(hubCol).as("h"), col(authCol).as("a"))
      .distinct().localCheckpoint()
    // each score frame is ≤ max(|hubs|, |auths|) rows of (node, score) —
    // and both counts are ≤ m (every node appears in ≥ 1 edge row), so the
    // CHECKPOINTED edge frame's row count upper-bounds them in one
    // cached-block scan. The previous sizing ran a count_distinct pair over
    // e — a genuine O(m) Expand aggregate per call, pure added cost in the
    // beyond-broadcast regime (r17 advice item 3). Conservative by design:
    // the m-row bound only ever errs toward the shuffle fallback. The node
    // field sizes from the wider of the two live key types, not a
    // hardcoded LongType (r17 advice item 2 — a string-keyed caller must
    // not under-estimate broadcast bytes).
    val nodeT = Seq(e.schema("h").dataType, e.schema("a").dataType).maxBy(_.defaultSize)
    val bScores = fitsRankBroadcast(e.count(), nodeT, LongType)
    var hub = e.select(col("h").as("node")).distinct()
      .select(col("node"), lit(Scale).as("score"))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      auth = hitsHalfStep(e, hub, "h", "a", bScores).localCheckpoint(eager = false)
      hub = hitsHalfStep(e, auth, "a", "h", bScores).localCheckpoint(eager = false)
    }
    auth.select(lit("auth").as("side"), col("node"), col("score"))
      .unionByName(hub.select(lit("hub").as("side"), col("node"), col("score")))
  }

  /** One HITS half-step: gather `scores` along `joinKey`, sum per
    * `groupKey`, renormalize by the broadcast 1-row max. Package-private so
    * PlanSpec can assert the iteration's shape (the checkpoints in [[hits]]
    * hide it from the final key plan, as with [[pageRankStep]]). */
  private[graft] def hitsHalfStep(e: DataFrame, scores: DataFrame,
                                  joinKey: String, groupKey: String,
                                  broadcastScores: Boolean = false): DataFrame = {
    val s = if (broadcastScores) broadcast(scores) else scores
    val raw = e.join(s, e(joinKey) === scores("node"))
      .groupBy(e(groupKey)).agg(sum(col("score")).as("raw"))
      .select(e(groupKey).as("node"), col("raw"))
    raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("__mx"))))
      .select(col("node"), expr(s"(raw * $Scale) div __mx").as("score"))
  }

  def associationRules(rel: DataFrame, entityCol: String, containerCol: String,
                       minPairs: Long = 2L): DataFrame = {
    require(minPairs >= 1, s"minPairs must be >= 1, got $minPairs")
    val baskets = rel
      .filter(col(containerCol).isNotNull && col(entityCol).isNotNull)
      .groupBy(col(containerCol).as("__c"))
      .agg(sort_array(collect_set(col(entityCol))).as("__es"))
      .localCheckpoint()
    val pairs = baskets
      .select(explode(col("__es")).as("x"), col("__es"))
      .select(col("x"), explode(col("__es")).as("y"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
    val items = baskets.select(explode(col("__es")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("ci"))
    val total = baskets.agg(count(lit(1)).as("__n"))
    pairs
      .join(broadcast(items.select(col("item").as("x"), col("ci").as("__cx"))), Seq("x"))
      .join(broadcast(items.select(col("item").as("y"), col("ci").as("__cy"))), Seq("y"))
      .crossJoin(broadcast(total))
      .select(col("x"), col("y"), col("n_pairs"),
        expr("(10000 * n_pairs) div __n").as("support_bp"),
        expr("(10000 * n_pairs) div __cx").as("conf_xy_bp"),
        expr("(10000 * n_pairs) div __cy").as("conf_yx_bp"),
        Num.roundz((col("n_pairs").cast("double") * col("__n")) /
          (col("__cx").cast("double") * col("__cy")), 4).as("lift"))
  }

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009): score a
    * NON-adjacent pair (u, v) by Σ_{c ∈ N(u)∩N(v)} 1/deg(c) — each common
    * neighbor contributes its "resource" split evenly among its neighbors.
    * The crawl-frontier / recommendation primitive on top of the same
    * co-occurrence graph PageRank and triangles score: which edges are
    * MISSING but structurally implied.
    *
    * Determinism discipline: contributions are SCALED LONGS
    * (`Scale div deg(c)` — non-negative integer division, order-free
    * integer sums), so scores hash-match any engine with the same floor
    * semantics. Top-k surfaces via (score desc, u, v) — a total order.
    *
    * Scale shape: one adjacency collapse per center node, wedge pairs
    * fan out map-side from each center's sorted neighbor array, and ONE
    * (u, v)-keyed aggregate sums the contributions. Wedge volume is
    * Σ deg(c)² — bounded for co-occurrence graphs whose containers are
    * small (TPC-H baskets ≈ 4 lines); `maxDegree` drops hub centers above
    * the cap BEFORE the fan-out, the same df-cap discipline as
    * ngramJaccard (a hub's wedges are the data's property, not the
    * plan's; for RA specifically a hub contributes ≤ Scale/maxDegree per
    * pair — the weight the cap discards is provably the smallest).
    * Existing edges leave via one anti-join against the (already
    * canonical) edge list; the top-k is a distributed TakeOrdered, never
    * a single-partition window. */
  def resourceAllocationTopK(edges: DataFrame, k: Int,
                             maxDegree: Long = 10000L): DataFrame = {
    val adj = edges.select(col("src"), col("dst"))
      .groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("__nb"))
      .select(col("src"), col("__nb"), size(col("__nb")).cast("long").as("__deg"))
      .filter(col("__deg") <= maxDegree)
    val scores = adj
      .select(expr(s"$Scale div __deg").as("__w"),
        explode(col("__nb")).as("u"), col("__nb"))
      .select(col("__w"), col("u"), explode(col("__nb")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("__w")).as("score"))
    scores
      .join(edges.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("score").desc, col("u"), col("v"))
      .limit(k)
  }
}
