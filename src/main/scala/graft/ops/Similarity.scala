package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `array<float>` embedding column
  * (SURVEY.md §2.10 q45 + ANN north-star extension).
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * scans the corpus once — the corpus side never shuffles. The LSH path
  * buckets by random-hyperplane signature so each query only scores its
  * bucket: the shuffle key is a 32-bit signature, and bucket sizes are
  * corpus/2^planes on average (salt/secondary-probe if skewed).
  */
object Similarity {

  /** Dot product as a SQL higher-order-function string — still used where
    * one operand is a LAMBDA VARIABLE (the per-plane signature loop in
    * [[lshBands]]), which a Column-level expression can't reference. */
  def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Dot product of two array columns — the native codegen'd
    * [[graft.functions.DotProduct]] expression (bit-identical to the HOF
    * form, which runs interpreted and boxes every element; measured win in
    * SCALE.md). Every scoring path below uses this. */
  def dot(a: String, b: String): Column = graft.functions.DotProduct(col(a), col(b))

  def norm(a: String): Column = sqrt(dot(a, a))

  /** Exact distributed top-k per query over a scored (query_id, neighbor_id,
    * cosine) frame — two-phase, window-free. Phase 1 runs a bounded k-heap
    * per INPUT partition (`mapPartitions`, no shuffle): memory is
    * |queries|·k heap entries and the emit is ≤ |queries|·k rows per
    * partition, so no reducer ever sees the full |corpus|×|queries| scored
    * set. (The per-query `row_number` window this replaces hash-partitioned
    * every scored row into only |queries| reducer partitions — the classic
    * last-reducer pileup once the corpus is large.) Phase 2 merges the
    * ≤ k·P survivors per query with one hash aggregate (sort + slice of the
    * collected list) and derives the rank from the sorted position.
    *
    * Exact under any partitioning: a partition's local top-k is a superset
    * of its contribution to the global top-k under the total order
    * (cosine desc, neighbor_id asc), so the phase-2 merge sees every global
    * winner. Precondition: cosine is non-NaN and ids are non-null (zero-norm
    * vectors score NaN — filter them upstream; testdata has none).
    *
    * Output: (query_id, neighbor_id, cosine rounded 4dp, rn 1-based long),
    * id columns keeping their input types; ordered by the caller.
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val qType = scored.schema("query_id").dataType
    val nType = scored.schema("neighbor_id").dataType
    val narrowed = scored.select(
      col("query_id").cast("long"), col("neighbor_id").cast("long"),
      col("cosine").cast("double"))
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
    val partial = narrowed.as(enc).mapPartitions { it =>
      // heap head = current worst of the kept k (lowest cosine, then highest
      // neighbor id) — the entry to evict when a better candidate arrives
      val worstFirst = Ordering.by[(Double, Long), (Double, Long)] { case (c, n) => (-c, n) }
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (q, n, c) =>
        val h = heaps.getOrElseUpdate(q,
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue((c, n))
        else if (worstFirst.lt((c, n), h.head)) { h.dequeue(); h.enqueue((c, n)) }
      }
      heaps.iterator.flatMap { case (q, h) => h.iterator.map { case (c, n) => (q, n, c) } }
    }(enc).toDF("query_id", "neighbor_id", "cosine")
    partial
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(
        negate(col("cosine")).as("nc"), col("neighbor_id")))), 1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("__pos", "__t")))
      .select(col("query_id").cast(qType).as("query_id"),
        col("__t.neighbor_id").cast(nType).as("neighbor_id"),
        Num.roundz(negate(col("__t.nc")), 4).as("cosine"),
        (col("__pos") + 1).cast("long").as("rn"))
  }

  /** Explicit size guard for the broadcast-queries brute-force family: the
    * query frame is replicated to EVERY task and cross-scored against the
    * whole corpus, so its size bounds both executor memory and compute
    * (|Q|·|corpus| dot products). The plan is correct only while |Q| is
    * batch-sized; at 100 TB a caller passing a corpus-sized frame as
    * `queries` must fail loudly here, not OOM the broadcast three stages
    * later. The probe is a `limit(max+1).count()` — it scans at most
    * max+1 rows, never the full misused frame. */
  private def requireQueryBatch(queries: DataFrame, maxQueries: Int,
                                who: String): Unit = {
    require(maxQueries > 0, s"$who: maxQueries must be positive")
    val probe = queries.limit(maxQueries + 1).count()
    require(probe <= maxQueries,
      s"$who: the query side exceeds $maxQueries rows — it is broadcast to " +
        "every task and scored against the full corpus, so a frame this " +
        "size is a misuse of the brute-force path; batch the queries or " +
        "use the IVF/LSH index paths instead")
  }

  /** Exact k-nearest-neighbors by SQUARED L2 — the distance twin of
    * [[cosineTopK]] (same broadcast-queries/one-corpus-scan shape, same
    * two-phase per-partition k-heap, no Window over the scored set).
    * Distances ride the dot identity |q|²−2q·c+|c|² rounded to 6dp BEFORE
    * ranking, so a last-ulp dot-order difference cannot flip a rank
    * cross-engine; ties break on the neighbor id. Output:
    * (query_id, neighbor_id, d, rn 1..k). */
  def knnL2(corpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, k: Int, maxQueries: Int = 10000): DataFrame = {
    requireQueryBatch(queries, maxQueries, "knnL2")
    // self-dots precomputed ONCE per vector (|corpus|+|Q| folds, not 3 per
    // pair); the per-pair work is one native codegen'd DotProduct
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qq", dot("qv", "qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cc", dot("cv", "cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        round(col("qq") - lit(2.0) * dot("qv", "cv") + col("cc"), 6).as("d"))
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
    val partial = scored.as(enc).mapPartitions { it =>
      // heap head = current worst of the kept k (LARGEST (d, id)) — the
      // entry to evict when a nearer candidate arrives
      val worstFirst = Ordering.by[(Double, Long), (Double, Long)](identity)
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (q0, n, d) =>
        val h = heaps.getOrElseUpdate(q0,
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue((d, n))
        else if (worstFirst.lt((d, n), h.head)) { h.dequeue(); h.enqueue((d, n)) }
      }
      heaps.iterator.flatMap { case (q0, h) => h.iterator.map { case (d, n) => (q0, n, d) } }
    }(enc).toDF("query_id", "neighbor_id", "d")
    partial
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(col("d"), col("neighbor_id")))),
        1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("__pos", "__t")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        col("__t.d").as("d"), (col("__pos") + 1).cast("long").as("rn"))
  }

  /** One greedy k-center round (q430): every point's min squared L2 to the
    * given center ids — centers join back to their vectors and BROADCAST-
    * cross the corpus (|centers| <= k rows, never a point-point matrix);
    * dist^2 rides the dot identity |x|^2 - 2x.c + |c|^2, rounded 6dp so
    * last-ulp dot-order noise cannot flip the caller's argmax (the q45
    * convention). Output: (idCol, d). */
  def kcenterRound(points: DataFrame, centerIds: Seq[Long], idCol: String,
                   vecCol: String): DataFrame = {
    require(centerIds.nonEmpty && centerIds.size <= 64,
      s"kcenterRound centers must be a bounded seed set, got ${centerIds.size}")
    val spark = points.sparkSession
    import spark.implicits._
    val cents = points.join(centerIds.toDF(idCol), Seq(idCol))
      .select(col(idCol).as("__cid"), col(vecCol).as("__ce"))
      .withColumn("__cc", dot("__ce", "__ce"))
    points.withColumn("__pp", dot(vecCol, vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol), round(
        col("__pp") - lit(2.0) * dot(vecCol, "__ce") + col("__cc"), 6).as("d"))
      .groupBy(col(idCol)).agg(min(col("d")).as("d"))
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries are broadcast and the corpus
    * scans once with no shuffle of the scored set — ranking is the
    * two-phase [[topKPerQuery]] (per-partition k-heap, then a k·P merge).
    * The query side must be batch-sized ([[requireQueryBatch]], default
    * 10⁴ rows ≈ a few MB of 64-dim vectors — broadcast-safe).
    *
    * Output: (query_id, neighbor_id, cosine rounded 4dp), ordered upstream by
    * the caller.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, maxQueries: Int = 10000): DataFrame = {
    requireQueryBatch(queries, maxQueries, "cosineTopK")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot("qv", "cv") / (norm("qv") * norm("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training — per anchor, the k
    * nearest corpus vectors carrying a DIFFERENT label: the highest-value
    * negatives (closest in embedding space while semantically distinct),
    * the pair-construction step behind every contrastive/triplet-loss
    * dataset. Same broadcast-queries/one-corpus-scan shape as
    * [[cosineTopK]] (the label inequality is a map-side filter on the
    * scored frame) and the same two-phase [[topKPerQuery]] ranking.
    *
    * Output: (query_id, neighbor_id, cosine 4dp, rn 1..k). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    maxQueries: Int = 10000): DataFrame = {
    requireQueryBatch(queries, maxQueries, "hardNegatives")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("__cl"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id") && col("__cl") =!= col("__ql"))
      .withColumn("cosine", dot("qv", "cv") / (norm("qv") * norm("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    topKPerQuery(scored, k)
  }

  /** IVF coarse quantization: assign every vector to its nearest centroid
    * cell (highest cosine, centroid id tie-break). Centroids are broadcast;
    * the assignment is one corpus scan + a per-vector window over |centroids|
    * scored rows. Output: (idCol, vecCol, cell).
    *
    * Centroid choice here is "first K by id" — deterministic, which the
    * differential oracle needs; a production build seeds Lloyd iterations
    * from these (each iteration is one groupBy(cell) avg over the corpus). */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String): DataFrame =
    ivfProbe(vectors, centroids, idCol, vecCol, nprobe = 1)

  /** Top-`nprobe` centroid cells per vector (highest cosine, centroid-id
    * tie-break) — `nprobe = 1` is storage assignment (each corpus vector
    * lives in exactly one cell); `nprobe > 1` is the query-side recall
    * lever: probing n cells scans n/|cells| of the corpus and recovers
    * neighbors that straddle a cell boundary. One row per (vector, probed
    * cell). Centroids broadcast; one corpus scan. */
  def ivfProbe(vectors: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String, nprobe: Int): DataFrame = {
    val c = broadcast(centroids.select(
      col(idCol).as("cell"), col(vecCol).as("cv")))
    val scored = vectors.select(col(idCol), col(vecCol))
      .crossJoin(c)
      .withColumn("__cos", dot(vecCol, "cv") / (norm(vecCol) * norm("cv")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__cos").desc, col("cell"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col(idCol), col(vecCol), col("cell"))
  }

  // ------------------------------------------------- micro-exact Lloyd (IVF)

  /** (id, dim, micro component) per vector — the [[nearestCentroid]]
    * quantization (`round(v·10⁶)` as long; float→double is exact so both
    * engines round the same product) applied to an UNLABELED vector table.
    * Every micro-Lloyd step derives from this one map-side explode. */
  private def microVec(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("__id"), posexplode(col(vecCol)).as(Seq("__dim", "__v")))
      .select(col("__id"), col("__dim").cast("long").as("dim"),
        round(col("__v").cast("double") * lit(1000000.0), 0).cast("long").as("__vm"))

  /** Micro-quantized seed centroids: the first `k` vectors by id, cell =
    * the seed's id — the deterministic seeding rule of [[ivfTrainMicro]],
    * so seed-vs-trained comparisons share one quantization. Output:
    * (cell, dim, cm) micro longs. */
  def microSeedCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                         k: Int): DataFrame =
    microVec(vectors, idCol, vecCol).filter(col("__id") < k)
      .select(col("__id").as("cell"), col("dim"), col("__vm").as("cm"))

  /** Exact nearest-centroid assignment over micro components: argmin of the
    * exact long Σ(vm−cm)² with ties to the SMALLEST cell id via one
    * struct-min (the q235 discipline — no float comparison anywhere, so the
    * assignment is bit-stable under any partitioning and DuckDB-replicable).
    * Centroids are |cells|·d metadata and broadcast; the d2 aggregate
    * reduces the |cells|-way fan-out with map-side combine. */
  private def assignMicro(comp: DataFrame, cent: DataFrame): DataFrame =
    comp.join(broadcast(cent), Seq("dim"))
      .groupBy(col("__id"), col("cell"))
      .agg(sum((col("__vm") - col("cm")) * (col("__vm") - col("cm"))).as("__d2"))
      .groupBy(col("__id"))
      .agg(min(struct(col("__d2"), col("cell"))).as("__b"))
      .select(col("__id"), col("__b.cell").as("cell"))

  /** [[assignMicro]] from a raw vector table: (idCol, cell). */
  def microAssign(vectors: DataFrame, idCol: String, vecCol: String,
                  cent: DataFrame): DataFrame =
    assignMicro(microVec(vectors, idCol, vecCol), cent)
      .select(col("__id").as(idCol), col("cell"))

  /** [[microAssign]] keeping the winning cell's EXACT squared distance —
    * the per-vector distortion a trained-vs-seed comparison aggregates
    * (Lloyd's monotone-decrease guarantee lives in this number; recall on
    * an isotropic fixture does not have to improve). Output:
    * (idCol, cell, d2 micro²-long). */
  def microAssignDist(vectors: DataFrame, idCol: String, vecCol: String,
                      cent: DataFrame): DataFrame =
    microVec(vectors, idCol, vecCol).join(broadcast(cent), Seq("dim"))
      .groupBy(col("__id"), col("cell"))
      .agg(sum((col("__vm") - col("cm")) * (col("__vm") - col("cm"))).as("__d2"))
      .groupBy(col("__id"))
      .agg(min(struct(col("__d2"), col("cell"))).as("__b"))
      .select(col("__id").as(idCol), col("__b.cell").as("cell"),
        col("__b.__d2").as("d2"))

  /** Lloyd-trained IVF coarse quantizer in EXACT micro-long arithmetic —
    * a float avg update is accumulation-order-dependent (a different
    * partitioning moves the last ulp, which can flip an argmin), so the
    * trainer runs the whole loop on the integer grid:
    * assignment = exact-long squared distance argmin (ties to the smallest
    * cell), update = floor(Σvm/n) per dimension (the q235 no-flip floor —
    * the true quotient sits ≥ 1/n from any integer while ulp ≪ 1/n).
    * Deterministic, mergeable, and DuckDB-replicable as a chained-CTE
    * oracle (the q223 BPE convention for fixed-iteration loops).
    *
    * Scale shape per iteration: one broadcast of the |cells|·d centroid
    * metadata against the checkpointed (id, dim, vm) component frame, one
    * map-side-combined d2 aggregate, one struct-min, one (cell, dim) sum
    * aggregate — never vector-by-vector driver work; `localCheckpoint`
    * between iterations caps plan growth.
    * A cell that loses every member simply drops out (both engines).
    *
    * Output: (cell, dim, cm) micro longs after `iterations` full
    * assign+update rounds from the first-`k`-by-id seeds. */
  def ivfTrainMicro(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, iterations: Int): DataFrame = {
    val comp = microVec(vectors, idCol, vecCol).localCheckpoint(eager = false)
    var cent = comp.filter(col("__id") < k)
      .select(col("__id").as("cell"), col("dim"), col("__vm").as("cm"))
    for (_ <- 1 to iterations) {
      val a = assignMicro(comp, cent)
      cent = comp.join(a, Seq("__id"))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("__vm")).as("__s"), count(lit(1)).as("__n"))
        .select(col("cell"), col("dim"),
          floor(col("__s").cast("double") / col("__n")).cast("long").as("cm"))
        .localCheckpoint(true)
    }
    cent
  }

  /** Re-assemble a (cell, dim, cm) micro centroid table into per-cell
    * DOUBLE vectors (cm/10⁶ — exact for micro longs ≪ 2⁵³, so both engines
    * build the identical doubles) in the (idCol, vecCol) shape the cosine
    * search paths ([[ivfTopK]] etc.) take centroids in. */
  def microCentroidVectors(cent: DataFrame, idCol: String, vecCol: String): DataFrame =
    cent.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cm")))).as("__pm"))
      .select(col("cell").as(idCol),
        expr("transform(__pm, x -> CAST(x.cm AS DOUBLE) / 1000000.0)").as(vecCol))

  /** IVF top-k search: each query scores only the vectors in its `nprobe`
    * nearest cells — nprobe/|cells| of the corpus per query instead of all
    * of it. Approximate: neighbors outside the probed cells are missed;
    * recall rises monotonically with `nprobe` (SimilaritySpec asserts it)
    * and reaches brute force at nprobe = |cells|. Corpus vectors live in
    * exactly one cell, so probing produces no duplicate candidate pairs. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int = 1): DataFrame =
    ivfTopKIndexed(ivfAssign(corpus, centroids, idCol, vecCol), queries,
      centroids, idCol, vecCol, k, nprobe)

  /** [[ivfTopK]] over a PRE-ASSIGNED corpus — the stored-index read path.
    * `corpusAssigned` is [[ivfAssign]]'s (id, vec, cell) output, derived
    * ONCE and shared by every search that probes the same index (the
    * production shape: the assignment IS the index, and re-deriving it per
    * query batch re-pays the corpus pass the index exists to avoid —
    * exactly what q417 did at 8 call sites before round 15). The query
    * side still probes fresh (nprobe cells per query, broadcast
    * centroids): probing is per-batch by nature; assignment is not. */
  def ivfTopKIndexed(corpusAssigned: DataFrame, queries: DataFrame,
                     centroids: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 1): DataFrame =
    ivfTopKPrepared(
      corpusAssigned.select(col("cell"), col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")),
      ivfProbe(queries, centroids, idCol, vecCol, nprobe)
        .select(col("cell"), col(idCol).as("query_id"), col(vecCol).as("qv")),
      k)

  /** [[ivfProbe]] keeping the probe rank: one centroid-scoring pass ranks
    * every vector's cells 1..maxProbe, so a RECALL CURVE (or several query
    * batches at different nprobe) derives each point by FILTERING
    * `probe_rank <= nprobe` on the one materialized frame instead of
    * re-running a window per point — nprobe=1 rows double as the storage
    * assignment. Output: (id, vec, cell, probe_rank). */
  def ivfProbeRanked(vectors: DataFrame, centroids: DataFrame, idCol: String,
                     vecCol: String, maxProbe: Int): DataFrame = {
    val c = broadcast(centroids.select(
      col(idCol).as("cell"), col(vecCol).as("cv")))
    val scored = vectors.select(col(idCol), col(vecCol))
      .crossJoin(c)
      .withColumn("__cos", dot(vecCol, "cv") / (norm(vecCol) * norm("cv")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__cos").desc, col("cell"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxProbe)
      .select(col(idCol), col(vecCol), col("cell"),
        col("__rn").as("probe_rank"))
  }

  /** The probed-cell scoring core shared by [[ivfTopK]]/[[ivfTopKIndexed]]:
    * both sides already carry their cells. */
  def ivfTopKPrepared(corpusCells: DataFrame, queryCells: DataFrame,
                      k: Int): DataFrame = {
    val scored = corpusCells.join(queryCells, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot("qv", "cv") / (norm("qv") * norm("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    // same two-phase ranking as the brute-force path: the probed-cell join
    // bounds WHICH pairs score, topKPerQuery bounds the ranking fan-in
    topKPerQuery(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes, splitmix64-mixed per (plane,
    * dim) — reproducible across engines/runs without java.util.Random, and
    * actually independent across coordinates (a plain LCG here is linearly
    * correlated and collapses every vector into a handful of buckets). */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      var z = p.toLong * 1000003L + d.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }

  /** Per-vector banded LSH signature: `numPlanes` sign bits packed into a
    * long, then split into `bands` band buckets (multi-table LSH: a pair is a
    * candidate if ANY band bucket matches — bands trade precision for recall).
    *
    * Planes are DATA (one broadcast row holding the nested plane array), not
    * literals baked into codegen — inlining planes×dim constants into
    * generated code costs seconds of Janino compilation. The signature is ONE
    * pass per vector: a higher-order `transform` over the plane array scores
    * all `numPlanes` sign bits in place, so there is no plane-row explosion
    * and — unlike a per-plane crossJoin + groupBy — NO shuffle at all before
    * banding. Output: one row per (id, band).
    */
  def lshBands(vectors: DataFrame, idCol: String, vecCol: String,
               numPlanes: Int, bands: Int, dim: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    require(numPlanes % bands == 0, "numPlanes must divide evenly into bands")
    val bandBits = numPlanes / bands
    val planesDF = broadcast(
      Seq(Tuple1(hyperplanes(numPlanes, dim).map(_.toSeq).toSeq)).toDF("__planes"))
    val sigExpr = expr(
      s"aggregate(transform(__planes, (p, i) -> IF(${dotExpr(vecCol, "p")} >= 0.0, " +
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    val sigs = vectors.select(col(idCol), col(vecCol))
      .crossJoin(planesDF)
      .withColumn("sig", sigExpr)
      .drop("__planes")
    sigs.select(col(idCol), col(vecCol),
      posexplode(array((0 until bands).map(t =>
        shiftrightunsigned(col("sig"), t * bandBits).bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** ANN near-dup via banded LSH: only pairs sharing some (band, bucket) are
    * scored — the join key is a short (band, bucket) pair, never all-pairs.
    * Approximate: misses pairs colliding in no band; recall vs the exact
    * variant is asserted in tests on planted near-identical vectors. */
  def lshBucketNearDup(vectors: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, numPlanes: Int = 32, bands: Int = 4,
                       dim: Int = 64): DataFrame = {
    // self-join branch sharing: at scale this join is a sort-merge join and
    // the two branches' identical (band, bucket) exchanges collapse into ONE
    // via ReusedExchange (verified with broadcast disabled — see SCALE.md),
    // so the plane-signature lineage runs once. No localCheckpoint here: its
    // eager materialization costs more than it saves at bench scale, where
    // the build side is broadcast. (Dedup.minHashNearDup differs: its
    // per-branch lineage is a full shingle explode + 16-min agg, expensive
    // enough that materializing the compact matrix wins at every scale.)
    val banded = lshBands(vectors, idCol, vecCol, numPlanes, bands, dim)
    val a = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = banded.select(col("band"), col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    // score + threshold BEFORE the multi-band-collision dedup: cosine is a
    // pure function of the pair, so dedup on (id_a, id_b, cosine) is
    // equivalent — and the exchange carries three narrow columns instead of
    // two 64-float vectors per candidate
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot("va", "vb") / (norm("va") * norm("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), Num.roundz(col("cosine"), 4).as("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Symmetric int8 quantization of an embedding column — the storage/
    * serving compression step of a vector pipeline (4× smaller than f32,
    * 8× than the f64 the engine computes in). Per-vector max-abs scaling:
    * `code_i = floor(v_i * 127/max|v| + 0.5)` (half-up, identical formula
    * in the DuckDB twin; floats promote to double exactly, so both engines
    * round the same bits). All-zero vectors quantize to scale 0 / codes 0.
    *
    * Output: (id, scale_e6 = round(127/max|v| * 1e6) as exact long, codes
    * array<int>). Purely map-side — no shuffle, no UDF; the lambdas bind
    * `__mx`/`__scale` as named columns first so the outer expression is
    * computed once per row, not per element (see Dedup.wordShingles). */
  def quantizeInt8(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings
      .withColumn("__mx", array_max(transform(col(vecCol), x => abs(x))).cast("double"))
      .withColumn("__scale", when(col("__mx") > 0, lit(127.0) / col("__mx")).otherwise(lit(0.0)))
      .select(col(idCol),
        floor(col("__scale") * 1000000L + 0.5).cast("long").as("scale_e6"),
        transform(col(vecCol),
          x => floor(x.cast("double") * col("__scale") + 0.5).cast("int")).as("codes"))

  /** Product quantization: split each vector into `m` contiguous subvectors
    * of `subDim` dims and store only the id of the nearest codebook centroid
    * per subvector — the memory-compression layer of a 100 TB embedding
    * store (m bytes per vector instead of 4·dim). Assignment = minimal
    * squared L2, expanded as x·x − 2·x·c + c·c over the native dot product
    * (same engine-parity machinery q45/q58 prove); ties break on centroid
    * id. Codebooks here come from a caller-supplied frame (the differential
    * gate uses first-K-by-id, q58's convention); production trains each
    * subspace with [[ivfTrainMicro]] on the sliced column.
    *
    * Scale shape: the codebook broadcasts, the corpus explodes only m-way
    * on (id, subvector) and reduces straight back — one narrow shuffle for
    * the per-(id, sub) argmin window, nothing wider than subDim floats.
    *
    * Output: (idCol, c0 … c{m-1}) — one exact long code per subvector. */
  def pqEncode(vectors: DataFrame, codebook: DataFrame, idCol: String,
               vecCol: String, m: Int, subDim: Int): DataFrame = {
    def sliced(df: DataFrame, idAs: String, vecAs: String) = df.select(
      col(idCol).as(idAs),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice($vecCol, i * $subDim + 1, $subDim))"))
        .as(Seq("sub", vecAs)))
    val xs = sliced(vectors, "__id", "xs")
    val cb = broadcast(sliced(codebook, "code", "cs"))
    val dist = dot("xs", "xs") - lit(2.0) * dot("xs", "cs") + dot("cs", "cs")
    val w = Window.partitionBy(col("__id"), col("sub"))
      .orderBy(dist, col("code"))
    val assigned = xs.join(cb, Seq("sub"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val codes = (0 until m).map(i =>
      max(when(col("sub") === i, col("code"))).as(s"c$i"))
    assigned.groupBy(col("__id").as(idCol))
      .agg(codes.head, codes.tail: _*)
  }

  /** Asymmetric-distance (ADC) top-k search over a PQ-ENCODED corpus — the
    * query path that makes [[pqEncode]] a complete ANN index (LSH probes
    * buckets, IVF probes cells, PQ scans CODES): the corpus is never
    * decoded; each query builds an m×K lookup table of
    * squared-L2(query-subvector, centroid) and a candidate's distance is m
    * table lookups summed.
    *
    * Determinism: every LUT entry is quantized to the tenth-of-bp integer
    * grid (`round(d·10⁵)` as long — the q209 silhouette convention, clamped
    * at 0 against −ulp noise in x·x − 2·x·c + c·c) BEFORE summing, so the
    * per-candidate distance is an exact long sum of m integers — immune to
    * aggregation order — and the ranking (adist_tb asc, neighbor_id asc) is
    * a total order both engines resolve identically.
    *
    * Scale shape: the LUT is |queries|·m·K rows of metadata built from two
    * broadcast-sized slices and broadcast to the corpus scan; the encoded
    * corpus fans out m-way on (sub, code) — m narrow longs per vector, the
    * whole point of PQ — and reduces straight back through one map-side-
    * combined sum. Ranking is the two-phase [[topKPerQuery]] k-heap; no
    * window over the scored set, no shuffle wider than (id, sub, code).
    *
    * Output: (query_id, neighbor_id, adist_tb, rn), rank 1..k per query. */
  def pqSearchTopK(corpusCodes: DataFrame, queries: DataFrame,
                   codebook: DataFrame, idCol: String, vecCol: String,
                   m: Int, subDim: Int, k: Int,
                   candidates: Option[DataFrame] = None): DataFrame = {
    def sliced(df: DataFrame, idAs: String, vecAs: String) = df.select(
      col(idCol).as(idAs),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice($vecCol, i * $subDim + 1, $subDim))"))
        .as(Seq("sub", vecAs)))
    val qs = sliced(queries, "query_id", "qs")
    val cb = sliced(codebook, "code", "cs")
    val lut = qs.join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        Num.roundz(greatest(lit(0.0),
          dot("qs", "qs") - lit(2.0) * dot("qs", "cs") + dot("cs", "cs")) *
          lit(100000d)).cast("long").as("__d_tb"))
    val unpivot = corpusCodes.select(col(idCol).as("neighbor_id"),
      posexplode(array((0 until m).map(i => col(s"c$i")): _*))
        .as(Seq("sub", "code")))
    // inner join is total: corpus codes come from the same codebook the LUT
    // enumerates, so every (query, neighbor) pair sums exactly m entries.
    // With a candidate frame (the IVF-restricted path), each neighbor's m
    // code rows fan out only over ITS candidate queries BEFORE the LUT
    // join — cost ∝ |candidates|·m instead of |corpus|·|queries|·m, which
    // is the whole point of cell pruning at 100 TB
    val paired = candidates match {
      case Some(cand) => unpivot
        .join(cand.select(col("query_id"), col("neighbor_id")).distinct(),
          Seq("neighbor_id"))
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
      case None => unpivot.join(broadcast(lut), Seq("sub", "code"))
    }
    val scored = paired
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d_tb")).as("__dist"))
      // negate into topKPerQuery's (cosine desc) order: exact — the longs
      // are far below 2^53, so the double round-trips bit-perfectly
      .select(col("query_id"), col("neighbor_id"),
        negate(col("__dist").cast("double")).as("cosine"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        negate(col("cosine")).cast("long").as("adist_tb"), col("rn"))
  }

  /** The production ANN index composition — IVF cell pruning THEN PQ/ADC
    * scoring, i.e. what FAISS-style `IVFx,PQy` does, as relational ops:
    * candidates come from the probed cells (|corpus|·nprobe/|cells| of the
    * corpus per query, the recall/cost lever), and only those candidates
    * pay the m-lookup ADC sum. Completes the ANN story: q45 exact truth,
    * q54/q55 LSH, q58 IVF+exact, q224 flat ADC, and here the composed
    * index — with q225/q212-style recall evals closing the loop on each.
    *
    * Scale shape: centroids/codebook/LUT broadcast; the cell equi-join
    * bounds candidate volume; the ADC join fans each neighbor's m code
    * rows only over its candidate queries. Everything downstream of the
    * candidate join is |candidates|-sized — never |corpus|·|queries|. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                codebook: DataFrame, idCol: String, vecCol: String,
                m: Int, subDim: Int, k: Int, nprobe: Int = 2): DataFrame = {
    val cand = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col("cell"), col(idCol).as("neighbor_id"))
      .join(ivfProbe(queries, centroids, idCol, vecCol, nprobe)
        .select(col("cell"), col(idCol).as("query_id")), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val codes = pqEncode(corpus, codebook, idCol, vecCol, m, subDim)
    pqSearchTopK(codes, queries, codebook, idCol, vecCol, m, subDim, k,
      candidates = Some(cand))
  }

  /** Coarse-quantization residuals r = v − centroid(cell(v)) — the input
    * frame of RESIDUAL-coded IVFPQ (the production FAISS `IVFx,PQy` layout).
    * Why residuals: raw-vector PQ quantizes every member of a dense cluster
    * to the same codes, so ADC separates clusters but cannot rank WITHIN
    * one — exactly where the true neighbors are (measured in SCALE.md's
    * round-12 ANN probe: raw ADC recall@5 ≈ 0.05 on clustered data at every
    * codebook size). Subtracting the cell centroid recenters every cell at
    * the origin, so the codebook spends its codewords on the within-cell
    * offsets that actually rank neighbors.
    *
    * Determinism: components are double differences of float-exact doubles —
    * one IEEE op both engines round identically (oracle: `vv[i] - cv[i]` on
    * the double-cast lists). `nprobe = 1` is storage-side assignment
    * residuals; `nprobe > 1` emits one residual per PROBED cell — the
    * query-side frame, where the query must be re-expressed relative to
    * EACH probed cell's centroid before its ADC table is valid.
    *
    * Scale shape: centroids broadcast twice (the [[ivfProbe]] scoring pass
    * and the centroid-vector join-back); the corpus never shuffles — the
    * residual is a map-side `zip_with`. Output: (idCol, cell, rvec). */
  def residuals(vectors: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String, nprobe: Int = 1): DataFrame =
    ivfProbe(vectors, centroids, idCol, vecCol, nprobe)
      .join(broadcast(centroids.select(col(idCol).as("cell"),
        col(vecCol).cast("array<double>").as("__cv"))), Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol).cast("array<double>"), col("__cv"),
          (a, b) => a - b).as("rvec"))

  /** ADC top-k over a RESIDUAL-coded corpus — [[pqSearchTopK]]'s query path
    * with the residual twist: distance tables are per (query, PROBED CELL),
    * because the query's residual — and therefore every subvector LUT
    * entry — depends on which cell's centroid it was re-expressed against.
    * A candidate is scored against exactly the table of ITS cell, summing
    * exactly `m` integer lookups (same tenth-bp quantization-before-sum as
    * the flat path, so the ranking is an order-free exact long total both
    * engines resolve identically).
    *
    * Inputs: `corpusRes`/`queryRes` from [[residuals]] (nprobe 1 / n), and a
    * RESIDUAL-space codebook (idCol, rvec). Candidate volume is bounded by
    * the cell equi-join (|corpus|·nprobe/|cells| per query); the LUT is
    * |queries|·nprobe·m·K metadata rows and broadcasts; the encoded corpus
    * fans out m-way and reduces straight back through one map-side-combined
    * sum — never |corpus|·|queries|. Ranking is the two-phase
    * [[topKPerQuery]] k-heap.
    *
    * Output: (query_id, neighbor_id, adist_tb, rn), rank 1..k per query. */
  def pqResidualSearchTopK(corpusRes: DataFrame, queryRes: DataFrame,
                           codebook: DataFrame, idCol: String,
                           m: Int, subDim: Int, k: Int): DataFrame = {
    def sliced(df: DataFrame, keep: Seq[Column], vecAs: String) = df.select(
      keep :+ posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice(rvec, i * $subDim + 1, $subDim))"))
        .as(Seq("sub", vecAs)): _*)
    val qs = sliced(queryRes,
      Seq(col(idCol).as("query_id"), col("cell")), "qs")
    val cb = sliced(codebook, Seq(col(idCol).as("code")), "cs")
    val lut = qs.join(cb, Seq("sub"))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        Num.roundz(greatest(lit(0.0),
          dot("qs", "qs") - lit(2.0) * dot("qs", "cs") + dot("cs", "cs")) *
          lit(100000d)).cast("long").as("__d_tb"))
    // a corpus vector lives in exactly one cell, so (query, neighbor) pairs
    // are unique across probed cells — no dedup needed, and each pair's sum
    // draws from the single (query, cell) table that matches its neighbor
    val cand = queryRes.select(col(idCol).as("query_id"), col("cell"))
      .join(corpusRes.select(col(idCol).as("neighbor_id"), col("cell")), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
    val codes = pqEncode(corpusRes, codebook, idCol, "rvec", m, subDim)
    val scored = codes
      .select(col(idCol).as("neighbor_id"),
        posexplode(array((0 until m).map(i => col(s"c$i")): _*))
          .as(Seq("sub", "code")))
      .join(cand, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "cell", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d_tb")).as("__dist"))
      // negate into topKPerQuery's (cosine desc) order: exact — the longs
      // are far below 2^53, so the double round-trips bit-perfectly
      .select(col("query_id"), col("neighbor_id"),
        negate(col("__dist").cast("double")).as("cosine"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        negate(col("cosine")).cast("long").as("adist_tb"), col("rn"))
  }

  /** Scalar quantization (SQ8): each dimension affinely mapped onto 0..255
    * by its corpus-wide [min, max] — 4× compression at far higher code
    * resolution than PQ (8 bits PER DIMENSION vs log₂K per SUBSPACE), the
    * standard FAISS `SQ8` index and the cheapest lever when memory, not
    * compute, is the binding constraint (a 100 TB float corpus becomes
    * 25 TB of codes with near-exact ranking; PQ's 10-100× compression costs
    * the within-cluster resolution measured in SCALE.md's round-12 probe).
    *
    * Determinism: mn/mx are exact selections of float-exact doubles;
    * `(v−mn)·255/(mx−mn)` is three IEEE ops both engines round identically,
    * and `floor` of identical doubles is identical — codes are exact longs.
    * Constant dimensions (mx = mn) code to 0.
    *
    * Scale shape: the stats frame is dim-sized (64 rows) and broadcasts
    * back onto the exploded corpus; encode is one explode + one broadcast
    * join + one re-assembly aggregate keyed on the vector id — linear, no
    * corpus self-join. Output: (idCol, codes array<long>). */
  def sq8Encode(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val d = vectors.select(col(idCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
    val stats = d.groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    d.join(broadcast(stats), Seq("pos"))
      .select(col(idCol), col("pos"),
        when(col("mx") === col("mn"), 0L)
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn")))
              .cast("long")))).as("code"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("code")))).as("__p"))
      .select(col(idCol), expr("transform(__p, x -> x.code)").as("codes"))
  }

  /** Symmetric top-k over an SQ8-coded corpus: integer L2 between code
    * vectors (`Σ(qc−cc)²`, an exact long ≤ 255²·dim ≪ 2⁵³ — order-free and
    * engine-identical). The flat-scan shape of [[cosineTopK]] — coded
    * queries broadcast, coded corpus scanned once, two-phase k-heap
    * ranking — at a quarter of the scan bytes; compose with [[ivfAssign]]
    * cells to prune the scan the way [[ivfTopK]] does.
    *
    * Output: (query_id, neighbor_id, sqdist, rn), rank 1..k per query by
    * ascending code distance, neighbor-id tie-break. */
  def sq8SearchTopK(codes: DataFrame, queryCodes: DataFrame, idCol: String,
                    k: Int): DataFrame = {
    val q = queryCodes.select(col(idCol).as("query_id"), col("codes").as("qcodes"))
    val scored = codes.select(col(idCol).as("neighbor_id"), col("codes").as("ccodes"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        // negate into topKPerQuery's (cosine desc) order: exact — the longs
        // are far below 2^53, so the double round-trips bit-perfectly
        negate(expr(
          "aggregate(zip_with(qcodes, ccodes, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .cast("double")).as("cosine"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        negate(col("cosine")).cast("long").as("sqdist"), col("rn"))
  }

  /** Per-group embedding centroids in EXACT fixed-point arithmetic: each
    * component is scaled to micro-units (`round(v · 10⁶)` — float→double cast
    * and the product are IEEE-exact, so every engine lands on the same
    * integer) and summed as longs. Float centroids computed the obvious way
    * (`avg` over doubles) are accumulation-order-dependent — a different
    * partitioning gives a different last ulp — which poisons both
    * reproducibility contracts and differential tests; integer sums commute.
    *
    * The shape is the class-prototype builder (nearest-class-mean
    * classifiers, IVF seeding per label, embedding-drift monitoring):
    * `posexplode` fans each vector into (label, pos, v) — map-side — and one
    * hash aggregate with map-side combine reduces to |labels|·dim rows.
    * The caller divides `sum_scaled / n` when a float centroid is wanted;
    * keeping the (sum, count) pair exact also makes centroids MERGEABLE
    * across shards (sums add), which a rounded average is not. */
  def labelCentroids(vectors: DataFrame, labelCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy(col(labelCol), col("__pos").cast("long").as("pos"))
      .agg(
        sum(Num.roundz(col("__v").cast("double") * lit(1000000d)).cast("long")).as("sum_scaled"),
        count(lit(1)).as("n"))

  /** Sampled silhouette coefficient per point — the standard internal
    * validity check for a labeled/clustered embedding table (are q134's
    * label clusters actually tight?). For each sampled point i:
    * a = mean distance to its own cluster's other members, b = the minimum
    * over other clusters of the mean distance to that cluster,
    * s = (b−a)/max(a,b).
    *
    * Determinism: each pairwise Euclidean distance is computed as
    * √(max(‖x‖²+‖y‖²−2x·y, 0)) with [[DotProduct]]'s left-to-right double
    * accumulation (bit-identical to DuckDB's `list_dot_product` on the
    * double-cast list; the max(·,0) clamps negative float cancellation) and
    * immediately quantized to an integer tenth-of-basis-point grid, so the
    * per-cluster means are exact-integer-sum / exact-count — no
    * order-dependent float aggregation anywhere. a, b and s are 4-dp
    * display values derived per-row from those exact sums.
    *
    * Scale shape: silhouette is inherently all-pairs, so the sample side is
    * the knob — `sampleMod` keeps it a fixed-size deterministic slice
    * (id mod sampleMod = 0) that BROADCASTS against a single pass over the
    * full corpus (BroadcastNestedLoopJoin, corpus never shuffles); the
    * reduce is |sample|·|labels| rows. At 100 TB you raise sampleMod, not
    * the join strategy. */
  def silhouetteSampled(emb: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, sampleMod: Int = 4): DataFrame = {
    val s = emb.select(col(idCol).as("__sid"), col(vecCol).as("__sv"),
        col(labelCol).as("__sl"))
      .filter(pmod(col("__sid"), lit(sampleMod)) === 0)
      .withColumn("__sn", dot("__sv", "__sv"))
    val p = emb.select(col(idCol).as("__pid"), col(vecCol).as("__pv"),
        col(labelCol).as("__pl"))
      .withColumn("__pn", dot("__pv", "__pv"))
    val d2 = greatest(
      col("__sn") + col("__pn") - lit(2.0) * dot("__sv", "__pv"),
      lit(0.0))
    val distTb = Num.roundz(sqrt(d2) * lit(100000d)).cast("long")
    val perCluster = p.crossJoin(broadcast(s))
      .filter(col("__pid") =!= col("__sid"))
      .select(col("__sid"), col("__sl"), col("__pl"), distTb.as("__d"))
      .groupBy(col("__sid"), col("__sl"), col("__pl"))
      .agg(sum("__d").as("__s"), count(lit(1)).as("__n"))
    val mean = col("__s").cast("double") / col("__n").cast("double")
    perCluster
      .withColumn("__m", mean)
      .groupBy(col("__sid"), col("__sl"))
      .agg(max(when(col("__pl") === col("__sl"), col("__m"))).as("__a"),
        min(when(col("__pl") =!= col("__sl"), col("__m"))).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .select(col("__sid").as("vec_id"), col("__sl").as("label"),
        Num.roundz(col("__a") / 100000d, 4).as("a_dist"),
        Num.roundz(col("__b") / 100000d, 4).as("b_dist"),
        Num.roundz((col("__b") - col("__a")) / greatest(col("__a"), col("__b")), 4)
          .as("silhouette"))
  }

  /** Nearest-class-centroid classifier over a labeled embedding table —
    * per-label mean vectors, every vector assigned to its closest
    * centroid, surfaced as the CONFUSION MATRIX (label, pred_label, n).
    * The standard "are these embeddings any good" readout (Rocchio / one
    * Lloyd step with labels as seeds): diagonal mass ⇒ the space separates
    * the classes; a hot off-diagonal cell names the confused pair.
    *
    * Determinism discipline: components quantize ONCE to micro longs
    * (float→double is exact, so both engines round the same product);
    * centroids are floor(sum/n) — the double division is safe because the
    * true quotient is a rational with denominator n, which sits ≥ 1/n from
    * any integer while ulp(10⁶-scale doubles) ≪ 1/n, so the floor can
    * never flip; distances are exact long sums of squared micro diffs
    * (≤ 64·1.6e13 ≪ Long.Max); argmin ties break to the smallest label
    * via one struct-min. No float comparison anywhere.
    *
    * Scale shape: one posexplode pass (|vecs|·d rows, map-side combined
    * into the |labels|·d centroid METADATA frame, which re-joins as a
    * BROADCAST on dim); the distance aggregate reduces the |labels|-way
    * fan-out back to |vecs|·|labels| rows, then |vecs| rows, then the
    * ≤ |labels|² confusion cells. No window, no cartesian. */
  def nearestCentroid(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val comp = microComponents(emb, idCol, vecCol, labelCol)
    val cent = microCentroids(comp)
    val pred = comp.join(broadcast(cent), Seq("__dim"))
      .groupBy(col("__id"), col("__l"), col("__cl"))
      .agg(sum((col("__vm") - col("__cm")) * (col("__vm") - col("__cm"))).as("__d2"))
      .groupBy(col("__id"), col("__l"))
      .agg(min(struct(col("__d2"), col("__cl"))).as("__best"))
      .select(col("__l"), col("__best.__cl").as("__p"))
    pred.groupBy(col("__l").as("label"), col("__p").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .select(col("label"), col("pred_label"), col("n").cast("long").as("n"))
  }

  /** (id, label, dim, micro-quantized component) — [[nearestCentroid]] /
    * [[centroidOutliers]]'s shared one-pass explode, checkpointed because
    * both the centroid aggregate and the distance pass derive from it. */
  private def microComponents(emb: DataFrame, idCol: String, vecCol: String,
                              labelCol: String): DataFrame = emb
    .select(col(idCol).as("__id"), col(labelCol).cast("long").as("__l"),
      posexplode(col(vecCol)).as(Seq("__dim", "__v")))
    .select(col("__id"), col("__l"), col("__dim"),
      round(col("__v").cast("double") * lit(1000000.0), 0).cast("long").as("__vm"))
    .localCheckpoint(eager = false)

  /** |labels|·d centroid metadata from [[microComponents]]: floor(sum/n)
    * micro longs (the no-flip argument lives at [[nearestCentroid]]). */
  private def microCentroids(comp: DataFrame): DataFrame = comp
    .groupBy(col("__l").as("__cl"), col("__dim"))
    .agg(sum(col("__vm")).as("__s"), count(lit(1)).as("__n"))
    .select(col("__cl"), col("__dim"),
      floor(col("__s").cast("double") / col("__n")).cast("long").as("__cm"))

  /** Corrupted-embedding sweep: vectors whose squared distance to their
    * OWN class centroid exceeds `factor`× the class's mean squared
    * distance — the hygiene pass an embedding store runs before vectors
    * are trusted (catches wrong-normalization batches, truncated encodes,
    * unit mix-ups). The factor is calibrated to CONCENTRATION, not σ: in
    * high dimension distances concentrate hard (measured on the 64-d
    * testdata: every clean ratio ∈ [0.53, 1.11], while a ×4-scaled
    * corruption lands ≥ 8.8), so a Gaussian-style 3σ rule would never
    * fire and factor ≈ 4 separates cleanly. Same exact micro-long
    * discipline as [[nearestCentroid]]; the flag compares decimal(38,0)
    * cross-products (d2·n > factor·Σd2) so nothing divides and nothing
    * overflows at any class size.
    *
    * Scale shape: the shared component pass + one broadcast centroid join
    * keyed (label, dim) — each component row matches exactly ONE centroid
    * row (no |labels| fan-out, cheaper than classification); class stats
    * re-broadcast onto the |vecs|-row distance frame. Output: the flagged
    * (id, label, d2) rows only. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, factor: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val comp = microComponents(emb, idCol, vecCol, labelCol)
    val cent = microCentroids(comp)
    val own = comp.join(broadcast(cent),
        col("__l") === col("__cl") && comp("__dim") === cent("__dim"))
      .groupBy(col("__id"), col("__l"))
      .agg(sum((col("__vm") - col("__cm")) * (col("__vm") - col("__cm"))).as("__d2"))
    val cls = own.groupBy(col("__l"))
      .agg(sum(col("__d2").cast(dec)).as("__S"), count(lit(1)).as("__n"))
    own.join(broadcast(cls), Seq("__l"))
      .filter(col("__d2").cast(dec) * col("__n") > lit(factor) * col("__S"))
      .select(col("__id").as(idCol), col("__l").as("label"),
        col("__d2").cast("long").as("d2"))
  }
}
