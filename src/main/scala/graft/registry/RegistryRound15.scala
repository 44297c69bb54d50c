package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import SparkEntry._
import graft.storage.Materialize
import graft.ops.{Dedup, Relational, Similarity, TwoPhase}

/** Registry part: round-15 additions (q442+) — the DENSITY-SCALED
  * re-registrations of the fixture-pinned quadratic keys (round-14 verdict
  * item 1). Each key keeps the pinned original's semantics family but
  * derives its blocking/sampling knob deterministically FROM A COUNT, so
  * block occupancy (and with it pairwise work) stays flat as the corpus
  * grows — the production shape a 100 TB deployment runs, with the pinned
  * originals (q209/q273/q62/q127/q203/q276/q394) kept as semantic
  * yardsticks at fixture scale.
  *
  * The knob derivations are pure integer arithmetic (div/greatest/CASE
  * ladders, plus one floor(sqrt(integer)) — correctly rounded IEEE in both
  * engines) so the DuckDB oracle computes the identical knob from the same
  * count. Same contract as every other part: deterministic output order,
  * exact integers or bit-equal fixed-order doubles everywhere the gate
  * hashes.
  */
private[graft] object RegistryRound15 {

  /** Smallest power of two STRICTLY greater than q (q >= 0) — the cell
    * count ladder shared bit-for-bit with [[cellLadderSql]]. */
  private[graft] def pow2Above(q: Long): Long = {
    var c = 1L
    while (c <= q) c *= 2
    c
  }

  /** The LSH signature width q443 masks its cells from: the cell count is
    * capped at 2^signaturePlanes on BOTH sides, because `pmod(bucket,
    * cells)` over a `signaturePlanes`-bit bucket is the identity for any
    * larger modulus — the cap makes engine and oracle agree by
    * construction instead of by the fixture's n/32 staying small. */
  private[graft] val signaturePlanes = 16

  /** DuckDB CASE ladder computing min([[pow2Above]], 2^[[signaturePlanes]])
    * of a column named `q` — integer comparisons only, so both engines land
    * on the same power of two for the same count. The ladder depth is
    * derived from [[signaturePlanes]]; raising the plane count widens both
    * the ladder and the engine-side cap together. */
  private[graft] def cellLadderSql: String =
    "CASE " + ((signaturePlanes - 1) to 0 by -1)
      .map(b => s"WHEN q >= ${1L << b} THEN ${1L << (b + 1)}")
      .mkString(" ") + " ELSE 1 END"

  /** q445/q446's shared group frame: distinct customer names with their
    * min-custkey group id and member count (dedup-BEFORE-block: the 100 TB
    * fix for q127's growing blocks — identical names collapse to one node
    * no matter how many members repeat them, so the fuzzy join runs on the
    * distinct-name universe, which grows with the ENTITY population, not
    * the row count). Fixture rows carried from q127. */
  private def nameGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      .unionByName(Seq(
        (900000001L, "Customer#A00001111"),
        (900000002L, "Customer#B00001111")).toDF("c_custkey", "c_name"))
      .groupBy(col("c_name"))
      .agg(min(col("c_custkey")).as("gid"), count(lit(1)).as("cnt"))
  }

  /** Deletion-1 neighborhood pairs over [[nameGroups]]: every group keyed
    * by itself and each delete-one-char variant, equi-joined on the
    * variant, then verified with exact Levenshtein <= 1. The deletion
    * neighborhood is COMPLETE for edit distance 1 (a substitution at
    * position p makes both names share the delete-p variant; an
    * insertion/deletion pair shares the shorter name itself), unlike
    * q127's two-pass prefix/suffix blocking — and each name contributes
    * length+1 variant rows, so the join input is O(groups · len) with
    * bucket occupancy bounded by the near-neighbor density, never by the
    * corpus row count. Verify kills variant collisions at distance 2. */
  private[graft] def nameGroupPairs(s: SparkSession, dir: String): DataFrame = {
    // checkpoint both frames: g feeds the variant explode AND two gather
    // joins; v feeds BOTH sides of the candidate self-join — without the
    // barriers the groupBy and the length(c_name)-way substring explode
    // each run twice (measured 4.3 s -> 2.6 s for q445 at sf0.1). Both
    // frames are narrow and |distinct names|-sized.
    val g = nameGroups(s, dir).localCheckpoint()
    val v = g.select(col("gid"), col("c_name"),
      explode(concat(
        array(col("c_name")),
        expr("transform(sequence(1, length(c_name)), i -> " +
          "concat(substring(c_name, 1, i - 1), substring(c_name, i + 1, 1000000)))")))
        .as("var"))
      .select(col("gid"), col("var"))
      .localCheckpoint()
    val cand = v.select(col("var"), col("gid").as("gid_a"))
      .join(v.select(col("var"), col("gid").as("gid_b")), Seq("var"))
      .filter(col("gid_a") < col("gid_b"))
      .select(col("gid_a"), col("gid_b")).distinct()
    cand
      .join(g.select(col("gid").as("gid_a"), col("c_name").as("__na"),
        col("cnt").as("n_a")), "gid_a")
      .join(g.select(col("gid").as("gid_b"), col("c_name").as("__nb"),
        col("cnt").as("n_b")), "gid_b")
      .withColumn("dist", levenshtein(col("__na"), col("__nb")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("gid_a"), col("gid_b"), col("dist"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
  }

  /** The SHARED distinct-name fuzzy-pair table — [[nameGroupPairs]]
    * materialized once per (input dir) per JVM and read back as parquet by
    * its three registered consumers: q445 emits it, q446 closes components
    * over it, and the q127/q203 twin aliases re-run those two. Before this
    * index each consumer re-derived the full pipeline (distinct-name
    * groupBy → deletion-variant explode → variant self-join → Levenshtein
    * verify — the most expensive block in the registry's top-3 keys); now
    * the derivation runs once per run, the copurchaseEdges/dedupIndex
    * convention (r17 verdict item 7 — an in-run shared artifact, never a
    * cross-run cache: the Materialize key folds in the customer table's
    * content fingerprint and every new JVM recomputes). */
  private def nameGroupPairsIndex(s: SparkSession, dir: String): DataFrame = {
    val idxDir = Materialize.scratch("name_pairs/del1", dir)
    Materialize.once(idxDir, T(s, dir, "customer")) {
      nameGroupPairs(s, dir).write.parquet(idxDir)
    }
    s.read.parquet(idxDir)
  }

  /** q447's pre-barrier pipeline (exposed for PlanSpec: the registered key
    * truncates to a checkpoint scan, so the pushdown/broadcast claims are
    * asserted on THIS frame): gate the stored pair index on the MinHash
    * estimate, broadcast the gated pairs against streamed texts, length
    * prefilter, DP once into a narrow row. */
  private[graft] def confirmPrunedInner(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val (pairs, _) = dedupIndex(s, dir)
    val t = docs.select(col("doc_id"), col("text"), length(col("text")).as("__len"))
    // the gated pair list is the SMALL side at every scale (the docs
    // side grows with the corpus) — broadcast it and stream the texts
    broadcast(pairs.filter(col("est_jaccard") >= 0.5))
      .join(t.select(col("doc_id").as("id_a"), col("text").as("__ta"),
        col("__len").as("__la")), "id_a")
      .join(t.select(col("doc_id").as("id_b"), col("text").as("__tb"),
        col("__len").as("__lb")), "id_b")
      .withColumn("__ml", greatest(col("__la"), col("__lb"), lit(1)))
      // the prefilter, EXACT at any text length: lev >= |la − lb|, so
      // (10000·lendiff) div ml >= 1001 forces (10000·lev) div ml > 1000,
      // i.e. sim_bp < 9000 — the DP is skipped only for pairs the final
      // threshold would drop anyway (a plain 10·lendiff > ml test is NOT
      // tight at the boundary once texts pass ~10k chars)
      .filter(expr("(10000 * abs(__la - __lb)) div __ml <= 1000"))
      .repartition(64, col("id_a")) // q276's DP-spread convention
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("lev"),
        col("__ml"))
  }

  /** q449's two sides (exposed for PlanSpec): the SERVING index — cell
    * assignment + embedding + PQ codes written as ONE bucketed-on-cell
    * catalog table (Storage.writeBucketed, the q88 layout discipline
    * applied to the ANN store) — and the probed query batch. The read path
    * joins them on cell: the stored side feeds the join STRAIGHT FROM ITS
    * BUCKETS (no Exchange between the scan and the join — the property a
    * 100 TB serving tier lives on: query traffic never reshuffles the
    * corpus). */
  private[graft] def annServingParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = T(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 16)
    val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
    val codes = Similarity.pqEncode(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", m = 4, subDim = 16)
    // table keyed by the sanitized dir (the dedupIndex/q122 convention):
    // the returned frame reads the catalog table LAZILY, so a fixed name
    // re-executed after a later build for a different dir would silently
    // serve the wrong corpus
    // keep ONLY [A-Za-z0-9_]: a '-' or '.' surviving into the unquoted
    // identifier is rejected by the catalog parser at s.table time (r16 advice)
    val table = s"g449_ivf_serving_${dir.replaceAll("[^A-Za-z0-9_]", "_")}"
      .toLowerCase
    graft.storage.Storage.writeBucketed(
      assigned.join(codes, "vec_id"), table, "cell", 8)
    // codes ride along for the ADC consumer (q451); q449's exact-float
    // search ignores them (ivfTopKPrepared projects them away post-join)
    val idxCells = s.table(table)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"),
        col("c0"), col("c1"), col("c2"), col("c3"))
    val queryCells = Similarity.ivfProbe(emb.filter(col("vec_id") < 8),
        cents, "vec_id", "embedding", nprobe = 1)
      .select(col("cell"), col("vec_id").as("query_id"),
        col("embedding").as("qv"))
    (idxCells, queryCells)
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q442_silhouette_scaled" -> ((s, dir) => {
      // q209 with the sample pinned to a CONSTANT size instead of a
      // constant fraction: sampleMod = max(1, n div 128) keeps |sample|
      // ~128 at every scale, so the broadcast-nested-loop work is
      // 128 · n — linear — where q209's id%4 sample made it n²/4
      // (65x at sf1, SCALE.md round 14). Same tenth-of-bp integer
      // distance grid, same output shape.
      val emb = T(s, dir, "embeddings")
      val mod = math.max(1L, emb.count() / 128L)
      Similarity.silhouetteSampled(emb, "vec_id", "embedding", "label",
        sampleMod = mod.toInt)
        .orderBy("vec_id")
    }),
    "q443_semdedup_lsh" -> ((s, dir) => {
      // SemDeDup with LSH cells instead of q273's fixed-k Lloyd cells:
      // the cell count is a power of two derived from the corpus count
      // (cells = pow2Above(n div 32)), so expected occupancy stays ~32-64
      // as data grows and the within-cell lower-id cosine prune is
      // n · occupancy — linear — where q273's fixed k=4 made cluster
      // sizes grow with n (39x at sf1). Cells come from the 16-plane
      // hyperplane signature (the q55 machinery, bands=1 so the bucket
      // IS the packed code) masked to the derived cell count; k-means
      // cells optimize the partition, LSH cells buy the same bound
      // without the n·k assignment pass a k ∝ n Lloyd would need (which
      // is itself quadratic — the reason k ∝ n alone is NOT the fix).
      // Cells cap at 2^signaturePlanes to mirror cellLadderSql's ladder
      // depth exactly (beyond the signature width, pmod is the identity
      // on both sides anyway).
      val emb = T(s, dir, "embeddings")
      val cells = math.min(pow2Above(emb.count() / 32L), 1L << signaturePlanes)
      val coded = Similarity.lshBands(emb, "vec_id", "embedding",
        numPlanes = signaturePlanes, bands = 1, dim = 64)
        .select(col("vec_id"), col("embedding"),
          pmod(col("bucket"), lit(cells)).as("cell"))
        .localCheckpoint() // two self-join branches: signature runs once
      val hi = coded.select(col("cell"), col("vec_id").as("__ih"),
        col("embedding").as("vh"))
      val lo = coded.select(col("cell"), col("vec_id").as("__il"),
        col("embedding").as("vl"))
      val dropped = hi.join(lo, Seq("cell"))
        .filter(col("__il") < col("__ih"))
        .filter((Similarity.dot("vh", "vl") /
          (Similarity.norm("vh") * Similarity.norm("vl"))) > 0.4)
        .select(col("__ih").as("vec_id")).distinct()
        .withColumn("__d", lit(1))
      coded.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("__d").isNull, 1L).otherwise(0L).as("kept"))
        .orderBy("vec_id")
    }),
    "q444_range_count_rank" -> ((s, dir) => {
      // q62's EXACT semantics (clicks within ±30min per signup) computed
      // WITHOUT enumerating pairs: the count is a difference of two
      // cumulative click ranks — F(t+30min, inclusive) − F(t−30min,
      // exclusive) — over the merged click/probe order, so the cost is
      // one two-phase prefix sum (TwoPhase.prefixSum: range-binned
      // parallel windows, bin offsets as driver metadata), O(n log n)
      // with NO candidate pairs at all. q62's binned join enumerates
      // every qualifying pair, and in a fixture where both sides densify
      // in the same month the pair count itself grows ∝ n² (29x at sf1)
      // — counting via ranks is the production shape when the answer is
      // a COUNT, not a pair listing. Boundary ties land exactly via the
      // probe side order: lo probes sort BEFORE clicks at equal ts
      // (excluded), hi probes AFTER (included).
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts").as("__t"), lit(1).as("__side"),
          col("event_id"), lit(1L).as("__click"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("ts"))
      val lo = signups.select(
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("__t"),
        lit(0).as("__side"), col("event_id"), lit(0L).as("__click"))
      val hi = signups.select(
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("__t"),
        lit(2).as("__side"), col("event_id"), lit(0L).as("__click"))
      val merged = clicks.unionByName(lo).unionByName(hi)
      val (ranked, _) = TwoPhase.prefixSum(merged,
        binKey = unix_micros(col("__t")),
        order = Seq(col("__t"), col("__side"), col("event_id")),
        value = col("__click"), out = "__f")
      ranked.filter(col("__side") =!= 1)
        .groupBy(col("event_id"))
        .agg((max(when(col("__side") === 2, col("__f"))) -
          max(when(col("__side") === 0, col("__f")))).as("clicks_nearby"))
        .filter(col("clicks_nearby") > 0)
        .orderBy("event_id")
    }),
    "q445_name_group_join" -> ((s, dir) =>
      // q127's fuzzy join re-registered dedup-before-block: pairs of
      // DISTINCT-NAME GROUPS (min-custkey id + member count) within edit
      // distance 1, candidates from the complete deletion-1 neighborhood
      // join. Identical names — however many rows repeat them — are ONE
      // node, so candidate volume is bounded by the distinct-name
      // universe and near-neighbor density, never by row replication
      // (q127's blocks grow ∝ n when names repeat: 22x at sf1). Full
      // recall at dist <= 1, unlike q127's prefix/suffix passes (hole at
      // positions 11-16 of an 18-char name).
      nameGroupPairsIndex(s, dir).orderBy("gid_a", "gid_b")),
    "q446_er_groups" -> ((s, dir) => {
      // q203's MDM closure run on the GROUP graph: min-label connected
      // components over q445's distinct-name pairs, every group stamped
      // with its entity id, the entity's group count and total MEMBER
      // count (multiplicities fold back as a sum, never as rows).
      // Closure input is |distinct names| nodes — at sf1 that is 15k
      // nodes instead of q203's 150k members and 675k duplicate-name
      // member pairs (16x at sf1). Sequential fixture names chain into
      // one giant entity — the known over-merge behavior of transitive
      // ER — which makes the gate pin full min-label convergence across
      // the component diameter.
      val g = nameGroups(s, dir).localCheckpoint() // read by 2 branches
      val pairs = nameGroupPairsIndex(s, dir)
        .select(col("gid_a").as("id_a"), col("gid_b").as("id_b"))
      val comp = Dedup.connectedComponents(pairs)
      val m = g.join(comp, g("gid") === comp("node"), "left")
        .select(col("gid"), col("cnt"),
          coalesce(col("component"), col("gid")).as("entity_id"))
      val sz = m.groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_groups"), sum(col("cnt")).as("n_members"))
      m.join(sz, Seq("entity_id"))
        .select(col("gid"), col("entity_id"),
          (col("gid") === col("entity_id")).as("is_canonical"),
          col("n_groups").cast("long").as("n_groups"),
          col("n_members").cast("long").as("n_members"))
        .orderBy("gid")
    }),
    "q447_confirm_pruned" -> ((s, dir) => {
      // q276's confirm stage at the PRODUCTION threshold (near-dup proper,
      // sim_bp >= 9000) behind a DUAL prune: (1) the MinHash estimate
      // itself gates which candidates graduate to the DP (est_jaccard >=
      // 0.5 — a pure column predicate PUSHED INTO the stored pair index's
      // parquet scan, so sub-threshold candidates never leave the file),
      // and (2) the length bound lev >= |len_a − len_b|, so a pair with
      // (10000·lendiff) div maxlen >= 1001 can never reach 9000 bp and
      // its len² DP is skipped. The estimate gate is what makes the key
      // scale-stable:
      // the >= 0.25 candidate population grows with band-collision
      // density (161k at sf1 vs 11k at sf0.1, 14.5x), while the >= 0.5
      // stratum is the planted near-dup population itself (258 -> 2.6k,
      // linear — measured round 15). Output: confirmed pairs only (the
      // verdict a dedup pipeline acts on), q276 kept as the full-listing
      // yardstick.
      confirmPrunedInner(s, dir)
        // barrier BETWEEN the DP and its consumers: without it, project
        // collapse inlines levenshtein into the sim_bp filter, the output
        // lev and the output sim_bp — the DP ran 4x per row (measured
        // 4.4 s vs 1.5 s at sf1). The checkpointed frame is narrow
        // (5 numeric cols, |gated pairs| rows), so the barrier is cheap
        .localCheckpoint()
        .withColumn("sim_bp",
          (lit(10000L) - expr("(10000 * lev) div __ml")).cast("long"))
        .filter(col("sim_bp") >= 9000L)
        .select(col("id_a"), col("id_b"), col("est_jaccard"), col("lev"),
          col("sim_bp"))
        .orderBy("id_a", "id_b")
    }),
    "q448_radius_scaled" -> ((s, dir) => {
      // q394's grid radius join with the radius (and with it the cell
      // size) derived from density: r² = max(1, 33_750_000 div n) keeps
      // the EXPECTED neighbor count per point constant (≈34 on the
      // 1001² planted plane) as points densify, and w = floor(sqrt(r²))
      // + 1 >= r keeps the 3×3 halo a complete cover — so candidate
      // volume is n · 9 · (n·w²/10⁶) ≈ 300 n, linear, where q394's
      // fixed 200-cell/150-radius pins made per-cell occupancy grow ∝ n
      // (12x at sf1). At the reference density (1500 points, sf0.1)
      // the derived knobs equal q394's exactly. floor(sqrt(integer))
      // is the one non-integer step — correctly rounded IEEE sqrt, so
      // both engines floor the same double.
      val u = T(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .localCheckpoint() // counted, then scanned by probe+build
      val n = u.count()
      val r2 = math.max(1L, 33750000L / n)
      val w = math.floor(math.sqrt(r2.toDouble)).toLong + 1L
      val pts = u.select(col("user_id"),
        (col("user_id") * 7919L % 1001L - 500L).as("px"),
        (col("user_id") * 104729L % 1001L - 500L).as("py"))
      val cell = pts
        .withColumn("cx", expr(s"(px + 500) div $w"))
        .withColumn("cy", expr(s"(py + 500) div $w"))
      val probe = cell
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("user_id").as("u_a"), col("px").as("xa"), col("py").as("ya"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      val build = cell.select(col("user_id").as("u_b"), col("px").as("xb"),
        col("py").as("yb"), col("cx"), col("cy"))
      probe.join(build, Seq("cx", "cy"))
        .filter(col("u_a") =!= col("u_b"))
        .withColumn("dist2",
          expr("(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)"))
        .filter(col("dist2") <= r2)
        .groupBy(col("u_a"))
        .agg(count(lit(1)).as("n_neighbors"),
          min(col("dist2")).as("min_dist2"),
          sum(col("dist2")).as("sum_dist2"))
        .orderBy("u_a")
    }),
    "q449_ann_serving" -> ((s, dir) => {
      // the MATERIALIZED ANN serving layout (round-14 verdict item 5):
      // IVF assignment + PQ codes written via Storage.writeBucketed on
      // the cell key, then the q58-shape search served FROM THE CATALOG
      // TABLE — identical results to q58 (same oracle), but the corpus
      // side of the probe join reads its buckets with NO Exchange
      // (PlanSpec asserts it). This is the q88 bucketed-join discipline
      // applied to the vector store: at 100 TB the index is written once
      // per build cadence and every query batch streams against it.
      val (idxCells, queryCells) = annServingParts(s, dir)
      Similarity.ivfTopKPrepared(idxCells, queryCells, k = 5)
        .orderBy("query_id", "rn")
    }),
    "q450_ivf_train_readout" -> ((s, dir) => {
      // IVF training EFFECTIVENESS readout (round-14 verdict item 4):
      // micro-Lloyd (k = 16, 2 exact-integer iterations, first-16 seeds)
      // vs the untrained seeds, each variant scored on (a) total EXACT
      // within-cell squared distortion — the number Lloyd provably
      // decreases — and (b) recall@5 of the q58-shape nprobe=1 search
      // against the exact top-5 truth for the 8-query probe set. On this
      // deliberately isotropic fixture (gen_scale: "no cluster
      // structure") recall is flat by construction — distortion is the
      // training signal (measured −40%); on a clustered corpus the same
      // readout shows both move together. All-integer output: sums and
      // hit counts, no rounded ratios to disagree on.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val seeds = Similarity.microSeedCentroids(emb, "vec_id", "embedding", 16)
      val trained = Similarity.ivfTrainMicro(emb, "vec_id", "embedding",
        k = 16, iterations = 2)
      val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      def readout(variant: String, cent: DataFrame,
                  searchCents: DataFrame): DataFrame = {
        val dist = Similarity.microAssignDist(emb, "vec_id", "embedding", cent)
          .agg(sum(col("d2")).as("sum_d2"), count(lit(1)).as("n_vecs"))
        val approx = Similarity.ivfTopK(emb, queries, searchCents,
          "vec_id", "embedding", k = 5, nprobe = 1)
        val hits = approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
          .agg(count(lit(1)).as("hits_at_5"))
        dist.crossJoin(hits)
          .select(lit(variant).as("variant"),
            col("sum_d2").cast("long").as("sum_d2"),
            col("n_vecs").cast("long").as("n_vecs"),
            col("hits_at_5").cast("long").as("hits_at_5"))
      }
      val untrainedSearch = emb.filter(col("vec_id") < 16)
      val trainedSearch = Similarity.microCentroidVectors(trained,
        "vec_id", "embedding")
      readout("seed", seeds, untrainedSearch)
        .unionByName(readout("trained", trained, trainedSearch))
        .orderBy("variant")
    }))

  val oracleSql: Seq[(String, String)] = Seq(
    "q442_silhouette_scaled" ->
      // q209's pairwise-Euclidean-on-the-integer-grid oracle with the
      // sample mod derived from the same count the engine uses
      """WITH s AS (SELECT vec_id AS sid, label AS sl,
        |    CAST(embedding AS DOUBLE[]) AS sv FROM embeddings
        |    WHERE vec_id % greatest(1, (SELECT count(*) // 128 FROM embeddings)) = 0),
        |p AS (SELECT vec_id AS pid, label AS pl,
        |    CAST(embedding AS DOUBLE[]) AS pv FROM embeddings),
        |sn AS (SELECT sid, sl, sv, list_dot_product(sv, sv) AS snorm FROM s),
        |pn AS (SELECT pid, pl, pv, list_dot_product(pv, pv) AS pnorm FROM p),
        |pr AS (SELECT sid, sl, pl,
        |    CAST(round(sqrt(greatest(snorm + pnorm - 2 * list_dot_product(sv, pv), 0))
        |      * 100000, 0) AS BIGINT) AS d
        |  FROM pn CROSS JOIN sn WHERE pid <> sid),
        |pc AS (SELECT sid, sl, pl, sum(d) AS sm, count(*) AS n FROM pr GROUP BY 1, 2, 3),
        |ab AS (SELECT sid, sl,
        |    max(CASE WHEN pl = sl THEN CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) END) AS a,
        |    min(CASE WHEN pl <> sl THEN CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) END) AS b
        |  FROM pc GROUP BY 1, 2)
        |SELECT sid AS vec_id, sl AS label,
        |  (round(a / 100000, 4) + 0.0) AS a_dist, (round(b / 100000, 4) + 0.0) AS b_dist,
        |  (round((b - a) / greatest(a, b), 4) + 0.0) AS silhouette
        |FROM ab WHERE a IS NOT NULL AND b IS NOT NULL ORDER BY vec_id""".stripMargin,
    "q443_semdedup_lsh" -> {
      val code = lshBandSqlGen(signaturePlanes, 1).head
      s"""WITH nn AS (SELECT count(*) // 32 AS q FROM embeddings),
         |cells AS (SELECT $cellLadderSql AS c FROM nn),
         |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |coded AS (SELECT vec_id, v, ($code) % (SELECT c FROM cells) AS cell FROM b),
         |dropped AS (SELECT DISTINCT hi.vec_id
         |  FROM coded hi JOIN coded lo ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
         |  WHERE list_dot_product(hi.v, lo.v) /
         |    (sqrt(list_dot_product(hi.v, hi.v)) * sqrt(list_dot_product(lo.v, lo.v))) > 0.4)
         |SELECT c.vec_id, c.cell, CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM coded c LEFT JOIN dropped d ON d.vec_id = c.vec_id ORDER BY c.vec_id""".stripMargin
    },
    "q444_range_count_rank" ->
      // IDENTICAL semantics to q62 — the oracle is q62's interval join;
      // the engine side proves the rank-difference identity against it
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s AS (SELECT event_id, ts FROM ev WHERE event_type = 'signup'),
        |c AS (SELECT ts AS cts FROM ev WHERE event_type = 'click')
        |SELECT s.event_id, count(*) AS clicks_nearby
        |FROM s JOIN c ON cts BETWEEN s.ts - INTERVAL 30 MINUTE AND s.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q445_name_group_join" ->
      // same group frame, same deletion-1 neighborhood, same verify
      """WITH base AS (SELECT c_custkey, c_name FROM customer
        |  UNION ALL SELECT * FROM (VALUES (900000001, 'Customer#A00001111'),
        |    (900000002, 'Customer#B00001111')) t(c_custkey, c_name)),
        |g AS (SELECT c_name, min(c_custkey) AS gid, count(*) AS cnt FROM base GROUP BY 1),
        |v AS (SELECT gid, CASE WHEN t.i = 0 THEN c_name
        |    ELSE substr(c_name, 1, CAST(t.i AS INT) - 1) || substr(c_name, CAST(t.i AS INT) + 1) END AS var
        |  FROM g, LATERAL (SELECT unnest(range(0, length(c_name) + 1)) AS i) t),
        |cand AS (SELECT DISTINCT a.gid AS gid_a, b.gid AS gid_b
        |  FROM v a JOIN v b ON a.var = b.var AND a.gid < b.gid)
        |SELECT gid_a, gid_b, CAST(levenshtein(ga.c_name, gb.c_name) AS BIGINT) AS dist,
        |  CAST(ga.cnt AS BIGINT) AS n_a, CAST(gb.cnt AS BIGINT) AS n_b
        |FROM cand JOIN g ga ON ga.gid = cand.gid_a JOIN g gb ON gb.gid = cand.gid_b
        |WHERE levenshtein(ga.c_name, gb.c_name) <= 1
        |ORDER BY gid_a, gid_b""".stripMargin,
    "q446_er_groups" ->
      // q445's pairs + the shared pointer-jumping min-label closure
      // (minLabelCc — q203's oracle convention, O(log diameter) rounds);
      // singletons self-canonical via the left-join coalesce, entity
      // sizes fold member counts back in
      s"""WITH base AS (SELECT c_custkey, c_name FROM customer
        |  UNION ALL SELECT * FROM (VALUES (900000001, 'Customer#A00001111'),
        |    (900000002, 'Customer#B00001111')) t(c_custkey, c_name)),
        |g AS MATERIALIZED (SELECT c_name, min(c_custkey) AS gid, count(*) AS cnt
        |  FROM base GROUP BY 1),
        |v AS (SELECT gid, CASE WHEN t.i = 0 THEN c_name
        |    ELSE substr(c_name, 1, CAST(t.i AS INT) - 1) || substr(c_name, CAST(t.i AS INT) + 1) END AS var
        |  FROM g, LATERAL (SELECT unnest(range(0, length(c_name) + 1)) AS i) t),
        |cand AS (SELECT DISTINCT a.gid AS gid_a, b.gid AS gid_b
        |  FROM v a JOIN v b ON a.var = b.var AND a.gid < b.gid),
        |pr AS (SELECT gid_a, gid_b FROM cand
        |  JOIN g ga ON ga.gid = cand.gid_a JOIN g gb ON gb.gid = cand.gid_b
        |  WHERE levenshtein(ga.c_name, gb.c_name) <= 1),
        |e AS MATERIALIZED (SELECT gid_a AS src, gid_b AS dst FROM pr
        |  UNION SELECT gid_b, gid_a FROM pr),
        |${minLabelCc()},
        |m AS (SELECT g.gid, g.cnt, coalesce(l$ccRounds.lab, g.gid) AS entity_id
        |  FROM g LEFT JOIN l$ccRounds ON l$ccRounds.node = g.gid),
        |sz AS (SELECT entity_id, count(*) AS n_groups, sum(cnt) AS n_members
        |  FROM m GROUP BY 1)
        |SELECT m.gid, m.entity_id, m.gid = m.entity_id AS is_canonical,
        |  CAST(sz.n_groups AS BIGINT) AS n_groups,
        |  CAST(sz.n_members AS BIGINT) AS n_members
        |FROM m JOIN sz USING (entity_id) ORDER BY m.gid""".stripMargin,
    "q447_confirm_pruned" ->
      // q44's banded candidates, the estimate gate, the length prefilter,
      // the DP, the production threshold (est_jaccard is a 4dp-rounded
      // multiple of 1/16 in both engines, so the 0.5 boundary is exact)
      s"""WITH pairs AS ($q44Sql),
         |j AS (SELECT p.id_a, p.id_b, p.est_jaccard,
         |    levenshtein(a.text, b.text) AS lev,
         |    greatest(length(a.text), length(b.text), 1) AS ml
         |  FROM pairs p
         |  JOIN documents a ON a.doc_id = p.id_a
         |  JOIN documents b ON b.doc_id = p.id_b
         |  WHERE p.est_jaccard >= 0.5
         |    AND (10000 * abs(length(a.text) - length(b.text)))
         |    // greatest(length(a.text), length(b.text), 1) <= 1000)
         |SELECT id_a, id_b, est_jaccard, CAST(lev AS BIGINT) AS lev,
         |  CAST(10000 - ((10000 * lev) // ml) AS BIGINT) AS sim_bp
         |FROM j WHERE 10000 - ((10000 * lev) // ml) >= 9000
         |ORDER BY id_a, id_b""".stripMargin,
    "q449_ann_serving" ->
      // q58's oracle verbatim: the serving layout changes WHERE the index
      // lives (a bucketed catalog table), never what the search returns
      """WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
        |scored AS (SELECT x.vec_id, x.vv, c.cell,
        |  row_number() OVER (PARTITION BY x.vec_id ORDER BY
        |    list_dot_product(x.vv, c.cv) / (sqrt(list_dot_product(x.vv, x.vv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |    c.cell) AS crn
        |  FROM vecs x CROSS JOIN cent c),
        |asg AS (SELECT vec_id, vv, cell FROM scored WHERE crn = 1),
        |q AS (SELECT vec_id AS query_id, vv AS qv, cell FROM asg WHERE vec_id < 8),
        |s AS (SELECT q.query_id, a.vec_id AS neighbor_id,
        |  list_dot_product(q.qv, a.vv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.vv, a.vv))) AS cosine
        |  FROM q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM s)
        |SELECT query_id, neighbor_id, (round(cosine, 4) + 0.0) AS cosine, rn FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin,
    "q450_ivf_train_readout" ->
      // the k=16 micro-Lloyd chain (shared lloydCtesK generator), exact
      // seed/trained distortions from the chain's own argmin rows, and the
      // q258-shape nprobe=1 searches under raw-seed vs rebuilt-trained
      // centroid vectors, each scored against the exact top-5 truth
      s"""WITH ${lloydCtesK(16)},
         |dd3 AS (SELECT c.vec_id, ct.cell, sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
         |  FROM comp c JOIN c2 ct USING (dim) GROUP BY 1, 2),
         |b3 AS (SELECT vec_id, min(d2) AS md FROM dd3 GROUP BY 1),
         |vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |cl0 AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |cl2 AS (SELECT cell, list(cm / 1000000.0 ORDER BY dim) AS cv FROM c2 GROUP BY 1),
         |qv AS (SELECT vec_id AS query_id, vv AS qvv FROM vecs WHERE vec_id < 8),
         |bs AS (SELECT query_id, vec_id AS neighbor_id,
         |  list_dot_product(qvv, vv) / (sqrt(list_dot_product(qvv, qvv)) * sqrt(list_dot_product(vv, vv))) AS cosine
         |  FROM vecs CROSS JOIN qv WHERE vec_id <> query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
         |  FROM bs) WHERE rn <= 5),
         |cc0 AS (SELECT x.vec_id, c.cell,
         |  row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |    list_dot_product(x.vv, c.cv) / (sqrt(list_dot_product(x.vv, x.vv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |    c.cell) AS crn
         |  FROM vecs x CROSS JOIN cl0 c),
         |cc2 AS (SELECT x.vec_id, c.cell,
         |  row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |    list_dot_product(x.vv, c.cv) / (sqrt(list_dot_product(x.vv, x.vv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |    c.cell) AS crn
         |  FROM vecs x CROSS JOIN cl2 c),
         |s0 AS (SELECT qp.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    list_dot_product(q.vv, n.vv) / (sqrt(list_dot_product(q.vv, q.vv)) * sqrt(list_dot_product(n.vv, n.vv))) AS cosine
         |  FROM (SELECT vec_id, cell FROM cc0 WHERE vec_id < 8 AND crn <= 1) qp
         |  JOIN (SELECT vec_id, cell FROM cc0 WHERE crn = 1) a ON a.cell = qp.cell
         |    AND a.vec_id <> qp.vec_id
         |  JOIN vecs q ON q.vec_id = qp.vec_id JOIN vecs n ON n.vec_id = a.vec_id),
         |t0 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
         |  FROM s0) WHERE rn <= 5),
         |s2 AS (SELECT qp.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    list_dot_product(q.vv, n.vv) / (sqrt(list_dot_product(q.vv, q.vv)) * sqrt(list_dot_product(n.vv, n.vv))) AS cosine
         |  FROM (SELECT vec_id, cell FROM cc2 WHERE vec_id < 8 AND crn <= 1) qp
         |  JOIN (SELECT vec_id, cell FROM cc2 WHERE crn = 1) a ON a.cell = qp.cell
         |    AND a.vec_id <> qp.vec_id
         |  JOIN vecs q ON q.vec_id = qp.vec_id JOIN vecs n ON n.vec_id = a.vec_id),
         |t2 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
         |  FROM s2) WHERE rn <= 5),
         |h0 AS (SELECT count(*) AS hits FROM t0 JOIN tr USING (query_id, neighbor_id)),
         |h2 AS (SELECT count(*) AS hits FROM t2 JOIN tr USING (query_id, neighbor_id))
         |SELECT 'seed' AS variant,
         |  (SELECT CAST(sum(md) AS BIGINT) FROM b1) AS sum_d2,
         |  (SELECT CAST(count(*) AS BIGINT) FROM b1) AS n_vecs,
         |  (SELECT CAST(hits AS BIGINT) FROM h0) AS hits_at_5
         |UNION ALL
         |SELECT 'trained',
         |  (SELECT CAST(sum(md) AS BIGINT) FROM b3),
         |  (SELECT CAST(count(*) AS BIGINT) FROM b3),
         |  (SELECT CAST(hits AS BIGINT) FROM h2)
         |ORDER BY variant""".stripMargin,
    "q448_radius_scaled" ->
      // q394's plane and halo with r² and w derived from the same
      // distinct-point count
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |nn AS (SELECT greatest(1, 33750000 // count(*)) AS r2 FROM u),
        |ww AS (SELECT r2, CAST(floor(sqrt(CAST(r2 AS DOUBLE))) AS BIGINT) + 1 AS w FROM nn),
        |p AS (SELECT user_id, (user_id * 7919) % 1001 - 500 AS px,
        |    (user_id * 104729) % 1001 - 500 AS py FROM u),
        |c AS (SELECT user_id, px, py, (px + 500) // (SELECT w FROM ww) AS cx,
        |    (py + 500) // (SELECT w FROM ww) AS cy FROM p),
        |o AS (SELECT CAST(unnest([-1, 0, 1]) AS BIGINT) AS d),
        |pr AS (SELECT c.user_id AS u_a, px AS xa, py AS ya,
        |    cx + ox.d AS cx, cy + oy.d AS cy FROM c, o ox, o oy),
        |j AS (SELECT pr.u_a,
        |    (pr.xa - b.px) * (pr.xa - b.px) + (pr.ya - b.py) * (pr.ya - b.py) AS dist2
        |  FROM pr JOIN c b ON pr.cx = b.cx AND pr.cy = b.cy AND pr.u_a <> b.user_id)
        |SELECT u_a, count(*) AS n_neighbors, CAST(min(dist2) AS BIGINT) AS min_dist2,
        |  CAST(sum(dist2) AS BIGINT) AS sum_dist2
        |FROM j WHERE dist2 <= (SELECT r2 FROM ww) GROUP BY 1 ORDER BY 1""".stripMargin)
}
