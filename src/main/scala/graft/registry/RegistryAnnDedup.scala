package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal

import SparkEntry._
import graft.storage.Materialize.scratch

/** Registry part: ANN/IVF/PQ, dedup-component and eval-curve keys (q243-q313),
  * with the density-scaled twins q443/q447 (where q273/q276 were) and the
  * ANN serving keys q449-q451/q453 (next to q257) and q458-q460 (next to
  * q307).
  *
  * Split VERBATIM from SparkEntry's single queries/oracleSql map literals
  * (round-13 verdict item 8 - pure maintainability, zero semantic change);
  * merged back into the public maps at SparkEntry init. RegistrySpec pins
  * the merged key set and the 1:1 queries<->oracleSql correspondence.
  */
private[graft] object RegistryAnnDedup {

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

  /** The filter-aware probe rule shared by the engine and (formula-for-
    * formula) the oracle: nprobe = min(|cells|, ceil(2 / sel²)) with
    * sel = kept/total. Inverse-SQUARE, not inverse-linear: the qualifying
    * density inside each probed cell falls ∝ sel AND the per-cell
    * qualifying counts get noisier as cells thin out, so an inverse-linear
    * rule (probe 2/sel cells) measured 0.650–0.825 recall at the
    * half/quarter legs (sf0.01) while the squared rule clears 0.95 on
    * every leg at every fixture SF. At quarter selectivity the rule
    * saturates to nprobe = |cells| — the EXACT pre-filtered scan — which
    * costs sel · n ≈ a quarter of one unfiltered corpus pass: falling back
    * to brute force over a selective filter's survivors is cheaper than
    * any probed search that still misses (the FAISS/Milvus filtered-search
    * playbook). Scanned volume per leg ≈ min(sel, 2/|cells| · 1/sel) of
    * the corpus, so adaptive filtered traffic is never more than ~2× an
    * unfiltered search. */
  private[graft] def adaptiveNprobe(total: Long, kept: Long, cells: Long): Int = {
    val k = math.max(kept, 1L)
    math.min(cells, (2L * total * total + k * k - 1L) / (k * k)).toInt
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q243_stream_quota" -> ((s, dir) =>
      // per-(user, hour) ingestion quota as a custom-state stream: ledgers
      // emit exactly once on watermark close; replay equals the batch
      // least(n, quota) twin because admission counts, not per-event
      // verdicts, are the contract (order-independent by construction)
      Streaming.quotaReplay(s, dir, scratch("q243_src", dir), maxPerHour = 1)
        .orderBy("user_id", "hour_start")),
    "q244_welch_t" -> ((s, dir) =>
      // per-metric two-arm mean test with unequal variances (the
      // experiment default): exact long/decimal sufficient stats, one
      // shared double chain for t and the Welch–Satterthwaite df
      Stats.welchTTest(
        T(s, dir, "events")
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "event_type", "arm", "cents")
        .orderBy("event_type")),
    "q245_bh_fdr" -> ((s, dir) => {
      // multiple-testing correction over the q221 drift family: KS
      // asymptotic p per segment (identical formula text both engines,
      // from exact integer inputs), then Benjamini–Hochberg at 5% FDR
      val ks = Stats.ksDriftByGroup(
        T(s, dir, "events")
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "event_type", "cents")
      val withP = ks.select(col("event_type"),
        least(lit(1.0), lit(2.0) * exp(lit(-2.0) *
          col("d_num").cast("double") * col("d_num").cast("double") /
          (col("n_group").cast("double") * col("n_rest").cast("double") *
            (col("n_group") + col("n_rest")).cast("double")))).as("p"))
      Stats.bhAdjust(withP, "event_type", "p")
        .select(col("event_type"), ops.Num.roundz(col("p"), 4).as("p"),
          col("rank"), col("rejected"))
        .orderBy("rank")
    }),
    "q246_ivfpq_search" -> ((s, dir) => {
      // the composed production index (FAISS-style IVFx,PQy): IVF cell
      // pruning bounds the candidate set, then only candidates pay the
      // m-lookup ADC sum — the ANN capstone over q58's cells and q224's
      // codes, same exact tenth-basis-point long distances
      val emb = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
          centroids = emb.filter(col("vec_id") < 16),
          codebook = emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", m = 4, subDim = 16, k = 5, nprobe = 2)
        .orderBy("query_id", "rn")
    }),
    "q247_best_threshold" -> ((s, dir) =>
      // operating-point selection: the doc-length cutoff that best
      // predicts the majority language — the F1 sweep runs on the score
      // HISTOGRAM via two descending two-phase prefix sums; exact micro-F1
      // argmax, ties to the larger threshold
      Stats.bestF1Threshold(
        T(s, dir, "documents").select(col("n_chars"), (col("lang") === "en").as("is_en")),
        "is_en", "n_chars")),
    "q248_stream_trending" -> ((s, dir) =>
      // per-day trending-item leaderboard from a watermarked append-mode
      // windowed count; top-3 ranked batch-side over the emitted window
      // rows (bounded by the item domain, never raw events)
      Streaming.trendingReplay(s, dir, scratch("q248_src", dir), topK = 3)
        .orderBy("day_start", "rn")),
    "q249_bpe_curve" -> ((s, dir) => {
      // the tokenizer-tuning readout: tokens-per-word as merges accumulate
      // (k = 0/2/4/8) — the curve that decides how many merges a budget
      // buys. Merges learned ONCE on the full corpus (greedy BPE nests, so
      // take(k) is exactly the k-merge vocabulary); each k is one encode
      // pass over a fixed doc slice; counts exact longs
      val docs = T(s, dir, "documents")
      val slice = docs.filter(col("doc_id") < 400).select(col("doc_id"), col("text"))
      val merges = Bpe.learnMerges(docs, "text", k = 8)
        .map { case (p1, p2, _) => (p1, p2) }
      val words = slice
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_words"))
      Seq(0, 2, 4, 8).map { k =>
        Bpe.encodeRanked(slice, "doc_id", "text", merges.take(k))
          .agg(sum(size(col("tokens"))).cast("long").as("n_tokens"))
          .select(lit(k.toLong).as("k"), col("n_tokens"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(words))
        .select(col("k"), col("n_tokens"), col("n_words").cast("long").as("n_words"),
          ops.Num.roundz(col("n_tokens").cast("double") / col("n_words"), 4)
            .as("tokens_per_word"))
        .orderBy("k")
    }),
    "q250_modularity" -> ((s, dir) => {
      // clustering-health gate for the near-dup graph: modularity of the
      // connected-component partition — near 1 ⇒ healthy forest of small
      // clusters, near 0 ⇒ one over-merged blob (the alarm a banding or
      // threshold change must be gated on); pairs AND components from the
      // shared materialized index
      val (pairs, comp) = dedupIndex(s, dir)
      Graph.modularity(pairs.select("id_a", "id_b"), comp)
    }),
    "q251_fk_audit" -> ((s, dir) =>
      // post-load referential-integrity contract: the three real TPC-H
      // FK chains plus the cross-domain probe events.user_id → customer —
      // the event stream's user space carries NO FK guarantee, so the
      // audit MEASURES it instead of assuming either way (intact today,
      // and a generator change that breaks it shows up as orphan counts,
      // not as silently-wrong joins downstream)
      Profiling.fkAudit(Seq(
        ("lineitem.orderkey", T(s, dir, "lineitem"), "l_orderkey",
          T(s, dir, "orders"), "o_orderkey"),
        ("orders.custkey", T(s, dir, "orders"), "o_custkey",
          T(s, dir, "customer"), "c_custkey"),
        ("customer.nationkey", T(s, dir, "customer"), "c_nationkey",
          T(s, dir, "nation"), "n_nationkey"),
        ("events.user_id", T(s, dir, "events"), "user_id",
          T(s, dir, "customer"), "c_custkey")))
        .orderBy("relation")),
    "q252_seq_monitor" -> ((s, dir) =>
      // the peeking curve per metric: first day the running two-arm count
      // difference crosses the 5% bound (exact-integer crossing — the SRM
      // convention) + the final state; exposes across-time multiple-looks
      // inflation the way q245 exposes the across-metrics kind
      Stats.sequentialMonitor(
        T(s, dir, "events")
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
          .withColumn("day", to_date(col("ts"))),
        "event_type", "arm", "day")
        .orderBy("event_type")),
    "q253_cuped" -> ((s, dir) =>
      // variance-reduced readout: per-user pre-period spend is the
      // covariate, θ pooled, adjusted diff = raw − θ·(pre-period
      // imbalance); the pre/post boundary anchors on min(day) + 15 so a
      // testdata regeneration moves the split with it
      Stats.cuped(
        T(s, dir, "events")
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
          .withColumn("day", to_date(col("ts")))
          .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)")),
        "user_id", "arm", "day", "cents")),
    "q254_lsh_curve" -> ((s, dir) => {
      // the empirical LSH collision curve: q233's eval with THREE planted
      // cohorts (half-truncate j≈0.5, three-quarter-keep j≈0.75, one-word
      // append j≈0.95), recall reported PER exact-Jaccard band — the
      // measurement that verifies the 1−(1−j²)⁸ S-curve end to end and
      // prices a banding change before it ships
      val base = T(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val words = "split(text, '\\\\s+')"
      val variants = base.select((col("doc_id") + 100000L).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          expr(s"concat_ws(' ', slice($words, 1, (size($words) + 1) div 2))"))
          .when(col("doc_id") % 3 === 1,
            expr(s"concat_ws(' ', slice($words, 1, (3 * size($words) + 3) div 4))"))
          .otherwise(concat(col("text"), lit(" zzplantdup"))).as("text"))
      val corp = base.unionByName(variants)
      val mh = Dedup.minHashNearDup(corp, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25)
        .select("id_a", "id_b")
      val sh = Dedup.wordShingles(corp, "doc_id", "text", 2)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val truth = sh.as("x").join(sh.as("y"),
          col("y.shingle") === col("x.shingle") &&
            col("y.doc_id") === col("x.doc_id") + 100000L)
        .filter(col("x.doc_id") < 300)
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
        .filter(ops.Num.roundz(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 4) >= 0.25)
        .select(col("id_a"), col("id_b"),
          least(expr("(4 * shared) div (na + nb - shared)"), lit(3L)).as("band"))
      val caught = truth.join(mh, Seq("id_a", "id_b"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_caught"))
      truth.groupBy(col("band")).agg(count(lit(1)).as("n_truth"))
        .join(caught, Seq("band"), "left")
        .select(col("band").cast("long").as("band"),
          col("n_truth").cast("long").as("n_truth"),
          coalesce(col("n_caught"), lit(0L)).cast("long").as("n_caught"),
          ops.Num.roundz(coalesce(col("n_caught"), lit(0L)).cast("double") /
            col("n_truth"), 4).as("recall"))
        .orderBy("band")
    }),
    "q255_dedup_funnel" -> ((s, dir) => {
      // which gate earns its cost: per-gate survivor counts over the SAME
      // corpus (raw / exact text / minhash components with one keeper per
      // component) — the comparison table a dedup-recipe decision reads,
      // complementing q216's sequential curation funnel. Near-dup
      // survivors = docs − (pair-graph nodes − components): docs outside
      // the pair graph survive untouched, count-sized arithmetic only
      val docs = T(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("docs"))
      val exact = docs.agg(count_distinct(col("text")).as("survivors"))
      val (_, comp) = dedupIndex(s, dir)
      val nd = comp
        .agg(count(lit(1)).as("nodes"), count_distinct(col("component")).as("comps"))
      nDocs.select(lit("a_raw").as("gate"), col("docs").as("docs_in"),
          col("docs").as("survivors"))
        .unionByName(nDocs.crossJoin(broadcast(exact))
          .select(lit("b_exact_text").as("gate"), col("docs").as("docs_in"),
            col("survivors")))
        .unionByName(nDocs.crossJoin(broadcast(nd))
          .select(lit("c_minhash_components").as("gate"), col("docs").as("docs_in"),
            (col("docs") - (col("nodes") - col("comps"))).as("survivors")))
        .select(col("gate"), col("docs_in").cast("long").as("docs_in"),
          col("survivors").cast("long").as("survivors"),
          (col("docs_in") - col("survivors")).cast("long").as("removed"))
        .orderBy("gate")
    }),
    "q256_ivfpq_recall" -> ((s, dir) => {
      // the composed IVF+PQ index measured HONESTLY: centroids and codebook
      // come from corpus slices DISJOINT from the query set (q246's gate
      // config trains the codebook on the queries themselves — right for
      // the equivalence proof, self-referential as a recall number), so
      // this is the recall@5 an nprobe×m trade-off would actually be tuned
      // by — q212 (IVF) and q225 (PQ) closed per-path; this closes the
      // composition
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfPqTopK(emb, queries,
          centroids = emb.filter(col("vec_id") >= 100 && col("vec_id") < 116),
          codebook = emb.filter(col("vec_id") >= 200 && col("vec_id") < 208),
          "vec_id", "embedding", m = 4, subDim = 16, k = 5, nprobe = 2)
      recallJoin(truth, approx)
        .groupBy(col("query_id"))
        .agg(count(col("__an")).as("hits"))
        .select(col("query_id"), col("hits").cast("long").as("hits"),
          ops.Num.roundz(col("hits") / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    }),
    "q257_ivf_train" -> ((s, dir) => {
      // the coarse quantizer TRAINED under the gate: 2 Lloyd rounds from
      // first-4-by-id seeds, entirely in exact micro-long arithmetic
      // (assignment = long-d2 struct-min, update = floor(sum/n) — the q235
      // discipline, which is what makes Lloyd oracle-able at all); output
      // is the per-cell assignment shift — seed occupancy, trained
      // occupancy, and arrivals (vectors that changed cell), the table
      // that says whether training moved anything
      val emb = T(s, dir, "embeddings")
      val seed = Similarity.microSeedCentroids(emb, "vec_id", "embedding", k = 4)
      val trained = Similarity.ivfTrainMicro(emb, "vec_id", "embedding",
        k = 4, iterations = 2)
      val a0 = Similarity.microAssign(emb, "vec_id", "embedding", seed)
        .select(col("vec_id"), col("cell").as("__c0"))
      val aT = Similarity.microAssign(emb, "vec_id", "embedding", trained)
        .select(col("vec_id"), col("cell").as("__ct"))
      val moved = a0.join(aT, Seq("vec_id"))
      moved.groupBy(col("__ct").as("cell"))
        .agg(count(lit(1)).as("n_trained"),
          sum(when(col("__c0") =!= col("__ct"), 1L).otherwise(0L)).as("arrivals"))
        .join(moved.groupBy(col("__c0").as("cell"))
          .agg(count(lit(1)).as("n_seed")), Seq("cell"), "full")
        .select(col("cell"),
          coalesce(col("n_seed"), lit(0L)).cast("long").as("n_seed"),
          coalesce(col("n_trained"), lit(0L)).cast("long").as("n_trained"),
          coalesce(col("arrivals"), lit(0L)).cast("long").as("arrivals"))
        .orderBy("cell")
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
    }),
    "q451_adc_search" -> ((s, dir) => {
      // ADC search over q449's serving layout: per-query LUT of squared-L2
      // distances to every (subspace, codeword) — |queries|·m·K rows of
      // driver-broadcastable metadata — then each candidate in the probed
      // cell scores as the SUM OF 4 TABLE LOOKUPS on its stored codes; the
      // candidate's embedding column is never touched. LUT entries land on
      // the 1e-6 integer grid before the sum, so the additive score is an
      // exact integer (order-free, engine-agnostic). Ranking: ADC distance
      // asc, neighbor id tie-break; recall@5 of the code-scored ranking vs
      // the exact float truth rides along per row (the q450 readout
      // discipline: the number that justifies shipping 8-bit codes).
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val (idxCells, queryCells) = annServingParts(s, dir)
      def sliced(df: DataFrame, idAs: String, vecAs: String) = df.select(
        col("vec_id").as(idAs),
        posexplode(expr(
          "transform(sequence(0, 3), i -> slice(embedding, i * 16 + 1, 16))"))
          .as(Seq("sub", vecAs)))
      val qs = sliced(queries, "query_id", "qs")
      val cb = sliced(emb.filter(col("vec_id") < 8), "code", "cs")
      val lut = qs.join(cb, "sub")
        .select(col("query_id"), col("sub"), col("code"),
          Num.roundz((Similarity.dot("qs", "qs")
            - lit(2.0) * Similarity.dot("qs", "cs")
            + Similarity.dot("cs", "cs")) * lit(1000000d))
            .cast("long").as("lq"))
      val cand = idxCells.join(queryCells, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
            .as(Seq("sub", "code")))
      val adc = cand.join(broadcast(lut), Seq("query_id", "sub", "code"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("lq")).as("adc_d2q"))
      val ranked = adc.withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("adc_d2q"), col("neighbor_id"))).cast("long"))
        .filter(col("rn") <= 5)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id").as("__tq"), col("neighbor_id").as("__tn"))
      ranked.join(truth,
          col("query_id") === col("__tq") && col("neighbor_id") === col("__tn"),
          "left")
        .withColumn("hit", when(col("__tn").isNotNull, 1L).otherwise(0L))
        .withColumn("hits_at_5",
          sum(col("hit")).over(Window.partitionBy(col("query_id"))).cast("long"))
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          col("adc_d2q"), col("hit"), col("hits_at_5"))
        .orderBy("query_id", "rn")
    }),
    "q453_graph_ann" -> ((s, dir) => {
      // GRAPH-based ANN — the third serving family next to IVF (q58/q449)
      // and LSH (q55): a bounded-degree proximity graph built once (each
      // node's top-4 cosine neighbors WITHIN its LSH cell, symmetrized —
      // build cost n·occupancy, occupancy ~32-64 by the q443 knob), then
      // batched greedy BEAM SEARCH from a fixed entry node: 4 hops, beam 8,
      // candidates re-ranked on the 1e-6 cosine grid with id tie-breaks
      // (public knowledge: NSW/Vamana-style best-first over a neighbor
      // graph, batched per hop for the dataflow engine). The scale
      // property: each hop touches only |beam|·degree candidate ids per
      // query — the corpus is read by ID-KEYED point lookups, never
      // scanned; recall@5 vs the exact truth rides along (the q451
      // readout discipline).
      val emb = T(s, dir, "embeddings")
      val n = emb.count()
      val cells = math.min(pow2Above(n / 32L),
        1L << signaturePlanes)
      val coded = Similarity.lshBands(emb, "vec_id", "embedding",
        numPlanes = signaturePlanes, bands = 1, dim = 64)
        .select(col("vec_id"), col("embedding"),
          pmod(col("bucket"), lit(cells)).as("cell"))
        .localCheckpoint() // self-join: signature computed once
      val la = coded.select(col("cell"), col("vec_id").as("src"),
        col("embedding").as("sv"))
      val lb = coded.select(col("cell"), col("vec_id").as("dst"),
        col("embedding").as("dv"))
      val out4 = la.join(lb, Seq("cell"))
        .filter(col("src") =!= col("dst"))
        .withColumn("cq", Num.roundz((Similarity.dot("sv", "dv") /
          (Similarity.norm("sv") * Similarity.norm("dv"))) * lit(1000000d))
          .cast("long"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cq").desc, col("dst"))))
        .filter(col("rn") <= 4)
        .select(col("src"), col("dst"))
      val edges = out4
        .unionByName(out4.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val corpus = emb.select(col("vec_id").as("node"), col("embedding").as("nv"))
      def withDist(cand: DataFrame): DataFrame =
        cand.join(corpus, "node")
          .join(broadcast(queries), "query_id")
          .select(col("query_id"), col("node"),
            Num.roundz((Similarity.dot("qv", "nv") /
              (Similarity.norm("qv") * Similarity.norm("nv"))) * lit(1000000d))
              .cast("long").as("cq"))
      // entry: the smallest corpus id that isn't the query itself
      val lowIds = emb.select(col("vec_id")).orderBy("vec_id").limit(2)
        .collect().map(_.getLong(0))
      var v = withDist(queries.select(col("query_id"),
        when(col("query_id") === lowIds(0), lit(lowIds(1)))
          .otherwise(lit(lowIds(0))).as("node"))).localCheckpoint()
      for (_ <- 1 to 4) {
        val nbrs = v.select(col("query_id"), col("node"))
          .join(edges, col("node") === col("src"))
          .select(col("query_id"), col("dst").as("node"))
          .filter(col("node") =!= col("query_id"))
        val cand = v.select(col("query_id"), col("node"))
          .unionByName(nbrs).distinct()
        v = withDist(cand)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cq").desc, col("node"))))
          .filter(col("rn") <= 8).drop("rn")
          .localCheckpoint() // flat lineage per hop
      }
      val ranked = v.withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cq").desc, col("node"))).cast("long"))
        .filter(col("rn") <= 5)
      val truth = Similarity.cosineTopK(emb,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
        .select(col("query_id").as("__tq"), col("neighbor_id").as("__tn"))
      ranked.join(truth,
          col("query_id") === col("__tq") && col("node") === col("__tn"),
          "left")
        .withColumn("hit", when(col("__tn").isNotNull, 1L).otherwise(0L))
        .withColumn("hits_at_5",
          sum(col("hit")).over(Window.partitionBy(col("query_id"))).cast("long"))
        .select(col("query_id"), col("rn"), col("node").as("neighbor_id"),
          col("cq").as("cos_q"), col("hit"), col("hits_at_5"))
        .orderBy("query_id", "rn")
    }),
    "q258_ivf_train_recall" -> ((s, dir) => {
      // does training the quantizer buy recall? recall@5 of the IVF search
      // path under the TRAINED centroids vs under the seed (first-K)
      // centroids, side by side per query against q45's exact truth — both
      // centroid sets pass through the same micro→double conversion so the
      // comparison isolates Lloyd, not quantization
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      def hits(cent: org.apache.spark.sql.DataFrame, as: String) = {
        val cvecs = Similarity.microCentroidVectors(cent, "vec_id", "embedding")
        val approx = Similarity.ivfTopK(emb, queries, cvecs,
            "vec_id", "embedding", 5, nprobe = 1)
        recallJoin(truth, approx)
          .groupBy(col("query_id")).agg(count(col("__an")).cast("long").as(as))
      }
      val seedH = hits(
        Similarity.microSeedCentroids(emb, "vec_id", "embedding", k = 4), "hits_seed")
      val trainH = hits(
        Similarity.ivfTrainMicro(emb, "vec_id", "embedding", k = 4, iterations = 2),
        "hits_trained")
      seedH.join(trainH, Seq("query_id"))
        .select(col("query_id"), col("hits_seed"),
          ops.Num.roundz(col("hits_seed") / lit(5.0), 4).as("recall_seed"),
          col("hits_trained"),
          ops.Num.roundz(col("hits_trained") / lit(5.0), 4).as("recall_trained"))
        .orderBy("query_id")
    }),
    "q259_cached_views" -> ((s, dir) => {
      // the response-cache parity path (reference Youtube_final.py:9-14
      // memoizes per-keyword API responses in a driver dict; the engine
      // analog is a SCOPED block-cache pin): the scored table is persisted
      // for exactly the scope in which two dashboard views consume it,
      // then released. Both views materialize INSIDE the scope
      // (localCheckpoint), so the second provably reads the
      // InMemoryRelation rather than re-running the scoring lineage —
      // PlanSpec asserts the plan shape, this gate pins the values
      // (hash-identical to the uncached twin by construction: caching is
      // never semantic)
      val scored = Sentiment.scoreByLexiconNative(T(s, dir, "documents"), "text")
      Pipeline.withCache(scored) { e =>
        val v1 = e.groupBy(col("sentiment")).agg(count(lit(1)).as("n"))
          .select(lit("by_sentiment").as("view_name"),
            col("sentiment").as("k"), col("n"))
        val v2 = e.filter(col("sentiment") === "positive")
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .select(lit("positive_by_lang").as("view_name"),
            col("lang").as("k"), col("n"))
        v1.unionByName(v2)
          .select(col("view_name"), col("k"), col("n").cast("long").as("n"))
          .orderBy("view_name", "k").localCheckpoint()
      }
    }),
    "q260_sequence_pack" -> ((s, dir) =>
      // the concat-and-chunk packing audit: documents concatenated in id
      // order into 256-token context windows; straddle_bp IS naive
      // packing's attention-contamination rate, tail_waste_bp the final
      // window's padding cost — offsets via the two-phase prefix sum, no
      // single-partition window
      Curation.sequencePackStats(T(s, dir, "documents"), "doc_id", "text",
        capacity = 256)),
    "q261_mixture_plan" -> ((s, dir) =>
      // the per-source mixing table behind every published pretraining
      // mixture: weight-share token targets against available tokens;
      // epochs_bp > 10^4 flags upsampling (repeat-risk) — one token
      // aggregate to the |sources|-row metadata frame
      Curation.mixturePlan(T(s, dir, "documents"), "source", "text",
        Map("src0" -> 4L, "src1" -> 3L, "src2" -> 2L, "src3" -> 1L),
        totalBudget = 100000L)
        .orderBy("source")),
    "q262_dup_spans" -> ((s, dir) =>
      // exact repeated-span audit (Lee et al. substring dedup at 3-token
      // granularity): per-doc share of spans whose exact text recurs
      // ANYWHERE in the corpus — catches boilerplate/template bodies that
      // survive every document-level gate; 8-byte Karp-Rabin exchange key
      Dedup.dupSpanStats(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id")),
    "q264_hard_negatives" -> ((s, dir) => {
      // contrastive-training pair mining: per anchor (vec_id < 8), the 3
      // nearest corpus vectors with a DIFFERENT label — the triplet-loss
      // negative selection step; broadcast anchors, one corpus scan,
      // two-phase ranking
      val emb = T(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "label", k = 3)
        .orderBy("query_id", "rn")
    }),
    "q265_incremental_components" -> ((s, dir) => {
      // incremental dedup-index maintenance PROVEN ≡ batch: components of
      // the historical slice (doc_id < 350) absorb a new batch (≥ 350) via
      // the resolved-star merge — old×new pairs from the STORED band index
      // (the shared materialized artifact: filtered to the historical ids
      // with a pushed parquet predicate, never re-banded — at 100 TB
      // re-banding history is the second corpus pass the production path
      // doesn't pay), new×new from banding the batch alone; historical
      // components likewise from the stored pair list restricted to
      // old×old edges (banding is per-doc and the threshold per-pair, so
      // the restriction IS the slice's pair set). The oracle recomputes
      // components over the WHOLE corpus from scratch, so the gate row IS
      // the incremental ≡ full-recompute proof.
      val docs = T(s, dir, "documents")
      val oldBands = dedupIndexBands(s, dir).filter(col("doc_id") < 350)
      val freshBanded = Dedup.bandedSignatures(docs.filter(col("doc_id") >= 350),
        "doc_id", "text", shingleK = 2, numHashes = 16, bands = 8)
      // the historical component map is a STORED artifact (yesterday's
      // merge output), read back — not recomputed per run (round-13
      // verdict item 3: the per-run min-label loop was the key's variance)
      val existing = Dedup.componentIndexSliceBelow(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25,
        indexDir = scratch("dedup_index/k2_h16_b8_t25", dir), idUpper = 350)
      val cross = Dedup.probeNearDupBanded(oldBands, freshBanded, "doc_id", 16, 0.25)
        .select(col("existing_id").as("id_a"), col("new_id").as("id_b"))
      val inner = Dedup.nearDupPairsBanded(freshBanded, "doc_id", 16, 0.25)
        .select(col("id_a"), col("id_b"))
      Dedup.mergeComponents(existing, cross.unionByName(inner))
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    "q266_stream_neardup" -> ((s, dir) =>
      // the streaming near-dup ingest gate: ascending-id micro-batches,
      // each banded once, probed against the accumulated parquet signature
      // index, deduped within-batch, survivors appended — the survivor set
      // is batching-invariant and equals "docs that are id_b of no
      // whole-corpus pair", which is exactly what the oracle computes
      Streaming.nearDupGateReplay(s, dir, scratch("q266_src", dir))
        .orderBy("doc_id")),
    "q267_stream_psi" -> ((s, dir) =>
      // the drift monitor as a STREAM: each arriving batch's value
      // histogram scored against the pinned first-batch reference via
      // q158's exact PSI machinery; batch boundaries derive from the id
      // span, so the oracle reproduces them with no stream knowledge
      Streaming.psiReplay(s, dir, scratch("q267_src", dir))
        .orderBy("batch_id")),
    "q268_ivfpq_curve" -> ((s, dir) => {
      // the nprobe trade-off curve q256's single point implies: composed
      // IVF+PQ recall@5 (disjoint centroids/codebook) at nprobe 1/2/4/8 —
      // rising recall prices the cost lever (nprobe/|cells| of the corpus
      // scanned per query); a plateau below 1.0 says the 8-entry codebook,
      // not cell pruning, is the bottleneck
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      Seq(1, 2, 4, 8).map { np =>
        val approx = Similarity.ivfPqTopK(emb, queries,
            centroids = emb.filter(col("vec_id") >= 100 && col("vec_id") < 116),
            codebook = emb.filter(col("vec_id") >= 200 && col("vec_id") < 208),
            "vec_id", "embedding", m = 4, subDim = 16, k = 5, nprobe = np)
        recallJoin(truth, approx)
          .agg(count(col("__an")).as("hits"))
          .select(lit(np.toLong).as("nprobe"), col("hits").cast("long").as("hits"),
            ops.Num.roundz(col("hits") / lit(40.0), 4).as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),
    "q269_pq_codebook_curve" -> ((s, dir) => {
      // q268's verdict was "the codebook, not cell pruning, caps recall" —
      // this curve proves the other lever works: FLAT ADC recall@5 (no IVF
      // confound) as the per-subspace codebook grows K = 4/8/16/32, all
      // slices disjoint from the query set; memory cost is log2(K) bits
      // per code, so the pair (q268, q269) prices the m/K-vs-nprobe budget
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      Seq(4, 8, 16, 32).map { kk =>
        val cb = emb.filter(col("vec_id") >= 200 && col("vec_id") < 200 + kk)
        val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding",
          m = 4, subDim = 16)
        val approx = Similarity.pqSearchTopK(codes, queries, cb,
            "vec_id", "embedding", m = 4, subDim = 16, k = 5)
        recallJoin(truth, approx)
          .agg(count(col("__an")).as("hits"))
          .select(lit(kk.toLong).as("codebook_k"),
            col("hits").cast("long").as("hits"),
            ops.Num.roundz(col("hits") / lit(40.0), 4).as("recall"))
      }.reduce(_ unionByName _).orderBy("codebook_k")
    }),
    "q270_cluster_sizes" -> ((s, dir) => {
      // near-dup cluster-size distribution over the materialized component
      // index: pairs vs blobs decides the rep-picking strategy (q105's
      // window is safe only while clusters stay small — this is the table
      // that watches that assumption), and a fattening tail is the same
      // over-merge alarm q250 scores as one number
      val (_, comp) = dedupIndex(s, dir)
      comp.groupBy(col("component")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size").cast("long").as("cluster_size"),
          col("n_clusters").cast("long").as("n_clusters"))
        .orderBy("cluster_size")
    }),
    "q271_source_dup_matrix" -> ((s, dir) => {
      // WHO copies from WHOM: near-dup pairs from the materialized index
      // grouped by unordered source pair — the provenance matrix that
      // decides which feeds are mirrors of each other (drop one) vs
      // independently noisy (dedup both); two narrow joins of the pair
      // list against the (id, source) projection, never text
      val docs = T(s, dir, "documents")
      val (pairs, _) = dedupIndex(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), "id_b")
        .groupBy(least(col("__sa"), col("__sb")).as("source_lo"),
          greatest(col("__sa"), col("__sb")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("source_lo"), col("source_hi"),
          col("n_pairs").cast("long").as("n_pairs"))
        .orderBy("source_lo", "source_hi")
    }),
    "q272_pq_rerank" -> ((s, dir) => {
      // the production ANN SERVING shape (FAISS-style search-then-refine,
      // and what the round-12 lever probes showed actually moves recall:
      // ADC alone saturates at code resolution because co-coded vectors
      // are indistinguishable): a cheap ADC shortlist of 20 candidates per
      // query — exact long arithmetic, q224's chain — then an exact-cosine
      // re-rank of ONLY the shortlist. Scale shape: the expensive exact
      // scoring touches |queries|·20 rows instead of |corpus|·|queries|
      // (q45's brute force); queries broadcast onto the shortlist, and the
      // corpus is touched once by the narrow id-keyed gather join.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val cb = emb.filter(col("vec_id") < 8) // q224's codebook config
      val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding",
        m = 4, subDim = 16)
      val shortlist = Similarity.pqSearchTopK(codes, queries, cb,
          "vec_id", "embedding", m = 4, subDim = 16, k = 20)
        .select(col("query_id"), col("neighbor_id"))
      val scored = shortlist
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), Seq("query_id"))
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (Similarity.dot("qv", "cv") /
            (Similarity.norm("qv") * Similarity.norm("cv"))).as("cosine"))
      Similarity.topKPerQuery(scored, 5).orderBy("query_id", "rn")
    }),
    // q273_semdedup is registered via SparkEntry.retiredToTwins (round 17):
    // SemDeDup with FIXED k=4 Lloyd cells makes cell occupancy — and with
    // it the within-cell pair volume — grow ∝ n (39× at sf1); the
    // registered plan is q443's density-derived LSH-cell variant and the
    // fixed-k shape lives on as a DedupSpec yardstick.
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
    "q274_knn_label" -> ((s, dir) => {
      // kNN majority-vote label propagation (the weak-labeling /
      // auto-labeling primitive): each query's label predicted from its 5
      // exact nearest neighbors' labels, majority with ties to the
      // smallest label. Composes q45's two-phase exact top-k (queries
      // broadcast, corpus scanned once) with a label gather; the vote
      // window runs on the |queries|x5 frame — metadata-sized, never the
      // corpus.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val nn = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      val votes = nn
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      import org.apache.spark.sql.expressions.Window
      votes
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("votes").desc, col("label"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("label").cast("long").as("pred_label"),
          col("votes").cast("long").as("votes"))
        .orderBy("query_id")
    }),
    "q275_dsir" -> ((s, dir) => {
      // DSIR (Xie et al. 2023, "Data Selection for Language Models via
      // Importance Resampling"): per-doc importance weight = sum over
      // tokens of the hashed-bucket log-likelihood ratio between a TARGET
      // domain (source='src0' — the high-quality-domain proxy) and the raw
      // corpus, Laplace-smoothed over B=64 buckets. Per-bucket log-ratios
      // are computed once on the 64-row margin frame, quantized to exact
      // micro-nat longs (the order-free float discipline), broadcast back,
      // and per-doc weights are exact long sums — two token-frame
      // aggregates plus one broadcast join, linear in token volume.
      val docs = T(s, dir, "documents")
      val tok = docs.select(col("doc_id"), col("source"),
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .withColumn("b", pmod(graft.functions.RollingHash(col("w")), lit(64L)))
        .localCheckpoint(eager = false)
      val tgt = tok.filter(col("source") === "src0")
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("rc"))
      val totals = tok.agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"))
      val lam = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(totals))
        .select(col("b"),
          ops.Num.roundz((
            log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double") /
              (col("nt") + lit(64L)).cast("double")) -
            log((col("rc") + lit(1L)).cast("double") /
              (col("nr") + lit(64L)).cast("double"))) * lit(1000000d), 0)
            .cast("long").as("lam_unats"))
      tok.join(broadcast(lam), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lam_unats")).as("w_unats"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("w_unats").cast("long").as("w_unats"))
        .orderBy("doc_id")
    }),
    // q276_editdist_confirm is registered via SparkEntry.retiredToTwins
    // (round 17): the full >= 0.25-candidate confirm listing grows with
    // band-collision density (14× at sf1); the registered plan is q447's
    // estimate-gated production confirm (est >= 0.5, sim_bp >= 9000) and
    // the full-listing shape lives on as a DedupSpec yardstick.
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
    "q277_ndcg" -> ((s, dir) => {
      // nDCG@5 of the exact retrieval path with label-match relevance —
      // the graded eval metric next to q212's recall@k: DCG discounts in
      // exact micro units (round(1e6/log2(rn+1)) — integer constants both
      // engines compute identically), IDCG = the same weights over the
      // first n_rel positions, ratio rounded 4dp. All on the |queries|x5
      // metadata frame.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val nn = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rn"))
      val wt = ops.Num.roundz(lit(1000000d) /
        (log(col("rn").cast("double") + lit(1.0)) / log(lit(2.0))), 0).cast("long")
      val scoredRel = nn
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")), "neighbor_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").as("__ql"))), "query_id")
        .select(col("query_id"), col("rn"),
          when(col("__nl") === col("__ql"), 1L).otherwise(0L).as("rel"),
          wt.as("w"))
        .localCheckpoint()
      val perQ = scoredRel.groupBy(col("query_id"))
        .agg(sum(col("rel")).as("n_rel"), sum(col("rel") * col("w")).as("dcg_u"))
      val idcg = scoredRel
        .join(perQ.select(col("query_id"), col("n_rel").as("__nr")), "query_id")
        .filter(col("rn") <= col("__nr"))
        .groupBy(col("query_id")).agg(sum(col("w")).as("idcg_u"))
      perQ.join(idcg, Seq("query_id"), "left")
        .select(col("query_id"), col("n_rel").cast("long").as("n_rel"),
          col("dcg_u").cast("long").as("dcg_u"),
          coalesce(col("idcg_u"), lit(0L)).cast("long").as("idcg_u"),
          when(coalesce(col("idcg_u"), lit(0L)) === 0L, lit(0.0))
            .otherwise(ops.Num.roundz(
              col("dcg_u").cast("double") / col("idcg_u").cast("double"), 4))
            .as("ndcg"))
        .orderBy("query_id")
    }),
    "q278_lsh_precision" -> ((s, dir) => {
      // the PRECISION curve of the banded MinHash candidates, bucketed by
      // estimated Jaccard, with q276's exact edit-distance arbiter as
      // truth — q233 closed recall (planted pairs found), this closes
      // precision (found pairs real). est_jaccard values are k/16 (exact
      // binary doubles), so the decile floor is engine-safe; the exact
      // confirm runs only on the candidate list.
      val docs = T(s, dir, "documents")
      val (pairs, _) = dedupIndex(s, dir)
      val t = docs.select(col("doc_id"), col("text"))
      pairs
        .join(t.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
        .join(t.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
        // spread the len^2 DP — see q276
        .repartition(64, col("id_a"))
        .select(floor(col("est_jaccard") * 10).cast("long").as("jacc_decile"),
          when(lit(10000L) - expr(
            "(10000 * levenshtein(__ta, __tb)) div greatest(length(__ta), length(__tb), 1)")
            >= 5000L, 1L).otherwise(0L).as("__c"))
        .groupBy(col("jacc_decile"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("__c")).as("n_confirmed"))
        .select(col("jacc_decile"), col("n_pairs").cast("long").as("n_pairs"),
          col("n_confirmed").cast("long").as("n_confirmed"),
          expr("(10000 * n_confirmed) div n_pairs").cast("long").as("precision_bp"))
        .orderBy("jacc_decile")
    }),
    "q279_langid_confusion" -> ((s, dir) =>
      // the language-ID confusion matrix against the corpus's lang column
      // — the eval that prices q50 before it gates anything: one
      // expression-native pass, one |langs|^2-bounded aggregate
      T(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("lang"), col("lang_pred"), col("n_docs").cast("long").as("n_docs"))
        .orderBy("lang", "lang_pred")),
    "q280_curation_matrix" -> ((s, dir) => {
      // the curation DECISION table: LM-quality tercile × near-dup status,
      // with doc and token mass per cell — what a mixture planner reads to
      // decide "drop dup tail, upsample clean head". Reuses BOTH shared
      // materialized derivations (the LM score table and the dedup
      // component index); the only new work is one token-count pass and
      // two id-keyed joins.
      val scores = lmScores(s, dir)
      val (ranked, n) = graft.ops.TwoPhase.globalRank(scores, col("avg_nll"),
        Seq(col("avg_nll"), col("doc_id")), "__rank")
      val buck = ranked.withColumn("bucket",
        graft.ops.TwoPhase.ntileFromRank("__rank", n, 3).cast("long"))
        .select(col("doc_id"), col("bucket"))
      val (_, comp) = dedupIndex(s, dir)
      val dup = comp.select(col("node").as("doc_id")).withColumn("__d", lit(1L))
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("__nt"))
      buck.join(dup, Seq("doc_id"), "left")
        .join(toks, Seq("doc_id"))
        .groupBy(col("bucket"),
          when(col("__d").isNull, 0L).otherwise(1L).as("is_dup"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
        .select(col("bucket"), col("is_dup"),
          col("n_docs").cast("long").as("n_docs"),
          col("total_tokens").cast("long").as("total_tokens"))
        .orderBy("bucket", "is_dup")
    }),
    "q281_gopher_repetition" -> ((s, dir) => {
      // Gopher's repetition rule (Rae et al. 2021, "Scaling Language
      // Models" §A1.1: drop docs whose most frequent n-gram covers too
      // much of the text — boilerplate/spam that per-line dedup misses):
      // per-doc top-bigram share in floor basis points, flagged at the
      // paper's 20% threshold for 2-grams. One bigram explode + two
      // map-side-combined aggregates, linear in token volume; docs with
      // < 2 tokens emit no row (no bigrams — both engines).
      val docs = T(s, dir, "documents")
      val withArr = docs.select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)").as("__tk"))
      val bi = withArr
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(__tk) >= 2 THEN " +
            "transform(sequence(0, size(__tk) - 2), i -> struct(__tk[i] AS a, __tk[i + 1] AS b)) " +
            "ELSE array() END")).as("__bg"))
        .select(col("doc_id"), col("__bg.a").as("a"), col("__bg.b").as("b"))
      bi.groupBy(col("doc_id"), col("a"), col("b"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_n"))
        .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
          col("top_n").cast("long").as("top_n"),
          expr("(10000 * top_n) div n_bigrams").cast("long").as("top_share_bp"))
        .withColumn("flagged",
          when(col("top_share_bp") > 2000L, 1L).otherwise(0L))
        .orderBy("doc_id")
    }),
    "q282_residual_pq" -> ((s, dir) => {
      // RESIDUAL-coded IVFPQ search (the production FAISS IVFx,PQy layout):
      // q246 composes IVF pruning with PQ codes of the RAW vectors; here the
      // codes quantize v − centroid(cell(v)), the fix for raw ADC's
      // within-cluster ranking ceiling measured in SCALE.md's round-12 ANN
      // probe. Per-(query, probed-cell) distance tables — the query residual
      // depends on the cell it's re-expressed against; same exact tenth-bp
      // long distances, same corpus-slice quantizers the oracle replicates
      // (centroids = first 16 by id; codebook = the RESIDUALS of the first 8)
      val emb = T(s, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
      val res = Similarity.residuals(emb, cent, "vec_id", "embedding")
      val cb = res.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("rvec"))
      val qres = Similarity.residuals(
        emb.filter(col("vec_id") < 8), cent, "vec_id", "embedding", nprobe = 2)
      Similarity.pqResidualSearchTopK(res, qres, cb, "vec_id",
          m = 4, subDim = 16, k = 5)
        .orderBy("query_id", "rn")
    }),
    "q283_ivf_balance" -> ((s, dir) => {
      // IVF index-health audit: the cell-occupancy table the nprobe cost
      // model stands on — per-query scan cost is sum of PROBED cell sizes,
      // so a skewed assignment (hot cell ≫ mean) silently turns "probe 2 of
      // 16 cells" into a near-full scan. Share in floor bp plus the per-cell
      // imbalance ratio vs the ideal |corpus|/|cells| (milli-units); the
      // monitor a production index rebuilds on. One assignment pass
      // (broadcast centroids), one |cells|-sized aggregate.
      val emb = T(s, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
      Similarity.ivfOccupancy(Similarity.ivfAssign(emb, cent, "vec_id", "embedding"))
        .orderBy("cell")
    }),
    "q284_sq8_search" -> ((s, dir) => {
      // scalar-quantized (SQ8) flat search: every dim affinely coded onto
      // 0..255 by its corpus [min,max] — the memory lever orthogonal to
      // PQ's (8 bits/DIM ≈ near-exact ranking at 4× compression vs
      // log2(K)/SUBSPACE at 10-100×); symmetric integer-L2 over codes,
      // exact long sums. Stats frame is 64 rows (broadcast); one encode
      // pass; the flat scan broadcasts the 8 coded queries
      val emb = T(s, dir, "embeddings")
      val codes = Similarity.sq8Encode(emb, "vec_id", "embedding")
      Similarity.sq8SearchTopK(codes, codes.filter(col("vec_id") < 8),
          "vec_id", k = 5)
        .orderBy("query_id", "rn")
    }),
    "q285_shard_merge" -> ((s, dir) => {
      // IVF index-shard MERGE — the maintenance op behind batched ingest
      // (build a per-batch index shard, merge into the serving index):
      // because assignment is per-vector against a SHARED coarse
      // quantizer, merging is a union of cell→vector assignments with no
      // re-clustering and no cross-shard work, and searching the merged
      // index is EXACTLY searching a monolithic one — which is the proof
      // this gate row encodes: the Spark side searches the union of two
      // parity shards, the oracle computes the monolithic nprobe=2 path.
      // At 100 TB: shards merge as parquet appends (cell is the partition
      // key); the merge itself moves no vector data
      val emb = T(s, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
      val shard = (p: Int) => Similarity.ivfAssign(
        emb.filter(pmod(col("vec_id"), lit(2)) === p), cent, "vec_id", "embedding")
      val merged = shard(0).unionByName(shard(1))
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val queryCells = Similarity.ivfProbe(emb.filter(col("vec_id") < 8),
          cent, "vec_id", "embedding", nprobe = 2)
        .select(col("cell"), col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = merged.join(queryCells, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine",
          Similarity.dot("qv", "cv") / (Similarity.norm("qv") * Similarity.norm("cv")))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
      Similarity.topKPerQuery(scored, 5).orderBy("query_id", "rn")
    }),
    "q286_mrr" -> ((s, dir) => {
      // MRR@5 of the exact retrieval path with label-match relevance — the
      // first-hit eval next to q212's recall@k and q277's nDCG. Reciprocal
      // ranks in exact micro-units via integer division (1000000 div rn —
      // both engines' integer div agree; the 1/3 case never touches
      // floats), summed order-free; the one float op is the final 4-dp
      // mean. All ranking work is the |queries|×5 metadata frame
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val nn = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rn"))
      val firstRel = nn
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")), "neighbor_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").as("__ql"))), "query_id")
        .filter(col("__nl") === col("__ql"))
        .groupBy(col("query_id")).agg(min(col("rn")).as("first_rel_rn"))
      queries.select(col("vec_id").as("query_id"))
        .join(firstRel, Seq("query_id"), "left")
        .select(coalesce(col("first_rel_rn"), lit(0L)).as("fr"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          sum(when(col("fr") === 0L, 0L)
            .otherwise(expr("CAST(1000000 AS BIGINT) div fr"))).cast("long")
            .as("rr_micro_sum"))
        .select(col("n_queries"), col("rr_micro_sum"),
          ops.Num.roundz(col("rr_micro_sum").cast("double") /
            (col("n_queries").cast("double") * lit(1000000.0)), 4).as("mrr"))
    }),
    "q287_scene_cuts" -> ((s, dir) => {
      // VIDEO shot-boundary detection under the gate — the keyframe
      // selector a vision-language curation pipeline runs before sampling
      // frames: per doc an animated GIF is synthesized whose channel means
      // drift smoothly (+4/+3/+5 per frame) except at every 3rd frame,
      // where a planted +60 red jump marks a cut; REAL ImageIO container
      // walk decodes EVERY frame (step=1), then consecutive-frame absolute
      // channel-mean deltas flag cuts at threshold 40 (smooth Δ=12,
      // cut Δ=72 — clean margins). The lag window runs per doc over ≤9
      // frames; decode fans out map-side before any shuffle. The oracle
      // predicts every mean arithmetically (solid indexed-palette frames
      // are lossless)
      import s.implicits._
      val vids = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
          val nf = (nc % 6 + 4).toInt
          val baseR = (id % 100).toInt
          val baseG = ((id * 7) % 200).toInt
          val colors = (0 until nf).map { i =>
            val r = baseR + 4 * i + 60 * (i / 3)
            val g = baseG + 3 * i
            val b = 10 + 5 * i
            (r << 16) | (g << 8) | b
          }
          (id, Multimodal.synthGif((id % 8 + 1).toInt, 3, colors))
        }).toDF("doc_id", "payload")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      val delta = abs(col("mean_r") - lag(col("mean_r"), 1).over(w)) +
        abs(col("mean_g") - lag(col("mean_g"), 1).over(w)) +
        abs(col("mean_b") - lag(col("mean_b"), 1).over(w))
      Multimodal.sampleGifFrames(vids, "doc_id", step = 1)
        .select(col("doc_id"), col("frame_idx"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .withColumn("delta_sum", delta)
        .filter(col("delta_sum").isNotNull)
        .select(col("doc_id"), col("frame_idx"),
          col("delta_sum").cast("long").as("delta_sum"),
          when(col("delta_sum") > 40, 1L).otherwise(0L).as("is_cut"))
        .orderBy("doc_id", "frame_idx")
    }),
    "q288_embed_covariance" -> ((s, dir) => {
      // EXACT covariance moments of a strided 16-dim embedding projection —
      // the PCA/whitening input (SemDeDup whitens before clustering; drift
      // monitors eigen-decompose this): per pair (i ≤ j) the (n, Σxᵢ, Σxⱼ,
      // Σxᵢxⱼ) moment table in exact micro/micro² longs, so shard results
      // MERGE BY ADDITION — the distributed-covariance contract a 100 TB
      // corpus needs (no order-dependent float accumulation anywhere; the
      // 4-dp cov display is derived per-row from the exact sums in one
      // fixed op order). Shape: the outer product fans out map-side
      // (N·136 rows — two chained posexplodes, zero joins), one hash
      // aggregate with map-side combine reduces to the 136-row table
      val emb = T(s, dir, "embeddings")
      val proj = emb.select(expr(
        "transform(sequence(0, 15), k -> CAST(round(CAST(element_at(embedding, k * 4 + 1) AS DOUBLE) * 1000000) AS BIGINT))")
        .as("p"))
      val withI = proj.select(col("p"), posexplode(col("p")).as(Seq("i", "mi")))
      withI.select(col("i"), col("mi"), posexplode(col("p")).as(Seq("j", "mj")))
        .filter(col("i") <= col("j"))
        .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
        .agg(count(lit(1)).as("n"), sum(col("mi")).as("sum_i"),
          sum(col("mj")).as("sum_j"), sum(col("mi") * col("mj")).as("sum_ij"))
        .select(col("i"), col("j"), col("n"),
          col("sum_i"), col("sum_j"), col("sum_ij"),
          ops.Num.roundz(
            col("sum_ij").cast("double") / col("n").cast("double") -
              (col("sum_i").cast("double") / col("n").cast("double")) *
              (col("sum_j").cast("double") / col("n").cast("double")), 4)
            .as("cov_micro2"))
        .orderBy("i", "j")
    }),
    "q289_index_delete" -> ((s, dir) => {
      // tombstone DELETE from the serving IVF index — q285's merge adds
      // shards, this removes vectors (the GDPR / right-to-be-forgotten
      // path of a vector store): the coded index is immutable parquet, so
      // a delete is a tombstone id-set applied as a broadcast ANTI join at
      // read time until the next compaction rewrites the cell files. The
      // gate row proves search-after-delete ≡ monolithic search over the
      // filtered corpus (the oracle's path); the coarse quantizer is a
      // PARAMETER table and correctly survives member deletion unchanged
      val emb = T(s, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 16)
      val index = Similarity.ivfAssign(emb, cent, "vec_id", "embedding")
      val tombstones = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id"))
      val live = index.join(broadcast(tombstones), Seq("vec_id"), "left_anti")
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val queryCells = Similarity.ivfProbe(
          emb.filter(col("vec_id") < 8 && pmod(col("vec_id"), lit(7)) =!= 3),
          cent, "vec_id", "embedding", nprobe = 2)
        .select(col("cell"), col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = live.join(queryCells, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine",
          Similarity.dot("qv", "cv") / (Similarity.norm("qv") * Similarity.norm("cv")))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
      Similarity.topKPerQuery(scored, 5).orderBy("query_id", "rn")
    }),
    "q290_image_resize" -> ((s, dir) => {
      // REAL box-filter image resize under the gate — the step before
      // patch embedding in a VLM pipeline: per doc an 8×6 tri-channel
      // gradient PNG (each channel a distinct linear ramp in x, y, and
      // doc_id — lossless), genuine ImageIO decode, 2×2 box downsample to
      // 4×3 with exact integer channel means (sum div 4 — nothing float).
      // Decode + fan-out are map-side (1 row in, 12 out) before the only
      // shuffle (the output sort); the oracle predicts every target pixel
      // arithmetically
      import s.implicits._
      val imgs = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.synthPngPixels(8, 6, (x, y) => {
            val r = ((id + 3 * x + 5 * y) % 256).toInt
            val g = ((id * 7 + 2 * x + 7 * y) % 256).toInt
            val b = ((id * 3 + 4 * x + y) % 256).toInt
            (r << 16) | (g << 8) | b
          }))
        }).toDF("doc_id", "payload")
      Multimodal.resizeBox(imgs, "doc_id", 4, 3)
        .orderBy("doc_id", "oy", "ox")
    }),
    "q291_temperature_mix" -> ((s, dir) => {
      // temperature-based source balancing (the mT5/XLM-R α-sampling rule,
      // α = 0.5): sampling weight p_s ∝ n_s^α flattens the source
      // distribution so head sources stop drowning tail ones — the
      // multilingual/multi-domain counterpart of q261's explicit-weight
      // plan. One map-side token-count aggregate to the |sources|-row
      // frame (size(filter(split)) per doc — the token explode never
      // happens); √n on an exact long is one IEEE op both engines round
      // identically, quantized to micro units; shares, allocations, and
      // the epochs_bp upsampling flag are exact integer division
      val docs = T(s, dir, "documents")
      val perSource = docs.select(col("source"),
          expr("size(filter(split(lower(text), '\\\\s+'), t -> length(t) > 0))")
            .cast("long").as("__tok"))
        .groupBy(col("source")).agg(sum(col("__tok")).as("n_tokens"))
        .withColumn("w_micro",
          expr("CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)"))
      val tot = perSource.agg(sum(col("w_micro")).as("__wt"))
      perSource.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"), col("w_micro"),
          expr("(10000 * w_micro) div __wt").cast("long").as("share_bp"),
          expr("(100000 * w_micro) div __wt").cast("long").as("alloc_tokens"),
          expr("(((100000 * w_micro) div __wt) * 10000) div n_tokens")
            .cast("long").as("epochs_bp"))
        .orderBy("source")
    }),
    "q292_stream_vector_ingest" -> ((s, dir) =>
      // the vector-store WRITE path as a stream: ascending-id micro-batches
      // of embeddings, each assigned to its cell against the pinned
      // broadcast quantizer and appended as an idempotent batch-keyed index
      // slice; the occupancy audit of the accumulated index must equal the
      // batch assignment of the whole corpus (the oracle IS q283's SQL) —
      // the exactly-once statement for streaming index ingest
      Streaming.vectorIngestReplay(s, dir, scratch("q292_src", dir))
        .orderBy("cell")),
    "q293_source_sketch" -> ((s, dir) => {
      // DATASET-level overlap estimation from MERGEABLE MinHash sketches —
      // the dump-vs-dump comparison (is this crawl mostly a re-crawl?)
      // that decides whether a new source is worth ingesting BEFORE any
      // pair-level dedup runs: per source one k=16 signature of its
      // shingle SET. min() merges across docs, shards, and dumps by
      // construction, so at 100 TB each shard sketches independently and
      // the combiner folds 16 longs per source; the pairwise comparison
      // runs on the |sources|² metadata frame. Same hash family as q44, so
      // the estimates are comparable across the whole dedup stack
      val docs = T(s, dir, "documents")
      val sigs = Dedup.minHashSignatures(
        Dedup.wordShingles(docs.select(col("source"), col("text")),
          "source", "text", 2), "source", 16)
      val a = sigs.select(col("source").as("src_a"), col("sig").as("sa"))
      val b = sigs.select(col("source").as("src_b"), col("sig").as("sb"))
      a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          expr("aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (acc, v) -> acc + v)")
            .as("agree"))
        .select(col("src_a"), col("src_b"), col("agree").cast("long").as("agree"),
          ops.Num.roundz(col("agree").cast("double") / lit(16.0), 4).as("est_jaccard"))
        .orderBy("src_a", "src_b")
    }),
    "q294_tfidf_pairs" -> ((s, dir) => {
      // weighted all-pairs similarity (Bayardo et al., WWW'07 shape):
      // rare-token tf-idf cosine over the df-capped vocabulary — the
      // WEIGHTED complement of MinHash set overlap (two docs sharing one
      // distinctive term rank above two sharing ten stopwords). The df cap
      // (≤ 20) is the scale contract: candidate generation is a token
      // equi-join whose per-token fan-in is ≤ cap docs (≤ cap² pairs), so
      // pair volume is Σ_t df_t² over rare tokens — never corpus²; common
      // tokens carry no discriminative signal and are EXCLUDED from the
      // similarity space entirely (dot AND norms — self-consistent
      // semantics the oracle mirrors). Weights are exact milli-nat longs
      // (tf · round(ln(N/df)·1000)); dot/norms are exact long sums; the
      // one float op chain is the final cosine, fixed order, 4 dp
      val docs = T(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val nDocs = docs.agg(countDistinct(col("doc_id")).as("__n"))
      val dfT = tok.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= 20)
      val wts = tok.join(dfT, Seq("w"))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("w"),
          (col("tf") * expr("CAST(round(ln(CAST(__n AS DOUBLE) / CAST(df AS DOUBLE)) * 1000) AS BIGINT)"))
            .as("wt"))
        .localCheckpoint(eager = false)
      val norms = wts.groupBy(col("doc_id")).agg(sum(col("wt") * col("wt")).as("n2"))
      val dots = wts.select(col("doc_id").as("id_a"), col("w"), col("wt").as("wa"))
        .join(wts.select(col("doc_id").as("id_b"), col("w"), col("wt").as("wb")), Seq("w"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(sum(col("wa") * col("wb")).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na2")), Seq("id_a"))
        .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb2")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          ops.Num.roundz(col("dot").cast("double") /
            sqrt(col("na2").cast("double") * col("nb2").cast("double")), 4)
            .as("cosine"))
        .filter(col("cosine") >= 0.5)
        .orderBy("id_a", "id_b")
    }),
    "q295_power_iteration" -> ((s, dir) =>
      // distributed PCA, extraction stage: the top principal direction of
      // the strided 16-dim projection by POWER ITERATION on the
      // correlation matrix — see [[topPrincipalDirection]] (shared with
      // q299, which projects the corpus onto this vector)
      topPrincipalDirection(s, dir)
        .select(col("j").cast("long").as("pos"), col("v").as("v_micro"),
          col("m").cast("long").as("growth"))
        .orderBy("pos")),
    "q296_lpa_communities" -> ((s, dir) => {
      // community detection by SYNCHRONOUS label propagation (Raghavan et
      // al. 2007) over the materialized co-purchase edge table: 4 fixed
      // rounds, each node adopts its neighbors' most frequent label with
      // ties to the smallest — the async/random-order variants converge
      // faster but are irreproducible, and a data pipeline needs the same
      // communities on every run. Per round: one node-keyed join against
      // the label frame, one (node, label) count, one degree-bounded
      // window — 4·O(m) total, on the shared edge artifact (derived once).
      // The label frame is |nodes| rows of two longs: the co-materialized
      // degree index's row count (a metadata-cheap |nodes|-row scan)
      // decides the pageRank broadcast rule, and each round's gather then
      // probes a broadcast map-side over the edge scan instead of
      // sort-merge-exchanging the m-row edge list every round (measured
      // SMJ in all 4 rounds before round 17); beyond broadcast range the
      // join falls back to exactly that round-16 shape. Labels are
      // identical either way (exact integer argmax). Both fields carry the
      // live key type: labels are node ids.
      val e = copurchaseEdges(s, dir) // (src, dst), both directions
      val idT = e.schema("src").dataType
      val bLab = ops.Graph.fitsRankBroadcast(copurchaseDegrees(s, dir).count(), idT, idT)
      var lab = e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      (1 to 4).foreach { _ =>
        val labSide = lab.select(col("node").as("dst"), col("label"))
        val gathered = e
          .join(if (bLab) broadcast(labSide) else labSide, "dst")
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc) as ONE hash aggregate —
        // max(struct(c, −label)) — instead of a per-round row_number
        // window, which would re-sort every node's candidate list
        lab = gathered
          .groupBy(col("src"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("b"))
          .select(col("src").as("node"), (-col("b.nl")).as("label"))
          .localCheckpoint()
      }
      lab.select(col("node").cast("long").as("node"),
          col("label").cast("long").as("label"))
        .orderBy("node")
    }),
    "q297_assortativity" -> ((s, dir) => {
      // degree assortativity (Newman 2002): Pearson r of endpoint degrees
      // over the co-purchase edges — the one-number graph-health summary
      // (hub-to-hub wiring r>0 vs hub-to-leaf r<0) that decides whether
      // degree-keyed partitioning will skew. Exact long moment sums over
      // one degree pass + two id-keyed joins; the correlation combines the
      // six exact sums in one fixed double op order, 4 dp
      val e = copurchaseEdges(s, dir)
      val deg = copurchaseDegrees(s, dir)
        .select(col("node").as("src"), col("degree").as("d"))
      val xy = e
        .join(deg.select(col("src"), col("d").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
        .select(col("dx"), col("dy"))
      xy.agg(count(lit(1)).as("n_edges"), sum(col("dx")).as("sx"),
          sum(col("dy")).as("sy"), sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sx2"), sum(col("dy") * col("dy")).as("sy2"))
        .select(col("n_edges").cast("long").as("n_edges"),
          ops.Num.roundz(expr(
            """(CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              | / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |    * sqrt(CAST(n_edges AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin), 4)
            .as("assortativity"))
    }),
    "q298_average_precision" -> ((s, dir) => {
      // AP@5 of the exact retrieval path with label-match relevance — the
      // order-sensitive cousin of q212's recall@k and q277's nDCG (a hit
      // at rank 1 outweighs one at rank 5; standard MAP headline).
      // precision@r quantized to exact micro-units ((cum·1e6) div r —
      // non-negative, so Spark trunc-div and DuckDB floor-div agree),
      // summed at hit ranks only, normalized by min(R, 5) where R counts
      // the query's label mates in the corpus (one |labels|-sized
      // aggregate, broadcast back). All ranking work on the |queries|×5
      // metadata frame.
      import org.apache.spark.sql.expressions.Window
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val nn = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rn"))
      val rel = nn
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")), "neighbor_id")
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").as("__ql"))), "query_id")
        .select(col("query_id"), col("rn"),
          when(col("__nl") === col("__ql"), 1L).otherwise(0L).as("rel"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("rn"))
      val perQ = rel.withColumn("cum", sum(col("rel")).over(w))
        .withColumn("pu", expr("(cum * 1000000) div rn"))
        .groupBy(col("query_id"))
        .agg(sum(col("rel")).as("n_rel"), sum(col("rel") * col("pu")).as("sum_pu"))
      val mates = emb.groupBy(col("label")).agg(count(lit(1)).as("__cl"))
      val denom = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(broadcast(mates), "label")
        .select(col("query_id"), least(col("__cl") - 1, lit(5L)).as("denom"))
      perQ.join(broadcast(denom), "query_id")
        .select(col("query_id"), col("n_rel").cast("long").as("n_rel"),
          col("sum_pu").cast("long").as("sum_pu"),
          col("denom").cast("long").as("denom"),
          when(col("denom") === 0L, lit(0.0)).otherwise(ops.Num.roundz(
            col("sum_pu").cast("double") / (col("denom").cast("double") * 1000000d), 4))
            .as("ap"))
        .orderBy("query_id")
    }),
    "q299_abtt_outliers" -> ((s, dir) => {
      // All-But-The-Top (Mu & Viswanath, ICLR 2018) applied as an audit:
      // the 20 vectors with the largest |projection| onto the corpus's top
      // principal direction — the anisotropy hubs an ABTT correction
      // subtracts before cosine retrieval (a large common component makes
      // everything look similar to everything). Chains the PCA pipeline
      // end-to-end: q288's one-pass moments → q295's integer power
      // iteration → THIS corpus projection pass. Exactness: the centered
      // projection is n·⟨x,u⟩ − ⟨Σx,u⟩ in exact longs (no mean division,
      // so no trunc-vs-floor hazard on negatives; |terms| ≤ n·6e6·1e6·16
      // ≪ 2⁶³ at bench SFs — re-quantize u before n reaches ~1e5). One
      // corpus scan; the direction and the 16 dim-sums ride as broadcasts;
      // top-20 via TakeOrdered, never a global sort.
      import org.apache.spark.sql.expressions.Window
      val vdir = topPrincipalDirection(s, dir)
      val emb = T(s, dir, "embeddings")
      val ex = emb.select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 15), k -> CAST(round(CAST(element_at(embedding, k * 4 + 1) AS DOUBLE) * 1000000) AS BIGINT))"))
        .as(Seq("i", "mi")))
      val st = ex.groupBy(col("i")).agg(count(lit(1)).as("n"), sum(col("mi")).as("si"))
      val tv = ex
        .join(broadcast(st), "i")
        .join(broadcast(vdir.select(col("j").as("i"), col("v"))), "i")
        .groupBy(col("vec_id"))
        .agg(sum((col("n") * col("mi") - col("si")) * col("v")).as("tn"))
      tv.orderBy(abs(col("tn")).desc, col("vec_id")).limit(20)
        .withColumn("rk",
          row_number().over(Window.orderBy(abs(col("tn")).desc, col("vec_id"))))
        .select(col("rk").cast("long").as("rk"),
          col("vec_id").cast("long").as("vec_id"), col("tn").cast("long").as("tn"))
        .orderBy("rk")
    }),
    "q300_matryoshka_curve" -> ((s, dir) => {
      // Matryoshka serving lever (MRL, Kusupati et al. 2022): recall@5 of
      // prefix-dimension cosine ranking against the full-64-dim exact
      // top-5 — the dims-vs-quality curve that prices truncated-embedding
      // retrieval (a d-dim prefix scan moves d/64 of the bytes and FLOPs
      // of the full scan; MRL-trained encoders front-load information so
      // short prefixes stay usable). Each leg is one broadcast-queries
      // corpus scan at the sliced width (q45's shape — corpus never
      // shuffles); intersection and the recall ratio run on |queries|×5
      // metadata frames.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      def top5(d: Int): DataFrame = {
        val q = queries.select(col("vec_id").as("query_id"),
          slice(col("embedding"), 1, d).as("qv"))
        val c = emb.select(col("vec_id").as("neighbor_id"),
          slice(col("embedding"), 1, d).as("cv"))
        val scored = c.crossJoin(broadcast(q))
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("cosine",
            Similarity.dot("qv", "cv") / (Similarity.norm("qv") * Similarity.norm("cv")))
          .select(col("query_id"), col("neighbor_id"), col("cosine"))
        Similarity.topKPerQuery(scored, 5).select(col("query_id"), col("neighbor_id"))
      }
      val full = top5(64).localCheckpoint()
      val nq = queries.agg(count(lit(1)).as("n_queries"))
      Seq(8, 16, 32).map { d =>
        top5(d).join(broadcast(full), Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("matched"))
          .select(lit(d.toLong).as("dims"), col("matched"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(nq))
        .select(col("dims"), col("n_queries").cast("long").as("n_queries"),
          col("matched").cast("long").as("matched"),
          ops.Num.roundz(col("matched").cast("double") /
            (col("n_queries").cast("double") * 5d), 4).as("recall"))
        .orderBy("dims")
    }),
    "q301_spearman" -> ((s, dir) => {
      // Spearman rank correlation between per-user activity (event count)
      // and spend (exact cents total) — the monotone-association check
      // behind "do heavy users spend more?", robust to the value
      // distribution's tail where q159's Pearson is not. Ranks are
      // row_number under a total order (metric, then user_id — the
      // deterministic tie policy both engines replay), assigned by the
      // two-phase global rank (q173's shape: 32 bin totals to the driver,
      // never a single-partition window); the correlation combines six
      // exact long rank-moments in one fixed double op order. Rank
      // products stay ≪ 2⁶³ up to ~2M users; shard-and-requantize past
      // that.
      val per = T(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          sum(ops.Num.roundz(col("value") * 100, 0).cast("long")).as("cents"))
        .localCheckpoint()
      val (ra, _) = graft.ops.TwoPhase.globalRank(per, col("n_ev"),
        Seq(col("n_ev"), col("user_id")), "ra")
      val (rb, _) = graft.ops.TwoPhase.globalRank(per, col("cents"),
        Seq(col("cents"), col("user_id")), "rb")
      ra.select(col("user_id"), col("ra"))
        .join(rb.select(col("user_id"), col("rb")), "user_id")
        .agg(count(lit(1)).as("n_users"), sum(col("ra")).as("sa"),
          sum(col("rb")).as("sb"), sum(col("ra") * col("rb")).as("sab"),
          sum(col("ra") * col("ra")).as("sa2"), sum(col("rb") * col("rb")).as("sb2"))
        .select(col("n_users").cast("long").as("n_users"),
          ops.Num.roundz(expr(
            """(CAST(n_users AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
              | / (sqrt(CAST(n_users AS DOUBLE) * CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              |    * sqrt(CAST(n_users AS DOUBLE) * CAST(sb2 AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))""".stripMargin), 4)
            .as("spearman"))
    }),
    "q302_filtered_ann" -> ((s, dir) => {
      // FILTERED vector search: top-5 under a metadata predicate
      // (label = 2) — the production RAG-serving path (tenant/ACL/
      // recency filters). PRE-filtering applies the predicate to the
      // cell scan BEFORE scoring (cell assignment is per-vector, so the
      // filtered index ≡ filtered assignments; cost ∝ selectivity and
      // exactness within probed cells is preserved); the row also
      // carries post_kept = predicate survivors in the UNFILTERED top-5
      // — the recall loss that makes naive filter-after-search wrong
      // (post_kept < 5 while the pre-filtered side still returns 5).
      // Same broadcast-centroid probes and two-phase ranking as q58,
      // nprobe = 2.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val cents = emb.filter(col("vec_id") < 16)
      val pre = Similarity.ivfTopK(emb.filter(col("label") === 2), queries,
        cents, "vec_id", "embedding", 5, nprobe = 2)
      val post = Similarity.ivfTopK(emb, queries, cents, "vec_id", "embedding", 5, nprobe = 2)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
        .filter(col("label") === 2)
        .groupBy(col("query_id")).agg(count(lit(1)).as("post_kept"))
      pre.join(broadcast(post), Seq("query_id"), "left")
        .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"),
          coalesce(col("post_kept"), lit(0L)).cast("long").as("post_kept"))
        .orderBy("query_id", "rn")
    }),
    "q303_freshness_decay" -> ((s, dir) => {
      // time-decayed engagement ranking: per-user sum of spend halved
      // every week of age (feed-ranking freshness), top 20. Exactness by
      // DYADIC arithmetic: age buckets k = days div 7 capped at 16, each
      // cents amount scaled by 2^(16−k) — a LONG shift, so the per-user
      // sum is an exact integer both engines agree on regardless of
      // add order (a float exp(−λ·age) sum would be order-sensitive).
      // The "now" anchor is data-derived (max ts, q09's rule); one
      // groupBy(user) with map-side combine; top-20 via TakeOrdered.
      val ev = T(s, dir, "events")
      val anchor = ev.agg(max(to_date(col("ts"))).as("__today"))
      val scored = ev.crossJoin(broadcast(anchor))
        .select(col("user_id"),
          ops.Num.roundz(col("value") * 100, 0).cast("long").as("cents"),
          least(expr("datediff(__today, to_date(ts)) div 7"), lit(16L)).as("k"))
        .select(col("user_id"),
          expr("cents * shiftleft(1L, CAST(16 - k AS INT))").as("scaled"))
      scored.groupBy(col("user_id"))
        .agg(sum(col("scaled")).as("scaled"))
        .select(col("user_id"), col("scaled").cast("long").as("scaled"),
          ops.Num.roundz(col("scaled").cast("double") / 65536d, 4).as("score"))
        .orderBy(col("scaled").desc, col("user_id")).limit(20)
    }),
    "q304_colbert_maxsim" -> ((s, dir) => {
      // late-interaction retrieval (ColBERT MaxSim, Khattab & Zaharia
      // SIGIR 2020): each vector is read as 4 16-dim "token" subvectors
      // (contiguous slices); score(q, d) = Σ_i max_j cos(q_i, d_j) — the
      // retrieval family between single-vector cosine (q45) and full
      // cross-attention, ranking by best per-token alignment. Shape: the
      // whole interaction is MAP-SIDE — subvectors are normalized once
      // per row, the 8 prepared queries broadcast, and each corpus row
      // computes all 16 dots and the fixed-order fold (((m0+m1)+m2)+m3
      // — no float-sum order hazard) in one scan with ZERO shuffle
      // before the two-phase k-heap (an explode-and-regroup formulation
      // would shuffle 4·|corpus|·|queries| rows back together).
      val emb = T(s, dir, "embeddings")
      val prep = (idAs: String, out: String) => (df: DataFrame) => df
        .select(col("vec_id").as(idAs),
          expr("transform(sequence(0, 3), i -> slice(embedding, i * 16 + 1, 16))").as("__subs"))
        .withColumn("__norms", expr(
          "transform(__subs, sv -> sqrt(aggregate(zip_with(sv, sv, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)))"))
        .select(col(idAs), expr(
          "zip_with(__subs, __norms, (sv, nm) -> transform(sv, x -> CAST(x AS DOUBLE) / nm))")
          .as(out))
      val q8 = prep("query_id", "qn")(emb.filter(col("vec_id") < 8))
      val cs = prep("neighbor_id", "cn")(emb)
      val dotIJ = (i: Int, j: Int) =>
        s"aggregate(zip_with(element_at(qn, $i), element_at(cn, $j), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
      val g = (i: Int) => s"greatest(${(1 to 4).map(j => dotIJ(i, j)).mkString(", ")})"
      val ms = cs.crossJoin(broadcast(q8))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          expr(s"(((${g(1)} + ${g(2)}) + ${g(3)}) + ${g(4)})").as("cosine"))
      Similarity.topKPerQuery(ms, 5)
        .select(col("query_id"), col("neighbor_id"), col("cosine").as("maxsim"), col("rn"))
        .orderBy("query_id", "rn")
    }),
    "q305_vocab_coverage" -> ((s, dir) => {
      // tokenizer vocabulary sizing: corpus token coverage at vocab
      // cutoffs V ∈ {5, 10, 20} (sized to the synthetic 31-token vocabulary so the
      // curve is informative) — the OOV-rate curve read before BPE
      // training (q223/q249 learn the merges; this prices the budget).
      // One token pass to the vocab frame; head ranks via the two-phase
      // global rank (the vocabulary is corpus-sized at 100 TB — never a
      // single-partition window over it); coverage in exact integer
      // basis points.
      val counts = T(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("nc", negate(col("cnt")))
        .localCheckpoint()
      val (ranked, _) = graft.ops.TwoPhase.globalRank(counts, col("nc"),
        Seq(col("nc"), col("token")), "rank")
      val tot = counts.agg(sum(col("cnt")).as("total_tokens"))
      Seq(5, 10, 20).map { v =>
        ranked.filter(col("rank") <= v)
          .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered_tokens"))
          .select(lit(v.toLong).as("vocab_size"), col("covered_tokens"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(tot))
        .select(col("vocab_size"),
          col("covered_tokens").cast("long").as("covered_tokens"),
          col("total_tokens").cast("long").as("total_tokens"),
          expr("(covered_tokens * 10000) div total_tokens").as("coverage_bp"))
        .orderBy("vocab_size")
    }),
    "q306_vacuum_retention" -> ((s, dir) => {
      // lakehouse VACUUM under a retention horizon — the 100 TB analogue
      // of the reference's cadenced Postgres VACUUM task (Data
      // Collection/Airflow.py:85-90). Lifecycle staged the way the public
      // formats do it: v1 commits half the days, v2 appends the rest, v3
      // is an OPTIMIZE REWRITE (new compacted files APPENDED — writers
      // never delete; v2's generation stays readable for time travel),
      // then vacuum(retain ≥ 3) reclaims every file no retained snapshot
      // references. The gate reads the post-vacuum v3 snapshot — row
      // fidelity through commit→rewrite→reclaim is the contract
      // ("never delete a file a retained snapshot can read");
      // StorageSpec asserts the file accounting (old generation gone,
      // naive dir read ≡ v3 afterwards).
      import graft.storage.Storage
      val tmp = scratch("q306_vac", dir); val log = scratch("q306_vac_log", dir)
      val ev = T(s, dir, "events")
        .withColumn("day", TextFunctions.dayString(col("ts")))
      ev.filter(col("day") < "2024-01-16")
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      Storage.commitSnapshot(s, tmp, log, 1L, reset = true)
      ev.filter(col("day") >= "2024-01-16")
        .write.mode("append").partitionBy("day").parquet(tmp)
      Storage.commitSnapshot(s, tmp, log, 2L)
      Storage.readSnapshot(s, tmp, log, 2L)
        .repartition(col("day"))
        .write.mode("append").partitionBy("day").parquet(tmp)
      Storage.commitRewrite(s, tmp, log, 3L, replacing = 2L)
      Storage.vacuum(s, log, retainMinVersion = 3L)
      Storage.readSnapshot(s, tmp, log, 3L)
        // partition-dir read-back infers `day` as DATE; the contract (and
        // the oracle) speak strings
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("day"), col("cnt").cast("long").as("cnt"))
        .orderBy("day")
    }),
    "q307_filtered_recall" -> ((s, dir) => {
      // the EVAL for q302: recall@5 of pre-filtered IVF (nprobe = 2)
      // against the exact filtered top-5, across predicate selectivities
      // (all / half / quarter of the corpus) — filtered-search recall is
      // the hard production question (a selective filter empties probed
      // cells, so recall vs selectivity is the curve that sets nprobe for
      // filtered traffic). Truth via the broadcast-queries brute-force
      // scan on the SAME filtered corpus; hits and ratios on |queries|×5
      // frames.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val cents = emb.filter(col("vec_id") < 16)
      val legs = Seq(
        ("all", lit(true)),
        ("half", col("label") <= 1),
        ("quarter", col("label") === 2))
      legs.map { case (name, pred) =>
        val corpus = emb.filter(pred)
        val approx = Similarity.ivfTopK(corpus, queries, cents,
          "vec_id", "embedding", 5, nprobe = 2)
          .select(col("query_id"), col("neighbor_id"))
        val truth = Similarity.cosineTopK(corpus, queries, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(broadcast(truth), Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("leg"), col("hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(queries.agg(count(lit(1)).as("n_queries"))))
        .select(col("leg"), col("n_queries").cast("long").as("n_queries"),
          col("hits").cast("long").as("hits"),
          ops.Num.roundz(col("hits").cast("double") /
            (col("n_queries").cast("double") * 5d), 4).as("recall"))
        .orderBy("leg")
    }),
    "q458_adaptive_nprobe" -> ((s, dir) => {
      // filter-aware nprobe (r16 verdict item 7): per selectivity leg the
      // probe width comes from adaptiveNprobe over a ONE-PASS label
      // histogram (the q166/q326 stats estimate — driver metadata, never a
      // second corpus scan), then the q302 pre-filtered IVF search runs at
      // that width with exact-truth recall riding along per leg (the q450
      // readout discipline: the number that justifies the rule).
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val cents = emb.filter(col("vec_id") < 16)
      val hist = emb.groupBy(col("label").cast("long").as("l"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = hist.values.sum
      // labels are ~uniform over 0..9, so the four legs sweep the rule's
      // whole range: sel ~1.0 -> np 2, ~0.7 -> np 5, ~0.5 -> np 8,
      // ~0.1 -> np 16 (the exact pre-filtered fallback)
      val legs = Seq(
        ("l1_all", lit(true), total),
        ("l2_mild", col("label") <= 6, hist.filter(_._1 <= 6L).values.sum),
        ("l3_half", col("label") <= 4, hist.filter(_._1 <= 4L).values.sum),
        ("l4_narrow", col("label") === 2, hist.getOrElse(2L, 0L)))
      legs.map { case (name, pred, kept) =>
        val np = adaptiveNprobe(total, kept, cells = 16L)
        val corpus = emb.filter(pred)
        val approx = Similarity.ivfTopK(corpus, queries, cents,
          "vec_id", "embedding", 5, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
        val truth = Similarity.cosineTopK(corpus, queries,
          "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(broadcast(truth), Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("leg"),
            lit(10000L * kept / total).as("sel_bp"),
            lit(np.toLong).as("nprobe"), col("hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(queries.agg(count(lit(1)).as("n_queries"))))
        .select(col("leg"), col("sel_bp"), col("nprobe"),
          col("n_queries").cast("long").as("n_queries"),
          col("hits").cast("long").as("hits"),
          ops.Num.roundz(col("hits").cast("double") /
            (col("n_queries").cast("double") * 5d), 4).as("recall"))
        .orderBy("leg")
    }),
    "q459_histogram_selectivity" -> ((s, dir) => {
      // the optimizer-statistics loop CLOSED: q326's ANALYZE-style
      // equi-depth histogram (32 buckets over order cents, exact two-phase
      // ranks) ESTIMATES range-predicate selectivities — full mass from
      // buckets above the threshold, uniform interpolation inside the
      // boundary bucket, all integer arithmetic — and each estimate is
      // priced against the exact count. This is the readout that decides
      // whether stored stats are fresh enough to drive runtime rules (the
      // q458 adaptive-nprobe selectivity input names exactly this family).
      // Scale shape: the histogram is 32 rows of metadata derived by the
      // TwoPhase rank (never a single-partition window); estimation is a
      // 32x|thresholds| broadcast fold; the exact side is ONE conditional
      // pass with map-side combine.
      import s.implicits._
      val o = T(s, dir, "orders").select(col("o_orderkey"),
        ops.Num.roundz(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val (ranked, nTot) = TwoPhase.globalRank(o, col("cents"),
        Seq(col("cents"), col("o_orderkey")), "rank")
      val hist = ranked
        .withColumn("bucket", TwoPhase.ntileFromRank("rank", nTot, 32).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"), min(col("cents")).as("lo"),
          max(col("cents")).as("hi"))
        .localCheckpoint() // 32 rows, probed by every threshold leg
      // thresholds sweep the mass: tail / body / median / head / extreme
      val ts = Seq(5000000L, 15000000L, 25000000L, 40000000L, 48000000L)
        .toDF("t_cents")
      val est = hist.crossJoin(broadcast(ts))
        .select(col("t_cents"),
          when(col("t_cents") <= col("lo"), col("cnt"))
            .when(col("t_cents") > col("hi"), lit(0L))
            // inclusive integer widths: the boundary bucket contributes
            // cnt * (hi - t + 1) div (hi - lo + 1) — floor on both engines
            .otherwise(expr("cnt * (hi - t_cents + 1) div (hi - lo + 1)"))
            .as("part"))
        .groupBy(col("t_cents")).agg(sum(col("part")).as("est_rows"))
      val actual = o.crossJoin(broadcast(ts))
        .filter(col("cents") >= col("t_cents"))
        .groupBy(col("t_cents")).agg(count(lit(1)).as("actual_rows"))
      est.join(actual, Seq("t_cents"), "left")
        .select(col("t_cents"), lit(nTot).as("n_total"),
          col("est_rows").cast("long").as("est_rows"),
          coalesce(col("actual_rows"), lit(0L)).cast("long").as("actual_rows"),
          expr(s"est_rows * 10000 div $nTot").cast("long").as("est_bp"),
          expr(s"coalesce(actual_rows, 0) * 10000 div $nTot").cast("long").as("actual_bp"),
          expr(s"abs(est_rows - coalesce(actual_rows, 0)) * 10000 div $nTot")
            .cast("long").as("err_bp"))
        .orderBy("t_cents")
    }),
    "q460_ivf_cell_split" -> ((s, dir) => {
      // IVF index MAINTENANCE: the hottest cell splits in place — the
      // rebalancing act a serving index performs when ingest (q292) skews
      // occupancy (q283 measures the imbalance; this key FIXES it). The
      // split is the KD rule, fully deterministic and oracle-replicable:
      // inside the argmax-count cell (min cell id on ties), pick the
      // dimension with the widest within-cell range (min dim id on ties),
      // rank members on (value-at-dim, vec_id), and send rank <= ceil(n/2)
      // to sub-cell A = cell, the rest to B = 16 + cell (fresh id space).
      // Scale shape: ONE corpus pass assigns cells (the stored index in
      // production); the split itself touches only the hot cell's members
      // — maintenance cost follows the CELL, not the corpus — and the
      // readout (count per resulting cell + before/after max occupancy)
      // is |cells|+1 rows of metadata.
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
        .select(col("vec_id"), col("embedding"), col("cell"))
        .localCheckpoint() // counted, argmax'd, then split — one pass
      val hot = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("cell")).limit(1).head
      val (hotCell, hotCnt) = (hot.getLong(0), hot.getLong(1))
      val members = assigned.filter(col("cell") === hotCell)
      val dims = members
        .select(posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("dim", "v")))
        .groupBy(col("dim")).agg((max(col("v")) - min(col("v"))).as("range"))
        .orderBy(col("range").desc, col("dim")).limit(1).head
      val splitDim = dims.getInt(0)
      val half = (hotCnt + 1L) / 2L
      import org.apache.spark.sql.expressions.Window
      val ranked = members
        .withColumn("__v", expr(s"CAST(element_at(embedding, ${splitDim + 1}) AS DOUBLE)"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("cell")).orderBy(col("__v"), col("vec_id"))))
        .select(col("vec_id"),
          when(col("__rn") <= half, lit(hotCell)).otherwise(lit(16L + hotCell))
            .as("cell"))
      val after = assigned.filter(col("cell") =!= hotCell)
        .select(col("vec_id"), col("cell"))
        .unionByName(ranked)
        .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // 17 rows; read twice (rows + max)
      val maxAfter = after.agg(max(col("cnt"))).head.getLong(0)
      after.select(col("cell"), col("cnt").cast("long").as("cnt"),
          lit(hotCell).as("split_cell"), lit(splitDim.toLong).as("split_dim"),
          lit(hotCnt).as("max_before"), lit(maxAfter).as("max_after"))
        .orderBy("cell")
    }),
    "q308_k_anonymity" -> ((s, dir) => {
      // privacy-release audit (Sweeney 2002 k-anonymity): how much of the
      // table survives if every quasi-identifier group smaller than k is
      // suppressed, swept over k ∈ {2, 5, 10}. The governance gate a
      // training-data release runs BEFORE shipping user-derived rows — the
      // reference stores raw author/user rows in Postgres with no such
      // audit. The only corpus-sized work is ONE map-side-combined groupBy
      // to the |QI-combinations| frame (nation × segment ≤ 125 rows;
      // bounded by the QI domain, not the row count, at 100 TB); the
      // k-sweep is a 3×|QI| metadata cross join. Suppression share in
      // exact integer basis points (non-negative ⇒ trunc ≡ floor).
      val g = T(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
      import s.implicits._
      val ks = Seq(2L, 5L, 10L).toDF("k")
      g.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("groups_total"),
          sum(when(col("cnt") < col("k"), 1L).otherwise(0L)).as("groups_below"),
          sum(when(col("cnt") < col("k"), col("cnt")).otherwise(0L)).as("rows_suppressed"),
          sum(col("cnt")).as("rows_total"))
        .select(col("k"), col("groups_total"), col("groups_below"),
          col("rows_suppressed"),
          expr("rows_suppressed * 10000 div rows_total").as("suppression_bp"))
        .orderBy("k")
    }),
    "q309_bloom_dedup" -> ((s, dir) => {
      // CROSS-DUMP dedup with a bloom prefilter (the new-crawl-vs-corpus
      // membership question, e.g. CCNet/RefinedWeb dump-over-dump): the
      // retained corpus' dedup keys (prefix-32 fingerprints, q104's key)
      // ride to every executor as a bloom sketch (~1.2 MB per 10⁶ keys at
      // 1% fpp), the incoming dump is filtered MAP-SIDE before any
      // exchange — at real dup rates that kills the shuffle of ~the whole
      // dump — and the survivors' exact confirm join removes the false
      // positives, so the result is EXACTLY the semi-join-with-counts the
      // oracle computes. Keys are hashed to longs with xxhash64 on BOTH
      // the build and the probe side (same function, same seed ⇒ no
      // false negatives, which is the correctness contract here).
      val docs = T(s, dir, "documents")
        .withColumn("p", substring(col("text"), 1, 32))
        .withColumn("src_n", expr("CAST(substring(source, 4) AS INT)"))
      val old = docs.filter(col("src_n") < 10).select(col("p"))
        .withColumn("h", xxhash64(col("p")))
      val fresh = docs.filter(col("src_n") >= 10)
        .select(col("doc_id"), col("source"), col("p"),
          xxhash64(col("p")).as("h"))
      val bf = old.stat.bloomFilter("h", 100000L, 0.01)
      val pruned = fresh.filter(graft.functions.BloomMightContain(col("h"),
        graft.functions.BloomMightContain.serialize(bf)))
      pruned.join(old.groupBy(col("p")).agg(count(lit(1)).as("n_old_matches")), Seq("p"))
        .select(col("doc_id"), col("source"), col("n_old_matches"))
        .orderBy("doc_id")
    }),
    "q310_pit_features" -> ((s, dir) => {
      // POINT-IN-TIME-correct training-set assembly (the feature-store
      // contract): for every label event (a purchase) the features are
      // computed over the SAME user's strictly-earlier events only — the
      // leakage rule every offline training table must prove. The oracle
      // states the semantics as the quadratic-per-user inequality join
      // (e.ts < l.ts); the engine computes it in ONE pass: one exchange
      // on user_id, one per-user sort, and a single window frame shared
      // by all three features — `rangeBetween(…, -1)` over the micro
      // timestamp is STRICTLY-earlier by value, so equal-timestamp rows
      // never leak in regardless of sort tie-breaks. O(n log n) per
      // partition vs the oracle's O(n²) per user; no user's history ever
      // crosses an executor. Value sums in exact floor-micros longs.
      val ev = T(s, dir, "events")
        .withColumn("tsm", unix_micros(col("ts")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tsm"))
        .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      ev.select(col("event_id"), col("user_id"), col("event_type"),
          count(lit(1)).over(w).as("prior_events"),
          coalesce(sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w),
            lit(0L)).as("prior_clicks"),
          coalesce(sum(floor(col("value") * 1e6).cast("long")).over(w),
            lit(0L)).as("prior_value_micros"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("prior_events"),
          col("prior_clicks"), col("prior_value_micros"))
        .orderBy("event_id")
    }),
    "q311_url_canonical" -> ((s, dir) => {
      // crawl-frontier URL canonicalization (the dedup key of a web-scale
      // crawl BEFORE any content fetch): lowercase scheme+host, strip
      // `www.` and the default port, drop the fragment, drop tracking
      // params (utm_*, ref), sort the survivors — so syntactic variants
      // collapse to one frontier entry. Raw URLs are synthesized per doc
      // (host/path/id from doc_id residues, tracking params from doc_id
      // itself), so every raw URL is unique but canonicalization
      // collapses them 25:1 — the oracle predicts each canonical form
      // arithmetically. Entirely map-side string work (codegen'd regex +
      // higher-order array functions, zero UDFs) followed by one
      // map-side-combined groupBy on the canonical key: at 100 TB the
      // frontier dedup IS that exchange, and nothing else.
      val raw = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://WWW.Example"), (col("doc_id") % 5).cast("string"),
          lit(".COM:443/Path"), (col("doc_id") % 20).cast("string"),
          lit("/item?utm_source=s"), col("doc_id").cast("string"),
          lit("&id="), (col("doc_id") % 10).cast("string"),
          lit("&ref=r"), (col("doc_id") % 3).cast("string"),
          lit("#frag")).as("url"))
      val canon = raw
        .withColumn("host", regexp_replace(
          lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/:?#]+)", 1)),
          "^www\\.", ""))
        .withColumn("path", regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))
        .withColumn("params", expr(
          "array_join(array_sort(filter(split(regexp_extract(url, '\\\\?([^#]*)', 1), '&'), " +
            "p -> NOT startswith(p, 'utm_') AND NOT startswith(p, 'ref='))), '&')"))
        .select(col("doc_id"),
          concat(lit("https://"), col("host"), col("path"),
            when(col("params") === "", lit("")).otherwise(concat(lit("?"), col("params"))))
            .as("canon_url"))
      canon.groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
        .orderBy("canon_url")
    }),
    "q312_diverse_topk" -> ((s, dir) => {
      // diversity-constrained retrieval (the RAG context-assembly rule,
      // MMR's tractable cousin): from each query's top-10 keep at most 2
      // hits per label group (rank order), then serve the best 5
      // survivors — so one over-represented cluster can't monopolize the
      // context window. The top-10 shortlist comes from the broadcast-
      // queries corpus scan + two-phase k-heap (q45's shape); everything
      // after — the label join-back, both rank windows — runs on the
      // |queries|×10 frame, which BROADCASTS against the corpus for its
      // label lookup. At 100 TB the corpus is scanned once and shuffles
      // never.
      val emb = T(s, dir, "embeddings")
      val top10 = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 10)
      val labeled = broadcast(top10)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), Seq("neighbor_id"))
      val wLab = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("label")).orderBy(col("rn"))
      val wSel = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rn"))
      labeled
        .withColumn("label_rank", row_number().over(wLab))
        .filter(col("label_rank") <= 2)
        .withColumn("sel_rn", row_number().over(wSel).cast("long"))
        .filter(col("sel_rn") <= 5)
        .select(col("query_id"), col("sel_rn"), col("neighbor_id"),
          col("label"), col("cosine"))
        .orderBy("query_id", "sel_rn")
    }),
    "q313_image_neardup" -> ((s, dir) => {
      // image NEAR-dup under a hamming tolerance (q228 finds exact dHash
      // collisions; real re-encodes/crops flip a few bits): per doc a 9×7
      // gradient PNG with a per-variant row perturbation is synthesized
      // and REALLY decoded (ImageIO, per partition), its 56-bit dHash
      // split into 7 row-bands, candidates from the (band_idx, band_byte)
      // equi-join — two hashes within hamming ≤ 16 concentrated in ≤ 2
      // rows share ≥ 5 of 7 bands, so banding has 100% recall on the
      // planted variants BY CONSTRUCTION — then the exact
      // bit_count(xor) ≤ 16 verify removes band coincidences. Never
      // pairwise pixels, never all-pairs hashes: candidate volume is
      // Σ bucket² over band buckets, the same contract as q44's LSH.
      import s.implicits._
      val imgs = T(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 300)
        .as[Long].mapPartitions(_.map { id =>
          val g = id % 50; val v = id / 50
          (id, Multimodal.synthPngPixels(9, 7, (x, y) => {
            val tweak = if (y == (v % 7)) 7 * x else 0
            val p = ((g * 13 + x * (y + 3) + tweak) % 256).toInt
            (p << 16) | (p << 8) | p
          }))
        }).toDF("doc_id", "payload")
      val hashed = Multimodal.dHash56(imgs, "doc_id").localCheckpoint(eager = false)
      val bands = hashed.select(col("doc_id"), col("dhash"),
        posexplode(expr("transform(sequence(0, 6), b -> shiftright(dhash, b * 8) & 255)"))
          .as(Seq("band_idx", "band_byte")))
      val a = bands.select(col("band_idx"), col("band_byte"),
        col("doc_id").as("id_a"), col("dhash").as("h_a"))
      val b = bands.select(col("band_idx"), col("band_byte"),
        col("doc_id").as("id_b"), col("dhash").as("h_b"))
      a.join(b, Seq("band_idx", "band_byte"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("h_a"), col("h_b")).distinct()
        .withColumn("hamming", expr("CAST(bit_count(h_a ^ h_b) AS BIGINT)"))
        .filter(col("hamming") <= 16)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }))

  /** q458's oracle: q307's IVF structure (assignment crn = 1, probes
    * crn <= np_leg) with np_leg derived by the SAME integer formula the
    * engine runs — kept² ceil-division against 2·total², capped at the 16
    * cells — per selectivity leg. */
  private val q458Sql: String = {
    val legs = Seq[(String, String => String)](
      ("l1_all", _ => "1 = 1"),
      ("l2_mild", a => s"$a.label <= 6"),
      ("l3_half", a => s"$a.label <= 4"),
      ("l4_narrow", a => s"$a.label = 2"))
    val legCtes = legs.map { case (name, pred) =>
      s"""k_$name AS (SELECT greatest(count(*), 1) AS kept FROM vecs WHERE ${pred("vecs")}),
         |np_$name AS (SELECT least(16, (2 * t.n * t.n + k.kept * k.kept - 1) // (k.kept * k.kept)) AS np,
         |    (10000 * k.kept) // t.n AS sel_bp FROM tot t, k_$name k),
         |q_$name AS (SELECT vec_id AS query_id, vv AS qv, cell FROM scored
         |  WHERE vec_id < 8 AND crn <= (SELECT np FROM np_$name)),
         |${filteredLegCtes(name, pred, s"q_$name q")},
         |h_$name AS (SELECT '$name' AS leg, np.sel_bp, np.np AS nprobe, count(*) AS hits
         |  FROM iv_$name i JOIN tr_$name t ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id,
         |    np_$name np GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val union = legs.map { case (name, _) => s"SELECT * FROM h_$name" }.mkString(" UNION ALL ")
    s"""WITH vecs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |tot AS (SELECT count(*) AS n FROM vecs),
       |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
       |${ivfCellCte("scored", "cent", "x.vec_id, x.vv, c.cell")},
       |asg AS (SELECT s0.vec_id, v0.label, s0.vv, s0.cell FROM scored s0
       |  JOIN vecs v0 ON v0.vec_id = s0.vec_id WHERE s0.crn = 1),
       |$legCtes,
       |u AS ($union),
       |nq AS (SELECT count(*) AS n FROM vecs WHERE vec_id < 8)
       |SELECT u.leg, CAST(u.sel_bp AS BIGINT) AS sel_bp, CAST(u.nprobe AS BIGINT) AS nprobe,
       |  CAST(nq.n AS BIGINT) AS n_queries, CAST(u.hits AS BIGINT) AS hits,
       |  (round(CAST(u.hits AS DOUBLE) / (CAST(nq.n AS DOUBLE) * 5), 4) + 0.0) AS recall
       |FROM u, nq ORDER BY u.leg""".stripMargin
  }

  val oracleSql: Seq[(String, String)] = Seq(
    "q243_stream_quota" ->
      // the batch twin: hourly counts, admission = least(n, quota)
      """SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(least(count(*), 1) AS BIGINT) AS n_accepted,
        |  CAST(count(*) - least(count(*), 1) AS BIGINT) AS n_dropped
        |FROM events GROUP BY 1, 2
        |ORDER BY user_id, hour_start""".stripMargin,
    "q244_welch_t" ->
      // the identical sufficient-stats → double chain; variances on
      // HUGEINT numerators, t/df/flag from the same expression tree
      """WITH e AS (SELECT event_type AS g, user_id % 2 AS arm,
        |    CAST(round(value * 100, 0) AS BIGINT) AS u FROM events),
        |st AS (SELECT g,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN arm = 0 THEN u ELSE 0 END) AS sa,
        |    sum(CASE WHEN arm = 0 THEN CAST(u AS HUGEINT) * u ELSE 0 END) AS qa,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN arm = 1 THEN u ELSE 0 END) AS sb,
        |    sum(CASE WHEN arm = 1 THEN CAST(u AS HUGEINT) * u ELSE 0 END) AS qb
        |  FROM e GROUP BY 1),
        |v AS (SELECT g, na, nb, sa, sb,
        |    CAST(CAST(na AS HUGEINT) * qa - CAST(sa AS HUGEINT) * sa AS DOUBLE) /
        |      (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)) / CAST(na AS DOUBLE) AS wa,
        |    CAST(CAST(nb AS HUGEINT) * qb - CAST(sb AS HUGEINT) * sb AS DOUBLE) /
        |      (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)) / CAST(nb AS DOUBLE) AS wb
        |  FROM st WHERE na >= 2 AND nb >= 2),
        |t AS (SELECT g, na, nb, wa, wb,
        |    (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / sqrt(wa + wb) AS tt
        |  FROM v WHERE wa + wb > 0)
        |SELECT g AS event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  (round(tt, 4) + 0.0) AS t_stat,
        |  (round((wa + wb) * (wa + wb) /
        |    (wa * wa / CAST(na - 1 AS DOUBLE) + wb * wb / CAST(nb - 1 AS DOUBLE)), 4)
        |    + 0.0) AS df,
        |  abs(tt) > 1.96 AS sig_flag
        |FROM t ORDER BY event_type""".stripMargin,
    "q245_bh_fdr" ->
      // q221's grid chain → asymptotic KS p per segment → BH at 5% FDR;
      // ranks and the k* cutoff over the |segments|-row metadata frame
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS u FROM events),
        |counts AS (SELECT g, u, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |groups AS (SELECT g, sum(c) AS ng FROM counts GROUP BY 1),
        |units AS (SELECT u, sum(c) AS cu FROM counts GROUP BY 1),
        |grand AS (SELECT sum(c) AS n FROM counts),
        |grid AS (SELECT units.u, groups.g, groups.ng, units.cu,
        |    coalesce(counts.c, 0) AS cg
        |  FROM units CROSS JOIN groups
        |  LEFT JOIN counts ON counts.g = groups.g AND counts.u = units.u),
        |cums AS (SELECT g, ng, u,
        |    sum(cg) OVER (PARTITION BY g ORDER BY u) AS cumg,
        |    sum(cu) OVER (PARTITION BY g ORDER BY u) AS cumall
        |  FROM grid),
        |d AS (SELECT g, ng, n - ng AS nr,
        |    max(abs(cumg * (n - ng) - (cumall - cumg) * ng)) AS d_num
        |  FROM cums CROSS JOIN grand GROUP BY 1, 2, 3),
        |pv AS (SELECT g, least(1.0, 2 * exp(-2 *
        |    CAST(d_num AS DOUBLE) * CAST(d_num AS DOUBLE) /
        |    (CAST(ng AS DOUBLE) * CAST(nr AS DOUBLE) * CAST(ng + nr AS DOUBLE)))) AS p
        |  FROM d WHERE ng > 0 AND nr > 0),
        |r AS (SELECT g, p,
        |    CAST(row_number() OVER (ORDER BY p, g) AS BIGINT) AS rank FROM pv),
        |m AS (SELECT count(*) AS m FROM r),
        |k AS (SELECT coalesce(max(CASE WHEN p * 100.0 * m.m <= rank * 5.0
        |    THEN rank END), 0) AS k FROM r, m)
        |SELECT g AS event_type, (round(p, 4) + 0.0) AS p, rank,
        |  rank <= k.k AS rejected
        |FROM r, k ORDER BY rank""".stripMargin,
    "q246_ivfpq_search" ->
      // q58's cosine cell CTEs (assignment crn = 1, probe crn <= 2) bound
      // the candidates; q224's LUT/ADC chain scores only those pairs
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |${ivfPqAdcCtes(0, 16, 0, 8)},
         |r AS (SELECT query_id, neighbor_id, adist_tb,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS BIGINT) AS rn FROM sc2)
         |SELECT query_id, neighbor_id, adist_tb, rn FROM r WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,
    "q247_best_threshold" ->
      // the same histogram + descending cumulative identity; max micro-F1
      // then max threshold among ties
      """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS sc, lang = 'en' AS lab FROM documents),
        |h AS (SELECT sc, sum(CASE WHEN lab THEN 1 ELSE 0 END) AS np,
        |    count(*) AS nc FROM s GROUP BY 1),
        |p AS (SELECT sum(np) AS pos FROM h),
        |c AS (SELECT sc, sum(np) OVER (ORDER BY sc DESC) AS tp,
        |    sum(nc) OVER (ORDER BY sc DESC) AS cn FROM h),
        |f AS (SELECT sc, tp, cn, (2 * tp * 1000000) // (cn + p.pos) AS f1m
        |  FROM c, p WHERE p.pos > 0),
        |b AS (SELECT max(f1m) AS mf FROM f),
        |bt AS (SELECT max(sc) AS ms FROM f, b WHERE f1m = mf)
        |SELECT f.sc AS threshold, CAST(tp AS BIGINT) AS tp,
        |  CAST(cn - tp AS BIGINT) AS fp, CAST(p.pos - tp AS BIGINT) AS fn,
        |  (round(2.0 * tp / (cn + p.pos), 4) + 0.0) AS f1
        |FROM f, p, bt WHERE f.sc = bt.ms""".stripMargin,
    "q248_stream_trending" ->
      // the batch twin: daily (day, k) counts, rank by (cnt DESC, k)
      """WITH e AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_start,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events),
        |c AS (SELECT day_start, k, count(*) AS cnt FROM e
        |  WHERE k IS NOT NULL GROUP BY 1, 2)
        |SELECT day_start, k, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(row_number() OVER (PARTITION BY day_start
        |    ORDER BY cnt DESC, k) AS BIGINT) AS rn
        |FROM c QUALIFY rn <= 3 ORDER BY day_start, rn""".stripMargin,
    "q249_bpe_curve" -> bpeCurveOracleSql(Seq(0, 2, 4, 8)),
    "q250_modularity" -> q250Sql,
    "q251_fk_audit" ->
      // the same left-join orphan counts per declared relation
      """WITH a AS (SELECT 'lineitem.orderkey' AS relation, count(*) AS n_rows,
        |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON o.o_orderkey = l.l_orderkey WHERE l.l_orderkey IS NOT NULL),
        |b AS (SELECT 'orders.custkey', count(*),
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |  FROM orders r LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = r.o_custkey WHERE r.o_custkey IS NOT NULL),
        |cN AS (SELECT 'customer.nationkey', count(*),
        |    sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |  FROM customer cu LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |    ON n.n_nationkey = cu.c_nationkey WHERE cu.c_nationkey IS NOT NULL),
        |d AS (SELECT 'events.user_id', count(*),
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |  FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = e.user_id WHERE e.user_id IS NOT NULL),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b
        |  UNION ALL SELECT * FROM cN UNION ALL SELECT * FROM d)
        |SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_orphans AS BIGINT) AS n_orphans, n_orphans = 0 AS intact
        |FROM u ORDER BY relation""".stripMargin,
    "q252_seq_monitor" ->
      // identical cumulative frame; the crossing on HUGEINT, final state
      // via max-by-day
      """WITH e AS (SELECT event_type AS g, user_id % 2 AS arm,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |daily AS (SELECT g, d,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS b
        |  FROM e GROUP BY 1, 2),
        |cum AS (SELECT g, d,
        |    sum(a) OVER (PARTITION BY g ORDER BY d) AS ca,
        |    sum(b) OVER (PARTITION BY g ORDER BY d) AS cb
        |  FROM daily),
        |fl AS (SELECT g, d, ca - cb AS diff, ca + cb AS n,
        |    CAST(ca - cb AS HUGEINT) * (ca - cb) * 10000
        |      > CAST(38416 AS HUGEINT) * (ca + cb) AS sig
        |  FROM cum),
        |lastd AS (SELECT g, max(d) AS md FROM fl GROUP BY 1)
        |SELECT f.g AS event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  min(CASE WHEN f.sig THEN f.d END) AS first_sig_day,
        |  CAST(max(CASE WHEN f.d = l.md THEN f.diff END) AS BIGINT) AS final_diff,
        |  CAST(max(CASE WHEN f.d = l.md THEN f.n END) AS BIGINT) AS final_n,
        |  (round(CAST(max(CASE WHEN f.d = l.md THEN f.diff END) AS DOUBLE) /
        |    sqrt(CAST(max(CASE WHEN f.d = l.md THEN f.n END) AS DOUBLE)), 4)
        |    + 0.0) AS final_z
        |FROM fl f JOIN lastd l ON l.g = f.g
        |GROUP BY f.g ORDER BY event_type""".stripMargin,
    "q254_lsh_curve" -> q254Sql,
    "q255_dedup_funnel" -> q255Sql,
    "q256_ivfpq_recall" ->
      // q246's composed IVF+PQ chain with DISJOINT slices (cent 100-115,
      // codebook 200-207) + q225's truth/recall join
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |$cosTruthCtes,
         |${ivfPqAdcCtes(100, 116, 200, 208)},
         |ap AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS rn FROM sc2) WHERE rn <= 5)
         |SELECT tr.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS hits,
         |  (round(count(ap.neighbor_id) / 5.0, 4) + 0.0) AS recall
         |FROM tr LEFT JOIN ap ON ap.query_id = tr.query_id AND ap.neighbor_id = tr.neighbor_id
         |GROUP BY tr.query_id ORDER BY tr.query_id""".stripMargin,
    "q257_ivf_train" -> q257Sql,
    "q449_ann_serving" ->
      // q58's oracle verbatim: the serving layout changes WHERE the index
      // lives (a bucketed catalog table), never what the search returns
      ivfTopKSql("crn = 1", "asg WHERE vec_id < 8"),
    "q450_ivf_train_readout" -> {
      // the k=16 micro-Lloyd chain (shared lloydCtesK generator), exact
      // seed/trained distortions from the chain's own argmin rows, and the
      // q258-shape nprobe=1 searches under raw-seed vs rebuilt-trained
      // centroid vectors, each scored against the exact top-5 truth
      val legs = Seq(0, 2).map { t =>
        s"""s$t AS (SELECT qp.vec_id AS query_id, a.vec_id AS neighbor_id,
           |    ${cosSql("q.vv", "n.vv")} AS cosine
           |  FROM (SELECT vec_id, cell FROM cc$t WHERE vec_id < 8 AND crn <= 1) qp
           |  JOIN (SELECT vec_id, cell FROM cc$t WHERE crn = 1) a ON a.cell = qp.cell
           |    AND a.vec_id <> qp.vec_id
           |  JOIN vecs q ON q.vec_id = qp.vec_id JOIN vecs n ON n.vec_id = a.vec_id),
           |t$t AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
           |  FROM s$t) WHERE rn <= 5)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${lloydCtesK(16)},
         |dd3 AS (SELECT c.vec_id, ct.cell, sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
         |  FROM comp c JOIN c2 ct USING (dim) GROUP BY 1, 2),
         |b3 AS (SELECT vec_id, min(d2) AS md FROM dd3 GROUP BY 1),
         |vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |cl0 AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |cl2 AS (SELECT cell, list(cm / 1000000.0 ORDER BY dim) AS cv FROM c2 GROUP BY 1),
         |$cosTruthCtes,
         |${ivfCellCte("cc0", "cl0")},
         |${ivfCellCte("cc2", "cl2")},
         |$legs,
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
         |ORDER BY variant""".stripMargin
    },
    "q451_adc_search" ->
      // q449's cell assignment + q116's code assignment, the per-query LUT
      // on the 1e-6 integer grid, 4 lookups summed per candidate, then the
      // exact-float top-5 truth for the recall readout
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |${ivfCellCte("scored", "cent", "x.vec_id, x.vv, c.cell")},
         |asg AS (SELECT vec_id, vv, cell FROM scored WHERE crn = 1),
         |${pqSplitCte("subs", "vecs", "vec_id", "vv", subType = "INT")},
         |${pqCodeCtes(0, 8)},
         |lut AS (SELECT qq.vec_id AS query_id, c.sub, c.code,
         |    CAST(round((list_dot_product(qq.xs, qq.xs) - 2 * list_dot_product(qq.xs, c.cs)
         |      + list_dot_product(c.cs, c.cs)) * 1000000, 0) AS BIGINT) AS lq
         |  FROM subs qq JOIN cb c USING (sub) WHERE qq.vec_id < 8),
         |q AS (SELECT vec_id AS query_id, cell FROM asg WHERE vec_id < 8),
         |cand AS (SELECT q.query_id, a.vec_id AS neighbor_id, c.sub, c.code
         |  FROM q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.query_id
         |  JOIN codes c ON c.vec_id = a.vec_id),
         |adc AS (SELECT query_id, neighbor_id, CAST(sum(lq) AS BIGINT) AS adc_d2q
         |  FROM cand JOIN lut USING (query_id, sub, code) GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, adc_d2q,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_d2q, neighbor_id) AS BIGINT) AS rn
         |  FROM adc),
         |bs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    list_dot_product(a.vv, b.vv) / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))) AS cosine
         |  FROM vecs a CROSS JOIN vecs b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS trn
         |  FROM bs) WHERE trn <= 5)
         |SELECT r.query_id, r.rn, r.neighbor_id, r.adc_d2q,
         |  CAST(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS hit,
         |  CAST(sum(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |    OVER (PARTITION BY r.query_id) AS BIGINT) AS hits_at_5
         |FROM r LEFT JOIN truth t ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
         |WHERE r.rn <= 5 ORDER BY r.query_id, r.rn""".stripMargin,
    "q453_graph_ann" -> {
      // q443's LSH cells feed the graph build; the 4 beam rounds unroll as
      // (expand ∪ keep, re-rank, cut-to-8) CTE triples — the oracle may be
      // naive (full q×n dist table) where the engine does id-keyed lookups
      val code = lshBandSqlGen(signaturePlanes, 1).head
      def round(i: Int) =
        s"""nb$i AS (SELECT v.query_id, e.dst AS node FROM v${i - 1} v
           |  JOIN edges e ON e.src = v.node WHERE e.dst <> v.query_id),
           |cand$i AS (SELECT query_id, node FROM v${i - 1}
           |  UNION SELECT query_id, node FROM nb$i),
           |sc$i AS (SELECT c.query_id, c.node, d.cq,
           |    row_number() OVER (PARTITION BY c.query_id ORDER BY d.cq DESC, c.node) AS rn
           |  FROM cand$i c JOIN dist d ON d.query_id = c.query_id AND d.node = c.node),
           |v$i AS (SELECT query_id, node, cq FROM sc$i WHERE rn <= 8)""".stripMargin
      s"""WITH nn AS (SELECT count(*) // 32 AS q FROM embeddings),
         |cells AS (SELECT ${cellLadderSql} AS c FROM nn),
         |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |coded AS (SELECT vec_id, v, ($code) % (SELECT c FROM cells) AS cell FROM b),
         |prs AS (SELECT a.vec_id AS src, b2.vec_id AS dst,
         |    CAST(round(list_dot_product(a.v, b2.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) * 1000000, 0) AS BIGINT) AS cq
         |  FROM coded a JOIN coded b2 ON a.cell = b2.cell AND a.vec_id <> b2.vec_id),
         |rk AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cq DESC, dst) AS rn FROM prs),
         |edges AS (SELECT src, dst FROM rk WHERE rn <= 4
         |  UNION SELECT dst, src FROM rk WHERE rn <= 4),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 8),
         |dist AS (SELECT q.query_id, c.vec_id AS node,
         |    CAST(round(list_dot_product(q.qv, c.v) /
         |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) * 1000000, 0) AS BIGINT) AS cq
         |  FROM q CROSS JOIN b c WHERE c.vec_id <> q.query_id),
         |entry AS (SELECT query_id, min(node) AS node FROM dist GROUP BY 1),
         |v0 AS (SELECT e.query_id, e.node, d.cq FROM entry e
         |  JOIN dist d ON d.query_id = e.query_id AND d.node = e.node),
         |${(1 to 4).map(round).mkString(",\n")},
         |fin AS (SELECT query_id, node, cq,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cq DESC, node) AS BIGINT) AS rn
         |  FROM v4),
         |bs AS (SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
         |  FROM b a CROSS JOIN b c WHERE a.vec_id < 8 AND c.vec_id <> a.vec_id),
         |truth AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS trn
         |  FROM bs) WHERE trn <= 5)
         |SELECT f.query_id, f.rn, f.node AS neighbor_id, f.cq AS cos_q,
         |  CAST(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS hit,
         |  CAST(sum(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |    OVER (PARTITION BY f.query_id) AS BIGINT) AS hits_at_5
         |FROM fin f LEFT JOIN truth t ON t.query_id = f.query_id AND t.neighbor_id = f.node
         |WHERE f.rn <= 5 ORDER BY f.query_id, f.rn""".stripMargin
    },
    "q258_ivf_train_recall" -> q258Sql,
    "q268_ivfpq_curve" -> q268Sql,
    "q269_pq_codebook_curve" -> q269Sql,
    "q260_sequence_pack" ->
      // inclusive prefix sum over doc order; straddle = span crossing a
      // 256-token boundary; floor-bp ratios; zero-token docs excluded
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk, sum(tk) OVER (ORDER BY doc_id) AS e
        |  FROM t WHERE tk > 0),
        |s AS (SELECT count(*) AS n, sum(tk) AS tot,
        |    sum(CASE WHEN (e - tk) // 256 <> (e - 1) // 256 THEN 1 ELSE 0 END) AS st
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(tot AS BIGINT) AS total_tokens,
        |  CAST((tot + 255) // 256 AS BIGINT) AS n_chunks,
        |  CAST(st AS BIGINT) AS n_straddle,
        |  CAST((10000 * st) // greatest(n, 1) AS BIGINT) AS straddle_bp,
        |  CAST((10000 * (((tot + 255) // 256) * 256 - tot)) //
        |    (((tot + 255) // 256) * 256) AS BIGINT) AS tail_waste_bp
        |FROM s""".stripMargin,
    "q261_mixture_plan" ->
      // weight-share targets on exact longs; sources outside the weight
      // table (or with no tokens) drop out
      """WITH w(source, wt) AS (VALUES ('src0', 4), ('src1', 3), ('src2', 2), ('src3', 1)),
        |a AS (SELECT source,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1)
        |SELECT a.source, a.avail AS available_tokens,
        |  CAST((100000 * w.wt) // 10 AS BIGINT) AS target_tokens,
        |  CAST((10000 * ((100000 * w.wt) // 10)) // a.avail AS BIGINT) AS epochs_bp
        |FROM a JOIN w USING (source)
        |WHERE w.wt > 0 AND a.avail > 0 ORDER BY a.source""".stripMargin,
    "q262_dup_spans" ->
      // positional 3-token windows, occurrence counts on the same
      // Karp-Rabin fingerprint the Spark exchange keys on (q53/q254
      // convention), verdict join + per-doc floor-bp aggregate
      s"""WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |    w[CAST(i AS BIGINT)] || ' ' || w[CAST(i AS BIGINT) + 1] || ' ' ||
         |      w[CAST(i AS BIGINT) + 2] AS shingle
         |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t),
         |h AS (SELECT doc_id, ${krSql("shingle")} AS hv FROM sh),
         |f AS (SELECT hv, count(*) AS cf FROM h GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST((10000 * sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END)) // count(*)
         |    AS BIGINT) AS dup_bp
         |FROM h JOIN f USING (hv) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q264_hard_negatives" ->
      // q45's brute-force chain with the different-label filter
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         |    label AS ql FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
         |    label AS cl FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id AND cl <> ql")},
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM s)
         |SELECT query_id, neighbor_id, (round(cosine, 4) + 0.0) AS cosine, rn
         |FROM r WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,
    "q259_cached_views" ->
      // q34's lexicon/compound CTEs; both views from one labeled frame
      // (the cache is never semantic, so the oracle just recomputes)
      s"""WITH lex(word, tenths) AS (VALUES $lexValues),
         |tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word FROM documents),
         |sc AS (SELECT doc_id, sum(tenths) / 10.0 AS sv FROM tok JOIN lex USING (word) GROUP BY doc_id),
         |lab AS (SELECT d.doc_id, d.lang,
         |  CASE WHEN coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0) >= 0.05 THEN 'positive'
         |       WHEN coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0) <= -0.05 THEN 'negative'
         |       ELSE 'neutral' END AS sentiment
         |  FROM documents d LEFT JOIN sc USING (doc_id)),
         |u AS (SELECT 'by_sentiment' AS view_name, sentiment AS k, count(*) AS n
         |    FROM lab GROUP BY 2
         |  UNION ALL
         |  SELECT 'positive_by_lang', lang, count(*) FROM lab
         |    WHERE sentiment = 'positive' GROUP BY 2)
         |SELECT view_name, k, CAST(n AS BIGINT) AS n FROM u
         |ORDER BY view_name, k""".stripMargin,
    "q253_cuped" ->
      // the identical sufficient-stat aggregate and double chain; the
      // split anchors on min(day) + 15
      """WITH e AS (SELECT user_id, user_id % 2 AS arm,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS u FROM events),
        |a AS (SELECT min(d) AS d0 FROM e),
        |per AS (SELECT user_id, arm,
        |    sum(CASE WHEN e.d < a.d0 + 15 THEN u ELSE 0 END) AS x,
        |    sum(CASE WHEN e.d < a.d0 + 15 THEN 0 ELSE u END) AS y
        |  FROM e, a GROUP BY 1, 2),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS sxa,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS sya,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS sxb,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS syb
        |  FROM per)
        |SELECT CAST(n AS BIGINT) AS n_users, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  (round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 4)
        |    + 0.0) AS theta,
        |  (round(CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb, 4) + 0.0)
        |    AS diff_raw,
        |  (round(CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb -
        |    (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |     CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
        |    (CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb), 4) + 0.0)
        |    AS diff_adj
        |FROM s WHERE na > 0 AND nb > 0
        |  AND CAST(n AS HUGEINT) * sxx <> CAST(sx AS HUGEINT) * sx""".stripMargin,
    // components over the SAME pair pipeline as q44, closed transitively by a
    // recursive CTE, labeled by the component minimum
    "q267_stream_psi" ->
      // q158's smoothed-term/bin-fold machinery; reference = batch 0 of
      // the arithmetic id-span batching, one PSI row per later batch
      s"""WITH m AS (SELECT max(event_id) AS mx FROM events),
        |e AS (SELECT event_id // ((mx + 4) // 4) AS b,
        |    least(CAST(round(value * 100, 0) AS BIGINT) // 5000, 9) AS bin
        |  FROM events, m),
        |c AS (SELECT b, bin, count(*) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT bin, n FROM c WHERE b = 0),
        |na AS (SELECT sum(n) AS na FROM r),
        |tb AS (SELECT b, sum(n) AS nb FROM c WHERE b > 0 GROUP BY 1),
        |spine AS (SELECT b, unnest(range(10)) AS bin
        |  FROM (SELECT DISTINCT b FROM c WHERE b > 0)),
        |terms AS (SELECT s.b, s.bin, na.na, tb.nb,
        |  (CAST(coalesce(r.n, 0) + 1 AS DOUBLE) / (na.na + 10) -
        |   CAST(coalesce(cb.n, 0) + 1 AS DOUBLE) / (tb.nb + 10)) *
        |  ln((CAST(coalesce(r.n, 0) + 1 AS DOUBLE) / (na.na + 10)) /
        |     (CAST(coalesce(cb.n, 0) + 1 AS DOUBLE) / (tb.nb + 10))) AS term
        |  FROM spine s LEFT JOIN r ON r.bin = s.bin
        |  LEFT JOIN c cb ON cb.b = s.b AND cb.bin = s.bin
        |  CROSS JOIN na JOIN tb ON tb.b = s.b)
        |SELECT b AS batch_id, CAST(any_value(na) AS BIGINT) AS n_a,
        |  CAST(any_value(nb) AS BIGINT) AS n_b,
        |  (round(${orderedSumSql("term", "bin")}, 4) + 0.0) AS psi
        |FROM terms GROUP BY b ORDER BY batch_id""".stripMargin,
    "q271_source_dup_matrix" ->
      // the q44 pair list joined to sources, grouped by the unordered pair
      s"""WITH pairs AS ($q44Sql),
         |j AS (SELECT least(a.source, b.source) AS source_lo,
         |    greatest(a.source, b.source) AS source_hi
         |  FROM pairs p
         |  JOIN documents a ON a.doc_id = p.id_a
         |  JOIN documents b ON b.doc_id = p.id_b)
         |SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q272_pq_rerank" ->
      // q224's ADC chain with a 20-deep shortlist, then q45's exact-cosine
      // scoring applied to shortlist rows only, re-ranked
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |${pqLutCtes(0, 8)},
         |sc2 AS (SELECT l.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(l.d) AS BIGINT) AS adist_tb
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
         |sl AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS rn FROM sc2) WHERE rn <= 20),
         |rr AS (SELECT s.query_id, s.neighbor_id,
         |    list_dot_product(qv.vv, nv.vv) /
         |      (sqrt(list_dot_product(qv.vv, qv.vv)) * sqrt(list_dot_product(nv.vv, nv.vv))) AS cosine
         |  FROM sl s JOIN vecs qv ON qv.vec_id = s.query_id
         |  JOIN vecs nv ON nv.vec_id = s.neighbor_id),
         |f AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM rr)
         |SELECT query_id, neighbor_id, (round(cosine, 4) + 0.0) AS cosine, rn
         |FROM f WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q273_semdedup / q276_editdist_confirm verify against their twins'
    // oracles (SparkEntry.retiredToTwins, round 17)
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
    "q274_knn_label" ->
      // q45's exact top-5 chain, neighbors' labels gathered, majority with
      // ties to the smallest label
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id")},
         |r AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM s),
         |nn AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 5),
         |v AS (SELECT nn.query_id, e.label, count(*) AS votes
         |  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2),
         |p AS (SELECT query_id, label, votes,
         |  row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn2 FROM v)
         |SELECT query_id, CAST(label AS BIGINT) AS pred_label, CAST(votes AS BIGINT) AS votes
         |FROM p WHERE rn2 = 1 ORDER BY query_id""".stripMargin,
    "q275_dsir" ->
      // token -> KR bucket, target/raw bucket margins, smoothed log-ratio
      // quantized to micro-nat longs, per-doc exact long sum
      s"""WITH tok AS (SELECT doc_id, source, w
         |  FROM (SELECT doc_id, source,
         |      unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
         |    FROM documents) WHERE length(w) > 0),
         |bk AS (SELECT doc_id, source, ${krSql("w")} % 64 AS b FROM tok),
         |tgt AS (SELECT b, count(*) AS tc FROM bk WHERE source = 'src0' GROUP BY 1),
         |raw AS (SELECT b, count(*) AS rc FROM bk GROUP BY 1),
         |tot AS (SELECT sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS nt,
         |    count(*) AS nr FROM bk),
         |lam AS (SELECT r.b,
         |    CAST(round((ln(CAST(coalesce(t.tc, 0) + 1 AS DOUBLE) / (tot.nt + 64))
         |      - ln(CAST(r.rc + 1 AS DOUBLE) / (tot.nr + 64))) * 1000000, 0) AS BIGINT) AS lam_unats
         |  FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN tot)
         |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(lam.lam_unats) AS BIGINT) AS w_unats
         |FROM bk JOIN lam ON lam.b = bk.b
         |GROUP BY 1 ORDER BY bk.doc_id""".stripMargin,
    "q277_ndcg" ->
      // q45's exact top-5, label-match relevance, micro-unit DCG weights,
      // IDCG over the first n_rel positions
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS nl FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id", "query_id, neighbor_id, ql, nl")},
         |r AS (SELECT query_id, ql, nl,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM s),
         |g AS (SELECT query_id, rn,
         |    CASE WHEN nl = ql THEN 1 ELSE 0 END AS rel,
         |    CAST(round(1000000 / (ln(rn + 1.0) / ln(2.0)), 0) AS BIGINT) AS w
         |  FROM r WHERE rn <= 5),
         |pq AS (SELECT query_id, sum(rel) AS n_rel, sum(rel * w) AS dcg_u FROM g GROUP BY 1),
         |ic AS (SELECT g.query_id, sum(g.w) AS idcg_u
         |  FROM g JOIN pq ON pq.query_id = g.query_id WHERE g.rn <= pq.n_rel GROUP BY 1)
         |SELECT pq.query_id, CAST(pq.n_rel AS BIGINT) AS n_rel,
         |  CAST(pq.dcg_u AS BIGINT) AS dcg_u,
         |  CAST(coalesce(ic.idcg_u, 0) AS BIGINT) AS idcg_u,
         |  (CASE WHEN coalesce(ic.idcg_u, 0) = 0 THEN 0.0
         |    ELSE (round(CAST(pq.dcg_u AS DOUBLE) / ic.idcg_u, 4) + 0.0) END) AS ndcg
         |FROM pq LEFT JOIN ic ON ic.query_id = pq.query_id ORDER BY pq.query_id""".stripMargin,
    "q278_lsh_precision" ->
      // q44 candidates bucketed by estimated-Jaccard decile; confirmed =
      // q276's floor-bp similarity >= 5000
      s"""WITH pairs AS ($q44Sql),
         |j AS (SELECT CAST(floor(p.est_jaccard * 10) AS BIGINT) AS jacc_decile,
         |    CASE WHEN 10000 - ((10000 * levenshtein(a.text, b.text))
         |      // greatest(length(a.text), length(b.text), 1)) >= 5000
         |      THEN 1 ELSE 0 END AS c
         |  FROM pairs p
         |  JOIN documents a ON a.doc_id = p.id_a
         |  JOIN documents b ON b.doc_id = p.id_b)
         |SELECT jacc_decile, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(c) AS BIGINT) AS n_confirmed,
         |  CAST((10000 * sum(c)) // count(*) AS BIGINT) AS precision_bp
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q279_langid_confusion" ->
      s"""SELECT lang, $langCase AS lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q281_gopher_repetition" ->
      // q204's bigram CTEs, then per-doc total vs max bigram count
      """WITH raw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0) AS arr FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(arr)),
        |    i -> {'a': arr[i], 'b': arr[i + 1]})) AS g FROM raw),
        |dbc AS (SELECT doc_id, g.a AS a, g.b AS b, count(*) AS c FROM bg GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_id, sum(c) AS nb, max(c) AS tn FROM dbc GROUP BY 1)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams, CAST(tn AS BIGINT) AS top_n,
        |  CAST((10000 * tn) // nb AS BIGINT) AS top_share_bp,
        |  CAST(CASE WHEN (10000 * tn) // nb > 2000 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q282_residual_pq" ->
      // q246's cell CTEs carrying (vv, cv) through, residuals as one
      // element-wise double subtraction, then the same LUT/ADC chain in
      // residual space with the table keyed per (query, probed cell)
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |${ivfCellCte("cells", "cent", "x.vec_id, x.vv, c.cell, c.cv")},
         |res AS (SELECT vec_id, cell,
         |    list_transform(range(1, 65), i -> vv[i] - cv[i]) AS rv
         |  FROM cells WHERE crn = 1),
         |qres AS (SELECT vec_id AS query_id, cell,
         |    list_transform(range(1, 65), i -> vv[i] - cv[i]) AS rv
         |  FROM cells WHERE vec_id < 8 AND crn <= 2),
         |${pqSplitCte("rsubs", "res", "vec_id", "rv")},
         |${pqCodeCtes(0, 8, subs = "rsubs")},
         |${pqSplitCte("qsubs", "qres", "query_id, cell", "rv", "qs")},
         |${pqLutCte(q = "qsubs q", keys = "q.query_id, q.cell")},
         |cand AS (SELECT q.query_id, r.vec_id AS neighbor_id, q.cell
         |  FROM qres q JOIN res r ON r.cell = q.cell
         |  WHERE r.vec_id <> q.query_id),
         |sc2 AS (SELECT l.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(l.d) AS BIGINT) AS adist_tb
         |  FROM codes k
         |  JOIN cand cd ON cd.neighbor_id = k.vec_id
         |  JOIN lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
         |    AND l.sub = k.sub AND l.code = k.code
         |  GROUP BY 1, 2),
         |r2 AS (SELECT query_id, neighbor_id, adist_tb,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS BIGINT) AS rn FROM sc2)
         |SELECT query_id, neighbor_id, adist_tb, rn FROM r2 WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,
    // q58's assignment CTE (crn = 1), then the occupancy table
    "q283_ivf_balance" -> q283Sql,
    // the SAME table: streaming-accumulated index ≡ batch assignment
    "q292_stream_vector_ingest" -> q283Sql,
    "q293_source_sketch" -> q293Sql,
    "q295_power_iteration" -> q295Sql,
    "q296_lpa_communities" -> q296Sql,
    "q298_average_precision" ->
      // q45's exact top-5, label-match relevance, micro-unit precision@r
      // via non-negative integer division, min(R,5) normalization
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS nl FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id", "query_id, neighbor_id, ql, nl")},
         |r AS (SELECT query_id, ql, nl,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM s),
         |g AS (SELECT query_id, rn, CASE WHEN nl = ql THEN 1 ELSE 0 END AS rel FROM r WHERE rn <= 5),
         |p AS (SELECT query_id, rn, rel,
         |    (sum(rel) OVER (PARTITION BY query_id ORDER BY rn) * 1000000) // rn AS pu FROM g),
         |pq AS (SELECT query_id, sum(rel) AS n_rel, sum(rel * pu) AS sum_pu FROM p GROUP BY 1),
         |mt AS (SELECT label, count(*) AS cl FROM embeddings GROUP BY 1),
         |d AS (SELECT e.vec_id AS query_id, least(mt.cl - 1, 5) AS denom
         |  FROM embeddings e JOIN mt ON mt.label = e.label WHERE e.vec_id < 8)
         |SELECT pq.query_id, CAST(pq.n_rel AS BIGINT) AS n_rel,
         |  CAST(pq.sum_pu AS BIGINT) AS sum_pu, CAST(d.denom AS BIGINT) AS denom,
         |  (CASE WHEN d.denom = 0 THEN 0.0
         |    ELSE (round(CAST(pq.sum_pu AS DOUBLE) / (CAST(d.denom AS DOUBLE) * 1000000), 4) + 0.0) END) AS ap
         |FROM pq JOIN d ON d.query_id = pq.query_id ORDER BY pq.query_id""".stripMargin,
    "q299_abtt_outliers" -> q299Sql,
    "q300_matryoshka_curve" -> q300Sql,
    "q302_filtered_ann" ->
      // q58's IVF structure at nprobe=2: corpus assignment = rank-1 cell,
      // query probes = rank ≤ 2; the pre-filter is a WHERE on the
      // assignment side, the post-filter counts survivors of the
      // unfiltered top-5
      s"""WITH vecs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |${ivfCellCte("scored", "cent", "x.vec_id, x.label, x.vv, c.cell")},
         |asg AS (SELECT vec_id, label, vv, cell FROM scored WHERE crn = 1),
         |q AS (SELECT vec_id AS query_id, vv AS qv, cell FROM scored WHERE vec_id < 8 AND crn <= 2),
         |sf AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |  list_dot_product(q.qv, a.vv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.vv, a.vv))) AS cosine
         |  FROM q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.query_id WHERE a.label = 2),
         |rf AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM sf),
         |su AS (SELECT q.query_id, a.vec_id AS neighbor_id, a.label,
         |  list_dot_product(q.qv, a.vv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.vv, a.vv))) AS cosine
         |  FROM q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.query_id),
         |ru AS (SELECT query_id, label,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM su),
         |post AS (SELECT query_id, count(*) AS post_kept FROM ru WHERE rn <= 5 AND label = 2 GROUP BY 1)
         |SELECT rf.query_id, rf.rn, rf.neighbor_id, (round(rf.cosine, 4) + 0.0) AS cosine,
         |  CAST(coalesce(post.post_kept, 0) AS BIGINT) AS post_kept
         |FROM rf LEFT JOIN post ON post.query_id = rf.query_id
         |WHERE rf.rn <= 5 ORDER BY rf.query_id, rf.rn""".stripMargin,
    "q304_colbert_maxsim" -> q304Sql,
    "q306_vacuum_retention" ->
      // the post-vacuum retained snapshot must read as the full table —
      // commit → append → rewrite → reclaim is row-invisible
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q307_filtered_recall" -> q307Sql,
    "q458_adaptive_nprobe" -> q458Sql,
    "q459_histogram_selectivity" ->
      // the same ntile histogram (q326's oracle convention), the same
      // inclusive-width interpolation, exact counts per threshold
      """WITH o AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |n AS (SELECT count(*) AS n FROM o),
        |r AS (SELECT cents,
        |    CAST(ntile(32) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS bucket FROM o),
        |h AS (SELECT bucket, count(*) AS cnt, min(cents) AS lo, max(cents) AS hi
        |  FROM r GROUP BY 1),
        |ts AS (SELECT CAST(unnest([5000000, 15000000, 25000000, 40000000, 48000000]) AS BIGINT) AS t_cents),
        |e AS (SELECT t_cents, sum(CASE WHEN t_cents <= lo THEN cnt
        |    WHEN t_cents > hi THEN 0
        |    ELSE cnt * (hi - t_cents + 1) // (hi - lo + 1) END) AS est_rows
        |  FROM h CROSS JOIN ts GROUP BY 1),
        |a AS (SELECT t_cents, count(*) AS actual_rows FROM o JOIN ts ON cents >= t_cents GROUP BY 1)
        |SELECT e.t_cents, CAST(n.n AS BIGINT) AS n_total,
        |  CAST(e.est_rows AS BIGINT) AS est_rows,
        |  CAST(coalesce(a.actual_rows, 0) AS BIGINT) AS actual_rows,
        |  CAST(e.est_rows * 10000 // n.n AS BIGINT) AS est_bp,
        |  CAST(coalesce(a.actual_rows, 0) * 10000 // n.n AS BIGINT) AS actual_bp,
        |  CAST(abs(e.est_rows - coalesce(a.actual_rows, 0)) * 10000 // n.n AS BIGINT) AS err_bp
        |FROM e LEFT JOIN a USING (t_cents) CROSS JOIN n ORDER BY e.t_cents""".stripMargin,
    "q460_ivf_cell_split" ->
      // the same cosine argmax assignment (q307's asg convention), the
      // same KD split: widest-range dim (min dim id on ties), rank on
      // (value, vec_id), ceil-half to the old id, rest to 16 + cell
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
         |${ivfCellCte("scored", "cent", "x.vec_id, x.vv, c.cell")},
         |asg AS (SELECT vec_id, vv, cell FROM scored WHERE crn = 1),
         |cc AS (SELECT cell, count(*) AS cnt FROM asg GROUP BY 1),
         |hot AS (SELECT cell, cnt FROM cc ORDER BY cnt DESC, cell LIMIT 1),
         |mem AS (SELECT a.vec_id, a.vv FROM asg a JOIN hot h ON a.cell = h.cell),
         |dimx AS (SELECT CAST(u.i AS BIGINT) AS dim, m.vv[CAST(u.i + 1 AS INT)] AS v
         |  FROM mem m, (SELECT unnest(range(0, 64)) AS i) u),
         |sd AS (SELECT dim FROM (SELECT dim, max(v) - min(v) AS rng FROM dimx GROUP BY 1)
         |  ORDER BY rng DESC, dim LIMIT 1),
         |rk AS (SELECT m.vec_id,
         |    row_number() OVER (ORDER BY m.vv[CAST(sd.dim + 1 AS INT)], m.vec_id) AS rn
         |  FROM mem m, sd),
         |sp AS (SELECT vec_id, CASE WHEN rn <= (SELECT (cnt + 1) // 2 FROM hot)
         |    THEN (SELECT cell FROM hot) ELSE 16 + (SELECT cell FROM hot) END AS cell FROM rk),
         |aft AS (SELECT cell, count(*) AS cnt FROM (
         |  SELECT a.cell FROM asg a WHERE a.cell <> (SELECT cell FROM hot)
         |  UNION ALL SELECT cell FROM sp) GROUP BY 1)
         |SELECT aft.cell, CAST(aft.cnt AS BIGINT) AS cnt,
         |  CAST(hot.cell AS BIGINT) AS split_cell, CAST(sd.dim AS BIGINT) AS split_dim,
         |  CAST(hot.cnt AS BIGINT) AS max_before,
         |  CAST((SELECT max(cnt) FROM aft) AS BIGINT) AS max_after
         |FROM aft, hot, sd ORDER BY aft.cell""".stripMargin,
    "q308_k_anonymity" ->
      // the k-sweep is pure arithmetic over the QI-group counts; basis
      // points via non-negative integer division (trunc ≡ floor)
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |ks AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
        |SELECT ks.k,
        |  CAST(count(*) AS BIGINT) AS groups_total,
        |  CAST(sum(CASE WHEN g.cnt < ks.k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below,
        |  CAST(sum(CASE WHEN g.cnt < ks.k THEN g.cnt ELSE 0 END) AS BIGINT) AS rows_suppressed,
        |  CAST(sum(CASE WHEN g.cnt < ks.k THEN g.cnt ELSE 0 END) * 10000
        |    // sum(g.cnt) AS BIGINT) AS suppression_bp
        |FROM g CROSS JOIN ks GROUP BY ks.k ORDER BY ks.k""".stripMargin,
    "q309_bloom_dedup" ->
      // the bloom is a performance lever only: prefilter + exact confirm
      // ≡ the plain inner join on the dedup key (no false negatives)
      """WITH k AS (SELECT doc_id, source, substr(text, 1, 32) AS p,
        |    CAST(substr(source, 4) AS INT) AS src_n FROM documents),
        |old AS (SELECT p, count(*) AS n_old_matches FROM k WHERE src_n < 10 GROUP BY 1)
        |SELECT k.doc_id, k.source, CAST(old.n_old_matches AS BIGINT) AS n_old_matches
        |FROM k JOIN old USING (p) WHERE k.src_n >= 10 ORDER BY k.doc_id""".stripMargin,
    "q312_diverse_topk" ->
      // q45's scoring with k = 10, then the same two rank windows the
      // engine runs — at-most-2-per-label in rank order, best 5 survivors
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id", "query_id, neighbor_id, label")},
         |r AS (SELECT query_id, neighbor_id, label, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM s),
         |t AS (SELECT * FROM r WHERE rn <= 10),
         |lr AS (SELECT *, row_number() OVER (PARTITION BY query_id, label ORDER BY rn) AS label_rank FROM t),
         |kept AS (SELECT * FROM lr WHERE label_rank <= 2),
         |sel AS (SELECT query_id, neighbor_id, label, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rn) AS BIGINT) AS sel_rn FROM kept)
         |SELECT query_id, sel_rn, neighbor_id, label, (round(cosine, 4) + 0.0) AS cosine
         |FROM sel WHERE sel_rn <= 5 ORDER BY query_id, sel_rn""".stripMargin,
    "q313_image_neardup" ->
      // every gradient + per-variant-row bit predicted arithmetically
      // (pixel = (13g + x(y+3) + [y = v%7]·7x) mod 256, bit = right
      // neighbor brighter); same 7-row banding, same hamming verify
      """WITH d AS (SELECT doc_id, doc_id % 50 AS g, (doc_id // 50) % 7 AS vr
        |  FROM documents WHERE doc_id < 300),
        |bits AS (SELECT d.doc_id,
        |    CASE WHEN (d.g * 13 + (x.x + 1) * (y.y + 3) + CASE WHEN y.y = d.vr THEN 7 * (x.x + 1) ELSE 0 END) % 256
        |            > (d.g * 13 + x.x * (y.y + 3) + CASE WHEN y.y = d.vr THEN 7 * x.x ELSE 0 END) % 256
        |      THEN CAST(1 AS BIGINT) << CAST(y.y * 8 + x.x AS INT) ELSE 0 END AS b
        |  FROM d, (SELECT unnest(range(0, 8)) AS x) x, (SELECT unnest(range(0, 7)) AS y) y),
        |h AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS dhash FROM bits GROUP BY 1),
        |bd AS (SELECT doc_id, dhash, bb.b AS band_idx,
        |    (dhash >> CAST(bb.b * 8 AS INT)) & 255 AS band_byte
        |  FROM h, (SELECT unnest(range(0, 7)) AS b) bb),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, z.doc_id AS id_b, a.dhash AS h_a, z.dhash AS h_b
        |  FROM bd a JOIN bd z ON a.band_idx = z.band_idx AND a.band_byte = z.band_byte
        |    AND a.doc_id < z.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 16 ORDER BY id_a, id_b""".stripMargin,
    "q310_pit_features" ->
      // the SEMANTICS as SQL: per label, aggregate the same user's
      // strictly-earlier events (a quadratic-per-user inequality join —
      // exactly what the engine's single-pass window replaces)
      """WITH lab AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id,
        |  CAST(count(e.event_id) AS BIGINT) AS prior_events,
        |  CAST(coalesce(sum(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END), 0) AS BIGINT) AS prior_clicks,
        |  CAST(coalesce(sum(CAST(floor(e.value * 1000000) AS BIGINT)), 0) AS BIGINT) AS prior_value_micros
        |FROM lab l LEFT JOIN events e ON e.user_id = l.user_id AND e.ts < l.ts
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q311_url_canonical" ->
      // every canonicalization step predicted arithmetically from the
      // doc_id residues that built the raw URL; same higher-order list
      // ops on the DuckDB side (list_filter / list_sort)
      """WITH raw AS (SELECT doc_id,
        |    'HTTPS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.COM:443/Path' || CAST(doc_id % 20 AS VARCHAR) ||
        |    '/item?utm_source=s' || CAST(doc_id AS VARCHAR) ||
        |    '&id=' || CAST(doc_id % 10 AS VARCHAR) ||
        |    '&ref=r' || CAST(doc_id % 3 AS VARCHAR) || '#frag' AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)), '^www\.', '') AS host,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |    array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      p -> NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'ref='))), '&') AS params
        |  FROM raw),
        |canon AS (SELECT doc_id, 'https://' || host || path ||
        |    CASE WHEN params = '' THEN '' ELSE '?' || params END AS canon_url FROM c)
        |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,
    "q305_vocab_coverage" ->
      // same tokenization as q103, same (freq desc, token) total order —
      // the oracle's global window IS what the two-phase rank replaces
      """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tok WHERE len(token) > 0 GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM c),
        |vs AS (SELECT CAST(unnest([5, 10, 20]) AS BIGINT) AS vocab_size),
        |cov AS (SELECT vs.vocab_size, CAST(coalesce(sum(r.cnt), 0) AS BIGINT) AS covered_tokens
        |  FROM vs LEFT JOIN r ON r.rank <= vs.vocab_size GROUP BY 1)
        |SELECT cov.vocab_size, cov.covered_tokens, t.total_tokens,
        |  CAST((cov.covered_tokens * 10000) // t.total_tokens AS BIGINT) AS coverage_bp
        |FROM cov, t ORDER BY cov.vocab_size""".stripMargin,
    "q303_freshness_decay" ->
      // same data-derived anchor, same capped weekly buckets, same exact
      // dyadic scaling (cents << (16 − k)), same top-20 order
      """WITH a AS (SELECT max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS today FROM events),
        |e AS (SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |    least(date_diff('day', CAST(CAST(ts AS TIMESTAMP) AS DATE), a.today) // 7, 16) AS k
        |  FROM events, a),
        |g AS (SELECT user_id,
        |    CAST(sum(cents * (CAST(1 AS BIGINT) << CAST(16 - k AS INT))) AS BIGINT) AS scaled
        |  FROM e GROUP BY 1)
        |SELECT user_id, scaled, (round(CAST(scaled AS DOUBLE) / 65536, 4) + 0.0) AS score
        |FROM g ORDER BY scaled DESC, user_id LIMIT 20""".stripMargin,
    "q301_spearman" ->
      // same per-user frame, same row_number total order (metric, user_id),
      // same six exact rank-moments, same fixed-order combine
      """WITH per AS (SELECT user_id, count(*) AS n_ev,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id,
        |    CAST(row_number() OVER (ORDER BY n_ev, user_id) AS BIGINT) AS ra,
        |    CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rb FROM per),
        |s AS (SELECT count(*) AS n, CAST(sum(ra) AS BIGINT) AS sa, CAST(sum(rb) AS BIGINT) AS sb,
        |    CAST(sum(ra * rb) AS BIGINT) AS sab, CAST(sum(ra * ra) AS BIGINT) AS sa2,
        |    CAST(sum(rb * rb) AS BIGINT) AS sb2 FROM r)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  (round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(sb2 AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 4) + 0.0) AS spearman
        |FROM s""".stripMargin,
    "q297_assortativity" ->
      // same degree pass, same six exact sums, same fixed-order combine
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u, count(*) AS d FROM e GROUP BY 1),
        |xy AS (SELECT a.d AS dx, b.d AS dy FROM e
        |  JOIN deg a ON a.u = e.u JOIN deg b ON b.u = e.v),
        |s AS (SELECT count(*) AS n, CAST(sum(dx) AS BIGINT) AS sx,
        |    CAST(sum(dy) AS BIGINT) AS sy, CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sx2, CAST(sum(dy * dy) AS BIGINT) AS sy2
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_edges,
        |  (round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) + 0.0) AS assortativity
        |FROM s""".stripMargin,
    "q294_tfidf_pairs" ->
      // same df-capped vocabulary, same exact milli-nat weights, same
      // long-sum dots/norms, same fixed-order final cosine
      """WITH tokr AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)) AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, w, count(*) AS tf FROM tokr GROUP BY 1, 2),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |dft AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |  HAVING count(DISTINCT doc_id) <= 20),
        |wts AS (SELECT t.doc_id, t.w,
        |    t.tf * CAST(round(ln(CAST(nd.n AS DOUBLE) / CAST(d.df AS DOUBLE)) * 1000) AS BIGINT) AS wt
        |  FROM tok t JOIN dft d USING (w), nd),
        |norms AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2 FROM wts GROUP BY 1),
        |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
        |  FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b,
        |    (round(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) + 0.0) AS cosine
        |  FROM dots JOIN norms na ON na.doc_id = dots.id_a
        |    JOIN norms nb ON nb.doc_id = dots.id_b)
        |SELECT id_a, id_b, cosine FROM c WHERE cosine >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q284_sq8_search" ->
      // per-dim [min,max] → affine 0..255 codes (floor of three IEEE ops
      // both engines round identically), symmetric integer L2 over codes
      """WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |d AS (SELECT vec_id, CAST(s.i AS BIGINT) AS pos, vv[CAST(s.i + 1 AS INT)] AS v
        |  FROM vecs, LATERAL (SELECT unnest(range(0, 64)) AS i) s),
        |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM d GROUP BY 1),
        |c AS (SELECT vec_id, pos,
        |    CASE WHEN mx = mn THEN 0
        |      ELSE least(255, greatest(0, CAST(floor((v - mn) * 255 / (mx - mn)) AS BIGINT)))
        |    END AS code
        |  FROM d JOIN st USING (pos)),
        |q AS (SELECT vec_id AS query_id, pos, code AS qc FROM c WHERE vec_id < 8),
        |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |    CAST(sum((q.qc - c.code) * (q.qc - c.code)) AS BIGINT) AS sqdist
        |  FROM q JOIN c ON q.pos = c.pos AND c.vec_id <> q.query_id GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, sqdist,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sqdist, neighbor_id) AS BIGINT) AS rn FROM sc)
        |SELECT query_id, neighbor_id, sqdist, rn FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin,
    "q285_shard_merge" ->
      // the MONOLITHIC nprobe=2 IVF search — equality with the Spark
      // side's merged-two-shard search IS the gate's merge-correctness
      // proof (shared quantizer ⇒ assignment is per-vector ⇒ union ≡ whole)
      ivfTopKSql("crn = 1", "scored WHERE vec_id < 8 AND crn <= 2"),
    "q286_mrr" ->
      // q277's exact top-5 chain, first label match per query, reciprocal
      // ranks as exact micro-unit integer divisions summed order-free
      """WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, vv AS qv, label AS ql FROM vecs WHERE vec_id < 8),
        |s AS (SELECT q.query_id, q.ql, x.vec_id AS neighbor_id, x.label AS nl,
        |  list_dot_product(q.qv, x.vv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(x.vv, x.vv))) AS cosine
        |  FROM q JOIN vecs x ON x.vec_id <> q.query_id),
        |r AS (SELECT query_id, ql, nl,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM s),
        |fr AS (SELECT query_id, min(rn) AS first_rel_rn FROM r
        |  WHERE rn <= 5 AND nl = ql GROUP BY 1),
        |pq AS (SELECT q.query_id, coalesce(fr.first_rel_rn, 0) AS f
        |  FROM q LEFT JOIN fr USING (query_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN f = 0 THEN 0 ELSE 1000000 // f END) AS BIGINT) AS rr_micro_sum,
        |  (round(CAST(sum(CASE WHEN f = 0 THEN 0 ELSE 1000000 // f END) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000.0), 4) + 0.0) AS mrr
        |FROM pq""".stripMargin,
    "q287_scene_cuts" ->
      // frame channel means predicted arithmetically (solid-color
      // indexed-palette GIF frames decode losslessly), then the same lag
      // deltas + threshold
      """WITH v AS (SELECT doc_id, n_chars % 6 + 4 AS nf, doc_id % 100 AS br,
        |    (doc_id * 7) % 200 AS bg FROM documents),
        |f AS (SELECT doc_id, br, bg, unnest(range(0, nf)) AS i FROM v),
        |c AS (SELECT doc_id, i, br + 4 * i + 60 * (i // 3) AS r,
        |    bg + 3 * i AS g, 10 + 5 * i AS b FROM f),
        |d AS (SELECT doc_id, i,
        |    abs(r - lag(r) OVER w) + abs(g - lag(g) OVER w) + abs(b - lag(b) OVER w) AS ds
        |  FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY i))
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(ds AS BIGINT) AS delta_sum,
        |  CAST(CASE WHEN ds > 40 THEN 1 ELSE 0 END AS BIGINT) AS is_cut
        |FROM d WHERE ds IS NOT NULL ORDER BY doc_id, frame_idx""".stripMargin,
    "q288_embed_covariance" ->
      // the same exact micro-scaled moments; sum() returns HUGEINT so the
      // casts pin BIGINT; the cov display repeats the identical op order
      """WITH vecs AS (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |m AS (SELECT list_transform(range(0, 16),
        |    k -> CAST(round(vv[CAST(k * 4 + 1 AS INT)] * 1000000) AS BIGINT)) AS p FROM vecs),
        |pr AS (SELECT CAST(i.k AS BIGINT) AS i, CAST(j.k AS BIGINT) AS j,
        |    p[CAST(i.k + 1 AS INT)] AS mi, p[CAST(j.k + 1 AS INT)] AS mj
        |  FROM m, LATERAL (SELECT unnest(range(0, 16)) AS k) i,
        |    LATERAL (SELECT unnest(range(0, 16)) AS k) j
        |  WHERE i.k <= j.k)
        |SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(mi) AS BIGINT) AS sum_i, CAST(sum(mj) AS BIGINT) AS sum_j,
        |  CAST(sum(mi * mj) AS BIGINT) AS sum_ij,
        |  (round(CAST(sum(mi * mj) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    - (CAST(sum(mi) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      * (CAST(sum(mj) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 4) + 0.0) AS cov_micro2
        |FROM pr GROUP BY 1, 2 ORDER BY i, j""".stripMargin,
    "q289_index_delete" ->
      // the monolithic nprobe=2 search over the TOMBSTONE-FILTERED corpus;
      // centroids stay the full parameter table (member deletion does not
      // retrain the quantizer)
      ivfTopKSql("crn = 1 AND vec_id % 7 <> 3",
        "scored WHERE vec_id < 8 AND vec_id % 7 <> 3 AND crn <= 2"),
    "q290_image_resize" ->
      // every source pixel predicted from the synthesis ramps, then the
      // same 2×2 integer box mean (sum // 4)
      """WITH px AS (SELECT doc_id, x, y,
        |    (doc_id + 3 * x + 5 * y) % 256 AS r,
        |    (doc_id * 7 + 2 * x + 7 * y) % 256 AS g,
        |    (doc_id * 3 + 4 * x + y) % 256 AS b
        |  FROM documents, LATERAL (SELECT unnest(range(0, 8)) AS x) xs,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) ys)
        |SELECT doc_id, CAST(x // 2 AS BIGINT) AS ox, CAST(y // 2 AS BIGINT) AS oy,
        |  CAST(sum(r) // 4 AS BIGINT) AS pr, CAST(sum(g) // 4 AS BIGINT) AS pg,
        |  CAST(sum(b) // 4 AS BIGINT) AS pb
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id, oy, ox""".stripMargin,
    "q291_temperature_mix" ->
      // same map-side token count, same micro-quantized sqrt, same exact
      // integer shares
      """WITH d AS (SELECT source,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)) AS tok
        |  FROM documents),
        |ps AS (SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        |w AS (SELECT source, n_tokens,
        |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro FROM ps),
        |t AS (SELECT sum(w_micro) AS wt FROM w)
        |SELECT source, n_tokens, w_micro,
        |  CAST((10000 * w_micro) // t.wt AS BIGINT) AS share_bp,
        |  CAST((100000 * w_micro) // t.wt AS BIGINT) AS alloc_tokens,
        |  CAST((((100000 * w_micro) // t.wt) * 10000) // n_tokens AS BIGINT) AS epochs_bp
        |FROM w, t ORDER BY source""".stripMargin,
    "q280_curation_matrix" ->
      // q204's scores terciled + the pair-graph node set as the dup flag
      // (a doc is a dup iff it appears in ANY pair — the closure added
      // nothing the edge endpoints don't already carry) + token mass
      s"""WITH scores AS ($q204Sql),
         |b AS (SELECT doc_id,
         |    CAST(ntile(3) OVER (ORDER BY avg_nll, doc_id) AS BIGINT) AS bucket
         |  FROM scores),
         |pairs AS ($q44Sql),
         |$nearDupEdgesCte,
         |lab AS (SELECT DISTINCT src AS a FROM e),
         |tk AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt
         |  FROM documents)
         |SELECT b.bucket,
         |  CAST(CASE WHEN lab.a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tk.nt) AS BIGINT) AS total_tokens
         |FROM b LEFT JOIN lab ON lab.a = b.doc_id
         |JOIN tk ON tk.doc_id = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q270_cluster_sizes" ->
      // q77's recursive closure, then size-of-cluster → count-of-size
      s"""WITH ${nearDupComponentCtes("node AS a")},
         |sz AS (SELECT component, count(*) AS s FROM lab GROUP BY 1)
         |SELECT s AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY s ORDER BY cluster_size""".stripMargin,
    "q265_incremental_components" ->
      // the full-recompute twin: q77's recursive closure over the WHOLE
      // corpus — equality here proves the incremental star-merge path
      s"""WITH ${nearDupComponentCtes("node AS a")}
         |SELECT a AS doc_id, component FROM lab ORDER BY doc_id""".stripMargin,
    "q266_stream_neardup" ->
      // survivors = docs that are id_b of NO pair; batch_id from the
      // ascending-id span the stager uses (ceil((max+1)/4))
      s"""WITH pairs AS ($q44Sql),
         |m AS (SELECT max(doc_id) AS mx FROM documents),
         |s AS (SELECT doc_id FROM documents
         |  WHERE doc_id NOT IN (SELECT id_b FROM pairs))
         |SELECT doc_id, CAST(doc_id // ((mx + 4) // 4) AS BIGINT) AS batch_id
         |FROM s, m ORDER BY doc_id""".stripMargin)
}
