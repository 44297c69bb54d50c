package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. (SURVEY.md §2.10 q43/q44 + north-star
  * extensions.)
  *
  * Scale design: every variant reduces the pairwise problem to a groupBy/join
  * on a *short key* (hash, band signature, simhash prefix) before any
  * quadratic work, so the shuffle carries fingerprints, not documents. Nothing
  * here collects to the driver.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup via content hash: group on sha2(text) and keep the smallest
    * id. Shuffles a 64-char hash + id per row, never the text itself (the
    * projection drops `text` before the exchange — check `.explain`).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(sha2(col(textCol), 256).as("__h"), col(idCol))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dupes"))
      .drop("__h")

  /** Prefix-fingerprint dedup: group on the whitespace-normalized first
    * `prefixLen` characters — catches truncated/extended copies that exact
    * content-hash dedup (q43) misses (same opening, different tails: wire
    * articles with appended boilerplate, re-crawls cut at different lengths).
    *
    * One windowed pass over the prefix hash resolves keeper + group size
    * (the q76 shape: no keeper-side groupBy+join, no annotation re-run);
    * the exchange carries (sha2(prefix), id) — never the document text.
    * Emits every doc with its verdict, audit-trail style. */
  def prefixDedup(docs: DataFrame, idCol: String, textCol: String,
                  prefixLen: Int = 80): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pref = substring(regexp_replace(lower(col(textCol)), "\\s+", " "), 1, prefixLen)
    val w = Window.partitionBy(col("__h"))
    docs.select(col(idCol), sha2(pref, 256).as("__h"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("kept", col(idCol) === min(col(idCol)).over(w))
      .drop("__h")
  }

  /** Corpus-frequency boilerplate line removal (the CCNet/RefinedWeb-style
    * cleanup pass): drop every line that occurs more than `maxFreq` times
    * across the whole corpus — navigation chrome, cookie banners, license
    * footers — and reassemble each document from its surviving lines in
    * order. Operates on a caller-supplied array-of-lines column, so the
    * segmentation (real `\n` lines, sentences, fixed token windows) is the
    * caller's choice.
    *
    * Scale shape: line frequencies are counted on `xxhash64(line)` — the
    * frequency exchange carries an 8-byte key with map-side combine, never
    * line text (collision odds ~ n²/2⁶⁵ merge two lines' counts; CCNet makes
    * the same trade). The boilerplate dictionary (lines with cf > maxFreq)
    * is SMALL by construction — high-frequency lines are few — so Spark
    * broadcasts it and the per-line verdict is map-side. The one full-size
    * exchange is the regroup-by-doc that rebuilds the text, inherent to
    * producing rebuilt documents; verdicts ride along as nulls so docs whose
    * every line is boilerplate still emit (empty text, exact counts).
    *
    * Output: (id, clean_text, kept_lines, dropped_lines).
    */
  def commonLineRemoval(docs: DataFrame, idCol: String, linesCol: Column,
                        maxFreq: Long, sep: String = "\n"): DataFrame = {
    // checkpointed: the frequency aggregate AND the probe join both read the
    // exploded corpus — without the barrier the explode+hash runs twice per
    // action (same diamond as rareTokenStats, same fix)
    val lined = docs
      .select(col(idCol), posexplode(linesCol).as(Seq("__pos", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
      .localCheckpoint()
    val boilerplate = lined.groupBy(col("__h"))
      .agg(count(lit(1)).as("__cf"))
      .filter(col("__cf") > maxFreq)
    val rebuilt = lined
      .join(broadcast(boilerplate), Seq("__h"), "left")
      .withColumn("__keep", col("__cf").isNull)
      .groupBy(col(idCol))
      .agg(
        // collect_list skips nulls → only kept lines enter the rebuild
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN __keep THEN struct(__pos, __line) END)), x -> x.__line)"),
          sep).as("clean_text"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_lines"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("dropped_lines"))
    // posexplode of an empty/NULL lines array emits nothing — restore those
    // docs so the documented every-doc-emits contract holds
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        coalesce(col("dropped_lines"), lit(0L)).as("dropped_lines"))
  }

  // ---------------------------------------------------------------- shingles

  /** Distinct word k-shingles per doc: (id, shingle) pairs, via the native
    * codegen'd [[graft.functions.WordShingles]] expression — one fused loop
    * replacing the interpreted transform/slice/filter/array_distinct lambda
    * chain (bit-identical output, PropertySpec-asserted; the lambda chain's
    * history: a Column-API form re-evaluated the split per element and was
    * 2× slower, the named-column form that replaced it still ran its
    * lambdas interpreted). */
  def wordShingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.WordShingles(col(textCol), k)).as("shingle"))

  /** Benchmark decontamination check (the training-data hygiene pass every
    * LLM corpus needs): flag documents sharing ≥ `minHits` distinct word
    * k-shingles with a benchmark/eval set. Both sides reduce to distinct
    * (id, shingle) pairs; the overlap is an equi-join on the shingle string
    * followed by a per-doc count — the shuffle carries (shingle, id), and
    * because the benchmark side is tiny relative to the corpus (eval sets,
    * not training data) Spark broadcasts it and the corpus never moves.
    *
    * Output: (id, hits, contaminated) for candidate docs with ≥ 1 hit.
    * `benchPred` selects the benchmark rows; everything else is a candidate.
    */
  def shingleContamination(docs: DataFrame, idCol: String, textCol: String,
                           benchPred: Column, k: Int = 3,
                           minHits: Long = 3): DataFrame = {
    val sh = wordShingles(docs, idCol, textCol, k)
    val bench = sh.filter(benchPred).select(col("shingle")).distinct()
    sh.filter(!benchPred)
      .join(bench, Seq("shingle"))
      // shingles are distinct per doc upstream, so count(*) = distinct hits
      .groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
      .withColumn("contaminated", col("hits") >= minHits)
  }

  /** POSITIONAL word k-shingles — [[wordShingles]] keeping every occurrence
    * with its token offset instead of the per-doc distinct set (full
    * windows are the contiguous prefix i = 0..n−k, so the array index IS
    * the token offset). The input frame for span-level (not
    * document-level) duplication analysis. */
  def positionalShingles(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame =
    docs.select(col(idCol),
      posexplode(graft.functions.WordShingles(col(textCol), k, distinct = false))
        .as(Seq("pos", "shingle")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("shingle"))

  /** Exact repeated-span audit — the k-token-granular relational form of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): a span is DUPLICATED when its exact text
    * occurs more than once in the corpus (any document, any position —
    * within-doc repeats count, they are the same memorization risk).
    * dup_span_bp per document is the repeated-content rate the substring-
    * dedup decision reads — high-bp docs are boilerplate/template bodies
    * that survive document-level gates (q43/q44) because no WHOLE document
    * matches.
    *
    * Scale shape: one positional-shingle pass (checkpointed — the
    * frequency aggregate and the verdict join both read it, the
    * commonLineRemoval diamond); occurrence counts group on the Karp–Rabin
    * span fingerprint ([[graft.functions.RollingHash]] — an 8-byte,
    * DuckDB-replicable exchange key, never span text); one equi-join back
    * on the fingerprint and one per-doc aggregate. Linear in token volume,
    * no window, no pair join. Docs with < k tokens emit no row (both
    * engines).
    *
    * Collision caveat (same class of estimate as q44's MinHash): duplication
    * is decided on the 64-bit fingerprint, not the span text, so two
    * DISTINCT spans that collide mod the Karp–Rabin prime are counted as
    * duplicates. At 2^-61-per-pair odds this biases dup_bp upward by well
    * under a basis point at corpus scale; a build that needs exactness can
    * confirm colliding groups with one equality pass over span text
    * (shuffling the text — the cost this shape exists to avoid). The DuckDB
    * oracle computes the same fingerprint, so parity is unaffected.
    *
    * Output: (id, n_spans, n_dup, dup_bp floor basis points). */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    val sh = positionalShingles(docs, idCol, textCol, k)
      .withColumn("__h", graft.functions.RollingHash(col("shingle")))
      .localCheckpoint(eager = false)
    val freq = sh.groupBy(col("__h")).agg(count(lit(1)).as("__f"))
    sh.join(freq, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__f") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col(idCol), col("n_spans").cast("long").as("n_spans"),
        col("n_dup").cast("long").as("n_dup"),
        expr("(10000 * n_dup) div n_spans").cast("long").as("dup_bp"))
  }

  /** MinHash signatures: for each of `numHashes` seeded permutations keep the
    * min over the doc's shingle hashes. One explode + one groupBy — the
    * signature matrix is |docs| × numHashes longs.
    *
    * Hash family: `h_i(kr(shingle))` where `kr` is the Karp–Rabin mod-prime
    * fold ([[graft.functions.RollingHash]], a codegen'd Catalyst expression)
    * and `h_i` the affine family in [[graft.functions.HashFamily]] — chosen
    * over xxhash64 so the DuckDB differential oracle can replicate every
    * signature bit (same trick as the q53 fingerprint).
    *
    * Output: (id, sig: array<long> of length numHashes).
    */
  def minHashSignatures(shingled: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val withX = shingled.withColumn("__x", graft.functions.RollingHash(col("shingle")))
    val sigCols = (0 until numHashes).map(i =>
      min(graft.functions.HashFamily.affine(i)(col("__x"))).as(s"h$i"))
    withX.groupBy(col(idCol))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  // NOTE (measured, not assumed): a "map-only" variant computing the shingle
  // hashes and all per-seed mins with higher-order array functions was tried
  // and REVERTED — Catalyst inlines the hash-array alias into every consuming
  // expression (recomputing it per seed) and array lambdas run interpreted,
  // so it benched 7× slower than this explode + codegen'd two-phase agg,
  // whose shuffle only carries (id, 16 partial mins) after map-side combine.

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * bucket-join docs sharing any band, then estimate Jaccard as the fraction
    * of agreeing signature positions. Candidate generation is a self-join on
    * (band index, band hash) — i.e. on a short key, never all-pairs.
    *
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b, est ≥ threshold.
    */
  def minHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
                     threshold: Double = 0.5): DataFrame =
    nearDupPairsBanded(
      bandedSignatures(docs, idCol, textCol, shingleK, numHashes, bands),
      idCol, numHashes, threshold)

  /** Within-set near-dup pairs from an ALREADY-BANDED signature frame —
    * the [[minHashNearDup]] join exposed for callers that band once and
    * reuse the frame (the streaming ingest gate bands each batch exactly
    * once for the inner pairs, the index probe, AND the index append). */
  def nearDupPairsBanded(banded: DataFrame, idCol: String, numHashes: Int,
                         threshold: Double): DataFrame = {
    val a = banded.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("band"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("band"), col("band_hash"))
    val agree = expr(
      "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    // estimate + threshold BEFORE the pair-dedup: est_jaccard is a pure
    // function of the pair, so distinct() on (id_a, id_b, est) is equivalent
    // to dedup-then-estimate — but the distinct exchange now carries three
    // narrow columns instead of two full signature arrays per row
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("est_jaccard", Num.roundz(agree.cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard").distinct()
  }

  /** Banded MinHash signature matrix — THE near-dup index a production
    * pipeline persists between ingest batches: one row per (doc, band) with
    * the full signature and the band bucket key. Compact ((id, 16 longs,
    * band key) per band) and checkpointed, because every consumer joins it
    * at least twice and the upstream lineage (scan → shingle explode →
    * 16-min agg) is the expensive part — without the barrier both join
    * branches re-run it (measured ~1.7× the whole q44 locally).
    *
    * Band key: for 2-row bands, the pair packs into ONE long — v1·P + v2
    * with both values < P = 1e9+7 fits 63 bits and is injective, so join
    * semantics are IDENTICAL to comparing the values, but the shuffle key
    * is 8 bytes instead of a ~21-char CSV (measured ~15% off the whole
    * q44). Wider bands keep the exact CSV key (a mod-P fold would admit
    * collisions, i.e. change candidate sets). */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigs = minHashSignatures(wordShingles(docs, idCol, textCol, shingleK), idCol, numHashes)
    val bandKey: Int => Column =
      if (rowsPerBand == 2) bI =>
        element_at(col("sig"), bI * rowsPerBand + 1) * lit(1000000007L) +
          element_at(col("sig"), bI * rowsPerBand + 2)
      else bI => concat_ws(",", slice(col("sig"), bI * rowsPerBand + 1, rowsPerBand))
    sigs.select(
      col(idCol), col("sig"),
      posexplode(array((0 until bands).map(bandKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      .localCheckpoint()
  }

  /** INCREMENTAL near-dup: probe a NEW batch against the stored band index
    * of the existing corpus — the production dedup shape (a crawler dedups
    * each incoming batch against everything already kept; recomputing
    * corpus×corpus per batch, as a naive q44 rerun would, is quadratic in
    * ingest history). Only (existing, new) pairs are generated: the index
    * side never self-joins, and within-batch dups are q44 applied to the
    * batch alone. The probe side is banded with the SAME hash family and
    * band layout as the index (that contract is what makes the stored index
    * reusable); candidates come from the (band, band_hash) equi-join, so
    * the join key is 8 bytes and the fan-in per bucket is index-occupancy
    * bounded, never all-pairs.
    *
    * Output: (existing_id, new_id, est_jaccard ≥ threshold), distinct. */
  def probeNearDup(index: DataFrame, fresh: DataFrame, idCol: String,
                   textCol: String, shingleK: Int, numHashes: Int, bands: Int,
                   threshold: Double): DataFrame =
    probeNearDupBanded(index,
      bandedSignatures(fresh, idCol, textCol, shingleK, numHashes, bands),
      idCol, numHashes, threshold)

  /** [[probeNearDup]] with the fresh side ALREADY banded (same hash family
    * and band layout as the index — the stored-index contract). */
  def probeNearDupBanded(index: DataFrame, freshBanded: DataFrame,
                         idCol: String, numHashes: Int,
                         threshold: Double): DataFrame = {
    val e = index.select(col(idCol).as("existing_id"), col("sig").as("sig_a"),
      col("band"), col("band_hash"))
    val f = freshBanded
      .select(col(idCol).as("new_id"), col("sig").as("sig_b"),
        col("band"), col("band_hash"))
    val agree = expr(
      "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    e.join(f, Seq("band", "band_hash"))
      .withColumn("est_jaccard", Num.roundz(agree.cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= threshold)
      .select("existing_id", "new_id", "est_jaccard").distinct()
  }

  // ---------------------------------------------------------------- simhash

  /** Seed base for the 64 SimHash bit generators — disjoint from the MinHash
    * seeds (0 until numHashes) so the two sketches stay independent. */
  val SimSeedBase = 1000

  /** 64-bit SimHash per doc: sum ±1 per bit over token hashes, take signs.
    * Computed relationally: explode tokens → per-bit contributions → groupBy
    * doc. Near-dup candidates = docs whose simhash differs in ≤ maxHamming
    * bits, bucketed by splitting the fingerprint into (maxHamming+1) chunks
    * (pigeonhole: some chunk must match exactly).
    *
    * Bit i of a token = parity of `h_{SimSeedBase+i}(kr(token))` — 64
    * independent affine hashes of the token's Karp–Rabin fingerprint
    * ([[graft.functions.HashFamily]]), all DuckDB-replicable (vs the previous
    * xxhash64 bit extraction, which forced a rows-only gate).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .withColumn("__x", graft.functions.RollingHash(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(graft.functions.HashFamily.affine(SimSeedBase + i)(col("__x")) % 2 === 1, 1)
        .otherwise(-1)).as(s"b$i")
    }
    tokens.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 64).map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  // ---------------------------------------------------------------- jaccard

  /** Exact n-gram Jaccard similarity for candidate pairs: |A∩B| via a
    * shingle-equality self-join (shared count), |A∪B| = |A|+|B|−|A∩B|.
    * Fully relational ⇒ DuckDB-oracle-able; the shingle join is the candidate
    * generator, so cost is Σ shingle-bucket² not |docs|².
    *
    * Skew guard (`maxShingleDf`): a shingle appearing in more than
    * `maxShingleDf` documents ("of the"-style stopword bigrams) would pair
    * nearly every document containing it — an unbounded bucket² blowup at
    * corpus scale. Such shingles carry no near-dup signal, so they are dropped
    * from the shingle universe (sizes AND intersections — the Jaccard stays a
    * true set Jaccard over the informative shingles), bounding every
    * self-join bucket at maxShingleDf². Standard near-dup practice.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, threshold: Double, maxShingleDf: Int = 100): DataFrame = {
    val all = wordShingles(docs, idCol, textCol, k)
    // shingles are distinct per doc, so count == document frequency
    val rare = all.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf).select("shingle")
    val sh = all.join(rare, "shingle")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val shared = sh.as("x").join(sh.as("y"), Seq("shingle"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        Num.roundz(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram CONTAINMENT — [[ngramJaccard]]'s asymmetric twin,
    * |A∩B| / |A| for DIRECTED pairs. Jaccard misses sub-document
    * duplication by construction (a paragraph quoted inside a 100×-longer
    * page has tiny |A∩B|/|A∪B| but containment ≈ 1 for the paragraph), so
    * this is the signal a curation pipeline uses to drop embedded copies,
    * quote farms, and template-wrapped reposts that survive the symmetric
    * near-dup gates.
    *
    * Same candidate generator and `maxShingleDf` skew guard as
    * [[ngramJaccard]] (shingles carrying no signal are dropped from sizes
    * AND intersections, bounding every shingle bucket's self-join at
    * maxShingleDf²); pairs come out directed (src ≠ dst, both directions),
    * thresholded on the ROUNDED score so the cut is engine-independent.
    *
    * Output: (src_id, dst_id, n_src, shared, containment ≥ threshold) —
    * src is the (partially) contained document. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double,
                       maxShingleDf: Int = 100): DataFrame = {
    val all = wordShingles(docs, idCol, textCol, k)
    val rare = all.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf).select("shingle")
    val sh = all.join(rare, "shingle")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    sh.as("x").join(sh.as("y"), Seq("shingle"))
      .filter(col(s"x.$idCol") =!= col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("src_id"), col(s"y.$idCol").as("dst_id"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col(idCol).as("src_id"), col("n").as("n_src")), "src_id")
      .withColumn("containment",
        Num.roundz(col("shared").cast("double") / col("n_src"), 4))
      .filter(col("containment") >= threshold)
      .select(col("src_id"), col("dst_id"), col("n_src").cast("long").as("n_src"),
        col("shared").cast("long").as("shared"), col("containment"))
  }

  /** Corpus-order novelty per document: the share of a doc's distinct
    * k-shingles whose FIRST corpus occurrence (minimum doc id) is the doc
    * itself — the "how much new content does each document actually add"
    * curve that decides where a crawl stops paying for itself, and the
    * per-doc complement of the pairwise near-dup view (a doc can evade
    * every pairwise gate yet be assembled entirely from seen fragments —
    * novelty ≈ 0 catches exactly that).
    *
    * Exactness: counts are longs; novelty is FLOOR basis points
    * ((10⁴·n_novel) div n_shingles) — no float anywhere. Docs with no
    * k-shingle (< k words) leave the output in both engines.
    *
    * Scale shape: one (shingle → min doc) aggregate with map-side combine
    * over the distinct (doc, shingle) pairs, one equi-join back on the
    * shingle key, one per-doc count aggregate. No window, no pair join —
    * linear in total shingle volume, unlike anything pairwise. */
  def noveltyByDoc(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    val sh = wordShingles(docs, idCol, textCol, k).localCheckpoint(eager = false)
    val first = sh.groupBy(col("shingle")).agg(min(col(idCol)).as("__first"))
    sh.join(first, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_shingles").cast("long").as("n_shingles"),
        col("n_novel").cast("long").as("n_novel"),
        expr("(10000 * n_novel) div n_shingles").cast("long").as("novelty_bp"))
  }

  // ------------------------------------------------------- materialized index

  /** Write-once near-dup INDEX: the (pairs, components) both derived ONCE
    * from the corpus and served from parquet to every consumer — the
    * production dedup shape. Cluster canonicalization (q77), representative
    * election (q105), leakage-safe splitting (q138), clustering health
    * (q250), and the gate funnel (q255) all need the same
    * shingles → signatures → banded self-join → components derivation; at
    * 100 TB recomputing it per consumer is five full corpus passes, so a
    * real pipeline materializes the component map once per ingest batch and
    * every downstream reader joins the (node, component) parquet — exactly
    * what this does. Components are rebuilt FROM the persisted pair list
    * (not the live DAG), so the expensive minhash lineage runs exactly once
    * per JVM per (input, params) key.
    *
    * `indexDir` must encode the input identity AND the banding parameters
    * (the stored index is only reusable under the SAME hash family and band
    * layout — the probeNearDup contract). Returns (pairs, components) as
    * plain parquet scans: pairs (id_a, id_b, est_jaccard), components
    * (node, component). The BANDED SIGNATURES are persisted alongside
    * (`bands/`: id, sig, band, band_hash — the [[probeNearDupBanded]]
    * index shape) so incremental maintenance (q265) and any future ingest
    * batch can probe the stored index instead of re-banding the historical
    * corpus — read them via [[componentIndexBands]]. The parquet round-trip
    * of the banded frame doubles as the lineage barrier the
    * localCheckpoint previously provided: pairs derive from the stored
    * scan, so the expensive shingle → 16-min-agg lineage runs exactly once
    * per JVM per (input content, params) key. */
  def componentIndex(docs: DataFrame, idCol: String, textCol: String,
                     shingleK: Int, numHashes: Int, bands: Int,
                     threshold: Double, indexDir: String): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    graft.storage.Materialize.once(indexDir, docs) {
      bandedSignatures(docs, idCol, textCol, shingleK, numHashes, bands)
        .write.parquet(s"$indexDir/bands")
      nearDupPairsBanded(spark.read.parquet(s"$indexDir/bands"), idCol,
          numHashes, threshold)
        .write.parquet(s"$indexDir/pairs")
      connectedComponents(spark.read.parquet(s"$indexDir/pairs"))
        .write.parquet(s"$indexDir/components")
    }
    (spark.read.parquet(s"$indexDir/pairs"),
      spark.read.parquet(s"$indexDir/components"))
  }

  /** The persisted band index of [[componentIndex]] (same once-guarded
    * write): one row per (doc, band) with the full signature — what an
    * ingest batch probes ([[probeNearDupBanded]]) so the historical corpus
    * is never re-banded. */
  def componentIndexBands(docs: DataFrame, idCol: String, textCol: String,
                          shingleK: Int, numHashes: Int, bands: Int,
                          threshold: Double, indexDir: String): DataFrame = {
    componentIndex(docs, idCol, textCol, shingleK, numHashes, bands,
      threshold, indexDir)
    docs.sparkSession.read.parquet(s"$indexDir/bands")
  }

  /** The HISTORICAL component map of [[componentIndex]] restricted to doc
    * ids below `idUpper` — "yesterday's merge output", co-materialized once
    * next to the pairs/bands/components artifacts. Incremental maintenance
    * (q265) STARTS from this stored map; recomputing the slice's components
    * on every invocation was the run-to-run variance the round-13 verdict
    * flagged (the min-label loop's actions re-ran per run, lineage leaking
    * past the localCheckpoints). The slice's components come from the
    * STORED pair list restricted to old×old edges — banding is per-doc and
    * the threshold per-pair, so the restriction IS the slice's pair set. */
  def componentIndexSliceBelow(docs: DataFrame, idCol: String, textCol: String,
                               shingleK: Int, numHashes: Int, bands: Int,
                               threshold: Double, indexDir: String,
                               idUpper: Long): DataFrame = {
    val spark = docs.sparkSession
    val (pairs, _) = componentIndex(docs, idCol, textCol, shingleK, numHashes,
      bands, threshold, indexDir)
    val sliceDir = s"$indexDir/components_lt$idUpper"
    graft.storage.Materialize.once(sliceDir, docs) {
      connectedComponents(
        pairs.filter(col("id_a") < idUpper && col("id_b") < idUpper))
        .write.parquet(sliceDir)
    }
    spark.read.parquet(sliceDir)
  }

  // ------------------------------------------------------------- components

  /** Connected components over a near-dup pair graph, labeled by the minimum
    * member id — the canonicalization step that turns pairwise near-dup hits
    * (q44/q48/q49/q54) into "keep ONE representative per duplicate cluster",
    * which is what a curation run actually needs.
    *
    * Algorithm: min-label propagation — each iteration every node adopts the
    * smallest label among itself and its neighbors; converges in
    * graph-diameter iterations. Near-dup clusters are shallow (near-cliques
    * around a source document), so the fixpoint lands in 2-3 iterations;
    * `maxIter` is a safety bound and non-convergence raises rather than
    * returning wrong labels. The edge frame carries a SELF-LOOP per node, so
    * one step is exactly join + groupBy(min) — no join-back to merge the old
    * label (the self-loop delivers it), the cheapest per-step shuffle shape.
    * Edges are pre-partitioned on the probe key and checkpointed once, so a
    * step that sort-merge-joins at scale reshuffles only the label frame.
    * The driver-side loop-with-convergence-check is the standard shape for
    * iterative graph algorithms on Spark (each `count` is one tiny action).
    *
    * Output: (node, component) for every node that appears in `pairs`. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    // checkpoint the pair list FIRST: the symmetrized edge frame reads it
    // twice, and without the barrier the (expensive) pair-producing DAG
    // would execute once per branch past its last reusable exchange
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst")).localCheckpoint()
    // no distinct: min-propagation is idempotent over duplicate edges, so
    // deduping would spend a full shuffle to save nothing. Self-loops make
    // every node its own neighbor: min-over-neighbors then already includes
    // the node's current label, so each step needs no merge join afterwards.
    val nodes = p.select(col("src")).union(p.select(col("dst"))).distinct()
      .select(col("src").as("node")).localCheckpoint()
    // the label frame is |nodes| rows of two longs — the checkpointed node
    // frame's row count (one metadata action) decides the pageRank-style
    // broadcast rule (Graph.fitsRankBroadcast). When it fits, every
    // propagation step probes a broadcast of the labels map-side over the
    // checkpointed edge frame — no exchange OR per-step sort of the edge
    // frame at all, so the edges skip the one-time dst repartition too.
    // Beyond broadcast range the shape is the round-16 one: edges
    // repartitioned on the probe key once, each step a sort-merge join
    // reshuffling only the label frame. Fixpoint labels are identical
    // either way. Both fields carry the live id type (labels are node ids):
    // a string- or decimal-keyed caller must not under-estimate the bytes.
    val idT = nodes.schema("node").dataType
    val bLabels = Graph.fitsRankBroadcast(nodes.count(), idT, idT)
    def side(df: DataFrame) = if (bLabels) broadcast(df) else df
    val edges0 = p
      .union(p.select(col("dst"), col("src")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
    val edges = (if (bLabels) edges0 else edges0.repartition(col("dst")))
      .localCheckpoint()
    var labels = nodes.withColumn("label", col("node"))
    // several LAZY propagation steps per materialization: the convergence
    // check (an action) is the per-iteration fixed cost, and near-dup graphs
    // converge within one batch — so the loop usually runs 2 actions total
    // (one converging batch, one verifying batch) instead of one per step
    val itersPerCheck = 2
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      var next = labels
      for (_ <- 1 to itersPerCheck) {
        next = edges
          .join(side(next.select(col("node").as("dst"), col("label").as("dlabel"))), Seq("dst"))
          .groupBy(col("src")).agg(min(col("dlabel")).as("label"))
          .select(col("src").as("node"), col("label"))
      }
      val updated = next.localCheckpoint()
      // labels only ever decrease, so "anything changed" = "any label sank"
      changed = updated
        .join(labels.select(col("node"), col("label").as("old")), Seq("node"))
        .filter(col("label") =!= col("old")).count()
      labels = updated
      iter += itersPerCheck
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("node"), col("label").as("component"))
  }

  /** INCREMENTAL component maintenance: fold a batch of NEW near-dup pairs
    * into an ALREADY-RESOLVED (node, component) map without re-deriving
    * history — the production shape for a persisted dedup index absorbing
    * each crawl batch (re-running components over all historical pairs per
    * batch is quadratic in ingest history; this pays only for the new
    * pairs plus the touched clusters).
    *
    * Correctness: the existing map re-enters the edge set as
    * (node, component) edges. Each resolved cluster is a STAR around its
    * minimum label, so the union graph connects exactly the same node sets
    * as (old pairs ∪ new pairs) — the fixpoint labels are IDENTICAL to a
    * full recompute (DedupSpec asserts equality against the from-scratch
    * result on random graphs), and stars have diameter ≤ 2, so propagation
    * converges in a couple of rounds no matter how deep the original
    * clusters were. New pairs may introduce brand-new nodes, bridge
    * existing clusters, or both.
    *
    * Output: (node, component) for every node in the map or the batch. */
  def mergeComponents(existing: DataFrame, newPairs: DataFrame,
                      idA: String = "id_a", idB: String = "id_b"): DataFrame =
    connectedComponents(
      existing.select(col("node").as(idA), col("component").as(idB))
        .unionByName(newPairs.select(col(idA), col(idB))),
      idA, idB)

  /** Canonical-document election: given the resolved near-dup clusters
    * (a (node, component) map from [[connectedComponents]], or the one
    * materialized and shared by [[componentIndex]]), pick ONE representative
    * per cluster by a quality ordering — keep the longest member,
    * tie-broken on id (q77 keeps min-id; a real curation run keeps the
    * best-quality member, which is what this computes). `qualityCol` must
    * exist on `docs`.
    *
    * Scale shape: one join of the component labels against the docs' (id,
    * quality) projection and one window over the component — cluster
    * groups are near-dup clusters, tiny by construction, so the window
    * partition never skews.
    *
    * Output: (component, id, quality, cluster_size, is_rep). */
  def clusterRepresentatives(comp: DataFrame, docs: DataFrame, idCol: String,
                             qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
    comp.join(docs.select(col(idCol).as("node"), col(qualityCol)), Seq("node"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("__rk", row_number().over(
        w.orderBy(col(qualityCol).desc, col("node"))))
      .withColumn("is_rep", col("__rk") === 1)
      .select(col("component"), col("node").as(idCol), col(qualityCol),
        col("cluster_size"), col("is_rep"))
  }
}
