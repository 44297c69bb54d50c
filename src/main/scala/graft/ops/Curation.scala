package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation: deterministic sampling / data mixing.
  *
  * Pretraining mixes draw per-stratum quotas (per language, per source).
  * `rand()` cannot back a differential-tested or reproducible pipeline, so
  * ordering uses a multiplicative-hash pseudo-shuffle of the id — a fixed
  * permutation both engines (and reruns) agree on. At 100 TB the quota
  * window is per-stratum: each partition ranks only its own stratum's rows.
  */
object Curation {

  /** Knuth-style multiplicative scramble of an integer id onto [0, 1000003):
    * deterministic, uniform-ish, and expressible in plain SQL. The id is
    * reduced mod 1000003 BEFORE the multiply — algebraically identical
    * (ab mod m = ((a mod m)b) mod m) but overflow-free for the entire long
    * domain (the product stays < 2^51, vs id·2654435761 overflowing at
    * id ≈ 2^31.7, where Spark would silently wrap while DuckDB raises). */
  def pseudoShuffleKey(id: Column): Column =
    ((id % lit(1000003L)) * lit(2654435761L)) % lit(1000003L)

  /** Keep at most `quota` rows per stratum, chosen by the pseudo-shuffle
    * order (id tie-break). Deterministic alternative to
    * `df.sampleBy(strataCol, fractions, seed)` when exact per-stratum counts
    * and engine-independent reproducibility matter. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       quota: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(pseudoShuffleKey(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= quota)
      .drop("__rn")
  }

  /** Weighted mixture: per-stratum quotas from a weight map scaled to a
    * total budget (floor allocation; strata missing from `weights` get 0). */
  def weightedMixture(df: DataFrame, strataCol: String, idCol: String,
                      weights: Map[String, Double], totalBudget: Long): DataFrame = {
    val wSum = weights.values.sum
    val quotaCol = weights.foldLeft(lit(0L): Column) { case (acc, (s, wt)) =>
      when(col(strataCol) === s, lit(math.floor(totalBudget * wt / wSum).toLong)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(pseudoShuffleKey(col(idCol)), col(idCol))
    df.withColumn("__quota", quotaCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .drop("__quota", "__rn")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis via the
    * exponential race): each row draws a deterministic uniform u from the
    * pseudo-shuffle of its id and competes with the exponential variate
    * E = −ln(u) / w — the n SMALLEST E values are a weight-proportional
    * sample without replacement (the Gumbel/exponential-race equivalence of
    * A-ES keys u^(1/w)). Curation uses this to over-sample long or
    * high-quality documents into a fixed token budget without a quota table.
    *
    * Determinism policy: u is exact integer arithmetic; the single ln and
    * divide can differ across engines in the last ulp, so ordering uses the
    * key ROUNDED to 10 dp with the id as tie-break — one canonical order in
    * Spark and the DuckDB twin.
    *
    * Scale shape: the key is a map-side expression and the global top-n is
    * `orderBy(...).limit(n)` — Spark plans TakeOrderedAndProject (per-
    * partition n-heap, driver merge of P·n rows), NO full-sort shuffle. The
    * 100 TB variant with a per-stratum budget swaps the global limit for the
    * same key under `stratifiedSample`'s per-stratum window. */
  def weightedPrioritySample(df: DataFrame, idCol: String, weightCol: String,
                             n: Int): DataFrame = {
    val u = (pseudoShuffleKey(col(idCol)) + lit(1L)).cast("double") / lit(1000004.0)
    df
      // a negative id makes the sign-preserving % scramble negative → u ≤ 0
      // → ln undefined → NULL priority, and Spark/DuckDB order NULLs
      // differently — fail loudly instead of silently disagreeing (the
      // clusterSafeSplit discipline); a zero/negative weight breaks the
      // exponential-race semantics the same way
      .filter(when(col(idCol) >= 0 && col(weightCol) > 0, lit(true))
        .otherwise(raise_error(lit(
          "weightedPrioritySample: ids must be non-negative and weights " +
            "positive (exponential-race precondition)"))))
      .withColumn("priority",
        Num.roundz(negate(log(u)) / col(weightCol).cast("double"), 10))
      .orderBy(col("priority"), col(idCol))
      .limit(n)
  }

  /** Composed pre-training curation chain (the C4/Gopher pipeline shape):
    * language filter → quality threshold → repetition cap → exact
    * content-hash dedup (keep the smallest id per hash among passing docs).
    * Each stage is the registered single-op semantic (q50/q51/q73/q43),
    * composed the way a real curation run chains them; PII scrubbing (q72)
    * composes upstream of this when the corpus needs it.
    *
    * Output per input doc: (id, lang_pred, quality, rep_ratio, n_tokens,
    * kept, drop_reason) — drop_reason is the FIRST failing stage in chain
    * order (lang, quality, repetition, duplicate), null when kept. Keeping
    * every row with its verdict (instead of filtering) is deliberate: audit
    * trails over what was dropped and why are how curation bugs get caught.
    *
    * Scale shape: one pass computes all annotations (codegen'd expressions),
    * then ONE exchange on the content hash resolves the keeper via a window
    * min — no keeper-side groupBy+join, which would both re-run the
    * annotation expressions on a second branch and pay a second shuffle.
    * Hash groups are duplicate clusters (tiny, unskewed), and the window
    * exchange carries annotations + (sha2, id) — document text is pruned
    * before the shuffle. */
  def curationChain(docs: DataFrame, idCol: String, textCol: String,
                    lang: String = "en", minQuality: Double = 0.6,
                    maxRepetition: Double = 0.6): DataFrame = {
    val annotated = docs.select(col(idCol), col(textCol),
      TextAnalysis.langId(col(textCol)).as("lang_pred"),
      TextAnalysis.qualityScore(col(textCol)).as("quality"),
      TextFunctions.repetitionRatio(col(textCol)).as("rep_ratio"),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("__pass", col("lang_pred") === lang &&
        col("quality") >= minQuality && col("rep_ratio") <= maxRepetition)
      .withColumn("__h", sha2(col(textCol), 256))
      .drop(textCol)
    annotated
      // keeper = smallest passing id in this content-hash group, resolved in
      // one windowed pass (min(when(pass, id)) ignores nulls ⇒ non-passing
      // docs never become keepers)
      .withColumn("__keeper",
        min(when(col("__pass"), col(idCol))).over(Window.partitionBy(col("__h"))))
      // coalesce: degenerate docs (empty text → null rep_ratio → null __pass)
      // must audit as kept=false, matching the oracle's coalesce(..., FALSE)
      .withColumn("kept",
        coalesce(col("__pass") && col(idCol) === col("__keeper"), lit(false)))
      .withColumn("drop_reason",
        when(col("lang_pred") =!= lang, "lang")
          .when(col("quality") < minQuality, "quality")
          .when(col("rep_ratio") > maxRepetition, "repetition")
          .when(col(idCol) =!= col("__keeper"), "duplicate")
          .otherwise(lit(null).cast("string")))
      .select(col(idCol), col("lang_pred"), col("quality"), col("rep_ratio"),
        col("n_tokens"), col("kept"), col("drop_reason"))
  }

  /** Behavioral-sequence assembly: per (key, day), the time-ordered event
    * chain joined into one training string — how an event log becomes
    * next-action-prediction sequences (and the reference's per-user activity
    * timeline). Order inside a group is total: (ts, tiebreak id), applied by
    * sorting the collected (ts, id, token) structs AFTER the per-group
    * collect — collect_list partials merge in any order, the array_sort
    * makes the result merge-order-independent. Group state is one user-day
    * of events (bounded by activity, not corpus size); the shuffle carries
    * (key, day, token) — nothing wider. */
  def assembleSequences(events: DataFrame, keyCol: String, tsCol: String,
                        tieCol: String, tokenCol: String): DataFrame = {
    val day = date_format(col(tsCol), "yyyy-MM-dd")
    events
      .select(col(keyCol), day.as("day"), col(tsCol).as("__ts"),
        col(tieCol).as("__tie"), col(tokenCol).as("__tok"))
      .groupBy(col(keyCol), col("day"))
      .agg(collect_list(struct(col("__ts"), col("__tie"), col("__tok"))).as("__evs"))
      .select(col(keyCol), col("day"),
        array_join(expr("transform(array_sort(__evs), e -> e.__tok)"), ">").as("seq"),
        size(col("__evs")).cast("long").as("n_events"))
  }

  /** Deterministic train/val/test assignment: multiplicative hash of the id
    * into 100 cells, split by cumulative share (80/10/10 default). The same
    * doc lands in the same split on every run, any cluster, any partition
    * count — the property that makes held-out sets trustworthy. Knuth
    * constant 2654435761 spreads sequential ids; mod a Mersenne-ish prime
    * keeps the cell distribution uniform. Returns per-split exact counts +
    * char volume (the sanity numbers checked before a training run).
    *
    * The id is reduced mod the prime BEFORE the multiply — algebraically
    * identical (ab mod m = ((a mod m)b) mod m, same contract as
    * [[pseudoShuffleKey]]) but overflow-free for the whole long id domain:
    * the product stays < 2^62, where id·2654435761 would silently wrap in
    * Spark at id ≈ 2^31.7 while the oracle's wider integers do not. */
  def trainValTestSplit(docs: DataFrame, idCol: String, sizeCol: String,
                        trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    docs
      .withColumn("split", splitOf(col(idCol), trainPct, valPct))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col(sizeCol)).as("total_chars"))
  }

  /** The split label of [[trainValTestSplit]] and [[clusterSafeSplit]]:
    * the reduce-first multiplicative hash of `key` into 100 cells, then
    * train below `trainPct`, val below `trainPct + valPct`, test above. */
  private def splitOf(key: Column, trainPct: Int, valPct: Int): Column = {
    val cell = pmod(pmod(pmod(key, lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L)), lit(100))
    when(cell < trainPct, "train")
      .when(cell < trainPct + valPct, "val")
      .otherwise(lit("test"))
  }

  /** Token-budget corpus selection: keep the highest-quality documents whose
    * cumulative token count fits a training budget — the greedy knapsack
    * every "train on the best N tokens" curation run performs. Selection is
    * by the (quality DESC, id) total order, so it is reproducible and
    * engine-independent.
    *
    * The global running token sum is the q91 problem and uses the same
    * machinery ([[TwoPhase.prefixSum]] keyed on descending quality): range
    * bins + per-bin windows + broadcast offsets — a cumulative sum over the
    * whole corpus with NO single-partition window anywhere. Returns the
    * selected rows with their quality, token count, and inclusive running
    * total (`cum_tokens <= budget`). */
  def budgetSelect(docs: DataFrame, idCol: String, textCol: String,
                   budget: Long): DataFrame = {
    val annotated = docs.select(col(idCol),
      TextAnalysis.qualityScore(col(textCol)).as("quality"),
      TextAnalysis.tokenCount(col(textCol)).as("toks"))
    val (cum, _) = TwoPhase.prefixSum(annotated, -col("quality"),
      Seq(-col("quality"), col(idCol)), col("toks"), "cum_tokens")
    cum.filter(col("cum_tokens") <= budget)
  }

  /** Leakage-safe train/val/test split: the assignment hash is computed on
    * the near-dup CLUSTER id, not the document id, so every member of a
    * duplicate cluster lands in the SAME split. Splitting by document id
    * leaks: near-copies of a training document sit in the eval set and
    * the eval score measures memorization. Zero cross-split clusters holds
    * by construction — split is a pure function of the component.
    *
    * `components` is (node, component) from [[Dedup.connectedComponents]]
    * over the near-dup pair stream; unpaired documents are their own
    * singleton cluster (component = id via the left-join coalesce). Same
    * reduce-first multiplicative hash as [[trainValTestSplit]] — overflow-
    * free over the whole long domain. Output: per-split doc count, cluster
    * count, and char volume. */
  def clusterSafeSplit(docs: DataFrame, idCol: String, sizeCol: String,
                       components: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val withComp = docs
      .join(components, docs(idCol) === components("node"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("__comp"),
        col(sizeCol))
      // precondition enforced in-plan (same discipline as triangleCounts):
      // the cell hash uses Spark's pmod, whose non-negative result diverges
      // from sign-preserving % engines (DuckDB, Java) for NEGATIVE ids — a
      // negative component would split differently under the q138 oracle,
      // so fail loudly instead of silently disagreeing
      .filter(when(col("__comp") >= 0, lit(true)).otherwise(raise_error(
        lit("clusterSafeSplit: cluster/doc ids must be non-negative " +
          "(pmod cell-hash precondition)"))))
    withComp
      .withColumn("split", splitOf(col("__comp"), trainPct, valPct))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__comp")).as("n_clusters"),
        sum(col(sizeCol)).as("total_chars"))
  }

  /** Sliding-window document chunking — long documents become overlapping
    * token windows of `chunkSize` tokens advancing by `stride` (overlap =
    * chunkSize − stride), the standard context-window prep for embedding
    * and pretraining pipelines (each chunk fits the model; the overlap keeps
    * boundary sentences in at least one chunk whole).
    *
    * Entirely map-side: tokenize → `sequence` of window starts → `transform`
    * + `slice` builds every window from the ONE token array → `posexplode`.
    * No shuffle, no UDF — a 100 TB corpus chunks in a single scan and the
    * fan-out (×docTokens/stride rows) happens after column pruning, so only
    * (id, chunk) width ever materializes. Window count = ceil(n/stride):
    * every token is covered, the final windows may run short.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need chunkSize >= stride > 0, got chunkSize=$chunkSize stride=$stride")
    // token count comes from the SLICE length, not a re-tokenization of the
    // joined string — the two differ on pathological inputs (consecutive
    // separators make empty tokens) and slice length is the contract
    val windows = expr(
      s"""transform(
         |  sequence(0, greatest(cast(ceil(size(__tk) / $stride.0) as int) - 1, 0)),
         |  i -> struct(
         |    concat_ws(' ', slice(__tk, i * $stride + 1, $chunkSize)) AS chunk,
         |    cast(size(slice(__tk, i * $stride + 1, $chunkSize)) as bigint) AS chunk_tokens))""".stripMargin)
    docs
      .withColumn("__tk", split(col(textCol), " "))
      .select(col(idCol), posexplode(windows).as(Seq("__pos", "__w")))
      .select(col(idCol), col("__pos").cast("long").as("chunk_id"),
        col("__w.chunk").as("chunk"), col("__w.chunk_tokens").as("chunk_tokens"))
  }

  /** Systematic (every-k-th) sample in an explicit total order — the
    * eval-slice selector whose coverage is UNIFORM across the order
    * dimension by construction (a hash sample can cluster; this can't).
    * Picks ranks ≡ 1 (mod k). Deterministic and engine-independent: the
    * rank is [[TwoPhase.globalRank]] over the caller's (unique) order —
    * no single-partition window at any size.
    *
    * Returns the sampled rows with their 1-based global rank. */
  def systematicSample(df: DataFrame, orderCols: Seq[String], k: Int): DataFrame = {
    require(orderCols.nonEmpty && k >= 2, s"need an order and k >= 2, got k=$k")
    val (ranked, _) = TwoPhase.globalRank(df, col(orderCols.head),
      orderCols.map(col), "__rank")
    ranked
      .filter(pmod(col("__rank"), lit(k.toLong)) === 1)
      .withColumnRenamed("__rank", "rank")
  }

  /** Curation funnel: how many documents survive each successive filter
    * stage of a pretraining cleaning recipe — the per-run dashboard row
    * that tells you WHICH stage ate the corpus when volume drops. Stages
    * are cumulative conjunctions (each row passes all previous gates):
    * length band → allowed language → minimum tokens → alpha ratio.
    * One aggregate pass over raw rows (conditional exact counts), then a
    * constant-size `stack` unpivot; shares are 4-dp display.
    *
    * Scale shape: one scan, one 1-row aggregate, zero joins/windows. */
  def curationFunnel(docs: DataFrame, textCol: String, langCol: String,
                     nCharsCol: String): DataFrame = {
    val c1 = col(nCharsCol).between(100, 500)
    val c2 = c1 && col(langCol).isin("en", "es", "de")
    val c3 = c2 &&
      (size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))) >= 20)
    val c4 = c3 && (length(regexp_replace(lower(col(textCol)), "[^a-z]", "")) *
      10 >= length(col(textCol)) * 4)
    docs
      .agg(count(lit(1)).as("s0"),
        sum(when(c1, 1L).otherwise(0L)).as("s1"),
        sum(when(c2, 1L).otherwise(0L)).as("s2"),
        sum(when(c3, 1L).otherwise(0L)).as("s3"),
        sum(when(c4, 1L).otherwise(0L)).as("s4"))
      .select(col("s0"), expr(
        "stack(5, 0L, 'total', s0, 1L, 'length', s1, 2L, 'lang', s2, " +
          "3L, 'tokens', s3, 4L, 'alpha', s4) AS (stage_idx, stage, n)"))
      .select(col("stage_idx").cast("long").as("stage_idx"), col("stage"),
        col("n").cast("long").as("n"),
        Num.roundz(col("n").cast("double") / col("s0").cast("double"), 4).as("share"))
  }

  /** Concat-and-chunk sequence-packing audit — the "what does naive packing
    * cost" readout a pretraining data pipeline reads before choosing a
    * packing strategy: documents are concatenated in id order and split
    * into fixed `capacity`-token context windows (the standard packing
    * shape), and a document whose token span straddles a window boundary
    * either leaks attention across documents or gets split mid-text —
    * straddle_bp IS the contamination rate of naive packing; tail_waste_bp
    * is the padding cost of the final partial window. Zero-token docs
    * occupy no span and are excluded (both engines).
    *
    * Exactness: token counts are exact ints ([[TextAnalysis.tokenCount]],
    * the codegen'd expression); offsets come from [[TwoPhase.prefixSum]]
    * (bit-identical to the single-partition window, without one); all
    * ratios are floor basis points — no float anywhere.
    *
    * Scale shape: one token-count scan, the two-phase global prefix sum
    * (32 parallel bins, per-bin totals are driver metadata), one final
    * aggregate to a single row. No single-partition window, no join. */
  def sequencePackStats(docs: DataFrame, idCol: String, textCol: String,
                        capacity: Long): DataFrame = {
    require(capacity > 0, "sequencePackStats: capacity must be positive")
    val toks = docs
      .select(col(idCol).as("__id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("__t"))
      .filter(col("__t") > 0)
    val (spans, total) = TwoPhase.prefixSum(
      toks, col("__id"), Seq(col("__id")), col("__t"), "__end")
    val nChunks = (total + capacity - 1) / capacity
    // a fully-empty corpus yields the zero row rather than dividing by zero
    val waste =
      if (nChunks == 0) 0L
      else (10000L * (nChunks * capacity - total)) / (nChunks * capacity)
    spans
      .agg(count(lit(1)).as("__n"),
        coalesce(sum(when(expr(s"(__end - __t) div $capacity") =!=
          expr(s"(__end - 1) div $capacity"), 1L).otherwise(0L)), lit(0L)).as("__s"))
      .select(col("__n").cast("long").as("n_docs"),
        lit(total).as("total_tokens"),
        lit(nChunks).as("n_chunks"),
        col("__s").cast("long").as("n_straddle"),
        expr("(10000 * __s) div greatest(__n, 1)").cast("long").as("straddle_bp"),
        lit(waste).as("tail_waste_bp"))
  }

  /** Data-mixing epoch plan — the per-source upsampling table behind every
    * published pretraining mixture (Pile/LLaMA-style "source × weight ×
    * epochs"): given target mix weights and a total token budget, each
    * source's target tokens are its weight share of the budget and
    * epochs_bp says how many times the available data must be repeated
    * (> 10⁴ ⇒ upsampling, the overfit-risk flag this table exists to
    * surface). Sources not in `weights` take weight 0 and drop out.
    *
    * Exactness: available tokens are exact longs; target = budget·w div
    * Σw on longs; epochs_bp = 10⁴·target div available. Scale shape: one
    * token-count aggregate to the |sources|-row metadata frame; the weight
    * table is a literal CASE — everything after the aggregate is
    * metadata-sized. */
  def mixturePlan(docs: DataFrame, sourceCol: String, textCol: String,
                  weights: Map[String, Long], totalBudget: Long): DataFrame = {
    val wSum = weights.values.sum
    require(wSum > 0, "mixturePlan: weights must sum to a positive value")
    docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__avail"))
      .withColumn("__w", weights.foldLeft(lit(0L): Column) { case (acc, (s, wt)) =>
        when(col("source") === s, lit(wt)).otherwise(acc)
      })
      .filter(col("__w") > 0 && col("__avail") > 0)
      .select(col("source"),
        col("__avail").cast("long").as("available_tokens"),
        expr(s"($totalBudget * __w) div $wSum").cast("long").as("target_tokens"),
        expr(s"(10000 * (($totalBudget * __w) div $wSum)) div __avail")
          .cast("long").as("epochs_bp"))
  }

  /** GREEDY SET COVER over a `(doc_id, tok)` pair index — coverage-
    * maximizing corpus selection (the submodular facility-location shape,
    * Wei et al. 2015). `rounds` sequential picks, each the document adding
    * the most not-yet-covered tokens (ties to the smallest doc_id); greedy
    * is (1−1/e)-optimal and inherently sequential.
    *
    * Two size-conditional strategies, bit-identical picks (CurationSpec
    * pins it):
    *
    *  - SINGLE-PASS (pair index fits [[Graph.fitsRankBroadcast]]'s byte
    *    rule): one typed Aggregator gathers the per-doc token sets —
    *    map-side partial per partition, one merge — and its `finish` runs
    *    the whole greedy walk inside that final reduce task. The entire
    *    cover is 2 jobs (the sizing count + the aggregate) instead of
    *    `rounds` argmax collects EACH of which re-scanned the pair index
    *    behind an anti-join plus a localCheckpoint of the covered set
    *    (~2·rounds driver-sequential jobs, 10 full passes for 10 rounds).
    *    The walk's state is the pair index in one task's heap — exactly
    *    the memory class the byte rule already guards for broadcasts.
    *
    *  - ITERATIVE (beyond the byte budget): the round-17 shape — per round
    *    one aggregate over the pair index with the covered vocabulary as a
    *    broadcast anti-join, argmax as a 1-row metadata collect. The
    *    covered set is a DRIVER/BROADCAST bound, not a data-scale bound:
    *    the loop fails loudly the moment the accumulated vocabulary would
    *    exceed `maxCoveredRows` (the requireQueryBatch discipline).
    *
    * Precondition: `pairs` is materialized (e.g. `localCheckpoint`ed). The
    * sizing `pairs.count()` and the chosen strategy each scan it, so an
    * unmaterialized derivation would be computed again by every scan. q416,
    * the one product caller, passes a localCheckpointed frame.
    */
  def greedySetCover(spark: org.apache.spark.sql.SparkSession,
                     pairs: DataFrame, rounds: Int,
                     maxCoveredRows: Long = 2000000L): DataFrame = {
    import spark.implicits._
    val onePass =
      Graph.fitsRankBroadcast(pairs.count(), pairs.schema.map(_.dataType): _*)
    val picksDf =
      if (onePass) {
        val agg = new GreedyCoverAggregator(rounds, maxCoveredRows)
        pairs.select(col("doc_id").cast("long"), col("tok").cast("string"))
          .as[(Long, String)]
          .select(agg.toColumn) // typed select — the aggregator column
          .toDF("picks")
          .select(explode(col("picks")).as("p"))
          .select(col("p._1").as("step"), col("p._2").as("doc_id"),
            col("p._3").as("gain"))
      } else {
        var covered = spark.emptyDataset[String].toDF("tok")
        var coveredN = 0L
        val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        (1 to rounds).foreach { step =>
          val gain = pairs.join(broadcast(covered), Seq("tok"), "left_anti")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("g"))
            .orderBy(col("g").desc, col("doc_id")).limit(1)
            .collect() // 1 metadata row per round — the greedy argmax
          if (gain.nonEmpty && gain(0).getLong(1) > 0) {
            val (d, g) = (gain(0).getLong(0), gain(0).getLong(1))
            coveredN += g
            require(coveredN <= maxCoveredRows,
              s"greedySetCover: covered vocabulary would reach $coveredN rows " +
                s"(> maxCoveredRows=$maxCoveredRows) at round $step — the " +
                "per-round anti-join broadcasts the covered set; lower rounds " +
                "or raise maxCoveredRows explicitly")
            picks += ((step.toLong, d, g))
            covered = covered.unionByName(
              pairs.filter(col("doc_id") === d).select(col("tok"))).distinct()
              .localCheckpoint()
          }
        }
        picks.toSeq.toDF("step", "doc_id", "gain")
      }
    picksDf
      .withColumn("covered_total",
        sum(col("gain")).over(Window.orderBy("step")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("step")
  }

  /** [[greedySetCover]]'s single-pass engine: buffer = doc → token set,
    * `finish` = the exact greedy walk (argmax by uncovered-token count,
    * ties to the smallest doc_id, stop when nothing new is coverable) —
    * the same picks the iterative anti-join loop produces, computed inside
    * the final reduce task instead of `rounds` driver-coordinated jobs. */
  private final class GreedyCoverAggregator(rounds: Int, maxCoveredRows: Long)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, String),
        scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashSet[String]],
        Seq[(Long, Long, Long)]] {
    type Buf = scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashSet[String]]
    def zero: Buf = new Buf
    def reduce(b: Buf, a: (Long, String)): Buf = {
      b.getOrElseUpdate(a._1, new scala.collection.mutable.HashSet) += a._2
      b
    }
    def merge(b1: Buf, b2: Buf): Buf = {
      val (big, small) = if (b1.size >= b2.size) (b1, b2) else (b2, b1)
      small.foreach { case (d, s) =>
        big.getOrElseUpdate(d, new scala.collection.mutable.HashSet) ++= s
      }
      big
    }
    def finish(m: Buf): Seq[(Long, Long, Long)] = {
      val covered = new scala.collection.mutable.HashSet[String]
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var coveredN = 0L
      var step = 1
      var exhausted = false
      while (step <= rounds && !exhausted) {
        var bestDoc = Long.MaxValue
        var bestGain = 0L
        m.foreach { case (d, toks) =>
          var g = 0L
          toks.foreach(t => if (!covered.contains(t)) g += 1)
          if (g > bestGain || (g == bestGain && g > 0 && d < bestDoc)) {
            bestGain = g; bestDoc = d
          }
        }
        if (bestGain <= 0) exhausted = true
        else {
          coveredN += bestGain
          require(coveredN <= maxCoveredRows,
            s"greedySetCover: covered vocabulary would reach $coveredN rows " +
              s"(> maxCoveredRows=$maxCoveredRows) at round $step — lower " +
              "rounds or raise maxCoveredRows explicitly")
          picks += ((step.toLong, bestDoc, bestGain))
          m(bestDoc).foreach(covered += _)
          step += 1
        }
      }
      picks.toSeq
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.Encoders.kryo[Buf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
