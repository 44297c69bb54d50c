package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language-ID heuristic, per-language corpus stats. (SURVEY.md
  * §2.10 q47 + north-star extensions; the reference's README.md:13 claims
  * language handling but ships no classifier — we provide a real heuristic.)
  *
  * All pure codegen'd expressions — a 100 TB corpus pass is a single scan
  * with no shuffle until the final (tiny) per-language aggregate.
  */
object TextAnalysis {

  /** Whitespace token count, robust to empty/null text (counts `\S+` runs —
    * avoids split's empty-string artifacts). Native byte-loop Expression
    * ([[graft.functions.TokenCount]]) instead of `regexp_count`: same count,
    * no per-char regex engine in the hot path. */
  def tokenCount(c: Column): Column =
    coalesce(graft.functions.TokenCount(c), lit(0)).cast("long")

  /** BPE-ish subword proxy count: alpha runs + digit runs + isolated symbols.
    * A cheap, deterministic stand-in for tokenizer cost estimation. Native
    * byte-loop twin of `regexp_count(c, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")`
    * — parity spec-asserted incl. multi-byte symbols. */
  def bpeishTokenCount(c: Column): Column =
    coalesce(graft.functions.BpeishCount(c), lit(0)).cast("long")

  /** Stopword-list language scores → predicted language. N-gram/stopword
    * heuristic: count hits from tiny per-language marker lists, argmax with
    * deterministic tie-break order (en, de, es, fr). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "ist", "das"),
    "es" -> Seq("el", "los", "es", "una", "que"),
    "fr" -> Seq("le", "les", "est", "une", "dans"))

  def langScore(c: Column, lang: String): Column =
    regexp_count(lower(c), lit("\\b(" + langMarkers(lang).mkString("|") + ")\\b"))

  def langId(c: Column): Column = {
    val langs = Seq("en", "de", "es", "fr")
    val scores = langs.map(l => langScore(c, l))
    val best = greatest(scores: _*)
    // first language (in fixed order) achieving the max; 'und' if no hits
    langs.zip(scores).foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }
  // NOTE (measured, not assumed): although the argmax REFERENCES each
  // language score ~5x, whole-stage codegen's subexpression elimination
  // already evaluates each regexp scan once per row — a Generate-barrier
  // rewrite (explode of a single-element struct) that forced one evaluation
  // was built, measured 1.7x SLOWER at the 10x slice (struct + Generate
  // overhead, no scans saved), and reverted. q50's 10x scaling is exactly
  // linear (0.62 s -> 6.2 s), i.e. the cost is the intrinsic regexp work.

  /** Quality score in [0,1]: blend of length band, alpha ratio, stopword
    * presence, and repetition penalty — the usual pretraining heuristics,
    * deterministic and expression-only. */
  def qualityScore(c: Column): Column = {
    val len = length(c).cast("double")
    val toks = tokenCount(c).cast("double")
    val alpha = coalesce(regexp_count(c, lit("[A-Za-z]")), lit(0)).cast("double")
    val stop = langScore(c, "en").cast("double")
    val lenScore = when(len >= 100 && len <= 10000, 1.0)
      .when(len >= 20, 0.5).otherwise(0.0)
    val alphaRatio = when(len > 0, alpha / len).otherwise(0.0)
    val stopScore = when(toks > 0, least(stop / toks * lit(5.0), lit(1.0))).otherwise(0.0)
    Num.roundz(lenScore * 0.4 + alphaRatio * 0.3 + stopScore * 0.3, 4)
  }

  /** Per-language corpus stats (q47): docs, token volume, char stats. */
  def corpusStats(docs: DataFrame, langCol: String, textCol: String): DataFrame =
    docs.groupBy(col(langCol))
      .agg(
        count(lit(1)).as("docs"),
        sum(tokenCount(col(textCol))).as("tokens"),
        Num.roundz(avg(length(col(textCol))), 2).as("avg_chars"),
        max(length(col(textCol))).cast("long").as("max_chars"))

  /** Per-document rare-token statistics — the unigram-LM-flavored quality
    * signal: how much of a document is made of corpus-rare (OOV-ish) tokens.
    * High rare ratios flag gibberish, boilerplate IDs, and encoding damage;
    * pretraining curation buckets or drops on it.
    *
    * A token is "rare" when its corpus share is below `rarePpm` parts per
    * million (scale-free: thresholds on the SHARE, not an absolute count, so
    * the same setting works at sf0.01 and at 100 TB). All outputs are exact
    * integers (counts and a floor-divided basis-point ratio) — no float
    * accumulation anywhere, so results are partition-order independent.
    *
    * Scale shape: one corpus pass builds the token frame (checkpointed —
    * the frequency agg and the probe both read it); the term-frequency
    * table is vocabulary-sized and BROADCAST back, so the corpus never
    * shuffles on `term`. For an open-vocabulary corpus whose term table
    * outgrows a broadcast, drop the hint to get a plain shuffle join and
    * the same results. The corpus token total is one scalar of metadata.
    */
  def rareTokenStats(docs: DataFrame, idCol: String, textCol: String,
                     rarePpm: Long = 1000L): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .localCheckpoint()
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    // Σcf ≡ the token count — read it straight off the checkpoint instead
    // of re-running the vocabulary aggregate a second time
    val n = toks.count()
    // rare ⇔ cf·10⁶ < n·ppm, algebraically folded to a driver-side count
    // threshold so no executor multiplies cf by 10⁶ (cf can reach ~10¹³ on
    // a 100 TB corpus — the naive form is a silent long overflow)
    val thresholdCount = if (n == 0) -1L else (n * rarePpm - 1L) / 1000000L
    val rare = col("cf") <= lit(thresholdCount)
    val stats = toks.join(broadcast(freqs), Seq("term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(rare, 1L).otherwise(0L)).as("rare_tokens"))
    // restore zero-token docs (empty/whitespace text) with explicit zeros —
    // the id frame is a column-pruned scan, not a second text pass
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("rare_tokens"), lit(0L)).as("rare_tokens"))
      .withColumn("rare_bp",
        when(col("n_tokens") > 0,
          expr("(10000 * rare_tokens) div n_tokens")).otherwise(lit(0L)))
  }

  /** Per-document token-distribution entropy (nats, 4 dp) — the
    * repetition/gibberish curation signal: near-zero entropy means the
    * document is a handful of tokens repeated (boilerplate, keyword spam),
    * entropy ≈ ln(n_tokens) means every token is unique (random-ish text);
    * pretraining curation drops or buckets both tails. H = −Σ p·ln p over
    * the doc's token frequencies.
    *
    * Determinism policy for the FLOAT sum: double addition is not
    * associative, so the per-token terms are folded in SORTED token order
    * via `aggregate()` over a `sort_array`-ed list — one canonical order
    * across engines and partitionings (the same ordered-fold discipline as
    * the q93 fingerprint). The DuckDB twin folds the identical list with
    * `list_reduce`, so both engines execute the same IEEE ops in the same
    * order. Zero-token docs are restored with explicit zeros (a column-
    * pruned id scan, not a second text pass — rareTokenStats' pattern).
    *
    * Scale shape: one explode + (id, token) hash agg, then one per-doc agg
    * whose list is |distinct tokens in the doc| — bounded by document size,
    * never corpus size; nothing global anywhere. */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stats = docs
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("tok"), col("c")))).as("__tc"),
        sum(col("c")).as("__n"))
      .select(col(idCol), col("__n").cast("long").as("n_tokens"),
        Num.roundz(negate(Num.orderedSum("__tc",
          "(CAST(t.c AS DOUBLE) / CAST(__n AS DOUBLE)) * " +
            "ln(CAST(t.c AS DOUBLE) / CAST(__n AS DOUBLE))")), 4).as("entropy"))
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** Per-document average negative log-likelihood under the corpus's own
    * unigram language model — the dependency-free stand-in for a perplexity
    * filter (CCNet/Gopher shape): avg_nll = −(Σ c_t · ln(cf_t / N)) / n_doc
    * over the doc's token frequencies, where cf is the corpus frequency and
    * N the corpus token total. Low = stereotypical text, high = rare-token
    * soup; curation drops or buckets both tails (complements q140's WITHIN-
    * doc entropy with a cross-corpus signal).
    *
    * Determinism policy: same ordered-fold discipline as tokenEntropy — the
    * per-token terms fold in sorted token order from 0.0, so both engines
    * run the same IEEE ops in the same order; the result rounds to 4 dp.
    *
    * Scale shape: one (id, token) count shuffle (checkpointed — the corpus-
    * frequency agg and the probe both read it; same barrier rationale as
    * tfIdfTopTerms); cf and N join back as BROADCASTS (vocabulary-sized and
    * 1 row), so the corpus never shuffles on `tok`; the per-doc fold list is
    * |distinct tokens in the doc| — bounded by document size. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cf = tf.groupBy(col("tok")).agg(sum(col("c")).as("cf"))
    val total = cf.agg(sum(col("cf")).as("__n"))
    val stats = tf.join(broadcast(cf), Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("tok"), col("c"), col("cf")))).as("__tc"),
        sum(col("c")).as("__nt"),
        first(col("__n")).as("__N"))
      .select(col(idCol), col("__nt").cast("long").as("n_tokens"),
        Num.roundz(negate(Num.orderedSum("__tc",
          "CAST(t.c AS DOUBLE) * ln(CAST(t.cf AS DOUBLE) / CAST(__N AS DOUBLE))"))
          / col("__nt"), 4).as("avg_nll"))
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("avg_nll"), lit(0.0)).as("avg_nll"))
  }

  /** Per-document top-k terms by TF-IDF — the classic keyword/topic signal
    * over a corpus (document fingerprinting for retrieval, dedup triage,
    * topic drift monitoring). tfidf = tf · ln((N+1)/(df+1)), smoothed so a
    * corpus-universal term scores ~0 instead of dividing by zero.
    *
    * Scale shape: one (id, term) count shuffle for TF; DF and the corpus
    * size N are tiny aggregates joined back as BROADCASTS (|vocabulary| and
    * 1 row — the fact side never reshuffles for them); the final top-k is a
    * row_number window per doc over that doc's distinct terms only. Ranking
    * uses the ROUNDED score (ties broken by term) so the ordering is
    * engine-independent: tf and df are integers, so equal (tf, df) gives
    * bit-equal scores in Spark and the DuckDB oracle. */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpoint the term-frequency frame: both the probe side and the
    // document-frequency agg read it, and without the barrier the whole
    // scan→explode→agg DAG executes once per consumer (the two exchanges
    // don't canonicalize equal, so ReuseExchange never fires). df stays a
    // two-phase groupBy (NOT a count-over-term window): stopword terms give
    // one partition ≈ |docs| rows, which a window would buffer but a partial
    // agg collapses map-side.
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("__n"))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        Num.roundz(col("tf") * log((col("__n") + lit(1.0)) / (col("df") + lit(1.0))), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rn").cast("long").as("rn"))
  }

  /** Token frequency head (Zipf curve): top-k tokens with rank and exact
    * cumulative count — the corpus-composition audit that catches template
    * boilerplate (a token head far above the Zipf line) before training.
    *
    * Scale shape: one explode + two-phase hash agg (shuffle carries (token,
    * partial count)), then TakeOrderedAndProject to k rows; the rank/cumsum
    * window runs AFTER the limit, over k rows on one partition — bounded by
    * k, not by vocabulary. Counts stay exact longs (no float shares). */
  def tokenZipf(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
    val w = Window.orderBy(col("cnt").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("rank", row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
      .withColumn("cum_cnt", sum(col("cnt")).over(w))
      .select(col("rank").cast("long").as("rank"), col("token"), col("cnt"), col("cum_cnt"))
  }

  /** Corpus bigram frequencies — the n-gram statistics pass of a training-
    * data audit (catches boilerplate and template contamination that
    * single-token counts miss). Bigrams are built map-side with a 1-indexed
    * `element_at` walk (identical indexing to the DuckDB twin's list walk),
    * exploded, then one two-phase hash agg; the shuffle carries (bigram,
    * partial count) — never documents. Ties in the top-k break on the
    * bigram string so the ranking is engine-independent. */
  def bigramCounts(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs
      .withColumn("__w", split(lower(col(textCol)), "\\s+"))
      // guard: Spark's sequence(1, 0) counts DOWN — a 1-word doc would index
      // element 0 (ANSI error). The DuckDB twin's range(1, 1) is just empty.
      .filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 1),
        i => concat(element_at(col("__w"), i), lit(" "), element_at(col("__w"), i + 1))))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(k)

  /** Inverted index: term → sorted unique posting list + document frequency.
    * The IR primitive behind decontamination probes, keyword routing, and
    * BM25-style retrieval over a training corpus.
    *
    * One token explode (map-side) and one hash aggregate on the term;
    * `collect_set` partials merge in any order and `sort_array` canonicalizes
    * after the merge, so postings are deterministic across partitionings.
    * Skew honesty: a stopword's posting list is ~|corpus| ids in ONE row —
    * at 100 TB posting lists are range-sharded ((term, doc_id bucket) keys,
    * the standard index-sharding layout) and stopwords usually dropped by a
    * df cap upstream; the single-array form here is the within-shard step. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(sort_array(collect_set(col(idCol))).as("postings"))
      .withColumn("df", size(col("postings")).cast("long"))

  /** Pointwise mutual information for adjacent token pairs — the
    * collocation detector ("new york" is a unit, "the the" is noise) used
    * for phrase mining and tokenizer-merge candidates. With unigram
    * occurrences cx over Nu tokens and bigram occurrences cb over Nb pairs,
    * pmi = ln P(x,y) − ln P(x) − ln P(y)
    *     = ln cb − ln Nb − ln cx − ln cy + 2·ln Nu,
    * evaluated term-by-term in that exact order on doubles cast from exact
    * longs (both engines run the same formula text; result rounded 4 dp).
    *
    * Scale shape: the token-array frame is checkpointed once and feeds two
    * count shuffles (unigram, bigram) with map-side combine; Nu/Nb are
    * 1-row broadcasts; the unigram vocabulary joins back as a broadcast
    * (vocab-sized, the q78 TF-IDF discipline). The `minCount` floor is
    * applied AFTER Nb is taken, so totals are scan-exact, and it bounds
    * the output to pairs a phrase miner would keep anyway. */
  def pmiBigrams(docs: DataFrame, textCol: String, minCount: Long = 25L): DataFrame = {
    val arr = docs
      .select(filter(split(lower(col(textCol)), "\\s+"),
        t => length(t) > 0).as("__w"))
      .filter(size(col("__w")) > 0)
      .localCheckpoint()
    val uni = arr.select(explode(col("__w")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nu = uni.agg(sum(col("cw")).as("__nu"))
    val bcounts = arr.filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 1),
        i => struct(element_at(col("__w"), i).as("w1"),
          element_at(col("__w"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val nb = bcounts.agg(sum(col("cb")).as("__nb"))
    bcounts.filter(col("cb") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("__c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("__c2"))), Seq("w2"))
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("cb"),
        Num.roundz(log(col("cb").cast("double")) - log(col("__nb").cast("double")) -
          log(col("__c1").cast("double")) - log(col("__c2").cast("double")) +
          lit(2.0) * log(col("__nu").cast("double")), 4).as("pmi"))
  }

  /** BM25 retrieval scoring for a fixed term set — the ranking behind the
    * decontamination / targeted-curation probes q102/q136 set up (the
    * inverted index finds WHERE a term occurs; this ranks HOW WELL each
    * doc matches a multi-term query). Okapi BM25 with k1 = 1.2, b = 0.75:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avgLen)),
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Determinism: tf/df/len/N are exact longs; every float subexpression
    * is written with the same shape the oracle uses and the per-doc sum
    * is an ordered fold over the query terms; ranking uses the ROUNDED
    * score with a doc-id tie-break (the q78 rule).
    *
    * Scale shape: doc lengths are one map-side pass; the tf explode
    * filters to the query terms BEFORE aggregating, so the (doc, term)
    * shuffle carries only matching postings; df and the corpus stats are
    * broadcasts. The rank window runs AFTER the top-k limit (q103 rule) —
    * k rows, never the corpus. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty && k >= 1, "bm25TopK: empty query or k < 1")
    val toks = docs.select(col(idCol),
      filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("__w"))
      .localCheckpoint()
    val lens = toks.select(col(idCol), size(col("__w")).cast("long").as("__len"))
    val stats = lens.agg(count(lit(1)).as("__N"), sum(col("__len")).as("__tl"))
    val tf = toks.select(col(idCol), explode(col("__w")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("tok"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("__avg", col("__tl").cast("double") / col("__N"))
      .withColumn("__idf", log(lit(1.0) +
        ((col("__N") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("__s", col("__idf") * (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("__len").cast("double") / col("__avg")))))
    val perDoc = scored.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("tok"), col("__s")))).as("__t"))
      .select(col(idCol), Num.roundz(Num.orderedSum("__t", "t.__s"), 4)
        .as("bm25"))
      .orderBy(col("bm25").desc, col(idCol)).limit(k)
    perDoc.withColumn("rank",
      row_number().over(Window.orderBy(col("bm25").desc, col(idCol))).cast("long"))
  }

  /** Interpolated bigram language-model scoring — [[unigramLogProb]]'s
    * context-aware upgrade: each document's average negative log-likelihood
    * under p(b|a) = λ·cf₂(a,b)/cf₁(a) + (1−λ)·cf(b)/N, the Jelinek–Mercer
    * mixture every n-gram quality filter uses (unseen bigrams back off to
    * the unigram floor, so no document scores −∞). λ in basis points.
    *
    * Scale shape: bigrams derive MAP-SIDE from the token array (a
    * positional transform — never a positional self-join); one
    * (doc, a, b) count shuffle, checkpointed because the corpus bigram
    * table derives from it; the bigram-vocabulary join keys on (a, b)
    * hash (too big to assume broadcastable — AQE may still choose to);
    * unigram margins and the corpus total re-join as broadcasts; the
    * per-doc fold runs over that doc's DISTINCT bigrams. */
  /** Write-once LM score table: [[bigramLogProb]] persisted once per
    * (input, params) per JVM and served as a parquet scan to every
    * consumer — the CCNet shape (quality/LM scores are materialized once
    * per corpus snapshot; the ranker, the bucket split, and every ad-hoc
    * analysis read the SAME scored table instead of re-running the LM).
    * q204 reads the scores, q218 ranks them into buckets; re-deriving per
    * consumer is one full token pass each. Same guard discipline as
    * [[graft.ops.Dedup.componentIndex]] ([[graft.storage.Materialize]]). */
  def bigramLogProbIndex(docs: DataFrame, idCol: String, textCol: String,
                         indexDir: String, lambdaBp: Int = 7000): DataFrame = {
    graft.storage.Materialize.once(indexDir, docs) {
      bigramLogProb(docs, idCol, textCol, lambdaBp).write.parquet(indexDir)
    }
    docs.sparkSession.read.parquet(indexDir)
  }

  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambdaBp: Int = 7000): DataFrame = {
    require(lambdaBp > 0 && lambdaBp < 10000, s"lambdaBp out of (0,10000): $lambdaBp")
    val lam = lambdaBp / 10000.0
    val ilam = 1.0 - lam
    val withArr = docs.select(col(idCol),
      expr(s"filter(split(lower($textCol), '\\\\s+'), t -> length(t) > 0)").as("__tk"))
    // sequence() DESCENDS when start > stop, so the < 2-token case must be
    // guarded to an empty array, not sequence(0, -1)
    val bi = withArr
      .select(col(idCol), explode(expr(
        "CASE WHEN size(__tk) >= 2 THEN " +
          "transform(sequence(0, size(__tk) - 2), i -> struct(__tk[i] AS a, __tk[i + 1] AS b)) " +
          "ELSE array() END")).as("__bg"))
      .select(col(idCol), col("__bg.a").as("a"), col("__bg.b").as("b"))
    val dbc = bi.groupBy(col(idCol), col("a"), col("b"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val cf2 = dbc.groupBy(col("a"), col("b")).agg(sum(col("c")).as("cf2"))
    val cf1 = cf2.groupBy(col("a")).agg(sum(col("cf2")).as("cf1"))
    val tok = withArr.select(explode(col("__tk")).as("t"))
    val cfu = tok.groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val total = tok.agg(count(lit(1)).as("__N"))
    val stats = dbc
      .join(cf2, Seq("a", "b"))
      .join(broadcast(cf1), Seq("a"))
      .join(broadcast(cfu.select(col("t").as("b"), col("cu"))), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("a"), col("b"), col("c"),
        (col("c").cast("double") * log(
          lit(lam) * (col("cf2").cast("double") / col("cf1").cast("double")) +
            lit(ilam) * (col("cu").cast("double") / col("__N").cast("double"))))
          .as("term"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("__nb"),
        sort_array(collect_list(struct(col("a"), col("b"), col("term")))).as("__t"))
      .select(col(idCol), col("__nb").cast("long").as("n_bigrams"),
        Num.roundz(negate(Num.orderedSum("__t", "t.term"))
          / col("__nb"), 4).as("avg_nll"))
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_nll"), lit(0.0)).as("avg_nll"))
  }

  /** Reciprocal-rank fusion of N rank lists — the standard way to merge
    * heterogeneous retrieval signals (BM25, embedding ANN, recency) without
    * score calibration: rrf(d) = Σᵢ 1/(k + rankᵢ(d)), an absent list
    * contributing 0. Ranks are exact integers, so the only floats are the
    * N fixed-order reciprocal terms — identical expression text on the
    * oracle side; the fused rank orders by the ROUNDED score (then id),
    * the q178 discipline.
    *
    * Scale shape: inputs are already top-k lists, so everything here —
    * the full-outer id joins, the single-partition rank window — runs on
    * ≤ N·k rows of metadata. The heavy lifting happened upstream in
    * whatever produced the lists. */
  def rrfFusion(rankings: Seq[DataFrame], idCol: String, rankCol: String,
                k: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankings.size >= 2, "rrfFusion needs at least two rank lists")
    val tagged = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col(rankCol).cast("long").as(s"rank_$i"))
    }
    val joined = tagged.reduce((l, r) => l.join(r, Seq(idCol), "full_outer"))
    val score = tagged.indices
      .map(i => coalesce(lit(1.0) / (lit(k.toDouble) + col(s"rank_$i")), lit(0.0)))
      .reduce(_ + _)
    joined
      .withColumn("rrf", Num.roundz(score, 4))
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col(idCol))).cast("long"))
  }

  /** Top-k distinctive terms per group by smoothed log-odds against the
    * rest of the corpus — the "what makes this source/slice different"
    * profile (the additive-smoothing core of Monroe et al.'s weighted
    * log-odds): score = ln((y+1)/(nG−y+1)) − ln((yR+1)/(nR−yR+1)) with
    * yR/nR the term's and group's complements. All counts exact longs;
    * the score is per-row double arithmetic with identical formula text
    * in the oracle, ranked (score desc, term) for a total order.
    *
    * Scale shape: tokens reduce map-side to the (group, term) frame; the
    * margins are one broadcast (groups) and one key-hash join (term
    * totals, vocabulary-sized). The rank window partitions by group over
    * the AGGREGATED term frame — q78's discipline, never raw tokens. */
  def logOddsTerms(docs: DataFrame, groupCol: String, textCol: String,
                   k: Int = 5): DataFrame = {
    val tok = docs.select(col(groupCol).as("__g"),
        explode(split(lower(col(textCol)), "\\s+")).as("__t"))
      .filter(length(col("__t")) > 0)
    val yst = tok.groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("__y"))
    val ns = yst.groupBy(col("__g")).agg(sum("__y").as("__ns"))
    val yt = yst.groupBy(col("__t")).agg(sum("__y").as("__yt"))
    val n1 = yst.agg(sum("__y").as("__n"))
    val score =
      log((col("__y") + 1).cast("double") /
          (col("__ns") - col("__y") + 1).cast("double")) -
      log((col("__yt") - col("__y") + 1).cast("double") /
          ((col("__n") - col("__ns")) - (col("__yt") - col("__y")) + 1).cast("double"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__score").desc, col("__t"))
    yst
      .join(broadcast(ns), Seq("__g"))
      .join(yt, Seq("__t"))
      .crossJoin(broadcast(n1))
      .withColumn("__score", score)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("__g").as(groupCol), col("__t").as("term"),
        col("__y").cast("long").as("y"), col("__rn").cast("long").as("rank"),
        Num.roundz(col("__score"), 4).as("log_odds"))
  }

  /** Multinomial Naive Bayes text classifier, trained AND scored entirely
    * in-engine — the fastText-shaped supervised gate every curation
    * pipeline eventually grows (language routing, quality tiers, topic
    * allow-lists) once the q50-style heuristics run out. Train split →
    * per-class Laplace-smoothed token log-likelihoods; score split →
    * argmax_class [ ln P(class) + Σ_tok c·ln P(tok|class) ].
    *
    * Determinism discipline (the q224 ADC pattern, not the q148 fold):
    * each ln is evaluated ONCE per (term, class) cell and quantized to an
    * exact MICRO-NAT long — lw = round(ln((c+1)/(n_class+V))·10⁶) — so
    * every per-document score is a pure integer sum (order-free, no float
    * accumulation anywhere) and the argmax is exact. Ties break to the
    * greatest label via one struct-max aggregate (no window). Score-split
    * tokens absent from the training vocabulary drop out in the weight
    * join (standard NB OOV handling; identical inner-join semantics in the
    * oracle); a document with NO in-vocabulary token leaves the output in
    * both engines.
    *
    * Scale shape: one (class, term) count shuffle over the train split
    * (map-side combined, checkpointed — class totals and the vocabulary
    * both derive from it); the weight table is |V|·|classes| METADATA rows
    * built from domain-sized joins; scoring reshuffles the score split
    * once on term (the weight side is vocabulary-sized — broadcast when it
    * fits, hash-join keyed on term when a 100 TB corpus's vocabulary
    * doesn't), then once on (doc, class). Priors are a |classes|-row
    * broadcast. No window, no cartesian, no driver data. */
  def naiveBayes(train: DataFrame, scoreDocs: DataFrame, idCol: String,
                 textCol: String, labelCol: String): DataFrame = {
    def toks(df: DataFrame, keep: Column*): DataFrame = df
      .select(keep :+ explode(split(lower(col(textCol)), "\\s+")).as("__t"): _*)
      .filter(length(col("__t")) > 0)
    val ctc = toks(train, col(labelCol).as("__lab"))
      .groupBy(col("__lab"), col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false)
    val classTot = ctc.groupBy(col("__lab")).agg(sum(col("__c")).as("__n"))
    val vocab = ctc.select(col("__t")).distinct()
    val vsize = ctc.agg(countDistinct(col("__t")).as("__V"))
    val weights = vocab
      .crossJoin(broadcast(classTot))
      .crossJoin(broadcast(vsize))
      .join(ctc, Seq("__t", "__lab"), "left")
      .select(col("__t"), col("__lab"),
        round(log((coalesce(col("__c"), lit(0L)) + lit(1L)).cast("double") /
          (col("__n") + col("__V")).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("__lw"))
    val classDocs = train.groupBy(col(labelCol).as("__lab"))
      .agg(count(lit(1)).as("__cd"))
    val totDocs = train.agg(count(lit(1)).as("__td"))
    val priors = classDocs.crossJoin(broadcast(totDocs))
      .select(col("__lab"),
        round(log(col("__cd").cast("double") / col("__td").cast("double")) *
          lit(1000000.0), 0).cast("long").as("__pm"))
    val stf = toks(scoreDocs, col(idCol))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
    val scores = stf.join(weights, Seq("__t"))
      .groupBy(col(idCol), col("__lab"))
      .agg(sum(col("__c") * col("__lw")).as("__s"))
      .join(broadcast(priors), Seq("__lab"))
      .select(col(idCol), col("__lab"), (col("__pm") + col("__s")).as("__score"))
    scores
      .groupBy(col(idCol))
      .agg(max(struct(col("__score"), col("__lab"))).as("__best"))
      .join(scoreDocs.select(col(idCol), col(labelCol).as("__actual")), Seq(idCol))
      .select(col(idCol),
        col("__best.__lab").as("pred_label"),
        col("__best.__score").cast("long").as("score_micro"),
        (col("__best.__lab") === col("__actual")).as("hit"))
  }

  /** Flesch Reading Ease score per document — the classic readability
    * proxy a curation pipeline uses alongside q51's surface-quality score
    * (length/punctuation ratios say "well-formed", Flesch says "simple
    * enough / complex enough" for the target training mix).
    *
    * Counts are exact integers from codegen'd regexp extraction:
    * words = \S+ runs, sentences = [.!?]+ runs (floored at 1 so headline
    * fragments don't divide by zero), syllables = vowel groups
    * ([aeiouy]+, the standard dictionary-free approximation, floored at
    * 1). The score 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words) is per-row double arithmetic over those exact
    * ints, 4-dp display — identical formula text in the oracle.
    *
    * Scale shape: one projection over one scan — no shuffle at all. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
      .cast("long")
    val sentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
      .cast("long")
    val syllables = greatest(
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0))),
      lit(1)).cast("long")
    docs.select(col(idCol), words.as("words"), sentences.as("sentences"),
      syllables.as("syllables"),
      when(words > 0, Num.roundz(
        lit(206.835) -
          lit(1.015) * words.cast("double") / sentences.cast("double") -
          lit(84.6) * syllables.cast("double") / words.cast("double"), 4))
        .as("flesch"))
  }
}
