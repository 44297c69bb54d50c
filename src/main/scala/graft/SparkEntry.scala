package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal
import graft.storage.Materialize
import graft.storage.Materialize.scratch

/** Driver contract (SURVEY.md §2 operator inventory → runnable queries).
  *
  * Every key returns a DETERMINISTIC DataFrame over the testdata in `dir`
  * (total ordering, no wall-clock, explicit aliases), and — where the
  * semantics are ANSI-SQL-expressible — has a DuckDB oracle in [[oracleSql]]
  * with matching column names/types. Determinism rules: SURVEY.md §7.6.
  */
object SparkEntry {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The SHARED co-purchase edge table: the full-history lineitem
    * co-occurrence graph materialized once per (input dir) per JVM and
    * scanned by its six consumers — q120 (PageRank), q125 (triangles),
    * q185 (clustering coeff), q191 (k-core), q201 (BFS), q237
    * (personalized PR). q226 is NOT a consumer: its edges come from a
    * time-windowed relation by design. See [[Graph.coOccurrenceEdgeIndex]]. */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    Graph.coOccurrenceEdgeIndex(T(s, dir, "lineitem"), "l_partkey", "l_orderkey",
      indexDir = scratch("edge_index/lineitem_part_order", dir))
  }

  /** The (node, degree) frame CO-MATERIALIZED with [[copurchaseEdges]]
    * (see [[Graph.coOccurrenceDegreeIndex]]): the seven consumers that
    * used to open with the same degree aggregate over the edge table now
    * scan |nodes| rows instead. */
  private[graft] def copurchaseDegrees(s: SparkSession, dir: String): DataFrame = {
    Graph.coOccurrenceDegreeIndex(T(s, dir, "lineitem"), "l_partkey", "l_orderkey",
      indexDir = scratch("edge_index/lineitem_part_order", dir))
  }

  /** The SHARED bigram-LM score table (q204 reads, q218 buckets): the
    * CCNet score-once shape — see [[TextAnalysis.bigramLogProbIndex]]. */
  private[graft] def lmScores(s: SparkSession, dir: String): DataFrame = {
    TextAnalysis.bigramLogProbIndex(T(s, dir, "documents"), "doc_id", "text",
      indexDir = scratch("lm_scores/bigram_l7000", dir))
  }

  /** The SHARED near-dup index for the q44-parameter family: pairs +
    * components materialized once per (input dir, params) per JVM and read
    * back as parquet by every consumer — q77 (canonicalization), q105
    * (representatives), q138 (leakage-safe split), q250 (modularity), q255
    * (funnel) all join this instead of each re-running the full
    * shingles → signatures → banded-join → components derivation (five
    * corpus passes at 100 TB; one here). See [[Dedup.componentIndex]]. */
  /** The SHARED exact mutual-kNN pair table (reciprocal top-1 cosine over
    * the even/odd embedding split, bp-quantized cosines): q412 emits it
    * directly; q417 measures the IVF curve's recall against it. It is the
    * expensive exact yardstick (two broadcast-queries corpus passes), so it
    * materializes once per (dir) per JVM — the dedupIndex/copurchaseEdges
    * convention, and the round-14 verdict's "reuse q412's exact pairs"
    * (item 3). */
  private[graft] def mutualKnnExactIndex(s: SparkSession, dir: String): DataFrame = {
    val idxDir = scratch("mutual_knn/top1", dir)
    Materialize.once(idxDir, T(s, dir, "embeddings")) {
      mutualKnnExactPairs(s, dir).write.parquet(idxDir)
    }
    s.read.parquet(idxDir)
  }

  /** [[mutualKnnExactIndex]]'s build pipeline (exposed for PlanSpec: the
    * index read path hides the broadcast-queries shape the build relies
    * on). */
  private[graft] def mutualKnnExactPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val xs = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 2000)
    val ys = emb.filter(col("vec_id") % 2 === 1)
    val fwd = Similarity.cosineTopK(ys, xs, "vec_id", "embedding", 1)
      .select(col("query_id").as("x"), col("neighbor_id").as("y"),
        col("cosine"))
    val backQ = emb.join(fwd.select(col("y").as("vec_id")).distinct(),
      Seq("vec_id"))
    val bwd = Similarity.cosineTopK(xs, backQ, "vec_id", "embedding", 1)
      .select(col("query_id").as("y"), col("neighbor_id").as("bx"))
    fwd.join(bwd, Seq("y"))
      .filter(col("x") === col("bx"))
      .select(col("x"), col("y"),
        expr("CAST(round(cosine * 10000) AS BIGINT)").as("cos_bp"))
  }

  /** The eight evaluation vectors (`vec_id < 8`): the query batch the ANN
    * keys score, and the PQ keys' codebook. */
  private[graft] def evalVectors(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < 8)

  /** The ANN recall join: exact top-k `truth(query_id, neighbor_id)`
    * left-joined with the approximate top-k `approx(query_id, neighbor_id,
    * …)` renamed to (`__aq`, `__an`), so `count(__an)` counts the hits. */
  private[graft] def recallJoin(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.join(approx.select(col("query_id").as("__aq"), col("neighbor_id").as("__an")),
      col("query_id") === col("__aq") && col("neighbor_id") === col("__an"), "left")

  private[graft] def dedupIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    Dedup.componentIndex(T(s, dir, "documents"), "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25,
      indexDir = scratch("dedup_index/k2_h16_b8_t25", dir))
  }

  /** The persisted banded-signature side of [[dedupIndex]] (same artifact,
    * same write): what incremental maintenance probes (q265) instead of
    * re-banding the historical corpus. */
  private[graft] def dedupIndexBands(s: SparkSession, dir: String): DataFrame = {
    Dedup.componentIndexBands(T(s, dir, "documents"), "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 8, threshold = 0.25,
      indexDir = scratch("dedup_index/k2_h16_b8_t25", dir))
  }

  /** The top principal direction of the strided 16-dim embedding
    * projection by POWER ITERATION on the correlation matrix — q295's
    * extraction stage, shared with q299 (which projects the corpus back
    * onto the vector). The 100 TB division of labor is the point: the only
    * corpus-sized work is the one-pass moment accumulation (q288's shape);
    * extraction runs on the 16×16 metadata frame, in EXACT integer
    * arithmetic so every engine lands on the same vector — correlation
    * quantized to 1e-5 units (from exact moments, fixed op order), matvec
    * = long sums (≤16·10⁵·10⁶ ≪ 2⁶³), renormalize = sign·(|w|·10⁶ div
    * max|w|), where abs keeps the integer division non-negative so Spark's
    * `div` (trunc) and DuckDB's `//` (floor) agree. 8 fixed iterations (no
    * float convergence test to disagree on); sign pinned by the all-ones
    * start. Output: 16 rows (j int, v long micro-units, m long growth). */
  private[graft] def topPrincipalDirection(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val proj = emb.select(expr(
      "transform(sequence(0, 15), k -> CAST(round(CAST(element_at(embedding, k * 4 + 1) AS DOUBLE) * 1000000) AS BIGINT))")
      .as("p"))
    val withI = proj.select(col("p"), posexplode(col("p")).as(Seq("i", "mi")))
    val mom = withI
      .select(col("i"), col("mi"), posexplode(col("p")).as(Seq("j", "mj")))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("mi")).as("si"),
        sum(col("mj")).as("sj"), sum(col("mi") * col("mj")).as("sij"))
    val covDf = mom.select(col("i"), col("j"),
      (col("sij").cast("double") / col("n").cast("double") -
        (col("si").cast("double") / col("n").cast("double")) *
        (col("sj").cast("double") / col("n").cast("double"))).as("c"))
      .localCheckpoint()
    val varDf = covDf.filter(col("i") === col("j"))
      .select(col("i").as("__vi"), col("c").as("__v"))
    val corr = covDf
      .join(broadcast(varDf.select(col("__vi").as("i"), col("__v").as("va"))), "i")
      .join(broadcast(varDf.select(col("__vi").as("j"), col("__v").as("vb"))), "j")
      .select(col("i"), col("j"),
        expr("CAST(round(c / sqrt(va * vb) * 100000) AS BIGINT)").as("r"))
      .localCheckpoint()
    var v = s.range(0, 16).select(col("id").cast("int").as("j"),
      lit(1000000L).as("v"))
    var lastM: DataFrame = null
    (1 to 8).foreach { _ =>
      val w = corr.join(broadcast(v), "j")
        .groupBy(col("i")).agg(sum(col("r") * col("v")).as("w"))
        .localCheckpoint()
      lastM = w.agg(max(abs(col("w"))).as("m")).localCheckpoint()
      v = w.crossJoin(broadcast(lastM))
        .select(col("i").as("j"),
          (when(col("w") < 0, -1L).otherwise(1L) *
            expr("(abs(w) * 1000000) div m")).cast("long").as("v"))
        .localCheckpoint()
    }
    v.crossJoin(broadcast(lastM)).select(col("j"), col("v"), col("m"))
  }

  /** Morton interleave of the low 16 bits of `x`/`y` as plain SQL bit
    * arithmetic — the oracle-side twin of [[graft.functions.ZOrder]]
    * (generated term-by-term so both engines agree on all 32 placements). */
  private[graft] def zorderSql(x: String, y: String): String =
    (0 until 16).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")

  /** Flagship query on sf0.001 (driver smoke-checks rows > 0): top-k order
    * priorities — scan → partial/final hash agg → TakeOrderedAndProject. */
  def entry(spark: SparkSession): DataFrame =
    Relational.topKGroups(Tables.orders(spark, "/root/testdata/sf0.001"), "o_orderpriority", 10)

  // case-bucket expression shared by q36/q40 (reference threshold-ladder shape,
  // `Data Analysis/Reddit_4chan_Analysis.py:152-160`)
  private[graft] def valueBucket = when(col("value") >= 100, "high")
    .when(col("value") >= 50, "mid").otherwise(lit("low"))

  /** One registry entry: a key's name and what to look for in its plan
    * (`note`, PLANS.md's third column; `PlanSpec` asserts these in CI). */
  private[graft] sealed trait Entry {
    def name: String
    def note: String
  }

  /** A key's record in its family part: the frame it builds over an input
    * dir, and its independent DuckDB formulation. */
  private[graft] final case class Key(name: String,
      build: (SparkSession, String) => DataFrame, oracle: String,
      note: String = "") extends Entry

  /** Round-17 retirement of the six density-superlinear shapes IN PLACE
    * (r16 verdict item 1): each alias RUNS its density-scaled twin's plan —
    * same registered name, the twin's engine code and oracle — so the full
    * registry scale-benches with ZERO exclusions and a user calling any of
    * these keys at 100× gets the linear plan, not the melt. The superlinear
    * originals survive as Spec-only yardsticks: DedupSpec
    * (q127/q203/q273/q276) and RelationalSpec (q62/q394) rebuild each shape
    * inline and pin that the twin preserves
    * the semantics (exact identity for q62/q444; the documented
    * density-scaled re-statements for the rest — group-level pairs/closure
    * for q127/q203, LSH cells for q273, the production 9000 bp confirm
    * stratum for q276, density-derived radius for q394). An alias with its
    * own `oracle` (q62's interval join) verifies against that instead of
    * its twin's. */
  private[graft] final case class Alias(name: String, twin: String,
      oracle: Option[String] = None, note: String = "") extends Entry

  /** Every registry entry, family part by family part. */
  private[graft] def registry: Seq[Entry] =
    RegistryReference.keys ++ RegistryAnalyticsGraph.keys ++ RegistryAnnDedup.keys ++
      RegistryPipelineOps.keys ++ RegistryStatsMl.keys ++ RegistryWarehouseText.keys

  /** Each entry with the record it runs: a key's own, an alias's twin. */
  private def resolved: Seq[(Entry, Key)] = {
    val entries = registry
    val byName = entries.collect { case k: Key => k.name -> k }.toMap
    entries.map {
      case k: Key => k -> k
      case a: Alias => a -> byName(a.twin)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    resolved.map { case (e, k) => e.name -> k.build }.toMap

  def oracleSql: Map[String, String] =
    resolved.map {
      case (a: Alias, k) => a.name -> a.oracle.getOrElse(k.oracle)
      case (e, k) => e.name -> k.oracle
    }.toMap

  // ------------------------------------------------------------------ oracle

  private[graft] val lexValues = Sentiment.lexicon
    .map { case (w, v) => s"('$w', ${math.round(v * 10)})" }.mkString(", ")

  /** The DuckDB twin of [[TextAnalysis.langId]] over an arbitrary string
    * expression (q50 applies it to `text`; q335 to each document half). */
  private[graft] def langCaseOn(colExpr: String): String = {
    def hits(l: String) =
      s"CAST(len(regexp_extract_all(lower($colExpr), '\\b(${TextAnalysis.langMarkers(l).mkString("|")})\\b')) AS INTEGER)"
    val best = s"greatest(${Seq("en", "de", "es", "fr").map(hits).mkString(", ")})"
    Seq("en", "de", "es", "fr")
      .map(l => s"WHEN ${hits(l)} = $best AND $best > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  private[graft] val langCase: String = langCaseOn("text")

  /** q416's oracle: the 10 greedy set-cover rounds unrolled (the bpeOracleSql
    * device — each round is the same two CTEs: argmax gain over uncovered
    * doc-token pairs, then the covered-vocabulary union). A round with
    * nothing left to cover yields an EMPTY pick CTE, which contributes no
    * row and leaves the covered set unchanged — the engine's conditional
    * append, expressed relationally. */
  /** q417's oracle: q412's exact mutual pairs as truth, then per
    * nprobe ∈ {1, 2, 4, 8} the IVF-probed mutual pairs — assignment is
    * crn = 1, probing crn ≤ nprobe over ONE shared centroid-ranking CTE —
    * and the hit count against truth. Everything is MATERIALIZED: the
    * ranking frame is referenced by all eight direction passes and an
    * inlining planner would re-evaluate it per reference. */
  private[graft] val q417Sql: String = {
    def stage(np: Int): String =
      s"""f$np AS MATERIALIZED (SELECT x, y FROM (
         |  SELECT qp.vec_id AS x, a.vec_id AS y,
         |    row_number() OVER (PARTITION BY qp.vec_id ORDER BY
         |      list_dot_product(qv.vv, av.vv) / (sqrt(list_dot_product(qv.vv, qv.vv)) * sqrt(list_dot_product(av.vv, av.vv))) DESC,
         |      a.vec_id) AS rn
         |  FROM (SELECT cr.vec_id, cr.cell FROM cr JOIN xs USING (vec_id) WHERE crn <= $np) qp
         |  JOIN ya a ON a.cell = qp.cell
         |  JOIN vecs qv ON qv.vec_id = qp.vec_id
         |  JOIN vecs av ON av.vec_id = a.vec_id) WHERE rn = 1),
         |b$np AS MATERIALIZED (SELECT y, bx FROM (
         |  SELECT qp.vec_id AS y, a.vec_id AS bx,
         |    row_number() OVER (PARTITION BY qp.vec_id ORDER BY
         |      list_dot_product(qv.vv, av.vv) / (sqrt(list_dot_product(qv.vv, qv.vv)) * sqrt(list_dot_product(av.vv, av.vv))) DESC,
         |      a.vec_id) AS rn
         |  FROM (SELECT cr.vec_id, cr.cell FROM cr
         |    JOIN (SELECT DISTINCT y FROM f$np) fy ON fy.y = cr.vec_id
         |    WHERE crn <= $np) qp
         |  JOIN xa a ON a.cell = qp.cell
         |  JOIN vecs qv ON qv.vec_id = qp.vec_id
         |  JOIN vecs av ON av.vec_id = a.vec_id) WHERE rn = 1),
         |m$np AS MATERIALIZED (SELECT f.x, f.y FROM f$np f JOIN b$np b USING (y) WHERE b.bx = f.x)""".stripMargin
    def row(np: Int): String =
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  (SELECT count(*) FROM m$np) AS n_pairs,
         |  (SELECT count(*) FROM m$np mm JOIN ex USING (x, y)) AS hits,
         |  nex.n AS n_exact,
         |  (round(CAST((SELECT count(*) FROM m$np mm JOIN ex USING (x, y)) AS DOUBLE) / greatest(nex.n, 1), 4) + 0.0) AS recall
         |FROM nex""".stripMargin
    s"""WITH vecs AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |xs AS MATERIALIZED (SELECT vec_id, vv FROM vecs WHERE vec_id % 2 = 0 AND vec_id < 2000),
       |ys AS MATERIALIZED (SELECT vec_id, vv FROM vecs WHERE vec_id % 2 = 1),
       |fs AS (SELECT x.vec_id AS x, y.vec_id AS y,
       |    list_dot_product(x.vv, y.vv) / (sqrt(list_dot_product(x.vv, x.vv)) * sqrt(list_dot_product(y.vv, y.vv))) AS cosine
       |  FROM xs x CROSS JOIN ys y),
       |fe AS MATERIALIZED (SELECT x, y FROM (SELECT x, y,
       |    row_number() OVER (PARTITION BY x ORDER BY cosine DESC, y) AS rn FROM fs)
       |  WHERE rn = 1),
       |bs AS (SELECT b.y, x.vec_id AS bx,
       |    list_dot_product(yv.vv, x.vv) / (sqrt(list_dot_product(yv.vv, yv.vv)) * sqrt(list_dot_product(x.vv, x.vv))) AS cosine
       |  FROM (SELECT DISTINCT y FROM fe) b JOIN ys yv ON yv.vec_id = b.y CROSS JOIN xs x),
       |be AS MATERIALIZED (SELECT y, bx FROM (SELECT y, bx,
       |    row_number() OVER (PARTITION BY y ORDER BY cosine DESC, bx) AS rn FROM bs)
       |  WHERE rn = 1),
       |ex AS MATERIALIZED (SELECT fe.x, fe.y FROM fe JOIN be USING (y) WHERE be.bx = fe.x),
       |nex AS MATERIALIZED (SELECT count(*) AS n FROM ex),
       |cent AS MATERIALIZED (SELECT vec_id AS cell, vv AS cv FROM vecs
       |  WHERE vec_id >= 100 AND vec_id < 116),
       |cr AS MATERIALIZED (SELECT v.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      list_dot_product(v.vv, c.cv) / (sqrt(list_dot_product(v.vv, v.vv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |      c.cell) AS crn
       |  FROM vecs v CROSS JOIN cent c),
       |ya AS MATERIALIZED (SELECT cr.vec_id, cr.cell FROM cr JOIN ys USING (vec_id) WHERE crn = 1),
       |xa AS MATERIALIZED (SELECT cr.vec_id, cr.cell FROM cr JOIN xs USING (vec_id) WHERE crn = 1),
       |${Seq(1, 2, 4, 8).map(stage).mkString(",\n")}
       |${Seq(1, 2, 4, 8).map(row).mkString("\nUNION ALL\n")}
       |ORDER BY nprobe""".stripMargin
  }

  private[graft] val q416Sql: String = {
    // AS MATERIALIZED throughout: each c_k is referenced by BOTH p_{k+1}
    // and c_{k+1}, and an inlining planner re-evaluates the whole chain
    // per reference — exponential in rounds (measured: the inlined form
    // crawls, the materialized form runs in seconds)
    val steps = (1 to 10).map { k =>
      val gain =
        if (k == 1)
          s"p1 AS MATERIALIZED (SELECT doc_id, count(*) AS g FROM pairs GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1)"
        else
          s"p$k AS MATERIALIZED (SELECT pr.doc_id, count(*) AS g FROM pairs pr LEFT JOIN c${k - 1} cv ON pr.tok = cv.tok WHERE cv.tok IS NULL GROUP BY 1 ORDER BY g DESC, pr.doc_id LIMIT 1)"
      val cover =
        if (k == 1)
          s"c1 AS MATERIALIZED (SELECT DISTINCT pr.tok FROM pairs pr JOIN p1 USING (doc_id))"
        else
          s"c$k AS MATERIALIZED (SELECT tok FROM c${k - 1} UNION SELECT pr.tok FROM pairs pr JOIN p$k USING (doc_id))"
      s"$gain,\n$cover"
    }.mkString(",\n")
    val sel = (1 to 10)
      .map(k => s"SELECT $k AS step, doc_id, g FROM p$k")
      .mkString("\nUNION ALL ")
    s"""WITH toks AS MATERIALIZED (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      t -> length(t) > 0) AS arr FROM documents),
       |pairs AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(arr)),
       |      i -> arr[i] || ' ' || arr[i + 1])) AS tok FROM toks),
       |$steps,
       |sel AS ($sel)
       |SELECT CAST(step AS BIGINT) AS step, doc_id, CAST(g AS BIGINT) AS gain,
       |  CAST(sum(g) OVER (ORDER BY step) AS BIGINT) AS covered_total
       |FROM sel ORDER BY step""".stripMargin
  }

  /** q389's oracle: the same transition tallies, then 5 chains (base + one
    * per removed channel) of 8 unrolled fixed-point steps in exact
    * millionth integer arithmetic — p' = b + ⌊Q·p/10⁶⌋, generated
    * programmatically because the recurrence is the same three lines per
    * step. A chain's state list excludes its removed channel, so the
    * p-join naturally drops transitions into it (≡ absorbing to null). */
  private[graft] val q389Sql: String = {
    val channels = Seq("click", "error", "signup", "view")
    def chain(tag: String, removed: Option[String]): String = {
      val sts = Seq("start", "view", "click", "signup", "error")
        .filterNot(removed.contains)
      val stList = sts.map(x => s"('$x')").mkString(", ")
      val b =
        s"""b_$tag AS MATERIALIZED (SELECT s.st, COALESCE(q.ps, 0) AS bm
           |  FROM (SELECT * FROM (VALUES $stList) s(st)) s
           |  LEFT JOIN q ON q.f = s.st AND q.t = 'purchase'),
           |p_${tag}_1 AS MATERIALIZED (SELECT st, CAST(bm AS BIGINT) AS v FROM b_$tag)""".stripMargin
      val steps = (2 to 8).map { k =>
        s"""p_${tag}_$k AS MATERIALIZED (SELECT b.st, CAST(b.bm + COALESCE(sum(q.ps * p.v), 0) // 1000000 AS BIGINT) AS v
           |  FROM b_$tag b LEFT JOIN q ON q.f = b.st
           |  LEFT JOIN p_${tag}_${k - 1} p ON p.st = q.t
           |  GROUP BY b.st, b.bm)""".stripMargin
      }
      (b +: steps).mkString(",\n")
    }
    val chains = (chain("base", None) +:
      channels.map(c => chain(c, Some(c)))).mkString(",\n")
    val res = channels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT v FROM p_base_8 WHERE st = 'start') AS pb,
         |  (SELECT v FROM p_${c}_8 WHERE st = 'start') AS pr""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH o AS MATERIALIZED (SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS ord
       |  FROM events WHERE user_id IS NOT NULL),
       |fp AS MATERIALIZED (SELECT user_id, min(ord) AS po FROM o
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |tr AS MATERIALIZED (SELECT o.user_id, o.event_type, o.ord FROM o
       |  LEFT JOIN fp USING (user_id) WHERE fp.po IS NULL OR o.ord <= fp.po),
       |nx AS MATERIALIZED (SELECT user_id, event_type AS f, ord,
       |    COALESCE(lead(event_type) OVER (PARTITION BY user_id ORDER BY ord),
       |      'end') AS t FROM tr),
       |tal AS MATERIALIZED (SELECT f, t, count(*) AS c FROM nx WHERE f <> 'purchase' GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'start' AS f, event_type AS t, count(*) AS c FROM tr
       |  WHERE ord = 1 GROUP BY 1, 2),
       |tot AS MATERIALIZED (SELECT f, sum(c) AS tc FROM tal GROUP BY 1),
       |q AS MATERIALIZED (SELECT tal.f, tal.t, CAST(c * 1000000 // tc AS BIGINT) AS ps
       |  FROM tal JOIN tot USING (f)),
       |$chains,
       |res AS MATERIALIZED (
       |$res),
       |sm AS MATERIALIZED (SELECT greatest(sum(pb - pr), 1) AS sd FROM res)
       |SELECT channel, pb AS p_base_ppm, pr AS p_removed_ppm,
       |  CAST(pb - pr AS BIGINT) AS diff_ppm,
       |  CAST((pb - pr) * 10000 // sm.sd AS BIGINT) AS share_bp
       |FROM res CROSS JOIN sm ORDER BY channel""".stripMargin
  }

  /** DuckDB Karp–Rabin fold of a string expression — mirrors
    * [[graft.functions.RollingHash.hash64]] byte-for-byte on ASCII corpora
    * (the testdata; unicode parity is unit-tested Spark-side). Empty → 0,
    * matching the Scala fold over zero bytes. */
  private[graft] def krSql(e: String): String =
    s"(CASE WHEN length($e) = 0 THEN CAST(0 AS BIGINT) ELSE list_reduce(" +
      s"list_transform(range(1, length($e) + 1), i -> CAST(ord(substr($e, CAST(i AS INT), 1)) AS BIGINT)), " +
      s"(a, b) -> (a * 31 + b) % 1000000007) END)"

  /** The oracle's ordered double sum: `term` folded left to right from 0.0
    * in `order` — the IEEE additions the engine's sorted-array fold
    * ([[graft.ops.Num.orderedSum]]) performs, in the same order. */
  private[graft] def orderedSumSql(term: String, order: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list($term ORDER BY $order)), (a, b) -> a + b)"

  /** q178's BM25 chain up to `top(doc_id, bm25)`, the 20 best documents
    * for the query terms join/filter/scan: idf, the length normalizer and
    * the ordered per-doc term fold, rounded to 4 dp. q189 fuses the same
    * list. */
  private[graft] val bm25TopCtes: String =
    s"""raw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |    t -> length(t) > 0) AS arr FROM documents),
       |lens AS (SELECT doc_id, len(arr) AS len FROM raw),
       |st AS (SELECT count(*) AS n, sum(len) AS tl FROM lens),
       |tok AS (SELECT doc_id, unnest(arr) AS tok FROM raw),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
       |  WHERE tok IN ('join', 'filter', 'scan') GROUP BY 1, 2),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.tok,
       |  ln(1.0 + (CAST(st.n - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * 2.2) /
       |  (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |    (CAST(lens.len AS DOUBLE) / (CAST(st.tl AS DOUBLE) / st.n)))) AS s
       |  FROM tf JOIN df USING (tok) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN st),
       |agg AS (SELECT doc_id, (round(${orderedSumSql("s", "tok")}, 4) + 0.0) AS bm25 FROM sc GROUP BY 1),
       |top AS (SELECT doc_id, bm25 FROM agg ORDER BY bm25 DESC, doc_id LIMIT 20)""".stripMargin

  /** q209's silhouette oracle: pairwise Euclidean distance via norms and a
    * dot product on the double-cast lists, quantized to the tenth-of-bp
    * integer grid before any mean, over the sample of vec_ids divisible by
    * greatest(`minMod`, |embeddings| div `per`) — the clamp the engine
    * derives. */
  private[graft] def silhouetteSql(minMod: Int, per: Int): String =
    s"""WITH s AS (SELECT vec_id AS sid, label AS sl,
       |    CAST(embedding AS DOUBLE[]) AS sv FROM embeddings
       |    WHERE vec_id % greatest($minMod, (SELECT count(*) // $per FROM embeddings)) = 0),
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
       |FROM ab WHERE a IS NOT NULL AND b IS NOT NULL ORDER BY vec_id""".stripMargin

  /** q44's shingle → Karp–Rabin → 16-hash MinHash signature chain over a
    * `corpus(<id>, text)` CTE or table: `ws`, `sh(<id>, shingle)`, `rh` and
    * `sig(<id>, h0..h15)`, generated with the same [[HashFamily]] constants
    * the Spark side uses ([[Dedup.minHashNearDup]]: shingleK=2,
    * numHashes=16), so signatures agree bit-for-bit. */
  private[graft] def minHashSigCtes(corpus: String, id: String = "doc_id"): String = {
    import graft.functions.HashFamily
    val sigCols = (0 until 16).map(i => s"min(${HashFamily.affineSql(i, "x")}) AS h$i").mkString(", ")
    s"""ws AS (SELECT $id, regexp_split_to_array(lower(text), '\\s+') AS w FROM $corpus),
       |sh AS (SELECT DISTINCT $id, w[CAST(i AS BIGINT)] || ' ' || w[CAST(i AS BIGINT) + 1] AS shingle
       |  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
       |rh AS (SELECT $id, ${krSql("shingle")} AS x FROM sh),
       |sig AS (SELECT $id, $sigCols FROM rh GROUP BY $id)""".stripMargin
  }

  /** [[minHashSigCtes]] over `corpus(doc_id, text)` plus the 8-band split
    * `banded(doc_id, band, bkey)`. The string band key (h₂ᵦ || ',' || h₂ᵦ₊₁)
    * buckets identically to the engine's injective numeric band_hash. */
  private[graft] def minHashBandCtes(corpus: String): String = {
    val bandKey = (0 until 8).map(b => s"WHEN $b THEN h${2 * b} || ',' || h${2 * b + 1}").mkString(" ")
    val bandVals = (0 until 8).map(b => s"($b)").mkString(", ")
    s"""${minHashSigCtes(corpus)},
       |banded AS (SELECT doc_id, t.band, CASE t.band $bandKey END AS bkey
       |  FROM sig, (VALUES $bandVals) AS t(band))""".stripMargin
  }

  /** Signature agreement of the pair `sig a` × `sig b`: the number of the 16
    * hashes on which the two signatures agree. */
  private[graft] val minHashAgreeSql: String =
    (0 until 16).map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** The band-collision candidates `cand(id_a, id_b)` (id_a < id_b) of a
    * [[minHashBandCtes]] chain and their signature agreement
    * `est(id_a, id_b, agree)`. */
  private[graft] val minHashPairCtes: String =
    s"""cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |est AS (SELECT id_a, id_b, ($minHashAgreeSql) AS agree
       |  FROM cand JOIN sig a ON a.doc_id = cand.id_a JOIN sig b ON b.doc_id = cand.id_b)""".stripMargin

  /** DuckDB twin of [[Dedup.minHashNearDup]] (shingleK=2, numHashes=16,
    * bands=8, threshold 0.25). */
  private[graft] val q44Sql: String =
    s"""WITH ${minHashBandCtes("documents")},
       |$minHashPairCtes
       |SELECT id_a, id_b, (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) AS est_jaccard FROM est
       |WHERE (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) >= 0.25 ORDER BY id_a, id_b""".stripMargin

  /** Connected-component labels for oracle SQL WITHOUT a recursive
    * transitive closure. The classic `conn(a, b)` CTE enumerates every
    * (node, reachable-node) pair — Σ|component|² rows; measured 454 s on
    * the sf1 replay's 161k-pair near-dup graph even with the pair list
    * pre-staged, which is why the sf1 gate could never see these keys.
    * This emits the EQUIVALENT min-label fixpoint, unrolled: each round
    * takes min over {self, neighbors' labels, label's label} — the last
    * term is POINTER JUMPING, so the label horizon grows exponentially
    * and `rounds` = 12 converges for any component diameter ≤ ~2¹².
    * Every CTE is AS MATERIALIZED: each is referenced 3× by the next
    * round and an inlining planner would re-evaluate the chain
    * exponentially (the q416 lesson). Convergence is SELF-CHECKING at the
    * gate: an unconverged label differs from the engine's star-merge
    * fixpoint and fails the value compare loudly — it can time out or
    * mismatch, never silently pass wrong.
    * Expects a symmetric `e(src, dst)` CTE in scope; emits `l0..l<rounds>`
    * with `l<rounds>(node, lab)` the converged (node, component-min). */
  private[graft] val ccRounds = 12
  private[graft] def minLabelCc(rounds: Int = ccRounds): String =
    ((s"l0 AS MATERIALIZED (SELECT src AS node, least(src, min(dst)) AS lab" +
      " FROM e GROUP BY src)") +: (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (
         |    SELECT node, lab FROM l${k - 1}
         |    UNION ALL SELECT e.src, p.lab FROM e JOIN l${k - 1} p ON p.node = e.dst
         |    UNION ALL SELECT a.node, b.lab FROM l${k - 1} a JOIN l${k - 1} b ON b.node = a.lab
         |  ) GROUP BY node)""".stripMargin
    }).mkString(",\n")

  /** q246's IVF+PQ search chain up to the ADC distances: the
    * [[ivfAssignCtes]] cells over the centroid slice [centLo, centHi), the
    * eight queries' nprobe = 2 candidates `cand(query_id, neighbor_id)`,
    * the [[pqLutCtes]] over the codebook slice [cbLo, cbHi), and
    * `sc2(query_id, neighbor_id, adist_tb)`, each candidate's summed LUT
    * distance. */
  private[graft] def ivfPqAdcCtes(centLo: Int, centHi: Int, cbLo: Int, cbHi: Int): String =
    s"""${ivfAssignCtes(centLo, centHi)},
       |qprobe AS (SELECT vec_id AS query_id, cell FROM cells
       |  WHERE vec_id < 8 AND crn <= 2),
       |cand AS (SELECT DISTINCT qp.query_id, a.vec_id AS neighbor_id
       |  FROM qprobe qp JOIN asg a ON a.cell = qp.cell
       |  WHERE a.vec_id <> qp.query_id),
       |${pqLutCtes(cbLo, cbHi)},
       |sc2 AS (SELECT l.query_id, k.vec_id AS neighbor_id,
       |    CAST(sum(l.d) AS BIGINT) AS adist_tb
       |  FROM codes k
       |  JOIN lut l ON l.sub = k.sub AND l.code = k.code
       |  JOIN cand cd ON cd.query_id = l.query_id AND cd.neighbor_id = k.vec_id
       |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2)""".stripMargin

  /** q44's pairs, in scope as `pairs(id_a, id_b)`, as the symmetric edge
    * list `e(src, dst)` that [[minLabelCc]] expects. */
  private[graft] val nearDupEdgesCte: String =
    """e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
      |      UNION SELECT id_b, id_a FROM pairs)""".stripMargin

  /** The near-dup component preamble: q44's pairs, their symmetric edges,
    * the [[minLabelCc]] rounds and `lab(<node>, component)`, the converged
    * component-min label per paired doc (`node` is the select item that
    * names the doc column, e.g. `node` or `node AS a`). */
  private[graft] def nearDupComponentCtes(node: String): String =
    s"""pairs AS MATERIALIZED ($q44Sql),
       |$nearDupEdgesCte,
       |${minLabelCc()},
       |lab AS (SELECT $node, lab AS component FROM l$ccRounds)""".stripMargin

  /** The exact-cosine top-5 truth `tr(query_id, neighbor_id)` of the eight
    * queries vec_id < 8 over `vecs(vec_id, vv)`: every other vector scored
    * (`bs`), ties to the smaller neighbor — the ANN recall keys' truth. */
  private[graft] val cosTruthCtes: String =
    """qv AS (SELECT vec_id AS query_id, vv AS qvv FROM vecs WHERE vec_id < 8),
      |bs AS (SELECT query_id, vec_id AS neighbor_id,
      |  list_dot_product(qvv, vv) / (sqrt(list_dot_product(qvv, qvv)) * sqrt(list_dot_product(vv, vv))) AS cosine
      |  FROM vecs CROSS JOIN qv WHERE vec_id <> query_id),
      |tr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      |  FROM bs) WHERE rn <= 5)""".stripMargin

  /** q45's exact-cosine scoring CTE `<name>(<cols>, cosine)` over the pairs
    * `from` yields, a query side carrying `qv` and a corpus side carrying
    * `cv` (e.g. `c CROSS JOIN q WHERE neighbor_id <> query_id`). */
  private[graft] def exactCosCte(name: String, from: String,
      cols: String = "query_id, neighbor_id"): String =
    s"""$name AS (SELECT $cols,
       |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
       |  FROM $from)""".stripMargin

  /** The cosine of two DOUBLE[] expressions. */
  private[graft] def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** IVF cosine cell ranking `<name>(<cols>, crn)`: every `vecs(vec_id, vv)`
    * row against every centroid of `<cent>(cell, cv)`, ties to the smaller
    * cell — crn = 1 is the row's cell, crn ≤ nprobe its probed cells. */
  private[graft] def ivfCellCte(name: String, cent: String,
      cols: String = "x.vec_id, c.cell"): String =
    s"""$name AS (SELECT $cols,
       |  row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |    list_dot_product(x.vv, c.cv) / (sqrt(list_dot_product(x.vv, x.vv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |    c.cell) AS crn
       |  FROM vecs x CROSS JOIN $cent c)""".stripMargin

  /** vec_id in [lo, hi). */
  private def idSlice(lo: Int, hi: Int): String =
    if (lo == 0) s"vec_id < $hi" else s"vec_id >= $lo AND vec_id < $hi"

  /** IVF cells over the centroid slice vec_id in [lo, hi) of `vecs`:
    * `cent(cell, cv)`, the [[ivfCellCte]] ranking `cells` and the
    * assignment `asg(vec_id, cell)` (crn = 1). */
  private[graft] def ivfAssignCtes(lo: Int, hi: Int): String =
    s"""cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE ${idSlice(lo, hi)}),
       |${ivfCellCte("cells", "cent")},
       |asg AS (SELECT vec_id, cell FROM cells WHERE crn = 1)""".stripMargin

  /** q58's IVF top-5 search: the first 16 vectors as centroids, the
    * corpus `asg` = the [[ivfCellCte]] rows passing `corpus` (crn = 1, the
    * assigned cell, plus any filter), the probes `q(query_id, qv, cell)`
    * read from `probes`, and cosine top-5 inside the probed cells. */
  private[graft] def ivfTopKSql(corpus: String, probes: String): String =
    s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
       |${ivfCellCte("scored", "cent", "x.vec_id, x.vv, c.cell")},
       |asg AS (SELECT vec_id, vv, cell FROM scored WHERE $corpus),
       |q AS (SELECT vec_id AS query_id, vv AS qv, cell FROM $probes),
       |s AS (SELECT q.query_id, a.vec_id AS neighbor_id,
       |  list_dot_product(q.qv, a.vv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.vv, a.vv))) AS cosine
       |  FROM q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM s)
       |SELECT query_id, neighbor_id, (round(cosine, 4) + 0.0) AS cosine, rn FROM r WHERE rn <= 5
       |ORDER BY query_id, rn""".stripMargin

  /** PQ subspace split `<name>(<keys>, sub, <out>)`: the 64-dim `<vec>`
    * of each `<src>` row as 4 sub-vectors of 16 dims. */
  private[graft] def pqSplitCte(name: String, src: String, keys: String, vec: String,
      out: String = "xs", subType: String = "BIGINT"): String =
    s"""$name AS (SELECT $keys, CAST(s.i AS $subType) AS sub,
       |    $vec[CAST(s.i * 16 + 1 AS INT) : CAST(s.i * 16 + 16 AS INT)] AS $out
       |  FROM $src, LATERAL (SELECT unnest(range(0, 4)) AS i) s)""".stripMargin

  /** [[pqSplitCte]] of `vecs(vec_id, vv)`: `subs(vec_id, sub, xs)`. */
  private[graft] val pqSubsCte: String = pqSplitCte("subs", "vecs", "vec_id", "vv")

  /** PQ codebook `cb<sfx>(code, sub, cs)`, the `<subs>` sub-vectors of
    * vec_id in [lo, hi), and the code ranking `sc<sfx>`: every
    * (vec_id, sub) against that codebook by the L2 expansion
    * x·x − 2·x·c + c·c, ties to the smaller code (rn = 1 is the code). */
  private[graft] def pqAssignCtes(lo: Int, hi: Int, sfx: String = "",
      subs: String = "subs"): String =
    s"""cb$sfx AS (SELECT vec_id AS code, sub, xs AS cs FROM $subs WHERE ${idSlice(lo, hi)}),
       |sc$sfx AS (SELECT x.vec_id, x.sub, c.code,
       |  row_number() OVER (PARTITION BY x.vec_id, x.sub ORDER BY
       |    list_dot_product(x.xs, x.xs) - 2 * list_dot_product(x.xs, c.cs)
       |      + list_dot_product(c.cs, c.cs), c.code) AS rn
       |  FROM $subs x JOIN cb$sfx c USING (sub))""".stripMargin

  /** [[pqAssignCtes]] plus `codes<sfx>(vec_id, sub, code)`. */
  private[graft] def pqCodeCtes(lo: Int, hi: Int, sfx: String = "",
      subs: String = "subs"): String =
    s"""${pqAssignCtes(lo, hi, sfx, subs)},
       |codes$sfx AS (SELECT vec_id, sub, code FROM sc$sfx WHERE rn = 1)""".stripMargin

  /** The ADC lookup table `lut<sfx>(<keys>, sub, code, d)`: per query
    * sub-vector of `<q>(…, sub, qs)` and codeword of `cb<sfx>`, the squared
    * L2 distance clamped at 0 on the 1e-5 integer grid. */
  private[graft] def pqLutCte(sfx: String = "", q: String = "q",
      keys: String = "q.query_id"): String =
    s"""lut$sfx AS (SELECT $keys, c.sub, c.code,
       |    CAST(round(greatest(list_dot_product(q.qs, q.qs)
       |      - 2 * list_dot_product(q.qs, c.cs)
       |      + list_dot_product(c.cs, c.cs), 0) * 100000) AS BIGINT) AS d
       |  FROM $q JOIN cb$sfx c USING (sub))""".stripMargin

  /** q224's PQ chain up to the ADC lookup table: [[pqSubsCte]],
    * [[pqCodeCtes]] over the codebook slice [lo, hi), the eight queries'
    * sub-vectors `q(query_id, sub, qs)` and [[pqLutCte]]. */
  private[graft] def pqLutCtes(lo: Int, hi: Int): String =
    s"""$pqSubsCte,
       |${pqCodeCtes(lo, hi)},
       |q AS (SELECT vec_id AS query_id, sub, xs AS qs FROM subs WHERE vec_id < 8),
       |${pqLutCte()}""".stripMargin

  /** q348's oracle: q44's signature/band CTEs, then per-band bucket-size
    * aggregation — the exact candidate-pair volume Σ n(n−1)/2. */
  private[graft] val q348Sql: String =
    s"""WITH ${minHashBandCtes("documents")},
       |bk AS (SELECT band, bkey, count(*) AS n FROM banded GROUP BY 1, 2)
       |SELECT CAST(band AS BIGINT) AS band, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(max(n) AS BIGINT) AS max_bucket,
       |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
       |FROM bk GROUP BY band ORDER BY band""".stripMargin

  /** Per-SOURCE sketch comparison (q293): q44's signature CTEs grouped by
    * source instead of doc, pairwise agreement on the sources frame. */
  private[graft] val q293Sql: String =
    s"""WITH ${minHashSigCtes("documents", "source")},
       |p AS (SELECT a.source AS src_a, b.source AS src_b, ($minHashAgreeSql) AS agree
       |  FROM sig a JOIN sig b ON a.source < b.source)
       |SELECT src_a, src_b, CAST(agree AS BIGINT) AS agree,
       |  (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) AS est_jaccard
       |FROM p ORDER BY src_a, src_b""".stripMargin

  /** q295's oracle: the q288 moment CTEs (both triangle halves), the same
    * 1e-5-unit correlation quantization, and 8 UNROLLED power-iteration
    * steps generated by the same loop bounds the Spark side runs — every
    * step is integer arithmetic (the `//` on non-negative abs matches
    * Spark's `div`), so the final vector matches bit-for-bit. */
  /** The shared power-iteration CTE chain ([[topPrincipalDirection]]'s
    * oracle twin): moments → 1e-5-unit correlation → 8 unrolled exact
    * integer iterations, ending at `v8` (the direction) and `m8` (the
    * growth factor). q295 reads it directly; q299 projects the corpus
    * onto `v8`. */
  private[graft] val powerIterCte: String = {
    val iters = (1 to 8).map { t =>
      val pv = if (t == 1) "v0" else s"v${t - 1}"
      s"""w$t AS (SELECT corr.i, CAST(sum(corr.r * $pv.v) AS BIGINT) AS w
         |  FROM corr JOIN $pv ON $pv.j = corr.j GROUP BY 1),
         |m$t AS (SELECT max(abs(w)) AS m FROM w$t),
         |v$t AS (SELECT w$t.i AS j,
         |  CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) * ((abs(w) * 1000000) // m$t.m) AS BIGINT) AS v
         |  FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""vecs AS (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |m AS (SELECT list_transform(range(0, 16),
       |    k -> CAST(round(vv[CAST(k * 4 + 1 AS INT)] * 1000000) AS BIGINT)) AS p FROM vecs),
       |pr AS (SELECT CAST(i.k AS BIGINT) AS i, CAST(j.k AS BIGINT) AS j,
       |    p[CAST(i.k + 1 AS INT)] AS mi, p[CAST(j.k + 1 AS INT)] AS mj
       |  FROM m, LATERAL (SELECT unnest(range(0, 16)) AS k) i,
       |    LATERAL (SELECT unnest(range(0, 16)) AS k) j),
       |c AS (SELECT i, j,
       |    CAST(sum(mi * mj) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      - (CAST(sum(mi) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |        * (CAST(sum(mj) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS c
       |  FROM pr GROUP BY 1, 2),
       |vd AS (SELECT i, c AS vc FROM c WHERE i = j),
       |corr AS (SELECT c.i, c.j,
       |    CAST(round(c.c / sqrt(va.vc * vb.vc) * 100000) AS BIGINT) AS r
       |  FROM c JOIN vd va ON va.i = c.i JOIN vd vb ON vb.i = c.j),
       |v0 AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS j, CAST(1000000 AS BIGINT) AS v),
       |$iters""".stripMargin
  }

  private[graft] val q295Sql: String =
    s"""WITH $powerIterCte
       |SELECT CAST(v8.j AS BIGINT) AS pos, v8.v AS v_micro, CAST(m8.m AS BIGINT) AS growth
       |FROM v8, m8 ORDER BY pos""".stripMargin

  /** q299's oracle: the same power-iteration direction, then the corpus
    * projection n·⟨x,u⟩ − ⟨Σx,u⟩ in exact longs (no mean division —
    * centered via the sum so there is no negative-division rounding to
    * disagree on), top 20 by |projection|. */
  private[graft] val q299Sql: String =
    s"""WITH $powerIterCte,
       |mm AS (SELECT vec_id, list_transform(range(0, 16),
       |    k -> CAST(round(vv[CAST(k * 4 + 1 AS INT)] * 1000000) AS BIGINT)) AS p
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings)),
       |ex AS (SELECT vec_id, CAST(i.k AS BIGINT) AS i, p[CAST(i.k + 1 AS INT)] AS mi
       |  FROM mm, LATERAL (SELECT unnest(range(0, 16)) AS k) i),
       |st AS (SELECT i, count(*) AS n, CAST(sum(mi) AS BIGINT) AS si FROM ex GROUP BY 1),
       |tv AS (SELECT ex.vec_id,
       |    CAST(sum((CAST(st.n AS BIGINT) * ex.mi - st.si) * v8.v) AS BIGINT) AS tn
       |  FROM ex JOIN st ON st.i = ex.i JOIN v8 ON v8.j = ex.i GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY abs(tn) DESC, vec_id) AS BIGINT) AS rk,
       |  CAST(vec_id AS BIGINT) AS vec_id, tn
       |FROM tv ORDER BY abs(tn) DESC, vec_id LIMIT 20""".stripMargin

  /** q304's oracle: the same normalize-once subvector preparation (so the
    * float op sequence — per-element cast, divide-by-norm, then a plain
    * dot — is identical on both engines), the same 16 dots, the same
    * fixed-order (((m1+m2)+m3)+m4 fold, generated by the same loop
    * bounds. */
  /** q317's batch changelog fold — latest-op-wins stated as the rank
    * window the engine's one-aggregate max(struct) replaces. Shared with
    * q339, whose streamed merge chain must land on the identical final
    * state (the incremental ≡ batch proof). */
  private[graft] val q317Sql: String =
    """WITH base AS (SELECT c_custkey,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
      |    c_mktsegment AS segment FROM customer),
      |log AS (
      |  SELECT c_custkey, 0 AS seq, 'I' AS op, cents, segment FROM base
      |  UNION ALL SELECT c_custkey, 1, 'U', cents + 1000, segment FROM base WHERE c_custkey % 7 = 0
      |  UNION ALL SELECT c_custkey, 2, 'D', cents, segment FROM base WHERE c_custkey % 10 = 0
      |  UNION ALL SELECT c_custkey, 3, 'I', 555, 'WINBACK' FROM base WHERE c_custkey % 20 = 0),
      |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM log)
      |SELECT c_custkey, CAST(cents AS BIGINT) AS cents, segment
      |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY c_custkey""".stripMargin

  private[graft] val q304Sql: String = {
    val gi = (i: Int) =>
      (1 to 4).map(j => s"list_dot_product(q.qn[$i], c.cn[$j])")
        .mkString("greatest(", ", ", ")")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |sub AS (SELECT vec_id, [vv[1:16], vv[17:32], vv[33:48], vv[49:64]] AS ss FROM v),
       |nrm AS (SELECT vec_id, list_transform(ss,
       |    sv -> list_transform(sv, x -> x / sqrt(list_dot_product(sv, sv)))) AS nn FROM sub),
       |q AS (SELECT vec_id AS query_id, nn AS qn FROM nrm WHERE vec_id < 8),
       |c AS (SELECT vec_id AS neighbor_id, nn AS cn FROM nrm),
       |sc AS (SELECT query_id, neighbor_id,
       |    (((${gi(1)} + ${gi(2)}) + ${gi(3)}) + ${gi(4)}) AS score
       |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rn FROM sc)
       |SELECT query_id, neighbor_id, (round(score, 4) + 0.0) AS maxsim, rn
       |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
  }

  /** One selectivity leg of the filtered-ANN recall oracles (q307, q458),
    * the leg's predicate applied to the corpus side as the engine applies
    * it: `iv_<leg>`, the top-5 of the probes `<q>(query_id, qv, cell)` over
    * the assigned corpus `asg(vec_id, label, vv, cell)`, and `tr_<leg>`, the
    * exact top-5 of the eight queries over `vecs`. */
  private[graft] def filteredLegCtes(leg: String, pred: String => String, q: String): String =
    s"""iv_$leg AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, a.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("q.qv", "a.vv")} DESC, a.vec_id) AS rn
       |    FROM $q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.query_id WHERE ${pred("a")})
       |  WHERE rn <= 5),
       |tr_$leg AS (SELECT query_id, neighbor_id FROM (
       |    SELECT qq.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY ${cosSql("qq.vv", "n.vv")} DESC, n.vec_id) AS rn
       |    FROM vecs qq CROSS JOIN vecs n
       |    WHERE qq.vec_id < 8 AND n.vec_id <> qq.vec_id AND ${pred("n")})
       |  WHERE rn <= 5)""".stripMargin

  /** q307's oracle: q302's IVF structure (assignment crn = 1, probes
    * crn ≤ 2) and the brute-force truth, each repeated per selectivity
    * leg with the predicate applied to the SAME side the engine applies
    * it (the filtered corpus) — generated by the same leg list the Spark
    * side runs. */
  private[graft] val q307Sql: String = {
    val legs = Seq[(String, String => String)](
      ("all", _ => "1 = 1"),
      ("half", a => s"$a.label <= 1"),
      ("quarter", a => s"$a.label = 2"))
    val legCtes = legs.map { case (name, pred) =>
      s"""${filteredLegCtes(name, pred, "q")},
         |h_$name AS (SELECT '$name' AS leg, count(*) AS hits FROM iv_$name i
         |  JOIN tr_$name t ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id)""".stripMargin
    }.mkString(",\n")
    val union = legs.map { case (name, _) => s"SELECT * FROM h_$name" }.mkString(" UNION ALL ")
    s"""WITH vecs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |cent AS (SELECT vec_id AS cell, vv AS cv FROM vecs WHERE vec_id < 16),
       |${ivfCellCte("scored", "cent", "x.vec_id, x.vv, c.cell")},
       |asg AS (SELECT s0.vec_id, v0.label, s0.vv, s0.cell FROM scored s0
       |  JOIN vecs v0 ON v0.vec_id = s0.vec_id WHERE s0.crn = 1),
       |q AS (SELECT vec_id AS query_id, vv AS qv, cell FROM scored WHERE vec_id < 8 AND crn <= 2),
       |$legCtes,
       |u AS ($union),
       |nq AS (SELECT count(*) AS n FROM vecs WHERE vec_id < 8)
       |SELECT u.leg, CAST(nq.n AS BIGINT) AS n_queries, CAST(u.hits AS BIGINT) AS hits,
       |  (round(CAST(u.hits AS DOUBLE) / (CAST(nq.n AS DOUBLE) * 5), 4) + 0.0) AS recall
       |FROM u, nq ORDER BY u.leg""".stripMargin
  }

  /** q300's oracle: per prefix width d, the same double-cosine ranking on
    * the sliced vectors (DuckDB `vv[1:d]` ≡ Spark `slice(v, 1, d)`; the
    * float→double element casts agree), intersected with the full-width
    * top-5 — generated per leg by the same loop bounds the Spark side
    * runs. */
  private[graft] val q300Sql: String = {
    val dims = Seq(8, 16, 32)
    val legs = dims.map { d =>
      s"""p$d AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY list_dot_product(qv[1:$d], cv[1:$d]) /
         |      (sqrt(list_dot_product(qv[1:$d], qv[1:$d])) * sqrt(list_dot_product(cv[1:$d], cv[1:$d]))) DESC,
         |    neighbor_id) AS rn FROM s),
         |mt$d AS (SELECT $d AS dims, count(*) AS matched FROM p$d
         |  JOIN f ON f.query_id = p$d.query_id AND f.neighbor_id = p$d.neighbor_id
         |  WHERE p$d.rn <= 5)""".stripMargin
    }.mkString(",\n")
    val union = dims.map(d => s"SELECT * FROM mt$d").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |s AS (SELECT query_id, neighbor_id, qv, cv FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
       |fr AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
       |    neighbor_id) AS rn FROM s),
       |f AS (SELECT query_id, neighbor_id FROM fr WHERE rn <= 5),
       |nq AS (SELECT count(*) AS n FROM q),
       |$legs,
       |u AS ($union)
       |SELECT CAST(dims AS BIGINT) AS dims, CAST(nq.n AS BIGINT) AS n_queries,
       |  CAST(matched AS BIGINT) AS matched,
       |  (round(CAST(matched AS DOUBLE) / (CAST(nq.n AS DOUBLE) * 5), 4) + 0.0) AS recall
       |FROM u, nq ORDER BY dims""".stripMargin
  }

  /** q296's oracle: 4 unrolled synchronous LPA rounds over the co-purchase
    * edges (both directions via `<>`), most-frequent neighbor label with
    * smallest-label ties — generated by the same loop bounds the Spark
    * side runs. */
  private[graft] val q296Sql: String = {
    val rounds = (1 to 4).map { t =>
      val pl = s"l${t - 1}"
      s"""g$t AS (SELECT e.u, l.label, count(*) AS c FROM e JOIN $pl l ON l.node = e.v GROUP BY 1, 2),
         |l$t AS (SELECT u AS node, label FROM (
         |    SELECT u, label, row_number() OVER (PARTITION BY u ORDER BY c DESC, label) AS rn FROM g$t)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
       |FROM l4 ORDER BY node""".stripMargin
  }

  /** q141 twin: the q44 signature pipeline with candidates restricted to
    * (existing < 400) × (new ≥ 400) — the incremental probe contract (the
    * index side never self-joins; no ordering filter because the id sets
    * are disjoint). */
  private[graft] val q141Sql: String =
    s"""WITH ${minHashBandCtes("documents")},
       |cand AS (SELECT DISTINCT x.doc_id AS existing_id, y.doc_id AS new_id
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id < 400 AND y.doc_id >= 400),
       |est AS (SELECT existing_id, new_id, ($minHashAgreeSql) AS agree
       |  FROM cand JOIN sig a ON a.doc_id = cand.existing_id JOIN sig b ON b.doc_id = cand.new_id)
       |SELECT existing_id, new_id, (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) AS est_jaccard FROM est
       |WHERE (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) >= 0.25
       |ORDER BY existing_id, new_id""".stripMargin

  /** q230's WITH-chain (shared with q238): multinomial Naive Bayes trained
    * on doc_id % 5 <> 0 — Laplace-smoothed micro-nat weights quantized ONCE
    * per (term, class) cell, exact BIGINT score sums, argmax tie to the
    * greatest label. Ends with CTEs `pred` (doc_id, pred_label,
    * score_micro) and `sc` (the scored split with lang + text). */
  private[graft] val nbChainSql: String =
    """WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
      |tok AS (SELECT tr.lang AS lab, t.term FROM tr,
      |  LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term) t
      |  WHERE length(t.term) > 0),
      |ctc AS (SELECT lab, term, count(*) AS c FROM tok GROUP BY 1, 2),
      |ctot AS (SELECT lab, sum(c) AS n FROM ctc GROUP BY 1),
      |vs AS (SELECT count(DISTINCT term) AS v FROM ctc),
      |w AS (SELECT ct.lab, vo.term,
      |    CAST(round(ln((coalesce(c.c, 0) + 1) / CAST(ct.n + vs.v AS DOUBLE))
      |      * 1000000, 0) AS BIGINT) AS lw
      |  FROM (SELECT DISTINCT term FROM ctc) vo CROSS JOIN ctot ct CROSS JOIN vs
      |  LEFT JOIN ctc c ON c.lab = ct.lab AND c.term = vo.term),
      |pr AS (SELECT lang AS lab, count(*) AS cd FROM tr GROUP BY 1),
      |prior AS (SELECT lab,
      |    CAST(round(ln(CAST(cd AS DOUBLE) / (SELECT sum(cd) FROM pr))
      |      * 1000000, 0) AS BIGINT) AS pm FROM pr),
      |sc AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
      |stf AS (SELECT sc.doc_id, t.term, count(*) AS c FROM sc,
      |  LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term) t
      |  WHERE length(t.term) > 0 GROUP BY 1, 2),
      |scores AS (SELECT stf.doc_id, w.lab, prior.pm + sum(stf.c * w.lw) AS s
      |  FROM stf JOIN w ON w.term = stf.term JOIN prior ON prior.lab = w.lab
      |  GROUP BY stf.doc_id, w.lab, prior.pm),
      |pred AS (SELECT s.doc_id, max(s.lab) AS pred_label, s.s AS score_micro
      |  FROM scores s JOIN (SELECT doc_id, max(s) AS ms FROM scores GROUP BY 1) b
      |    ON s.doc_id = b.doc_id AND s.s = b.ms
      |  GROUP BY s.doc_id, s.s)""".stripMargin

  private[graft] val q230Sql: String =
    s"""$nbChainSql
       |SELECT p.doc_id, p.pred_label, CAST(p.score_micro AS BIGINT) AS score_micro,
       |  p.pred_label = d.lang AS hit
       |FROM pred p JOIN sc d ON d.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  /** q238's oracle: Cohen's kappa between the q50 language heuristic and
    * the q230 NB prediction on the scored split — the rational identity
    * kappa = (n·agree − Σ r·c)/(n² − Σ r·c) on HUGEINT so nothing rounds
    * until the one 4-dp display division. */
  private[graft] val q238Sql: String =
    s"""$nbChainSql,
       |hx AS (SELECT doc_id, $langCase AS heur FROM sc),
       |pairs AS (SELECT h.heur AS a, p.pred_label AS b
       |  FROM hx h JOIN pred p USING (doc_id)),
       |tot AS (SELECT count(*) AS n,
       |    sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS ag FROM pairs),
       |ra AS (SELECT a, count(*) AS r FROM pairs GROUP BY 1),
       |cb AS (SELECT b, count(*) AS c FROM pairs GROUP BY 1),
       |pe AS (SELECT coalesce(sum(r * c), 0) AS sm FROM ra JOIN cb ON cb.b = ra.a)
       |SELECT CAST(n AS BIGINT) AS n, CAST(ag AS BIGINT) AS n_agree,
       |  CAST(sm AS BIGINT) AS pe_num,
       |  (round(CAST(CAST(n AS HUGEINT) * ag - sm AS DOUBLE) /
       |    CAST(CAST(n AS HUGEINT) * n - sm AS DOUBLE), 4) + 0.0) AS kappa
       |FROM tot, pe WHERE CAST(n AS HUGEINT) * n > sm""".stripMargin

  /** q233's oracle: the q44 signature pipeline run over the PLANTED corpus
    * (originals < 300 ∪ one-word-appended variants at doc_id + 100000),
    * exact-Jaccard truth restricted to the planted pair mapping (a keyed
    * join, never all-pairs), recall = caught/truth — the dedup family's
    * eval loop, mirroring what q212/q225 do for ANN. */
  private[graft] val q233Sql: String =
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id < 300
       |  UNION ALL SELECT doc_id + 100000,
       |    array_to_string(wv[1:(len(wv) + 1) // 2], ' ')
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS wv
       |    FROM documents WHERE doc_id < 300 AND doc_id % 3 = 0)),
       |${minHashBandCtes("corp")},
       |$minHashPairCtes,
       |mh AS (SELECT id_a, id_b FROM est
       |  WHERE (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) >= 0.25),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |tshared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
       |  FROM sh x JOIN sh y ON y.doc_id = x.doc_id + 100000 AND y.shingle = x.shingle
       |  WHERE x.doc_id < 300 AND x.doc_id % 3 = 0 GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM tshared
       |  JOIN sizes a ON a.doc_id = id_a JOIN sizes b ON b.doc_id = id_b
       |  WHERE (round(CAST(shared AS DOUBLE) / (a.n + b.n - shared), 4) + 0.0) >= 0.25),
       |caught AS (SELECT t.id_a FROM truth t JOIN mh ON mh.id_a = t.id_a AND mh.id_b = t.id_b)
       |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       |  CAST((SELECT count(*) FROM caught) AS BIGINT) AS n_caught,
       |  (round(CAST((SELECT count(*) FROM caught) AS DOUBLE) /
       |    (SELECT count(*) FROM truth), 4) + 0.0) AS recall""".stripMargin

  /** q234's oracle: [[bpeEncodeOracleSql]]'s WITH-chain up to the encoded
    * corpus, then tokens-per-word fertility per language — the tokenizer
    * cost curve a multilingual training mix is budgeted by. */
  private[graft] def bpeFertilityOracleSql(k: Int): String = {
    val enc = bpeEncodeOracleSql(k)
    val withChain = enc.substring(0, enc.lastIndexOf("\nSELECT doc_id"))
    s"""$withChain,
       |enc AS (SELECT doc_id,
       |    CAST(length(ds) - length(replace(ds, chr(31), '')) AS BIGINT) AS n_bpe
       |  FROM doc$k),
       |wrd AS (SELECT doc_id, lang,
       |    CAST(len(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
       |      t -> length(t) > 0)) AS BIGINT) AS n_words
       |  FROM documents)
       |SELECT w.lang, CAST(sum(w.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(e.n_bpe) AS BIGINT) AS n_bpe,
       |  (round(CAST(sum(e.n_bpe) AS DOUBLE) / sum(w.n_words), 4) + 0.0) AS fertility
       |FROM wrd w JOIN enc e USING (doc_id)
       |GROUP BY 1 HAVING sum(w.n_words) > 0 ORDER BY 1""".stripMargin
  }

  /** q249's oracle: [[bpeOracleSql]]'s learning chain (b1…b8 on the FULL
    * corpus), then the doc_id < 400 slice encoded incrementally — doc_k is
    * doc_{k-1} with merge b_k applied, so the per-k token totals read
    * straight off the intermediate CTEs (one chain serves every k). */
  private[graft] def bpeCurveOracleSql(ks: Seq[Int]): String = {
    val learn = bpeOracleSql(8)
    val withChain = learn.substring(0, learn.lastIndexOf("\nSELECT rank"))
    val doc0 =
      """doc0 AS (SELECT doc_id, array_to_string(list_transform(
        |    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |      t -> length(t) > 0),
        |    w -> array_to_string(list_transform(regexp_split_to_array(w, ''),
        |      c -> chr(31) || c || chr(30)), '')), chr(29)) AS ds
        |  FROM documents WHERE doc_id < 400)""".stripMargin
    val docSteps = (1 to 8).map { i =>
      s"""doc$i AS (SELECT doc_id, replace(ds,
         |    chr(31) || b.p1 || chr(30) || chr(31) || b.p2 || chr(30),
         |    chr(31) || b.p1 || b.p2 || chr(30)) AS ds
         |  FROM doc${i - 1}, b$i b)""".stripMargin
    }
    val perK = ks.map(k =>
      s"SELECT CAST($k AS BIGINT) AS k, CAST(sum(length(ds) - " +
        s"length(replace(ds, chr(31), ''))) AS BIGINT) AS n_tokens FROM doc$k")
      .mkString("\nUNION ALL ")
    s"""$withChain,
       |$doc0,
       |${docSteps.mkString(",\n")},
       |nw AS (SELECT CAST(sum(len(list_filter(
       |    regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
       |    t -> length(t) > 0))) AS BIGINT) AS n_words
       |  FROM documents WHERE doc_id < 400),
       |pk AS ($perK)
       |SELECT k, n_tokens, nw.n_words,
       |  (round(CAST(n_tokens AS DOUBLE) / nw.n_words, 4) + 0.0) AS tokens_per_word
       |FROM pk, nw ORDER BY k""".stripMargin
  }

  /** q250's oracle: the q44 pair list, min-label components via the q77
    * recursive CTE, then Newman Q with the HUGEINT numerator
    * Σ(4·e_c·m − d_c²) over the exact 4m². */
  private[graft] val q250Sql: String =
    s"""WITH ${nearDupComponentCtes("node")},
       |m AS (SELECT count(*) AS m FROM pairs),
       |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
       |ec AS (SELECT l.component, count(*) AS e_c
       |  FROM pairs p JOIN lab l ON l.node = p.id_a GROUP BY 1),
       |dc AS (SELECT l.component, sum(deg.d) AS d_c
       |  FROM deg JOIN lab l ON l.node = deg.node GROUP BY 1),
       |terms AS (SELECT dc.component, coalesce(ec.e_c, 0) AS e_c, dc.d_c
       |  FROM dc LEFT JOIN ec ON ec.component = dc.component),
       |agg AS (SELECT count(*) AS nc,
       |    sum(4 * CAST(e_c AS HUGEINT) * m.m - CAST(d_c AS HUGEINT) * d_c) AS qnum
       |  FROM terms, m GROUP BY m.m)
       |SELECT CAST(agg.nc AS BIGINT) AS n_components, CAST(m.m AS BIGINT) AS n_edges,
       |  (round(CAST(qnum AS DOUBLE) /
       |    CAST(4 * CAST(m.m AS HUGEINT) * m.m AS DOUBLE), 4) + 0.0) AS modularity
       |FROM agg, m WHERE m.m > 0""".stripMargin

  /** q255's oracle: per-gate survivor counts over the SAME corpus — raw,
    * exact text dedup, and minhash near-dup components (keep one doc per
    * component; docs outside the pair graph survive untouched). */
  private[graft] val q255Sql: String =
    s"""WITH ${nearDupComponentCtes("node")},
       |n AS (SELECT count(*) AS docs FROM documents),
       |ex AS (SELECT count(DISTINCT text) AS survivors FROM documents),
       |nd AS (SELECT count(*) AS nodes, count(DISTINCT component) AS comps FROM lab),
       |u AS (
       |  SELECT 'a_raw' AS gate, n.docs AS docs_in, n.docs AS survivors FROM n
       |  UNION ALL SELECT 'b_exact_text', n.docs, ex.survivors FROM n, ex
       |  UNION ALL SELECT 'c_minhash_components', n.docs,
       |    n.docs - (nd.nodes - nd.comps) FROM n, nd)
       |SELECT gate, CAST(docs_in AS BIGINT) AS docs_in,
       |  CAST(survivors AS BIGINT) AS survivors,
       |  CAST(docs_in - survivors AS BIGINT) AS removed
       |FROM u ORDER BY gate""".stripMargin

  /** Shared micro-Lloyd CTE chain (q257/q258): comp = 10⁶-quantized
    * components (q235's pattern), c0 = first-4-by-id seeds, then two full
    * assign+update rounds — assignment = exact-long d2 argmin with min-cell
    * tie-break, update = floor(sum/n) — landing at the trained centroid
    * table c2. The chained-CTE unrolling is the q223/q237 convention for
    * fixed-iteration loops. */
  private[graft] def lloydCtesK(k: Int): String =
    s"""comp AS (SELECT vec_id, t.d AS dim,
      |    CAST(round(CAST(embedding[CAST(t.d AS BIGINT)] AS DOUBLE) * 1000000, 0)
      |      AS BIGINT) AS vm
      |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d) t),
      |c0 AS (SELECT vec_id AS cell, dim, vm AS cm FROM comp WHERE vec_id < $k),
      |dd1 AS (SELECT c.vec_id, ct.cell, sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
      |  FROM comp c JOIN c0 ct USING (dim) GROUP BY 1, 2),
      |b1 AS (SELECT vec_id, min(d2) AS md FROM dd1 GROUP BY 1),
      |a1 AS (SELECT d.vec_id, min(d.cell) AS cell FROM dd1 d
      |  JOIN b1 b ON b.vec_id = d.vec_id AND d.d2 = b.md GROUP BY 1),
      |c1 AS (SELECT a.cell, c.dim,
      |    CAST(floor(CAST(sum(c.vm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
      |  FROM comp c JOIN a1 a USING (vec_id) GROUP BY 1, 2),
      |dd2 AS (SELECT c.vec_id, ct.cell, sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
      |  FROM comp c JOIN c1 ct USING (dim) GROUP BY 1, 2),
      |b2 AS (SELECT vec_id, min(d2) AS md FROM dd2 GROUP BY 1),
      |a2 AS (SELECT d.vec_id, min(d.cell) AS cell FROM dd2 d
      |  JOIN b2 b ON b.vec_id = d.vec_id AND d.d2 = b.md GROUP BY 1),
      |c2 AS (SELECT a.cell, c.dim,
      |    CAST(floor(CAST(sum(c.vm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
      |  FROM comp c JOIN a2 a USING (vec_id) GROUP BY 1, 2)""".stripMargin

  private[graft] val lloydCtes: String = lloydCtesK(4)

  /** q257's oracle: the Lloyd chain + a third assignment pass under the
    * trained centroids; per-cell seed/trained occupancy and arrivals. */
  private[graft] val q257Sql: String =
    s"""WITH $lloydCtes,
       |dd3 AS (SELECT c.vec_id, ct.cell, sum((c.vm - ct.cm) * (c.vm - ct.cm)) AS d2
       |  FROM comp c JOIN c2 ct USING (dim) GROUP BY 1, 2),
       |b3 AS (SELECT vec_id, min(d2) AS md FROM dd3 GROUP BY 1),
       |a3 AS (SELECT d.vec_id, min(d.cell) AS cell FROM dd3 d
       |  JOIN b3 b ON b.vec_id = d.vec_id AND d.d2 = b.md GROUP BY 1),
       |m AS (SELECT a1.vec_id, a1.cell AS sc, a3.cell AS tc
       |  FROM a1 JOIN a3 USING (vec_id)),
       |tn AS (SELECT tc AS cell, count(*) AS n_trained,
       |    sum(CASE WHEN sc <> tc THEN 1 ELSE 0 END) AS arrivals FROM m GROUP BY 1),
       |sn AS (SELECT sc AS cell, count(*) AS n_seed FROM m GROUP BY 1)
       |SELECT coalesce(tn.cell, sn.cell) AS cell,
       |  CAST(coalesce(n_seed, 0) AS BIGINT) AS n_seed,
       |  CAST(coalesce(n_trained, 0) AS BIGINT) AS n_trained,
       |  CAST(coalesce(arrivals, 0) AS BIGINT) AS arrivals
       |FROM tn FULL JOIN sn ON sn.cell = tn.cell ORDER BY cell""".stripMargin

  /** q258's oracle: the Lloyd chain, both centroid sets re-assembled as
    * cm/10⁶ double lists, the q58-shape cosine search (assign crn = 1,
    * probe crn ≤ 1, cosine over the raw vectors inside matched cells,
    * top-5) run under each, and per-query recall vs the q45 truth. */
  private[graft] val q258Sql: String = {
    // one nprobe=1 search leg per centroid set: cl0 (seeds), cl2 (trained)
    val legs = Seq(0, 2).map { t =>
      s"""${ivfCellCte(s"cc$t", s"cl$t")},
         |sc$t AS (SELECT qp.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ${cosSql("q.vv", "n.vv")} AS cosine
         |  FROM (SELECT vec_id, cell FROM cc$t WHERE vec_id < 8 AND crn <= 1) qp
         |  JOIN (SELECT vec_id, cell FROM cc$t WHERE crn = 1) a ON a.cell = qp.cell
         |  JOIN vecs q ON q.vec_id = qp.vec_id JOIN vecs n ON n.vec_id = a.vec_id
         |  WHERE a.vec_id <> qp.vec_id),
         |ap$t AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
         |  FROM sc$t) WHERE rn <= 5),
         |h$t AS (SELECT tr.query_id, count(ap$t.neighbor_id) AS hits FROM tr
         |  LEFT JOIN ap$t ON ap$t.query_id = tr.query_id AND ap$t.neighbor_id = tr.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $lloydCtes,
       |vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |cl0 AS (SELECT cell, list(cm / 1000000.0 ORDER BY dim) AS cv FROM c0 GROUP BY 1),
       |cl2 AS (SELECT cell, list(cm / 1000000.0 ORDER BY dim) AS cv FROM c2 GROUP BY 1),
       |$cosTruthCtes,
       |$legs
       |SELECT h0.query_id, CAST(h0.hits AS BIGINT) AS hits_seed,
       |  (round(h0.hits / 5.0, 4) + 0.0) AS recall_seed,
       |  CAST(h2.hits AS BIGINT) AS hits_trained,
       |  (round(h2.hits / 5.0, 4) + 0.0) AS recall_trained
       |FROM h0 JOIN h2 USING (query_id) ORDER BY query_id""".stripMargin
  }

  /** q268's oracle: q256's shared IVF+PQ chain (disjoint cent/codebook),
    * the probe/candidate/ADC/rank CTEs instantiated per nprobe, recall
    * summed over the query set — generated so each nprobe leg is
    * textually identical machinery. */
  private[graft] val q268Sql: String = {
    val shared =
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |$cosTruthCtes,
         |${ivfAssignCtes(100, 116)},
         |${pqLutCtes(200, 208)}""".stripMargin
    val legs = Seq(1, 2, 4, 8).map { np =>
      s"""qp$np AS (SELECT vec_id AS query_id, cell FROM cells
         |  WHERE vec_id < 8 AND crn <= $np),
         |cand$np AS (SELECT DISTINCT qp.query_id, a.vec_id AS neighbor_id
         |  FROM qp$np qp JOIN asg a ON a.cell = qp.cell
         |  WHERE a.vec_id <> qp.query_id),
         |sc2_$np AS (SELECT l.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(l.d) AS BIGINT) AS adist_tb
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  JOIN cand$np cd ON cd.query_id = l.query_id AND cd.neighbor_id = k.vec_id
         |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
         |ap$np AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS rn FROM sc2_$np) WHERE rn <= 5),
         |h$np AS (SELECT count(ap$np.neighbor_id) AS hits FROM tr
         |  LEFT JOIN ap$np ON ap$np.query_id = tr.query_id
         |    AND ap$np.neighbor_id = tr.neighbor_id)""".stripMargin
    }.mkString(",\n")
    val sel = Seq(1, 2, 4, 8).map(np =>
      s"SELECT CAST($np AS BIGINT) AS nprobe, CAST(hits AS BIGINT) AS hits, " +
        s"(round(hits / 40.0, 4) + 0.0) AS recall FROM h$np")
      .mkString("\nUNION ALL\n")
    s"$shared,\n$legs\n$sel\nORDER BY nprobe"
  }

  /** q269's oracle: q225's flat-ADC chain instantiated per codebook size
    * (disjoint slice 200..200+K), recall summed over the query set. */
  private[graft] val q269Sql: String = {
    val shared =
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |$cosTruthCtes,
         |$pqSubsCte,
         |q AS (SELECT vec_id AS query_id, sub, xs AS qs FROM subs WHERE vec_id < 8)""".stripMargin
    val legs = Seq(4, 8, 16, 32).map { kk =>
      s"""${pqCodeCtes(200, 200 + kk, kk.toString)},
         |${pqLutCte(kk.toString)},
         |sc2_$kk AS (SELECT l.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(l.d) AS BIGINT) AS adist_tb
         |  FROM codes$kk k JOIN lut$kk l ON l.sub = k.sub AND l.code = k.code
         |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
         |ap$kk AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist_tb, neighbor_id) AS rn FROM sc2_$kk) WHERE rn <= 5),
         |h$kk AS (SELECT count(ap$kk.neighbor_id) AS hits FROM tr
         |  LEFT JOIN ap$kk ON ap$kk.query_id = tr.query_id
         |    AND ap$kk.neighbor_id = tr.neighbor_id)""".stripMargin
    }.mkString(",\n")
    val sel = Seq(4, 8, 16, 32).map(kk =>
      s"SELECT CAST($kk AS BIGINT) AS codebook_k, CAST(hits AS BIGINT) AS hits, " +
        s"(round(hits / 40.0, 4) + 0.0) AS recall FROM h$kk")
      .mkString("\nUNION ALL\n")
    s"$shared,\n$legs\n$sel\nORDER BY codebook_k"
  }

  /** q254's oracle: q233's machinery with the three-cohort planted corpus
    * and recall grouped by the exact-Jaccard band (floor(4j), clamped to
    * 3) — the empirical LSH collision curve. */
  private[graft] val q254Sql: String =
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id < 300
       |  UNION ALL SELECT doc_id + 100000,
       |    CASE WHEN doc_id % 3 = 0 THEN array_to_string(wv[1:(len(wv) + 1) // 2], ' ')
       |         WHEN doc_id % 3 = 1 THEN array_to_string(wv[1:(3 * len(wv) + 3) // 4], ' ')
       |         ELSE text || ' zzplantdup' END
       |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS wv
       |    FROM documents WHERE doc_id < 300)),
       |${minHashBandCtes("corp")},
       |$minHashPairCtes,
       |mh AS (SELECT id_a, id_b FROM est
       |  WHERE (round(CAST(agree AS DOUBLE) / 16, 4) + 0.0) >= 0.25),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |tshared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
       |  FROM sh x JOIN sh y ON y.doc_id = x.doc_id + 100000 AND y.shingle = x.shingle
       |  WHERE x.doc_id < 300 GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b,
       |    least((4 * shared) // (a.n + b.n - shared), 3) AS jband
       |  FROM tshared
       |  JOIN sizes a ON a.doc_id = id_a JOIN sizes b ON b.doc_id = id_b
       |  WHERE (round(CAST(shared AS DOUBLE) / (a.n + b.n - shared), 4) + 0.0) >= 0.25),
       |caught AS (SELECT t.jband, count(*) AS n_caught FROM truth t
       |  JOIN mh ON mh.id_a = t.id_a AND mh.id_b = t.id_b GROUP BY 1),
       |tt AS (SELECT jband, count(*) AS n_truth FROM truth GROUP BY 1)
       |SELECT tt.jband AS band, CAST(tt.n_truth AS BIGINT) AS n_truth,
       |  CAST(coalesce(caught.n_caught, 0) AS BIGINT) AS n_caught,
       |  (round(CAST(coalesce(caught.n_caught, 0) AS DOUBLE) / tt.n_truth, 4) + 0.0)
       |    AS recall
       |FROM tt LEFT JOIN caught ON caught.jband = tt.jband
       |ORDER BY band""".stripMargin

  /** DuckDB twin of [[Dedup.simHash]]: 64 affine-parity bit generators over
    * the token Karp–Rabin fingerprint, fingerprint assembled by adding the
    * disjoint powers of two (bit 63 = Long.MinValue, matching Spark's
    * shiftleft(1L, 63) two's-complement wrap). */
  private[graft] val q48Sql: String = {
    import graft.functions.HashFamily
    val sums = (0 until 64).map(i =>
      s"sum(CASE WHEN (${HashFamily.affineSql(Dedup.SimSeedBase + i, "x")}) % 2 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(", ")
    val fp = (0 until 64).map { i =>
      val w = if (i == 63) "CAST(-9223372036854775807 AS BIGINT) - 1" else s"CAST(${1L << i} AS BIGINT)"
      s"(CASE WHEN s$i > 0 THEN $w ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents),
       |th AS (SELECT doc_id, ${krSql("w")} AS x FROM tok),
       |bs AS (SELECT doc_id, $sums FROM th GROUP BY doc_id)
       |SELECT doc_id, CAST(($fp) AS BIGINT) AS simhash FROM bs ORDER BY doc_id""".stripMargin
  }

  /** Band-bucket expressions replicating [[Similarity.lshBands]]: element t =
    * packed sign bits of the t-th band's planes over a DOUBLE[] column `v`. */
  private[graft] def lshBandSqlGen(numPlanes: Int, bands: Int): Seq[String] = {
    val planes = Similarity.hyperplanes(numPlanes, 64)
    val bandBits = numPlanes / bands
    (0 until bands).map { t =>
      (0 until bandBits).map { j =>
        val p = planes(t * bandBits + j)
        val arr = "[" + p.map(v => s"CAST($v AS DOUBLE)").mkString(",") + "]"
        s"(CASE WHEN list_dot_product(v, $arr) >= 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    }
  }

  private[graft] val lshBandSql: Seq[String] = lshBandSqlGen(32, 4)

  /** DuckDB twin of q54: LSH-banded candidate generation (32 planes, 8 bands
    * of 4 — wider recall than q55's 4×8) + exact cosine re-score, mirroring
    * [[Similarity.lshBucketNearDup]] on the bounded id range. */
  private[graft] val q54Sql: String = {
    val buckCols = lshBandSqlGen(32, 8).zipWithIndex
      .map { case (b, i) => s"($b) AS buck$i" }.mkString(", ")
    val bandCase = (0 until 8).map(i => s"WHEN $i THEN buck$i").mkString(" ")
    val bandVals = (0 until 8).map(i => s"($i)").mkString(", ")
    s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 200),
       |bb AS (SELECT vec_id, v, $buckCols FROM b),
       |banded AS (SELECT vec_id, v, t.band, CASE t.band $bandCase END AS bucket
       |  FROM bb, (VALUES $bandVals) AS t(band)),
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b, x.v AS xv, y.v AS yv
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |p AS (SELECT id_a, id_b,
       |  list_dot_product(xv, yv) / (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv))) AS cosine
       |  FROM cand)
       |SELECT id_a, id_b, (round(cosine, 4) + 0.0) AS cosine FROM p WHERE cosine >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of [[Sentiment.scoreVader]] (q60): window-lag negation
    * scope, booster CASE on the preceding token, integer-micro summation and
    * sign-aware exclamation emphasis — generated from the same constant
    * lists the Spark side uses. */
  private[graft] val q60Sql: String = {
    val negList = Sentiment.negators.map(n => s"'$n'").mkString(", ")
    val boostCase = Sentiment.boosters
      .map { case (b, v) => s"WHEN '$b' THEN CAST($v AS DOUBLE)" }
      .mkString("CASE prev1 ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
    val ampUnits = (Sentiment.exclamationBoost * 10000).round
    s"""WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents),
       |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[CAST(i AS BIGINT)] AS word
       |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
       |ann AS (SELECT doc_id, word,
       |  lag(word, 1) OVER win AS prev1, lag(word, 2) OVER win AS prev2, lag(word, 3) OVER win AS prev3
       |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |lex(word, tenths) AS (VALUES $lexValues),
       |hits AS (SELECT doc_id,
       |  (tenths / 10.0 + (CASE WHEN tenths > 0 THEN 1.0 WHEN tenths < 0 THEN -1.0 ELSE 0.0 END) * ($boostCase))
       |   * (CASE WHEN prev1 IN ($negList) OR prev2 IN ($negList) OR prev3 IN ($negList)
       |      THEN CAST(${Sentiment.negationFactor} AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) AS v2
       |  FROM ann JOIN lex USING (word)),
       |sums AS (SELECT doc_id, CAST(sum(CAST(round(v2 * 10000) AS BIGINT)) AS BIGINT) AS micro
       |  FROM hits GROUP BY doc_id),
       |amp AS (SELECT doc_id, least(length(text) - length(replace(text, '!', '')), 4) * $ampUnits AS a
       |  FROM documents),
       |fin AS (SELECT amp.doc_id,
       |  (coalesce(micro, 0) + (CASE WHEN coalesce(micro, 0) > 0 THEN 1
       |     WHEN coalesce(micro, 0) < 0 THEN -1 ELSE 0 END) * a) / 10000.0 AS s
       |  FROM amp LEFT JOIN sums ON sums.doc_id = amp.doc_id)
       |SELECT doc_id, (round(s / sqrt(s * s + 15.0), 4) + 0.0) AS vader_score,
       |  CASE WHEN s / sqrt(s * s + 15.0) >= 0.05 THEN 'positive'
       |       WHEN s / sqrt(s * s + 15.0) <= -0.05 THEN 'negative' ELSE 'neutral' END AS vader_label
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of the q74 end-to-end DAG: the same synthesized raw shapes,
    * the htmlToText chain collapsed to its algebraic fixed-point on this input
    * (`' ' || text || ' & done'` — any break in the tag-strip / entity-unescape
    * / quote-ref regexp chain would diverge from it), `strptime` with the
    * two-digit-year `%y` pivot for the 4chan format (SURVEY §7.4), and the
    * q34/q35 enrichment SQL over the cleaned body. */
  private[graft] val q74Sql: String = {
    val comp = "coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0)"
    val hits = "CAST(len(regexp_extract_all(cb, '\\b(error|slow|bad|crash|fail)\\b')) AS DOUBLE)"
    s"""WITH reddit AS (SELECT 'reddit' AS platform, 'r' || doc_id AS comment_id, text AS body,
       |  make_timestamp((CAST(1704067200 AS BIGINT) + (doc_id % 20) * 86400 + doc_id % 1000)
       |    * CAST(1000000 AS BIGINT)) AS created_ts,
       |  doc_id FROM documents WHERE doc_id % 3 = 0),
       |chan AS (SELECT '4chan' AS platform, CAST(doc_id AS VARCHAR) AS comment_id,
       |  ' ' || text || ' & done' AS body,
       |  strptime(lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '/' ||
       |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/24 ' ||
       |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
       |    lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
       |    lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0'), '%m/%d/%y %H:%M:%S') AS created_ts,
       |  doc_id FROM documents WHERE doc_id % 3 = 1),
       |yt AS (SELECT 'youtube' AS platform, 'y' || doc_id AS comment_id, text AS body,
       |  strptime('2024-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T' ||
       |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
       |    lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':00Z', '%Y-%m-%dT%H:%M:%SZ') AS created_ts,
       |  doc_id FROM documents WHERE doc_id % 3 = 2),
       |unified AS (SELECT * FROM reddit UNION ALL SELECT * FROM chan UNION ALL SELECT * FROM yt),
       |kept AS (SELECT * FROM unified WHERE NOT (platform = 'reddit' AND doc_id % 10 = 0)),
       |cleaned AS (SELECT platform, comment_id, created_ts,
       |  lower(regexp_replace(regexp_replace(body, 'https?://\\S+', '', 'g'),
       |    '[^a-zA-Z0-9\\s]', '', 'g')) AS cb
       |  FROM kept),
       |lex(word, tenths) AS (VALUES $lexValues),
       |tok AS (SELECT comment_id, unnest(regexp_split_to_array(cb, '\\s+')) AS word FROM cleaned),
       |sc AS (SELECT comment_id, sum(tenths) / 10.0 AS sv FROM tok JOIN lex USING (word) GROUP BY 1),
       |enr AS (SELECT platform, strftime(created_ts, '%Y-%m-%d') AS day,
       |  CASE WHEN $comp >= 0.05 THEN 'positive'
       |       WHEN $comp <= -0.05 THEN 'negative' ELSE 'neutral' END AS sentiment,
       |  (round($comp, 4) + 0.0) AS score,
       |  (round($hits / ($hits + 1.0), 4) + 0.0) AS conf
       |  FROM cleaned LEFT JOIN sc USING (comment_id))
       |SELECT platform, day, sentiment, count(*) AS cnt,
       |  CAST(sum(CASE WHEN conf > 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS hate_cnt,
       |  CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_score
       |FROM enr GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** Gap-sessionization in plain SQL (lag + running break-sum) — oracle for
    * BOTH the built-in session_window (q57) and the flatMapGroupsWithState
    * replay (q75): two engines, one semantic. */
  private[graft] val sessionizeSql: String =
    """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM x)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS events
      |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** q57's gap sessions per event as two CTEs over `events` (q188, q193):
    * `x` flags a break (a user's first event, or more than 30 minutes after
    * the previous one) and `y` numbers the sessions (`sid`) by the running
    * break sum, per event time `t`. */
  private[graft] val gapSessionCtes: String =
    """x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
      |  CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS sid FROM x)""".stripMargin

  /** DuckDB twin of [[graft.ops.Curation.curationChain]]: the q50/q51/q73
    * stage formulas verbatim, dedup keyed on raw text (equivalent to the
    * Spark side's sha2 key — same groups), first-failure drop reasons. */
  private[graft] val q76Sql: String =
    s"""WITH f AS (SELECT doc_id, text,
       |  CAST(length(text) AS DOUBLE) AS len,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
       |  CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|a)\\b')) AS DOUBLE) AS stop
       |  FROM documents),
       |a AS (SELECT doc_id, text, $langCase AS lang_pred,
       |  (round((CASE WHEN len >= 100 AND len <= 10000 THEN 1.0 WHEN len >= 20 THEN 0.5 ELSE 0.0 END) * 0.4
       |    + (CASE WHEN len > 0 THEN alpha / len ELSE 0.0 END) * 0.3
       |    + (CASE WHEN toks > 0 THEN least(stop / toks * 5.0, 1.0) ELSE 0.0 END) * 0.3, 4) + 0.0) AS quality,
       |  (round(1.0 - CAST(len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS DOUBLE)
       |    / len(regexp_split_to_array(lower(text), '\\s+')), 4) + 0.0) AS rep_ratio,
       |  CAST(toks AS BIGINT) AS n_tokens
       |  FROM f),
       |p AS (SELECT *, (lang_pred = 'en' AND quality >= 0.6 AND rep_ratio <= 0.6) AS pass FROM a),
       |kk AS (SELECT text, min(doc_id) AS keeper FROM p WHERE pass GROUP BY text)
       |SELECT doc_id, lang_pred, quality, rep_ratio, n_tokens,
       |  coalesce(pass AND doc_id = keeper, FALSE) AS kept,
       |  CASE WHEN lang_pred <> 'en' THEN 'lang'
       |       WHEN quality < 0.6 THEN 'quality'
       |       WHEN rep_ratio > 0.6 THEN 'repetition'
       |       WHEN doc_id <> keeper THEN 'duplicate' END AS drop_reason
       |FROM p LEFT JOIN kk USING (text) ORDER BY doc_id""".stripMargin

  /** The IVF occupancy-audit SQL — shared verbatim by q283 (batch index
    * health) and q292 (streaming ingest): the streaming gate's proof is
    * that the accumulated per-batch index reproduces EXACTLY this
    * batch-assignment table. */
  private[graft] val q283Sql: String =
    s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |${ivfAssignCtes(0, 16)},
       |t AS (SELECT count(*) AS n FROM asg)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST((10000 * count(*)) // t.n AS BIGINT) AS share_bp,
       |  CAST((1000 * count(*) * 16) // t.n AS BIGINT) AS load_milli
       |FROM asg, t GROUP BY cell, t.n ORDER BY cell""".stripMargin

  /** q204 oracle (shared: q218 ranks these scores into terciles). Same
    * map-side positional bigrams, same mixture text; the per-doc fold
    * orders by the distinct bigram. */
  private[graft] val q204Sql: String =
    s"""WITH raw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |    t -> length(t) > 0) AS arr FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(arr)),
        |    i -> {'a': arr[i], 'b': arr[i + 1]})) AS g FROM raw),
        |bi AS (SELECT doc_id, g.a AS a, g.b AS b FROM bg),
        |dbc AS (SELECT doc_id, a, b, count(*) AS c FROM bi GROUP BY 1, 2, 3),
        |cf2 AS (SELECT a, b, sum(c) AS cf2 FROM dbc GROUP BY 1, 2),
        |cf1 AS (SELECT a, sum(cf2) AS cf1 FROM cf2 GROUP BY 1),
        |tok AS (SELECT unnest(arr) AS t FROM raw),
        |cfu AS (SELECT t, count(*) AS cu FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM tok),
        |terms AS (SELECT dbc.doc_id, dbc.a, dbc.b, dbc.c,
        |    CAST(dbc.c AS DOUBLE) * ln(0.7 * (CAST(cf2.cf2 AS DOUBLE) / CAST(cf1.cf1 AS DOUBLE))
        |      + 0.3 * (CAST(cfu.cu AS DOUBLE) / CAST(n.nn AS DOUBLE))) AS term
        |  FROM dbc JOIN cf2 USING (a, b) JOIN cf1 USING (a)
        |  JOIN cfu ON dbc.b = cfu.t CROSS JOIN n),
        |agg AS (SELECT doc_id, sum(c) AS nb,
        |    (round(-${orderedSumSql("term", "a, b")} / sum(c), 4) + 0.0) AS avg_nll
        |  FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams,
        |  coalesce(agg.avg_nll, CAST(0.0 AS DOUBLE)) AS avg_nll
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** q223's oracle: classic BPE ([[Bpe.learnMerges]]) unrolled as k chained
    * CTE steps — k is small and bounded, so no recursion is needed (and a
    * recursive CTE could not host the per-step aggregate anyway). Each step
    * i: re-derive the symbol list from the current wrapped string (`pl`),
    * count adjacent pairs weighted by word frequency (`pr`), take the
    * argmax with the engine's exact tie-break (cnt DESC, p1, p2) (`b`),
    * and apply the merge (`w`).
    *
    * Symbolizations ride as STRINGS with every symbol wrapped as
    * chr(31)‖sym‖chr(30), so applying a merge is ONE `replace`:
    * SQL replace scans left-to-right, replaces non-overlapping matches,
    * and resumes AFTER each replacement — exactly the greedy fold
    * [[Bpe.applyMerge]] implements ("aaaa" + (a,a) → ["aa","aa"], and a
    * pattern can never straddle a symbol boundary because both delimiters
    * participate in the match). A step with no remaining pair leaves `b`
    * empty, which empties every later step through the cross join — the
    * merge list just comes back shorter, like the engine's `exhausted`.
    */
  private[graft] def bpeOracleSql(k: Int): String = {
    val w0 =
      """w0 AS (SELECT
        |  array_to_string(list_transform(regexp_split_to_array(word, ''),
        |    c -> chr(31) || c || chr(30)), '') AS ws,
        |  CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> length(t) > 0)) AS word FROM documents)
        |  GROUP BY 1)""".stripMargin
    val steps = (1 to k).map { i =>
      s"""pl$i AS (SELECT freq,
         |  list_transform(list_filter(string_split(ws, chr(30)), x -> length(x) > 0),
         |    x -> ltrim(x, chr(31))) AS l
         |  FROM w${i - 1}),
         |pr$i AS (SELECT p[1] AS p1, p[2] AS p2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
         |    FROM pl$i WHERE len(l) >= 2)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT p1, p2, cnt FROM pr$i ORDER BY cnt DESC, p1, p2 LIMIT 1),
         |w$i AS (SELECT replace(ws, chr(31) || b.p1 || chr(30) || chr(31) || b.p2 || chr(30),
         |    chr(31) || b.p1 || b.p2 || chr(30)) AS ws, freq
         |  FROM w${i - 1}, b$i b)""".stripMargin
    }
    val union = (1 to k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, p1, p2, cnt FROM b$i")
      .mkString("\nUNION ALL ")
    s"WITH $w0,\n${steps.mkString(",\n")}\n" +
      s"SELECT rank, p1, p2, cnt FROM (\n$union) ORDER BY rank"
  }

  /** q227's oracle: [[bpeOracleSql]]'s k learning steps (reused verbatim —
    * they define b1..bk), then the corpus ENCODED with those merges. Each
    * document rides as one delimiter-wrapped string (symbols as
    * chr(31)‖sym‖chr(30), words separated by chr(29) so a merge pattern —
    * which requires chr(30)chr(31) adjacency — can never straddle a word
    * boundary), and each merge applies as the same single greedy `replace`
    * the learner's steps use. Token count = chr(31) occurrences; the token
    * string unwraps the delimiters. */
  private[graft] def bpeEncodeOracleSql(k: Int): String = {
    val learn = bpeOracleSql(k)
    // reuse the WITH-chain of the learning oracle up to (and incl.) w_k/b_k:
    // strip its final SELECT and append the doc-encoding CTEs
    val withChain = learn.substring(0, learn.lastIndexOf("\nSELECT rank"))
    val doc0 =
      """doc0 AS (SELECT doc_id, array_to_string(list_transform(
        |    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |      t -> length(t) > 0),
        |    w -> array_to_string(list_transform(regexp_split_to_array(w, ''),
        |      c -> chr(31) || c || chr(30)), '')), chr(29)) AS ds
        |  FROM documents)""".stripMargin
    val docSteps = (1 to k).map { i =>
      s"""doc$i AS (SELECT doc_id, replace(ds,
         |    chr(31) || b.p1 || chr(30) || chr(31) || b.p2 || chr(30),
         |    chr(31) || b.p1 || b.p2 || chr(30)) AS ds
         |  FROM doc${i - 1}, b$i b)""".stripMargin
    }
    s"""$withChain,
       |$doc0,
       |${docSteps.mkString(",\n")}
       |SELECT doc_id,
       |  CAST(length(ds) - length(replace(ds, chr(31), '')) AS BIGINT) AS n_tokens,
       |  array_to_string(list_transform(
       |    list_filter(string_split(replace(ds, chr(29), ''), chr(30)),
       |      x -> length(x) > 0),
       |    x -> ltrim(x, chr(31))), ' ') AS tokens_s
       |FROM doc$k ORDER BY doc_id""".stripMargin
  }
}
