package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops._
import graft.stream.Streaming
import graft.multimodal.Multimodal

import SparkEntry._
import graft.storage.Materialize.scratch

/** Registry part: storage, streaming-replay, privacy and drift keys (q314-q383),
  * with the streaming TTL-dedup and late-data keys q452/q455 next to q344.
  *
  * Each key is ONE record in `keys`, which sits last so that every val an
  * oracle reads is set before it: a [[SparkEntry.Key]] (frame, DuckDB oracle,
  * plan note) or a retired key's [[SparkEntry.Alias]]. SparkEntry's maps
  * project the records; RegistrySpec pins the key set.
  */
private[graft] object RegistryPipelineOps {
  val keys: Seq[Entry] = Seq(
    Key("q314_rouge_overlap", (s, dir) => {
      // ROUGE-1 with clipped counts (Lin 2004) between paired docs — the
      // n-gram overlap eval behind summarization/distillation QA, and the
      // contamination yardstick between candidate generations and
      // references. Pairs are (even doc, its successor); the clipped
      // overlap Σ_w min(tf_cand, tf_ref) comes from ONE token-keyed
      // equi-join of the two per-pair term-frequency frames (tokens only
      // meet inside their pair — the join key is (pair, token), so fan-in
      // is bounded by per-doc vocabulary, never corpus²); recall/precision
      // in exact integer basis points.
      val docs = T(s, dir, "documents")
      def tf(df: DataFrame, pair: Column) = df
        .select(pair.as("pair_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .groupBy(col("pair_id"), col("w")).agg(count(lit(1)).as("c"))
      val cand = tf(docs.filter(col("doc_id") % 2 === 0), col("doc_id"))
      val ref = tf(docs.filter(col("doc_id") % 2 === 1), col("doc_id") - 1)
      val overlap = cand.select(col("pair_id"), col("w"), col("c").as("c1"))
        .join(ref.select(col("pair_id"), col("w"), col("c").as("c2")), Seq("pair_id", "w"))
        .groupBy(col("pair_id"))
        .agg(sum(least(col("c1"), col("c2"))).as("overlap"))
      val candTot = cand.groupBy(col("pair_id")).agg(sum(col("c")).as("cand_tokens"))
      val refTot = ref.groupBy(col("pair_id")).agg(sum(col("c")).as("ref_tokens"))
      candTot.join(refTot, Seq("pair_id"))
        .join(overlap, Seq("pair_id"), "left")
        .select(col("pair_id"), col("cand_tokens"), col("ref_tokens"),
          coalesce(col("overlap"), lit(0L)).as("overlap"))
        .withColumn("rouge1_recall_bp", expr("overlap * 10000 div ref_tokens"))
        .withColumn("rouge1_precision_bp", expr("overlap * 10000 div cand_tokens"))
        .orderBy("pair_id")
    },
      // same tokenization, same clipped Σ min(tf, tf), same integer bp
      """WITH tokc AS (SELECT doc_id AS pair_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)) AS w
        |  FROM documents WHERE doc_id % 2 = 0),
        |tokr AS (SELECT doc_id - 1 AS pair_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)) AS w
        |  FROM documents WHERE doc_id % 2 = 1),
        |c1 AS (SELECT pair_id, w, count(*) AS c FROM tokc GROUP BY 1, 2),
        |c2 AS (SELECT pair_id, w, count(*) AS c FROM tokr GROUP BY 1, 2),
        |ov AS (SELECT c1.pair_id, sum(least(c1.c, c2.c)) AS overlap
        |  FROM c1 JOIN c2 ON c1.pair_id = c2.pair_id AND c1.w = c2.w GROUP BY 1),
        |ct AS (SELECT pair_id, sum(c) AS cand_tokens FROM c1 GROUP BY 1),
        |rt AS (SELECT pair_id, sum(c) AS ref_tokens FROM c2 GROUP BY 1)
        |SELECT ct.pair_id, CAST(ct.cand_tokens AS BIGINT) AS cand_tokens,
        |  CAST(rt.ref_tokens AS BIGINT) AS ref_tokens,
        |  CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
        |  CAST(coalesce(ov.overlap, 0) * 10000 // rt.ref_tokens AS BIGINT) AS rouge1_recall_bp,
        |  CAST(coalesce(ov.overlap, 0) * 10000 // ct.cand_tokens AS BIGINT) AS rouge1_precision_bp
        |FROM ct JOIN rt USING (pair_id) LEFT JOIN ov USING (pair_id)
        |ORDER BY ct.pair_id""".stripMargin,
      note = "clipped counts meet on the (pair, token) equi-join; totals joins pair-keyed"),
    Key("q315_span_corruption", (s, dir) =>
      // T5-style span corruption (Raffel et al. 2020, §3.1.4 objective):
      // every 5th token is replaced by an ordinal sentinel in the input
      // and emitted as "<X_k> token" in the target — the
      // denoising-objective pair generator of a pre-training pipeline.
      // ENTIRELY map-side: tokenize, mask, and re-join are higher-order
      // array ops per row (codegen'd, zero UDFs, zero shuffles — the only
      // exchange in the plan is the output sort), so at 100 TB this is a
      // pure scan-transform-write pass that scales with input bytes.
      // Spark lambda indices are 0-based; the oracle's list lambdas are
      // 1-based and shift by one.
      T(s, dir, "documents")
        .withColumn("tok", expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"))
        .withColumn("masked", expr("filter(tok, (t, i) -> i % 5 = 0)"))
        .select(col("doc_id"),
          expr("array_join(transform(tok, (t, i) -> IF(i % 5 = 0, " +
            "concat('<X_', CAST(i div 5 AS STRING), '>'), t)), ' ')").as("corrupted"),
          expr("array_join(transform(masked, (t, j) -> " +
            "concat('<X_', CAST(j AS STRING), '> ', t)), ' ')").as("targets"),
          expr("CAST(size(masked) AS BIGINT)").as("n_masked"))
        .orderBy("doc_id"),
      // DuckDB list lambdas are 1-based — (i − 1) mirrors Spark's 0-based
      // transform index exactly
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_transform(tok, (t, i) -> CASE WHEN (i - 1) % 5 = 0
        |    THEN '<X_' || CAST((i - 1) // 5 AS VARCHAR) || '>' ELSE t END), ' ') AS corrupted,
        |  array_to_string(list_transform(list_filter(tok, (t, i) -> (i - 1) % 5 = 0),
        |    (t, j) -> '<X_' || CAST(j - 1 AS VARCHAR) || '> ' || t), ' ') AS targets,
        |  CAST(len(list_filter(tok, (t, i) -> (i - 1) % 5 = 0)) AS BIGINT) AS n_masked
        |FROM t ORDER BY doc_id""".stripMargin,
      note = "pure map-side array transform — zero joins, zero aggregates, no explode; only the output sort exchanges"),
    Key("q316_binary_embedding", (s, dir) => {
      // 1-bit embedding serving (sign LSH / binary passage retrieval —
      // the 32× compression tier below SQ8 and PQ): each 64-dim vector
      // collapses to two 32-bit sign words, ranking is integer hamming
      // (bit_count over xor — NO float anywhere in the scoring path, so
      // determinism is free), and the gate row carries `hit`, membership
      // in the exact float top-5 — the recall readout that prices the
      // tier. Same broadcast-queries one-corpus-scan + two-phase k-heap
      // shape as q45; two words per vector is what rides the wire.
      val emb = T(s, dir, "embeddings")
      def words(df: DataFrame) = df.select(col("vec_id"),
        expr("aggregate(transform(sequence(0, 31), i -> IF(element_at(embedding, i + 1) > 0, " +
          "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("w_lo"),
        expr("aggregate(transform(sequence(32, 63), i -> IF(element_at(embedding, i + 1) > 0, " +
          "shiftleft(CAST(1 AS BIGINT), i - 32), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("w_hi"))
      val q = words(evalVectors(emb))
        .select(col("vec_id").as("query_id"), col("w_lo").as("q_lo"), col("w_hi").as("q_hi"))
      val c = words(emb)
        .select(col("vec_id").as("neighbor_id"), col("w_lo").as("c_lo"), col("w_hi").as("c_hi"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine",
          -(expr("bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi)").cast("double")))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
      val top5 = Similarity.topKPerQuery(scored, 5)
        .select(col("query_id"), col("neighbor_id"),
          (-col("cosine")).cast("long").as("hamming"), col("rn"))
      val truth = Similarity.cosineTopK(emb, evalVectors(emb),
        "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      top5.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rn"), col("neighbor_id"), col("hamming"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .orderBy("query_id", "rn")
    },
      // same two 32-bit sign words, same integer hamming ranking, and the
      // float truth is q45's scoring verbatim
      s"""WITH b AS (SELECT vec_id, i.i AS i,
         |    CASE WHEN embedding[i.i + 1] > 0
         |      THEN CAST(1 AS BIGINT) << CAST(i.i % 32 AS INT) ELSE 0 END AS v
         |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i),
         |w AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN i < 32 THEN v ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN i >= 32 THEN v ELSE 0 END) AS BIGINT) AS hi
         |  FROM b GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, lo AS q_lo, hi AS q_hi FROM w WHERE vec_id < 8),
         |s AS (SELECT q.query_id, w.vec_id AS neighbor_id,
         |    bit_count(xor(w.lo, q.q_lo)) + bit_count(xor(w.hi, q.q_hi)) AS hamming
         |  FROM w CROSS JOIN q WHERE w.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id, hamming,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rn FROM s),
         |fq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
         |fc AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |${exactCosCte("fs", "fc CROSS JOIN fq WHERE neighbor_id <> query_id")},
         |fr AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM fs),
         |truth AS (SELECT query_id, neighbor_id FROM fr WHERE rn <= 5)
         |SELECT r.query_id, r.rn, r.neighbor_id, CAST(r.hamming AS BIGINT) AS hamming,
         |  CAST(CASE WHEN truth.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
         |FROM r LEFT JOIN truth ON truth.query_id = r.query_id AND truth.neighbor_id = r.neighbor_id
         |WHERE r.rn <= 5 ORDER BY r.query_id, r.rn""".stripMargin,
      note = "sign words built map-side; queries and float-truth broadcast; integer-hamming k-heap"),
    Key("q317_cdc_apply", (s, dir) => {
      // ordered-changelog APPLY (the consumer of q123's diff stream, and
      // the missing half of q95's upsert: DELETES and re-inserts): replay
      // an I/U/D log onto a base snapshot with latest-op-wins per key.
      // The planted log exercises every ordering hazard — update@1,
      // delete@2, re-insert@3 on overlapping key sets, so %20 keys are
      // deleted THEN re-born. The engine applies the whole log in ONE
      // key-hash aggregate: max(struct(seq, …)) picks each key's final
      // op (no window, no per-op sequential passes — at 100 TB the apply
      // is one exchange), then a map-side filter drops keys whose final
      // op is D.
      val base = T(s, dir, "customer").select(col("c_custkey"),
        ops.Num.roundz(col("c_acctbal") * 100, 0).cast("long").as("cents"),
        col("c_mktsegment").as("segment"))
      val log = base.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit(1L).as("seq"), lit("U").as("op"),
          (col("cents") + 1000L).as("cents"), col("segment"))
        .unionByName(base.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit(2L).as("seq"), lit("D").as("op"),
            col("cents"), col("segment")))
        .unionByName(base.filter(col("c_custkey") % 20 === 0)
          .select(col("c_custkey"), lit(3L).as("seq"), lit("I").as("op"),
            lit(555L).as("cents"), lit("WINBACK").as("segment")))
      base.select(col("c_custkey"), lit(0L).as("seq"), lit("I").as("op"),
          col("cents"), col("segment"))
        .unionByName(log)
        .groupBy(col("c_custkey"))
        .agg(max(struct(col("seq"), col("op"), col("cents"), col("segment"))).as("last"))
        .filter(col("last.op") =!= "D")
        .select(col("c_custkey"), col("last.cents").as("cents"),
          col("last.segment").as("segment"))
        .orderBy("c_custkey")
    },
      q317Sql,
      note = "union + ONE max(struct) key aggregate (partial/final around one exchange); no window, no join"),
    Key("q318_hits", (s, dir) =>
      // two-sided importance on the DIRECTED customer→part purchase
      // relation: see [[Graph.hits]] — 2 exact-integer iterations, so
      // buyers of widely-bought parts and parts bought by broad buyers
      // reinforce, the signal a single PageRank score conflates
      Graph.hits(
        T(s, dir, "orders")
          .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey"), col("l_partkey")),
        "o_custkey", "l_partkey", iterations = 2)
        .orderBy("side", "node"),
      // 2 unrolled HITS iterations in the same scaled-long arithmetic:
      // sum, then score·10⁶ div max, alternating sides
      """WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS h, l.l_partkey AS a
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |h0 AS MATERIALIZED (SELECT DISTINCT h AS node, CAST(1000000 AS BIGINT) AS score FROM e),
        |a1r AS MATERIALIZED (SELECT e.a AS node, sum(h0.score) AS raw FROM e JOIN h0 ON h0.node = e.h GROUP BY 1),
        |a1 AS MATERIALIZED (SELECT node, CAST(raw * 1000000 // (SELECT max(raw) FROM a1r) AS BIGINT) AS score FROM a1r),
        |h1r AS MATERIALIZED (SELECT e.h AS node, sum(a1.score) AS raw FROM e JOIN a1 ON a1.node = e.a GROUP BY 1),
        |h1 AS MATERIALIZED (SELECT node, CAST(raw * 1000000 // (SELECT max(raw) FROM h1r) AS BIGINT) AS score FROM h1r),
        |a2r AS MATERIALIZED (SELECT e.a AS node, sum(h1.score) AS raw FROM e JOIN h1 ON h1.node = e.h GROUP BY 1),
        |a2 AS MATERIALIZED (SELECT node, CAST(raw * 1000000 // (SELECT max(raw) FROM a2r) AS BIGINT) AS score FROM a2r),
        |h2r AS MATERIALIZED (SELECT e.h AS node, sum(a2.score) AS raw FROM e JOIN a2 ON a2.node = e.a GROUP BY 1),
        |h2 AS MATERIALIZED (SELECT node, CAST(raw * 1000000 // (SELECT max(raw) FROM h2r) AS BIGINT) AS score FROM h2r)
        |SELECT 'auth' AS side, node, score FROM a2
        |UNION ALL SELECT 'hub', node, score FROM h2
        |ORDER BY side, node""".stripMargin,
      note = "bounded rounds checkpointed; per half-step node-keyed join + sum + broadcast 1-row max (plan-asserted via hitsHalfStep)"),
    Key("q319_audio_downsample", (s, dir) => {
      // REAL audio decimation under the gate: per doc a deterministic
      // 16-bit PCM ramp is synthesized into a genuine RIFF container,
      // REALLY parsed back (javax.sound, per partition), and decimated
      // 4:1 by block floor-means — see [[Multimodal.downsampleBox]]. The
      // oracle predicts every block mean arithmetically from the ramp
      // formula; sample counts vary per doc (80/84/88) so the full-block
      // contract (remainder dropped) is exercised at n % 4 = 0 only by
      // construction, and min/max/sum summarize the decimated signal
      // exactly.
      import s.implicits._
      val wavs = T(s, dir, "documents").select(col("doc_id"))
        .as[Long].mapPartitions(_.map { id =>
          val n = 80 + (id % 3).toInt * 4
          val samples = Array.tabulate[Short](n)(i => ((id * 31 + i * 7) % 401).toShort)
          (id, Multimodal.synthWavSamples(samples, 8000))
        }).toDF("doc_id", "payload")
      Multimodal.downsampleBox(wavs, "doc_id", 4).orderBy("doc_id")
    },
      // every block floor-mean predicted from the ramp formula
      // (sample i = (doc_id·31 + i·7) mod 401, blocks of 4, // floors
      // exactly like the engine's Math.floorDiv)
      """WITH d AS (SELECT doc_id, 80 + (doc_id % 3) * 4 AS n FROM documents),
        |m AS (SELECT d.doc_id, bb.b,
        |    CAST(sum((d.doc_id * 31 + (bb.b * 4 + ii.i) * 7) % 401) // 4 AS BIGINT) AS m
        |  FROM d, (SELECT unnest(range(0, 22)) AS b) bb, (SELECT unnest(range(0, 4)) AS i) ii
        |  WHERE bb.b < d.n // 4 GROUP BY 1, 2)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_in, CAST(d.n // 4 AS BIGINT) AS n_out,
        |  CAST(sum(m.m) AS BIGINT) AS sum_out, CAST(min(m.m) AS BIGINT) AS min_out,
        |  CAST(max(m.m) AS BIGINT) AS max_out
        |FROM d JOIN m ON m.doc_id = d.doc_id GROUP BY 1, 2, 3 ORDER BY d.doc_id""".stripMargin,
      note = "real WAV parse + decimation per partition; samples never shuffle; only the output sort exchanges"),
    Key("q320_fixed_width", (s, dir) => {
      // fixed-width (copybook-style) text interchange: rows render to a
      // 32-char fixed layout (custkey 10 zero-padded, segment 10
      // space-padded, signed cents 12 zero-padded), land in a REAL text
      // file, and the reader projects fields back out BY OFFSET — the
      // schema-on-read contract of mainframe/legacy feeds the reference's
      // CSV path can't express. All parse work is map-side codegen'd
      // substrings/casts; the gate aggregates per segment so the oracle
      // (which aggregates the source table directly) proves the roundtrip
      // lossless, sign and padding included.
      val path = scratch("fixed_width", dir)
      T(s, dir, "customer").select(
          format_string("%010d%-10s%012d", col("c_custkey"), col("c_mktsegment"),
            ops.Num.roundz(col("c_acctbal") * 100, 0).cast("long")).as("value"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .select(
          expr("CAST(substring(value, 1, 10) AS BIGINT)").as("c_custkey"),
          expr("trim(substring(value, 11, 10))").as("segment"),
          expr("CAST(substring(value, 21, 12) AS BIGINT)").as("cents"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy("segment")
    },
      // the oracle aggregates the SOURCE table directly — matching the
      // Spark side's render→write→read→parse path proves the fixed-width
      // roundtrip lossless, sign and padding included
      """SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(min(c_custkey) AS BIGINT) AS min_key,
        |  CAST(max(c_custkey) AS BIGINT) AS max_key
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "render/write/read/parse map-side; one segment aggregate"),
    Key("q321_corrupt_quarantine", (s, dir) => {
      // malformed-record quarantine at the ingest boundary: a JSONL feed
      // with planted corrupt lines (doc_id ≡ 7 mod 10) read back in
      // PERMISSIVE mode with an explicit corrupt-record column — bad
      // lines surface as rows (NULL fields + the raw line) instead of
      // failing the job (FAILFAST) or vanishing (DROPMALFORMED): the
      // production triage contract, since a silently-dropped record is
      // the one you needed. The gate row is the full-feed accounting
      // identity predicted from the planting rule; parse + quarantine
      // classification are entirely map-side.
      val path = scratch("jsonl_corrupt", dir)
      T(s, dir, "documents").select(
          when(col("doc_id") % 10 === 7,
            concat(lit("{oops "), col("doc_id").cast("string")))
            .otherwise(format_string("{\"id\":%d,\"v\":%d}",
              col("doc_id"), col("doc_id") * 3 % 100)).as("value"))
        .write.mode("overwrite").text(path)
      s.read
        .schema("id LONG, v LONG, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
          coalesce(sum(col("v")), lit(0L)).as("sum_v"))
    },
      // the planting rule predicts the quarantine accounting exactly
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN doc_id % 10 = 7 THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  CAST(sum(CASE WHEN doc_id % 10 = 7 THEN 0 ELSE doc_id * 3 % 100 END) AS BIGINT) AS sum_v
        |FROM documents""".stripMargin,
      note = "PERMISSIVE parse + quarantine classification on the scan; one global aggregate"),
    Key("q322_decimal_agg", (s, dir) =>
      // exact DECIMAL money aggregation: sums run in Spark's Decimal128
      // (map-side combined, no float drift, no add-order sensitivity) —
      // the ledger-grade alternative to double sums whose last bits
      // depend on partitioning. Totals surface as canonical strings so
      // the two engines' different result-precision widenings
      // (decimal(28,2) vs decimal(38,2)) compare on VALUE.
      T(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("__bal"),
          count(lit(1)).as("n"))
        .select(col("segment"), col("__bal").cast("string").as("total_bal"), col("n"))
        .orderBy("segment"),
      // exact decimal sums compared on canonical string VALUE (result
      // precisions widen differently per engine)
      """SELECT c_mktsegment AS segment,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18, 2))) AS VARCHAR) AS total_bal,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "Decimal128 sums map-side combined; one segment exchange"),
    Key("q323_nucleus_mass", (s, dir) => {
      // nucleus (top-p) vocabulary statistics PER LANGUAGE: the smallest
      // frequency-ranked head covering 90% of token mass — the
      // per-language truncation budget (q305's global OOV curve, keyed).
      // The running mass comes from [[TwoPhase.prefixSumKeyed]]: a
      // per-language vocabulary is corpus-sized at 100 TB, so
      // partitionBy(lang) alone would serialize each language onto one
      // task — the keyed two-phase rewrite bins globally, windows per
      // (lang, bin), and broadcasts the |langs|·bins offset table back.
      // Membership is integer-exact: a token is in the nucleus iff the
      // mass strictly before it is < 90% of its language's total.
      val tok = T(s, dir, "documents").select(col("lang"),
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = false)
      val cum = TwoPhase.prefixSumKeyed(tok, "lang", -col("cnt"),
        Seq(col("cnt").desc, col("w")), col("cnt"), "cum")
      val totals = tok.groupBy(col("lang")).agg(sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("vocab"))
      cum.join(broadcast(totals), Seq("lang"))
        .groupBy(col("lang"), col("total_tokens"), col("vocab"))
        .agg(sum(when((col("cum") - col("cnt")) * 10 < col("total_tokens") * 9, 1L)
          .otherwise(0L)).as("nucleus_size"))
        .select(col("lang"), col("total_tokens"), col("vocab"), col("nucleus_size"),
          expr("nucleus_size * 10000 div vocab").as("nucleus_bp"))
        .orderBy("lang")
    },
      // the per-lang window IS what prefixSumKeyed replaces; membership
      // by the same strict-before-mass integer inequality
      """WITH tok AS (SELECT lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)) AS w
        |  FROM documents),
        |c AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |cum AS (SELECT lang, cnt,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, w ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c),
        |t AS (SELECT lang, sum(cnt) AS total_tokens, count(*) AS vocab FROM c GROUP BY 1)
        |SELECT cum.lang, CAST(t.total_tokens AS BIGINT) AS total_tokens,
        |  CAST(t.vocab AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN (cum.cum - cum.cnt) * 10 < t.total_tokens * 9 THEN 1 ELSE 0 END) AS BIGINT) AS nucleus_size,
        |  CAST(sum(CASE WHEN (cum.cum - cum.cnt) * 10 < t.total_tokens * 9 THEN 1 ELSE 0 END) * 10000
        |    // t.vocab AS BIGINT) AS nucleus_bp
        |FROM cum JOIN t USING (lang) GROUP BY cum.lang, t.total_tokens, t.vocab
        |ORDER BY 1""".stripMargin,
      note = "keyed two-phase prefix sum: (lang, bin) windows, |langs|*bins offset table broadcast"),
    Key("q324_two_hop_reach", (s, dir) => {
      // 2-hop neighborhood size (friend-of-friend reach, the classic link
      // feature) for a FOCAL BATCH of nodes, expanding only through
      // intermediates of degree ≤ 60% of max. Both bounds are the scale
      // contract: exact all-nodes 2-hop is Σ deg(mid)² — quadratic in
      // density and intrinsically explosive (measured 45 s at sf0.1
      // before the seed bound) — but the PRODUCTION shape is per-batch
      // (score reach for this request's candidates), which caps the path
      // join at |seeds|·deg·cap; the hub-tier exclusion is RELATIVE so
      // the same rule holds at any scale. Edges from the shared
      // materialized co-purchase index; cap a 1-row broadcast; reach
      // counts DISTINCT destinations, self excluded.
      val e = copurchaseEdges(s, dir)
      val deg = copurchaseDegrees(s, dir)
        .select(col("node").as("src"), col("degree").as("deg"))
        .localCheckpoint(eager = false)
      val cap = deg.agg(max(col("deg")).as("__mx"))
      val low = deg.crossJoin(broadcast(cap))
        .filter(col("deg") * 10 <= col("__mx") * 6).select(col("src").as("mid"))
      val seeds = deg.filter(col("src") % 100 === 0)
      // r17 verdict item 5: the path join's SMALL side is the seed batch's
      // first-hop frame — ≤ Σ_{v∈seeds} deg(v) rows, a number the DEGREE
      // TABLE yields in one |nodes|-row aggregate before any edge-sized
      // work (this was the "cardinality only known by running the first
      // join" blocker: the degree index IS that cardinality). When it and
      // the |nodes|-row low frame fit the pageRank byte rule, both mid
      // joins probe broadcasts and the m-row edge list never exchanges;
      // beyond range the shape is the round-17 one (mid-keyed hash
      // exchanges). Reach counts are identical either way.
      val szRow = deg.agg(
        sum(when(col("src") % 100 === 0, col("deg")).otherwise(0L)).as("__sd"),
        count(lit(1)).as("__n")).head
      val seedDeg = if (szRow.isNullAt(0)) 0L else szRow.getLong(0)
      val bPath = ops.Graph.fitsRankBroadcast(seedDeg, LongType, LongType) &&
        ops.Graph.fitsRankBroadcast(szRow.getLong(1), LongType)
      def bc(df: org.apache.spark.sql.DataFrame) =
        if (bPath) broadcast(df) else df
      val hop2 = bc(e.select(col("src").as("v"), col("dst").as("mid"))
          .filter(col("v") % 100 === 0)
          .join(bc(low), Seq("mid")))
        .join(e.select(col("src").as("mid"), col("dst").as("w")), Seq("mid"))
        .filter(col("w") =!= col("v"))
        .select(col("v"), col("w")).distinct()
        .groupBy(col("v")).agg(count(lit(1)).as("reach2"))
      seeds.select(col("src").as("node"), col("deg").as("n_1hop"))
        .join(hop2, col("node") === hop2("v"), "left")
        .select(col("node"), col("n_1hop"),
          coalesce(col("reach2"), lit(0L)).as("reach2"))
        .orderBy("node")
    },
      // same focal batch (node ≡ 0 mod 100), same relative cap
      // (deg·10 ≤ max·6), same distinct-destination count
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |mx AS (SELECT max(deg) AS m FROM deg),
        |low AS (SELECT deg.src AS mid FROM deg, mx WHERE deg.deg * 10 <= mx.m * 6),
        |h2 AS (SELECT DISTINCT e1.src AS v, e2.dst AS w
        |  FROM e e1 JOIN low ON low.mid = e1.dst JOIN e e2 ON e2.src = e1.dst
        |  WHERE e1.src % 100 = 0 AND e2.dst <> e1.src),
        |r AS (SELECT v, count(*) AS reach2 FROM h2 GROUP BY 1)
        |SELECT deg.src AS node, CAST(deg.deg AS BIGINT) AS n_1hop,
        |  CAST(coalesce(r.reach2, 0) AS BIGINT) AS reach2
        |FROM deg LEFT JOIN r ON r.v = deg.src
        |WHERE deg.src % 100 = 0 ORDER BY node""".stripMargin,
      note = "relative degree cap broadcast; path join node-keyed through allowed intermediates only"),
    Key("q325_burstiness", (s, dir) => {
      // term burstiness (index of dispersion Var/mean of per-doc counts,
      // zeros included): the corpus-linguistics signal separating bursty
      // content words from uniformly-sprinkled function words — a
      // keyword/boilerplate discriminator df alone can't see. One token
      // pass to the vocabulary frame carrying (df, Σc, Σc²); dispersion
      // is EXACT integer arithmetic over those moments and the 1-row doc
      // count (D·1000 = (N·Σc² − T²)·1000 div (N·T) — Var/mean needs no
      // float), so zeros never materialize. Top-20 by (df desc, token)
      // via the ordered limit (TakeOrdered — never a full global sort).
      val docs = T(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("__n"))
      docs.select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
          sum(col("c") * col("c")).as("__sq"))
        .crossJoin(broadcast(n))
        .select(col("w").as("token"), col("df"), col("total"),
          expr("(__n * __sq - total * total) * 1000 div (__n * total)").as("disp_milli"))
        .orderBy(col("df").desc, col("token")).limit(20)
    },
      // same exact moment arithmetic; the numerator N·Σc² − T² is a
      // variance (≥ 0), so the integer division needs no floor caveat
      """WITH tokr AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM tokr GROUP BY 1, 2),
        |st AS (SELECT w AS token, count(*) AS df, sum(c) AS total, sum(c * c) AS sq FROM c GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT token, CAST(df AS BIGINT) AS df, CAST(total AS BIGINT) AS total,
        |  CAST((n.n * st.sq - st.total * st.total) * 1000 // (n.n * st.total) AS BIGINT) AS disp_milli
        |FROM st, n ORDER BY df DESC, token LIMIT 20""".stripMargin,
      note = "one token pass to vocabulary moments; dispersion exact-integer; top-20 TakeOrdered"),
    Key("q326_equidepth_hist", (s, dir) => {
      // ANALYZE-style equi-depth histogram (32 buckets over order value):
      // the optimizer-statistics primitive behind selectivity estimation
      // — bucket boundaries carry equal row mass, so a range predicate's
      // selectivity reads off bucket counts. Exact bucket assignment via
      // the two-phase global rank + closed-form ntile (q96's machinery:
      // never a single-partition window over the fact table); per-bucket
      // lo/hi/count in exact cents.
      val o = T(s, dir, "orders").select(col("o_orderkey"),
        ops.Num.roundz(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val (ranked, nTot) = TwoPhase.globalRank(o, col("cents"),
        Seq(col("cents"), col("o_orderkey")), "rank")
      ranked
        .withColumn("bucket", TwoPhase.ntileFromRank("rank", nTot, 32).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"), min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"))
        .orderBy("bucket")
    },
      // DuckDB's ntile implements the same SQL-standard allocation as
      // ntileFromRank (first n mod k buckets take one extra row)
      """WITH o AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT cents,
        |    CAST(ntile(32) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS bucket FROM o)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(cents) AS BIGINT) AS lo_cents, CAST(max(cents) AS BIGINT) AS hi_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "two-phase global rank + closed-form ntile; never a single-partition window"),
    Key("q327_strip_accents", (s, dir) => {
      // diacritic folding for multilingual dedup keys: accented variants
      // (planted by translating vowels on even docs — the fixture corpus
      // is pure ASCII, so the accents are synthesized deterministically)
      // fold back to their base letters via the codegen'd
      // [[graft.functions.StripAccents]] expression (NFD + drop combining
      // marks — what NFC normalization alone can't do). Entirely
      // map-side; the gate compares every folded string char-for-char
      // against DuckDB's independent strip_accents implementation, which
      // is the cross-engine semantics proof.
      val accented = when(col("doc_id") % 2 === 0,
        translate(substring(col("text"), 1, 24), "aeiou", "áéíóü"))
        .otherwise(substring(col("text"), 1, 24))
      T(s, dir, "documents")
        .select(col("doc_id"), accented.as("accented"),
          graft.functions.StripAccents(accented).as("folded"))
        .orderBy("doc_id")
    },
      // DuckDB's strip_accents is an INDEPENDENT implementation of the
      // same folding — agreeing char-for-char on every planted accent is
      // the cross-engine semantics proof
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN translate(substr(text, 1, 24), 'aeiou', 'áéíóü')
        |    ELSE substr(text, 1, 24) END AS accented,
        |  strip_accents(CASE WHEN doc_id % 2 = 0 THEN translate(substr(text, 1, 24), 'aeiou', 'áéíóü')
        |    ELSE substr(text, 1, 24) END) AS folded
        |FROM documents ORDER BY doc_id""".stripMargin,
      note = "codegen'd strip_accents expression inside WholeStageCodegen; map-side only"),
    Key("q328_robots_filter", (s, dir) => {
      // crawl-policy domain filtering: each doc's host reduces to its
      // REGISTERED domain (last two labels — extracted from the string,
      // never trusted from metadata) and joins a broadcast blocklist, so
      // sub.dom0.com is blocked by the dom0.com entry — suffix-match
      // semantics a naive host equality misses. The blocklist is
      // metadata-sized (it broadcasts; the corpus never shuffles for it);
      // extraction is map-side array ops. Output is the per-domain
      // admission ledger.
      import s.implicits._
      val hosts = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("sub"), (col("doc_id") % 4).cast("string"),
          lit(".dom"), (col("doc_id") % 7).cast("string"), lit(".com")).as("host"))
      val withReg = hosts.withColumn("reg_domain",
        expr("array_join(slice(split(host, '\\\\.'), -2, 2), '.')"))
      val block = Seq("dom0.com", "dom3.com").toDF("reg_domain")
        .withColumn("blocked", lit(1L))
      withReg.join(broadcast(block), Seq("reg_domain"), "left")
        .groupBy(col("reg_domain"))
        .agg(count(lit(1)).as("n_docs"),
          max(coalesce(col("blocked"), lit(0L))).as("blocked"))
        .orderBy("reg_domain")
    },
      // same last-two-label extraction, same suffix-match-by-registered-
      // domain semantics
      """WITH h AS (SELECT doc_id,
        |    'sub' || CAST(doc_id % 4 AS VARCHAR) || '.dom' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
        |  FROM documents),
        |r AS (SELECT doc_id, array_to_string(
        |    string_split(host, '.')[len(string_split(host, '.')) - 1 : len(string_split(host, '.'))], '.') AS reg_domain
        |  FROM h),
        |b AS (SELECT * FROM (VALUES ('dom0.com'), ('dom3.com')) AS t(reg_domain))
        |SELECT r.reg_domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(CASE WHEN b.reg_domain IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS blocked
        |FROM r LEFT JOIN b ON b.reg_domain = r.reg_domain GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "registered-domain extraction map-side; blocklist broadcast"),
    Key("q329_vector_norm_audit", (s, dir) => {
      // embedding-store hygiene: flag vectors whose norm² deviates from
      // the corpus median by > 10·MAD — the corrupt-vector detector
      // (zeroed rows, double-scaled rows) that runs BEFORE an index
      // build, with two planted corruptions proving both tails. All
      // arithmetic exact: norm² in micro² longs (map-side array fold),
      // median and MAD as lower medians selected BY RANK via the
      // two-phase global rank (never a single-partition window), each
      // 1-row statistic joining back as a broadcast.
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .unionByName(T(s, dir, "embeddings").filter(col("vec_id") < 2)
          .select((col("vec_id") + 9000001L).as("vec_id"),
            expr("transform(embedding, x -> CAST(20.0 AS FLOAT))").as("embedding")))
        .unionByName(T(s, dir, "embeddings").filter(col("vec_id") < 2)
          .select((col("vec_id") + 9000003L).as("vec_id"),
            expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").as("embedding")))
      val nsq = emb.select(col("vec_id"),
        expr("aggregate(transform(embedding, x -> " +
          "CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT) * " +
          "CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (a, y) -> a + y)")
          .as("norm_sq")).localCheckpoint(eager = false)
      def lowerMedian(df: DataFrame, v: String): DataFrame = {
        val (ranked, n) = TwoPhase.globalRank(df, col(v), Seq(col(v), col("vec_id")), "__r")
        ranked.filter(col("__r") === lit((n + 1) / 2)).select(col(v).as("__med"))
      }
      val med = lowerMedian(nsq, "norm_sq")
      val dev = nsq.crossJoin(broadcast(med))
        .select(col("vec_id"), col("norm_sq"), abs(col("norm_sq") - col("__med")).as("abs_dev"))
        .localCheckpoint(eager = false)
      val mad = lowerMedian(dev.select(col("vec_id"), col("abs_dev")), "abs_dev")
        .select(col("__med").as("__mad"))
      dev.crossJoin(broadcast(mad))
        .filter(col("abs_dev") > col("__mad") * 10)
        .select(col("vec_id"), col("norm_sq"), col("abs_dev"))
        .orderBy("vec_id")
    },
      // same micro² norms, same planted corruptions, same lower-median-
      // by-rank definition for median and MAD
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 9000001, list_transform(embedding, x -> CAST(20.0 AS FLOAT))
        |    FROM embeddings WHERE vec_id < 2
        |  UNION ALL SELECT vec_id + 9000003, list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |    FROM embeddings WHERE vec_id < 2),
        |nsq AS (SELECT vec_id, CAST(list_sum(list_transform(embedding, x ->
        |    CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT) *
        |    CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))) AS BIGINT) AS norm_sq
        |  FROM base),
        |n AS (SELECT count(*) AS n FROM nsq),
        |rmed AS (SELECT norm_sq, row_number() OVER (ORDER BY norm_sq, vec_id) AS r FROM nsq),
        |med AS (SELECT rmed.norm_sq AS med FROM rmed, n WHERE rmed.r = (n.n + 1) // 2),
        |dev AS (SELECT vec_id, norm_sq, abs(norm_sq - med.med) AS abs_dev FROM nsq, med),
        |rmad AS (SELECT abs_dev, row_number() OVER (ORDER BY abs_dev, vec_id) AS r FROM dev),
        |mad AS (SELECT rmad.abs_dev AS mad FROM rmad, n WHERE rmad.r = (n.n + 1) // 2)
        |SELECT d.vec_id, d.norm_sq, CAST(d.abs_dev AS BIGINT) AS abs_dev
        |FROM dev d, mad WHERE d.abs_dev > mad.mad * 10 ORDER BY d.vec_id""".stripMargin,
      note = "micro-square norms map-side; median/MAD by two-phase rank; 1-row stats broadcast back"),
    Key("q330_feature_hashing", (s, dir) => {
      // the hashing trick (Weinberger et al., ICML 2009): tokens map to a
      // FIXED 256-bucket feature space via the codegen'd polynomial hash,
      // with a ±1 sign bit from the next hash bit so colliding tokens
      // partially cancel instead of summing — what makes a
      // dimensionality-fixed featurizer work without a vocabulary at all
      // (no vocab table, no OOV, no growth at 100 TB: the feature space
      // never changes size). The gate row is the per-bucket collision
      // ledger: distinct tokens (collisions = n−1), raw mass, signed
      // mass. One token pass, one bucket aggregate — both map-side
      // combined.
      T(s, dir, "documents").select(
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("fp", graft.functions.RollingHash(col("w")))
        .withColumn("bucket", col("fp") % 256)
        .withColumn("sign", expr("((fp div 256) % 2) * 2 - 1"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("mass"),
          sum(col("sign") * col("c")).as("signed_mass"))
        .orderBy("bucket")
    },
      // same char-level polynomial hash (list_reduce), same bucket and
      // sign-bit arithmetic
      """WITH tokr AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tokr GROUP BY 1),
        |f AS (SELECT w, c, list_reduce(
        |    list_transform(range(1, length(w) + 1),
        |      i -> CAST(ord(substr(w, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp FROM c),
        |s AS (SELECT fp % 256 AS bucket, ((fp // 256) % 2) * 2 - 1 AS sign, c FROM f)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c) AS BIGINT) AS mass, CAST(sum(sign * c) AS BIGINT) AS signed_mass
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "vocabulary-free: hash+sign map-side, one bucket aggregate, no join at all"),
    Key("q331_count_min", (s, dir) => {
      // count-min sketch (Cormode & Muthukrishnan 2005) with its error
      // audited against exact truth: 3 hash rows × 64 columns of summed
      // mass — a 192-cell MERGEABLE summary (cells sum across shards/
      // batches by construction, the streaming-frequency primitive
      // Misra–Gries (q155) complements with its keep-k form) — then the
      // top-20 true tokens read back est = min over rows, which can only
      // OVERcount (collisions add, never subtract): overest ≥ 0 is the
      // structural guarantee the gate row exhibits per token. The sketch
      // is metadata-sized and broadcasts; truth comes from the same one
      // token pass.
      val tok = T(s, dir, "documents").select(
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("fp", graft.functions.RollingHash(col("w")))
        .localCheckpoint(eager = false)
      val seeds = Seq((0, 31L, 7L), (1, 131L, 13L), (2, 1031L, 17L))
      val hashed = seeds.map { case (i, a, b) =>
        tok.select(lit(i).as("row"),
          ((col("fp") * a + b) % 1000000007L % 64).as("col"),
          col("w"), col("c"))
      }.reduce(_ unionByName _)
      val sketch = hashed.groupBy(col("row"), col("col")).agg(sum(col("c")).as("cell"))
      val top = tok.orderBy(col("c").desc, col("w")).limit(20)
        .select(col("w"), col("c").as("true_cnt"), col("fp"))
      seeds.map { case (i, a, b) =>
        top.select(col("w"), col("true_cnt"), lit(i).as("row"),
          ((col("fp") * a + b) % 1000000007L % 64).as("col"))
      }.reduce(_ unionByName _)
        .join(broadcast(sketch), Seq("row", "col"))
        .groupBy(col("w"), col("true_cnt"))
        .agg(min(col("cell")).as("cms_est"))
        .select(col("w").as("token"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("overest"))
        .orderBy(col("true_cnt").desc, col("token"))
    },
      // same 3×64 sketch, same row hashes, same min-over-rows readback
      """WITH tokr AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tokr GROUP BY 1),
        |f AS (SELECT w, c, list_reduce(
        |    list_transform(range(1, length(w) + 1),
        |      i -> CAST(ord(substr(w, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp FROM c),
        |seeds AS (SELECT * FROM (VALUES (0, 31, 7), (1, 131, 13), (2, 1031, 17)) AS t(r, a, b)),
        |h AS (SELECT f.w, f.c, f.fp, seeds.r, (f.fp * seeds.a + seeds.b) % 1000000007 % 64 AS col
        |  FROM f CROSS JOIN seeds),
        |sk AS (SELECT r, col, sum(c) AS cell FROM h GROUP BY 1, 2),
        |top AS (SELECT w, c AS true_cnt, fp FROM c JOIN f USING (w, c)
        |  ORDER BY c DESC, w LIMIT 20),
        |est AS (SELECT top.w, top.true_cnt, min(sk.cell) AS cms_est
        |  FROM top CROSS JOIN seeds
        |  JOIN sk ON sk.r = seeds.r AND sk.col = (top.fp * seeds.a + seeds.b) % 1000000007 % 64
        |  GROUP BY 1, 2)
        |SELECT w AS token, CAST(true_cnt AS BIGINT) AS true_cnt,
        |  CAST(cms_est AS BIGINT) AS cms_est,
        |  CAST(cms_est - true_cnt AS BIGINT) AS overest
        |FROM est ORDER BY true_cnt DESC, token""".stripMargin,
      note = "192-cell sketch broadcast for readback; top-20 truth TakeOrdered"),
    Key("q332_gzip_text", (s, dir) => {
      // compressed-text interchange: lines land in REAL gzip files and
      // read back through Spark's transparent codec path — the default
      // wire format of web-crawl dumps (WET/WARC-derived feeds ship
      // gzipped). The caveat this key encodes: gzip is NOT splittable,
      // so one file = one read task — at 100 TB the parallelism contract
      // is MANY gzip files (here one per write task), never one giant
      // archive. The gate proves byte fidelity through compress +
      // decompress by aggregating the parsed lines against the source
      // table.
      val path = scratch("gzip_text", dir)
      T(s, dir, "documents")
        .select(concat(col("doc_id").cast("string"), lit("|"), col("text")).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(path)
      s.read.text(path).select(
          expr("CAST(substring_index(value, '|', 1) AS BIGINT)").as("doc_id"),
          expr("substring(value, instr(value, '|') + 1, length(value))").as("text"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum(col("doc_id")).as("id_sum"))
    },
      // aggregating the source table directly — equality proves the
      // gzip compress/decompress roundtrip lossless
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents""".stripMargin,
      note = "transparent-codec read; parse + one global aggregate; parallelism = one task per gzip file"),
    Key("q333_partition_overwrite", (s, dir) => {
      // DYNAMIC partition overwrite (the lakehouse backfill contract):
      // rewriting one day's slice must replace exactly that partition —
      // static overwrite mode would silently DROP every other partition,
      // the classic data-loss footgun this mode exists to prevent. The
      // gate writes the full day-partitioned table, re-lands 2024-01-05
      // with doubled cents under partitionOverwriteMode=dynamic, and
      // proves every other day byte-identical; the session config is
      // restored in a finally.
      val path = scratch("dyn_overwrite", dir)
      val ev = T(s, dir, "events").select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        ops.Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      ev.write.mode("overwrite").partitionBy("day").parquet(path)
      val conf = "spark.sql.sources.partitionOverwriteMode"
      val old = s.conf.get(conf, "STATIC")
      s.conf.set(conf, "dynamic")
      try ev.filter(col("day") === "2024-01-05")
        .withColumn("cents", col("cents") * 2)
        .write.mode("overwrite").partitionBy("day").parquet(path)
      finally s.conf.set(conf, old)
      // partition-dir read-back type-infers day as DATE — pin the string
      s.read.parquet(path).withColumn("day", col("day").cast("string"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("day")
    },
      // only 2024-01-05 doubles; every other day must stay identical —
      // the static-mode data-loss failure would empty them instead
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT) *
        |    CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '2024-01-05'
        |      THEN 2 ELSE 1 END) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "dynamic-mode single-partition rewrite; day aggregate on read-back"),
    Key("q334_dynamic_pruning", (s, dir) => {
      // DYNAMIC PARTITION PRUNING: joining a day-partitioned fact to a
      // filtered dim must prune fact PARTITIONS at runtime (the dim's
      // day set rides into the fact scan as a dynamicpruning subquery) —
      // at 100 TB this is the difference between scanning 3 days and
      // scanning all of them when the day list isn't known until the dim
      // is read. PlanSpec asserts the pruning subquery is in the fact
      // scan's partition filters; the gate proves the join result
      // matches the static-filter twin.
      val path = scratch("dpp_fact", dir)
      val ev = T(s, dir, "events").select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        ops.Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      ev.write.mode("overwrite").partitionBy("day").parquet(path)
      val fact = s.read.parquet(path).withColumn("day", col("day").cast("string"))
      val dim = T(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
        .filter(col("day") <= "2024-01-03")
      fact.join(broadcast(dim), Seq("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("day")
    },
      // the static-filter twin of the runtime-pruned join
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') <= '2024-01-03'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "dynamicpruning subquery in the fact scan's PartitionFilters; day dim broadcast"),
    Key("q335_code_switch", (s, dir) => {
      // code-switching detection (mixed-language documents poison
      // monolingual training sets): language-ID each HALF of the doc
      // independently and flag confident disagreement — the cheap
      // first-pass filter before any per-sentence LID. German marker
      // tails are planted on doc_id ≡ 4 (mod 10) so the flag has
      // positives to find. Entirely expression-native and map-side
      // (the same codegen'd regexp scoring as q50, twice).
      val t = when(col("doc_id") % 10 === 4,
        concat(col("text"), lit(" der die das und ist nicht ein")))
        .otherwise(col("text"))
      T(s, dir, "documents")
        .select(col("doc_id"), t.as("t"))
        .withColumn("h1", expr("substring(t, 1, length(t) div 2)"))
        .withColumn("h2", expr("substring(t, length(t) div 2 + 1, length(t))"))
        .select(col("doc_id"),
          TextAnalysis.langId(col("h1")).as("lang_a"),
          TextAnalysis.langId(col("h2")).as("lang_b"))
        .withColumn("mixed",
          (col("lang_a") =!= lit("und") && col("lang_b") =!= lit("und") &&
            col("lang_a") =!= col("lang_b")).cast("long"))
        .orderBy("doc_id")
    },
      // same planted German tails, same per-half langid CASE, same
      // confident-disagreement rule
      s"""WITH t AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 4 THEN text || ' der die das und ist nicht ein'
         |      ELSE text END AS tt FROM documents),
         |h AS (SELECT doc_id, substr(tt, 1, length(tt) // 2) AS h1,
         |    substr(tt, length(tt) // 2 + 1, length(tt)) AS h2 FROM t),
         |lid AS (SELECT doc_id, ${langCaseOn("h1")} AS lang_a,
         |    ${langCaseOn("h2")} AS lang_b FROM h)
         |SELECT doc_id, lang_a, lang_b,
         |  CAST(CASE WHEN lang_a <> 'und' AND lang_b <> 'und' AND lang_a <> lang_b
         |    THEN 1 ELSE 0 END AS BIGINT) AS mixed
         |FROM lid ORDER BY doc_id""".stripMargin,
      note = "two expression-native langid scans per row, map-side; no joins"),
    Key("q336_temporal_split", (s, dir) => {
      // time-based train/test split WITH EMBARGO (the financial-ML
      // leakage standard, López de Prado 2018): train ends two days
      // before test begins, the gap absorbing look-ahead through
      // slow-moving features; the gate row carries each split's event
      // and user mass plus its USER OVERLAP WITH TEST — the
      // cross-contamination readout (time splits don't isolate users;
      // the overlap column is what an entity-level split would zero).
      // Two aggregates and one distinct-user semi-frame join; the splits
      // are map-side CASE tags, never three scans.
      val ev = T(s, dir, "events").withColumn("split",
        when(col("ts") < lit("2024-01-18").cast("timestamp"), "1_train")
          .when(col("ts") < lit("2024-01-20").cast("timestamp"), "2_embargo")
          .otherwise("3_test"))
      val users = ev.select(col("split"), col("user_id")).distinct()
        .localCheckpoint(eager = false)
      val testUsers = users.filter(col("split") === "3_test")
        .select(col("user_id")).withColumn("__t", lit(1L))
      val overlap = users.join(broadcast(testUsers), Seq("user_id"))
        .groupBy(col("split")).agg(count(lit(1)).as("users_in_test"))
      ev.groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"), count_distinct(col("user_id")).as("n_users"))
        .join(overlap, Seq("split"), "left")
        .select(col("split"), col("n_events"), col("n_users"),
          coalesce(col("users_in_test"), lit(0L)).as("users_in_test"))
        .orderBy("split")
    },
      // same split boundaries, same user-overlap-with-test readout
      """WITH ev AS (SELECT user_id, CASE
        |    WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-18' THEN '1_train'
        |    WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20' THEN '2_embargo'
        |    ELSE '3_test' END AS split FROM events),
        |u AS (SELECT DISTINCT split, user_id FROM ev),
        |tu AS (SELECT user_id FROM u WHERE split = '3_test'),
        |ov AS (SELECT u.split, count(*) AS users_in_test FROM u JOIN tu USING (user_id) GROUP BY 1)
        |SELECT ev.split, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users,
        |  CAST(coalesce(max(ov.users_in_test), 0) AS BIGINT) AS users_in_test
        |FROM ev LEFT JOIN ov ON ov.split = ev.split
        |GROUP BY ev.split ORDER BY ev.split""".stripMargin,
      note = "map-side CASE split tags; distinct-user frames; broadcast overlap join"),
    Key("q337_template_dedup", (s, dir) => {
      // instruction-data TEMPLATE dedup: prompts that differ only in
      // filled-in values ("Q123: rate ..." vs "Q456: rate ...") collapse
      // after normalization (lowercase, strip digits and punctuation,
      // collapse whitespace) — the near-dup mode value-level exact dedup
      // (q43) and shingle MinHash (q44) both miss when the template is
      // short and the slots dominate. Normalization is map-side codegen'd
      // regex; dedup is one groupBy on the normalized key; only groups
      // of ≥ 2 surface.
      val prompt = concat(lit("Q"), col("doc_id").cast("string"), lit(": "),
        substring(col("text"), 1, 40))
      T(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(regexp_replace(lower(prompt),
            "[0-9]", ""), "[^a-z ]", ""), "\\s+", " ")).as("template"))
        .groupBy(col("template"))
        .agg(count(lit(1)).as("n_prompts"), min(col("doc_id")).as("keeper_id"))
        .filter(col("n_prompts") >= 2)
        .orderBy("template")
    },
      // same normalization chain (lower → strip digits → strip
      // non-alpha → collapse whitespace → trim), same ≥2 group filter
      """WITH p AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      lower('Q' || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 40)),
        |      '[0-9]', '', 'g'), '[^a-z ]', '', 'g'), '\s+', ' ', 'g')) AS template
        |  FROM documents)
        |SELECT template, CAST(count(*) AS BIGINT) AS n_prompts,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_id
        |FROM p GROUP BY 1 HAVING count(*) >= 2 ORDER BY template""".stripMargin,
      note = "normalization regex chain map-side; one groupBy on the template key"),
    Key("q338_cross_modal_audit", (s, dir) => {
      // cross-modality dedup agreement: text near-dup pairs (the shared
      // materialized MinHash index) vs image exact-dup pairs (dHash over
      // the q228 synthesized gradients), full-outer joined PAIR-KEYED and
      // classified both/text_only/image_only — the audit that says
      // whether one modality's dedup can proxy for the other (it can't:
      // the planted structures are independent, and the ledger shows it).
      // Both pair lists are candidate-bounded (banded LSH; hash groups);
      // the classification join carries only id pairs.
      val (pairs, _) = dedupIndex(s, dir)
      val tp = pairs.filter(col("id_a") < 300 && col("id_b") < 300)
        .select(col("id_a"), col("id_b")).withColumn("t", lit(1L))
      import s.implicits._
      val imgs = T(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 300)
        .as[Long].mapPartitions(_.map { id =>
          val g = id % 50
          (id, Multimodal.synthPngPixels(9, 7, (x, y) => {
            val v = ((g * 13 + x * (y + 3)) % 256).toInt
            (v << 16) | (v << 8) | v
          }))
        }).toDF("doc_id", "payload")
      val hashed = Multimodal.dHash56(imgs, "doc_id").localCheckpoint(eager = false)
      val ip = hashed.select(col("dhash"), col("doc_id").as("id_a"))
        .join(hashed.select(col("dhash"), col("doc_id").as("id_b")), Seq("dhash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).withColumn("i", lit(1L))
      tp.join(ip, Seq("id_a", "id_b"), "full_outer")
        .select(when(col("t").isNotNull && col("i").isNotNull, "both")
          .when(col("t").isNotNull, "text_only")
          .otherwise("image_only").as("signal"))
        .groupBy(col("signal")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("signal")
    },
      // text pairs = q44's full MinHash SQL; image pairs = q228's
      // arithmetic dHash groups; same full-outer classification
      s"""WITH tpairs AS ($q44Sql),
         |tp AS (SELECT id_a, id_b FROM tpairs WHERE id_a < 300 AND id_b < 300),
         |d AS (SELECT doc_id, doc_id % 50 AS gv FROM documents WHERE doc_id < 300),
         |bits AS (SELECT d.doc_id,
         |    CASE WHEN (d.gv * 13 + (x.x + 1) * (y.y + 3)) % 256
         |            > (d.gv * 13 + x.x * (y.y + 3)) % 256
         |      THEN CAST(1 AS BIGINT) << CAST(y.y * 8 + x.x AS INT) ELSE 0 END AS b
         |  FROM d, (SELECT unnest(range(0, 8)) AS x) x, (SELECT unnest(range(0, 7)) AS y) y),
         |h AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS dhash FROM bits GROUP BY 1),
         |ip AS (SELECT a.doc_id AS id_a, z.doc_id AS id_b
         |  FROM h a JOIN h z ON a.dhash = z.dhash AND a.doc_id < z.doc_id),
         |cls AS (SELECT CASE
         |    WHEN tp.id_a IS NOT NULL AND ip.id_a IS NOT NULL THEN 'both'
         |    WHEN tp.id_a IS NOT NULL THEN 'text_only' ELSE 'image_only' END AS signal
         |  FROM tp FULL OUTER JOIN ip ON tp.id_a = ip.id_a AND tp.id_b = ip.id_b)
         |SELECT signal, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "stored MinHash pairs + dHash-group pairs; full-outer join on id pairs only"),
    Key("q339_stream_cdc_apply", (s, dir) =>
      // q317's changelog apply as a CONTINUOUS MERGE: seq-ordered op
      // batches each merge onto the previous batch-keyed state snapshot
      // (anti join out the batch's keys, union in its non-deletes); the
      // final snapshot must equal the one-shot batch fold — the oracle
      // IS q317's SQL, which makes the gate row the incremental ≡ batch
      // proof. See [[Streaming.cdcApplyReplay]].
      Streaming.cdcApplyReplay(s, dir, scratch("q339_src", dir)),
      // the oracle is q317's batch fold VERBATIM: equality of the
      // streamed merge chain's final snapshot with it IS the
      // incremental ≡ batch proof
      q317Sql,
      note = "per batch one anti join + union onto the prior batch-keyed state snapshot; final snapshot scan"),
    Key("q340_padding_waste", (s, dir) =>
      // dynamic-batching padding ledger: docs bucket to the next
      // power-of-two length tier (the bucketed-batching serving/training
      // standard) and each tier reports its padding waste in exact basis
      // points — the number that decides between bucket granularities
      // (finer tiers = less padding, more batch fragmentation). The tier
      // is an integer indicator ladder (no float log2, whose exactness
      // at tier boundaries would be an engine coin-flip); one token-count
      // pass, one tier aggregate, both map-side combined.
      T(s, dir, "documents")
        .select(TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .withColumn("bucket", expr(
          "CASE WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 " +
            "WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 " +
            "WHEN n <= 512 THEN 512 ELSE 1024 END"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
        .select(col("bucket").cast("long").as("bucket"), col("n_docs"), col("tokens"),
          (col("n_docs") * col("bucket")).as("padded_tokens"),
          expr("((n_docs * bucket - tokens) * 10000) div (n_docs * bucket)").as("waste_bp"))
        .orderBy("bucket"),
      // same indicator-ladder tiers, same integer waste arithmetic
      """WITH t AS (SELECT CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n FROM documents),
        |b AS (SELECT CASE WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |    WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
        |    WHEN n <= 512 THEN 512 ELSE 1024 END AS bucket, n FROM t)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS tokens,
        |  CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
        |  CAST(((count(*) * bucket - sum(n)) * 10000) // (count(*) * bucket) AS BIGINT) AS waste_bp
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
      note = "integer tier ladder map-side; one tier aggregate"),
    Key("q341_rendezvous_shards", (s, dir) => {
      // rendezvous (highest-random-weight) sharding with a RESIZE audit:
      // each doc goes to the shard maximizing h(doc, shard), and when the
      // fleet grows 8 → 9 only docs whose NEW shard wins move — the
      // ~1/9 relocation bound that makes HRW the shard-assignment scheme
      // of caches and vector-index fleets (mod-N hashing would move
      // ~8/9 of the corpus). Assignment is pure map-side integer
      // arithmetic (argmax via struct max over the shard sequence, ties
      // to the smallest shard); the gate ledgers per-shard mass before/
      // after and the moved-in count, so the relocation fraction is
      // read straight off the row set.
      def shardOf(n: Int) = expr(
        s"-array_max(transform(sequence(0, ${n - 1}), s -> " +
          "struct((doc_id * (1000003 + s * 17) + s * 1009) % 1000000007 AS h, -s AS ns))).ns")
      val asg = T(s, dir, "documents").select(col("doc_id"),
        shardOf(8).cast("long").as("s8"), shardOf(9).cast("long").as("s9"))
        .localCheckpoint(eager = false)
      val before = asg.groupBy(col("s8").as("shard")).agg(count(lit(1)).as("n_before"))
      val after = asg.groupBy(col("s9").as("shard")).agg(count(lit(1)).as("n_after"))
      val moved = asg.filter(col("s8") =!= col("s9"))
        .groupBy(col("s9").as("shard")).agg(count(lit(1)).as("moved_in"))
      after.join(before, Seq("shard"), "left")
        .join(moved, Seq("shard"), "left")
        .select(col("shard"), coalesce(col("n_before"), lit(0L)).as("n_before"),
          col("n_after"), coalesce(col("moved_in"), lit(0L)).as("moved_in"))
        .orderBy("shard")
    },
      // same HRW hash, argmax as the rank window the engine's struct-max
      // replaces; ties to the smallest shard
      """WITH h AS (SELECT doc_id, s.s AS s,
        |    (doc_id * (1000003 + s.s * 17) + s.s * 1009) % 1000000007 AS h
        |  FROM documents, (SELECT unnest(range(0, 9)) AS s) s),
        |r8 AS (SELECT doc_id, s AS s8, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
        |  FROM h WHERE s < 8),
        |a8 AS (SELECT doc_id, s8 FROM r8 WHERE rn = 1),
        |r9 AS (SELECT doc_id, s AS s9, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
        |  FROM h),
        |a9 AS (SELECT doc_id, s9 FROM r9 WHERE rn = 1),
        |j AS (SELECT a8.doc_id, a8.s8, a9.s9 FROM a8 JOIN a9 USING (doc_id)),
        |bf AS (SELECT s8 AS shard, count(*) AS n_before FROM j GROUP BY 1),
        |af AS (SELECT s9 AS shard, count(*) AS n_after FROM j GROUP BY 1),
        |mv AS (SELECT s9 AS shard, count(*) AS moved_in FROM j WHERE s8 <> s9 GROUP BY 1)
        |SELECT af.shard, CAST(coalesce(bf.n_before, 0) AS BIGINT) AS n_before,
        |  CAST(af.n_after AS BIGINT) AS n_after,
        |  CAST(coalesce(mv.moved_in, 0) AS BIGINT) AS moved_in
        |FROM af LEFT JOIN bf USING (shard) LEFT JOIN mv USING (shard)
        |ORDER BY af.shard""".stripMargin,
      note = "HRW argmax as a per-row array fold (no explode); three shard aggregates"),
    Key("q342_pattern_match", (s, dir) => {
      // event-sequence pattern matching (MATCH_RECOGNIZE-lite, the CEP
      // gap in Spark's SQL surface): per user, count occurrences of
      // "view then purchase within the next 2 events, with no error in
      // between" — the conversion-with-clean-path pattern a funnel count
      // (q86) can't express because it needs ORDER and EXCLUSION, not
      // mere presence. One exchange on user_id, one per-user sort, two
      // lead() columns — the pattern is a map-side boolean over the
      // window frame, linear in events.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("n1"),
          lead(col("event_type"), 2).over(w).as("n2"))
        .filter(col("event_type") === "view" &&
          (col("n1") === "purchase" ||
            (col("n1") =!= "error" && col("n2") === "purchase")))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_matches"))
        .orderBy("user_id")
    },
      // identical lead() pattern; NULL tail windows fail the predicate
      // in both engines (x <> 'error' is NULL, not true, on NULL)
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n1,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n2
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches FROM o
        |WHERE event_type = 'view' AND (n1 = 'purchase' OR (n1 <> 'error' AND n2 = 'purchase'))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "two leads in one user-partitioned frame; map-side pattern predicate"),
    Key("q343_missing_partitions", (s, dir) => {
      // backfill planning: which calendar days SHOULD exist but don't —
      // the gap detector an orchestrator runs before scheduling catch-up
      // jobs (the reference's Airflow DAG assumes yesterday always
      // landed; this is the check for when it didn't). A day is planted
      // missing (2024-01-11 filtered out); the expected calendar spans
      // min..max day and is generated as ONE sequence explode of a 1-row
      // aggregate (metadata — never a scan), then anti-joined against
      // the observed days (itself an aggregate frame, |days| rows).
      val ev = T(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .filter(col("day") =!= "2024-01-11")
      val observed = ev.select(col("day")).distinct()
      val bounds = ev.agg(min(col("day").cast("date")).as("lo"),
        max(col("day").cast("date")).as("hi"))
      bounds.select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
        .join(observed, Seq("day"), "left_anti")
        .orderBy("day")
    },
      // same planted gap, same min..max calendar anti-join
      """WITH ev AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events),
        |f AS (SELECT day FROM ev WHERE day <> '2024-01-11'),
        |b AS (SELECT min(CAST(day AS DATE)) AS lo, max(CAST(day AS DATE)) AS hi FROM f),
        |cal AS (SELECT strftime(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)), '%Y-%m-%d') AS day FROM b),
        |o AS (SELECT DISTINCT day FROM f)
        |SELECT cal.day FROM cal LEFT JOIN o ON o.day = cal.day
        |WHERE o.day IS NULL ORDER BY 1""".stripMargin,
      note = "calendar = sequence explode of a 1-row aggregate; anti join on day frames"),
    Key("q344_watermark_sizing", (s, dir) => {
      // watermark sizing from replayed history: per candidate delay
      // (1/10/60 min), how many events would arrive LATE — i.e. with
      // event time below the per-user running max of already-arrived
      // event times minus the delay. Arrival order is synthesized as
      // event time + a deterministic 0–30 min jitter (hash of the id),
      // so out-of-orderness is planted and the oracle replays it
      // arithmetically. One exchange on user_id, one per-user sort in
      // arrival order, a single running-max frame shared by all three
      // candidate delays — the sizing curve costs one pass.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("arr"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsm"))
        .withColumn("arr", col("tsm") +
          (col("event_id") * 2654435761L % 1800000000L))
      val lagged = ev.withColumn("prevmax", max(col("tsm")).over(w))
      import s.implicits._
      val delays = Seq(60L, 600L, 3600L).toDF("delay_s")
      lagged.crossJoin(broadcast(delays))
        .groupBy(col("delay_s"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("prevmax").isNotNull &&
            col("tsm") < col("prevmax") - col("delay_s") * 1000000L, 1L)
            .otherwise(0L)).as("n_late"))
        .select(col("delay_s"), col("n_events"), col("n_late"),
          expr("n_late * 10000 div n_events").as("late_bp"))
        .orderBy("delay_s")
    },
      // same deterministic arrival jitter, same per-user running max in
      // arrival order, same strict lateness inequality
      """WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsm FROM events),
        |a AS (SELECT user_id, event_id, tsm,
        |    tsm + (event_id * 2654435761 % 1800000000) AS arr FROM ev),
        |m AS (SELECT user_id, tsm,
        |    max(tsm) OVER (PARTITION BY user_id ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM a),
        |d AS (SELECT CAST(unnest([60, 600, 3600]) AS BIGINT) AS delay_s)
        |SELECT d.delay_s, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN m.prevmax IS NOT NULL
        |    AND m.tsm < m.prevmax - d.delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(sum(CASE WHEN m.prevmax IS NOT NULL
        |    AND m.tsm < m.prevmax - d.delay_s * 1000000 THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS late_bp
        |FROM m CROSS JOIN d GROUP BY d.delay_s ORDER BY 1""".stripMargin,
      note = "one per-user running-max frame; 3-row delay frame broadcast"),
    Key("q452_stream_ttl_dedup", (s, dir) =>
      graft.stream.Streaming.streamTtlDedupEras(s, dir, scratch("stream_ttl", dir))
        .orderBy("user_id", "era"),
      // the pinned eviction recursion, unrolled on the round-17 3-DAY
      // BUCKET spine (the measured rule is pinned by StreamingSpec's "q452
      // semantics pin" and "q452: TTL bounds" tests): era j+1 = the user's
      // first event bucket whose micro-batch sees an eviction watermark at
      // or past era j's expiry — evict_base(d) = the bucket TWO batches
      // back (the measured commit lag), condition date_diff(era_d,
      // evict_base) >= 2·horizon where horizon = hd = 3·greatest(1,
      // spanBuckets // 6) DAYS (the guard reads 2·hd).
      // Four unrolled rounds cover any span at /6 (eras are >= 2·horizon +
      // 2 buckets apart, so at most 3 fire; e5 is provably empty margin).
      """WITH ev0 AS (SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS rd
        |  FROM events WHERE user_id IS NOT NULL),
        |d0 AS (SELECT min(rd) AS d0 FROM ev0),
        |ev AS (SELECT DISTINCT user_id,
        |    d0.d0 + INTERVAL 1 DAY * (3 * (date_diff('day', d0.d0, rd) // 3)) AS d
        |  FROM ev0, d0),
        |span AS (SELECT 3 * greatest(1, (date_diff('day', min(d), max(d)) // 3 + 1) // 6) AS hd FROM ev),
        |days AS (SELECT d, lag(d, 2) OVER (ORDER BY d) AS evict_base
        |  FROM (SELECT DISTINCT d FROM ev)),
        |e1 AS (SELECT user_id, min(d) AS d FROM ev GROUP BY 1),
        |e2 AS (SELECT ev.user_id, min(ev.d) AS d FROM ev
        |  JOIN e1 USING (user_id) JOIN days ON days.d = ev.d
        |  WHERE days.evict_base IS NOT NULL
        |    AND date_diff('day', e1.d, days.evict_base) >= 2 * (SELECT hd FROM span)
        |  GROUP BY 1),
        |e3 AS (SELECT ev.user_id, min(ev.d) AS d FROM ev
        |  JOIN e2 USING (user_id) JOIN days ON days.d = ev.d
        |  WHERE days.evict_base IS NOT NULL
        |    AND date_diff('day', e2.d, days.evict_base) >= 2 * (SELECT hd FROM span)
        |  GROUP BY 1),
        |e4 AS (SELECT ev.user_id, min(ev.d) AS d FROM ev
        |  JOIN e3 USING (user_id) JOIN days ON days.d = ev.d
        |  WHERE days.evict_base IS NOT NULL
        |    AND date_diff('day', e3.d, days.evict_base) >= 2 * (SELECT hd FROM span)
        |  GROUP BY 1),
        |e5 AS (SELECT ev.user_id, min(ev.d) AS d FROM ev
        |  JOIN e4 USING (user_id) JOIN days ON days.d = ev.d
        |  WHERE days.evict_base IS NOT NULL
        |    AND date_diff('day', e4.d, days.evict_base) >= 2 * (SELECT hd FROM span)
        |  GROUP BY 1),
        |kept AS (SELECT user_id, d FROM e1 UNION ALL SELECT user_id, d FROM e2
        |  UNION ALL SELECT user_id, d FROM e3 UNION ALL SELECT user_id, d FROM e4
        |  UNION ALL SELECT user_id, d FROM e5)
        |SELECT user_id, CAST(d AS DATE) AS day,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS BIGINT) AS era
        |FROM kept ORDER BY user_id, era""".stripMargin,
      note = "dropDuplicatesWithinWatermark under the span/6 horizon; state keyed on user_id over day-truncated event times — eviction by the lag-2 watermark re-emits eras (the TTL contract the gate pins); ~30 one-day micro-batches, so wall time is batch-count x fixed replay cost"),
    Key("q455_late_data_audit", (s, dir) =>
      // the per-day delivery ledger of a watermarked ingest with 3-day
      // stragglers under a 1-day horizon: most delayed rows are dropped as
      // LATE (the measured lag-2 watermark rule); see
      // Streaming.lateDataAudit for the pinned semantics
      graft.stream.Streaming.lateDataAudit(s, dir, scratch("stream_late", dir))
        .orderBy("day"),
      // the measured late rule replayed on the round-17 3-DAY BUCKET spine
      // (pinned by StreamingSpec's "q455 semantics pin"): batch = bucket index
      // (+3 for the delayed %17 stream), running max over batches <= N-2
      // minus the 1-day horizon, boundary row dropped (ts > wm survives) —
      // empty batches advance nothing
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events
        |    WHERE event_id IS NOT NULL),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |rb AS (SELECT e.event_id, e.ts, e.d,
        |    CASE WHEN e.event_id % 17 = 0
        |      THEN date_diff('day', d0.d0, e.d) // 3 + 3
        |      ELSE date_diff('day', d0.d0, e.d) // 3 END AS b
        |  FROM ev e, d0),
        |bm AS (SELECT b, max(ts) AS mt FROM rb GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(0, (SELECT max(b) + 1 FROM rb))) AS BIGINT) AS b),
        |wm AS (SELECT s.b,
        |    max(bm.mt) OVER (ORDER BY s.b ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |      - INTERVAL 1 DAY AS w
        |  FROM spine s LEFT JOIN bm ON bm.b = s.b),
        |deliv AS (SELECT r.event_id FROM rb r JOIN wm ON wm.b = r.b
        |  WHERE wm.w IS NULL OR r.ts > wm.w)
        |SELECT CAST(e.d AS DATE) AS day, CAST(count(*) AS BIGINT) AS total,
        |  CAST(count(dv.event_id) AS BIGINT) AS delivered,
        |  CAST(count(*) - count(dv.event_id) AS BIGINT) AS late_dropped
        |FROM ev e LEFT JOIN deliv dv ON dv.event_id = e.event_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "per-day replay with the %17 stream delayed 3 batches; the watermarked dedup passes survivors through, the ledger joins delivered counts back to batch totals; ~33 micro-batches x fixed replay cost dominates"),
    Key("q345_prefix_cache", (s, dir) => {
      // KV-cache prefix-sharing estimator (the vLLM/SGLang serving win):
      // at each prefix length N, the fraction of prompts whose first N
      // tokens another prompt already computed — cache_hit_bp =
      // (prompts − distinct prefixes) / prompts. ONE corpus pass: the
      // 3-row N frame broadcasts, prefixes are map-side array slices,
      // and each N's ledger is a count + distinct aggregate. The curve
      // falling with N is the cache-depth budget read.
      import s.implicits._
      val ns = Seq(4, 8, 16).toDF("n_prefix_tokens")
      T(s, dir, "documents")
        .select(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)").as("tok"))
        .crossJoin(broadcast(ns))
        .select(col("n_prefix_tokens"),
          expr("array_join(slice(tok, 1, n_prefix_tokens), ' ')").as("prefix"))
        .groupBy(col("n_prefix_tokens"))
        .agg(count(lit(1)).as("n_prompts"),
          count_distinct(col("prefix")).as("n_distinct"))
        .select(col("n_prefix_tokens").cast("long").as("n_prefix_tokens"),
          col("n_prompts"), col("n_distinct"),
          expr("(n_prompts - n_distinct) * 10000 div n_prompts").as("cache_hit_bp"))
        .orderBy("n_prefix_tokens")
    },
      // same tokenization, same list-slice prefixes (DuckDB slices are
      // 1-based inclusive), same hit arithmetic
      """WITH t AS (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0) AS tok FROM documents),
        |n AS (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS n_prefix_tokens),
        |p AS (SELECT n.n_prefix_tokens,
        |    array_to_string(t.tok[1 : CAST(n.n_prefix_tokens AS INT)], ' ') AS prefix
        |  FROM t CROSS JOIN n)
        |SELECT n_prefix_tokens, CAST(count(*) AS BIGINT) AS n_prompts,
        |  CAST(count(DISTINCT prefix) AS BIGINT) AS n_distinct,
        |  CAST((count(*) - count(DISTINCT prefix)) * 10000 // count(*) AS BIGINT) AS cache_hit_bp
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "broadcast N frame; map-side prefix slices; count+distinct per N"),
    Key("q346_draft_acceptance", (s, dir) => {
      // n-gram speculative-decoding acceptance rate: how often the
      // corpus-bigram argmax continuation equals the actual next token —
      // the acceptance probability of the cheapest possible draft model,
      // measured on the corpus itself (the go/no-go number BEFORE
      // wiring speculative decoding in). Bigram positions fan out
      // map-side from token arrays (zero joins until scoring); the
      // argmax table is one vocab-keyed min(struct) aggregate — ties
      // break to the smallest continuation, exactly as the oracle's rank
      // window does — and scoring is a single w1-keyed hash join.
      val pairs = T(s, dir, "documents")
        .withColumn("tok", expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"))
        .select(explode(expr(
          "transform(sequence(1, size(tok) - 1), i -> " +
            "struct(element_at(tok, i) AS w1, element_at(tok, i + 1) AS w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .localCheckpoint(eager = false)
      val best = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .groupBy(col("w1"))
        .agg(min(struct((-col("c")).as("nc"), col("w2"))).as("b"))
        .select(col("w1"), col("b.w2").as("draft"))
      pairs.join(best, Seq("w1"))
        .agg(count(lit(1)).as("n_positions"),
          sum(when(col("w2") === col("draft"), 1L).otherwise(0L)).as("n_hits"))
        .select(col("n_positions"), col("n_hits"),
          expr("n_hits * 10000 div n_positions").as("acc_bp"))
    },
      // argmax stated as the rank window the engine's min(struct)
      // replaces; ties to the smallest continuation in both
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0) AS tok FROM documents),
        |pr AS (SELECT doc_id, i.i AS i, tok[CAST(i.i AS INT)] AS w1,
        |    tok[CAST(i.i AS INT) + 1] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(1, len(tok))) AS i) i),
        |c AS (SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2),
        |r AS (SELECT w1, w2 AS draft,
        |    row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn FROM c),
        |b AS (SELECT w1, draft FROM r WHERE rn = 1),
        |sc AS (SELECT pr.w2, b.draft FROM pr JOIN b USING (w1))
        |SELECT CAST(count(*) AS BIGINT) AS n_positions,
        |  CAST(sum(CASE WHEN w2 = draft THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN w2 = draft THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS acc_bp
        |FROM sc""".stripMargin,
      note = "map-side bigram fan-out; vocab-keyed argmax aggregate; one scoring join"),
    Key("q347_retrieval_overlap", (s, dir) => {
      // semantic-cache sizing: how much do different queries' retrieved
      // contexts OVERLAP — query pairs sharing k of their top-5
      // neighbors are the cache hits a result/context cache would serve
      // without re-scoring. Top-5 per query from q45's broadcast-queries
      // scan; the overlap join runs on the |queries|×5 frame (metadata),
      // pair-keyed, never touching the corpus again.
      val emb = T(s, dir, "embeddings")
      val top5 = Similarity.cosineTopK(emb, evalVectors(emb),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = false)
      top5.select(col("query_id").as("query_a"), col("neighbor_id"))
        .join(top5.select(col("query_id").as("query_b"), col("neighbor_id")),
          Seq("neighbor_id"))
        .filter(col("query_a") < col("query_b"))
        .groupBy(col("query_a"), col("query_b"))
        .agg(count(lit(1)).as("shared"))
        .orderBy("query_a", "query_b")
    },
      // q45's top-5 scoring twice + a pair-keyed overlap count
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |${exactCosCte("s", "c CROSS JOIN q WHERE neighbor_id <> query_id")},
         |r AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM s),
         |t5 AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 5)
         |SELECT a.query_id AS query_a, b.query_id AS query_b,
         |  CAST(count(*) AS BIGINT) AS shared
         |FROM t5 a JOIN t5 b ON a.neighbor_id = b.neighbor_id AND a.query_id < b.query_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      note = "corpus scanned once for top-5; overlap pair join on the metadata frame"),
    Key("q348_lsh_cost_plan", (s, dir) =>
      // dedup-join CAPACITY PLANNING from the stored band index: per
      // band, bucket count, the largest bucket, and Σ n(n−1)/2 — the
      // EXACT candidate-pair volume the banded join will generate, read
      // from metadata BEFORE the join runs. This is the number that
      // decides df-caps and shard budgets at 100 TB (a single hot bucket
      // of 10⁵ docs is 5·10⁹ pairs); the whole plan costs one
      // (band, band_hash) aggregate over the already-materialized index,
      // never touching text or signatures. band_hash is injective for
      // 2-row bands (h₁·p + h₂ with h < p), so bucket sizes equal the
      // oracle's string-keyed buckets exactly.
      dedupIndexBands(s, dir)
        .groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("n"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
          sum(expr("n * (n - 1) div 2")).as("candidate_pairs"))
        .select(col("band").cast("long").as("band"), col("n_buckets"),
          col("max_bucket"), col("candidate_pairs"))
        .orderBy("band"),
      q348Sql,
      note = "two aggregates over the stored band-index scan; no joins, no text"),
    Key("q349_oov_drift", (s, dir) => {
      // tokenizer drift monitoring: the OOV rate of each NEW source under
      // a vocabulary frozen on the OLD corpus (top-100 tokens of sources
      // 0–9) — the maintenance signal that says when a tokenizer trained
      // on last year's crawl stops fitting this year's (rising OOV =
      // rising fertility = wasted context). The frozen vocabulary is
      // top-k via the ordered limit (TakeOrdered) and BROADCASTS onto
      // the new half's one token pass; OOV share in exact basis points.
      val docs = T(s, dir, "documents")
        .withColumn("src_n", expr("CAST(substring(source, 4) AS INT)"))
      def toks(df: DataFrame) = df.select(col("source"),
        explode(expr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")).as("w"))
      val vocab = toks(docs.filter(col("src_n") < 10))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
        .select(col("w"), lit(1L).as("__in"))
      toks(docs.filter(col("src_n") >= 10))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov"))
        .select(col("source"), col("tokens"), col("oov"),
          expr("oov * 10000 div tokens").as("oov_bp"))
        .orderBy("source")
    },
      // same frozen top-100 vocabulary (count desc, token), same OOV
      // left-join accounting
      """WITH d AS (SELECT source, CAST(substr(source, 4) AS INT) AS src_n, text FROM documents),
        |ot AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS w FROM d WHERE src_n < 10),
        |vc AS (SELECT w, count(*) AS c FROM ot GROUP BY 1),
        |vr AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM vc),
        |vocab AS (SELECT w FROM vr WHERE rn <= 100),
        |nt AS (SELECT source, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS w FROM d WHERE src_n >= 10)
        |SELECT nt.source, CAST(count(*) AS BIGINT) AS tokens,
        |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS oov_bp
        |FROM nt LEFT JOIN vocab ON vocab.w = nt.w
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "TakeOrdered frozen vocab broadcast onto one new-half token pass"),
    Key("q350_grouped_rank_normalize", (s, dir) => {
      // per-SOURCE quantile normalization (the grouped twin of q173's
      // global rank transform): each doc's length maps to its percentile
      // within its own source — the feature-engineering step that makes
      // length comparable across sources with wildly different length
      // distributions. Ranks come from [[TwoPhase.prefixSumKeyed]]
      // (value = 1): at 100 TB a single source's rows are corpus-sized,
      // so partitionBy(source) alone would serialize each source onto
      // one task; percentiles in exact basis points from the broadcast
      // per-source counts.
      val base = T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = TwoPhase.prefixSumKeyed(base, "source", col("n_chars"),
        Seq(col("n_chars"), col("doc_id")), lit(1L), "rank")
      val counts = base.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      // greatest(cnt-1, 1): a single-doc source yields pct_bp = 0 instead
      // of a division by zero (Spark div → NULL, DuckDB // → error — a
      // cross-engine divergence); the guard is mirrored in the oracle.
      ranked.join(broadcast(counts), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("(rank - 1) * 10000 div greatest(cnt - 1, 1)").as("pct_bp"))
        .orderBy("doc_id")
    },
      // the per-source window IS what prefixSumKeyed replaces; same
      // exact-bp percentile arithmetic
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rank,
        |    count(*) OVER (PARTITION BY source) AS cnt FROM documents)
        |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST((rank - 1) * 10000 // greatest(cnt - 1, 1) AS BIGINT) AS pct_bp
        |FROM r ORDER BY doc_id""".stripMargin,
      note = "keyed two-phase ranks; per-source counts broadcast"),
    Key("q351_quality_survivorship", (s, dir) => {
      // quality-aware near-dup survivorship: per component of the SHARED
      // materialized MinHash index, keep the member with the highest
      // quality score (ties to the smallest id) — what production dedup
      // actually ships (q105's min-id representative is the arbitrary
      // baseline; keeping the BEST copy is the point of having found the
      // cluster). One id-keyed join of the stored component map against
      // the expression-native quality scores, then a single
      // max(struct(quality, −id)) aggregate per component — no window,
      // no re-derivation of the pair graph.
      val (_, components) = dedupIndex(s, dir)
      val quality = T(s, dir, "documents").select(col("doc_id").as("node"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      components.join(quality, Seq("node"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality"), (-col("node")).as("negid"))).as("b"))
        .select(col("component"), (-col("b.negid")).as("keeper_id"),
          col("n_members"), col("b.quality").as("kept_quality"))
        .orderBy("component")
    },
      // q44's pair graph + the recursive component labels + q51's exact
      // quality formula; argmax as the rank window the engine's
      // max(struct) replaces, ties to the smallest id
      s"""WITH ${nearDupComponentCtes("node")},
         |f AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS len,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|a)\\b')) AS DOUBLE) AS stop
         |  FROM documents),
         |ql AS (SELECT doc_id, (round(
         |  (CASE WHEN len >= 100 AND len <= 10000 THEN CAST(1.0 AS DOUBLE) WHEN len >= 20 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
         |  + (CASE WHEN len > 0 THEN alpha / len ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
         |  + (CASE WHEN toks > 0 THEN least(stop / toks * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE),
         |  4) + 0.0) AS quality FROM f),
         |mem AS (SELECT l.component, l.node, q.quality FROM lab l JOIN ql q ON q.doc_id = l.node),
         |r AS (SELECT component, node, quality,
         |    row_number() OVER (PARTITION BY component ORDER BY quality DESC, node) AS rn,
         |    count(*) OVER (PARTITION BY component) AS n_members FROM mem)
         |SELECT CAST(component AS BIGINT) AS component, CAST(node AS BIGINT) AS keeper_id,
         |  CAST(n_members AS BIGINT) AS n_members, quality AS kept_quality
         |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,
      note = "stored component map scan; keeper via max(struct), no window"),
    Key("q352_dup_weighting", (s, dir) => {
      // duplicate-aware SAMPLING WEIGHTS from the shared component index:
      // instead of dropping near-dup members (q105), weight each member
      // 1/cluster_size so every cluster contributes one document's worth
      // of training mass — the down-weighting alternative production
      // pipelines ship when provenance rules forbid deletion. Weights in
      // exact basis points (10000 div size; the ≤size-1 quantization loss
      // per cluster is the documented price of integer determinism); the
      // per-source ledger (raw docs vs effective mass) is what the
      // mixture planner (q261) consumes. Cost: the component map and its
      // size table are cluster-sized — both broadcast back onto the one
      // corpus-sized scan; no corpus shuffle at all before the final
      // |sources|-row aggregate.
      val (_, components) = dedupIndex(s, dir)
      val sizes = components.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      val weighted = T(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(broadcast(components.withColumnRenamed("node", "doc_id")),
          Seq("doc_id"), "left")
        .join(broadcast(sizes), Seq("component"), "left")
        .withColumn("w_bp", coalesce(expr("10000 div csize"), lit(10000L)))
      weighted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w_bp")).as("eff_bp"))
        .select(col("source"), col("n_docs"), col("eff_bp"),
          expr("eff_bp div n_docs").as("avg_w_bp"))
        .orderBy("source")
    },
      // same recursive component labels as q351; singletons (no component
      // row) keep full weight 10000 via the left joins
      s"""WITH ${nearDupComponentCtes("node")},
         |sizes AS (SELECT component, count(*) AS csize FROM lab GROUP BY 1),
         |w AS (SELECT d.doc_id, d.source,
         |    COALESCE(CAST(10000 // s.csize AS BIGINT), 10000) AS w_bp
         |  FROM documents d
         |  LEFT JOIN lab l ON l.node = d.doc_id
         |  LEFT JOIN sizes s ON s.component = l.component)
         |SELECT source, count(*) AS n_docs, CAST(sum(w_bp) AS BIGINT) AS eff_bp,
         |  CAST(sum(w_bp) // count(*) AS BIGINT) AS avg_w_bp
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "component map + sizes broadcast onto one corpus scan"),
    Key("q353_shard_checksum", (s, dir) => {
      // anti-entropy shard comparison (Dynamo/Cassandra Merkle-lite): two
      // replicas of a table are compared by ORDER-INVARIANT per-shard
      // checksums — sum of per-row Karp–Rabin fingerprints — so divergence
      // localizes to dirty shards at O(|shards|) wire cost instead of a
      // corpus-sized row join (q123's CDC diff is what you run AFTER this
      // says which shards to bother with). Per-row values stay < 2^31
      // (the q53 fingerprint ring), so a 64-bit sum is exact for < 2^32
      // rows/shard in BOTH engines (DuckDB would widen to HUGEINT, Spark
      // would wrap — staying under the ring bound sidesteps both); a
      // 100 TB deployment shards by file/partition id the same way. The
      // "replica B" here is a deterministic in-flight perturbation (docs
      // with id % 97 == 0 gain a trailing space) — the gate proves the
      // checksum catches exactly those shards.
      val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
      def sums(df: DataFrame, out: String): DataFrame = df
        .withColumn("fp", graft.functions.RollingHash(col("text")))
        .withColumn("rowh", expr("(fp * 31 + doc_id) % 1000000007"))
        .groupBy(expr("doc_id % 16").as("shard"))
        .agg(count(lit(1)).as(s"n_$out"), sum(col("rowh")).as(s"sum_$out"))
      val b = base.withColumn("text",
        when(col("doc_id") % 97 === 0, concat(col("text"), lit(" ")))
          .otherwise(col("text")))
      sums(base, "a").join(broadcast(sums(b, "b")), Seq("shard"))
        .select(col("shard").cast("long").as("shard"), col("n_a").as("n_rows"),
          col("sum_a"), col("sum_b"),
          (col("sum_a") =!= col("sum_b")).as("dirty"))
        .orderBy("shard")
    },
      // the q53 byte-rolling fingerprint inlined for both replicas; the
      // per-row hash mixes in doc_id so a row SWAP (not just an edit)
      // also dirties the shard sum
      """WITH fa AS (SELECT doc_id, list_reduce(
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp FROM documents),
        |pert AS (SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN text || ' ' ELSE text END AS text
        |  FROM documents),
        |fb AS (SELECT doc_id, list_reduce(
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp FROM pert),
        |sa AS (SELECT doc_id % 16 AS shard, count(*) AS n_rows,
        |    CAST(sum((fp * 31 + doc_id) % 1000000007) AS BIGINT) AS sum_a
        |  FROM fa GROUP BY 1),
        |sb AS (SELECT doc_id % 16 AS shard,
        |    CAST(sum((fp * 31 + doc_id) % 1000000007) AS BIGINT) AS sum_b
        |  FROM fb GROUP BY 1)
        |SELECT CAST(sa.shard AS BIGINT) AS shard, sa.n_rows, sa.sum_a, sb.sum_b,
        |  (sa.sum_a <> sb.sum_b) AS dirty
        |FROM sa JOIN sb USING (shard) ORDER BY shard""".stripMargin,
      note = "order-invariant shard sums; 16-row broadcast compare, no row join"),
    Key("q354_bitext_margin", (s, dir) => {
      // margin-based bitext mining (Artetxe & Schwenk 2019, the CCMatrix
      // pair-scoring rule): a forward neighbor's raw cosine is normalized
      // by the mean cosine of BOTH endpoints' k-NN neighborhoods —
      // margin = cos(x,y) / ((avg_kNN(x) + avg_kNN(y)) / 2) — which
      // demotes "hub" vectors that are near everything. Pools split by
      // vec_id parity (the two "languages"); the backward penalty is
      // computed ONLY for the ≤ |queries|·k forward candidates (broadcast
      // back over one X-pool scan) — the shortlist bound that makes the
      // rule affordable at corpus scale, where both directions would run
      // on the IVF index (q58) instead of the exact scan. All ranking
      // arithmetic on exact bp-quantized cosines; the one float op is a
      // single IEEE division of exact integers, bit-identical cross-engine.
      val emb = T(s, dir, "embeddings")
      val xs = emb.filter(col("vec_id") % 2 === 0)
      val ys = emb.filter(col("vec_id") % 2 === 1)
      val fwd = Similarity.cosineTopK(ys, xs.filter(col("vec_id") < 16),
          "vec_id", "embedding", 4)
        .withColumn("cos_bp", expr("CAST(round(cosine * 10000) AS BIGINT)"))
      val px = fwd.groupBy(col("query_id")).agg(sum(col("cos_bp")).as("px_bp"))
      val cands = emb.join(
        broadcast(fwd.select(col("neighbor_id").as("vec_id")).distinct()),
        Seq("vec_id"))
      val py = Similarity.cosineTopK(xs, cands, "vec_id", "embedding", 4)
        .withColumn("cos_bp", expr("CAST(round(cosine * 10000) AS BIGINT)"))
        .groupBy(col("query_id")).agg(sum(col("cos_bp")).as("py_bp"))
        .withColumnRenamed("query_id", "neighbor_id")
      fwd.join(broadcast(px), Seq("query_id"))
        .join(broadcast(py), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("cos_bp"),
          col("px_bp"), col("py_bp"),
          Num.roundz((col("cos_bp") * 8).cast("double") /
            (col("px_bp") + col("py_bp")).cast("double"), 4).as("margin"))
        .orderBy(col("query_id"), col("margin").desc, col("neighbor_id"))
    },
      // forward and backward top-4 both as the exact q45 scoring shape;
      // margin from the bp-quantized sums, one IEEE division at the end
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |xq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 2 = 0 AND vec_id < 16),
         |yc AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id % 2 = 1),
         |${exactCosCte("fs", "yc CROSS JOIN xq")},
         |fr AS (SELECT query_id, neighbor_id, (round(cosine, 4) + 0.0) AS cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM fs),
         |fwd AS (SELECT query_id, neighbor_id,
         |    CAST(round(cosine * 10000) AS BIGINT) AS cos_bp FROM fr WHERE rn <= 4),
         |px AS (SELECT query_id, CAST(sum(cos_bp) AS BIGINT) AS px_bp FROM fwd GROUP BY 1),
         |nq AS (SELECT DISTINCT neighbor_id AS query_id FROM fwd),
         |nqv AS (SELECT nq.query_id, e.v AS qv FROM nq JOIN e ON e.vec_id = nq.query_id),
         |xc AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id % 2 = 0),
         |${exactCosCte("bs", "xc CROSS JOIN nqv")},
         |br AS (SELECT query_id, (round(cosine, 4) + 0.0) AS cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM bs),
         |py AS (SELECT query_id AS neighbor_id,
         |    CAST(sum(CAST(round(cosine * 10000) AS BIGINT)) AS BIGINT) AS py_bp
         |  FROM br WHERE rn <= 4 GROUP BY 1)
         |SELECT f.query_id, f.neighbor_id, f.cos_bp, px.px_bp, py.py_bp,
         |  (round(CAST(f.cos_bp * 8 AS DOUBLE) / CAST(px.px_bp + py.py_bp AS DOUBLE), 4) + 0.0) AS margin
         |FROM fwd f JOIN px USING (query_id) JOIN py USING (neighbor_id)
         |ORDER BY query_id, margin DESC, neighbor_id""".stripMargin,
      note = "both direction scores broadcast queries; margins broadcast back"),
    Key("q355_bucketed_batching", (s, dir) => {
      // length-bucketed batch ASSEMBLY (the plan q340's waste ledger only
      // measures): docs tier to a power-of-two length bucket, order by
      // (length, id) within the tier, and greedy-pack contiguously into
      // fixed 2048-token batches — batch id = exclusive prefix sum of
      // token counts div budget. The prefix sum is the keyed two-phase
      // form ([[TwoPhase.prefixSumKeyed]]): at 100 TB a single tier is
      // corpus-sized, so a partitionBy(bucket) window would serialize
      // each tier onto one task; here each tier's offsets are a ≤32-row
      // broadcast and the scan stays fully parallel.
      val toks = T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .withColumn("bucket", expr(
          "CASE WHEN n <= 64 THEN '64' WHEN n <= 128 THEN '128' " +
            "WHEN n <= 256 THEN '256' WHEN n <= 512 THEN '512' " +
            "ELSE '1024' END"))
      TwoPhase.prefixSumKeyed(toks, "bucket", col("n"),
          Seq(col("n"), col("doc_id")), col("n"), "cum")
        .withColumn("batch", expr("(cum - n) div 2048"))
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
        .orderBy("bucket", "batch")
    },
      // the per-bucket window IS what prefixSumKeyed replaces; exclusive
      // prefix = inclusive minus own n, batch id by integer division
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n FROM documents),
        |b AS (SELECT doc_id, n,
        |    CASE WHEN n <= 64 THEN '64' WHEN n <= 128 THEN '128'
        |         WHEN n <= 256 THEN '256' WHEN n <= 512 THEN '512'
        |         ELSE '1024' END AS bucket FROM t),
        |c AS (SELECT bucket, doc_id, n,
        |    sum(n) OVER (PARTITION BY bucket ORDER BY n, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM b)
        |SELECT bucket, CAST((cum - n) // 2048 AS BIGINT) AS batch,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens
        |FROM c GROUP BY 1, 2 ORDER BY bucket, batch""".stripMargin,
      note = "keyed two-phase tier offsets; batch id map-side"),
    Key("q356_bottomk_sample", (s, dir) => {
      // per-source CONSISTENT bottom-k sample (minwise/bottom-k sketch):
      // priority = MINSTD Lehmer hash of the id, keep the 8 smallest per
      // source. Unlike rand()-based sampling the membership is a pure
      // function of the id — re-runs, backfills, and shard-local samples
      // agree, and two sources' samples union-merge into the corpus
      // sample (the bottom-k mergeability that makes this THE distributed
      // sampling primitive). Ranking is the two-phase per-partition
      // k-heap ([[Similarity.topKPerQuery]]): a corpus-sized source never
      // serializes under a partitionBy window. The source→long key map is
      // a |sources|-row frame; its hash injectivity is asserted by a
      // metadata-sized action rather than assumed.
      val docs = T(s, dir, "documents")
      val srcIds = docs.select(col("source")).distinct()
        .withColumn("sid", graft.functions.RollingHash(col("source")))
      val chk = srcIds.agg(countDistinct(col("sid")).as("a"),
        count(lit(1)).as("b")).first()
      require(chk.getLong(0) == chk.getLong(1),
        "q356: source-key hash collision — widen the key")
      val scored = docs.join(broadcast(srcIds), Seq("source"))
        .select(col("sid").as("query_id"), col("doc_id").as("neighbor_id"),
          negate(((col("doc_id") * lit(48271L)) % lit(2147483647L))
            .cast("double")).as("cosine"))
      Similarity.topKPerQuery(scored, 8)
        .join(broadcast(srcIds), col("query_id") === col("sid"))
        .select(col("source"), col("neighbor_id").as("doc_id"),
          negate(col("cosine")).cast("long").as("priority"), col("rn"))
        .orderBy("source", "rn")
    },
      // the per-source rank window IS what the two-phase k-heap replaces
      """WITH p AS (SELECT doc_id, source,
        |    (doc_id * 48271) % 2147483647 AS priority FROM documents),
        |r AS (SELECT source, doc_id, priority,
        |    row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rn
        |  FROM p)
        |SELECT source, doc_id, priority, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 8 ORDER BY source, rn""".stripMargin,
      note = "two-phase k-heap per source; |sources| key map broadcast"),
    Key("q357_heaps_law", (s, dir) => {
      // vocabulary-growth (Heaps' law) curve: distinct bigram types vs
      // corpus prefix size at 4 doc-count checkpoints. The trick that
      // makes "distinct types in every prefix" one pass instead of 4:
      // each type's FIRST-occurrence doc id is a single min() aggregate,
      // and vocab(N) = |{types: first < N}| — the token-sized frame is
      // scanned once, the ≤4-row checkpoint frame broadcasts onto the
      // type-sized and doc-sized summaries only. (The synthetic corpus
      // saturates its tiny vocab early — flat curve, exact values; real
      // crawls give the V ∝ n^β sub-linear climb.)
      val docs = T(s, dir, "documents")
      val cps = docs.agg(count(lit(1)).as("dd"))
        .crossJoin(s.range(1, 5).toDF("i"))
        .select(col("i"), expr("dd * i div 4").as("n_docs"))
      val tok = docs.withColumn("__w", split(lower(col("text")), "\\s+"))
        .filter(size(col("__w")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("__w")) - 1),
          j => concat(element_at(col("__w"), j), lit(" "),
            element_at(col("__w"), j + 1)))).as("bg"))
      val vocab = tok.groupBy(col("bg")).agg(min(col("doc_id")).as("fd"))
        .join(broadcast(cps), col("fd") < col("n_docs"))
        .groupBy(col("i"), col("n_docs")).agg(count(lit(1)).as("vocab"))
      val toks = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
        .join(broadcast(cps), col("doc_id") < col("n_docs"))
        .groupBy(col("i"), col("n_docs")).agg(sum(col("nt")).as("tokens"))
      vocab.join(toks, Seq("i", "n_docs"))
        .select(col("i"), col("n_docs"), col("tokens"), col("vocab"),
          expr("vocab * 10000 div tokens").as("types_per_10k"))
        .orderBy("i")
    },
      // same bigram convention as q100; vocab(N) via each type's
      // first-occurrence doc, token mass via per-doc counts
      """WITH d AS (SELECT count(*) AS dd FROM documents),
        |cp AS (SELECT CAST(i AS BIGINT) AS i, dd * i // 4 AS n_docs
        |  FROM d CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i) t),
        |w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS l FROM documents),
        |tok AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS bg
        |  FROM w WHERE len(l) >= 2),
        |fo AS (SELECT bg, min(doc_id) AS fd FROM tok GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
        |v AS (SELECT cp.i, cp.n_docs, count(*) AS vocab
        |  FROM cp JOIN fo ON fo.fd < cp.n_docs GROUP BY 1, 2),
        |tc AS (SELECT cp.i, CAST(sum(pd.nt) AS BIGINT) AS tokens
        |  FROM cp JOIN pd ON pd.doc_id < cp.n_docs GROUP BY 1)
        |SELECT v.i, v.n_docs, tc.tokens, v.vocab,
        |  v.vocab * 10000 // tc.tokens AS types_per_10k
        |FROM v JOIN tc ON tc.i = v.i ORDER BY v.i""".stripMargin,
      note = "one token pass; 4-row checkpoints broadcast onto summaries"),
    Key("q358_neighborhood_jaccard", (s, dir) => {
      // link prediction by NEIGHBORHOOD JACCARD for a focal seed batch:
      // score each non-neighbor candidate by |N(s)∩N(c)| / |N(s)∪N(c)|
      // in exact basis points — the normalized index that q226's
      // Resource Allocation (degree-weighted, batch top-k mining over a
      // time window) is not: Jaccard discounts candidates that are near
      // EVERYTHING, the serving-side "related items" rule. Edges come
      // from the SHARED materialized full-history index; cost is q324's
      // focal bound (|seeds|·deg·deg wedge rows, never all-pairs), the
      // union size folds from the two broadcast degree lookups
      // (|N∪| = d_s + d_c − common), and the existing-edge exclusion
      // anti join shares the (seed, cand) exchange with the common-
      // neighbor count.
      val edges = copurchaseEdges(s, dir)
      val deg = copurchaseDegrees(s, dir)
        .select(col("node").as("src"), col("degree").as("d"))
      val paths = edges.filter(col("src") < 8)
        .select(col("src").as("seed"), col("dst").as("z"))
        .join(edges.select(col("src").as("z"), col("dst").as("cand")), Seq("z"))
        .filter(col("cand") =!= col("seed"))
      paths
        .join(edges.select(col("src").as("seed"), col("dst").as("cand")),
          Seq("seed", "cand"), "left_anti")
        .groupBy(col("seed"), col("cand"))
        .agg(count(lit(1)).as("common_n"))
        .join(broadcast(deg.select(col("src").as("seed"), col("d").as("ds"))),
          Seq("seed"))
        .join(broadcast(deg.select(col("src").as("cand"), col("d").as("dc"))),
          Seq("cand"))
        .select(col("seed"), col("cand").as("candidate"), col("common_n"),
          expr("(common_n * 10000) div (ds + dc - common_n)").as("jaccard_bp"))
        .orderBy(col("seed"), col("jaccard_bp").desc, col("common_n").desc,
          col("candidate"))
    },
      // symmetric co-purchase edges as in q125 (both directions);
      // |N∪| = d_s + d_c − common, score in exact basis points
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |p AS (SELECT e1.src AS seed, e1.dst AS z, e2.dst AS cand
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |  WHERE e1.src < 8 AND e2.dst <> e1.src),
        |np AS (SELECT p.seed, p.z, p.cand FROM p
        |  LEFT JOIN e ON e.src = p.seed AND e.dst = p.cand
        |  WHERE e.src IS NULL),
        |cn AS (SELECT seed, cand, count(*) AS common_n FROM np GROUP BY 1, 2)
        |SELECT cn.seed, cn.cand AS candidate, cn.common_n,
        |  CAST((cn.common_n * 10000) // (ds.d + dc.d - cn.common_n) AS BIGINT) AS jaccard_bp
        |FROM cn JOIN deg ds ON ds.src = cn.seed JOIN deg dc ON dc.src = cn.cand
        |ORDER BY cn.seed, jaccard_bp DESC, cn.common_n DESC, candidate""".stripMargin,
      note = "stored edge index; focal wedges; degrees broadcast; anti join shares the pair exchange"),
    Key("q359_ab_ztest", (s, dir) => {
      // two-proportion z-test per metric: arms by user parity (the
      // deterministic stand-in for an assignment table), success = event
      // value over threshold. Counts stay exact longs through one
      // map-side-combined aggregate — the whole experiment readout is
      // |metrics| rows, and the only float work is the final pooled-z
      // expression on those rows (identical op order in both engines).
      // The production shape at 100 TB: one scan, one hash aggregate,
      // no per-arm passes.
      val g = T(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 2).as("arm"),
          when(col("value") > 50, 1L).otherwise(0L).as("sflag"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("sflag")).otherwise(0L)).as("c0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("sflag")).otherwise(0L)).as("c1"))
      g.select(col("event_type"), col("n0"), col("c0"), col("n1"), col("c1"),
          Num.roundz(expr(
            "(CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0) / " +
              "sqrt((CAST(c0+c1 AS DOUBLE)/(n0+n1)) * " +
              "(CAST(1 AS DOUBLE) - CAST(c0+c1 AS DOUBLE)/(n0+n1)) * " +
              "(CAST(1 AS DOUBLE)/n0 + CAST(1 AS DOUBLE)/n1))"), 4).as("z"))
        .withColumn("significant", abs(col("z")) > 1.96)
        .orderBy("event_type")
    },
      // identical pooled-z expression, identical cast order
      """WITH b AS (SELECT event_type, user_id % 2 AS arm,
        |    CASE WHEN value > 50 THEN 1 ELSE 0 END AS sflag FROM events),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 THEN sflag ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 THEN sflag ELSE 0 END) AS BIGINT) AS c1
        |  FROM b GROUP BY 1),
        |zz AS (SELECT event_type, n0, c0, n1, c1,
        |  (round((CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0) /
        |    sqrt((CAST(c0+c1 AS DOUBLE)/(n0+n1)) *
        |    (CAST(1 AS DOUBLE) - CAST(c0+c1 AS DOUBLE)/(n0+n1)) *
        |    (CAST(1 AS DOUBLE)/n0 + CAST(1 AS DOUBLE)/n1)), 4) + 0.0) AS z
        |  FROM g)
        |SELECT event_type, n0, c0, n1, c1, z, abs(z) > 1.96 AS significant
        |FROM zz ORDER BY event_type""".stripMargin,
      note = "one scan one aggregate; pooled z on the |metrics| frame"),
    Key("q360_wilson_rank", (s, dir) =>
      // "how not to sort by average rating": rank parts by return rate
      // using the Wilson score LOWER bound (z = 1.96) instead of the
      // naive proportion — a 1/1 returner no longer outranks a 17/30.
      // One hash aggregate to |parts| rows of exact integer counts; the
      // bound is a fixed float expression on that metadata frame and the
      // top-20 is a TakeOrdered heap (ordered on the ROUNDED bound so
      // cross-engine ordering can never hinge on a last-ulp difference).
      T(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
        .select(col("l_partkey"), col("n"), col("pos"),
          expr("pos * 10000 div n").as("naive_bp"),
          Num.roundz(expr(
            "(CAST(pos AS DOUBLE)/n + CAST(1.9208 AS DOUBLE)/n - " +
              "CAST(1.96 AS DOUBLE)*sqrt((CAST(pos AS DOUBLE)/n*" +
              "(CAST(1 AS DOUBLE)-CAST(pos AS DOUBLE)/n) + " +
              "CAST(0.9604 AS DOUBLE)/n)/n)) / " +
              "(CAST(1 AS DOUBLE) + CAST(3.8416 AS DOUBLE)/n)"), 4)
            .as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("l_partkey"))
        .limit(20),
      // identical Wilson lower-bound expression; ORDER on the rounded
      // bound so the heap can never hinge on a last-ulp difference
      """WITH s AS (SELECT l_partkey, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT l_partkey, n, pos,
        |    CAST(pos * 10000 // n AS BIGINT) AS naive_bp,
        |    (round((CAST(pos AS DOUBLE)/n + CAST(1.9208 AS DOUBLE)/n -
        |      CAST(1.96 AS DOUBLE)*sqrt((CAST(pos AS DOUBLE)/n*
        |      (CAST(1 AS DOUBLE)-CAST(pos AS DOUBLE)/n) +
        |      CAST(0.9604 AS DOUBLE)/n)/n)) /
        |      (CAST(1 AS DOUBLE) + CAST(3.8416 AS DOUBLE)/n), 4) + 0.0) AS wilson_lb
        |  FROM s)
        |SELECT l_partkey, n, pos, naive_bp, wilson_lb FROM w
        |ORDER BY wilson_lb DESC, l_partkey LIMIT 20""".stripMargin,
      note = "exact counts to |parts| rows; TakeOrdered on the rounded bound"),
    Key("q361_ks_time_drift", (s, dir) => {
      // TEMPORAL drift per metric: two-sample Kolmogorov–Smirnov between
      // the deployment's early and late halves (cut at the exact
      // epoch-microsecond midpoint), D = max_v |F_early(v)−F_late(v)|.
      // Completes the KS triptych on a third axis: q207 compares
      // experiment ARMS, q221 compares each SEGMENT against the rest —
      // this is the did-the-world-change-since-launch monitor. Scale
      // shape as q207: after the (type, cents) hash aggregate the frame
      // is bounded by the VALUE DOMAIN (the cents discipline), not row
      // count — the CDF window runs over that aggregated frame, and the
      // sup statistic is exact integer cross-multiplication
      // |c0·n1 − c1·n0| (n0·n1 ≲ 2⁶³ up to ~3·10⁹ rows/side; beyond that
      // the same expression runs in Decimal128).
      import org.apache.spark.sql.expressions.Window
      val ev = T(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val g = ev.crossJoin(broadcast(mid))
        .select(col("event_type"), col("cents"),
          when(col("us") <= col("mid"), 0).otherwise(1).as("arm"))
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("d1"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy(col("event_type"))
      g.withColumn("c0", sum(col("d0")).over(w))
        .withColumn("c1", sum(col("d1")).over(w))
        .withColumn("tn0", sum(col("d0")).over(tw))
        .withColumn("tn1", sum(col("d1")).over(tw))
        .groupBy(col("event_type"))
        .agg(max(col("tn0")).as("n0"), max(col("tn1")).as("n1"),
          max(abs(col("c0") * col("tn1") - col("c1") * col("tn0"))).as("d_num"))
        .select(col("event_type"), col("n0"), col("n1"), col("d_num"),
          Num.roundz(col("d_num").cast("double") /
            (col("n0") * col("n1")).cast("double"), 6).as("ks"))
        .orderBy("event_type")
    },
      // same cents quantization, same domain-sized CDF windows, exact
      // cross-multiplied sup statistic; arm = which side of the exact
      // epoch-microsecond midpoint
      """WITH e0 AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e0),
        |ev AS (SELECT event_type, cents,
        |    CASE WHEN us <= mid THEN 0 ELSE 1 END AS arm
        |  FROM e0 CROSS JOIN mid),
        |g AS (SELECT event_type, cents,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS d0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS d1
        |  FROM ev GROUP BY 1, 2),
        |c AS (SELECT event_type, cents, d0, d1,
        |    sum(d0) OVER (PARTITION BY event_type ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c0,
        |    sum(d1) OVER (PARTITION BY event_type ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c1,
        |    sum(d0) OVER (PARTITION BY event_type) AS tn0,
        |    sum(d1) OVER (PARTITION BY event_type) AS tn1 FROM g)
        |SELECT event_type, CAST(max(tn0) AS BIGINT) AS n0,
        |  CAST(max(tn1) AS BIGINT) AS n1,
        |  CAST(max(abs(c0 * tn1 - c1 * tn0)) AS BIGINT) AS d_num,
        |  (round(CAST(max(abs(c0 * tn1 - c1 * tn0)) AS DOUBLE) /
        |    CAST(max(tn0) * max(tn1) AS DOUBLE), 6) + 0.0) AS ks
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "domain-sized CDF windows per metric; exact cross-multiplied sup"),
    Key("q362_conformal_bound", (s, dir) => {
      // split-conformal interval width per group: the k-th smallest
      // absolute residual with k = ⌈0.9·(n+1)⌉ (capped at n) — the
      // distribution-free 90% bound conformal prediction ships. The
      // predictor is the group's exact integer mean (sum div n); the
      // order statistic comes from the keyed two-phase rank
      // ([[TwoPhase.prefixSumKeyed]], value = 1): a corpus-sized group
      // never serializes under a rank window, and `rank == k` reads the
      // answer off one row per group.
      val ev = T(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
      val m = ev.groupBy(col("event_type"))
        .agg(sum(col("cents")).as("sc"), count(lit(1)).as("n"))
        .select(col("event_type"), col("n"), expr("sc div n").as("mean_c"),
          expr("least((9 * (n + 1) + 9) div 10, n)").as("k"))
      val r = ev.join(broadcast(m), Seq("event_type"))
        .withColumn("resid", abs(col("cents") - col("mean_c")))
      TwoPhase.prefixSumKeyed(r, "event_type", col("resid"),
          Seq(col("resid"), col("event_id")), lit(1L), "rk")
        .filter(col("rk") === col("k"))
        .select(col("event_type"), col("n"), col("k"),
          col("resid").as("bound_cents"))
        .orderBy("event_type")
    },
      // the per-group rank window IS what prefixSumKeyed replaces;
      // identical integer mean, identical k
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(cents) // count(*) AS BIGINT) AS mean_c FROM ev GROUP BY 1),
        |kk AS (SELECT event_type, n,
        |    CAST(least((9 * (n + 1) + 9) // 10, n) AS BIGINT) AS k FROM m),
        |r AS (SELECT ev.event_type, abs(ev.cents - m.mean_c) AS resid, ev.event_id
        |  FROM ev JOIN m USING (event_type)),
        |rk AS (SELECT event_type, resid,
        |    row_number() OVER (PARTITION BY event_type ORDER BY resid, event_id) AS rk
        |  FROM r)
        |SELECT kk.event_type, kk.n, kk.k, rk.resid AS bound_cents
        |FROM kk JOIN rk ON rk.event_type = kk.event_type AND rk.rk = kk.k
        |ORDER BY 1""".stripMargin,
      note = "keyed two-phase order statistic; means broadcast"),
    Key("q363_chi_square", (s, dir) => {
      // event_type × ISO-weekday independence: the SCALAR χ² + dof +
      // Cramér's V effect size — is the traffic MIX a function of the day
      // of week? (q210 keeps the per-cell contribution table for a
      // different contingency; this is the one-row monitor a scheduler
      // alerts on, with the effect size that makes χ² comparable across
      // table shapes.) The corpus-sized work is ONE hash aggregate to
      // |types|·7 observed cells; margins, the zero-cell completion (a
      // missing cell still contributes e = r·c/N), and the per-cell term
      // all run on that metadata frame. Per-cell contribution
      // (oN−rc)²/(N·r·c) is computed from exact longs and quantized to
      // micro-units BEFORE the final sum, so the fold is an exact long
      // sum — no float summation-order drift (at gate scale oN < 2⁵³
      // keeps the doubles exact; a 10¹²-row corpus runs the same three
      // ops in Decimal128). isodow = Spark weekday()+1 ≡ DuckDB isodow.
      val docs = T(s, dir, "events")
        .select(col("event_type").as("source"),
          (weekday(col("ts")) + 1).cast("long").as("lang"))
      val o = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      val rt = o.groupBy(col("source")).agg(sum(col("o")).as("r"))
      val ct = o.groupBy(col("lang")).agg(sum(col("o")).as("c"))
      val cells = rt.crossJoin(broadcast(ct))
        .join(o, Seq("source", "lang"), "left")
        .withColumn("o0", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
        .withColumn("contrib_micro", expr(
          "CAST(round(CAST(o0 * nn - r * c AS DOUBLE) * CAST(o0 * nn - r * c AS DOUBLE) " +
            "/ (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nn AS DOUBLE)) " +
            "* CAST(1000000 AS DOUBLE)) AS BIGINT)"))
      cells
        .groupBy(col("nn"))
        .agg(countDistinct(col("source")).as("n_rows"),
          countDistinct(col("lang")).as("n_cols"),
          sum(col("contrib_micro")).as("chi2_micro"))
        .select(col("nn").as("n"), col("n_rows"), col("n_cols"),
          expr("(n_rows - 1) * (n_cols - 1)").as("dof"), col("chi2_micro"),
          Num.roundz(expr(
            "sqrt(CAST(chi2_micro AS DOUBLE) / (CAST(1000000 AS DOUBLE) * " +
              "nn * least(n_rows - 1, n_cols - 1)))"), 4).as("cramers_v"))
    },
      // identical zero-cell completion and micro-quantized per-cell
      // terms; isodow(ts) ≡ Spark weekday()+1 (Monday = 1)
      """WITH d0 AS (SELECT event_type AS source,
        |    CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS lang FROM events),
        |o AS (SELECT source, lang, count(*) AS o FROM d0 GROUP BY 1, 2),
        |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
        |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |nt AS (SELECT count(*) AS nn FROM d0),
        |cells AS (SELECT rt.source, ct.lang, rt.r, ct.c, COALESCE(o.o, 0) AS o0
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN o ON o.source = rt.source AND o.lang = ct.lang),
        |con AS (SELECT source, lang,
        |    CAST(round(CAST(o0 * nn - r * c AS DOUBLE) * CAST(o0 * nn - r * c AS DOUBLE)
        |      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nn AS DOUBLE))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS cm
        |  FROM cells CROSS JOIN nt)
        |SELECT nt.nn AS n, CAST(count(DISTINCT source) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_cols,
        |  CAST((count(DISTINCT source) - 1) * (count(DISTINCT lang) - 1) AS BIGINT) AS dof,
        |  CAST(sum(cm) AS BIGINT) AS chi2_micro,
        |  (round(sqrt(CAST(sum(cm) AS DOUBLE) / (CAST(1000000 AS DOUBLE) * nt.nn *
        |    least(count(DISTINCT source) - 1, count(DISTINCT lang) - 1))), 4) + 0.0) AS cramers_v
        |FROM con CROSS JOIN nt GROUP BY nt.nn""".stripMargin,
      note = "one corpus aggregate; zero-cell completion on broadcast metadata"),
    Key("q364_stationary_dist", (s, dir) => {
      // stationary distribution of the journey Markov chain (q151's
      // matrix) by power iteration — the long-run share of attention each
      // event state absorbs. The q295 division of labor: the only
      // corpus-sized work is the one lead() pass inside
      // [[Relational.transitionMatrix]]; the chain itself is a
      // |states|²-row metadata frame iterated in EXACT scaled-long
      // arithmetic (π·P with probabilities in millionths, floor-div
      // renormalization), so every engine and every partitioning lands on
      // the same vector bit-for-bit.
      val tm = Relational.transitionMatrix(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .select(col("from_type"), col("to_type"), col("cnt"))
      val tot = tm.groupBy(col("from_type")).agg(sum(col("cnt")).as("t"))
      val p = tm.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"),
          expr("(cnt * 1000000) div t").as("ps"))
        .localCheckpoint()
      val states = p.select(col("from_type").as("st")).distinct()
      val n = states.count() // metadata action: |event types| rows
      var pi = states.select(col("st"), lit(1000000L / n).as("v"))
      (1 to 6).foreach { _ =>
        pi = p.join(broadcast(pi), col("from_type") === col("st"))
          .groupBy(col("to_type"))
          .agg(sum(col("v") * col("ps")).as("sv"))
          .select(col("to_type").as("st"), expr("sv div 1000000").as("v"))
          .localCheckpoint()
      }
      pi.select(col("st").as("state"), col("v").as("pi_ppm")).orderBy("state")
    },
      // q151's lead() pairs, probabilities in exact millionths, the same
      // 6 floor-div power-iteration steps unrolled
      """WITH p0 AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type FROM events),
        |tm AS (SELECT from_type, to_type, count(*) AS cnt FROM p0
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT from_type, sum(cnt) AS t FROM tm GROUP BY 1),
        |p AS (SELECT tm.from_type, tm.to_type,
        |    CAST((cnt * 1000000) // t AS BIGINT) AS ps
        |  FROM tm JOIN tt USING (from_type)),
        |st AS (SELECT DISTINCT from_type AS st FROM tm),
        |ns AS (SELECT count(*) AS n FROM st),
        |i0 AS (SELECT st, CAST(1000000 // n AS BIGINT) AS v FROM st CROSS JOIN ns),
        |i1 AS (SELECT p.to_type AS st, CAST(sum(i0.v * p.ps) // 1000000 AS BIGINT) AS v
        |  FROM i0 JOIN p ON p.from_type = i0.st GROUP BY 1),
        |i2 AS (SELECT p.to_type AS st, CAST(sum(i1.v * p.ps) // 1000000 AS BIGINT) AS v
        |  FROM i1 JOIN p ON p.from_type = i1.st GROUP BY 1),
        |i3 AS (SELECT p.to_type AS st, CAST(sum(i2.v * p.ps) // 1000000 AS BIGINT) AS v
        |  FROM i2 JOIN p ON p.from_type = i2.st GROUP BY 1),
        |i4 AS (SELECT p.to_type AS st, CAST(sum(i3.v * p.ps) // 1000000 AS BIGINT) AS v
        |  FROM i3 JOIN p ON p.from_type = i3.st GROUP BY 1),
        |i5 AS (SELECT p.to_type AS st, CAST(sum(i4.v * p.ps) // 1000000 AS BIGINT) AS v
        |  FROM i4 JOIN p ON p.from_type = i4.st GROUP BY 1),
        |i6 AS (SELECT p.to_type AS st, CAST(sum(i5.v * p.ps) // 1000000 AS BIGINT) AS v
        |  FROM i5 JOIN p ON p.from_type = i5.st GROUP BY 1)
        |SELECT st AS state, v AS pi_ppm FROM i6 ORDER BY state""".stripMargin,
      note = "one lead pass; scaled-long power iteration on metadata"),
    Key("q365_stickiness", (s, dir) => {
      // DAU/WAU/MAU stickiness — the product-health ratios every
      // engagement dashboard leads with. Each trailing-distinct series is
      // [[Relational.slidingDistinct]] (distinct (day,user) first, then a
      // bounded map-side day fan-out — never a count-distinct range
      // window); the three |days|-row series join broadcast and the
      // ratios are exact basis points.
      val ev = T(s, dir, "events")
      def series(days: Int, name: String): DataFrame =
        Relational.slidingDistinct(ev, "user_id", "ts", windowDays = days)
          .withColumnRenamed("active", name)
      series(1, "dau")
        .join(broadcast(series(7, "wau")), Seq("day"))
        .join(broadcast(series(28, "mau")), Seq("day"))
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          expr("dau * 10000 div wau").as("dw_bp"),
          expr("wau * 10000 div mau").as("wm_bp"))
        .orderBy("day")
    },
      // q108's fan-out convention at three trailing widths
      """WITH e AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM e),
        |f7 AS (SELECT d + CAST(i AS INTEGER) AS day, user_id
        |  FROM e, LATERAL (SELECT unnest(range(0, 7)) AS i) t),
        |f28 AS (SELECT d + CAST(i AS INTEGER) AS day, user_id
        |  FROM e, LATERAL (SELECT unnest(range(0, 28)) AS i) t),
        |dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau FROM e GROUP BY 1),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM f7
        |  WHERE day IN (SELECT d FROM days) GROUP BY 1),
        |mau AS (SELECT day, count(DISTINCT user_id) AS mau FROM f28
        |  WHERE day IN (SELECT d FROM days) GROUP BY 1)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau, mau.mau,
        |  dau.dau * 10000 // wau.wau AS dw_bp, wau.wau * 10000 // mau.mau AS wm_bp
        |FROM dau JOIN wau USING (day) JOIN mau USING (day) ORDER BY day""".stripMargin,
      note = "three bounded day fan-outs; |days| series join broadcast"),
    Key("q366_l_diversity", (s, dir) => {
      // l-diversity audit (Machanavajjhala 2007) — the axis k-anonymity
      // (q308) cannot see: a large QI group is still unsafe if everyone
      // in it shares the SENSITIVE value. Per (nation, segment) QI group,
      // count DISTINCT balance bands (the sensitive attribute, shifted to
      // a non-negative band so integer division floors identically in
      // both engines); sweep l ∈ {2, 3, 5} and report the exposed share.
      // One map-side-combined aggregate to the |QI|-frame; the sweep is a
      // 3×|QI| metadata cross join — q308's exact scale shape.
      val g = T(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(expr(
          "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000"))
          .as("lv"), count(lit(1)).as("cnt"))
      import s.implicits._
      val ls = Seq(2L, 3L, 5L).toDF("l")
      g.crossJoin(broadcast(ls))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("groups_total"),
          sum(when(col("lv") < col("l"), 1L).otherwise(0L)).as("groups_below"),
          sum(when(col("lv") < col("l"), col("cnt")).otherwise(0L)).as("rows_exposed"),
          sum(col("cnt")).as("rows_total"))
        .select(col("l"), col("groups_total"), col("groups_below"),
          col("rows_exposed"),
          expr("rows_exposed * 10000 div rows_total").as("exposed_bp"))
        .orderBy("l")
    },
      // identical band shift keeps the integer division non-negative, so
      // trunc (Spark div) ≡ floor (DuckDB //)
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000) AS lv,
        |    count(*) AS cnt FROM customer GROUP BY 1, 2),
        |l AS (SELECT unnest([2, 3, 5]) AS l)
        |SELECT CAST(l.l AS BIGINT) AS l, count(*) AS groups_total,
        |  CAST(sum(CASE WHEN g.lv < l.l THEN 1 ELSE 0 END) AS BIGINT) AS groups_below,
        |  CAST(sum(CASE WHEN g.lv < l.l THEN g.cnt ELSE 0 END) AS BIGINT) AS rows_exposed,
        |  CAST(sum(CASE WHEN g.lv < l.l THEN g.cnt ELSE 0 END) * 10000 // sum(g.cnt) AS BIGINT) AS exposed_bp
        |FROM g CROSS JOIN l GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "one QI aggregate; 3-row l sweep broadcast"),
    Key("q367_slo_burn_rate", (s, dir) => {
      // multiwindow error-budget burn (the SRE alerting rule): per day,
      // the error rate over budget (1% SLO) for the 1-day and trailing
      // 7-day windows; page only when BOTH burn — the fast window for
      // speed, the slow one to suppress blips. Corpus work is one hash
      // aggregate to the |days| frame; the trailing window runs over
      // those per-day rows (q80's argument — metadata, never raw events).
      // Burn in exact bp of budget: err·10⁶ div n (= rate/1% in bp).
      import org.apache.spark.sql.expressions.Window
      val d = T(s, dir, "events")
        .groupBy(TextFunctions.dayString(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
      d.withColumn("n7", sum(col("n")).over(w7))
        .withColumn("err7", sum(col("err")).over(w7))
        .select(col("day"), col("n"), col("err"),
          expr("err * 1000000 div n").as("burn1_bp"),
          expr("err7 * 1000000 div n7").as("burn7_bp"))
        .withColumn("page",
          col("burn1_bp") >= 20000 && col("burn7_bp") >= 15000)
        .orderBy("day")
    },
      // same per-day aggregate, same trailing frame over the |days| rows
      """WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    count(*) AS n,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, n, err,
        |    sum(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7,
        |    sum(err) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS err7
        |  FROM d)
        |SELECT day, CAST(n AS BIGINT) AS n, CAST(err AS BIGINT) AS err,
        |  CAST(err * 1000000 // n AS BIGINT) AS burn1_bp,
        |  CAST(err7 * 1000000 // n7 AS BIGINT) AS burn7_bp,
        |  (err * 1000000 // n >= 20000) AND (err7 * 1000000 // n7 >= 15000) AS page
        |FROM w ORDER BY day""".stripMargin,
      note = "one aggregate to |days|; trailing frame on metadata"),
    Key("q368_hll_mergeability", (s, dir) => {
      // the sketch property that makes 100 TB cardinality work AT ALL:
      // DataSketches HLL (Spark's hll_sketch_agg) per-day partial
      // sketches union-merged across days must stay as accurate as one
      // direct pass. The contract is BOUNDED ERROR, not bit-equality — a
      // found (and sf0.1-falsified) subtlety this gate now encodes: in
      // the sparse/LIST regime a direct sketch and a union of partials
      // take different promotion paths to the dense register array, so
      // their estimates can differ slightly even though dense register
      // merging is an associative per-slot max. The gate pins BOTH
      // estimates within ±5% of the oracle-verified exact distinct —
      // i.e. pre-aggregation loses nothing that matters — plus the exact
      // count itself. (At sf0.01 the two estimates happen to coincide;
      // at sf0.1 merged ≠ direct while both stay in bounds.)
      val ev = T(s, dir, "events")
        .select(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
      val merged = ev.groupBy(col("event_type"), col("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val direct = ev.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
          countDistinct(col("user_id")).as("exact"))
      direct.join(broadcast(merged), Seq("event_type"))
        .select(col("event_type"), col("exact"),
          (abs(col("est_merged") - col("exact")) * 100 <= col("exact") * 5)
            .as("merged_ok"),
          (abs(col("est_direct") - col("exact")) * 100 <= col("exact") * 5)
            .as("direct_ok"))
        .orderBy("event_type")
    },
      // the oracle pins the exact cardinality; the two booleans are
      // Spark-side invariants (merged and direct estimates each within
      // ±5% of exact) that must come out TRUE to hash-match this row
      """SELECT event_type, count(DISTINCT user_id) AS exact,
        |  TRUE AS merged_ok, TRUE AS direct_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "per-day partial sketches union-merged vs one direct pass"),
    Key("q369_csv_multiline", (s, dir) => {
      // the CSV ingest edge that breaks naive line-split readers: fields
      // containing QUOTED NEWLINES and ESCAPED QUOTES. The engine writes
      // a field embedding both, then reads its own output back with
      // multiLine parsing — the oracle reconstructs the expected string
      // from the source table, so the gate proves quote/escape/newline
      // fidelity through a full write→read cycle (q115/q63's roundtrip
      // discipline for the messiest text format in production ingest).
      // multiLine forces whole-file parse units (not line-splittable) —
      // the 100 TB note: shard the FILES, not the lines, for this format.
      val out = T(s, dir, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 20), lit("\nhe said \""),
            col("source"), lit("\"")).as("field"))
      val tmp = scratch("q369_csv", dir)
      out.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").option("multiLine", "true")
        .schema(out.schema).csv(tmp)
        .select(col("doc_id"), col("field"),
          length(col("field")).cast("long").as("field_len"))
        .orderBy("doc_id")
    },
      // the oracle reconstructs the expected field from the SOURCE table;
      // the engine must recover it byte-identically through its own
      // written CSV (quoted newline + escaped quotes)
      """WITH f AS (SELECT doc_id,
        |    substr(text, 1, 20) || chr(10) || 'he said "' || source || '"' AS field
        |  FROM documents)
        |SELECT doc_id, field, CAST(length(field) AS BIGINT) AS field_len
        |FROM f ORDER BY doc_id""".stripMargin,
      note = "write->multiLine readback; real csv scan"),
    Key("q370_png_chunk_walk", (s, dir) => {
      // asset inventory WITHOUT decode: per image, walk the PNG chunk
      // stream (length-prefixed, CRC32 per chunk), validate integrity,
      // and read the IHDR geometry big-endian — the header-only audit
      // that inventories a petabyte of media for ~64 bytes + CRC math per
      // file while decode (q112) inflates every IDAT. Fixtures are real
      // ImageIO encodes (IHDR,IDAT,IEND); docs with id % 101 == 0 get one
      // IDAT payload byte flipped, so the gate also proves the CRC check
      // actually checks (those rows must come back crc_ok = false with
      // the structure still fully parsed).
      import s.implicits._
      val imgs = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
          val rgb = (((id % 256) << 16) | ((nc % 256) << 8) | 7L).toInt
          val b = Multimodal.synthPng((nc % 16 + 1).toInt, (id % 16 + 1).toInt, rgb)
          if (id % 101 == 0) b(41) = (b(41) ^ 0x01).toByte // inside IDAT data
          (id, b)
        }).toDF("doc_id", "payload")
      Multimodal.pngChunkWalk(imgs, "doc_id")
        .orderBy("doc_id")
    },
      // JDK ImageIO always emits exactly IHDR(13) IDAT IEND for RGB
      // writes; geometry mirrors q112's synthesis, and the planted IDAT
      // byte-flip must surface as crc_ok = false with structure intact
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_chunks,
        |  'IHDR,IDAT,IEND' AS chunk_types,
        |  CAST(n_chars % 16 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 16 + 1 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth, CAST(2 AS BIGINT) AS color_type,
        |  doc_id % 101 <> 0 AS crc_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
      note = "header-only chunk walk per partition; no decode"),
    Key("q371_mahalanobis", (s, dir) => {
      // MULTIVARIATE anomaly: top-20 events by bivariate Mahalanobis
      // distance over (value cents, hour-of-day) — the correlated-outlier
      // sweep the univariate z-score (q90) and MAD (q147) fences cannot
      // see (a $300 purchase at 3am can be normal on each axis alone).
      // 2×2 algebra needs no matrix library: maha² = (Cyy·dx² − 2Cxy·dx·dy
      // + Cxx·dy²)/det(C) with C the n-scaled central moment matrix. One
      // exact-long moment aggregate (1 row, broadcast back), the score is
      // fixed-op-order double arithmetic on exact inputs (bit-identical
      // cross-engine), ranking on the ROUNDED score, top-20 TakeOrdered.
      val ev = T(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          Num.roundz(col("value") * 100, 0).cast("long").as("x"),
          hour(col("ts")).cast("long").as("y"))
      val m = ev.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
      ev.crossJoin(broadcast(m))
        .withColumn("cxx", expr("CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"))
        .withColumn("cyy", expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy"))
        .withColumn("cxy", expr("CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"))
        .withColumn("dx", expr("CAST(n AS DOUBLE) * x - sx"))
        .withColumn("dy", expr("CAST(n AS DOUBLE) * y - sy"))
        .select(col("event_id"), col("x").as("cents"), col("y").as("hour"),
          Num.roundz(expr(
            "(cyy * dx * dx - 2 * cxy * dx * dy + cxx * dy * dy) / " +
              "(cxx * cyy - cxy * cxy)"), 4).as("maha2"))
        .orderBy(col("maha2").desc, col("event_id"))
        .limit(20)
    },
      // identical fixed-op-order double pipeline on exact long moments
      """WITH ev AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM ev),
        |c AS (SELECT event_id, x, y,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS cxx,
        |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS cyy,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy,
        |    CAST(n AS DOUBLE) * x - sx AS dx,
        |    CAST(n AS DOUBLE) * y - sy AS dy
        |  FROM ev CROSS JOIN m)
        |SELECT event_id, x AS cents, y AS hour,
        |  (round((cyy * dx * dx - 2 * cxy * dx * dy + cxx * dy * dy) /
        |    (cxx * cyy - cxy * cxy), 4) + 0.0) AS maha2
        |FROM c ORDER BY maha2 DESC, event_id LIMIT 20""".stripMargin,
      note = "one exact moment aggregate broadcast; fixed-order double score; heap top-20"),
    Key("q372_preference_pairs", (s, dir) => {
      // DPO/RLHF preference-pair construction: per group, pair the
      // highest-quality member (chosen) against the lowest (rejected) and
      // keep pairs whose margin clears a threshold — the
      // data-assembly step behind every preference-tuning run (ties break
      // to the smaller id on both sides, so the pairing is a pure
      // function of the data). One hash aggregate with max/min(struct) —
      // never a rank window (q351's argmax discipline); quality is the
      // expression-native q51 scorer.
      val q = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      q.groupBy(col("source"))
        .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"),
          min(struct(col("quality"), col("doc_id").as("pid"))).as("w"),
          count(lit(1)).as("group_n"))
        .select(col("source"), (-col("b.nid")).as("chosen_id"),
          col("w.pid").as("rejected_id"), col("b.quality").as("q_chosen"),
          col("w.quality").as("q_rejected"),
          Num.roundz(col("b.quality") - col("w.quality"), 4).as("margin"),
          col("group_n"))
        .filter(col("margin") >= 0.3)
        .orderBy("source")
    },
      // q51's exact quality formula; argmax/argmin as the rank windows
      // the engine's max/min(struct) replaces, ties to the smaller id
      """WITH f AS (SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS toks,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS DOUBLE) AS stop
        |  FROM documents),
        |ql AS (SELECT doc_id, (round(
        |  (CASE WHEN len >= 100 AND len <= 10000 THEN CAST(1.0 AS DOUBLE) WHEN len >= 20 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
        |  + (CASE WHEN len > 0 THEN alpha / len ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
        |  + (CASE WHEN toks > 0 THEN least(stop / toks * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE),
        |  4) + 0.0) AS quality FROM f),
        |j AS (SELECT d.source, q.doc_id, q.quality FROM documents d JOIN ql q USING (doc_id)),
        |r AS (SELECT source, doc_id, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rb,
        |    row_number() OVER (PARTITION BY source ORDER BY quality ASC, doc_id) AS rw,
        |    count(*) OVER (PARTITION BY source) AS group_n FROM j),
        |b AS (SELECT source, doc_id AS chosen_id, quality AS q_chosen, group_n FROM r WHERE rb = 1),
        |w AS (SELECT source, doc_id AS rejected_id, quality AS q_rejected FROM r WHERE rw = 1)
        |SELECT b.source, b.chosen_id, w.rejected_id, b.q_chosen, w.q_rejected,
        |  (round(b.q_chosen - w.q_rejected, 4) + 0.0) AS margin,
        |  CAST(b.group_n AS BIGINT) AS group_n
        |FROM b JOIN w USING (source)
        |WHERE (round(b.q_chosen - w.q_rejected, 4) + 0.0) >= 0.3
        |ORDER BY b.source""".stripMargin,
      note = "one aggregate; chosen/rejected via max/min(struct)"),
    Key("q373_source_exclusive_vocab", (s, dir) => {
      // leave-one-out DATA VALUATION on vocabulary: per source, how many
      // token types exist nowhere else — the irreplaceability readout
      // (drop this source and these types vanish from the corpus) that
      // additive metrics (doc/token counts) cannot express. One token
      // pass to the DISTINCT (source, type) frame; the per-type source
      // count and the exclusivity join both run on that vocab-sized
      // frame, never the corpus.
      val st = T(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .distinct()
      val perType = st.groupBy(col("w")).agg(count(lit(1)).as("nsrc"))
      val inSrc = st.groupBy(col("source")).agg(count(lit(1)).as("types_in_source"))
      val excl = st.join(perType.filter(col("nsrc") === 1), Seq("w"))
        .groupBy(col("source")).agg(count(lit(1)).as("exclusive_types"))
      inSrc.join(excl, Seq("source"), "left")
        .withColumn("exclusive_types", coalesce(col("exclusive_types"), lit(0L)))
        .crossJoin(broadcast(perType.agg(count(lit(1)).as("corpus_types"))))
        .select(col("source"), col("types_in_source"), col("exclusive_types"),
          col("corpus_types"),
          expr("exclusive_types * 10000 div types_in_source").as("exclusive_bp"))
        .orderBy("source")
    },
      // same tokenization; exclusivity from the per-type source count
      """WITH st AS (SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |    FROM documents) t WHERE w <> ''),
        |pt AS (SELECT w, count(*) AS nsrc FROM st GROUP BY 1),
        |ins AS (SELECT source, count(*) AS types_in_source FROM st GROUP BY 1),
        |ex AS (SELECT st.source, count(*) AS exclusive_types
        |  FROM st JOIN pt ON pt.w = st.w AND pt.nsrc = 1 GROUP BY 1),
        |ct AS (SELECT count(*) AS corpus_types FROM pt)
        |SELECT ins.source, ins.types_in_source,
        |  COALESCE(ex.exclusive_types, 0) AS exclusive_types, ct.corpus_types,
        |  CAST(COALESCE(ex.exclusive_types, 0) * 10000 // ins.types_in_source AS BIGINT) AS exclusive_bp
        |FROM ins LEFT JOIN ex USING (source) CROSS JOIN ct
        |ORDER BY ins.source""".stripMargin,
      note = "one token pass; joins on the vocab-sized frame"),
    Key("q374_isotonic_calibration", (s, dir) => {
      // isotonic (PAV) calibration of the cents→purchase reliability
      // curve (Zadrozny–Elkan 2002), computed DECLARATIVELY via the
      // minimax identity iso_i = max_{j≤i} min_{k≥i} avg(pos over bins
      // j..k) — no sequential pool-adjacent loop, so no driver-side
      // state: the corpus collapses to ≤10 fixed-width bins in one hash
      // aggregate and the whole solve is a ≤10³-row broadcast triple
      // join on that metadata. q211 reports the RAW reliability bins;
      // this is the monotone regression a serving stack actually applies.
      import org.apache.spark.sql.expressions.Window
      val b = T(s, dir, "events")
        .filter(col("value").isNotNull)
        .select((col("event_type") === "purchase").as("label"),
          Num.roundz(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy(expr("least(greatest(cents, 0) * 10 div 35000, 9)")
          .cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("pos"))
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val idx = b.withColumn("rn", row_number().over(Window.orderBy(col("bin"))))
        .withColumn("cn", sum(col("n")).over(w))
        .withColumn("cp", sum(col("pos")).over(w))
      val jf = idx.select(col("rn").as("jr"),
        (col("cn") - col("n")).as("n0"), (col("cp") - col("pos")).as("p0"))
      val kf = idx.select(col("rn").as("kr"), col("cn").as("cnk"), col("cp").as("cpk"))
      val pairs = jf.crossJoin(broadcast(kf)).filter(col("jr") <= col("kr"))
        .select(col("jr"), col("kr"),
          expr("CAST(cpk - p0 AS DOUBLE) / CAST(cnk - n0 AS DOUBLE)").as("a"))
      idx.select(col("rn").as("ir"), col("bin"), col("n"), col("pos"))
        .join(broadcast(pairs),
          col("jr") <= col("ir") && col("ir") <= col("kr"))
        .groupBy(col("ir"), col("bin"), col("n"), col("pos"), col("jr"))
        .agg(min(col("a")).as("mn"))
        .groupBy(col("ir"), col("bin"), col("n"), col("pos"))
        .agg(max(col("mn")).as("iso"))
        .select(col("bin"), col("n"), col("pos"),
          expr("pos * 10000 div n").as("raw_bp"),
          expr("CAST(round(iso * 10000) AS BIGINT)").as("iso_bp"))
        .orderBy("bin")
    },
      // the same minimax identity, enumerated over the ≤10-bin frame
      """WITH ev AS (SELECT event_type = 'purchase' AS label,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT least(greatest(cents, 0) * 10 // 35000, 9) AS bin,
        |    count(*) AS n, sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos
        |  FROM ev GROUP BY 1),
        |idx AS (SELECT bin, n, pos,
        |    row_number() OVER (ORDER BY bin) AS rn,
        |    sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
        |    sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp FROM b),
        |pairs AS (SELECT j.rn AS jr, k.rn AS kr,
        |    CAST(k.cp - (j.cp - j.pos) AS DOUBLE) / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
        |  FROM idx j JOIN idx k ON j.rn <= k.rn),
        |tri AS (SELECT i.rn AS ir, i.bin, i.n, i.pos, p.jr, min(p.a) AS mn
        |  FROM idx i JOIN pairs p ON p.jr <= i.rn AND i.rn <= p.kr
        |  GROUP BY 1, 2, 3, 4, 5),
        |iso AS (SELECT ir, bin, n, pos, max(mn) AS iso FROM tri GROUP BY 1, 2, 3, 4)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(pos AS BIGINT) AS pos,
        |  CAST(pos * 10000 // n AS BIGINT) AS raw_bp,
        |  CAST(round(iso * 10000) AS BIGINT) AS iso_bp
        |FROM iso ORDER BY bin""".stripMargin,
      note = "bins in one aggregate; minimax PAV on broadcast metadata"),
    Key("q375_jackknife_ratio", (s, dir) => {
      // delete-one-DAY jackknife standard error of a ratio metric
      // (purchases per view) — the experiment-analysis variance for
      // ratios, where per-user averaging is wrong and bootstrap needs
      // randomness; delete-1 over day blocks is fully deterministic
      // (Quenouille/Tukey). One hash aggregate to the |days| frame; each
      // leave-one-out ratio quantizes to exact micro-units BEFORE the
      // Σq/Σq² fold, so the variance is exact integer arithmetic and the
      // one float sqrt runs on a 1-row frame.
      val d = T(s, dir, "events")
        .groupBy(TextFunctions.dayString(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      val tot = d.agg(count(lit(1)).as("n"), sum(col("v")).as("vt"),
        sum(col("p")).as("pt"))
      d.crossJoin(broadcast(tot))
        .withColumn("q", expr(
          "CAST(round(CAST(pt - p AS DOUBLE) / CAST(vt - v AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy(col("n"), col("vt"), col("pt"))
        .agg(sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sq2"))
        .select(col("n").as("n_days"), col("vt").as("views"),
          col("pt").as("purchases"),
          Num.roundz(expr("CAST(pt AS DOUBLE) / CAST(vt AS DOUBLE)"), 6).as("ratio"),
          Num.roundz(expr(
            "sqrt(CAST(n - 1 AS DOUBLE) / n * " +
              "(CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n)) / CAST(1000000 AS DOUBLE)"), 6)
            .as("jk_se"))
    },
      // identical per-day leave-one-out ratios, micro-quantized before
      // the exact Σq/Σq² fold; one sqrt on the 1-row frame
      """WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS vt,
        |    CAST(sum(p) AS BIGINT) AS pt FROM d),
        |qv AS (SELECT n, vt, pt,
        |    CAST(round(CAST(pt - p AS DOUBLE) / CAST(vt - v AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM d CROSS JOIN t),
        |ag AS (SELECT n, vt, pt, CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(sum(q * q) AS BIGINT) AS sq2 FROM qv GROUP BY 1, 2, 3)
        |SELECT n AS n_days, vt AS views, pt AS purchases,
        |  (round(CAST(pt AS DOUBLE) / CAST(vt AS DOUBLE), 6) + 0.0) AS ratio,
        |  (round(sqrt(CAST(n - 1 AS DOUBLE) / n *
        |    (CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n)) / CAST(1000000 AS DOUBLE), 6) + 0.0) AS jk_se
        |FROM ag""".stripMargin,
      note = "totals broadcast; micro-quantized pseudo-values; exact fold"),
    Key("q376_erasure_audit", (s, dir) => {
      // right-to-be-forgotten PROPAGATION audit: after tombstoned users
      // (id % 37 = 0) are deleted from the base table, every user-keyed
      // derived artifact must carry zero tombstone references — and a
      // STALE artifact (materialized before the deletion, the real-world
      // failure mode) must be caught. q289 deletes from one vector index;
      // this is the fleet-wide sweep a GDPR pipeline runs across ALL
      // derivations. Each check is one aggregate + a broadcast semi
      // (tombstone set is id-list-sized); the planted stale artifact must
      // surface refs > 0 with clean = false.
      val ev = T(s, dir, "events")
      val tomb = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 37 === 0)
      // user_id is non-null in the fixture, but the oracle's NOT IN drops
      // NULL user_id rows whenever the tombstone set is non-empty while
      // left_anti keeps them — filter explicitly so both sides agree under
      // a nullable schema (same defensive guard as q379/q389).
      val live = ev.filter(col("user_id").isNotNull)
        .join(broadcast(tomb), Seq("user_id"), "left_anti")
      def audit(name: String, artifact: DataFrame): DataFrame = artifact
        .join(broadcast(tomb), Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("tombstoned_refs"))
        .crossJoin(artifact.agg(count(lit(1)).as("n_rows")))
        .select(lit(name).as("artifact"), col("n_rows"), col("tombstoned_refs"),
          (col("tombstoned_refs") === 0).as("clean"))
      val sessions = live.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val latest = live.groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"))
      val staleTop = ev.groupBy(col("user_id")) // pre-deletion materialization
        .agg(count(lit(1)).as("n_events"))
      audit("sessions_live", sessions)
        .unionByName(audit("latest_live", latest))
        .unionByName(audit("top_users_stale", staleTop))
        .orderBy("artifact")
    },
      // the same three artifacts recomputed from the base table; the
      // stale one must carry refs > 0
      """WITH tomb AS (SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0),
        |live AS (SELECT * FROM events
        |  WHERE user_id NOT IN (SELECT user_id FROM tomb)),
        |s AS (SELECT user_id FROM live GROUP BY user_id),
        |l AS (SELECT user_id FROM live GROUP BY user_id),
        |st AS (SELECT user_id FROM events GROUP BY user_id)
        |SELECT 'latest_live' AS artifact,
        |  (SELECT count(*) FROM l) AS n_rows,
        |  (SELECT count(*) FROM l WHERE user_id IN (SELECT user_id FROM tomb)) AS tombstoned_refs,
        |  (SELECT count(*) FROM l WHERE user_id IN (SELECT user_id FROM tomb)) = 0 AS clean
        |UNION ALL
        |SELECT 'sessions_live',
        |  (SELECT count(*) FROM s),
        |  (SELECT count(*) FROM s WHERE user_id IN (SELECT user_id FROM tomb)),
        |  (SELECT count(*) FROM s WHERE user_id IN (SELECT user_id FROM tomb)) = 0
        |UNION ALL
        |SELECT 'top_users_stale',
        |  (SELECT count(*) FROM st),
        |  (SELECT count(*) FROM st WHERE user_id IN (SELECT user_id FROM tomb)),
        |  (SELECT count(*) FROM st WHERE user_id IN (SELECT user_id FROM tomb)) = 0
        |ORDER BY artifact""".stripMargin,
      note = "tombstones broadcast; semi/anti membership per artifact"),
    Key("q377_epoch_shuffle", (s, dir) => {
      // DETERMINISTIC dataloader shuffling: epoch e's order is the global
      // rank under a seeded multiplicative hash of the id — a pure
      // function of (id, epoch), so re-runs agree, any worker can
      // reconstruct its slice, and resuming mid-epoch means reading batch
      // b's rank range, not replaying the stream (what rand()-shuffles
      // can never give you). Rank via the two-phase global rank (no
      // single-partition sort of the corpus); batches are fixed 64-doc
      // slices; the gate pins the first 4 batches of two epochs with
      // order-invariant id sums — different epochs, different batches,
      // same determinism.
      val docs = T(s, dir, "documents").select(col("doc_id"))
      def epoch(e: Int, a: Long): DataFrame = {
        val keyed = docs.withColumn("k",
          (col("doc_id") * lit(a)) % lit(2147483647L))
        val (ranked, _) = TwoPhase.globalRank(keyed, col("k"),
          Seq(col("k"), col("doc_id")), "r")
        ranked.withColumn("batch", expr("(r - 1) div 64"))
          .filter(col("batch") < 4)
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .withColumn("epoch", lit(e.toLong))
      }
      epoch(1, 48271L).unionByName(epoch(2, 16807L))
        .select(col("epoch"), col("batch"), col("n_docs"), col("id_sum"))
        .orderBy("epoch", "batch")
    },
      // the global rank window IS what the two-phase rank replaces
      """WITH e1 AS (SELECT doc_id, (doc_id * 48271) % 2147483647 AS k FROM documents),
        |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS r FROM e1),
        |b1 AS (SELECT 1 AS epoch, (r - 1) // 64 AS batch, count(*) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM r1 WHERE (r - 1) // 64 < 4 GROUP BY 2),
        |e2 AS (SELECT doc_id, (doc_id * 16807) % 2147483647 AS k FROM documents),
        |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS r FROM e2),
        |b2 AS (SELECT 2 AS epoch, (r - 1) // 64 AS batch, count(*) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM r2 WHERE (r - 1) // 64 < 4 GROUP BY 2)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(batch AS BIGINT) AS batch,
        |  n_docs, id_sum
        |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2) u
        |ORDER BY epoch, batch""".stripMargin,
      note = "seeded hash order via two-phase global rank; batch = rank div B"),
    Key("q378_schema_compat", (s, dir) => {
      // schema-registry compatibility gate: two ingest batches land with
      // drifted schemas; the ledger classifies every field (added /
      // dropped / type_narrowed / unchanged) and rules on READ
      // compatibility (nullable adds pass; drops and narrowing break
      // old readers) — the check that runs BEFORE q118's mergeSchema
      // union ever gets to. The schemas are read back from the written
      // parquet FOOTERS (metadata I/O only — no data scan at any size);
      // the ledger itself is |fields| rows built from that metadata.
      val docs = T(s, dir, "documents")
      val pa = s"${scratch("q378_schema", dir)}/a"
      val pb = s"${scratch("q378_schema", dir)}/b"
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .limit(10).write.mode("overwrite").parquet(pa)
      docs.select(col("doc_id"), col("n_chars").cast("int").as("n_chars"),
          col("lang"))
        .limit(10).write.mode("overwrite").parquet(pb)
      val oldS = s.read.parquet(pa).schema
      val newS = s.read.parquet(pb).schema
      val oldM = oldS.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val newM = newS.fields.map(f => f.name -> f.dataType.simpleString).toMap
      import s.implicits._
      (oldM.keySet ++ newM.keySet).toSeq.sorted.map { f =>
        val (o, n) = (oldM.get(f), newM.get(f))
        val change = (o, n) match {
          case (Some(a), Some(b)) if a == b => "unchanged"
          case (Some("bigint"), Some("int")) => "type_narrowed"
          case (Some("int"), Some("bigint")) => "type_widened"
          case (Some(_), Some(_)) => "type_changed"
          case (None, Some(_)) => "added"
          case (Some(_), None) => "dropped"
        }
        val compat = change == "unchanged" || change == "added" ||
          change == "type_widened"
        (f, o.isDefined, n.isDefined, o.orNull, n.orNull, change, compat)
      }.toDF("field", "in_old", "in_new", "old_type", "new_type",
        "change", "read_compatible")
        .orderBy("field")
    },
      // the ledger is fully determined by the two batch schemas the
      // engine writes; the oracle pins the expected classification
      """SELECT * FROM (VALUES
        |  ('doc_id', TRUE, TRUE, 'bigint', 'bigint', 'unchanged', TRUE),
        |  ('lang', FALSE, TRUE, CAST(NULL AS VARCHAR), 'string', 'added', TRUE),
        |  ('n_chars', TRUE, TRUE, 'bigint', 'int', 'type_narrowed', FALSE),
        |  ('source', TRUE, FALSE, 'string', CAST(NULL AS VARCHAR), 'dropped', FALSE))
        |  t(field, in_old, in_new, old_type, new_type, change, read_compatible)
        |ORDER BY field""".stripMargin,
      note = "footer-only schema diff; |fields|-row metadata ledger"),
    Key("q379_pseudonymize", (s, dir) => {
      // keyed PSEUDONYMIZATION with a referential-integrity proof: each
      // user id maps to a token by a peppered deterministic hash — the
      // release transform that keeps JOINS working (same user, same
      // token, across every table and every run) while severing the raw
      // id, which q72's in-text scrubbing cannot do. The gate: per-token
      // event counts (the analytics survive the transform) plus an
      // injectivity bit (exactly one raw id behind each token — a
      // collision would silently merge two users' histories). Map-side
      // expression hash, one aggregate; no rainbow-table reversal without
      // the pepper.
      val ev = T(s, dir, "events").filter(col("user_id").isNotNull)
        .withColumn("token", graft.functions.RollingHash(
          concat(lit("pepper-v1:"), col("user_id").cast("string"))))
      ev.groupBy(col("token"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("raw_ids"))
        .select(col("token"), col("n_events"),
          (col("raw_ids") === 1).as("injective"))
        .orderBy("token")
    },
      // the q53 byte-rolling hash of the peppered id string
      """WITH ev AS (SELECT user_id, list_reduce(
        |    list_transform(range(1, length(t) + 1),
        |      i -> CAST(ord(substr(t, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS token
        |  FROM (SELECT user_id, 'pepper-v1:' || CAST(user_id AS VARCHAR) AS t
        |        FROM events WHERE user_id IS NOT NULL) x)
        |SELECT token, count(*) AS n_events,
        |  count(DISTINCT user_id) = 1 AS injective
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "map-side peppered token expression; one aggregate"),
    Key("q380_embedding_drift", (s, dir) => {
      // embedding-BATCH drift monitor: per projected dimension (q295's
      // 16-dim stride), compare the reference half (even ids) against the
      // new half (odd ids) — the did-the-encoder-change check a vector
      // pipeline runs before mixing index generations (a silently
      // re-normalized or re-trained encoder shifts means/scales long
      // before recall collapses). Location gap as the EXACT
      // cross-multiplied mean difference |Σa·n_b − Σb·n_a| (q361's
      // trick — no float summation anywhere); scale ratio from exact
      // Σ|m| folds with one final rounded division. One scan, one
      // 16-row aggregate.
      val proj = T(s, dir, "embeddings")
        .select((col("vec_id") % 2).as("side"), posexplode(expr(
          "transform(sequence(0, 15), k -> CAST(round(CAST(element_at(embedding, k * 4 + 1) AS DOUBLE) * 1000000) AS BIGINT))"))
          .as(Seq("dim", "m")))
      proj.groupBy(col("dim").cast("long").as("dim"))
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("side") === 0, col("m")).otherwise(0L)).as("sa"),
          sum(when(col("side") === 1, col("m")).otherwise(0L)).as("sb"),
          sum(when(col("side") === 0, abs(col("m"))).otherwise(0L)).as("aa"),
          sum(when(col("side") === 1, abs(col("m"))).otherwise(0L)).as("ab"))
        .select(col("dim"), col("n_a"), col("n_b"),
          abs(col("sa") * col("n_b") - col("sb") * col("n_a")).as("mean_gap_x"),
          col("aa"), col("ab"),
          Num.roundz(expr(
            "CAST(ab AS DOUBLE) * n_a / (CAST(aa AS DOUBLE) * n_b) * 10000"), 0)
            .cast("long").as("scale_ratio_bp"))
        .orderBy("dim")
    },
      // q288's micro-scaled strided projection; exact cross-multiplied
      // location gap, one rounded division for the scale ratio
      """WITH vecs AS (SELECT vec_id % 2 AS side, list_transform(range(0, 16),
        |    k -> CAST(round(CAST(embedding AS DOUBLE[])[CAST(k * 4 + 1 AS INT)] * 1000000) AS BIGINT)) AS p
        |  FROM embeddings),
        |pr AS (SELECT side, CAST(d.k AS BIGINT) AS dim, p[CAST(d.k + 1 AS INT)] AS m
        |  FROM vecs, LATERAL (SELECT unnest(range(0, 16)) AS k) d),
        |g AS (SELECT dim,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN side = 0 THEN m ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN side = 1 THEN m ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN side = 0 THEN abs(m) ELSE 0 END) AS BIGINT) AS aa,
        |    CAST(sum(CASE WHEN side = 1 THEN abs(m) ELSE 0 END) AS BIGINT) AS ab
        |  FROM pr GROUP BY 1)
        |SELECT dim, n_a, n_b,
        |  CAST(abs(sa * n_b - sb * n_a) AS BIGINT) AS mean_gap_x, aa, ab,
        |  CAST(round(CAST(ab AS DOUBLE) * n_a / (CAST(aa AS DOUBLE) * n_b) * 10000) AS BIGINT) AS scale_ratio_bp
        |FROM g ORDER BY dim""".stripMargin,
      note = "map-side 16-dim fan-out; exact cross-multiplied gaps"),
    Key("q381_join_ivm", (s, dir) => {
      // incremental JOIN-view maintenance: the standing orders⋈customer
      // view absorbs deltas on BOTH sides via the delta-join algebra
      // ΔV = ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC (Blakeley 1986) — q111 maintains an
      // AGGREGATE incrementally; this is the join half every lakehouse
      // materialized view needs. The oracle recomputes the full join from
      // scratch, so the green row IS the incremental ≡ recompute proof
      // (q265's discipline). At 100 TB the deltas are batch-sized, so
      // every term shuffles O(|Δ|), never the standing view.
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        Num.roundz(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_orderdate"))
      val c = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val cut = lit("1999-01-01").cast("date")
      val oOld = o.filter(col("o_orderdate") < cut)
      val dO = o.filter(col("o_orderdate") >= cut)
      val cOld = c.filter(col("c_custkey") % 11 =!= 0)
      val dC = c.filter(col("c_custkey") % 11 === 0)
      def j(l: DataFrame, r: DataFrame): DataFrame =
        l.join(r, col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("cents"))
      j(oOld, cOld) // the standing view
        .unionByName(j(dO, cOld)) // ΔO ⋈ C
        .unionByName(j(oOld, dC)) // O ⋈ ΔC
        .unionByName(j(dO, dC)) // ΔO ⋈ ΔC
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .orderBy("c_nationkey")
    },
      // the oracle is the FULL from-scratch join — a green row proves the
      // delta algebra reproduced it exactly
      """SELECT c_nationkey, count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      note = "delta-join algebra: 4 terms union, O(|delta|) shuffles"),
    Key("q382_cdc_chunking", (s, dir) => {
      // content-defined chunking (LBFS/rsync, Muthitacharoen 2001) — the
      // STORAGE-dedup primitive under every backup/blob store: boundaries
      // where a 4-char window hash ≡ 0 (mod 64), so an insertion shifts
      // only its own chunk while text dedup (q43) would see a brand-new
      // document. The rule is stateless (no min-chunk clamp), so every
      // boundary is decidable per position; the walk is the native
      // codegen'd [[graft.functions.CdcChunks]] single pass (the
      // higher-order-function formulation measured 6.7× slower at sf0.1 —
      // PropertySpec asserts their bit-equality), and the dedup ledger is
      // one hash aggregate over chunk fingerprints (never chunk text).
      // The pack clamps a chunk's length to 2^24−1 chars; the oracle
      // mirrors the clamp (least(length, 16777215)) so both sides agree
      // even on a pathological ≥16 MB single chunk.
      val ch = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.CdcChunks(col("text"))).as("packed"))
        .select(col("doc_id"), expr("packed % 16777216").as("clen"),
          expr("packed div 16777216").as("fp"))
      val per = ch.groupBy(col("fp")).agg(count(lit(1)).as("inst"),
        max(col("clen")).as("clen"))
      ch.agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_chunks"), sum(col("clen")).as("total_chars"))
        .crossJoin(broadcast(per.agg(count(lit(1)).as("distinct_chunks"))))
        .select(col("n_docs"), col("total_chunks"), col("distinct_chunks"),
          expr("(total_chunks - distinct_chunks) * 10000 div total_chunks")
            .as("dup_bp"),
          expr("total_chars * 100 div total_chunks").as("mean_len_c"))
    },
      // identical stateless boundary rule, chunk slicing, and per-chunk
      // byte-rolling fingerprints
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |bs AS (SELECT doc_id, text, n,
        |    list_filter(list_transform(range(4, n + 1), i ->
        |      CASE WHEN (ord(substr(text, CAST(i - 3 AS INT), 1)) * 29791 +
        |        ord(substr(text, CAST(i - 2 AS INT), 1)) * 961 +
        |        ord(substr(text, CAST(i - 1 AS INT), 1)) * 31 +
        |        ord(substr(text, CAST(i AS INT), 1))) % 64 = 0
        |      THEN i ELSE CAST(-1 AS BIGINT) END), x -> x > 0) AS b FROM t),
        |se AS (SELECT doc_id, text,
        |    list_prepend(CAST(1 AS BIGINT), list_transform(b, x -> x + 1)) AS st,
        |    list_append(b, CAST(n AS BIGINT)) AS en FROM bs),
        |ch0 AS (SELECT doc_id, unnest(list_transform(range(1, len(st) + 1),
        |    j -> substr(text, CAST(st[CAST(j AS INT)] AS INT),
        |      CAST(en[CAST(j AS INT)] - st[CAST(j AS INT)] + 1 AS INT)))) AS chunk
        |  FROM se),
        |ch AS (SELECT doc_id, least(length(chunk), 16777215) AS clen, list_reduce(
        |    list_transform(range(1, length(chunk) + 1),
        |      i -> CAST(ord(substr(chunk, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |  FROM ch0 WHERE chunk <> '')
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS total_chunks,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS distinct_chunks,
        |  CAST((count(*) - count(DISTINCT fp)) * 10000 // count(*) AS BIGINT) AS dup_bp,
        |  CAST(sum(clen) * 100 // count(*) AS BIGINT) AS mean_len_c
        |FROM ch""".stripMargin,
      note = "map-side chunk fan-out + fingerprints; one ledger aggregate"),
    Key("q383_join_size_estimate", (s, dir) => {
      // join-size estimation from COUNT-MIN sketches (Cormode &
      // Muthukrishnan 2005, the AGMS-style inner product): |O ⋈ L| is
      // predicted as min over hash rows of Σ_col cellO·cellL — computed
      // from two 192-cell summaries that each side maintains
      // independently, the optimizer-statistics question ("should this
      // join broadcast? how many shuffle partitions?") answered WITHOUT
      // running the join. The estimate can only overcount (collisions
      // add), so overest ≥ 0 is structural; the gate carries the exact
      // size (oracle-verified) and the estimate's error in bp.
      val seeds = Seq((0, 31L, 7L), (1, 131L, 13L), (2, 1031L, 17L))
      def cm(df: DataFrame, key: String, out: String): DataFrame = {
        val cnt = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        seeds.map { case (i, a, b) =>
          cnt.select(lit(i).as("row"),
            ((col("k") * a + b) % 1000000007L % 64).as("col"), col("c"))
        }.reduce(_ unionByName _)
          .groupBy(col("row"), col("col")).agg(sum(col("c")).as(out))
      }
      val est = cm(T(s, dir, "orders"), "o_orderkey", "co")
        .join(cm(T(s, dir, "lineitem"), "l_orderkey", "cl"),
          Seq("row", "col"))
        .groupBy(col("row")).agg(sum(col("co") * col("cl")).as("rowest"))
        .agg(min(col("rowest")).as("cms_est"))
      val exact = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("exact_rows"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_rows"), col("cms_est"),
          expr("(cms_est - exact_rows) * 10000 div exact_rows").as("overest_bp"))
    },
      // the same 3×64 sketches and inner product, fully arithmetic
      """WITH oc AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |lc AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |sd AS (SELECT * FROM (VALUES (0, 31, 7), (1, 131, 13), (2, 1031, 17)) v(rw, a, b)),
        |go AS (SELECT rw, (k * a + b) % 1000000007 % 64 AS cl_, sum(c) AS co
        |  FROM oc CROSS JOIN sd GROUP BY 1, 2),
        |gl AS (SELECT rw, (k * a + b) % 1000000007 % 64 AS cl_, sum(c) AS cl
        |  FROM lc CROSS JOIN sd GROUP BY 1, 2),
        |re AS (SELECT go.rw, CAST(sum(go.co * gl.cl) AS BIGINT) AS rowest
        |  FROM go JOIN gl ON gl.rw = go.rw AND gl.cl_ = go.cl_ GROUP BY 1),
        |est AS (SELECT CAST(min(rowest) AS BIGINT) AS cms_est FROM re),
        |ex AS (SELECT count(*) AS exact_rows FROM orders
        |  JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT exact_rows, cms_est,
        |  CAST((cms_est - exact_rows) * 10000 // exact_rows AS BIGINT) AS overest_bp
        |FROM ex CROSS JOIN est""".stripMargin,
      note = "two 192-cell CM sketches; inner-product estimate"))
}
