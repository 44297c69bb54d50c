package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary learning at corpus scale.
  *
  * Classic BPE (Sennrich et al.) trains on the WORD-FREQUENCY table, not the
  * raw corpus: identical words share one row, so after the single corpus
  * pass that builds it, every merge step touches only |vocab| rows. Each
  * step is (1) one distributed pair-count aggregation weighted by word
  * frequency, (2) a 1-row argmax collected as metadata, and (3) a map-side
  * fold applying the merge — k merges = k passes over the word table, the
  * corpus is never rescanned. `localCheckpoint` between steps caps plan
  * growth (same discipline as ivfTrainMicro / connectedComponents).
  *
  * The merge application is a left fold that is provably equivalent to the
  * greedy left-to-right scan: it merges when the accumulator's last symbol
  * equals p1 and the incoming equals p2, and a just-merged symbol (p1+p2)
  * can never equal p1 (p2 is nonempty), so overlapping occurrences resolve
  * exactly like the sequential algorithm ("aaaa" + (a,a) → ["aa","aa"]).
  * Ties in pair counts break on (count desc, p1, p2) — deterministic.
  */
object Bpe {

  /** One merge step applied to a symbol array, as a codegen'd fold. */
  private[ops] def applyMerge(syms: Column, p1: String, p2: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(p1) && s === lit(p2),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(p1 + p2))))
          .otherwise(concat(acc, array(s))))

  /** The word-frequency training table: one corpus pass. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Learn `k` merges. Returns (p1, p2, weighted pair count) in merge order;
    * may return fewer than `k` when no adjacent pair remains. */
  def learnMerges(docs: DataFrame, textCol: String, k: Int): Seq[(String, String, Long)] = {
    var words = wordFrequencies(docs, textCol)
      .withColumn("syms", split(col("word"), ""))
      .select(col("syms"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      // adjacent pairs of the CURRENT symbolization, frequency-weighted
      val best = words
        .select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .select(col("p.0").as("p1"), col("p.1").as("p2"), col("freq"))
        .groupBy(col("p1"), col("p2")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(1).collect() // 1 row of metadata — the argmax, not data
      if (best.isEmpty) exhausted = true
      else {
        val (p1, p2, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((p1, p2, cnt))
        words = words
          .withColumn("syms", applyMerge(col("syms"), p1, p2))
          .localCheckpoint()
      }
      step += 1
    }
    merges.toList
  }

  /** Encode text through a learned merge list: map-side only — the fold
    * chain applies every merge in order inside one projection. */
  def encode(docs: DataFrame, textCol: String,
             merges: Seq[(String, String)]): Column = {
    val words = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    // per word: chars → fold each merge in order; then flatten the doc.
    // Expression size grows with |merges| — fine for the tens of merges a
    // test vocabulary carries; a production vocabulary (30k+ merges) uses
    // [[encodeRanked]], whose cost per word is independent of plan size.
    flatten(transform(words, w =>
      merges.foldLeft(split(w, ""): Column) {
        case (acc, (p1, p2)) => applyMerge(acc, p1, p2)
      }))
  }

  /** Production-shape encoder for LARGE merge lists: the merge table ships
    * once per partition (Spark broadcast via closure), and each word is
    * encoded by the standard rank loop — repeatedly merge the lowest-rank
    * adjacent pair until none applies. Equivalent to [[encode]] (BpeSpec
    * asserts it): applying merges in rank order one-at-a-time corpus-wide
    * equals applying all of them rank-ordered within each word, because a
    * later merge can only consume symbols earlier merges produced.
    *
    * PRECONDITION (rank consistency): each merge's components must be base
    * characters or concatenations produced by EARLIER merges — the invariant
    * [[learnMerges]] output always satisfies. For an arbitrary hand-built
    * list that violates it (a low-rank merge consuming a symbol only a
    * higher-rank merge creates), the rank loop and the fold encoder diverge
    * silently, so the list is validated eagerly and rejected.
    * Output rows: (idCol, tokens array). */
  def encodeRanked(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.{Row, types => T}
    // eager rank-consistency check: at each rank, both components must be
    // single (base) characters or the output of a strictly earlier merge
    val produced = scala.collection.mutable.Set.empty[String]
    merges.zipWithIndex.foreach { case ((p1, p2), r) =>
      Seq(p1, p2).foreach { p =>
        require(p.codePointCount(0, p.length) == 1 || produced.contains(p),
          s"encodeRanked: merge #$r ($p1,$p2) references symbol '$p' that is " +
            "neither a base character nor produced by an earlier merge " +
            "(rank-inconsistent merge list; see scaladoc precondition)")
      }
      produced += (p1 + p2)
    }
    val spark = docs.sparkSession
    val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
    val idType = docs.schema(docs.schema.fieldIndex(idCol)).dataType
    val schema = T.StructType(Seq(
      T.StructField(idCol, idType),
      T.StructField("tokens", T.ArrayType(T.StringType))))
    val idIdx = docs.schema.fieldIndex(idCol)
    val textIdx = docs.schema.fieldIndex(textCol)
    val rdd = docs.rdd.mapPartitions { rows =>
      def encodeWord(w: String): List[String] = {
        var syms = w.split("").toList
        var done = false
        while (!done) {
          val best = syms.zip(syms.drop(1)).flatMap(p => rank.get(p).map((p, _)))
            .sortBy(_._2).headOption
          best match {
            case None => done = true
            case Some(((p1, p2), _)) =>
              val out = scala.collection.mutable.ListBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
                  out += (p1 + p2); i += 2
                } else { out += syms(i); i += 1 }
              }
              syms = out.toList
          }
        }
        syms
      }
      rows.map { r =>
        val text = if (r.isNullAt(textIdx)) "" else r.getString(textIdx)
        val toks = text.toLowerCase.split("\\s+")
          .filter(_.nonEmpty).flatMap(encodeWord)
        Row(r.get(idIdx), toks.toSeq)
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
