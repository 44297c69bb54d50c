package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase replacements for global-order computations that a naive
  * empty-`partitionBy` window serializes onto a single task.
  *
  * `Window.orderBy(k)` with no `partitionBy` moves EVERY row into one
  * partition — one executor core sorting and scanning the whole corpus. The
  * classic distributed alternative (the same shape `RangePartitioner` and
  * every parallel prefix-sum use) is three cheap steps:
  *
  *   1. '''bin''': split the order key's domain into `bins` ranges using one
  *      `approx_percentile` pass (cutpoints are collected to the driver as a
  *      handful of literals — metadata, not data);
  *   2. '''local''': compute the running aggregate *within each bin* with a
  *      `partitionBy(bin)` window — `bins` tasks running in parallel;
  *   3. '''offset''': per-bin totals (`bins` rows, collected as metadata)
  *      prefix-scanned on the driver and broadcast-joined back, so each row's
  *      global value = its bin's offset + its local running value.
  *
  * No step materializes more than `bins` rows outside the executors, no
  * window in the final plan has an empty partition spec, and the result is
  * bit-identical to the single-partition window (binning only *groups* the
  * total order, never reorders it — cutpoint placement affects bin sizes,
  * not values).
  *
  * Preconditions: `binKey` is numeric and order-consistent with the leading
  * key of `order` (rows comparing equal on `binKey` may compare any way on
  * the remaining keys — ties always land in the same bin, so within-bin
  * ordering settles them). `value` is a non-null integral column. Skew note:
  * a single `binKey` value with more rows than a bin's share (e.g. the
  * freq=1 tier of a vocabulary) concentrates in one bin — the unit of
  * serialization drops from "the whole table" to "the largest tie tier".
  */
object TwoPhase {

  /** Step 1, the range bin of `binKey` in `df` (an integer column, 0 until
    * `bins`): the `bins - 1` range cutpoints come from one approx-sketch
    * pass collected as literals (accuracy only shapes bin balance), and
    * the bin is the number of cutpoints <= `binKey` — a codegen'd indicator
    * ladder, so equal keys always share a bin and bins inherit the key's
    * order. */
  private[ops] def rangeBin(df: DataFrame, binKey: Column, bins: Int): Column = {
    val fracs = (1 until bins).map(_.toDouble / bins)
    val cutsRow = df
      .agg(percentile_approx(binKey, array(fracs.map(lit): _*), lit(10000)).as("c"))
      .first()
    val cuts: Seq[Any] =
      if (cutsRow.isNullAt(0)) Nil else cutsRow.getSeq[Any](0).distinct
    cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(binKey >= lit(c), 1).otherwise(0)
    }
  }

  /** Inclusive running `sum(value)` over the total order `order`, added as
    * column `out` (LongType). Returns the frame and the grand total (the
    * per-bin totals are already on the driver, so the total is free — q96's
    * ntile arithmetic needs it).
    */
  def prefixSum(df: DataFrame, binKey: Column, order: Seq[Column],
                value: Column, out: String, bins: Int = 32): (DataFrame, Long) = {
    val spark = df.sparkSession
    Seq("__bin", "__off").foreach { tmp =>
      require(!df.columns.contains(tmp),
        s"prefixSum: input already has a column named '$tmp' (reserved as a " +
          "temp column by the two-phase rewrite) — rename it first")
    }
    val binned = df.withColumn("__bin", rangeBin(df, binKey, bins))
    // phase 3 input: per-bin totals — `bins` rows of metadata, prefix-scanned
    // on the driver (this is a scan over bin COUNT, not over data)
    val totals = binned.groupBy(col("__bin"))
      .agg(sum(value).cast("long").as("__tot"))
      .orderBy(col("__bin"))
      .collect()
    // a null per-bin sum means every `value` in that bin was NULL — the
    // documented non-null precondition is violated; fail with a clear
    // message instead of the opaque NPE getLong would throw
    totals.foreach { r =>
      require(!r.isNullAt(1),
        s"prefixSum: bin ${r.getInt(0)} has a NULL sum — the `value` column " +
          "must be non-null (precondition; coalesce it before calling)")
    }
    val offsets = totals.map(_.getLong(1)).scanLeft(0L)(_ + _)
    val total = offsets.last
    import spark.implicits._
    val offDf = totals.map(_.getInt(0)).zip(offsets).toSeq.toDF("__bin", "__off")
    // phase 2 + 3: local running sum inside each bin (parallel across bins),
    // shifted by the bin's broadcast offset
    val localW = Window.partitionBy(col("__bin")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val res = binned
      .join(broadcast(offDf), Seq("__bin"))
      .withColumn(out, col("__off") + sum(value.cast("long")).over(localW))
      .drop("__bin", "__off")
    (res, total)
  }

  /** Global 1-based rank over the (unique) total order `order` — the
    * distributed twin of `row_number().over(Window.orderBy(order))`. */
  def globalRank(df: DataFrame, binKey: Column, order: Seq[Column],
                 out: String, bins: Int = 32): (DataFrame, Long) =
    prefixSum(df, binKey, order, lit(1L), out, bins)

  /** PER-KEY inclusive running `sum(value)` over the within-key total order
    * `order` — the distributed twin of
    * `sum(v).over(Window.partitionBy(key).orderBy(order))` for the case
    * where a single key's partition is itself corpus-sized (a per-language
    * vocabulary, a per-tenant ledger): `partitionBy(key)` alone would put
    * one language's 10⁸-row vocabulary on one task.
    *
    * Same three steps as [[prefixSum]], generalized: bin cutpoints are
    * GLOBAL (one approx sketch — they only shape balance), the local window
    * partitions by (key, bin) so every task holds one key-slice of one bin,
    * and the offset table is the (key, bin) totals — |keys|·bins rows of
    * metadata, prefix-scanned per key on the driver and broadcast back.
    * Precondition: |keys|·bins is metadata-sized (a bounded key domain —
    * languages, tenants, sources), `keyCol` is a string column, and the
    * [[prefixSum]] preconditions on `binKey`/`order`/`value` hold per key.
    */
  def prefixSumKeyed(df: DataFrame, keyCol: String, binKey: Column,
                     order: Seq[Column], value: Column, out: String,
                     bins: Int = 32): DataFrame = {
    val spark = df.sparkSession
    Seq("__bin", "__off").foreach { tmp =>
      require(!df.columns.contains(tmp),
        s"prefixSumKeyed: input already has a column named '$tmp' (reserved)")
    }
    val binned = df.withColumn("__bin", rangeBin(df, binKey, bins))
    val totals = binned.groupBy(col(keyCol), col("__bin"))
      .agg(sum(value).cast("long").as("__tot"))
      .collect()
    totals.foreach { r =>
      require(!r.isNullAt(2),
        s"prefixSumKeyed: key ${r.get(0)} bin ${r.getInt(1)} has a NULL sum — " +
          "the `value` column must be non-null (coalesce it before calling)")
    }
    import spark.implicits._
    val offDf = totals.map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).iterator.flatMap { case (k, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.map(_._2).zip(sorted.map(_._3).scanLeft(0L)(_ + _))
          .map { case (bin, off) => (k, bin, off) }
      }.toSeq.toDF(keyCol, "__bin", "__off")
    val localW = Window.partitionBy(col(keyCol), col("__bin")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .join(broadcast(offDf), Seq(keyCol, "__bin"))
      .withColumn(out, col("__off") + sum(value.cast("long")).over(localW))
      .drop("__bin", "__off")
  }

  /** Exact `ntile(k)` bucket for a 1-based `rank` column over `n` total rows
    * — the SQL-standard allocation (first `n mod k` buckets get one extra
    * row), computed map-side from the rank. With `globalRank` this replaces
    * a global `ntile(k).over(Window.orderBy(...))` without changing a single
    * output value.
    */
  def ntileFromRank(rankCol: String, n: Long, k: Int): Column = {
    val q = n / k
    val rem = n % k
    // ranks <= rem*(q+1) fall in the first rem (size q+1) buckets; the rest
    // split into size-q buckets. SQL `div` keeps the arithmetic in exact
    // longs (the max(q,1) guard is unreachable when rem == n, i.e. n < k).
    val big = rem * (q + 1)
    expr(
      s"CASE WHEN $rankCol <= ${big}L THEN ($rankCol - 1) div ${q + 1}L + 1 " +
      s"ELSE ${rem}L + ($rankCol - ${big}L - 1) div ${math.max(q, 1L)}L + 1 END")
  }
}
