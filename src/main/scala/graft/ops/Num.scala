package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, lit, round}

/** Numeric display-value hygiene shared by every operator that surfaces a
  * rounded float.
  *
  * The one nonobvious rule here is SIGNED ZERO. IEEE 754 distinguishes
  * −0.0 from +0.0 at the bit level (`8000000000000000` vs `0`), and the
  * correctness gate hashes result values bit-exactly, so the two zeros are
  * DIFFERENT answers even though `-0.0 == 0.0` is true in both engines.
  * The engines disagree on which zero a round produces: Spark's `round`
  * routes doubles through `java.math.BigDecimal`, which has no signed zero,
  * so `round(-3.5e-9, 4)` comes back `+0.0`; DuckDB's `round` preserves the
  * sign and returns `-0.0` for the same input. Any rounded metric that can
  * straddle zero (pmi, correlation, z-scores, uplift, EWMA of signed
  * deltas, DiD, log-odds…) therefore carries a latent one-bit hash
  * divergence that fires only when some row happens to round to zero from
  * below — exactly what hit q161_pmi_bigrams in round 9 (one row, bigram
  * ("order","spark"), −0.0 vs +0.0, zero value-level diffs).
  *
  * The normalization is `x + 0.0`: an IEEE identity for every double
  * EXCEPT −0.0, which it maps to +0.0 (round-to-nearest addition of
  * opposite-signed zeros yields +0.0 by the standard). NULL propagates
  * (NULL + 0.0 = NULL), NaN stays NaN, and every other value is returned
  * bit-identically, so applying it uniformly — even to metrics that can
  * never go negative — is free and removes the need to reason about each
  * call site's sign. The oracle SQL applies the same `+ 0.0` after each of
  * its rounds, so BOTH engines land on +0.0.
  */
object Num {

  /** Map −0.0 to +0.0; bit-identity (and NULL/NaN-preserving) otherwise. */
  def normZero(c: Column): Column = c + lit(0.0)

  /** `round` to `scale` digits with the signed zero normalized — the form
    * every gate-surfaced display float must use (see object doc).
    */
  def roundz(c: Column, scale: Int): Column = normZero(round(c, scale))

  /** Scale-0 variant (callers cast to long right after; normalization is
    * then a no-op, kept so the "every engine round is normalized" invariant
    * stays greppable).
    */
  def roundz(c: Column): Column = normZero(round(c, 0))

  /** The ordered double sum: `aggregate` folds `term` (an expression over
    * the element `t`) left to right from 0.0 over the array column `list`,
    * which the caller builds with `sort_array(collect_list(struct(key…,
    * term…)))`. Float addition is not associative, so a plain `sum` gives
    * a result that depends on partitioning; folding in sorted key order
    * makes Spark execute the same IEEE additions in the same order as the
    * oracle's `list_reduce` over `list(term ORDER BY key)`.
    */
  def orderedSum(list: String, term: String): Column =
    expr(s"aggregate($list, CAST(0.0 AS DOUBLE), (acc, t) -> acc + $term)")
}
