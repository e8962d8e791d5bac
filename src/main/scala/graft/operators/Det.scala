package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for oracle-checked queries.
  *
  * Double summation is order-dependent, and Spark's partial/final aggregation
  * order differs from DuckDB's sequential scan, so `sum(double)` is not
  * bitwise reproducible. House rule: scale money-like doubles to integers
  * per-row, sum exactly as BIGINT, and divide back at the end. Integer sums
  * are associative ⇒ bitwise identical under any partitioning, on 32 threads
  * or 1000 executors.
  *
  * ROUNDING DISCIPLINE (r11, BASELINE.md "Display-rounding determinism"):
  * every rounding step that a driver-compared column passes through is the
  * explicit half-up form `floor(x · 10^s + 0.5)` — the SAME IEEE op sequence
  * in the Spark operator and the DuckDB oracle, hence bit-deterministic
  * cross-engine even within an ulp of a .5 boundary. The engines' own
  * `round(double, n)` is NOT that: Spark rounds the shortest DECIMAL
  * representation (BigDecimal.valueOf → HALF_UP) while DuckDB rounds the
  * BINARY value, and the two disagree exactly at representable-boundary
  * inputs (observed as the real q62 1-row mismatch at sf1 — a micro-sum
  * ending in 50). The per-row window where the algorithms can differ is
  * ~1 ulp around each boundary — invisible at sf0.01, but at 100 TB row
  * counts (~10^10 rows) an expected handful of flipped rows per full-corpus
  * query, i.e. measure-certain. `floor(x + 0.5)` is half-toward-+∞ on exact
  * negative boundaries where round() is half-away-from-zero; both engines
  * apply the identical convention, which is what the hash gate compares.
  */
object Det {

  /** Per-row scaled-integer conversion: half-up(c · 10^scale) as long. */
  def scaled(c: Column, scale: Int): Column =
    floor(c * lit(math.pow(10, scale)) + lit(0.5)).cast("long")

  /** Boundary-exact half-up quantizer for computed doubles (idf, BM25
    * per-term contributions, rarity scores): floor(c · 10^scale + 1/2) as
    * BIGINT. Same op sequence as [[sqlQuant]].
    *
    * PRECONDITION (scaled too): the input must be FINITE — Spark's
    * long-typed `floor` silently saturates NaN→0 / ±Inf→Long.Min/Max where
    * DuckDB's double-typed floor passes them through, so a non-finite
    * input would diverge silently. Every caller guards by construction
    * (positive counts, ln of ratios of positive counts, distances of
    * finite floats); a new caller that can see NaN/Inf must filter or
    * guard first. [[display]] (double output) passes non-finites through
    * on both engines instead.
    */
  def quant(c: Column, scale: Int): Column =
    floor(c * lit(math.pow(10, scale)) + lit(0.5)).cast("long")

  /** Boundary-exact `dp`-decimal display of a double: quantize once with
    * half-up floor, divide once. Replaces `round(c, dp)` on every
    * driver-compared float column; same op sequence as [[sqlDisplay]].
    * (Spark's `floor` returns LONG — exact below 2^53, and every display
    * value in this engine is far below that.) Non-finite inputs pass
    * through unchanged — Spark's long floor would saturate them where
    * DuckDB's double floor propagates, so the guard keeps the two engines
    * (and the old round() behavior) aligned on NaN/±Inf; null propagates
    * through the arithmetic branch as before.
    */
  def display(c: Column, dp: Int): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, c)
      .otherwise(floor(c * lit(math.pow(10, dp)) + lit(0.5)) / lit(math.pow(10, dp)))

  /** Driver twin of [[display]] for values already on the driver: the same
    * IEEE op sequence (multiply, add 1/2, floor saturating to LONG, divide),
    * non-finite inputs passed through. DetSpec pins it equal to the Column
    * form on NaN, ±Infinity, −0.0, exact ties and saturating magnitudes.
    */
  def displayValue(x: Double, dp: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else math.floor(x * math.pow(10, dp) + 0.5).toLong / math.pow(10, dp)

  /** Exact, order-independent sum of a money-like double, back in units. */
  def exactSum(c: Column, scale: Int): Column =
    (sum(scaled(c, scale)) / math.pow(10, scale))

  /** Exact mean: integer sum divided by count (both deterministic). */
  def exactAvg(c: Column, scale: Int): Column =
    sum(scaled(c, scale)) / math.pow(10, scale) / count(lit(1))

  /** DuckDB-side equivalents (DuckDB sums BIGINT into HUGEINT — cast back).
    * `10^s` is written `1e{s}`-style via `.0` so DuckDB parses a DOUBLE and
    * the multiply matches the Spark side bit-for-bit.
    */
  def sqlScaled(expr: String, scale: Int): String =
    s"CAST(floor(($expr) * ${math.pow(10, scale).toLong}.0 + 0.5) AS BIGINT)"

  /** DuckDB twin of [[quant]]. */
  def sqlQuant(expr: String, scale: Int): String =
    s"CAST(floor(($expr) * ${math.pow(10, scale).toLong}.0 + 0.5) AS BIGINT)"

  /** DuckDB twin of [[display]]. DuckDB's floor returns DOUBLE with an
    * exact integer value — the division result is bit-identical to Spark's
    * LONG/double path — and propagates NaN/±Inf natively, matching
    * [[display]]'s pass-through guard without needing a CASE.
    */
  def sqlDisplay(expr: String, dp: Int): String =
    s"(floor(($expr) * ${math.pow(10, dp).toLong}.0 + 0.5) / ${math.pow(10, dp).toLong}.0)"

  def sqlExactSum(expr: String, scale: Int): String =
    s"(CAST(sum(${sqlScaled(expr, scale)}) AS BIGINT) / ${math.pow(10, scale).toLong}.0)"

  /** Spark-SQL flavor: Spark parses `100.0` literals as DECIMAL (DuckDB as
    * DOUBLE), so the divisor needs an explicit double cast to keep the
    * output double on both sides.
    */
  def sqlExactSumSpark(expr: String, scale: Int): String =
    s"(CAST(sum(${sqlScaled(expr, scale)}) AS BIGINT) / CAST(${math.pow(10, scale).toLong} AS DOUBLE))"

  def sqlExactAvg(expr: String, scale: Int): String =
    s"(CAST(sum(${sqlScaled(expr, scale)}) AS BIGINT) / ${math.pow(10, scale).toLong}.0 / count(*))"
}
