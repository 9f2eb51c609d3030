package graft.queries

/** Shared SQL fragments used identically on the Spark side (via `expr`) and
  * the DuckDB oracle side, so both engines compute bit-identical values
  * (SURVEY.md §7.3 hash-match discipline).
  *
  * Money/measure aggregation rule: per-row arithmetic stays in DOUBLE
  * (IEEE-exact and association-stable when parenthesised identically),
  * each row value is quantised to DECIMAL(18,6) — scale 6 because fixture measures have ≤2 decimal digits, so 3-factor products have exactly ≤6: the cast is then EXACT (no rounding), sidestepping Java-HALF_UP vs DuckDB-binary tie divergence, the SUM runs in exact
  * decimal arithmetic (order-independent), and only the final value is cast
  * back to DOUBLE. This avoids both cross-partition double-summation
  * nondeterminism and decimal-precision-overflow divergence between engines.
  */
object Sqlh {
  /** floor(e·10^k + 0.5): a DOUBLE `e` snapped half-up to a whole count
    * of 10^-k units (cents at k = 2). The same text on both engines, and
    * never round(), whose half-tie mode differs between them; the integer
    * literals fold to DOUBLE constants. The caller casts the result to
    * its own integer type. */
  def snap(e: String, k: Int): String = s"floor(($e) * 1${"0" * k} + 0.5)"

  /** Exact, order-independent sum of a double expression. */
  def dsum(e: String): String =
    s"cast(sum(cast(($e) as decimal(18,6))) as double)"

  /** Deterministic average: exact decimal sum, ONE final double division. */
  def davg(e: String): String =
    s"cast(sum(cast(($e) as decimal(18,6))) as double) / count(*)"

  /** Spark-side fast form of [[dsum]] — same value, bit-for-bit. The
    * double→DECIMAL(18,6) cast allocates a BigDecimal per row (shortest
    * double string + setScale), which dominated the TPC-H-Q1-shaped
    * aggregates (r21: agg_hash_sum's 4-sum aggregate measured 1.64 s with
    * the cast form vs 0.53 s with this one at sf0.1/local[32]). Here the
    * quantization is the repo's pure-FP cents idiom instead:
    * floor(e·10⁶ + 0.5) is a primitive codegen'd double op whose result
    * equals the decimal cast's unscaled value EXACTLY under the Sqlh
    * operand contract — e is within FP-ulp of a ≤6-fraction-digit decimal
    * v (fixture measures have ≤2 digits, 3-factor products ≤6), so
    * e·10⁶ = v·10⁶ ± ε with ε ≪ 0.5 and v·10⁶ integral: the +0.5-floor
    * never meets a tie (ties would need a true 7th digit of exactly 5,
    * which the contract excludes). The per-row value is then a compact
    * long riding a DECIMAL(38,0) sum (no BigDecimal until a partial sum
    * outgrows a long — beyond 10¹⁸ µ-units), and one division per GROUP
    * rebuilds the exact decimal sum before the final double cast — the
    * same correctly-rounded double of the same exact rational as
    * [[dsum]] (verified bit-identical on every fixture group, and gated
    * by the oracle hash at all three SFs). Bounds: |e|·10⁶ ≪ 2⁵³ per row
    * (measure values, not sums) and group sums ≤ 10³² µ-units for the
    * exact division — both orders of magnitude beyond the 100 TB shapes.
    * The ORACLE keeps [[dsum]]: this form exists to remove Spark's
    * per-row decimal-cast cost, not to change the declared semantics.
    */
  def dsumSpark(e: String): String =
    s"cast(sum(cast(${snap(e, 6)} as decimal(38,0))) / 1000000 as double)"

  /** Spark-side fast form of [[davg]]: the [[dsumSpark]] numerator (bit-
    * identical double) over the same single final division. */
  def davgSpark(e: String): String =
    s"${dsumSpark(e)} / count(*)"

  val revenue = "l_extendedprice * (1 - l_discount)"
  val charge  = "(l_extendedprice * (1 - l_discount)) * (1 + l_tax)"
}
