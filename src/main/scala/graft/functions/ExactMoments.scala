package graft.functions

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions.{col, expr}

import ExactRatio.{DuckF, Flavor, SparkF, modDigest, signInt}

/** Exact Pearson / OLS co-moments over integer-valued x, y — the one
  * implementation behind every oracled correlation and slope key, emitted
  * as Spark columns and as DuckDB SQL from the same builders.
  *
  * Exactness contract: the caller snaps x and y to integers first and owns
  * their units. Per-row products stay in the caller's integer type (int64
  * on Spark, so |x|·|y| < 9.2×10¹⁸); every sum accumulates in the flavor's
  * 128-bit type (DECIMAL(38,0) / HUGEINT), so `n·Σxy − Σx·Σy` is the same
  * exact integer on both engines and independent of aggregation order.
  * Degenerate groups — fewer than two rows, or a zero variance term — are
  * excluded by exact integer comparison: the statistic is undefined there
  * and NaN/Infinity renderings are not hash-stable across engines.
  * Normalized outputs go through [[ExactRatio]]'s shift-guarded ladders and
  * unbounded moments ship as mod-1e9+7 digests, so no double and no
  * decimal128 ever reaches the hash surface.
  *
  * Both Spark finishes run their ladder through
  * [[ExactRatio.applySparkDomain]], so their input must be a bounded
  * group-domain frame (per flag, per event type, one row per corpus).
  */
object ExactMoments {

  /** The moments a Pearson finish reads; a slope finish needs no Σyy. */
  val Pearson: Seq[String] = Seq("sx", "sy", "sxy", "sxx", "syy")
  val Slope: Seq[String] = Pearson.init

  /** Exact sum of the product of integer `factors`. */
  def sum(f: Flavor, factors: String*): String =
    s"sum(${f.bigCast(factors.mkString(" * "))})"

  /** `n` (row count) then each named moment as (name, aggregate SQL); the
    * letters after a name's `s` pick its factors (`sxy` = Σ x·y). */
  def sums(f: Flavor, x: String, y: String, moments: Seq[String]): Seq[(String, String)] =
    ("n" -> "count(*)") +: moments.map(m =>
      m -> sum(f, m.tail.map(Map('x' -> x, 'y' -> y)): _*))

  /** Spark: the moment sums over `g` (use `df.groupBy()` for one row). */
  def moments(g: RelationalGroupedDataset, x: String, y: String,
              ms: Seq[String] = Pearson): DataFrame = {
    val c = cols(sums(SparkF, x, y, ms))
    g.agg(c.head, c.tail: _*)
  }

  /** DuckDB: the moment sums as a select list. */
  def momentsDuck(x: String, y: String, ms: Seq[String] = Pearson): String =
    selectList(sums(DuckF, x, y, ms))

  /** The exact product n·x, `n` being a row count column. */
  def nTimes(f: Flavor, x: String): String = s"${f.bigCast("n")} * $x"

  /** The exact `n·q − a·b`. */
  def term(f: Flavor, q: String, a: String, b: String): String =
    s"${nTimes(f, q)} - $a * $b"

  /** (cov_n2, vxx, vyy) = n² × (covariance, var x, var y) as exact
    * integers over the named moment columns — what [[pearson]] and
    * [[pearsonDuck]] read. */
  def coTerms(f: Flavor, sx: String = "sx", sy: String = "sy", sxy: String = "sxy",
              sxx: String = "sxx", syy: String = "syy"): Seq[(String, String)] = Seq(
    "cov_n2" -> f.bigCast(term(f, sxy, sx, sy)),
    "vxx" -> f.bigCast(term(f, sxx, sx, sx)),
    "vyy" -> f.bigCast(term(f, syy, sy, sy)))

  private val PearsonDefined = "n >= 2 AND vxx > 0 AND vyy > 0"

  /** Spark Pearson finish over a frame of `keys`, n, cov_n2, vxx, vyy:
    * drops degenerate rows and returns `keys`, n, cov_m9, `r2` ≈
    * floor(1e6·r²), `sign` = sign(r), ordered by `keys`. */
  def pearson(t: DataFrame, keys: Seq[String], r2: String, sign: String): DataFrame =
    ExactRatio.applySparkDomain(t.filter(PearsonDefined),
        ExactRatio.r2e6Stages(SparkF, "cov_n2", "vxx", "vyy", r2))
      .withColumn(sign, expr(signInt("cov_n2")))
      .withColumn("cov_m9", expr(modDigest(SparkF, "cov_n2")))
      .select((keys ++ Seq("n", "cov_m9", r2, sign)).map(col): _*)
      .orderBy(keys.map(col): _*)

  /** DuckDB twin of [[pearson]] over an `inner` SELECT of the same columns. */
  def pearsonDuck(inner: String, keys: Seq[String], r2: String, sign: String): String = {
    val laddered = ExactRatio.applyDuck(s"SELECT * FROM ($inner) t WHERE $PearsonDefined",
      ExactRatio.r2e6Stages(DuckF, "cov_n2", "vxx", "vyy", r2))
    s"""SELECT ${keys.mkString(", ")}, n, ${modDigest(DuckF, "cov_n2")} AS cov_m9,
       |  $r2, ${signInt("cov_n2")} AS $sign
       |FROM $laddered q ORDER BY ${keys.mkString(", ")}""".stripMargin
  }

  /** OLS slope numerator n²·cov, denominator n²·var x, and |numerator|. */
  private def slopeTerms(f: Flavor): Seq[(String, String)] = {
    val num = f.bigCast(term(f, "sxy", "sx", "sy"))
    Seq("num" -> num, "den" -> f.bigCast(term(f, "sxx", "sx", "sx")),
      "sl_a" -> ExactRatio.safeAbs(f, num))
  }

  private val SlopeDefined = "n >= 2 AND den > 0"

  /** Spark OLS-slope finish over a one-row frame of [[Slope]] moments:
    * n, num_m9, den_m9 and `out` = sign(num)·floor(1e6·|num|/den); no row
    * when the slope is undefined. */
  def slope(m: DataFrame, out: String): DataFrame =
    ExactRatio.applySparkDomain(
        m.select(col("n") +: cols(slopeTerms(SparkF)): _*).filter(SlopeDefined),
        ExactRatio.ratE6Stages(SparkF, "sl_a", "den", "sl_e6"))
      .select(col("n"),
        expr(modDigest(SparkF, "num")).as("num_m9"),
        expr(modDigest(SparkF, "den")).as("den_m9"),
        expr(s"cast(${signInt("num")} * sl_e6 as bigint)").as(out))

  /** DuckDB twin of [[slope]] over the moment relation `from`. */
  def slopeDuck(from: String, out: String): String = {
    val laddered = ExactRatio.applyDuck(
      s"SELECT * FROM (SELECT n, ${selectList(slopeTerms(DuckF))} FROM $from) t" +
        s" WHERE $SlopeDefined",
      ExactRatio.ratE6Stages(DuckF, "sl_a", "den", "sl_e6"))
    s"""SELECT n, ${modDigest(DuckF, "num")} AS num_m9,
       |  ${modDigest(DuckF, "den")} AS den_m9,
       |  CAST(${signInt("num")} * sl_e6 AS BIGINT) AS $out
       |FROM $laddered q""".stripMargin
  }

  /** (name, SQL) pairs as Spark columns / as a DuckDB select list. */
  def cols(ps: Seq[(String, String)]): Seq[Column] = ps.map { case (n, e) => expr(e).as(n) }
  def selectList(ps: Seq[(String, String)]): String =
    ps.map { case (n, e) => s"$e AS $n" }.mkString(", ")
}
