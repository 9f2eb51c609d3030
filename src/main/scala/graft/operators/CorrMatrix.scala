package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactMoments
import graft.functions.ExactRatio.{DuckF, Flavor, SparkF}

/** One-pass Pearson correlation matrix over k integer-valued columns —
  * the profiling/collinearity audit behind the `stats_corr_matrix` query,
  * exposed generically: any frame, any column count.
  *
  * Exactness contract ([[graft.functions.ExactMoments]], shared with the
  * other correlation keys): the caller snaps measures to integers FIRST
  * (cents, percent points, counts — the caller owns the units); every
  * moment is then an exact sum — per-row products in int64, accumulated
  * as DECIMAL(38,0) — so n²·covariance (the cross-multiplied integer
  * that needs no division) is engine-exact and order-independent; it
  * ships as `cov_m9` = abs mod 1e9+7 (a bounded int64 witness — r15
  * forensics: the driver's hash breaks on any decimal128 output column,
  * so the raw 128-bit moment may never be emitted).
  * The normalized correlation is exposed as `r2_e6` ≈ floor(1e6·r²) plus
  * `r_sign`, both exact integers built by [[graft.functions.ExactRatio]]
  * — no double is ever emitted (r14 forensics: a round(double) ratio
  * column is a cross-engine hash coin flip near bucket boundaries).
  * Degenerate pairs (either variance term zero — a constant column) are
  * EXCLUDED by exact integer comparison: r is undefined there and
  * NaN/Infinity renderings are not hash-stable cross-engine.
  *
  * Scale shape: ONE map-side-combinable aggregate over the fact table to
  * a single (1 + k + k(k+1)/2)-number row; the k(k−1)/2-row pair matrix
  * is an `explode` of that row — no joins, no second pass, and the only
  * exchange is the 1-row final aggregation merge. Int64 bound: per-row
  * products must fit int64 (|x|·|y| < 9.2×10¹⁸ — e.g. cents up to ~3×10⁹
  * squared); the DECIMAL(38,0) accumulators then hold to ~10³⁸ total.
  */
object CorrMatrix {

  /** Pair rows (col_x, col_y, n, cov_m9, r2_e6, r_sign) for every
    * unordered column pair of `cols` with both variance terms non-zero
    * (named pairs follow `cols` order, col_x before col_y), ordered by
    * (col_x, col_y). `cols` must be integer-valued (anything castable to
    * BIGINT without loss — see the exactness contract above).
    */
  def of(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val b = df.select(cols.zipWithIndex.map { case (c, i) =>
      col(c).cast("long").as(s"x${i + 1}") }: _*)
    val aggs = ExactMoments.cols(sums(SparkF, cols.size))
    val m = b.agg(aggs.head, aggs.tail: _*)
    val ps = pairs(cols).map { case (i, j) => struct((Seq(lit(cols(i - 1)).as("col_x"),
      lit(cols(j - 1)).as("col_y"), col("n").as("n")) ++
      ExactMoments.cols(pairTerms(SparkF, i, j))): _*) }
    ExactMoments.pearson(m.select(explode(array(ps: _*)).as("p")).select("p.*"),
      Seq("col_x", "col_y"), "r2_e6", "r_sign")
  }

  /** DuckDB twin of [[of]] over the relation `from` (SQL) with columns `cols`. */
  def oracleSql(from: String, cols: Seq[String]): String = {
    val branches = pairs(cols).map { case (i, j) =>
      s"SELECT '${cols(i - 1)}' AS col_x, '${cols(j - 1)}' AS col_y, n," +
        s" ${ExactMoments.selectList(pairTerms(DuckF, i, j))} FROM m"
    }.mkString("\nUNION ALL ")
    s"""WITH b AS (SELECT ${cols.zipWithIndex.map { case (c, i) =>
         s"CAST($c AS BIGINT) AS x${i + 1}" }.mkString(", ")} FROM $from),
       |m AS (SELECT ${ExactMoments.selectList(sums(DuckF, cols.size))} FROM b)
       |${ExactMoments.pearsonDuck(branches, Seq("col_x", "col_y"), "r2_e6", "r_sign")}""".stripMargin
  }

  /** Unordered column pairs (i, j), 1-based, i < j, in `cols` order. */
  private def pairs(cols: Seq[String]) =
    for (i <- 1 to cols.size; j <- (i + 1) to cols.size) yield (i, j)

  /** n, then Σx_i and Σx_i·x_j (j ≥ i) over columns x1..xk. */
  private def sums(f: Flavor, k: Int): Seq[(String, String)] =
    ("n" -> "count(*)") +: ((1 to k).map(i => s"s$i" -> ExactMoments.sum(f, s"x$i")) ++
      (for (i <- 1 to k; j <- i to k) yield s"q${i}_$j" -> ExactMoments.sum(f, s"x$i", s"x$j")))

  private def pairTerms(f: Flavor, i: Int, j: Int) =
    ExactMoments.coTerms(f, s"s$i", s"s$j", s"q${i}_$j", s"q${i}_$i", s"q${j}_$j")
}
