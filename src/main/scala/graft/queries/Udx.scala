package graft.queries

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Sqlh.snap

/** SURVEY.md §2.12 — user-defined scalar / aggregate / table functions.
  * Each oracle states the SEMANTICS in plain SQL (the UDx itself is
  * JVM-side); parity holds because the UDF bodies are single IEEE double
  * operations or exact integer arithmetic.
  */
object Udx {

  /** Geometric mean as a typed Aggregator. Determinism across partitionings:
    * each ln(x) is quantised to scale-12 decimal (exact decimal sums are
    * order- and overflow-independent), mirroring the oracle's
    * `exp(CAST(SUM(CAST(ln(x) AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*))`.
    */
  case class GeoBuf(sumScaled: BigDecimal, n: Long)
  object GeoMean extends Aggregator[Double, GeoBuf, Double] {
    // exact decimal accumulator: scale-12 quantised ln values sum without
    // overflow for any realistic group size (a Long accumulator would wrap
    // silently past ~7e5 rows — unacceptable at the 100 TB mandate)
    private def quant(x: Double): BigDecimal =
      BigDecimal(new java.math.BigDecimal(math.log(x))
        .setScale(12, java.math.RoundingMode.HALF_UP))
    def zero: GeoBuf = GeoBuf(BigDecimal(0), 0L)
    def reduce(b: GeoBuf, x: Double): GeoBuf = GeoBuf(b.sumScaled + quant(x), b.n + 1)
    def merge(a: GeoBuf, b: GeoBuf): GeoBuf = GeoBuf(a.sumScaled + b.sumScaled, a.n + b.n)
    def finish(b: GeoBuf): Double =
      if (b.n == 0) Double.NaN
      else math.exp(b.sumScaled.doubleValue / b.n)
    def bufferEncoder: Encoder[GeoBuf] = Encoders.product[GeoBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val all: Seq[Q] = Seq(

    // molarity-style unit conversion (lb→g analog): one double division,
    // IEEE-identical to the oracle's plain arithmetic
    Q("udf_scalar",
      s"""SELECT p_partkey, p_retailprice / 453.59237 AS grams
         |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      // boxed param: a primitive Double would silently turn NULL into 0.0,
      // diverging from the oracle's NULL-propagating arithmetic
      val toGrams = udf((p: java.lang.Double) =>
        if (p == null) null else java.lang.Double.valueOf(p / 453.59237))
      s.udf.register("to_grams", toGrams)
      Tables.part(s, d)
        .select(col("p_partkey"), expr("to_grams(p_retailprice)").as("grams"))
        .orderBy("p_partkey")
    },

    Q("udaf_typed",
      s"""SELECT l_returnflag,
         |  CAST(${snap("exp(CAST(SUM(CAST(ln(l_extendedprice) AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*))", 2)} AS BIGINT) AS geo_cents
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      s.udf.register("geo_mean", org.apache.spark.sql.functions.udaf(GeoMean))
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr(s"cast(${snap("geo_mean(l_extendedprice)", 2)} as bigint)")
          .as("geo_cents"))
        .orderBy("l_returnflag")
    },

    // one row → N rows through a UDF-built array (plate-well expansion)
    Q("udtf_gen",
      s"""SELECT n_nationkey, CAST(unnest(generate_series(1, n_nationkey % 4 + 2)) AS INT) AS well
         |FROM nation ORDER BY n_nationkey, well""".stripMargin) { (s, d) =>
      val wells = udf((k: java.lang.Integer) =>
        if (k == null) null else (1 to (k % 4 + 2)).toArray)
      s.udf.register("gen_wells", wells)
      Tables.nation(s, d)
        .select(col("n_nationkey"), explode(expr("gen_wells(n_nationkey)")).as("well"))
        .orderBy("n_nationkey", "well")
    },
  )
}
