package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Sqlh._

/** SURVEY.md §2.9 — the reference's experiment-generation composites
  * re-expressed Spark-first: series/grid generation (the state-set
  * enumerator), deterministic sampling, plate-layout pivot/unpivot,
  * deterministic dedup, and the unit-conversion expression chain.
  *
  * Scale notes: generated grids are bounded by construction (the reference's
  * plate/volume domains are small); dedup is the window-rewrite (never
  * `dropDuplicates`, whose survivor is arbitrary); sampling is modulo-based
  * (reproducible on any engine, unlike `rand(seed)`).
  */
object Composites {

  val all: Seq[Q] = Seq(

    Q("gen_sequence",
      s"""SELECT CAST(n AS INT) AS n FROM (SELECT unnest(generate_series(1,12)) AS n)
         |ORDER BY n""".stripMargin) { (s, d) =>
      s.range(1).select(explode(sequence(lit(1), lit(12))).as("n")).orderBy("n")
    },

    // the state-set generator: bounded cartesian + physical constraint
    Q("gen_grid",
      s"""SELECT CAST(v1 AS INT) AS v1, CAST(v2 AS INT) AS v2,
         |  CAST(100 - v1 - v2 AS INT) AS v3
         |FROM (SELECT unnest(generate_series(0,100,5)) AS v1),
         |     (SELECT unnest(generate_series(0,100,5)) AS v2)
         |WHERE v1 + v2 <= 100
         |ORDER BY v1, v2""".stripMargin) { (s, d) =>
      val v1 = s.range(1).select(explode(sequence(lit(0), lit(100), lit(5))).as("v1"))
      val v2 = s.range(1).select(explode(sequence(lit(0), lit(100), lit(5))).as("v2"))
      v1.crossJoin(v2)
        .filter("v1 + v2 <= 100")
        .select(col("v1"), col("v2"), expr("100 - v1 - v2").as("v3"))
        .orderBy("v1", "v2")
    },

    Q("sample_det",
      s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         |WHERE l_orderkey % 97 < 5
         |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter("l_orderkey % 97 < 5")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },

    // plate-layout analog: long -> wide with an EXPLICIT value list
    Q("pivot_wide",
      s"""SELECT l_returnflag,
         |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS "F",
         |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS "O"
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(expr(dsumSpark("l_quantity")))
        .orderBy("l_returnflag")
    },

    Q("unpivot_long",
      s"""SELECT p_partkey, 'p_retailprice' AS var, p_retailprice AS val FROM part
         |UNION ALL
         |SELECT p_partkey, 'p_size_d' AS var, CAST(p_size AS DOUBLE) AS val FROM part
         |ORDER BY p_partkey, var""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("double").as("p_size_d"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size_d")), "var", "val")
        .orderBy("p_partkey", "var")
    },

    // deterministic dedup: first event per (user, type) by (ts, event_id)
    Q("dedup_exact",
      s"""SELECT user_id, event_type, event_id FROM (
         |  SELECT user_id, event_type, event_id,
         |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
         |  FROM events) WHERE rn = 1
         |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    },

    // The reference's CORE workflow composed end-to-end: chemical inventory
    // (dim) -> molar-weight lookup -> volume state-set grid under a
    // physical constraint -> per-well species concentrations -> plate well
    // labels -> spec-JSON assembly round-trip. A reference user's main
    // pipeline, re-expressed as one declarative Spark plan.
    Q("exp_pipeline",
      s"""WITH chems AS (
         |  SELECT p_partkey AS chem_id, p_retailprice / 10 AS mw,
         |    row_number() OVER (ORDER BY p_partkey) AS rk
         |  FROM part WHERE p_partkey < 3),
         |mws AS (SELECT
         |  max(CASE WHEN rk=1 THEN mw END) AS mw1,
         |  max(CASE WHEN rk=2 THEN mw END) AS mw2,
         |  max(CASE WHEN rk=3 THEN mw END) AS mw3 FROM chems),
         |grid AS (
         |  SELECT v1, v2, 100 - v1 - v2 AS v3 FROM
         |    (SELECT unnest(generate_series(0,100,10)) v1),
         |    (SELECT unnest(generate_series(0,100,10)) v2)
         |  WHERE v1 + v2 <= 100),
         |wells AS (SELECT *, row_number() OVER (ORDER BY v1, v2) - 1 AS idx FROM grid)
         |SELECT chr(65 + CAST(idx // 12 AS INT)) || lpad(CAST(idx % 12 + 1 AS VARCHAR), 2, '0') AS well,
         |  CAST(v1 AS INT) AS v1, CAST(v2 AS INT) AS v2, CAST(v3 AS INT) AS v3,
         |  v1 * mw1 / 100 AS conc1, v2 * mw2 / 100 AS conc2, v3 * mw3 / 100 AS conc3,
         |  CAST(json_extract_string(to_json(struct_pack(c1 := v1 * mw1 / 100)), '$$.c1') AS DOUBLE) AS jc1
         |FROM wells, mws ORDER BY well""".stripMargin) { (s, d) =>
      val chems = Tables.part(s, d).filter("p_partkey < 3")
        .select(col("p_partkey").as("chem_id"),
          (col("p_retailprice") / 10).as("mw"),
          row_number().over(Window.orderBy("p_partkey")).as("rk"))
      val mws = chems.agg(
        max(when(col("rk") === 1, col("mw"))).as("mw1"),
        max(when(col("rk") === 2, col("mw"))).as("mw2"),
        max(when(col("rk") === 3, col("mw"))).as("mw3"))
      val v1 = s.range(1).select(explode(sequence(lit(0), lit(100), lit(10))).as("v1"))
      val v2 = s.range(1).select(explode(sequence(lit(0), lit(100), lit(10))).as("v2"))
      val grid = v1.crossJoin(v2).filter("v1 + v2 <= 100")
        .withColumn("v3", expr("100 - v1 - v2"))
      val wells = grid.withColumn("idx",
        row_number().over(Window.orderBy("v1", "v2")) - 1)
      wells.crossJoin(broadcast(mws))
        .select(
          expr("concat(char(65 + cast(idx div 12 as int)), lpad(cast(idx % 12 + 1 as string), 2, '0'))").as("well"),
          col("v1").cast("int").as("v1"), col("v2").cast("int").as("v2"),
          col("v3").cast("int").as("v3"),
          expr("v1 * mw1 / 100").as("conc1"),
          expr("v2 * mw2 / 100").as("conc2"),
          expr("v3 * mw3 / 100").as("conc3"),
          expr("cast(get_json_object(to_json(struct(v1 * mw1 / 100 as c1)), '$.c1') as double)").as("jc1"))
        .orderBy("well")
    },

    // unit-conversion chain analog (concentration math in the reference)
    Q("normalize_expr",
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(CAST(${revenue} AS DECIMAL(18,6)) AS DOUBLE) AS rev,
         |  CAST(CAST(${charge} AS DECIMAL(18,6)) AS DOUBLE) AS chg
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber, rev, chg""".stripMargin) { (s, d) =>
      // Spark side of the DECIMAL(18,6) quantization round-trip in pure
      // FP (r21, the dsumSpark discipline — see Sqlh.dsumSpark): under
      // the ≤6-fraction-digit operand contract, floor(e·10⁶ + 0.5) is
      // tie-free and exactly the decimal cast's unscaled long u, and the
      // correctly-rounded double of u/10⁶ (one exact long→double cast,
      // one IEEE division by the exactly-representable 10⁶) equals the
      // decimal→double cast bit-for-bit — without the per-row BigDecimal
      // allocation (isolated: 0.68 s → 0.29 s for the projection pass)
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        expr(s"cast(${snap(revenue, 6)} as double) / 1000000").as("rev"),
        expr(s"cast(${snap(charge, 6)} as double) / 1000000").as("chg"),
      ).orderBy("l_orderkey", "l_linenumber", "rev", "chg")
    },
  )
}
