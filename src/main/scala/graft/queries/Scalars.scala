package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Sqlh.snap

/** SURVEY.md §2.8 — scalar function surface (identifier munging, unit
  * conversion, spec assembly in the reference). Engine-parity casts:
  * length/year/month/day/datediff are INT in Spark vs BIGINT in DuckDB
  * (cast on the oracle side); ceil/floor are BIGINT in Spark vs DOUBLE in
  * DuckDB (cast both to DOUBLE); sign → INT both. Transcendentals
  * (ln/log10/pow/sqrt) are rounded to 6 decimals — libm vs java.lang.Math
  * may differ in the last ULP. Raw money columns are NEVER re-rounded at a
  * lower scale (2-decimal data rounded at 1 decimal hits exact .x5 ties
  * where Java HALF_UP and DuckDB binary rounding diverge).
  */
object Scalars {

  val all: Seq[Q] = Seq(

    Q("fn_string",
      s"""SELECT p_partkey,
         |  upper(p_name) AS up, lower(p_brand) AS lo,
         |  substring(p_name, 2, 5) AS sub,
         |  concat(p_name, '_', p_brand) AS cat,
         |  trim(concat(' ', p_name, ' ')) AS tr,
         |  lpad(p_type, 12, '*') AS lp,
         |  CAST(length(p_name) AS INT) AS ln,
         |  replace(p_name, ' ', '_') AS rep,
         |  string_split(p_name, ' ')[1] AS tok1,
         |  regexp_extract(p_name, '(\\w+)$$', 1) AS rex
         |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"), lower(col("p_brand")).as("lo"),
        substring(col("p_name"), 2, 5).as("sub"),
        concat(col("p_name"), lit("_"), col("p_brand")).as("cat"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("tr"),
        lpad(col("p_type"), 12, "*").as("lp"),
        length(col("p_name")).as("ln"),
        regexp_replace(col("p_name"), " ", "_").as("rep"),
        element_at(split(col("p_name"), " "), 1).as("tok1"),
        regexp_extract(col("p_name"), "(\\w+)$", 1).as("rex"),
      ).orderBy("p_partkey")
    },

    Q("fn_date",
      s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         |  CAST(year(o_orderdate) AS INT) AS y,
         |  CAST(month(o_orderdate) AS INT) AS m,
         |  CAST(day(o_orderdate) AS INT) AS dd,
         |  date_trunc('month', CAST(o_orderdate AS DATE)) AS trm,
         |  CAST(o_orderdate AS DATE) + 30 AS plus30,
         |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS to_y2k,
         |  make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderdate").cast("date").as("od"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dd"),
        trunc(col("o_orderdate").cast("date"), "mon").as("trm"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        datediff(lit("2000-01-01").cast("date"), col("o_orderdate").cast("date")).as("to_y2k"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_start"),
      ).orderBy("o_orderkey")
    },

    Q("fn_math",
      s"""SELECT o_orderkey,
         |  CAST(${snap("ln(o_totalprice)", 6)} AS BIGINT) AS ln_e6,
         |  CAST(${snap("log10(o_totalprice)", 6)} AS BIGINT) AS lg_e6,
         |  CAST(${snap("pow(o_totalprice, 0.5)", 6)} AS BIGINT) AS pw_e6,
         |  CAST(${snap("sqrt(o_totalprice)", 6)} AS BIGINT) AS sq_e6,
         |  CAST(ceil(o_totalprice) AS DOUBLE) AS ce,
         |  CAST(floor(o_totalprice) AS DOUBLE) AS fl,
         |  abs(o_totalprice - 100000) AS ab,
         |  o_orderkey % 7 AS md,
         |  CAST(sign(o_totalprice - 100000) AS INT) AS sg
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        expr(s"cast(${snap("ln(o_totalprice)", 6)} as bigint)").as("ln_e6"),
        expr(s"cast(${snap("log10(o_totalprice)", 6)} as bigint)").as("lg_e6"),
        expr(s"cast(${snap("pow(o_totalprice, 0.5)", 6)} as bigint)").as("pw_e6"),
        expr(s"cast(${snap("sqrt(o_totalprice)", 6)} as bigint)").as("sq_e6"),
        ceil(col("o_totalprice")).cast("double").as("ce"),
        floor(col("o_totalprice")).cast("double").as("fl"),
        abs(col("o_totalprice") - 100000).as("ab"),
        expr("o_orderkey % 7").as("md"),
        signum(col("o_totalprice") - 100000).cast("int").as("sg"),
      ).orderBy("o_orderkey")
    },

    Q("fn_case_when",
      s"""SELECT o_orderkey,
         |  CASE WHEN o_totalprice < 50000 THEN 'low'
         |       WHEN o_totalprice < 150000 THEN 'mid'
         |       ELSE 'high' END AS bucket
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("bucket"),
      ).orderBy("o_orderkey")
    },

    // §7.3 rule 5: array-valued outputs crash the driver's pandas
    // comparator — flatten slice/sort results to one scalar FLOAT column
    // per element (raw pass-through floats hash bit-identically in both
    // engines; a string join would risk float-format divergence)
    Q("fn_array",
      s"""SELECT vec_id, CAST(len(embedding) AS INT) AS n,
         |  embedding[1] AS e1,
         |  list_slice(embedding, 1, 3)[1] AS sl1,
         |  list_slice(embedding, 1, 3)[2] AS sl2,
         |  list_slice(embedding, 1, 3)[3] AS sl3,
         |  list_max(embedding) AS mx,
         |  list_contains(embedding, embedding[1]) AS has_first,
         |  list_sort(list_slice(embedding, 1, 5))[1] AS ss1,
         |  list_sort(list_slice(embedding, 1, 5))[3] AS ss3,
         |  list_sort(list_slice(embedding, 1, 5))[5] AS ss5
         |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      val sl = slice(col("embedding"), 1, 3)
      val ss = sort_array(slice(col("embedding"), 1, 5))
      Tables.embeddings(s, d).select(
        col("vec_id"), size(col("embedding")).as("n"),
        element_at(col("embedding"), 1).as("e1"),
        element_at(sl, 1).as("sl1"),
        element_at(sl, 2).as("sl2"),
        element_at(sl, 3).as("sl3"),
        array_max(col("embedding")).as("mx"),
        array_contains(col("embedding"), element_at(col("embedding"), 1)).as("has_first"),
        element_at(ss, 1).as("ss1"),
        element_at(ss, 3).as("ss3"),
        element_at(ss, 5).as("ss5"),
      ).orderBy("vec_id")
    },

    Q("fn_explode",
      s"""SELECT vec_id, unnest(embedding) AS val FROM embeddings
         |ORDER BY vec_id, val""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), explode(col("embedding")).as("val"))
        .orderBy("vec_id", "val")
    },

    // DuckDB map extraction returns a LIST — unwrap with [1] (verified)
    Q("fn_map",
      s"""SELECT l_orderkey, l_linenumber,
         |  MAP(['q','p'], [l_quantity, l_extendedprice])['q'][1] AS mval
         |FROM lineitem ORDER BY l_orderkey, l_linenumber, mval""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        expr("map_from_arrays(array('q','p'), array(l_quantity, l_extendedprice))['q']").as("mval"),
      ).orderBy("l_orderkey", "l_linenumber", "mval")
    },

    // build nested freely, FLATTEN before output (§7.3 rule 5)
    Q("fn_struct",
      s"""SELECT struct_extract(s, 'k') AS k, struct_extract(s, 'p') AS p
         |FROM (SELECT struct_pack(k := o_orderkey, p := o_totalprice) AS s FROM orders)
         |ORDER BY k""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(struct(col("o_orderkey").as("k"), col("o_totalprice").as("p")).as("s"))
        .select(col("s.k").as("k"), col("s.p").as("p"))
        .orderBy("k")
    },

    Q("fn_json",
      s"""SELECT event_id, CAST(props->>'$$.k' AS INT) AS k
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
      ).orderBy("event_id")
    },

    // schema-first JSON parse (the reference round-trips typed spec docs:
    // from_json with an explicit StructType, not string path extraction)
    Q("fn_json_schema",
      s"""SELECT event_id, CAST(props->>'$$.k' AS INT) AS k,
         |  CAST(props->>'$$.k' AS INT) * 2 AS k2
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("parsed", from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))))
        .select(col("event_id"), col("parsed.k").as("k"),
          (col("parsed.k") * 2).as("k2"))
        .orderBy("event_id")
    },

    // json_table-style LATERAL extraction — the one JSON shape real
    // pipelines hit that fn_json/fn_json_schema don't pin: a MULTI-KEY
    // nested document (scalars + an array) unpacked to typed columns AND
    // rows. The doc is assembled in-query with to_json (the reference's
    // spec-assembly round-trip: build the nested run document, re-parse
    // it downstream); extraction is one from_json with the full nested
    // StructType + posexplode of the array — schema-first, not N string
    // path probes, so the parse runs once per row. Integer/string keys
    // only (JSON float formatting is engine-specific; §7.3). The DuckDB
    // twin builds its own doc with to_json(struct_pack(...)) and walks it
    // with ->/->> json_extract paths — both engines genuinely round-trip
    // JSON, and the hash compares the extracted typed values. Map-only at
    // any scale: no shuffle before the presentation sort.
    Q("fn_json_table",
      s"""WITH d AS (SELECT event_id,
         |    to_json(struct_pack(id := event_id, et := event_type,
         |      k := CAST(props->>'$$.k' AS INT),
         |      ks := [CAST(props->>'$$.k' AS INT), CAST(props->>'$$.k' AS INT) * 2, CAST(props->>'$$.k' AS INT) * 3])) AS doc
         |  FROM events),
         |x AS (SELECT event_id, doc->>'$$.et' AS et,
         |    CAST(doc->>'$$.k' AS INT) AS k,
         |    from_json(doc->'$$.ks', '["INTEGER"]') AS ks FROM d),
         |f AS (SELECT event_id, et, k, unnest(ks) AS kx,
         |    generate_subscripts(ks, 1) - 1 AS idx FROM x)
         |SELECT event_id, et, k, CAST(idx AS INT) AS idx, CAST(kx AS INT) AS kx
         |FROM f ORDER BY event_id, idx""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val k = get_json_object(col("props"), "$.k").cast("int")
      // the sf fixture is ONE parquet file = one scan partition; the JSON
      // build+parse is the dominant per-row cost and would run on a single
      // core without this (the gramTable discipline — at cluster scale the
      // scan arrives already partitioned and this is a no-op-cost hint)
      val doc = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("event_id"),
        to_json(struct(col("event_id").as("id"), col("event_type").as("et"),
          k.as("k"), array(k, k * 2, k * 3).as("ks"))).as("doc"))
      val schema = StructType(Seq(StructField("et", StringType),
        StructField("k", IntegerType),
        StructField("ks", ArrayType(IntegerType))))
      doc.withColumn("p", from_json(col("doc"), schema))
        .select(Seq(col("event_id"), col("p.et").as("et"),
          col("p.k").as("k")) :+ posexplode(col("p.ks")).as(Seq("idx", "kx")): _*)
        .orderBy("event_id", "idx")
    },

    // null-handling surface: coalesce / nullif / nvl2-style CASE
    Q("fn_null",
      s"""SELECT o_orderkey,
         |  coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS st,
         |  CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 0 ELSE 1 END AS has_final
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        coalesce(expr("nullif(o_orderstatus, 'P')"), lit("PENDING")).as("st"),
        expr("CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 0 ELSE 1 END").as("has_final"),
      ).orderBy("o_orderkey")
    },
  )
}
