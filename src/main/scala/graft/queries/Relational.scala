package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.{AsofJoin, SaltedJoin}
import Sqlh._

/** SURVEY.md §2.1–2.4, §2.6, §2.7 — scans, projection/filter, the full join
  * matrix, aggregation, sort/limit, and set operations, each paired with its
  * DuckDB oracle twin.
  *
  * Scale discipline ([N] 100 TB mandate): dimension joins are explicitly
  * `broadcast(...)`; fact–fact joins shuffle on their equi keys (sort-merge);
  * the one theta/band join keeps `user_id` as an equi key so it stays
  * shuffle-parallel instead of degenerating to a nested-loop cross product;
  * nothing collects to the driver.
  */
object Relational {

  /** §7.2 flagship: scan→broadcast joins→filter→decimal agg→global sort. */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(
      expr("l_shipdate >= timestamp_ntz'1996-01-01' and l_shipdate < timestamp_ntz'1997-01-01'"))
    li.join(Tables.orders(s, d), expr("l_orderkey = o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), expr("o_custkey = c_custkey"))
      .join(broadcast(Tables.nation(s, d)), expr("c_nationkey = n_nationkey"))
      .join(broadcast(Tables.region(s, d)), expr("n_regionkey = r_regionkey"))
      .groupBy("r_name", "l_returnflag")
      .agg(expr(dsumSpark(revenue)).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "l_returnflag")
  }

  val flagshipOracle: String =
    s"""SELECT r_name, l_returnflag, ${dsum(revenue)} AS revenue, count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |GROUP BY r_name, l_returnflag
       |ORDER BY r_name, l_returnflag""".stripMargin

  val all: Seq[Q] = Seq(
    Q("flagship_pricing", flagshipOracle)(flagship),

    // §2.1 scan + stable projection
    Q("scan_parquet",
      "SELECT * FROM part ORDER BY p_partkey") { (s, d) =>
      Tables.part(s, d).orderBy("p_partkey")
    },

    // §2.1 hive-partitioned scan with partition PRUNING — the biggest
    // scan lever at 100 TB: a one-lang query over a lang-partitioned lake
    // must read one directory, not the corpus. The fixture layout is
    // staged once per sf dir (Sources.stageDocumentsByLang — on a real
    // lake the table already lives partitioned); RelationalSpec gates
    // that the executed plan carries a non-empty PartitionFilters and
    // reads only the lang=en directory. The oracle runs on the original
    // single-file table — pruning must not change results.
    Q("scan_partitioned",
      s"""SELECT doc_id, lang, source, n_chars,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes
         |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin) { (s, d) =>
      val staged = graft.sources.Sources.stageDocumentsByLang(s, d)
      s.read.parquet(staged)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          expr("cast(octet_length(text) as bigint)").as("n_bytes"))
        .orderBy("doc_id")
    },

    // §2.1 keyed CSV ingest: schema-first read (inference is a full extra
    // pass at 100 TB) of the staged sidecar, row-level output — a hash
    // match vs the oracle reading the PARQUET original proves every cell
    // survived the text round-trip, not just the row count.
    Q("ingest_csv",
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val staged = graft.sources.Sources.stageDocumentsCsv(s, d)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      graft.sources.Sources.readCsv(s, staged, schema)
        .orderBy("doc_id")
    },

    // §2.1 keyed JSON-lines ingest: schema-first read → normalize
    // (trim/case-fold the slice key, drop degenerate rows) → stable
    // projection; the oracle applies the same normalization to the
    // parquet original.
    Q("ingest_json",
      s"""SELECT doc_id, upper(trim(lang)) AS lang_uc, source, n_chars
         |FROM documents WHERE n_chars > 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val staged = graft.sources.Sources.stageDocumentsJsonl(s, d)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      graft.sources.Sources.readJsonLines(s, staged, schema)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), upper(trim(col("lang"))).as("lang_uc"),
          col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // §2.2
    Q("project_select",
      // (l_orderkey, l_linenumber) is NOT unique in the fixture data —
      // lineitem-grain queries must ORDER BY every output column so that
      // any remaining equal-key rows are bit-identical (hash-stable).
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS disc_price,
         |  l_quantity * 2 AS qty2
         |FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_price, qty2""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        // Spark side of the oracle's decimal product in exact integer
        // units (r21, the dsumSpark discipline): price cents × (100 −
        // discount points) is the exact ×10⁴ integer of the decimal
        // product (both factors have ≤2 fraction digits, quantized
        // tie-free by the pure-FP floor idiom), and the correctly-rounded
        // double of that long / 10⁴ equals the decimal→double cast
        // bit-for-bit — no per-row BigDecimal
        expr(s"cast(cast(${snap("l_extendedprice", 2)} as bigint)" +
          s" * (100 - cast(${snap("l_discount", 2)} as bigint))" +
          " as double) / 10000").as("disc_price"),
        expr("l_quantity * 2").as("qty2"),
      ).orderBy("l_orderkey", "l_linenumber", "disc_price", "qty2")
    },

    Q("filter_pred",
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         |FROM orders
         |WHERE (o_orderstatus IN ('F','P') AND o_totalprice BETWEEN 50000 AND 200000)
         |   OR (o_orderpriority LIKE '1-%' AND o_orderdate IS NOT NULL AND o_orderdate < TIMESTAMP '1996-01-01')
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).filter(
        expr("(o_orderstatus IN ('F','P') AND o_totalprice BETWEEN 50000 AND 200000)" +
          " OR (o_orderpriority LIKE '1-%' AND o_orderdate IS NOT NULL AND o_orderdate < timestamp_ntz'1996-01-01')"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // §2.3 joins
    Q("join_inner_broadcast",
      s"""SELECT o_orderkey, c_custkey, n_name, r_name FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), expr("o_custkey = c_custkey"))
        .join(broadcast(Tables.nation(s, d)), expr("c_nationkey = n_nationkey"))
        .join(broadcast(Tables.region(s, d)), expr("n_regionkey = r_regionkey"))
        .select("o_orderkey", "c_custkey", "n_name", "r_name")
        .orderBy("o_orderkey")
    },

    Q("join_sortmerge",
      s"""SELECT l_orderkey, l_linenumber, o_custkey, o_totalprice
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |ORDER BY l_orderkey, l_linenumber, o_custkey, o_totalprice""".stripMargin) { (s, d) =>
      // fact–fact: hint sort-merge so the plan is the one that scales
      Tables.lineitem(s, d).hint("merge")
        .join(Tables.orders(s, d).hint("merge"), expr("l_orderkey = o_orderkey"))
        .select("l_orderkey", "l_linenumber", "o_custkey", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber", "o_custkey", "o_totalprice")
    },

    Q("join_left_outer",
      s"""SELECT p_partkey, l_orderkey, l_linenumber
         |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
         |ORDER BY p_partkey, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .join(Tables.lineitem(s, d), expr("p_partkey = l_partkey"), "left")
        .select("p_partkey", "l_orderkey", "l_linenumber")
        .orderBy(col("p_partkey"), col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first)
    },

    Q("join_right_outer",
      s"""SELECT p_partkey, l_orderkey, l_linenumber
         |FROM lineitem RIGHT JOIN part ON p_partkey = l_partkey
         |ORDER BY p_partkey, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), expr("p_partkey = l_partkey"), "right")
        .select("p_partkey", "l_orderkey", "l_linenumber")
        .orderBy(col("p_partkey"), col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first)
    },

    Q("join_full_outer",
      s"""SELECT p.p_partkey, p.p_size, b.l_partkey, b.cnt
         |FROM (SELECT p_partkey, p_size FROM part WHERE p_size <= 10) p
         |FULL JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey) b
         |  ON p.p_partkey = b.l_partkey
         |ORDER BY p_partkey NULLS FIRST, l_partkey NULLS FIRST""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).filter("p_size <= 10").select("p_partkey", "p_size")
      val b = Tables.lineitem(s, d).groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      p.join(b, expr("p_partkey = l_partkey"), "full")
        .select("p_partkey", "p_size", "l_partkey", "cnt")
        .orderBy(col("p_partkey").asc_nulls_first, col("l_partkey").asc_nulls_first)
    },

    Q("join_semi",
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), expr("c_custkey = o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // anti-join against a RESTRICTED lineitem subset: at sf0.01 every part
    // appears in lineitem, so an unrestricted anti-join returns 0 rows and
    // proves nothing — the l_quantity > 45 filter leaves parts never
    // ordered in bulk, making the result non-empty
    Q("join_anti",
      s"""SELECT p_partkey, p_name FROM part
         |WHERE NOT EXISTS (SELECT 1 FROM lineitem
         |                  WHERE l_partkey = p_partkey AND l_quantity > 45)
         |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45),
          expr("p_partkey = l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // §2.2 NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): the join
    // key a marginal-vs-marginal comparison actually has — a nullable
    // group (here the honest nullif-derived bucket, NULL ≈ 10% of rows)
    // that a plain equi-join silently DROPS. Spark keeps EqualNullSafe a
    // hash-joinable equi key (coalesce-struct rewrite), so the plan is
    // still a hash join, not an NLJ. One scan: the (bucket, type) counts
    // pin once (Caching.pinOnce) and both type slices read the cache.
    // Null ORDERING is engine-divergent (Spark ASC = NULLS FIRST,
    // DuckDB = NULLS LAST) — pinned explicitly on both engines.
    Q("join_null_safe",
      s"""WITH g AS (SELECT
         |    nullif(CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |      // 10, 0) AS bucket,
         |    event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE event_type IN ('click', 'view')
         |  GROUP BY bucket, event_type)
         |SELECT a.bucket, a.n AS clicks, b.n AS views,
         |  CAST((1000000 * a.n) // b.n AS BIGINT) AS ratio_e6
         |FROM (SELECT bucket, n FROM g WHERE event_type = 'click') a
         |JOIN (SELECT bucket, n FROM g WHERE event_type = 'view') b
         |  ON a.bucket IS NOT DISTINCT FROM b.bucket
         |ORDER BY a.bucket NULLS FIRST""".stripMargin) { (s, d) =>
      val g = graft.Caching.pinOnce(Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(expr("nullif(cast(get_json_object(props, '$.k') as bigint)" +
          " div 10, 0)").as("bucket"), col("event_type"))
        .groupBy("bucket", "event_type").agg(count(lit(1)).as("n")))
      val a = g.filter(col("event_type") === "click")
        .select(col("bucket"), col("n").as("clicks"))
      val b = g.filter(col("event_type") === "view")
        .select(col("bucket").as("vbucket"), col("n").as("views"))
      a.join(b, col("bucket") <=> col("vbucket"))
        .select(col("bucket"), col("clicks"), col("views"),
          expr("cast((1000000 * clicks) div views as bigint)").as("ratio_e6"))
        .orderBy(col("bucket").asc_nulls_first)
    },

    Q("join_cross",
      s"""SELECT r_name, n_name FROM region CROSS JOIN nation
         |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables.region(s, d).select("r_name")
        .crossJoin(Tables.nation(s, d).select("n_name"))
        .orderBy("r_name", "n_name")
    },

    // band join, time-bucketed: equi on (user_id, 10-min bucket) — a hot
    // user (bot traffic at 100x) can no longer make one key group
    // quadratic, because candidates are bounded per bucket. Each left row
    // probes its own bucket AND bucket+1 (a (ts, ts+10min] band spans at
    // most two 10-min buckets), band predicate stays as the residual; a
    // given (a, b) pair matches in exactly one probed bucket, so the
    // result set is identical to the plain equi-on-user plan and the
    // oracle is unchanged.
    Q("join_theta_range",
      s"""SELECT a.event_id AS a_event_id, b.event_id AS b_event_id,
         |  (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_s
         |FROM events a JOIN events b
         |  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
         |ORDER BY a_event_id, b_event_id""".stripMargin) { (s, d) =>
      val bandUs = 600000000L // 10 min in micros = bucket width
      val e = Tables.events(s, d).select("event_id", "user_id", "ts_us")
      val a = e.toDF("a_event_id", "a_user", "a_ts")
        .withColumn("probe_bkt",
          explode(array(expr(s"a_ts div $bandUs"), expr(s"a_ts div $bandUs + 1"))))
      val b = e.toDF("b_event_id", "b_user", "b_ts")
        .withColumn("b_bkt", expr(s"b_ts div $bandUs"))
      a.join(b, expr(
          s"a_user = b_user AND probe_bkt = b_bkt AND b_ts > a_ts AND b_ts <= a_ts + $bandUs"))
        .select(col("a_event_id"), col("b_event_id"),
          expr("(b_ts - a_ts) div 1000000").as("gap_s"))
        .orderBy("a_event_id", "b_event_id")
    },

    Q("join_interval",
      s"""SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
         |FROM lineitem JOIN orders
         |  ON l_orderkey = o_orderkey
         | AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
         |ORDER BY l_orderkey, l_linenumber, l_shipdate, o_orderdate""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          expr("l_orderkey = o_orderkey AND l_shipdate BETWEEN o_orderdate AND o_orderdate + interval 90 day"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")
        .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")
    },

    // as-of via the union-merge rewrite (one shuffle; see AsofJoin scaladoc)
    Q("join_asof",
      s"""SELECT a.event_id, b.event_id AS asof_event_id, b.value AS asof_value
         |FROM events a ASOF LEFT JOIN events b
         |  ON a.user_id = b.user_id AND b.ts < a.ts
         |ORDER BY a.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val left = e.select("event_id", "user_id", "ts_us")
      val right = e.select("user_id", "ts_us", "event_id", "value")
      AsofJoin.lastEarlier(left, right, key = "user_id", ts = "ts_us",
        payload = Seq("event_id", "value"), rightTie = "event_id")
        .select("event_id", "asof_event_id", "asof_value")
        .orderBy("event_id")
    },

    // nearest-direction as-of: closest same-user event in EITHER time
    // direction, distance ties toward the earlier row. One exchange, two
    // stacked per-partition sorts (AsofJoin.nearest scaladoc); the oracle
    // composes DuckDB's native backward (<) and forward (>) ASOF joins
    // with the same tie rule — deterministic because (user_id, ts) is
    // unique in events at every SF (verified 2026-08-14; Spark's __tie
    // column pins the semantics even if that ever changes).
    Q("join_asof_nearest",
      s"""WITH back AS (
         |  SELECT a.event_id, b.event_id AS b_id, b.value AS b_val,
         |    epoch_us(a.ts) - epoch_us(b.ts) AS b_dt
         |  FROM events a ASOF LEFT JOIN events b
         |    ON a.user_id = b.user_id AND b.ts < a.ts),
         |fwd AS (
         |  SELECT a.event_id, b.event_id AS f_id, b.value AS f_val,
         |    epoch_us(b.ts) - epoch_us(a.ts) AS f_dt
         |  FROM events a ASOF LEFT JOIN events b
         |    ON a.user_id = b.user_id AND b.ts > a.ts)
         |SELECT back.event_id,
         |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_dt <= f_dt)
         |    THEN b_id ELSE f_id END AS near_event_id,
         |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_dt <= f_dt)
         |    THEN b_val ELSE f_val END AS near_value,
         |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_dt <= f_dt)
         |    THEN b_dt ELSE f_dt END AS near_dt_us
         |FROM back JOIN fwd ON back.event_id = fwd.event_id
         |ORDER BY back.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val left = e.select("event_id", "user_id", "ts_us")
      val right = e.select("user_id", "ts_us", "event_id", "value")
      AsofJoin.nearest(left, right, key = "user_id", ts = "ts_us",
        payload = Seq("event_id", "value"), rightTie = "event_id")
        .select(col("event_id"), col("near_event_id").as("near_event_id"),
          col("near_value").as("near_value"), col("near_dt").as("near_dt_us"))
        .orderBy("event_id")
    },

    // skew-proof equi-join via explicit salting (operators/SaltedJoin):
    // the big side gains a deterministic salt in [0, 8) — pmod(hash(row)),
    // no rand(), so retries and both engines see the same rows — and the
    // small side is replicated once per salt, so ONE hot customer's
    // orders spread over 8 shuffle partitions instead of serialising into
    // one. Result set is provably identical to the plain inner join (each
    // big row matches exactly its own salt replica), so the oracle IS the
    // plain join; the salted shape is pinned by a ScaleSpec plan test.
    // This is the explicit fallback for joins AQE's skew splitting can't
    // touch; the post-join aggregate re-keys on c_nationkey as usual.
    Q("join_skew_salted",
      s"""SELECT c_nationkey, count(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val big = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val small = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      SaltedJoin.inner(big, small, key = "custkey", salts = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), expr(dsumSpark("o_totalprice")).as("sum_price"))
        .orderBy("c_nationkey")
    },

    // weekly cohort retention matrix over the event stream: cohort =
    // ISO week of each user's first event; count distinct active users
    // per (cohort week, week offset). Scale shape: one shuffle on
    // user_id for the first-event aggregate, the join back is on the
    // SAME key (exchange-reusable / co-partitioned at scale), then a
    // bounded (weeks x offsets) aggregate. Dates go through the
    // micro-truncated ts (SURVEY §1.2) so both engines see identical
    // days; both date_trunc('week') are ISO-Monday.
    Q("events_cohort",
      s"""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
         |c AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY user_id)
         |SELECT CAST(date_trunc('week', cohort_d) AS DATE) AS cohort_wk,
         |  CAST((d - cohort_d) // 7 AS INT) AS wk_offset,
         |  count(DISTINCT e.user_id) AS users
         |FROM e JOIN c ON e.user_id = c.user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts_ntz")).as("d"))
      val cohorts = ev.groupBy("user_id").agg(min("d").as("cohort_d"))
      ev.join(cohorts, "user_id")
        .select(expr("cast(date_trunc('week', cohort_d) as date)").as("cohort_wk"),
          expr("cast(datediff(d, cohort_d) div 7 as int)").as("wk_offset"),
          col("user_id"))
        .groupBy("cohort_wk", "wk_offset")
        .agg(countDistinct("user_id").as("users"))
        .orderBy("cohort_wk", "wk_offset")
    },

    // 3-step conversion funnel (view -> click -> purchase) with a 24 h
    // step window and earliest-completion semantics: t1 = first view,
    // t2 = first click in (t1, t1+24h], t3 = first purchase in
    // (t2, t2+24h]. Scale shape: the step-1 aggregate shuffles ONCE on
    // user_id; every later join + aggregate keys on the SAME user_id
    // (co-partitioned / exchange-reusable) over frames that only shrink
    // as the funnel narrows, and the final per-step counts are scalar
    // aggregates. Funnel depth k = k bounded same-key passes — never a
    // global ts sort and never a per-user collect_list (which a hot user
    // would blow up at 100 TB).
    Q("events_funnel",
      s"""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
         |  JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.ts > v.t1
         |    AND e.ts <= v.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
         |  JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
         |    AND e.ts <= c.t2 + INTERVAL 24 HOUR GROUP BY e.user_id)
         |SELECT CAST(1 AS INT) AS step, 'view' AS step_name, count(*) AS users FROM v
         |UNION ALL SELECT CAST(2 AS INT), 'click', count(*) FROM c
         |UNION ALL SELECT CAST(3 AS INT), 'purchase', count(*) FROM p
         |ORDER BY step""".stripMargin) { (s, d) =>
      val winUs = 86400000000L // 24 h in micros (events compare in the µs domain, SURVEY §1.2)
      val e = Tables.events(s, d).select("user_id", "ts_us", "event_type")
      def nextStep(prev: DataFrame, prevT: String, typ: String, outT: String): DataFrame =
        e.filter(col("event_type") === typ)
          .join(prev, "user_id")
          .filter(col("ts_us") > col(prevT) && col("ts_us") <= col(prevT) + winUs)
          .groupBy("user_id").agg(min("ts_us").as(outT))
      // pin each funnel step: v is consumed by c AND its own step count,
      // c by p AND its count — unpinned, the final union re-derived v
      // three times and c twice (r17 scan audit: 6 event scans where 3
      // suffice; the step tables are user-bounded, so caching them is
      // the honest at-scale shape — one fact pass per funnel step)
      val v = graft.Caching.pinOnce(e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1")))
      val c = graft.Caching.pinOnce(nextStep(v, "t1", "click", "t2"))
      val p = nextStep(c, "t2", "purchase", "t3")
      def stepCount(df: DataFrame, step: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("users"))
          .select(lit(step).as("step"), lit(name).as("step_name"), col("users"))
      stepCount(v, 1, "view")
        .unionByName(stepCount(c, 2, "click"))
        .unionByName(stepCount(p, 3, "purchase"))
        .orderBy("step")
    },

    // correlated scalar subquery — exercises Catalyst's
    // RewriteCorrelatedScalarSubquery decorrelation into a left outer
    // aggregate join (zero-order customers get 0, not a per-row probe)
    Q("subquery_scalar",
      s"""SELECT c_custkey,
         |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
         |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders WHERE o_custkey = c_custkey) AS max_price
         |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("sq_customer")
      Tables.orders(s, d).createOrReplaceTempView("sq_orders")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM sq_orders WHERE o_custkey = c_custkey) AS n_orders,
          |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM sq_orders WHERE o_custkey = c_custkey) AS max_price
          |FROM sq_customer ORDER BY c_custkey""".stripMargin)
    },

    // the reference's versioned-results accumulation: append a delta batch
    // to the base, keep the latest version per key (window rewrite — the
    // deterministic SCD/compaction pattern; at scale this is the
    // merge-on-read compaction of an append-only results log)
    Q("versioned_latest",
      s"""WITH versioned AS (
         |  SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 2 AS version
         |  FROM orders WHERE o_orderkey % 97 < 5)
         |SELECT o_orderkey, o_totalprice, CAST(version AS INT) AS version FROM (
         |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
         |    ORDER BY version DESC) AS rn FROM versioned)
         |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), lit(1).as("version"))
      val delta = Tables.orders(s, d).filter("o_orderkey % 97 < 5")
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          lit(2).as("version"))
      val w = Window.partitionBy("o_orderkey").orderBy(col("version").desc)
      base.unionByName(delta)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_orderkey", "o_totalprice", "version")
        .orderBy("o_orderkey")
    },

    // §2.4 aggregation
    Q("agg_hash_sum",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base,
         |  ${dsum(revenue)} AS sum_disc,
         |  ${dsum(charge)} AS sum_charge,
         |  ${davg("l_quantity")} AS avg_qty,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        expr(dsumSpark("l_quantity")).as("sum_qty"),
        expr(dsumSpark("l_extendedprice")).as("sum_base"),
        expr(dsumSpark(revenue)).as("sum_disc"),
        expr(dsumSpark(charge)).as("sum_charge"),
        expr(davgSpark("l_quantity")).as("avg_qty"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        count(lit(1)).as("count_order"),
      ).orderBy("l_returnflag", "l_linestatus")
    },

    Q("agg_count_distinct",
      s"""SELECT s_nationkey, count(DISTINCT l_suppkey) AS n_supp,
         |  count(DISTINCT l_partkey) AS n_part
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), expr("l_suppkey = s_suppkey"))
        .groupBy("s_nationkey")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct("l_partkey").as("n_part"))
        .orderBy("s_nationkey")
    },

    Q("agg_distinct_global",
      s"""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
         |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select("c_mktsegment", "c_nationkey")
        .distinct()
        .orderBy("c_mktsegment", "c_nationkey")
    },

    Q("agg_grouping_sets",
      s"""SELECT r_name, n_name, CAST(grouping(r_name) AS INT) AS g_r,
         |  CAST(grouping(n_name) AS INT) AS g_n, count(*) AS cnt,
         |  ${dsum("s_acctbal")} AS bal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
         |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.supplier(s, d).createOrReplaceTempView("gs_supplier")
      Tables.nation(s, d).createOrReplaceTempView("gs_nation")
      Tables.region(s, d).createOrReplaceTempView("gs_region")
      s.sql(
        s"""SELECT r_name, n_name, CAST(grouping(r_name) AS INT) AS g_r,
           |  CAST(grouping(n_name) AS INT) AS g_n, count(*) AS cnt,
           |  ${dsumSpark("s_acctbal")} AS bal
           |FROM gs_supplier JOIN gs_nation ON s_nationkey = n_nationkey
           |JOIN gs_region ON n_regionkey = r_regionkey
           |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
           |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
    },

    Q("agg_rollup",
      s"""SELECT r_name, n_name, CAST(grouping(r_name) AS INT) AS g_r,
         |  CAST(grouping(n_name) AS INT) AS g_n, count(*) AS cnt,
         |  ${dsum("s_acctbal")} AS bal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.supplier(s, d).createOrReplaceTempView("ru_supplier")
      Tables.nation(s, d).createOrReplaceTempView("ru_nation")
      Tables.region(s, d).createOrReplaceTempView("ru_region")
      s.sql(
        s"""SELECT r_name, n_name, CAST(grouping(r_name) AS INT) AS g_r,
           |  CAST(grouping(n_name) AS INT) AS g_n, count(*) AS cnt,
           |  ${dsumSpark("s_acctbal")} AS bal
           |FROM ru_supplier JOIN ru_nation ON s_nationkey = n_nationkey
           |JOIN ru_region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)
           |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
    },

    Q("agg_cube",
      s"""SELECT c_mktsegment, c_nationkey, CAST(grouping(c_mktsegment) AS INT) AS g_m,
         |  CAST(grouping(c_nationkey) AS INT) AS g_n, count(*) AS cnt,
         |  ${dsum("c_acctbal")} AS bal
         |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
         |ORDER BY g_m, g_n, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .cube("c_mktsegment", "c_nationkey")
        .agg(grouping("c_mktsegment").cast("int").as("g_m"),
          grouping("c_nationkey").cast("int").as("g_n"),
          count(lit(1)).as("cnt"),
          expr(dsumSpark("c_acctbal")).as("bal"))
        .orderBy(col("g_m"), col("g_n"),
          col("c_mktsegment").asc_nulls_first, col("c_nationkey").asc_nulls_first)
    },

    // ordered string aggregation (robot-CSV row assembly analog): sorted
    // DISTINCT segment list per nation
    Q("agg_string_agg",
      s"""SELECT c_nationkey, string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
         |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).groupBy("c_nationkey")
        .agg(array_join(array_sort(collect_set("c_mktsegment")), ",").as("segs"))
        .orderBy("c_nationkey")
    },

    // exact interpolated percentile emitted ENTIRELY in integer
    // arithmetic (ADVICE r15: for integer quantities the interpolated
    // 0.9-quantile is an exact multiple of 0.1, so a floor(x*10+0.5)
    // snap over the engines' float interpolation sits exactly ON the
    // rounding tie — Spark percentile() and DuckDB quantile_cont()
    // interpolate with different formulas and ±1 ulp decides the digit).
    // Here: with g = (10p·(n−1)) mod 10 and bracketing order statistics
    // a,b (ranks found by the cross-multiplied cw≥rank idiom over the
    // bounded quantity DOMAIN — one scan, no per-row sort),
    // p_x10 = (10−g)·a + g·b exactly on both engines.
    Q("agg_percentile",
      s"""WITH dom AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         |    CAST(count(*) AS BIGINT) AS w FROM lineitem GROUP BY flag, q),
         |c AS (SELECT flag, q, w,
         |    CAST(sum(w) OVER (PARTITION BY flag ORDER BY q) AS BIGINT) AS cw,
         |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS n FROM dom),
         |sel AS (SELECT flag, max(n) AS n,
         |    min(CASE WHEN cw >= 1 + (n - 1) // 2 THEN q END) AS a5,
         |    min(CASE WHEN cw >= 2 + (n - 1) // 2 THEN q END) AS b5,
         |    min(CASE WHEN cw >= 1 + (9 * (n - 1)) // 10 THEN q END) AS a9,
         |    min(CASE WHEN cw >= 2 + (9 * (n - 1)) // 10 THEN q END) AS b9
         |  FROM c GROUP BY flag)
         |SELECT flag AS l_returnflag,
         |  CAST((2 - (n - 1) % 2) * 5 * a5
         |    + ((n - 1) % 2) * 5 * coalesce(b5, a5) AS BIGINT) AS p50_x10,
         |  CAST((10 - (9 * (n - 1)) % 10) * a9
         |    + ((9 * (n - 1)) % 10) * coalesce(b9, a9) AS BIGINT) AS p90_x10
         |FROM sel ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val perF = Window.partitionBy("flag")
      val c = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"),
          expr("cast(l_quantity as bigint)").as("q"))
        .agg(count(lit(1)).as("w"))
        .withColumn("cw", sum("w").over(perF.orderBy("q")))
        .withColumn("n", sum("w").over(perF))
      c.groupBy("flag").agg(max("n").as("n"),
          min(when(expr("cw >= 1 + (n - 1) div 2"), col("q"))).as("a5"),
          min(when(expr("cw >= 2 + (n - 1) div 2"), col("q"))).as("b5"),
          min(when(expr("cw >= 1 + (9 * (n - 1)) div 10"), col("q"))).as("a9"),
          min(when(expr("cw >= 2 + (9 * (n - 1)) div 10"), col("q"))).as("b9"))
        .select(col("flag").as("l_returnflag"),
          expr("cast((2 - (n - 1) % 2) * 5 * a5" +
            " + ((n - 1) % 2) * 5 * coalesce(b5, a5) as bigint)").as("p50_x10"),
          expr("cast((10 - (9 * (n - 1)) % 10) * a9" +
            " + ((9 * (n - 1)) % 10) * coalesce(b9, a9) as bigint)").as("p90_x10"))
        .orderBy("l_returnflag")
    },

    // HLL sketch — engines' sketches differ, so no SQL oracle (rows-only
    // driver check). The exact count(DISTINCT) rides alongside so the
    // output itself pins cardinality: GoldenSpec asserts the ±5% invariant
    // directly on these two columns.
    // both aggregates run over the pre-distincted (flag, partkey) pairs:
    // HLL is duplicate-insensitive (identical sketch, identical estimate)
    // and the exact count becomes a plain count(*) — one shuffle, no
    // Expand row-duplication that mixing count(DISTINCT) with another
    // aggregate would otherwise plan
    Q("agg_approx_distinct", { (s: SparkSession, d: String) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"),
          count(lit(1)).as("exact_parts"))
        .orderBy("l_returnflag")
    }, None),

    // §7.3 rule 5: flatten the array to a scalar string so the driver's
    // pandas comparator can hash it (sorted ints join identically in both
    // engines; no float-format divergence possible)
    Q("agg_collect_list",
      s"""SELECT l_orderkey,
         |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lines
         |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(expr("array_join(transform(sort_array(collect_list(l_linenumber)), x -> cast(x as string)), ',')").as("lines"))
        .orderBy("l_orderkey")
    },

    // §2.6 sort / limit
    Q("sort_multi",
      s"""SELECT o_orderkey, o_totalprice, nullif(o_orderstatus, 'P') AS st
         |FROM orders
         |ORDER BY st ASC NULLS FIRST, o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          expr("nullif(o_orderstatus, 'P')").as("st"))
        .orderBy(col("st").asc_nulls_first, col("o_totalprice").desc, col("o_orderkey"))
    },

    Q("limit_topk",
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // §2.7 set ops (buyer ids vs event-user ids)
    Q("set_union_all",
      s"""SELECT o_custkey AS id FROM orders
         |UNION ALL SELECT user_id AS id FROM events ORDER BY id""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("id"))
        .unionByName(Tables.events(s, d).select(col("user_id").as("id")))
        .orderBy("id")
    },

    Q("set_union_distinct",
      s"""SELECT o_custkey AS id FROM orders
         |UNION SELECT user_id AS id FROM events ORDER BY id""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("id"))
        .union(Tables.events(s, d).select(col("user_id").as("id")))
        .distinct()
        .orderBy("id")
    },

    Q("set_intersect",
      s"""SELECT o_custkey AS id FROM orders
         |INTERSECT SELECT user_id AS id FROM events ORDER BY id""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("id"))
        .intersect(Tables.events(s, d).select(col("user_id").as("id")))
        .orderBy("id")
    },

    Q("set_except",
      s"""SELECT o_custkey AS id FROM orders
         |EXCEPT SELECT user_id AS id FROM events ORDER BY id""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("id"))
        .except(Tables.events(s, d).select(col("user_id").as("id")))
        .orderBy("id")
    },
  )
}
