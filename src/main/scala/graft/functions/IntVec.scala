package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, posexplode}

import graft.queries.Sqlh.snap

/** Exact ×10⁶ integer vectors — the one implementation behind the
  * similarity-search family (kmeans_iter, ann_ivf, the PQ and IVF-PQ keys,
  * the LSH signature, embedding_project, ml_score): quantize, squared L2,
  * nearest centroid and the integer-Lloyd round, emitted as JVM code for
  * UDFs and driver loops, as Spark SQL and as DuckDB SQL.
  *
  * Exactness contract, the same on every side:
  *  - a FLOAT component x becomes the BIGINT floor(x·10⁶ + 0.5), never
  *    round(), whose half-tie mode differs between engines;
  *  - a squared L2 is an exact int64: |q| ≲ 2×10⁶ for float32 fixture
  *    components, so a 64-dim distance is ≤ 64·(4×10⁶)² ≈ 10¹⁵ ≪ 2⁶³;
  *  - the nearest centroid is the lexicographic minimum of (d2, c), so
  *    ties go to the lowest centroid index — strict `<` on the JVM,
  *    `ORDER BY d2, c` in DuckDB, the (d2, c) struct order in Spark;
  *  - a centroid update is the truncating integer mean per component
  *    (Long `/`, Spark `div` and DuckDB `//` all truncate toward zero on
  *    these operands), and a centroid whose cluster went empty keeps its
  *    previous value.
  * So a Lloyd fit replays bit-for-bit on both engines from the same seeds.
  */
object IntVec {

  /** floor(x·10⁶ + 0.5) of one component. */
  def quantize(x: Float): Long = math.floor(x.toDouble * 1000000d + 0.5d).toLong

  /** Every component of `v`, quantized. */
  def quantize(v: Seq[Float]): Array[Long] = {
    val q = new Array[Long](v.length)
    var i = 0
    while (i < q.length) { q(i) = quantize(v(i)); i += 1 }
    q
  }

  /** Spark SQL twin of [[quantize]] over a FLOAT array column. */
  def quantizeSpark(arr: String): String =
    s"transform($arr, x -> cast(${snap("cast(x as double)", 6)} as bigint))"

  /** DuckDB twin of [[quantize]] over a FLOAT list column. */
  def quantizeDuck(arr: String): String =
    s"list_transform($arr, x -> CAST(${snap("CAST(x AS DOUBLE)", 6)} AS BIGINT))"

  /** Exact squared L2 between `q[off, off + c.length)` and `c`. */
  def sqL2(q: Array[Long], off: Int, c: Array[Long]): Long = {
    var d2 = 0L
    var i = 0
    while (i < c.length) { val g = q(off + i) - c(i); d2 += g * g; i += 1 }
    d2
  }

  /** Spark SQL twin of [[sqL2]] between two BIGINT array expressions. */
  def sqL2Spark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (a, b) -> (a - b) * (a - b)), cast(0 as bigint), (acc, x) -> acc + x)"

  /** DuckDB twin of [[sqL2]] over `dim` components; `aOff` shifts `a`'s
    * 1-based index (a subspace slice read in place). */
  def sqL2Duck(a: String, b: String, dim: Int, aOff: String = ""): String = {
    val ai = if (aOff.isEmpty) s"$a[i]" else s"$a[$aOff + i]"
    s"""CAST(list_sum(list_transform(generate_series(1, $dim),
       |      i -> ($ai - $b[i]) * ($ai - $b[i]))) AS BIGINT)""".stripMargin
  }

  /** Index of the centroid nearest `q[off, off + dim)`; strict `<` keeps
    * the lowest index on ties. `cents` must be non-empty. */
  def nearest(q: Array[Long], off: Int, cents: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = sqL2(q, off, cents(0))
    var c = 1
    while (c < cents.length) {
      val d2 = sqL2(q, off, cents(c))
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** Spark: `struct(d2, c)` of the centroid nearest the BIGINT array
    * `vec`, the (id, vector) centroids inlined as literals — a map-side
    * `array_min`, whose struct order is the (d2, c) tie-break. `cents`
    * and each of its vectors must be non-empty. */
  def nearestLiteral(vec: String, cents: Seq[(Long, Seq[Long])]): String =
    cents.map { case (c, cv) =>
      s"struct(${sqL2Spark(vec, cv.map(x => s"${x}L").mkString("array(", ",", ")"))} AS d2, ${c}L AS c)"
    }.mkString("array_min(array(", ",", "))")

  /** DuckDB: the rows of `dist(part…, c, d2)` whose `c` is among the `k`
    * nearest per `part`, ties to the lowest `c`. */
  def nearestDuck(dist: String, part: String, k: Int = 1): String =
    s"SELECT * FROM $dist QUALIFY row_number() OVER (PARTITION BY $part ORDER BY d2, c) <= $k"

  /** DuckDB: `(vec_id, keys…, c, d2)` — every point of `pts(vec_id,
    * keys…, vec)` against every centroid of `cent(keys…, c, cv)` with the
    * same keys, over `dim` components. */
  def distDuck(pts: String, vec: String, cent: String, keys: Seq[String], dim: Int): String = {
    val join = if (keys.isEmpty) s"CROSS JOIN $cent ct"
      else s"JOIN $cent ct ON ${eq("ct", "t", keys)}"
    s"""SELECT t.vec_id, ${prefixed("t", keys)}ct.c,
       |    ${sqL2Duck(s"t.$vec", "ct.cv", dim)} AS d2
       |  FROM $pts t $join""".stripMargin
  }

  /** DuckDB: `rounds` integer-Lloyd rounds over `pts(vec_id, keys…,
    * vec)` as CTEs named with prefix `p`: `u` (the unnested components),
    * `cent0` (the vectors of `seeds(vec_id, c)`), then per round r the
    * distances `d<r>`, the assignment `a<r>(vec_id, keys…, c, d2)`, the
    * per-component means `cl<r>` and the centroids `cent<r>(keys…, c,
    * cv)`. A centroid is keyed by (keys…, c), so one chain trains
    * independent codebooks side by side (the PQ subspaces); a centroid
    * with no member keeps its previous value (the COALESCE). */
  def lloydDuck(p: String, pts: String, vec: String, keys: Seq[String], dim: Int,
      seeds: String, rounds: Int): String = {
    val kc = (keys :+ "c").mkString(", ")
    val head = Seq(
      s"""${p}u AS (SELECT vec_id, ${keys.map(_ + ", ").mkString}unnest($vec) AS x,
         |    generate_subscripts($vec, 1) AS pos FROM $pts)""".stripMargin,
      s"""${p}cent0 AS (SELECT ${prefixed("t", keys)}s.c, t.$vec AS cv
         |  FROM ($seeds) s JOIN $pts t ON t.vec_id = s.vec_id)""".stripMargin)
    val chain = (1 to rounds).map { r =>
      val prev = s"${p}cent${r - 1}"
      s"""${p}d$r AS (${distDuck(pts, vec, prev, keys, dim)}),
         |${p}a$r AS (${nearestDuck(s"${p}d$r", ("vec_id" +: keys).mkString(", "))}),
         |${p}cl$r AS (SELECT ${prefixed("a", keys)}a.c, u.pos,
         |    CAST(sum(u.x) // count(*) AS BIGINT) AS cve
         |  FROM ${p}a$r a JOIN ${p}u u ON ${eq("u", "a", "vec_id" +: keys)}
         |  GROUP BY ${prefixed("a", keys)}a.c, u.pos),
         |${p}cent$r AS (SELECT ${prefixed("q", keys)}q.c, COALESCE(n.cv, q.cv) AS cv
         |  FROM $prev q LEFT JOIN
         |    (SELECT $kc, list(cve ORDER BY pos) AS cv FROM ${p}cl$r GROUP BY $kc) n
         |    ON ${eq("n", "q", keys :+ "c")})""".stripMargin
    }
    (head ++ chain).mkString(",\n")
  }

  /** Spark twin of one [[lloydDuck]] update: the truncating mean of `vec`
    * per (keys…, pos) over the assignment frame `asgn` — `keys` end with
    * the cluster column — collected; the centroids of `prev` with no
    * member are kept. `key` reads a centroid key from the first
    * `keys.length` columns of a mean row. Returns the centroids sorted by
    * key. */
  def lloydUpdate[K: Ordering](asgn: DataFrame, keys: Seq[String], vec: String,
      prev: Seq[(K, Seq[Long])])(key: Row => K): Seq[(K, Seq[Long])] = {
    val n = keys.length
    val fresh = asgn
      .select(keys.map(col) :+ posexplode(col(vec)): _*)
      .groupBy(keys.head, keys.tail :+ "pos": _*)
      .agg(expr("cast(sum(col) div count(*) as bigint)").as("cve"))
      .collect().toSeq
      .groupBy(key)
      .map { case (k, rows) => k -> rows.sortBy(_.getInt(n)).map(_.getLong(n + 1)) }
    (prev.filterNot(c => fresh.contains(c._1)) ++ fresh).sortBy(_._1)
  }

  private def prefixed(t: String, cols: Seq[String]): String = cols.map(c => s"$t.$c, ").mkString

  private def eq(l: String, r: String, cols: Seq[String]): String =
    cols.map(c => s"$l.$c = $r.$c").mkString(" AND ")
}
