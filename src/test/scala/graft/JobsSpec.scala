package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Two-sided per-key Spark JOB-count gate (VERDICT r17 item 5) — the
  * action-count twin of PlansSpec's parquet-scan gate. Job count is the
  * builder-controllable CONTENTION exposure: every job boundary is a
  * scheduling window a loaded driver host taxes (BASELINE r17: with
  * ambient load ≈ 2, low-job keys inflated ~1.4× while 23-job orders_rfm
  * inflated 2.6×). The gate pins the top-exposure keys (r17's top-20
  * idle table) at this suite's config (sf0.001, local[4],
  * shuffle.partitions=4 — job counts are AQE-stage counts, so they are a
  * function of config and data size; the baseline below was audited at
  * exactly this config). Fails BOTH ways: an increase is a scheduling
  * regression, a decrease is a stale baseline — re-audit and record the
  * improvement.
  *
  * Counting protocol (tools/actioncount.scala, frozen): warm every key
  * once (codegen, broadcast classes, SessionMemo model fits — the memo is
  * (session, dir)-keyed, so warming here makes the measured pass
  * deterministic regardless of suite order), then per key: clearCache,
  * count jobs while the DataFrame is CONSTRUCTED (pinOnce
  * materializations, model fits, boundary collects) and while it runs
  * once through a noop sink (including AQE per-shuffle-stage jobs).
  * Listener events are async — counts are read only after two 50 ms
  * polls agree.
  */
class JobsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  /** (build, run) job baseline, audited 2026-08-15 (r18) at the suite
    * config. Keys = BASELINE r17's top-20 idle/exposure table.
    */
  private val expected: Map[String, (Int, Int)] = Map(
    "stats_spearman" -> (0, 4),
    "outlier_mad" -> (0, 5),
    // r19 re-audit: pin dropped + df/n2 windows folded into the pair
    // aggregate's diagonal — build jobs 5 -> 0 (no pinOnce count), run
    // 10 -> 12, total 15 -> 12
    "sim_sparse_cosine" -> (0, 12),
    "basket_lift" -> (5, 10),
    // r22 re-audit (VERDICT r21 item 4): literal-centroid map-side argmin
    // replaced the per-round crossJoin(broadcast)+groupBy(vec_id) argmin
    // and the centroid update aggregates off the assignment (no join back
    // to v) — build 17 -> 8, run unchanged; isolated timekey 1.88 -> 1.08
    // in the interleaved A/B (logs/ab_r22_kmeans_cc.log)
    "kmeans_iter" -> (8, 5),
    "span_attribution" -> (4, 11),
    "dedup_simhash" -> (5, 4),
    // r21 re-audit (VERDICT r20 item 3): the three quantile consumers
    // folded into ONE grouped ExactQuantiles pass over the stacked
    // (dim, value) table and the boundary literals replaced the two
    // crossJoin-broadcast quartile subframes — build 9 -> 7 (lazy
    // ensureCached instead of pinOnce's counted pin; consumers are
    // sequential, nothing races), run 10 -> 4, total 19 -> 11 at
    // local[32]/sf0.1 (tools/actioncount)
    "orders_rfm" -> (7, 4),
    "agg_hash_sum" -> (0, 4),
    "text_verbatim_spans" -> (4, 7),
    "ann_ivfpq" -> (1, 8),
    // r20 new-key audit (tools/actioncount at the suite config): the
    // exact re-rank adds 3 run jobs over ann_ivfpq (shortlist window +
    // the two broadcast sides of the re-score join)
    "ann_ivfpq_rerank" -> (1, 11),
    // r22: localSolve's label-attach cache is no longer counted eagerly
    // (labels are a driver-local LocalRelation — no retirable lineage), so
    // its materialization moved from a build-phase count job into the
    // consumer's own run phase: build 9 -> 5, run 4 -> 6, total 13 -> 11
    "embedding_cluster" -> (5, 6),
    "knn_label_ann" -> (0, 6),
    "token_pmi" -> (0, 12),
    "dedup_embedding" -> (0, 4),
    "normalize_expr" -> (0, 3),
    "text_bigram_logprob" -> (0, 7),
    // r22: the pair-frame materialization count now doubles as the CC
    // edge-count bound (jaccardPairsCounted -> graphSizeHint) and the
    // warm gram kernel skips its redundant cache-read count
    // (Caching.materializeRetiring pins cold-only) — build 14 -> 12
    "dedup_cluster" -> (12, 5),
    "agg_approx_percentile" -> (5, 3),
    "text_keyword_extract" -> (0, 8))

  test("per-key Spark job counts match the audited baseline (top exposure keys)") {
    val keys = expected.keys.toSeq.sorted
    keys.foreach(k => assert(SparkEntry.queries.contains(k), s"unknown key $k"))
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    // ADVICE r18 (ShuffleSpec twin): require two consecutive 200 ms
    // agreements so a >50 ms listener-bus stall can't mis-attribute
    // build-phase events to the run phase
    def settled(): Int = {
      var agree = 0
      var prev = -1
      var cur = counter.get()
      while (agree < 2) {
        Thread.sleep(200)
        prev = cur; cur = counter.get()
        agree = if (cur == prev) agree + 1 else 0
      }
      cur
    }
    def sink(k: String): Unit = SparkEntry.queries(k)(s, d)
      .write.format("noop").mode("overwrite").save()
    s.sparkContext.addSparkListener(listener)
    try {
      keys.foreach { k => sink(k); s.catalog.clearCache() }
      val rows = keys.map { k =>
        s.catalog.clearCache()
        val j0 = settled()
        val df = SparkEntry.queries(k)(s, d)
        val jBuild = settled() - j0
        df.write.format("noop").mode("overwrite").save()
        val jRun = settled() - j0 - jBuild
        k -> (jBuild, jRun)
      }
      val drift = rows.filter { case (k, got) => got != expected(k) }
        .map { case (k, (b, r)) =>
          val (eb, er) = expected(k)
          s"$k: build $eb->$b run $er->$r"
        }
      assert(drift.isEmpty,
        "job-count drift vs audited baseline (more = scheduling regression," +
          s" fewer = stale baseline; re-audit):\n${drift.mkString("\n")}")
    } finally s.sparkContext.removeSparkListener(listener)
  }
}
