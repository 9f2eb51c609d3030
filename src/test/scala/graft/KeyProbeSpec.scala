package graft

import org.scalatest.funsuite.AnyFunSuite

/** Two-sided per-key gates on [[graft.KeyProbe]]'s counts — the
  * scheduling and data-volume twins of PlansSpec's parquet-scan gate.
  *
  * Spark JOBS are the builder-controllable contention exposure: every job
  * boundary is a scheduling window a loaded driver host taxes (with
  * ambient load ≈ 2, low-job keys inflated ~1.4× while a 23-job key
  * inflated 2.6×). The job pins cover the top-exposure keys.
  *
  * Shuffle-write RECORDS are what a re-plan can silently grow without
  * touching either sibling metric: a lost partial aggregate, a join that
  * stopped broadcasting, a window that lost its pre-collapse all change
  * what crosses the wire — and at 100 TB the wire IS the cost — while
  * scan and job counts stay put. Two independent JVMs produce identical
  * record counts. The shuffle pins cover the top-30 keys by total shuffle
  * write. The magnitudes are the scale story in miniature: the dedup
  * family's ~81k-record build is its shingle-explode signature index
  * (linear in grams, combinable), span/verbatim's ~50-95k run records are
  * gram-level rows, and nothing is quadratic.
  *
  * Both are measured in ONE `KeyProbe.pass` over the union of the pinned
  * keys at this suite's config (sf0.001, local[4], shuffle.partitions=4 —
  * job counts are AQE stage counts, so they depend on config and data
  * size). Fails BOTH ways: an increase is a regression, a decrease is a
  * stale baseline — re-audit with
  * `sbt "runMain graft.KeyProbe <sfDir> <keys>"` under the suite config
  * and record the improvement.
  */
class KeyProbeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  /** (build, run) job baseline at the suite config. */
  private val jobs: Map[String, (Long, Long)] = Map(
    "stats_spearman" -> (0L, 4L),
    "outlier_mad" -> (0L, 5L),
    // nothing pinned: the df/n2 windows fold into the pair aggregate's
    // diagonal, so the build fires no job
    "sim_sparse_cosine" -> (0L, 12L),
    "basket_lift" -> (5L, 10L),
    // centroids are baked in as literals: each Lloyd round is a map-side
    // argmin plus one centroid-mean collect, with no broadcast join and
    // no join back to the vectors
    "kmeans_iter" -> (8L, 5L),
    "span_attribution" -> (4L, 11L),
    "dedup_simhash" -> (5L, 4L),
    // the three quantile consumers share ONE grouped ExactQuantiles pass
    // over the stacked (dim, value) table, the quartile boundaries are
    // literals rather than crossJoin-broadcast subframes, and the cache
    // is a lazy ensureCached (the consumers are sequential, nothing races)
    "orders_rfm" -> (7L, 4L),
    "agg_hash_sum" -> (0L, 4L),
    "text_verbatim_spans" -> (4L, 7L),
    "ann_ivfpq" -> (1L, 8L),
    // the exact re-rank adds 3 run jobs over ann_ivfpq: the shortlist
    // window and the two broadcast sides of the re-score join
    "ann_ivfpq_rerank" -> (1L, 11L),
    // localSolve's labels are a driver-local LocalRelation (no retirable
    // lineage), so their cache materializes in the consumer's run phase
    // rather than as a build-phase count
    "embedding_cluster" -> (5L, 6L),
    "knn_label_ann" -> (0L, 6L),
    "token_pmi" -> (0L, 12L),
    "dedup_embedding" -> (0L, 4L),
    "normalize_expr" -> (0L, 3L),
    "text_bigram_logprob" -> (0L, 7L),
    // the pair-frame materialization count doubles as the CC edge-count
    // bound (jaccardPairsCounted -> graphSizeHint), and the warm gram
    // kernel skips a redundant cache-read count
    // (Caching.materializeRetiring pins cold-only)
    "dedup_cluster" -> (12L, 5L),
    "agg_approx_percentile" -> (5L, 3L),
    "text_keyword_extract" -> (0L, 8L))

  /** (build, run) shuffle-write-record baseline at the suite config. */
  private val shuffle: Map[String, (Long, Long)] = Map(
    // the re-rank's run records are the ADC candidate rows entering the
    // two bounded windows (shortlist + final top-3) — 1.5x ann_ivfpq's
    // 800, never corpus-sized
    "ann_ivfpq_rerank" -> (0L, 1200L),
    "ann_lsh_bucket" -> (0L, 10496L),
    "chunk_overlap" -> (0L, 6672L),
    "corpus_heaps" -> (1L, 16555L),
    "corpus_novelty" -> (0L, 10920L),
    "dedup_calibration" -> (29403L, 108L),
    "dedup_chunk" -> (0L, 9426L),
    // the CC edge count rides the pair-frame materialization
    // (jaccardPairsCounted -> graphSizeHint), so the build writes no
    // partial-count shuffle records
    "dedup_cluster" -> (81217L, 1000L),
    "dedup_containment" -> (81213L, 8L),
    "dedup_fuzzy" -> (27407L, 9568L),
    "dedup_incremental" -> (27407L, 4523L),
    "dedup_ngram_jaccard" -> (81217L, 8L),
    "dedup_rate_by_source" -> (81217L, 56L),
    "dedup_retention" -> (81217L, 1000L), // same CC path as dedup_cluster
    "dedup_strip" -> (1L, 10915L),
    "fn_explode" -> (0L, 32000L),
    "graph_degree" -> (81217L, 516L),
    "inverted_index" -> (0L, 11743L),
    "join_sortmerge" -> (0L, 13500L),
    "knn_label_ann" -> (0L, 18397L),
    "mm_frame_sample" -> (0L, 12686L),
    "outlier_mad" -> (0L, 12003L),
    // unpinned single pass: all shuffle is in the run phase, and the nc
    // subtree re-shuffles cp instead of two full-frame window shuffles
    "sim_sparse_cosine" -> (0L, 15043L),
    "span_attribution" -> (504L, 95278L),
    "stats_spearman" -> (0L, 12003L),
    "text_bigram_logprob" -> (0L, 9964L),
    "text_keyword_extract" -> (0L, 26491L),
    "text_ngram_coverage" -> (16510L, 404L),
    "text_tfidf" -> (0L, 11903L),
    "text_verbatim_spans" -> (504L, 50038L),
    "token_vocab" -> (0L, 11898L))

  private lazy val rows: Map[String, KeyProbe.Row] =
    KeyProbe.pass(s, d, (jobs.keySet ++ shuffle.keySet).toSeq.sorted)
      .map(r => r.key -> r).toMap

  private def drift(expected: Map[String, (Long, Long)],
      got: KeyProbe.Row => (Long, Long)): Seq[String] =
    expected.toSeq.sorted.collect {
      case (k, (eb, er)) if got(rows(k)) != ((eb, er)) =>
        val (b, r) = got(rows(k))
        s"$k: build $eb->$b run $er->$r"
    }

  test("per-key Spark job counts match the audited baseline (top exposure keys)") {
    val bad = drift(jobs, r => (r.buildJobs, r.runJobs))
    assert(bad.isEmpty,
      "job-count drift vs audited baseline (more = scheduling regression," +
        s" fewer = stale baseline; re-audit):\n${bad.mkString("\n")}")
  }

  test("per-key shuffle write records match the audited baseline (top volume keys)") {
    val bad = drift(shuffle, r => (r.buildShuffle, r.runShuffle))
    assert(bad.isEmpty,
      "shuffle-record drift vs audited baseline (more = volume regression," +
        s" fewer = stale baseline; re-audit):\n${bad.mkString("\n")}")
  }

  test("a second pass reproduces the counts, and they are final when it returns") {
    def counts(r: KeyProbe.Row) = (r.buildJobs, r.runJobs, r.buildShuffle, r.runShuffle)
    val keys = Seq("dedup_cluster", "kmeans_iter", "sim_sparse_cosine")
    val first = keys.map(k => counts(rows(k)))
    val c = new KeyProbe.Counter
    s.sparkContext.addSparkListener(c)
    try {
      val again = KeyProbe.pass(s, d, keys)
      val atReturn = (c.jobs.get, c.records.get)
      // the bus was drained before pass returned: a late event would
      // land within this second
      java.util.concurrent.TimeUnit.SECONDS.sleep(1)
      assert((c.jobs.get, c.records.get) == atReturn, "listener events arrived after pass returned")
      assert(again.map(counts) == first)
    } finally s.sparkContext.removeSparkListener(c)
  }

  test("the TIMEKEY line has the shape tools/benchledger.py read_timekeys parses") {
    val runs = Seq(1.5, 0.5, 1.0).map(t =>
      KeyProbe.Row("kmeans_iter", 8, 5, 0, 1200, t / 2, t / 2))
    val parts = KeyProbe.timekey(runs).split("\\s+").toSeq
    assert(parts.take(2) == Seq("TIMEKEY", "kmeans_iter"))
    assert(parts.contains("med=1.00") && parts.contains("runs=1.50,0.50,1.00"), parts)
    assert(Seq("build_jobs=8", "run_jobs=5", "build_shuffle=0", "run_shuffle=1200")
      .forall(parts.contains), parts)
  }
}
