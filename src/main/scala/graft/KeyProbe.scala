package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** The per-key probe: what each `SparkEntry.queries` key costs in Spark
  * jobs (scheduling exposure — every job boundary is a window a loaded
  * driver host taxes) and shuffle-write records (data volume — records,
  * not bytes, so the count is exact for a deterministic plan at a fixed
  * shuffle-partition config), split into the phase that BUILDS the
  * DataFrame (pinOnce materializations, model fits, boundary collects)
  * and the phase that RUNS it once into a noop sink (including AQE's
  * per-shuffle-stage jobs).
  *
  * Protocol: warm every key once through the sink (codegen, broadcast
  * classes, SessionMemo model fits — the memo is (session, dir)-keyed, so
  * warming makes the measured pass independent of what ran before), then
  * per key: clearCache, so pinned kernels are billed to the key that
  * builds them, and read the counters around the build and the run. The
  * listener bus is asynchronous, so every read first drains it; a bus
  * that does not drain throws instead of shifting events into the next
  * phase.
  *
  * Job counts are AQE stage counts, a function of data size and shuffle
  * partitions: compare numbers only at the same config.
  *
  * {{{ sbt "runMain graft.KeyProbe <sfDir> [key1,key2,...]" }}}
  *
  * prints one `TIMEKEY` line per key (all keys when none are named) after
  * one warm and three measured passes; `tools/benchledger.py --timekeys`
  * reads its `med=` field.
  */
object KeyProbe {
  /** One key's measured pass: jobs and shuffle records written while its
    * DataFrame is built and while it runs, and each phase's wall time.
    */
  final case class Row(key: String, buildJobs: Long, runJobs: Long,
      buildShuffle: Long, runShuffle: Long, buildS: Double, runS: Double)

  /** Jobs started and shuffle records written since it was added. */
  final class Counter extends SparkListener {
    val jobs = new AtomicLong
    val records = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
  }

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def warm(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    keys.foreach { k => sink(SparkEntry.queries(k)(spark, dir)); spark.catalog.clearCache() }
  }

  private def measure(spark: SparkSession, dir: String, keys: Seq[String]): Seq[Row] = {
    val c = new Counter
    def drained(): (Long, Long) = {
      GraftSqlBridge.drainListenerBus(spark)
      (c.jobs.get, c.records.get)
    }
    spark.sparkContext.addSparkListener(c)
    try keys.map { k =>
      spark.catalog.clearCache()
      val (j0, w0) = drained()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, dir)
      val t1 = System.nanoTime()
      val (j1, w1) = drained()
      val t2 = System.nanoTime()
      sink(df)
      val t3 = System.nanoTime()
      val (j2, w2) = drained()
      Row(k, j1 - j0, j2 - j1, w1 - w0, w2 - w1, (t1 - t0) / 1e9, (t3 - t2) / 1e9)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** One warm pass over `keys`, then one measured pass, in `keys` order. */
  def pass(spark: SparkSession, dir: String, keys: Seq[String]): Seq[Row] = {
    warm(spark, dir, keys)
    measure(spark, dir, keys)
  }

  /** `TIMEKEY <key> med=<s> runs=<a,b,...> build_jobs=...` for one key's
    * measured runs: `med` is the median build+run wall, the counts are
    * the first run's.
    */
  def timekey(runs: Seq[Row]): String = {
    val walls = runs.map(r => r.buildS + r.runS)
    val r = runs.head
    f"TIMEKEY ${r.key}%-24s med=${walls.sorted.apply(walls.size / 2)}%.2f " +
      s"runs=${walls.map(t => f"$t%.2f").mkString(",")} " +
      s"build_jobs=${r.buildJobs} run_jobs=${r.runJobs} " +
      s"build_shuffle=${r.buildShuffle} run_shuffle=${r.runShuffle}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = Verify.session()
    warm(spark, sfDir, keys)
    val passes = Seq.fill(3)(measure(spark, sfDir, keys))
    keys.indices.foreach(i => println(timekey(passes.map(_(i)))))
    spark.stop()
  }
}
