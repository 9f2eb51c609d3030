package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

import graft.SparkEntry

/** Closed-loop runner for one workload: one client thread runs the
  * workload's keys back to back in one session, each through the public
  * entry `SparkEntry.queries(k)(spark, dir)` and a noop sink.
  *
  * Usage (run.py builds the classpath and parses the result):
  * {{{
  * perfbench.Main <keys,comma,separated> <seed> <seconds> <minExecutions>
  *   <trace 0|1> <cores> <setups> <sfDir> <warmDir> <localDir> <checkDir> <outDir>
  * }}}
  * Writes `<outDir>/report.json` (run facts, setup times, per-key
  * executions, check results) and `<outDir>/spans.jsonl`. */
object Main {
  type Query = (SparkSession, String) => DataFrame

  final case class Args(keys: Seq[String], seed: Long, seconds: Double,
      minExecutions: Int, trace: Boolean, cores: Int, setups: Int, sfDir: String,
      warmDir: String, localDir: String, checkDir: String, outDir: String)

  def main(argv: Array[String]): Unit = {
    val Array(keys, seed, seconds, minExecutions, trace, cores, setups, sfDir,
      warmDir, localDir, checkDir, outDir) = argv
    run(Args(keys.split(",").toSeq, seed.toLong, seconds.toDouble, minExecutions.toInt,
      trace == "1", cores.toInt, setups.toInt, sfDir, warmDir, localDir, checkDir,
      outDir))
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs(): Long = CodeGenerator.compileTime

  /** The only confs the benchmark sets; every other conf keeps its default
    * and is recorded in the report. `spark.local.dir` keeps shuffle and
    * spill files inside the run's own directory. */
  private def session(a: Args): SparkSession = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[${a.cores}]")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", a.localDir)
    .getOrCreate()

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The untimed warm-up: one real pass of every key on the tiny warm dir,
    * so the timed passes reuse its generated classes where the codegen
    * cache still holds them. A key that fails here fails again in the timed
    * passes, where it counts. */
  private def warm(spark: SparkSession, a: Args, fns: Map[String, Query]): Unit = {
    a.keys.foreach { k =>
      try noop(fns(k)(spark, a.warmDir))
      catch { case e: Throwable => System.err.println(s"[perfbench] warm $k FAILED: ${e.getMessage}") }
    }
    spark.catalog.clearCache()
  }

  /** Runs one key: a key span with a build child (inside `queries(k)`) and
    * a sink child (the noop write). Jobs name both through local props. */
  private def runKey(spark: SparkSession, pass: Span, k: String, fn: Query,
      dir: String): Span = {
    val sc = spark.sparkContext
    val key = Spans.open("key", k, pass.id)
    val build = Spans.open("build", k, key.id, startMs = key.startMs)
    sc.setLocalProperty(Props.Key, key.id.toString)
    sc.setLocalProperty(Props.Parent, build.id.toString)
    val (c0, ns0) = (compiles(), compileNs())
    var sink: Span = null
    try {
      val df = fn(spark, dir)
      build.endMs = Spans.nowMs()
      // the returned frame is analysed eagerly inside queries(k), by a
      // query execution no listener sees; the write re-uses that analysis
      build.attrs("analysis_ms") =
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      sink = Spans.open("sink", k, key.id, startMs = build.endMs)
      sc.setLocalProperty(Props.Parent, sink.id.toString)
      noop(df)
      key.attrs("ok") = true
    } catch { case e: Throwable =>
      key.attrs ++= Seq("ok" -> false, "error" -> String.valueOf(e.getMessage).take(500))
      System.err.println(s"[perfbench] $k FAILED: ${e.getMessage}")
    }
    key.endMs = Spans.nowMs()
    if (sink == null) build.endMs = key.endMs else sink.endMs = key.endMs
    key.attrs ++= Seq("compiles" -> (compiles() - c0),
      "compile_ms" -> (compileNs() - ns0) / 1e6)
    sc.setLocalProperty(Props.Key, null)
    sc.setLocalProperty(Props.Parent, null)
    key
  }

  /** Order-independent content digest: row count and the exact sum of a
    * per-row hash over every column. */
  private def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)")).cast("string")).head()
    (r.getLong(0), String.valueOf(r.getString(1)))
  }

  /** Output check, outside the timed region. Oracled keys are written as
    * `graft.Verify` writes them (one parquet file per key, plus the oracle
    * SQL) for `tools/compare.py`; un-oracled keys must reproduce the row
    * count and digest of their first check execution on a second one. */
  private def check(spark: SparkSession, a: Args, fns: Map[String, Query]): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql
    val results = a.keys.map { k =>
      val r: Any = try {
        if (oracles.contains(k)) {
          fns(k)(spark, a.sfDir).coalesce(1).write.mode("overwrite").parquet(s"${a.checkDir}/$k")
          "written"
        } else {
          val first = digest(fns(k)(spark, a.sfDir))
          spark.catalog.clearCache()
          val again = digest(fns(k)(spark, a.sfDir))
          if (first._1 > 0 && first == again) "pass"
          else s"digest mismatch: first (rows, hash) = $first, again = $again"
        }
      } catch { case e: Throwable => s"error: ${e.getMessage}".take(500) }
      spark.catalog.clearCache()
      k -> r
    }
    Files.writeString(Paths.get(s"${a.checkDir}/oracle_sql.json"),
      Json.value(oracles.view.filterKeys(a.keys.toSet).toMap))
    results.toMap
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(a: Args): Unit = {
    val all = SparkEntry.queries
    val missing = a.keys.filterNot(all.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val fns = a.keys.map(k => k -> all(k)).toMap
    new java.io.File(a.checkDir).mkdirs()
    new java.io.File(a.outDir).mkdirs()

    // set-up: session build to the end of the warm pass, repeated so the
    // report can give a median; the last session is the one timed
    val setups = mutable.ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    for (i <- 1 to a.setups) {
      if (spark != null) spark.stop()
      val s = Spans.open("setup", s"setup $i")
      val c0 = compiles()
      spark = session(a)
      spark.sparkContext.setLogLevel("WARN")
      warm(spark, a, fns)
      s.endMs = Spans.nowMs()
      setups += Map("s" -> (s.endMs - s.startMs) / 1e3, "compiles" -> (compiles() - c0))
    }

    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }

    // timed region: whole passes until `seconds` have elapsed and at least
    // `minExecutions` keys have run; the seed sets the key order of every pass
    val rng = new scala.util.Random(a.seed)
    val keySpans = mutable.ArrayBuffer[Span]()
    val t0 = Spans.nowMs()
    var p = 0
    while (keySpans.size < a.minExecutions || Spans.nowMs() - t0 < a.seconds * 1000) {
      val pass = Spans.open("pass", s"pass $p")
      rng.shuffle(a.keys).foreach { k =>
        keySpans += runKey(spark, pass, k, fns(k), a.sfDir)
        spark.catalog.clearCache()
      }
      pass.endMs = Spans.nowMs()
      p += 1
    }
    val peakRss = vmHwmMb()

    val checkSpan = Spans.open("check", "check")
    spark.sparkContext.setLocalProperty(Props.Parent, checkSpan.id.toString)
    val checks = check(spark, a, fns)
    checkSpan.endMs = Spans.nowMs()

    val sqlConf = SQLConf.get.getAllDefinedConfs.map(c => c._1 -> c._2).toMap
    val confs = Map(
      "set" -> spark.sparkContext.getConf.getAll.toMap,
      "sql_defaults_and_values" -> sqlConf,
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key ->
        spark.sparkContext.getConf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
          StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValueString))
    val sparkVersion = spark.version
    spark.stop() // drains the listener bus: every traced span is now closed

    tracer.foreach(t => keySpans.foreach(k => k.attrs("cached_peak_bytes") = t.cachedPeak(k.id)))
    val report = Map(
      "spark_version" -> sparkVersion,
      "java_version" -> System.getProperty("java.version"),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).toSeq,
      "confs" -> confs,
      "setups" -> setups.toSeq,
      "peak_rss_mb" -> peakRss,
      "checks" -> checks)
    Files.writeString(Paths.get(s"${a.outDir}/report.json"), Json.value(report))
    Files.writeString(Paths.get(s"${a.outDir}/spans.jsonl"),
      Spans.snapshot.map(_.json).mkString("", "\n", "\n"))
  }
}
