package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: an interval on the run's timeline with the span that caused
  * it. Times are wall-clock milliseconds at nanosecond resolution, so the
  * benchmark loop's own spans and Spark's event times share one axis. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val startMs: Double) {
  var endMs: Double = startMs
  val attrs = mutable.LinkedHashMap[String, Any]()
  def json: String = Json.value(mutable.LinkedHashMap[String, Any](
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
}

/** In-memory span store; nothing is written until the run ends. */
object Spans {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong()
  private val all = mutable.ArrayBuffer[Span]()

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  private def newId(): Long = ids.incrementAndGet()
  def open(kind: String, name: String, parent: Long = 0L,
      startMs: Double = nowMs()): Span = {
    val s = new Span(newId(), parent, kind, name, startMs)
    all.synchronized(all += s)
    s
  }
  def snapshot: Seq[Span] = all.synchronized(all.toList)
}

/** Local properties the benchmark loop sets before each phase of a key, so
  * every job it fires (including jobs Spark submits from broadcast
  * threads, which inherit them) names its key span and phase span. */
object Props {
  val Key = "perfbench.key"
  val Parent = "perfbench.parent"
}

/** Benchmark-owned tracer: a `SparkListener` for jobs, stages, tasks and
  * cached blocks, plus a `QueryExecutionListener` for planner phases.
  * Spark delivers these events asynchronously; `SparkContext.stop()`
  * drains the bus, so the spans are complete once the session stops. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.Map[Int, Span]()
  // SQL execution id -> (module of its call site, parent execution id)
  private val executions = mutable.Map[Long, (String, Long)]()
  private val stageJob = mutable.Map[Int, Long]()
  private val taskMs = mutable.Map[(Int, Int), Long]().withDefaultValue(0L)
  private val taskCount = mutable.Map[(Int, Int), Int]().withDefaultValue(0)
  // cached RDD blocks are charged to the key span that first cached them
  private var currentKey = 0L
  private val rddOwner = mutable.Map[Int, Long]()
  private val blockBytes = mutable.Map[String, Long]()
  private val ownerBytes = mutable.Map[Long, Long]().withDefaultValue(0L)
  private val ownerPeak = mutable.Map[Long, Long]().withDefaultValue(0L)

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) =
        (Tracer.moduleOf(x.details), x.rootExecutionId.getOrElse(x.executionId))
    }
    case _ =>
  }

  /** A job's module is its own call site's; jobs Spark submits from its
    * own threads (adaptive query stages, broadcasts) have no user frame,
    * so they take the call site of the SQL execution they serve. */
  private def module(callSite: String, execution: Long): String = {
    var m = Tracer.moduleOf(callSite)
    var x = execution
    while (m == "spark" && executions.contains(x)) {
      val (em, root) = executions(x)
      m = em
      x = if (root == x) -1L else root
    }
    m
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = prop(e.properties, Props.Key)
    // the result stage is created by this job, so it carries its call site
    val callSite = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    val s = Spans.open("job", s"job ${e.jobId}", prop(e.properties, Props.Parent),
      startMs = e.time.toDouble)
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    s.attrs ++= Seq("key" -> key, "module" -> module(callSite, execution.getOrElse(-1L)))
    jobs(e.jobId) = s
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, s.id))
    if (key != 0L) currentKey = key
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { s =>
      s.endMs = e.time.toDouble
      s.attrs("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = (e.stageId, e.stageAttemptId)
    taskMs(k) += e.taskInfo.duration
    taskCount(k) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val k = (i.stageId, i.attemptNumber())
    val s = Spans.open("stage", s"stage ${i.stageId}.${i.attemptNumber()}",
      stageJob.getOrElse(i.stageId, 0L),
      startMs = i.submissionTime.getOrElse(0L).toDouble)
    s.endMs = i.completionTime.getOrElse(0L).toDouble
    s.attrs ++= Seq("tasks" -> taskCount.remove(k).getOrElse(0),
      "task_ms" -> taskMs.remove(k).getOrElse(0L))
    Option(i.taskMetrics).foreach { m =>
      s.attrs ++= Seq(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> m.diskBytesSpilled,
        "input_rows" -> m.inputMetrics.recordsRead,
        "input_bytes" -> m.inputMetrics.bytesRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { rdd =>
      val owner = rddOwner.getOrElseUpdate(rdd.rddId, currentKey)
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val prev = blockBytes.getOrElse(b.blockId.name, 0L)
      if (bytes == 0L) blockBytes.remove(b.blockId.name)
      else blockBytes(b.blockId.name) = bytes
      val total = ownerBytes(owner) + bytes - prev
      ownerBytes(owner) = total
      ownerPeak(owner) = math.max(ownerPeak(owner), total)
    }
  }

  /** Peak bytes of cached RDD blocks each key span owned at one time. */
  def cachedPeak(keySpan: Long): Long = synchronized(ownerPeak(keySpan))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qeSpan(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    qeSpan(funcName, qe, ok = false)

  // A query execution carries no local properties; the analysis step
  // reads its key span from the timeline (the span its phases fall in).
  private def qeSpan(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val s = Spans.open("qe", funcName,
        startMs = phases.values.map(_.startTimeMs).min.toDouble)
      s.endMs = phases.values.map(_.endTimeMs).max.toDouble
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      s.attrs ++= Seq("ok" -> ok, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
    }
  }
}

object Tracer {
  /** The repo module a job's call site belongs to: the innermost `graft.`
    * frame of the stage's long call site, by its package or object name.
    * Jobs with no graft frame come from the benchmark's own sink ("sink")
    * or from a Spark-owned thread ("spark"). */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => if (callSite.contains("perfbench.")) "sink" else "spark"
      case Some(frame) =>
        frame.split('.')(1).takeWhile(c => c != '$' && c != '(') match {
          case "queries" | "SparkEntry" | "Q" => "queries"
          case "Caching" | "SessionMemo" => "caching"
          case "sources" | "Tables" => "tables"
          case "operators" => "operators"
          case "plans" | "GraftExtensions" => "planner"
          case "functions" => "codegen"
          case other => other
        }
    }
}

/** Minimal JSON writer for the report (the benchmark adds no libraries). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
