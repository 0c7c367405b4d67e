package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `group` is the Spark job group of the query the
  * span belongs to ("" outside a query); times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      group: String, start: Long, end: Long)

/** Per-stage task statistics, kept for the layer roll-up. */
final case class StageStat(group: String, start: Long, end: Long, tasks: Int,
                           cpuNs: Long, runMs: Long,
                           shuffleWrite: Long, shuffleRead: Long,
                           spill: Long, peakMem: Long, recordsIn: Long,
                           bytesOut: Long, taskMs: Array[Long])

/** Scan-node counters of one executed plan: files and rows the parquet
  * scans of a layout directory produced (the TRTREE pruning evidence). */
final case class ScanStat(time: Long, filesRead: Long, rowsOut: Long, layoutFiles: Long)

/** Streaming progress of one trigger. */
final case class TriggerStat(start: Long, durations: Map[String, Long],
                             rows: Long, stateRows: Long, stateMem: Long)

/** In-memory span recorder fed from Spark's public listener interfaces:
  * a [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for the driver's analysis, optimization
  * and planning phases, and a [[StreamingQueryListener]] for trigger
  * progress. Query and pass spans are opened by the harness itself.
  * Listener events arrive asynchronously, so records that carry no job
  * group of the harness (driver phases, stream triggers and the jobs a
  * stream runs under its own group) are attributed to a query later, by
  * time ([[resolver]]). Nothing is written until [[writeSpans]]. */
final class Trace(layoutRoot: java.io.File) {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[StageStat]()
  val scans = new ConcurrentLinkedQueue[ScanStat]()
  val triggers = new ConcurrentLinkedQueue[TriggerStat]()

  def nextId(): Long = seq.incrementAndGet()
  def add(kind: String, name: String, parent: Long, group: String,
          start: Long, end: Long, id: Long = nextId()): Long = {
    spans.add(Span(id, parent, kind, name, group, start, end))
    id
  }

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      jobStart.put(e.jobId, (e.time, g))
      e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, g) =>
        add("job", s"job ${e.jobId}", 0L, g, t0, e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new ConcurrentLinkedQueue[Long]()).add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val g = Option(stageGroup.get(si.stageId)).getOrElse("")
      val start = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(start)
      val ts = Option(taskMs.remove((si.stageId, si.attemptNumber())))
        .map(_.asScala.toArray).getOrElse(Array.empty[Long])
      if (m != null) stages.add(StageStat(g, start, end, si.numTasks, m.executorCpuTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, ts))
      add("stage", s"stage ${si.stageId}.${si.attemptNumber()}", 0L, g, start, end)
    }
  }

  /** Driver phases of every executed [[QueryExecution]]. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      phases.foreach { case (phase, s) =>
        add("phase", phase, 0L, "", s.startTimeMs, s.endTimeMs)
      }
      val t = if (phases.isEmpty) System.currentTimeMillis()
              else phases.values.map(_.endTimeMs).max
      recordScans(t, qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    private def recordScans(t: Long, plan: SparkPlan): Unit =
      collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
        val root = s.relation.location.rootPaths.map(_.toUri.getPath)
        // only scans of a layout the harness built (TRTREE dirs) count
        root.find(_.startsWith(layoutRoot.getAbsolutePath + "/trtree_")).foreach { dir =>
          val total = Option(new java.io.File(dir).listFiles())
            .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
          def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          scans.add(ScanStat(t, metric("numFiles"), metric("numOutputRows"), total))
        }
      }
  }

  /** The analysis phase of a DataFrame the harness built (analysis runs
    * when the DataFrame is created, before any listener sees it). */
  def recordAnalysis(qe: QueryExecution): Unit =
    qe.tracker.phases.get("analysis").foreach { s =>
      add("phase", "analysis", 0L, "", s.startTimeMs, s.endTimeMs)
    }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      triggers.add(TriggerStat(start, d, p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      add("trigger", s"${p.name} batch ${p.batchId}", 0L, "", start,
        start + d.getOrElse("triggerExecution", 0L))
    }
  }

  private def queries: Seq[Span] = spans.asScala.toSeq.filter(_.kind == "query")

  /** The query a record belongs to: its own job group when the harness set
    * it, else the query open when the record started (closed loop of one
    * client). "" outside any query. */
  def resolver(): (String, Long) => String = {
    val qs = queries
    val harness = qs.map(_.group).toSet
    (g, time) =>
      if (harness(g) || g.startsWith("setup:")) g
      else qs.find(q => q.start <= time && time <= q.end).map(_.group).getOrElse("")
  }

  /** All spans, one JSON object per line; a Spark span's parent is the
    * query span it belongs to. */
  def writeSpans(f: java.io.File): Unit = {
    val resolve = resolver()
    val queryId = queries.map(q => q.group -> q.id).toMap
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(s => (s.start, s.id)).foreach { s =>
      val g = if (s.kind == "query" || s.kind == "pass") s.group else resolve(s.group, s.start)
      val parent = if (s.parent != 0L) s.parent else queryId.getOrElse(g, 0L)
      w.println(Json.obj("id" -> s.id, "parent" -> parent, "kind" -> s.kind,
        "name" -> s.name, "group" -> g, "start_ms" -> s.start, "end_ms" -> s.end))
    } finally w.close()
  }
}

/** Interval arithmetic for self times: the part of [lo, hi) that a set of
  * child intervals covers. */
object Intervals {
  def covered(lo: Long, hi: Long, kids: Seq[(Long, Long)]): Long = {
    val clipped = kids.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Minimal JSON writer (numbers, strings, nested maps and sequences). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  /** Text that is already JSON. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(value).getOrElse("null")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
