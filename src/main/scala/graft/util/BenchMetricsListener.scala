package graft.util

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-query shuffle/spill/memory metrics for the bench artifact, so a
  * plan regression (new shuffle, spill onset, memory blow-up) is
  * visible quantitatively even when shared-tenant wall-clock noise
  * hides it, plus one row per stage of the query — the job/stage/task
  * forensics (stragglers, duplicate map stages, late launches) that
  * per-query totals hide — and one row per trigger of each named
  * streaming query. Statistics are collected at execution boundaries,
  * as in Shark's partial DAG execution.
  *
  * Attribution: Bench wraps each timed run in a Spark job group named
  * after the query; `onJobStart` maps the job's stage ids to that
  * group and `onTaskEnd` accumulates task metrics under it. A stream's
  * micro-batch jobs run under the stream's run id as job group instead
  * (the stream thread sets it), so they count toward the group named
  * like the stream query: the streaming events Spark posts on the same
  * listener bus carry the run id's query name and each trigger's
  * progress. Task-end events can trail the blocking `count()` only by
  * listener-bus delivery, and Bench re-`reset`s a query just before
  * re-running it (so the recorded values are the LAST pass's, by which
  * time the prior pass's events have long drained) and sleeps briefly
  * before the final snapshot. Metrics are per-pass totals: shuffle bytes
  * written/read, disk/memory bytes spilled, and the max per-task peak
  * execution memory. */
final class BenchMetricsListener extends SparkListener {
  import BenchMetricsListener.Owner
  private val stageOwner = new ConcurrentHashMap[Int, Owner]()
  private val runToGroup = new ConcurrentHashMap[String, String]()
  private val byGroup = new ConcurrentHashMap[String, Array[AtomicLong]]()
  private val stagesByGroup =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  private val triggersByGroup =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  // per-stage task durations (ms) and earliest launch / latest finish
  // (epoch ms): separates "tasks ran slowly" from "tasks were launched
  // late"
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val launch0 = new ConcurrentHashMap[Int, Long]()
  private val finishN = new ConcurrentHashMap[Int, Long]()

  /** Drop any previously-recorded pass for `name` (called right before
    * each timed run, so the surviving numbers are the last pass's). */
  def reset(name: String): Unit = {
    byGroup.remove(name)
    stagesByGroup.remove(name)
    triggersByGroup.remove(name)
  }

  private def acc(g: String): Array[AtomicLong] =
    byGroup.computeIfAbsent(g, _ => Array.fill(7)(new AtomicLong))

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    prop("spark.jobGroup.id").map(g => runToGroup.getOrDefault(g, g)).foreach { g =>
      val owner =
        Owner(g, js.jobId, prop("spark.sql.execution.id").fold(-1L)(_.toLong))
      js.stageInfos.foreach(si => stageOwner.put(si.stageId, owner))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case qs: QueryStartedEvent if qs.name != null =>
      runToGroup.put(qs.runId.toString, qs.name)
    case qp: QueryProgressEvent if qp.progress.name != null =>
      triggersByGroup
        .computeIfAbsent(qp.progress.name, _ => new ConcurrentLinkedQueue())
        .add(triggerJson(qp.progress))
    case _ => ()
  }

  /** One trigger: its run and batch, `durationMs` per phase, input rows,
    * and the state operators' total rows, memory, rows updated and
    * RocksDB SST bytes (-1: no RocksDB store ran the trigger, the
    * evidence that the provider actually engaged). */
  private def triggerJson(p: StreamingQueryProgress): String = {
    val ops = p.stateOperators.toSeq
    val sst = ops.flatMap(o =>
      Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.longValue))
    val durations = p.durationMs.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
    s"""{"run_id":"${p.runId}","batch":${p.batchId},""" +
      s""""duration_ms":$durations,"input_rows":${p.numInputRows},""" +
      s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
      s""""state_mem_bytes":${ops.map(_.memoryUsedBytes).sum},""" +
      s""""rows_updated":${ops.map(_.numRowsUpdated).sum},""" +
      s""""rocksdb_sst_bytes":${if (sst.isEmpty) -1L else sst.sum}}"""
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val owner = stageOwner.get(te.stageId)
    val m = te.taskMetrics
    if (owner != null && m != null) {
      val a = acc(owner.group)
      a(0).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a(1).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a(2).addAndGet(m.diskBytesSpilled)
      a(3).addAndGet(m.memoryBytesSpilled)
      a(4).getAndAccumulate(m.peakExecutionMemory, math.max)
      // executor CPU (ns) + JVM GC (ms) summed over tasks: the
      // drift-immune cross-round comparator (r13 verdict #4) — on a
      // shared-tenant box, wall-clock swings with the neighbors while
      // CPU time tracks the actual work, so a row whose wall moved but
      // whose cpu_sec is flat is drift, not regression
      a(5).addAndGet(m.executorCpuTime)
      a(6).addAndGet(m.jvmGCTime)
    }
    val ti = te.taskInfo
    if (owner != null && ti != null) {
      taskMs.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue())
        .add(ti.duration)
      launch0.merge(te.stageId, ti.launchTime, math.min)
      finishN.merge(te.stageId, ti.finishTime, math.max)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val owner = stageOwner.get(si.stageId)
    val tm = si.taskMetrics
    if (owner != null && tm != null) {
      val ds = Option(taskMs.remove(si.stageId))
        .map(_.asScala.toArray.sorted).getOrElse(Array.empty[Long])
      def pct(p: Int): Long = if (ds.isEmpty) 0L else ds(ds.length * p / 100)
      val span = finishN.getOrDefault(si.stageId, 0L) -
        launch0.getOrDefault(si.stageId, 0L)
      finishN.remove(si.stageId); launch0.remove(si.stageId)
      stagesByGroup.computeIfAbsent(owner.group, _ => new ConcurrentLinkedQueue())
        .add(s"""{"id":${si.stageId},"job":${owner.job},""" +
          s""""sql_exec":${owner.sqlExec},"name":${Json.quote(si.name)},""" +
          s""""tasks":${si.numTasks},""" +
          s""""cpu_sec":${math.rint(tm.executorCpuTime / 1e6) / 1e3},""" +
          s""""run_sec":${tm.executorRunTime / 1e3},""" +
          s""""shuffle_read":${tm.shuffleReadMetrics.totalBytesRead},""" +
          s""""shuffle_write":${tm.shuffleWriteMetrics.bytesWritten},""" +
          s""""spill_disk":${tm.diskBytesSpilled},""" +
          s""""spill_mem":${tm.memoryBytesSpilled},""" +
          s""""task_p50_ms":${pct(50)},"task_p90_ms":${pct(90)},""" +
          s""""task_max_ms":${ds.lastOption.getOrElse(0L)},""" +
          s""""span_ms":${math.max(span, 0L)}}""")
    }
  }

  /** JSON object string
    * `{"<q>":{"shuffle_write":..,"stages":[..],"triggers":[..]},...}` over
    * all recorded groups (bytes; `peak_task_mem` is max per-task peak
    * execution memory; one `stages` row per completed stage, with its job
    * and SQL execution id, in completion order; one `triggers` row per
    * progress event of the stream named like the group, in trigger
    * order). */
  def snapshotJson: String =
    (byGroup.keySet.asScala ++ triggersByGroup.keySet.asScala).toSeq.sorted.map { g =>
      val a = Option(byGroup.get(g)).getOrElse(Array.fill(7)(new AtomicLong))
      def rows(m: ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]) =
        Option(m.get(g)).map(_.asScala.toSeq).getOrElse(Nil).mkString("[", ",", "]")
      s"""${Json.quote(g)}:{"shuffle_write":${a(0).get},"shuffle_read":${a(1).get},""" +
        s""""spill_disk":${a(2).get},"spill_mem":${a(3).get},""" +
        s""""peak_task_mem":${a(4).get},""" +
        s""""cpu_sec":${math.rint(a(5).get / 1e6) / 1e3},""" +
        s""""gc_sec":${a(6).get / 1e3.toDouble},"stages":${rows(stagesByGroup)},""" +
        s""""triggers":${rows(triggersByGroup)}}"""
    }.mkString("{", ",", "}")
}

private object BenchMetricsListener {
  /** The group, job and SQL execution (-1: none) a stage ran for. */
  final case class Owner(group: String, job: Int, sqlExec: Long)
}
