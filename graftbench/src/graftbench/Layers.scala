package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, over its traced warm passes (per
  * pass), plus set-up builds and the kernel microbench. */
final case class Layers(metrics: Seq[(String, Double, String)], detail: Map[String, Any])

object Layers {
  /** Every set-up build of every workload; absent builds report 0. */
  val Builds = Seq("bm_load", "bm_materialize", "trtree")
  val KernelNames = Seq("baseline", "mob_span", "mob_point", "mob_distance", "f32_dot",
    "sq8_dot_cc", "vec_probe_cells", "topk_ordered", "shingle_minhash", "simhash64")
  private val StreamPhases = Seq("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms",
    "queryPlanning" -> "query_planning_ms", "getBatch" -> "get_batch_ms")

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  def compute(t: Trace, warm: Seq[Main.PassStat], samples: Seq[Main.Sample],
              builds: Map[String, Double], kernels: Seq[(String, Double)]): Layers = {
    val tracedPasses = warm.filter(_.traced)
    val n = tracedPasses.size.max(1).toDouble
    val passIds = tracedPasses.map(_.idx).toSet
    val qs = samples.filter(s => passIds(s.pass))
    val groups = qs.map(_.group).toSet
    val spans = t.spans.asScala.toSeq
    val allQueries = spans.filter(_.kind == "query")
    val resolve = t.resolver()
    def at(time: Long): String = resolve("", time)
    val jobs = spans.filter(_.kind == "job").map(j => j.copy(group = resolve(j.group, j.start)))
      .filter(j => groups(j.group))
    val jobsBy = jobs.groupBy(_.group)
    val allStages = t.stages.asScala.toSeq.map(s => s.copy(group = resolve(s.group, s.start)))
    val stages = allStages.filter(s => groups(s.group))
    val stagesBy = stages.groupBy(_.group)
    val querySpans = allQueries.filter(s => groups(s.group))

    // driver: query wall minus the union of its job spans; jobs: job span
    // minus the union of its stages (scheduling); stages: executor side
    val perQuery = querySpans.map { q =>
      val jobIv = jobsBy.getOrElse(q.group, Nil).map(j => (j.start, j.end))
      val jobCover = Intervals.covered(q.start, q.end, jobIv)
      val stageCover = Intervals.covered(q.start, q.end,
        stagesBy.getOrElse(q.group, Nil).map(s => (s.start, s.end)))
      (q, q.end - q.start, jobCover, stageCover)
    }
    val wallMs = perQuery.map(_._2).sum.toDouble
    val driverOnlyMs = perQuery.map(p => p._2 - p._3).sum.toDouble
    val jobSelfMs = perQuery.map(p => p._3 - p._4).sum.toDouble
    val stageMs = perQuery.map(_._4).sum.toDouble
    val phases = spans.filter(s => s.kind == "phase" && groups(at(s.start)))
    def phaseMs(p: String) = phases.filter(_.name == p).map(s => s.end - s.start).sum / n

    val taskMs = stages.flatMap(_.taskMs).map(_.toDouble)
    val costliest = if (stages.isEmpty) None else Some(stages.maxBy(_.runMs))
    val skew = costliest.map { s =>
      val p50 = pct(s.taskMs.map(_.toDouble).toSeq, 50).max(1.0)
      s.taskMs.maxOption.getOrElse(0L) / p50
    }.getOrElse(0.0)
    val rowsOut = qs.flatMap(_.result).map(_.rows).sum.toDouble
    val mb = 1048576.0

    val scans = t.scans.asScala.toSeq.filter(s => groups(at(s.time)))
    val boxRows = qs.filter(_.op.startsWith("box_")).flatMap(_.result).map(_.rows).sum.toDouble
    val filesTotal = scans.map(_.layoutFiles).sum.toDouble

    val trig = t.triggers.asScala.toSeq.filter(s => groups(at(s.start)))
    val trigMs = trig.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val (trigTailPct, trigTail) = Main.tail(trigMs)

    val setupStages = allStages.filter(_.group.startsWith("setup:"))
    val layoutFiles = Option(new java.io.File("target").listFiles()).getOrElse(Array.empty)
      .toSeq.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty).toSeq)
      .count(f => f.getName.endsWith(".parquet"))

    val untraced = warm.filterNot(_.traced).map(_.wallS)
    val tracedWall = tracedPasses.map(_.wallS)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else pct(xs, 50)
    val overheadPct =
      if (untraced.isEmpty || tracedWall.isEmpty) 0.0
      else (med(tracedWall) / med(untraced) - 1) * 100

    val k = kernels.toMap
    val m = mutable.ArrayBuffer[(String, Double, String)](
      ("driver.analysis_ms", phaseMs("analysis"), "ms"),
      ("driver.optimization_ms", phaseMs("optimization"), "ms"),
      ("driver.planning_ms", phaseMs("planning"), "ms"),
      ("driver.only_s", driverOnlyMs / 1000 / n, "s"),
      ("driver.jobs", jobs.size / n, "count"),
      ("driver.jit_ms", tracedPasses.map(_.jitMs).sum / n, "ms"),
      ("driver.gc_ms", tracedPasses.map(_.gcMs).sum / n, "ms"),
      ("operators.executor_cpu_s", stages.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("operators.executor_run_s", stages.map(_.runMs).sum / 1000.0 / n, "s"),
      ("operators.stages", stages.size / n, "count"),
      ("operators.tasks", stages.map(_.tasks).sum / n, "count"),
      ("operators.shuffle_write_mb", stages.map(_.shuffleWrite).sum / mb / n, "MB"),
      ("operators.shuffle_read_mb", stages.map(_.shuffleRead).sum / mb / n, "MB"),
      ("operators.spill_mb", stages.map(_.spill).sum / mb / n, "MB"),
      ("operators.task_p50_ms", pct(taskMs, 50), "ms"),
      ("operators.task_max_ms", if (taskMs.isEmpty) 0.0 else taskMs.max, "ms"),
      ("operators.skew", skew, "ratio"),
      ("operators.peak_exec_mem_mb",
        if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max / mb, "MB"),
      ("operators.rows_in_per_row_out",
        if (rowsOut == 0) 0.0 else stages.map(_.recordsIn).sum / rowsOut, "ratio")) ++
      KernelNames.map(kn => (s"functions.${kn}_ns_per_row", k.getOrElse(kn, 0.0), "ns")) ++
      Builds.map(b => (s"load.${b}_s", builds.getOrElse(b, 0.0), "s")) ++
      Seq(("load.bytes_written_mb", setupStages.map(_.bytesOut).sum / mb, "MB"),
        ("load.files_written", layoutFiles.toDouble, "count"),
        ("index.files_read_ratio",
          if (filesTotal == 0) 0.0 else scans.map(_.filesRead).sum / filesTotal, "ratio"),
        ("index.rows_scanned_per_row",
          if (boxRows == 0) 0.0 else scans.map(_.rowsOut).sum / boxRows, "ratio")) ++
      StreamPhases.map { case (key, mname) =>
        (s"streaming.$mname", trig.map(_.durations.getOrElse(key, 0L)).sum / n, "ms")
      } ++
      Seq(("streaming.triggers", trig.size / n, "count"),
        ("streaming.trigger_p50_ms", pct(trigMs, 50), "ms"),
        ("streaming.trigger_tail_ms", trigTail, "ms"),
        ("streaming.rows_per_s",
          if (trigMs.sum == 0) 0.0 else trig.map(_.rows).sum / (trigMs.sum / 1000), "1/s"),
        ("streaming.state_rows", if (trig.isEmpty) 0.0 else trig.map(_.stateRows).max.toDouble,
          "count"),
        ("streaming.state_mem_mb",
          if (trig.isEmpty) 0.0 else trig.map(_.stateMem).max / mb, "MB"),
        ("trace.overhead_pct", overheadPct, "%"))

    val detail = Map(
      "traced_passes" -> tracedPasses.map(_.idx),
      "self_ms_per_pass" -> Map("driver" -> driverOnlyMs / n,
        "job_scheduling" -> jobSelfMs / n, "stages" -> stageMs / n),
      "query_wall_ms_per_pass" -> wallMs / n,
      "per_query" -> perQuery.map { case (q, w, j, s) =>
        Map("group" -> q.group, "wall_ms" -> w, "jobs_ms" -> j, "driver_only_ms" -> (w - j),
          "stages_ms" -> s, "jobs" -> jobsBy.getOrElse(q.group, Nil).size)
      },
      "trigger_tail_percentile" -> trigTailPct,
      "trigger_samples" -> trigMs.size,
      "tracing_overhead" -> Map("traced_pass_s" -> tracedWall, "untraced_pass_s" -> untraced,
        "overhead_pct" -> overheadPct))
    Layers(m.toSeq, detail)
  }
}
