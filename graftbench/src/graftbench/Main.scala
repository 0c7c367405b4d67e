package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, as a closed loop of one client:
  * set-up (repeated, median reported), one cold pass, the workload's
  * untimed warm-up passes, then warm passes until `--seconds` have elapsed
  * and at least two have run. Writes the result object to `--result`
  * and a full report (settings, inputs, per-operation samples and errors,
  * layer roll-ups) to `--report`; a traced run also writes its spans to
  * `--spans`. Exits non-zero, without a result, when set-up fails. */
object Main {
  val Cores = 4
  val SetupReps = 3
  private val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Session settings of the repo's batch bench harness, plus local dirs
    * inside the benchmark's working directory. */
  def settings(cwd: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    FallbackKey -> "65536",
    "spark.io.compression.codec" -> "zstd",
    "spark.rdd.compress" -> "true",
    "spark.cleaner.periodicGC.interval" -> "30s",
    "spark.local.dir" -> new File(cwd, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(cwd, "spark-warehouse").getPath)

  /** The bench harness's per-query aggregate threshold: 64k for the
    * k-bounded top-k stream, Spark's default for everything else. */
  def aggThreshold(name: String): String =
    if (name.startsWith("stream_ann")) "65536" else "128"

  final case class Sample(pass: Int, op: String, group: String, wallMs: Double,
                          result: Option[Check.Result], error: Option[String])
  final case class PassStat(idx: Int, traced: Boolean, wallS: Double, cpuS: Double,
                            gcMs: Long, jitMs: Long, heapAfterGcMb: Double)

  class SetupFailed(msg: String, cause: Throwable) extends Exception(msg, cause)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try run(opt) catch {
      case e: SetupFailed =>
        System.err.println(s"[graftbench] set-up failed: ${e.getMessage}")
        Option(e.getCause).foreach(_.printStackTrace())
        3
    }
    System.exit(code)
  }

  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(300)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest integer percentile with at least 10 samples above it, and
    * its value; the maximum when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted.toIndexedSeq; val n = s.size
    (99 to 50 by -1).map(p => (p, math.ceil(p / 100.0 * n).toInt))
      .find { case (_, rank) => n - rank >= 10 }
      .map { case (p, rank) => (p, s(math.max(rank - 1, 0))) }
      .getOrElse((100, if (n == 0) 0.0 else s.last))
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def session(cwd: File): SparkSession = {
    val spark = settings(cwd).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def run(opt: Map[String, String]): Int = {
    val tRun0 = System.nanoTime()
    val wname = opt("workload")
    require(Workloads.names.contains(wname), s"unknown workload $wname")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cwd = new File(".").getCanonicalFile
    val layoutRoot = new File(cwd, "target")
    val cache = new File(opt("cache"))
    val pins = Pins.load(new File(opt("pins")))

    // ---- session start (part of setup_s) ----
    val tS0 = System.nanoTime()
    val spark = session(cwd)
    val sessionS = (System.nanoTime() - tS0) / 1e9
    val sc = spark.sparkContext

    // ---- untimed input generation ----
    val (dir, inputsJson) =
      try Inputs.corpus(spark, cache)
      catch { case NonFatal(e) => throw new SetupFailed("input generation: " + msg(e), e) }
    val w = Workloads(wname, spark, seed, dir)
    val corpusKey = new File(dir).getName

    val trace = if (traced) Some(new Trace(layoutRoot)) else None
    var tracing = false
    def traceOn(on: Boolean): Unit = trace.filter(_ => on != tracing).foreach { t =>
      tracing = on
      if (on) {
        sc.addSparkListener(t.sparkListener)
        spark.listenerManager.register(t.queryListener)
        spark.streams.addListener(t.streamListener)
      } else {
        sc.removeSparkListener(t.sparkListener)
        spark.listenerManager.unregister(t.queryListener)
        spark.streams.removeListener(t.streamListener)
      }
    }
    traceOn(true)

    // ---- set-up, repeated; every repetition starts from no layouts ----
    def clearLayouts(): Unit =
      Option(layoutRoot.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    val buildTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val setupTimes = (1 to (if (traced) 1 else SetupReps)).map { rep =>
      clearLayouts()
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      w.builds.foreach { case (bname, build) =>
        val b0 = System.nanoTime(); val b0ms = System.currentTimeMillis()
        sc.setJobGroup(s"setup:$bname", s"setup:$bname", interruptOnCancel = false)
        try build()
        catch { case NonFatal(e) => throw new SetupFailed(s"$bname: ${msg(e)}", e) }
        finally sc.clearJobGroup()
        trace.foreach(_.add("build", bname, 0L, s"setup:$bname", b0ms, System.currentTimeMillis()))
        buildTimes.getOrElseUpdate(bname, mutable.ArrayBuffer()) += (System.nanoTime() - b0) / 1e9
      }
      (System.nanoTime() - t0) / 1e9
    }
    val layoutsAfterSetup = layoutMarkers(layoutRoot)

    // ---- passes ----
    val samples = mutable.ArrayBuffer[Sample]()
    val reference = mutable.Map[String, Check.Result]()
    def runPass(idx: Int): Unit = {
      val ops = w.pass()
      val passSpan = trace.map(_.nextId()).getOrElse(0L)
      val passStart = System.currentTimeMillis()
      ops.foreach { op =>
        val group = s"p$idx:${op.name}"
        spark.conf.set(FallbackKey, aggThreshold(op.name))
        sc.setJobGroup(group, group, interruptOnCancel = false)
        val qid = trace.map(_.nextId()).getOrElse(0L)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res = try {
          val df = op.build()
          trace.foreach(_.recordAnalysis(df.queryExecution))
          Right(Check.run(df))
        } catch { case NonFatal(e) => Left(msg(e)) }
        val wallMs = (System.nanoTime() - t0) / 1e6
        sc.clearJobGroup()
        trace.foreach(_.add("query", op.name, passSpan, group, startMs,
          System.currentTimeMillis(), qid))
        val built = layoutMarkers(layoutRoot).filterNot(layoutsAfterSetup.contains)
        val err = res.left.toOption.orElse {
          if (built.nonEmpty) Some(s"layout built inside a timed pass: ${built.mkString(", ")}")
          else None
        }.orElse {
          val r = res.toOption.get
          if (w.pinned(op.name)) pins.check(corpusKey, wname, op.name, r)
          else reference.get(op.name).collect {
            case e if e != r => s"result ${r.key} differs from the cold pass ${e.key}"
          }
        }
        res.foreach(r => if (idx == 0) reference.getOrElseUpdate(op.name, r))
        samples += Sample(idx, op.name, group, wallMs, res.toOption, err)
      }
      trace.foreach(_.add("pass", s"pass $idx", 0L, "", passStart, System.currentTimeMillis(),
        passSpan))
    }
    // the first collection lets Spark's cleaner release the pass's
    // broadcasts and shuffles; the second measures what stays live
    def settle(): Unit = { System.gc(); Thread.sleep(200); System.gc() }
    def measuredPass(idx: Int, tracedPass: Boolean): PassStat = {
      traceOn(tracedPass)
      val (c0, g0, j0) = (cpuNs(), gcMs(), jitMs())
      val t0 = System.nanoTime()
      runPass(idx)
      val wallS = (System.nanoTime() - t0) / 1e9
      val st = PassStat(idx, tracedPass, wallS, (cpuNs() - c0) / 1e9, gcMs() - g0,
        jitMs() - j0, 0.0)
      settle()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      st.copy(heapAfterGcMb = heap)
    }

    val cold = measuredPass(0, tracedPass = traced)
    val coldChecks = w.coldChecks(reference.toMap)
    // untimed warm-up passes: their results are checked, their times are
    // not reported
    traceOn(false)
    (1 to w.warmups).foreach { i => runPass(i); settle() }
    val warm = mutable.ArrayBuffer[PassStat]()
    val tWarm0 = System.nanoTime()
    // a traced run measures its passes in the order traced, untraced,
    // untraced, traced (repeated), so the tracing overhead is measured in
    // one process without the warm-up trend favouring either side
    // at least two warm passes, so pass_s is always a median over the same
    // kind of sample (the first warm pass still runs slower than later ones)
    while (warm.size < (if (traced) 4 else 2) ||
           (System.nanoTime() - tWarm0) / 1e9 < seconds) {
      val i = warm.size + 1
      warm += measuredPass(w.warmups + i, tracedPass = traced && i % 4 <= 1)
    }
    traceOn(false)

    val checks = coldChecks ++ w.finalChecks(pins)
    val kernels =
      if (traced) try Right(Kernels.run(spark, dir)) catch { case NonFatal(e) => Left(msg(e)) }
      else Right(Nil)

    // ---- results ----
    val warmSamples = samples.filter(_.pass > w.warmups)
    val okWarm = warmSamples.filter(_.error.isEmpty).map(_.wallMs).toSeq
    val errors = samples.filter(_.error.nonEmpty).map(s => s"p${s.pass} ${s.op}: ${s.error.get}") ++
      checks.collect { case Checked(n, _, Some(e)) => s"check $n: $e" } ++
      kernels.left.toOption.map("kernels: " + _)
    val attempted = samples.size + checks.size + (if (traced) 1 else 0)
    val failed = errors.size
    val (tailPct, tailMs) = tail(okWarm)
    val setupS = sessionS + median(setupTimes)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("first_pass_s", cold.wallS, "s"),
      ("pass_s", median(warm.map(_.wallS).toSeq), "s"),
      ("query_p50_ms", median(okWarm), "ms"),
      ("query_tail_ms", tailMs, "ms"),
      ("cpu_s", median(warm.map(_.cpuS).toSeq), "s"),
      ("heap_after_gc_mb", warm.take(2).map(_.heapAfterGcMb).max, "MB"))
    val layers = trace.map(t => Layers.compute(t, warm.toSeq, samples.toSeq,
      buildTimes.toMap.map { case (k, v) => k -> v.head }, kernels.toOption.getOrElse(Nil)))
    val metrics = layers.map(_.metrics).getOrElse(e2e)
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    val report = Json.obj(
      "workload" -> wname, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "settings" -> mutable.LinkedHashMap(settings(cwd): _*),
      "jvm" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_mb" -> ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize / 1048576,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "inputs" -> Json.Raw(inputsJson), "corpus_dir" -> corpusKey,
      "warmup_passes" -> w.warmups,
      "session_start_s" -> sessionS, "setup_runs_s" -> setupTimes,
      "build_s" -> buildTimes.map { case (k, v) => k -> v.toSeq },
      "passes" -> (cold +: warm.toSeq).map(p => mutable.LinkedHashMap(
        "pass" -> p.idx, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs, "heap_after_gc_mb" -> p.heapAfterGcMb)),
      "query_tail" -> mutable.LinkedHashMap("percentile" -> tailPct,
        "samples" -> okWarm.size, "beyond" -> okWarm.count(_ > tailMs)),
      "samples" -> samples.map(s => mutable.LinkedHashMap("pass" -> s.pass, "op" -> s.op,
        "wall_ms" -> s.wallMs, "rows" -> s.result.map(_.rows),
        "result" -> s.result.map(_.key), "error" -> s.error)),
      "checks" -> checks.map(c => mutable.LinkedHashMap("check" -> c.name,
        "result" -> c.result, "error" -> c.error)),
      "errors" -> errors,
      "layers" -> layers.map(_.detail),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) => n -> v }: _*),
      "run_s" -> (System.nanoTime() - tRun0) / 1e9)
    errors.foreach(e => System.err.println(s"[graftbench] FAILED $e"))
    trace.foreach(t => opt.get("spans").foreach(p => t.writeSpans(new File(p))))
    java.nio.file.Files.writeString(new File(opt("report")).toPath, report)
    java.nio.file.Files.writeString(new File(opt("result")).toPath, result)
    spark.stop()
    0
  }

  /** Layout directories that hold a `_SUCCESS` marker, with its mtime. */
  def layoutMarkers(root: File): Set[(String, Long)] =
    Option(root.listFiles()).getOrElse(Array.empty).flatMap { d =>
      val m = new File(d, "_SUCCESS")
      if (m.exists()) Some(d.getName -> m.lastModified()) else None
    }.toSet

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}

/** Expected results of operations whose inputs do not depend on the run's
  * seed, committed with the benchmark as `input|workload|operation=key`.
  * Read-only: when a change alters results on purpose, copy the new keys
  * from a clean run's report (`samples[].result`, `checks[].result`). */
final class Pins(data: Map[String, String]) {
  /** An error when `r` differs from the pin or no pin exists. */
  def check(input: String, workload: String, op: String, r: Check.Result): Option[String] =
    data.get(s"$input|$workload|$op") match {
      case None => Some(s"no pinned result for $input|$workload|$op (observed ${r.key})")
      case Some(e) if e != r.key => Some(s"result ${r.key} differs from the pin $e")
      case _ => None
    }
}
object Pins {
  def load(f: File): Pins = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try new Pins(src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.lastIndexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
    finally src.close()
  }
}
