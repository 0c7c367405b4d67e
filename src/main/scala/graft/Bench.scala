package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.berlinmod.BerlinMod
import graft.scale.{PipelineScaleProbe, SynthCorpus}
import graft.util.Json.quote

/** The bench artifact: every gate entry, BerlinMOD at the reference's
  * brussels scale with its 10x/100x decade rows, and the pipeline decade
  * rows; per row the min-of-passes wall time on stdout, and per-query and
  * per-stage task metrics in `target/bench.json`.
  *
  * `runMain graft.Bench [--only row,row,...] [--explain <dir>]` —
  * `--only` runs the named rows alone and skips every block (with its
  * fleet or corpus load) that has none of them; `--explain` writes each
  * selected query's formatted plan to `<dir>/<row>.txt` after the block
  * loads, and times nothing. `SPARK_GRAFT_SF_DIR` names the dataset
  * (default sf0.1) and `SPARK_GRAFT_CPUS` the cores. */
object Bench {
  /** One bench row: name, seconds (-1 when it failed), error text. */
  type Timing = (String, Double, Option[String])

  /** One-line error text for a bench row. */
  def errorText(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(120)

  /** Runs one block of bench rows. A block that throws yields ONE error
    * row named `name` instead of vanishing (a failed load used to just
    * shrink `n`); fatal errors (OOM, interrupts) propagate. */
  def block(name: String)(body: => Seq[Timing]): Seq[Timing] =
    try body
    catch { case NonFatal(e) => Seq((name, -1.0, Some(errorText(e)))) }

  /** Runs one bench query: None, or the error text of a non-fatal
    * failure; fatal errors propagate as in [[block]]. */
  def attempt(run: => Unit): Option[String] =
    try { run; None }
    catch { case NonFatal(e) => Some(errorText(e)) }

  /** Rows sharing one untimed load. `load` prepares the block's data and
    * returns the rows it reports itself (a failed warm-up) and each
    * query row's DataFrame; the load is timed as `loadRow` when there is
    * one. Each query row runs `passes` times and reports its minimum;
    * `clear` drops cached data and forces a GC after every query. */
  final case class Block(name: String, loadRow: Option[String],
                         queries: Seq[String], passes: Int, clear: Boolean)(
      val load: SparkSession => (Seq[Timing], String => DataFrame)) {
    def rows: Seq[String] = loadRow.toSeq ++ queries
  }

  /** BerlinMOD fleets: multiple of the reference's brussels fleet (141
    * vehicles, ~1600 trips — BASELINE.md), timed queries, passes. The
    * decades keep the SAME city area: with the (hour, cell) segment join
    * key, pair work grows with local density (~linear in fleet at fixed
    * area x duration), not fleet^2. q5/q12 are the reference's two
    * slowest published queries (licence-view-bounded and view-bounded,
    * both measured flat to sub-linear). Three passes where contention
    * matters most: the 1x rows are the direct BASELINE.md comparison, and
    * the in-bench 100x rows read up to 3x above a standalone run's
    * min-of-two in r6 (heap/GC state + tenant contention). */
  val fleets: Seq[(Int, Seq[String], Int)] = Seq(
    (1, BerlinMod.queryNames, 3),
    (10, Seq("q5", "q6", "q10", "q12", "q16", "q17"), 2),
    (100, Seq("q6", "q10"), 3))

  /** Every block, in run order; `sfDir` is the gate's dataset. */
  def blocks(sfDir: String): Seq[Block] = {
    // fixed order + cache isolation so one query's cached/cached-adjacent
    // state cannot inflate the next one's wall clock. berlinmod_e2e is
    // skipped: the brussels-scale per-query rows replace it.
    val gate = Block("gate", None,
      SparkEntry.queries.keys.toSeq.sorted.filterNot(_ == "berlinmod_e2e"),
      passes = 2, clear = true) { spark =>
      // untimed warm-up: JIT/codegen/shuffle-machinery spin-up otherwise
      // lands entirely on whichever query sorts first (~8 s of noise);
      // the write-time ANN layouts are load phase, like the BerlinMOD
      // load (the reference builds its R-tree outside per-query timings
      // too). A failed warm-up is reported and the rows still run.
      val warm = block("warmup") {
        SparkEntry.entry(spark).count()
        PipelineScaleProbe.buildAnnLayouts(spark, sfDir)
        graft.operators.Similarity.buildGraphLayout(spark, sfDir)
        graft.operators.Similarity.buildHnswLayout(spark, sfDir)
        spark.catalog.clearCache()
        Seq.empty
      }
      val entries = SparkEntry.queries
      (warm, n => entries(n)(spark, sfDir))
    }
    // clear = false: the cached views ARE the untimed load artifacts
    val bm = fleets.map { case (mult, qs, passes) =>
      val suffix = if (mult == 1) "" else s"_${mult}x"
      def row(q: String) = s"berlinmod_$q$suffix"
      Block(s"berlinmod_${mult}x", if (mult == 1) Some("berlinmod_load") else None,
        qs.map(row), passes, clear = false) { spark =>
        // the trip-building collect_list aggregates want the sort path
        SparkEntry.useAggThreshold(spark, "berlinmod_load")
        // generation goes distributed above the BigFleet threshold, so
        // the driver never holds the 100x fleet's ~11.6M points
        BerlinMod.load(spark, nVehicles = 141 * mult,
          tripsMin = 9, tripsMax = 14, ptsMin = 30, ptsMax = 120)
        // materialize the cached load artifacts (BASELINE.md records the
        // reference's brussels load, 07_trips, at 15.9 s)
        spark.sql("SELECT * FROM Trips").count()
        spark.sql("SELECT * FROM SegCells").count()
        spark.sql("SELECT * FROM SegTime").count()
        val dfs = BerlinMod.queries(spark).map { case (q, df) => row(q) -> df }
        (Seq.empty, dfs.toMap)
      }
    }
    // Pipeline-operator decades: the synthetic corpus (Heaps-law
    // vocabulary growth, planted dups) at 10x/100x the sf0.1 base, run
    // through the UNCHANGED gate entries; generation and the ANN layouts
    // are untimed load phase, like the BerlinMOD and warm-up builds.
    val pipeline = Seq(10, 100).map { mult =>
      Block(s"pipeline_scale_${mult}x", None,
        PipelineScaleProbe.scaleRowQueries.map(n => s"${n}_${mult}x"),
        passes = 2, clear = true) { spark =>
        val dir = s"/tmp/graft_synth_${mult}x"
        SynthCorpus.generate(spark, mult, dir)
        // the layouts' n-group graph builds need the hash path
        spark.conf.set(SparkEntry.FallbackKey,
          SparkEntry.HashAggThreshold.toString)
        PipelineScaleProbe.buildAnnLayouts(spark, dir)
        val entries = SparkEntry.queries
        (Seq.empty, row => entries(row.stripSuffix(s"_${mult}x"))(spark, dir))
      }
    }
    gate +: (bm ++ pipeline)
  }

  /** Runs the blocks with a selected row (every row when `only` is
    * None) and returns their rows; with `explain`, writes the plans
    * instead and returns only failed loads. Timings go to stdout and,
    * with task metrics, to `out`. */
  def run(spark: SparkSession, sfDir: String, only: Option[Set[String]],
          explain: Option[Path], out: Path): Seq[Timing] = {
    val all = blocks(sfDir)
    val unknown = only.getOrElse(Set.empty) -- all.flatMap(_.rows)
    require(unknown.isEmpty, s"no bench row named ${unknown.mkString(", ")}")
    val sel: String => Boolean = n => only.forall(_(n))
    val sc = spark.sparkContext
    val metrics = new graft.util.BenchMetricsListener
    sc.addSparkListener(metrics)
    // per-query process CPU split (user/sys ticks from /proc/self/stat)
    // and GC time — the wall-vs-cpu discriminator that located the r9
    // late-bench inflation. stderr only; the driver parses stdout.
    def cpuStat(): (Long, Long) = try {
      // split AFTER the last ')' (the kernel-documented way to skip the
      // comm field, which may itself contain spaces); utime/stime are
      // then fields 11/12 of the remainder (stat fields 14/15, 1-based)
      val raw = scala.io.Source.fromFile("/proc/self/stat").mkString
      val f = raw.substring(raw.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong, f(12).toLong)
    } catch { case NonFatal(_) => (0L, 0L) }
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Each timing carries an optional error: a query that throws must be
    // REPORTED as an error, not silently recorded as a fast wall-clock.
    def timed(rows: Seq[(String, () => DataFrame)], passes: Int,
              clear: Boolean): Seq[Timing] =
      for (pass <- 0 until passes; (name, df) <- rows) yield {
        metrics.reset(name)
        SparkEntry.useAggThreshold(spark, name)
        sc.setJobGroup(name, name, interruptOnCancel = false)
        val (u0, s0) = cpuStat(); val g0 = gcMs
        val t0 = System.nanoTime()
        val err = attempt { df().count(); () }
        val dt = (System.nanoTime() - t0) / 1e9
        val (u1, s1) = cpuStat()
        System.err.println(f"[bench] $name%-28s ${dt}%7.2f s " +
          f"user=${(u1 - u0) / 100.0}%8.1f sys=${(s1 - s0) / 100.0}%6.1f " +
          f"gc=${gcMs - g0}%5d ms pass=$pass")
        sc.clearJobGroup()
        if (clear) {
          spark.catalog.clearCache()
          // ContextCleaner frees broadcasts/shuffles via weak refs: force
          // a GC so one query's debris cannot stall the next's executors
          System.gc()
        }
        (name, dt, err)
      }
    // Min over the passes that SUCCEEDED (this box is a shared tenant
    // with ±2-3x contention swings: the min of spaced runs is the
    // engine's cost); a query with no successful pass surfaces as sec=-1
    // plus an "err" entry.
    def minPerQuery(ts: Seq[Timing]): Seq[Timing] =
      ts.groupBy(_._1).map { case (n, xs) =>
        val ok = xs.filter(_._3.isEmpty)
        if (ok.nonEmpty) (n, ok.map(_._2).min, None)
        else (n, -1.0, xs.flatMap(_._3).headOption)
      }.toSeq
    def writePlan(dir: Path, name: String, df: () => DataFrame): Unit = {
      val plan =
        try df().queryExecution.explainString(FormattedMode)
        catch { case NonFatal(e) => s"ERROR building plan: ${errorText(e)}" }
      Files.writeString(dir.resolve(s"$name.txt"), plan)
      System.err.println(s"[bench] plan $name")
      spark.catalog.clearCache()
    }
    explain.foreach(Files.createDirectories(_))
    val results = try all.filter(_.rows.exists(sel)).flatMap { b =>
      block(b.name) {
        // settle first: the preceding rows leave heap/GC debris that r7
        // measured as ~1.3x drift on the BerlinMOD rows with no code change
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val (own, df) = b.load(spark)
        val loadTime = b.loadRow.filter(sel)
          .map(n => (n, (System.nanoTime() - t0) / 1e9, Option.empty[String]))
        val rows = b.queries.filter(sel).map(n => n -> (() => df(n)))
        explain match {
          case Some(dir) =>
            rows.foreach { case (n, q) => writePlan(dir, n, q) }
            own
          case None =>
            own ++ loadTime ++ minPerQuery(timed(rows, b.passes, b.clear))
        }
      }
    }.sortBy(_._1) finally sc.removeSparkListener(metrics)
    if (explain.isEmpty) {
      // let trailing listener-bus events drain before the metric snapshot
      Thread.sleep(500)
      report(results, sfDir, metrics.snapshotJson, out)
    }
    results
  }

  /** Prints one JSON line per row, then the total line, and writes the
    * full-precision artifact to `out`. r4's official artifact died
    * because a single stdout line carried 96 queries at full double
    * precision (~4 KB) and overflowed the driver's tail-capture window:
    * stdout gets (a) one bare, tiny, self-contained line per row, then
    * (b) a compact total line with seconds rounded to 3 decimals. */
  private def report(results: Seq[Timing], sfDir: String,
                     taskMetrics: String, out: Path): Unit = {
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    for ((n, t, e) <- results) {
      val errPart = e.map(m => s""","err":${quote(m)}""").getOrElse("")
      println(s"""{"q":${quote(n)},"sec":${r3(t)}$errPart}""")
    }
    val queriesJson = results.map { case (n, t, _) => quote(n) + ":" + t }
      .mkString("{", ",", "}")
    val errs = results.collect { case (n, _, Some(m)) => quote(n) + ":" + quote(m) }
    val errPart =
      if (errs.nonEmpty) s""","errors":${errs.mkString("{", ",", "}")}"""
      else ""
    // stdout variant: a catastrophic round (many errors x ~140 B each)
    // must not push the final line back over the tail window — show the
    // first 8 plus the true count; the full map stays in the file line
    val errPartStdout =
      if (errs.isEmpty) ""
      else s""","n_errors":${errs.length},""" +
        s""""errors":${errs.take(8).mkString("{", ",", "}")}"""
    val total = results.collect { case (_, t, e) if e.isEmpty => t }.sum
    // The FINAL stdout line must fit the driver's ~2000-char tail window
    // (with sbt's trailing [success] banner) or BENCH "parsed" is null —
    // this killed r1/r4/r5. So it carries NO queries map (~400 bytes even
    // with errors); full precision lives in the artifact file.
    val stdoutLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
        s""""n":${results.size}$errPartStdout,"sf":"$sfDir"}"""
    val fileLine =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":$queriesJson$errPart,""" +
        s""""task_metrics":$taskMetrics,"sf":"$sfDir"}"""
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.writeString(out, fileLine)
    // Bare stdout (outputStrategy := StdoutOutput in build.sbt keeps it
    // prefix-free), printed LAST so it sits at the very end of the tail.
    println(stdoutLine)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array("--only", v) => "only" -> v
      case Array("--explain", v) => "explain" -> v
      case a => throw new IllegalArgumentException(
        s"unknown arguments '${a.mkString(" ")}'; " +
          "usage: Bench [--only row,row,...] [--explain <dir>]")
    }.toMap
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = GraftSession.envCores
    System.err.println(s"[bench] cpus=$cores sfDir=$sfDir")
    // heap pre-touch BEFORE Spark threads exist: this guest's balloon
    // free-page reporting makes first-touch ~100x cost (see HeapWarm),
    // and holding most of the heap live is only safe in a bare JVM
    graft.util.HeapWarm.pretouch()
    val spark = GraftSession.local(cores)
    try run(spark, sfDir, opts.get("only").map(_.split(",").toSet),
      opts.get("explain").map(Paths.get(_)), Paths.get("target/bench.json"))
    finally spark.stop()
  }
}
