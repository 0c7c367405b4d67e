package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.berlinmod.BerlinMod
import graft.scale.SynthCorpus
import graft.sqlx.MobSql

/** One timed operation of a pass. `build` is called inside the timed
  * interval and returns the result to materialize. */
final case class Op(name: String, build: () => DataFrame)

/** One untimed correctness check: its observed result key and its error. */
final case class Checked(name: String, result: Option[String], error: Option[String])

/** Sizes of the generated inputs. The corpus tables are a pure function of
  * their row counts ([[SynthCorpus]] and [[Inputs.writeEvents]]); only the
  * BerlinMOD fleet and the box windows depend on the seed. Sized so that a
  * run (three set-ups, the cold, warm-up and warm passes) takes under a
  * minute on 4 cores. */
object Sizes {
  val docs = 1000L          // SynthCorpus documents (sf0.1 has 5 000)
  val vectors = 5000L       // SynthCorpus embeddings, 64-dim
  val events = 10000L       // event rows for mob_q* and the stream sinks
  val eventUsers = 200L
  val vehicles = 40         // BerlinMOD fleet (brussels is 141)
  val windows = 12          // TRTREE box-window lookups per pass
}

/** Input generation into the benchmark's own cache directory. Untimed. */
object Inputs {
  /** Events table in the `SparkEntry` schema (event_id, ts, user_id,
    * event_type, value, props) as a pure function of the row id: January
    * 2024, five event types, `{"k": n}` props. */
  def writeEvents(spark: SparkSession, n: Long, users: Long, dir: String): Unit = {
    val stepUs = 28L * 86400L * 1000000L / n
    def h(i: Int) = xxhash64(col("id"), lit(i))
    spark.range(0L, n, 1L, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + pmod(h(1), lit(stepUs))).as("ts"),
      pmod(h(2), lit(users)).as("user_id"),
      element_at(typedLit(Seq("view", "click", "purchase", "signup", "error")),
        (pmod(h(3), lit(5)) + 1).cast("int")).as("event_type"),
      round(pmod(h(4), lit(50000L)).cast("double") / 100, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Row count and order-insensitive content hash of a parquet table. */
  def describe(spark: SparkSession, path: String): Map[String, Any] = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)), bit_xor(Check.rowHash(df))).collect()(0)
    Map("rows" -> r.getLong(0), "xor_hash" -> r.getLong(1))
  }

  /** Generate (once per cache) the corpus directory the workloads read:
    * documents, embeddings and events. Returns the directory and the
    * recorded row counts and content hashes. */
  def corpus(spark: SparkSession, cache: File): (String, String) = {
    val dir = new File(cache, s"corpus_d${Sizes.docs}_v${Sizes.vectors}_e${Sizes.events}")
    val manifest = new File(dir, "inputs.json")
    if (!manifest.exists()) {
      val staging = new File(cache, "staging").getPath
      // SynthCorpus writes a fixed 64 files per table; the sf data dirs
      // `SparkEntry` reads hold one file per table, so the benchmark
      // compacts each table to one file per core (same rows) before any
      // workload reads it
      def compact(table: String, out: File): Unit =
        spark.read.parquet(s"$staging/$table.parquet").coalesce(Main.Cores)
          .write.mode("overwrite").parquet(s"${out.getPath}/$table.parquet")
      SynthCorpus.writeDocuments(spark, Sizes.docs, staging)
      compact("documents", dir)
      SynthCorpus.writeEmbeddings(spark, Sizes.vectors, staging)
      compact("embeddings", dir)
      writeEvents(spark, Sizes.events, Sizes.eventUsers, dir.getPath)
      Main.deleteTree(new File(staging))
      val desc = Seq("documents", "embeddings", "events").map(t =>
        t -> describe(spark, s"${dir.getPath}/$t.parquet")).toMap
      java.nio.file.Files.writeString(manifest.toPath, Json.value(desc))
    }
    (dir.getPath, java.nio.file.Files.readString(manifest.toPath))
  }
}

/** A workload: a timed set-up made of named builds, and the operations
  * of one pass. Inputs come from [[Inputs]]. */
abstract class Workload(spark: SparkSession) {
  /** Named set-up builds, run in order; each is timed on its own. */
  def builds: Seq[(String, () => Unit)]
  /** The operations of one pass, built fresh for each pass. */
  def pass(): Seq[Op]
  /** Untimed checks of the cold-pass results, run before the warm passes. */
  def coldChecks(cold: Map[String, Check.Result]): Seq[Checked] = Nil
  /** Untimed checks run after the last pass; they may replace the
    * workload's tables. */
  def finalChecks(pins: Pins): Seq[Checked] = Nil
  /** True when the operation's result depends on nothing but the fixed
    * corpus, so every pass is checked against its committed pin; the other
    * operations are checked against the run's cold pass. */
  def pinned(op: String): Boolean = true
  /** Untimed passes between the cold pass and the measured warm passes. */
  def warmups: Int = 0

  /** Runs one check; `verdict` turns its result into an error, if any. */
  protected def checked(name: String)(result: => Check.Result)(
      verdict: Check.Result => Option[String]): Checked =
    try {
      val r = result
      Checked(name, Some(r.key), verdict(r))
    } catch { case NonFatal(e) => Checked(name, None, Some(Main.msg(e))) }

  protected def entry(n: String, dir: String): Op =
    Op(n, () => SparkEntry.queries(n)(spark, dir))
}

object Workloads {
  val names = Seq("mobility", "streaming")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload =
    name match {
      case "mobility" => new Mobility(spark, seed, dir)
      case "streaming" => new Streaming(spark, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** BerlinMOD generated from the seed (six of its 17 queries), TRTREE
  * box-window lookups through [[MobSql.run]], and two `mob_q*` gate
  * entries on the events table. The `mob_q*` results are pinned. The
  * seeded results are checked against the run's own cold pass, each lookup
  * against a scan of the unindexed view before the warm passes (which also
  * warms the lookup path they time), and, after the warm passes, the
  * same queries and unindexed lookups over a fleet generated from
  * [[Mobility.PinSeed]] against their pins. */
final class Mobility(spark: SparkSession, seed: Long, dir: String) extends Workload(spark) {
  import Mobility._

  override def pinned(op: String) = op.startsWith("mob_")
  /** The first pass after the cold one still pays JIT compilation of the
    * mobility functions and the lookup rewrite: over ten runs its median
    * query time spread 0.24 and its wall time 0.10 (quartile distance /
    * median), against 0.06 and 0.05 for the pass after it. */
  override def warmups = 1

  val windows: Seq[String] = windowsOf(seed, Sizes.windows)
  private def lookup(view: String, w: String) =
    s"SELECT TripId, VehicleId FROM $view WHERE box && stbox('$w')"
  private val boxes = "SELECT TripId, VehicleId, to_stbox(Trip) AS box FROM Trips"
  private val bmOps = Seq(3, 5, 6, 9, 10, 17).map(i => s"q$i")

  def builds = Seq(
    "bm_load" -> (() => {
      BerlinMod.load(spark, nVehicles = Sizes.vehicles, seed = seed,
        tripsMin = 3, tripsMax = 6, ptsMin = 20, ptsMax = 60)
      ()
    }),
    "bm_materialize" -> (() => {
      Seq("Trips", "SegCells", "SegTime").foreach(t => spark.table(t).count())
    }),
    "trtree" -> (() => {
      spark.sql(boxes).createOrReplaceTempView("TripBoxesRaw")
      spark.sql(boxes).createOrReplaceTempView("TripBoxes")
      MobSql.run(spark, "CREATE INDEX trip_box_idx ON TripBoxes USING TRTREE(box)")
      ()
    }))

  def pass(): Seq[Op] = {
    // BerlinMod.queries builds (and analyzes) all 17 queries at once; the
    // first BerlinMOD operation of a pass pays for that
    lazy val bm = BerlinMod.queries(spark).toMap
    bmOps.map(q => Op(s"bm_$q", () => bm(q))) ++
      windows.zipWithIndex.map { case (w, i) =>
        Op(s"box_w${i + 1}", () => MobSql.run(spark, lookup("TripBoxes", w)))
      } ++
      Seq("mob_q1_timespan", "mob_q8_asof_join").map(entry(_, dir))
  }

  override def coldChecks(cold: Map[String, Check.Result]): Seq[Checked] =
    windows.zipWithIndex.map { case (w, i) =>
      val n = s"box_w${i + 1}"
      checked(s"$n unindexed")(Check.run(MobSql.run(spark, lookup("TripBoxesRaw", w)))) { raw =>
        cold.get(n).collect {
          case c if c != raw => s"indexed lookup ${c.key} differs from unindexed scan ${raw.key}"
        }
      }
    }

  /** Replaces the seeded fleet's tables, so it runs after the last pass. */
  override def finalChecks(pins: Pins): Seq[Checked] = {
    spark.catalog.clearCache()
    try {
      BerlinMod.load(spark, nVehicles = PinVehicles, seed = PinSeed,
        tripsMin = 6, tripsMax = 10, ptsMin = 30, ptsMax = 80)
      spark.sql(boxes).createOrReplaceTempView("TripBoxesRaw")
      val bm = BerlinMod.queries(spark).toMap
      bmOps.map(q => checked(s"$PinFleet bm_$q")(Check.run(bm(q))) {
        pins.check(PinFleet, "mobility", s"bm_$q", _)
      }) ++ windowsOf(PinSeed, PinWindows).zipWithIndex.map { case (w, i) =>
        checked(s"$PinFleet box_w${i + 1}")(
          Check.run(MobSql.run(spark, lookup("TripBoxesRaw", w)))) {
          pins.check(PinFleet, "mobility", s"box_w${i + 1}", _)
        }
      }
    } catch { case NonFatal(e) => Seq(Checked(s"$PinFleet load", None, Some(Main.msg(e)))) }
  }
}

object Mobility {
  /** The fixed fleet whose BerlinMOD and lookup results are pinned: the
    * smallest that gives q3, q5, q9 and q17 rows (q6 and q10 find no
    * proximity pairs below about 40 vehicles of 9-14 trips, which would
    * cost another pass). */
  val PinSeed = 7L
  val PinVehicles = 24
  val PinWindows = 4
  val PinFleet = s"berlinmod_v${PinVehicles}_s$PinSeed"

  /** Seeded 400 m x 400 m windows over the area the trip walks cover, the
    * i-th placed at random inside cell i of a 4 x 3 grid over that area,
    * so that every seed's lookups cover sparse and dense parts alike. */
  def windowsOf(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = -500 + (i % 4) * 500 + r.nextInt(500)
      val y = -500 + (i / 4 % 3) * 667 + r.nextInt(667)
      s"STBOX X(($x.0,$y.0),(${x + 400}.0,${y + 400}.0))"
    }
  }
}

/** Three AvailableNow stream sinks on the RocksDB state store, each pass
  * checked against committed pins. */
final class Streaming(spark: SparkSession, dir: String) extends Workload(spark) {
  def builds = Nil
  def pass(): Seq[Op] =
    Seq("stream_neardup_sink", "stream_ann_topk_sink", "stream_sessions_sink")
      .map(entry(_, dir))
}
