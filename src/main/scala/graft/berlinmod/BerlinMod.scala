package graft.berlinmod

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The BerlinMOD mobility workload end-to-end: deterministic synthetic
  * data in the reference's schemas (the reference git-ignores its CSV
  * inputs — FIXTURES.md §5) + all 17 benchmark queries
  * (ref benchmark/BerlinMOD/sql/queries/query_1..17.sql) re-expressed
  * Spark-first with our mobility functions.
  *
  * Scale notes: every dimension table (Licences1/2, Instants1, Periods1,
  * Points1, Regions1 — the LIMIT-10 views of the reference loader) is
  * broadcast; Trips is the fact side and is never replicated. The
  * trip-pair queries (q6/q10) prefilter with expanded bounding boxes
  * before the exact eDwithin/tDwithin solvers, mirroring the reference's
  * R-tree prefilter with a sargable box predicate.
  */
object BerlinMod {

  private def cf(name: String, cols: Column*): Column = call_function(name, cols: _*)

  /** Space-time key geometry for the trip-pair queries: pad = d/2 + eps
    * with d = 10 m (the largest proximity threshold in q6/q10/q16); cell
    * size is free for correctness (see the SegTime comment) and DENSITY-
    * ADAPTIVE: pair work per (bucket, cell) key grows with (segments per
    * cell)^2, so a fixed coarse cell that is fine at 1x density costs
    * ~100x more per key at 10x fleet in the same city area. [[load]]
    * computes the size that keeps EXPECTED segments per key near
    * [[CellTargetPerKey]] — cell = sqrt(target * buckets * area / segs) —
    * clamped to [[CellMin]] and [[CellMax]] (coarser stops discriminating
    * in a ~1 km^2 extent).
    *
    * [[CellMin]] was 125 m through r5 because the explode covered the
    * whole padded segment BBOX: for ~100 m diagonal steps, cells per
    * segment grow (step/cell)^2, so cells below the step length inflated
    * the explode without shrinking per-key pair work — and at 100x fleet
    * density the 125 m clamp was binding and q6's pair work resumed
    * growing ~density^2 (r5 verdict's one weak flag). The SegTime view
    * now keeps only CAPSULE cells — bbox cells whose pad-expanded
    * rectangle the segment's line straddles (corner cross-product
    * test, see the WHERE clause; a conservative superset of the exact
    * capsule — completeness is what the key needs) — so kept cells per
    * segment grow ~(step/cell) and shrinking the cell below the step
    * length still divides per-key density. That makes a 25 m floor
    * productive: pad only requires d/2 + eps ~ 5 m for the
    * midpoint-cover argument. */
  private val CellTargetPerKey = 24.0
  private val CellMin = 25.0
  private val CellMax = 500.0
  private val CellPad = "5.000001D"

  /** Fleet size at which [[load]] switches from the driver-side
    * sequential generator to distributed per-vehicle generation. */
  private val BigFleet = 5000

  /** The segment-pair equi-join clause: (hour bucket × grid cell) key +
    * time-overlap + padded-bbox prefilters. */
  private def segJoinOn(pad: String): String =
    s"""a.bucket = b.bucket
        AND a.cx = b.cx AND a.cy = b.cy
        AND a.tl <= b.tu AND b.tl <= a.tu
        AND a.sxmin <= b.sxmax + $pad AND b.sxmin <= a.sxmax + $pad
        AND a.symin <= b.symax + $pad AND b.symin <= a.symax + $pad"""

  /** Deterministic LCG so every run generates identical data. */
  private final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def nextDouble(): Double = ((nextLong() >>> 11).toDouble / (1L << 53).toDouble)
    def nextInt(n: Int): Int = math.floorMod(nextLong(), n.toLong).toInt
  }

  case class TripPoint(TripId: Int, VehicleId: Int, PosX: Double, PosY: Double,
                       t: java.sql.Timestamp)

  // Segment-pair predicates for the trip-pair queries (q6/q10/q16) are
  // native codegen kernels since r11 — see
  // [[graft.functions.SegKernels]] (same eDwithin/aDisjoint/tDwithin
  // quadratic solvers the trip-level functions use, so a trip-pair
  // predicate decomposes exactly into EXISTS/FORALL over its
  // time-overlapping segment pairs; registered by GraftFunctions).

  /** Generate and register the BerlinMOD tables as temp views. Returns
    * the number of trips. */
  def load(spark: SparkSession, nVehicles: Int = 20, seed: Long = 42L,
           tripsMin: Int = 2, tripsMax: Int = 4,
           ptsMin: Int = 10, ptsMax: Int = 50,
           cellSizeOverride: Option[Double] = None): Int = {
    GraftFunctions.register(spark)
    val rng = new Rng(seed)
    val base = 1577836800000000L // 2020-01-01 UTC micros

    val vehicles = (1 to nVehicles).map { vid =>
      val vtype = if (rng.nextInt(3) == 0) "truck" else "passenger"
      (vid, f"B-$vid%04d", vtype, s"model${rng.nextInt(5)}")
    }
    spark.createDataFrame(vehicles)
      .toDF("VehicleId", "Licence", "VehicleType", "Model")
      .createOrReplaceTempView("Vehicles")

    val licences = (1 to nVehicles).map(vid => (vid, f"B-$vid%04d", vid))
    spark.createDataFrame(licences).toDF("LicenceId", "Licence", "VehicleId")
      .createOrReplaceTempView("Licences")

    val instants = (1 to 100).map { i =>
      (i, new java.sql.Timestamp((base + i.toLong * 977L * 60000000L) / 1000))
    }
    spark.createDataFrame(instants).toDF("InstantId", "Instant")
      .createOrReplaceTempView("Instants")

    val periods = (1 to 50).map { i =>
      val lo = base + rng.nextInt(90 * 24) * 3600000000L
      val hi = lo + (1 + rng.nextInt(72)) * 3600000000L
      (i, new java.sql.Timestamp(lo / 1000), new java.sql.Timestamp(hi / 1000))
    }
    spark.createDataFrame(periods).toDF("PeriodId", "Tstart", "Tend")
      .createOrReplaceTempView("PeriodsRaw")
    spark.sql("""SELECT PeriodId, Tstart, Tend, tstzspan(Tstart, Tend) AS Period
                 FROM PeriodsRaw""").createOrReplaceTempView("Periods")

    val points = (1 to 100).map { i =>
      (i, math.floor(rng.nextDouble() * 100) / 10.0 * 100,
        math.floor(rng.nextDouble() * 100) / 10.0 * 100)
    }
    spark.createDataFrame(points).toDF("PointId", "PosX", "PosY")
      .createOrReplaceTempView("PointsRaw")
    spark.sql("""SELECT PointId, PosX, PosY, st_point(PosX, PosY) AS Geom
                 FROM PointsRaw""").createOrReplaceTempView("Points")

    val regions = (1 to 10).map { i =>
      val cx = rng.nextDouble() * 8000
      val cy = rng.nextDouble() * 8000
      val r = 300 + rng.nextDouble() * 900
      val wkt = (0 to 6).map { k =>
        val a = 2 * math.Pi * k / 6
        s"${cx + r * math.cos(a)} ${cy + r * math.sin(a)}"
      }.mkString("Polygon((", ",", "))")
      (i, wkt)
    }
    spark.createDataFrame(regions).toDF("RegionId", "Wkt")
      .createOrReplaceTempView("RegionsRaw")
    spark.sql(
      """SELECT RegionId, Geom,
           b.xmin AS rxmin, b.xmax AS rxmax, b.ymin AS rymin, b.ymax AS rymax
         FROM (SELECT RegionId, st_geomfromtext(Wkt) AS Geom,
                 to_stbox(st_geomfromtext(Wkt)) AS b FROM RegionsRaw)""")
      .createOrReplaceTempView("Regions")

    // Trips: 2-4 trips per vehicle, random walks snapped to a 100 m grid
    // so distinct vehicles revisit shared points (q11/q12 need meetups).
    //
    // Two generation paths with identical schema and walk model:
    // - below [[BigFleet]]: the original single-rng sequential walk,
    //   kept BIT-IDENTICAL (specs and the 1x/10x bench fixtures depend
    //   on its exact draw sequence); the driver holds the points.
    // - at/above [[BigFleet]]: DISTRIBUTED generation — each task owns
    //   a vehicle range with a per-vehicle deterministic rng, so the
    //   driver never materializes a point (the 100x bench row OOMed the
    //   default 8 GB driver heap on the sequential path). This is also
    //   the 100 TB shape: generation parallelism == cluster width.
    import spark.implicits._
    val bigFleet = nVehicles >= BigFleet
    // Load-cache storage tier (r14 opt, guide §5): the five load caches
    // hold instant-arrays and exploded segment rows as DESERIALIZED heap
    // objects under the default level — ~5 GB of row objects at the 100x
    // fleet on the fixed 8 GB bench heap, which intermittently OOM'd the
    // 100x load (UnsafeArrayData.createFreshArray inside the cache-block
    // build; one of four otherwise-identical bench runs died there). At
    // big-fleet scale the caches switch to MEMORY_AND_DISK_SER — the
    // same serialized-blocks reasoning as the dedup shingle caches
    // (compact, evictable past the protected fraction); below the
    // threshold the deserialized default stays (the 1x/10x blocks are
    // object-churn-sensitive and nowhere near heap limits). Results are
    // storage-level-independent; only cache-block representation moves.
    val cacheLvl =
      if (bigFleet) org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var tripId = 0
    if (!bigFleet) {
      val tripRows = scala.collection.mutable.ArrayBuffer[TripPoint]()
      for (vid <- 1 to nVehicles;
           _ <- 0 until (tripsMin + rng.nextInt(tripsMax - tripsMin + 1))) {
        tripId += 1
        var x = math.floor(rng.nextDouble() * 100) / 10.0 * 100
        var y = math.floor(rng.nextDouble() * 100) / 10.0 * 100
        var t = base + rng.nextInt(90 * 24) * 3600000000L
        val n = ptsMin + rng.nextInt(ptsMax - ptsMin + 1)
        for (_ <- 0 until n) {
          tripRows += TripPoint(tripId, vid, x, y, new java.sql.Timestamp(t / 1000))
          x += (rng.nextInt(3) - 1) * 100.0
          y += (rng.nextInt(3) - 1) * 100.0
          t += (60 + rng.nextInt(240)) * 1000000L
        }
      }
      // cache: the raw instants feed TripsBase, SegCells AND q7's
      // coordinate equi-join; uncached, each use re-ships the rows from
      // the driver
      tripRows.toSeq.toDF().persist(cacheLvl).createOrReplaceTempView("TripsInput")
    } else {
      require(tripsMax <= 64, "distributed path packs trip ids as vid*64+k")
      val (tMin, tMax, pMin, pMax, sd, b) =
        (tripsMin, tripsMax, ptsMin, ptsMax, seed, base)
      spark.range(1, nVehicles + 1L)
        .repartition(math.min(256, math.max(32, nVehicles / 512)))
        .as[Long]
        .flatMap { vidL =>
          val vid = vidL.toInt
          // per-vehicle stream: splitmix-style seed mix decorrelates
          // adjacent vehicles under the shared LCG
          val r = new Rng(sd * 0x9E3779B97F4A7C15L + vidL * 0xBF58476D1CE4E5B9L)
          val nt = tMin + r.nextInt(tMax - tMin + 1)
          (0 until nt).iterator.flatMap { k =>
            // globally unique trip id: tripsMax <= 64 by contract
            val tid = vid * 64 + k
            var x = math.floor(r.nextDouble() * 100) / 10.0 * 100
            var y = math.floor(r.nextDouble() * 100) / 10.0 * 100
            var t = b + r.nextInt(90 * 24) * 3600000000L
            val n = pMin + r.nextInt(pMax - pMin + 1)
            (0 until n).map { _ =>
              val row = TripPoint(tid, vid, x, y, new java.sql.Timestamp(t / 1000))
              x += (r.nextInt(3) - 1) * 100.0
              y += (r.nextInt(3) - 1) * 100.0
              t += (60 + r.nextInt(240)) * 1000000L
              row
            }
          }
        }
        .toDF().persist(cacheLvl).createOrReplaceTempView("TripsInput")
      tripId = spark.sql("SELECT count(DISTINCT TripId) FROM TripsInput")
        .collect()(0).getLong(0).toInt
    }
    // the reference loader pipeline: array_agg ORDER BY t -> tgeompointSeq
    // (ref sql/load/07_trips.sql:26-37); our seq constructor sorts by t
    spark.sql(
      """SELECT TripId, VehicleId,
           tgeompointseq(collect_list(tgeompoint(st_point(PosX, PosY), t))) AS Trip
         FROM TripsInput
         GROUP BY TripId, VehicleId""").createOrReplaceTempView("TripsBase")
    // Flattened per-trip bounding box columns: every box predicate in the
    // queries below is a plain column comparison (codegen + prunable) —
    // the Spark-native replacement for the reference's R-tree (SURVEY §4)
    spark.sql(
      """SELECT TripId, VehicleId, Trip, trajectory(Trip) AS Traj,
           b.xmin AS txmin, b.xmax AS txmax,
           b.ymin AS tymin, b.ymax AS tymax,
           timestamp_micros(b.tmin) AS ttmin, timestamp_micros(b.tmax) AS ttmax
         FROM (SELECT *, to_stbox(Trip) AS b FROM TripsBase)""")
      .persist(cacheLvl).createOrReplaceTempView("Trips")

    // Per-trip segments with covered grid cells (cell = 100 m): the
    // point-visit queries (q4/q7/q17) equi-join points on (cx, cy) — a
    // shuffle-friendly hash join — then apply the exact point-on-segment
    // distance test as plain codegen'd arithmetic. This replaces the
    // per-pair interpreted st_intersects(Traj, Geom) (the reference gets
    // the same effect from its R-tree: ref src/index/rtree_optimize_scan
    // .cpp:20-147). A segment spans <= 1 cell in each axis per step, so
    // the explode adds <= 4 rows per segment; at 1000 executors the join
    // partitions by cell — no broadcast of the fact side, no O(n^2).
    // Cell ranges are padded by 1e-6 so a point within the predicate's
    // 1e-9 epsilon of a segment always shares a cell with it — this is
    // epsilon-CONSISTENT, unlike the exact bbox prefilter it replaces,
    // which silently dropped hits whose coordinates differ only in
    // floating-point garbage (e.g. 880.0000000000001 vs 880.0).
    spark.sql(
      """SELECT TripId, VehicleId, x1, y1, t1, x2, y2, t2, cx, cy
         FROM (
           SELECT TripId, VehicleId,
             PosX AS x1, PosY AS y1, t AS t1,
             coalesce(lead(PosX) OVER w, PosX) AS x2,
             coalesce(lead(PosY) OVER w, PosY) AS y2,
             coalesce(lead(t)    OVER w, t)    AS t2,
             lead(PosX) OVER w IS NULL AS last_pt,
             row_number() OVER w AS rn
           FROM TripsInput
           WINDOW w AS (PARTITION BY TripId ORDER BY t))
         LATERAL VIEW explode(sequence(
           cast(floor((least(x1, x2) - 1e-6) / 100) AS int),
           cast(floor((greatest(x1, x2) + 1e-6) / 100) AS int))) cxs AS cx
         LATERAL VIEW explode(sequence(
           cast(floor((least(y1, y2) - 1e-6) / 100) AS int),
           cast(floor((greatest(y1, y2) + 1e-6) / 100) AS int))) cys AS cy
         WHERE NOT last_pt OR rn = 1""")
      .persist(cacheLvl).createOrReplaceTempView("SegCells")
    spark.sql(
      """SELECT PointId, PosX, PosY, Geom,
           cast(floor(PosX / 100) AS int) AS cx,
           cast(floor(PosY / 100) AS int) AS cy
         FROM Points""").createOrReplaceTempView("PointCells")

    // Un-exploded per-trip segments in micros time (one row per motion
    // segment): feeds the time-window clipping joins (q8/q9) directly
    // and the bucket-exploded SegTime view below.
    spark.sql(
      """SELECT TripId, VehicleId, x1, y1, x2, y2, tl, tu,
           least(x1, x2) AS sxmin, greatest(x1, x2) AS sxmax,
           least(y1, y2) AS symin, greatest(y1, y2) AS symax
         FROM (
           SELECT TripId, VehicleId,
             PosX AS x1, PosY AS y1, unix_micros(t) AS tl,
             coalesce(lead(PosX) OVER w, PosX) AS x2,
             coalesce(lead(PosY) OVER w, PosY) AS y2,
             coalesce(unix_micros(lead(t) OVER w), unix_micros(t)) AS tu,
             lead(PosX) OVER w IS NULL AS last_pt,
             row_number() OVER w AS rn
           FROM TripsInput
           WINDOW w AS (PARTITION BY TripId ORDER BY t))
         WHERE NOT last_pt OR rn = 1""")
      .persist(cacheLvl).createOrReplaceTempView("Segs")

    // Segments exploded by covered (HOUR bucket × grid cell): the
    // trip-pair proximity queries (q6/q10/q16) equi-join segments on
    // (bucket, cx, cy) — pairs per key are bounded by LOCAL density
    // (segments near one place in one hour), not fleet size. An hour-only
    // key is density-quadratic: at 100x fleet in the same city, rush-hour
    // buckets hold 100x segments and pair work grows 10,000x. The cell
    // key caps that at (local density)^2 — and the cell SIZE adapts to
    // density (driver-side arithmetic over counts already in hand): at
    // 1x the extent only spans ~2x2 500 m cells, which is fine at 60
    // segs/bucket but degenerates at 10x fleet (the r4 10x scale rows'
    // superlinear growth) — halving the cell quarters per-key pair work,
    // so the size follows sqrt(target*buckets*area/segs) down to the
    // step-length floor.
    //
    // Exactness: each side pads its bbox by pad = d/2 + eps before taking
    // covered cells (d = 10 m, the largest threshold across q6/q10/q16).
    // For any pair within d there are points pa, pb with |pa-pb| <= d;
    // their midpoint m is within d/2 of both (Euclidean >= Chebyshev), so
    // m's cell is covered by both padded bboxes — every within-d pair
    // shares >= 1 (bucket, cell) key for ANY cell size (BerlinModSpec
    // diff-tests this at several sizes). Duplicate matches across shared
    // keys are absorbed by the queries' DISTINCT (q6/q16) / spanset
    // normalization (q10).
    val cellSize: Double = cellSizeOverride.getOrElse {
      // one aggregate over the (cached) instants — works for both
      // generation paths without driver-side point materialization
      val st = spark.sql(
        """SELECT min(PosX), max(PosX), min(PosY), max(PosY), count(*),
             count(DISTINCT floor(unix_millis(t) / 3600000))
           FROM TripsInput""").collect()(0)
      val area = math.max(st.getDouble(1) - st.getDouble(0), 100.0) *
        math.max(st.getDouble(3) - st.getDouble(2), 100.0)
      val raw = math.sqrt(CellTargetPerKey * st.getLong(5) * area /
        math.max(st.getLong(4), 1L))
      math.min(CellMax, math.max(CellMin, raw))
    }
    // Capsule filter on the exploded bbox cells: keep (cx, cy) only when
    // the segment's LINE straddles (or touches) the cell's pad-expanded
    // rectangle — min(corner cross products) <= 0 <= max. Combined with
    // the explode ranges (which bound the cell to the pad-expanded
    // bbox), this keeps every cell the pad-dilated segment touches plus
    // at most a couple of LINE-EXTENSION cells per endpoint (cells
    // within pad of the infinite line, inside the padded bbox, just
    // past the endpoint — the padded bbox extends pad beyond it). A
    // conservative SUPERSET of the exact capsule is exactly what the
    // join key needs: completeness is what matters (any within-d pair's
    // midpoint cell is kept on both sides — the load scaladoc
    // argument); the rare extra cell only adds a candidate that the
    // exact eDwithin/tDwithin solvers discard. For ~100 m diagonal
    // steps this prunes the bbox-corner cells the segment never
    // approaches — kept cells per segment grow ~(step/cell) instead of
    // (step/cell)^2, which is what makes the 25 m [[CellMin]] floor pay
    // at 100x density.
    // Float safety: the straddle margin for a genuinely-within-pad cell
    // is >= the 1e-6 m pad slack ~ |seg|*1e-6 in cross-product units,
    // ~6 orders above double ulp at these coordinate scales.
    spark.sql(
      s"""SELECT TripId, VehicleId, seg,
           sxmin, sxmax, symin, symax, tl, tu, bucket, cx, cy
         FROM (
           SELECT TripId, VehicleId,
             array(x1, y1, cast(tl AS double), x2, y2, cast(tu AS double)) AS seg,
             x2 - x1 AS dxs, y2 - y1 AS dys, x1, y1,
             cx * ${cellSize}D - $CellPad AS gx1,
             (cx + 1) * ${cellSize}D + $CellPad AS gx2,
             cy * ${cellSize}D - $CellPad AS gy1,
             (cy + 1) * ${cellSize}D + $CellPad AS gy2,
             sxmin, sxmax, symin, symax, tl, tu, bucket, cx, cy
           FROM Segs
           LATERAL VIEW explode(sequence(
             cast(floor(tl / 3600000000) AS bigint),
             cast(floor(tu / 3600000000) AS bigint))) bk AS bucket
           LATERAL VIEW explode(sequence(
             cast(floor((sxmin - $CellPad) / ${cellSize}D) AS int),
             cast(floor((sxmax + $CellPad) / ${cellSize}D) AS int))) cxs AS cx
           LATERAL VIEW explode(sequence(
             cast(floor((symin - $CellPad) / ${cellSize}D) AS int),
             cast(floor((symax + $CellPad) / ${cellSize}D) AS int))) cys AS cy)
         WHERE least(dxs * (gy1 - y1) - dys * (gx1 - x1),
                     dxs * (gy1 - y1) - dys * (gx2 - x1),
                     dxs * (gy2 - y1) - dys * (gx1 - x1),
                     dxs * (gy2 - y1) - dys * (gx2 - x1)) <= 0D
           AND greatest(dxs * (gy1 - y1) - dys * (gx1 - x1),
                        dxs * (gy1 - y1) - dys * (gx2 - x1),
                        dxs * (gy2 - y1) - dys * (gx1 - x1),
                        dxs * (gy2 - y1) - dys * (gx2 - x1)) >= 0D""")
      .persist(cacheLvl).createOrReplaceTempView("SegTime")
    // LIMIT-10 dimension views (ref sql/load/01_instants.sql:9-13 etc.)
    spark.sql("SELECT * FROM Licences ORDER BY LicenceId LIMIT 10")
      .createOrReplaceTempView("Licences1")
    spark.sql("SELECT * FROM Licences ORDER BY LicenceId LIMIT 10 OFFSET 10")
      .createOrReplaceTempView("Licences2")
    spark.sql("SELECT * FROM Instants ORDER BY InstantId LIMIT 10")
      .createOrReplaceTempView("Instants1")
    spark.sql("SELECT * FROM Periods ORDER BY PeriodId LIMIT 10")
      .createOrReplaceTempView("Periods1")
    spark.sql("SELECT * FROM Points ORDER BY PointId LIMIT 10")
      .createOrReplaceTempView("Points1")
    spark.sql("SELECT * FROM Regions ORDER BY RegionId LIMIT 10")
      .createOrReplaceTempView("Regions1")
    tripId
  }

  /** Trip-segment × point hits: (PointId, VehicleId, TripId) pairs where
    * the trajectory passes through the point. Equi-join on grid cell,
    * then the exact point-to-segment distance test (identical semantics
    * and epsilon to Geo.pointSegDistance < 1e-9, i.e. st_intersects of a
    * trajectory with a point) as pure codegen'd arithmetic. */
  private def segHitsSql(pointCellsView: String): String =
    s"""SELECT h.PointId, h.VehicleId, h.TripId
        FROM (
          SELECT c.*,
            CASE WHEN c.dx * c.dx + c.dy * c.dy = 0D THEN 0D
              ELSE greatest(0D, least(1D,
                ((c.px - c.x1) * c.dx + (c.py - c.y1) * c.dy)
                  / (c.dx * c.dx + c.dy * c.dy))) END AS u
          FROM (
            SELECT p.PointId, s.VehicleId, s.TripId, s.x1, s.y1,
                   s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy,
                   p.PosX AS px, p.PosY AS py
            FROM SegCells s
            JOIN $pointCellsView p ON s.cx = p.cx AND s.cy = p.cy) c) h
        WHERE (h.x1 + h.u * h.dx - h.px) * (h.x1 + h.u * h.dx - h.px)
            + (h.y1 + h.u * h.dy - h.py) * (h.y1 + h.u * h.dy - h.py)
            < 1e-18"""

  /** Per-(TripId, PeriodId) clipped trajectory length over a periods
    * view: for linear motion, length(atTime(trip, period)) = sum over
    * segments of the distance between the piece's interpolated
    * endpoints. The CASE ladders replicate TPointAlg.clipSeq's posAt
    * bit-for-bit (exact endpoint at window==instant, else
    * f = (t - t1).toDouble / (t2 - t1)). */
  private def clippedLenSql(periodsView: String): String = {
    def pos(w: String, c: String) =
      s"""(CASE WHEN $w = c.tl THEN c.${c}1 WHEN $w = c.tu THEN c.${c}2
            ELSE c.${c}1 + (c.${c}2 - c.${c}1) *
              (cast($w - c.tl AS double) / cast(c.tu - c.tl AS double)) END)"""
    s"""SELECT c.TripId, c.PeriodId,
          SUM(CASE WHEN c.shi > c.slo THEN hypot(
            ${pos("c.shi", "x")} - ${pos("c.slo", "x")},
            ${pos("c.shi", "y")} - ${pos("c.slo", "y")}) ELSE 0D END) AS len
        FROM (
          SELECT s.TripId, p.PeriodId, s.x1, s.y1, s.x2, s.y2, s.tl, s.tu,
            greatest(s.tl, unix_micros(p.Tstart)) AS slo,
            least(s.tu, unix_micros(p.Tend)) AS shi
          FROM Segs s JOIN $periodsView p
            ON s.tl <= unix_micros(p.Tend)
           AND unix_micros(p.Tstart) <= s.tu) c
        GROUP BY c.TripId, c.PeriodId"""
  }

  /** q6: eDwithin(trip1, trip2, d) = EXISTS a time-overlapping segment
    * pair whose min distance over the overlap is <= d — segment
    * (bucket, cell) equi-join + per-pair quadratic (same solver, same
    * tolerance), instead of the all-overlapping-trip-pairs BNLJ, over
    * the segment view `seg` (`SegTime`; BerlinModSpec diffs it against
    * an hour-only view). */
  private[graft] def q6Sql(seg: String): String =
    s"""WITH T AS (
         SELECT s.* FROM $seg s
         JOIN Vehicles v ON s.VehicleId = v.VehicleId
         WHERE v.VehicleType = 'truck'),
       pairs AS (
         SELECT DISTINCT a.VehicleId AS v1, b.VehicleId AS v2
         FROM T a JOIN T b
           ON ${segJoinOn("10.000001")}
          AND a.VehicleId < b.VehicleId
          AND seg_edwithin(a.seg, b.seg, 10.0D))
       SELECT va.Licence AS Licence1, vb.Licence AS Licence2
       FROM pairs
       JOIN Vehicles va ON pairs.v1 = va.VehicleId
       JOIN Vehicles vb ON pairs.v2 = vb.VehicleId
       ORDER BY Licence1, Licence2"""

  /** q10: whenTrue(tDwithin(t1, t2, d)) decomposes into the union of the
    * per-segment-pair within-d intervals (identical quadratic solver +
    * rounding), normalized and formatted once per trip pair. Duplicate
    * candidate matches across shared (bucket, cell) keys collapse in the
    * spanset normalization. Over the segment view `seg`, as [[q6Sql]]. */
  private[graft] def q10Sql(seg: String): String =
    s"""WITH cand AS (
         SELECT l1.Licence AS Licence1, b.VehicleId AS Car2Id,
           a.TripId AS TripId1, b.TripId AS TripId2,
           seg_dwithin_spans(a.seg, b.seg, 3.0D) AS sp
         FROM $seg a
         JOIN Licences1 l1 ON a.VehicleId = l1.VehicleId
         JOIN $seg b
           ON ${segJoinOn("3.000001")}
          AND a.VehicleId <> b.VehicleId)
       SELECT Licence1, Car2Id, pair_spanset_text(collect_list(sp)) AS Periods
       FROM cand WHERE sp IS NOT NULL
       GROUP BY Licence1, Car2Id, TripId1, TripId2
       ORDER BY Licence1, Car2Id, Periods"""

  /** q16 (ref query_16.sql): licence pairs whose period-clipped trips
    * BOTH intersect a region yet are always disjoint during the period —
    * `aDisjoint(atTime(t1, p), atTime(t2, p))`.
    *
    * Spark-first shape: a `hits` CTE computes each candidate trip's
    * period-clip + region-intersect ONCE per (trip, period, region) —
    * restricted to the 20 licence-view vehicles up front (broadcast
    * semi), with the flattened bbox prefilters that the reference's own
    * commented-out `&& stbox(...)` lines describe (pure supersets of the
    * exact predicates). Pairing then equi-joins hits on (region, period)
    * — bounded by the 10-row licence views regardless of fleet size —
    * and runs the exact aDisjoint solver per surviving pair. The
    * reference emits one row per qualifying (t1, t2, p, r) combination
    * (no DISTINCT); so do we. */
  private[graft] def q16Sql: String =
    s"""WITH hits AS (
         SELECT r.RegionId, p.PeriodId, p.Period, t.TripId, t.VehicleId,
           atTime(t.Trip, p.Period) AS clip
         FROM Trips t, Regions1 r, Periods1 p
         WHERE t.VehicleId IN (SELECT VehicleId FROM Licences1
                               UNION SELECT VehicleId FROM Licences2)
           AND t.txmin <= r.rxmax AND r.rxmin <= t.txmax
           AND t.tymin <= r.rymax AND r.rymin <= t.tymax
           AND t.ttmin <= p.Tend AND p.Tstart <= t.ttmax
           AND atTime(t.Trip, p.Period) IS NOT NULL
           AND st_intersects(trajectory(atTime(t.Trip, p.Period)), r.Geom))
       SELECT h1.PeriodId, asText(h1.Period) AS Period, h1.RegionId,
         l1.Licence AS Licence1, l2.Licence AS Licence2
       FROM hits h1
       JOIN Licences1 l1 ON h1.VehicleId = l1.VehicleId
       JOIN hits h2 ON h1.RegionId = h2.RegionId AND h1.PeriodId = h2.PeriodId
       JOIN Licences2 l2 ON h2.VehicleId = l2.VehicleId
       WHERE l1.Licence < l2.Licence AND aDisjoint(h1.clip, h2.clip)
       ORDER BY PeriodId, RegionId, Licence1, Licence2"""

  /** The names of [[queries]], known before a fleet is loaded. */
  val queryNames: Seq[String] = (1 to 17).map(i => s"q$i")

  /** The 17 queries (ref benchmark/BerlinMOD/sql/queries). */
  def queries(spark: SparkSession): Seq[(String, DataFrame)] = {
    val s = spark
    Seq(
      "q1" -> s.sql(
        """SELECT DISTINCT l.Licence, v.Model AS Model
           FROM Vehicles v, Licences l WHERE v.Licence = l.Licence"""),
      "q2" -> s.sql(
        """SELECT COUNT(DISTINCT Licence) AS cnt FROM Vehicles v
           WHERE VehicleType = 'passenger'"""),
      "q3" -> s.sql(
        """SELECT DISTINCT l.Licence, i.InstantId, i.Instant,
             st_astext(valueAtTimestamp(t.Trip, i.Instant)) AS Pos
           FROM Trips t, Licences1 l, Instants1 i
           WHERE t.VehicleId = l.VehicleId
             AND t.ttmin <= i.Instant AND i.Instant <= t.ttmax
           ORDER BY l.Licence, i.InstantId"""),
      "q4" -> s.sql(
        s"""WITH hits AS (${segHitsSql("PointCells")})
           SELECT DISTINCT h.PointId, v.Licence
           FROM hits h JOIN Vehicles v ON h.VehicleId = v.VehicleId
           ORDER BY h.PointId, v.Licence"""),
      "q5" -> s.sql(
        """WITH Temp1 AS (
             SELECT l1.Licence AS Licence1, st_collect(collect_list(t1.Traj)) AS Trajs
             FROM Trips t1, Licences1 l1 WHERE t1.VehicleId = l1.VehicleId
             GROUP BY l1.Licence),
           Temp2 AS (
             SELECT l2.Licence AS Licence2, st_collect(collect_list(t2.Traj)) AS Trajs
             FROM Trips t2, Licences2 l2 WHERE t2.VehicleId = l2.VehicleId
             GROUP BY l2.Licence)
           SELECT Licence1, Licence2,
             round(st_distance(t1.Trajs, t2.Trajs), 6) AS MinDist
           FROM Temp1 t1, Temp2 t2
           ORDER BY Licence1, Licence2"""),
      "q6" -> s.sql(q6Sql("SegTime")),
      "q7" -> s.sql(
        // Semantics note: atGeometry(trip, POINT) restricts to instants
        // whose position equals the point exactly (MobRestriction's atValues),
        // so MIN(startTimestamp(...)) = MIN t over exact instant matches;
        // groups where every trip contributed NULL are eliminated by the
        // `Instant <= mi` join below in the original formulation too.
        // That makes q7 a pure coordinate equi-join — no geometry calls.
        """WITH Timestamps AS (
             SELECT v.Licence, p.PointId, MIN(ti.t) AS Instant
             FROM TripsInput ti
             JOIN Points1 p ON ti.PosX = p.PosX AND ti.PosY = p.PosY
             JOIN Vehicles v ON ti.VehicleId = v.VehicleId
             WHERE v.VehicleType = 'passenger'
             GROUP BY v.Licence, p.PointId)
           SELECT Licence, PointId, Instant FROM (
             SELECT Licence, PointId, Instant,
               MIN(Instant) OVER (PARTITION BY PointId) AS mi
             FROM Timestamps)
           WHERE Instant <= mi
           ORDER BY PointId, Licence"""),
      "q8" -> s.sql(
        // SUM(length(atTime(trip, period))) decomposed to clipped-segment
        // arithmetic; the pairs CTE keeps the original group membership
        // (a pair whose spans only touch at the exclusive period end
        // contributed NULL, not 0 — the CASE preserves that)
        s"""WITH pairs AS (
             SELECT l.Licence, p.PeriodId, t.TripId,
               greatest(unix_micros(t.ttmin), unix_micros(p.Tstart)) AS g,
               least(unix_micros(t.ttmax), unix_micros(p.Tend)) AS l2,
               unix_micros(p.Tend) AS phi
             FROM Trips t, Licences1 l, Periods1 p
             WHERE t.VehicleId = l.VehicleId
               AND t.ttmin <= p.Tend AND p.Tstart <= t.ttmax),
           seglen AS (${clippedLenSql("Periods1")})
           SELECT pr.Licence, pr.PeriodId,
             round(SUM(CASE WHEN pr.g < pr.l2 OR (pr.g = pr.l2 AND pr.g <> pr.phi)
               THEN coalesce(sl.len, 0D) END), 6) AS Dist
           FROM pairs pr LEFT JOIN seglen sl
             ON pr.TripId = sl.TripId AND pr.PeriodId = sl.PeriodId
           GROUP BY pr.Licence, pr.PeriodId
           ORDER BY pr.Licence, pr.PeriodId"""),
      "q9" -> s.sql(
        s"""WITH pairs AS (
             SELECT p.PeriodId, t.VehicleId, t.TripId,
               greatest(unix_micros(t.ttmin), unix_micros(p.Tstart)) AS g,
               least(unix_micros(t.ttmax), unix_micros(p.Tend)) AS l2,
               unix_micros(p.Tend) AS phi
             FROM Trips t, Periods p
             WHERE t.ttmin <= p.Tend AND p.Tstart <= t.ttmax),
           seglen AS (${clippedLenSql("Periods")}),
           Distances AS (
             SELECT pr.PeriodId, pr.VehicleId,
               SUM(CASE WHEN pr.g < pr.l2 OR (pr.g = pr.l2 AND pr.g <> pr.phi)
                 THEN coalesce(sl.len, 0D) END) AS Dist
             FROM pairs pr LEFT JOIN seglen sl
               ON pr.TripId = sl.TripId AND pr.PeriodId = sl.PeriodId
             GROUP BY pr.PeriodId, pr.VehicleId)
           SELECT PeriodId, round(MAX(Dist), 6) AS MaxDist
           FROM Distances GROUP BY PeriodId ORDER BY PeriodId"""),
      "q10" -> s.sql(q10Sql("SegTime")),
      "q11" -> s.sql(
        """WITH Temp AS (
             SELECT p.PointId, i.InstantId, i.Instant, t.VehicleId
             FROM Trips t, Points1 p, Instants1 i
             WHERE p.PosX BETWEEN t.txmin AND t.txmax
               AND p.PosY BETWEEN t.tymin AND t.tymax
               AND t.ttmin <= i.Instant AND i.Instant <= t.ttmax
               AND st_astext(valueAtTimestamp(t.Trip, i.Instant)) = st_astext(p.Geom))
           SELECT t.PointId, t.InstantId, t.Instant, v.Licence
           FROM Temp t JOIN Vehicles v ON t.VehicleId = v.VehicleId
           ORDER BY t.PointId, t.InstantId, v.Licence"""),
      "q12" -> s.sql(
        """WITH Temp AS (
             SELECT DISTINCT p.PointId, i.InstantId, i.Instant, t.VehicleId
             FROM Trips t, Points1 p, Instants1 i
             WHERE p.PosX BETWEEN t.txmin AND t.txmax
               AND p.PosY BETWEEN t.tymin AND t.tymax
               AND t.ttmin <= i.Instant AND i.Instant <= t.ttmax
               AND st_astext(valueAtTimestamp(t.Trip, i.Instant)) = st_astext(p.Geom))
           SELECT DISTINCT t1.PointId, t1.InstantId, t1.Instant,
             v1.Licence AS Licence1, v2.Licence AS Licence2
           FROM Temp t1
           JOIN Vehicles v1 ON t1.VehicleId = v1.VehicleId
           JOIN Temp t2 ON t1.VehicleId < t2.VehicleId
             AND t1.PointId = t2.PointId AND t1.InstantId = t2.InstantId
           JOIN Vehicles v2 ON t2.VehicleId = v2.VehicleId
           ORDER BY t1.PointId, t1.InstantId, Licence1, Licence2"""),
      "q13" -> s.sql(
        """WITH Temp AS (
             SELECT DISTINCT r.RegionId, p.PeriodId, t.VehicleId
             FROM Trips t, Regions1 r, Periods1 p
             WHERE t.txmin <= r.rxmax AND r.rxmin <= t.txmax
               AND t.tymin <= r.rymax AND r.rymin <= t.tymax
               AND t.ttmin <= p.Tend AND p.Tstart <= t.ttmax
               AND atTime(t.Trip, p.Period) IS NOT NULL
               AND st_intersects(trajectory(atTime(t.Trip, p.Period)), r.Geom))
           SELECT DISTINCT t.RegionId, t.PeriodId, v.Licence
           FROM Temp t, Vehicles v WHERE t.VehicleId = v.VehicleId
           ORDER BY t.RegionId, t.PeriodId, v.Licence"""),
      "q14" -> s.sql(
        """WITH Temp AS (
             SELECT DISTINCT r.RegionId, i.InstantId, i.Instant, t.VehicleId
             FROM Trips t, Regions1 r, Instants1 i
             WHERE t.txmin <= r.rxmax AND r.rxmin <= t.txmax
               AND t.tymin <= r.rymax AND r.rymin <= t.tymax
               AND t.ttmin <= i.Instant AND i.Instant <= t.ttmax
               AND valueAtTimestamp(t.Trip, i.Instant) IS NOT NULL
               AND st_contains(r.Geom, valueAtTimestamp(t.Trip, i.Instant)))
           SELECT DISTINCT t.RegionId, t.InstantId, t.Instant, v.Licence
           FROM Temp t JOIN Vehicles v ON t.VehicleId = v.VehicleId
           ORDER BY t.RegionId, t.InstantId, v.Licence"""),
      "q15" -> s.sql(
        """WITH Temp AS (
             SELECT DISTINCT p.PointId, p.Geom, p2.PeriodId, p2.Period, t.VehicleId
             FROM Trips t, Points1 p, Periods1 p2
             WHERE p.PosX BETWEEN t.txmin AND t.txmax
               AND p.PosY BETWEEN t.tymin AND t.tymax
               AND t.ttmin <= p2.Tend AND p2.Tstart <= t.ttmax
               AND atTime(t.Trip, p2.Period) IS NOT NULL
               AND st_intersects(trajectory(atTime(t.Trip, p2.Period)), p.Geom))
           SELECT DISTINCT t.PointId, t.PeriodId, v.Licence
           FROM Temp t JOIN Vehicles v ON t.VehicleId = v.VehicleId
           ORDER BY t.PointId, t.PeriodId, v.Licence"""),
      "q16" -> s.sql(q16Sql),
      "q17" -> s.sql(
        // max-ties via one window over the 100-row aggregate (a scalar
        // subquery would recompute the whole hits CTE a second time)
        s"""WITH hits AS (${segHitsSql("PointCells")}),
           PointCount AS (
             SELECT PointId, COUNT(DISTINCT VehicleId) AS Hits
             FROM hits GROUP BY PointId)
           SELECT PointId, Hits FROM (
             SELECT PointId, Hits, MAX(Hits) OVER () AS mx FROM PointCount)
           WHERE Hits = mx
           ORDER BY PointId"""))
  }

  /** Composed-run report for the `berlinmod_e2e` gate entry: one row
    * per query with its row count and an ORDER-FREE 63-bit checksum of
    * the canonicalized result (every column cast to string under the
    * pinned UTC session zone, rows folded row-md5 -> lower-63 ->
    * bit_xor). All query values are already quantized by the queries
    * themselves (they hash-match the golden corpus per query), so the
    * checksum is deterministic across runs and machines. The driver
    * compares it against the repo-pinned constants in
    * `SparkEntry.e2ePinned` — a SELF-PINNED regression lock, not
    * independent verification: no external oracle can exist (oracle
    * DuckDB has no mobility extension, and the reference ships only
    * result CSVs, not input data — `benchmark/BerlinMOD/results/`).
    * The only driver-side reads are the 17 one-row aggregate heads. */
  def e2eReport(spark: SparkSession): DataFrame = {
    load(spark)
    val rows = queries(spark).map { case (n, df) =>
      val r = df
        .select(md5(concat_ws("\u0001",
          df.columns.map(c =>
            coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as("hx"))
        .withColumn("h", graft.util.Md5Lower64.of("hx"))
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("x"))
        .head()
      (n, r.getLong(0), r.getLong(1))
    }
    spark.createDataFrame(rows).toDF("query", "n_rows", "checksum")
  }
}
