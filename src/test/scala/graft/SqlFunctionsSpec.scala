package graft

/** Drives the registered SQL functions through spark.sql — the package
  * boundary a SQL user of this library sees. Goldens from the reference's
  * sqllogictests. */
class SqlFunctionsSpec extends SessionSuite {

  override protected def cores = 2

  private def q1(sql: String): Any = spark.sql(sql).collect()(0).get(0)

  test("span constructors via SQL") {
    assert(q1("SELECT asText(intspan('[1,2]'))") == "[1, 3)")
    assert(q1("SELECT asText(tstzspan('[2000-01-01,2000-01-01]'))") ==
      "[2000-01-01 00:00:00+00, 2000-01-01 00:00:00+00]")
    assert(q1("SELECT op_contains(tstzspan('[2000-01-01,2000-01-03]'), TIMESTAMP '2000-01-02')") == true)
    assert(q1("SELECT op_contains(tstzspan('[2000-01-01,2000-01-03]'), TIMESTAMP '2000-01-10')") == false)
  }

  test("sets via SQL") {
    assert(q1("SELECT asText(intset('{-1,-3,3}'))") == "{-3, -1, 3}")
    assert(q1("SELECT asText(textset('{\"highway\", \"car\"}'))") == "{\"car\", \"highway\"}")
  }

  test("temporal constructors and accessors via SQL") {
    assert(q1("SELECT asText(tint('15@2025-01-01'))") == "15@2025-01-01 00:00:00+00")
    assert(q1("SELECT asText(tint(42, TIMESTAMP '2023-01-01 12:00:00'))") ==
      "42@2023-01-01 12:00:00+00")
    assert(q1("SELECT tempSubtype(tint('{1@2025-01-01, 2@2025-01-02}'))") == "Sequence")
    assert(q1("SELECT interp(tbool('[t@2000-01-01, f@2000-01-02]'))") == "Step")
    assert(q1("SELECT asText(tbool(true, TIMESTAMP '2012-01-01 08:00:00'))") ==
      "t@2012-01-01 08:00:00+00")
  }

  test("tgeompoint via SQL") {
    assert(q1("SELECT asText(tgeompoint('Point(1 1)@2012-01-01 08:00:00'))") ==
      "POINT(1 1)@2012-01-01 08:00:00+00")
    assert(q1("SELECT astext(tgeompoint(st_point(1, 1), TIMESTAMP '2012-01-01 08:00:00'))") ==
      "POINT(1 1)@2012-01-01 08:00:00+00")
    assert(q1("SELECT astext(to_stbox(tgeompoint('Point(1 1)@2000-01-01')))") ==
      "STBOX XT(((1,1),(1,1)),[2000-01-01 00:00:00+00, 2000-01-01 00:00:00+00])")
  }

  test("sequence aggregation pipeline: collect_list -> tgeompointseq") {
    val df = spark.createDataFrame(Seq(
      (1, 0.0, 0.0, "2000-01-01 00:00:00"),
      (1, 3.0, 4.0, "2000-01-01 00:00:10"),
      (2, 1.0, 1.0, "2000-01-01 00:00:00")
    )).toDF("id", "x", "y", "t")
    df.createOrReplaceTempView("pts")
    val r = spark.sql(
      """SELECT id, length(tgeompointseq(collect_list(
         tgeompoint(st_point(x, y), CAST(t AS TIMESTAMP))))) AS len
         FROM pts GROUP BY id ORDER BY id""").collect()
    assert(r(0).getDouble(1) == 5.0)
    assert(r(1).getDouble(1) == 0.0)
  }

  test("atTime + length + overlaps — the BerlinMOD q8 expression shape") {
    val len = q1(
      """SELECT length(atTime(
           tgeompoint('[Point(0 0)@2000-01-01 00:00:00, Point(10 0)@2000-01-01 00:00:10]'),
           tstzspan('[2000-01-01 00:00:02, 2000-01-01 00:00:07]')))""")
    assert(math.abs(len.asInstanceOf[Double] - 5.0) < 1e-9)
    assert(q1(
      """SELECT op_overlaps(
           tgeompoint('[Point(0 0)@2000-01-01 00:00:00, Point(10 0)@2000-01-01 00:00:10]'),
           tstzspan('[2000-01-01 00:00:02, 2000-01-01 00:00:07]'))""") == true)
  }

  test("duration returns a day-time interval") {
    val d = q1("SELECT duration(tint('{1@2000-01-01, 2@2000-01-03}'), true)")
    assert(d == java.time.Duration.ofDays(2))
  }

  test("whenTrue / tDwithin via SQL") {
    assert(q1(
      """SELECT asText(whenTrue(tdwithin(
          tgeompoint('[Point(0 0)@2000-01-01 00:00:00, Point(10 0)@2000-01-01 00:00:10]'),
          tgeompoint('[Point(10 0)@2000-01-01 00:00:00, Point(0 0)@2000-01-01 00:00:10]'),
          2.0)))""") ==
      "{[2000-01-01 00:00:04+00, 2000-01-01 00:00:06+00]}")
  }

  test("null propagation: atTime outside domain") {
    assert(spark.sql(
      """SELECT atTime(tint('1@2000-01-01'), tstzspan('[2010-01-01,2010-01-02]'))""")
      .collect()(0).isNullAt(0))
  }

  test("spatial-measure tier: area/perimeter/centroid/envelope/validity/" +
       "buffer over polygons (r13 duckdb-spatial subset)") {
    // unit square: closed-form everything
    val sq = "st_geomfromtext('POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))')"
    val r = spark.sql(
      s"""SELECT st_area($sq) AS a, st_perimeter($sq) AS p,
            st_npoints($sq) AS n, st_isvalid($sq) AS v,
            st_x(st_centroid($sq)) AS cx, st_y(st_centroid($sq)) AS cy,
            st_area(st_envelope($sq)) AS ea""").collect()(0)
    assert(r.getDouble(0) == 8.0 && r.getDouble(1) == 12.0)
    assert(r.getInt(2) == 5 && r.getBoolean(3))
    assert(r.getDouble(4) == 2.0 && r.getDouble(5) == 1.0)
    assert(r.getDouble(6) == 8.0)
    // a self-intersecting bowtie is invalid; the square's ring reversed
    // (CW) is still valid (validity is orientation-agnostic here)
    val bow = "st_geomfromtext('POLYGON((0 0, 2 2, 2 0, 0 2, 0 0))')"
    val cw = "st_geomfromtext('POLYGON((0 0, 0 2, 4 2, 4 0, 0 0))')"
    val r2 = spark.sql(
      s"SELECT st_isvalid($bow) AS b, st_isvalid($cw) AS c, " +
        s"st_area($cw) AS a").collect()(0)
    assert(!r2.getBoolean(0) && r2.getBoolean(1) && r2.getDouble(2) == 8.0)
    // point buffer: nseg=1 is the exact rotated square (area 2r²);
    // nseg=8 (32-gon) approximates the disc within 1%
    val r3 = spark.sql(
      """SELECT st_area(st_buffer(st_point(3.0, -1.0), 2.0, 1)) AS sq,
           st_area(st_buffer(st_point(3.0, -1.0), 2.0, 8)) AS disc,
           st_npoints(st_buffer(st_point(3.0, -1.0), 2.0, 8)) AS n,
           st_contains(st_buffer(st_point(3.0, -1.0), 2.0, 8),
             st_point(3.5, -1.2)) AS inside""").collect()(0)
    assert(r3.getDouble(0) == 8.0, s"diamond area ${r3.getDouble(0)}")
    assert(math.abs(r3.getDouble(1) - math.Pi * 4.0) < 0.01 * math.Pi * 4.0,
      s"32-gon area ${r3.getDouble(1)}")
    assert(r3.getInt(2) == 33 && r3.getBoolean(3))
    // line measures: length-weighted centroid, zero area
    val ln = "st_geomfromtext('LINESTRING(0 0, 2 0, 2 2)')"
    val r4 = spark.sql(
      s"""SELECT st_length($ln) AS l, st_area($ln) AS a,
            st_x(st_centroid($ln)) AS cx, st_y(st_centroid($ln)) AS cy""")
      .collect()(0)
    assert(r4.getDouble(0) == 4.0 && r4.getDouble(1) == 0.0)
    assert(r4.getDouble(2) == 1.5 && r4.getDouble(3) == 0.5)
  }

  test("clipping tier: st_clip_rect / st_intersection / st_union_area " +
       "closed forms, and the single-segment flat-cap line buffer " +
       "(r14 verdict #3)") {
    // 4x2 rectangle clipped by a window overlapping its right half:
    // intersection is the 2x1 rect [2,4]x[1,2] — every vertex closed-form
    val sq = "st_geomfromtext('POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))')"
    val r = spark.sql(
      s"""SELECT st_area(st_clip_rect($sq, 2.0, 1.0, 9.0, 9.0)) AS a,
            st_npoints(st_clip_rect($sq, 2.0, 1.0, 9.0, 9.0)) AS n,
            st_x(st_centroid(st_clip_rect($sq, 2.0, 1.0, 9.0, 9.0))) AS cx,
            st_y(st_centroid(st_clip_rect($sq, 2.0, 1.0, 9.0, 9.0))) AS cy,
            st_area(st_clip_rect($sq, 5.0, 0.0, 9.0, 2.0)) AS empty_a,
            st_npoints(st_clip_rect($sq, 5.0, 0.0, 9.0, 2.0)) AS empty_n"""
    ).collect()(0)
    assert(r.getDouble(0) == 2.0 && r.getInt(1) == 5)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 1.5)
    assert(r.getDouble(4) == 0.0 && r.getInt(5) == 0) // disjoint window
    // general convex S-H agrees with the axis path on the same window
    // (a quad literal standing in for st_clip_rect's bounds), and a
    // CONCAVE subject survives: the L-shape clipped by its bounding
    // square is unchanged (area 3 — boundary-coincident edges count
    // inside under the cross >= 0 test)
    val win = "st_geomfromtext('POLYGON((2 1, 9 1, 9 9, 2 9, 2 1))')"
    val ell =
      "st_geomfromtext('POLYGON((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))')"
    val lwin = "st_geomfromtext('POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))')"
    val r2 = spark.sql(
      s"""SELECT st_area(st_intersection($sq, $win)) AS a,
            st_area(st_intersection($ell, $lwin)) AS la,
            st_union_area($sq, $win) AS u""").collect()(0)
    assert(r2.getDouble(0) == 2.0, s"general-path area ${r2.getDouble(0)}")
    assert(r2.getDouble(1) == 3.0, s"concave subject area ${r2.getDouble(1)}")
    // union area by inclusion-exclusion: 8 + 56 - 2
    assert(r2.getDouble(2) == 62.0, s"union area ${r2.getDouble(2)}")
    // a non-convex CLIP polygon is rejected (S-H precondition)
    val err = intercept[Exception] {
      spark.sql(s"SELECT st_area(st_intersection($sq, $ell))").collect()
    }
    assert(err.getMessage != null)
    // single-segment flat-cap line buffer: exact 2r-by-len rectangle,
    // axis-aligned and diagonal
    val r3 = spark.sql(
      """SELECT st_area(st_buffer(
             st_geomfromtext('LINESTRING(1 1, 5 1)'), 0.5)) AS ha,
           st_npoints(st_buffer(
             st_geomfromtext('LINESTRING(1 1, 5 1)'), 0.5)) AS n,
           st_area(st_buffer(
             st_geomfromtext('LINESTRING(0 0, 3 4)'), 1.0)) AS da"""
    ).collect()(0)
    assert(r3.getDouble(0) == 4.0, s"h-buffer area ${r3.getDouble(0)}")
    assert(r3.getInt(1) == 5)
    assert(math.abs(r3.getDouble(2) - 10.0) < 1e-12,
      s"diag buffer area ${r3.getDouble(2)}")
    // multi-segment line buffers are a documented rejection
    val err2 = intercept[Exception] {
      spark.sql("""SELECT st_buffer(
        st_geomfromtext('LINESTRING(0 0, 1 0, 1 1)'), 0.5)""").collect()
    }
    assert(err2.getMessage != null)
  }

  test("trajectory tile-clip: st_clip_rect on linestrings yields " +
       "per-segment Liang-Barsky pieces (closed forms)") {
    // a diagonal through the window: one piece from t=0.25 to t=0.75
    val diag = "st_geomfromtext('LINESTRING(0 0, 10 10)')"
    val r = spark.sql(
      s"""SELECT st_ngeometries(st_clip_rect($diag, 2.5, 0.0, 7.5, 20.0)) AS n,
            st_length(st_clip_rect($diag, 2.5, 0.0, 7.5, 20.0)) AS l,
            st_npoints(st_clip_rect($diag, 2.5, 0.0, 7.5, 20.0)) AS p"""
    ).collect()(0)
    assert(r.getInt(0) == 1 && r.getInt(2) == 2)
    assert(math.abs(r.getDouble(1) - 5.0 * math.sqrt(2.0)) < 1e-12)
    // a zig-zag crossing the window twice: two pieces, each length 2
    // (horizontal runs y=1 and y=3 clipped to x in [4, 6])
    val zig = "st_geomfromtext('LINESTRING(0 1, 10 1, 10 3, 0 3)')"
    val r2 = spark.sql(
      s"""SELECT st_ngeometries(st_clip_rect($zig, 4.0, 0.0, 6.0, 5.0)) AS n,
            st_length(st_clip_rect($zig, 4.0, 0.0, 6.0, 5.0)) AS l""")
      .collect()(0)
    assert(r2.getInt(0) == 2, s"pieces ${r2.getInt(0)}")
    assert(r2.getDouble(1) == 4.0, s"len ${r2.getDouble(1)}")
    // fully outside: empty multilinestring, zero everything
    val out = "st_geomfromtext('LINESTRING(0 0, 1 0)')"
    val r3 = spark.sql(
      s"""SELECT st_ngeometries(st_clip_rect($out, 5.0, 5.0, 6.0, 6.0)) AS n,
            st_length(st_clip_rect($out, 5.0, 5.0, 6.0, 6.0)) AS l,
            st_npoints(st_clip_rect($out, 5.0, 5.0, 6.0, 6.0)) AS p""")
      .collect()(0)
    assert(r3.getInt(0) == 0 && r3.getDouble(1) == 0.0 && r3.getInt(2) == 0)
    // st_makeline + a fully-inside line: clip is the identity
    val r4 = spark.sql(
      """SELECT st_length(st_clip_rect(
           st_makeline(array(1.0D, 2.0D, 2.0D), array(1.0D, 1.0D, 3.0D)),
           0.0, 0.0, 9.0, 9.0)) AS l""").collect()(0)
    assert(r4.getDouble(0) == 3.0)
  }

  test("rect difference: st_diff_rect yields the disjoint half-plane " +
       "decomposition (closed forms + complement identity)") {
    val sq = "st_geomfromtext('POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))')"
    // window overlapping the right half: L = [0,2]x[0,2] (area 4) and
    // the band's bottom strip [2,4]x[0,1] (area 2) survive
    val r = spark.sql(
      s"""SELECT st_ngeometries(st_diff_rect($sq, 2.0, 1.0, 9.0, 9.0)) AS n,
            st_area(st_diff_rect($sq, 2.0, 1.0, 9.0, 9.0)) AS a,
            st_perimeter(st_diff_rect($sq, 2.0, 1.0, 9.0, 9.0)) AS p"""
    ).collect()(0)
    assert(r.getInt(0) == 2, s"pieces ${r.getInt(0)}")
    assert(r.getDouble(1) == 6.0, s"diff area ${r.getDouble(1)}")
    assert(r.getDouble(2) == 14.0, s"diff perim ${r.getDouble(2)}")
    // window covering the subject: empty multipolygon
    val r2 = spark.sql(
      s"""SELECT st_ngeometries(st_diff_rect($sq, -1.0, -1.0, 9.0, 9.0)) AS n,
            st_area(st_diff_rect($sq, -1.0, -1.0, 9.0, 9.0)) AS a,
            st_npoints(st_diff_rect($sq, -1.0, -1.0, 9.0, 9.0)) AS np"""
    ).collect()(0)
    assert(r2.getInt(0) == 0 && r2.getDouble(1) == 0.0 && r2.getInt(2) == 0)
    // disjoint window: the difference is the whole subject (one piece)
    val r3 = spark.sql(
      s"""SELECT st_ngeometries(st_diff_rect($sq, 5.0, 0.0, 9.0, 2.0)) AS n,
            st_area(st_diff_rect($sq, 5.0, 0.0, 9.0, 2.0)) AS a"""
    ).collect()(0)
    assert(r3.getInt(0) == 1 && r3.getDouble(1) == 8.0)
    // interior window: all four pieces survive, and the complement
    // identity area(subject) = area(clip) + area(diff) is EXACT for
    // binary-fraction vertices
    val r4 = spark.sql(
      s"""SELECT st_ngeometries(st_diff_rect($sq, 1.0, 0.5, 3.0, 1.5)) AS n,
            st_area(st_diff_rect($sq, 1.0, 0.5, 3.0, 1.5)) AS a,
            st_area(st_clip_rect($sq, 1.0, 0.5, 3.0, 1.5)) AS ca,
            st_area($sq) AS sa""").collect()(0)
    assert(r4.getInt(0) == 4, s"pieces ${r4.getInt(0)}")
    assert(r4.getDouble(1) == 6.0 && r4.getDouble(2) == 2.0)
    assert(r4.getDouble(3) == r4.getDouble(1) + r4.getDouble(2))
    // non-polygon subjects are rejected
    val err = intercept[Exception] {
      spark.sql("""SELECT st_diff_rect(
        st_geomfromtext('LINESTRING(0 0, 1 0)'), 0.0, 0.0, 1.0, 1.0)""")
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("tbox constructor overloads") {
    assert(q1("SELECT asText(tbox(10, TIMESTAMP '2000-01-01'))") ==
      "TBOXINT XT([10, 11),[2000-01-01 00:00:00+00, 2000-01-01 00:00:00+00])")
    assert(q1("SELECT asText(tbox(10.5, TIMESTAMP '2000-01-01'))") ==
      "TBOXFLOAT XT([10.5, 10.5],[2000-01-01 00:00:00+00, 2000-01-01 00:00:00+00])")
    assert(q1("SELECT asText(tbox(intspan('[1,2]'), TIMESTAMP '2000-01-01'))") ==
      "TBOXINT XT([1, 3),[2000-01-01 00:00:00+00, 2000-01-01 00:00:00+00])")
  }
}
