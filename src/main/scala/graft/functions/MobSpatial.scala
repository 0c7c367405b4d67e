package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core._

/** Restriction, the temporal algebra: clip a temporal value to times,
  * values or a geometry (NULL when the restriction is empty). */
private[functions] object MobRestriction extends MobFamily {

  private val atValues: MobFn = fnBy(_.head) { args =>
    (args(0), args(1)) match {
      case (VTNum(t, k), v: Boolean) =>
        TNumAlg.atValue(t, if (v) 1.0 else 0.0).map(VTNum(_, k)).orNull
      case (VTNum(t, k), v) => TNumAlg.atValue(t, asDouble(v)).map(VTNum(_, k)).orNull
      case (VTPoint(t), w: Array[Byte]) =>
        val (_, pts) = Wkb.read(w)
        // restrict to times the point is exactly at the given position
        val spans = scala.collection.mutable.ArrayBuffer[SpanL]()
        for (s <- t.seqs; i <- 0 until s.n
             if s.xs(i) == pts.head._1 && s.ys(i) == pts.head._2)
          spans += SpanL(s.ts(i), s.ts(i), true, true)
        if (spans.isEmpty) null
        else TPointAlg.atTimeSpanSet(t, SpanSetAlg.normalize(spans.toArray)).map(VTPoint).orNull
    }
  }

  val entries: Seq[(String, MobFn)] = Seq(
    "atvalues" -> atValues,
    "attime" -> fnBy(_.head) { args =>
      (args(0), args(1)) match {
        case (VTNum(t, k), VSpan(w, _)) => TNumAlg.atTimeSpan(t, w).map(VTNum(_, k)).orNull
        case (VTNum(t, k), VSpanSet(ws, _)) => TNumAlg.atTimeSpanSet(t, ws).map(VTNum(_, k)).orNull
        case (VTNum(t, k), TsVal(us)) =>
          TNumAlg.atTimeSpan(t, SpanL(us, us, true, true)).map(VTNum(_, k)).orNull
        case (VTPoint(t), VSpan(w, _)) => TPointAlg.atTimeSpan(t, w).map(VTPoint).orNull
        case (VTPoint(t), VSpanSet(ws, _)) => TPointAlg.atTimeSpanSet(t, ws).map(VTPoint).orNull
        case (VTPoint(t), TsVal(us)) =>
          TPointAlg.atTimeSpan(t, SpanL(us, us, true, true)).map(VTPoint).orNull
      }
    },
    "valueattimestamp" -> fnBy(ts => kind0(ts) match {
      case "tpoint" | "tgeom" => BinaryType
      case "ttext" => StringType
      case "tnumI" => LongType
      case "tnumB" => BooleanType
      case _ => DoubleType
    }) { args =>
      (args(0), args(1)) match {
        case (VTNum(t, k), TsVal(us)) => TNumAlg.valueAt(t, us).map { v =>
          if (k == Kind.Int) Long.box(v.toLong)
          else if (k == Kind.Bool) Boolean.box(v != 0.0) else Double.box(v)
        }.orNull
        case (VTPoint(t), TsVal(us)) =>
          TPointAlg.valueAt(t, us).map { case (x, y) => Wkb.writePoint(x, y) }.orNull
      }
    },
    "atgeometry" -> fnBy(_.head) { args =>
      (args(0), args(1)) match {
        case (VTPoint(t), w: Array[Byte]) =>
          val (gt, pts) = Wkb.read(w)
          gt match {
            case Wkb.PolygonType =>
              TPointAlg.atGeometry(t, pts.dropRight(1)).map(VTPoint).orNull
            case Wkb.LineStringType =>
              TPointAlg.atLineString(t, pts).map(VTPoint).orNull
            case Wkb.PointType =>
              atValues.impl(Array(args(0), Wkb.writePoint(pts.head._1, pts.head._2)))
          }
      }
    },
    "whentrue" -> fn(S.spanSet) { args =>
      args(0) match {
        case VTNum(t, _) =>
          val spans = TNumAlg.whenTrue(t)
          if (spans.isEmpty) null else VSpanSet(spans, Dom.Tstz)
      }
    })
}

/** Spatial and spatiotemporal analytics: temporal-point measures and
  * predicates, and the duckdb-spatial `ST_*` subset over WKB. */
private[functions] object MobSpatial extends MobFamily {

  private def segPointMinDist(x0: Double, y0: Double, x1: Double, y1: Double,
                              px: Double, py: Double): Double = {
    val dx = x1 - x0; val dy = y1 - y0
    val len2 = dx * dx + dy * dy
    val u = if (len2 == 0) 0.0
            else math.max(0.0, math.min(1.0, ((px - x0) * dx + (py - y0) * dy) / len2))
    math.hypot(x0 + u * dx - px, y0 + u * dy - py)
  }

  /** WKB geometry-type byte (endianness-aware header peek, SRID/Z
    * flags masked off) — the multi-geometry measures branch on it
    * without a full parse. */
  private def wkbTypeOf(bytes: Array[Byte]): Int = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.order(if (bb.get() == 1) java.nio.ByteOrder.LITTLE_ENDIAN
             else java.nio.ByteOrder.BIG_ENDIAN)
    bb.getInt() & 0xFF
  }

  private def wkb(a: Any): Array[Byte] = a.asInstanceOf[Array[Byte]]

  private def doubles(a: Any): Array[Double] = a match {
    case d: Array[Double] => d
    case ad: ArrayData => ad.toDoubleArray()
    case s: IndexedSeq[_] => s.map(asDouble).toArray
  }

  private val trajectory: MobFn = fn(BinaryType) { args =>
    args(0) match {
      case VTPoint(t) => TPointAlg.trajectory(t)
    }
  }

  private val collect: MobFn = fn(BinaryType) { args =>
    args(0) match {
      case seq: IndexedSeq[_] =>
        Wkb.writeCollection(seq.map(_.asInstanceOf[Array[Byte]]).toArray)
      case arr: ArrayData =>
        Wkb.writeCollection((0 until arr.numElements()).map(arr.getBinary).toArray)
    }
  }

  private val distance: MobFn = fn(DoubleType) { args =>
    Geo.distance(wkb(args(0)), wkb(args(1)))
  }

  val entries: Seq[(String, MobFn)] = Seq(
    "trajectory" -> trajectory,
    "st_collect" -> collect,
    "st_distance" -> distance,
    // the reference's benchmark q5 calls the `_gs` spellings (disabled in
    // its HEAD, used by its recorded results — SURVEY §2.2)
    "trajectory_gs" -> trajectory,
    "collect_gs" -> collect,
    "distance_gs" -> distance,
    "length" -> fnBy(ts => if (kind0(ts) == "tpoint") DoubleType else IntegerType) { args =>
      args(0) match {
        case VTPoint(t) => TPointAlg.length(t)
        case s: String => s.length
      }
    },
    "speed" -> fn(DoubleType) { args =>
      args(0) match {
        case VTPoint(t) => TPointAlg.avgSpeed(t)
      }
    },
    "edwithin" -> fn(BooleanType) { args =>
      val d = asDouble(args(2))
      (args(0), args(1)) match {
        case (VTPoint(a), VTPoint(b)) => TPointAlg.eDwithin(a, b, d)
        case (VTPoint(a), w: Array[Byte]) =>
          val (_, pts) = Wkb.read(w)
          // static geometry: compare against every segment at all times
          a.seqs.exists { s => (0 until s.n - 1).exists { i =>
            segPointMinDist(s.xs(i), s.ys(i), s.xs(i + 1), s.ys(i + 1),
              pts.head._1, pts.head._2) <= d
          } || (s.n == 1 && math.hypot(s.xs(0) - pts.head._1, s.ys(0) - pts.head._2) <= d) }
      }
    },
    "adisjoint" -> fn(BooleanType) { args =>
      (args(0), args(1)) match {
        case (VTPoint(a), VTPoint(b)) => TPointAlg.aDisjoint(a, b)
      }
    },
    "tdwithin" -> fn(S.tnumB) { args =>
      (args(0), args(1)) match {
        case (VTPoint(a), VTPoint(b)) =>
          TPointAlg.tDwithin(a, b, asDouble(args(2))).map(VTNum(_, Kind.Bool)).orNull
      }
    },
    "mindistance" -> fn(DoubleType) { args =>
      (args(0), args(1)) match {
        case (VTPoint(a), VTPoint(b)) =>
          val d = TPointAlg.minDistance(a, b)
          if (d.isNaN) null else d
      }
    },
    "st_point" -> fn(BinaryType) { args =>
      Wkb.writePoint(asDouble(args(0)), asDouble(args(1)))
    },
    "st_intersects" -> fn(BooleanType) { args =>
      Geo.intersects(wkb(args(0)), wkb(args(1)))
    },
    "st_contains" -> fn(BooleanType) { args =>
      // polygon contains point
      val (_, poly) = Wkb.read(wkb(args(0)))
      val (_, pt) = Wkb.read(wkb(args(1)))
      Geo.pointInPolygon(pt(0)._1, pt(0)._2, poly.dropRight(1))
    },
    "st_geomfromtext" -> fn(BinaryType) { args =>
      Wkb.fromText(args(0).asInstanceOf[String])
    },
    // ---- r13 spatial measures (single-ring polygons; PostGIS
    // dimension semantics: area/perimeter are 0 for points/lines,
    // length is 0 for points/polygons) ----
    "st_area" -> fn(DoubleType) { args =>
      val bytes = wkb(args(0))
      wkbTypeOf(bytes) match {
        case Wkb.PolygonType => Geo.ringArea(Wkb.read(bytes)._2)
        case Wkb.MultiPolygonType =>
          // member-ordered left-to-right fold (oracle-replayable)
          var s = 0.0
          Wkb.readMultiPolygon(bytes).foreach(r => s += Geo.ringArea(r))
          s
        case _ => 0.0
      }
    },
    "st_perimeter" -> fn(DoubleType) { args =>
      val bytes = wkb(args(0))
      wkbTypeOf(bytes) match {
        case Wkb.PolygonType => Geo.ringPerimeter(Wkb.read(bytes)._2)
        case Wkb.MultiPolygonType =>
          var s = 0.0
          Wkb.readMultiPolygon(bytes)
            .foreach(r => s += Geo.ringPerimeter(r))
          s
        case _ => 0.0
      }
    },
    "st_length" -> fn(DoubleType) { args =>
      val bytes = wkb(args(0))
      wkbTypeOf(bytes) match {
        case Wkb.LineStringType => Geo.ringPerimeter(Wkb.read(bytes)._2)
        case Wkb.MultiLineStringType =>
          // piece-ordered left-to-right fold (oracle-replayable)
          var s = 0.0
          Wkb.readMultiLineString(bytes)
            .foreach(p => s += Geo.ringPerimeter(p))
          s
        case _ => 0.0
      }
    },
    "st_npoints" -> fn(IntegerType) { args =>
      val bytes = wkb(args(0))
      wkbTypeOf(bytes) match {
        case Wkb.MultiLineStringType =>
          Wkb.readMultiLineString(bytes).map(_.length).sum
        case Wkb.MultiPolygonType =>
          Wkb.readMultiPolygon(bytes).map(_.length).sum
        case _ => Wkb.read(bytes)._2.length
      }
    },
    "st_isvalid" -> fn(BooleanType) { args =>
      val (gt, pts) = Wkb.read(wkb(args(0)))
      if (gt == Wkb.PolygonType) Geo.ringIsValid(pts) else true
    },
    "st_centroid" -> fn(BinaryType) { args =>
      val (gt, pts) = Wkb.read(wkb(args(0)))
      gt match {
        case Wkb.PolygonType =>
          val (cx, cy) = Geo.ringCentroid(pts)
          Wkb.writePoint(cx, cy)
        case Wkb.LineStringType =>
          // length-weighted midpoint (the PostGIS linestring centroid)
          var len = 0.0; var sx = 0.0; var sy = 0.0
          for (i <- 0 until pts.length - 1) {
            val (x0, y0) = pts(i); val (x1, y1) = pts(i + 1)
            // sqrt (not hypot) for bit-exact parity with
            // Geo.ringPerimeter's oracle-replayable convention
            val dx = x1 - x0; val dy = y1 - y0
            val l = math.sqrt(dx * dx + dy * dy)
            len += l; sx += l * (x0 + x1) / 2; sy += l * (y0 + y1) / 2
          }
          if (len == 0.0) Wkb.writePoint(pts(0)._1, pts(0)._2)
          else Wkb.writePoint(sx / len, sy / len)
        case _ => Wkb.writePoint(pts(0)._1, pts(0)._2)
      }
    },
    "st_envelope" -> fn(BinaryType) { args =>
      val (gt, pts) = Wkb.read(wkb(args(0)))
      if (gt == Wkb.PointType) Wkb.writePoint(pts(0)._1, pts(0)._2)
      else {
        val xs = pts.map(_._1); val ys = pts.map(_._2)
        val (x0, x1) = (xs.min, xs.max); val (y0, y1) = (ys.min, ys.max)
        Wkb.writePolygon(Array(
          (x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)))
      }
    },
    "st_buffer" -> fn(BinaryType) { args =>
      val (gt, pts) = Wkb.read(wkb(args(0)))
      gt match {
        case Wkb.PointType =>
          val nseg = if (args.length >= 3) asLong(args(2)).toInt else 8
          Wkb.writePolygon(
            Geo.pointBuffer(pts(0)._1, pts(0)._2, asDouble(args(1)), nseg))
        case Wkb.LineStringType =>
          // single-segment FLAT-CAP buffer: the exact closed-form
          // rectangle (r14 verdict #3). Multi-segment lines need
          // round/miter joins whose arc points are not exactly
          // oracle-replayable — rejected, documented SURVEY §8q.
          require(pts.length == 2,
            "st_buffer: only single-segment (2-point) line buffers " +
              "are implemented (flat caps); multi-segment joins are " +
              "out of scope")
          val r = asDouble(args(1))
          val (ax, ay) = pts(0); val (bx, by) = pts(1)
          val dx = bx - ax; val dy = by - ay
          val len = math.sqrt(dx * dx + dy * dy)
          require(len > 0.0, "st_buffer: zero-length segment")
          val ux = dx / len; val uy = dy / len
          // CCW rectangle: offset ±r along the left normal (−uy, ux)
          Wkb.writePolygon(Array(
            (ax + r * uy, ay - r * ux), (bx + r * uy, by - r * ux),
            (bx - r * uy, by + r * ux), (ax - r * uy, ay + r * ux),
            (ax + r * uy, ay - r * ux)))
      }
    },
    "st_clip_rect" -> fn(BinaryType) { args =>
      // axis-aligned window clip — the exactly-oracle-replayable
      // clipping path; args: geom, xmin, ymin, xmax, ymax. Polygons
      // go through the four Sutherland–Hodgman half-plane passes
      // (geo_clip gate entry); LineStrings through the per-segment
      // Liang–Barsky trajectory tile-clip, yielding a
      // MULTILINESTRING of unmerged pieces (geo_clip_traj)
      val (gt, pts) = Wkb.read(wkb(args(0)))
      gt match {
        case Wkb.PolygonType =>
          Wkb.writePolygon(Geo.clipRect(pts, asDouble(args(1)),
            asDouble(args(2)), asDouble(args(3)), asDouble(args(4))))
        case Wkb.LineStringType =>
          Wkb.writeMultiLineString(Geo.clipLineRect(pts, asDouble(args(1)),
            asDouble(args(2)), asDouble(args(3)), asDouble(args(4))))
      }
    },
    "st_makeline" -> fn(BinaryType) { args =>
      val lxs = doubles(args(0))
      val lys = doubles(args(1))
      require(lxs.length == lys.length && lxs.length >= 2,
        "st_makeline: need matched xs/ys with >= 2 points")
      Wkb.writeLineString(lxs.zip(lys))
    },
    "st_ngeometries" -> fn(IntegerType) { args =>
      val bytes = wkb(args(0))
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.order(if (bb.get() == 1) java.nio.ByteOrder.LITTLE_ENDIAN
               else java.nio.ByteOrder.BIG_ENDIAN)
      (bb.getInt() & 0xFF) match {
        case Wkb.MultiLineStringType | Wkb.MultiPolygonType |
             Wkb.GeometryCollectionType =>
          bb.getInt()
        case _ => 1
      }
    },
    "st_diff_rect" -> fn(BinaryType) { args =>
      // axis-aligned window DIFFERENCE — the complement of
      // st_clip_rect: subject ∖ window as a MULTIPOLYGON of ≤4
      // disjoint half-plane pieces in fixed L, R, B, T order
      // (Geo.clipRectComplement); args: geom, xmin, ymin, xmax, ymax
      val (gtd, ptsd) = Wkb.read(wkb(args(0)))
      require(gtd == Wkb.PolygonType,
        "st_diff_rect: a polygon subject expected")
      Wkb.writeMultiPolygon(Geo.clipRectComplement(ptsd, asDouble(args(1)),
        asDouble(args(2)), asDouble(args(3)), asDouble(args(4))))
    },
    "st_intersection" -> fn(BinaryType) { args =>
      // general convex-window Sutherland–Hodgman: second argument
      // must be convex (checked); subject may be any simple ring
      val (gt0, sub) = Wkb.read(wkb(args(0)))
      val (gt1, clp) = Wkb.read(wkb(args(1)))
      require(gt0 == Wkb.PolygonType && gt1 == Wkb.PolygonType,
        "st_intersection: two polygons expected")
      Wkb.writePolygon(Geo.clipConvex(sub, clp))
    },
    "st_union_area" -> fn(DoubleType) { args =>
      // inclusion–exclusion union MEASURE for a convex second operand:
      // area(a) + area(b) − area(a ∩ b). The union GEOMETRY itself
      // (multi-ring boundary tracing) is out of scope — SURVEY §8q.
      val (gt0, sub) = Wkb.read(wkb(args(0)))
      val (gt1, clp) = Wkb.read(wkb(args(1)))
      require(gt0 == Wkb.PolygonType && gt1 == Wkb.PolygonType,
        "st_union_area: two polygons expected")
      Geo.ringArea(sub) + Geo.ringArea(clp) -
        Geo.ringArea(Geo.clipConvex(sub, clp))
    },
    "st_makepolygon" -> fn(BinaryType) { args =>
      val xs = doubles(args(0))
      val ys = doubles(args(1))
      require(xs.length == ys.length && xs.length >= 4,
        "st_makepolygon: need matched xs/ys with a closed ring (>= 4)")
      require(xs.head == xs.last && ys.head == ys.last,
        "st_makepolygon: ring must be closed (first point == last point)")
      Wkb.writePolygon(xs.zip(ys))
    },
    // elements formatted as text (sqllogictest-compatible rendering)
    "set_elements" -> fn(ArrayType(StringType, containsNull = false)) { args =>
      args(0) match {
        case VSet(vs, d) => vs.map(v => d match {
          case Dom.Date => TimeFmt.printDate(v)
          case Dom.Tstz => TimeFmt.printTs(v)
          case _ => v.toString
        }).toSeq
        case VSetF(vs) => vs.map(TimeFmt.printFloat).toSeq
        case VSetS(vs) => vs.toSeq
      }
    },
    "st_x" -> fn(DoubleType) { args => Wkb.read(wkb(args(0)))._2.head._1 },
    "st_y" -> fn(DoubleType) { args => Wkb.read(wkb(args(0)))._2.head._2 },
    "st_transform" -> fn(BinaryType) { args =>
      // 3-component path first (r14 verdict #6): a PointZ with
      // (src, dst) codes — compound ones included — transforms
      // horizontally and passes the height through as the documented
      // vertical identity; a 2D read of a PointZ would silently lose z
      val zIn =
        if (args.length >= 3) Wkb.readPointZ(wkb(args(0)))
        else None
      zIn match {
        case Some((px, py, pz)) =>
          val (x2, y2, z2) = Crs.transformBetween3(
            asLong(args(1)).toInt, asLong(args(2)).toInt, px, py, pz)
          Wkb.writePointZ(x2, y2, z2)
        case None =>
          val (gt, pts) = Wkb.read(wkb(args(0)))
          // 1-arg legacy form: 4326 → web mercator; 3-arg form:
          // (geom, srcSrid, dstSrid) through the full registry (and any
          // shipped NTv2 grids) via the 4326 pivot
          val conv =
            if (args.length >= 3)
              pts.map(p => Crs.transformBetween(
                asLong(args(1)).toInt, asLong(args(2)).toInt, p._1, p._2))
            else pts.map(p => Geo.lonLatToMercator(p._1, p._2))
          gt match {
            case Wkb.PointType => Wkb.writePoint(conv.head._1, conv.head._2)
            case Wkb.LineStringType => Wkb.writeLineString(conv)
            case Wkb.PolygonType => Wkb.writePolygon(conv)
          }
      }
    })
}

/** Topological operators: the rewriter maps `&&`, `@>`, `<@` and `-|-`
  * to these names (SURVEY §2.2 note). */
private[functions] object MobTopology extends MobFamily {

  private def overlaps(a: Any, b: Any): Boolean = (a, b) match {
    case (VSTBox(x), VSTBox(y)) => BoxAlg.overlapsST(x, y)
    case (VTPoint(t), VSTBox(y)) => BoxAlg.overlapsST(TPointAlg.stbox(t), y)
    case (VSTBox(y), VTPoint(t)) => BoxAlg.overlapsST(y, TPointAlg.stbox(t))
    case (VTPoint(t), VSpan(s, _)) => SpanAlg.overlaps(TPointAlg.timeSpan(t), s)
    case (VSpan(s, _), VTPoint(t)) => SpanAlg.overlaps(s, TPointAlg.timeSpan(t))
    case (VTPoint(t), VTPoint(u)) =>
      BoxAlg.overlapsST(TPointAlg.stbox(t), TPointAlg.stbox(u))
    case (VTBox(x), VTBox(y)) => BoxAlg.overlapsT(x, y)
    case (VTNum(t, _), VSpan(s, _)) => SpanAlg.overlaps(TNumAlg.timeSpan(t), s)
    case (VSpan(s, _), VTNum(t, _)) => SpanAlg.overlaps(s, TNumAlg.timeSpan(t))
    case (VTNum(t, _), VTBox(y)) => BoxAlg.overlapsT(BoxAlg.tboxOfTNum(t), y)
    case (VSpan(x, _), VSpan(y, _)) => SpanAlg.overlaps(x, y)
    case (VSpanF(x), VSpanF(y)) => SpanAlg.overlapsD(x, y)
    case (VSpanSet(x, _), VSpan(y, _)) => SpanSetAlg.overlapsSpan(x, y)
    case (VSpan(y, _), VSpanSet(x, _)) => SpanSetAlg.overlapsSpan(x, y)
    case (VSpanSet(x, _), VSpanSet(y, _)) => y.exists(SpanSetAlg.overlapsSpan(x, _))
    case (VSet(x, _), VSet(y, _)) => SetAlg.interL(x, y).nonEmpty
  }

  private def contains(a: Any, b: Any): Boolean = (a, b) match {
    case (VSpan(s, _), TsVal(us)) => SpanAlg.containsValue(s, us)
    case (VSpan(s, _), DateVal(d)) => SpanAlg.containsValue(s, d)
    case (VSpan(s, _), VSpan(t, _)) => SpanAlg.containsSpan(s, t)
    case (VSpanF(s), VSpanF(t)) => SpanAlg.containsSpanD(s, t)
    case (VSpan(s, _), x: Long) => SpanAlg.containsValue(s, x)
    case (VSpan(s, _), x: Int) => SpanAlg.containsValue(s, x.toLong)
    case (VSpanF(s), x: Double) => SpanAlg.containsValueD(s, x)
    case (VSpanSet(ss, _), TsVal(us)) => SpanSetAlg.contains(ss, us)
    case (VSpanSet(ss, _), VSpan(t, _)) =>
      SpanSetAlg.intersectionSpan(ss, t).map(SpanAlg.widthL).sum == SpanAlg.widthL(t)
    case (VSTBox(x), VSTBox(y)) => BoxAlg.containsST(x, y)
    case (VSTBox(x), VTPoint(t)) => BoxAlg.containsST(x, TPointAlg.stbox(t))
    case (VTPoint(t), VSTBox(x)) => BoxAlg.containsST(TPointAlg.stbox(t), x)
    case (VTBox(x), VTBox(y)) => BoxAlg.containsT(x, y)
    case (VSet(x, _), VSet(y, _)) => y.forall(x.toSet)
    case (VSpan(s, _), VSet(y, _)) => y.forall(SpanAlg.containsValue(s, _))
  }

  val entries: Seq[(String, MobFn)] = Seq(
    "op_overlaps" -> fn(BooleanType) { args => overlaps(args(0), args(1)) },
    "op_contains" -> fn(BooleanType) { args => contains(args(0), args(1)) },
    "op_contained" -> fn(BooleanType) { args => contains(args(1), args(0)) },
    "op_adjacent" -> fn(BooleanType) { args =>
      (args(0), args(1)) match {
        case (VSpan(a, _), VSpan(b, _)) => SpanAlg.adjacent(a, b)
      }
    })
}
