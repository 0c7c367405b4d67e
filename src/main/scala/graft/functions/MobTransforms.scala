package graft.functions

import org.apache.spark.sql.types._

import graft.core._

/** Transformations: shifts and scales of values and times, set maps,
  * box expansion, SRID and interpolation changes, the STBOX binary
  * codec. All but the codec return their first argument's type. */
private[functions] object MobTransforms extends MobFamily {

  private def same(impl: Array[Any] => Any): MobFn = fnBy(_.head)(impl)

  /** MEOS set scale: anchor at min; discrete domains scale the canonical
    * span width (w+1), continuous exactly w (goldens: scale(dateset
    * '{0,1,2}', 4) -> {0,2,5}; scale(tstzset, '1 hour') -> exact). */
  private def scaleSetL(vs: Array[Long], w: Long, discrete: Boolean): Array[Long] = {
    val lo = vs.head; val hi = vs.last
    if (hi == lo) return vs
    val factor = (if (discrete) (w + 1).toDouble else w.toDouble) / (hi - lo)
    vs.map(x => lo + math.rint((x - lo) * factor).toLong)
  }

  private def stboxToBytes(b: STBox): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * 8 + 4 + 8)
    bb.putDouble(b.xmin).putDouble(b.xmax).putDouble(b.ymin).putDouble(b.ymax)
    bb.putDouble(b.zmin).putDouble(b.zmax).putLong(b.tmin).putLong(b.tmax)
    bb.putInt(b.srid)
    var flags = 0
    if (b.tminInc) flags |= 1
    if (b.tmaxInc) flags |= 2
    if (b.geodetic) flags |= 4
    if (b.hasX) flags |= 8
    if (b.hasZ) flags |= 16
    if (b.hasT) flags |= 32
    bb.putLong(flags)
    bb.array()
  }

  private def stboxFromBytes(a: Array[Byte]): STBox = {
    val bb = java.nio.ByteBuffer.wrap(a)
    val (xmin, xmax, ymin, ymax, zmin, zmax) =
      (bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble)
    val (tmin, tmax) = (bb.getLong, bb.getLong)
    val srid = bb.getInt
    val flags = bb.getLong
    STBox(xmin, xmax, ymin, ymax, zmin, zmax, tmin, tmax,
      (flags & 1) != 0, (flags & 2) != 0, srid, (flags & 4) != 0,
      (flags & 8) != 0, (flags & 16) != 0, (flags & 32) != 0)
  }

  val entries: Seq[(String, MobFn)] = Seq(
    "shift" -> same { args =>
      (args(0), args(1)) match {
        case (VSet(vs, d), v) =>
          VSet(vs.map(_ + (if (d == Dom.Tstz) asUs(v) else asLong(v))), d)
        case (VSetF(vs), v) => VSetF(vs.map(_ + asDouble(v)))
        case (VSpan(s, d), v) =>
          VSpan(SpanAlg.shiftL(s, if (d == Dom.Tstz) asUs(v) else asLong(v)), d)
        case (VSpanF(s), v) => VSpanF(SpanAlg.shiftD(s, asDouble(v)))
        case (VSpanSet(ss, d), v) =>
          VSpanSet(ss.map(SpanAlg.shiftL(_, if (d == Dom.Tstz) asUs(v) else asLong(v))), d)
        case (VSpanSetF(ss), v) => VSpanSetF(ss.map(SpanAlg.shiftD(_, asDouble(v))))
      }
    },
    "scale" -> same { args =>
      (args(0), args(1)) match {
        case (VSet(vs, d), v) => VSet(scaleSetL(vs,
          if (d == Dom.Tstz) asUs(v) else asLong(v), Dom.isDiscrete(d)), d)
        case (VSetF(vs), v) =>
          val w = asDouble(v)
          val (lo, hi) = (vs.head, vs.last)
          VSetF(if (hi == lo) vs else vs.map(x => lo + (x - lo) * w / (hi - lo)))
        case (VSpan(s, d), v) =>
          VSpan(SpanAlg.scaleL(s, if (d == Dom.Tstz) asUs(v) else asLong(v)), d)
        case (VSpanF(s), v) => VSpanF(SpanAlg.scaleD(s, asDouble(v)))
      }
    },
    "shiftscale" -> same { args =>
      (args(0), args(1), args(2)) match {
        case (VSet(vs, d), sh, sc) =>
          val (shv, scv) = if (d == Dom.Tstz) (asUs(sh), asUs(sc)) else (asLong(sh), asLong(sc))
          VSet(scaleSetL(vs.map(_ + shv), scv, Dom.isDiscrete(d)), d)
        case (VSpan(s, d), sh, sc) =>
          val (shv, scv) = if (d == Dom.Tstz) (asUs(sh), asUs(sc)) else (asLong(sh), asLong(sc))
          VSpan(SpanAlg.scaleL(SpanAlg.shiftL(s, shv), scv), d)
        case (VSpanF(s), sh, sc) =>
          VSpanF(SpanAlg.scaleD(SpanAlg.shiftD(s, asDouble(sh)), asDouble(sc)))
      }
    },
    "round" -> same { args =>
      val digits = if (args.length >= 2) asLong(args(1)).toInt else 0
      def r(v: Double) = BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      args(0) match {
        case VSetF(vs) => VSetF(SetAlg.makeD(vs.map(r)))
        case VSpanF(s) => VSpanF(SpanD(r(s.lower), r(s.upper), s.lowerInc, s.upperInc))
        case VSpanSetF(ss) => VSpanSetF(ss.map(s => SpanD(r(s.lower), r(s.upper), s.lowerInc, s.upperInc)))
        case VTNum(t, k) => VTNum(TNum(t.subtype, t.interp,
          t.seqs.map(s => s.copy(vs = s.vs.map(r)))), k)
      }
    },
    "floor" -> same { args =>
      args(0) match {
        case VSetF(vs) => VSetF(SetAlg.makeD(vs.map(math.floor)))
      }
    },
    "ceil" -> same { args =>
      args(0) match {
        case VSetF(vs) => VSetF(SetAlg.makeD(vs.map(math.ceil)))
      }
    },
    "radians" -> same { args =>
      args(0) match {
        case VSetF(vs) => VSetF(SetAlg.makeD(vs.map(math.toRadians)))
      }
    },
    "degrees" -> same { args =>
      args(0) match {
        case VSetF(vs) =>
          val norm = args.length >= 2 && asBool(args(1))
          VSetF(SetAlg.makeD(vs.map { v =>
            val d = math.toDegrees(v)
            if (norm && (d < 0 || d >= 360)) ((d % 360) + 360) % 360 else d
          }))
      }
    },
    "initcap" -> same { args =>
      args(0) match {
        case VSetS(vs) => VSetS(SetAlg.makeS(vs.map(s =>
          if (s.isEmpty) s else s.substring(0, 1).toUpperCase + s.substring(1).toLowerCase)))
      }
    },
    "shiftvalue" -> same { args =>
      args(0) match {
        case VTNum(t, k) => VTNum(TNumAlg.shiftValue(t, asDouble(args(1))), k)
        case VTBox(b) => VTBox(BoxAlg.shiftValueT(b, asDouble(args(1))))
      }
    },
    "scalevalue" -> same { args =>
      args(0) match {
        case VTNum(t, k) => VTNum(TNumAlg.scaleValue(t, asDouble(args(1))), k)
        case VTBox(b) =>
          val w = asDouble(args(1))
          VTBox(if (b.xInt) b.copy(xmax = b.xmin + w + 1) else b.copy(xmax = b.xmin + w))
      }
    },
    "shiftscalevalue" -> same { args =>
      args(0) match {
        case VTNum(t, k) =>
          VTNum(TNumAlg.scaleValue(TNumAlg.shiftValue(t, asDouble(args(1))), asDouble(args(2))), k)
        case VTBox(b) =>
          val sh = asDouble(args(1)); val w = asDouble(args(2))
          val shifted = b.copy(xmin = b.xmin + sh, xmax = b.xmax + sh)
          VTBox(if (b.xInt) shifted.copy(xmax = shifted.xmin + w + 1)
                else shifted.copy(xmax = shifted.xmin + w))
      }
    },
    "shifttime" -> same { args =>
      val d = asUs(args(1))
      args(0) match {
        case VTNum(t, k) => VTNum(TNumAlg.shiftTime(t, d), k)
        case VTBox(b) => VTBox(BoxAlg.shiftTimeT(b, d))
        case VTPoint(t) => VTPoint(TPoint(t.subtype, t.interp, t.srid,
          t.seqs.map(s => s.copy(ts = s.ts.map(_ + d)))))
      }
    },
    "scaletime" -> same { args =>
      val d = asUs(args(1))
      args(0) match {
        case VTNum(t, k) => VTNum(TNumAlg.scaleTime(t, d), k)
        case VTBox(b) => VTBox(b.copy(tmax = b.tmin + d))
      }
    },
    "shiftscaletime" -> same { args =>
      val sh = asUs(args(1)); val sc = asUs(args(2))
      args(0) match {
        case VTNum(t, k) => VTNum(TNumAlg.scaleTime(TNumAlg.shiftTime(t, sh), sc), k)
        case VTBox(b) =>
          val shifted = BoxAlg.shiftTimeT(b, sh)
          VTBox(shifted.copy(tmax = shifted.tmin + sc))
      }
    },
    "expandvalue" -> same { args =>
      args(0) match {
        case VTBox(b) => VTBox(BoxAlg.expandValueT(b, asDouble(args(1))))
      }
    },
    "expandtime" -> same { args =>
      val d = asUs(args(1))
      args(0) match {
        case VTBox(b) => VTBox(BoxAlg.expandTimeT(b, d))
        case VSTBox(b) => VSTBox(b.copy(tmin = b.tmin - d, tmax = b.tmax + d))
      }
    },
    "expandspace" -> fn(S.stbox) { args =>
      args(0) match {
        case VSTBox(b) => VSTBox(BoxAlg.expandSpace(b, asDouble(args(1))))
        case VTPoint(t) => VSTBox(BoxAlg.expandSpace(TPointAlg.stbox(t), asDouble(args(1))))
      }
    },
    "setsrid" -> same { args =>
      args(0) match {
        case VSTBox(b) => VSTBox(b.copy(srid = asLong(args(1)).toInt))
        case VTPoint(t) => VTPoint(t.copy(srid = asLong(args(1)).toInt))
        case VTGeom(t) => VTGeom(t.copy(srid = asLong(args(1)).toInt))
        case VGeoSet(g) => VGeoSet(g.copy(gsrid = asLong(args(1)).toInt))
      }
    },
    "transform" -> same { args =>
      // closed-form transforms between any pair of compiled-in EPSG
      // codes (forward + inverse projections pivoting through 4326);
      // the full PROJ database stays out of scope (SURVEY §7)
      val target = asLong(args(1)).toInt
      args(0) match {
        case VTPoint(t) =>
          val src = if (t.srid == 0) 4326 else t.srid
          VTPoint(TPoint(t.subtype, t.interp, target, t.seqs.map { s =>
            val conv = (0 until s.n).map(i =>
              Crs.transformBetween(src, target, s.xs(i), s.ys(i)))
            s.copy(xs = conv.map(_._1).toArray, ys = conv.map(_._2).toArray)
          }))
        case VGeoSet(g) =>
          val src = if (g.gsrid == 0) 4326 else g.gsrid
          VGeoSet(g.copy(wkbs = g.wkbs.map { w =>
            val (gt, pts) = Wkb.read(w)
            val conv = pts.map { case (x, y) =>
              Crs.transformBetween(src, target, x, y) }
            gt match {
              case Wkb.PointType => Wkb.writePoint(conv(0)._1, conv(0)._2)
              case Wkb.LineStringType => Wkb.writeLineString(conv)
              case Wkb.PolygonType => Wkb.writePolygon(conv)
              case _ => throw new IllegalArgumentException("transform: geometry type")
            }
          }, gsrid = target))
      }
    },
    "setinterp" -> same { args =>
      val interp = Interp.parse(args(1).asInstanceOf[String])
      args(0) match {
        case VTNum(t, k) => VTNum(t.copy(interp = interp), k)
        case VTPoint(t) => VTPoint(t.copy(interp = interp))
        case VTGeom(t) => VTGeom(TGeomAlg.setInterp(t, interp))
      }
    },
    "asbinary" -> fn(BinaryType) { args =>
      args(0) match {
        case VSTBox(b) => stboxToBytes(b)
      }
    },
    "stboxfrombinary" -> fn(S.stbox) { args =>
      VSTBox(stboxFromBytes(args(0).asInstanceOf[Array[Byte]]))
    })
}
