package graft.functions

import org.apache.spark.sql.types._

import graft.core._
import graft.core.TextIO._

/** Text output: asText/asEWKT, the DuckDB-spatial WKT of `::GEOMETRY`,
  * subtype and interpolation names. */
private[functions] object MobOutput extends MobFamily {

  /** DuckDB-spatial style WKT rendering (space after tag, comma-space):
    * `LINESTRING (1 1, 2 2)` — used for ::GEOMETRY casts. */
  private def duckWkt(wkb: Array[Byte]): String = {
    if (((java.nio.ByteBuffer.wrap(wkb)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(1)) & 0xFF) ==
        Wkb.GeometryCollectionType)
      return Wkb.collectionMembers(wkb).map(duckWkt)
        .mkString("GEOMETRYCOLLECTION (", ", ", ")")
    val (t, pts) = Wkb.read(wkb)
    def f(p: (Double, Double)) = s"${TimeFmt.printFloat(p._1)} ${TimeFmt.printFloat(p._2)}"
    t match {
      case Wkb.PointType => s"POINT (${f(pts.head)})"
      case Wkb.LineStringType => pts.map(f).mkString("LINESTRING (", ", ", ")")
      case Wkb.PolygonType => pts.map(f).mkString("POLYGON ((", ", ", "))")
    }
  }

  /** (subtype, interpolation) of a temporal value. */
  private def header(v: Any): (Byte, Byte) = v match {
    case VTNum(t, _) => (t.subtype, t.interp)
    case VTText(t) => (t.subtype, t.interp)
    case VTPoint(t) => (t.subtype, t.interp)
    case VTGeom(t) => (t.subtype, t.interp)
  }

  private val geometry: MobFn = fn(StringType) { args =>
    args(0) match {
      case w: Array[Byte] => duckWkt(w)
      // STBOX -> its spatial footprint (ref `geometry(STBOX)` cast,
      // src/geo/stbox.cpp:140-152 Stbox_to_geo): point if degenerate,
      // corner-ring polygon otherwise
      case VSTBox(b) if b.hasX =>
        if (b.xmin == b.xmax && b.ymin == b.ymax)
          duckWkt(Wkb.writePoint(b.xmin, b.ymin))
        else duckWkt(Wkb.writePolygon(Array(
          (b.xmin, b.ymin), (b.xmax, b.ymin), (b.xmax, b.ymax),
          (b.xmin, b.ymax), (b.xmin, b.ymin))))
    }
  }

  val entries: Seq[(String, MobFn)] = Seq(
    "geometry" -> geometry,
    "to_geometry" -> geometry,
    "astext" -> fn(StringType) { args =>
      args(0) match {
        case VTPoint(t) => printTPointText(t)
        case VTGeom(t) => printTGeomText(t)
        case VGeoSet(g) if args.length == 2 => printGeoSetText(g, asLong(args(1)).toInt)
        case VGeoSet(g) => printGeoSetText(g)
        case VSetF(vs) if args.length == 2 => printSetD(vs, asLong(args(1)).toInt)
        case VSpanF(s) if args.length == 2 => printSpanD(s, asLong(args(1)).toInt)
        case VSpanSetF(ss) if args.length == 2 => printSpanSetD(ss, asLong(args(1)).toInt)
        case m: MobVal => MobCodec.format(m)
        case w: Array[Byte] => Wkb.asText(w)
        case s: String => s
      }
    },
    "asewkt" -> fn(StringType) { args =>
      args(0) match {
        case VTPoint(t) => printTPointEwkt(t)
        case VTGeom(t) => printTGeomEwkt(t)
        case VGeoSet(g) if args.length == 2 => printGeoSetEwkt(g, asLong(args(1)).toInt)
        case VGeoSet(g) => printGeoSetEwkt(g)
        case m: MobVal => MobCodec.format(m)
      }
    },
    "st_astext" -> fn(StringType) { args =>
      args(0) match {
        case w: Array[Byte] => duckWkt(w)
        case s: String => s
      }
    },
    "tempsubtype" -> fn(StringType) { args => Subtype.name(header(args(0))._1) },
    "interp" -> fn(StringType) { args => Interp.name(header(args(0))._2) })
}

/** Accessors of temporal values, sets, spans, spansets and boxes. */
private[functions] object MobAccessors extends MobFamily {

  private val baseType: Seq[DataType] => DataType = ts => kind0(ts) match {
    case "tnumI" | "set" => LongType
    case "tnumB" => BooleanType
    case "ttext" | "setS" => StringType
    case "tpoint" | "tgeom" | "gset" => BinaryType
    case _ => DoubleType
  }

  private def extremum(name: String): MobFn = {
    val first = name == "startvalue" || name == "minvalue"
    def pick(a: Array[_]): Any = if (first) a.head else a.last
    fnBy(baseType) { args =>
      args(0) match {
        case VTNum(t, k) =>
          val v = name match {
            case "startvalue" => TNumAlg.startValue(t)
            case "endvalue" => TNumAlg.endValue(t)
            case "minvalue" => TNumAlg.minValue(t)
            case "maxvalue" => TNumAlg.maxValue(t)
          }
          if (k == Kind.Int) v.toLong else if (k == Kind.Bool) v != 0.0 else v
        case VGeoSet(g) => pick(g.wkbs)
        case VTGeom(t) => name match {
          case "startvalue" => t.gseqs.head.ws.head
          case "endvalue" => t.gseqs.last.ws.last
        }
        case VTText(t) => name match {
          case "startvalue" => t.seqs.head.vs.head
          case "endvalue" => t.seqs.last.vs.last
          case "minvalue" => t.seqs.flatMap(_.vs).min
          case "maxvalue" => t.seqs.flatMap(_.vs).max
        }
        case VTPoint(t) => name match {
          case "startvalue" => Wkb.writePoint(t.seqs.head.xs.head, t.seqs.head.ys.head)
          case "endvalue" => Wkb.writePoint(t.seqs.last.xs.last, t.seqs.last.ys.last)
        }
        case VSet(vs, _) => pick(vs)
        case VSetF(vs) => pick(vs)
        case VSetS(vs) => pick(vs)
      }
    }
  }

  private def minMaxInstant(name: String): MobFn = fnBy(_.head) { args =>
    args(0) match {
      case VTNum(t, k) =>
        VTNum(if (name == "mininstant") TNumAlg.minInstant(t) else TNumAlg.maxInstant(t), k)
    }
  }

  /** The element of `all` that `name` picks (1-based `args(1)` for the
    * N-th form); NULL out of range. */
  private def nth[T](name: String, args: Array[Any], all: scala.collection.Seq[T])(
      f: T => Any): Any = {
    val idx =
      if (name.startsWith("start")) 0
      else if (name.startsWith("end")) all.length - 1
      else asLong(args(1)).toInt - 1
    if (idx < 0 || idx >= all.length) null else f(all(idx))
  }

  private def instant(name: String): MobFn = fnBy(_.head) { args =>
    args(0) match {
      case VTGeom(t) =>
        nth(name, args, TGeomAlg.instants(t))(i => VTGeom(TGeomAlg.instant(i._1, i._2, t.srid)))
      case VTNum(t, k) =>
        nth(name, args, TNumAlg.instants(t))(i => VTNum(TNumAlg.instant(i._1, i._2), k))
      case VTPoint(t) =>
        val all = t.seqs.flatMap(s => (0 until s.n).map(i => (s.xs(i), s.ys(i), s.ts(i))))
        nth(name, args, all)(i => VTPoint(TPointAlg.instant(i._1, i._2, i._3, t.srid)))
    }
  }

  private val startTimestamp: MobFn = fn(TimestampType) { args =>
    args(0) match {
      case VTNum(t, _) => TsVal(TNumAlg.startTimestamp(t))
      case VTText(t) => TsVal(t.seqs.head.ts.head)
      case VTPoint(t) => TsVal(TPointAlg.startTimestamp(t))
      case VTGeom(t) => TsVal(TGeomAlg.startTimestamp(t))
    }
  }

  private def sequence(name: String): MobFn = fnBy(_.head) { args =>
    args(0) match {
      case VTNum(t, k) => nth(name, args, t.seqs)(s => VTNum(TNum(Subtype.Sequence,
        if (t.interp == Interp.None) Interp.Discrete else t.interp, Array(s)), k))
    }
  }

  private def spanOf(name: String): MobFn =
    fnBy(ts => if (kind0(ts) == "spanSetF") S.spanF else S.span) { args =>
      args(0) match {
        case VSpanSet(ss, d) => nth(name, args, ss)(VSpan(_, d))
        case VSpanSetF(ss) => nth(name, args, ss)(VSpanF)
      }
    }

  private val boundType: Seq[DataType] => DataType = ts => kind0(ts) match {
    case "span" | "spanSet" => LongType
    case "spanF" | "spanSetF" => DoubleType
    case "setS" => S.setS
    case _ => StringType // string lower/upper passthrough
  }

  private val incType: Seq[DataType] => DataType = ts =>
    if (kind0(ts) == "spanSet" || kind0(ts) == "spanSetF") IntegerType else BooleanType

  /** A TBOX and STBOX accessor; a box without the dimension gives NULL. */
  private def boxes(ret: DataType)(t: TBox => Any, s: STBox => Any): MobFn =
    fn(ret) { args =>
      args(0) match {
        case VTBox(b) => t(b)
        case VSTBox(b) => s(b)
      }
    }

  private def stbox(ret: DataType)(s: STBox => Any): MobFn =
    fn(ret) { args => args(0) match { case VSTBox(b) => s(b) } }

  private def orNull(has: Boolean, v: Any): Any = if (has) v else null

  val entries: Seq[(String, MobFn)] =
    Seq("startvalue", "endvalue", "minvalue", "maxvalue").map(n => n -> extremum(n)) ++
    Seq("mininstant", "maxinstant").map(n => n -> minMaxInstant(n)) ++
    Seq("instantn", "startinstant", "endinstant").map(n => n -> instant(n)) ++
    Seq("gettimestamp", "starttimestamp").map(_ -> startTimestamp) ++
    Seq("sequencen", "startsequence", "endsequence").map(n => n -> sequence(n)) ++
    Seq("startspan", "endspan", "spann").map(n => n -> spanOf(n)) ++
    Seq(
      // estimated serialized size (documented divergence)
      "memsize" -> fn(IntegerType) { args =>
        args(0) match {
          case VSet(vs, _) => 24 + 8 * vs.length
          case VSetF(vs) => 24 + 8 * vs.length
          case VSetS(vs) => 24 + vs.map(_.length + 8).sum
          case VSpan(_, _) | VSpanF(_) => 24
          case VSpanSet(ss, _) => 40 + 24 * ss.length
          case VSpanSetF(ss) => 40 + 24 * ss.length
          case VTGeom(t) => 32 + t.gseqs.map(s => 16 + s.ws.map(_.length + 16).sum).sum
          case VGeoSet(g) => 24 + g.wkbs.map(_.length + 8).sum
          case VTNum(t, _) => 24 + t.seqs.map(s => 16 + 16 * s.n).sum
          case VTPoint(t) => 24 + t.seqs.map(s => 16 + 24 * s.n).sum
        }
      },
      "numvalues" -> fn(IntegerType) { args =>
        args(0) match {
          case VGeoSet(g) => g.wkbs.length
          case VSet(vs, _) => vs.length
          case VSetF(vs) => vs.length
          case VSetS(vs) => vs.length
          case VTNum(t, _) => TNumAlg.instants(t).map(_._1).distinct.length
        }
      },
      "numinstants" -> fn(IntegerType) { args =>
        args(0) match {
          case VTNum(t, _) => TNumAlg.numInstants(t)
          case VTText(t) => t.seqs.map(_.ts.length).sum
          case VTPoint(t) => TPointAlg.numInstants(t)
          case VTGeom(t) => TGeomAlg.numInstants(t)
        }
      },
      "numtimestamps" -> fn(IntegerType) { args =>
        args(0) match {
          case VTNum(t, _) => TNumAlg.instants(t).map(_._2).distinct.length
          case VTPoint(t) => t.seqs.flatMap(_.ts).distinct.length
        }
      },
      "valuen" -> fnBy(baseType) { args =>
        val n = asLong(args(1)).toInt
        args(0) match {
          case VTNum(t, k) => TNumAlg.valueN(t, n).map { v =>
            if (k == Kind.Int) Long.box(v.toLong)
            else if (k == Kind.Bool) Boolean.box(v != 0.0) else Double.box(v)
          }.orNull
          case VGeoSet(g) => if (n >= 1 && n <= g.wkbs.length) g.wkbs(n - 1) else null
          case VSet(vs, _) => if (n >= 1 && n <= vs.length) vs(n - 1) else null
          case VSetF(vs) => if (n >= 1 && n <= vs.length) vs(n - 1) else null
          case VSetS(vs) => if (n >= 1 && n <= vs.length) vs(n - 1) else null
        }
      },
      "getvalue" -> fnBy(baseType) { args =>
        args(0) match {
          case VTNum(t, k) =>
            val v = t.seqs.head.vs.head
            if (k == Kind.Int) v.toLong else if (k == Kind.Bool) v != 0.0 else v
          case VTText(t) => t.seqs.head.vs.head
          case VTGeom(t) => t.gseqs.head.ws.head
        }
      },
      "getvalues" -> fnBy(ts => kind0(ts) match {
        case "tnumI" => S.set
        case "ttext" => S.setS
        case _ => S.setF
      }) { args =>
        args(0) match {
          case VTNum(t, k) if k == Kind.Int =>
            VSet(SetAlg.makeL(TNumAlg.instants(t).map(_._1.toLong)), Dom.Int)
          case VTNum(t, _) => VSetF(SetAlg.makeD(TNumAlg.instants(t).map(_._1)))
          case VTText(t) => VSetS(SetAlg.makeS(t.seqs.flatMap(_.vs)))
        }
      },
      "endtimestamp" -> fn(TimestampType) { args =>
        args(0) match {
          case VTNum(t, _) => TsVal(TNumAlg.endTimestamp(t))
          case VTText(t) => TsVal(t.seqs.last.ts.last)
          case VTPoint(t) => TsVal(TPointAlg.endTimestamp(t))
        }
      },
      "gettime" -> fn(S.spanSet) { args =>
        args(0) match {
          case VTNum(t, _) => VSpanSet(TNumAlg.getTime(t), Dom.Tstz)
          case VTPoint(t) => VSpanSet(SpanSetAlg.normalize(
            t.seqs.map(s => SpanL(s.startT, s.endT, s.lInc, s.uInc))), Dom.Tstz)
        }
      },
      "duration" -> fn(DayTimeIntervalType(0, 3)) { args =>
        val bound = if (args.length >= 2) args(1).asInstanceOf[Boolean] else false
        args(0) match {
          case VTNum(t, _) => IntervalVal(TNumAlg.duration(t, bound))
          case VTPoint(t) => IntervalVal(TPointAlg.duration(t, bound))
          case VSpan(s, d) if d == Dom.Tstz => IntervalVal(SpanAlg.widthL(s))
          case VSpan(s, d) if d == Dom.Date =>
            IntervalVal(SpanAlg.widthL(s) * TimeFmt.UsPerDay)
          case VSpanSet(ss, d) if d == Dom.Tstz =>
            IntervalVal(if (bound) ss.last.upper - ss.head.lower else SpanSetAlg.width(ss))
          case VSpanSet(ss, d) if d == Dom.Date =>
            IntervalVal((if (bound) ss.last.upper - ss.head.lower
                         else SpanSetAlg.width(ss)) * TimeFmt.UsPerDay)
        }
      },
      "timespan" -> fn(S.span) { args =>
        args(0) match {
          case VTNum(t, _) => VSpan(TNumAlg.timeSpan(t), Dom.Tstz)
          case VTPoint(t) => VSpan(TPointAlg.timeSpan(t), Dom.Tstz)
          case VTGeom(t) => VSpan(TGeomAlg.timeSpan(t), Dom.Tstz)
          case VTBox(b) => VSpan(SpanL(b.tmin, b.tmax, b.tminInc, b.tmaxInc), Dom.Tstz)
          case VSTBox(b) => VSpan(SpanL(b.tmin, b.tmax, b.tminInc, b.tmaxInc), Dom.Tstz)
        }
      },
      "valuespan" -> fnBy(ts => if (kind0(ts) == "tnumI") S.span else S.spanF) { args =>
        args(0) match {
          case VTNum(t, k) if k == Kind.Int =>
            VSpan(SpanAlg.canonDiscrete(TNumAlg.minValue(t).toLong,
              TNumAlg.maxValue(t).toLong, true, true), Dom.Int)
          case VTNum(t, _) => VSpanF(TNumAlg.valueSpan(t))
        }
      },
      "valueset" -> fnBy(ts => if (kind0(ts) == "tnumI") S.set else S.setF) { args =>
        args(0) match {
          case VTNum(t, k) if k == Kind.Int =>
            VSet(SetAlg.makeL(TNumAlg.instants(t).map(_._1.toLong)), Dom.Int)
          case VTNum(t, _) => VSetF(SetAlg.makeD(TNumAlg.instants(t).map(_._1)))
        }
      },
      "sequences" -> fnBy(ts => ArrayType(ts.head, containsNull = false)) { args =>
        args(0) match {
          case VTNum(t, k) => TNumAlg.sequences(t).map(VTNum(_, k)).toSeq
          case VTPoint(t) => t.seqs.map(s =>
            VTPoint(TPoint(Subtype.Sequence, t.interp, t.srid, Array(s)))).toSeq
        }
      },
      "numsequences" -> fn(IntegerType) { args =>
        args(0) match {
          case VTNum(t, _) => t.seqs.length
          case VTPoint(t) => t.seqs.length
        }
      },
      "lower" -> fnBy(boundType) { args =>
        args(0) match {
          case VSetS(vs) => VSetS(SetAlg.makeS(vs.map(_.toLowerCase)))
          case VSpan(s, _) => s.lower
          case VSpanF(s) => s.lower
          case VSpanSet(ss, _) => ss.head.lower
          case VSpanSetF(ss) => ss.head.lower
          case s: String => s.toLowerCase
        }
      },
      "upper" -> fnBy(boundType) { args =>
        args(0) match {
          case VSetS(vs) => VSetS(SetAlg.makeS(vs.map(_.toUpperCase)))
          case VSpan(s, _) => s.upper
          case VSpanF(s) => s.upper
          case VSpanSet(ss, _) => ss.last.upper
          case VSpanSetF(ss) => ss.last.upper
          case s: String => s.toUpperCase
        }
      },
      "lowerinc" -> fnBy(incType) { args =>
        args(0) match {
          case VSpan(s, _) => s.lowerInc
          case VSpanF(s) => s.lowerInc
          case VSpanSet(ss, _) => if (ss.head.lowerInc) 1 else 0
          case VSpanSetF(ss) => if (ss.head.lowerInc) 1 else 0
        }
      },
      "upperinc" -> fnBy(incType) { args =>
        args(0) match {
          case VSpan(s, _) => s.upperInc
          case VSpanF(s) => s.upperInc
          case VSpanSet(ss, _) => if (ss.last.upperInc) 1 else 0
          case VSpanSetF(ss) => if (ss.last.upperInc) 1 else 0
        }
      },
      "width" -> fnBy(ts => kind0(ts) match {
        case "span" | "spanSet" => LongType
        case _ => DoubleType
      }) { args =>
        val bound = if (args.length >= 2) args(1).asInstanceOf[Boolean] else false
        args(0) match {
          case VSpan(s, _) => SpanAlg.widthL(s)
          case VSpanF(s) => SpanAlg.widthD(s)
          case VSpanSet(ss, _) =>
            if (bound) ss.last.upper - ss.head.lower else SpanSetAlg.width(ss)
          case VSpanSetF(ss) =>
            if (bound) ss.last.upper - ss.head.lower else ss.map(SpanAlg.widthD).sum
        }
      },
      "numspans" -> fn(IntegerType) { args =>
        args(0) match {
          case VSpanSet(ss, _) => ss.length
          case VSpanSetF(ss) => ss.length
          case VSpanSetS(ss) => ss.length
        }
      },
      "hasx" -> boxes(BooleanType)(_.hasX, _.hasX),
      "hast" -> boxes(BooleanType)(_.hasT, _.hasT),
      "hasz" -> stbox(BooleanType)(_.hasZ),
      "xmin" -> boxes(DoubleType)(b => orNull(b.hasX, b.xmin), b => orNull(b.hasX, b.xmin)),
      "xmax" -> boxes(DoubleType)(b => orNull(b.hasX, b.xmax), b => orNull(b.hasX, b.xmax)),
      "ymin" -> stbox(DoubleType)(b => orNull(b.hasX, b.ymin)),
      "ymax" -> stbox(DoubleType)(b => orNull(b.hasX, b.ymax)),
      "zmin" -> stbox(DoubleType)(b => orNull(b.hasZ, b.zmin)),
      "zmax" -> stbox(DoubleType)(b => orNull(b.hasZ, b.zmax)),
      "xmininc" -> fn(BooleanType) { _(0) match { case VTBox(b) => orNull(b.hasX, b.xminInc) } },
      "xmaxinc" -> fn(BooleanType) { _(0) match { case VTBox(b) => orNull(b.hasX, b.xmaxInc) } },
      "tmin" -> boxes(TimestampType)(
        b => orNull(b.hasT, TsVal(b.tmin)), b => orNull(b.hasT, TsVal(b.tmin))),
      "tmax" -> boxes(TimestampType)(
        b => orNull(b.hasT, TsVal(b.tmax)), b => orNull(b.hasT, TsVal(b.tmax))),
      "tmininc" -> boxes(BooleanType)(
        b => orNull(b.hasT, b.tminInc), b => orNull(b.hasT, b.tminInc)),
      "tmaxinc" -> boxes(BooleanType)(
        b => orNull(b.hasT, b.tmaxInc), b => orNull(b.hasT, b.tmaxInc)),
      "area" -> stbox(DoubleType)(BoxAlg.area),
      "isgeodetic" -> stbox(BooleanType)(_.geodetic),
      "srid" -> fn(IntegerType) { args =>
        args(0) match {
          case VSTBox(b) => b.srid
          case VTPoint(t) => t.srid
          case VTGeom(t) => t.srid
          case VGeoSet(g) => g.gsrid
        }
      })
}
