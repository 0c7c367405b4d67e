package graft.functions

import org.apache.spark.sql.types._

import graft.core._
import graft.core.TextIO._

/** Constructors and parsers. `types` are the 28 type constructors a
  * `::T` cast targets: each parses VARCHAR input with its own grammar. */
private[functions] object MobConstructors extends MobFamily {

  private def dom(name: String): Byte =
    if (name.startsWith("bigint")) Dom.Bigint
    else if (name.startsWith("date")) Dom.Date
    else if (name.startsWith("tstz") || name == "period") Dom.Tstz
    else Dom.Int

  private def tkindOf(name: String): Byte =
    if (name.contains("bool")) Kind.Bool
    else if (name.contains("float")) Kind.Float
    else Kind.Int

  private def tnum(name: String): MobFn = {
    val k = tkindOf(name)
    fn(S.tnumFor(k)) { args =>
      (args(0), args.length) match {
        case (s: String, 1) => VTNum(parseTNum(s, Kind.tkind(k)), k)
        case (_, 2) =>
          val v = if (k == Kind.Bool) (if (args(0).asInstanceOf[Boolean]) 1.0 else 0.0)
                  else asDouble(args(0))
          VTNum(TNumAlg.instant(v, args(1).asInstanceOf[TsVal].us), k)
      }
    }
  }

  private val tpoint: MobFn = fn(S.tpoint) { args =>
    (args(0), args.length) match {
      case (s: String, 1) => VTPoint(parseTPoint(s))
      case (w: Array[Byte], 2) =>
        val (_, pts) = Wkb.read(w)
        VTPoint(TPointAlg.instant(pts.head._1, pts.head._2, args(1).asInstanceOf[TsVal].us))
    }
  }

  /** The bounds of `span(lo, hi[, lowerInc, upperInc])`: `[lo, hi)` by default. */
  private def bounds(args: Array[Any]): (Boolean, Boolean) =
    if (args.length == 4) (args(2).asInstanceOf[Boolean], args(3).asInstanceOf[Boolean])
    else (true, false)

  /** The optional (interp, lowerInc, upperInc) arguments of a sequence
    * constructor. */
  private def seqOpts(args: Array[Any], default: Byte): (Byte, Boolean, Boolean) = (
    if (args.length >= 2) Interp.parse(args(1).asInstanceOf[String]) else default,
    args.length < 3 || asBool(args(2)),
    args.length < 4 || asBool(args(3)))

  private def span(name: String): MobFn = {
    val d = dom(name)
    fn(S.span) { args =>
      (args.length, args(0)) match {
        case (1, s: String) => VSpan(parseSpanL(s, Dom.textDom(d)), d)
        case (1, VTBox(b)) =>
          if (d == Dom.Tstz) VSpan(SpanL(b.tmin, b.tmax, b.tminInc, b.tmaxInc), d)
          else VSpan(SpanL(b.xmin.toLong, b.xmax.toLong, b.xminInc, b.xmaxInc), d)
        case (1, VSTBox(b)) => VSpan(SpanL(b.tmin, b.tmax, b.tminInc, b.tmaxInc), d)
        case (1, VTNum(t, _)) => VSpan(TNumAlg.timeSpan(t), d)
        case (1, TsVal(us)) => VSpan(SpanL(us, us, true, true), d)
        case (1, DateVal(dd)) => VSpan(SpanAlg.canonDiscrete(dd, dd, true, true), d)
        case (1, v) =>
          val x = asLong(v)
          VSpan(if (Dom.isDiscrete(d)) SpanAlg.canonDiscrete(x, x, true, true)
                else SpanL(x, x, true, true), d)
        case (2 | 4, _) =>
          val (lo, hi) = (args(0), args(1)) match {
            case (TsVal(x), TsVal(y)) => (x, y)
            case (DateVal(x), DateVal(y)) => (x.toLong, y.toLong)
            case (x, y) => (asLong(x), asLong(y))
          }
          val (lInc, uInc) = bounds(args)
          VSpan(SpanAlg.makeL(lo, hi, lInc, uInc, discrete = Dom.isDiscrete(d)), d)
      }
    }
  }

  /** Also the `::intset`/`::dateset`/`::tstzset` casts: a set of another
    * domain converts (dates at 00:00 UTC, instants floored to days). */
  private def set(name: String): MobFn = {
    val d = dom(name)
    fn(S.set) { args =>
      args(0) match {
        case s: String => VSet(parseSetL(s, Dom.textDom(d)), d)
        case arr: Array[Long] => VSet(SetAlg.makeL(arr), d)
        case arr: Array[Double] => VSet(SetAlg.makeL(arr.map(math.floor(_).toLong)), d)
        case VSetF(vs) => VSet(SetAlg.makeL(vs.map(math.floor(_).toLong)), d)
        case VSet(vs, sd) =>
          if (sd == Dom.Date && d == Dom.Tstz) VSet(vs.map(_ * TimeFmt.UsPerDay), d)
          else if (sd == Dom.Tstz && d == Dom.Date)
            VSet(SetAlg.makeL(vs.map(Math.floorDiv(_, TimeFmt.UsPerDay))), d)
          else VSet(vs, d)
        case TsVal(us) => VSet(Array(us), d)
        case DateVal(dd) => VSet(Array(dd.toLong), d)
        case seq: IndexedSeq[_] if seq.nonEmpty && seq.head.isInstanceOf[TsVal] =>
          VSet(SetAlg.makeL(seq.map(_.asInstanceOf[TsVal].us).toArray), d)
        case v => VSet(Array(asLong(v)), d)
      }
    }
  }

  private def spanSet(name: String): MobFn = {
    val d = dom(name)
    fn(S.spanSet) { args =>
      args(0) match {
        case s: String => VSpanSet(parseSpanSetL(s, Dom.textDom(d)), d)
        case VSpan(sp, dd) => VSpanSet(Array(sp), dd)
        case TsVal(us) => VSpanSet(Array(SpanL(us, us, true, true)), d)
        case VSet(vs, dd) => VSpanSet(SpanSetAlg.normalize(vs.map(v =>
          if (Dom.isDiscrete(dd)) SpanAlg.canonDiscrete(v, v, true, true)
          else SpanL(v, v, true, true))), dd)
        case seq: IndexedSeq[_] =>
          VSpanSet(SpanSetAlg.normalize(
            seq.map(_.asInstanceOf[VSpan].s).toArray), d)
      }
    }
  }

  private def gset(geodetic: Boolean): MobFn = fn(S.gset) { args =>
    args(0) match {
      case s: String => VGeoSet(parseGeoSet(s, geodetic))
    }
  }

  /** Also the `::tbox` cast (ref src/temporal/tbox.cpp:42-124). */
  private val tbox: MobFn = fn(S.tbox) { args =>
    def asD(x: Any): Double = x match {
      case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
    }
    def isIntLike(x: Any): Boolean = x match {
      case _: Long | _: Int => true
      case _ => false
    }
    (args.toList: @unchecked) match {
      case (s: String) :: Nil => VTBox(parseTBox(s))
      case (b: VTBox) :: Nil => b
      case VTNum(t, k) :: Nil =>
        val b = BoxAlg.tboxOfTNum(t)
        VTBox(if (k == Kind.Int)
          b.copy(xmax = b.xmax + 1, xmaxInc = false, xInt = true) else b)
      case v :: Nil if isIntLike(v) =>
        VTBox(BoxAlg.tboxFromSpanD(SpanD(asD(v), asD(v) + 1, true, false), xInt = true))
      case (v: Double) :: Nil =>
        VTBox(BoxAlg.tboxFromSpanD(SpanD(v, v, true, true)))
      case TsVal(us) :: Nil => VTBox(BoxAlg.tboxFromTs(us))
      case v :: TsVal(us) :: Nil if isIntLike(v) =>
        VTBox(BoxAlg.tbox(SpanD(asD(v), asD(v) + 1, true, false),
          SpanL(us, us, true, true), xInt = true))
      case (v: Double) :: TsVal(us) :: Nil =>
        VTBox(BoxAlg.tbox(SpanD(v, v, true, true), SpanL(us, us, true, true)))
      case v :: VSpan(t, d) :: Nil if isIntLike(v) && d == Dom.Tstz =>
        VTBox(BoxAlg.tbox(SpanD(asD(v), asD(v) + 1, true, false), t, xInt = true))
      case (v: Double) :: VSpan(t, d) :: Nil if d == Dom.Tstz =>
        VTBox(BoxAlg.tbox(SpanD(v, v, true, true), t))
      case VSpan(s, d) :: Nil if d != Dom.Tstz =>
        VTBox(BoxAlg.tboxFromSpanD(SpanD(s.lower, s.upper, s.lowerInc, s.upperInc), xInt = true))
      case VSpanF(s) :: Nil => VTBox(BoxAlg.tboxFromSpanD(s))
      case VSpan(s, d) :: Nil if d == Dom.Tstz => VTBox(BoxAlg.tboxFromTSpan(s))
      case VSpan(s, d) :: TsVal(us) :: Nil if d != Dom.Tstz =>
        VTBox(BoxAlg.tbox(SpanD(s.lower, s.upper, s.lowerInc, s.upperInc),
          SpanL(us, us, true, true), xInt = true))
      case VSpanF(s) :: TsVal(us) :: Nil =>
        VTBox(BoxAlg.tbox(s, SpanL(us, us, true, true)))
      case VSpan(s, d) :: VSpan(t, dt) :: Nil if d != Dom.Tstz && dt == Dom.Tstz =>
        VTBox(BoxAlg.tbox(SpanD(s.lower, s.upper, s.lowerInc, s.upperInc), t, xInt = true))
      case VSpanF(s) :: VSpan(t, dt) :: Nil if dt == Dom.Tstz =>
        VTBox(BoxAlg.tbox(s, t))
      case VSet(vs, d) :: Nil if d != Dom.Tstz =>
        VTBox(BoxAlg.tboxFromSpanD(SpanD(vs.head, vs.last + 1, true, false), xInt = true))
      case VSet(vs, d) :: Nil if d == Dom.Tstz =>
        VTBox(BoxAlg.tboxFromTSpan(SpanL(vs.head, vs.last, true, true)))
      case VSetF(vs) :: Nil =>
        VTBox(BoxAlg.tboxFromSpanD(SpanD(vs.head, vs.last, true, true)))
    }
  }

  /** Also the `::stbox` cast (ref src/geo/stbox.cpp:30-51). */
  private val stbox: MobFn = fn(S.stbox) { args =>
    (args.toList: @unchecked) match {
      case (s: String) :: Nil => VSTBox(parseSTBox(s))
      case (b: VSTBox) :: Nil => b
      case (w: Array[Byte]) :: Nil => VSTBox(BoxAlg.stboxFromGeom(w))
      case (w: Array[Byte]) :: TsVal(us) :: Nil => VSTBox(BoxAlg.stboxGeomTs(w, us))
      case (w: Array[Byte]) :: VSpan(s, _) :: Nil => VSTBox(BoxAlg.stboxGeomSpan(w, s))
      case VTPoint(t) :: Nil => VSTBox(TPointAlg.stbox(t))
      case TsVal(us) :: Nil =>
        VSTBox(BoxAlg.stboxFromTSpan(SpanL(us, us, true, true)))
      case VSpan(s, d) :: Nil if d == Dom.Tstz => VSTBox(BoxAlg.stboxFromTSpan(s))
    }
  }

  val types: Seq[(String, MobFn)] =
    Seq("tint", "tbool", "tfloat").map(n => n -> tnum(n)) ++
    Seq("tgeompoint", "tgeogpoint").map(_ -> tpoint) ++
    Seq("intspan", "bigintspan", "datespan", "tstzspan").map(n => n -> span(n)) ++
    Seq("intset", "bigintset", "dateset", "tstzset").map(n => n -> set(n)) ++
    Seq("intspanset", "bigintspanset", "datespanset", "tstzspanset")
      .map(n => n -> spanSet(n)) ++
    Seq("geomset" -> gset(geodetic = false), "geogset" -> gset(geodetic = true),
      "tbox" -> tbox, "stbox" -> stbox,
      "ttext" -> fn(S.ttext) { args =>
        (args(0), args.length) match {
          case (s: String, 1) => VTText(parseTText(s))
          case (s: String, 2) => VTText(TText(Subtype.Instant, Interp.None,
            Array(TTextSeq(Array(s), Array(args(1).asInstanceOf[TsVal].us), true, true))))
        }
      },
      "tgeometry" -> fn(S.tgeom) { args =>
        (args(0), args.length) match {
          case (s: String, 1) => VTGeom(parseTGeom(s))
          case (s: String, 2) => args(1) match {
            case TsVal(us) => VTGeom(TGeomAlg.instant(Wkb.fromText(s), us))
            case VSpan(sp, _) =>
              val w = Wkb.fromText(s)
              VTGeom(TGeomAlg.sequence(Array(w, w), Array(sp.lower, sp.upper),
                Interp.Step, sp.lowerInc, sp.upperInc))
          }
          case (s: String, 3) => args(1) match {
            case VSpan(sp, _) =>
              val w = Wkb.fromText(s)
              VTGeom(TGeomAlg.sequence(Array(w, w), Array(sp.lower, sp.upper),
                Interp.parse(args(2).asInstanceOf[String]), sp.lowerInc, sp.upperInc))
          }
          case (w: Array[Byte], 2) =>
            VTGeom(TGeomAlg.instant(w, args(1).asInstanceOf[TsVal].us))
        }
      },
      "floatspan" -> fn(S.spanF) { args =>
        (args.length, args(0)) match {
          case (1, s: String) => VSpanF(parseSpanD(s))
          case (1, VTBox(b)) => VSpanF(SpanD(b.xmin, b.xmax, b.xminInc, b.xmaxInc))
          case (1, VTNum(t, _)) => VSpanF(TNumAlg.valueSpan(t))
          case (1, v) => val x = asDouble(v); VSpanF(SpanD(x, x, true, true))
          case (2 | 4, _) =>
            val (lInc, uInc) = bounds(args)
            VSpanF(SpanAlg.makeD(asDouble(args(0)), asDouble(args(1)), lInc, uInc))
        }
      },
      // also the ::floatset cast of an integer set
      "floatset" -> fn(S.setF) { args =>
        args(0) match {
          case s: String => VSetF(parseSetD(s))
          case arr: Array[Double] => VSetF(SetAlg.makeD(arr))
          case v: VSetF => v
          case VSet(vs, _) => VSetF(vs.map(_.toDouble))
          case v => VSetF(Array(asDouble(v)))
        }
      },
      "textset" -> fn(S.setS) { args =>
        args(0) match {
          case s: String if args.length == 1 && s.trim.startsWith("{") => VSetS(parseSetS(s))
          case arr: Array[String] => VSetS(SetAlg.makeS(arr))
          case s: String => VSetS(Array(s))
          case v: VSetS => v
        }
      },
      "textspanset" -> fn(S.spanSetS) { args =>
        args(0) match {
          // VARCHAR cast + set→spanset widening (ref registers the type at
          // src/include/temporal/spanset.hpp:21; casts spanset.cpp:102-117)
          case s: String if s.trim.startsWith("{") => VSpanSetS(parseSpanSetS(s))
          case s: String => VSpanSetS(Array(SpanS(s, s, lowerInc = true, upperInc = true)))
          case VSetS(vs) => VSpanSetS(SpanSAlg.normalize(
            vs.map(v => SpanS(v, v, lowerInc = true, upperInc = true))))
        }
      },
      "floatspanset" -> fn(S.spanSetF) { args =>
        args(0) match {
          case s: String => VSpanSetF(parseSpanSetD(s))
          case VSpanF(sp) => VSpanSetF(Array(sp))
        }
      })

  /** Merge the instants of an array of temporal numerics into one
    * sequence (validating ascending order after a defensive sort). */
  private def seqFromTNums(args: scala.collection.Seq[Any], interp: Byte,
                           lInc: Boolean, uInc: Boolean): VTNum = {
    val parts = args.map(_.asInstanceOf[VTNum])
    val inst = parts.flatMap(p => TNumAlg.instants(p.t)).sortBy(_._2)
    val k = parts.head.kind
    if (interp == Interp.Discrete)
      VTNum(TNum(Subtype.Sequence, Interp.Discrete, Array(TNumSeq(
        inst.map(_._1).toArray, inst.map(_._2).toArray, lInc = true, uInc = true))), k)
    else
      VTNum(TNumAlg.sequence(inst.map(_._1).toArray, inst.map(_._2).toArray,
        interp, lInc, uInc), k)
  }

  private def pointSeqFromTPoints(args: scala.collection.Seq[Any], interp: Byte,
                                  lInc: Boolean, uInc: Boolean): VTPoint = {
    val parts = args.map(_.asInstanceOf[VTPoint])
    val inst = parts.flatMap(p => p.t.seqs.flatMap(s =>
      (0 until s.n).map(i => (s.xs(i), s.ys(i), s.ts(i))))).sortBy(_._3)
    val srid = parts.head.t.srid
    if (interp == Interp.Discrete)
      VTPoint(TPoint(Subtype.Sequence, Interp.Discrete, srid, Array(TPointSeq(
        inst.map(_._1).toArray, inst.map(_._2).toArray, inst.map(_._3).toArray,
        lInc = true, uInc = true))))
    else
      VTPoint(TPointAlg.sequence(inst.map(_._1).toArray, inst.map(_._2).toArray,
        inst.map(_._3).toArray, interp, lInc, uInc, srid))
  }

  private def tnumSeq(name: String): MobFn = {
    val k = tkindOf(name)
    val defInterp = if (k == Kind.Float) Interp.Linear else Interp.Step
    fn(S.tnumFor(k)) { args =>
      args(0) match {
        case t: VTNum if t.t.subtype == Subtype.Sequence && args.length == 1 =>
          t // already a sequence: identity (ref tintSeq(tint '{...}') golden)
        case t: VTNum => // subtype conversion
          seqFromTNums(Seq(t), seqOpts(args, defInterp)._1, lInc = true, uInc = true)
        case seq: IndexedSeq[_] =>
          val (interp, lInc, uInc) = seqOpts(args, defInterp)
          seqFromTNums(seq.asInstanceOf[IndexedSeq[Any]], interp, lInc, uInc)
      }
    }
  }

  private def tnumSeqSet(name: String): MobFn = {
    val k = tkindOf(name)
    val defInterp = if (k == Kind.Float) Interp.Linear else Interp.Step
    fn(S.tnumFor(k)) { args =>
      args(0) match {
        case t: VTNum => VTNum(TNumAlg.sequenceSet(t.t.seqs,
          if (t.t.interp == Interp.None || t.t.interp == Interp.Discrete) defInterp
          else t.t.interp), k)
        case seq: IndexedSeq[_] =>
          val parts = seq.map(_.asInstanceOf[VTNum])
          val interp = parts.map(_.t.interp).max
          VTNum(TNumAlg.sequenceSet(parts.flatMap(_.t.seqs).toArray,
            if (interp <= Interp.Discrete) defInterp else interp), k)
      }
    }
  }

  val entries: Seq[(String, MobFn)] = types ++
    Seq("tintseq", "tboolseq", "tfloatseq").map(n => n -> tnumSeq(n)) ++
    Seq("tintseqset", "tboolseqset", "tfloatseqset").map(n => n -> tnumSeqSet(n)) ++
    Seq(
      "period" -> span("period"),
      "spanset" -> fnBy(ts => ts.head match {
        case ArrayType(st: StructType, _) if kind0(Seq(st)) == "spanF" => S.spanSetF
        case _: StructType if kind0(ts) == "spanF" || kind0(ts) == "setF" => S.spanSetF
        case _ => S.spanSet
      }) { args =>
        args(0) match {
          case VSet(vs, dd) => VSpanSet(SpanSetAlg.normalize(vs.map(v =>
            if (Dom.isDiscrete(dd)) SpanAlg.canonDiscrete(v, v, true, true)
            else SpanL(v, v, true, true))), dd)
          case VSpan(sp, dd) => VSpanSet(Array(sp), dd)
          case VSpanF(sp) => VSpanSetF(Array(sp))
          case seq: IndexedSeq[_] if seq.nonEmpty => seq.head match {
            case VSpan(_, d) =>
              VSpanSet(SpanSetAlg.normalize(seq.map(_.asInstanceOf[VSpan].s).toArray), d)
            case VSpanF(_) =>
              val sps = seq.map(_.asInstanceOf[VSpanF].s).toArray.sortBy(x => (x.lower, x.upper))
              val out = scala.collection.mutable.ArrayBuffer[SpanD]()
              for (sp <- sps) {
                if (out.nonEmpty && (SpanAlg.overlapsD(out.last, sp) ||
                    (out.last.upper == sp.lower && (out.last.upperInc || sp.lowerInc)))) {
                  val l = out.last
                  out(out.length - 1) = SpanD(l.lower, math.max(l.upper, sp.upper), l.lowerInc,
                    if (sp.upper >= l.upper) sp.upperInc else l.upperInc)
                } else out += sp
              }
              VSpanSetF(out.toArray)
          }
        }
      },
      "set" -> fnBy(_.head match {
        case ArrayType(DoubleType, _) | ArrayType(_: DecimalType, _) => S.setF
        case ArrayType(StringType, _) => S.setS
        case _ => S.set
      }) { args =>
        args(0) match {
          case arr: Array[Long] => VSet(SetAlg.makeL(arr), Dom.Bigint)
          case arr: Array[Double] => VSetF(SetAlg.makeD(arr))
          case arr: Array[String] => VSetS(SetAlg.makeS(arr))
          case seq: IndexedSeq[_] if seq.nonEmpty && seq.head.isInstanceOf[TsVal] =>
            VSet(SetAlg.makeL(seq.map(_.asInstanceOf[TsVal].us).toArray), Dom.Tstz)
        }
      },
      "span" -> fnBy(ts => kind0(ts) match {
        case "spanSetF" | "setF" => S.spanF
        case _ => S.span
      }) { args =>
        args(0) match {
          case VSpanSet(ss, d) => VSpan(SpanSetAlg.span(ss), d)
          case VSpanSetF(ss) => VSpanF(SpanD(ss.head.lower, ss.last.upper,
            ss.head.lowerInc, ss.last.upperInc))
          case VSet(vs, d) => VSpan(SetAlg.spanOf(vs, Dom.isDiscrete(d)), d)
          case VSetF(vs) => VSpanF(SpanD(vs.head, vs.last, true, true))
          case VTNum(t, _) => VSpan(TNumAlg.timeSpan(t), Dom.Tstz)
        }
      },
      "tgeompointseq" -> fn(S.tpoint) { args =>
        val (interp, lInc, uInc) = seqOpts(args, Interp.Linear)
        args(0) match {
          case t: VTPoint => pointSeqFromTPoints(Seq(t), interp, lInc = true, uInc = true)
          case seq: IndexedSeq[_] =>
            pointSeqFromTPoints(seq.asInstanceOf[IndexedSeq[Any]], interp, lInc, uInc)
        }
      },
      "tgeompointseqset" -> fn(S.tpoint) { args =>
        args(0) match {
          case seq: IndexedSeq[_] =>
            val parts = seq.map(_.asInstanceOf[VTPoint])
            VTPoint(TPointAlg.sequenceSet(parts.flatMap(_.t.seqs).toArray,
              Interp.Linear, parts.head.t.srid))
          case t: VTPoint => VTPoint(TPointAlg.sequenceSet(t.t.seqs, Interp.Linear, t.t.srid))
        }
      },
      "tgeometryseq" -> fn(S.tgeom) { args =>
        val parts: Seq[TGeom] = args(0) match {
          case seq: IndexedSeq[_] => seq.map(_.asInstanceOf[VTGeom].t)
          case t: VTGeom => Seq(t.t)
        }
        val (interp, lInc, uInc) = seqOpts(args, Interp.Step)
        val inst = parts.flatMap(TGeomAlg.instants).sortBy(_._2)
        if (interp == Interp.Discrete)
          VTGeom(TGeom(Subtype.Sequence, Interp.Discrete, parts.head.srid,
            Array(TGeomSeq(inst.map(_._1).toArray, inst.map(_._2).toArray, true, true))))
        else VTGeom(TGeomAlg.sequence(inst.map(_._1).toArray, inst.map(_._2).toArray,
          interp, lInc, uInc, parts.head.srid))
      },
      "tgeometryinst" -> fn(S.tgeom) { args =>
        args(0) match {
          case VTGeom(t) =>
            val (w, ts) = TGeomAlg.instants(t).head
            VTGeom(TGeomAlg.instant(w, ts, t.srid))
        }
      },
      "merge" -> fnBy(_.head) { args =>
        (args(0), args(1)) match {
          case (VTGeom(x), VTGeom(y)) => VTGeom(TGeomAlg.merge(x, y))
          case (VTNum(x, k), VTNum(y, _)) => VTNum(TNumAlg.merge(x, y), k)
        }
      })
}
