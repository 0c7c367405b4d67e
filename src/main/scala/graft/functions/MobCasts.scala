package graft.functions

import graft.core._

/** `::T` casts with their own semantics (ref span.cpp:98-125,
  * spanset.cpp:140-173, tbox.cpp:42-124). An argument the cast has no
  * case for, VARCHAR included, goes to the type's constructor; where the
  * constructor already is the cast, `to_T` names it. */
private[functions] object MobCasts extends MobFamily {

  private def ctor(ty: String): MobFn = MobConstructors.types.find(_._1 == ty).get._2

  /** The cast `to_$ty`: its own cases first, else the constructor. */
  private def cast(ty: String)(own: PartialFunction[Any, Any]): (String, MobFn) = {
    val c = ctor(ty)
    s"to_$ty" -> MobFn(c.ret, args => own.applyOrElse(args(0), (_: Any) => c.impl(args)))
  }

  private def discreteSpan(ty: String, d: Byte) = cast(ty) {
    case VSet(vs, _) => VSpan(SetAlg.spanOf(vs, discrete = true), d)
    case VSpanSet(ss, _) => VSpan(SpanSetAlg.span(ss), d)
    case VSpanF(s) => VSpan(SpanAlg.canonDiscrete(
      math.floor(s.lower).toLong, math.floor(s.upper).toLong,
      s.lowerInc, s.upperInc), d)
    case VSpan(s, _) => VSpan(s, d)
  }

  private def discreteSpanSet(ty: String, d: Byte) = cast(ty) {
    case VSpan(s, _) => VSpanSet(Array(s), d)
    case VSet(vs, _) => VSpanSet(SpanSetAlg.normalize(
      vs.map(v => SpanAlg.canonDiscrete(v, v, true, true))), d)
    case VSpanSetF(ss) => VSpanSet(SpanSetAlg.normalize(ss.map(s =>
      SpanAlg.canonDiscrete(math.floor(s.lower).toLong,
        math.ceil(s.upper).toLong - 1, true, true))), d)
    case v: VSpanSet if d == Dom.Date && v.dom == Dom.Tstz =>
      VSpanSet(SpanSetAlg.normalize(v.ss.map(s => SpanL(
        Math.floorDiv(s.lower, TimeFmt.UsPerDay),
        Math.floorDiv(s.upper + TimeFmt.UsPerDay - 1, TimeFmt.UsPerDay),
        true, false))), d)
    case v: VSpanSet => VSpanSet(v.ss, d)
  }

  val entries: Seq[(String, MobFn)] =
    Seq("stbox", "tbox", "textset", "floatset", "intset", "tstzset", "dateset")
      .map(ty => s"to_$ty" -> ctor(ty)) ++
    Seq(
      discreteSpan("intspan", Dom.Int),
      discreteSpan("bigintspan", Dom.Bigint),
      discreteSpan("datespan", Dom.Date),
      discreteSpanSet("intspanset", Dom.Int),
      discreteSpanSet("bigintspanset", Dom.Bigint),
      discreteSpanSet("datespanset", Dom.Date),
      cast("tstzspan") {
        case VTPoint(t) => VSpan(TPointAlg.timeSpan(t), Dom.Tstz)
        case VSet(vs, d) if d == Dom.Tstz => VSpan(SetAlg.spanOf(vs, discrete = false), Dom.Tstz)
        case VSpanSet(ss, d) if d == Dom.Tstz => VSpan(SpanSetAlg.span(ss), Dom.Tstz)
        case v: VSpan => v
      },
      cast("floatspan") {
        case VSpan(s, d) if Dom.isDiscrete(d) =>
          VSpanF(SpanD(s.lower, s.upper - 1, true, true))
        case VSpan(s, _) => VSpanF(SpanD(s.lower, s.upper, s.lowerInc, s.upperInc))
        case VSetF(vs) => VSpanF(SpanD(vs.head, vs.last, true, true))
      },
      cast("tstzspanset") {
        case VSpanSet(ss, d) if d == Dom.Date =>
          VSpanSet(ss.map(s => SpanL(s.lower * TimeFmt.UsPerDay,
            s.upper * TimeFmt.UsPerDay, s.lowerInc, false)), Dom.Tstz)
        case VSpan(s, d) if d == Dom.Date =>
          VSpanSet(Array(SpanL(s.lower * TimeFmt.UsPerDay,
            s.upper * TimeFmt.UsPerDay, s.lowerInc, false)), Dom.Tstz)
        case VTNum(t, _) => VSpanSet(TNumAlg.getTime(t), Dom.Tstz)
        case v: VSpanSet => v
      },
      cast("floatspanset") {
        case VSpanSet(ss, d) if Dom.isDiscrete(d) => VSpanSetF(ss.map(s =>
          SpanD(s.lower, s.upper - 1, true, true)))
        case VSpanSet(ss, _) => VSpanSetF(ss.map(s =>
          SpanD(s.lower, s.upper, s.lowerInc, s.upperInc)))
        case v: VSpanSetF => v
      },
      cast("tfloat") { case VTNum(t, _) => VTNum(t, Kind.Float) })
}
