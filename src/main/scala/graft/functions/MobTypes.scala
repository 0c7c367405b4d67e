package graft.functions

import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** SQL-boundary value model: every mobility value crossing the Spark SQL
  * boundary is one of these Catalyst struct schemas. Unlike the reference's
  * opaque BLOBs (src/temporal/temporal.cpp:18-30) these are transparent
  * structs — column-prunable, stats-bearing, and self-describing: each
  * schema's field-name set is unique, so polymorphic functions dispatch on
  * the input schema exactly where DuckDB dispatched on the type alias.
  *
  * `dom` tags a Long-domain: 0=int, 1=bigint, 2=date(epoch days),
  * 3=tstz(epoch micros). `kind` tags a numeric temporal: 0=int, 1=float,
  * 2=bool.
  */
object Dom {
  val Int: Byte = 0
  val Bigint: Byte = 1
  val Date: Byte = 2
  val Tstz: Byte = 3
  def isDiscrete(d: Byte): Boolean = d != Tstz
  def textDom(d: Byte): TextIO.LDomain = d match {
    case 2 => TextIO.DomDate
    case 3 => TextIO.DomTs
    case _ => TextIO.DomInt
  }
}

object Kind {
  val Int: Byte = 0
  val Float: Byte = 1
  val Bool: Byte = 2
  def tkind(k: Byte): TextIO.TKind = k match {
    case 0 => TextIO.KInt
    case 1 => TextIO.KFloat
    case 2 => TextIO.KBool
  }
}

/** Decoded mobility value (internal ADT used by the dispatch layer). */
sealed trait MobVal
case class VSpan(s: SpanL, dom: Byte) extends MobVal
case class VSpanF(s: SpanD) extends MobVal
case class VSet(vs: Array[Long], dom: Byte) extends MobVal
case class VSetF(vs: Array[Double]) extends MobVal
case class VSetS(vs: Array[String]) extends MobVal
case class VSpanSet(ss: Array[SpanL], dom: Byte) extends MobVal
case class VSpanSetF(ss: Array[SpanD]) extends MobVal
case class VSpanSetS(ss: Array[SpanS]) extends MobVal
case class VTNum(t: TNum, kind: Byte) extends MobVal
case class VTGeom(t: TGeom) extends MobVal
case class VGeoSet(g: GeoSet) extends MobVal
case class VTText(t: TText) extends MobVal
case class VTPoint(t: TPoint) extends MobVal
case class VTBox(b: TBox) extends MobVal
case class VSTBox(b: STBox) extends MobVal

object MobSchemas {
  private def f(n: String, t: DataType) = StructField(n, t, nullable = false)

  val span: StructType = StructType(Seq(
    f("lower", LongType), f("upper", LongType),
    f("lowerInc", BooleanType), f("upperInc", BooleanType), f("dom", ByteType)))

  val spanF: StructType = StructType(Seq(
    f("lower", DoubleType), f("upper", DoubleType),
    f("lowerInc", BooleanType), f("upperInc", BooleanType)))

  val set: StructType = StructType(Seq(
    f("vs", ArrayType(LongType, containsNull = false)), f("dom", ByteType)))
  val setF: StructType = StructType(Seq(
    f("fvs", ArrayType(DoubleType, containsNull = false))))
  val setS: StructType = StructType(Seq(
    f("svs", ArrayType(StringType, containsNull = false))))

  val spanPlain: StructType = StructType(Seq(
    f("lower", LongType), f("upper", LongType),
    f("lowerInc", BooleanType), f("upperInc", BooleanType)))
  val spanPlainF: StructType = StructType(Seq(
    f("lower", DoubleType), f("upper", DoubleType),
    f("lowerInc", BooleanType), f("upperInc", BooleanType)))

  val spanSet: StructType = StructType(Seq(
    f("spans", ArrayType(spanPlain, containsNull = false)), f("dom", ByteType)))
  val spanSetF: StructType = StructType(Seq(
    f("fspans", ArrayType(spanPlainF, containsNull = false))))
  val spanPlainS: StructType = StructType(Seq(
    f("slower", StringType), f("supper", StringType),
    f("lowerInc", BooleanType), f("upperInc", BooleanType)))
  val spanSetS: StructType = StructType(Seq(
    f("sspans", ArrayType(spanPlainS, containsNull = false))))

  val tnumSeq: StructType = StructType(Seq(
    f("vs", ArrayType(DoubleType, containsNull = false)),
    f("ts", ArrayType(LongType, containsNull = false)),
    f("lInc", BooleanType), f("uInc", BooleanType)))

  private def tnumSchema(seqField: String): StructType = StructType(Seq(
    f("subtype", ByteType), f("interp", ByteType),
    f(seqField, ArrayType(tnumSeq, containsNull = false))))
  val tnumI: StructType = tnumSchema("iseqs")
  val tnumF: StructType = tnumSchema("fseqs")
  val tnumB: StructType = tnumSchema("bseqs")
  def tnumFor(kind: Byte): StructType = kind match {
    case 0 => tnumI
    case 1 => tnumF
    case 2 => tnumB
  }

  val ttextSeq: StructType = StructType(Seq(
    f("svs", ArrayType(StringType, containsNull = false)),
    f("ts", ArrayType(LongType, containsNull = false)),
    f("lInc", BooleanType), f("uInc", BooleanType)))

  val ttext: StructType = StructType(Seq(
    f("subtype", ByteType), f("interp", ByteType),
    f("tseqs", ArrayType(ttextSeq, containsNull = false))))

  val tpointSeq: StructType = StructType(Seq(
    f("xs", ArrayType(DoubleType, containsNull = false)),
    f("ys", ArrayType(DoubleType, containsNull = false)),
    f("ts", ArrayType(LongType, containsNull = false)),
    f("lInc", BooleanType), f("uInc", BooleanType),
    // null for 2D sequences; per-instant altitudes for 3D (Point Z)
    StructField("zs", ArrayType(DoubleType, containsNull = false),
      nullable = true)))

  val tpoint: StructType = StructType(Seq(
    f("subtype", ByteType), f("interp", ByteType), f("srid", IntegerType),
    f("pseqs", ArrayType(tpointSeq, containsNull = false))))

  val tgeomSeq: StructType = StructType(Seq(
    f("ws", ArrayType(BinaryType, containsNull = false)),
    f("ts", ArrayType(LongType, containsNull = false)),
    f("lInc", BooleanType), f("uInc", BooleanType)))

  val tgeom: StructType = StructType(Seq(
    f("subtype", ByteType), f("interp", ByteType), f("srid", IntegerType),
    f("gseqs", ArrayType(tgeomSeq, containsNull = false))))

  val gset: StructType = StructType(Seq(
    f("wkbs", ArrayType(BinaryType, containsNull = false)),
    f("gsrid", IntegerType), f("geodetic", BooleanType)))

  val tbox: StructType = StructType(Seq(
    f("xmin", DoubleType), f("xmax", DoubleType),
    f("xminInc", BooleanType), f("xmaxInc", BooleanType),
    f("tmin", LongType), f("tmax", LongType),
    f("tminInc", BooleanType), f("tmaxInc", BooleanType),
    f("hasX", BooleanType), f("hasT", BooleanType), f("xInt", BooleanType)))

  val stbox: StructType = StructType(Seq(
    f("xmin", DoubleType), f("xmax", DoubleType),
    f("ymin", DoubleType), f("ymax", DoubleType),
    f("zmin", DoubleType), f("zmax", DoubleType),
    f("tmin", LongType), f("tmax", LongType),
    f("tminInc", BooleanType), f("tmaxInc", BooleanType),
    f("srid", IntegerType), f("geodetic", BooleanType),
    f("hasX", BooleanType), f("hasZ", BooleanType), f("hasT", BooleanType)))

  private def names(st: StructType): Seq[String] = st.fields.toSeq.map(_.name)

  private lazy val signatures: Seq[(Seq[String], String)] = Seq(
    span -> "span", spanF -> "spanF", set -> "set", setF -> "setF",
    setS -> "setS", spanSet -> "spanSet", spanSetF -> "spanSetF",
    tnumI -> "tnumI", tnumF -> "tnumF", tnumB -> "tnumB", ttext -> "ttext",
    tpoint -> "tpoint", tgeom -> "tgeom", spanSetS -> "spanSetS",
    gset -> "gset", tbox -> "tbox", stbox -> "stbox")
    .map { case (st, k) => names(st) -> k }

  /** Identify one of our schemas (by field-name signature). */
  def kindOf(dt: DataType): Option[String] = dt match {
    case st: StructType =>
      val n = names(st)
      signatures.collectFirst { case (sig, k) if sig == n => k }
    case _ => None
  }
}

/** Catalyst InternalRow ↔ MobVal codecs (hand-rolled: full control, no
  * reflection in the hot path). */
object MobCodec {

  // ---- decode ----

  def decode(dt: DataType, v: Any): MobVal =
    decoder(MobSchemas.kindOf(dt).get)(v.asInstanceOf[InternalRow])

  /** The decoder of one schema kind, resolved once per call site. */
  def decoder(kind: String): InternalRow => MobVal = kind match {
    case "span" => row => VSpan(SpanL(row.getLong(0), row.getLong(1),
      row.getBoolean(2), row.getBoolean(3)), row.getByte(4))
    case "spanF" => row => VSpanF(SpanD(row.getDouble(0), row.getDouble(1),
      row.getBoolean(2), row.getBoolean(3)))
    case "set" => row => VSet(row.getArray(0).toLongArray(), row.getByte(1))
    case "setF" => row => VSetF(row.getArray(0).toDoubleArray())
    case "setS" => row => VSetS(strArray(row.getArray(0)))
    case "spanSet" => row =>
      val arr = row.getArray(0)
      VSpanSet((0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 4)
        SpanL(r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))
      }.toArray, row.getByte(1))
    case "spanSetF" => row =>
      val arr = row.getArray(0)
      VSpanSetF((0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 4)
        SpanD(r.getDouble(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3))
      }.toArray)
    case "spanSetS" => row =>
      val arr = row.getArray(0)
      VSpanSetS((0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 4)
        SpanS(r.getUTF8String(0).toString, r.getUTF8String(1).toString,
          r.getBoolean(2), r.getBoolean(3))
      }.toArray)
    case "tnumI" | "tnumF" | "tnumB" =>
      val k: Byte = kind match {
        case "tnumI" => 0
        case "tnumF" => 1
        case _ => 2
      }
      row => VTNum(TNum(row.getByte(0), row.getByte(1), decodeSeqArr(row.getArray(2))), k)
    case "ttext" => row =>
      val arr = row.getArray(2)
      val seqs = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 4)
        TTextSeq(strArray(r.getArray(0)), r.getArray(1).toLongArray(),
          r.getBoolean(2), r.getBoolean(3))
      }.toArray
      VTText(TText(row.getByte(0), row.getByte(1), seqs))
    case "tpoint" => row =>
      val arr = row.getArray(3)
      val seqs = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 6)
        TPointSeq(r.getArray(0).toDoubleArray(), r.getArray(1).toDoubleArray(),
          r.getArray(2).toLongArray(), r.getBoolean(3), r.getBoolean(4),
          if (r.isNullAt(5)) null else r.getArray(5).toDoubleArray())
      }.toArray
      VTPoint(TPoint(row.getByte(0), row.getByte(1), row.getInt(2), seqs))
    case "tgeom" => row =>
      val arr = row.getArray(3)
      val seqs = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 4)
        val wArr = r.getArray(0)
        TGeomSeq((0 until wArr.numElements()).map(wArr.getBinary).toArray,
          r.getArray(1).toLongArray(), r.getBoolean(2), r.getBoolean(3))
      }.toArray
      VTGeom(TGeom(row.getByte(0), row.getByte(1), row.getInt(2), seqs))
    case "gset" => row =>
      val wArr = row.getArray(0)
      VGeoSet(GeoSet((0 until wArr.numElements()).map(wArr.getBinary).toArray,
        row.getInt(1), row.getBoolean(2)))
    case "tbox" => row =>
      VTBox(TBox(row.getDouble(0), row.getDouble(1), row.getBoolean(2), row.getBoolean(3),
        row.getLong(4), row.getLong(5), row.getBoolean(6), row.getBoolean(7),
        row.getBoolean(8), row.getBoolean(9), row.getBoolean(10)))
    case "stbox" => row =>
      VSTBox(STBox(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3),
        row.getDouble(4), row.getDouble(5), row.getLong(6), row.getLong(7),
        row.getBoolean(8), row.getBoolean(9), row.getInt(10), row.getBoolean(11),
        row.getBoolean(12), row.getBoolean(13), row.getBoolean(14)))
  }

  private def decodeSeqArr(arr: ArrayData): Array[TNumSeq] =
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 4)
      TNumSeq(r.getArray(0).toDoubleArray(), r.getArray(1).toLongArray(),
        r.getBoolean(2), r.getBoolean(3))
    }.toArray

  private def strArray(a: ArrayData): Array[String] =
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toArray

  // ---- encode ----

  def encode(m: MobVal): InternalRow = m match {
    case VSpan(s, dom) =>
      new GenericInternalRow(Array[Any](s.lower, s.upper, s.lowerInc, s.upperInc, dom))
    case VSpanF(s) =>
      new GenericInternalRow(Array[Any](s.lower, s.upper, s.lowerInc, s.upperInc))
    case VSet(vs, dom) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(vs), dom))
    case VSetF(vs) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(vs)))
    case VSetS(vs) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(
        vs.map(s => UTF8String.fromString(s)).asInstanceOf[Array[Any]])))
    case VSpanSet(ss, dom) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(ss.map(s =>
        new GenericInternalRow(Array[Any](s.lower, s.upper, s.lowerInc, s.upperInc))
          .asInstanceOf[Any])), dom))
    case VSpanSetF(ss) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(ss.map(s =>
        new GenericInternalRow(Array[Any](s.lower, s.upper, s.lowerInc, s.upperInc))
          .asInstanceOf[Any]))))
    case VSpanSetS(ss) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(ss.map(s =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(s.lower), UTF8String.fromString(s.upper),
          s.lowerInc, s.upperInc)).asInstanceOf[Any]))))
    case VTNum(t, _) =>
      new GenericInternalRow(Array[Any](t.subtype, t.interp,
        new GenericArrayData(t.seqs.map(encodeSeq(_).asInstanceOf[Any]))))
    case VTGeom(t) =>
      new GenericInternalRow(Array[Any](t.subtype, t.interp, t.srid,
        new GenericArrayData(t.gseqs.map(s =>
          new GenericInternalRow(Array[Any](
            new GenericArrayData(s.ws.map(_.asInstanceOf[Any])),
            new GenericArrayData(s.ts), s.lInc, s.uInc)).asInstanceOf[Any]))))
    case VGeoSet(g) =>
      new GenericInternalRow(Array[Any](
        new GenericArrayData(g.wkbs.map(_.asInstanceOf[Any])), g.gsrid, g.geodetic))
    case VTText(t) =>
      new GenericInternalRow(Array[Any](t.subtype, t.interp,
        new GenericArrayData(t.seqs.map(s =>
          new GenericInternalRow(Array[Any](
            new GenericArrayData(s.vs.map(x => UTF8String.fromString(x).asInstanceOf[Any])),
            new GenericArrayData(s.ts), s.lInc, s.uInc)).asInstanceOf[Any]))))
    case VTPoint(t) =>
      new GenericInternalRow(Array[Any](t.subtype, t.interp, t.srid,
        new GenericArrayData(t.seqs.map(s =>
          new GenericInternalRow(Array[Any](
            new GenericArrayData(s.xs), new GenericArrayData(s.ys),
            new GenericArrayData(s.ts), s.lInc, s.uInc,
            if (s.zs == null) null else new GenericArrayData(s.zs))).asInstanceOf[Any]))))
    case VTBox(b) =>
      new GenericInternalRow(Array[Any](b.xmin, b.xmax, b.xminInc, b.xmaxInc,
        b.tmin, b.tmax, b.tminInc, b.tmaxInc, b.hasX, b.hasT, b.xInt))
    case VSTBox(b) =>
      new GenericInternalRow(Array[Any](b.xmin, b.xmax, b.ymin, b.ymax, b.zmin, b.zmax,
        b.tmin, b.tmax, b.tminInc, b.tmaxInc, b.srid, b.geodetic, b.hasX, b.hasZ, b.hasT))
  }

  private def encodeSeq(s: TNumSeq): GenericInternalRow =
    new GenericInternalRow(Array[Any](
      new GenericArrayData(s.vs), new GenericArrayData(s.ts), s.lInc, s.uInc))

  /** Format a mobility value exactly as the reference prints it
    * (the DuckDB VARCHAR-cast rendering of each type). */
  def format(m: MobVal): String = m match {
    case VSpan(s, dom) => TextIO.printSpanL(s, Dom.textDom(dom))
    case VSpanF(s) => TextIO.printSpanD(s)
    case VSet(vs, dom) => TextIO.printSetL(vs, Dom.textDom(dom))
    case VSetF(vs) => TextIO.printSetD(vs)
    case VSetS(vs) => TextIO.printSetS(vs)
    case VSpanSet(ss, dom) => TextIO.printSpanSetL(ss, Dom.textDom(dom))
    case VSpanSetF(ss) => TextIO.printSpanSetD(ss)
    case VSpanSetS(ss) => TextIO.printSpanSetS(ss)
    case VTNum(t, kind) => TextIO.printTNum(t, Kind.tkind(kind))
    case VTGeom(t) => TextIO.printTGeom(t)
    case VGeoSet(g) => TextIO.printGeoSet(g)
    case VTText(t) => TextIO.printTText(t)
    case VTPoint(t) => TextIO.printTPoint(t)
    case VTBox(b) => TextIO.printTBox(b)
    case VSTBox(b) => TextIO.printSTBox(b)
  }
}
