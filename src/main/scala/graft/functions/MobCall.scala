package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Non-mobility argument wrappers so an implementation can tell a
  * timestamp from a bigint (both Long inside Catalyst). */
case class TsVal(us: Long)
case class DateVal(days: Int)
case class IntervalVal(us: Long)

/** The one polymorphic expression behind every registered mobility
  * function. DuckDB binds each overload to one MEOS function at plan time
  * (ref src/temporal/temporal.cpp:58-86); Spark's registry is
  * monomorphic, so every name registers a `MobCall`, which resolves its
  * [[MobFunctions]] entry when bound: the return type from the argument
  * types, and the implementation plus one decoder per argument type.
  * Both are resolved once per expression instance, and once more per
  * task after deserialization. CodegenFallback: these are value-level
  * functions; the scan/join/agg hot paths stay in codegen.
  */
case class MobCall(fname: String, children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def nullable: Boolean = true
  // literal-only calls fold at plan time (stbox('...') etc.) — the
  // analogue of the reference's CONSTANT_VECTOR fast path
  // (ref src/temporal/temporal_functions.cpp:139-141, SURVEY §4), and
  // what lets the box-predicate rule see a plain Literal box
  override def foldable: Boolean = children.forall(_.foldable)
  override lazy val dataType: DataType =
    MobFunctions.resolve(fname).ret(children.map(_.dataType))

  @transient private lazy val impl: Array[Any] => Any = MobFunctions.resolve(fname).impl
  @transient private lazy val decoders: Array[Any => Any] =
    children.map(c => MobCall.decoder(c.dataType)).toArray

  override def eval(input: InternalRow): Any = {
    val n = decoders.length
    val args = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = decoders(i)(v)
      i += 1
    }
    // an argument combination an entry has no case for
    val r = try impl(args) catch {
      case e: MatchError => throw new IllegalArgumentException(
        s"$fname: unsupported argument combination " +
          args.map(_.getClass.getSimpleName).mkString("(", ", ", ")"), e)
    }
    MobCall.encodeResult(r)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object MobCall {

  /** Catalyst value of type `dt` → the argument an implementation sees. */
  def decoder(dt: DataType): Any => Any = MobSchemas.kindOf(dt) match {
    case Some(kind) =>
      val d = MobCodec.decoder(kind)
      v => d(v.asInstanceOf[InternalRow])
    case None => dt match {
      case StringType => _.toString
      case TimestampType | TimestampNTZType => v => TsVal(v.asInstanceOf[Long])
      case DateType => v => DateVal(v.asInstanceOf[Int])
      case _: DayTimeIntervalType => v => IntervalVal(v.asInstanceOf[Long])
      case ArrayType(et, _) => val d = arrayDecoder(et); v => d(v.asInstanceOf[ArrayData])
      case _: DecimalType => _.asInstanceOf[Decimal].toDouble
      case _ => identity // Long, Int, Double, Boolean, Array[Byte], ...
    }
  }

  private def arrayDecoder(et: DataType): ArrayData => Any = et match {
    case LongType => _.toLongArray()
    case IntegerType => _.toIntArray().map(_.toLong)
    case DoubleType => _.toDoubleArray()
    case TimestampType | TimestampNTZType =>
      _.toLongArray().map(TsVal(_)).toIndexedSeq
    case dt: DecimalType => a =>
      (0 until a.numElements())
        .map(i => a.getDecimal(i, dt.precision, dt.scale).toDouble).toArray
    case StringType => a =>
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toArray
    case BinaryType => a =>
      (0 until a.numElements()).map(a.getBinary).toArray[Any].toIndexedSeq
    case st: StructType if MobSchemas.kindOf(st).isDefined =>
      val d = MobCodec.decoder(MobSchemas.kindOf(st).get)
      val nf = st.fields.length
      a => (0 until a.numElements()).map(i => d(a.getStruct(i, nf)))
        .toArray[Any].toIndexedSeq
    case _ => identity
  }

  def encodeResult(r: Any): Any = r match {
    case null => null
    case m: MobVal => MobCodec.encode(m)
    case s: String => UTF8String.fromString(s)
    case TsVal(us) => us
    case DateVal(d) => d
    case IntervalVal(us) => us
    case arr: Seq[_] => new GenericArrayData(arr.map(encodeResult).toArray)
    case other => other // primitives, Array[Byte]
  }
}
