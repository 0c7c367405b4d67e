package graft.functions

import org.apache.spark.sql.types.DataType

/** One overload-table entry: `ret` gives the return type from the
  * argument types, once, when a call is bound; `impl` runs per row on the
  * decoded arguments (MobVal / TsVal / DateVal / IntervalVal / String /
  * Long / Int / Double / Boolean / Array[Byte] / Array[Long] /
  * Array[Double] / Array[String] / IndexedSeq[MobVal]). An argument
  * combination `impl` has no case for fails its match; [[MobCall]]
  * reports that MatchError as an unsupported combination. */
final case class MobFn(ret: Seq[DataType] => DataType, impl: Array[Any] => Any)

/** The overload table behind every registered mobility function: DuckDB
  * binds each call to one MEOS function at plan time (ref
  * src/temporal/temporal.cpp:58-74); graft binds each [[MobCall]] to one
  * entry. The registry ([[GraftFunctions]]) and the SQL rewriter's cast
  * spellings are derived from its keys. Function names and overload sets
  * mirror the reference's registrations (SURVEY §2.2); semantics come
  * from graft.core. */
object MobFunctions {

  val table: Map[String, MobFn] = {
    val entries = Seq(MobConstructors, MobOutput, MobAccessors, MobTransforms,
      MobRestriction, MobSpatial, MobTopology, MobCasts).flatMap(_.entries)
    val twice = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"mobility functions defined twice: ${twice.mkString(", ")}")
    entries.toMap
  }

  /** The type names `'lit'::T`, `T 'lit'` and `expr::T` accept. */
  val types: Set[String] = MobConstructors.types.map(_._1).toSet

  /** The function `expr::T` calls: the type's own cast `to_T` where it
    * has one, else its constructor. */
  def castFunction(ty: String): Option[String] =
    if (!types(ty)) None
    else Some(if (table.contains(s"to_$ty")) s"to_$ty" else ty)

  def resolve(name: String): MobFn = table.getOrElse(name.toLowerCase,
    throw new IllegalArgumentException(s"unknown mobility function '$name'"))
}

/** A family of overload-table entries plus the argument coercions their
  * bodies share. */
private[functions] abstract class MobFamily {

  def entries: Seq[(String, MobFn)]

  protected val S: MobSchemas.type = MobSchemas

  protected def fn(ret: DataType)(impl: Array[Any] => Any): MobFn =
    MobFn(_ => ret, impl)

  protected def fnBy(ret: Seq[DataType] => DataType)(
      impl: Array[Any] => Any): MobFn = MobFn(ret, impl)

  /** The mobility kind of the first argument ("" for a plain type). */
  protected def kind0(ts: Seq[DataType]): String =
    MobSchemas.kindOf(ts.head).getOrElse("")

  protected def asLong(x: Any): Long = x match {
    case l: Long => l
    case i: Int => i.toLong
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case d: Double => d.toLong
  }

  protected def asDouble(x: Any): Double = x match {
    case d: Double => d
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
  }

  // DuckDB implicitly casts '5 min' strings to INTERVAL; accept both.
  protected def asUs(x: Any): Long = x match {
    case IntervalVal(us) => us
    case s: String => parseIntervalStr(s)
    case v => asLong(v)
  }

  protected def asBool(x: Any): Boolean = x match {
    case b: Boolean => b
    case s: String => s.trim.toLowerCase == "true" || s.trim == "t"
  }

  private def parseIntervalStr(s0: String): Long = {
    val s = s0.trim.toLowerCase
    val re = """(-?\d+(?:\.\d+)?)\s*(microsecond|millisecond|second|minute|min|hour|day|week|sec|ms|us|h|m|s|d)s?""".r
    var total = 0L
    var matched = false
    for (m <- re.findAllMatchIn(s)) {
      matched = true
      val v = m.group(1).toDouble
      val unit = m.group(2) match {
        case "us" | "microsecond" => 1L
        case "ms" | "millisecond" => 1000L
        case "s" | "sec" | "second" => 1000000L
        case "m" | "min" | "minute" => 60000000L
        case "h" | "hour" => 3600000000L
        case "d" | "day" => 86400000000L
        case "week" => 7 * 86400000000L
      }
      total += (v * unit).round
    }
    require(matched, s"cannot parse interval '$s0'")
    total
  }
}
