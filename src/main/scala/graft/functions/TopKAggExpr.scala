package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, ShortType, StructField, StructType}

/** Bounded per-group top-k by (key asc, id asc) as a native
  * [[TypedImperativeAggregate]] (callers negate the key for descending;
  * a payload double rides along for output).
  *
  * It reads its three inputs straight off the incoming row
  * (`getDouble`/`getLong` on a [[BoundReference]] — zero allocation on
  * the reject path a full buffer takes for almost every row), so
  * callers pre-project computed keys into plain columns to keep the
  * key arithmetic inside the upstream whole-stage-codegen span. The
  * r14 profile of the batch-leg scoring stage put ~half its task CPU in
  * the per-row encoder machinery of the `udaf(Aggregator)` form this
  * replaced, not in the top-k logic itself.
  *
  * State and ordering logic live in the companion and are shared with
  * the fused partition kernels ([[TopKOrderedAgg.Buffers]]): a flat
  * `Array[Double]` of (key, id, payload) triples ascending by
  * (key, id). Ids are kept as doubles, so every id is checked to lie
  * within ±2^53 ([[TopKOrderedAgg.exactId]]) and the cap must be a
  * positive integer literal. Registered as `topk_ordered(cap, key, id,
  * payload)`. */
case class TopKOrderedAgg(
    cap: Int,
    key: Expression,
    id: Expression,
    payload: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]]
  with TernaryLike[Expression] with ExpectsInputTypes {

  TopKOrderedAgg.checkCap(cap)

  override def first: Expression = key
  override def second: Expression = id
  override def third: Expression = payload
  override def inputTypes = Seq(DoubleType, LongType, DoubleType)
  override def dataType: DataType = TopKOrderedAgg.OutType
  override def nullable: Boolean = true
  override def prettyName: String = "topk_ordered"

  override def createAggregationBuffer(): Array[Double] =
    Array.emptyDoubleArray

  // Per-row input readers. The pre-projected call sites bind each child
  // to a BoundReference → direct primitive read, no boxing. Anything
  // else (a literal payload, an unprojected expression) goes through
  // interpreted eval. Null inputs throw, so a null can never silently
  // rank as 0.0.
  private def doubleReader(child: Expression): InternalRow => Double =
    child match {
      case b: BoundReference if b.dataType == DoubleType =>
        r => { if (r.isNullAt(b.ordinal)) nullInput(); r.getDouble(b.ordinal) }
      case e =>
        r => e.eval(r) match {
          case d: java.lang.Double => d.doubleValue()
          case _ => nullInput()
        }
    }
  @transient private lazy val readKey = doubleReader(key)
  @transient private lazy val readPayload = doubleReader(payload)
  @transient private lazy val readId: InternalRow => Long = id match {
    case b: BoundReference if b.dataType == LongType =>
      r => { if (r.isNullAt(b.ordinal)) nullInput(); r.getLong(b.ordinal) }
    case e =>
      r => e.eval(r) match {
        case l: java.lang.Long => l.longValue()
        case _ => nullInput()
      }
  }

  private def nullInput(): Nothing =
    throw new IllegalStateException(
      "null input to topk_ordered (inputs are non-nullable by contract)")

  override def update(buf: Array[Double], input: InternalRow): Array[Double] =
    TopKOrderedAgg.insert(buf, cap, readKey(input),
      TopKOrderedAgg.exactId(readId(input)), readPayload(input))

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
    TopKOrderedAgg.mergeSorted(a, b, cap)

  override def eval(buf: Array[Double]): Any = {
    val n = buf.length / 3
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      rows(i) = new GenericInternalRow(
        Array[Any](buf(3 * i + 1).toLong, buf(3 * i + 2)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      .asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(n: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      k: Expression, i: Expression, p: Expression): TopKOrderedAgg =
    copy(key = k, id = i, payload = p)
}

object TopKOrderedAgg {
  /** array<struct<_1: bigint, _2: double>> — the field names the udaf's
    * Array[(Long, Double)] output encoder produced, so the `p._1` /
    * `p._2` consumer selects are unchanged. */
  private[graft] val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("_1", LongType, nullable = false),
      StructField("_2", DoubleType, nullable = false))),
    containsNull = false)

  /** `topk_ordered(cap, key, id, payload)` from its call arguments. The
    * cap sizes the state, so it must be a positive integer literal. */
  private[graft] def fromArgs(e: Seq[Expression]): TopKOrderedAgg = {
    if (e.length != 4) throw new IllegalArgumentException(
      s"topk_ordered takes (cap, key, id, payload), got ${e.length} arguments")
    val cap = e.head match {
      case c if c.foldable &&
          Seq(ByteType, ShortType, IntegerType, LongType).contains(c.dataType) =>
        c.eval() match {
          case n: Number if n.longValue().isValidInt => n.intValue()
          case v => throw new IllegalArgumentException(
            s"topk_ordered cap must be a positive integer, got $v")
        }
      case c => throw new IllegalArgumentException(
        s"topk_ordered cap must be an integer literal, got ${c.sql}")
    }
    // a non-positive cap fails in the constructor (checkCap)
    TopKOrderedAgg(cap, e(1), e(2), e(3))
  }

  /** A buffer keeps at least one triple: [[insert]] reads the last kept
    * triple of a full buffer. */
  private[graft] def checkCap(cap: Int): Unit =
    if (cap < 1) throw new IllegalArgumentException(
      s"topk_ordered cap must be a positive integer, got $cap")

  /** The largest id magnitude a double holds exactly. */
  private val MaxExactId = 1L << 53

  /** `id` as the buffer stores it. Ids are doubles in the state (the
    * representation of the sort key), exact only within ±2^53, so an id
    * outside fails instead of coming back as a neighbouring integer. */
  private[graft] def exactId(id: Long): Double = {
    if (id > MaxExactId || id < -MaxExactId) throw new IllegalArgumentException(
      s"topk_ordered id $id is outside ±2^53, where ids stop being exact")
    id.toDouble
  }

  /** Insert (xk, xi, xp) into the flat ascending (key, id) triple
    * buffer, keeping at most `cap` triples — the fast reject path (full
    * buffer, candidate past the last kept triple) returns the buffer
    * unchanged with zero allocation. */
  private[graft] def insert(buf: Array[Double], cap: Int,
                            xk: Double, xi: Double,
                            xp: Double): Array[Double] = {
    val n = buf.length / 3
    if (n == cap && {
      val lk = buf(3 * n - 3); val li = buf(3 * n - 2)
      lk < xk || (lk == xk && li <= xi)
    }) buf
    else {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val mk = buf(3 * mid); val mi = buf(3 * mid + 1)
        if (mk < xk || (mk == xk && mi < xi)) lo = mid + 1
        else hi = mid
      }
      val outN = math.min(n + 1, cap)
      val out = new Array[Double](outN * 3)
      System.arraycopy(buf, 0, out, 0, lo * 3)
      out(lo * 3) = xk; out(lo * 3 + 1) = xi; out(lo * 3 + 2) = xp
      System.arraycopy(buf, lo * 3, out, lo * 3 + 3, (outN - lo - 1) * 3)
      out
    }
  }

  /** The per-query top-k of a fused partition kernel: one [[insert]]
    * buffer per query, offered every scored (key, id, payload) triple
    * and emitted once at the end of the partition. Kept under the same
    * comparator and id check as the aggregate, so a partition keeps
    * every member of the final top-`cap` it holds, and the downstream
    * `topk_ordered` over the emitted candidates ranks exactly as over
    * all scored pairs. */
  private[graft] final class Buffers(queries: Int, cap: Int) {
    checkCap(cap)
    private val bufs = Array.fill(queries)(Array.emptyDoubleArray)

    def offer(query: Int, key: Double, id: Long, payload: Double): Unit =
      bufs(query) = insert(bufs(query), cap, key, exactId(id), payload)

    /** Every kept triple as `f(query, key, id, payload)`, query by
      * query, each ascending by (key, id). */
    def emit[T](f: (Int, Double, Long, Double) => T): Iterator[T] =
      Iterator.range(0, queries).flatMap { q =>
        val b = bufs(q)
        Iterator.range(0, b.length / 3).map(t =>
          f(q, b(3 * t), b(3 * t + 1).toLong, b(3 * t + 2)))
      }
  }

  /** Merge two ascending triple buffers, keeping the first `cap`. */
  private[graft] def mergeSorted(a: Array[Double], b: Array[Double],
                                 cap: Int): Array[Double] = {
    val an = a.length / 3; val bn = b.length / 3
    val outN = math.min(an + bn, cap)
    val out = new Array[Double](outN * 3)
    var i = 0; var j = 0; var k = 0
    while (k < outN) {
      val takeA = j >= bn || (i < an && {
        val ak = a(3 * i); val ai = a(3 * i + 1)
        val bk = b(3 * j); val bi = b(3 * j + 1)
        ak < bk || (ak == bk && ai <= bi)
      })
      if (takeA) { System.arraycopy(a, 3 * i, out, 3 * k, 3); i += 1 }
      else { System.arraycopy(b, 3 * j, out, 3 * k, 3); j += 1 }
      k += 1
    }
    out
  }
}
