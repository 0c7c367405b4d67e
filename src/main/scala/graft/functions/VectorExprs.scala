package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd vector kernels for the similarity/dedup hot paths.
  *
  * These are the two tight loops every ANN / near-dup query runs per
  * candidate row. As Catalyst expressions with `doGenCode` they stay
  * inside whole-stage codegen and read the unsafe array format directly
  * (`ArrayData.getDouble/getLong`) — no UDF invocation, no boxing, no
  * row copy. The brief's preference order (builtin > native Expression >
  * UDF) lands here because no builtin composition expresses a fused
  * multiply-accumulate over two arrays without `zip_with`'s per-element
  * lambda allocation.
  */

/** Dot product of two double arrays (length = min of the two).
  * Null elements are not expected (embedding vectors are dense). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Exact intersection size of two ascending-sorted long arrays (the
  * shingle-set overlap check in the Jaccard/MinHash verifiers). */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_inter_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    while (i < x.numElements() && j < y.numElements()) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { n += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $u = $a.getLong($i); long $v = $b.getLong($j);
         |  if ($u == $v) { $n++; $i++; $j++; }
         |  else if ($u < $v) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersect =
    copy(left = newLeft, right = newRight)
}

/** Shared kernels for [[MinHashSig]]/[[SimHash64]]: a standalone Scala
  * object gets static forwarders, so generated Java calls these directly
  * — the expressions stay inside whole-stage codegen with one static
  * call per row (vs a ScalaUDF's encoder round-trip + boxing). */
object VectorKernels {

  val NumHashes = 32

  /** Spark's `round(x: double, scale)` (HALF_UP on the SHORTEST DECIMAL
    * representation, i.e. `BigDecimal(x).setScale(s, HALF_UP).toDouble`)
    * with a binary fast path — BIT-IDENTICAL results by construction.
    *
    * Why: the stock path stringifies every double
    * (`BigDecimal.valueOf` = `new BigDecimal(Double.toString(x))`) —
    * sampled at ~30% of the ann_sq8 scoring stage's CPU (r14
    * optimization round), and a per-scored-pair `round(cos, 6)` is the
    * rank-quantization discipline of the whole ANN/retrieval family.
    *
    * Equivalence argument. Let D = the shortest-repr decimal value of
    * x (what BigDecimal rounds), a = |x|·pow computed in doubles. For
    * a < 2^31, |D·pow − a| < 5e-7 (repr error ≤ ulp(x)/2·pow ≤
    * a·1.2e-16, product rounding ≤ ulp(a)/2 ≤ a·1.2e-16, both ≤
    * 2.4e-7). So when frac(a) is farther than 1e-6 from 0.5 the
    * HALF_UP integer k is determined identically from a (including the
    * near-integer case: if D·pow and a straddle an integer both round
    * to it); the final k/pow is one correctly-rounded IEEE division of
    * exact integers — the same nearest-double BigDecimal.toDouble
    * returns. Inside the band, for a ≥ 2^31, and for non-finite x the
    * stock BigDecimal path runs instead. k = 0 returns +0.0 exactly as
    * BigDecimal does (it has no signed zero). `pow` must be an exact
    * power of ten (10^s, s ≤ 15). */
  def fastRound(x: Double, pow: Double, scale: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    val a = math.abs(x) * pow
    if (a < 2147483648.0) {
      val f = math.floor(a)
      val frac = a - f
      if (math.abs(frac - 0.5) > 1e-6) {
        val k = if (frac > 0.5) f + 1.0 else f
        if (k == 0.0) return 0.0
        val r = k / pow
        return if (x < 0.0) -r else r
      }
    }
    scala.math.BigDecimal(x)
      .setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The ascending dot-product fold of [[VecDot]] (`s += a(i) * b(i)`
    * from 0.0 over the shorter length) on primitive arrays, so a
    * partition kernel or driver-side score is bit-identical to the
    * `vec_dot` expression's. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** [[dot]] of a float32 vector: each element widens exactly, so this
    * equals `vec_dot(cast(a AS array<double>), b)`. */
  def dot(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** `sqrt(vec_dot(v, v))`, the norm every cosine in the ANN and
    * retrieval families divides by. */
  def norm(v: Array[Double]): Double = math.sqrt(dot(v, v))

  @inline private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 32-coordinate minhash signature: coordinate i is the min over the
    * (already xxhash64'd) shingle hashes of splitmix(h ^ seed_i) —
    * min-wise independent enough for banding, one 64-bit mix per
    * (shingle, coordinate) instead of 32 string hashes per shingle. */
  def minhashSig(hs: ArrayData): Array[Long] = {
    val out = new Array[Long](NumHashes)
    val n = hs.numElements()
    var s = 0
    while (s < NumHashes) {
      val seed = 0x9E3779B97F4A7C15L * (s + 1)
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = mix(hs.getLong(i) ^ seed)
        if (v < m) m = v
        i += 1
      }
      out(s) = m
      s += 1
    }
    out
  }

  /** Index of the L2-nearest centroid: `cents` is the k x dim codebook
    * flattened row-major (k = cents.length / v.length). */
  def nearestCell(v: ArrayData, cents: ArrayData): Int = {
    val dim = v.numElements()
    val k = cents.numElements() / dim
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var dist = 0.0; var i = 0
      while (i < dim) {
        val t = v.getDouble(i) - cents.getDouble(c * dim + i)
        dist += t * t; i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** The nprobe L2-nearest centroid indices, ascending by distance
    * (ties by index — insertion keeps the earlier cell). */
  def probeCells(v: ArrayData, cents: ArrayData, nprobe: Int): Array[Int] = {
    val dim = v.numElements()
    val k = cents.numElements() / dim
    val n = math.min(nprobe, k)
    val bestD = Array.fill(n)(Double.MaxValue)
    val bestI = new Array[Int](n)
    var c = 0
    while (c < k) {
      var dist = 0.0; var i = 0
      while (i < dim) {
        val t = v.getDouble(i) - cents.getDouble(c * dim + i)
        dist += t * t; i += 1
      }
      if (dist < bestD(n - 1)) {
        var j = n - 1
        while (j > 0 && bestD(j - 1) > dist) {
          bestD(j) = bestD(j - 1); bestI(j) = bestI(j - 1); j -= 1
        }
        bestD(j) = dist; bestI(j) = c
      }
      c += 1
    }
    bestI
  }

  /** [[sq8Recon]] over primitive arrays — the partition-kernel form
    * (r14 fused ann_sq8 scoring); same arithmetic statement for
    * statement, pinned equal to the ArrayData form in KernelSpec. */
  def sq8ReconD(v: Array[Double], lo: Array[Double],
                hi: Array[Double]): Array[Double] = {
    val n = v.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val l = lo(i); val h = hi(i)
      if (h > l) {
        val x = v(i)
        var q = math.floor((x - l) / (h - l) * 255.0 + 0.5).toInt
        if (q < 0) q = 0
        if (q > 255) q = 255
        out(i) = l + q * (h - l) / 255.0
      } else out(i) = l
      i += 1
    }
    out
  }

  /** Fused SQ8 quantize + dequantize (see [[Sq8Recon]]): the exact
    * arithmetic the DuckDB oracle replays, one allocation per row. */
  def sq8Recon(v: ArrayData, lo: ArrayData, hi: ArrayData): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i); val h = hi.getDouble(i)
      if (h > l) {
        val x = v.getDouble(i)
        var q = math.floor((x - l) / (h - l) * 255.0 + 0.5).toInt
        if (q < 0) q = 0
        if (q > 255) q = 255
        out(i) = l + q * (h - l) / 255.0
      } else out(i) = l
      i += 1
    }
    out
  }

  /** SQ8 ENCODE to packed bytes (the write-time layout form): the same
    * quantization as [[sq8Recon]], one byte per dimension. */
  def sq8Encode(v: ArrayData, lo: ArrayData, hi: ArrayData): Array[Byte] = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i); val h = hi.getDouble(i)
      var q = 0
      if (h > l) {
        q = math.floor((v.getDouble(i) - l) / (h - l) * 255.0 + 0.5).toInt
        if (q < 0) q = 0
        if (q > 255) q = 255
      }
      out(i) = q.toByte
      i += 1
    }
    out
  }

  /** SQ8 DECODE from packed bytes to the dequantized reconstruction —
    * encode∘decode equals [[sq8Recon]] exactly (the byte stores q
    * losslessly; the reconstruction arithmetic is identical). */
  def sq8Decode(code: Array[Byte], lo: ArrayData, hi: ArrayData): Array[Double] = {
    val n = code.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i); val h = hi.getDouble(i)
      out(i) = if (h > l) l + (code(i) & 0xFF) * (h - l) / 255.0 else l
      i += 1
    }
    out
  }

  /** Fused SQ8 decode + dot product: Σ dequant(code_i)·y_i with the
    * reconstruction computed inline — same left-to-right fold and the
    * same per-element arithmetic as [[sq8Decode]] followed by a dot, so
    * the value is bit-identical, but no per-row array allocation. */
  def sq8Dot(code: Array[Byte], lo: ArrayData, hi: ArrayData,
             y: ArrayData): Double = {
    val n = math.min(code.length, y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i); val h = hi.getDouble(i)
      val dq = if (h > l) l + (code(i) & 0xFF) * (h - l) / 255.0 else l
      s += dq * y.getDouble(i)
      i += 1
    }
    s
  }

  /** Fused SQ8 decode-BOTH + dot: Σ dequant(a_i)·dequant(b_i),
    * left-to-right, each side's reconstruction the exact [[sq8Decode]]
    * arithmetic — bit-identical to decoding both codes to double
    * arrays and dotting them, with zero per-row allocation. The
    * symmetric-estimator kernel of the SQ8-scored graph build, where
    * BOTH exchanged sides carry 64-byte codes (the [[sq8Dot]] form
    * keeps one side as a dequantized double array, which is the right
    * shape for a broadcast query side but would quadruple the probe
    * stream of a corpus×corpus build). */
  def sq8DotCc(a: Array[Byte], b: Array[Byte],
               lo: ArrayData, hi: ArrayData): Double = {
    require(a.length == b.length,
      s"sq8_dot_cc: code length mismatch (${a.length} vs ${b.length})")
    val n = a.length
    var s = 0.0
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i); val h = hi.getDouble(i)
      val da = if (h > l) l + (a(i) & 0xFF) * (h - l) / 255.0 else l
      val db = if (h > l) l + (b(i) & 0xFF) * (h - l) / 255.0 else l
      s += da * db
      i += 1
    }
    s
  }

  /** LOSSLESS float32 pack of a double array whose values are
    * float32-representable (the embeddings tables store `float` parquet;
    * the cast to `array<double>` is exact, and packing back to raw
    * float bits loses nothing). 4 bytes/dim little-endian — the
    * shuffle-byte form of a vector that must still score EXACTLY
    * (unlike SQ8, which is an estimator). Caller invariant: values not
    * representable as float32 WOULD round — every use site reads the
    * float-sourced embeddings column. */
  def f32Pack(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    val out = new Array[Byte](n * 4)
    var i = 0
    while (i < n) {
      val bits = java.lang.Float.floatToRawIntBits(v.getDouble(i).toFloat)
      out(4 * i) = bits.toByte
      out(4 * i + 1) = (bits >>> 8).toByte
      out(4 * i + 2) = (bits >>> 16).toByte
      out(4 * i + 3) = (bits >>> 24).toByte
      i += 1
    }
    out
  }

  /** Fused decode + dot of two [[f32Pack]]ed vectors: Σ double(a_i) ·
    * double(b_i), left-to-right — bit-identical to the double-array dot
    * of the unpacked values (each decoded double equals the original
    * exactly), with no per-row array allocation. */
  def f32DotCc(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length,
      s"f32_dot: packed length mismatch (${a.length} vs ${b.length}); " +
        "both sides must be f32_pack of same-dimension vectors")
    val n = a.length / 4
    var s = 0.0
    var i = 0
    while (i < n) {
      val ab = ((a(4 * i) & 0xFF)) | ((a(4 * i + 1) & 0xFF) << 8) |
        ((a(4 * i + 2) & 0xFF) << 16) | ((a(4 * i + 3) & 0xFF) << 24)
      val bb = ((b(4 * i) & 0xFF)) | ((b(4 * i + 1) & 0xFF) << 8) |
        ((b(4 * i + 2) & 0xFF) << 16) | ((b(4 * i + 3) & 0xFF) << 24)
      s += java.lang.Float.intBitsToFloat(ab).toDouble *
        java.lang.Float.intBitsToFloat(bb).toDouble
      i += 1
    }
    s
  }

  /** 64-bit SimHash over single-space-separated words (deterministic
    * seeded polynomial word hash; bit b set iff more word hashes have
    * bit b than not). */
  def simhash64(text: UTF8String): Long = {
    val counts = new Array[Int](64)
    val words = text.toString.split(" ")
    var w = 0
    while (w < words.length) {
      val str = words(w)
      var h = 0x517CC1B727220A95L
      var i = 0
      while (i < str.length) { h = h * 1000003L + str.charAt(i); i += 1 }
      h ^= (h >>> 29)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      w += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Fused SQ8 quantize→reconstruct: per-dimension affine int8 encode of
  * `v` against (lo, hi) bounds followed by dequantization, one codegen
  * pass — the two chained higher-order `transform` lambdas this
  * replaces are CodegenFallback (interpreted per element; measured 5x
  * the brute-force scan at 5M vectors). Arithmetic matches the DuckDB
  * oracle exactly: q = clamp(floor((x-lo)/(hi-lo)*255+0.5), 0, 255),
  * recon = lo + q*(hi-lo)/255 (same association order). */
case class Sq8Recon(first: Expression, second: Expression,
                    third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sq8_recon"

  override protected def nullSafeEval(v0: Any, lo0: Any, hi0: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.sq8Recon(v0.asInstanceOf[ArrayData],
        lo0.asInstanceOf[ArrayData], hi0.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, lo, hi) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorKernels.sq8Recon($v, $lo, $hi));""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Recon =
    copy(first = f, second = s, third = t)
}

/** SQ8 encode to packed bytes (one byte per dimension) — the write-time
  * layout column. */
case class Sq8Encode(first: Expression, second: Expression,
                     third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "sq8_encode"

  override protected def nullSafeEval(v0: Any, lo0: Any, hi0: Any): Any =
    VectorKernels.sq8Encode(v0.asInstanceOf[ArrayData],
      lo0.asInstanceOf[ArrayData], hi0.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, lo, hi) =>
      s"${ev.value} = graft.functions.VectorKernels.sq8Encode($v, $lo, $hi);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Encode =
    copy(first = f, second = s, third = t)
}

/** SQ8 decode from packed bytes to the dequantized array. */
case class Sq8Decode(first: Expression, second: Expression,
                     third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.BinaryType,
      ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sq8_decode"

  override protected def nullSafeEval(c0: Any, lo0: Any, hi0: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.sq8Decode(c0.asInstanceOf[Array[Byte]],
        lo0.asInstanceOf[ArrayData], hi0.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, lo, hi) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorKernels.sq8Decode($c, $lo, $hi));""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Decode =
    copy(first = f, second = s, third = t)
}

/** Fused SQ8 decode + dot (`sq8_dot(code, lo, hi, y)`) — the packed
  * layout's per-candidate scoring kernel. */
/** Lossless float32 pack ([[VectorKernels.f32Pack]]) — the exact-score
  * shuffle-byte form of a float-sourced vector column. */
/** Drop-in replacement for Catalyst's `Round` on DOUBLE input with a
  * literal scale — identical values via [[VectorKernels.fastRound]]
  * (see its equivalence argument), ~10-20x cheaper on the common path.
  * Installed by [[graft.plans.FastRoundRule]]; never constructed
  * directly by operators, so every `round()` in the codebase keeps its
  * stock spelling. */
case class FastRound(child: Expression, roundScale: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = s"round$$$roundScale"

  private val pow: Double = math.pow(10.0, roundScale)

  override protected def nullSafeEval(x: Any): Any =
    VectorKernels.fastRound(x.asInstanceOf[Double], pow, roundScale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.VectorKernels.fastRound(" +
        s"$x, ${pow}D, $roundScale);")

  override protected def withNewChildInternal(c: Expression): FastRound =
    copy(child = c)
}

case class F32Pack(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "f32_pack"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.f32Pack(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorKernels.f32Pack($v);")

  override protected def withNewChildInternal(c: Expression): F32Pack =
    copy(child = c)
}

/** Fused dot of two [[F32Pack]]ed vectors ([[VectorKernels.f32DotCc]]) —
  * bit-identical to the unpacked double dot. */
case class F32Dot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "f32_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.f32DotCc(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.f32DotCc($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): F32Dot =
    copy(left = l, right = r)
}

case class Sq8Dot(first: Expression, second: Expression,
                  third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.BinaryType, ArrayType(DoubleType),
      ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_dot"

  override protected def nullSafeEval(c0: Any, lo0: Any, hi0: Any,
                                      y0: Any): Any =
    VectorKernels.sq8Dot(c0.asInstanceOf[Array[Byte]],
      lo0.asInstanceOf[ArrayData], hi0.asInstanceOf[ArrayData],
      y0.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, lo, hi, y) =>
      s"${ev.value} = graft.functions.VectorKernels.sq8Dot($c, $lo, $hi, $y);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Sq8Dot =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Fused symmetric SQ8 decode + dot (`sq8_dot_cc(codeA, codeB, lo,
  * hi)`) — both sides packed codes ([[VectorKernels.sq8DotCc]]); the
  * scoring kernel of the SQ8-scored graph build, whose corpus×corpus
  * exchange carries 64-byte codes on BOTH sides. */
case class Sq8DotCc(first: Expression, second: Expression,
                    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.BinaryType,
      ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_dot_cc"

  override protected def nullSafeEval(a0: Any, b0: Any, lo0: Any,
                                      hi0: Any): Any =
    VectorKernels.sq8DotCc(a0.asInstanceOf[Array[Byte]],
      b0.asInstanceOf[Array[Byte]],
      lo0.asInstanceOf[ArrayData], hi0.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, lo, hi) =>
      s"${ev.value} = graft.functions.VectorKernels.sq8DotCc($a, $b, $lo, $hi);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Sq8DotCc =
    copy(first = f, second = s, third = t, fourth = q)
}

/** MinHash signature of a doc's (sorted or not) shingle-hash array —
  * array<long> of 32 band-able coordinates. */
case class MinHashSig(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.minhashSig(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorKernels.minhashSig($a));""".stripMargin)

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Index of the L2-nearest centroid in a flattened row-major codebook
  * (k inferred as cents.length / v.length) — the IVF cell assignment. */
case class VecNearestCell(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_nearest_cell"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestCell(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCell($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecNearestCell =
    copy(left = newLeft, right = newRight)
}

/** The nprobe nearest centroid indices of a vector (IVF multi-cell
  * probe), ascending by L2 distance. */
case class VecProbeCells(first: Expression, second: Expression,
                         third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "vec_probe_cells"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.probeCells(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData], c.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorKernels.probeCells($a, $b, $c));""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VecProbeCells =
    copy(first = f, second = s, third = t)
}

/** 64-bit SimHash of a text column. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.simhash64(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.simhash64($a);")

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}
