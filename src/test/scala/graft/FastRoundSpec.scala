package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorKernels

/** [[VectorKernels.fastRound]] must be BIT-IDENTICAL to Spark's stock
  * `round` (BigDecimal(x).setScale(s, HALF_UP).toDouble) — it replaces
  * it in every optimized plan via FastRoundRule, including the
  * exact-hash oracle rows, so equality is checked exhaustively against
  * the stock semantics: a magnitude-swept fuzz, the half-boundary
  * lattice the fallback band exists for, and the IEEE specials. */
class FastRoundSpec extends SessionSuite {

  private def stock(x: Double, s: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else scala.math.BigDecimal(x)
      .setScale(s, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  private def fast(x: Double, s: Int): Double =
    VectorKernels.fastRound(x, math.pow(10.0, s), s)

  private def check(x: Double, s: Int): Unit = {
    val e = stock(x, s); val g = fast(x, s)
    assert(java.lang.Double.doubleToRawLongBits(e) ==
      java.lang.Double.doubleToRawLongBits(g),
      s"fastRound($x, $s) = $g, stock = $e")
  }

  test("fuzz across magnitudes and scales, bit-identical to BigDecimal") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200000) {
      // cosine-like, score-like, and large magnitudes; both signs
      val mag = math.pow(10.0, rnd.nextInt(14) - 7)
      val x = (rnd.nextDouble() * 2 - 1) * mag
      val s = rnd.nextInt(10)
      check(x, s)
    }
  }

  test("half-boundary lattice (the band the fallback exists for)") {
    // values of the form k/2e6 land exactly on or next to the 6dp
    // half-up boundary — the class where shortest-repr and binary
    // rounding can disagree and the kernel must take the stock path
    for (k <- -4000000 to 4000000 by 7; s <- Seq(4, 5, 6)) {
      val x = k / 2e6
      check(x, s)
      check(x + 5e-13, s)
      check(x - 5e-13, s)
    }
  }

  test("1e-6 multiples and their neighbors at scale 6") {
    for (k <- -2000000 to 2000000 by 13) {
      val x = k / 1e6
      check(x, 6)
      check(math.nextUp(x), 6)
      check(math.nextDown(x), 6)
    }
  }

  test("IEEE specials and edges") {
    for (s <- 0 to 9) {
      check(0.0, s); check(-0.0, s)
      check(Double.MinPositiveValue, s)
      check(-Double.MinPositiveValue, s)
      check(1e-300, s); check(-1e-300, s)
      check(2.1474836479e9, s) // just under the fast-path bound (x=a/pow)
      check(3e9, s); check(-3e9, s)
      check(1e17, s); check(-1e17, s)
      assert(fast(Double.NaN, s).isNaN)
      assert(fast(Double.PositiveInfinity, s).isPosInfinity)
      assert(fast(Double.NegativeInfinity, s).isNegInfinity)
    }
  }

  test("optimizer rule: round(double, lit) plans as the fast kernel and " +
       "values agree with the stock expression end-to-end") {
    // range is a real (non-local) relation, so the project is not
    // constant-folded away before the plan assertion
    val df = spark.range(1, 10001)
      .select(col("id"), (col("id") * 0.1234567891 - 600.0).as("x"))
    val out = df.select(col("id"), round(col("x"), 6).as("r"))
    // the optimized plan carries FastRound (prettyName round$6), not
    // the stock Round
    val opt = out.queryExecution.optimizedPlan.toString
    assert(opt.contains("round$6"), opt)
    val got = out.orderBy("id").collect().map(_.getDouble(1))
    val want = df.orderBy("id").collect()
      .map(r => stock(r.getDouble(1), 6))
    assert(got.length == want.length)
    for (i <- got.indices)
      assert(java.lang.Double.doubleToRawLongBits(got(i)) ==
        java.lang.Double.doubleToRawLongBits(want(i)), s"row $i")
  }
}
