package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.block]]: a bench block that fails must leave one error row
  * behind, never an empty result that silently shrinks the row count. */
class BenchBlockSpec extends AnyFunSuite {

  test("a block that succeeds returns its rows unchanged") {
    val rows = Seq(("q1", 1.5, None), ("q2", 0.25, Some("Boom: x")))
    assert(Bench.block("blk")(rows) == rows)
  }

  test("a block that throws yields one error row named after the block") {
    val rows = Bench.block("berlinmod_10x") {
      throw new IllegalStateException("load\n  failed")
    }
    assert(rows == Seq(("berlinmod_10x", -1.0,
      Some("IllegalStateException: load failed"))))
  }

  test("a null message and a long message both give one bounded line") {
    def error(e: Throwable): Seq[Option[String]] =
      Bench.block("b")(throw e).map(_._3)
    assert(error(new RuntimeException(null: String)) ==
      Seq(Some("RuntimeException: null")))
    assert(error(new RuntimeException("x" * 500)) ==
      Seq(Some("RuntimeException: " + "x" * 120)))
  }

  test("fatal errors are not caught") {
    intercept[OutOfMemoryError] {
      Bench.block("b")(throw new OutOfMemoryError("heap"))
    }
  }

  test("a query attempt records a non-fatal error and rethrows a fatal one") {
    assert(Bench.attempt(()) == None)
    assert(Bench.attempt(throw new IllegalStateException("bad\n plan")) ==
      Some("IllegalStateException: bad plan"))
    intercept[OutOfMemoryError] {
      Bench.attempt(throw new OutOfMemoryError("heap"))
    }
  }
}
