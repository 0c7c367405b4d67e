package graft

/** The overload table's bind-time contract, beyond the pinned surface:
  * a return type must describe what the implementation returns, and an
  * argument combination no entry case covers fails naming the function. */
class MobFunctionsSpec extends SessionSuite {

  override protected def cores = 2

  test("expandSpace of a temporal point is typed and printed as an STBOX") {
    val r = spark.sql("SELECT asText(expandspace(tgeompoint(" +
      "'[Point(0 0)@2000-01-01, Point(2 0)@2000-01-03]'), 1.0))").collect()(0)
    assert(r.getString(0) ==
      "STBOX XT(((-1,-1),(3,1)),[2000-01-01 00:00:00+00, 2000-01-03 00:00:00+00])")
  }

  test("an argument combination without a case fails naming the function") {
    val e = intercept[Exception] {
      spark.sql("SELECT numspans(c) FROM VALUES (intspan('[1, 3)')) AS v(c)").collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("numspans: unsupported argument combination (VSpan)")),
      messages.mkString(" | "))
  }
}
