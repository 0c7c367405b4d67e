package graft

import java.nio.file.Files

/** [[Verify.dump]]: a gate entry that fails still leaves a red row and a
  * parquet for the compare, and a fatal error stops the run. */
class VerifySpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"
  private lazy val out = Files.createTempDirectory("verify").toString

  test("a passing entry writes its rows and counts them") {
    val (n, rows, err) = Verify.dump(spark, "rel_q1_agg",
      SparkEntry.queries("rel_q1_agg"), d, out)
    assert(n == "rel_q1_agg" && err == null)
    assert(rows > 0 && rows == spark.read.parquet(s"$out/rel_q1_agg").count())
  }

  test("an entry that fails to analyze gives rows -1, its error and a " +
       "sentinel parquet") {
    val (_, rows, err) = Verify.dump(spark, "broken",
      (_, _) => throw new IllegalStateException("no\n plan"), d, out)
    assert(rows == -1L && err == "IllegalStateException: no plan")
    val sentinel = spark.read.parquet(s"$out/broken")
    assert(sentinel.columns.toSeq == Seq("graft_query_failed"))
    assert(sentinel.count() == 0)
  }

  test("an entry that fails at run time keeps its schema in the sentinel") {
    val (_, rows, err) = Verify.dump(spark, "fails_late",
      (s, _) => s.sql("SELECT raise_error('boom') AS x, 1 AS y"), d, out)
    assert(rows == -1L && err.contains("boom"))
    val sentinel = spark.read.parquet(s"$out/fails_late")
    assert(sentinel.columns.toSeq == Seq("x", "y") && sentinel.count() == 0)
  }

  test("a fatal error propagates") {
    intercept[OutOfMemoryError] {
      Verify.dump(spark, "oom", (_, _) => throw new OutOfMemoryError("heap"),
        d, out)
    }
  }
}
