package graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.file.{Files, Paths}
import graft.util.Json.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Writes gate entry `name`'s rows to `outDir/name` and returns (name,
    * row count, null), each entry under its registered aggregate
    * threshold ([[SparkEntry.aggThreshold]]), the bench's. A non-fatal
    * failure returns (name, -1, error text) and still writes a parquet:
    * with no file the driver's compare skips the query entirely and the
    * red row vanishes from CORRECTNESS (r5 recorded 84 rows for an
    * 87-query gate). An empty frame with the intended schema — or a
    * sentinel schema when even analysis failed — forces a recorded
    * rows/schema mismatch instead. Fatal errors (OOM) propagate. */
  def dump(spark: SparkSession, name: String,
           fn: (SparkSession, String) => DataFrame,
           sfDir: String, outDir: String): (String, Long, String) = {
    SparkEntry.useAggThreshold(spark, name)
    val path = s"$outDir/$name"
    var rows = -1L
    Bench.attempt {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
      rows = spark.read.parquet(path).count()
    } match {
      case None => (name, rows, null)
      case Some(err) =>
        System.err.println(s"[verify] $name failed: $err")
        // stream_* entries run their whole pipeline (staging write +
        // micro-batch stream) just to ANALYZE, so a failed streaming
        // query would run twice here — go straight to the sentinel
        var schema =
          StructType(Seq(StructField("graft_query_failed", StringType)))
        if (!name.startsWith("stream_"))
          Bench.attempt { schema = fn(spark, sfDir).schema }
        Bench.attempt {
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
            .coalesce(1).write.mode("overwrite").parquet(path)
        }.foreach(e => System.err.println(s"[verify] $name sentinel: $e"))
        (name, -1L, err)
    }
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query filter — local
    // iteration only; the driver always passes exactly two]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // heap pre-touch before Spark threads exist (see HeapWarm scaladoc)
    graft.util.HeapWarm.pretouch()
    val spark = GraftSession.local(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    // The driver parses BARE STDOUT (proven by BENCH_r02: outputStrategy :=
    // StdoutOutput in build.sbt keeps it prefix-free). Mirror the Bench
    // pattern exactly: one JSON line per query as it completes, plus ONE
    // final manifest line. Progress/diagnostics stay on stderr; the files
    // (parquet per query, manifest.json, oracle_sql.json) are kept too.
    val manifest = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = dump(spark, name, fn, sfDir, outDir)
      System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val (n, rows, err) = r
      val e = if (err == null) "null" else quote(err)
      println(s"""{"name":${quote(n)},"rows":$rows,"error":$e}""")
      // free cached RDDs/broadcasts between queries so one query's cache
      // cannot pressure the fixed heap for the rest of the run
      spark.catalog.clearCache()
      r
    }
    // the oracles of sfDir, whichever entries ran (a pure function of
    // the dataset: a filtered run dumps the full map)
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query run manifest: fixed file AND one bare stdout JSON line —
    // stdout is the channel the driver demonstrably parses (BENCH_r02).
    val mjson = manifest.map { case (n, rows, err) =>
      val e = if (err == null) "null" else quote(err)
      s"${quote(n)}: {\"rows\": $rows, \"error\": $e}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), mjson)
    println(s"""{"queries": $mjson}""")
    spark.stop()
  }
}
