package graft

import graft.sources.MobCsv

/** CSV source path: mobility literals in CSV columns parse into the same
  * struct encodings the parquet path produces, queries run on them
  * unchanged, and asText round-trips losslessly. */
class SourcesSpec extends SessionSuite {

  override protected def cores = 2
  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = java.nio.file.Files.createTempDirectory("mobcsv").toString
    val csv = java.nio.file.Paths.get(dir, "trips.csv")
    java.nio.file.Files.writeString(csv,
      """vehicle,trip
        |1,"[Point(0 0)@2000-01-01 08:00:00+00, Point(10 0)@2000-01-01 08:10:00+00]"
        |2,"[Point(5 5)@2000-01-01 09:00:00+00, Point(5 15)@2000-01-01 09:30:00+00, Point(15 15)@2000-01-01 10:00:00+00]"
        |""".stripMargin)
  }

  test("CSV mobility columns parse, query, and round-trip") {
    val df = MobCsv.read(spark, s"$dir/trips.csv", Map("trip" -> "tgeompoint"))
    df.createOrReplaceTempView("csv_trips")
    // the parsed column behaves exactly like any other tgeompoint
    val lens = spark.sql(
      """SELECT vehicle, round(length(trip), 6) AS len
         FROM csv_trips ORDER BY vehicle""").collect()
    assert(lens.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0))
    val at = spark.sql(
      """SELECT asText(atTime(trip,
           tstzspan('[2000-01-01 08:00:00+00, 2000-01-01 08:05:00+00]'))) AS cut
         FROM csv_trips WHERE vehicle = 1""").collect()
    assert(at(0).getString(0).contains("POINT(5 0)@2000-01-01 08:05:00+00"))
    // lossless text round-trip through CSV write + re-read
    MobCsv.write(df, s"$dir/out", Seq("trip"))
    val back = MobCsv.read(spark, s"$dir/out", Map("trip" -> "tgeompoint"))
    back.createOrReplaceTempView("csv_back")
    val a = spark.sql("SELECT vehicle, asText(trip) AS t FROM csv_trips")
      .collect().map(_.toString).sorted
    val b = spark.sql("SELECT vehicle, asText(trip) AS t FROM csv_back")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("format round-trip survives newlines, quotes, and empty strings") {
    // adversarial corpus: embedded newline (CSV quoted multi-line
    // record), embedded double quotes (RFC 4180 doubling), empty string
    // (must NOT read back as null), commas, and a unicode mix
    val s = spark
    import s.implicits._
    val adv = java.nio.file.Files.createTempDirectory("advdocs").toString
    Seq(
      (1L, "plain text"),
      (2L, "line one\nline two\nline three"),
      (3L, "she said \"hi\", twice \"\""),
      (4L, ""),
      (5L, "comma, separated, values"),
      (6L, "ünïcode — emoji ☃ and tab\there"),
      (7L, "  padded with spaces  "))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$adv/documents.parquet")
    val rows = graft.sources.RoundTrip.roundTrip(spark, adv).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("csv", "json", "orc", "parquet"))
    // every format must agree with the parquet control row exactly
    assert(rows.map(_.getLong(1)).distinct.length == 1, "row counts differ")
    assert(rows.map(_.getLong(2)).distinct.length == 1,
      s"checksums differ: ${rows.mkString(", ")}")
    assert(rows.head.getLong(1) == 7L)
  }
}
