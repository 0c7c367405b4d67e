package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.util.Tables

/** Data-contract armor for `events.ts`: the driver has regenerated
  * events.parquet with a different parquet timestamp encoding once
  * mid-flight (r5: TIMESTAMP(NANOS) -> micros with isAdjustedToUTC=false,
  * which Spark 4 reads as TIMESTAMP_NTZ), silently breaking every
  * `unix_micros(ts)` consumer and costing three gate queries. This spec
  * writes the SAME events data in all three encodings the driver has
  * ever shipped and asserts [[Tables.events]] normalizes each to an
  * identical TimestampType frame, and that the events-consuming gate
  * queries analyze against every encoding. A future encoding change
  * should land here first, as a red assertion — not as a gate casualty. */
class EventsEncodingSpec extends SessionSuite {

  override protected def cores = 2
  private var dirs: Map[String, String] = _ // encoding -> sf-style dir
  private val sfSrc = "/root/testdata/sf0.001"

  /** Gate queries whose plan reads the events table (grep: Tables.events
    * call sites in operators/ + streaming/). Streaming entries are
    * excluded here — invoking them runs a full micro-batch stream; their
    * events access is the same Tables.events frame asserted
    * value-identical below, and StreamSpec runs them against the live
    * driver encoding every build. */
  private val eventsBatchQueries = Seq(
    "rel_q14_theta_join", "rel_q19_zscore", "rel_q20_json",
    "rel_q23_gapfill", "events_funnel", "events_retention",
    "mob_q1_timespan", "mob_q2_value_at", "mob_q3_at_time",
    "mob_q4_sessions", "mob_q5_traj_length", "mob_q6_stbox_filter",
    "mob_q7_when_true", "mob_q8_asof_join")

  override def beforeAll(): Unit = {
    super.beforeAll()
    // runtime-set too: getOrCreate may have reused another spec's session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val canonical = Tables.events(spark, sfSrc).orderBy("event_id").collect()
    assert(canonical.nonEmpty)

    def mkDir(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_ev_$tag")
      // the mob/rel consumers join other sf tables: symlink them in
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "documents", "embeddings"))
        java.nio.file.Files.createSymbolicLink(
          d.resolve(s"$t.parquet"),
          java.nio.file.Paths.get(s"$sfSrc/$t.parquet"))
      d.toString
    }

    val ltzDir = mkDir("ltz")
    Tables.events(spark, sfSrc)
      .withColumn("ts", col("ts").cast(TimestampType))
      .coalesce(1).write.parquet(s"$ltzDir/events.parquet")

    val ntzDir = mkDir("ntz")
    Tables.events(spark, sfSrc)
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1).write.parquet(s"$ntzDir/events.parquet")

    // TIMESTAMP(NANOS): Spark cannot write it — craft the file with the
    // raw parquet writer (same int64 nanos layout the r1-r4 driver data
    // carried, which Spark reads as LongType under nanosAsLong=true)
    val nanosDir = mkDir("nanos")
    writeNanosEvents(s"$nanosDir/events.parquet/part-0.parquet",
      Tables.events(spark, sfSrc)
        .select(col("event_id"), unix_micros(col("ts")).as("tsu"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id").collect())

    dirs = Map("ltz" -> ltzDir, "ntz" -> ntzDir, "nanos" -> nanosDir)
  }

  private def writeNanosEvents(
      file: String, rows: Array[org.apache.spark.sql.Row]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(
        false, LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(file).getParent)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = gf.newGroup()
      g.add("event_id", r.getLong(0))
      g.add("ts", r.getLong(1) * 1000L) // micros -> nanos, exact
      g.add("user_id", r.getLong(2))
      g.add("event_type", r.getString(3))
      g.add("value", r.getDouble(4))
      g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
  }

  test("raw encodings differ; Tables.events normalizes all three") {
    // precondition: the fixtures really exercise three DISTINCT raw types
    assert(spark.read.parquet(s"${dirs("ltz")}/events.parquet")
      .schema("ts").dataType == TimestampType)
    assert(spark.read.parquet(s"${dirs("ntz")}/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"${dirs("nanos")}/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType)
    // normalized: one type, identical values, micros preserved exactly
    val frames = dirs.map { case (tag, d) =>
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$tag not normalized: ${ev.schema("ts").dataType}")
      tag -> ev.select(col("event_id"), unix_micros(col("ts")),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id").collect().map(_.toString).toSeq
    }
    assert(frames("ltz").nonEmpty)
    assert(frames("ltz") == frames("ntz"), "ltz vs ntz rows differ")
    assert(frames("ltz") == frames("nanos"), "ltz vs nanos rows differ")
  }

  test("every batch events consumer analyzes against each encoding") {
    for ((tag, d) <- dirs; name <- eventsBatchQueries) {
      val fn = SparkEntry.queries(name)
      // .schema forces full analysis — exactly the phase the r5 NTZ
      // regression failed in (DATATYPE_MISMATCH on unix_micros)
      val sch = try fn(spark, d).schema catch {
        case e: Throwable =>
          fail(s"$name failed analysis on $tag encoding: ${e.getMessage}")
      }
      assert(sch.nonEmpty, s"$name/$tag: empty schema")
    }
  }

  test("theta join executes identically on each encoding") {
    val res = dirs.map { case (tag, d) =>
      tag -> SparkEntry.queries("rel_q14_theta_join")(spark, d)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(res("ltz").nonEmpty)
    assert(res("ltz") == res("ntz") && res("ltz") == res("nanos"))
  }
}
