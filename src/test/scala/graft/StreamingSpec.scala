package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.streaming.StreamSessions

/** Drives the streaming surface with a MemoryStream source: sessions
  * must close exactly when the watermark passes their inactivity gap,
  * and must match the batch sessionization semantics
  * (MobilityOps.q4Sessions' span-merge rule). */
class StreamingSpec extends SessionSuite {

  override protected def cores = 2

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming sessionization closes sessions at the inactivity gap") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double, String)]
    val events = input.toDF().toDF("user_id", "ts", "value", "event_type")
    val sessions = StreamSessions.sessionize(spark, events)
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    try {
      // user 1: two sessions (gap > 30 min); user 2: one session
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0, "a"),
        (1L, ts("2024-01-01 10:10:00"), 2.0, "a"),
        (1L, ts("2024-01-01 11:30:00"), 3.0, "a"),
        (2L, ts("2024-01-01 10:05:00"), 5.0, "b"))
      q.processAllAvailable()
      // advance the watermark far past every session close
      input.addData((99L, ts("2024-01-02 00:00:00"), 0.0, "x"))
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM sessions_out ORDER BY user_id, start")
        .collect()
      val u1 = out.filter(_.getLong(0) == 1L)
      assert(u1.length == 2)
      assert(u1(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
      assert(u1(0).getInt(3) == 2 && u1(0).getDouble(4) == 3.0)
      assert(u1(1).getInt(3) == 1 && u1(1).getDouble(4) == 3.0)
      val u2 = out.filter(_.getLong(0) == 2L)
      assert(u2.length == 1 && u2(0).getInt(3) == 1)
    } finally q.stop()
  }

  test("watermarked windowed counts aggregate in event time") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double, String)]
    val events = input.toDF().toDF("user_id", "ts", "value", "event_type")
    val q = StreamSessions.windowedCounts(events)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:01:00"), 1.0, "a"),
        (2L, ts("2024-01-01 10:02:00"), 2.0, "a"),
        (3L, ts("2024-01-01 10:03:00"), 4.0, "b"))
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-01 13:00:00"), 0.0, "x"))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT event_type, sum(cnt) FROM win_out GROUP BY 1 ORDER BY 1""")
        .collect()
      // each event falls in 2 sliding windows
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq
        .filter(x => x._1 == "a" || x._1 == "b") == Seq(("a", 4L), ("b", 2L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches events within the probe window") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val evIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val prIn = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = graft.streaming.StreamJoin.intervalJoin(
      evIn.toDF().toDF("user_id", "ts", "value"),
      prIn.toDF().toDF("user_id", "pts"))
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      evIn.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),  // 5 min before probe: in
        (1L, ts("2024-01-01 09:50:00"), 2.0),  // 15 min before: out
        (2L, ts("2024-01-01 10:03:00"), 3.0),  // other user: out for u1
        (1L, ts("2024-01-01 10:06:00"), 4.0))  // after probe: out
      prIn.addData((1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // advance both watermarks so all matches flush
      evIn.addData((99L, ts("2024-01-02 00:00:00"), 0.0))
      prIn.addData((99L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, value FROM sj_out WHERE user_id = 1 ORDER BY value")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 1.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming near-dup LSH emits the planted pair, no false pairs") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    // safe here: candidates always carry the in-batch arrival ts (see
    // nearDupPairs scaladoc), so the conservative global-watermark check
    // can be disabled for this query
    sp.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = graft.streaming.StreamNearDup.nearDupPairs(spark, docs)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog " +
        "while seventeen sleepy cats watch from the warm windowsill nearby"
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), base),
        (3L, ts("2024-01-01 10:01:00"),
          "completely unrelated text about distributed query engines " +
            "and their shuffle partitioning strategies at petabyte scale"))
      q.processAllAvailable()
      // near-identical doc arrives later: one word changed
      input.addData((2L, ts("2024-01-01 10:05:00"),
        base.replace("seventeen", "eighteen")))
      q.processAllAvailable()
      input.addData((99L, ts("2024-01-02 00:00:00"),
        "watermark advance row with enough tokens to shingle"))
      q.processAllAvailable()
      val pairs = spark.sql(
        "SELECT id_a, id_b FROM neardup_out ORDER BY id_a, id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs == Seq((1L, 2L)), s"got $pairs")
    } finally {
      q.stop()
      sp.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("streaming dedup drops within-horizon duplicates, keeps first") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.StreamDedup.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "the quick brown fox"),
        (2L, ts("2024-01-01 10:01:00"), "The Quick Brown Fox  "),
        (3L, ts("2024-01-01 10:02:00"), "something else"))
      q.processAllAvailable()
      // same normalized content again within the horizon -> dropped
      input.addData((4L, ts("2024-01-01 10:30:00"), "the quick brown fox"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_out ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("idempotent parquet sink: batch replay does not duplicate rows") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val base = java.nio.file.Files.createTempDirectory("sink").toString
    val input = MemoryStream[(Long, Double)]
    val q = graft.streaming.StreamSink.parquetSink(
      input.toDF().toDF("id", "v"), base)
      .outputMode("append").start()
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      input.addData((3L, 3.0))
      q.processAllAvailable()
      val rows = sp.read.parquet(base).collect()
      assert(rows.length == 3)
      // exactly-once under replay: rewriting batch 1 (same content, same
      // id — what Structured Streaming does after a failure) must leave
      // the landed data unchanged, not append duplicates
      graft.streaming.StreamSink.writeBatch(base)(
        Seq((3L, 3.0)).toDF("id", "v"), 1L)
      val replayed = sp.read.parquet(base).collect()
      assert(replayed.length == 3, s"replay duplicated: ${replayed.length}")
    } finally q.stop()
  }

  test("stream_neardup_sink gate entry equals the batch LSH operator") {
    // the full file-source -> online LSH -> idempotent sink -> verify
    // path (StreamGate scaladoc argues WHY they must agree; this is the
    // agreement, value-for-value, on the real gate dataset)
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamGate
      .streamNearDupSink(spark, d).collect().map(_.toString).sorted
    val batch = graft.operators.Dedup
      .minhashLsh(spark, d).collect().map(_.toString).sorted
    assert(streamed.length > 0, "no pairs surfaced")
    assert(streamed.sameElements(batch),
      s"stream ${streamed.length} vs batch ${batch.length}")
  }

  test("stream_graph_append_sink gate entry equals the batch graph " +
       "append exactly (frozen family, micro-batched union)") {
    // the index-maintenance twin: arriving vectors micro-batched through
    // the frozen base index must produce the SAME adjacency rows as the
    // one-shot batch append — per-vector work is batch-independent, so
    // the union over 4 micro-batches is row-identical
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamGate
      .streamGraphAppendSink(spark, d).collect().map(_.toString).sorted
    val batch = graft.operators.Similarity
      .annGraphAppend(spark, d).collect().map(_.toString).sorted
    assert(streamed.length > 0, "no appended edges surfaced")
    assert(streamed.sameElements(batch),
      s"stream ${streamed.length} vs batch ${batch.length}")
  }

  test("compactBatchDirs folds batch tails into one base dir: row " +
       "multiset preserved over the sink's own edge rows, dir count " +
       "bounded at 1, idempotent, and later batches keep landing") {
    import org.apache.spark.sql.functions._
    val Sim = graft.operators.Similarity
    val SS = graft.streaming.StreamSink
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact_").toString
    try {
      // two real micro-batches of the graph-append sink's edge rows
      // (arrivals split by parity), landed via the idempotent writer
      val (capped0, p) = Sim.appendFrozenIndex(spark, d)
      val capped = capped0.localCheckpoint(true)
      val arrivals = graft.util.Tables.embeddings(spark, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("n", sqrt(call_function("vec_dot", col("v"), col("v"))))
        .filter(pmod(col("vec_id"), lit(10)) === 7)
      SS.writeBatch(root)(
        Sim.appendEdgesAgainst(capped,
          arrivals.filter(pmod(col("vec_id"), lit(20)) === 7), p), 0L)
      SS.writeBatch(root)(
        Sim.appendEdgesAgainst(capped,
          arrivals.filter(pmod(col("vec_id"), lit(20)) === 17), p), 1L)
      def readAll(): Seq[String] =
        spark.read.parquet(SS.layoutPaths(root): _*)
          .select("query_id", "rank", "neighbor_id", "cos")
          .collect().map(_.toString).sorted.toSeq
      val before = readAll()
      assert(before.nonEmpty)
      assert(SS.layoutPaths(root).length === 2)
      assert(SS.compactBatchDirs(spark, root) === 2)
      assert(SS.layoutPaths(root) ===
        Seq(new java.io.File(root, "base").getAbsolutePath))
      assert(readAll() === before, "compaction changed the row multiset")
      // idempotent: nothing left to fold
      assert(SS.compactBatchDirs(spark, root) === 0)
      assert(readAll() === before)
      // the stream keeps appending after compaction; a second pass
      // folds base + the new tail
      SS.writeBatch(root)(
        spark.read.parquet(s"$root/base").limit(1), 2L)
      assert(SS.layoutPaths(root).length === 2)
      assert(SS.compactBatchDirs(spark, root) === 1)
      assert(SS.layoutPaths(root).length === 1)
      assert(readAll().length === before.length + 1)
    } finally {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq.reverseIterator
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } finally st.close()
    }
  }

  test("stream_join_sink gate entry equals the batch interval join, " +
       "under both state-store providers") {
    val d = "/root/testdata/sf0.001"
    val SG = graft.streaming.StreamGate
    import org.apache.spark.sql.functions._
    // the batch statement of the same join + per-user cent sums
    val ev = graft.util.Tables.events(spark, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val batch = ev.select(col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(p, col("user_id") === col("pu") &&
        col("ts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
        col("ts") <= col("pts"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"), sum("cents").as("sum_cents"))
      .orderBy("user_id").collect().map(_.toString)
    def runWith(prov: String): Array[String] = {
      SG.providerOverride = Some(prov)
      try SG.streamJoinSink(spark, d).collect().map(_.toString)
      finally SG.providerOverride = None
    }
    val rocks = runWith("rocksdb")
    assert(rocks.length > 0, "no joined rows surfaced")
    assert(rocks.sameElements(batch),
      s"stream ${rocks.length} vs batch ${batch.length}")
    assert(runWith("hdfs").sameElements(batch), "provider changed rows")
  }

  test("state-store providers (RocksDB vs in-heap HDFS) yield identical output") {
    // the gate entries are output-deterministic BY DESIGN; the state
    // store is an execution choice (RocksDB = the 100 TB continuous-
    // ingest default: bounded heap, incremental checkpoints) and must
    // never change rows. Run the near-dup entry — flatMapGroupsWithState
    // state, the hardest provider surface — under both and compare.
    val d = "/root/testdata/sf0.001"
    val SG = graft.streaming.StreamGate
    // runs the entry and `check`s the per-trigger rows that the bench
    // listener records for it, once the listener bus delivered them
    def runWith(p: String)(check: Seq[JsonNode] => Unit): Array[String] = {
      val metrics = new graft.util.BenchMetricsListener
      spark.sparkContext.addSparkListener(metrics)
      SG.providerOverride = Some(p)
      try {
        val rows = SG.streamNearDupSink(spark, d)
          .collect().map(_.toString).sorted
        eventually(timeout(Span(10, Seconds))) {
          check(new ObjectMapper().readTree(metrics.snapshotJson)
            .path("stream_neardup_sink").path("triggers").elements.asScala
            .toSeq)
        }
        rows
      } finally {
        SG.providerOverride = None
        spark.sparkContext.removeSparkListener(metrics)
      }
    }
    // the RocksDB-only custom metric proves the provider actually ran
    // (a conf echo alone wouldn't): some batch reports a nonnegative
    // sst size under rocksdb; every batch reports -1 under the in-heap
    // provider (the metric key doesn't exist there)
    def sst(t: JsonNode) = t.get("rocksdb_sst_bytes").asLong
    val rocksRows = runWith("rocksdb")(t => assert(t.exists(sst(_) >= 0), t))
    val hdfsRows =
      runWith("hdfs")(t => assert(t.nonEmpty && t.forall(sst(_) < 0), t))
    assert(rocksRows.length > 0)
    assert(rocksRows.sameElements(hdfsRows),
      s"rocksdb ${rocksRows.length} vs hdfs ${hdfsRows.length}")
  }

  test("stream_sessions_sink gate entry equals the batch sessionizer") {
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamGate
      .streamSessionsSink(spark, d).collect().map(_.toString).sorted
    val batch = graft.operators.MobilityOps
      .q4Sessions(spark, d).collect().map(_.toString).sorted
    assert(streamed.length > 0, "no sessions surfaced")
    assert(streamed.sameElements(batch),
      s"stream ${streamed.length} vs batch ${batch.length}")
  }

  test("stream_hll_sink: streamed registers give sane daily estimates") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.streaming.StreamGate.streamHllSink(spark, d).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val nDays = graft.util.Tables.events(spark, d)
      .select(date_trunc("day", col("ts"))).distinct().count()
    assert(rows.length == nDays, s"${rows.length} windows vs $nDays days")
    rows.foreach { case (day, vEmpty, exact, est, err) =>
      assert(vEmpty > 0 && vEmpty < 1024, s"$day registers")
      assert(exact > 0 && est > 0)
      // small-range (linear counting) regime at this scale: tight
      assert(math.abs(err) < 15.0, s"$day err $err% (est $est vs $exact)")
    }
  }

  test("stream_countmin_sink: one-sided guarantee and CM error bound") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.streaming.StreamGate.streamCountMinSink(spark, d)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val ev = graft.util.Tables.events(spark, d)
    val nDays = ev.select(date_trunc("day", col("ts"))).distinct().count()
    assert(rows.length == 5 * nDays, s"${rows.length} vs 5x$nDays")
    // per-day event volume bounds the CM overcount: with w = 1024 and
    // d = 4 rows, P[over > e*N/w] <= e^-4 per probe — assert the
    // theorem's one-sided floor exactly and the envelope loosely
    val dayN = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    rows.foreach { case (day, _, exact, est, over) =>
      assert(over >= 0, s"$day undercount: $est < $exact")
      assert(est - exact == over)
      val bound = math.max(1L,
        math.ceil(math.E * dayN(day) / 1024.0).toLong * 4)
      assert(over <= bound, s"$day overcount $over > bound $bound")
    }
  }
}
