package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.functions.{array_repeat, col, explode, lit}
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.scalatest.concurrent.Eventually.eventually
import org.scalatest.concurrent.PatienceConfiguration.Timeout
import org.scalatest.time.{Seconds, Span}

import graft.SessionSuite
import graft.streaming.BoundedStream.{PerBatch, Rows}

/** The one bounded-stream runner: no stream entry starts, awaits or
  * stages a stream by hand, a run that fails leaves neither its temp
  * root nor a running query behind, a run's commits launch no
  * processes through checkpoint renames, and a one-file-per-trigger
  * replay takes the staged parts in part order. */
class BoundedStreamSpec extends SessionSuite {

  override protected def cores = 2

  test("streams are staged, started and awaited only in BoundedStream") {
    val dir = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val needles = Seq("awaitTermination", "Trigger.AvailableNow", "createTempDirectory")
    val sites = for {
      f <- Files.list(dir).iterator.asScala.toSeq
      if f.getFileName.toString != "BoundedStream.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if needles.exists(code.contains) && !code.startsWith("*") && !code.startsWith("//")
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(sites.sorted.mkString(s"${sites.size} hand-run stream sites:\n", "\n", ""))
  }

  /** The bounded streams' temp roots now under `java.io.tmpdir`. */
  private def roots(): Set[Path] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft_stream_")).toSet

  test("a failing entry leaves no temp root and no active query") {
    val before = roots()
    intercept[Exception](StreamGate.streamSessionsSink(spark, "/nonexistent"))
    assert(roots() -- before == Set.empty)
    assert(spark.streams.active.isEmpty)
  }

  test("a run failing in a micro-batch or in its tail cleans up and rethrows") {
    val staged = spark.range(8).toDF("id").repartition(2)
    val before = roots()
    val inBatch = intercept[StreamingQueryException] {
      BoundedStream.run(spark, "stream_failing_batch", Seq(staged)) { (in, _) =>
        PerBatch(in.head, _ => throw new IllegalStateException("batch failed"))
      }(identity)
    }
    assert(inBatch.getMessage.contains("batch failed"))
    val inTail = intercept[IllegalStateException] {
      BoundedStream.run(spark, "stream_failing_tail", Seq(staged)) { (in, _) =>
        Rows(in.head)
      }(_ => throw new IllegalStateException("tail failed"))
    }
    assert(inTail.getMessage == "tail failed")
    assert(roots() -- before == Set.empty)
    assert(spark.streams.active.isEmpty)
  }

  private val d = "/root/testdata/sf0.001"

  /** `numInputRows` of each trigger of the streams named `name` that
    * `run` starts, in trigger order, once every such stream's
    * termination reached the listener (the bus delivers a query's
    * events in order, so all its progress events came before). */
  private def inputRowsPerTrigger(name: String)(run: => Unit): Seq[Long] = {
    val started = new ConcurrentLinkedQueue[UUID]
    val ended = new ConcurrentLinkedQueue[UUID]
    val rows = new ConcurrentLinkedQueue[(Long, Long)]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == name) started.add(e.runId)
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name)
          rows.add(e.progress.batchId -> e.progress.numInputRows)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      run
      eventually(Timeout(Span(10, Seconds))) {
        assert(!started.isEmpty &&
          started.asScala.forall(ended.asScala.toSet.contains))
      }
      rows.asScala.toSeq.sortBy(_._1).map(_._2)
    } finally spark.streams.removeListener(listener)
  }

  test("a one-file-per-trigger replay takes the staged parts in part order") {
    // partition i holds 4 - i rows, so the trigger sizes spell the order
    val staged = spark.range(0, 4, 1, 4)
      .select(explode(array_repeat(col("id"), (lit(4) - col("id")).cast("int")))
        .as("id"))
    val sizes = inputRowsPerTrigger("stream_part_order") {
      BoundedStream.run(spark, "stream_part_order", Seq(staged),
          oneFilePerBatch = true) { (in, _) => Rows(in.head) }(identity)
        .collect()
    }
    assert(sizes.filter(_ > 0) == Seq(4L, 3L, 2L, 1L), sizes)
  }

  test("two runs of stream_neardup_sink replay the same triggers") {
    def triggers() = inputRowsPerTrigger("stream_neardup_sink") {
      StreamGate.streamNearDupSink(spark, d).collect()
    }
    val first = triggers()
    assert(first.count(_ > 0) == 4, first)
    assert(triggers() == first)
  }

  test("stream_neardup_sink leaves no cached frame behind") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // `numCachedEntries` is `private[sql]` in Scala, public in bytecode
    def entries() = cache.getClass.getMethod("numCachedEntries").invoke(cache)
      .asInstanceOf[Int]
    // from an empty cache: a frame an earlier run left would be matched,
    // not added again
    spark.catalog.clearCache()
    assert(StreamGate.streamNearDupSink(spark, d).collect().nonEmpty)
    assert(entries() == 0)
  }

  /** `type.method` of each frame of `e`'s stack trace, innermost first. */
  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  test("a stateful run launches no process from a checkpoint rename, " +
       "and its run confs are restored") {
    val keys = BoundedStream.RunConfs.map(_._1)
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val rows = try StreamGate.streamSessionsSink(spark, d).collect()
      finally rec.stop()
    val file = Files.createTempFile("graft_launches_", ".jfr")
    val launches = try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
    assert(rows.nonEmpty)
    def show(es: Seq[RecordedEvent]) = es.map(e =>
      e.getString("command") + frames(e).take(12).mkString("\n  ", "\n  ", ""))
      .mkString("\n")
    val readlinks = launches.filter(_.getString("command").contains("readlink"))
    assert(readlinks.isEmpty, show(readlinks))
    val fromRename = launches.filter(e => frames(e).exists { f =>
      val (tpe, method) = f.splitAt(f.lastIndexOf('.'))
      tpe.contains("CheckpointFileManager") &&
        method.toLowerCase.contains("rename")
    })
    assert(fromRename.isEmpty, show(fromRename))
    assert(keys.map(k => k -> spark.conf.getOption(k)) == before)
  }
}
