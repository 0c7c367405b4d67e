package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SessionSuite
import graft.streaming.BoundedStream.{PerBatch, Rows}

/** The one bounded-stream runner: no stream entry starts, awaits or
  * stages a stream by hand, and a run that fails leaves neither its temp
  * root nor a running query behind. */
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
}
