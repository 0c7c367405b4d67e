package graft.streaming

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one harness of the bounded-stream gate entries ([[StreamGate]]).
  * A run owns the whole lifecycle of its stream:
  *  - a fresh temp root holding the staged input, the sink and the
  *    checkpoint (every run starts from an empty checkpoint, so the
  *    state-store provider and the stateful partition count bound at the
  *    query's first start are exactly the run's confs);
  *  - each staged frame written as parquet, its part files stamped with
  *    modification times in part order, then replayed as a file-source
  *    stream under the frame's own schema (FileStreamSource replays new
  *    files oldest first, so a one-file-per-trigger replay takes the
  *    parts in part order, not in the order their writes finished);
  *  - the entry's pipeline, sunk per micro-batch with `AvailableNow` in a
  *    query named after the entry (the bench listener attributes the
  *    micro-batch jobs and triggers to the entry's row by that name),
  *    under the run's session confs ([[RunConfs]] plus the entry's),
  *    set before the start and restored after the await;
  *  - the `batch=*` union read back, passed through the entry's tail and
  *    materialized with `localCheckpoint` (bounded: the tails aggregate
  *    or rank), so the root can go;
  *  - whatever happened, a still-active query stopped and the root
  *    deleted; a failure propagates to the caller.
  */
private[streaming] object BoundedStream {

  /** What a run sinks, and how its read-back gets its schema. */
  sealed trait Sink

  /** The pipeline's own rows, through [[StreamSink.parquetSink]]; read
    * back under their schema, so a run that sank no file still reads. */
  final case class Rows(rows: Dataset[_]) extends Sink

  /** `perBatch` of each micro-batch of `stream`, through
    * [[StreamSink.writeBatch]]; read back under the written files'
    * schema. */
  final case class PerBatch(stream: DataFrame,
                            perBatch: DataFrame => DataFrame) extends Sink

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** The commit path of every run, set next to the state-store provider.
    *  - Checkpoint files are renamed into place by Hadoop's `FileSystem`
    *    API: on the local file system that is one `rename(2)`. Spark's
    *    default `FileContext` manager resolves symlinks on every rename,
    *    and without `libhadoop` each resolution launches `readlink`
    *    processes (four per rename, a few milliseconds each, on the
    *    commit path of every trigger). The run's root is a local temp
    *    dir with one writer, so the `FileContext` manager's atomicity
    *    guarantees buy nothing here. Checksums stay on.
    *  - RocksDB commits write one changelog file per state store and
    *    version instead of uploading SST files and zips and deleting the
    *    local snapshot (an `rm -rf` process) on every commit. */
  private[streaming] val RunConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Runs entry `name`: stages `staged`, builds the sink from the staged
    * streams (in staging order) and the run's root, streams it to the end
    * under [[StreamGate.stateStoreProvider]], [[RunConfs]] and `confs`,
    * and returns `tail` of the sunk rows. `oneFilePerBatch` replays one
    * staged file per micro-batch instead of all files in one. */
  def run(s: SparkSession, name: String, staged: Seq[DataFrame],
          confs: Seq[(String, String)] = Nil,
          oneFilePerBatch: Boolean = false)(
      pipeline: (Seq[DataFrame], String) => Sink)(
      tail: DataFrame => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(s"graft_${name}_").toString
    val out = s"$root/out"
    var query: StreamingQuery = null
    try {
      val inputs = staged.indices.map(i => s"$root/in$i")
      staged.zip(inputs).foreach { case (df, dir) =>
        df.write.mode("overwrite").parquet(dir)
        stampPartOrder(dir)
      }
      val streams = staged.zip(inputs).map { case (df, dir) =>
        val r = s.readStream.schema(df.schema)
        (if (oneFilePerBatch) r.option("maxFilesPerTrigger", "1") else r)
          .parquet(dir)
      }
      val sink = pipeline(streams, root)
      val writer = sink match {
        case Rows(rows) => StreamSink.parquetSink(rows, out)
        case PerBatch(stream, perBatch) =>
          stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
            StreamSink.writeBatch(out)(perBatch(batch), id)
          }
      }
      val set = StreamGate.stateStoreProvider.map(ProviderKey -> _).toSeq ++
        RunConfs ++ confs
      val prev = set.map { case (k, _) => k -> s.conf.getOption(k) }
      set.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        query = writer.queryName(name)
          .option("checkpointLocation", s"$root/ck")
          .trigger(Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      val reader = sink match {
        case Rows(rows) => s.read.schema(rows.schema)
        case _: PerBatch => s.read
      }
      tail(reader.parquet(s"$out/batch=*")).localCheckpoint(true)
    } finally {
      if (query != null && query.isActive) query.stop()
      // best effort: Files.walk wraps mid-iteration I/O errors (a Spark
      // shutdown thread removing a checkpoint temp file concurrently) in
      // UncheckedIOException, and a leftover dir must not fail the entry
      try StreamSink.deleteTree(Paths.get(root))
      catch { case _: IOException | _: UncheckedIOException => () }
    }
  }

  /** Stamps the part files of `dir` one second apart in part-name order
    * (part `i` is partition `i` of the staged frame). */
  private def stampPartOrder(dir: String): Unit = {
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    if (parts.nonEmpty) {
      val t0 = parts.map(_.lastModified).min
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(t0 + i * 1000L), s"cannot stamp $f")
      }
    }
  }
}
