package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Exactly-once-shaped file egress for streaming pipelines — the sink
  * side of the streaming surface (sources/round-trips cover ingest).
  *
  * Structured Streaming's contract: a failed micro-batch is REPLAYED
  * with the SAME batchId. The sink is exactly-once iff reprocessing a
  * batchId is idempotent. For file egress the standard pattern is
  * batchId-keyed partition overwrite: each batch lands in its own
  * `batch=<id>` directory with mode overwrite, so a replay rewrites
  * the same directory instead of appending duplicates. Downstream
  * readers see the union of committed directories — at 100 TB this is
  * exactly how warehouse ingestion lands micro-batches (per-batch
  * directories + a compaction job owned by the table maintenance
  * layer, not the stream).
  */
object StreamSink {

  /** The idempotent per-batch writer, exposed for direct testing: the
    * replay of a batchId overwrites its own directory — no dup rows. */
  def writeBatch(base: String)(df: DataFrame, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$base/batch=$batchId")

  /** Wire a streaming Dataset to the idempotent parquet sink. */
  def parquetSink[T](ds: Dataset[T], base: String): DataStreamWriter[T] =
    ds.writeStream.foreachBatch {
      (batch: Dataset[T], batchId: Long) =>
        writeBatch(base)(batch.toDF(), batchId)
    }

  /** Every committed piece of a [[writeBatch]] layout: the compacted
    * `base` dir (if any) plus the `batch=<id>` tails — the union a
    * serving reader scans. */
  def layoutPaths(root: String): Seq[String] = {
    val rootF = new java.io.File(root)
    val tails = Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getAbsolutePath).sorted.toSeq
    val base = new java.io.File(rootF, "base")
    (if (base.exists) Seq(base.getAbsolutePath) else Nil) ++ tails
  }

  /** Table-maintenance compaction for a [[writeBatch]] layout (the
    * TRTREE [[graft.sqlx.MobSql.compactLayout]] discipline applied to
    * streaming sinks — r13 verdict #5): fold every committed
    * `batch=<id>` tail plus the previous `base` into ONE fresh `base`
    * parquet dir and remove the tails. Row-preserving by construction
    * (one union write, staged then swapped: the new base is fully
    * written BEFORE any original piece moves, the old base is renamed
    * aside rather than deleted, and the tails are removed only after
    * the swap — any pre-swap crash leaves every original piece intact
    * and a post-swap crash leaves the compacted base serving, with at
    * worst recoverable `.compact_*`/`.base_old_*` debris that
    * [[layoutPaths]] never lists); idempotent (re-compacting a
    * compacted layout is a no-op). Runs
    * OFF the serving path — the stream keeps appending `batch=` dirs
    * keyed by batchId, which never collide with `base`, and
    * [[layoutPaths]] readers see the same row multiset before and
    * after (StreamingSpec pins the equality). Bounds the dir count:
    * after compaction the layout is exactly one dir until new batches
    * arrive. Returns the number of tails folded (0 = nothing to do). */
  def compactBatchDirs(s: org.apache.spark.sql.SparkSession,
                       root: String): Int = {
    val rootF = new java.io.File(root)
    val tails = Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    if (tails.isEmpty) return 0
    val base = new java.io.File(rootF, "base")
    val inputs = tails.map(_.getAbsolutePath).toSeq ++
      (if (base.exists) Seq(base.getAbsolutePath) else Nil)
    val staging = new java.io.File(rootF,
      s".compact_${System.nanoTime()}")
    s.read.parquet(inputs: _*)
      .write.mode("overwrite").parquet(staging.getAbsolutePath)
    // swap order is the crash-safety contract (scaladoc above): new
    // base complete -> old base aside -> swap in -> only then drop
    // the originals
    val oldBase = new java.io.File(rootF, s".base_old_${System.nanoTime()}")
    if (base.exists)
      require(base.renameTo(oldBase), s"compact: cannot move aside $base")
    require(staging.renameTo(base), s"compact: cannot swap in $staging")
    tails.foreach(t => deleteTree(t.toPath))
    deleteTree(oldBase.toPath)
    tails.length
  }

  /** Deletes `p` and everything under it, if it exists. */
  private[streaming] def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverseIterator
        .foreach(f => Files.deleteIfExists(f))
      finally st.close()
    }
  }
}
