package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: every main and every test suite gets its
  * session here, so the gate (`Verify`), the bench (`Bench`) and the
  * tests run under the same settings. The only input is the core count;
  * a per-query setting (the aggregate fallback threshold,
  * [[SparkEntry.aggThreshold]]) is set by the caller around each query,
  * never here. Like the reference's single `LOAD mobilityduck`, the
  * session comes back with the SQL surface registered. */
object GraftSession {

  /** Cores a main runs with: `SPARK_GRAFT_CPUS`, else the machine's. An
    * unset variable used to mean `local[4]`, which read as a uniform
    * ~3.5x inflation of every CPU-heavy row on a 32-core box. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session (the active one, if a session is running). */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // keeps the old TIMESTAMP(NANOS) events encoding readable;
      // Tables.events normalizes all three observed encodings
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // the driver-generated tables are single small parquet files; split
      // them finer so scans parallelize across all local cores
      .config("spark.sql.files.maxPartitionBytes", "1m")
      // AQE coalescing targets bytes-per-partition; our temporal/pair
      // stages are compute-heavy on byte-tiny rows, so coalescing to one
      // partition serializes them — keep the requested parallelism
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // default for work outside a query, i.e. the untimed layout builds
      // (graph/HNSW builds group by n vectors with k-bounded topk_ordered
      // state; under Spark's 128 they sort-fall-back into full-stream
      // sorter spill, SURVEY item 15). Each query runs under its own
      // registered value instead (SparkEntry.aggThreshold).
      .config(SparkEntry.FallbackKey, SparkEntry.HashAggThreshold.toString)
      // zstd shuffle/spill compression: halves live shuffle against lz4
      // on the repetitive token/hash payloads of the dedup and text
      // rows, and the r9 dedup rework (serialized shingle caches,
      // raw-stream repartition-by-h) was profiled under it
      .config("spark.io.compression.codec", "zstd")
      // phase checkpoints store MEMORY_AND_DISK_SER (Dedup.ckptDisk);
      // compress the serialized blocks with the same codec
      .config("spark.rdd.compress", "true")
      // shuffle files are deleted only when their dependency is GC'd; a
      // large heap may not GC for minutes, so force the ContextCleaner's
      // periodic GC often enough to reclaim disk mid-query
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
