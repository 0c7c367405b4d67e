package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `functions` layer on its own: each kernel is called through the SQL
  * function `GraftFunctions` registers, over a cached single-partition
  * input of fixed rows, and its output is folded into one aggregate so no
  * row is pruned. Reported as nanoseconds per input row: median of the
  * timed repetitions after one warm-up. */
object Kernels {
  private val Reps = 3

  /** `input` is cached once; each timed query reads it `copies` times
    * (an explode of a literal sequence), so cheap kernels run over enough
    * rows to dominate the query's fixed cost. */
  final case class Kernel(name: String, copies: Int, input: () => DataFrame,
                          query: DataFrame => DataFrame)

  def all(spark: SparkSession, corpusDir: String): Seq[Kernel] = {
    def range(n: Long) = spark.range(0L, n, 1L, 1).toDF()
    val dim = 64
    // fixed vectors: SynthCorpus embeddings as array<double>
    def vectors(n: Int) = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy("vec_id").limit(n).repartition(1)
    val lo = typedLit(Array.fill(dim)(-1.5)); val hi = typedLit(Array.fill(dim)(1.5))
    val centroids = typedLit(Array.tabulate(32 * dim)(i => math.sin(i * 0.37)))
    val texts = () => spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text").repartition(1)
    Seq(
      Kernel("baseline", 1, () => range(5000000L), _.agg(sum(col("id") + 10))),
      Kernel("mob_span", 1, () => range(20000L).select(col("id").cast("int").as("i")),
        _.agg(sum(call_function("upper", call_function("intspan", col("i"), col("i") + 5))))),
      Kernel("mob_point", 1,
        () => range(20000L).select((col("id") % 1000).cast("double").as("x"),
          (col("id") % 777).cast("double").as("y"),
          timestamp_seconds(lit(1704067200L) + col("id")).as("t")),
        _.agg(max(xxhash64(call_function("tgeompoint",
          call_function("st_point", col("x"), col("y")), col("t")))))),
      Kernel("mob_distance", 1,
        () => range(40000L).select(
          call_function("st_point", (col("id") % 1000).cast("double"),
            (col("id") % 777).cast("double")).as("p"),
          call_function("st_point", (col("id") % 313).cast("double"),
            (col("id") % 97).cast("double")).as("q")),
        _.agg(sum(call_function("st_distance", col("p"), col("q"))))),
      Kernel("f32_dot", 200,
        () => vectors(5000).select(call_function("f32_pack", col("v")).as("a"),
          call_function("f32_pack", reverse(col("v"))).as("b")),
        _.agg(sum(call_function("f32_dot", col("a"), col("b"))))),
      Kernel("sq8_dot_cc", 200,
        () => vectors(5000).select(
          call_function("sq8_encode", col("v"), lo, hi).as("a"),
          call_function("sq8_encode", reverse(col("v")), lo, hi).as("b")),
        _.agg(sum(call_function("sq8_dot_cc", col("a"), col("b"), lo, hi)))),
      Kernel("vec_probe_cells", 10, () => vectors(5000),
        _.agg(sum(size(call_function("vec_probe_cells", col("v"), centroids, lit(4)))))),
      Kernel("topk_ordered", 1,
        () => range(400000L).select((col("id") % 200).as("g"),
          ((col("id") * 7919) % 10007).cast("double").as("k"), col("id"),
          (col("id") % 13).cast("double").as("p")),
        _.groupBy("g").agg(call_function("topk_ordered", lit(10), col("k"), col("id"),
          col("p")).as("t")).agg(sum(size(col("t"))))),
      Kernel("shingle_minhash", 5, texts,
        _.agg(sum(size(call_function("minhash_sig",
          call_function("shingle3_hashes", col("text"))))))),
      Kernel("simhash64", 5, texts,
        _.agg(max(call_function("simhash64", col("text"))))))
  }

  /** ns/row per kernel. Inputs are cached and materialized before timing. */
  def run(spark: SparkSession, corpusDir: String): Seq[(String, Double)] =
    all(spark, corpusDir).map { k =>
      val in = k.input().cache()
      try {
        val rows = in.count() * k.copies
        val src =
          if (k.copies == 1) in
          else in.withColumn("copy", explode(sequence(lit(1), lit(k.copies))))
        def once(): Double = {
          val t0 = System.nanoTime()
          k.query(src).collect()
          (System.nanoTime() - t0).toDouble / rows
        }
        once() // warm-up: codegen and JIT
        val xs = Seq.fill(Reps)(once()).sorted
        k.name -> xs(xs.size / 2)
      } finally in.unpersist(blocking = true)
    }
}
