package graft.scale

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus generator for the pipeline decade
  * rows — the documents/lineitem analogue of BerlinMOD's distributed
  * trip generator. The driver's `documents` table tops out at 5 000
  * rows (sf0.1), so the 100 TB claims for the dedup/text operators need
  * corpora the driver does not ship; this generates them with the
  * statistics those claims depend on:
  *
  *  - **Heaps-law vocabulary growth**: ~78% of tokens draw from a fixed
  *    40-word common vocabulary (these form the high-df stop-shingles
  *    that prefix filtering must push into suffixes) and ~22% from a
  *    long-tail vocabulary that GROWS with the corpus (10 tail words
  *    per document, like real crawl text). A fixed vocabulary would make
  *    shingle document-frequency grow linearly with corpus size and
  *    all-pairs work quadratically — flattering no algorithm and
  *    modelling no real corpus.
  *  - **Planted duplication**: ~2% exact duplicates and ~5% near
  *    duplicates (8% token mutations) of a doc within the preceding
  *    1 000 — so dedup output sizes grow linearly with the corpus, as
  *    crawl dedup rates do.
  *  - Text is a PURE FUNCTION of the doc id (splitmix64 streams), so a
  *    duplicate's source text regenerates in place — generation is one
  *    mapPartitions over spark.range with NO data movement and no
  *    driver materialization at any scale.
  *
  * Layout matches the driver's sf dirs (`documents.parquet`,
  * `lineitem.parquet` as parquet directories), so the bench runs the
  * UNCHANGED `SparkEntry.queries` entries against the generated dir.
  */
object SynthCorpus {

  /** splitmix64 — the same deterministic stream family the BerlinMOD
    * generator and the LSH planes use. */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  @inline private def fm(r: Long, m: Long): Int = Math.floorMod(r, m).toInt

  /** Fixed write fan-out for every generated table. Row CONTENT is a
    * pure function of the global row id, but the former
    * `defaultParallelism * 2` made the FILE layout a function of
    * whichever JVM regenerated the cache dir (a 32-thread probe wrote
    * 64 files where an 8-cpu bench warm-up wrote 16), so scan-split
    * shape — and hence the decade-row timings read off these dirs —
    * depended on cache history. 64 matches the layout the archived
    * mins were recorded under and gives local[32] two waves of splits
    * before byte-based splitting kicks in at the larger mults. */
  private val writeParts = 64

  /** Driver-corpus-flavoured common vocabulary (the sf tables draw from
    * the same ~40 query-engine words). */
  private val common: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "the", "join", "index", "page", "block", "cache",
    "read", "write", "plan", "cost", "stats", "disk", "node", "shard")

  private val langs = Array("en", "de", "fr", "es", "zh")

  /** Deterministic text for `seed`: 20–90 tokens, ~78% common / ~22%
    * long-tail (`wNNN`) with the tail id space sized by `tailVocab`. */
  private def docText(seed: Long, tailVocab: Long): String = {
    var s = mix(seed ^ 0x5851F42D4C957F2DL)
    def next(): Long = { s = mix(s); s }
    val n = 20 + fm(next(), 71)
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val r = next()
      if (fm(r, 9) < 2) sb.append('w').append(Math.floorMod(next(), tailVocab))
      else sb.append(common(fm(r, common.length)))
      i += 1
    }
    sb.toString
  }

  /** Near-dup mutation: replace ~8% of tokens (deterministic positions)
    * with fresh tail words. */
  private def mutate(text: String, seed: Long, tailVocab: Long): String = {
    val toks = text.split(' ')
    var s = mix(seed ^ 0x2545F4914F6CDD1DL)
    def next(): Long = { s = mix(s); s }
    val nMut = math.max(1, toks.length / 12)
    var k = 0
    while (k < nMut) {
      val pos = fm(next(), toks.length)
      toks(pos) = "w" + Math.floorMod(next(), tailVocab)
      k += 1
    }
    toks.mkString(" ")
  }

  /** Write `documents.parquet` with `nDocs` rows under `outDir`. */
  def writeDocuments(spark: SparkSession, nDocs: Long, outDir: String): Unit = {
    import spark.implicits._
    // tail vocabulary ∝ corpus (Heaps with β≈1 keeps mean shingle df
    // constant across decades — the property the growth claims assume)
    val tailVocab = math.max(2000L, nDocs * 10)
    val parts = writeParts
    val docs = spark.range(0L, nDocs, 1L, parts).mapPartitions { it =>
      it.map { i =>
        val r = mix(i ^ 0x9E3779B97F4A7C15L)
        val roll = fm(r, 100)
        val back = 1L + Math.floorMod(mix(i + 5), math.min(i, 1000L).max(1L))
        val text =
          if (i < 10 || roll >= 7) docText(i, tailVocab)
          else if (roll < 2) docText(i - back, tailVocab) // exact dup
          else mutate(docText(i - back, tailVocab), i, tailVocab) // near dup
        (i, text, langs(fm(mix(i + 11), langs.length)),
          "src" + fm(mix(i + 13), 20), text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
  }

  /** Write `lineitem.parquet` (the columns sketch_kmv_grouped and
    * sketch_bloom_join read) with `nRows` rows under `outDir` — pure
    * column expressions, no lambda. Key spaces scale with the row count
    * so the distinct count the KMV estimates keeps growing; l_orderkey
    * references the [[writeOrders]] key space (4 lineitems per order,
    * the TPC-H ratio) so the bloom semi-join-reduction probe has a real
    * fact→dim key. */
  def writeLineitem(spark: SparkSession, nRows: Long, outDir: String): Unit = {
    val parts = writeParts
    val nPart = math.max(200L, nRows / 30)
    val nSupp = math.max(10L, nRows / 600)
    val nOrd = math.max(100L, nRows / 4)
    spark.range(0L, nRows, 1L, parts)
      .select(
        element_at(typedLit(Seq("A", "N", "N", "R")),
          (pmod(xxhash64(col("id"), lit(1)), lit(4)) + 1).cast("int"))
          .as("l_returnflag"),
        pmod(xxhash64(col("id"), lit(2)), lit(nPart)).as("l_partkey"),
        pmod(xxhash64(col("id"), lit(3)), lit(nSupp)).as("l_suppkey"),
        pmod(xxhash64(col("id"), lit(4)), lit(nOrd)).as("l_orderkey"),
        ((pmod(xxhash64(col("id"), lit(5)), lit(9900000L)) + 100000L)
          .cast("double") / 100).as("l_extendedprice"),
        (pmod(xxhash64(col("id"), lit(6)), lit(11)).cast("double") / 100)
          .as("l_discount"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")
  }

  /** Write `orders.parquet` (the two columns sketch_bloom_join's build
    * side reads): o_orderkey dense 0..nOrders-1, o_totalprice uniform in
    * [0, U) with U chosen so `> 450000` keeps ~3 300 orders at EVERY
    * scale. Holding the selected dim set constant across decades is the
    * scenario the semi-join-reduction claim is about — a deployment
    * whose key set grew 100x would size m up with it (a sizing input,
    * not a plan property); the probe's decades must measure the
    * probe-side fact scan, which is the part that scales. */
  def writeOrders(spark: SparkSession, nOrders: Long, outDir: String): Unit = {
    val parts = writeParts
    // U_cents solves nOrders * (U - 450000)/U = 3300; the formula is
    // always > 45000000 cents when the denominator is positive, so the
    // only guard needed is tiny nOrders (≤ 3300 would flip the sign —
    // fall back to half the orders qualifying, still ≤ 3300 keys).
    // A fixed floor here would silently override the solve at large
    // nOrders and break the constant-key-set invariant (r10 review).
    val upperCents = (45000000.0 * nOrders /
      math.max(nOrders - 3300.0, nOrders * 0.5)).toLong
    spark.range(0L, nOrders, 1L, parts)
      .select(
        col("id").as("o_orderkey"),
        (pmod(xxhash64(col("id"), lit(7)), lit(upperCents)).cast("double")
          / 100).as("o_totalprice"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/orders.parquet")
  }

  /** Write `embeddings.parquet` (vec_id, 64-dim float vector, label)
    * with `nVecs` rows — the ANN-family probe corpus. Vectors are a pure
    * splitmix64 function of vec_id: 32 latent clusters (center 0.8 +
    * per-dim noise 0.35, both uniform [-1,1]) so the IVF coarse
    * quantizer has real structure to find, matching the driver table's
    * labeled-cluster shape. Generation is one mapPartitions over
    * spark.range — no data movement, no driver materialization. */
  def writeEmbeddings(spark: SparkSession, nVecs: Long, outDir: String): Unit = {
    import spark.implicits._
    val parts = writeParts
    val dim = 64
    val nClusters = 32
    spark.range(0L, nVecs, 1L, parts).mapPartitions { it =>
      it.map { i =>
        val g = fm(mix(i ^ 0x6C62272E07BB0142L), nClusters)
        val v = new Array[Float](dim)
        var s = mix(i ^ 0x27D4EB2F165667C5L)
        var k = 0
        while (k < dim) {
          val cRaw = mix((g.toLong * dim + k) ^ 0x165667B19E3779F9L)
          val c = (Math.floorMod(cRaw, 2001L) - 1000L) / 1000.0
          s = mix(s)
          val noise = (Math.floorMod(s, 2001L) - 1000L) / 1000.0
          v(k) = (c * 0.8 + noise * 0.35).toFloat
          k += 1
        }
        (i, v.toSeq, g)
      }
    }.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding"),
        col("label").cast("int").as("label"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  /** Generate a full probe dir at `mult` x the sf0.1 base (5 000 docs /
    * 600 000 lineitem rows / 50 000 vectors). The corpus is a pure
    * function of `mult`, so a dir whose three _SUCCESS markers exist is
    * complete and bit-identical to a regeneration — skip it (the 1000x
    * corpus is ~14 GB / minutes of write). */
  def generate(spark: SparkSession, mult: Int, outDir: String): Unit = {
    def ok(t: String) =
      new java.io.File(s"$outDir/$t.parquet/_SUCCESS").exists()
    // per-table skip (the 1000x corpus is ~14 GB / minutes of write);
    // lineitem gained the bloom-join columns in r10, so a pre-r10 dir's
    // lineitem is stale — detect by schema, not just the marker
    val lineitemCurrent = ok("lineitem") && scala.util.Try(
      spark.read.parquet(s"$outDir/lineitem.parquet")
        .schema.fieldNames.contains("l_orderkey")).getOrElse(false)
    if (!ok("documents")) writeDocuments(spark, 5000L * mult, outDir)
    if (!lineitemCurrent) writeLineitem(spark, 600000L * mult, outDir)
    if (!ok("orders")) writeOrders(spark, 150000L * mult, outDir)
    if (!ok("embeddings")) writeEmbeddings(spark, 50000L * mult, outDir)
  }
}
