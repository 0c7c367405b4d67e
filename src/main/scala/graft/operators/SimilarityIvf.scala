package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** The IVF / coarse-quantizer ANN family, split from [[Similarity]]
  * by family (r12 verdict #7 — pure move, no behavior change): k-means
  * codebook training, IVF search + the cell-partitioned write-time
  * layout, metadata-filtered ANN (pre-filter below the cell join), the
  * hybrid retrieval stack's IVF vector leg,
  * layout introspection, and the IVF oracle builders. Mixed into
  * `object Similarity`; all gate keys and member names are
  * unchanged. */
private[operators] trait SimilarityIvf { this: Similarity.type =>

  /** Nearest-centroid assignment against the codebook: the flattened
    * centroid matrix rides along as an array literal and the argmin runs
    * in the native vec_nearest_cell kernel — codegen'd, no ScalaUDF.
    * True L2 (not max-dot) so skewed norms still land in the right cell. */
  private[operators] def nearestCell(cents: Array[Array[Double]])(v: Column): Column =
    call_function("vec_nearest_cell", v, typedLit(cents.flatten.toSeq))

  /** The `nprobe` nearest centroids of a query vector (native kernel). */
  private[operators] def probeCells(cents: Array[Array[Double]], nprobe: Int)(v: Column): Column =
    call_function("vec_probe_cells", v, typedLit(cents.flatten.toSeq), lit(nprobe))

  /** IVF (inverted-file) ANN: a k-means coarse quantizer, then per-query
    * search restricted to the `nprobe` nearest cells.
    *
    * Scale design: the quantizer is trained on a BOUNDED deterministic
    * sample (k x 100 vectors, smallest xxhash64(vec_id) — a few MB no
    * matter the corpus size, the same regime faiss trains in) with
    * Lloyd's on the driver; only the k x 64 codebook is broadcast back.
    * The corpus is scanned once for cell assignment and never shuffled;
    * search is an equi-join on cell id. At 100 TB the corpus would be
    * written partitioned by cell (same layout trick as [[annLshBucketed]])
    * so a probe reads ~nprobe/k of the data. Rows-only check (recall vs
    * [[annTopK]] is the quality measure; k-means is not SQL-expressible). */
  private val IvfK = 32

  private[operators] val IvfNProbe = 6

  /** Deterministic k-means codebook: trained on a BOUNDED sample (k x 100
    * vectors with smallest xxhash64(vec_id) — a few MB at any corpus
    * size, the regime faiss trains in), Lloyd's on the driver, only the
    * k x dim codebook leaves. Identical data -> identical codebook, so
    * the in-memory and write-time IVF paths assign identical cells, and
    * an oracle re-runs the training instead of remembering a query's. */
  private[operators] def trainCodebook(e: DataFrame): Array[Array[Double]] = {
    val k = IvfK
    val iters = 8
    val sample: Array[Array[Double]] = e
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy("hk").limit(k * 100)
      .collect().map(_.getSeq[Double](1).toArray)
    var cents = sample.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val ct = cents(c)
          var dist = 0.0; var i = 0
          while (i < v.length) { val t = v(i) - ct(i); dist += t * t; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        counts(best) += 1
        val sb = sums(best)
        var i = 0
        while (i < v.length) { sb(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** The codebook of every plain-vector IVF entry and layout:
    * [[trainCodebook]] over the dataset's float64-cast embeddings. The
    * layouts persist exactly this (identical data -> identical codebook),
    * so the oracles call it directly. */
  private[operators] def ivfCodebook(s: SparkSession, d: String): Array[Array[Double]] =
    trainCodebook(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))

  def annIvf(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val nprobe = IvfNProbe
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = trainCodebook(e)
    val withCell = e
      .withColumn("cell", nearestCell(cents)(col("v")))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val q = withCell.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"), explode(probeCells(cents, nprobe)(col("v"))).as("cell"))
    val scored = withCell.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
    rankedTopK(scored, 5)
  }

  /** Persists `cents` as the `_codebook` sidecar of `layout`: one file,
    * one (cell, centroid) row per cell. */
  private[operators] def writeCodebook(s: SparkSession, layout: java.io.File,
                                       cents: Array[Array[Double]]): Unit = {
    import s.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"${layout}_codebook")
  }

  /** The `_codebook` sidecar of `layout` ([[writeCodebook]]) in cell
    * order: a bounded collect of k (32) rows. */
  private[operators] def readCodebook(s: SparkSession,
                                      layout: java.io.File): Array[Array[Double]] =
    s.read.parquet(s"${layout}_codebook")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)

  /** Write-time IVF layout: the corpus materialized PARTITIONED BY its
    * coarse-quantizer cell (parity with [[buildLshLayout]]), codebook
    * persisted beside it — a probe reads only its nprobe cell
    * directories (partition pruning at the scan), ~nprobe/k of the
    * corpus at any scale. Same staleness rules as the LSH layout. */
  def buildIvfLayout(s: SparkSession, d: String): java.io.File = {
    reg(s)
    // `_f32l` schema generation — see [[buildLshLayout]] for the f32
    // vector convention (stored as source float32, norms/cells in
    // float64); the `l` marks the metadata (label) column carried since
    // r12 so FILTERED searches can evaluate their predicate at the
    // pruned scan ([[annFilteredBucketed]]) — the tag keeps a pre-r12
    // on-disk layout from being misread
    val layout = graft.util.Layouts.dir("ann_ivf_f32l", d)
    if (graft.util.Layouts.stale(layout, d, "embeddings")) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cents = trainCodebook(e)
      writeCodebook(s, layout, cents)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"),
          col("embedding").as("v"), col("label"))
        .withColumn("cell", nearestCell(cents)(col("vd")))
        .withColumn("n", sqrt(dot(col("vd"), col("vd"))))
        .drop("vd")
        // one file per cell regardless of builder parallelism (see the
        // ann_bucketed_f32 note in Similarity.buildLshLayout); 8 MB row
        // groups keep a hot cell's single file SPLITTABLE — the
        // straggler cure measured at hybrid_rrf_batch100 (Layouts
        // .RowGroupBytes scaladoc)
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite")
        .option("parquet.block.size", graft.util.Layouts.RowGroupBytes.toString)
        .parquet(layout.toString)
    }
    layout
  }

  /** IVF search over the write-time layout — identical rows to
    * [[annIvf]] (same deterministic codebook), but the corpus scan is
    * partition-pruned to the probed cells instead of reading every row. */
  def annIvfBucketed(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val layout = buildIvfLayout(s, d)
    val cents = readCodebook(s, layout)
    // float32 layout scan, widened before any arithmetic (bit-identical
    // scoring — see [[buildLshLayout]])
    val e = s.read.parquet(layout.toString)
      .withColumn("v", col("v").cast("array<double>"))
    // query side reads the BASE table (single file, isin pushed to the
    // scan), not the k cell directories
    val q = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"),
        explode(probeCells(cents, IvfNProbe)(col("v"))).as("cell"))
    val scored = e.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
    rankedTopK(scored, 5)
  }

  // ---- layout introspection (r11 verdict #8) ------------------------------

  /** ANN-layout observability — the partitioned-dir sibling of
    * [[graft.sqlx.MobSql.describeLayout]] (both are the repo's answer
    * to the reference's drafted-but-disabled index pragmas,
    * ref src/index/rtree_pragmas.cpp:214-220): one row per partition
    * key (IVF `cell` / LSH-family `bkt`) of a built layout with its
    * row count, file count, and vec_id extent — the bucket histogram
    * that tells an operator whether a layout is balanced BEFORE a
    * query stumbles on the skew. Metadata-shaped: the scan reads the
    * partition column (from directory names), `vec_id`, and file
    * names only. */
  def describeAnnLayout(s: SparkSession, layoutDir: String): DataFrame = {
    val df = s.read.parquet(layoutDir)
    val key = Seq("cell", "bkt").find(df.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        s"$layoutDir has no cell/bkt partition column"))
    df.select(col(key).cast("long").as("part_key"), col("vec_id"),
        input_file_name().as("f"))
      .groupBy("part_key")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("f")).as("n_files"),
        min("vec_id").as("min_vec_id"), max("vec_id").as("max_vec_id"))
      .orderBy("part_key")
  }

  /** `layout_describe` gate entry: [[describeAnnLayout]] over the
    * IVF,SQ8 layout, projected to its oracle-able columns (file counts
    * depend on the writer's task layout; the histogram does not). The
    * DuckDB oracle replays cell assignment from the interpolated
    * codebook and re-derives the same histogram — the introspection
    * surface is exact-checked, not rows-only. */
  def layoutDescribeGate(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val layout = buildIvfSq8Layout(s, d)
    val cents = readCodebook(s, layout)
    describeAnnLayout(s, layout.getPath)
      .select("part_key", "n_rows", "min_vec_id", "max_vec_id")
  }

  /** DuckDB replay of [[layoutDescribeGate]]: cell assignment from the
    * interpolated codebook ([[ivfOracleSelect]]'s CTE), then the same
    * per-cell histogram. */
  private[operators] def layoutDescribeOracle(cents: Array[Array[Double]]): String = {
    val vals = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ",", "]")})" }
      .mkString(",\n")
    s"""WITH cells(cell, c) AS (VALUES $vals),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       dist AS (
         SELECT e.vec_id, cl.cell,
           list_sum(list_transform(generate_series(1, len(cl.c)),
             i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i]))) AS d2
         FROM emb e CROSS JOIN cells cl),
       assigned AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
           FROM dist) WHERE rk = 1)
       SELECT CAST(cell AS BIGINT) AS part_key, count(*) AS n_rows,
         min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
       FROM assigned GROUP BY 1 ORDER BY 1"""
  }

  /** Driver-side replica of the `vec_probe_cells` kernel: the `nprobe`
    * nearest centroids of `v`, ties (d2 asc, cell asc) — used wherever
    * a probed-cell list must become a pruning LITERAL (bounded driver
    * work: k×dim distance sums for one query vector). */
  private[operators] def nearestCellsLocal(cents: Array[Array[Double]],
                                v: Array[Double], nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      var d2 = 0.0; var k = 0
      while (k < v.length) { val t = v(k) - c(k); d2 += t * t; k += 1 }
      (d2, i)
    }.sortBy(p => (p._1, p._2)).take(nprobe).map(_._2).toSeq

  // ---- metadata-filtered ANN (pre-filter below the cell join) -------------

  /** The filtered-search predicate: `label % 3 = 0` (embeddings carry an
    * int cluster label; ~1/3 selective on both corpora). */
  private def filterPred(c: Column): Column = c % 3 === 0

  /** Filter-aware probe widening: a ~1/3-selective predicate thins each
    * probed cell's candidate pool by ~3x, so the filtered search keeps
    * its effective candidate count (and recall) by probing proportionally
    * more cells — ⌈nprobe/selectivity⌉ capped at k/2, the adaptive-nprobe
    * rule production IVF stores apply under filters. Measured recall@5 vs
    * the exact FILTERED brute force: 0.62 at nprobe=6, 0.84 at 16
    * (RetrievalSpec pins the floor). */
  private[operators] val FilteredNProbe = 16

  /** Metadata-filtered ANN — "top-k neighbors AMONG rows passing a
    * predicate", the filtered-vector-search shape every production
    * vector store exposes (RAG collections filter by source / license /
    * language before ranking). Reference counterpart: the TRTREE scan's
    * residual predicates composing with the index probe
    * (`rtree_index_scan.cpp` applies the remaining table filters on the
    * index's candidate rows).
    *
    * Scale design — PRE-filter, not post-filter. The predicate sits
    * BELOW the cell equi-join, so (a) over the cell-partitioned
    * write-time layout it evaluates in the scan STAGE of the probed
    * cells, before any join or shuffle (this gate predicate is
    * arithmetic, so it filters rows as they stream off the scan; an
    * equality/range predicate — `lang = 'en'`, `license IN (...)` —
    * additionally reaches the parquet row-group stats as a pushed
    * filter), and (b) top-k ranks the filtered candidate stream, so
    * every query still returns k rows. The naive alternative — post-filtering an unfiltered
    * top-k — returns < k (possibly zero) rows whenever the predicate is
    * selective; RetrievalSpec pins that failure mode and a recall floor
    * vs the exact filtered brute force. Exact-oracled via the IVF
    * codebook-interpolation convention ([[ivfOracleSelect]]). Queries
    * themselves are NOT filtered: any caller may search a filtered
    * collection. */
  def annFiltered(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val cents = trainCodebook(e)
    val withCell = e
      .withColumn("cell", nearestCell(cents)(col("v")))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val q = withCell.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"),
        explode(probeCells(cents, FilteredNProbe)(col("v"))).as("cell"))
    val scored = withCell.filter(filterPred(col("label")))
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
    rankedTopK(scored, 5)
  }

  /** The IVF vector leg of the hybrid retrieval stack
    * ([[Retrieval.hybridRrfIvf]] as a batch of one, the batch entries
    * through [[Retrieval.batchLegs]]): `qvs` is a small (query_id, qv)
    * frame, one PRF vector per query. The probed-cell UNION becomes the
    * layout scan's static pruning literal — the scan reads ≤
    * |queries|·nprobe of the cell directories ONCE, shared by every
    * query — and each query scores only its OWN cells' rows, so
    * candidate volume per query stays nprobe/k of the corpus. Returns
    * (query_id, doc_id, r6) candidates for the caller's [[rankedTopK]].
    *
    * Scoring and the per-partition partial top-k are ONE partition
    * kernel (r14 optimization): the join+aggregate form (kept as the
    * equivalence twin in BatchLegTwinSpec) paid per-PAIR operator
    * machinery the stack profile put at ~20x the 64-term dot itself —
    * the broadcast join's output-row write + `copy()` per match, the
    * object hash aggregate's grouping projection + probe per scored
    * pair, and the per-row `CAST(array<float> -> array<double>)`. Here
    * one loop over the PRUNED layout rows reads the float vector
    * directly ([[graft.functions.VectorKernels.dot]] widens exactly, so
    * the fold is bit-identical to the cast+vec_dot form), computes the
    * same `fastRound(dot / (n * qn), 6)` the expression path computes,
    * and keeps at most `k` (−r6, vec_id) triples per query per
    * partition ([[graft.functions.TopKOrderedAgg.Buffers]]). −r6 is the
    * final's own key (r6 carries ≤ 6 decimals, so the re-round is
    * identity), and (−r6, vec_id) is a total order over a query's
    * candidates (a doc lives in exactly one cell), so every partition
    * keeps each global top-k member it holds and the downstream
    * [[rankedTopK]] over the ≤ partitions·|Q|·k candidate rows returns
    * rows identical to running it over all pairs. */
  private[operators] def ivfBatchCandidates(s: SparkSession, d: String,
                                            qvs: DataFrame,
                                            k: Int): DataFrame = {
    import graft.functions.{TopKOrderedAgg, VectorKernels}
    reg(s)
    val layout = buildIvfLayout(s, d)
    val cents = readCodebook(s, layout)
    // bounded collect: |queries| rows; probed cells come from the
    // driver-held 32-row codebook
    val qRows: Array[(Long, Array[Double])] = qvs.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qIds: Array[Long] = qRows.map(_._1)
    val qVecs: Array[Array[Double]] = qRows.map(_._2)
    val qNorms: Array[Double] = qVecs.map(VectorKernels.norm)
    val probedPairs: Seq[(Int, Int)] = qRows.toSeq.zipWithIndex
      .flatMap { case ((_, v), qi) =>
        nearestCellsLocal(cents, v, IvfNProbe).map(c => (qi, c)) }
    val allCells = probedPairs.map(_._2).distinct.sorted
    val cellQ: Map[Int, Array[Int]] = probedPairs
      .groupBy(_._2).map { case (c, ps) => (c, ps.map(_._1).toArray) }
    import s.implicits._
    val pow6 = math.pow(10.0, 6)
    s.read.parquet(layout.toString)
      .filter(col("cell").isin(allCells: _*))
      .select(col("cell").cast("int"), col("vec_id"), col("v"), col("n"))
      .toDF("_1", "_2", "_3", "_4")
      .as[(Int, Long, Array[Float], Double)]
      .mapPartitions { it =>
        val top = new TopKOrderedAgg.Buffers(qVecs.length, k)
        while (it.hasNext) {
          val (cell, vid, vf, n) = it.next()
          val qs = cellQ.getOrElse(cell, null)
          if (qs != null) {
            var j = 0
            while (j < qs.length) {
              val qi = qs(j)
              val r6 = VectorKernels.fastRound(
                VectorKernels.dot(vf, qVecs(qi)) / (n * qNorms(qi)), pow6, 6)
              top.offer(qi, -r6, vid, r6)
              j += 1
            }
          }
        }
        top.emit((qi, _, vid, r6) => (qIds(qi), vid, r6))
      }
      .toDF("query_id", "doc_id", "r6")
  }

  /** [[annFiltered]] over the write-time IVF layout — IDENTICAL rows
    * (same deterministic codebook, widened probe set, predicate,
    * scoring, ranking), but the scale claim is realized at the scan:
    * the layout carries the metadata column (`_f32l` schema), so the
    * label predicate evaluates inside the ≤16 PRUNED cell directories —
    * partition pruning cuts the rows to nprobe/k and the predicate cuts
    * them again by its selectivity before any join or shuffle
    * (plan-asserted: cell PartitionFilters + the predicate in the
    * streamed join side). Query vectors are a bounded 10-row collect so
    * the probed-cell union becomes the pruning literal (the
    * [[annIvfSq8]] convention). Same oracle form as [[annFiltered]]
    * with the layout-loaded codebook. */
  def annFilteredBucketed(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val layout = buildIvfLayout(s, d)
    val cents = readCodebook(s, layout)
    val eBase = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qVecs: Array[(Long, Array[Double])] =
      eBase.filter(col("vec_id").isin(queryIds: _*)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    import s.implicits._
    val probedPairs: Seq[(Long, Int)] = qVecs.toSeq
      .flatMap { case (id, v) =>
        nearestCellsLocal(cents, v, FilteredNProbe).map(c => (id, c)) }
    val qCells = probedPairs.toDF("query_id", "cell")
    val allCells = probedPairs.map(_._2).distinct.sorted
    val q = eBase.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        sqrt(dot(col("v"), col("v"))).as("qn"))
      .join(broadcast(qCells), Seq("query_id"))
    val e = s.read.parquet(layout.toString)
      .filter(col("cell").isin(allCells: _*))
      .filter(filterPred(col("label")))
      .withColumn("v", col("v").cast("array<double>"))
    val scored = e.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
    rankedTopK(scored, 5)
  }

  /** IVF oracle: the codebook rides along as a VALUES literal; DuckDB
    * independently re-derives cell assignment (sequential (v-c)^2 sum,
    * ties to the lowest cell — the [[graft.functions.VectorKernels]]
    * semantics), the nprobe=6 probe set, and the per-cell scoring. */
  private[operators] def ivfOracleSelect(cents: Array[Array[Double]],
                              candPred: String = "",
                              nprobe: Int = IvfNProbe): String = {
    val vals = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ",", "]")})" }
      .mkString(",\n")
    s"""WITH cells(cell, c) AS (VALUES $vals),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       dist AS (
         SELECT e.vec_id, e.v, e.label, cl.cell,
           list_sum(list_transform(generate_series(1, len(cl.c)),
             i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i]))) AS d2
         FROM emb e CROSS JOIN cells cl),
       rk AS (
         SELECT vec_id, v, label, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
         FROM dist),
       assigned AS (
         SELECT r.vec_id, r.v, r.label,
           sqrt(list_dot_product(r.v, r.v)) AS n, r.cell
         FROM rk r WHERE r.rk = 1),
       q AS (
         SELECT a.vec_id AS query_id, a.v AS qv, a.n AS qn, r.cell
         FROM assigned a JOIN rk r ON r.vec_id = a.vec_id AND r.rk <= $nprobe
         WHERE a.vec_id IN (1, 7, 42, 99, 123, 200, 256, 300, 404, 499)),
       scored AS (
         SELECT q.query_id, e.vec_id AS neighbor_id,
           list_dot_product(e.v, q.qv) / (e.n * q.qn) AS cos
         FROM assigned e JOIN q ON e.cell = q.cell AND e.vec_id <> q.query_id
         $candPred),
       ranked AS (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
         FROM scored)
       SELECT query_id, rank, neighbor_id, round(cos, 5) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }
}
