package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** The quantization ANN family, split from [[Similarity]] by family
  * (r12 verdict #7 — pure move, no behavior change): product
  * quantization (PQ, IVF-PQ and the packed write-time layout), scalar
  * quantization (SQ8, packed SQ8, IVF x SQ8 composition), and their
  * DuckDB oracle builders. Mixed into `object Similarity`; all gate
  * keys and member names are unchanged. */
private[operators] trait SimilarityQuant { this: Similarity.type =>

  /** Product quantization (Jegou et al. 2011): the 64-dim vector splits
    * into PqM = 8 subspaces of 8 dims; each subspace gets its own
    * 256-centroid codebook (8-bit subquantizers — the paper's standard
    * configuration), so a vector compresses to 8 one-byte codes (64-bit
    * codes, 64x smaller than the raw doubles). Queries scan the CODES
    * with an ADC (asymmetric distance computation) lookup table — the
    * 100 TB argument: the similarity scan reads 8 bytes/vector instead
    * of 512, and the table of query-to-centroid distances (M x 256
    * doubles per query) is broadcast, so the scan stays embarrassingly
    * parallel with no shuffle until the final per-query top-k.
    *
    * Shape here: codebooks train like IVF's (bounded deterministic
    * sample, Lloyd's on the driver); corpus encoding is M
    * vec_nearest_cell kernel calls (codegen'd); the ADC join explodes
    * codes to (vec_id, j, code) rows and equi-joins the broadcast
    * lookup, summing the M quantized subspace distances per
    * (query, vector) — every stage a scan, broadcast join, or
    * partial+final agg. The compressed scan only SHORTLISTS (top-64 per
    * query); the final top-5 is an exact re-rank of the shortlist — the
    * standard two-stage PQ pipeline (full vectors are fetched for 64
    * rows per query, a vanishing fraction at scale). Recall@5 vs
    * [[annTopK]] on the gate's near-random synthetic space (neighbor
    * gaps ~0.01 cosine — the hard regime) went 0.80 -> 0.98 when the
    * subquantizers moved from 4-bit to these 8-bit codebooks;
    * PipelineOpsSpec pins >= 0.8. Exact-oracle checked: the codebooks
    * interpolate into DuckDB as VALUES literals ([[pqOracleSelect]]),
    * which replays assignment, lookup, shortlist, and re-rank
    * bit-for-bit. */
  private val PqM = 8       // subspaces

  private val PqSub = 8     // dims per subspace (PqM * PqSub = 64)

  private val PqK = 256     // centroids per subspace (8-bit codes)

  /** Per-subspace deterministic Lloyd's — same bounded-sample regime as
    * [[trainCodebook]], one codebook per subspace over its 8-dim slice.
    * Sample is PqK x 20 = 5 120 rows (driver-side Lloyd's stays ~1 s at
    * any corpus size — the bounded-collect argument). */
  private[operators] def trainPqCodebooks(e: DataFrame): Array[Array[Array[Double]]] = {
    val iters = 8
    val sample: Array[Array[Double]] = e
      .withColumn("hk", xxhash64(col("vec_id")))
      .orderBy("hk").limit(PqK * 20)
      .collect().map(_.getSeq[Double](1).toArray)
    Array.tabulate(PqM) { j =>
      val sub = sample.map(v => v.slice(j * PqSub, (j + 1) * PqSub))
      var cents = sub.take(PqK).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(PqK)(new Array[Double](PqSub))
        val counts = new Array[Int](PqK)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < PqK) {
            val ct = cents(c)
            var dist = 0.0; var i = 0
            while (i < PqSub) { val t = v(i) - ct(i); dist += t * t; i += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          counts(best) += 1
          val sb = sums(best)
          var i = 0
          while (i < PqSub) { sb(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(PqK)(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c)))
      }
      cents
    }
  }

  /** The PQ family's input: the dataset's embeddings L2-NORMALIZED —
    * on the unit sphere L2 is monotone in cosine (||a-b||^2 = 2 - 2cos),
    * so the ADC metric and the target metric agree for any input. */
  private[operators] def unitEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .withColumn("n", sqrt(dot(col("v0"), col("v0"))))
      .select(col("vec_id"), expr("transform(v0, x -> x / n)").as("v"))

  /** (vec_id, cell, r): each vector's cell and its RESIDUAL
    * r = v - centroid(cell). */
  private def residuals(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cellsDf = cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "c")
    e.withColumn("cell", nearestCell(cents)(col("v")))
      .join(broadcast(cellsDf), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(v, c, (x, y) -> x - y)").as("r"))
  }

  /** The IVF-PQ pair: the coarse codebook over `e`, then the PQ
    * codebooks over the residuals — shared by [[annIvfPq]], the
    * write-time layout and the oracle. */
  private[operators] def trainIvfPq(e: DataFrame)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = trainCodebook(e)
    (cents, trainPqCodebooks(residuals(e, cents).select(col("vec_id"), col("r"))))
  }

  def annPq(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val e = unitEmbeddings(s, d)
    val cbs = trainPqCodebooks(e)
    // corpus -> (vec_id, j, code): one nearest-cell kernel per subspace
    val codeCols = (0 until PqM).map { j =>
      struct(lit(j).as("j"),
        call_function("vec_nearest_cell",
          slice(col("v"), j * PqSub + 1, PqSub),
          typedLit(cbs(j).flatten.toSeq)).as("code"))
    }
    val codes = e
      .select(col("vec_id"), explode(array(codeCols: _*)).as("jc"))
      .select(col("vec_id"), col("jc.j").as("j"), col("jc.code").as("code"))
    // broadcast ADC lookup: query x subspace x centroid -> quantized d
    import s.implicits._
    val cells = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
    }.toSeq.toDF("j", "code", "c")
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val adc = q.crossJoin(cells)
      .select(col("query_id"), col("j"), col("code"),
        round(expr("aggregate(zip_with(slice(qv, j * 8 + 1, 8), c," +
          " (x, y) -> (x - y) * (x - y)), 0d, (acc, t) -> acc + t)"), 6)
          .as("dsub"))
    val scored = codes.join(broadcast(adc), Seq("j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dsub").as("d2"))
    // ADC shortlist (top-64 in the compressed domain; round at 1e-6 =
    // the dsub quantum so the cut is engine-stable), then EXACT re-rank
    // of the shortlist only — the standard PQ pipeline: full vectors are
    // read for 64 rows per query, not the corpus
    val shortlist = shortlistTopK(
      scored.select(col("query_id"), round(col("d2"), 6).as("d2r"),
        col("vec_id")), 64)
    // the shortlist is 64 ids/query — BROADCAST it so the rerank is a
    // broadcast-hash-join over the corpus scan: without the hint the
    // planner (blind to the aggregate's output size) picks a sort-merge
    // join and shuffles every full vector (measured 2.6 GB at 5M
    // vectors — the true source of the r7 "2.8 GB ADC shuffle")
    val rerank = e.join(broadcast(shortlist), "vec_id")
      .join(broadcast(q.withColumnRenamed("qv", "qv2")), "query_id")
      .withColumn("cos", dot(col("v"), col("qv2")))
    rankedTopK(rerank, 5)
  }

  /** IVF-PQ composite (the faiss IndexIVFPQ shape, Jegou et al. 2011
    * §V): an IVF coarse quantizer restricts the scan to nprobe cells AND
    * the in-cell scan reads 8-byte PQ codes of the RESIDUAL (v - cell
    * centroid) instead of raw vectors — the standard billion-scale
    * layout (residuals have ~1/k the variance of raw vectors, so the
    * same 64-bit budget quantizes much finer).
    *
    * 100 TB shape: corpus written partitioned by cell with codes beside
    * ids (8 B + id per vector); a query reads nprobe/k of THAT — the two
    * reductions multiply (nprobe/k of the corpus x 64x smaller rows).
    * Both codebooks are bounded driver-side samples (same regime as
    * [[trainCodebook]]/[[trainPqCodebooks]]); the ADC table
    * (queries x nprobe x M x 256 rows) is broadcast; scoring is an
    * equi-join on (cell, j, code) + partial-final sum; the exact re-rank
    * touches 64 full vectors per query. Exact-oracled:
    * [[ivfPqOracleSelect]] interpolates BOTH codebooks and replays
    * assignment, residual encoding, ADC, shortlist, and re-rank. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    reg(s)
    import s.implicits._
    val e = unitEmbeddings(s, d)
    val (cents, cbs) = trainIvfPq(e)
    val cellsDf = cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "c")
    val res = residuals(e, cents)
    val codeCols = (0 until PqM).map { j =>
      struct(lit(j).as("j"),
        call_function("vec_nearest_cell",
          slice(col("r"), j * PqSub + 1, PqSub),
          typedLit(cbs(j).flatten.toSeq)).as("code"))
    }
    val codes = res
      .select(col("vec_id"), col("cell"), explode(array(codeCols: _*)).as("jc"))
      .select(col("vec_id"), col("cell"), col("jc.j").as("j"),
        col("jc.code").as("code"))
    // query ADC: per probed cell, the lookup is against the QUERY residual
    // in that cell — (query, cell, j, code) -> quantized subspace distance
    val cbRows = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
    }.toSeq.toDF("j", "code", "cc")
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(probeCells(cents, IvfNProbe)(col("v"))).as("cell"))
      .join(broadcast(cellsDf), "cell")
      .select(col("query_id"), col("qv"), col("cell"),
        expr("zip_with(qv, c, (x, y) -> x - y)").as("qr"))
    val adc = q.crossJoin(cbRows)
      .select(col("query_id"), col("cell"), col("j"), col("code"),
        round(expr("aggregate(zip_with(slice(qr, j * 8 + 1, 8), cc," +
          " (x, y) -> (x - y) * (x - y)), 0d, (acc, t) -> acc + t)"), 6)
          .as("dsub"))
    val scored = codes.join(broadcast(adc), Seq("cell", "j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dsub").as("d2"))
    val shortlist = shortlistTopK(
      scored.select(col("query_id"), round(col("d2"), 6).as("d2r"),
        col("vec_id")), 64)
    val qFull = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv2"))
    // the shortlist is 64 ids/query — BROADCAST it so the rerank is a
    // broadcast-hash-join over the corpus scan: without the hint the
    // planner (blind to the aggregate's output size) picks a sort-merge
    // join and shuffles every full vector (measured 2.6 GB at 5M
    // vectors — the true source of the r7 "2.8 GB ADC shuffle")
    val rerank = e.join(broadcast(shortlist), "vec_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("cos", dot(col("v"), col("qv2")))
    rankedTopK(rerank, 5)
  }

  /** Write-time IVF-PQ layout: PQ ENCODING IS INGEST WORK, NOT QUERY
    * WORK — the scale probe measured the in-memory [[annIvfPq]] growing
    * ~3x/decade almost entirely in the per-vector encode (M nearest-of-
    * 256 kernel calls), which a production system pays once at write
    * time. This materializes ONE row per vector — (vec_id, codes) with
    * the M = 8 one-byte codes PACKED into a single BIGINT (code_j in
    * bits [8j, 8j+8)) — partitioned by coarse cell with both codebooks
    * beside it. That is the literal PQ storage promise: 8 bytes of code
    * per vector, and the query path reads ~nprobe/k of THAT without
    * re-encoding, exploding, or joining per-code rows (the r7 layout
    * kept 8 (j, code) rows per vector, which forced a corpus-
    * proportional join+groupBy at query time — 2.8 GB shuffle at 5M
    * vectors). Same staleness rules as [[buildIvfLayout]]. */
  def buildIvfPqLayout(s: SparkSession, d: String): java.io.File = {
    reg(s)
    import s.implicits._
    // "2" = packed-codes schema; a stale r7 (vec_id, j, code) layout dir
    // can linger without ever being read
    val layout = graft.util.Layouts.dir("ann_ivfpq2", d)
    if (graft.util.Layouts.stale(layout, d, "embeddings")) {
      val e = unitEmbeddings(s, d)
      val (cents, cbs) = trainIvfPq(e)
      val res = residuals(e, cents)
      cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"${layout}_coarse")
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
      }.toSeq.toDF("j", "code", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"${layout}_pq")
      // pack the M codes into one long: code_j occupies bits [8j, 8j+8)
      // (each vec_nearest_cell is a codegen'd kernel call; the sum of
      // disjoint shifted bytes is the bitwise pack)
      val packed = (0 until PqM).map { j =>
        shiftleft(call_function("vec_nearest_cell",
          slice(col("r"), j * PqSub + 1, PqSub),
          typedLit(cbs(j).flatten.toSeq)).cast("bigint"), 8 * j)
      }.reduce(_ + _)
      res.select(col("vec_id"), col("cell"), packed.as("codes"))
        // one file per cell regardless of builder parallelism (see the
        // ann_bucketed_f32 note in Similarity.buildLshLayout); 8 MB row
        // groups keep a hot cell's file splittable (Layouts.RowGroupBytes)
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite")
        .option("parquet.block.size", graft.util.Layouts.RowGroupBytes.toString)
        .parquet(layout.toString)
    }
    layout
  }

  /** IVF-PQ search over the write-time layout — identical rows to
    * [[annIvfPq]] (same deterministic codebooks), but the corpus is
    * never re-encoded OR shuffled: the scan reads only the probed cells'
    * packed-code rows (partition pruning on the driver-computed
    * probe-cell list), the ADC sum is a per-row projection against a
    * broadcast per-(query, cell) lookup array, the shortlist is a
    * 64-bounded partial+final aggregate (`topk_ordered`), and the exact
    * re-rank reads full vectors for 64 ids per query. */
  def annIvfPqBucketed(s: SparkSession, d: String): DataFrame = {
    reg(s)
    import s.implicits._
    val layout = buildIvfPqLayout(s, d)
    val cents: Array[Array[Double]] = s.read.parquet(s"${layout}_coarse")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    val cbs: Array[Array[Array[Double]]] = {
      val rows = s.read.parquet(s"${layout}_pq")
        .orderBy("j", "code").collect()
      Array.tabulate(PqM)(j => rows.filter(_.getInt(0) == j)
        .map(_.getSeq[Double](2).toArray))
    }
    // query vectors: a bounded collect (10 ids) so the probed-cell list
    // becomes a LITERAL isin filter -> partition pruning at the scan
    val e = unitEmbeddings(s, d)
    val qVecs: Array[(Long, Array[Double])] =
      e.filter(col("vec_id").isin(queryIds: _*)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed: Map[Long, Seq[Int]] =
      qVecs.map { case (id, v) => id -> nearestCellsLocal(cents, v, IvfNProbe) }.toMap
    val allCells = probed.values.flatten.toSeq.distinct.sorted
    // per-(query, probed cell) ADC LOOKUP ARRAY (M x 256 = 2048 doubles),
    // built driver-side and BROADCAST — the scored path is then a pure
    // per-row projection over the packed codes: 8 element_at terms, no
    // join on code rows, no groupBy, no corpus-proportional shuffle
    // (the r7 shape shuffled 2.8 GB here at 5M vectors)
    val lutRows: Seq[(Long, Int, Seq[Double])] = for {
      (qid, qv) <- qVecs.toSeq
      cell <- probed(qid)
    } yield {
      val cc = cents(cell)
      val lut = new Array[Double](PqM * PqK)
      var j = 0
      while (j < PqM) {
        var code = 0
        while (code < PqK) {
          val cb = cbs(j)(code)
          var d2 = 0.0; var k = 0
          while (k < PqSub) {
            val t = (qv(j * PqSub + k) - cc(j * PqSub + k)) - cb(k)
            d2 += t * t; k += 1
          }
          // HALF_UP to match Spark round() and DuckDB round() exactly
          lut(j * PqK + code) =
            BigDecimal(d2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          code += 1
        }
        j += 1
      }
      (qid, cell, lut.toSeq)
    }
    val luts = lutRows.toDF("query_id", "cell", "lut")
    val codes = s.read.parquet(layout.toString)
      .filter(col("cell").isin(allCells: _*))
    // ADC sum as an 8-term projection: lut[j*256 + byte_j(codes)]
    val adcSum = (0 until PqM).map { j =>
      element_at(col("lut"),
        shiftright(col("codes"), 8 * j).bitwiseAND(lit(255L)).cast("int")
          + lit(j * PqK + 1))
    }.reduce(_ + _)
    val scored = codes.join(broadcast(luts), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), round(adcSum, 6).as("d2r"), col("vec_id"))
    // per-query shortlist via the bounded partial+final aggregate: each
    // partition keeps at most 64 (d2r, vec_id) pairs per query, so the
    // only exchange on the scored path carries <= partitions x queries
    // x 64 tiny structs (~KBs) — same ordering/tie-break as the r7
    // window (round(d2,6) asc, vec_id asc), so the shortlist SET is
    // identical and the exact re-rank below is unchanged
    val shortlist = shortlistTopK(scored, 64)
    val qFull = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv2"))
    // the shortlist is 64 ids/query — BROADCAST it so the rerank is a
    // broadcast-hash-join over the corpus scan: without the hint the
    // planner (blind to the aggregate's output size) picks a sort-merge
    // join and shuffles every full vector (measured 2.6 GB at 5M
    // vectors — the true source of the r7 "2.8 GB ADC shuffle")
    val rerank = e.join(broadcast(shortlist), "vec_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("cos", dot(col("v"), col("qv2")))
    rankedTopK(rerank, 5)
  }

  // ---- scalar quantization (SQ8) ANN --------------------------------------

  /** `ann_sq8` gate entry: scalar-quantized search — the third classic
    * quantization family next to IVF and PQ (FAISS's SQ8): each
    * dimension is affinely mapped to an int in [0, 255] against its
    * per-dimension corpus min/max; candidates are ranked by the
    * approximate cosine of the DEQUANTIZED reconstructions (the affine
    * map distorts relative dot products, so the raw integer dot ranks
    * wrong — measured recall 0.4; reconstruction fixes the estimator),
    * and the top-64 shortlist is re-ranked by exact cosine.
    *
    * Scale shape: the bounds are one per-dimension min/max aggregate
    * (exact values — no FP-order dependence); encode is a map-side
    * projection; scoring is the [[annTopK]] scan shape (query side
    * broadcast, corpus only scanned) except each vector reads 64 BYTES
    * + one norm instead of 256/512 — the 4-8x scan-byte cut is the
    * reason SQ8 exists at 100 TB; the shortlist is the bounded
    * `topk_ordered` partial+final aggregate and the re-rank touches 64
    * ids per query. Exact oracle: bounds re-derived in DuckDB (min/max
    * of the same doubles are the same doubles), identical quantize /
    * dequantize arithmetic, the same left-to-right dot fold both
    * engines already agree on, 6-dp-rounded rank keys.
    *
    * NOTE: this gate variant is the ORACLE form — it scans the full
    * float64 vectors AND reconstructs per row (both engines must see
    * exact doubles), which costs ~3x the brute-force scan. The
    * production operator is [[annSq8Packed]]: identical rows, but the
    * scan reads the ~72 B/vector write-time layout through the fused
    * `sq8_dot` codegen kernel — reach for that one. */
  def annSq8(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bounds = sq8Bounds(e)
    // quantize + dequantize in ONE native codegen kernel (sq8_recon):
    // the chained higher-order transform lambdas are CodegenFallback —
    // interpreted per element, measured 5x the brute-force scan cost
    val enc = e.crossJoin(broadcast(bounds))
      .withColumn("dq",
        call_function("sq8_recon", col("v"), col("lo"), col("hi")))
      .select(col("vec_id"), col("v"),
        sqrt(dot(col("v"), col("v"))).as("n"), col("dq"))
    val q = enc.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"), col("dq").as("qdq"))
    // scoring + per-partition partial shortlist fused into one
    // partition kernel (r14; same rationale and equivalence argument as
    // SimilarityIvf.ivfBatchCandidates — the broadcast-NLJ + aggregate
    // form paid per-pair operator machinery ~10x the reconstruct+dot
    // itself). sq8ScoredCandidates replicates enc's per-row derivation
    // (exact float→double widen, sq8ReconD, self-dot norm) and the
    // per-pair ascore/−round(·,6) key; the final shortlist aggregate
    // over the ≤ partitions·|q|·64 candidates is unchanged.
    val short = shortlistTopK(
      sq8ScoredCandidates(s, d, bounds, 64), 64)
    // broadcast the 64-ids-per-query shortlist: a post-aggregate frame
    // has no size stats, so the rerank join against the corpus would
    // otherwise sort-merge-shuffle all of it (1.3 GB at 5M vectors)
    val rerank = broadcast(short)
      .join(enc.select("vec_id", "v", "n"), Seq("vec_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
      .select("query_id", "vec_id", "cos")
    rankedTopK(rerank, 5)
  }

  /** [[annSq8]]'s scoring + per-partition partial shortlist as one
    * partition kernel: per corpus row the EXACT enc derivation (the
    * float→double widen is exact; [[graft.functions.VectorKernels
    * .sq8ReconD]] is the ArrayData kernel statement for statement —
    * KernelSpec pins them equal; the self-dot norm is the same
    * ascending fold), per (query, row) pair the same
    * `−round(dot(dq,qdq)/(n·qn), 6)` key, kept per partition under the
    * SAME comparator the final shortlist aggregate uses
    * ([[graft.functions.TopKOrderedAgg.Buffers]]) — so the ≤
    * partitions·|q|·k candidate rows contain every global shortlist
    * member and the downstream [[shortlistTopK]] is row-identical to
    * the broadcast-NLJ + aggregate form it replaces (r14: that form
    * paid per-pair join row copy + aggregate probe machinery ~10x the
    * reconstruct+dot).
    * Query vectors and bounds are bounded driver collects (|queryIds|
    * and 1 rows). */
  private[operators] def sq8ScoredCandidates(s: SparkSession, d: String,
                                              bounds: DataFrame,
                                              k: Int): DataFrame = {
    import graft.functions.{TopKOrderedAgg, VectorKernels}
    val bRow = bounds.collect()(0)
    val lo = bRow.getSeq[Double](0).toArray
    val hi = bRow.getSeq[Double](1).toArray
    val qRaw: Array[(Long, Array[Double])] = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qIds = qRaw.map(_._1)
    val qDqs = qRaw.map { case (_, v) => VectorKernels.sq8ReconD(v, lo, hi) }
    val qNs = qRaw.map { case (_, v) => VectorKernels.norm(v) }
    import s.implicits._
    val pow6 = math.pow(10.0, 6)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .toDF("_1", "_2")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val top = new TopKOrderedAgg.Buffers(qIds.length, k)
        while (it.hasNext) {
          val (vid, vf) = it.next()
          val vd = new Array[Double](vf.length)
          var i = 0
          while (i < vf.length) { vd(i) = vf(i).toDouble; i += 1 }
          val dq = VectorKernels.sq8ReconD(vd, lo, hi)
          val n = VectorKernels.norm(vd)
          var j = 0
          while (j < qIds.length) {
            if (vid != qIds(j)) {
              val d2r = -VectorKernels.fastRound(
                VectorKernels.dot(dq, qDqs(j)) / (n * qNs(j)), pow6, 6)
              top.offer(j, d2r, vid, 0.0)
            }
            j += 1
          }
        }
        top.emit((qi, d2r, vid, _) => (qIds(qi), d2r, vid))
      }
      .toDF("query_id", "d2r", "vec_id")
  }

  /** Per-dimension (lo, hi) bounds frame shared by the SQ8 paths. */
  private[operators] def sq8Bounds(e: DataFrame): DataFrame =
    e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .agg(array_sort(collect_list(
        struct(col("pos"), col("lo"), col("hi")))).as("b"))
      .select(transform(col("b"), x => x.getField("lo")).as("lo"),
        transform(col("b"), x => x.getField("hi")).as("hi"))

  /** Write-time SQ8 layout (the production form of [[annSq8]]): the
    * corpus stored as (vec_id, norm, 64 PACKED BYTES of codes) plus a
    * one-row bounds table — the scan of the search path reads ~72 B
    * per vector instead of 512 B of float64 (the 4-8x scan-byte cut
    * SQ8 exists for, now measured rather than argued). Encode is
    * ingest work, cached by the standard mtime marker. */
  def buildSq8Layout(s: SparkSession, d: String): java.io.File = {
    reg(s)
    val layout = graft.util.Layouts.dir("ann_sq8", d)
    if (graft.util.Layouts.stale(layout, d, "embeddings")) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      sq8Bounds(e).coalesce(1).write.mode("overwrite")
        .parquet(s"${layout}_bounds")
      val bounds = s.read.parquet(s"${layout}_bounds")
      // writer-independent ~128 MB files (Layouts.fileCount — the
      // unpartitioned-layout twin of the partitionBy one-file-per-cell
      // rule): the packed scan's split count should follow bytes, not
      // whichever JVM built the cache. bytes/row measured ~2 KB (the
      // int-array code column parquet-encodes fat); 16 MB row groups
      // keep the few big files SPLITTABLE — scan parallelism follows
      // row groups, not file count
      e.crossJoin(broadcast(bounds))
        .select(col("vec_id"),
          sqrt(dot(col("v"), col("v"))).as("n"),
          call_function("sq8_encode", col("v"), col("lo"), col("hi"))
            .as("code"))
        .coalesce(graft.util.Layouts.fileCount(
          Tables.embeddings(s, d).count(), 2048))
        .write.mode("overwrite")
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(layout.getPath)
    }
    layout
  }

  /** `ann_sq8_packed` gate entry: [[annSq8]]'s search over the packed
    * write-time layout — the corpus scan reads codes + norms only (no
    * float64 vectors), decodes with the native kernel, and only the
    * 64-per-query re-rank ids touch the full-precision base table.
    * Row-identical to `ann_sq8` (encode∘decode reproduces the same
    * reconstruction bytes-for-bits), so it shares the oracle. */
  def annSq8Packed(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val layout = buildSq8Layout(s, d)
    val bounds = s.read.parquet(s"${layout.getPath}_bounds")
    // codes stay PACKED through the scan; scoring decodes inline in the
    // fused sq8_dot kernel (a per-row decode-to-array allocation made
    // the packed path SLOWER than the full-precision scan: 4.7 s vs
    // 2.4 s at 5M vectors)
    val enc = s.read.parquet(layout.getPath)
      .crossJoin(broadcast(bounds))
      .select(col("vec_id"), col("n"), col("code"), col("lo"), col("hi"))
    // query side reads the BASE table (10 ids, isin pushed to the scan)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .crossJoin(broadcast(bounds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        sqrt(dot(col("v"), col("v"))).as("qn"),
        call_function("sq8_recon", col("v"), col("lo"), col("hi"))
          .as("qdq"))
    val scored = enc.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("ascore",
        call_function("sq8_dot", col("code"), col("lo"), col("hi"),
          col("qdq")) / (col("n") * col("qn")))
    val short = shortlistTopK(
      scored.withColumn("d2r", -round(col("ascore"), 6)), 64)
    val rerank = broadcast(short)
      .join(e.withColumn("n", sqrt(dot(col("v"), col("v"))))
        .select("vec_id", "v", "n"), Seq("vec_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
      .select("query_id", "vec_id", "cos")
    rankedTopK(rerank, 5)
  }

  // ---- IVF × SQ8 composition (r11 verdict #4) -----------------------------

  /** Write-time IVF,SQ8 layout — FAISS's canonical production index
    * family ("IVF,SQ8"): the corpus stored as (vec_id, norm, 64 packed
    * SQ8 code bytes) PARTITIONED BY its coarse-quantizer cell, with the
    * k-means codebook and the global per-dimension bounds as one-file
    * sidecars. The two halves' savings MULTIPLY: a probe reads
    * ~nprobe/k of the corpus ([[buildIvfLayout]]'s partition pruning)
    * and each row it reads is ~72 B instead of 512 ([[buildSq8Layout]]'s
    * byte cut) — at nprobe/k = 6/32 that is ~2.6% of the brute-force
    * scan bytes. Same mtime staleness rules as every layout. */
  def buildIvfSq8Layout(s: SparkSession, d: String): java.io.File = {
    reg(s)
    val layout = graft.util.Layouts.dir("ann_ivfsq8", d)
    if (graft.util.Layouts.stale(layout, d, "embeddings")) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cents = trainCodebook(e)
      writeCodebook(s, layout, cents)
      sq8Bounds(e).coalesce(1).write.mode("overwrite")
        .parquet(s"${layout}_bounds")
      val bounds = s.read.parquet(s"${layout}_bounds")
      e.crossJoin(broadcast(bounds))
        .select(col("vec_id"),
          sqrt(dot(col("v"), col("v"))).as("n"),
          call_function("sq8_encode", col("v"), col("lo"), col("hi"))
            .as("code"),
          nearestCell(cents)(col("v")).as("cell"))
        // one file per cell regardless of builder parallelism (see the
        // ann_bucketed_f32 note in Similarity.buildLshLayout); 8 MB row
        // groups keep a hot cell's file splittable (Layouts.RowGroupBytes)
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite")
        .option("parquet.block.size", graft.util.Layouts.RowGroupBytes.toString)
        .parquet(layout.getPath)
    }
    layout
  }

  /** `ann_ivf_sq8` gate entry: IVF cell pruning × SQ8 packed bytes over
    * the write-time layout. The scan reads ONLY the probed cells'
    * packed-code rows (the probed-cell list is a driver-computed
    * LITERAL isin filter — static partition pruning, the
    * [[annIvfPqBucketed]] convention) and scores them with the fused
    * `sq8_dot` decode-dot kernel; the 64-id shortlist is the bounded
    * `topk_ordered` aggregate and only those ids touch the
    * full-precision base table for the exact re-rank. Exact oracle:
    * codebook + bounds interpolated ([[ivfCodebook]]), DuckDB replays
    * cell assignment, nprobe probing, the identical quantize/dequantize
    * arithmetic, and both rankings. */
  def annIvfSq8(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val layout = buildIvfSq8Layout(s, d)
    val cents = readCodebook(s, layout)
    val bounds = s.read.parquet(s"${layout.getPath}_bounds")
    val eBase = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // query vectors: a bounded collect (10 ids) so the probed-cell list
    // becomes a LITERAL isin filter -> partition pruning at the scan
    val qVecs: Array[(Long, Array[Double])] =
      eBase.filter(col("vec_id").isin(queryIds: _*)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed: Map[Long, Seq[Int]] =
      qVecs.map { case (id, v) =>
        id -> nearestCellsLocal(cents, v, IvfNProbe) }.toMap
    val allCells = probed.values.flatten.toSeq.distinct.sorted
    // query side: reconstructed query (the symmetric estimator annSq8
    // uses) x its nprobe cells — <= 60 rows, broadcast
    val q = eBase.filter(col("vec_id").isin(queryIds: _*))
      .crossJoin(broadcast(bounds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        sqrt(dot(col("v"), col("v"))).as("qn"),
        call_function("sq8_recon", col("v"), col("lo"), col("hi"))
          .as("qdq"))
    import s.implicits._
    val qCells = probed.toSeq
      .flatMap { case (id, cs) => cs.map(c => (id, c)) }
      .toDF("query_id", "cell")
    val qq = q.select("query_id", "qn", "qdq")
      .join(broadcast(qCells), Seq("query_id"))
    // packed scan of the probed cells only; codes stay packed through
    // the scan and decode inside the fused kernel (annSq8Packed note)
    val enc = s.read.parquet(layout.getPath)
      .filter(col("cell").isin(allCells: _*))
      .crossJoin(broadcast(bounds))
    val scored = enc.join(broadcast(qq), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ascore",
        call_function("sq8_dot", col("code"), col("lo"), col("hi"),
          col("qdq")) / (col("n") * col("qn")))
    val short = shortlistTopK(
      scored.withColumn("d2r", -round(col("ascore"), 6)), 64)
    val rerank = broadcast(short)
      .join(eBase.withColumn("n", sqrt(dot(col("v"), col("v"))))
        .select("vec_id", "v", "n"), Seq("vec_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
      .select("query_id", "vec_id", "cos")
    rankedTopK(rerank, 5)
  }

  /** DuckDB replay of [[annIvfSq8]]: the codebook rides along as a
    * VALUES literal ([[ivfOracleSelect]]'s cell assignment + nprobe
    * probing), bounds re-derived (exact min/max), identical
    * quantize/dequantize arithmetic ([[sq8Oracle]]'s), candidates
    * restricted to cell matches, (round(ascore, 6) desc, id asc)
    * 64-shortlist, exact-cosine re-rank. */
  private[operators] def ivfSq8OracleSelect(cents: Array[Array[Double]]): String = {
    val vals = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ",", "]")})" }
      .mkString(",\n")
    s"""WITH cells(cell, c) AS (VALUES $vals),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       bounds AS (
         SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi
         FROM (SELECT pos, min(x) AS lo, max(x) AS hi FROM (
                 SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x
                 FROM emb) GROUP BY pos)),
       dist AS (
         SELECT e.vec_id, e.v, cl.cell,
           list_sum(list_transform(generate_series(1, len(cl.c)),
             i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i]))) AS d2
         FROM emb e CROSS JOIN cells cl),
       crk AS MATERIALIZED (
         SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
         FROM dist),
       enc0 AS (
         SELECT r.vec_id, r.v, r.cell,
           sqrt(list_dot_product(r.v, r.v)) AS n, lo, hi,
           list_transform(generate_series(1, len(r.v)), i ->
             CASE WHEN hi[i] > lo[i] THEN
               greatest(0, least(255, CAST(floor((r.v[i] - lo[i])
                 / (hi[i] - lo[i]) * 255.0 + 0.5) AS INTEGER)))
             ELSE 0 END) AS q
         FROM crk r CROSS JOIN bounds WHERE r.rk = 1),
       enc AS MATERIALIZED (
         SELECT vec_id, v, cell, n,
           list_transform(generate_series(1, len(q)), i ->
             lo[i] + CAST(q[i] AS DOUBLE) * (hi[i] - lo[i]) / 255.0) AS dq
         FROM enc0),
       qs AS (
         SELECT e.vec_id AS query_id, e.v AS qv, e.n AS qn, e.dq AS qdq,
           r.cell
         FROM enc e JOIN crk r ON r.vec_id = e.vec_id
           AND r.rk <= $IvfNProbe
         WHERE e.vec_id IN (${queryIds.mkString(", ")})),
       scored AS (
         SELECT qs.query_id, e.vec_id,
           list_dot_product(e.dq, qs.qdq) / (e.n * qs.qn) AS ascore
         FROM enc e JOIN qs ON e.cell = qs.cell
           AND e.vec_id <> qs.query_id),
       short AS (
         SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
             ORDER BY round(ascore, 6) DESC, vec_id ASC) AS rk
           FROM scored) WHERE rk <= 64),
       rerank AS (
         SELECT s.query_id, s.vec_id AS neighbor_id,
           list_dot_product(e.v, qe.v) / (e.n * qe.n) AS cos
         FROM short s
         JOIN enc e ON e.vec_id = s.vec_id
         JOIN enc qe ON qe.vec_id = s.query_id),
       ranked AS (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
         FROM rerank)
       SELECT query_id, rank, neighbor_id, round(cos, 5) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** PQ oracle: the M per-subspace codebooks ride along as one VALUES
    * literal (j, code, centroid); DuckDB re-derives code assignment
    * (sequential fold, ties to the lowest code — the kernel semantics),
    * the ADC lookup, and the compressed-domain ranking. */
  private[operators] def pqOracleSelect(cbs: Array[Array[Array[Double]]]): String = {
    val vals = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, code) =>
        s"($j, $code, ${c.mkString("[", ",", "]")})"
      }
    }.mkString(",\n")
    s"""WITH cb(j, code, c) AS (VALUES $vals),
       emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       emb AS (SELECT vec_id, list_transform(v0,
           x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM emb0),
       sub AS (
         SELECT vec_id, js.j, v[js.j * 8 + 1 : js.j * 8 + 8] AS sv
         FROM emb, (SELECT unnest(range(8)) AS j) js),
       dist AS (
         SELECT s.vec_id, s.j, cb.code,
           list_sum(list_transform(generate_series(1, 8),
             i -> (s.sv[i] - cb.c[i]) * (s.sv[i] - cb.c[i]))) AS d2
         FROM sub s JOIN cb ON cb.j = s.j),
       codes AS (
         SELECT vec_id, j, code FROM (
           SELECT vec_id, j, code,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code)
               AS rk
           FROM dist) WHERE rk = 1),
       q AS (SELECT vec_id AS query_id, j, sv FROM sub
             WHERE vec_id IN (1, 7, 42, 99, 123, 200, 256, 300, 404, 499)),
       adc AS (
         SELECT q.query_id, q.j, cb.code,
           round(list_sum(list_transform(generate_series(1, 8),
             i -> (q.sv[i] - cb.c[i]) * (q.sv[i] - cb.c[i]))), 6) AS dsub
         FROM q JOIN cb ON cb.j = q.j),
       scored AS (
         SELECT a.query_id, c.vec_id, sum(a.dsub) AS d2
         FROM codes c JOIN adc a ON a.j = c.j AND a.code = c.code
         WHERE c.vec_id <> a.query_id
         GROUP BY 1, 2),
       shortlist AS (
         SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(d2, 6) ASC, vec_id ASC) AS adc_rank
           FROM scored) WHERE adc_rank <= 64),
       rerank AS (
         SELECT s.query_id, s.vec_id AS neighbor_id,
           list_dot_product(e.v, qe.v) AS cos
         FROM shortlist s
         JOIN emb e ON e.vec_id = s.vec_id
         JOIN emb qe ON qe.vec_id = s.query_id),
       ranked AS (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
         FROM rerank)
       SELECT query_id, rank, neighbor_id, round(cos, 5) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** IVF-PQ oracle: BOTH codebooks ride along as VALUES literals; DuckDB
    * re-derives normalization, cell assignment, residual encoding, the
    * per-cell query-residual ADC table, the compressed shortlist, and the
    * exact re-rank — the full two-quantizer pipeline, bit-for-bit. */
  private[operators] def ivfPqOracleSelect(cents: Array[Array[Double]],
                                cbs: Array[Array[Array[Double]]]): String = {
    val cellVals = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ",", "]")})" }
      .mkString(",\n")
    val cbVals = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, code) =>
        s"($j, $code, ${c.mkString("[", ",", "]")})"
      }
    }.mkString(",\n")
    s"""WITH cells(cell, c) AS (VALUES $cellVals),
       cb(j, code, cc) AS (VALUES $cbVals),
       emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       emb AS (SELECT vec_id, list_transform(v0,
           x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM emb0),
       dist AS (
         SELECT e.vec_id, e.v, cl.cell, cl.c,
           list_sum(list_transform(generate_series(1, len(cl.c)),
             i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i]))) AS d2
         FROM emb e CROSS JOIN cells cl),
       rk AS (
         SELECT vec_id, v, cell, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
         FROM dist),
       assigned AS (
         SELECT vec_id, v, cell,
           list_transform(generate_series(1, len(c)),
             i -> v[i] - c[i]) AS r
         FROM rk WHERE rk = 1),
       sub AS (
         SELECT vec_id, cell, js.j, r[js.j * 8 + 1 : js.j * 8 + 8] AS sv
         FROM assigned, (SELECT unnest(range(8)) AS j) js),
       cdist AS (
         SELECT s.vec_id, s.cell, s.j, cb.code,
           list_sum(list_transform(generate_series(1, 8),
             i -> (s.sv[i] - cb.cc[i]) * (s.sv[i] - cb.cc[i]))) AS d2
         FROM sub s JOIN cb ON cb.j = s.j),
       codes AS (
         SELECT vec_id, cell, j, code FROM (
           SELECT vec_id, cell, j, code,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code)
               AS rk
           FROM cdist) WHERE rk = 1),
       q AS (
         SELECT a.vec_id AS query_id, a.v AS qv, r.cell,
           list_transform(generate_series(1, len(r.c)),
             i -> a.v[i] - r.c[i]) AS qr
         FROM assigned a JOIN rk r ON r.vec_id = a.vec_id AND r.rk <= $IvfNProbe
         WHERE a.vec_id IN (1, 7, 42, 99, 123, 200, 256, 300, 404, 499)),
       qsub AS (
         SELECT query_id, cell, js.j, qr[js.j * 8 + 1 : js.j * 8 + 8] AS sv
         FROM q, (SELECT unnest(range(8)) AS j) js),
       adc AS (
         SELECT s.query_id, s.cell, s.j, cb.code,
           round(list_sum(list_transform(generate_series(1, 8),
             i -> (s.sv[i] - cb.cc[i]) * (s.sv[i] - cb.cc[i]))), 6) AS dsub
         FROM qsub s JOIN cb ON cb.j = s.j),
       scored AS (
         SELECT a.query_id, c.vec_id, sum(a.dsub) AS d2
         FROM codes c
         JOIN adc a ON a.cell = c.cell AND a.j = c.j AND a.code = c.code
         WHERE c.vec_id <> a.query_id
         GROUP BY 1, 2),
       shortlist AS (
         SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(d2, 6) ASC, vec_id ASC) AS adc_rank
           FROM scored) WHERE adc_rank <= 64),
       rerank AS (
         SELECT s.query_id, s.vec_id AS neighbor_id,
           list_dot_product(e.v, qe.v) AS cos
         FROM shortlist s
         JOIN emb e ON e.vec_id = s.vec_id
         JOIN emb qe ON qe.vec_id = s.query_id),
       ranked AS (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
         FROM rerank)
       SELECT query_id, rank, neighbor_id, round(cos, 5) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** DuckDB replay of [[annSq8]]: bounds re-derived (exact min/max),
    * identical quantize/dequantize arithmetic, candidates ranked by the
    * dequantized-reconstruction cosine ((round(ascore, 6) desc, id asc)
    * shortlist — the raw integer dot ranks wrong, see [[annSq8]]),
    * exact-cosine re-rank of the 64-id shortlist. */
  private[operators] lazy val sq8Oracle: String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       bounds AS (
         SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi
         FROM (SELECT pos, min(x) AS lo, max(x) AS hi FROM (
                 SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x
                 FROM emb) GROUP BY pos)),
       enc0 AS (
         SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n, lo, hi,
           list_transform(generate_series(1, len(v)), i ->
             CASE WHEN hi[i] > lo[i] THEN
               greatest(0, least(255, CAST(floor((v[i] - lo[i])
                 / (hi[i] - lo[i]) * 255.0 + 0.5) AS INTEGER)))
             ELSE 0 END) AS q
         FROM emb CROSS JOIN bounds),
       enc AS (
         SELECT vec_id, v, n,
           list_transform(generate_series(1, len(q)), i ->
             lo[i] + CAST(q[i] AS DOUBLE) * (hi[i] - lo[i]) / 255.0) AS dq
         FROM enc0),
       qs AS (SELECT vec_id AS query_id, v AS qv, n AS qn, dq AS qdq
              FROM enc WHERE vec_id IN (${queryIds.mkString(", ")})),
       scored AS (
         SELECT qs.query_id, e.vec_id,
           list_dot_product(e.dq, qs.qdq) / (e.n * qs.qn) AS ascore
         FROM enc e CROSS JOIN qs WHERE e.vec_id <> qs.query_id),
       short AS (
         SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(ascore, 6) DESC, vec_id ASC) AS rk
           FROM scored) WHERE rk <= 64),
       rerank AS (
         SELECT s.query_id, s.vec_id AS neighbor_id,
           list_dot_product(e.v, q.qv) / (e.n * q.qn) AS cos
         FROM short s
         JOIN enc e ON e.vec_id = s.vec_id
         JOIN qs q ON q.query_id = s.query_id),
       ranked AS (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
         FROM rerank)
       SELECT query_id, rank, neighbor_id, round(cos, 5) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
}
