package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionSuite
import graft.util.Tables

/** The fused partition kernels the retrieval and SQ8 rows run since r14
  * must be ROW-IDENTICAL through the shared rank tail to the
  * join+aggregate forms they replaced, which live here as twins:
  * [[SimilarityIvf.ivfBatchCandidates]] against [[ivfVectorLegBatch]] —
  * same (query_id, rank, neighbor_id) AND bit-equal cos, on real corpus
  * data through the real IVF layout (partition pruning, float→double
  * widening, fastRound, the (−r6, vec_id) tie-break), with PRF-shaped
  * query vectors (per-dimension 6dp-rounded means of corpus embeddings
  * — the exact frame shape batchLegs feeds both legs);
  * [[Quality.bm25BatchCandidates]] against [[bm25ScoreBatch]]; and the
  * SQ8 shortlist kernel against the broadcast-NLJ scoring form. All at
  * sf0.01. */
class BatchLegTwinSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.01"

  /** The join+aggregate IVF batch leg: `qvs` is a (query_id, qv) frame;
    * the probed-cell UNION prunes the layout scan, and each query scores
    * only its own cells' rows through the broadcast (query_id, cell)
    * pair table. Returns (query_id, doc_id, r6). */
  private def ivfVectorLegBatch(s: SparkSession, d: String,
                                qvs: DataFrame): DataFrame = {
    Similarity.reg(s)
    val layout = Similarity.buildIvfLayout(s, d)
    val cents = Similarity.readCodebook(s, layout)
    val qRows: Array[(Long, Array[Double])] = qvs.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    import s.implicits._
    val probedPairs: Seq[(Long, Int)] = qRows.toSeq.flatMap { case (id, v) =>
      Similarity.nearestCellsLocal(cents, v, Similarity.IvfNProbe).map(c => (id, c)) }
    val qCells = probedPairs.toDF("query_id", "cell")
    val allCells = probedPairs.map(_._2).distinct.sorted
    val q = qvs
      .select(col("query_id"), col("qv"),
        sqrt(Similarity.dot(col("qv"), col("qv"))).as("qn"))
      .join(broadcast(qCells), Seq("query_id"))
    s.read.parquet(layout.toString)
      .filter(col("cell").isin(allCells: _*))
      .withColumn("v", col("v").cast("array<double>"))
      .join(broadcast(q), Seq("cell"))
      .withColumn("r6",
        round(Similarity.dot(col("v"), col("qv")) / (col("n") * col("qn")), 6))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r6"))
  }

  /** BM25 per (query, doc) over a query batch in the r13 forms: when
    * every query has exactly two distinct terms, each doc's
    * contributions fold into a |terms|-slot array (one doc-keyed
    * aggregate) and each (query, doc) pair scores by two array lookups
    * against a broadcast (query_id, i1, i2) table; otherwise the
    * (query_id, term) fan-out join and one (query_id, doc_id)
    * aggregate. Returns (query_id, doc_id, r4). */
  private def bm25ScoreBatch(tfdl: DataFrame,
                             queries: Seq[(Long, Seq[String])],
                             stats: DataFrame): DataFrame = {
    val s = tfdl.sparkSession
    import s.implicits._
    if (!queries.forall(_._2.distinct.size == 2)) {
      val qterms = queries
        .flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "term")
      return Quality.bm25Contrib(tfdl, stats)
        .join(broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(round(sum(col("contrib")), 4).as("r4"))
        .select("query_id", "doc_id", "r4")
    }
    val terms = queries.flatMap(_._2).distinct.sorted
    val ti = terms.zipWithIndex.toMap
    val nT = terms.size
    val tiDf = terms.zipWithIndex.toDF("term", "ti")
    val slots = (0 until nT).map(i =>
      max(when(col("ti") === i, col("contrib"))).as(s"c$i"))
    val perDoc = Quality.bm25Contrib(tfdl, stats)
      .join(broadcast(tiDf), "term")
      .groupBy("doc_id")
      .agg(slots.head, slots.tail: _*)
      .select(col("doc_id"),
        array((0 until nT).map(i => col(s"c$i")): _*).as("ca"))
    val qIdx = queries.map { case (q, ts) =>
      val is = ts.map(ti).sorted; (q, is(0), is(1))
    }.toDF("query_id", "i1", "i2")
    perDoc.crossJoin(broadcast(qIdx))
      .filter(col("ca")(col("i1")).isNotNull ||
        col("ca")(col("i2")).isNotNull)
      .select(col("query_id"), col("doc_id"),
        round(coalesce(col("ca")(col("i1")), lit(0.0)) +
          coalesce(col("ca")(col("i2")), lit(0.0)), 4).as("r4"))
  }

  /** PRF-shaped (query_id, qv) frame: per-dimension round(avg, 6) of
    * three corpus embeddings per query — the derivation batchLegs uses,
    * over deterministic seed ids. */
  private def qvsFrame(nQueries: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val seeds = (0 until nQueries).flatMap { q =>
      Seq(q * 3L + 1, q * 3L + 2, q * 3L + 3).map(id => (q.toLong, id)) }
      .toDF("query_id", "doc_id")
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(broadcast(seeds), col("vec_id") === col("doc_id"))
      .select(col("query_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("query_id", "pos").agg(round(avg("x"), 6).as("m"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
        " p -> p.m)").as("qv"))
      .transform(graft.util.BoundedLocal.apply)
  }

  private def ranked(leg: DataFrame, k: Int): Array[(Long, Int, Long, Double)] =
    Similarity.rankedTopK(
      leg.select(col("query_id"), col("doc_id").as("vec_id"),
        col("r6").as("cos")), k)
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  test("fused partition kernel == join+aggregate twin through the rank " +
       "tail: identical (query_id, rank, neighbor_id, cos) rows") {
    val qvs = qvsFrame(12)
    val old = ranked(ivfVectorLegBatch(spark, d, qvs), 20)
    val neu = ranked(
      Similarity.ivfBatchCandidates(spark, d, qvs, 20), 20)
    assert(old.nonEmpty, "twin test must actually rank rows")
    assert(neu.length == old.length,
      s"row count ${neu.length} != ${old.length}")
    neu.zip(old).zipWithIndex.foreach { case ((n, o), i) =>
      assert(n == o, s"row $i: fused=$n join+agg=$o") }
  }

  test("fused kernel's per-partition cap bounds candidate volume and " +
       "never drops a final top-k member (k=3 vs k=20 prefixes agree)") {
    val qvs = qvsFrame(5)
    // k=3 ranked rows must equal the first 3 of the k=20 ranking — the
    // per-partition kept set scales with k, so the prefix property only
    // holds if no partition dropped a global top-3 member at k=3
    val k3 = ranked(
      Similarity.ivfBatchCandidates(spark, d, qvs, 3), 3)
    val k20 = ranked(
      Similarity.ivfBatchCandidates(spark, d, qvs, 20), 20)
    val k20prefix = k20.filter(_._2 <= 3)
    assert(k3.toSeq == k20prefix.toSeq)
  }

  test("sq8ReconD (primitive kernel form) == sq8Recon (ArrayData form) " +
       "over magnitude-swept vectors including degenerate bounds") {
    import graft.functions.VectorKernels
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = 64
      val v = Array.fill(n)((rnd.nextDouble() - 0.5) *
        math.pow(10.0, rnd.nextInt(6) - 3))
      val lo = Array.tabulate(n)(i =>
        if (i % 17 == 3) v(i) else v(i) - rnd.nextDouble())
      val hi = Array.tabulate(n)(i =>
        if (i % 17 == 3) lo(i) else lo(i) + rnd.nextDouble() * 2) // i%17==3: hi==lo (degenerate)
      val ad = (a: Array[Double]) =>
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a)
      val viaArrayData = VectorKernels.sq8Recon(ad(v), ad(lo), ad(hi))
      val viaPrimitive = VectorKernels.sq8ReconD(v, lo, hi)
      assert(viaPrimitive.toSeq == viaArrayData.toSeq)
    }
  }

  test("ann_sq8's fused scored-candidates kernel == the broadcast-NLJ + " +
       "aggregate scoring form through the shortlist") {
    val d001 = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, d001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bounds = Similarity.sq8Bounds(e)
    // the pre-r14 scoring form, reconstructed verbatim
    val enc = e.crossJoin(broadcast(bounds))
      .withColumn("dq",
        call_function("sq8_recon", col("v"), col("lo"), col("hi")))
      .select(col("vec_id"), col("v"),
        sqrt(call_function("vec_dot", col("v"), col("v"))).as("n"),
        col("dq"))
    val q = enc.filter(col("vec_id").isin(Similarity.queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"), col("dq").as("qdq"))
    val scoredOld = enc.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("ascore",
        call_function("vec_dot", col("dq"), col("qdq")) /
          (col("n") * col("qn")))
      .withColumn("d2r", -round(col("ascore"), 6))
    def shortRows(df: DataFrame): Array[(Long, Long)] =
      Similarity.shortlistTopK(df, 64)
        .orderBy("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val old = shortRows(scoredOld)
    val neu = shortRows(
      Similarity.sq8ScoredCandidates(spark, d001, bounds, 64))
    assert(old.nonEmpty && neu.length == old.length,
      s"${neu.length} vs ${old.length}")
    neu.zip(old).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  /** bm25BatchCandidates and its bm25ScoreBatch twin, each ranked
    * through the shared rank tail, over one query batch at sf0.01. */
  private def bm25Twins(queries: Seq[(Long, Seq[String])])
      : (Array[(Long, Int, Long, Double)], Array[(Long, Int, Long, Double)]) = {
    val d001 = "/root/testdata/sf0.01"
    val tf = Retrieval.batchPostingTf(spark, d001, queries)
    val stats = spark.read.parquet(
      s"${Retrieval.buildPostingLayout(spark, d001)}_stats")
    def rank(df: DataFrame): Array[(Long, Int, Long, Double)] =
      Similarity.rankedTopK(
        df.select(col("query_id"), col("doc_id").as("vec_id"),
          col("r4").as("cos")), 20)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    (rank(bm25ScoreBatch(tf, queries, stats)),
      rank(Quality.bm25BatchCandidates(tf, queries, stats, 20)))
  }

  test("bm25BatchCandidates (fused lexical kernel) == bm25ScoreBatch " +
       "(slot-aggregate twin) through the rank tail") {
    val (old, neu) = bm25Twins(Retrieval.BatchQueries)
    assert(old.nonEmpty && neu.length == old.length,
      s"${neu.length} vs ${old.length}")
    neu.zip(old).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("bm25BatchCandidates handles 1-term and 3-term queries: equal " +
       "to bm25ScoreBatch's fan-out form through the rank tail") {
    val vocab = Retrieval.BatchQueries.flatMap(_._2).distinct
    val oneTerm = vocab.take(6).zipWithIndex
      .map { case (t, i) => (i + 1L) -> Seq(t) }
    val threeTerm = (0 until 6).map(i => (i + 1L) ->
      Seq(vocab(i), vocab((i + 7) % vocab.size), vocab((i + 13) % vocab.size)))
    for ((label, batch) <- Seq("1-term" -> oneTerm, "3-term" -> threeTerm)) {
      val (old, neu) = bm25Twins(batch)
      assert(old.nonEmpty && neu.length == old.length,
        s"$label: ${neu.length} vs ${old.length}")
      neu.zip(old).foreach { case (a, b) => assert(a == b, s"$label: $a != $b") }
    }
  }
}
