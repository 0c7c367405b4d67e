package graft

import org.apache.spark.sql.functions._

import graft.operators.{Quality, Retrieval, Similarity}
import graft.util.Tables

/** Behavioral properties of the retrieval stack (hybrid RRF fusion, MMR
  * diversity re-rank, nDCG evaluation) and the metadata-filtered ANN:
  * the exact-hash gate rows prove engine parity; these pin the
  * SEMANTIC claims the scaladocs make (leg consistency with text_bm25,
  * the pre-vs-post-filter distinction, greedy-MMR monotonicity and its
  * diversity win, metric range). */
class RetrievalSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.01"

  /** Exact cosine top-k per query id over rows passing `pred` —
    * the brute-force standard the filtered ANN is judged against. */
  private def exactFilteredTopK(queryIds: Seq[Long], k: Int,
                                pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Map[Long, Seq[Long]] = {
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .withColumn("n", sqrt(call_function("vec_dot", col("v"), col("v"))))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"))
    e.filter(pred(col("label")))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        call_function("vec_dot", col("v"), col("qv")) / (col("n") * col("qn")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q0, rs) => q0 -> rs.map(_.getLong(1)).toSeq }
  }

  test("ann_filtered: every hit passes the predicate, every query gets " +
       "k rows, and recall@5 vs the exact filtered brute force >= 0.75 " +
       "(filter-aware nprobe widening; 0.62 at the unfiltered nprobe=6)") {
    val res = Similarity.annFiltered(spark, d).collect()
    val labels = Tables.embeddings(spark, d)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res.nonEmpty)
    res.foreach { r =>
      val nb = r.getLong(r.fieldIndex("neighbor_id"))
      assert(labels(nb) % 3 === 0,
        s"neighbor $nb has label ${labels(nb)} — predicate leaked")
    }
    val perQuery = res.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    perQuery.foreach { case (q, n) =>
      assert(n === 5, s"query $q returned $n rows, wanted 5")
    }
    val qids = perQuery.keys.toSeq
    val exact = exactFilteredTopK(qids, 5, c => c % 3 === 0)
    val got = res.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = qids.map(q =>
      (exact(q).toSet & got(q)).size / 5.0).sum / qids.size
    info(f"filtered recall@5 = $recall%.3f")
    assert(recall >= 0.75)
  }

  test("ann_filtered_bucketed: identical rows to ann_filtered, with the " +
       "predicate evaluated inside the cell-pruned layout scan") {
    val mem = Similarity.annFiltered(spark, d).collect().map(_.toString)
    val bkt = Similarity.annFilteredBucketed(spark, d).collect()
      .map(_.toString)
    assert(bkt.sameElements(mem),
      s"layout-served filtered ANN diverged: ${bkt.length} vs ${mem.length}")
    val df = Similarity.annFilteredBucketed(spark, d)
    val f = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(f.contains("PartitionFilters: [cell") ||
      f.contains("PartitionFilters: [isnotnull(cell"), f.take(3000))
    // the label predicate sits in the streamed (scan) side of the join
    val exec = df.queryExecution.sparkPlan
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty)
    val candSide = joins.map { j =>
      if (j.buildSide.toString.contains("Right")) j.left else j.right
    }
    assert(candSide.exists(_.toString.contains("% 3) = 0")),
      exec.toString.take(3000))
  }

  test("post-filtering an UNFILTERED top-5 under-delivers: at least one " +
       "query keeps < 5 rows — the failure mode the pre-filter design avoids") {
    val unfiltered = Similarity.annTopK(spark, d).collect()
    val labels = Tables.embeddings(spark, d)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kept = unfiltered
      .filter(r => labels(r.getLong(r.fieldIndex("neighbor_id"))) % 3 == 0)
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val queries = unfiltered.map(_.getLong(0)).distinct
    assert(queries.exists(q => kept.getOrElse(q, 0) < 5),
      "every query's exact top-5 happened to pass the 1/3-selective " +
        "predicate — corpus regenerated? predicate no longer selective here")
  }

  test("hybrid_rrf: lexical ranks agree with text_bm25's ranking and the " +
       "rrf score is exactly the sum of the two rank contributions") {
    val fused = Retrieval.hybridRrf(spark, d).collect()
    assert(fused.length === 10)
    // text_bm25's top-20 order (score desc, doc_id asc) is the lex leg
    val bmRank = Quality.bm25(spark, d).collect().zipWithIndex
      .map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
    fused.foreach { r =>
      val doc = r.getLong(r.fieldIndex("doc_id"))
      val lex = if (r.isNullAt(r.fieldIndex("lex_rank"))) None
                else Some(r.getInt(r.fieldIndex("lex_rank")))
      val vec = if (r.isNullAt(r.fieldIndex("vec_rank"))) None
                else Some(r.getInt(r.fieldIndex("vec_rank")))
      lex.foreach(lr => assert(bmRank(doc) === lr,
        s"doc $doc: hybrid lex_rank $lr != text_bm25 rank ${bmRank(doc)}"))
      val expect = math.rint((lex.map(r0 => 1.0 / (60 + r0)).getOrElse(0.0) +
        vec.map(r0 => 1.0 / (60 + r0)).getOrElse(0.0)) * 1e6) / 1e6
      assert(math.abs(r.getDouble(r.fieldIndex("rrf")) - expect) < 1e-9)
    }
    // fusion property on this corpus: the top row is retrieved by BOTH legs
    val top = fused.head
    assert(!top.isNullAt(top.fieldIndex("lex_rank")) &&
      !top.isNullAt(top.fieldIndex("vec_rank")),
      "RRF top hit should be a both-legs doc here")
  }

  test("hybrid_rrf_ivf: the IVF-served leg prunes cell partitions at the " +
       "scan and the fused top-10 overlaps the brute-force hybrid's") {
    val ivf = Retrieval.hybridRrfIvf(spark, d)
    val rows = ivf.collect()
    assert(rows.length === 10)
    // the approximate leg may rank differently, but the fused lists
    // should agree on most of the top-10 (the lexical leg is identical
    // and the IVF leg holds most of the exact leg's top-20)
    val exact = Retrieval.hybridRrf(spark, d).collect()
      .map(_.getLong(0)).toSet
    val overlap = rows.map(_.getLong(0)).count(exact.contains)
    info(s"fused top-10 overlap: $overlap/10")
    assert(overlap >= 6, s"only $overlap of 10 fused docs shared")
    // the vector leg's scan must be partition-pruned to the PRF
    // vector's nprobe cells (static literal pruning, not a full scan)
    val f = Retrieval.hybridRrfIvf(spark, d).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(f.contains("PartitionFilters: [cell") ||
      f.contains("PartitionFilters: [isnotnull(cell"), f.take(3000))
    // the lexical leg's posting fetch must be partition-pruned to the
    // query terms' buckets (its plan is inspected pre-checkpoint — the
    // fused plan reads the 20-row checkpointed rank list)
    val fl = Retrieval.batchPostingTf(spark, d, Retrieval.HybridQuery)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(fl.contains("PartitionFilters: [tb") ||
      fl.contains("PartitionFilters: [isnotnull(tb"), fl.take(3000))
  }

  test("retrieval_mmr: 5 distinct picks, greedy scores monotone " +
       "non-increasing, and diversity beats the plain top-5 (lower max " +
       "pairwise similarity)") {
    val picks = Retrieval.retrievalMmr(spark, d).collect()
    assert(picks.length === 5)
    assert(picks.map(_.getLong(1)).distinct.length === 5)
    val mmrs = picks.sortBy(_.getInt(0)).map(_.getDouble(3))
    mmrs.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"greedy MMR must be non-increasing: $a -> $b")
    }
    // pairwise max cosine among the MMR picks vs among the plain top-5
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      s / math.sqrt(na * nb)
    }
    def maxPairSim(ids: Seq[Long]): Double =
      (for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cos(vecs(ids(i)), vecs(ids(j)))).max
    val q = vecs(42L)
    val plainTop5 = vecs.toSeq.filter(_._1 != 42L)
      .map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-math.rint(c * 1e6) / 1e6, id) }
      .take(5).map(_._1)
    val mmrSim = maxPairSim(picks.map(_.getLong(1)).toSeq)
    val topSim = maxPairSim(plainTop5)
    info(f"max pairwise sim: mmr $mmrSim%.3f vs plain top-5 $topSim%.3f")
    assert(mmrSim < topSim,
      "MMR selection should be more diverse than the plain top-5")
  }

  test("retrieval_ndcg: one row per leg, every nDCG in (0, 1], and the " +
       "leg the relevance anchor is derived from does not score 0") {
    val rows = Retrieval.retrievalNdcg(spark, d).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq === Seq("fused", "lex", "vec"))
    rows.foreach { r =>
      val v = r.getDouble(1)
      assert(v > 0.0 && v <= 1.0 + 1e-9, s"${r.getString(0)} ndcg $v out of range")
    }
  }

  test("hybrid_rrf_batch: 12 queries x fused top-10, contiguous per-query " +
       "ranks, batch posting scan pruned to the UNIONED term buckets, " +
       "IVF leg pruned to the probed-cell union") {
    val rows = Retrieval.hybridRrfBatch(spark, d).collect()
    // every query must fill its fused top-10 (each leg supplies 20 docs)
    assert(rows.length === Retrieval.BatchQueries.length * 10,
      s"got ${rows.length} fused rows")
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === Retrieval.BatchQueries.map(_._1).toSet)
    byQ.values.foreach { qr =>
      assert(qr.map(_.getInt(5)).sorted.sameElements(1 to 10))
      // rrf must be non-increasing in fused_rank within a query
      val ordered = qr.sortBy(_.getInt(5)).map(_.getDouble(4))
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(b <= a + 1e-9, s"rrf not monotone: $a -> $b") }
      // every fused doc came from at least one leg
      qr.foreach(r => assert(!(r.isNullAt(2) && r.isNullAt(3))))
    }
    // different queries retrieve different docs (the batch is not 12
    // copies of one ranking): at least half the queries' top-1 differ
    val top1 = byQ.values.map(_.minBy(_.getInt(5)).getLong(1)).toSeq
    assert(top1.distinct.size >= 6, s"top-1 docs: $top1")
    // plan pin (r12 verdict #3): the posting scan's PartitionFilters
    // carry the unioned bucket IN-list (static pruning, ≤24 of 64 dirs)
    val fl = Retrieval.batchPostingTf(spark, d, Retrieval.BatchQueries)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(fl.contains("PartitionFilters: [tb") ||
      fl.contains("PartitionFilters: [isnotnull(tb"), fl.take(3000))
    assert(fl.contains("tb#") || fl.contains("tb IN"), fl.take(3000))
    // and the vector leg's layout scan is pruned to the probed cells
    // (visible in the fused plan — only the lexical leg is checkpointed)
    val f = Retrieval.hybridRrfBatch(spark, d).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(f.contains("PartitionFilters: [cell") ||
      f.contains("PartitionFilters: [isnotnull(cell"), f.take(3000))
  }

  test("retrieval_mmr_batch: 10 queries x 5 picks, distinct picks per " +
       "query, and query 42's greedy selection equals the single-query " +
       "retrieval_mmr entry's (documented oracle-twin agreement)") {
    val rows = Retrieval.retrievalMmrBatch(spark, d).collect()
    assert(rows.length === Retrieval.MmrBatchIds.length * 5)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === Retrieval.MmrBatchIds.toSet)
    byQ.foreach { case (q, qr) =>
      assert(qr.map(_.getInt(1)).sorted.sameElements(1 to 5), s"query $q picks")
      assert(qr.map(_.getLong(2)).distinct.length === 5,
        s"query $q repeated a vec_id")
    }
    // the single-query entry quantizes rel/sim to 6dp BEFORE the greedy
    // arithmetic while the batch keeps full mantissa (its boundary-note
    // rationale), so mmr values differ in the last digit by design —
    // the SELECTION (pick order of vec_ids) and the rel column must
    // still agree
    val single = Retrieval.retrievalMmr(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val batch42 = byQ(42L).sortBy(_.getInt(1))
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(batch42.toSeq === single.toSeq,
      "batch query 42 diverged from the single-query MMR twin")
  }

  test("retrieval_ndcg_batch: per-query rows for all 12 queries x 3 " +
       "legs plus the query_id=-1 means, every nDCG in (0, 1], and each " +
       "mean equals the average of its per-query rows") {
    val rows = Retrieval.retrievalNdcgBatch(spark, d).collect()
    val nq = Retrieval.BatchQueries.length
    assert(rows.length === 3 * nq + 3, s"got ${rows.length} rows")
    rows.foreach { r =>
      val v = r.getDouble(2)
      // 0 is legitimate for the vec leg: it is IVF-APPROXIMATE, so a
      // query's probed cells can miss all 10 exactly-graded docs
      assert(v >= 0.0 && v <= 1.0 + 1e-9,
        s"q=${r.getLong(0)} leg=${r.getString(1)} ndcg $v out of range")
    }
    val per = rows.filter(_.getLong(0) >= 0)
    val means = rows.filter(_.getLong(0) === -1L)
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(means.keySet === Set("lex", "vec", "fused"))
    means.foreach { case (leg, m) =>
      val vals = per.filter(_.getString(1) == leg).map(_.getDouble(2))
      assert(vals.length === nq, s"$leg has ${vals.length} per-query rows")
      assert(math.abs(m - vals.sum / nq) < 1e-6, s"$leg mean $m vs $vals")
    }
    // the lexical leg anchors each query's grades at its own top-1, so
    // no query's lex nDCG can be 0 (the anchor doc itself is graded 10)
    per.filter(_.getString(1) == "lex")
      .foreach(r => assert(r.getDouble(2) > 0.0))
  }

  test("batchQueriesN: generated batch has two distinct terms per " +
       "query, draws only from the 24-term vocabulary (term-bucket " +
       "union bounded regardless of |queries|), and the 100-query " +
       "posting scan still carries the static bucket pruning") {
    val vocab = Retrieval.BatchQueries.flatMap(_._2).distinct
    assert(vocab.length === 24)
    val q100 = Retrieval.batchQueriesN(100)
    assert(q100.length === 100)
    assert(q100.map(_._1).distinct.length === 100)
    q100.foreach { case (q, ts) =>
      assert(ts.length === 2 && ts.head != ts(1), s"query $q terms $ts")
      ts.foreach(t => assert(vocab.contains(t), s"$t outside vocabulary"))
    }
    // the bucket UNION is the vocabulary's — bounded at 24 (< 64)
    // regardless of n; the driver-side hash set matches the layout's
    val buckets = spark.createDataFrame(
        vocab.map(Tuple1(_))).toDF("term")
      .select(pmod(xxhash64(col("term")), lit(64))).collect()
      .map(_.getLong(0)).distinct
    assert(buckets.length <= 24)
    val fl = Retrieval.batchPostingTf(spark, d, q100).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(fl.contains("PartitionFilters: [tb") ||
      fl.contains("PartitionFilters: [isnotnull(tb"), fl.take(3000))
    // end-to-end at 100 queries: every query fills its fused top-10
    val rows = Retrieval.hybridRrfBatchN(spark, d, q100)
      .collect()
    assert(rows.length === 100 * 10, s"got ${rows.length} fused rows")
    assert(rows.map(_.getLong(0)).distinct.length === 100)
  }
}
