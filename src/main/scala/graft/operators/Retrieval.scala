package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Retrieval-stack operators for an LLM data/serving pipeline: hybrid
  * lexical+vector search with reciprocal-rank fusion, diversity
  * re-ranking (maximal marginal relevance), and offline rank-quality
  * evaluation (nDCG) — the layer between the index operators
  * ([[Similarity]]'s ANN family, [[Quality.bm25]]'s posting-list shape)
  * and a serving application. Reference counterpart: mobilityduck has no
  * retrieval surface; these extend the pipeline family the same way the
  * dedup/ANN operators do (builder brief: training-data pipeline ops are
  * first-class). Everything here is deterministic and fully
  * SQL-expressible, so every entry is an exact-hash gate row with a
  * STATIC DuckDB oracle — no trained-artifact interpolation needed.
  *
  * Scale design (100 TB): each leg is the already-scaled operator it
  * composes — the BM25 leg's explode filters to the query terms AT THE
  * SCAN (the posting-list fetch; at scale it reads an inverted index,
  * [[TextAnalysis]]'s `text_inverted_index` layout), the vector leg is
  * a map-only cosine scan (at scale: any [[Similarity]] ANN index —
  * the legs only need a (doc_id, rank ≤ K) list). Everything AFTER the
  * legs — fusion, MMR, nDCG — operates on K-bounded per-query lists
  * (K ≤ 20 here), so fusion cost is O(queries · K) regardless of corpus
  * size: broadcast joins of rank lists, never a corpus-shaped shuffle.
  */
object Retrieval {

  private def reg(s: SparkSession): Unit =
    graft.functions.GraftFunctions.register(s)

  /** Native codegen dot product ([[graft.functions.VectorExprs]]). */
  private def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** The fixed keyword query — identical to [[Quality.bm25]]'s, so the
    * lexical leg is the SAME ranking a user of `text_bm25` sees. */
  private val QueryTerms = Seq("spark", "table", "join")

  /** RRF smoothing constant (Cormack et al. 2009's k = 60). */
  private val RrfK = 60

  /** Legs keep their top [[LegK]]; fusion emits the top [[FusedK]]. */
  private val LegK = 20
  private val FusedK = 10

  /** nDCG's normalizer: DCG of the distinct grades 10..1 at ranks
    * 1..[[FusedK]], a closed-form constant. */
  private val Idcg = (1 to FusedK)
    .map(i => (math.pow(2.0, 11.0 - i) - 1.0) / (math.log(i + 1.0) / math.log(2.0)))
    .sum

  /** BM25 scores for [[QueryTerms]] over `documents` — the ONE
    * quantized scorer [[Quality.bm25Score]] over the brute tf
    * derivation, so the lexical leg is the SAME ranking a `text_bm25`
    * user sees by construction (RetrievalSpec additionally pins the
    * rank agreement). */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val (tf, stats) = Quality.bm25TfDl(Tables.documents(s, d), QueryTerms)
    Quality.bm25Score(tf, stats)
  }

  /** Rank a scored frame's top-`k`: `rank = 1..k` by (`by` desc, id
    * asc). The global window runs AFTER an orderBy().limit(k), so the
    * single-partition exchange it forces holds ≤ k rows — a bounded
    * tail, same defense as the repo's TakeOrdered tails. */
  private def rankTopK(df: DataFrame, id: String, by: String, k: Int,
                       rankName: String): DataFrame =
    df.orderBy(col(by).desc, col(id).asc).limit(k)
      .withColumn(rankName,
        row_number().over(Window.orderBy(col(by).desc, col(id).asc)))
      .select(col(id), col(rankName))

  /** The lexical leg: BM25 top-20 as (doc_id, lex_rank). Eagerly
    * localCheckpointed (bounded: 20 rows) because every consumer reuses
    * it at least twice — as the PRF seed AND in the fusion join (nDCG
    * adds a third use; the IVF twin's qv collect a separate job) — and
    * without the checkpoint each reuse re-executes the corpus-shaped
    * BM25 pipeline (measured: the IVF twin reading the PRUNED layout
    * benched SLOWER than the brute-force hybrid at 100x because it paid
    * BM25 twice). */
  private def lexLeg(s: SparkSession, d: String): DataFrame =
    // driver-local 20-row rank list (r14 opt): every consumer reuses it
    // (PRF seed + fusion; nDCG adds a third) — the localCheckpoint form
    // paid a BroadcastExchange job per consuming join on top of the
    // checkpoint job (graft.util.BoundedLocal)
    graft.util.BoundedLocal(
      rankTopK(bm25Scores(s, d), "doc_id", "r4", LegK, "lex_rank"))

  /** Postings are hashed into [[PostingBuckets]] term buckets — the
    * partition key a query's posting fetch prunes on. */
  private val PostingBuckets = 64

  /** Write-time INVERTED-INDEX layout: the full (term, doc_id, tf)
    * posting table partitioned by `tb = xxhash64(term) % 64`, with the
    * document length DENORMALIZED onto each posting row (so scoring
    * needs no corpus-sized dl join) and the corpus stats (avgdl, n) in
    * a 1-row sidecar. The parity twin of [[Similarity.buildIvfLayout]]
    * for the lexical leg: a k-term query reads ≤ k of 64 bucket
    * directories — at 100 TB the posting fetch is partition-pruned I/O
    * proportional to the query terms' document frequency, where
    * [[bm25Scores]] explodes EVERY document's tokens per query batch
    * (the measured 1000x wall: the explode leg shuffles 144 MB and
    * dominates both hybrid entries). Same staleness rule as the ANN
    * layouts: rebuilt when the source parquet is newer than the
    * layout's _SUCCESS marker. */
  def buildPostingLayout(s: SparkSession, d: String): java.io.File = {
    val layout = graft.util.Layouts.dir("postings", d)
    if (graft.util.Layouts.stale(layout, d, "documents")) {
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ")
      val dl = docs.select(col("doc_id"), size(toks).as("dl"))
      dl.agg(round(avg("dl"), 6).as("avgdl"), count(lit(1)).as("n"))
        .coalesce(1).write.mode("overwrite").parquet(s"${layout}_stats")
      docs.select(col("doc_id"), explode(toks).as("term"), size(toks).as("dl"))
        .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(PostingBuckets)))
        // one file per term bucket regardless of builder parallelism
        // (see the ann_bucketed_f32 note in Similarity.buildLshLayout);
        // 8 MB row groups keep a hot bucket's one file splittable
        // (Layouts.RowGroupBytes scaladoc)
        .repartition(col("tb"))
        .write.partitionBy("tb").mode("overwrite")
        .option("parquet.block.size", graft.util.Layouts.RowGroupBytes.toString)
        .parquet(layout.toString)
    }
    layout
  }

  /** The hybrid entries' keyword query as a batch of one: the
    * index-served single-query legs run the batch legs' code. */
  private[graft] val HybridQuery: Seq[(Long, Seq[String])] = Seq(0L -> QueryTerms)

  /** [[lexLeg]] served from the posting layout — identical ranks (same
    * tf/df/dl/stats, same quantized arithmetic, proven by the unchanged
    * exact-hash oracle), but the scan reads only the query terms'
    * bucket directories: the batch posting fetch ([[batchPostingTf]])
    * of [[HybridQuery]], scored by the one [[Quality.bm25Score]]. */
  private def lexLegIndexed(s: SparkSession, d: String): DataFrame = {
    val stats = s.read.parquet(s"${buildPostingLayout(s, d)}_stats")
    graft.util.BoundedLocal(rankTopK(
      Quality.bm25Score(batchPostingTf(s, d, HybridQuery), stats),
      "doc_id", "r4", LegK, "lex_rank"))
  }

  /** Embeddings as (vec_id, v float64). */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The pseudo-relevance query vector: per-dimension mean (rounded to
    * 6 decimals) of the lexical top-3 docs' embeddings — Rocchio-style
    * feedback standing in for a text encoder (none can ship in this
    * container; production swaps this one-row frame for the encoder's
    * output). One row, broadcast everywhere it is used. */
  private def prfVector(s: SparkSession, d: String,
                        lex: DataFrame): DataFrame = {
    val seed = lex.filter(col("lex_rank") <= 3)
      .select(col("doc_id").as("vec_id"))
    emb(s, d).join(broadcast(seed), "vec_id")
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(round(avg("x"), 6).as("m"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
        " p -> p.m)").as("qv"))
  }

  /** The vector leg: cosine-to-`qv` top-20 as (doc_id, vec_rank).
    * localCheckpointed (bounded: 20 rows) like [[lexLeg]] — retrievalNdcg
    * consumes it twice (fusion + per-leg nDCG) and would otherwise
    * re-execute the corpus-wide cosine scan AND the PRF-vector
    * derivation behind it (r12 advice). */
  private def vecLeg(s: SparkSession, d: String, qv: DataFrame): DataFrame = {
    val scored = emb(s, d).crossJoin(broadcast(qv))
      .withColumn("r6", round(
        dot(col("v"), col("qv")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("qv"), col("qv")))),
        6))
      .select(col("vec_id").as("doc_id"), col("r6"))
    graft.util.BoundedLocal(
      rankTopK(scored, "doc_id", "r6", LegK, "vec_rank"))
  }

  /** rrf = Σ 1/(60 + rank) over the two legs, an absent leg
    * contributing 0, rounded to 6 dp. */
  private def rrf: Column = round(
    coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)), 6)

  /** THE single-query RRF fusion — one copy serving the hybrid entries
    * and nDCG: full-outer join of two (doc_id, *_rank) lists, [[rrf]],
    * fused top-[[FusedK]]. */
  private def fuseRrf(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(FusedK)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)

  /** Hybrid search: the BM25 leg and the vector leg fused with
    * reciprocal-rank fusion — `rrf = Σ_legs 1/(60 + rank)`, a leg a doc
    * is absent from contributing 0 (Cormack/Clarke/Buettcher 2009; the
    * fusion every production hybrid store ships because it needs no
    * score calibration between BM25's unbounded scores and cosine's
    * [-1, 1]). Output: fused top-10 as (doc_id, lex_rank, vec_rank,
    * rrf), ranks NULL where a leg didn't retrieve the doc.
    *
    * Plan shape: two bounded rank lists (≤ 20 rows each) full-outer
    * joined — at any corpus size the fusion stage touches 2·K rows per
    * query; the corpus is only read inside the legs, each of which is
    * index-served at scale (inverted index / ANN layout). */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val lex = lexLeg(s, d)
    fuseRrf(lex, vecLeg(s, d, prfVector(s, d, lex)))
  }

  /** [[hybridRrf]] with BOTH legs served by write-time layouts — the
    * PRODUCTION hybrid. The lexical leg reads the inverted-index
    * posting layout ([[lexLegIndexed]]: partition-pruned to the query
    * terms' ≤3 of 64 buckets — identical ranks to [[lexLeg]], so this
    * substitution leaves the oracle untouched); the vector leg reads
    * ~nprobe/k of the corpus through the IVF layout's static partition
    * pruning ([[ivfLeg]]); fusion is unchanged (two ≤20-row rank
    * lists). Both legs run the batch legs' code on [[HybridQuery]]. A
    * separate gate entry rather than a twin because the IVF-pruned
    * top-20 is a different (approximate) leg ranking, so the fused rows
    * differ from [[hybridRrf]]'s — RetrievalSpec pins the overlap floor
    * between the two fused lists, the exact-hash oracle (codebook
    * interpolated, the IVF convention) pins engine parity. */
  def hybridRrfIvf(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val lex = lexLegIndexed(s, d)
    val qv = prfVector(s, d, lex)
      .select(lit(HybridQuery.head._1).as("query_id"), col("qv"))
    fuseRrf(lex, ivfLeg(s, d, qv).drop("query_id"))
  }

  /** The deterministic query BATCH ([[hybridRrfBatch]]): 12 two-term
    * keyword queries over the corpus vocabulary (every term exists in
    * both the driver tables' and [[graft.scale.SynthCorpus]]'s common
    * vocabulary, so the batch entry carries decade rows unchanged).
    * Production swaps this literal for a queries table/stream; the
    * operators only see a (query_id, term) frame. */
  private[graft] val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "table"), 2L -> Seq("join", "hash"),
    3L -> Seq("window", "stream"), 4L -> Seq("sort", "merge"),
    5L -> Seq("filter", "scan"), 6L -> Seq("group", "agg"),
    7L -> Seq("query", "fast"), 8L -> Seq("slow", "batch"),
    9L -> Seq("row", "column"), 10L -> Seq("key", "value"),
    11L -> Seq("order", "line"), 12L -> Seq("data", "big"))

  /** Deterministic GENERATED query batch of size `n` over the same
    * 24-term vocabulary [[BatchQueries]] draws from — the
    * |queries|-scaling instrument (r13 verdict #7: prove the posting
    * scan's term-bucket pruning still binds at 100 queries). The two
    * term indices `i % 24` and `(7i + 3) % 24` never collide
    * (6i ≡ 21 mod 24 has no solution: 6i mod 24 ∈ {0,6,12,18}), so
    * every query has two distinct terms; the term-bucket UNION is
    * bounded by the 24-term vocabulary REGARDLESS of n — pinned in
    * RetrievalSpec. */
  private[graft] def batchQueriesN(n: Int): Seq[(Long, Seq[String])] = {
    val vocab = BatchQueries.flatMap(_._2).distinct
    (0 until n).map(i =>
      (i + 1).toLong -> Seq(vocab(i % vocab.size), vocab((7 * i + 3) % vocab.size)))
  }

  /** The batch's pruned posting fetch — the UNION of the queries'
    * term-bucket hashes as the scan's static `tb IN (...)`
    * partition-pruning literal (≤ |terms| of 64 dirs read once, shared
    * by all queries). Split out so RetrievalSpec can pin the
    * PartitionFilters on the pre-checkpoint plan. */
  private[graft] def batchPostingTf(s: SparkSession, d: String,
                                    queries: Seq[(Long, Seq[String])])
      : DataFrame = {
    import s.implicits._
    val layout = buildPostingLayout(s, d)
    val allTerms = queries.flatMap(_._2).distinct
    // term→bucket hashes via Spark's own xxhash64 (bounded: |terms|
    // rows) so driver literal and layout agree by construction
    val buckets: Seq[Long] = allTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(PostingBuckets)))
      .collect().map(_.getLong(0)).distinct.sorted.toSeq
    s.read.parquet(layout.toString)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(allTerms: _*))
      .select("doc_id", "term", "tf", "dl")
  }

  /** Per-query top-[[LegK]] of a fused kernel's (query_id, doc_id,
    * `score`) candidates as a (query_id, doc_id, `rankName`) rank frame
    * — the bounded [[Similarity.rankedTopK]] tail over ≤
    * partitions·|queries|·K candidate rows. */
  private def legRanks(cands: DataFrame, score: String,
                       rankName: String): DataFrame =
    Similarity.rankedTopK(
      cands.select(col("query_id"), col("doc_id").as("vec_id"),
        col(score).as("cos")), LegK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as(rankName))

  /** The IVF vector leg for a (query_id, qv) frame: the fused
    * [[Similarity.ivfBatchCandidates]] kernel over the layout's probed
    * cells, ranked per query as (query_id, doc_id, vec_rank). */
  private def ivfLeg(s: SparkSession, d: String, qvs: DataFrame): DataFrame =
    legRanks(Similarity.ivfBatchCandidates(s, d, qvs, LegK), "r6", "vec_rank")

  /** The two index-served BATCH legs as (query_id, doc_id, *_rank)
    * rank frames — ONE copy shared by [[hybridRrfBatch]] and
    * [[retrievalNdcgBatch]] (and the |queries|-scaling probe via
    * [[hybridRrfBatchN]]). */
  private[graft] def batchLegs(s: SparkSession, d: String,
                               queries: Seq[(Long, Seq[String])])
      : (DataFrame, DataFrame) = {
    val stats = s.read.parquet(s"${buildPostingLayout(s, d)}_stats")
    val tf = batchPostingTf(s, d, queries)
    val lexB = legRanks(
      Quality.bm25BatchCandidates(tf, queries, stats, LegK), "r4", "lex_rank")
      // bounded (|queries|·20 rows); consumed by the PRF seed AND the
      // fusion (nDCG adds grade anchors) — driver-local (BoundedLocal)
      .transform(graft.util.BoundedLocal.apply)
    // per-query PRF vectors: mean of each query's lexical top-3 docs'
    // embeddings — |queries| bounded rows
    val seeds = lexB.filter(col("lex_rank") <= 3)
      .select("query_id", "doc_id")
    val qvs = emb(s, d)
      .join(broadcast(seeds), col("vec_id") === col("doc_id"))
      .select(col("query_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("query_id", "pos").agg(round(avg("x"), 6).as("m"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
        " p -> p.m)").as("qv"))
      // bounded (|queries| rows); ivfBatchCandidates collects it for the
      // probed-cell literals — the materialization keeps the corpus-wide
      // PRF derivation from running twice (the same r12-advice class as
      // lexB/vecLeg)
      .transform(graft.util.BoundedLocal.apply)
    (lexB, ivfLeg(s, d, qvs))
  }

  /** THE batch RRF fusion — one copy serving [[hybridRrfBatchN]] and
    * [[retrievalNdcgBatch]]: the (query_id, doc_id)-keyed full-outer
    * join of the two rank frames over ≤ 2·K rows per query, [[rrf]],
    * and the per-query fused_rank ≤ [[FusedK]] (the window partitions
    * ≤ 40-row groups). */
  private def fuseRrfBatch(lexB: DataFrame, vecB: DataFrame): DataFrame =
    lexB.join(vecB, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("fused_rank") <= FusedK)

  /** `hybrid_rrf_batch` gate entry — the hybrid stack generalized from
    * ONE hardcoded query to a 12-query BATCH, both legs index-served
    * (r12 verdict #3: the O(queries·K) fusion claim and the posting
    * layout's pruning under a term-set UNION, measured rather than
    * asserted).
    *
    * Leg shapes at scale:
    *  - LEXICAL: one pruned posting fetch for the UNION of the batch's
    *    terms (static `tb IN (...)` partition pruning — ≤ |terms| of 64
    *    bucket dirs read once, shared by all queries), BM25 idf/norm
    *    computed once per term/doc, then one doc-clustered partition
    *    kernel scoring every query and keeping its per-partition top-K
    *    ([[Quality.bm25BatchCandidates]]). Adding a query adds only its
    *    terms' posting rows — leg cost scales with Σ df(term), never
    *    with corpus × queries.
    *  - VECTOR: per-query Rocchio PRF vectors (12 bounded rows) probed
    *    through the IVF layout with the probed-cell UNION as the scan's
    *    pruning literal; each query scores only its own nprobe cells
    *    inside one partition kernel ([[Similarity.ivfBatchCandidates]]).
    *  - RANK/FUSION: per-query top-[[LegK]] via the bounded
    *    [[Similarity.rankedTopK]] aggregate (KBs exchanged), then the
    *    (query_id, doc_id)-keyed full-outer RRF join over 2·K·|queries|
    *    rows — fusion cost is O(queries·K) regardless of corpus size.
    * Output: per-query fused top-[[FusedK]] as (query_id, doc_id,
    * lex_rank, vec_rank, rrf, fused_rank). Exact oracle: the batch is a
    * VALUES literal, BM25/PRF/cell-probing/fusion replayed per query in
    * DuckDB with the layout's codebook ([[Similarity.ivfCodebook]]). */
  def hybridRrfBatch(s: SparkSession, d: String): DataFrame =
    hybridRrfBatchN(s, d, BatchQueries)

  /** `hybrid_rrf_batch100` gate entry — the batch stack at 100
    * GENERATED queries (r13 verdict #7: no 12-query driver literal in
    * the scaling path; the only driver-held state is the bounded
    * term→bucket map over the 24-term vocabulary, so the posting scan's
    * partition pruning binds IDENTICALLY at any |queries|). Its decade
    * rows measure leg cost ~linear in the unioned document frequency
    * (each of the 24 terms serves ~8 of the 100 queries) with the
    * fusion stage flat at 2·K·|queries| rows. */
  def hybridRrfBatch100(s: SparkSession, d: String): DataFrame =
    hybridRrfBatchN(s, d, batchQueriesN(100))

  /** [[hybridRrfBatch]] over an arbitrary query batch — the
    * |queries|-scaling surface the probe exercises at 100 queries
    * ([[batchQueriesN]]); the gate entry is the 12-query literal. */
  private[graft] def hybridRrfBatchN(s: SparkSession, d: String,
                                     queries: Seq[(Long, Seq[String])])
      : DataFrame = {
    reg(s)
    val (lexB, vecB) = batchLegs(s, d, queries)
    fuseRrfBatch(lexB, vecB)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf"), col("fused_rank"))
      .orderBy("query_id", "fused_rank")
  }

  /** MMR balance: `mmr = λ·relevance − (1−λ)·max-sim-to-selected`. */
  private val MmrLambda = 0.7
  private val MmrQueryId = 42L
  private val MmrK = 5

  /** Driver-local MMR greedy over a bounded per-query shortlist (r14
    * optimization): the [[MmrK]] rounds previously ran as driver-
    * SCHEDULED join/window rounds — measured at sf0.1,
    * `retrieval_mmr_batch` spent 4.2 s of job time on 0.2 s of task CPU
    * across 29 jobs, all scheduling/broadcast overhead on ≤200-row
    * frames. The greedy is a pure fold over (rel, sim) doubles with the
    * SAME IEEE ops the Spark loop ran (λ·rel − (1−λ)·max sim — JVM
    * doubles either way), so it runs on the driver in O(queries·K²).
    * `quant` is applied to each round's mmr before comparing/emitting
    * (see [[mmrPicks]]). Ties break to the lowest vec_id, exactly as
    * the `row_number` ordering did.
    * Returns (query_id, pick, vec_id, rel, mmr) rows in (query, pick)
    * order. */
  private def mmrGreedy(
      cands: Seq[(Long, Long, Double)], // (query_id, vec_id, rel)
      sim: (Long, Long, Long) => Double, // (query_id, a, b) -> sim
      quant: Double => Double): Seq[(Long, Int, Long, Double, Double)] =
    cands.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, cs) =>
      var selected = Vector.empty[(Int, Long, Double, Double)]
      for (r <- 1 to MmrK) {
        val selIds = selected.map(_._2)
        val pool = cs.collect {
          case (_, id, rel) if !selIds.contains(id) =>
            val mmr =
              if (r == 1) quant(MmrLambda * rel)
              else quant(MmrLambda * rel - (1.0 - MmrLambda) *
                selIds.map(b => sim(q, id, b)).max)
            (id, rel, mmr)
        }
        val best = pool.minBy { case (id, _, mmr) => (-mmr, id) }
        selected :+= ((r, best._1, best._2, best._3))
      }
      selected.map { case (r, id, rel, mmr) => (q, r, id, rel, mmr) }
    }

  /** Greedy MMR picks for each query id in `ids` (the query is that
    * vec_id's own embedding) as (query_id, pick, vec_id, rel, mmr) rows,
    * rel and mmr rounded to 6 dp on output — the one path serving
    * [[retrievalMmr]] (a batch of one) and [[retrievalMmrBatch]].
    * Candidate discovery is ONE corpus scan broadcast-joined against the
    * query vectors with the bounded [[Similarity.rankedTopK]] tail
    * (per-query top-[[LegK]] by the 6dp-rounded cosine, ties to the
    * lowest vec_id — the oracles' `cand` ranking); rel and the raw
    * vectors are then re-derived for just the |ids|·LegK shortlist
    * rows, collected (bounded: vectors included, K and |ids| are code
    * constants), and the [[MmrK]] greedy rounds run driver-locally
    * ([[mmrGreedy]]) over each query's own shortlist.
    *
    * `quant` is applied to rel, to every pairwise sim (the ascending
    * [[graft.functions.VectorKernels.dot]] fold, bit-identical to
    * `vec_dot`) and to each round's mmr before the greedy compares them.
    * The single-query entry's oracle rounds all three to 6 dp; the
    * batch keeps FULL MANTISSA (identity): a 6dp-rounded rel is an exact
    * 1e-6 multiple, so λ·rel lands EXACTLY on a 7th-decimal rounding
    * half-boundary whenever rel's last digit is odd — where Spark's
    * shortest-repr HALF_UP and DuckDB's true-double rounding disagree
    * (caught in pre-validation at sf0.01). Sequential dot/sqrt folds are
    * bit-identical across engines, so unrounded scores keep
    * full-mantissa distance from every boundary; only the output
    * columns round. */
  private def mmrPicks(s: SparkSession, d: String, ids: Seq[Long],
                       quant: Double => Double): DataFrame = {
    import graft.functions.VectorKernels.{dot => dotV, norm}
    val e = emb(s, d)
    val qs = e.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        sqrt(dot(col("v"), col("v"))).as("qn"))
    def relTo(df: DataFrame): DataFrame = df
      .withColumn("rel",
        dot(col("v"), col("qv")) / (sqrt(dot(col("v"), col("v"))) * col("qn")))
    val scored = relTo(e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id")))
      .select(col("query_id"), col("vec_id"), col("rel").as("cos"))
    val top = Similarity.rankedTopK(scored, LegK)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val cand = relTo(e.join(broadcast(top), Seq("vec_id"))
      .join(broadcast(qs), Seq("query_id")))
      .select(col("query_id"), col("vec_id"), col("v"), col("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
    val vOf = cand.map(c => (c._1, c._2) -> c._3).toMap
    def sim(q0: Long, a: Long, b: Long): Double = {
      val va = vOf((q0, a)); val vb = vOf((q0, b))
      quant(dotV(va, vb) / (norm(va) * norm(vb)))
    }
    import s.implicits._
    mmrGreedy(cand.toSeq.map(c => (c._1, c._2, quant(c._4))), sim, quant)
      .toDF("query_id", "pick", "vec_id", "rel", "mmr")
      .select(col("query_id"), col("pick"), col("vec_id"),
        round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick 5 of the query's top-20 cosine candidates, each round
    * choosing the candidate maximizing λ·rel − (1−λ)·max(sim to already
    * selected) — the diversity re-rank that keeps a RAG context window
    * from filling with near-duplicates of one passage. Query = vec_id
    * 42's embedding; rel and pairwise sims are cosines rounded to 6
    * decimals, so the greedy argmax (ties to lowest vec_id) replays
    * identically in DuckDB — the oracle unrolls the 5 rounds as chained
    * CTEs (the ann_hnsw beam convention). Output: (pick 1..5, vec_id,
    * rel, mmr) where round 1's mmr is λ·rel (empty selected set).
    *
    * [[retrievalMmrBatch]]'s path as a batch of one, with every score
    * 6dp-rounded by `fastRound` (Spark's own `round`); RetrievalSpec
    * pins the pick-sequence agreement with the batch on id 42. */
  def retrievalMmr(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val pow6 = math.pow(10.0, 6)
    mmrPicks(s, d, Seq(MmrQueryId),
      graft.functions.VectorKernels.fastRound(_, pow6, 6))
      .select("pick", "vec_id", "rel", "mmr")
      .orderBy("pick")
  }

  /** Offline rank-quality evaluation: nDCG@10 of the three rankings
    * [[hybridRrf]] produces (lexical leg, vector leg, fused) against a
    * graded-relevance standard — the metric a training-data/RAG team
    * actually tracks when tuning a retriever mix. Relevance anchor: the
    * exact-cosine ranking to the LEXICAL TOP-1 doc's embedding (grade =
    * 11 − exact_rank for the exact top-10, else 0) — independent of
    * both legs' ranking functions (BM25 ranks by terms; the vector leg
    * ranks against the top-3 MEAN), so no leg is trivially perfect.
    * DCG = Σ (2^grade − 1)/log2(pos + 1); IDCG is the same sum over
    * grades 10..1 (grades are distinct by construction), making the
    * normalizer a shared constant. Output: (leg, ndcg) — 3 rows.
    *
    * Plan shape: the grade table is one more bounded rank list (exact
    * top-10), the metric a 3-leg × ≤20-row broadcast join + one
    * 3-group aggregate — nothing corpus-shaped beyond the legs. */
  /** KEPT as the documented oracle twin of [[retrievalNdcgBatch]] (r13
    * verdict #2): the brute (non-index) legs at one query, 3-row
    * output — the eval shape the batch entry generalizes. */
  def retrievalNdcg(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val lex = lexLeg(s, d)
    val vec = vecLeg(s, d, prfVector(s, d, lex))
    // fuse the legs already in hand — calling hybridRrf here would
    // re-execute both corpus-shaped legs a second time
    val fused = fuseRrf(lex, vec)
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("fused_rank"))
    // relevance anchor: exact cosine to the lexical top-1's embedding
    val anchor = lex.filter(col("lex_rank") === 1)
      .select(col("doc_id").as("vec_id"))
    val av = emb(s, d).join(broadcast(anchor), "vec_id")
      .select(col("v").as("qv"), sqrt(dot(col("v"), col("v"))).as("qn"))
    val graded = emb(s, d).crossJoin(broadcast(av))
      .withColumn("r6", round(
        dot(col("v"), col("qv")) / (sqrt(dot(col("v"), col("v"))) * col("qn")),
        6))
      .select(col("vec_id").as("doc_id"), col("r6"))
    val grades = rankTopK(graded, "doc_id", "r6", FusedK, "grank")
      .select(col("doc_id"), (lit(11) - col("grank")).cast("double").as("grade"))
    def legNdcg(leg: DataFrame, rankCol: String, name: String): DataFrame =
      leg.filter(col(rankCol) <= FusedK)
        .join(broadcast(grades), Seq("doc_id"), "left_outer")
        .withColumn("g", coalesce(col("grade"), lit(0.0)))
        .agg(round(
          sum((pow(lit(2.0), col("g")) - 1.0) /
            (log(col(rankCol) + 1.0) / log(lit(2.0)))) / lit(Idcg), 6)
          .as("ndcg"))
        .select(lit(name).as("leg"), col("ndcg"))
    legNdcg(lex, "lex_rank", "lex")
      .unionByName(legNdcg(vec, "vec_rank", "vec"))
      .unionByName(legNdcg(fused, "fused_rank", "fused"))
      .orderBy("leg")
  }

  /** The MMR query BATCH: [[graft.operators.Similarity.queryIds]] (the
    * ANN family's 10 deterministic probe ids) — each query is that
    * vec_id's own embedding, so the batch needs no PRF derivation and
    * the single-query entry's id 42 is one of its members
    * (RetrievalSpec pins the two entries' picks agree on it). */
  private[graft] val MmrBatchIds: Seq[Long] = Similarity.queryIds

  /** `retrieval_mmr_batch` gate entry — [[retrievalMmr]] generalized to
    * a 10-query batch (r13 verdict #2): per-query greedy MMR over each
    * query's OWN ≤[[LegK]]-row shortlist at full mantissa
    * ([[mmrPicks]]). Everything after the one corpus scan — the 200-row
    * candidate frame, the per-query 20×19 pairwise sims, the [[MmrK]]
    * greedy rounds — is bounded by queries·K², so it stays driver-local
    * at any corpus size (the Spark round loop it replaced cost ~25 tiny
    * driver jobs: 4.2 s of job wall on 0.2 s of task CPU at sf0.1).
    * Output: (query_id, pick 1..5, vec_id, rel, mmr). Exact static
    * oracle: the rounds unroll as per-query-partitioned CTEs
    * ([[mmrBatchOracle]]). */
  def retrievalMmrBatch(s: SparkSession, d: String): DataFrame = {
    reg(s)
    mmrPicks(s, d, MmrBatchIds, identity).orderBy("query_id", "pick")
  }

  /** `retrieval_ndcg_batch` gate entry — [[retrievalNdcg]] generalized
    * to the [[BatchQueries]] batch (r13 verdict #2), sharing
    * [[batchLegs]] with `hybrid_rrf_batch` verbatim: per-query nDCG@10
    * of the lexical leg, the IVF vector leg, and the fused ranking,
    * each against that query's OWN relevance standard (exact cosine to
    * its lexical top-1 doc's embedding, grade = 11 − exact_rank for the
    * top-10). Output: (query_id, leg, ndcg) per query plus the
    * query_id = −1 per-leg MEAN rows — the tracking metric an eval
    * dashboard actually plots. Grade anchors are |queries| bounded
    * rows; the exact grade scan is corpus × |queries| map-only work
    * with a bounded [[Similarity.rankedTopK]] tail (the offline-eval
    * twin of the serving legs' index-pruned scans). */
  def retrievalNdcgBatch(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val (lexB, vecB) = batchLegs(s, d, BatchQueries)
    val fused = fuseRrfBatch(lexB, vecB)
      .select("query_id", "doc_id", "fused_rank")
    val anchors = lexB.filter(col("lex_rank") === 1)
      .select(col("query_id"), col("doc_id").as("vec_id"))
    val av = graft.util.BoundedLocal(
      emb(s, d).join(broadcast(anchors), Seq("vec_id"))
        .select(col("query_id"), col("v").as("qv"),
          sqrt(dot(col("v"), col("v"))).as("qn")))
    val graded = emb(s, d).crossJoin(broadcast(av))
      .withColumn("r6", round(
        dot(col("v"), col("qv")) / (sqrt(dot(col("v"), col("v"))) * col("qn")),
        6))
      .select(col("query_id"), col("vec_id"), col("r6").as("cos"))
    val grades = graft.util.BoundedLocal(
      Similarity.rankedTopK(graded, FusedK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          (lit(11) - col("rank")).cast("double").as("grade")))
    // ndcg stays FULL-MANTISSA through the mean: a mean of 6dp-rounded
    // values is a rational with denominator 12e6 that lands EXACTLY on
    // a rounding half-boundary for ~1/12 of leg draws (the MMR-batch
    // boundary class) — averaging the unrounded values keeps
    // full-mantissa distance; only the output columns round
    def legNdcg(leg: DataFrame, rankCol: String, name: String): DataFrame =
      leg.filter(col(rankCol) <= FusedK)
        .join(broadcast(grades), Seq("query_id", "doc_id"), "left_outer")
        .withColumn("g", coalesce(col("grade"), lit(0.0)))
        .groupBy("query_id")
        .agg((sum((pow(lit(2.0), col("g")) - 1.0) /
            (log(col(rankCol) + 1.0) / log(lit(2.0)))) / lit(Idcg))
          .as("ndcg_full"))
        .select(col("query_id"), lit(name).as("leg"), col("ndcg_full"))
    val per = graft.util.BoundedLocal(
      legNdcg(lexB, "lex_rank", "lex")
        .unionByName(legNdcg(vecB, "vec_rank", "vec"))
        .unionByName(legNdcg(fused, "fused_rank", "fused")))
    // 3·|queries| rows, read twice (per + mean)
    val perOut = per.select(col("query_id"), col("leg"),
      round(col("ndcg_full"), 6).as("ndcg"))
    val mean = per.groupBy("leg")
      .agg(round(avg("ndcg_full"), 6).as("ndcg"))
      .select(lit(-1L).as("query_id"), col("leg"), col("ndcg"))
    perOut.unionByName(mean).orderBy("query_id", "leg")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hybrid_rrf" -> (hybridRrf _),
    "hybrid_rrf_ivf" -> (hybridRrfIvf _),
    "hybrid_rrf_batch" -> (hybridRrfBatch _),
    "hybrid_rrf_batch100" -> (hybridRrfBatch100 _),
    "retrieval_mmr" -> (retrievalMmr _),
    "retrieval_mmr_batch" -> (retrievalMmrBatch _),
    "retrieval_ndcg" -> (retrievalNdcg _),
    "retrieval_ndcg_batch" -> (retrievalNdcgBatch _))

  // ---- DuckDB oracles (static — no trained artifacts) --------------------

  /** The shared leg CTEs: BM25 scores (text_bm25's SQL), lexical top-20
    * ranks, the PRF mean vector, and the vector-leg top-20 ranks. */
  private val legCtes: String =
    s"""d AS (
       SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
     dl AS (SELECT doc_id, len(toks) AS dl FROM d),
     stats AS (SELECT round(avg(dl), 6) AS avgdl, count(*) AS n FROM dl),
     tf AS (
       SELECT doc_id, tok AS term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
       WHERE tok IN ('spark', 'table', 'join') GROUP BY 1, 2),
     dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
     idf AS (
       SELECT term,
         round(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
       FROM dfq CROSS JOIN stats),
     sc AS (
       SELECT tf.doc_id,
         round(sum(idf.idf * tf.tf * 2.2 / (tf.tf
           + round(1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl), 6))), 4) AS r4
       FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
       CROSS JOIN stats
       GROUP BY 1),
     lex AS (
       SELECT doc_id, row_number() OVER (ORDER BY r4 DESC, doc_id) AS lex_rank
       FROM sc ORDER BY r4 DESC, doc_id LIMIT $LegK),
     emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     qv AS (
       SELECT list(m ORDER BY pos) AS qv FROM (
         SELECT pos, round(avg(x), 6) AS m FROM (
           SELECT generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS x
           FROM emb e JOIN lex ON e.vec_id = lex.doc_id
           WHERE lex.lex_rank <= 3)
         GROUP BY pos)),
     vsc AS (
       SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.v, qv.qv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(qv.qv, qv.qv))), 6) AS r6
       FROM emb e CROSS JOIN qv),
     vec AS (
       SELECT doc_id, row_number() OVER (ORDER BY r6 DESC, doc_id) AS vec_rank
       FROM vsc ORDER BY r6 DESC, doc_id LIMIT $LegK)"""

  private val hybridOracle: String =
    s"""WITH $legCtes,
     fused AS (
       SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         lex.lex_rank, vec.vec_rank,
         round(coalesce(1.0 / ($RrfK + lex.lex_rank), 0.0)
             + coalesce(1.0 / ($RrfK + vec.vec_rank), 0.0), 6) AS rrf
       FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
     SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
     ORDER BY rrf DESC, doc_id LIMIT $FusedK"""

  /** The 5 MMR rounds unrolled as chained CTEs (the ann_hnsw beam
    * convention: bounded driver-round loops replay as CTE chains). */
  private val mmrOracle: String = {
    val lam = MmrLambda
    val oneMinus = 1.0 - MmrLambda
    val rounds = (2 to MmrK).map { r =>
      s"""s$r AS (
       SELECT $r AS pick, c.vec_id, c.rel,
         round($lam * c.rel - $oneMinus * max(s.sim), 6) AS mmr
       FROM cand c
       JOIN sim s ON s.id_a = c.vec_id
       JOIN sel${r - 1} t ON s.id_b = t.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
       GROUP BY c.vec_id, c.rel
       ORDER BY mmr DESC, c.vec_id LIMIT 1),
     sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
    }.mkString(",\n     ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
           FROM emb WHERE vec_id = $MmrQueryId),
     cand AS (
       SELECT e.vec_id, e.v,
         round(list_dot_product(e.v, q.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * q.qn), 6) AS rel
       FROM emb e CROSS JOIN q WHERE e.vec_id <> $MmrQueryId
       ORDER BY rel DESC, e.vec_id LIMIT $LegK),
     sim AS (
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
       FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
     sel1 AS (
       SELECT 1 AS pick, vec_id, rel, round($lam * rel, 6) AS mmr
       FROM cand ORDER BY round($lam * rel, 6) DESC, vec_id LIMIT 1),
     $rounds
     SELECT pick, vec_id, rel, mmr FROM sel$MmrK ORDER BY pick"""
  }

  private val ndcgOracle: String =
    s"""WITH $legCtes,
     fused0 AS (
       SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         round(coalesce(1.0 / ($RrfK + lex.lex_rank), 0.0)
             + coalesce(1.0 / ($RrfK + vec.vec_rank), 0.0), 6) AS rrf
       FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
     fused AS (
       SELECT doc_id,
         row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
       FROM fused0 ORDER BY rrf DESC, doc_id LIMIT $FusedK),
     av AS (
       SELECT e.v AS qv, sqrt(list_dot_product(e.v, e.v)) AS qn
       FROM emb e JOIN lex ON e.vec_id = lex.doc_id
       WHERE lex.lex_rank = 1),
     gsc AS (
       SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.v, av.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * av.qn), 6) AS r6
       FROM emb e CROSS JOIN av),
     grades AS (
       SELECT doc_id, CAST(11 - grank AS DOUBLE) AS grade FROM (
         SELECT doc_id, row_number() OVER (ORDER BY r6 DESC, doc_id) AS grank
         FROM gsc ORDER BY r6 DESC, doc_id LIMIT $FusedK)),
     legs AS (
       SELECT 'lex' AS leg, doc_id, lex_rank AS rnk FROM lex
         WHERE lex_rank <= $FusedK
       UNION ALL
       SELECT 'vec' AS leg, doc_id, vec_rank AS rnk FROM vec
         WHERE vec_rank <= $FusedK
       UNION ALL
       SELECT 'fused' AS leg, doc_id, fused_rank AS rnk FROM fused)
     SELECT l.leg,
       round(sum((pow(2.0, coalesce(g.grade, 0.0)) - 1.0)
         / (ln(l.rnk + 1.0) / ln(2.0))) / $Idcg, 6) AS ndcg
     FROM legs l LEFT JOIN grades g USING (doc_id)
     GROUP BY l.leg ORDER BY l.leg"""

  /** The IVF codebook as the oracles' `cells(cell, c)` VALUES rows. */
  private def cellValues(cents: Array[Array[Double]]): String =
    cents.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ",", "]")})" }
      .mkString(",\n")

  /** DuckDB replay of [[hybridRrfIvf]]: the leg CTEs (BM25 ranks + PRF
    * vector), then the IVF codebook as a VALUES literal — cell
    * assignment (sequential (v−c)² sum, ties to lowest cell), the qv's
    * nprobe nearest cells, cosine over candidates in probed cells, and
    * the identical RRF fusion. */
  private def hybridIvfOracle(cents: Array[Array[Double]]): String = {
    val np = Similarity.IvfNProbe
    s"""WITH $legCtes,
     cells(cell, c) AS (VALUES ${cellValues(cents)}),
     dist AS (
       SELECT e.vec_id, e.v, cl.cell,
         list_sum(list_transform(generate_series(1, len(cl.c)),
           i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i]))) AS d2
       FROM emb e CROSS JOIN cells cl),
     rk AS (
       SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
       FROM dist),
     assigned AS (
       SELECT r.vec_id, r.v, sqrt(list_dot_product(r.v, r.v)) AS n, r.cell
       FROM rk r WHERE r.rk = 1),
     qcells AS (
       SELECT cl.cell
       FROM cells cl CROSS JOIN qv
       ORDER BY list_sum(list_transform(generate_series(1, len(cl.c)),
         i -> (qv.qv[i] - cl.c[i]) * (qv.qv[i] - cl.c[i]))), cl.cell
       LIMIT $np),
     vsc2 AS (
       SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.v, qv.qv)
           / (e.n * sqrt(list_dot_product(qv.qv, qv.qv))), 6) AS r6
       FROM assigned e JOIN qcells USING (cell) CROSS JOIN qv),
     vec2 AS (
       SELECT doc_id, row_number() OVER (ORDER BY r6 DESC, doc_id) AS vec_rank
       FROM vsc2 ORDER BY r6 DESC, doc_id LIMIT $LegK),
     fused AS (
       SELECT coalesce(lex.doc_id, vec2.doc_id) AS doc_id,
         lex.lex_rank, vec2.vec_rank,
         round(coalesce(1.0 / ($RrfK + lex.lex_rank), 0.0)
             + coalesce(1.0 / ($RrfK + vec2.vec_rank), 0.0), 6) AS rrf
       FROM lex FULL OUTER JOIN vec2 ON lex.doc_id = vec2.doc_id)
     SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
     ORDER BY rrf DESC, doc_id LIMIT $FusedK"""
  }

  /** DuckDB replay of [[hybridRrfBatch]]: the query batch as a VALUES
    * literal, the union-term BM25 leg, per-query PRF vectors, the IVF
    * codebook (interpolated per the convention) with per-query probed
    * cells, and the (query_id, doc_id)-keyed fusion — every leg CTE is
    * the single-query oracle's generalized with a query_id column. */
  private def batchOracle(cents: Array[Array[Double]],
                          queries: Seq[(Long, Seq[String])] = BatchQueries)
      : String =
    s"""WITH ${batchLegCtes(cents, queries)},
     fused AS (
       SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         lex.lex_rank, vec.vec_rank,
         round(coalesce(1.0 / ($RrfK + lex.lex_rank), 0.0)
             + coalesce(1.0 / ($RrfK + vec.vec_rank), 0.0), 6) AS rrf
       FROM lex FULL OUTER JOIN vec
         ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
     SELECT query_id, doc_id, lex_rank, vec_rank, rrf, fused_rank FROM (
       SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
         row_number() OVER (PARTITION BY query_id
           ORDER BY rrf DESC, doc_id) AS fused_rank
       FROM fused) WHERE fused_rank <= $FusedK
     ORDER BY query_id, fused_rank"""

  /** The batch hybrid stack's shared CTE chain (through the per-query
    * `lex` and `vec` rank lists) — one copy serving [[batchOracle]] and
    * [[ndcgBatchOracle]], exactly as [[batchLegs]] serves both Spark
    * entries. */
  private def batchLegCtes(cents: Array[Array[Double]],
                           queries: Seq[(Long, Seq[String])] = BatchQueries)
      : String = {
    val qvals = queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    val termList = queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val np = Similarity.IvfNProbe
    s"""queries AS (
       SELECT CAST(q AS BIGINT) AS query_id, t AS term
       FROM (VALUES $qvals) v(q, t)),
     d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
     dl AS (SELECT doc_id, len(toks) AS dl FROM d),
     stats AS (SELECT round(avg(dl), 6) AS avgdl, count(*) AS n FROM dl),
     tf AS (
       SELECT doc_id, tok AS term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
       WHERE tok IN ($termList) GROUP BY 1, 2),
     dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
     idf AS (
       SELECT term,
         round(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
       FROM dfq CROSS JOIN stats),
     sc AS (
       SELECT q.query_id, tf.doc_id,
         round(sum(idf.idf * tf.tf * 2.2 / (tf.tf
           + round(1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl), 6))), 4) AS r4
       FROM tf JOIN queries q USING (term) JOIN idf USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY 1, 2),
     lex AS (
       SELECT query_id, doc_id, lex_rank FROM (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY r4 DESC, doc_id) AS lex_rank
         FROM sc) WHERE lex_rank <= $LegK),
     emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     qvx AS (
       SELECT lex.query_id, generate_subscripts(e.v, 1) AS pos,
         unnest(e.v) AS x
       FROM emb e JOIN lex ON e.vec_id = lex.doc_id
       WHERE lex.lex_rank <= 3),
     qv AS (
       SELECT query_id, list(m ORDER BY pos) AS qv FROM (
         SELECT query_id, pos, round(avg(x), 6) AS m FROM qvx
         GROUP BY 1, 2)
       GROUP BY query_id),
     cells(cell, c) AS (VALUES ${cellValues(cents)}),
     dist AS (
       SELECT e.vec_id, e.v, cl.cell,
         list_sum(list_transform(generate_series(1, len(cl.c)),
           i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i]))) AS d2
       FROM emb e CROSS JOIN cells cl),
     rk AS (
       SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
       FROM dist),
     assigned AS (
       SELECT r.vec_id, r.v, sqrt(list_dot_product(r.v, r.v)) AS n, r.cell
       FROM rk r WHERE r.rk = 1),
     qcells AS (
       SELECT query_id, cell FROM (
         SELECT qv.query_id, cl.cell,
           row_number() OVER (PARTITION BY qv.query_id
             ORDER BY list_sum(list_transform(generate_series(1, len(cl.c)),
               i -> (qv.qv[i] - cl.c[i]) * (qv.qv[i] - cl.c[i]))), cl.cell)
             AS crk
         FROM cells cl CROSS JOIN qv) WHERE crk <= $np),
     vsc AS (
       SELECT qv.query_id, e.vec_id AS doc_id,
         round(list_dot_product(e.v, qv.qv)
           / (e.n * sqrt(list_dot_product(qv.qv, qv.qv))), 6) AS r6
       FROM assigned e
       JOIN qcells qc ON e.cell = qc.cell
       JOIN qv ON qv.query_id = qc.query_id),
     vec AS (
       SELECT query_id, doc_id, vec_rank FROM (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY r6 DESC, doc_id) AS vec_rank
         FROM vsc) WHERE vec_rank <= $LegK)"""
  }

  /** DuckDB replay of [[retrievalMmrBatch]]: the [[mmrOracle]] greedy
    * rounds with every CTE partitioned by query_id — candidates ranked
    * per query (by the 6dp-rounded cosine, the rankedTopK ranking),
    * pairwise sims within each query's shortlist, each round picking
    * every query's argmax simultaneously. Scores stay FULL-MANTISSA
    * through the greedy arithmetic (see the Spark side's boundary
    * note); only the output columns round. Static (no trained
    * artifacts). */
  private val mmrBatchOracle: String = {
    val lam = MmrLambda
    val oneMinus = 1.0 - MmrLambda
    val ids = MmrBatchIds.mkString(", ")
    val rounds = (2 to MmrK).map { r =>
      s"""s$r AS (
       SELECT query_id, $r AS pick, vec_id, rel, mmr FROM (
         SELECT x.*, row_number() OVER (PARTITION BY query_id
           ORDER BY mmr DESC, vec_id) AS rk2
         FROM (
           SELECT c.query_id, c.vec_id, c.rel,
             $lam * c.rel - $oneMinus * max(s.sim) AS mmr
           FROM cand c
           JOIN sim s ON s.query_id = c.query_id AND s.id_a = c.vec_id
           JOIN sel${r - 1} t ON t.query_id = c.query_id
             AND s.id_b = t.vec_id
           WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
             WHERE z.query_id = c.query_id AND z.vec_id = c.vec_id)
           GROUP BY c.query_id, c.vec_id, c.rel) x)
       WHERE rk2 = 1),
     sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
    }.mkString(",\n     ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT vec_id AS query_id, v AS qv,
             sqrt(list_dot_product(v, v)) AS qn
           FROM emb WHERE vec_id IN ($ids)),
     rel0 AS (
       SELECT q.query_id, e.vec_id, e.v,
         list_dot_product(e.v, q.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * q.qn) AS rel
       FROM emb e JOIN q ON e.vec_id <> q.query_id),
     cand AS (
       SELECT query_id, vec_id, v, rel FROM (
         SELECT rel0.*, row_number() OVER (PARTITION BY query_id
           ORDER BY round(rel, 6) DESC, vec_id) AS rk FROM rel0)
       WHERE rk <= $LegK),
     sim AS (
       SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) AS sim
       FROM cand a JOIN cand b
         ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
     sel1 AS (
       SELECT query_id, 1 AS pick, vec_id, rel, $lam * rel AS mmr FROM (
         SELECT query_id, vec_id, rel,
           row_number() OVER (PARTITION BY query_id
             ORDER BY $lam * rel DESC, vec_id) AS rk
         FROM cand) WHERE rk = 1),
     $rounds
     SELECT query_id, pick, vec_id, round(rel, 6) AS rel,
       round(mmr, 6) AS mmr
     FROM sel$MmrK ORDER BY query_id, pick"""
  }

  /** DuckDB replay of [[retrievalNdcgBatch]]: the shared batch-leg CTE
    * chain (the layout's codebook interpolated),
    * per-query fused ranks, per-query grade standards (exact cosine to
    * each query's lexical top-1 embedding), nDCG per (query, leg), and
    * the query_id = −1 per-leg means. */
  private def ndcgBatchOracle(cents: Array[Array[Double]]): String =
    s"""WITH ${batchLegCtes(cents)},
     fused0 AS (
       SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         round(coalesce(1.0 / ($RrfK + lex.lex_rank), 0.0)
             + coalesce(1.0 / ($RrfK + vec.vec_rank), 0.0), 6) AS rrf
       FROM lex FULL OUTER JOIN vec
         ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id),
     fused AS (
       SELECT query_id, doc_id, fused_rank FROM (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rrf DESC, doc_id) AS fused_rank
         FROM fused0) WHERE fused_rank <= $FusedK),
     av AS (
       SELECT lex.query_id, e.v AS qv,
         sqrt(list_dot_product(e.v, e.v)) AS qn
       FROM emb e JOIN lex ON e.vec_id = lex.doc_id
       WHERE lex.lex_rank = 1),
     gsc AS (
       SELECT av.query_id, e.vec_id AS doc_id,
         round(list_dot_product(e.v, av.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * av.qn), 6) AS r6
       FROM emb e CROSS JOIN av),
     grades AS (
       SELECT query_id, doc_id, CAST(11 - grank AS DOUBLE) AS grade FROM (
         SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
           ORDER BY r6 DESC, doc_id) AS grank FROM gsc)
       WHERE grank <= $FusedK),
     legs AS (
       SELECT 'lex' AS leg, query_id, doc_id, lex_rank AS rnk FROM lex
         WHERE lex_rank <= $FusedK
       UNION ALL
       SELECT 'vec' AS leg, query_id, doc_id, vec_rank AS rnk FROM vec
         WHERE vec_rank <= $FusedK
       UNION ALL
       SELECT 'fused' AS leg, query_id, doc_id, fused_rank AS rnk FROM fused),
     per AS (
       SELECT l.query_id, l.leg,
         sum((pow(2.0, coalesce(g.grade, 0.0)) - 1.0)
           / (ln(l.rnk + 1.0) / ln(2.0))) / $Idcg AS ndcg_full
       FROM legs l LEFT JOIN grades g
         ON g.query_id = l.query_id AND g.doc_id = l.doc_id
       GROUP BY 1, 2)
     SELECT query_id, leg, round(ndcg_full, 6) AS ndcg FROM per
     UNION ALL
     SELECT CAST(-1 AS BIGINT) AS query_id, leg,
       round(avg(ndcg_full), 6) AS ndcg
     FROM per GROUP BY leg
     ORDER BY query_id, leg"""

  /** Oracles of dataset `d`; the IVF-leg entries interpolate the
    * codebook their layout serves from ([[Similarity.ivfCodebook]]). */
  def oracles(s: SparkSession, d: String): Map[String, String] = {
    val ivf = Similarity.ivfCodebook(s, d)
    Map(
      "hybrid_rrf" -> hybridOracle,
      "retrieval_mmr" -> mmrOracle,
      "retrieval_mmr_batch" -> mmrBatchOracle,
      "retrieval_ndcg" -> ndcgOracle,
      "retrieval_ndcg_batch" -> ndcgBatchOracle(ivf),
      "hybrid_rrf_ivf" -> hybridIvfOracle(ivf),
      "hybrid_rrf_batch" -> batchOracle(ivf),
      "hybrid_rrf_batch100" -> batchOracle(ivf, batchQueriesN(100)))
  }
}
