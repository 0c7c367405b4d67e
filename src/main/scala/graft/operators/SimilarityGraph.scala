package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** The navigable-graph ANN family, split from [[Similarity]] by family
  * (r12 verdict #7 — pure move, no behavior change): the fixed-family
  * gate build + beam search, the n-SCALED production build (plane
  * count tracks the corpus, skew-proof per-bucket cap, SQ8-quantized
  * probe stream + exact shortlist re-rank), batch/streaming append
  * maintenance, deterministic hierarchical HNSW, and every graph-side
  * DuckDB oracle builder. Mixed into `object Similarity`; all gate
  * keys and member names are unchanged. */
private[operators] trait SimilarityGraph { this: Similarity.type =>

  /** k-NN GRAPH build: every vector's top-3 cosine neighbors among its
    * sign-LSH bucket and the 8 one-bit-flip probes — the batch backbone
    * of semantic clustering / SemDeDup-style graph methods. Unlike
    * [[annLsh]] (tiny broadcast query set), BOTH sides here are the
    * corpus, so the probe side is NOT broadcast: the plan is a plain
    * shuffle equi-join on the bucket id — each bucket's candidates
    * co-locate, candidate volume is sum over buckets of
    * |bucket| x |probers|, never corpus^2, and the per-query top-3 is
    * the bounded `topk_ordered` aggregate (the exchange carries <= 3
    * rows per query — output-sized). Each (query, neighbor) pair matches at
    * most once (a vector lives in ONE bucket; the 9 probed ids are
    * distinct), so no dedup step is needed. Interpolated plane
    * literals make the bucketing engine-identical -> exact oracle. */
  def annKnnGraph(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .withColumn("bkt", bucket(col("v")))
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("n").as("qn"), explode(probes(col("bkt"))).as("bkt"))
    val scored = e.join(q, Seq("bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
    rankedTopK(scored, 3)
  }

  /** GRAPH-based ANN — the navigable-graph (HNSW-class) search shape,
    * the one modern ANN family the r9 verdict listed missing. This is
    * the deterministic single-layer variant (NSW-style): HNSW proper
    * seeds its layer assignment from an RNG, which no exact oracle
    * could replay, so the hierarchy is replaced by a FIXED entry set
    * and the search by a width-W beam over a degree-M neighbor graph —
    * the same greedy-descent mechanics, deterministic end to end.
    *
    *  - Graph build ([[buildGraphLayout]], UNTIMED load phase like the
    *    LSH/IVF layouts): the [[annKnnGraph]] construction at
    *    out-degree M = 8 over the denser 2-bit probe pool
    *    ([[probes2]]), made undirected — bucketed, output-sized
    *    exchanges, written once at ingest exactly as HNSW construction
    *    is. The gate keeps the FIXED 8-plane family (exact-oracle
    *    parity), under which per-bucket population grows with the
    *    corpus; a production build raises the plane count so buckets
    *    track n (the [[buildLshLayout]] write-time pattern, decade-
    *    proved there), which the hash family supports without changing
    *    the search. Probe policy: auditAtBase (see
    *    PipelineScaleProbe).
    *  - Search: entry set = vec_id < [[GraphEntryBound]] (64); L =
    *    [[GraphL]] (4) unrolled rounds of: candidates = beam ∪
    *    neighbors(beam), exact-cosine score, keep top-W = [[GraphW]]
    *    (16) per query by (round(cos,6) desc, id asc). The constants
    *    are shared vals interpolated into BOTH the Spark plan and the
    *    DuckDB oracle (the BloomJoinM discipline) so they cannot drift
    *    one-sided.
    *    Each round's candidate set is ≤ |Q|·W·(M+1) rows — broadcast
    *    against the graph and the vector table, so the per-round joins
    *    are point-lookup-shaped, never corpus-shaped; at 100 TB the
    *    graph is a bucketed table and beam expansion touches O(W·M)
    *    rows per query per round (the sub-linear search HNSW exists
    *    for), while [[annTopK]] stays the brute-force audit.
    *
    * Exact oracle: everything is deterministic (fixed entries, fixed
    * rounds, quantized tie-breaks), so DuckDB replays build + L rounds
    * as unrolled CTEs and must match bit-for-bit. Measured recall@5 vs
    * [[annTopK]]: 0.88 at sf0.01 (PipelineOpsSpec pins a floor). */
  /** Shared navigable-graph constants — interpolated into the Spark
    * plan AND the DuckDB oracle, which must stay in bit-for-bit
    * lockstep. */
  private val GraphM = 8          // out-degree of the neighbor graph

  private val GraphW = 16         // beam width per round

  private val GraphL = 4          // unrolled beam-expansion rounds

  private val GraphEntryBound = 64 // entry set: vec_id < bound

  /** The navigable-graph edge build behind [[annGraphSearch]]:
    * out-degree-M knn edges from the 2-bit-probe candidate pool, made
    * UNDIRECTED (the NSW navigability trick — reverse links let the
    * beam climb out of a poor entry neighborhood; 1-bit-built directed
    * edges capped recall at 0.66, this build measures 0.88 vs the
    * exact top-5). */
  private def graphEdges(s: SparkSession, d: String, m: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val eb = e.withColumn("bkt", bucket(col("v")))
    val qside = eb.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("n").as("qn"), explode(probes2(col("bkt"))).as("bkt"))
    val fwd = rankedTopK(
      eb.join(qside, Seq("bkt"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn"))),
      m)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Write-time graph layout (the HNSW-build analogue): graph
    * construction is INGEST work, not query work — same contract as
    * [[buildLshLayout]]/[[buildIvfLayout]] (bench/probe build it in the
    * untimed load phase; a cold call falls back to building inline). */
  def buildGraphLayout(s: SparkSession, d: String): java.io.File = {
    reg(s)
    val layout = graft.util.Layouts.dir("ann_graph", d)
    if (graft.util.Layouts.stale(layout, d, "embeddings")) {
      // writer-independent ~128 MB files (Layouts.fileCount): the walk
      // re-scans this layout every beam round — a task-count write left
      // 32 ~13 KB files whose per-round listing/open tax dominated
      val n = Tables.embeddings(s, d).count()
      graphEdges(s, d, GraphM)
        .coalesce(graft.util.Layouts.fileCount(2L * n * GraphM, 16))
        .write.mode("overwrite")
        // 16 MB row groups: split parallelism inside the few big files
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(layout.getPath)
    }
    layout
  }

  /** The width-[[GraphW]] / [[GraphL]]-round beam search over an
    * arbitrary (src, dst) neighbor graph — shared by the fixed-family
    * gate entry and the n-scaled production build. `e` is the
    * (vec_id, v, n) corpus frame; the beam/candidate frames stay
    * |Q|-bounded throughout, so every join here is point-lookup-shaped
    * regardless of corpus size. */
  private def beamSearch(e: DataFrame, edges: DataFrame): DataFrame =
    beamSearchAudited(e, edges)._1

  /** [[beamSearch]] plus its audit frame: the DISTINCT (query_id,
    * vec_id) pairs the search scored across all rounds — the
    * scored-candidate budget the hierarchical variant must beat at equal
    * beam width (PipelineOpsSpec). `rounds` widens the unrolled loop;
    * `extraEntry` unions per-query seed rows into the fixed entry set
    * (the scaled variant's quantizer seeding — see [[annGraphScaled]]). */
  private[graft] def beamSearchAudited(
      e: DataFrame, edges: DataFrame,
      rounds: Int = GraphL,
      extraEntry: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val W = GraphW; val L = rounds
    // the 10 query vectors as a driver-local relation: every round's
    // score() join consumes q — as a lazy frame each round re-scanned
    // the corpus AND ran a BroadcastExchange job to rebuild it
    // (graft.util.BoundedLocal scaladoc has the measured numbers)
    val q = graft.util.BoundedLocal(
      e.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("n").as("qn")))
    // the candidate list is |Q|·W·(M+1)-bounded — BROADCAST it so the
    // corpus vector fetch is a streamed scan (the standard bounded-probe
    // ANN lookup); without the hint the planner estimated the post-
    // distinct cand side corpus-sized and SHUFFLED e into a sort-merge
    // join EVERY round (measured: two 32-task corpus exchanges per
    // round at sf0.1)
    def score(cand: DataFrame): DataFrame = broadcast(cand)
      .join(e.select("vec_id", "v", "n"), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
      .select("query_id", "vec_id", "cos")
    def topW(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= W)
        .select("query_id", "vec_id", "cos")
    }
    val entry0 = q.select(col("query_id"))
      .crossJoin(e.filter(col("vec_id") < GraphEntryBound).select(col("vec_id")))
    val entry = extraEntry
      .map(x => entry0.unionByName(x).distinct())
      .getOrElse(entry0)
    var scoredSets = Seq(entry.select("query_id", "vec_id"))
    // the beam is referenced twice per round (cand = beam ∪ neighbors,
    // then re-rank), so it must materialize each round or the lineage
    // doubles (2^L recompute at the scaled L). It is a |Q|·W-row frame:
    // a driver-local relation makes each round ONE collect job whose
    // stages join the corpus/edge tables against the local beam — the
    // localCheckpoint form paid a checkpoint job plus per-consumer
    // BroadcastExchange jobs every round (see BoundedLocal)
    var beam = graft.util.BoundedLocal(topW(score(entry)))
    for (_ <- 1 to L) {
      val expand = beam.select(col("query_id"), col("vec_id").as("src"))
        .join(edges, Seq("src"))
        .select(col("query_id"), col("dst").as("vec_id"))
      val cand = beam.select("query_id", "vec_id")
        .unionByName(expand).distinct()
      scoredSets :+= cand
      beam = graft.util.BoundedLocal(topW(score(cand)))
    }
    val w5 = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)
    val res = beam.withColumn("rank", row_number().over(w5).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 5).as("cos"))
      .orderBy("query_id", "rank")
    (res, scoredSets.reduce(_ unionByName _).distinct())
  }

  def annGraphSearch(s: SparkSession, d: String): DataFrame =
    annGraphSearchAudited(s, d)._1

  private[graft] def annGraphSearchAudited(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    reg(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val layout = buildGraphLayout(s, d)
    beamSearchAudited(e, s.read.parquet(layout.getPath))
  }

  // ---- n-scaled production graph build (r10 verdict #2) ------------------

  /** Target bucket population for the scaled build's hash family. */
  private val GraphTargetBucket = 64

  /** Per-bucket candidate cap for the scaled build. The plane count
    * holds the MEAN bucket near [[GraphTargetBucket]], but real corpora
    * are clustered (near-duplicate embeddings share every sign bit —
    * measured: the synthetic corpus at 500k vectors put 6 205 candidates
    * per vector through a mean-64 family), so the bound must hold by
    * CONSTRUCTION, not by expectation: each bucket contributes at most
    * its [[GraphBuildCap]] lowest-vec_id members as candidates, making
    * candidates/vector ≤ cap·(P+1) under ANY skew. vec_id order (not a
    * hash) keeps the sample aligned with the id-ascending tie-break the
    * exact top-k uses, so cos-tied duplicate clusters resolve to the
    * same representatives. */
  private val GraphBuildCap = 32

  /** Plane count that tracks the corpus: P = max(3, ceil(log2(n/T)))
    * holds per-bucket population ≈ [[GraphTargetBucket]] at any n, so
    * candidate volume per vector is ≈ T·(P+1) — bounded by a LOG of the
    * corpus size, where the fixed 8-plane gate family grows linearly
    * ([[PipelineScaleProbe]] auditAtBase note: ~36B candidate pairs at
    * 500k vectors; this build measures ~450M there). The floor is 3,
    * not the fixed family's 8: an 8-plane floor at the 500-vector gate
    * SFs makes 256 buckets of ~2 members — a graph built from ~18
    * candidates per node, recall-capped at 0.56-0.60 no matter how the
    * walk is seeded. P = 3 restores the design's own mean-bucket ≈ T
    * at tiny n (8 buckets × ~62); production corpora (n ≥ 2^3·T = 512)
    * are governed by the log term either way. */
  private[graft] def scaledPlaneCount(n: Long): Int =
    math.max(3, math.ceil(
      math.log(math.max(n, 1).toDouble / GraphTargetBucket) / math.log(2.0)
    ).toInt)

  /** P-plane sign bucket (codegen'd — plane literals + vec_dot). */
  private def bucketN(v: Column, pl: Array[Array[Double]]): Column =
    pl.indices.map { p =>
      when(dot(v, typedLit(pl(p).toSeq)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Query bucket + its P 1-bit flips (the scaled family's probe set:
    * 2-bit flips would square the probe count as P grows — the scaled
    * build keeps P+1 probes and buys recall back with bucket granularity
    * that TRACKS n instead). */
  private def probes1N(b: Column, p: Int): Column =
    array(b +: (0 until p).map(i => b.bitwiseXOR(lit(1 << i))): _*)

  /** 1-bit + 2-bit flip masks of a P-plane bucket (the [[flips2]]
    * family generalized to any P). */
  private def masks2N(p: Int): Seq[Int] =
    (0 until p).map(1 << _) ++
      (for (i <- 0 until p; j <- i + 1 until p) yield (1 << i) | (1 << j))

  /** Bucket + 1-bit + 2-bit flip probe set for a P-plane family —
    * used by [[annGraphAppend]]'s candidate generation (per-BATCH-
    * VECTOR work, O(P²) probes affordable; appended edges persist, so
    * candidate quality is graph quality). NOT used for search SEEDING:
    * measured at 500k vectors, 2-bit seeds REGRESSED recall@5 0.72 →
    * 0.58 — the broad low-precision entry pool dilutes the W=16 beam
    * with high-cos-but-poorly-connected entries — while at the gate
    * SFs the P = 3 floor alone already lifts recall to 0.84 / 0.92.
    * The shipped seeding stays 1-bit ([[probes1N]]). */
  private def probes2N(b: Column, p: Int): Column =
    array(b +: masks2N(p).map(m => b.bitwiseXOR(lit(m))): _*)

  /** The skew-proof per-bucket candidate cap as a BOUNDED min-k
    * partial+final aggregate over (bkt, vec_id) IDS ONLY — emits the
    * ≤[[GraphBuildCap]] lowest-vec_id members of every bucket as
    * (bkt, vec_id) rows. The r11 form — `row_number() OVER (PARTITION
    * BY bkt ORDER BY vec_id)` — was a window: ALL members of a bucket
    * (full 64-double vectors and norms included) land in one task and
    * get SORTED before the `<= cap` filter drops them (measured 2.7 GB
    * of disk spill at 500k vectors; a degenerate near-dup corpus makes
    * the biggest bucket O(n) rows in a single-task sort that no
    * plane-count growth fixes, since identical vectors share every
    * sign bit at any P). Here each partition keeps at most cap ids per
    * bucket (`topk_ordered`), the one exchange carries cap-bounded
    * ids-only partial states, and callers re-join vectors only for the
    * capped representatives. The selected set is identical by
    * construction (same lowest-ids-per-bucket rule; the double sort
    * key is exact for ids < 2^53). */
  private def cappedBucketIds(eb: DataFrame): DataFrame = {
    eb.select(col("bkt"), col("vec_id"),
        col("vec_id").cast("double").as("_tk_key"))
      .groupBy("bkt")
      .agg(call_function("topk_ordered", lit(GraphBuildCap),
        col("_tk_key"), col("vec_id"), lit(0.0)).as("top"))
      .select(col("bkt"), explode(col("top")).as("p"))
      .select(col("bkt"), col("p._1").as("vec_id"))
  }

  /** The scaled family's plane count for dataset `d`: a pure function
    * of the corpus count, so a query and its oracle each derive it. */
  private[graft] def scaledPFor(s: SparkSession, d: String): Int =
    scaledPlaneCount(Tables.embeddings(s, d).count())

  /** The production navigable-graph BUILD: out-degree-[[GraphM]] knn
    * edges from an n-SCALED sign-LSH candidate pool. Plan shape: one
    * bucket-keyed shuffle of (P+1) ids+vector probe rows per vector
    * (≈ n·(P+1) rows — linear in n with a log-n factor), candidates
    * scored inside the joined stage by the native kernel, and the
    * per-vector top-M taken by the BOUNDED `topk_ordered` partial+final
    * aggregate — the scored pair stream is never shuffled. Undirected
    * closure is one ids-only exchange of n·M edges. This is the build
    * the fixed-family gate variant's auditAtBase note promises: candidate
    * volume per vector ≈ T·(P+1) stays ~constant-per-vector across
    * decades (measured rows in SURVEY §8), where the fixed family's
    * grows linearly. */
  /** The forward (directed) half of the scaled build as a PURE plan —
    * split out so the window-free plan assertion can inspect the whole
    * candidate-scoring subtree (the eager materialization in
    * [[graphEdgesScaled]] would otherwise execute and hide it).
    *
    * SHUFFLE-BYTE DISCIPLINE (r12 verdict #2): both exchanged sides —
    * the n·(P+1)-row probe stream (the build's dominant exchange) and
    * the capped candidate side — carry vectors as LOSSLESS 4-byte
    * float32 packs (`f32_pack`) instead of 512-byte float64 arrays,
    * scored by the fused `f32_dot` decode-dot kernel. The embeddings
    * tables store `float` parquet, so double(float32(x)) == x for every
    * component: the packed dot is BIT-IDENTICAL to the float64 dot
    * (PipelineOpsSpec pins edge-set EQUALITY against an independent
    * float replay) while the probe row shrinks ~480 → ~300 B.
    *
    * The verdict-suggested alternative — SQ8 probe codes + a 2M-wide
    * approx shortlist + exact re-rank — was implemented and MEASURED
    * at the 5M probe: the re-rank's pair-granular float64 exchange
    * (n·2M rows × 512 B vectors) replaced every byte the quantized
    * probes saved (43.6 → 42.1 GB total). Exact pair scoring is
    * transport-bound at pair granularity, so the win comes from
    * shrinking the per-pair payload losslessly, not from re-ranking a
    * quantized shortlist. (A true multi-x cut means quantized EDGE
    * SEMANTICS — the FAISS position — which would change the gate's
    * exact-oracle rows; documented as the 100 TB option, not taken.) */
  private[graft] def graphFwdEdgesScaled(s: SparkSession, d: String,
                                         p: Int): DataFrame = {
    reg(s)
    val pl = planesN(p)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val eb = e.withColumn("bkt", bucketN(col("v"), pl))
    // candidate side: at most GraphBuildCap lowest-id members per bucket
    // (the skew-proof bound — see the cappedBucketIds scaladoc), packed
    // vectors re-joined for the capped representatives only (one
    // vec_id-keyed exchange — uniform unique key, no skew)
    // INVERTED probe explosion (r14): 1-bit flips are symmetric —
    // candidate c (bucket bc) is probed by query q (bucket bq) iff
    // bc ∈ {bq}∪{bq^bit} iff bq ∈ {bc}∪{bc^bit} — so exploding the
    // CAPPED side's flips instead of the query side's yields the
    // IDENTICAL candidate-pair set (each pair still matches exactly
    // once: the XOR mask is determined by bq^bc) while (a) each
    // query's packed vector crosses the wire ONCE instead of (P+1)
    // times, and (b) every candidate for a query lands in the query's
    // OWN bucket partition, so the bounded topk_ordered partial
    // aggregate emits ONE state per query instead of one per probed
    // partition — measured at 500k vectors: the r13 query-side-exploded
    // form shuffled 2.44 GB (probe stream 7M×~270 B + ~(P+1) partial
    // states per query); this form cuts both terms.
    val capped = e
      .select(col("vec_id"),
        call_function("f32_pack", col("v")).as("cw"), col("n"))
      .join(
        cappedBucketIds(eb).select(col("vec_id").as("capped_id"), col("bkt")),
        col("vec_id") === col("capped_id"))
      .drop("capped_id")
    val candSide = capped.select(col("vec_id"), col("cw"), col("n"),
      explode(probes1N(col("bkt"), p)).as("bkt"))
    val qside = eb.select(col("vec_id").as("query_id"),
      call_function("f32_pack", col("v")).as("qw"),
      col("n").as("qn"), col("bkt"))
    // SHUFFLE_HASH on the query side: the planner's default here is a
    // sort-merge join, which SORTS the capped·(P+1)-row candidate
    // stream (hundreds of MB of sorter spill per decade for rows the
    // join could stream); hashing the per-partition slice of the query
    // side (~n/partitions rows) costs MBs and the candidate stream is
    // never sorted. The scored output feeds the bounded topk_ordered
    // partial aggregate map-side (see [[rankedTopK]]'s fallback note).
    rankedTopK(
      qside.hint("shuffle_hash").join(candSide, Seq("bkt"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          call_function("f32_dot", col("cw"), col("qw"))
            / (col("n") * col("qn"))),
      GraphM)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
  }

  /** Undirected closure of [[graphFwdEdgesScaled]]. The forward edges
    * feed the union TWICE (fwd ∪ reverse); without the eager
    * materialization the whole candidate-scoring subtree executes
    * twice — measured as a full 2x on every build metric (r12 probe). */
  private[graft] def graphEdgesScaled(s: SparkSession, d: String,
                                      p: Int): DataFrame = {
    val fwd = graphFwdEdgesScaled(s, d, p).localCheckpoint(true)
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** `ann_graph_scaled` gate entry: the n-scaled BUILD (unconditional —
    * the build IS what this entry times and proves; no layout cache, so
    * every timed row measures construction, not a warm read) followed
    * by the [[beamSearchAudited]] walk seeded from the query's own
    * quantizer buckets (see the body comment). Exact oracle: the plane
    * family is deterministic given the corpus count, re-derived by
    * the oracle ([[scaledPFor]]) and interpolated; at the
    * 500-vector gate SFs [[scaledPlaneCount]] gives P = 3 (8 buckets ≈
    * the design's mean-[[GraphTargetBucket]] target), and the oracle
    * replays that exact family, probe sets, cap, and seeding. */
  def annGraphScaled(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val p = scaledPFor(s, d)
    val pl = planesN(p)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    // quantizer-seeded entry (the coarse-quantizer-seeds-the-graph-walk
    // hybrid, the DiskANN/SPANN shape): each query's beam starts at the
    // capped members of its own bucket and its P 1-bit-flip probes, in
    // addition to the fixed global set, so the walk begins inside the
    // right neighborhood instead of having to traverse there — a
    // fixed-entry beam cannot cross a log-n-diameter graph (measured
    // recall@5 at 500k vectors: 0.34 unseeded at L = 4, 0.36 unseeded
    // even at L = P = 13 rounds, 0.52 own-bucket-seeded, 0.72 with
    // 1-bit probe seeding; the gate's exact-oracle twin of this number
    // is the row itself). The seed probes stay 1-BIT: the denser 2-bit
    // set was tried in r12 and REGRESSED 500k recall to 0.58 (see
    // [[probes2N]]'s scaladoc) — precision of the entry pool matters
    // more than its breadth once the graph is navigable. Entry work
    // per query is ≤ GraphEntryBound + GraphBuildCap·(P+1) rows —
    // corpus-size-independent.
    val eb = e.withColumn("bkt", bucketN(col("v"), pl))
    val seed = eb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        explode(probes1N(col("bkt"), p)).as("bkt"))
      .join(cappedBucketIds(eb), Seq("bkt"))
      .select("query_id", "vec_id")
    // materialize the edge table ONCE: every checkpointed beam round
    // references `edges`, and an un-materialized build would re-execute
    // per round (measured 65 s vs 26 s at 500k vectors)
    val edges = graphEdgesScaled(s, d, p).localCheckpoint(true)
    beamSearchAudited(e, edges, extraEntry = Some(seed))._1
  }

  /** `ann_graph_scaled_stats` gate entry: the bounded-candidates
    * EVIDENCE row — (n_vec, n_planes, cap, n_cand_pairs, cand_per_vec)
    * for the scaled build's capped candidate generator, computed in
    * CLOSED FORM from the bucket histogram (pairs into bucket b =
    * min(pop_b, cap) candidates × probes targeting b, minus each capped
    * member's own-bucket self match) — two bucket-shaped aggregates and
    * a bucket-keyed join, NO pair materialization, so the decade rows
    * cost ~a corpus scan at any n while proving candidates/vector stays
    * ≤ cap·(P+1) under the measured skew. */
  def annGraphScaledStats(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val p = scaledPFor(s, d)
    val pl = planesN(p)
    val b = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), bucketN(col("v"), pl).as("bkt"))
    val pop = b.groupBy("bkt").agg(count(lit(1)).as("pop"))
    val phits = b.select(explode(probes1N(col("bkt"), p)).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("ph"))
    val capped = least(col("pop"), lit(GraphBuildCap.toLong))
    pop.join(phits, Seq("bkt"))
      .agg(sum(capped * col("ph") - capped).as("n_cand_pairs"))
      .crossJoin(b.agg(count(lit(1)).as("n_vec")))
      .select(col("n_vec"), lit(p).as("n_planes"),
        lit(GraphBuildCap).as("cap"), col("n_cand_pairs"),
        round(col("n_cand_pairs").cast("double") / col("n_vec"), 2)
          .as("cand_per_vec"))
  }

  // ---- SQ8-scored scaled graph build (r13 verdict #1) ---------------------

  /** The QUANTIZED-EDGE-SEMANTICS production build (the FAISS position:
    * index construction scores candidates on compressed codes, not raw
    * vectors). r13 measured the exact-edge build transport-bound at the
    * zstd float32 floor (~256 B/vector compressed; three designs tried,
    * SURVEY §8p-bench) — the only lever left is changing what an edge
    * IS: here the top-[[GraphM]] ranking that defines the adjacency is
    * computed on the SQ8 symmetric estimator (dequantized-reconstruction
    * dot over exact norms — the [[annSq8]] estimator), so BOTH sides of
    * the corpus×corpus bucket exchange carry 64-BYTE codes instead of
    * 256-byte float32 packs. The codes are near-incompressible (high-
    * entropy bytes), so the compressed wire cut is ~the raw ratio, ~4×.
    * The global (lo, hi) bounds are a one-row frame attached AFTER the
    * shuffle join by broadcast, so they add zero exchange bytes; scoring
    * is the fused [[graft.functions.VectorKernels.sq8DotCc]] codegen
    * kernel (decode both sides inline, no per-row allocation).
    *
    * Exact oracle per the `ann_sq8` convention: the quantization is
    * REPLAYED, not approximated — DuckDB re-derives the identical
    * bounds (min/max of the same doubles), encodes/decodes with the
    * identical affine arithmetic, and ranks edges by the identical
    * 6-dp-rounded estimator, so the edge set (and hence the walk)
    * matches bit-for-bit. */
  private[graft] def graphFwdEdgesScaledSq8(s: SparkSession, d: String,
                                            p: Int): DataFrame = {
    reg(s)
    val pl = planesN(p)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    // the one-row bounds frame is referenced by three lineages (both
    // encode sides + the post-join score); unmaterialized, each would
    // re-run the corpus-wide posexplode min/max aggregate — one row, so
    // driver-local (BoundedLocal: no per-consumer broadcast-build jobs)
    val bounds = graft.util.BoundedLocal(sq8Bounds(e))
    val eb = e.crossJoin(broadcast(bounds))
      .withColumn("bkt", bucketN(col("v"), pl))
      .select(col("vec_id"),
        call_function("sq8_encode", col("v"), col("lo"), col("hi"))
          .as("code"),
        col("n"), col("bkt"))
    // candidate side: the same skew-proof lowest-id-per-bucket cap as
    // the exact build, codes re-joined for capped representatives only;
    // probe explosion INVERTED onto the capped side (flip symmetry —
    // see [[graphFwdEdgesScaled]]), so each query's code crosses the
    // wire once and its topk_ordered partial state is emitted once
    val capped = eb.select(col("vec_id"), col("code"), col("n"))
      .join(
        cappedBucketIds(eb).select(col("vec_id").as("capped_id"), col("bkt")),
        col("vec_id") === col("capped_id"))
      .drop("capped_id")
    val candSide = capped.select(col("vec_id"), col("code"), col("n"),
      explode(probes1N(col("bkt"), p)).as("bkt"))
    val qside = eb.select(col("vec_id").as("query_id"),
      col("code").as("qcode"), col("n").as("qn"), col("bkt"))
    // shuffle_hash for the same reason as the exact build (the candidate
    // stream must never be sorted); bounds attached post-join via a
    // 1-row broadcast — zero bytes on the wire
    rankedTopK(
      qside.hint("shuffle_hash").join(candSide, Seq("bkt"))
        .filter(col("vec_id") =!= col("query_id"))
        .crossJoin(broadcast(bounds))
        .withColumn("cos",
          call_function("sq8_dot_cc", col("code"), col("qcode"),
            col("lo"), col("hi")) / (col("n") * col("qn"))),
      GraphM)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
  }

  /** Undirected closure of [[graphFwdEdgesScaledSq8]] (the
    * [[graphEdgesScaled]] materialize-once discipline). */
  private[graft] def graphEdgesScaledSq8(s: SparkSession, d: String,
                                         p: Int): DataFrame = {
    val fwd = graphFwdEdgesScaledSq8(s, d, p).localCheckpoint(true)
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** `ann_graph_scaled_sq8` gate entry: the [[annGraphScaled]] walk —
    * same plane family, quantizer seeding, and exact-cosine beam — over
    * the SQ8-SCORED edge set. The exact entry stays untouched as the
    * full-precision twin; this is the shape a 100 TB deployment runs
    * (the build's exchange is the cost that scales with the corpus, and
    * quantized edge semantics is the only cut left below the float32
    * transport floor). Search-time scoring stays EXACT: the beam
    * frames are |Q|-bounded, so full-precision there costs nothing at
    * scale and keeps result cosines true. Recall vs the exact build is
    * pinned in PipelineOpsSpec. */
  def annGraphScaledSq8(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val p = scaledPFor(s, d)
    val pl = planesN(p)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val eb = e.withColumn("bkt", bucketN(col("v"), pl))
    val seed = eb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        explode(probes1N(col("bkt"), p)).as("bkt"))
      .join(cappedBucketIds(eb), Seq("bkt"))
      .select("query_id", "vec_id")
    val edges = graphEdgesScaledSq8(s, d, p).localCheckpoint(true)
    beamSearchAudited(e, edges, extraEntry = Some(seed))._1
  }

  /** Oracle for [[annGraphScaledSq8]]: the [[graphScaledOracle]] CTE
    * chain with the edge-ranking score replaced by the REPLAYED SQ8
    * estimator — bounds re-derived (exact min/max of the same doubles),
    * the identical quantize/dequantize affine arithmetic
    * ([[sq8Oracle]]'s), edges ranked by the dequantized dot over exact
    * norms. The beam tail scores exact cosine, as the Spark walk does. */
  private[operators] def graphScaledSq8Oracle(p: Int): String = {
    val probes1 =
      "[bkt, " + (0 until p).map(i => s"xor(bkt,${1 << i})").mkString(", ") + "]"
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         bounds AS (
           SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi
           FROM (SELECT pos, min(x) AS lo, max(x) AS hi FROM (
                   SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x
                   FROM emb) GROUP BY pos)),
         enc0 AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
             ${sqlBucketN(p)} AS bkt, lo, hi,
             list_transform(generate_series(1, len(v)), i ->
               CASE WHEN hi[i] > lo[i] THEN
                 greatest(0, least(255, CAST(floor((v[i] - lo[i])
                   / (hi[i] - lo[i]) * 255.0 + 0.5) AS INTEGER)))
               ELSE 0 END) AS q
           FROM emb CROSS JOIN bounds),
         b AS MATERIALIZED (
           SELECT vec_id, v, n, bkt,
             list_transform(generate_series(1, len(q)), i ->
               lo[i] + CAST(q[i] AS DOUBLE) * (hi[i] - lo[i]) / 255.0) AS dq
           FROM enc0),
         bc AS (SELECT vec_id, v, n, bkt, dq FROM (
                  SELECT b.*, row_number() OVER (PARTITION BY bkt
                    ORDER BY vec_id ASC) AS brk FROM b)
                WHERE brk <= $GraphBuildCap),
         gq AS (SELECT vec_id AS query_id, dq AS qdq, n AS qn,
                  unnest($probes1) AS bkt FROM b),
         gscored AS (
           SELECT gq.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.dq, gq.qdq) / (e.n * gq.qn) AS cos
           FROM bc e JOIN gq ON e.bkt = gq.bkt
             AND e.vec_id <> gq.query_id),
         granked AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
           FROM gscored),
         gedges AS (
           SELECT DISTINCT src, dst FROM (
             SELECT query_id AS src, neighbor_id AS dst
             FROM granked WHERE rank <= $GraphM
             UNION ALL
             SELECT neighbor_id AS src, query_id AS dst
             FROM granked WHERE rank <= $GraphM)),
         ${beamSearchSqlTail(GraphL, Some(
           s"""SELECT qb.query_id, bc.vec_id
               FROM (SELECT vec_id AS query_id, unnest($probes1) AS bkt
                     FROM b
                     WHERE vec_id IN (${queryIds.mkString(", ")})) qb
               JOIN bc USING (bkt)"""))}"""
  }

  // ---- incremental graph maintenance (r11 verdict #7) ---------------------

  /** `ann_graph_append` gate entry: BATCH-shaped incremental maintenance
    * for the scaled navigable graph — the streaming-corpus story the
    * TRTREE append/compact path already has, applied to the ANN layout.
    * A deterministic 10% batch (vec_id % 10 = 7) "arrives" against the
    * index built over the other 90%: each new vector probes its own
    * bucket plus the [[probes2N]] 1-/2-bit flips in the BASE corpus's
    * capped buckets (the index's plane family is FIXED at build time —
    * an append must not re-derive planes from the grown count, or every
    * batch would rewrite the whole layout) and takes its top-[[GraphM]]
    * nearest capped candidates as its adjacency. Every shuffle is
    * BATCH-shaped: |batch|·(1+P+P(P-1)/2) probe rows in, |batch|·M edge
    * rows out; the base side contributes only its ≤cap·2^P capped
    * representatives and is never re-scored corpus × corpus. In production the new edges plus
    * their reverses union into the edge table as a file append (the
    * `dedup_incremental` shape); the gate row emits the computed
    * adjacency (query_id = new vector, rank, neighbor_id, cos). Exact
    * oracle: split rule, plane family (the base split's count), capped-member
    * rule, and both rankings replayed in SQL. */
  def annGraphAppend(s: SparkSession, d: String): DataFrame = {
    val (capped, p) = appendFrozenIndex(s, d)
    val batch = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .filter(pmod(col("vec_id"), lit(10)) === 7)
    appendEdgesAgainst(capped, batch, p)
  }

  /** The FROZEN index side of the append — the base (90%) split's
    * capped bucket representatives under its recorded plane family.
    * Split out so [[graft.streaming.StreamGate.streamGraphAppendSink]]
    * can materialize it ONCE as load phase and probe it per
    * micro-batch: an index's plane family and capped members are fixed
    * at build time; arriving data must never re-derive them. */
  private[graft] def appendFrozenIndex(s: SparkSession,
                                       d: String): (DataFrame, Int) = {
    reg(s)
    val base = appendBase(s, d)
    val p = scaledPlaneCount(base.count())
    val eb = base.withColumn("bkt", bucketN(col("v"), planesN(p)))
    val capped = base.join(
      cappedBucketIds(eb).select(col("vec_id").as("capped_id"), col("bkt")),
      col("vec_id") === col("capped_id"))
      .drop("capped_id")
    (capped, p)
  }

  /** Batch-shaped adjacency for `batch` (vec_id, v, n) against the
    * frozen capped representatives: each arriving vector probes its own
    * bucket plus the [[probes2N]] 1-/2-bit flips and takes its
    * top-[[GraphM]] nearest capped candidates. Per-vector work is
    * independent of every other arriving vector, so ANY partition of
    * the batch — including a micro-batched stream — emits identical
    * rows.
    *
    * 2-bit probe set: the append is per-BATCH-VECTOR work (the
    * probes2N budget argument), and appended edges PERSIST — candidate
    * quality here is graph quality forever after, so the denser set is
    * the right spend. Measured at the gate SFs: the rank-1 edge lands
    * in the exact top-10 for 100% of batch vectors (top-5: 0.96-0.98);
    * exact-top-1 EQUALITY is 0.54-0.66 — bounded by the cap itself
    * (the true NN is often not among its bucket's 32 lowest-id
    * representatives), which is the same bound the build and the
    * seeded search operate under. */
  private[graft] def appendEdgesAgainst(capped: DataFrame, batch: DataFrame,
                                        p: Int): DataFrame = {
    val qside = batch.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("n").as("qn"),
      explode(probes2N(bucketN(col("v"), planesN(p)), p)).as("bkt"))
    // base and batch are disjoint splits, so no self-match filter needed;
    // shuffle_hash keeps the probe stream unsorted (graphFwdEdgesScaled)
    val scored = capped.hint("shuffle_hash").join(qside, Seq("bkt"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
    rankedTopK(scored, GraphM)
  }

  /** The [[annGraphAppend]] oracle of dataset `d` (plane family from
    * the base split's count, as [[appendFrozenIndex]] derives it) —
    * shared verbatim by the streaming twin, whose micro-batched union
    * provably equals the batch append's rows. */
  private[graft] def graphAppendOracleFor(s: SparkSession, d: String): String =
    graphAppendOracle(scaledPlaneCount(appendBase(s, d).count()))

  /** The base (90%) split the append index is frozen over: (vec_id, v, n)
    * of every vector outside the arriving batch (vec_id % 10 = 7). */
  private def appendBase(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .filter(pmod(col("vec_id"), lit(10)) =!= 7)

  // ---- deterministic hierarchical HNSW (r10 verdict #3) ------------------

  /** Layer cap, upper-layer beam width, and rounds-per-upper-layer. */
  private val HnswLCap = 4

  private val HnswWUp = 4

  private val HnswRUp = 2

  /** Deterministic HNSW layer assignment: `level = min(trailing_zeros(
    * md5_lower64(vec_id)), cap)` — the geometric(1/2) level distribution
    * HNSW draws from an RNG, made REPLAYABLE (an RNG level could never
    * be oracled; this one is a pure function of vec_id both engines
    * compute identically). trailing_zeros(h) = bit_count((h & -h) - 1),
    * with h = 0 mapping to 64 and the cap clamping it. */
  private def levelExpr: Column =
    least(expr("bit_count((lvh & -lvh) - 1)"), lit(HnswLCap)).cast("int")

  private def withLevel(e: DataFrame): DataFrame = e
    .withColumn("lvx", md5(col("vec_id").cast("string")))
    .withColumn("lvh", graft.util.Md5Lower64.of("lvx"))
    .withColumn("lev", levelExpr)
    .drop("lvx", "lvh")

  /** Per-layer navigable edges: layer l contains the vectors with
    * level >= l; its edge set is the [[graphEdges]] construction (2-bit
    * probe pool, top-[[GraphM]], undirected) restricted to members.
    * Build cost sums to < 2x the layer-0 build (layer sizes halve). */
  private def hnswEdges(s: SparkSession, d: String): DataFrame = {
    val e = withLevel(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v")))))
    (0 to HnswLCap).map { l =>
      val eb = e.filter(col("lev") >= l)
        .withColumn("bkt", bucket(col("v")))
      val qside = eb.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"), explode(probes2(col("bkt"))).as("bkt"))
      val fwd = rankedTopK(
        eb.join(qside, Seq("bkt"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            dot(col("v"), col("qv")) / (col("n") * col("qn"))),
        GraphM)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .select(lit(l).as("lay"), col("src"), col("dst"))
    }.reduce(_ unionByName _)
  }

  /** Write-time HNSW layout (ingest work, like [[buildGraphLayout]]). */
  def buildHnswLayout(s: SparkSession, d: String): java.io.File = {
    reg(s)
    val layout = graft.util.Layouts.dir("ann_hnsw", d)
    if (graft.util.Layouts.stale(layout, d, "embeddings")) {
      // layer sizes halve, so all layers sum to < 2x layer-0 edges;
      // same writer-independent file sizing as buildGraphLayout
      val n = Tables.embeddings(s, d).count()
      hnswEdges(s, d)
        .coalesce(graft.util.Layouts.fileCount(4L * n * GraphM, 16))
        .write.mode("overwrite")
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(layout.getPath)
    }
    layout
  }

  /** `ann_hnsw` gate entry — hierarchical navigable-graph search with
    * DETERMINISTIC layers (the multi-layer variant the single-layer NSW
    * entry [[annGraphSearch]] stands in for): entry is the single
    * (level desc, vec_id asc) apex node instead of the fixed
    * [[GraphEntryBound]]-node set; each upper layer l = LCap..1 runs
    * [[HnswRUp]] beam rounds at width [[HnswWUp]] over that layer's
    * edges (the logarithmic descent — ref counterpart: the R-tree's
    * level descent, src/index/rtree_module.cpp:49); layer 0 then runs
    * the same [[GraphW]]/[[GraphL]] beam the NSW entry runs, seeded by
    * the descent instead of 64 fixed entries. Equal layer-0 beam width,
    * FEWER distinct scored candidates (PipelineOpsSpec pins both that
    * and a recall floor). Exact oracle: every piece — levels, per-layer
    * edges, descent, tie-breaks — is deterministic and unrolled into
    * CTEs. */
  def annHnsw(s: SparkSession, d: String): DataFrame =
    annHnswAudited(s, d)._1

  private[graft] def annHnswAudited(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    reg(s)
    val e = withLevel(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v")))))
    val edges = s.read.parquet(buildHnswLayout(s, d).getPath)
    // driver-local 10-row query frame (see beamSearchAudited's note)
    val q = graft.util.BoundedLocal(
      e.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("n").as("qn")))
    // descent scoring does NOT exclude the query itself: the apex (or a
    // beam node) may BE the query, and its neighborhood is exactly where
    // the search should go — self is dropped only from the final ranking
    // (where the NSW entry never hits this: its entry set has 64 nodes)
    // bounded cand side broadcast — see beamSearchAudited's score note
    def score(cand: DataFrame): DataFrame = broadcast(cand)
      .join(e.select("vec_id", "v", "n"), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("n") * col("qn")))
      .select("query_id", "vec_id", "cos")
    def topW(scored: DataFrame, w0: Int): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= w0)
        .select("query_id", "vec_id", "cos")
    }
    def expandWith(beam: DataFrame, lay: Int): DataFrame = {
      val ed = edges.filter(col("lay") === lay).select("src", "dst")
      beam.select("query_id", "vec_id")
        .unionByName(beam.select(col("query_id"), col("vec_id").as("src"))
          .join(ed, Seq("src"))
          .select(col("query_id"), col("dst").as("vec_id")))
        .distinct()
    }
    // apex entry: the single (level desc, vec_id asc) node — the HNSW
    // top-of-hierarchy start, deterministic and never empty
    val apex = e.orderBy(col("lev").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id"))
    val entry = q.select(col("query_id")).crossJoin(apex)
    var scoredSets = Seq(entry)
    // each round references the beam TWICE (cand = beam ∪ neighbors,
    // then re-rank), so an unmaterialized 12-round descent doubles its
    // lineage per round (~2^12 recompute). The beam is |Q|·W rows —
    // materialize it EVERY round; values are unchanged (the oracle
    // needs the VALUES deterministic, not the physical plan). As a
    // driver-local relation each round is ONE collect job; the
    // localCheckpoint form additionally paid a BroadcastExchange job
    // per consuming join every round (see BoundedLocal).
    var beam = graft.util.BoundedLocal(topW(score(entry), HnswWUp))
    for (l <- HnswLCap to 1 by -1; _ <- 1 to HnswRUp) {
      val cand = expandWith(beam, l)
      scoredSets :+= cand
      beam = graft.util.BoundedLocal(topW(score(cand), HnswWUp))
    }
    for (_ <- 1 to GraphL) {
      val cand = expandWith(beam, 0)
      scoredSets :+= cand
      beam = graft.util.BoundedLocal(topW(score(cand), GraphW))
    }
    val w5 = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)
    val res = beam.filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w5).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 5).as("cos"))
      .orderBy("query_id", "rank")
    (res, scoredSets.reduce(_ unionByName _).distinct())
  }

  /** The k-NN-graph CTE block ([[annKnnGraph]]'s oracle body), shared
    * with the PageRank oracle so both replay the identical edge set. */
  private[operators] def knnGraphCtes: String =
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
                 $sqlBucket AS bkt FROM emb),
         q AS (SELECT vec_id AS query_id, v AS qv, n AS qn,
                 unnest($sqlProbes) AS bkt
               FROM b),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.v, q.qv) / (e.n * q.qn) AS cos
           FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
           FROM scored)"""

  /** Edge-build CTEs shared by the graph-ANN oracles: requires prior
    * CTEs `gq` (query_id, qv, qn, bkt — the probe-exploded side, whose
    * probe set is what differs between the fixed-family and scaled
    * variants) and a candidate-side CTE (`b` for the uncapped gate
    * family, `bc` for the scaled build's per-bucket cap) with
    * (vec_id, v, n, bkt). Emits `gedges` (src, dst): top-[[GraphM]] by
    * (round(cos,6) desc, id asc), made undirected. */
  private[operators] def graphEdgeCtes(candSide: String = "b"): String =
    s"""gscored AS (
           SELECT gq.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.v, gq.qv) / (e.n * gq.qn) AS cos
           FROM $candSide e JOIN gq ON e.bkt = gq.bkt
             AND e.vec_id <> gq.query_id),
         granked AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
           FROM gscored),
         gedges AS (
           SELECT DISTINCT src, dst FROM (
             SELECT query_id AS src, neighbor_id AS dst
             FROM granked WHERE rank <= $GraphM
             UNION ALL
             SELECT neighbor_id AS src, query_id AS dst
             FROM granked WHERE rank <= $GraphM))"""

  /** Unrolled beam-search CTE tail shared by the graph-ANN oracles:
    * requires prior CTEs `emb` (vec_id, v), `b` (vec_id, v, n, ...) and
    * `gedges` (src, dst). `nRounds` rounds (the gate's [[GraphL]], or
    * the scaled variant's recorded log-n count) of candidates =
    * beam ∪ neighbors(beam), exact-cosine score, top-[[GraphW]] by
    * (round(cos,6) desc, id asc) — the same deterministic mechanics the
    * Spark [[beamSearch]] loop runs. b$i is referenced twice by the
    * next candidate union, so it is MATERIALIZED (DuckDB's default CTE
    * inlining doubles the plan per round — the emb_kcenter lesson). */
  private[operators] def beamSearchSqlTail(nRounds: Int = GraphL,
                                extraEntrySql: Option[String] = None): String = {
    def roundCtes(i: Int): String = {
      val src = if (i == 0) "entry" else s"c$i"
      s"""s$i AS (
           SELECT c.query_id, c.vec_id,
             list_dot_product(e.v, qq.qv) / (e.n * qq.qn) AS cos
           FROM $src c JOIN b e USING (vec_id) JOIN qq USING (query_id)
           WHERE c.vec_id <> c.query_id),
         b$i AS MATERIALIZED (
           SELECT query_id, vec_id, cos FROM (
             SELECT s$i.*, row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, vec_id ASC) AS rk FROM s$i)
           WHERE rk <= $GraphW)"""
    }
    def candCte(i: Int): String =
      s"""c$i AS (
           SELECT DISTINCT query_id, vec_id FROM (
             SELECT query_id, vec_id FROM b${i - 1}
             UNION ALL
             SELECT p.query_id, g.dst AS vec_id
             FROM b${i - 1} p JOIN gedges g ON g.src = p.vec_id))"""
    val rounds = (roundCtes(0) +: (1 to nRounds).flatMap(i =>
      Seq(candCte(i), roundCtes(i)))).mkString(",\n         ")
    val entryCte = extraEntrySql match {
      case None =>
        s"""entry AS (SELECT qq.query_id, e.vec_id
                   FROM qq CROSS JOIN emb e WHERE e.vec_id < $GraphEntryBound)"""
      case Some(x) =>
        s"""entry AS (SELECT qq.query_id, e.vec_id
                   FROM qq CROSS JOIN emb e WHERE e.vec_id < $GraphEntryBound
                   UNION
                   $x)"""
    }
    s"""qq AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM b
                WHERE vec_id IN (${queryIds.mkString(", ")})),
         $entryCte,
         $rounds
         SELECT query_id, rk AS rank, vec_id AS neighbor_id,
           round(cos, 5) AS cos
         FROM (
           SELECT b$nRounds.*, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, vec_id ASC) AS INTEGER) AS rk
           FROM b$nRounds)
         WHERE rk <= 5 ORDER BY query_id, rank"""
  }

  /** DuckDB bucket expression for the first `p` planes of the scaled
    * family (generalizes [[sqlBucket]]). */
  private def sqlBucketN(p: Int): String = {
    val pl = planesN(p)
    pl.indices.map { i =>
      s"(CASE WHEN list_dot_product(v, ${pl(i).mkString("[", ",", "]")}) > 0" +
        s" THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Oracle for [[annGraphScaled]] given the recorded plane count:
    * same edge-build + beam-search CTEs as the fixed-family oracle, but
    * the bucket uses the P-plane family and the probe set is the 1-bit
    * flip family the scaled build runs. */
  private[operators] def graphScaledOracle(p: Int): String = {
    val probes1 =
      "[bkt, " + (0 until p).map(i => s"xor(bkt,${1 << i})").mkString(", ") + "]"
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         b AS MATERIALIZED (
               SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
                 ${sqlBucketN(p)} AS bkt FROM emb),
         bc AS (SELECT vec_id, v, n, bkt FROM (
                  SELECT b.*, row_number() OVER (PARTITION BY bkt
                    ORDER BY vec_id ASC) AS brk FROM b)
                WHERE brk <= $GraphBuildCap),
         gq AS (SELECT vec_id AS query_id, v AS qv, n AS qn,
                  unnest($probes1) AS bkt FROM b),
         ${graphEdgeCtes("bc")},
         ${beamSearchSqlTail(GraphL, Some(
           s"""SELECT qb.query_id, bc.vec_id
               FROM (SELECT vec_id AS query_id, unnest($probes1) AS bkt
                     FROM b
                     WHERE vec_id IN (${queryIds.mkString(", ")})) qb
               JOIN bc USING (bkt)"""))}"""
  }

  /** DuckDB replay of [[annGraphAppend]]: the 90/10 split rule, the
    * base corpus's P-plane family and lowest-ids-per-bucket cap, the
    * batch's 2-bit probe set (the denser family the append deliberately
    * spends on — see the annGraphAppend body), and the top-M ranking. */
  private def graphAppendOracle(p: Int): String = {
    val probes2 =
      "[bkt, " + masks2N(p).map(m => s"xor(bkt,$m)").mkString(", ") + "]"
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         b AS MATERIALIZED (
               SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
                 ${sqlBucketN(p)} AS bkt FROM emb WHERE vec_id % 10 <> 7),
         bc AS (SELECT vec_id, v, n, bkt FROM (
                  SELECT b.*, row_number() OVER (PARTITION BY bkt
                    ORDER BY vec_id ASC) AS brk FROM b)
                WHERE brk <= $GraphBuildCap),
         nb0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
                 ${sqlBucketN(p)} AS bkt FROM emb WHERE vec_id % 10 = 7),
         nb AS (SELECT vec_id AS query_id, v AS qv, n AS qn,
                 unnest($probes2) AS bkt FROM nb0),
         scored AS (
           SELECT nb.query_id, bc.vec_id AS neighbor_id,
             list_dot_product(bc.v, nb.qv) / (bc.n * nb.qn) AS cos
           FROM bc JOIN nb USING (bkt)),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
           FROM scored)
       SELECT query_id, rank, neighbor_id, round(cos, 5) AS cos
       FROM ranked WHERE rank <= $GraphM ORDER BY query_id, rank"""
  }

  /** Oracle for [[annGraphScaledStats]]: the identical closed-form
    * bucket-histogram computation over the P-plane 1-bit-probe family
    * and per-bucket cap. */
  private[operators] def graphScaledStatsOracle(p: Int): String = {
    val probes1 =
      "[bkt, " + (0 until p).map(i => s"xor(bkt,${1 << i})").mkString(", ") + "]"
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         b AS (SELECT vec_id, ${sqlBucketN(p)} AS bkt FROM emb),
         pop AS (SELECT bkt, count(*) AS pop FROM b GROUP BY 1),
         phits AS (SELECT bkt, count(*) AS ph FROM (
             SELECT unnest($probes1) AS bkt FROM b) GROUP BY 1),
         cand AS (SELECT CAST(sum(least(pop, $GraphBuildCap) * ph
                    - least(pop, $GraphBuildCap)) AS BIGINT) AS n_cand_pairs
                  FROM pop JOIN phits USING (bkt)),
         nv AS (SELECT count(*) AS n_vec FROM b)
       SELECT nv.n_vec, $p AS n_planes, $GraphBuildCap AS cap,
         cand.n_cand_pairs,
         round(CAST(cand.n_cand_pairs AS DOUBLE) / nv.n_vec, 2)
           AS cand_per_vec
       FROM cand CROSS JOIN nv"""
  }

  /** Unrolled DuckDB replay of [[annHnsw]]: deterministic levels
    * (bit_count trailing-zeros of the portable md5 hash), per-layer
    * member-restricted edge builds, the apex descent, and the layer-0
    * beam — every CTE in bit-for-bit lockstep with the Spark loop. */
  private[operators] def hnswOracle: String = {
    val sqlProbes2 =
      "[bkt, " + flips2.map(m => s"xor(bkt,$m)").mkString(", ") + "]"
    val layerCtes = (0 to HnswLCap).map { l =>
      s"""gq$l AS (SELECT vec_id AS query_id, v AS qv, n AS qn,
                  unnest($sqlProbes2) AS bkt FROM b WHERE lev >= $l),
         gs$l AS (
           SELECT gq$l.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.v, gq$l.qv) / (e.n * gq$l.qn) AS cos
           FROM b e JOIN gq$l ON e.bkt = gq$l.bkt
             AND e.vec_id <> gq$l.query_id
           WHERE e.lev >= $l),
         gr$l AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank
           FROM gs$l),
         ge$l AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT query_id AS src, neighbor_id AS dst
             FROM gr$l WHERE rank <= $GraphM
             UNION ALL
             SELECT neighbor_id AS src, query_id AS dst
             FROM gr$l WHERE rank <= $GraphM))"""
    }.mkString(",\n         ")
    // hb$i is referenced TWICE by the next round's candidate union —
    // without MATERIALIZED, DuckDB's default CTE inlining doubles the
    // plan per round (2^12 scans over 12 rounds: "Too many open files",
    // the emb_kcenter lesson). Same for the shared b/qq/ge tables.
    def sCte(i: Int, src: String, w: Int): String =
      s"""hs$i AS (
           SELECT c.query_id, c.vec_id,
             list_dot_product(e.v, qq.qv) / (e.n * qq.qn) AS cos
           FROM $src c JOIN b e USING (vec_id) JOIN qq USING (query_id)),
         hb$i AS MATERIALIZED (
           SELECT query_id, vec_id, cos FROM (
             SELECT hs$i.*, row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, vec_id ASC) AS rk FROM hs$i)
           WHERE rk <= $w)"""
    def cCte(i: Int, lay: Int): String =
      s"""hc$i AS (
           SELECT DISTINCT query_id, vec_id FROM (
             SELECT query_id, vec_id FROM hb${i - 1}
             UNION ALL
             SELECT p.query_id, g.dst AS vec_id
             FROM hb${i - 1} p JOIN ge$lay g ON g.src = p.vec_id))"""
    // round schedule mirrors the Spark loop: apex, then RUp rounds per
    // upper layer LCap..1 at width WUp, then GraphL rounds at layer 0
    // at width GraphW
    val sched =
      (HnswLCap to 1 by -1).flatMap(l => Seq.fill(HnswRUp)((l, HnswWUp))) ++
        Seq.fill(GraphL)((0, GraphW))
    val rounds = (sCte(0, "e0", HnswWUp) +: sched.zipWithIndex.flatMap {
      case ((lay, w), k) => Seq(cCte(k + 1, lay), sCte(k + 1, s"hc${k + 1}", w))
    }).mkString(",\n         ")
    val last = sched.length
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         b0v AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
                 $sqlBucket AS bkt,
                 CAST(md5_number_lower(CAST(vec_id AS VARCHAR))
                   & 9223372036854775807 AS BIGINT) AS lvh
               FROM emb),
         b AS MATERIALIZED (SELECT vec_id, v, n, bkt,
                 CAST(least(bit_count((lvh & -lvh) - 1), $HnswLCap)
                   AS INTEGER) AS lev
               FROM b0v),
         $layerCtes,
         qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, n AS qn
                FROM b
                WHERE vec_id IN (${queryIds.mkString(", ")})),
         apex AS (SELECT vec_id FROM b
                  ORDER BY lev DESC, vec_id ASC LIMIT 1),
         e0 AS (SELECT qq.query_id, apex.vec_id FROM qq CROSS JOIN apex),
         $rounds
         SELECT query_id, rk AS rank, vec_id AS neighbor_id,
           round(cos, 5) AS cos
         FROM (
           SELECT hb$last.*, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, vec_id ASC) AS INTEGER) AS rk
           FROM hb$last WHERE vec_id <> query_id)
         WHERE rk <= 5 ORDER BY query_id, rank"""
  }
}
