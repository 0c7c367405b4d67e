package graft.scale

import org.apache.spark.sql.SparkSession

/** The pipeline decade rows of [[graft.Bench]] (`<entry>_10x`,
  * `<entry>_100x`): the gate entries timed against a [[SynthCorpus]] dir
  * at a multiple of the sf0.1 base (5 000 docs / 600 000 lineitem rows),
  * so the dedup/text/sketch/ANN operators' scale claims rest on measured
  * decades rather than plan-shape arguments, running the UNCHANGED
  * `SparkEntry.queries` code. */
object PipelineScaleProbe {
  val probeQueries: Seq[String] = Seq(
    "dedup_jaccard", "dedup_minhash_lsh", "dedup_clusters",
    "dedup_substring", "text_tfidf", "sketch_kmv_grouped",
    "sketch_kmv_agg",
    // codec family (r8 verdict #6): encode+decode is per-row map work
    // over the documents scan — the curve must read flat-linear with
    // ~zero shuffle (one final 1-row-per-partition agg exchange)
    "media_png", "media_frames",
    // r9 wave-2 operators: kmeans is per-iteration one scan + a k x dim
    // aggregate, normalize a zero-shuffle kernel pass, pagerank a
    // cached-edge-list iteration over the knn graph — each claims a
    // linear decade, so each gets measured ones
    "emb_kmeans", "text_normalize", "emb_pagerank",
    // k-center coreset: fixed k=16 → total work O(k^2 · n), linear in n
    // for the fixed gate k; each of the 16 rounds is one scan of the
    // cached vectors with literal-center kernels (zero shuffle, 1-row
    // TakeOrdered back to the driver)
    "emb_kcenter",
    // chunking is a pure scan+generate expand (no aggregate at all) —
    // its decade rows prove the flat-linear claim; text_pmi stays at
    // base: its vocabulary-shaped aggregate class is the same shuffle
    // family text_tfidf already carries through 1000x
    "text_chunk",
    // snapshot-CDC diff: hash-at-scan + one co-partitioned full-outer
    // join on doc_id — the decade rows prove the change-shaped-output
    // claim (unchanged mass filtered post-join, text never shuffled)
    "corpus_diff",
    // the sources family's only decade rows: tar shard write+read is
    // shard-parallel in both directions (the timed row includes the
    // sink's single hash exchange + the full parse-back)
    "sources_tar",
    // bloom semi-join reduction (r9 verdict #1): build is a fixed
    // 512-word aggregate collected once, probe is ONE map-side pass of
    // the fact scan — the decade rows prove the single-scan rework
    "sketch_bloom_join",
    // n-scaled graph-ANN BUILD (r10 verdict #2): the production edge
    // build whose plane count tracks the corpus and whose per-bucket
    // candidate cap bounds work under ANY skew. The timed row is
    // build+search with the build UNCACHED; the artifact carries it at
    // BASE (50k vectors — auditAtBase below) plus the _stats decades:
    // the closed-form candidate count proving candidates/vector stays
    // ≤ cap·(P+1) across the decades (the bounded-candidates claim
    // itself); archived manual probe runs carry the build's own 10x row
    "ann_graph_scaled", "ann_graph_scaled_stats",
    // SQ8-scored edge semantics (r13 verdict #1): same candidate
    // machinery as ann_graph_scaled, both exchange sides carrying
    // 64-byte codes instead of 256-byte f32 packs — the multi-x
    // shuffle cut below the exact build's float32 transport floor
    "ann_graph_scaled_sq8")

  /** Audit-machinery twins run at BASE scale only (the r7 verdict's
    * bench-signal finding): `sketch_kmv_grouped` keeps the exact-count
    * audit (distinct + window + realized-error) that costs 16 s / 693 MB
    * shuffle at 100x while proving nothing its base-scale row doesn't —
    * the production sibling `sketch_kmv_agg` carries the scale rows. */
  val auditAtBase: Set[String] = Set("sketch_kmv_grouped",
    // exact O(n^2) eps-pair generator by design (the audit path; the
    // production candidate generator is the LSH-bucketed join, whose
    // decades dedup_emb_lsh/ann_lsh_bucketed already carry)
    "emb_dbscan",
    // the fixed-family navigable-graph entry keeps the gate's 8-plane
    // hash family for exact-oracle parity, so per-bucket population —
    // and with it the 2-bit-probe candidate volume — grows linearly
    // with the corpus (~36B candidate pairs at 500k vectors). The
    // PRODUCTION build is `ann_graph_scaled` (plane count tracks n,
    // candidates/vector bounded), which carries the decade rows; this
    // fixed variant stays at base as the oracle twin. The SEARCH is
    // O(|Q|·W·M·L) independent of n in both.
    "ann_graph_search",
    // hierarchical HNSW shares the fixed-family per-layer build (gate
    // oracle parity) — same base-only reasoning; its search-side win
    // (fewer scored candidates at equal beam width) is pinned in
    // PipelineOpsSpec, not by decade rows
    "ann_hnsw",
    // the scaled BUILD row: a 5M-vector knn-graph construction is
    // ~2.9B capped candidate scores — real ingest work whose artifact
    // row would dwarf every query row (the r7 bench-signal rule). Base
    // keeps build+search timed at 50k vectors; the _stats decades prove
    // the candidate bound; a manual 10x probe run is archived in SURVEY
    "ann_graph_scaled",
    // same in-bench reasoning as the exact build: a 5M/10M-vector edge
    // build is ingest work whose artifact row would dwarf every query
    // row; its 5M and 10M shuffle-cut probes are archived manual runs
    // (SURVEY §8q), in-artifact evidence stays the base row + the
    // _stats decades (the candidate bound is family-shared)
    "ann_graph_scaled_sq8",
    // 16 driver-synchronized rounds make kcenter's wall scan-count-
    // shaped: its 100x row (29 s warm, 512 B shuffle, zero spill —
    // linear, probe-measured r9) would be the artifact's single largest
    // scale row while proving only what the archived probe run proves
    // (the r7 verdict's bench-signal rule: keep the artifact's decades
    // for rows whose cost profile can change, not fixed-scan loops)
    "emb_kcenter")

  /** The queries that get 10x/100x rows in the bench artifact. */
  def scaleRowQueries: Seq[String] =
    (probeQueries ++ annProbeQueries).filterNot(auditAtBase)

  /** ANN-family probe (r7): brute-force baseline vs the three pruned
    * paths, plus the paragraph pass — run against the synthetic
    * embeddings/documents at 10x/100x. The write-time layouts
    * (LSH/IVF partition dirs) are built UNTIMED before the query
    * timings, like the BerlinMOD load and the bench warm-up builds. */
  val annProbeQueries: Seq[String] = Seq(
    "ann_topk", "ann_lsh_bucketed", "ann_ivf_bucketed", "ann_ivfpq_bucketed",
    "ann_graph_search", "ann_hnsw",
    // SQ8 is the brute-force scan shape at 1/4 the scan bytes — its
    // decades ride next to ann_topk's as the quantized/full-precision
    // scan pair; the _packed variant reads the write-time byte layout
    // (the measured scan-byte cut), its encode untimed load phase
    "ann_sq8", "ann_sq8_packed",
    // IVF x SQ8 composition (r11 verdict #4): partition pruning cuts
    // the scanned ROWS to ~nprobe/k and the packed codes cut the BYTES
    // per row ~7x — the decade rows measure the multiplied savings
    // against ann_topk / ann_sq8_packed / ann_ivf_bucketed
    "ann_ivf_sq8",
    // metadata-filtered ANN (r12): the pre-filter thins the candidate
    // stream ~3x while the widened probe set (nprobe 16 vs 6) holds
    // recall — the decade rows measure the filter+probe trade against
    // ann_ivf_bucketed's unfiltered rows; the _bucketed twin evaluates
    // the predicate inside the pruned cell partitions of the layout
    "ann_filtered", "ann_filtered_bucketed",
    // hybrid BM25+vector RRF fusion (r12): both corpus-shaped legs
    // (posting fetch, cosine scan) plus the K-bounded fusion — the
    // decade rows prove fusion cost stays flat while the legs scale
    // like text_bm25 / ann_topk; the _ivf twin's vector leg reads only
    // the PRF vector's nprobe cell partitions of the write-time layout
    "hybrid_rrf", "hybrid_rrf_ivf",
    // 12-query BATCH hybrid (r12 verdict #3): the decade rows prove the
    // O(queries·K) fusion claim with a measuring row — leg cost scales
    // with the unioned terms' document frequency / probed-cell union
    // (compare against hybrid_rrf_ivf's single-query rows at the same
    // corpus), while the fusion stage stays 2·K·|queries| rows flat
    "hybrid_rrf_batch",
    // 100 GENERATED queries (r13 verdict #7): the |queries|-scaling
    // row next to the 12-query one — leg cost tracks the unioned
    // document frequency (~8 queries share each of the 24 vocabulary
    // terms), fusion stays 2·K·|queries| rows
    "hybrid_rrf_batch100",
    "dedup_paragraph")

  /** Load-phase builds for [[annProbeQueries]] over `dir`. The in-memory
    * `ann_ivfpq` is probed standalone only: its wall clock is ~all
    * per-vector PQ ENCODE (write-time work in production — measured
    * 5.8/17.0 s at 1x/10x), which the bucketed variant moves into this
    * untimed build, leaving the pruned code-scan as the timed query. */
  def buildAnnLayouts(spark: SparkSession, dir: String): Unit = {
    graft.operators.Similarity.buildLshLayout(spark, dir)
    graft.operators.Similarity.buildSq8Layout(spark, dir)
    graft.operators.Similarity.buildIvfLayout(spark, dir)
    graft.operators.Similarity.buildIvfPqLayout(spark, dir)
    graft.operators.Similarity.buildIvfSq8Layout(spark, dir)
    graft.operators.Retrieval.buildPostingLayout(spark, dir)
    // NOT the graph layout: ann_graph_search is auditAtBase (fixed
    // 8-plane build — see the auditAtBase note), so the synth decade
    // dirs never need it and at 10x+ the fixed family would be
    // a ~36B-candidate join
  }
}
