package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The bench harness surface: the default row list, the `--only` subset,
  * the `--explain` plan dump, and the per-stage and per-trigger rows of
  * `bench.json`. */
class BenchSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  /** Every row a no-argument run reports, sorted and pinned so that no
    * change to the blocks adds, drops or renames a row unnoticed: the 149
    * gate entries but berlinmod_e2e, the brussels-scale BerlinMOD load and
    * 17 queries, its 10x and 100x decade rows, and the pipeline decades. */
  private val defaultRows = Seq(
    "ann_filtered", "ann_filtered_100x", "ann_filtered_10x",
    "ann_filtered_bucketed", "ann_filtered_bucketed_100x",
    "ann_filtered_bucketed_10x", "ann_graph_append", "ann_graph_scaled",
    "ann_graph_scaled_sq8", "ann_graph_scaled_stats",
    "ann_graph_scaled_stats_100x", "ann_graph_scaled_stats_10x",
    "ann_graph_search", "ann_hnsw", "ann_ivf", "ann_ivf_bucketed",
    "ann_ivf_bucketed_100x", "ann_ivf_bucketed_10x", "ann_ivf_sq8",
    "ann_ivf_sq8_100x", "ann_ivf_sq8_10x", "ann_ivfpq", "ann_ivfpq_bucketed",
    "ann_ivfpq_bucketed_100x", "ann_ivfpq_bucketed_10x", "ann_knn_graph",
    "ann_lsh", "ann_lsh_bucketed", "ann_lsh_bucketed_100x",
    "ann_lsh_bucketed_10x", "ann_pq", "ann_sq8", "ann_sq8_100x",
    "ann_sq8_10x", "ann_sq8_packed", "ann_sq8_packed_100x",
    "ann_sq8_packed_10x", "ann_topk", "ann_topk_100x", "ann_topk_10x",
    "berlinmod_load", "berlinmod_q1", "berlinmod_q10", "berlinmod_q10_100x",
    "berlinmod_q10_10x", "berlinmod_q11", "berlinmod_q12",
    "berlinmod_q12_10x", "berlinmod_q13", "berlinmod_q14", "berlinmod_q15",
    "berlinmod_q16", "berlinmod_q16_10x", "berlinmod_q17",
    "berlinmod_q17_10x", "berlinmod_q2", "berlinmod_q3", "berlinmod_q4",
    "berlinmod_q5", "berlinmod_q5_10x", "berlinmod_q6", "berlinmod_q6_100x",
    "berlinmod_q6_10x", "berlinmod_q7", "berlinmod_q8", "berlinmod_q9",
    "corpus_diff", "corpus_diff_100x", "corpus_diff_10x", "dedup_clusters",
    "dedup_clusters_100x", "dedup_clusters_10x", "dedup_containment",
    "dedup_contamination", "dedup_emb_cosine", "dedup_emb_lsh",
    "dedup_ensemble", "dedup_exact", "dedup_incremental", "dedup_jaccard",
    "dedup_jaccard_100x", "dedup_jaccard_10x", "dedup_jaccard_curve",
    "dedup_keep_best", "dedup_minhash_lsh", "dedup_minhash_lsh_100x",
    "dedup_minhash_lsh_10x", "dedup_paragraph", "dedup_paragraph_100x",
    "dedup_paragraph_10x", "dedup_paragraph_rewrite", "dedup_pipeline",
    "dedup_semantic", "dedup_simhash", "dedup_simhash_rel", "dedup_substring",
    "dedup_substring_100x", "dedup_substring_10x", "emb_dbscan",
    "emb_kcenter", "emb_kmeans", "emb_kmeans_100x", "emb_kmeans_10x",
    "emb_lang_centroids", "emb_outliers", "emb_pagerank", "emb_pagerank_100x",
    "emb_pagerank_10x", "emb_random_projection", "events_funnel",
    "events_retention", "geo_clip", "geo_clip_traj", "geo_diff",
    "geo_gridshift", "geo_polygon_ops", "hybrid_rrf", "hybrid_rrf_100x",
    "hybrid_rrf_10x", "hybrid_rrf_batch", "hybrid_rrf_batch100",
    "hybrid_rrf_batch100_100x", "hybrid_rrf_batch100_10x",
    "hybrid_rrf_batch_100x", "hybrid_rrf_batch_10x", "hybrid_rrf_ivf",
    "hybrid_rrf_ivf_100x", "hybrid_rrf_ivf_10x", "layout_describe",
    "media_features", "media_frames", "media_frames_100x", "media_frames_10x",
    "media_jpeg", "media_png", "media_png_100x", "media_png_10x",
    "mob_q1_timespan", "mob_q2_value_at", "mob_q3_at_time", "mob_q4_sessions",
    "mob_q5_traj_length", "mob_q6_stbox_filter", "mob_q7_when_true",
    "mob_q8_asof_join", "rel_q10_cte_self_join", "rel_q11_set_ops",
    "rel_q12_explode", "rel_q13_offset", "rel_q14_theta_join",
    "rel_q15_salted_join", "rel_q16_window_frames", "rel_q17_rollup",
    "rel_q18_pivot", "rel_q19_zscore", "rel_q1_agg", "rel_q20_json",
    "rel_q21_lateral", "rel_q22_lag_ntile", "rel_q23_gapfill", "rel_q24_cube",
    "rel_q25_set_all", "rel_q26_bucketed_join", "rel_q2_join_agg",
    "rel_q3_star_join", "rel_q4_semi_join", "rel_q5_anti_join",
    "rel_q6_count_distinct", "rel_q7_topn", "rel_q8_window",
    "rel_q9_scalar_subquery", "retrieval_mmr", "retrieval_mmr_batch",
    "retrieval_ndcg", "retrieval_ndcg_batch", "sketch_bloom",
    "sketch_bloom_join", "sketch_bloom_join_100x", "sketch_bloom_join_10x",
    "sketch_countmin", "sketch_heavy_hitters", "sketch_hll", "sketch_kmv",
    "sketch_kmv_agg", "sketch_kmv_agg_100x", "sketch_kmv_agg_10x",
    "sketch_kmv_grouped", "sketch_kmv_overlap", "sketch_quantile_hist",
    "sources_roundtrip", "sources_tar", "sources_tar_100x", "sources_tar_10x",
    "split_leakage_safe", "stream_ann_topk_sink", "stream_countmin_sink",
    "stream_graph_append_sink", "stream_hll_sink", "stream_join_sink",
    "stream_neardup_sink", "stream_sessions_sink", "text_bm25",
    "text_bpe_pack", "text_bpe_token_counts", "text_chunk", "text_chunk_100x",
    "text_chunk_10x", "text_drift_psi", "text_fingerprint",
    "text_inverted_index", "text_lang_id", "text_lang_id_model",
    "text_length_quantiles", "text_mix_budget", "text_multilingual",
    "text_ngram_lm", "text_ngram_novelty", "text_normalize",
    "text_normalize_100x", "text_normalize_10x", "text_pack_sequences",
    "text_perplexity_buckets", "text_pmi", "text_quality_classifier",
    "text_quality_filters", "text_quality_summary", "text_regex_scrub",
    "text_repetition", "text_sample_stratified", "text_sample_weighted",
    "text_stats", "text_tfidf", "text_tfidf_100x", "text_tfidf_10x",
    "text_token_counts")

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  /** Job ids a row's timed runs left under its job group, once the
    * listener bus has delivered them. */
  private def jobsOf(row: String): Seq[Int] = {
    Thread.sleep(500)
    spark.sparkContext.statusTracker.getJobIdsForGroup(row).toSeq
  }

  test("with no arguments the bench runs the same rows as before") {
    assert(defaultRows.size == 235)
    assert(Bench.blocks(d).flatMap(_.rows).sorted == defaultRows)
  }

  test("every row keeps the aggregate threshold its name prefix gave it") {
    val hashPrefixes =
      Seq("ann_", "hybrid_", "retrieval_", "stream_ann", "stream_graph")
    for (row <- defaultRows :+ "stream_ann_topk_sink" :+ "stream_graph_append_sink") {
      val before = if (hashPrefixes.exists(row.startsWith)) 65536 else 128
      assert(SparkEntry.aggThreshold(row) == before, row)
    }
    assert(SparkEntry.hashAggregated.subsetOf(SparkEntry.queries.keySet))
  }

  test("--only runs the named rows alone, skips the BerlinMOD loads, and " +
       "records per-stage rows for each") {
    val out = tmp("bench").resolve("bench.json")
    val only = Set("rel_q1_agg", "text_bm25")
    val rows = Bench.run(spark, d, Some(only), None, out)
    assert(rows.map(_._1) == only.toSeq.sorted)
    assert(rows.forall(r => r._2 >= 0 && r._3.isEmpty), rows)
    assert(!spark.catalog.tableExists("Trips"))
    val metrics = new ObjectMapper().readTree(out.toFile).get("task_metrics")
    assert(metrics.fieldNames.asScala.toSet == only)
    val fields = Set("id", "job", "sql_exec", "name", "tasks", "cpu_sec", "run_sec",
      "shuffle_read", "shuffle_write", "spill_disk", "spill_mem",
      "task_p50_ms", "task_p90_ms", "task_max_ms", "span_ms")
    for (row <- only) {
      val stages = metrics.get(row).get("stages").elements.asScala.toSeq
      assert(stages.nonEmpty, row)
      for (s <- stages) {
        assert(s.fieldNames.asScala.toSet == fields, s)
        assert(s.get("tasks").asInt > 0 && s.get("task_max_ms").asLong >=
          s.get("task_p50_ms").asLong, s)
      }
      assert(jobsOf(row).nonEmpty, row)
    }
  }

  /** `task_metrics` of one `--only` run of two stream rows. */
  private lazy val streamMetrics = {
    val out = tmp("bench").resolve("bench.json")
    val rows = Bench.run(spark, d,
      Some(Set("stream_sessions_sink", "stream_hll_sink")), None, out)
    assert(rows.forall(r => r._2 >= 0 && r._3.isEmpty), rows)
    new ObjectMapper().readTree(out.toFile).get("task_metrics")
  }

  private def triggersOf(row: String) =
    streamMetrics.get(row).get("triggers").elements.asScala.toSeq

  test("--only stream rows records per-trigger rows for each") {
    val fields = Set("run_id", "batch", "duration_ms", "input_rows",
      "state_rows", "state_mem_bytes", "rows_updated", "rocksdb_sst_bytes")
    val phases = Set("triggerExecution", "addBatch", "walCommit",
      "commitOffsets", "latestOffset", "queryPlanning")
    for (row <- Seq("stream_sessions_sink", "stream_hll_sink")) {
      val triggers = triggersOf(row)
      assert(triggers.nonEmpty, row)
      for (t <- triggers) assert(t.fieldNames.asScala.toSet == fields, t)
      // the last pass's stream alone, batch by batch
      assert(triggers.map(_.get("run_id").asText).distinct.size == 1, row)
      assert(triggers.map(_.get("batch").asLong) ==
        triggers.indices.map(_.toLong), row)
      assert(triggers.exists(t =>
        phases.subsetOf(t.get("duration_ms").fieldNames.asScala.toSet) &&
          t.get("input_rows").asLong > 0 && t.get("state_rows").asLong > 0 &&
          t.get("state_mem_bytes").asLong > 0 &&
          t.get("rows_updated").asLong > 0 &&
          t.get("rocksdb_sst_bytes").asLong >= 0), triggers)
    }
  }

  test("a stream row's stages include its micro-batch jobs") {
    val row = "stream_sessions_sink"
    val stageJobs = streamMetrics.get(row).get("stages").elements.asScala
      .map(_.get("job").asInt).toSet
    val streamJobs = triggersOf(row).map(_.get("run_id").asText).distinct
      .flatMap(spark.sparkContext.statusTracker.getJobIdsForGroup(_)).toSet
    assert(streamJobs.nonEmpty)
    assert((streamJobs & stageJobs).nonEmpty, (streamJobs, stageJobs))
    // and the staging write and read-back under the row's own group
    assert((jobsOf(row).toSet & stageJobs).nonEmpty, stageJobs)
  }

  test("--only rejects a name that is no bench row") {
    val e = intercept[IllegalArgumentException] {
      Bench.run(spark, d, Some(Set("rel_q1_agg", "no_such_row")), None,
        tmp("bench").resolve("bench.json"))
    }
    assert(e.getMessage.contains("no_such_row"))
  }

  test("--explain writes one plan file per selected row and times nothing") {
    val dir = tmp("plans")
    val out = tmp("bench").resolve("bench.json")
    val only = Set("rel_q2_join_agg", "ann_topk")
    assert(Bench.run(spark, d, Some(only), Some(dir), out).isEmpty)
    val files = Files.list(dir).iterator.asScala.toSeq
    assert(files.map(_.getFileName.toString).toSet == only.map(_ + ".txt"))
    for (f <- files)
      assert(Files.readString(f).contains("== Physical Plan =="), f)
    assert(!Files.exists(out))
    for (row <- only) assert(jobsOf(row).isEmpty, row)
  }
}
