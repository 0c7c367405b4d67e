package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, MobilityOps, Multimodal, Quality, Relational, Similarity, Sketches, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed done in SURVEY.md §2 has a `queries` entry here
  * and (where SQL-expressible) a DuckDB oracle in `oracleSqlFor`. Column
  * names are aliased identically on both sides — the driver's compare
  * sorts columns by name before hashing values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q2JoinAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_q1_agg" -> Relational.q1Agg _,
    "rel_q2_join_agg" -> Relational.q2JoinAgg _,
    "rel_q3_star_join" -> Relational.q3StarJoin _,
    "rel_q4_semi_join" -> Relational.q4SemiJoin _,
    "rel_q5_anti_join" -> Relational.q5AntiJoin _,
    "rel_q6_count_distinct" -> Relational.q6CountDistinct _,
    "rel_q7_topn" -> Relational.q7TopN _,
    "rel_q8_window" -> Relational.q8Window _,
    "rel_q9_scalar_subquery" -> Relational.q9ScalarSubquery _,
    "rel_q10_cte_self_join" -> Relational.q10CteSelfJoin _,
    "rel_q11_set_ops" -> Relational.q11SetOps _,
    "rel_q12_explode" -> Relational.q12Explode _,
    "rel_q13_offset" -> Relational.q13Offset _,
    "rel_q14_theta_join" -> Relational.q14ThetaJoin _,
    "rel_q15_salted_join" -> Relational.q15SaltedJoin _,
    "rel_q16_window_frames" -> Relational.q16WindowFrames _,
    "rel_q17_rollup" -> Relational.q17Rollup _,
    "rel_q18_pivot" -> Relational.q18Pivot _,
    "rel_q19_zscore" -> Relational.q19Zscore _,
    "rel_q20_json" -> Relational.q20Json _,
    "rel_q21_lateral" -> Relational.q21Lateral _,
    "rel_q22_lag_ntile" -> Relational.q22LagNtile _,
    "rel_q23_gapfill" -> Relational.q23Gapfill _,
    "rel_q24_cube" -> Relational.q24Cube _,
    "rel_q25_set_all" -> Relational.q25SetAll _,
    "rel_q26_bucketed_join" -> Relational.q26BucketedJoin _,
    "events_funnel" -> Relational.q26Funnel _,
    "events_retention" -> Relational.q27Retention _,
    "berlinmod_e2e" -> ((s: SparkSession, _: String) =>
      // full mobility workload on deterministic synthetic data, locked
      // by the self-pinned checksum oracle [[e2ePinned]] (see
      // BerlinMod.e2eReport scaladoc: no external oracle can exist)
      graft.berlinmod.BerlinMod.e2eReport(s)),
  ) ++ MobilityOps.queries ++ Dedup.queries ++ Similarity.queries ++
    TextAnalysis.queries ++ Multimodal.queries ++
    graft.operators.Retrieval.queries ++
    Quality.queries ++ Sketches.queries ++
    graft.operators.Multilingual.queries ++
    graft.sources.RoundTrip.queries ++
    graft.sources.TarShards.queries ++
    graft.streaming.StreamGate.queries

  val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val HashAggThreshold = 65536

  /** The entries that run with the hash-aggregate fallback threshold at
    * [[HashAggThreshold]]: their topk_ordered states are k-bounded (~400 B
    * per group) and their n-group builds must hash. Every other entry
    * runs at Spark's default, 128, so the BerlinMOD collect_list-of-
    * instants aggregates and the vocabulary-shaped text rows take the
    * sort path their fat or many-group states need: r12 measured one 64k
    * value for all rows regressing the BerlinMOD decade rows 30-50%, and
    * a 1M value OOM'd text_tfidf_100x. */
  val hashAggregated: Set[String] = Set(
    "ann_filtered", "ann_filtered_bucketed", "ann_graph_append",
    "ann_graph_scaled", "ann_graph_scaled_sq8", "ann_graph_scaled_stats",
    "ann_graph_search", "ann_hnsw", "ann_ivf", "ann_ivf_bucketed",
    "ann_ivf_sq8", "ann_ivfpq", "ann_ivfpq_bucketed", "ann_knn_graph",
    "ann_lsh", "ann_lsh_bucketed", "ann_pq", "ann_sq8", "ann_sq8_packed",
    "ann_topk",
    "hybrid_rrf", "hybrid_rrf_batch", "hybrid_rrf_batch100",
    "hybrid_rrf_ivf", "retrieval_mmr", "retrieval_mmr_batch",
    "retrieval_ndcg", "retrieval_ndcg_batch",
    "stream_ann_topk_sink", "stream_graph_append_sink")

  /** The fallback threshold a query runs with: a decade row
    * `<entry>_<mult>x` takes its entry's value. */
  def aggThreshold(row: String): Int =
    if (hashAggregated(row.replaceFirst("_\\d+x$", ""))) HashAggThreshold
    else 128

  /** Sets [[aggThreshold]] of `row` on the session, before running it. */
  def useAggThreshold(spark: SparkSession, row: String): Unit =
    spark.conf.set(FallbackKey, aggThreshold(row).toString)

  /** SELF-PINNED oracle for `berlinmod_e2e`: the (query, n_rows,
    * checksum) triples of `BerlinMod.e2eReport` captured from a
    * repo-pinned run. No independent oracle can exist for the composed
    * mobility workload (oracle DuckDB has no mobility extension; the
    * reference ships only result CSVs, not input data), so this locks
    * the run against regressions: the oracle SQL below replays these
    * constants as a VALUES table for the driver's DuckDB compare. The
    * 17 queries are each independently verified by the golden corpus
    * (reference CSV diffs) and the mob_q* oracles; this row pins their
    * COMPOSITION. Every value is deterministic: the generator is a
    * fixed-seed LCG and all query outputs are quantized. */
  private[graft] val e2ePinned: Seq[(String, Long, Long)] = Seq(
    ("q1", 20L, 1526868884854890483L),
    ("q2", 1L, 2552871565759537036L),
    ("q3", 0L, 0L),
    ("q4", 98L, 6760289893897784880L),
    ("q5", 100L, 2532556919376722860L),
    ("q6", 0L, 0L),
    ("q7", 0L, 0L),
    ("q8", 1L, 4779046223687870714L),
    ("q9", 31L, 4198252549149688931L),
    ("q10", 0L, 0L),
    ("q11", 0L, 0L),
    ("q12", 0L, 0L),
    ("q13", 0L, 0L),
    ("q14", 0L, 0L),
    ("q15", 0L, 0L),
    ("q16", 0L, 0L),
    ("q17", 3L, 2232489959643303941L))

  private def e2eOracleSql: String =
    "SELECT query, CAST(n_rows AS BIGINT) AS n_rows, " +
      "CAST(checksum AS BIGINT) AS checksum FROM (VALUES " +
      e2ePinned.map { case (q, n, c) => s"('$q', $n, $c)" }.mkString(", ") +
      ") t(query, n_rows, checksum) ORDER BY query"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the parquet tables of dataset `dir`; omitted for non-SQL-expressible
    * ops. A pure function of `dir`: the trained-artifact oracles (IVF/PQ
    * codebooks, graph plane counts, lang-ID and classifier weights, BPE
    * merges, the simhash vocabulary) re-run the deterministic trainer
    * their query calls, so the map never depends on which queries this
    * process ran before. */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] = Map(
    "berlinmod_e2e" -> e2eOracleSql,
    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS cnt
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "rel_q2_join_agg" ->
      """SELECT c_mktsegment,
         round(sum(o_totalprice), 2) AS revenue,
         count(*) AS num_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "rel_q3_star_join" ->
      """SELECT r_name,
         count(*) AS num_suppliers,
         round(sum(s_acctbal), 2) AS total_acctbal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "rel_q4_semi_join" ->
      """SELECT c_mktsegment, count(*) AS cnt
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         GROUP BY 1 ORDER BY 1""",
    "rel_q5_anti_join" ->
      """SELECT c_mktsegment, count(*) AS cnt
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 450000)
         GROUP BY 1 ORDER BY 1""",
    "rel_q6_count_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS distinct_parts,
         count(DISTINCT l_suppkey) AS distinct_supps
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "rel_q7_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "rel_q8_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t
         WHERE rn = 1 ORDER BY o_custkey""",
    "rel_q9_scalar_subquery" ->
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""",
    "rel_q10_cte_self_join" ->
      """WITH monthly AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
                  round(sum(o_totalprice), 2) AS rev
           FROM orders GROUP BY 1)
         SELECT c.mi, c.rev, p.rev AS prev_rev,
                round(c.rev - p.rev, 2) AS delta
         FROM monthly c JOIN monthly p ON c.mi = p.mi + 1
         ORDER BY c.mi""",
    "rel_q11_set_ops" ->
      """SELECT
           (SELECT count(*) FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION
              SELECT c_custkey FROM customer WHERE c_acctbal > 0) u)
             AS union_cnt,
           (SELECT count(*) FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              INTERSECT
              SELECT c_custkey FROM customer WHERE c_acctbal > 0) i)
             AS intersect_cnt,
           (SELECT count(*) FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              EXCEPT
              SELECT c_custkey FROM customer WHERE c_acctbal > 0) e)
             AS except_cnt""",
    "rel_q12_explode" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents) t
         GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""",
    "rel_q13_offset" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 10 OFFSET 10""",
    "rel_q15_salted_join" ->
      """SELECT o_custkey, count(*) AS cnt,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_custkey
         ORDER BY cnt DESC, o_custkey ASC LIMIT 20""",
    "rel_q16_window_frames" ->
      """WITH daily AS (
           SELECT o_orderdate AS day,
             round(sum(o_totalprice), 2) AS rev
           FROM orders GROUP BY 1)
         SELECT day, rev,
           round(avg(rev) OVER (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7,
           round(sum(rev) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum
         FROM daily ORDER BY day""",
    "rel_q17_rollup" ->
      """SELECT
           CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
                ELSE c_mktsegment END AS seg,
           CASE WHEN GROUPING(yr) = 1 THEN 'ALL' ELSE yr END AS yr,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
         FROM (SELECT c_mktsegment,
                 CAST(year(o_orderdate) AS VARCHAR) AS yr, o_totalprice
               FROM orders JOIN customer ON o_custkey = c_custkey)
         GROUP BY ROLLUP (c_mktsegment, yr)
         ORDER BY seg, yr""",
    "rel_q18_pivot" ->
      """SELECT c_mktsegment AS seg,
           round(sum(CASE WHEN year(o_orderdate) = 1995
             THEN o_totalprice END), 2) AS rev_1995,
           round(sum(CASE WHEN year(o_orderdate) = 1996
             THEN o_totalprice END), 2) AS rev_1996
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "rel_q19_zscore" ->
      """WITH st AS (
           SELECT event_type, count(*) AS n,
             round(sum(value), 6) AS msum,
             round(sum(value * value), 6) AS ssum
           FROM events GROUP BY 1),
         z AS (
           SELECT e.event_id, e.event_type, e.value,
             round((e.value - st.msum / st.n)
               / sqrt((st.ssum - st.msum * st.msum / st.n) / (st.n - 1)), 4)
               AS z
           FROM events e JOIN st USING (event_type))
         SELECT event_id, event_type, value, z
         FROM z ORDER BY abs(z) DESC, event_id LIMIT 20""",
    "rel_q20_json" ->
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(sum(CASE WHEN CAST(props->>'k' AS INTEGER) > 50
             THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         FROM events GROUP BY 1 ORDER BY 1""",
    "rel_q21_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ON true
         WHERE c_mktsegment = 'BUILDING'
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    "rel_q22_lag_ntile" ->
      """WITH monthly AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
             round(sum(o_totalprice), 2) AS rev
           FROM orders GROUP BY 1)
         SELECT mi, rev,
           lag(rev, 1) OVER (ORDER BY mi) AS prev_rev,
           lead(rev, 1) OVER (ORDER BY mi) AS next_rev,
           CAST(ntile(4) OVER (ORDER BY rev DESC, mi) AS INTEGER)
             AS quartile,
           round(percent_rank() OVER (ORDER BY rev ASC, mi), 4) AS pr
         FROM monthly ORDER BY mi""",
    "rel_q23_gapfill" ->
      """WITH e AS (
           SELECT user_id, date_trunc('day', ts) AS day, value FROM events),
         bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         days AS (SELECT unnest(generate_series(lo, hi,
           INTERVAL 1 DAY)) AS day FROM bounds),
         users AS (SELECT DISTINCT user_id FROM e),
         cells AS (
           SELECT user_id, day, count(*) AS n, round(sum(value), 2) AS tv
           FROM e GROUP BY 1, 2)
         SELECT u.user_id, d.day,
           coalesce(c.n, 0) AS n_events,
           coalesce(c.tv, 0.0) AS total_value
         FROM users u CROSS JOIN days d
         LEFT JOIN cells c ON c.user_id = u.user_id AND c.day = d.day
         ORDER BY u.user_id, d.day""",
    "events_funnel" ->
      """WITH v AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
         p AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
         SELECT
           (SELECT count(DISTINCT user_id) FROM events) AS n_users,
           (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel,
           round((SELECT count(*) FROM c)
             / CAST((SELECT count(*) FROM v) AS DOUBLE), 4) AS click_rate,
           round((SELECT count(*) FROM p)
             / CAST((SELECT count(*) FROM c) AS DOUBLE), 4)
             AS purchase_rate""",
    "events_retention" ->
      """WITH e AS (
           SELECT user_id, date_trunc('week', ts) AS wk FROM events),
         cohort AS (
           SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
         active AS (SELECT DISTINCT user_id, wk FROM e)
         SELECT c.cohort_week,
           CAST((CAST(a.wk AS DATE) - CAST(c.cohort_week AS DATE)) // 7
             AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
         FROM active a JOIN cohort c ON a.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "rel_q26_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS num_items,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",
    "rel_q25_set_all" ->
      """WITH hi AS (SELECT l_partkey, l_suppkey FROM lineitem
                     WHERE l_quantity >= 25),
         lo AS (SELECT l_partkey, l_suppkey FROM lineitem
                WHERE l_quantity < 25)
         SELECT
           (SELECT count(*) FROM (
              SELECT * FROM hi EXCEPT ALL SELECT * FROM lo) e)
             AS except_all_cnt,
           (SELECT count(*) FROM (
              SELECT * FROM hi INTERSECT ALL SELECT * FROM lo) i)
             AS intersect_all_cnt""",
    "rel_q24_cube" ->
      """SELECT
           CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
                ELSE c_mktsegment END AS seg,
           CASE WHEN GROUPING(yr) = 1 THEN 'ALL' ELSE yr END AS yr,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
         FROM (SELECT c_mktsegment,
                 CAST(year(o_orderdate) AS VARCHAR) AS yr, o_totalprice
               FROM orders JOIN customer ON o_custkey = c_custkey)
         GROUP BY CUBE (c_mktsegment, yr)
         ORDER BY seg, yr""",
    "rel_q14_theta_join" ->
      """SELECT win_id, count(*) AS cnt, round(sum(value), 2) AS sum_value
         FROM events e JOIN (VALUES
             (1, TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
             (2, TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15'),
             (3, TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22'),
             (4, TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29'))
           AS w(win_id, lo, hi)
           ON e.ts >= w.lo AND e.ts < w.hi
         GROUP BY win_id ORDER BY win_id""",
  ) ++ MobilityOps.oracles ++ Dedup.oracles(spark, dir) ++
    Similarity.oracles(spark, dir) ++
    TextAnalysis.oracles(spark, dir) ++ Multimodal.oracles ++
    graft.operators.Retrieval.oracles(spark, dir) ++
    Quality.oracles(spark, dir) ++ Sketches.oracles ++
    graft.operators.Multilingual.oracles(spark, dir) ++
    graft.sources.RoundTrip.oracles ++
    graft.sources.TarShards.oracles ++
    // the streaming gate entries provably equal their batch operators
    // (see StreamGate scaladoc) -- same oracle texts
    Map("stream_neardup_sink" -> Dedup.staticOracles("dedup_minhash_lsh"),
      "stream_sessions_sink" -> MobilityOps.oracles("mob_q4_sessions")) ++
    // per-day register pipeline replayed from raw events (own SQL),
    // plus the streaming graph append's shared oracle
    graft.streaming.StreamGate.oracles(spark, dir)
}
