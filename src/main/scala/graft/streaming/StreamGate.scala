package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BoundedStream.{PerBatch, Rows}
import graft.util.Tables

/** Streaming surface wired into the OFFICIAL correctness gate.
  *
  * The other streaming specs run against MemoryStream inside ScalaTest;
  * this one runs a real bounded file-source stream end-to-end — file
  * source → online LSH near-dup ([[StreamNearDup]]) → idempotent
  * per-batch parquet sink ([[StreamSink]]) — and returns the final
  * sunk table verified with exact Jaccard, which makes it DuckDB-
  * oracle-checkable against the SAME SQL as the batch operator
  * (`dedup_minhash_lsh`).
  *
  * Why the outputs must agree: the stream's map side is hash-identical
  * to batch (same shingles, same `minhash_sig` kernel, same band key).
  * Per (band, bucket): a bucket with <= 64 members emits exactly the
  * all-pairs set regardless of arrival order or batch splits; an
  * over-full bucket emits a superset of batch (batch drops the bucket
  * entirely, the stream pairs the first 64 arrivals). So streaming
  * candidates ⊇ batch candidates, and after the exact-Jaccard >= 0.5
  * verification both equal the exact-join oracle whenever batch recall
  * is 1.0 — which the batch oracle already asserts on the gate data.
  *
  * Every entry runs through [[BoundedStream.run]]; an entry holds only
  * what it stages, its pipeline and the tail over its sunk rows.
  */
object StreamGate {

  /** The RocksDB state store — Spark's production provider for large
    * continuous state (bounded heap: state lives off-heap in RocksDB
    * memtables/SSTs; incremental checkpoints ship only changed files).
    * The OSS class name, resolved from the Spark jars on the classpath. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Provider every gate stream runs on: RocksDB — the choice a 100 TB
    * continuous-ingest deployment makes (the default in-heap
    * HDFSBackedStateStoreProvider holds every key's state as JVM
    * objects, so executor heap bounds total state; RocksDB bounds heap
    * regardless of state size and checkpoints incrementally). None is
    * Spark's in-heap default, selected only through [[providerOverride]]. */
  private[streaming] def stateStoreProvider: Option[String] =
    if (providerOverride.contains("hdfs")) None else Some(RocksDbProvider)

  /** Test seam: `Some("hdfs")` runs the entries on the in-heap provider.
    * The entries are output-deterministic by design, so the provider can
    * never change rows — StreamingSpec runs stateful entries under BOTH
    * providers in one JVM and asserts identical output. */
  @volatile private[graft] var providerOverride: Option[String] = None

  /** The stateful shuffle partition count, pinned to at most 8. The count
    * is fixed at the query's FIRST start and becomes the state-store
    * count: every micro-batch commits one delta file per state partition
    * per state store, so 32 partitions x 4 batches is 4x the checkpoint
    * I/O of 8 — and on a small box that I/O, not compute, dominated the
    * near-dup row (11 s for a 500-doc stream in r7) and the join row
    * (6.5 s in r9; a stream-stream join commits FOUR state stores per
    * partition). 8 is still full parallelism for a bounded gate stream; a
    * 100 TB deployment sizes this to its cluster the same way (state
    * scale-out is a partition-count choice at query start, not a code
    * change). Output is partition-invariant. */
  private def statePartitions(s: SparkSession): (String, String) = {
    val key = "spark.sql.shuffle.partitions"
    key -> math.min(s.conf.get(key).toInt, 8).toString
  }

  /** Three days past the last event of `ev`, in micros: where the
    * sentinel row goes whose watermark finalizes every real day window
    * in AvailableNow's trailing batch. */
  private def sentinelAfter(ev: DataFrame): Long =
    ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) +
      3L * 86400L * 1000000L

  /** `rows` plus one sentinel row of `user` at `atMicros` (value 0), split
    * into 4 files by event time `ts`. */
  private def withSentinel(rows: DataFrame, user: Long, ts: String,
                           atMicros: Long): DataFrame =
    rows.unionByName(rows.sparkSession.range(1).select(rows.columns.map {
        case "user_id" => lit(user).as("user_id")
        case `ts`      => timestamp_micros(lit(atMicros)).as(ts)
        case c         => lit(0.0).as(c)
      }: _*))
      .repartitionByRange(4, col(ts))

  /** `stream_neardup_sink` gate entry: documents(d) replayed as a
    * 4-file stream (one file per trigger → 4 real micro-batches of
    * state accumulation), near-dup pairs sunk idempotently, the sunk
    * union re-read and exact-verified. Output schema/ordering matches
    * `dedup_minhash_lsh` exactly. */
  def streamNearDupSink(s: SparkSession, d: String): DataFrame = {
    // Constant event time: no row can be late at ANY batch split, so
    // the watermark never filters input and the pair set is the
    // arrival-order-invariant one argued in the scaladoc.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        col("text"))
      .repartitionByRange(4, col("doc_id"))
    // the candidates are sunk as they come: the tail's distinct() already
    // collapses cross-band and cross-batch repeats, so no second stateful
    // operator (and no watermark-check override) runs per trigger
    BoundedStream.run(s, "stream_neardup_sink", Seq(docs),
        Seq(statePartitions(s)), oneFilePerBatch = true) { (in, _) =>
      Rows(StreamNearDup.nearDupCandidates(s, in.head)
        .select("id_a", "id_b", "ts"))
    } { sunk =>
      // identical verification tail to the batch operator: exact shingle
      // Jaccard >= 0.5 on the candidate pairs, same aliases and ordering;
      // only the docs the pairs name are shingled, so nothing corpus-
      // sized is aggregated or cached
      val corpus = Tables.documents(s, d)
      def text(id: String, as: String) =
        corpus.select(col("doc_id").as(id), col("text").as(as))
      sunk.select("id_a", "id_b").distinct()
        .join(text("id_a", "ta"), "id_a")
        .join(text("id_b", "tb"), "id_b")
        .select(col("id_a"), col("id_b"),
          StreamNearDup.shingleSet(col("ta")).as("sha"),
          StreamNearDup.shingleSet(col("tb")).as("shb"))
        .withColumn("i", call_function("vec_inter_sorted",
          col("sha"), col("shb")))
        .withColumn("j",
          col("i") / (size(col("sha")) + size(col("shb")) - col("i")))
        .filter(col("j") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jac"))
        .orderBy("id_a", "id_b")
    }
  }

  /** `stream_sessions_sink` gate entry: the events table replayed as a
    * bounded stream through the stateful sessionizer and the idempotent
    * sink, then aggregated to the batch `mob_q4_sessions` shape (same
    * oracle SQL).
    *
    * Determinism: all files land in ONE data batch (FileStreamSource
    * does not order batches by event time, so splitting could process
    * the sentinel first and mark everything late). The state function
    * sorts each user's history; sessions closed by a later event emit
    * inline, and each user's LAST session is flushed by the event-time
    * timeout that the sentinel-advanced watermark fires in the trailing
    * no-data batch AvailableNow runs — so the stateful timeout path is
    * still what produces the final sessions. */
  def streamSessionsSink(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
      col("value"))
    val Array(minTs, maxTs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val spanSec = (maxTs - minTs) / 1000000L + 1
    val horizon = s"${spanSec + 3600} seconds"
    // sentinel: far enough that watermark = sentinel - horizon clears
    // every last-event + gap close; user -1 never closes and is dropped
    val sentinelTs = maxTs + (spanSec + 7200 + 1800) * 1000000L
    BoundedStream.run(s, "stream_sessions_sink",
        Seq(withSentinel(ev, -1L, "ts", sentinelTs))) { (in, _) =>
      Rows(StreamSessions.sessionize(s, in.head, horizon))
    } {
      _.filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("num_sessions"),
          round((sum(unix_micros(col("end")) - unix_micros(col("start"))) /
            1000000.0), 6).as("total_s"))
        .orderBy("user_id")
    }
  }

  /** `stream_hll_sink` gate entry: the events table replayed as a
    * bounded stream; per-day HyperLogLog REGISTERS accumulate in a
    * watermarked windowed aggregate (the same p=10 / md5-parity
    * register math as the batch `sketch_hll`), stream through the
    * idempotent sink as finalized windows, and the estimate is computed
    * on read — the streaming-sketch layout a 100 TB pipeline runs
    * ("distinct users per day, continuously"): register state is
    * bounded (<= 1024 rows per open window), merges by max, and the
    * sunk table is replayable.
    *
    * Determinism (same argument as the sessions entry): one data batch,
    * then a far-future sentinel advances the watermark in AvailableNow's
    * trailing batch so every real window finalizes; the sentinel's own
    * window stays below the watermark and never emits. Registers are
    * arrival-order-invariant (max), so the sunk table equals the batch
    * register table and the DuckDB oracle replays the whole pipeline
    * from the raw parquet. */
  def streamHllSink(s: SparkSession, d: String): DataFrame = {
    val Hll = graft.operators.Hll
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    // watermark reaches sentinel - 1s in the trailing batch, past every
    // real day window
    val staged = withSentinel(ev, -1L, "ts", sentinelAfter(ev))
    BoundedStream.run(s, "stream_hll_sink", Seq(staged)) { (in, _) =>
      Rows(in.head
        .withWatermark("ts", "1 second")
        .withColumn("hx", md5(col("user_id").cast("string")))
        .withColumn("h", graft.util.Md5Lower64.of("hx"))
        .withColumn("bucket", Hll.bucket(col("h")))
        .withColumn("rho", Hll.rho(col("h")))
        .groupBy(window(col("ts"), "1 day").as("win"), col("bucket"))
        .agg(max("rho").as("reg"))
        .select(col("win.start").as("day"), col("bucket"), col("reg")))
    } { sunk =>
      val state = sunk
        // defensive re-merge: append emits each finalized (day, bucket)
        // once, but replayed batch dirs must stay idempotent
        .groupBy("day", "bucket").agg(max("reg").as("reg"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_nonempty"),
          sum(expr(Hll.RegTermSql)).as("s_ne"))
        .select(col("day"), (lit(Hll.M) - col("n_nonempty")).cast("long")
          .as("v_empty"), col("s_ne"))
      val exact = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count_distinct(col("user_id")).as("exact_distinct"))
      state.join(exact, "day")
        .withColumn("hll_estimate",
          Hll.estimate(col("v_empty"),
            Hll.sScaled(col("v_empty"), col("s_ne"))))
        .select(col("day"), col("v_empty"), col("exact_distinct"),
          col("hll_estimate"),
          round(lit(100.0) * (col("hll_estimate") - col("exact_distinct"))
            / col("exact_distinct"), 2).as("rel_err_pct"))
        .orderBy("day")
    }
  }

  /** `stream_countmin_sink` gate entry: per-day COUNT-MIN counters over
    * user activity accumulating in a watermarked windowed aggregate —
    * the same 4 x 1024 position carve as the batch `sketch_countmin` —
    * finalized through the idempotent sink; the probe estimates each
    * day's top-5 users' event counts against exact. The streaming
    * heavy-hitter layout a 100 TB pipeline runs continuously
    * ("who dominates today's traffic?"): counter state is bounded
    * (<= 4096 rows per open window), merges by +, and the sunk table is
    * replayable. Counters are sums — arrival-order-invariant — so the
    * sunk table equals a batch replay and the DuckDB oracle recomputes
    * the whole pipeline from the raw parquet (all-integer: no float
    * quantization anywhere). Sentinel/watermark determinism argument is
    * [[streamHllSink]]'s verbatim. */
  def streamCountMinSink(s: SparkSession, d: String): DataFrame = {
    val w = 1024
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val staged = withSentinel(ev, -1L, "ts", sentinelAfter(ev))
    // one definition of the (i, p) carve for BOTH the streaming build
    // and the batch probe below (the sketch_countmin drift argument)
    def positions = explode(array((0 until 4).map(i =>
      struct(lit(i).as("i"),
        pmod(expr(s"h div ${math.pow(w, i).toLong}"), lit(w)).as("p"))): _*))
    BoundedStream.run(s, "stream_countmin_sink", Seq(staged)) { (in, _) =>
      Rows(in.head
        .withWatermark("ts", "1 second")
        .withColumn("hx", md5(col("user_id").cast("string")))
        .withColumn("h", graft.util.Md5Lower64.of("hx"))
        .select(col("ts"), positions.as("rp"))
        .groupBy(window(col("ts"), "1 day").as("win"),
          col("rp.i").as("i"), col("rp.p").as("p"))
        .agg(count(lit(1)).as("c"))
        .select(col("win.start").as("day"), col("i"), col("p"), col("c")))
    } { sunk =>
      // each finalized (day, i, p) emits once; max keeps replayed batch
      // dirs idempotent (the streamHllSink convention)
      val counters = sunk.groupBy("day", "i", "p").agg(max("c").as("c"))
      val exact = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
      val wTop = org.apache.spark.sql.expressions.Window.partitionBy("day")
        .orderBy(col("exact_cnt").desc, col("user_id").asc)
      val probes = exact
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .withColumn("hx", md5(col("user_id").cast("string")))
        .withColumn("h", graft.util.Md5Lower64.of("hx"))
        .select(col("day"), col("user_id"), col("exact_cnt"),
          positions.as("rp"))
        .select(col("day"), col("user_id"), col("exact_cnt"),
          col("rp.i").as("i"), col("rp.p").as("p"))
      probes.join(counters, Seq("day", "i", "p"))
        .groupBy("day", "user_id", "exact_cnt")
        .agg(min("c").as("cm_estimate"))
        .select(col("day"), col("user_id"), col("exact_cnt"),
          col("cm_estimate"),
          (col("cm_estimate") - col("exact_cnt")).as("overcount"))
        .orderBy("day", "user_id")
    }
  }

  /** `stream_join_sink` gate entry: the watermarked stream-stream
    * INTERVAL join ([[StreamJoin.intervalJoin]]) run as a real
    * two-file-source stream end-to-end — every event joined to the
    * same user's PURCHASE probes within [probe − 10 min, probe], match
    * rows sunk per-batch, the sunk table re-read and aggregated per
    * user. The streaming enrichment shape a 100 TB ingest runs
    * continuously (attach recent context to each conversion event);
    * state is watermark-bounded on BOTH sides (the join condition
    * bounds event time from both directions, so each side evicts at
    * watermark + interval — constant in stream length), and the join
    * parallelizes by the user_id equi-key.
    *
    * Determinism: an APPEND-mode inner stream-stream join emits each
    * qualifying pair exactly once regardless of batch splits or
    * arrival order, and the per-user aggregate sums exact integer
    * CENTS (`round(value·100)` — no FP summation-order exposure), so
    * the sunk table equals a batch replay and the DuckDB oracle
    * recomputes the whole join from the raw parquet. Sentinels use
    * DISTINCT user ids (−1 events / −2 probes) so the rows that push
    * both watermarks past the data can never join each other. */
  def streamJoinSink(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
      col("value"), col("event_type"))
    val sentinelTs = sentinelAfter(ev)
    val events = withSentinel(
      ev.select(col("user_id"), col("ts"), col("value")), -1L, "ts",
      sentinelTs)
    val probes = withSentinel(ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts")), -2L, "pts", sentinelTs)
    BoundedStream.run(s, "stream_join_sink", Seq(events, probes),
        Seq(statePartitions(s))) { (in, _) =>
      Rows(StreamJoin.intervalJoin(in(0), in(1)))
    } {
      // no defensive re-merge here: join rows carry no within-batch
      // finalization, and [[StreamSink.writeBatch]]'s batchId-keyed
      // overwrite already makes replays duplicate-free — a distinct()
      // would wrongly collapse genuinely identical match rows
      _.select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_matches"), sum("cents").as("sum_cents"))
        .orderBy("user_id")
    }
  }

  /** `stream_ann_topk_sink` gate entry — CONTINUOUS ANN serving: the
    * embeddings corpus replayed as a 4-file stream (one file per
    * trigger → 4 real micro-batches of ingest); each
    * micro-batch scores its ARRIVALS against the 10 fixed query
    * vectors (a 10-element literal) and sinks only the batch's
    * per-query top-5; the final read takes the global top-5 of the
    * ≤ 4·5 sunk winners per query. Correctness argument: cosine top-k
    * DISTRIBUTES over any partition of the corpus (each true global
    * winner is within its own batch's top-5), so the output rows equal
    * `ann_topk` EXACTLY — the entry shares its oracle
    * ([[graft.operators.Similarity.annTopkOracleSql]]), regardless of
    * how the stream splits.
    *
    * Scale design: per-batch work is BATCH-sized (a map-side score of
    * the arrivals + a per-query bounded rank), no streaming state at
    * all — the sunk winners table IS the state, and it grows by
    * 5·|queries| rows per batch independent of corpus size. This is
    * the append-ingest serving shape: a corpus that grows by stream
    * keeps an always-current exact top-k without ever re-scanning old
    * data ([[graft.operators.Similarity.annGraphAppend]] is the
    * index-maintenance sibling for the approximate indexes). */
  def streamAnnTopkSink(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the 10 query vectors (id, vector, norm), collected once before the
    // stream starts (bounded: |queryIds| rows) and carried in every
    // micro-batch's plan as a literal: a batch neither re-scans the
    // embeddings nor runs a broadcast job for them
    val queries = typedLit(e0
      .filter(col("vec_id").isin(graft.operators.Similarity.queryIds: _*))
      .withColumn("qn", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))))
    // per-batchId overwrite ([[StreamSink.writeBatch]]) — a replayed or
    // partially-committed batch rewrites its OWN dir instead of
    // appending duplicate winners that would evict true top-5 rows in
    // the final rank (r12 advice)
    val batchTop5: DataFrame => DataFrame = _
      .withColumn("n", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .withColumn("q", explode(queries))
      .select(col("vec_id"), col("v"), col("n"), col("q._1").as("query_id"),
        col("q._2").as("qv"), col("q._3").as("qn"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        call_function("vec_dot", col("v"), col("qv")) / (col("n") * col("qn")))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id", "cos")
    BoundedStream.run(s, "stream_ann_topk_sink",
        Seq(e0.repartitionByRange(4, col("vec_id"))),
        oneFilePerBatch = true) { (in, _) =>
      PerBatch(in.head, batchTop5)
    } {
      // global top-5 of the sunk per-batch winners — the serving read
      _.withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), round(col("cos"), 5).as("cos"))
        .orderBy("query_id", "rank")
    }
  }

  /** `stream_graph_append_sink` gate entry — STREAMING index
    * maintenance: the pairing of [[streamAnnTopkSink]] (serving) with
    * [[graft.operators.Similarity.annGraphAppend]] (batch maintenance).
    * The 10% arriving split (vec_id % 10 = 7) replays as a 4-file
    * stream; load phase materializes the FROZEN index side once (the
    * base split's plane family + capped bucket representatives — an
    * index must never re-derive its hash family from arriving data);
    * each micro-batch computes its arrivals' adjacency against that
    * frozen frame and appends it to the graph layout as an idempotent
    * per-batchId parquet dir — the TRTREE append-tail discipline
    * applied to the ANN graph. Correctness: each arriving vector's
    * adjacency is computed entirely within its own micro-batch against
    * the frozen base (per-vector work is batch-independent —
    * [[graft.operators.Similarity.appendEdgesAgainst]]), so the sunk
    * union EQUALS the batch append's rows exactly and the entry shares
    * its oracle verbatim.
    *
    * Scale design: zero streaming state; per-batch work is
    * |arrivals|·(1+P+P(P−1)/2) probe rows against the ≤cap·2^P capped
    * frame — never corpus-shaped; the layout grows by |arrivals|·M edge
    * rows per batch, and [[StreamSink.compactBatchDirs]] (the TRTREE
    * compact shape) folds the tails into the base layout off the
    * serving path — row-multiset-preserving and dir-count-bounding,
    * pinned in StreamingSpec against this sink's own edge rows. */
  def streamGraphAppendSink(s: SparkSession, d: String): DataFrame = {
    val Sim = graft.operators.Similarity
    val arrivals = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .filter(pmod(col("vec_id"), lit(10)) === 7)
      .repartitionByRange(4, col("vec_id"))
    BoundedStream.run(s, "stream_graph_append_sink", Seq(arrivals),
        oneFilePerBatch = true) { (in, root) =>
      // frozen index side, materialized once (load phase): micro-batches
      // re-READ it — recomputing per batch would re-run the base count,
      // bucketing and cap aggregate 4x
      val (capped0, p) = Sim.appendFrozenIndex(s, d)
      capped0.write.mode("overwrite").parquet(s"$root/capped")
      val capped = s.read.parquet(s"$root/capped")
      PerBatch(in.head, Sim.appendEdgesAgainst(capped, _, p))
    } {
      _.select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("stream_neardup_sink" -> (streamNearDupSink _),
        "stream_ann_topk_sink" -> (streamAnnTopkSink _),
        "stream_graph_append_sink" -> (streamGraphAppendSink _),
        "stream_sessions_sink" -> (streamSessionsSink _),
        "stream_hll_sink" -> (streamHllSink _),
        "stream_countmin_sink" -> (streamCountMinSink _),
        "stream_join_sink" -> (streamJoinSink _))

  /** Oracles of dataset `d`: the static map plus the batch append's
    * oracle, which the streaming graph append shares. */
  def oracles(s: SparkSession, d: String): Map[String, String] =
    staticOracles + ("stream_graph_append_sink" ->
      graft.operators.Similarity.graphAppendOracleFor(s, d))

  /** DuckDB replay of the per-day register pipeline ([[streamHllSink]])
    * straight from the raw events parquet — arrival-order-invariant
    * registers make the streamed and batch-replayed state identical. */
  private val staticOracles: Map[String, String] = {
    val Hll = graft.operators.Hll
    Map(
      // identical rows to ann_topk (per-batch-top-5 → global-top-5
      // composes to the exact answer) — the SAME oracle text
      "stream_ann_topk_sink" ->
        graft.operators.Similarity.annTopkOracleSql,
      "stream_countmin_sink" ->
      """WITH e AS (
           SELECT date_trunc('day', ts) AS day, user_id FROM events),
         h AS (
           SELECT day, user_id,
             CAST(md5_number_lower(CAST(user_id AS VARCHAR))
               & 9223372036854775807 AS BIGINT) AS h
           FROM e),
         rp(i, dv) AS (VALUES (0, 1), (1, 1024), (2, 1048576),
           (3, 1073741824)),
         counters AS (
           SELECT day, rp.i, (h.h // rp.dv) % 1024 AS p,
             count(*) AS c
           FROM h CROSS JOIN rp GROUP BY 1, 2, 3),
         ex AS (
           SELECT day, user_id, count(*) AS exact_cnt FROM e GROUP BY 1, 2),
         top AS (
           SELECT day, user_id, exact_cnt FROM (
             SELECT day, user_id, exact_cnt,
               row_number() OVER (PARTITION BY day
                 ORDER BY exact_cnt DESC, user_id ASC) AS rk
             FROM ex) WHERE rk <= 5),
         probes AS (
           SELECT t.day, t.user_id, t.exact_cnt, rp.i,
             (CAST(md5_number_lower(CAST(t.user_id AS VARCHAR))
               & 9223372036854775807 AS BIGINT) // rp.dv) % 1024 AS p
           FROM top t CROSS JOIN rp)
         SELECT p.day, p.user_id, p.exact_cnt,
           CAST(min(c.c) AS BIGINT) AS cm_estimate,
           CAST(min(c.c) AS BIGINT) - p.exact_cnt AS overcount
         FROM probes p
         JOIN counters c ON c.day = p.day AND c.i = p.i AND c.p = p.p
         GROUP BY 1, 2, 3 ORDER BY p.day, p.user_id""",
      "stream_hll_sink" ->
      s"""WITH h AS (
           SELECT DISTINCT date_trunc('day', ts) AS day,
             CAST(md5_number_lower(CAST(user_id AS VARCHAR))
               & 9223372036854775807 AS BIGINT) AS h
           FROM events),
         regs AS (${Hll.regsSql("day, ")}),
         st AS (${Hll.stSql("day, ")}),
         ex AS (
           SELECT date_trunc('day', ts) AS day,
             count(DISTINCT user_id) AS exact_distinct
           FROM events GROUP BY 1),
         est AS (
           SELECT st.day, CAST(st.v_empty AS BIGINT) AS v_empty,
             ex.exact_distinct,
             ${Hll.rawEstSql("st.v_empty", "st.s_ne")} AS raw_est
           FROM st JOIN ex ON st.day = ex.day),
         fin AS (
           SELECT day, v_empty, exact_distinct,
             ${Hll.estimateSql("raw_est", "v_empty")} AS hll_estimate
           FROM est)
         SELECT day, v_empty, exact_distinct, hll_estimate,
           round(100.0 * (hll_estimate - exact_distinct) / exact_distinct, 2)
             AS rel_err_pct
         FROM fin ORDER BY day""",
      "stream_join_sink" ->
      // the batch statement of the streamed interval join: APPEND-mode
      // inner join emits each qualifying pair exactly once, integer
      // cents make the per-user sums arrival-order-invariant
      """WITH p AS (
           SELECT user_id, ts AS pts FROM events
           WHERE event_type = 'purchase'),
         e AS (
           SELECT user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         j AS (
           SELECT e.user_id, e.cents
           FROM e JOIN p ON e.user_id = p.user_id
             AND e.ts >= p.pts - INTERVAL 10 MINUTE
             AND e.ts <= p.pts)
         SELECT user_id, count(*) AS n_matches,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM j GROUP BY user_id ORDER BY user_id""")
  }
}
