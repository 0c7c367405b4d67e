package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming NEAR-duplicate detection — the online counterpart of
  * operators.Dedup.minhashLsh, for a documents-shaped stream.
  *
  * Map side is identical to the batch operator (and reuses its native
  * kernels): distinct 3-word shingles hashed once with xxhash64, a
  * 32-coordinate minhash signature from the `minhash_sig` codegen
  * kernel, 8 bands of 4 rows keyed by xxhash64 over the signature
  * slice. The stream then groups by (band, bandHash) and keeps ONLY
  * recent doc ids per bucket in state: a new arrival emits a candidate
  * pair against each stored id. Downstream exact verification (fetch
  * the two docs, exact Jaccard) is a lookup join the caller owns —
  * candidates here are the recall-bearing step, exactly as in batch.
  *
  * Scale design: state per bucket is a bounded id list (cap 64 — the
  * same mega-bucket hygiene as batch: an over-full bucket is
  * non-discriminative and quadratically explosive, and its true pairs
  * still surface through their other 7 bands), with an event-time TTL
  * so abandoned buckets vanish at the watermark. State size is
  * O(active buckets x cap x 16 bytes), independent of stream length.
  */
object StreamNearDup {

  case class BandRow(band: Int, bh: Long, doc_id: Long,
                     ts: java.sql.Timestamp)
  case class BucketState(ids: List[(Long, Long)]) // (doc_id, tsMs), newest first
  case class Cand(id_a: Long, id_b: Long, band: Int,
                  ts: java.sql.Timestamp)

  val BucketCap = 64
  val TtlMs: Long = 60 * 60 * 1000L

  /** A doc's distinct 3-word shingle hashes in ascending order, from the
    * batch dedup scan kernel (`shingle3_hashes`,
    * [[graft.functions.Shingle3Kernel]]: bit-identical to the
    * split/concat_ws/xxhash64 chain); empty for a doc of fewer than 3
    * tokens. */
  def shingleSet(text: Column): Column =
    array_sort(array_distinct(call_function("shingle3_hashes", text)))

  /** LSH band rows for a (doc_id, ts, text) stream — same hash family
    * as the batch minhashLsh (`minhash_sig` and `shingle3_hashes` come
    * with the session's registered SQL surface, [[graft.GraftSession]]). */
  def bandRows(spark: SparkSession, docs: DataFrame): Dataset[BandRow] = {
    import spark.implicits._
    val numHashes = 32
    val rowsPerBand = 4
    docs
      .select(col("doc_id"), col("ts"), shingleSet(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .withColumn("sig", call_function("minhash_sig", col("shs")))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), lit(numHashes / rowsPerBand - 1))).as("band"),
        col("sig"))
      .withColumn("bh", xxhash64(
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
      .select(col("band"), col("bh"), col("doc_id"), col("ts"))
      .as[BandRow]
  }

  /** Candidate near-dup pairs from stateful LSH buckets. Input needs
    * (doc_id, ts, text); output pairs carry the arriving doc's event
    * time so callers can watermark/dedup downstream. */
  def nearDupCandidates(spark: SparkSession, docs: DataFrame,
                        horizon: String = "1 hour"): Dataset[Cand] = {
    import spark.implicits._
    bandRows(spark, docs)
      .withWatermark("ts", horizon)
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BucketState, Cand](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            var ids = state.getOption.map(_.ids).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer[Cand]()
            var newest = 0L
            for (r <- sorted) {
              val t = r.ts.getTime
              newest = math.max(newest, t)
              if (ids.length < BucketCap) {
                for ((prev, _) <- ids if prev != r.doc_id)
                  out += Cand(math.min(prev, r.doc_id),
                    math.max(prev, r.doc_id), key._1, r.ts)
              } // over-full bucket: stop pairing (batch mega-bucket rule)
              if (!ids.exists(_._1 == r.doc_id))
                ids = ((r.doc_id, t) :: ids).take(BucketCap)
            }
            if (ids.nonEmpty) {
              state.update(BucketState(ids))
              if (newest > 0L) state.setTimeoutTimestamp(newest + TtlMs)
            }
            out.iterator
          }
      }
  }

  /** Candidates with cross-band duplicates dropped within the horizon —
    * the stream a verification join consumes.
    *
    * Spark's global-watermark correctness check flags ANY stateful op
    * downstream of flatMapGroupsWithState, because a state function
    * could emit rows older than the watermark. This one cannot: every
    * candidate carries the ARRIVING row's event time, and arriving rows
    * are already watermark-filtered upstream — so callers may disable
    * the (conservative) check for this query:
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`. */
  def nearDupPairs(spark: SparkSession, docs: DataFrame,
                   horizon: String = "1 hour"): DataFrame =
    nearDupCandidates(spark, docs, horizon)
      .select(col("id_a"), col("id_b"), col("ts"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
}
