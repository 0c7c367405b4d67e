package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Training-data quality filtering over `documents` — the Gopher/C4
  * family of heuristics a 100 TB text pipeline runs before anything
  * else (ref: Rae et al. 2021 "Scaling Language Models" App. A;
  * Raffel et al. 2020 C4 §2.2 — public papers, not the reference
  * engine, which has no text-quality surface).
  *
  * Two deliberately different plan shapes:
  *   - [[qualityFilters]] / [[qualitySummary]] / [[regexScrub]] are
  *     PURE SCANS — every signal is a column expression over the
  *     token array (whole-stage codegen, zero shuffle, zero explode);
  *     the per-document row count never leaves the executor that read
  *     it. This is the shape that survives 100 TB untouched.
  *   - [[repetition]] / [[bm25]] go through explode + hash aggregate —
  *     the shape for signals that need per-term state (top-term
  *     fraction, document frequency). Partial aggregation keeps the
  *     shuffle at (doc, term)-distinct size, not token-occurrence size.
  */
object Quality {

  private val stops = Seq("the", "a", "an", "and", "or", "of", "in",
    "on", "to", "is")

  private def toks: Column = split(col("text"), " ")

  /** Sum of token lengths via a fold over the array — no explode, no
    * shuffle; stays inside codegen. */
  private def charSum: Column =
    expr("aggregate(transform(split(text, ' '), x -> length(x)), 0, (a, x) -> a + x)")

  /** Per-document Gopher-style quality signals + the keep verdict:
    * word count in [20, 200], mean word length in [3, 8], at least one
    * stopword. Pure scan — no shuffle at any scale. */
  def qualityFilters(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(toks).as("n_words"),
        round(charSum.cast("double") / size(toks), 4).as("mean_wlen"),
        size(filter(toks, t => t.isin(stops: _*))).as("stop_hits"))
      .withColumn("keep",
        col("n_words") >= 20 && col("n_words") <= 200 &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 8.0 &&
          col("stop_hits") >= 1)
      .orderBy("doc_id")

  /** Corpus health per (lang, source): document counts and keep rate
    * under the [[qualityFilters]] verdict — the per-subcorpus triage
    * table a pipeline reviews before dropping a crawl source. Scan +
    * one small aggregate. */
  def qualitySummary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(toks).as("n_words"),
        round(charSum.cast("double") / size(toks), 4).as("mean_wlen"),
        size(filter(toks, t => t.isin(stops: _*))).as("stop_hits"))
      .withColumn("keep",
        col("n_words") >= 20 && col("n_words") <= 200 &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 8.0 &&
          col("stop_hits") >= 1)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        round(avg(when(col("keep"), 1.0).otherwise(0.0)), 4).as("keep_rate"))
      .orderBy("lang", "source")

  /** Repetition signals per document (the Gopher repetition filters):
    * top-term fraction, distinct-token ratio, duplicate-bigram
    * fraction. Explode + two hash aggregates — partial aggregation
    * collapses each partition to (doc, term)-distinct rows before the
    * shuffle, so shuffle volume is vocabulary-shaped, not
    * token-occurrence-shaped. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // tokens/bigrams are hashed to 8-byte longs INSIDE the transform
    // lambda (the Jaccard-shingle trick): the explode+groupBy shuffles
    // primitive longs, not word strings — the counts are identical
    // (collisions at ~2^-40 per doc are immaterial; the DuckDB oracle
    // groups the strings and hash-matches)
    val tf = docs
      .select(col("doc_id"),
        explode(expr("transform(split(text, ' '), t -> xxhash64(t))"))
          .as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val wordStats = tf.groupBy("doc_id").agg(
      round(max("c").cast("double") / sum("c"), 4).as("top_word_frac"),
      round(count(lit(1)).cast("double") / sum("c"), 4)
        .as("distinct_token_ratio"))
    val bgStats = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> xxhash64(concat(element_at(t, i), ' ', element_at(t, i + 1))))"""))
        .as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        round((sum("c") - count(lit(1))).cast("double") / sum("c"), 4)
          .as("dup_bigram_frac"))
    wordStats.join(bgStats, "doc_id")
      .select("doc_id", "top_word_frac", "distinct_token_ratio",
        "dup_bigram_frac")
      .orderBy("doc_id")
  }

  /** PII-shaped regex scrub: count pattern hits, distinct matched
    * terms, and a corpus checksum of the REDACTED text (md5-lower-64
    * XOR-fold, the same engine-portable checksum as sources_roundtrip).
    * The pattern sits in the Java-regex / RE2 common subset (\b,
    * classes, bounded repeats) so both engines match identically; the
    * synthetic corpus has no emails/phones, so the demonstration
    * pattern masks the s-initial word class — swap the literal for the
    * email/phone alternation in production. Pure scan, one tiny agg. */
  def regexScrub(s: SparkSession, d: String): DataFrame = {
    val pat = "\\bs[a-z]{3,}\\b"
    val docs = Tables.documents(s, d)
    // one scan for the additive signals (match count + redacted
    // checksum), a second scan's explode only for the distinct-term
    // set — keeping them separate avoids per-term duplication of the
    // per-document values (and keeps zero-match docs in the checksum)
    val base = docs
      .select(
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("nm"),
        md5(regexp_replace(col("text"), pat, "<MASK>")).as("hx"))
      // the masked-63-bit parity hash (XOR of masked values equals the
      // masked XOR the oracle computes, since bit 63 is dropped anyway)
      .withColumn("h", graft.util.Md5Lower64.of("hx"))
      .agg(
        sum("nm").cast("bigint").as("n_matches"),
        expr("bit_xor(h)").as("redacted_checksum"))
    val termSet = docs
      .select(explode(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .as("term"))
      .agg(countDistinct("term").as("n_distinct_terms"))
    base.crossJoin(termSet)
      .select("n_matches", "n_distinct_terms", "redacted_checksum")
  }

  /** BM25 top-20 for the fixed keyword query {spark, table, join}
    * (k1 = 1.2, b = 0.75). idf and the length-norm factor are
    * quantized to 6 decimals BEFORE the product (the tf-idf trick) so
    * the score doubles fold identically across engines. Plan: the tf
    * explode filters to query terms AT THE SCAN (a 3-term isin — at
    * 100 TB this is the posting-list fetch), the df/idf side is
    * term-count-sized and broadcast, and the final top-20 is a
    * TakeOrdered, not a global sort. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val (tf, stats) =
      bm25TfDl(Tables.documents(s, d), Seq("spark", "table", "join"))
    bm25Score(tf, stats)
      .select(col("doc_id"), col("r4").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  /** The brute (explode-the-corpus) tf derivation for [[bm25Score]]:
    * per-(doc, term) counts carrying the doc length, plus the 1-row
    * corpus stats frame. Shared with [[Retrieval]]'s hybrid lexical
    * leg; the posting-layout leg derives the same-schema tf frame from
    * its pruned scan instead. */
  private[operators] def bm25TfDl(docs: DataFrame,
                                  terms: Seq[String]): (DataFrame, DataFrame) = {
    val dl = docs.select(col("doc_id"), size(toks).as("dl"))
    val stats = dl.agg(
      round(avg("dl"), 6).as("avgdl"),
      count(lit(1)).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(toks).as("term"), size(toks).as("dl"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    (tf, stats)
  }

  /** THE quantized BM25 arithmetic — one copy serving `text_bm25`, the
    * hybrid brute leg, and the posting-layout leg. `tfdl` rows:
    * (doc_id, term, tf, dl); `stats`: 1 row (avgdl, n). idf and the
    * length norm are rounded to 6 decimals BEFORE the product so the
    * score doubles fold identically across engines; output (doc_id,
    * r4) with the score rounded to 4. */
  private[operators] def bm25Score(tfdl: DataFrame,
                                   stats: DataFrame): DataFrame =
    bm25Contrib(tfdl, stats)
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("r4"))
      .select("doc_id", "r4")

  /** Per-(doc, term) BM25 contribution rows — the one quantized
    * arithmetic shared by [[bm25Score]] and [[bm25BatchCandidates]]. df
    * is a per-TERM corpus property (counted once from the union tf
    * frame, never per query — a term shared by two queries must not
    * double its document frequency). */
  private[operators] def bm25Contrib(tfdl: DataFrame, stats: DataFrame): DataFrame =
    // df as a term-partitioned WINDOW (r14 opt): the former
    // groupBy(term)+broadcast-join consumed `tfdl` twice, and every
    // caller's tfdl is the expensive part — the brute legs re-ran the
    // full corpus explode for the df branch, the posting leg re-ran its
    // pruned fetch (branch-specific pruning makes the two exchanges
    // non-reusable). The window attaches the identical df integer in
    // one pass; idf's doubles are unchanged (same integer inputs, same
    // formula, same round), so every score downstream is bit-identical.
    tfdl
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      .withColumn("norm",
        round(lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")), 6))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(2.2) / (col("tf") + col("norm")))
      .select(col("doc_id"), col("term"), col("contrib"))

  /** BM25 per (query, doc) over a query BATCH, ranked: `tfdl` is the
    * union term set's (doc_id, term, tf, dl) frame (posting fetch or
    * brute derivation), `queries` the bounded (query_id, terms) batch;
    * emits at most `k` (−r4, doc_id)-lowest (query_id, doc_id, r4) rows
    * per query per partition for the caller's rank tail.
    *
    * SHAPE (r14 optimization): the r13 form broadcast-joined a
    * (query_id, term) table onto the contribution rows (×~|queries·
    * terms|/|terms| fan-out) and aggregated by (query_id, doc_id) — at
    * 100 queries × 100x corpus that aggregate had ~20M groups and its
    * partial hash maps spilled 4.5 GB (the largest spill in the bench
    * archive). Here the engine keeps everything up to the per-(doc,
    * term) contribution rows ([[bm25Contrib]] + the term-index join,
    * codegen'd); one partition kernel then streams the rows
    * doc-clustered (repartition(doc_id) + sortWithinPartitions — one
    * hash exchange of |docs-with-any-term| rows), folds each doc's
    * contributions into a |terms| slot array (unique per (doc, term)),
    * scores each query by `round(sum of its slots, 4)` (fastRound — the
    * engine's own round), summed from 0.0 in ascending slot order and a
    * repeated term once per occurrence, as the fan-out join counts it,
    * keeps a (query, doc) row iff ≥ 1 of the query's terms matched, and
    * holds per-query top-k ([[graft.functions.TopKOrderedAgg.Buffers]])
    * with the final's own key (−round(r4, 6) == −r4: a 4-dp value
    * re-rounds to itself). Every global top-k member therefore survives
    * its partition, and the downstream rank tail is row-identical to
    * ranking the full scored frame (BatchLegTwinSpec checks 1-, 2- and
    * 3-term batches against the slot-aggregate and fan-out forms). */
  private[operators] def bm25BatchCandidates(tfdl: DataFrame,
                                             queries: Seq[(Long, Seq[String])],
                                             stats: DataFrame,
                                             k: Int): DataFrame = {
    import graft.functions.{TopKOrderedAgg, VectorKernels}
    val sess = tfdl.sparkSession
    import sess.implicits._
    val terms = queries.flatMap(_._2).distinct.sorted
    val ti = terms.zipWithIndex.toMap
    val nT = terms.size
    val tiDf = terms.zipWithIndex.toDF("term", "ti")
    val qIds: Array[Long] = queries.map(_._1).toArray
    val qSlots: Array[Array[Int]] =
      queries.map { case (_, ts) => ts.map(ti).sorted.toArray }.toArray
    val pow4 = math.pow(10.0, 4)
    bm25Contrib(tfdl, stats)
      .join(broadcast(tiDf), "term")
      .select(col("doc_id"), col("ti"), col("contrib"))
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .toDF("_1", "_2", "_3")
      .as[(Long, Int, Double)]
      .mapPartitions { it =>
        val top = new TopKOrderedAgg.Buffers(qIds.length, k)
        val slots = new Array[Double](nT)
        val has = new Array[Boolean](nT)
        val touched = new Array[Int](nT)
        var nTouched = 0
        var curDoc = 0L
        var open = false
        def closeDoc(): Unit = {
          var qi = 0
          while (qi < qSlots.length) {
            val is = qSlots(qi)
            var hit = false
            var sum = 0.0
            var j = 0
            while (j < is.length) {
              if (has(is(j))) { hit = true; sum += slots(is(j)) }
              j += 1
            }
            if (hit) {
              val r4 = VectorKernels.fastRound(sum, pow4, 4)
              top.offer(qi, -r4, curDoc, r4)
            }
            qi += 1
          }
          var t = 0
          while (t < nTouched) { has(touched(t)) = false; t += 1 }
          nTouched = 0
        }
        while (it.hasNext) {
          val (doc, slot, contrib) = it.next()
          if (!open || doc != curDoc) {
            if (open) closeDoc()
            curDoc = doc; open = true
          }
          slots(slot) = contrib
          if (!has(slot)) { has(slot) = true; touched(nTouched) = slot; nTouched += 1 }
        }
        if (open) closeDoc()
        top.emit((qi, _, doc, r4) => (qIds(qi), doc, r4))
      }
      .toDF("query_id", "doc_id", "r4")
  }

  /** GPT-style sequence packing: documents are concatenated in
    * deterministic (doc_id) order and chunked into 2048-token training
    * sequences; a document belongs to the pack where its first token
    * lands. Packing runs PER LANGUAGE — the cumulative sum is a
    * window PARTITIONED by lang, so no global single-partition window
    * exists and each subcorpus packs independently (exactly how a
    * 100 TB pipeline shards packing: deterministic within shard,
    * embarrassingly parallel across shards). */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val seqLen = 2048
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), size(toks).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $seqLen"))
      .groupBy("lang", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("lang", "pack_id")
  }

  /** Deterministic in-repo logistic fit (distillation): labels are the
    * [[qualityFilters]] Gopher keep verdicts, features the four scan
    * signals; plain full-batch gradient descent on standardized
    * features (400 iterations, lr 0.5, zero init — no randomness
    * anywhere), standardization folded back into raw-feature weights,
    * quantized at 6dp so they interpolate into the DuckDB oracle
    * exactly (the LSH-plane/codebook convention). The sample is
    * BOUNDED and deterministic — 2 000 rows by hashed doc_id — so the
    * driver-side work is constant at any corpus size (the IVF-codebook
    * argument, `Similarity.trainCodebook`). */
  private[graft] def fitClassifier(s: SparkSession, d: String): Array[Double] = {
    val sample = Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks).as("n_words"),
        round(charSum.cast("double") / size(toks), 4).as("mean_wlen"),
        round(size(filter(toks, t => t.isin(stops: _*))).cast("double")
          / size(toks), 4).as("stop_ratio"),
        round((length(col("text")) - length(regexp_replace(col("text"),
          "[\\.,;:!\\?]", ""))).cast("double") / length(col("text")), 4)
          .as("punct_ratio"),
        size(filter(toks, t => t.isin(stops: _*))).as("stop_hits"))
      .withColumn("label",
        (col("n_words") >= 20 && col("n_words") <= 200 &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 8.0 &&
          col("stop_hits") >= 1).cast("int"))
      .withColumn("hk", xxhash64(col("doc_id")))
      .orderBy("hk").limit(2000)
      .select("n_words", "mean_wlen", "stop_ratio", "punct_ratio", "label")
      .collect()
    val n = sample.length
    val dims = 4
    val xs = Array.tabulate(n) { i =>
      val r = sample(i)
      Array(r.getInt(0).toDouble, r.getDouble(1), r.getDouble(2),
        r.getDouble(3))
    }
    val ys = Array.tabulate(n)(i => sample(i).getInt(4).toDouble)
    // standardize (fixed sample order -> deterministic sums)
    val mu = new Array[Double](dims); val sd = new Array[Double](dims)
    var j = 0
    while (j < dims) {
      var m = 0.0; var i = 0
      while (i < n) { m += xs(i)(j); i += 1 }
      m /= n
      var v = 0.0; i = 0
      while (i < n) { val t = xs(i)(j) - m; v += t * t; i += 1 }
      mu(j) = m; sd(j) = math.max(math.sqrt(v / n), 1e-9)
      j += 1
    }
    val w = new Array[Double](dims); var b = 0.0
    val lr = 0.5
    var it = 0
    while (it < 400) {
      val gw = new Array[Double](dims); var gb = 0.0
      var i = 0
      while (i < n) {
        var t = b; var k = 0
        while (k < dims) { t += w(k) * (xs(i)(k) - mu(k)) / sd(k); k += 1 }
        val p = 1.0 / (1.0 + math.exp(-t))
        val e = p - ys(i)
        k = 0
        while (k < dims) { gw(k) += e * (xs(i)(k) - mu(k)) / sd(k); k += 1 }
        gb += e
        i += 1
      }
      var k = 0
      while (k < dims) { w(k) -= lr * gw(k) / n; k += 1 }
      b -= lr * gb / n
      it += 1
    }
    // fold standardization back into raw-feature space and quantize
    val raw = new Array[Double](dims + 1)
    var k = 0; var b0 = b
    while (k < dims) {
      raw(k + 1) = math.rint(w(k) / sd(k) * 1e6) / 1e6
      b0 -= w(k) * mu(k) / sd(k)
      k += 1
    }
    raw(0) = math.rint(b0 * 1e6) / 1e6
    raw
  }

  /** Model-based quality filter (the CCNet/Gopher "trained classifier"
    * stage; Wenzek et al. 2020 §4.4 score with a fasttext-like linear
    * model): a logistic score over the scan-computed signals with
    * weights from [[fitClassifier]] — a deterministic in-repo logistic
    * fit distilled from the Gopher-filter verdicts (no external
    * training stack; weights traceable to the fit and interpolated
    * into the oracle as literals). The 100 TB shape: model scoring is
    * ONE broadcast weight vector applied in a pure scan — zero
    * shuffle, whole-stage codegen — then a tiny per-(lang, source)
    * aggregate for the triage table; the bounded fit sample keeps
    * training cost constant at any corpus size. The keep decision is
    * made on the 1e-6-quantized LINEAR term (t > 0 is exactly
    * score > 0.5), never on the sigmoid output, so the only
    * transcendental (exp) touches reporting columns already quantized
    * — exact oracle. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame =
    qualityClassifierWith(s, d, fitClassifier(s, d))

  /** [[qualityClassifier]] under the given weights (intercept, n_words,
    * mean_wlen, stop_ratio, punct_ratio). */
  private[graft] def qualityClassifierWith(s: SparkSession, d: String,
                                           wts: Array[Double]): DataFrame = {
    val base = Tables.documents(s, d).select(col("lang"), col("source"),
      size(toks).as("n_words"),
      round(charSum.cast("double") / size(toks), 4).as("mean_wlen"),
      round(size(filter(toks, t => t.isin(stops: _*))).cast("double")
        / size(toks), 4).as("stop_ratio"),
      round((length(col("text")) - length(regexp_replace(col("text"),
        "[\\.,;:!\\?]", ""))).cast("double") / length(col("text")), 4)
        .as("punct_ratio"))
    base
      .withColumn("t", round(lit(wts(0)) + col("n_words") * lit(wts(1))
        + col("mean_wlen") * lit(wts(2)) + col("stop_ratio") * lit(wts(3))
        + col("punct_ratio") * lit(wts(4)), 6))
      // integer score units (1e-4): summing 4dp-rounded DOUBLES put a
      // group average exactly on a 4dp rounding boundary at sf0.01 and
      // the engines' accumulated float dust split the round — integer
      // sums + explicit half-up integer division are order-free
      // sigmoid quantized at 6dp BEFORE the integer round (the
      // quantize-before-compare convention): a 1-ulp cross-engine exp()
      // difference at an exact .5 boundary can no longer flip the unit
      .withColumn("score4",
        round(round(lit(10000.0) / (lit(1.0) + exp(-col("t"))), 6))
          .cast("bigint"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("t") > 0, 1L).otherwise(0L)).as("n_keep"),
        sum("score4").as("s4"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_keep"),
        round(col("n_keep").cast("double") / col("n_docs"), 4)
          .as("keep_rate"),
        (expr("(2 * s4 + n_docs) div (2 * n_docs)").cast("double")
          / 10000.0).as("avg_score"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_classifier" -> (qualityClassifier _),
    "text_pack_sequences" -> (packSequences _),
    "text_quality_filters" -> (qualityFilters _),
    "text_quality_summary" -> (qualitySummary _),
    "text_repetition" -> (repetition _),
    "text_regex_scrub" -> (regexScrub _),
    "text_bm25" -> (bm25 _))

  /** Oracles of dataset `d`: the classifier oracle interpolates the
    * weights [[fitClassifier]] fits on `d`, the fit its query scores
    * with. */
  def oracles(s: SparkSession, d: String): Map[String, String] =
    oraclesWith(fitClassifier(s, d))

  /** The oracle map, its classifier entry under weights `w`. */
  private def oraclesWith(w: Array[Double]): Map[String, String] = Map(
    "text_quality_classifier" ->
      s"""WITH sig AS (
           SELECT lang, source, len(toks) AS n_words,
             round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / len(toks), 4) AS mean_wlen,
             round(CAST(len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','or','of','in','on','to','is'], x)))
               AS DOUBLE) / len(toks), 4) AS stop_ratio,
             round(CAST(length(text) - length(regexp_replace(text,
               '[\\.,;:!\\?]', '', 'g')) AS DOUBLE) / length(text), 4)
               AS punct_ratio
           FROM (SELECT lang, source, text,
                   string_split(text, ' ') AS toks FROM documents)),
         sc AS (
           SELECT lang, source,
             round((${w(0)}) + n_words * (${w(1)}) + mean_wlen * (${w(2)})
               + stop_ratio * (${w(3)}) + punct_ratio * (${w(4)}), 6) AS t
           FROM sig),
         s2 AS (
           SELECT lang, source, t,
             CAST(round(round(10000.0 / (1.0 + exp(-t)), 6)) AS BIGINT)
               AS score4
           FROM sc),
         g AS (
           SELECT lang, source, count(*) AS n_docs,
             CAST(sum(CASE WHEN t > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
             CAST(sum(score4) AS BIGINT) AS s4
           FROM s2 GROUP BY 1, 2)
         SELECT lang, source, n_docs, n_keep,
           round(CAST(n_keep AS DOUBLE) / n_docs, 4) AS keep_rate,
           CAST((2 * s4 + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0
             AS avg_score
         FROM g ORDER BY 1, 2""",
    "text_pack_sequences" ->
      """WITH t AS (
           SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         c AS (
           SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM t)
         SELECT lang, (cum - n_tokens) // 2048 AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_quality_filters" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         sig AS (
           SELECT doc_id, len(toks) AS n_words,
             round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / len(toks), 4) AS mean_wlen,
             len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','or','of','in','on','to','is'], x)))
               AS stop_hits
           FROM t)
         SELECT doc_id, n_words, mean_wlen, stop_hits,
           (n_words >= 20 AND n_words <= 200 AND mean_wlen >= 3.0
            AND mean_wlen <= 8.0 AND stop_hits >= 1) AS keep
         FROM sig ORDER BY doc_id""",
    "text_quality_summary" ->
      """WITH t AS (
           SELECT lang, source, string_split(text, ' ') AS toks
           FROM documents),
         sig AS (
           SELECT lang, source, len(toks) AS n_words,
             round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / len(toks), 4) AS mean_wlen,
             len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','or','of','in','on','to','is'], x)))
               AS stop_hits
           FROM t),
         k AS (
           SELECT lang, source,
             (n_words >= 20 AND n_words <= 200 AND mean_wlen >= 3.0
              AND mean_wlen <= 8.0 AND stop_hits >= 1) AS keep
           FROM sig)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 4) AS keep_rate
         FROM k GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_repetition" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         wordstats AS (
           SELECT doc_id,
             round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_word_frac,
             round(CAST(count(*) AS DOUBLE) / sum(c), 4)
               AS distinct_token_ratio
           FROM tf GROUP BY 1),
         bg AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 1])) AS bigram
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents)),
         bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
         bgstats AS (
           SELECT doc_id,
             round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 4)
               AS dup_bigram_frac
           FROM bgc GROUP BY 1)
         SELECT w.doc_id, w.top_word_frac, w.distinct_token_ratio,
           b.dup_bigram_frac
         FROM wordstats w JOIN bgstats b ON w.doc_id = b.doc_id
         ORDER BY w.doc_id""",
    "text_regex_scrub" ->
      """WITH base AS (
           SELECT
             CAST(sum(len(regexp_extract_all(text, '\bs[a-z]{3,}\b')))
               AS BIGINT) AS n_matches,
             CAST(bit_xor(md5_number_lower(
               regexp_replace(text, '\bs[a-z]{3,}\b', '<MASK>', 'g'))
               & 9223372036854775807) AS BIGINT) AS redacted_checksum
           FROM documents),
         t AS (
           SELECT count(DISTINCT term) AS n_distinct_terms
           FROM (SELECT unnest(regexp_extract_all(text, '\bs[a-z]{3,}\b'))
                   AS term
                 FROM documents))
         SELECT base.n_matches, t.n_distinct_terms, base.redacted_checksum
         FROM base CROSS JOIN t""",
    "text_bm25" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM d),
         stats AS (SELECT round(avg(dl), 6) AS avgdl, count(*) AS n FROM dl),
         tf AS (
           SELECT doc_id, tok AS term, count(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
           WHERE tok IN ('spark', 'table', 'join') GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
             round(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
           FROM df CROSS JOIN stats),
         sc AS (
           SELECT tf.doc_id,
             sum(idf.idf * tf.tf * 2.2 / (tf.tf
               + round(1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl), 6)))
               AS score
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats
           GROUP BY 1)
         SELECT doc_id, round(score, 4) AS bm25
         FROM sc ORDER BY round(score, 4) DESC, doc_id LIMIT 20""")
}
