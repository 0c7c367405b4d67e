package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Text analysis for training-data pipelines over `documents`:
  * quality scoring, token counting (whitespace + BPE-ish regex + a
  * LEARNED BPE tokenizer with a deterministic in-repo learner),
  * stopword-profile language ID, and document fingerprinting.
  *
  * Every metric is a pure column expression (whole-stage codegen, no
  * UDFs) so the same pipeline runs unchanged over 100 TB of text: one
  * scan, map-side expressions, one small aggregate at the end where the
  * query calls for it.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "in",
    "on", "to", "is", "are", "was", "for", "with", "by", "at", "from")

  /** Per-document stats + a quality score:
    * quality = 0.4*stopword_ratio + 0.3*min(1, n_tokens/50) +
    *           0.3*(1 - punct_ratio). */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = size(split(col("text"), " "))
    val stopHits = size(filter(split(col("text"), " "),
      t => t.isin(stopwords: _*)))
    val punct = length(col("text")) -
      length(regexp_replace(col("text"), "[\\.,;:!\\?]", ""))
    docs.select(
      col("doc_id"),
      toks.as("n_tokens"),
      round(stopHits.cast("double") / toks, 4).as("stop_ratio"),
      round(punct.cast("double") / length(col("text")), 4).as("punct_ratio"),
      round(
        lit(0.4) * (stopHits.cast("double") / toks) +
          lit(0.3) * least(lit(1.0), toks.cast("double") / 50) +
          lit(0.3) * (lit(1.0) - punct.cast("double") / length(col("text"))),
        4).as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting, whitespace vs BPE-ish regex (word pieces +
    * punctuation as separate tokens), aggregated corpus-wide. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        size(split(col("text"), " ")).as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
          .as("bpe"))
      .agg(
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"),
        round(avg("bpe"), 4).as("avg_bpe_per_doc"))

  /** Stopword-profile language ID (n-gram-free heuristic): score each
    * language by marker-word hits, predict the argmax (en beats de beats
    * fr on ties via the fixed comparison order). */
  def langId(s: SparkSession, d: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "and", "of", "is", "with"),
      "de" -> Seq("der", "die", "und", "ist", "mit"),
      "fr" -> Seq("le", "la", "et", "est", "avec"))
    def score(lang: String) =
      size(filter(split(col("text"), " "), t => t.isin(markers(lang): _*)))
    Tables.documents(s, d)
      .withColumn("s_en", score("en"))
      .withColumn("s_de", score("de"))
      .withColumn("s_fr", score("fr"))
      .withColumn("pred",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .groupBy("pred", "lang")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("pred", "lang")
  }

  /** Content-defined fingerprint: md5 of the sorted distinct word set —
    * order-insensitive near-exact dedup key (the rolling/poly-hash
    * variants live in Dedup.simhash/minhashLsh). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
          .as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .agg(
        count(lit(1)).as("n_fingerprints"),
        sum(when(col("n_docs") > 1, col("n_docs") - 1).otherwise(0))
          .as("n_shadowed"))

  /** Bounded per-doc top-k of (score desc, term asc) as a MERGEABLE
    * partial+final aggregate — the scale-correct form of
    * `row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
    * <= k` (the [[graft.operators.Similarity]] `topk_ordered` shape with a
    * string payload): the window shuffled and externally SORTED every
    * scored (doc, term) row — measured 3 GB spill / 1 GB peak task
    * memory at the 1000x probe — where this keeps at most k pairs per
    * doc per partition, so the exchange carries k-bounded states. */
  private[graft] final class TopKTerms(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, String), Array[(Double, String)], Array[(String, Double)]] {
    @inline private def before(x: (Double, String), y: (Double, String)) =
      x._1 > y._1 || (x._1 == y._1 && x._2 <= y._2)
    def zero: Array[(Double, String)] = Array.empty
    def reduce(buf: Array[(Double, String)],
               x: (Double, String)): Array[(Double, String)] = {
      val n = buf.length
      if (n == cap && before(buf(n - 1), x)) buf
      else {
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (before(buf(mid), x)) lo = mid + 1 else hi = mid
        }
        val outN = math.min(n + 1, cap)
        val out = new Array[(Double, String)](outN)
        System.arraycopy(buf, 0, out, 0, math.min(lo, outN))
        if (lo < outN) {
          out(lo) = x
          System.arraycopy(buf, lo, out, lo + 1, outN - lo - 1)
        }
        out
      }
    }
    def merge(a: Array[(Double, String)],
              b: Array[(Double, String)]): Array[(Double, String)] = {
      val outN = math.min(a.length + b.length, cap)
      val out = new Array[(Double, String)](outN)
      var i = 0; var j = 0; var k = 0
      while (k < outN) {
        out(k) =
          if (j >= b.length ||
            (i < a.length && before(a(i), b(j)))) { val t = a(i); i += 1; t }
          else { val t = b(j); j += 1; t }
        k += 1
      }
      out
    }
    def finish(buf: Array[(Double, String)]): Array[(String, Double)] =
      buf.map(t => (t._2, t._1))
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[(Double, String)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[(Double, String)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[(String, Double)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[(String, Double)]]()
  }

  /** Top-3 terms per document by tf-idf (idf = ln(N/df), natural log).
    * idf is quantized to 6 decimals BEFORE the tf*idf product, so the
    * ranking doubles are bit-identical across engines (the only
    * cross-engine float risk would be the last ulp of ln, which the
    * quantization absorbs). One term explode + two hash aggregates +
    * one broadcast-size df join + a k-bounded [[TopKTerms]] top-k —
    * the scan-shaped plan that runs unchanged over a 100 TB corpus. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val top3 = udaf(new TopKTerms(3),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, String)]())
    // df as a term-partitioned WINDOW over the tf frame, not a separate
    // groupBy(term)+join (r14 opt): the two consumers of `tf` (the df
    // aggregate and the join's probe side) each re-ran the corpus
    // explode + (doc_id, term) exchange — Spark prunes the branches
    // differently, so their exchanges are not even reusable — and the
    // vocabulary-sized sort-merge join was the query's one spilling
    // stage (52-126 MB at the 100x probe). count(*) over (partition by
    // term) attaches the identical integer on the one exchange the join
    // needed anyway.
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("idf", round(log(lit(nDocs.toDouble) / col("df")), 6))
      .withColumn("score", col("tf") * col("idf"))
      .groupBy("doc_id")
      .agg(top3(col("score"), col("term")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("doc_id"), (col("pos") + 1).as("rank"),
        col("p._1").as("term"), round(col("p._2"), 4).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Exact token-count quantiles per language — Spark's sort-based
    * `percentile` (linear interpolation, same definition as DuckDB's
    * quantile_cont). Per-group state is the value multiset; for a
    * 100 TB corpus swap in approx_percentile (t-digest, mergeable,
    * bounded memory) — this entry keeps the exact variant because the
    * oracle demands exactness. */
  def lengthQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).as("n_tokens"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_tokens, 0.25)"), 4).as("p25"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_tokens, 0.75)"), 4).as("p75"),
        round(expr("percentile(n_tokens, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_tokens, 0.99)"), 4).as("p99"))
      .orderBy("lang")

  /** Deterministic 10% stratified sample per language: docs are ordered
    * within each stratum by an engine-portable pseudo-random key (md5 of
    * the decimal doc_id — identical string in any engine) and the first
    * ceil(n/10) kept. Exact-k per stratum needs the per-stratum sort;
    * at 100 TB trade exact-k for a hash-threshold filter (keep iff
    * hash < p * 2^64) — a pure scan with no window, same sample in
    * expectation. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val byLang = Window.partitionBy("lang")
    val w = byLang.orderBy(col("hk"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("hk"))
      .withColumn("sample_rank", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byLang))
      .filter(col("sample_rank") <= ceil(col("n") / lit(10.0)))
      .select(col("lang"), col("sample_rank"), col("doc_id"))
      .orderBy("lang", "sample_rank")
  }

  /** Weighted sampling without replacement (Efraimidis-Spirakis 2006) —
    * the data-mixing sampler a training pipeline uses to draw documents
    * proportional to a weight (here n_chars): each doc gets key =
    * ln(u)/w with u a uniform from the engine-portable md5 hash, and
    * the k LARGEST keys are the weighted sample. One scan + a
    * TakeOrdered top-k (per-partition heads merged on the driver — no
    * global sort), deterministic at any parallelism, so the same draw
    * reproduces on any cluster and the oracle replays it exactly. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val k = 50
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("hx"))
      .withColumn("h", graft.util.Md5Lower64.of("hx"))
      // u in (0, 1]: (h+1)/2^63 with the +1 in the DOUBLE domain — a
      // bigint h+1 would overflow at h = 2^63-1 (Spark wraps silently,
      // DuckDB errors: divergent). key = ln(u)/w, maximized (E-S with
      // the log transform — monotone in u^(1/w))
      .withColumn("es_key", round(
        log((col("h").cast("double") + 1) / lit(9.223372036854775808e18))
          / col("n_chars"), 9))
    // TakeOrdered top-k FIRST (per-partition heads, no global sort /
    // single-partition window over the corpus); the rank window then
    // runs on k rows only
    keyed.orderBy(col("es_key").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("es_key").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("n_chars").as("weight"),
        col("es_key"))
      .orderBy("rank")
  }

  /** Distribution-drift monitor: PSI (population stability index) of
    * each source's token-length distribution against the corpus
    * baseline — the per-ingest data-quality check a training pipeline
    * runs continuously (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25
    * drifted, the standard credit-scoring bands). 10 equal-width
    * integer bins over the global range (the integer-binning trick of
    * sketch_quantile_hist); add-half smoothing keeps empty bins finite
    * and deterministic. Each (p_s - p_b) * ln(p_s / p_b) term is >= 0
    * and quantized at 1e-9 before the 10-term sum (spec pins
    * non-negativity). One scan + two bin-sized aggregates + a
    * bins x sources join — nothing corpus-sized shuffles. */
  def driftPsi(s: SparkSession, d: String): DataFrame = {
    val nb = 10
    val x = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("x"))
      .persist()
    val bounds = x.agg(min("x").as("mn"), max("x").as("mx"))
    val binned = x.crossJoin(broadcast(bounds))
      .select(col("source"), expr(s"((x - mn) * $nb) div (mx - mn + 1)").as("bin"))
    val bins = s.range(nb).select(col("id").cast("long").as("bin"))
    val base = binned.groupBy("bin").agg(count(lit(1)).as("cb"))
      .join(bins, Seq("bin"), "right")
      .select(col("bin"), coalesce(col("cb"), lit(0L)).as("cb"))
      .crossJoin(broadcast(x.agg(count(lit(1)).as("nb_total"))))
    val srcTotals = x.groupBy("source").agg(count(lit(1)).as("ns"))
    val srcBins = binned.groupBy("source", "bin").agg(count(lit(1)).as("cs"))
      .join(srcTotals.crossJoin(bins), Seq("source", "bin"), "right")
      .select(col("source"), col("bin"), col("ns"),
        coalesce(col("cs"), lit(0L)).as("cs"))
    val terms = srcBins.join(base, "bin")
      .withColumn("ps", (col("cs") + lit(0.5))
        / (col("ns") + lit(0.5) * nb))
      .withColumn("pb", (col("cb") + lit(0.5))
        / (col("nb_total") + lit(0.5) * nb))
      .withColumn("term",
        round((col("ps") - col("pb")) * log(col("ps") / col("pb")), 9))
    terms.groupBy("source")
      .agg(max("ns").as("n_docs"), round(sum("term"), 6).as("psi"))
      .select(col("source"), col("n_docs"), col("psi"),
        when(col("psi") < 0.1, lit("stable"))
          .when(col("psi") < 0.25, lit("moderate"))
          .otherwise(lit("drifted")).as("verdict"))
      .orderBy("source")
  }

  /** Unigram language-model surprisal per document: train token
    * probabilities on the corpus itself (one vocabulary-sized agg),
    * score each document by its average -ln p(token). Per-token logs
    * are quantized to 6 decimals before the tf-weighted sum (the tf-idf
    * trick) so the ranking is engine-identical. The perplexity-filter
    * shape of a training pipeline: corpus scan -> vocab agg (broadcast
    * back) -> scan-sized score join, no O(corpus^2) anywhere. */
  def ngramLm(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("tok").agg(sum("tf").as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    val lp = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("total").cast("double") / col("cnt")), 6).as("lp"))
    tf.join(broadcast(lp), "tok")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lp")).as("sc"), sum("tf").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sc") / col("n_tokens"), 4).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** Bigram-LM perplexity bucketing — the CCNet-style quality signal
    * (Wenzek et al. 2020 score with a lightweight LM; the real pipeline
    * uses KenLM 5-grams, the shape is identical): train an add-k bigram
    * model on the corpus itself, score each document's perplexity, and
    * split the corpus into head/middle/tail terciles (head = most
    * fluent, the slice kept for training).
    *
    * p(w2|w1) = (c(w1,w2) + 0.5) / (c(w1) + 0.5 * V); per-bigram logs
    * quantized to 6 decimals (the tf-idf trick) before the tf-weighted
    * sum, perplexity = exp(-S/n) rounded to 4. Terciles come from two
    * interpolated percentile BOUNDARIES broadcast against the scores —
    * a scan + tiny join, NOT a global ntile window (which would
    * single-partition the corpus at 100 TB). Model tables are
    * vocabulary-sized aggregates; nothing is corpus x corpus. */
  def perplexityBuckets(s: SparkSession, d: String): DataFrame = {
    val third = (1.0 / 3).toString
    val twoThird = (2.0 / 3).toString
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val bg = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"""))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
      .persist()
    val c2 = bg.groupBy("w1", "w2").agg(sum("tf").as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = toks.select(explode(col("t")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val lp = c2.join(c1, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("c2") + lit(0.5))
          / (col("c1") + lit(0.5) * col("v"))), 6).as("lp"))
    val scored = bg.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lp")).as("sc"), sum("tf").as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-col("sc") / col("n_bigrams")), 4).as("ppl"))
    val bounds = scored.agg(
      expr(s"percentile(ppl, $third)").as("b1"),
      expr(s"percentile(ppl, $twoThird)").as("b2"))
    scored.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_bigrams"), col("ppl"),
        when(col("ppl") <= col("b1"), lit("head"))
          .when(col("ppl") <= col("b2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** Inverted-index build: term -> document frequency, total
    * occurrences, and the posting list head (first 10 doc ids,
    * ascending). The keyword-search backbone: one explode + one
    * (term, doc) aggregate + one per-term aggregate, both hash
    * partial+final, so the shuffle carries (term, doc)-distinct rows.
    * Posting lists materialize SORTED (sort_array over the collected
    * slice) — at 100 TB the full postings would write out bucketed by
    * term rather than truncating to a head; the head keeps the gate
    * output bounded. */
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val td = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    td.groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("occurrences"),
        concat_ws(",", slice(sort_array(collect_list(col("doc_id"))), 1, 10))
          .as("postings_head"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(50)
  }

  /** Training-mixture budget allocator (UniMax, Chung et al. 2023):
    * given per-source token counts, a total training budget T = 2.5x
    * the corpus, temperature-scaled target weights w_s ∝ n_s^0.5, and an
    * epoch cap C = 2.52 (no source repeats more than 2.52 times; the cap
    * sits slightly ABOVE T/total so the largest source alone can never
    * be cap-bound — the waterfill always has a free remainder), compute the
    * exact waterfilling allocation: sources whose fair share exceeds
    * C·n_s are pinned at the cap and their surplus re-flows to the
    * rest. Closed form instead of UniMax's iterative loop: with
    * alpha < 1 the fair-share-to-cap ratio T'·sqrt(n)/ (Σ'sqrt) / (C·n)
    * is DECREASING in n, so cap-binding sources form a prefix of the
    * n-ascending order — one window pass over cumulative sums finds the
    * boundary (prefix r capped iff the r-th source's share of the
    * post-prefix budget still exceeds its cap). One tiny aggregate per
    * source + one window over the (small by nature) source dimension —
    * the corpus-scale work is only the token count. All comparisons on
    * identically-computed doubles; outputs quantized -> exact oracle. */
  def mixBudget(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n"))
    val wOrd = Window.orderBy(col("n").asc, col("source").asc)
    val enriched = counts
      .withColumn("sq", sqrt(col("n").cast("double")))
      .withColumn("total", sum("n").over(Window.partitionBy()))
      .withColumn("cum_n_before",
        coalesce(sum("n").over(wOrd.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("sq_from",
        sum("sq").over(wOrd.rowsBetween(0, Window.unboundedFollowing)))
      // budget and cap
      .withColumn("t", col("total").cast("double") * 2.5)
      // capped iff, with every smaller source already at cap, this
      // source's proportional share STILL exceeds its own cap; the
      // share-minus-cap difference is quantized at 1e-6 tokens before
      // the comparison (the PSI precedent) so window-accumulation-order
      // float dust cannot flip a near-tie differently per engine
      .withColumn("capped",
        round((col("t") - lit(2.52) * col("cum_n_before")) * col("sq")
          / col("sq_from") - lit(2.52) * col("n"), 6) > 0)
    val caps = enriched.agg(
      sum(when(col("capped"), col("n")).otherwise(lit(0L))).as("cap_n"),
      sum(when(!col("capped"), col("sq")).otherwise(lit(0.0))).as("free_sq"))
    enriched.crossJoin(broadcast(caps))
      .withColumn("alloc",
        when(col("capped"), lit(2.52) * col("n"))
          .otherwise((col("t") - lit(2.52) * col("cap_n")) * col("sq")
            / col("free_sq")))
      .select(col("source"), col("n").as("n_tokens"),
        round(col("sq") / sum("sq").over(Window.partitionBy()), 6)
          .as("target_weight"),
        col("capped"),
        round(col("alloc")).cast("bigint").as("alloc_tokens"),
        round(col("alloc") / col("n"), 4).as("epochs"))
      .orderBy("source")
  }

  /** Per-document 8-gram NOVELTY: the fraction of a doc's distinct
    * 8-grams first seen in THAT doc (gram ownership = min doc_id) —
    * the order-aware attribution signal behind incremental-crawl
    * curation ("how much genuinely new text does each doc add?"),
    * complementing dedup_substring's order-blind count>=2 marking.
    * Shape: gram hash-agg (word-count shuffle class) for the min-owner
    * table + one join-back — no pairs, no windows over the corpus.
    * md5 parity gram hashes, so ownership attribution is
    * engine-identical (no xxhash64 collision caveat); novelty is one
    * exact-integer division -> exact oracle. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val g = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 8),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             toks[i+4], toks[i+5], toks[i+6], toks[i+7]))""")).as("gs"))
      .withColumn("hx", md5(col("gs")))
      .withColumn("g", graft.util.Md5Lower64.of("hx"))
      .select("doc_id", "g").distinct()
      .persist()
    val owner = g.groupBy("g").agg(min("doc_id").as("first_doc"))
    g.join(owner, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4)
          .as("novelty"))
      .orderBy("doc_id")
  }

  // ---- learned BPE tokenizer -------------------------------------------

  /** Deterministic BPE learner (Sennrich et al. 2016) over the corpus
    * word-frequency table: start from characters, repeatedly merge the
    * highest-frequency adjacent symbol pair (ties broken
    * lexicographically — no randomness anywhere), [[BpeMerges]] merges.
    * The frequency table is a BOUNDED deterministic collect (top 4 096
    * words by count — the codebook-training argument: vocabulary is
    * Heaps-sublinear in the corpus and the learner needs only its
    * head), so driver-side work is constant at any corpus size. */
  private[graft] val BpeMerges = 20
  private[graft] val BpeSteps = 8 // >= max word length - 1 in the corpus

  private[graft] def learnBpe(s: SparkSession, d: String): Seq[(String, String)] = {
    val freqs: Array[(Array[String], Long)] = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(4096)
      .collect()
      .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    var words = freqs
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var k = 0
    var done = false
    while (k < BpeMerges && !done) {
      val pc = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pc(p) = pc.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        val best = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        words = words.map { case (syms, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 &&
                syms(i + 1) == best._2) {
              out += syms(i) + syms(i + 1); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, c)
        }
      }
      k += 1
    }
    merges.toSeq
  }

  /** One merge-application step as a SQL expression over a `syms`
    * array column: find the LOWEST-RANK applicable merge (rank = 1-based
    * position in the keys literal), leftmost occurrence, and merge that
    * one pair. [[BpeSteps]] chained applications reach the fixed point
    * for every corpus word (max word length 8). Pure higher-order
    * functions — codegen, no UDF; the DuckDB oracle replays the same
    * step as a bounded recursive CTE. */
  private def bpeStepSql(keysLit: String): String = {
    // array_position returns 0 (not NULL) for an absent pair on BOTH
    // engines — nullif maps it to the no-merge sentinel
    val ranks = s"""transform(sequence(1, size(syms) - 1),
       i -> coalesce(nullif(array_position($keysLit,
              concat(element_at(syms, cast(i as int)), char(31),
                     element_at(syms, cast(i as int) + 1))), 0L), 1000000L))"""
    val imin = s"cast(array_position($ranks, array_min($ranks)) as int)"
    s"""CASE WHEN size(syms) < 2 OR array_min($ranks) = 1000000L THEN syms
        ELSE concat(
          slice(syms, 1, $imin - 1),
          array(concat(element_at(syms, $imin),
                       element_at(syms, $imin + 1))),
          slice(syms, $imin + 2, size(syms)))
        END"""
  }

  /** (word, n_bpe) token lengths for every distinct corpus word: the
    * vocabulary table (Heaps-sublinear in the corpus) carries the BPE
    * state; the corpus itself is only ever exploded and hash-joined
    * against this broadcastable table — token economics at 100 TB
    * without running the tokenizer over every occurrence. */
  private def bpeWordLens(s: SparkSession, d: String,
                          merges: Seq[(String, String)]): DataFrame = {
    val keysLit = merges
      .map { case (l, r) => s"'$l\u001f$r'" }
      .mkString("array(", ", ", ")")
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, cast(i as int), 1))"))
    val merged = (1 to BpeSteps).foldLeft(words) { (df, _) =>
      df.withColumn("syms", expr(bpeStepSql(keysLit)))
    }
    merged.select(col("w"), size(col("syms")).as("n_bpe"))
  }

  /** Corpus token economics under the LEARNED BPE tokenizer, per
    * language: whitespace words vs BPE tokens and the compression
    * ratio — the real version of [[tokenCounts]]'s regex stand-in.
    * Plan: vocabulary-sized BPE table broadcast onto the exploded
    * corpus, one partial+final aggregate. */
  def bpeTokenCounts(s: SparkSession, d: String): DataFrame =
    bpeTokenCountsWith(s, d, learnBpe(s, d))

  /** [[bpeTokenCounts]] under the given merges. */
  private[graft] def bpeTokenCountsWith(s: SparkSession, d: String,
                                        merges: Seq[(String, String)])
      : DataFrame = {
    val lens = bpeWordLens(s, d, merges)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(lens), "w")
      .groupBy("lang")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("word_tokens"),
        sum("n_bpe").as("bpe_tokens"))
      .withColumn("bpe_per_word",
        round(col("bpe_tokens").cast("double") / col("word_tokens"), 4))
      .orderBy("lang")
  }

  /** [[graft.operators.Quality.packSequences]] on LEARNED-BPE token
    * counts (512-token packs): the pack boundaries a trainer would
    * actually see. Same per-lang window shape — embarrassingly
    * parallel across language shards. */
  def bpePackSequences(s: SparkSession, d: String): DataFrame = {
    val lens = bpeWordLens(s, d, learnBpe(s, d))
    val docTokens = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(lens), "w")
      .groupBy("lang", "doc_id")
      .agg(sum("n_bpe").as("n_tokens"))
    val seqLen = 512
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    docTokens
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

  /** Unicode canonicalization over `documents` — the pass a multilingual
    * pipeline runs before tokenizing/fingerprinting (two byte sequences
    * that render identically must hash identically, or exact-dedup
    * silently misses duplicates). The corpus is ASCII, so the entry
    * deterministically "dirties" each text the same way on both engines
    * (vowels → precomposed accents via translate, plus a trailing
    * combining-acute pair), then runs the native codegen kernels
    * ([[graft.functions.UnicodeNormalize]] / [[graft.functions.StripAccents]],
    * DuckDB-compatible semantics): NFC composes the combining pair (char
    * count drops by exactly 1) and strip_accents undoes the accenting.
    * Pure per-row map — zero shuffle at any corpus size. */
  def normalizeText(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // the trailing pair is " e" + U+0301 COMBINING ACUTE (decomposed
    // on purpose, so NFC has real composition work: precomposed is U+00E9)
    val dirty = concat(
      translate(col("text"), "aeiou", "áéíöü"),
      lit(" é"))
    Tables.documents(s, d)
      .select(col("doc_id"), dirty.as("dirty"))
      .select(
        col("doc_id"),
        length(col("dirty")).as("dirty_chars"),
        length(call_function("nfc_normalize", col("dirty"))).as("nfc_chars"),
        call_function("strip_accents",
          call_function("nfc_normalize", col("dirty"))).as("stripped"))
      .orderBy("doc_id")
  }

  /** Sliding-window token chunking — the sample-preparation step that
    * turns variable-length documents into fixed-size training windows
    * (size 64 tokens, stride 48, i.e. 16-token overlap so no boundary
    * context is lost). One chunk row per window: token count and a
    * 63-bit content fingerprint of the joined window (any token lost to
    * an off-by-one in the slice arithmetic flips it). Pure per-row
    * expand — `sequence` + explode over the scan, zero shuffle at any
    * corpus size (a 100 TB run emits chunks map-side straight into the
    * writer; there is no aggregate here, the gate's ORDER BY is
    * presentation only). */
  def chunkDocs(s: SparkSession, d: String): DataFrame = {
    val size64 = 64
    val stride = 48
    val toks = split(col("text"), " ")
    // n <= 64 -> 1 window; else 1 + ceil((n - 64) / 48) windows, integer
    // arithmetic only so both engines agree exactly
    val nChunks = when(size(toks) <= size64, lit(1L))
      .otherwise(lit(1L) + floor(
        (size(toks) - size64 + stride - 1).cast("double") / stride)
        .cast("long"))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(size64)).as("w"))
      .select(
        col("doc_id"), col("chunk_id"),
        size(col("w")).cast("long").as("chunk_tokens"),
        md5(concat(
          col("doc_id").cast("string"), lit("|"),
          col("chunk_id").cast("string"), lit("|"),
          array_join(col("w"), " "))).as("hx"))
      .select(
        col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        graft.util.Md5Lower64.of("hx").as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Bigram collocation mining via pointwise mutual information — the
    * phrase-discovery pass (multi-word expressions, boilerplate
    * detection) over the corpus token stream. PMI(x,y) =
    * log2(p(xy) / (p(x) p(y))) with counts from one tokenize pass;
    * candidates need >= 3 occurrences, top 40 by (pmi desc, bigram asc).
    * Shuffle is vocabulary-shaped (unigram + bigram hash aggregates);
    * the two unigram lookups are broadcast joins (a real corpus's
    * vocabulary is Heaps-law sublinear, and a 100 TB run would feed the
    * same joins from the same aggregates); the top-k is TakeOrdered.
    * Both engines evaluate the identical log2 expression shape and
    * round to 6 dp before ranking. */
  def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val (out, toks) = pmiPlan(s, d)
    // materialize the k-bounded (40-row) result while toks is cached,
    // then release the cache — a long-lived session invoking this
    // repeatedly must not leak the token table (r9 ADVICE); the
    // driver-side hop is the same class as the n/nBi fetches inside
    val rows = out.collect().toSeq
    toks.unpersist()
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** The lazy plan behind [[pmiCollocations]] plus its cached token
    * table (PlanSpec asserts on the plan; the gate entry materializes
    * and unpersists). */
  private[graft] def pmiPlan(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        .as("toks"))
    toks.cache()
    val uni = toks
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // corpus totals: 1-row aggregates (k-bounded driver fetches)
    val n = toks.select(sum(size(col("toks")))).first().getLong(0)
    val bi = toks
      .select(posexplode(col("toks")).as(Seq("i", "w1")), col("toks"))
      .filter(col("i") < size(col("toks")) - 1)
      // posexplode's i is 0-based, element_at 1-based: i+2 is the
      // successor token — the bigram pairing stays one map-side pass
      .select(col("w1"), element_at(col("toks"), col("i") + 2).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
    val nBi = bi.select(sum("cxy")).first().getLong(0)
    val out = bi.filter(col("cxy") >= 3)
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "cx")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "cy")), "w2")
      .select(
        col("w1"), col("w2"), col("cxy"),
        round(log2((col("cxy").cast("double") / nBi) /
          ((col("cx").cast("double") / n) * (col("cy").cast("double") / n))),
          6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(40)
    (out, toks)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_chunk" -> (chunkDocs _),
    "text_pmi" -> (pmiCollocations _),
    "text_normalize" -> (normalizeText _),
    "text_bpe_token_counts" -> (bpeTokenCounts _),
    "text_bpe_pack" -> (bpePackSequences _),
    "text_ngram_novelty" -> (ngramNovelty _),
    "text_mix_budget" -> (mixBudget _),
    "text_inverted_index" -> (invertedIndex _),
    "text_ngram_lm" -> (ngramLm _),
    "text_perplexity_buckets" -> (perplexityBuckets _),
    "text_stats" -> (textStats _),
    "text_token_counts" -> (tokenCounts _),
    "text_lang_id" -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_tfidf" -> (tfidf _),
    "text_length_quantiles" -> (lengthQuantiles _),
    "text_sample_stratified" -> (sampleStratified _),
    "text_sample_weighted" -> (sampleWeighted _),
    "text_drift_psi" -> (driftPsi _))

  /** DuckDB replay of the learned tokenizer: merges interpolated as a
    * rank-ordered key list (rank = 1-based list position — the same
    * encoding the Spark side uses), application replayed as a bounded
    * recursive CTE running the IDENTICAL leftmost-lowest-rank step
    * [[BpeSteps]] times. All outputs integer (plus one 4dp ratio) —
    * exact oracle. */
  private def bpeOracleSql(merges: Seq[(String, String)],
                           select: String): String = {
    val ksLit = merges
      .map { case (l, r) => s"('$l' || chr(31) || '$r')" } match {
      case Nil => "[]::VARCHAR[]"
      case ks => ks.mkString("[", ", ", "]")
    }
    val rk = s"""list_transform(generate_series(1, len(s) - 1),
       i -> coalesce(nullif(list_position($ksLit,
              s[i] || chr(31) || s[i + 1]), 0), 1000000))"""
    val imin = s"list_position($rk, list_min($rk))"
    s"""WITH RECURSIVE
       words AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
                 FROM documents),
       syms0 AS (SELECT w, list_transform(generate_series(1, length(w)),
                   i -> w[i:i]) AS s FROM words),
       it AS (
         SELECT w, s, 0 AS step FROM syms0
         UNION ALL
         SELECT w,
           CASE WHEN len(s) < 2 OR list_min($rk) = 1000000 THEN s
                ELSE s[1:$imin - 1] || [s[$imin] || s[$imin + 1]]
                     || s[$imin + 2:]
           END AS s,
           step + 1
         FROM it WHERE step < $BpeSteps),
       lens AS (SELECT w, len(s) AS n_bpe FROM it WHERE step = $BpeSteps),
       tok AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents)
       $select"""
  }

  /** Oracles of dataset `d`: the BPE entries interpolate the merges
    * [[learnBpe]] learns on `d`, the merges their queries apply. */
  def oracles(s: SparkSession, d: String): Map[String, String] =
    oraclesWith(learnBpe(s, d))

  /** The oracle map, its BPE entries under `merges`. */
  private def oraclesWith(merges: Seq[(String, String)]): Map[String, String] = Map(
    "text_chunk" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
           FROM t)
         SELECT doc_id, g.i AS chunk_id,
           CAST(len(toks[g.i * 48 + 1 : g.i * 48 + 64]) AS BIGINT)
             AS chunk_tokens,
           CAST(md5_number_lower(
             CAST(doc_id AS VARCHAR) || '|' || CAST(g.i AS VARCHAR) || '|'
             || array_to_string(toks[g.i * 48 + 1 : g.i * 48 + 64], ' '))
             & 9223372036854775807 AS BIGINT) AS chunk_hash
         FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1))
           AS i) g
         ORDER BY doc_id, chunk_id""",
    "text_pmi" ->
      """WITH t AS (
           SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
           FROM documents),
         tot AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS n FROM t),
         uni AS (
           SELECT u.w, count(*) AS c
           FROM t, unnest(toks) AS u(w) GROUP BY u.w),
         biall AS (
           SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
             AS i) g),
         btot AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM biall),
         bi AS (
           SELECT w1, w2, count(*) AS cxy FROM biall GROUP BY w1, w2)
         SELECT bi.w1, bi.w2, bi.cxy,
           round(log2((CAST(bi.cxy AS DOUBLE) / btot.b) /
             ((CAST(ux.c AS DOUBLE) / tot.n)
              * (CAST(uy.c AS DOUBLE) / tot.n))), 6) AS pmi
         FROM bi, btot, tot
         JOIN uni ux ON ux.w = bi.w1
         JOIN uni uy ON uy.w = bi.w2
         WHERE bi.cxy >= 3
         ORDER BY pmi DESC, bi.w1, bi.w2
         LIMIT 40""",
    "text_normalize" ->
      """WITH dirty AS (SELECT doc_id,
           translate(text, 'aeiou', 'áéíöü') || ' e' || chr(769) AS dirty
         FROM documents)
         SELECT doc_id, length(dirty) AS dirty_chars,
           length(nfc_normalize(dirty)) AS nfc_chars,
           strip_accents(nfc_normalize(dirty)) AS stripped
         FROM dirty ORDER BY doc_id""",
    "text_bpe_token_counts" -> bpeOracleSql(merges,
      """SELECT lang, count(DISTINCT doc_id) AS n_docs,
           count(*) AS word_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           round(CAST(sum(n_bpe) AS DOUBLE) / count(*), 4) AS bpe_per_word
         FROM tok JOIN lens USING (w)
         GROUP BY lang ORDER BY lang"""),
    "text_bpe_pack" -> bpeOracleSql(merges,
      """SELECT lang, (cum - n_tokens) // 512 AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM (
           SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM (
             SELECT lang, doc_id, CAST(sum(n_bpe) AS BIGINT) AS n_tokens
             FROM tok JOIN lens USING (w) GROUP BY 1, 2))
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    "text_ngram_novelty" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE len(string_split(text, ' ')) >= 8),
         u AS (
           SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7))
             AS i
           FROM t),
         g AS (
           SELECT DISTINCT doc_id,
             CAST(md5_number_lower(array_to_string(toks[i:i+7], ' '))
               & 9223372036854775807 AS BIGINT) AS g
           FROM u),
         owner AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
         SELECT g.doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN owner.first_doc = g.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN owner.first_doc = g.doc_id
             THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty
         FROM g JOIN owner USING (g)
         GROUP BY 1 ORDER BY 1""",
    "text_mix_budget" ->
      """WITH c AS (
           SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
           FROM documents GROUP BY 1),
         e AS (
           SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS sq,
             sum(n) OVER () AS total,
             coalesce(sum(n) OVER (ORDER BY n ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_n_before,
             sum(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY n ASC, source ASC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS sq_from,
             sum(sqrt(CAST(n AS DOUBLE))) OVER () AS sq_all
           FROM c),
         e2 AS (
           SELECT *, CAST(total AS DOUBLE) * 2.5 AS t,
             round((CAST(total AS DOUBLE) * 2.5 - 2.52 * cum_n_before)
               * sq / sq_from - 2.52 * n, 6) > 0 AS capped
           FROM e),
         caps AS (
           SELECT CAST(sum(CASE WHEN capped THEN n ELSE 0 END) AS BIGINT)
               AS cap_n,
             sum(CASE WHEN capped THEN 0.0 ELSE sq END) AS free_sq
           FROM e2),
         fin AS (
           SELECT e2.*, caps.cap_n, caps.free_sq,
             CASE WHEN capped THEN 2.52 * n
               ELSE (t - 2.52 * cap_n) * sq / free_sq END AS alloc
           FROM e2 CROSS JOIN caps)
         SELECT source, n AS n_tokens,
           round(sq / sq_all, 6) AS target_weight, capped,
           CAST(round(alloc) AS BIGINT) AS alloc_tokens,
           round(alloc / n, 4) AS epochs
         FROM fin ORDER BY source""",
    "text_inverted_index" ->
      """WITH td AS (
           SELECT tok AS term, doc_id, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY 1, 2)
         SELECT term, count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS occurrences,
           array_to_string(list_sort(list(doc_id))[1:10], ',')
             AS postings_head
         FROM td GROUP BY term
         ORDER BY df DESC, term ASC LIMIT 50""",
    "text_drift_psi" ->
      """WITH x AS (
           SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
           FROM documents),
         b AS (SELECT min(x) AS mn, max(x) AS mx FROM x),
         binned AS (
           SELECT source, ((x - mn) * 10) // (mx - mn + 1) AS bin
           FROM x CROSS JOIN b),
         bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
         base AS (
           SELECT bins.bin, coalesce(bc.cb, 0) AS cb, nt.nb_total
           FROM bins
           LEFT JOIN (SELECT bin, count(*) AS cb FROM binned GROUP BY 1) bc
             ON bins.bin = bc.bin
           CROSS JOIN (SELECT count(*) AS nb_total FROM x) nt),
         srcs AS (SELECT source, count(*) AS ns FROM x GROUP BY 1),
         grid AS (SELECT s.source, s.ns, bins.bin
                  FROM srcs s CROSS JOIN bins),
         sb AS (
           SELECT g.source, g.bin, g.ns, coalesce(sc.cs, 0) AS cs
           FROM grid g
           LEFT JOIN (SELECT source, bin, count(*) AS cs
                      FROM binned GROUP BY 1, 2) sc
             ON g.source = sc.source AND g.bin = sc.bin),
         terms AS (
           SELECT sb.source, sb.ns,
             round(((sb.cs + 0.5) / (sb.ns + 0.5 * 10)
                 - (base.cb + 0.5) / (base.nb_total + 0.5 * 10))
               * ln(((sb.cs + 0.5) / (sb.ns + 0.5 * 10))
                 / ((base.cb + 0.5) / (base.nb_total + 0.5 * 10))), 9)
               AS term
           FROM sb JOIN base ON sb.bin = base.bin)
         SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
           round(sum(term), 6) AS psi,
           CASE WHEN round(sum(term), 6) < 0.1 THEN 'stable'
             WHEN round(sum(term), 6) < 0.25 THEN 'moderate'
             ELSE 'drifted' END AS verdict
         FROM terms GROUP BY source ORDER BY source""",
    "text_sample_weighted" ->
      """WITH k AS (
           SELECT doc_id, n_chars,
             round(ln((CAST(CAST(md5_number_lower(CAST(doc_id AS VARCHAR))
                 & 9223372036854775807 AS BIGINT) AS DOUBLE) + 1)
               / 9223372036854775808.0) / n_chars, 9) AS es_key
           FROM documents),
         r AS (
           SELECT doc_id, n_chars, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS rank
           FROM k)
         SELECT rank, doc_id, n_chars AS weight, es_key
         FROM r WHERE rank <= 50 ORDER BY rank""",
    "text_perplexity_buckets" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
             FROM documents),
         bg AS (
           SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, count(*) AS tf
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
             AS i) s
           GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2
                FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         vocab AS (
           SELECT count(DISTINCT tok) AS v
           FROM (SELECT unnest(toks) AS tok FROM t)),
         lp AS (
           SELECT c2.w1, c2.w2,
             round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vocab.v)), 6) AS lp
           FROM c2 JOIN c1 USING (w1) CROSS JOIN vocab),
         scored AS (
           SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
             round(exp(-sum(bg.tf * lp.lp) / sum(bg.tf)), 4) AS ppl
           FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2
           GROUP BY 1),
         bounds AS (
           SELECT quantile_cont(ppl, ${(1.0 / 3).toString}) AS b1,
             quantile_cont(ppl, ${(2.0 / 3).toString}) AS b2
           FROM scored)
         SELECT doc_id, n_bigrams, ppl,
           CASE WHEN ppl <= b1 THEN 'head'
             WHEN ppl <= b2 THEN 'middle' ELSE 'tail' END AS bucket
         FROM scored CROSS JOIN bounds
         ORDER BY doc_id""",
    "text_ngram_lm" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
                   FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
         lp AS (SELECT tok, round(ln(CAST(total AS DOUBLE) / cnt), 6) AS lp
                FROM vocab CROSS JOIN tot),
         sc AS (SELECT tf.doc_id, sum(tf.tf * lp.lp) AS sc,
                  CAST(sum(tf.tf) AS BIGINT) AS n_tokens
                FROM tf JOIN lp USING (tok) GROUP BY 1)
         SELECT doc_id, n_tokens, round(sc / n_tokens, 4) AS avg_surprisal
         FROM sc ORDER BY doc_id""",
    "text_stats" ->
      """WITH t AS (
           SELECT doc_id, text, len(string_split(text, ' ')) AS toks,
             len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','a','an','and','or','of','in','on',
                 'to','is','are','was','for','with','by','at','from'], x)))
               AS stop_hits,
             length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g'))
               AS punct
           FROM documents)
         SELECT doc_id, toks AS n_tokens,
           round(CAST(stop_hits AS DOUBLE) / toks, 4) AS stop_ratio,
           round(CAST(punct AS DOUBLE) / length(text), 4) AS punct_ratio,
           round(0.4 * (CAST(stop_hits AS DOUBLE) / toks)
             + 0.3 * least(1.0, CAST(toks AS DOUBLE) / 50)
             + 0.3 * (1.0 - CAST(punct AS DOUBLE) / length(text)), 4) AS quality
         FROM t ORDER BY doc_id""",
    "text_token_counts" ->
      """SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')))
             AS BIGINT) AS bpe_tokens,
           round(avg(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]'))), 4)
             AS avg_bpe_per_doc
         FROM documents""",
    "text_lang_id" ->
      """WITH sc AS (
           SELECT lang,
             len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','and','of','is','with'], x))) AS s_en,
             len(list_filter(string_split(text, ' '),
               x -> list_contains(['der','die','und','ist','mit'], x))) AS s_de,
             len(list_filter(string_split(text, ' '),
               x -> list_contains(['le','la','et','est','avec'], x))) AS s_fr
           FROM documents)
         SELECT CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                     WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred,
                lang, count(*) AS cnt
         FROM sc GROUP BY 1, 2 ORDER BY pred, lang""",
    "text_fingerprint" ->
      """WITH fp AS (
           SELECT md5(array_to_string(list_sort(list_distinct(
                    string_split(text, ' '))), ' ')) AS fp,
                  count(*) AS n_docs, min(doc_id) AS keep_id
           FROM documents GROUP BY 1)
         SELECT count(*) AS n_fingerprints,
           CAST(sum(CASE WHEN n_docs > 1 THEN n_docs - 1 ELSE 0 END) AS BIGINT)
             AS n_shadowed
         FROM fp""",
    "text_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
         dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT doc_id, term, tf,
                  round(ln(CAST(n.n AS DOUBLE) / df), 6) AS idf
                FROM tfc JOIN dfc USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, tf * idf AS score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tf * idf DESC, term ASC) AS rank
               FROM sc)
         SELECT doc_id, rank, term, round(score, 4) AS tfidf
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "text_length_quantiles" ->
      """SELECT lang, count(*) AS n_docs,
           round(quantile_cont(len(string_split(text, ' ')), 0.25), 4) AS p25,
           round(quantile_cont(len(string_split(text, ' ')), 0.5), 4) AS p50,
           round(quantile_cont(len(string_split(text, ' ')), 0.75), 4) AS p75,
           round(quantile_cont(len(string_split(text, ' ')), 0.9), 4) AS p90,
           round(quantile_cont(len(string_split(text, ' ')), 0.99), 4) AS p99
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_sample_stratified" ->
      """WITH t AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT lang, sample_rank, doc_id
         FROM t WHERE sample_rank <= ceil(n / 10.0)
         ORDER BY lang, sample_rank""")
}
