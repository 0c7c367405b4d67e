package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}

import graft.operators.{Quality, Sketches}

/** Behavioral + plan-shape properties of the quality-filter family and
  * the KMV cardinality sketch. */
class QualitySpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  /** Tiny documents corpus written in the driver-table layout so the
    * (SparkSession, dir) operators run on it unchanged. */
  private def corpusDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("qualityspec").toString
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "length(text) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
    case other => other +: other.children.flatMap(collectPlan)
  }

  test("quality filters: per-doc plan is a pure scan — zero shuffle") {
    val df = Quality.qualityFilters(spark, d)
    df.count() // finalize AQE
    // orderBy(doc_id) plans as a range-partitioned sort for output
    // determinism; everything upstream of it must be shuffle-free (the
    // signals themselves never leave the scanning task)
    val noSort = Quality.qualityFilters(spark, d)
      .queryExecution.sparkPlan // analyzed w/o AQE for structure check
    val sorts = collectPlan(noSort).count(_.isInstanceOf[
      org.apache.spark.sql.execution.SortExec])
    val shuffles = collectPlan(noSort)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"expected only the output-sort exchange, got $shuffles")
    assert(sorts <= 1)
  }

  test("keep flag: summary totals equal filter verdicts") {
    val perDoc = Quality.qualityFilters(spark, d)
      .select("keep").collect().map(_.getBoolean(0))
    val summary = Quality.qualitySummary(spark, d)
      .agg(org.apache.spark.sql.functions.sum("n_docs"),
        org.apache.spark.sql.functions.sum("n_keep"))
      .collect()(0)
    assert(summary.getLong(0) == perDoc.length)
    assert(summary.getLong(1) == perDoc.count(identity))
  }

  test("repetition: single-token and repeated-text documents") {
    val dir = corpusDir(Seq(
      (1L, "hello"),                      // 1 token -> no bigrams -> dropped
      (2L, "a a a a"),                    // all same: top_word_frac 1.0, dup bigrams 2/3
      (3L, "x y x y"),                    // bigrams: "x y","y x","x y" -> dup 1/3
      (4L, "p q r s")))                   // all distinct: zeros
    val rows = Quality.repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(!rows.contains(1L), "single-token doc has no bigram row (inner join)")
    assert(rows(2L) == ((1.0, 0.25, 0.6667)))
    assert(rows(3L) == ((0.5, 0.5, 0.3333)))
    assert(rows(4L) == ((0.25, 1.0, 0.0)))
  }

  test("regex scrub counts planted matches; zero-match docs affect checksum") {
    val dir1 = corpusDir(Seq(
      (1L, "spark scan slow"),            // 3 matches, terms spark/scan/slow
      (2L, "so see sa"),                  // too short — 0 matches
      (3L, "spark again")))               // 1 match
    val r1 = Quality.regexScrub(spark, dir1).collect()(0)
    assert(r1.getLong(0) == 4)
    assert(r1.getLong(1) == 3)
    // removing a zero-match doc must still change the corpus checksum
    val dir2 = corpusDir(Seq(
      (1L, "spark scan slow"), (3L, "spark again")))
    val r2 = Quality.regexScrub(spark, dir2).collect()(0)
    assert(r1.getLong(0) == r2.getLong(0) && r1.getLong(1) == r2.getLong(1))
    assert(r1.getLong(2) != r2.getLong(2),
      "checksum must cover zero-match documents too")
  }

  test("bm25 matches a driver-side reference computation") {
    val docs = graft.util.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val terms = Seq("spark", "table", "join")
    val n = docs.size
    val avgdl = BigDecimal(docs.values.map(_.length).sum.toDouble / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dfreq = terms.map(t =>
      t -> docs.values.count(_.contains(t))).toMap
    val idf = terms.map { t =>
      t -> BigDecimal(math.log((n - dfreq(t) + 0.5) / (dfreq(t) + 0.5) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val expected = docs.flatMap { case (id, toks) =>
      val score = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val norm = BigDecimal(1.2 * (0.25 + 0.75 * toks.length / avgdl))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          idf(t) * tf * 2.2 / (tf + norm)
        }
      }.sum
      if (score > 0) Some(id -> math.rint(score * 1e4) / 1e4) else None
    }.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(20)
    val got = Quality.bm25(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-3, s"$a vs $b")
    }
  }

  test("funnel: steps require ORDERED events, not mere type presence") {
    val dir = java.nio.file.Files.createTempDirectory("funnelspec").toString
    val rows = Seq(
      // user 1: the full ordered funnel
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "click"),
      (3L, "2024-01-01 10:10:00", 1L, "purchase"),
      // user 2: click BEFORE the first view — no click step
      (4L, "2024-01-01 09:00:00", 2L, "click"),
      (5L, "2024-01-01 10:00:00", 2L, "view"),
      // user 3: purchase BEFORE the click — stops at the click step
      (6L, "2024-01-01 10:00:00", 3L, "view"),
      (7L, "2024-01-01 10:01:00", 3L, "purchase"),
      (8L, "2024-01-01 10:05:00", 3L, "click"),
      // user 4: never viewed
      (9L, "2024-01-01 10:00:00", 4L, "error"))
    spark.createDataFrame(rows).toDF("event_id", "tss", "user_id", "event_type")
      .selectExpr("event_id", "CAST(tss AS TIMESTAMP) AS ts", "user_id",
        "event_type", "1.0 AS value", "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.operators.Relational.q26Funnel(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 3L, 2L, 1L)))
  }

  test("grouped KMV: every group within sampling error, groups complete") {
    val rows = Sketches.kmvGrouped(spark, d).collect()
    assert(rows.nonEmpty)
    val flags = graft.util.Tables.lineitem(spark, d)
      .select("l_returnflag").distinct().count()
    assert(rows.length == flags, "one sketch row per group")
    rows.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(3)
      assert(exact > 0)
      if (exact > 256)
        assert(math.abs(est - exact).toDouble / exact < 0.3,
          s"group ${r.getString(0)}: est $est vs exact $exact")
      else assert(est == exact, "below k the sketch is exact")
    }
  }

  test("Bloom sketch: no false negatives, plausible false-positive rate") {
    val r = Sketches.bloom(spark, d).collect()(0)
    val (m, setBits, probes, maybe, members, falsePos, missed) =
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    assert(missed == 0, "a Bloom filter must never miss a true member")
    assert(maybe == members + falsePos)
    assert(setBits <= 2 * members && setBits > 0)
    // expected FP rate ~ (setBits/m)^2; allow a generous factor on a
    // small probe set
    val expFp = math.pow(setBits.toDouble / m, 2) * (probes - members)
    assert(falsePos <= expFp * 4 + 3, s"false positives $falsePos vs exp $expFp")
  }

  test("gap-fill grid is dense: users x days, totals preserved") {
    import org.apache.spark.sql.functions._
    val g = graft.operators.Relational.q23Gapfill(spark, d)
    val ev = graft.util.Tables.events(spark, d)
    val users = ev.select("user_id").distinct().count()
    val days = ev.select(date_trunc("day", col("ts"))).distinct().count()
    // bounds span == observed distinct days here (every day has events)
    assert(g.count() == users * days)
    assert(g.agg(sum("n_events")).collect()(0).getLong(0) == ev.count())
    assert(g.filter(col("n_events") === 0).count() >= 0)
  }

  test("contamination flags a planted eval copy, broadcast-joined") {
    val dir = corpusDir(Seq(
      (1L, "one two three four five six seven"),      // eval
      (2L, "tiny"),                                    // sub-shingle eval doc
      (12L, "one two three four five six eight nine"), // shares 2 5-grams
      (13L, "alpha beta gamma delta epsilon zeta"),    // clean
      (14L, "so short")))                              // sub-shingle train doc
    val rows = graft.operators.Dedup.contamination(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((12L, 1L, 2L)))
    val plan = graft.operators.Dedup.contamination(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "eval shingles must broadcast, never shuffle the corpus side")
  }

  test("sequence packing: contiguous packs, totals preserved, deterministic") {
    import org.apache.spark.sql.functions._
    val p = Quality.packSequences(spark, d).collect()
    val docs = graft.util.Tables.documents(spark, d)
      .select(col("lang"), size(split(col("text"), " ")).as("n")).collect()
    // token totals preserved per language
    val byLang = docs.groupBy(_.getString(0))
      .map { case (l, rs) => l -> rs.map(_.getInt(1).toLong).sum }
    p.groupBy(_.getString(0)).foreach { case (l, rs) =>
      assert(rs.map(_.getLong(3)).sum == byLang(l))
      // pack ids are contiguous from 0
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.head == 0 && ids.sameElements(ids.head to ids.last))
      // doc ranges of consecutive packs do not overlap
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4))
        case _ => ()
      }
    }
  }

  test("KMV sketch: within sampling error, tail planned as TakeOrdered") {
    val r = Sketches.kmv(spark, d).collect()(0)
    val exact = r.getLong(0)
    val est = r.getLong(3)
    assert(exact > 256, "fixture must exercise the estimator path")
    // KMV stderr ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert(math.abs(est - exact).toDouble / exact < 0.25,
      s"estimate $est too far from exact $exact")
    // the k-smallest tail must plan as a TakeOrdered (per-partition
    // top-k + driver merge), not a global sort of all distinct hashes
    val hashedTail = graft.util.Tables.lineitem(spark, d)
      .select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("l_partkey")).as("h"))
      .distinct().orderBy("h").limit(256)
    val plan = hashedTail.queryExecution.executedPlan
    assert(collectPlan(plan).exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
  }

  test("KMV overlap: union/intersection estimates within sampling error") {
    val rows = Sketches.kmvOverlap(spark, d).collect()
    // every unordered source pair exactly once
    val nSrc = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.length
    assert(rows.length == nSrc * (nSrc - 1) / 2)
    var exercised = 0
    rows.foreach { r =>
      val (kUsed, nBoth) = (r.getLong(2), r.getLong(3))
      val (exU, estU) = (r.getLong(4), r.getLong(5))
      val (exI, estI) = (r.getLong(6), r.getLong(7))
      val (jEst, jEx) = (r.getDouble(8), r.getDouble(9))
      assert(nBoth <= kUsed && kUsed <= 256)
      if (exU > 256) {
        exercised += 1
        // union: plain KMV envelope, ~6.3% stderr at k=256; 4 sigma
        assert(math.abs(estU - exU).toDouble / exU < 0.25,
          s"${r.getString(0)}x${r.getString(1)} union $estU vs $exU")
        // Jaccard ratio estimator: K_both ~ Hypergeometric(K, J);
        // stderr sqrt(J(1-J)/K) <= 0.032 at K=256 — 4 sigma + slack
        assert(math.abs(jEst - jEx) < 4 * 0.032 + 0.02,
          s"jaccard $jEst vs $jEx")
        // intersection combines both estimators; generous 5-sigma-ish
        assert(math.abs(estI - exI) <=
          0.25 * exU + (4 * 0.032 + 0.02) * exU,
          s"intersection $estI vs $exI (union $exU)")
      } else assert(estU == exU && estI == exI)
    }
    assert(exercised > 0, "fixture never exercised the estimator path")
    // determinism: same result row-for-row on a second run
    val again = Sketches.kmvOverlap(spark, d).collect()
    assert(rows.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted))
  }

  test("classifier fit: deterministic weights, distills the Gopher verdict") {
    val w1 = Quality.fitClassifier(spark, d)
    val w2 = Quality.fitClassifier(spark, d)
    assert(w1.sameElements(w2), "fit is not deterministic")
    assert(w1.length == 5)
    // 6dp quantization (the oracle-interpolation contract)
    w1.foreach(w => assert(w == math.rint(w * 1e6) / 1e6))
    // the fit must actually separate: apply the learned weights to the
    // per-doc signals and compare the keep decision (t > 0) against the
    // Gopher box verdict it distills — a linear model can't reproduce a
    // box exactly, but anything below 85% agreement means the fit failed
    import org.apache.spark.sql.functions._
    val toks = split(col("text"), " ")
    val stops = Seq("the", "a", "an", "and", "or", "of", "in", "on",
      "to", "is")
    val sig = graft.util.Tables.documents(spark, d).select(
      size(toks).as("n_words"),
      round(expr("aggregate(transform(split(text, ' '), x -> length(x))," +
        " 0, (a, x) -> a + x)").cast("double") / size(toks), 4)
        .as("mean_wlen"),
      round(size(filter(toks, t => t.isin(stops: _*))).cast("double")
        / size(toks), 4).as("stop_ratio"),
      round((length(col("text")) - length(regexp_replace(col("text"),
        "[\\.,;:!\\?]", ""))).cast("double") / length(col("text")), 4)
        .as("punct_ratio"),
      size(filter(toks, t => t.isin(stops: _*))).as("stop_hits"))
    val scored = sig
      .withColumn("label",
        col("n_words") >= 20 && col("n_words") <= 200 &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 8.0 &&
          col("stop_hits") >= 1)
      .withColumn("pred", lit(w1(0)) + col("n_words") * lit(w1(1))
        + col("mean_wlen") * lit(w1(2)) + col("stop_ratio") * lit(w1(3))
        + col("punct_ratio") * lit(w1(4)) > 0)
      .agg(avg(when(col("label") === col("pred"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(scored >= 0.85, s"distillation agreement $scored < 0.85")
  }
}
