package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multilingual, TextAnalysis}

/** Semantic invariants of the multilingual robustness entries (the gate
  * pins exact values; these pin the PROPERTIES the entries exist for —
  * the byte-vs-rendered-identity miss class, and the trained model
  * actually out-classifying the marker-word heuristic). */
class MultilingualSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  test("every borrowed paragraph is a NORM-ONLY duplicate: raw-byte dedup " +
       "misses all of them, NFC dedup finds all of them") {
    val rows = Multilingual.multilingualDedup(spark, d).collect()
    // every article except the first carries exactly one borrowed copy
    // (decomposed form) of a paragraph from the previous article; its
    // dup group is byte-split (n_raw > 1), so n_norm_only >= 1 there
    val borrowing = rows.filter(_.getLong(0) > 0)
    assert(borrowing.nonEmpty)
    borrowing.foreach { r =>
      assert(r.getLong(4) >= 1, // n_norm_only
        s"article ${r.getLong(0)}: borrowed dup not flagged norm-only: $r")
      assert(r.getLong(3) >= 1, // n_cross_article
        s"article ${r.getLong(0)}: borrowed dup not cross-article: $r")
    }
    // and the jaccard against the borrow source is non-trivial
    val j = borrowing.flatMap(r =>
      if (r.isNullAt(5)) None else Some(r.getDouble(5)))
    assert(j.nonEmpty && j.forall(x => x > 0.0 && x <= 1.0))
  }

  test("NFC unification is load-bearing: raw hashes split what normalized " +
       "hashes unify") {
    // direct kernel check on the planted pair: precomposed vs decomposed
    // forms of the same word hash apart raw, together after nfc_normalize
    val df = spark.sql(
      "SELECT md5('grüppe') = md5('grüppe') AS raw_eq, " +
        "md5(nfc_normalize('grüppe')) = " +
        "md5(nfc_normalize('grüppe')) AS norm_eq")
    val r = df.collect()(0)
    assert(!r.getBoolean(0) && r.getBoolean(1))
  }

  test("trained hash-gram model agrees with the lang labels at least as " +
       "well as the marker-word heuristic") {
    def accuracy(df: org.apache.spark.sql.DataFrame,
                 pred: String): Double = {
      val rows = df.collect()
      val tot = rows.map(_.getLong(2)).sum.toDouble
      val hit = rows.filter(r => r.getString(0) == r.getString(1))
        .map(_.getLong(2)).sum.toDouble
      hit / tot
    }
    val model = accuracy(Multilingual.langIdModel(spark, d), "pred")
    val heur = accuracy(TextAnalysis.langId(spark, d), "pred")
    assert(model >= heur,
      s"model accuracy $model below heuristic $heur")
    // the injected per-lang grams are strong signals — the model should
    // be far better than chance on the 5-language corpus, not just tied
    assert(model > 0.5, s"model accuracy $model suspiciously low")
  }

  test("held-out evaluation: the model generalizes to docs it never " +
       "trained on (agreement >= 0.9)") {
    // sf0.1 has 5000 docs; training is the 2000 lowest by hashed doc_id,
    // so the held-out split scores 3000 docs the optimizer never saw —
    // distinguishing learning from memorization (r10 verdict #7). The
    // smaller SFs can't support this test: their ≤500 docs all fit
    // inside the training sample (empty held-out split).
    val rows = Multilingual
      .langIdConfusion(spark, "/root/testdata/sf0.1", heldOutOnly = true)
      .collect()
    val tot = rows.map(_.getLong(2)).sum.toDouble
    assert(tot >= 2500, s"held-out split suspiciously small: $tot docs")
    val hit = rows.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum.toDouble
    assert(hit / tot >= 0.9, s"held-out agreement ${hit / tot}")
  }
}
