package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Multilingual robustness gate (r9 verdict #3/#6): the corpus the gate
  * ships is synthetic ASCII with no newlines, so the normalize /
  * paragraph-dedup / tokenize kernels had never been exercised against
  * the messy case they exist for — UTF-8 multibyte text, combining
  * marks (byte-different but render-identical duplicates), and real
  * `\n\n` paragraph boundaries.
  *
  * Both entries here derive a deterministic multilingual corpus FROM
  * the documents table with transforms both engines express identically
  * (CASE/replace/concat — see [[mtextSql]]), so the whole pipeline has
  * an exact DuckDB oracle without shipping any new data:
  *
  *  - per-lang token substitutions inject multibyte words (umlauts,
  *    accents, CJK) — giving language-dependent character statistics
  *    the trained language-ID model can actually learn;
  *  - every doc gets an accented suffix in PRECOMPOSED form (U+00E9),
  *    while the planted cross-article duplicate copies get the
  *    DECOMPOSED form (`e` + U+0301) — so every planted duplicate is
  *    byte-DIFFERENT and only NFC normalization unifies it (the miss
  *    class byte-level dedup silently suffers);
  *  - articles are assembled by joining 4 docs with `\n\n` plus one
  *    BORROWED paragraph from the previous article, then split back —
  *    exercising the real paragraph-boundary path.
  */
object Multilingual {

  /** (lang, word, precomposed form, decomposed form). The words are
    * drawn from the corpus vocabulary so substitutions actually fire;
    * decomposed forms use combining marks (U+0301/U+0308/U+0300) that
    * NFC composes back to the precomposed spelling. CJK has no
    * decomposition — the per-doc suffix carries the byte difference
    * for those docs. */
  private val subs: Seq[(String, String, String, String)] = Seq(
    ("de", "group", "gr\u00fcppe", "gru\u0308ppe"),
    ("de", "value", "w\u00e4rte", "wa\u0308rte"),
    ("de", "scan", "pr\u00fcfung", "pru\u0308fung"),
    ("de", "order", "ordn\u00fcng", "ordnu\u0308ng"),
    ("fr", "group", "group\u00e9", "groupe\u0301"),
    ("fr", "value", "val\u00e8ur", "vale\u0300ur"),
    ("fr", "scan", "balay\u00e0ge", "balaya\u0300ge"),
    ("fr", "order", "ordr\u00e9", "ordre\u0301"),
    ("es", "group", "grup\u00f3", "grupo\u0301"),
    ("es", "value", "val\u00f3r", "valo\u0301r"),
    ("es", "scan", "escan\u00e9o", "escane\u0301o"),
    ("es", "order", "ord\u00e9n", "orde\u0301n"),
    ("zh", "group", "\u7ec4\u96c6", "\u7ec4\u96c6"),
    ("zh", "value", "\u503c\u91cf", "\u503c\u91cf"),
    ("zh", "scan", "\u626b\u63cf", "\u626b\u63cf"),
    ("zh", "order", "\u987a\u5e8f", "\u987a\u5e8f"))

  /** SQL fragment deriving the multilingual text from `textCol` /
    * `langCol` — valid in BOTH Spark SQL and DuckDB (CASE + replace +
    * `||`), so the oracle replays the identical derivation. */
  def mtextSql(textCol: String, langCol: String, decomposed: Boolean): String = {
    val branches = subs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (lg, ss) =>
        val repl = ss.foldLeft(textCol) { case (acc, (_, w, pre, dec)) =>
          s"replace($acc, '$w', '${if (decomposed) dec else pre}')"
        }
        s"WHEN $langCol = '$lg' THEN $repl"
    }.mkString(" ")
    val sfx = if (decomposed) " é" else " é"
    s"((CASE $branches ELSE $textCol END) || '$sfx')"
  }

  /** `text_multilingual` gate entry: normalize → paragraph dedup →
    * adjacent-article jaccard over the derived multilingual corpus.
    *
    * Pipeline: 4 docs per article + one borrowed (decomposed-form)
    * paragraph from the previous article; articles joined with `\n\n`
    * and split back; each paragraph NFC-normalized by the native
    * codegen kernel; duplicate groups keyed on the NORMALIZED hash,
    * with the raw-byte hash riding along so `n_norm_only` counts the
    * duplicates byte-level dedup would have MISSED (every borrowed
    * copy, by construction). `jaccard_prev` is the normalized-token-set
    * jaccard against the previous article (borrow source).
    *
    * Scale shape: one groupBy(article_id) shuffle assembles articles
    * (co-partitioned, linear in corpus); paragraph split + normalize +
    * hashing are map-side; dup groups shuffle hashes, not text; the
    * token join is an equi-join on article_id. Exact oracle: counts are
    * integers, jaccard is one 4dp-rounded ratio of integers. */
  def multilingualDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val base = docs.select(
      expr("doc_id div 4").as("article_id"),
      pmod(col("doc_id"), lit(4)).cast("int").as("pos"),
      expr(mtextSql("text", "lang", decomposed = false)).as("para"))
    val borrowed = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select((expr("doc_id div 4") + 1).as("article_id"),
        lit(4).as("pos"),
        expr(mtextSql("text", "lang", decomposed = true)).as("para"))
    val art = base.unionByName(borrowed)
      .groupBy("article_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), "\n\n").as("article"))
    val paras = art.select(col("article_id"),
      explode(split(col("article"), "\n\n")).as("para"))
    val hashed = paras
      .select(col("article_id"), col("para"),
        call_function("nfc_normalize", col("para")).as("npara"))
      .withColumn("nhx", md5(col("npara")))
      .withColumn("rhx", md5(col("para")))
      .select(col("article_id"), col("npara"),
        graft.util.Md5Lower64.of("nhx").as("nh"),
        graft.util.Md5Lower64.of("rhx").as("rh"))
      .persist()
    val grp = hashed.groupBy("nh").agg(
      count(lit(1)).as("cnt"),
      count_distinct(col("article_id")).as("n_arts"),
      count_distinct(col("rh")).as("n_raw"))
    val stats = hashed.join(grp, "nh")
      .groupBy("article_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_paras"),
        sum(when(col("n_arts") > 1, 1L).otherwise(0L)).as("n_cross_article"),
        sum(when(col("cnt") > 1 && col("n_raw") > 1, 1L).otherwise(0L))
          .as("n_norm_only"))
    val tok = hashed
      .select(col("article_id"), explode(split(col("npara"), " ")).as("tok"))
      .distinct()
    val tcnt = tok.groupBy("article_id").agg(count(lit(1)).as("n_tok"))
    val inter = tok.alias("a")
      .join(tok.alias("b"),
        col("b.article_id") === col("a.article_id") - 1 &&
          col("b.tok") === col("a.tok"))
      .groupBy(col("a.article_id").as("article_id"))
      .agg(count(lit(1)).as("n_int"))
    val out = stats
      .join(tcnt.withColumnRenamed("n_tok", "n_tok_a"), Seq("article_id"), "left")
      .join(tcnt.select((col("article_id") + 1).as("article_id"),
        col("n_tok").as("n_tok_b")), Seq("article_id"), "left")
      .join(inter, Seq("article_id"), "left")
      .select(col("article_id"), col("n_paras"), col("n_dup_paras"),
        col("n_cross_article"), col("n_norm_only"),
        round(col("n_int").cast("double")
          / (col("n_tok_a") + col("n_tok_b") - col("n_int")), 4)
          .as("jaccard_prev"))
      .orderBy("article_id")
    // materialize the result while `hashed` is cached, then release the
    // cache (a long-lived session must not leak one cached paragraph
    // table per invocation). localCheckpoint, NOT collect: the result is
    // one row per ARTICLE — linear in corpus size — so a driver hop here
    // would be the exact anti-pattern this entry's scale-shape claims
    // forbid. Checkpointing materializes the partitions cluster-side and
    // severs the lineage back to `hashed`, so the unpersist is safe.
    val res = out.localCheckpoint(true)
    hashed.unpersist()
    res
  }

  private val multilingualOracle: String = {
    val pre = mtextSql("text", "lang", decomposed = false)
    val dec = mtextSql("text", "lang", decomposed = true)
    s"""WITH paras0 AS (
         SELECT doc_id // 4 AS article_id, CAST(doc_id % 4 AS INTEGER) AS pos,
           $pre AS para
         FROM documents
         UNION ALL
         SELECT doc_id // 4 + 1 AS article_id, 4 AS pos, $dec AS para
         FROM documents WHERE doc_id % 4 = 0),
       art AS (
         SELECT article_id,
           string_agg(para, chr(10) || chr(10) ORDER BY pos) AS article
         FROM paras0 GROUP BY 1),
       sp AS (
         SELECT article_id,
           string_split(article, chr(10) || chr(10)) AS parts
         FROM art),
       paras AS (
         SELECT article_id, parts[i] AS para
         FROM sp, unnest(generate_series(1, len(parts))) t(i)),
       hashed AS (
         SELECT article_id, nfc_normalize(para) AS npara,
           CAST(md5_number_lower(nfc_normalize(para))
             & 9223372036854775807 AS BIGINT) AS nh,
           CAST(md5_number_lower(para)
             & 9223372036854775807 AS BIGINT) AS rh
         FROM paras),
       grp AS (
         SELECT nh, count(*) AS cnt,
           count(DISTINCT article_id) AS n_arts,
           count(DISTINCT rh) AS n_raw
         FROM hashed GROUP BY 1),
       stats AS (
         SELECT h.article_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_paras,
           CAST(sum(CASE WHEN g.n_arts > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_article,
           CAST(sum(CASE WHEN g.cnt > 1 AND g.n_raw > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_norm_only
         FROM hashed h JOIN grp g USING (nh) GROUP BY 1),
       tok AS (
         SELECT DISTINCT article_id, tok FROM (
           SELECT article_id, unnest(string_split(npara, ' ')) AS tok
           FROM hashed)),
       tcnt AS (SELECT article_id, count(*) AS n_tok FROM tok GROUP BY 1),
       inter AS (
         SELECT a.article_id, count(*) AS n_int
         FROM tok a JOIN tok b
           ON b.article_id = a.article_id - 1 AND b.tok = a.tok
         GROUP BY 1)
       SELECT s.article_id, s.n_paras, s.n_dup_paras, s.n_cross_article,
         s.n_norm_only,
         round(CAST(i.n_int AS DOUBLE)
           / (ta.n_tok + tb.n_tok - i.n_int), 4) AS jaccard_prev
       FROM stats s
       LEFT JOIN tcnt ta ON ta.article_id = s.article_id
       LEFT JOIN tcnt tb ON tb.article_id = s.article_id - 1
       LEFT JOIN inter i ON i.article_id = s.article_id
       ORDER BY s.article_id"""
  }

  // ---- trained language ID (r9 verdict #6) -------------------------------

  /** Hash-gram buckets for the language-ID model. */
  private val B = 64

  private[graft] final case class LangModel(
    langs: Array[String],
    wMicros: Array[Array[Long]], // per lang: B bucket weights, 1e-6 units
    bMicros: Array[Long])        // per lang: intercept, 1e-6 units

  /** The bounded training sample's id set: the [[TrainSampleN]] lowest
    * xxhash64(doc_id) docs. ONE definition shared by [[fitLangModel]]
    * (trains on exactly these docs) and [[langIdConfusion]]'s held-out
    * anti-join (must exclude exactly these docs) — a drifted second
    * copy would silently evaluate "held-out" agreement on partially
    * trained-on docs. The id comes out pre-aliased as `train_id`:
    * joining a frame with its own derived LIMIT on the SAME attribute
    * resolves both join sides to one attribute (trivially true — every
    * row removed from an anti-join, observed as a 0-row held-out
    * split), so callers join on `doc_id === train_id`. */
  private val TrainSampleN = 2000
  private def trainingSampleIds(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("train_id"))
      .withColumn("hk", xxhash64(col("train_id")))
      .orderBy("hk").limit(TrainSampleN).select("train_id")

  /** Deterministic in-repo fit (the [[Quality.fitClassifier]]
    * distillation precedent): character-trigram hash-gram frequencies
    * ([[B]] = 64 buckets via the md5-lower64 hash) over the derived
    * multilingual text, one-vs-rest logistic per language, plain
    * full-batch GD (1000 iterations, step = gradient/n, zero init, fixed
    * accumulation order), weights quantized to 1e-6 so they interpolate
    * into the DuckDB oracle exactly. The sample is BOUNDED (2 000 docs
    * by hashed doc_id), so driver-side training cost is constant at any
    * corpus size. */
  private[graft] def fitLangModel(s: SparkSession, d: String): LangModel = {
    val m = expr(mtextSql("text", "lang", decomposed = false))
    val sample = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), m.as("m"))
      .join(trainingSampleIds(Tables.documents(s, d)),
        col("doc_id") === col("train_id"))
      .drop("train_id")
      // the bounded sample is tiny; spread the docs before the per-gram
      // md5 expand (same reason as the scorer)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, greatest(char_length(m) - 2, 1))," +
          " i -> substring(m, i, 3))")).as("g"))
      .withColumn("hx", md5(col("g")))
      .select(col("doc_id"), col("lang"),
        pmod(graft.util.Md5Lower64.of("hx"), lit(B)).cast("int").as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .collect()
    // assemble per-doc frequency vectors in doc_id order (determinism)
    val byDoc = sample.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    val n = byDoc.length
    val xs = new Array[Array[Double]](n)
    val labels = new Array[String](n)
    var i = 0
    for ((_, rows) <- byDoc) {
      val v = new Array[Double](B)
      var tot = 0L
      rows.foreach { r => tot += r.getLong(3) }
      // frequencies scaled by B so the mean feature is ~1 — raw 1/B-scale
      // frequencies left plain GD four orders short of convergence (the
      // r10 always-predicts-en forensics); the scale folds back into the
      // exported weights below, so the integer scoring term is unchanged
      rows.foreach { r => v(r.getInt(2)) = r.getLong(3).toDouble * B / tot }
      xs(i) = v; labels(i) = rows.head.getString(1); i += 1
    }
    val langs = labels.distinct.sorted
    val wM = new Array[Array[Long]](langs.length)
    val bM = new Array[Long](langs.length)
    var li = 0
    while (li < langs.length) {
      val y = labels.map(l => if (l == langs(li)) 1.0 else 0.0)
      val w = new Array[Double](B); var b = 0.0
      var it = 0
      while (it < 1000) {
        val gw = new Array[Double](B); var gb = 0.0
        var r = 0
        while (r < n) {
          var t = b; var k = 0
          while (k < B) { t += w(k) * xs(r)(k); k += 1 }
          val e = 1.0 / (1.0 + math.exp(-t)) - y(r)
          k = 0
          while (k < B) { gw(k) += e * xs(r)(k); k += 1 }
          gb += e
          r += 1
        }
        var k = 0
        while (k < B) { w(k) -= gw(k) / n; k += 1 }
        b -= gb / n
        it += 1
      }
      // export w·B (undoing the feature scale) so the scorer's integer
      // term b0·n_grams + Σ w[bucket] over raw gram counts is the same
      // linear function the fit optimized
      wM(li) = w.map(x => math.rint(x * B * 1e6).toLong)
      bM(li) = math.rint(b * 1e6).toLong
      li += 1
    }
    LangModel(langs.toArray, wM, bM)
  }

  /** `text_lang_id_model` gate entry: score every document with the
    * fitted hash-gram logistic model and emit the (pred, lang)
    * confusion matrix. The argmax is taken on the INTEGER linear term
    * `b_l·n_grams + Σ w_l[bucket]` in 1e-6 units (multiplying the
    * intercept by the gram count instead of dividing the sum keeps the
    * comparison in exact integer space — no sigmoid, no division), ties
    * broken by language ascending — exact oracle.
    *
    * Scale shape: the weight table is k·B ≤ a few hundred rows,
    * broadcast; scoring is one map-side pass over the gram stream plus
    * a per-(doc, candidate) partial+final aggregate — the same
    * one-scan-zero-driver profile as text_quality_classifier, with
    * training bounded by the fixed sample. */
  def langIdModel(s: SparkSession, d: String): DataFrame =
    langIdConfusion(s, d, heldOutOnly = false)

  /** Confusion matrix of the trained model — over the full corpus (the
    * gate entry) or, with `heldOutOnly`, over only the docs OUTSIDE the
    * 2000-doc training sample: the held-out evaluation MultilingualSpec
    * pins (learning vs memorization — r10 verdict #7). The held-out
    * split re-derives the training sample's id set (lowest 2000 by
    * hashed doc_id, exactly [[fitLangModel]]'s rule) and anti-joins it
    * away. */
  private[graft] def langIdConfusion(s: SparkSession, d: String,
                                     heldOutOnly: Boolean): DataFrame = {
    val mod = fitLangModel(s, d)
    import s.implicits._
    val wDf = broadcast(
      mod.langs.zipWithIndex.flatMap { case (l, li) =>
        (0 until B).map(b => (l, b, mod.wMicros(li)(b)))
      }.toSeq.toDF("cl", "b", "wm"))
    val iDf = broadcast(
      mod.langs.zipWithIndex.map { case (l, li) => (l, mod.bMicros(li)) }
        .toSeq.toDF("cl", "b0"))
    val m = expr(mtextSql("text", "lang", decomposed = false))
    // repartition before the gram expand: the driver's parquet is one
    // row group (= one scan task), and the per-gram md5 work is the
    // row's whole cost — spread the tiny doc table first so the expand
    // runs on every core (at 100 TB the scan has real splits and this
    // exchange is dropped, not resized)
    val base0 = Tables.documents(s, d)
    val base =
      if (!heldOutOnly) base0
      else
        // exclude exactly the docs fitLangModel trained on — the shared
        // trainingSampleIds helper IS the training-sample rule, so the
        // held-out split cannot drift from it
        base0.join(trainingSampleIds(base0),
          col("doc_id") === col("train_id"), "left_anti")
    val grams = base
      .select(col("doc_id"), col("lang"), m.as("m"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, greatest(char_length(m) - 2, 1))," +
          " i -> substring(m, i, 3))")).as("g"))
      .withColumn("hx", md5(col("g")))
      .select(col("doc_id"), col("lang"),
        pmod(graft.util.Md5Lower64.of("hx"), lit(B)).cast("int").as("b"))
    // bucket-aggregate BEFORE the weight join: (doc, bucket) counts are
    // ≤B rows per doc, so the k-way weight blowup multiplies the small
    // aggregated table, not the raw gram stream
    val cand = grams
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("c"))
      .join(wDf, "b")
      .groupBy("doc_id", "lang", "cl")
      .agg(sum("c").as("n_g"), sum(col("c") * col("wm")).as("sw"))
      .join(iDf, "cl")
      .withColumn("score", col("b0") * col("n_g") + col("sw"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cl").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("cl").as("pred"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("pred", "lang")
  }

  private def langIdModelOracle(mod: LangModel): String = {
    val mtext = mtextSql("text", "lang", decomposed = false)
    val wVals = mod.langs.zipWithIndex.flatMap { case (l, li) =>
      (0 until B).map(b => s"('$l', $b, ${mod.wMicros(li)(b)})")
    }.mkString(", ")
    val iVals = mod.langs.zipWithIndex
      .map { case (l, li) => s"('$l', ${mod.bMicros(li)})" }.mkString(", ")
    s"""WITH m AS (SELECT doc_id, lang, $mtext AS m FROM documents),
       g AS (
         SELECT doc_id, lang,
           CAST(CAST(md5_number_lower(substring(m, CAST(i AS INTEGER), 3))
             & 9223372036854775807 AS BIGINT) % $B AS INTEGER) AS b
         FROM m, unnest(generate_series(1, greatest(length(m) - 2, 1))) t(i)),
       w(cl, b, wm) AS (VALUES $wVals),
       ic(cl, b0) AS (VALUES $iVals),
       cand AS (
         SELECT g.doc_id, g.lang, w.cl,
           count(*) AS n_g, CAST(sum(w.wm) AS BIGINT) AS sw
         FROM g JOIN w ON w.b = g.b GROUP BY 1, 2, 3),
       sc AS (
         SELECT cand.doc_id, cand.lang, cand.cl,
           row_number() OVER (PARTITION BY cand.doc_id
             ORDER BY ic.b0 * cand.n_g + cand.sw DESC, cand.cl ASC) AS rn
         FROM cand JOIN ic USING (cl))
       SELECT cl AS pred, lang, count(*) AS cnt
       FROM sc WHERE rn = 1
       GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_multilingual" -> (multilingualDedup _),
    "text_lang_id_model" -> (langIdModel _))

  /** Oracles of dataset `d`: the model oracle interpolates the weights
    * [[fitLangModel]] fits on `d`, the fit its query scores with. */
  def oracles(s: SparkSession, d: String): Map[String, String] = Map(
    "text_multilingual" -> multilingualOracle,
    "text_lang_id_model" -> langIdModelOracle(fitLangModel(s, d)))
}
