package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Results must not depend on the session config. The gate
  * (`graft.Verify`) and the bench (`graft.Bench`) now share one session
  * ([[GraftSession]]) and one per-query aggregate threshold
  * ([[SparkEntry.aggThreshold]]: 64k for the ANN/retrieval entries, 128
  * for the rest), and this spec keeps that choice free of consequences
  * for rows: the plans the box predicate rule rewrites, mobility, ANN,
  * hybrid-retrieval, dedup and text gate entries return identical rows
  * with the fallback threshold at 1M and at 128, 4 and 32 shuffle
  * partitions, and adaptive execution on and off. */
class ConfigInvarianceSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  private val configs: Seq[(String, Map[String, String])] = for {
    (threshold, partitions) <- Seq(("1000000", "4"), ("128", "32"))
    aqe <- Seq("true", "false")
  } yield s"threshold=$threshold/partitions=$partitions/aqe=$aqe" -> Map(
    SparkEntry.FallbackKey -> threshold,
    "spark.sql.shuffle.partitions" -> partitions,
    "spark.sql.adaptive.enabled" -> aqe)

  private val Window =
    "stbox('STBOX XT(((10.0,10.0),(30.0,20.0)),[2024-01-02, 2024-01-05])')"

  /** Every query of the spec, run in `s`: gate entries plus a TRTREE
    * lookup and the same lookup over the unindexed view. */
  private def queries(s: SparkSession, tag: String): Seq[(String, () => DataFrame)] = {
    graft.functions.GraftFunctions.register(s)
    val src = s.sql(
      """SELECT id, to_stbox(tgeompoint(st_point(cast(id % 50 AS double),
           cast(id % 31 AS double)),
           timestamp'2024-01-01' + make_dt_interval(id % 9))) AS box
         FROM range(3000) t(id)""")
    src.createOrReplaceTempView(s"inv_plain_$tag")
    src.createOrReplaceTempView(s"inv_idx_$tag")
    graft.sqlx.MobSql.run(s,
      s"CREATE INDEX inv_idx_$tag ON inv_idx_$tag USING TRTREE(box)")
    def lookup(view: String) = () => graft.sqlx.MobSql.run(s,
      s"SELECT id, box FROM $view WHERE box && $Window")
    Seq("mob_q6_stbox_filter", "mob_q1_timespan", "mob_q4_sessions",
        "mob_q8_asof_join", "ann_topk", "ann_lsh", "hybrid_rrf",
        "retrieval_mmr", "dedup_jaccard", "dedup_minhash_lsh", "text_tfidf",
        "text_bm25")
      .map(n => n -> (() => SparkEntry.queries(n)(s, d))) ++
      Seq("trtree_lookup" -> lookup(s"inv_idx_$tag"),
          "unindexed_lookup" -> lookup(s"inv_plain_$tag"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("gate and bench session configs give identical rows, AQE on and off") {
    val results = configs.zipWithIndex.map { case ((label, conf), i) =>
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      label -> queries(s, s"c$i").map { case (n, q) => n -> rows(q()) }.toMap
    }
    val (baseLabel, base) = results.head
    assert(base.values.forall(_.nonEmpty), base.filter(_._2.isEmpty).keys)
    assert(base("trtree_lookup") == base("unindexed_lookup"))
    for ((label, got) <- results.tail; (n, expected) <- base) {
      assert(got(n) == expected,
        s"$n under $label differs from $baseLabel: " +
          s"${got(n).size} vs ${expected.size} rows, first diff " +
          got(n).zipAll(expected, "-", "-").find(p => p._1 != p._2))
    }
  }
}
