package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.{Quality, TextAnalysis}

/** Every gate oracle is a pure function of the entry and the dataset:
  * the trained ones re-run the deterministic trainer their query calls,
  * so no operator keeps state that a query run fills and an oracle
  * reads back. */
class OraclePuritySpec extends SessionSuite {

  private val small = "/root/testdata/sf0.001"
  private val big = "/root/testdata/sf0.01"

  /** The entries whose oracle interpolates an artifact trained on the
    * dataset (codebooks, plane counts, model weights, merges, the
    * simhash vocabulary). */
  private val trained = Seq(
    "ann_filtered", "ann_filtered_bucketed", "ann_graph_append",
    "ann_graph_scaled", "ann_graph_scaled_sq8", "ann_graph_scaled_stats",
    "ann_ivf", "ann_ivf_bucketed", "ann_ivf_sq8", "ann_ivfpq",
    "ann_ivfpq_bucketed", "ann_pq", "dedup_semantic", "dedup_simhash",
    "hybrid_rrf_batch", "hybrid_rrf_batch100", "hybrid_rrf_ivf",
    "layout_describe", "retrieval_ndcg_batch", "stream_graph_append_sink",
    "text_bpe_pack", "text_bpe_token_counts", "text_lang_id_model",
    "text_quality_classifier")

  test("operators keep no process-global state: no ConcurrentHashMap and " +
       "no @volatile var") {
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val volatileVar = "@volatile\\b.*\\bvar\\b".r
    val sites = for {
      f <- Files.list(dir).iterator.asScala.toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/**")
      if code.contains("ConcurrentHashMap") || volatileVar.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: $code"
    if (sites.nonEmpty)
      fail(sites.sorted.mkString(s"${sites.size} global state sites:\n", "\n", ""))
  }

  test("oracleSqlFor gives the same map before any query ran and after " +
       "every trained entry ran (same keys, same SQL)") {
    val before = SparkEntry.oracleSqlFor(spark, small)
    val missing = trained.filterNot(before.contains)
    assert(missing.isEmpty, s"trained oracles missing before their queries ran: $missing")
    trained.foreach { k =>
      SparkEntry.useAggThreshold(spark, k)
      SparkEntry.queries(k)(spark, small).count()
    }
    val after = SparkEntry.oracleSqlFor(spark, small)
    assert(after.keySet == before.keySet)
    val changed = before.keys.filter(k => after(k) != before(k)).toSeq.sorted
    assert(changed.isEmpty, s"oracle SQL changed after the queries ran: $changed")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("after text_quality_classifier and text_bpe_token_counts ran on " +
       "sf0.001, their sf0.01 results use sf0.01's own fit") {
    Quality.qualityClassifier(spark, small).collect()
    TextAnalysis.bpeTokenCounts(spark, small).collect()

    val ownW = Quality.fitClassifier(spark, big)
    val ownClassified = rows(Quality.qualityClassifierWith(spark, big, ownW))
    assert(ownClassified != rows(Quality.qualityClassifierWith(spark, big,
      Quality.fitClassifier(spark, small))),
      "sf0.001's weights must score sf0.01 differently for this test to tell the fits apart")
    assert(rows(Quality.qualityClassifier(spark, big)) == ownClassified)

    val ownMerges = TextAnalysis.learnBpe(spark, big)
    val ownCounts = rows(TextAnalysis.bpeTokenCountsWith(spark, big, ownMerges))
    assert(ownCounts != rows(TextAnalysis.bpeTokenCountsWith(spark, big,
      TextAnalysis.learnBpe(spark, small))),
      "sf0.001's merges must count sf0.01 differently for this test to tell the fits apart")
    assert(rows(TextAnalysis.bpeTokenCounts(spark, big)) == ownCounts)
  }
}
