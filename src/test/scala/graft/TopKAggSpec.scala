package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[graft.functions.TopKOrderedAgg]] (`topk_ordered`) must be
  * ROW-IDENTICAL — members AND order — to the semantics it replaces:
  * `row_number() OVER (PARTITION BY g ORDER BY key ASC, id ASC) <= k`.
  * The ANN/retrieval rank tails ride on it, so the comparison runs on
  * heavy-tie data (few distinct keys over many ids — every insert hits
  * the tie-break), across cap boundaries (k=1, k mid-stream, k larger
  * than some groups), through the partial+merge+serde path (multiple
  * input partitions force serialize/deserialize and mergeSorted), and
  * through both input paths (pre-projected BoundReference columns and
  * the interpreted-eval fallback for computed args / literal payload). */
class TopKAggSpec extends SessionSuite {

  /** Deterministic tie-heavy corpus: 50k rows, 37 groups, keys from a
    * 11-value lattice (≫ cap collisions per key), ids scrambled so
    * ascending-id insertion order never matches arrival order. */
  private def corpus: DataFrame =
    spark.range(0, 50000).select(
      (col("id") % 37).as("g"),
      ((col("id") * 2654435761L) % 100003).as("vec_id"),
      ((col("id") % 11).cast("double") / 7.0).as("key"),
      (col("id").cast("double") * 0.001).as("pay"))

  private def windowForm(df: DataFrame, k: Int): Array[(Long, Int, Long, Double)] =
    df.withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy(col("key").asc, col("vec_id").asc)))
      .filter(col("rk") <= k)
      .select("g", "rk", "vec_id", "pay")
      .orderBy("g", "rk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  private def aggForm(df: DataFrame, k: Int): Array[(Long, Int, Long, Double)] =
    df.groupBy("g")
      .agg(call_function("topk_ordered", lit(k), col("key"),
        col("vec_id"), col("pay")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("g"), (col("pos") + 1).cast("int").as("rk"),
        col("p._1").as("vec_id"), col("p._2").as("pay"))
      .orderBy("g", "rk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  test("topk_ordered == row_number window form on tie-heavy data, " +
       "k in {1, 5, 64}, through the partial+merge+serde path") {
    for (k <- Seq(1, 5, 64); parts <- Seq(1, 7)) {
      val df = corpus.repartition(parts)
      val w = windowForm(df, k)
      val a = aggForm(df, k)
      assert(a.length == w.length, s"k=$k parts=$parts row count")
      a.zip(w).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"k=$k parts=$parts row $i: agg=$x window=$y") }
    }
  }

  test("k larger than the group: whole group returned, ordered") {
    // 3 groups of ~33 rows each, k=100 — buffer never reaches cap
    val small = spark.range(0, 100).select(
      (col("id") % 3).as("g"), col("id").as("vec_id"),
      (col("id") % 4).cast("double").as("key"),
      col("id").cast("double").as("pay"))
    assert(aggForm(small, 100).toSeq == windowForm(small, 100).toSeq)
  }

  test("interpreted-eval fallback (computed key arg, literal payload) " +
       "matches the pre-projected form") {
    val df = corpus
    val direct = df
      .groupBy("g")
      // computed child: not a BoundReference after binding → eval path
      .agg(call_function("topk_ordered", lit(5),
        negate(negate(col("key"))), col("vec_id"), lit(0.0)).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("g"), col("pos"), col("p._1").as("vec_id"))
      .orderBy("g", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val pre = df.select(col("g"), col("vec_id"), col("key"))
      .groupBy("g")
      .agg(call_function("topk_ordered", lit(5), col("key"),
        col("vec_id"), lit(0.0)).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("g"), col("pos"), col("p._1").as("vec_id"))
      .orderBy("g", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(direct.toSeq == pre.toSeq)
  }

  test("plan stays ObjectHashAggregate (k-bounded state must hash, " +
       "not sort)") {
    val df = corpus.groupBy("g")
      .agg(call_function("topk_ordered", lit(5), col("key"),
        col("vec_id"), col("pay")).as("top"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
  }

  /** Every message along `e`'s cause chain (a task failure reaches the
    * driver wrapped in a SparkException). */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("the cap must be a positive integer literal: 0, a negative, a " +
       "fraction and a column are rejected by name") {
    for (cap <- Seq(lit(0), lit(-3), lit(2.5), col("g"))) {
      val e = intercept[Exception] {
        corpus.groupBy("g")
          .agg(call_function("topk_ordered", cap, col("key"),
            col("vec_id"), col("pay")).as("top"))
          .collect()
      }
      assert(messages(e).exists(_.contains("topk_ordered cap")),
        s"cap $cap: ${messages(e).mkString(" <- ")}")
    }
  }

  test("ids within ±2^53 come back exact; an id beyond fails instead of " +
       "coming back as its neighbour") {
    val bound = 1L << 53
    def top(ids: Seq[Long]): Array[Long] = {
      val s = spark
      import s.implicits._
      ids.zipWithIndex.map { case (id, i) => (0L, id, i.toDouble) }
        .toDF("g", "vec_id", "key")
        .groupBy("g")
        .agg(call_function("topk_ordered", lit(5), col("key"),
          col("vec_id"), lit(0.0)).as("top"))
        .select(explode(col("top")).as("p"))
        .select(col("p._1")).collect().map(_.getLong(0))
    }
    assert(top(Seq(bound, -bound, bound - 1)).toSeq ==
      Seq(bound, -bound, bound - 1))
    for (id <- Seq(bound + 1, -bound - 1, Long.MaxValue)) {
      val e = intercept[Exception](top(Seq(1L, id)))
      assert(messages(e).exists(_.contains("outside ±2^53")),
        s"id $id: ${messages(e).mkString(" <- ")}")
    }
  }

  test("the fused kernels' buffers share the aggregate's cap and id " +
       "checks and emit each query's triples in (key, id) order") {
    import graft.functions.TopKOrderedAgg.Buffers
    intercept[IllegalArgumentException](new Buffers(2, 0))
    val b = new Buffers(2, 2)
    intercept[IllegalArgumentException](b.offer(0, 0.0, (1L << 53) + 1, 0.0))
    Seq((1, 0.5, 7L), (0, 0.2, 9L), (0, 0.2, 3L), (0, 0.1, 4L), (1, 0.5, 6L))
      .foreach { case (q, k, id) => b.offer(q, k, id, k * 10) }
    assert(b.emit((q, k, id, p) => (q, k, id, p)).toSeq == Seq(
      (0, 0.1, 4L, 1.0), (0, 0.2, 3L, 2.0), (1, 0.5, 6L, 5.0), (1, 0.5, 7L, 5.0)))
  }
}
