package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{MobilityOps, Relational}
import graft.util.Tables

/** Physical-plan assertions: the plans we ship are the plans we want —
  * filters reach the parquet scan, small sides broadcast, aggregates are
  * partial+final, top-N avoids global sorts, codegen covers the hot
  * path, and per-entity pipelines shuffle exactly once. These are the
  * properties that keep the same code fast at 1000 executors / 100 TB. */
class PlanSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("bucketed co-located join: SMJ with no exchange or sort on inputs") {
    val df = Relational.q26BucketedJoin(spark, d)
    val f = formatted(df)
    assert(f.contains("SortMergeJoin"), f.take(1500))
    // both scans must be bucketed reads
    assert("Bucketed: true".r.findAllIn(f).size == 2, f.take(3000))
    // bucketing's whole point: NO shuffle on the join keys (the only
    // exchanges left belong to the post-join agg/sort)
    assert(!f.contains("hashpartitioning(l_orderkey"), f.take(3000))
    assert(!f.contains("hashpartitioning(o_orderkey"), f.take(3000))
    // and the result matches the unbucketed plain join bit-for-bit
    val plain = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("num_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
      .collect().map(_.toString)
    assert(df.collect().map(_.toString).sameElements(plain))
  }

  test("dimension joins broadcast the small side (no fact shuffle)") {
    val p = plan(Relational.q2JoinAgg(spark, d))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    val p3 = plan(Relational.q3StarJoin(spark, d))
    assert(p3.contains("BroadcastHashJoin"))
  }

  test("filters are pushed down to the parquet scan") {
    val f = formatted(
      Tables.orders(spark, d).filter(col("o_totalprice") > 100000)
        .select("o_orderkey"))
    assert(f.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]"), f)
  }

  test("column pruning reaches the scan (2-column projection)") {
    val f = formatted(Tables.lineitem(spark, d).select("l_orderkey", "l_quantity"))
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), f)
  }

  test("top-N plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q7TopN(spark, d))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("aggregates are partial+final (map-side combine before shuffle)") {
    val p = plan(Relational.q1Agg(spark, d))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
    assert(p.contains("partial_"), p.take(800))
  }

  test("theta join with tiny build side is broadcast nested loop") {
    val p = plan(Relational.q14ThetaJoin(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("hot path is whole-stage codegen") {
    // AQE finalizes the plan on execution; check the executed final plan
    val df = Relational.q1Agg(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // AQE prints codegen stages as `*(n)` markers in the final plan
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      p.take(800))
  }

  test("per-entity temporal pipeline shuffles exactly once") {
    // groupBy(user_id) is the single unavoidable entity shuffle; the
    // sort for orderBy is on the already-aggregated (tiny) result
    val p = plan(MobilityOps.q1TimeSpan(spark, d))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n${p.take(1200)}")
  }

  test("corpus_diff joins on content hashes — no exchange carries " +
       "document text, join is full-outer SMJ, no ScalaUDF") {
    // AQE off for the structure check: sparkPlan is pre-EnsureRequirements
    // (no exchanges yet) and AdaptiveSparkPlanExec hides its children
    // from traversal until execution finalizes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (df, exec) =
      try {
        val q = graft.operators.Dedup.corpusDiff(spark, d)
        (q, q.queryExecution.executedPlan) // force while AQE is off
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val p = plan(df)
    assert(p.contains("FullOuter"), p.take(1200))
    assert(!p.contains("ScalaUDF"), "plan contains a ScalaUDF")
    def walk(n: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      n +: n.children.flatMap(walk)
    val exchanges = walk(exec).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    // text is hashed at the scan: every shuffle row is (id, lang, len, h)
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"exchange carries raw text: ${e.output.map(_.name)}")
      assert(!e.output.exists(_.name == "t"),
        s"exchange carries derived text: ${e.output.map(_.name)}")
    }
  }

  test("dedup_keep_best: per-cluster argmax is a partial+final max(struct) " +
       "aggregate — no Window anywhere in the plan") {
    val p = plan(graft.operators.Dedup.keepBest(spark, d))
    assert(!p.contains("Window"), "keep_best plan contains a Window")
    // struct max plans as SortAggregate (not hash-aggregable) but keeps
    // the map-side partial — fine at scale: the input is dup-graph-sized
    assert(p.contains("partial_max(struct"), p.take(1500))
    assert(!p.contains("ScalaUDF"), "plan contains a ScalaUDF")
  }

  test("bucketed tables join with ZERO exchange (co-located shuffle-free join)") {
    // the 100 TB fact-fact join technique: both tables written bucketed
    // on the join key -> SortMergeJoin consumes the bucket layout
    // directly, no Exchange on either side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, d).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bkt")
      Tables.lineitem(spark, d).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_bkt")
      val j = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum("l_quantity").as("qty"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p.take(800))
      // the only exchange allowed is the one for the groupBy AFTER the
      // join — neither join input may shuffle
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"),
        s"join inputs must read bucket layout directly\n${joinPart.take(1200)}")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("AQE splits skewed join partitions at runtime (skew=true)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one hot key carrying 200k rows vs 1k uniform cold keys
      val fact = spark.range(220000)
        .selectExpr("CASE WHEN id < 200000 THEN 7 ELSE id % 1000 END AS k",
          "id AS payload")
      val dim = spark.range(1000).selectExpr("id AS k", "id * 2 AS attr")
      val j = fact.join(dim, "k")
      // execute THIS dataset (not a derived count) so its own AQE plan
      // finalizes, then assert the hot partition was split
      assert(j.collect().length == 220000) // hot 200k + cold 20k
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(300))
      assert(p.contains("skew=true"), p.take(1500))
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("salted join spreads a hot key and matches the unsalted result") {
    val fact = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dim = Tables.orders(spark, d).select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val salt = 8
    val plainRows = fact.join(dim, "l_orderkey").count()
    val salted = Relational.saltedJoin(fact, dim, "l_orderkey", salt)
    assert(salted.count() == plainRows)
    // the join key is (key, salt): hot keys spread across `salt` hash
    // partitions instead of one
    val p = plan(salted)
    assert(p.contains("_salt"), p.take(800))
    // dim replicas: every key occurs `salt` times on the build side
    val reps = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
      .groupBy("l_orderkey").count().select("count").distinct().collect()
    assert(reps.map(_.getLong(0)).toSeq == Seq(salt.toLong))
  }

  test("box-overlap predicate is a sargable column comparison (no UDF in filter)") {
    // the stbox fields are plain columns: a constant-box overlap compiles
    // to min/max comparisons that parquet stats can prune
    val boxed = Tables.events(spark, d)
      .groupBy("user_id")
      .agg(min("value").as("xmin"), max("value").as("xmax"))
    val filtered = boxed.filter(col("xmin") <= 120 && col("xmax") >= 0)
    val p = plan(filtered)
    assert(!p.contains("MobCall"), "box filter must not fall back to interpreted dispatch")
  }

  test("bucketed-at-write-time ANN layout prunes partitions and matches ann_lsh") {
    import graft.operators.Similarity
    val a = Similarity.annLsh(spark, d).collect().map(_.toString).sorted
    val b = Similarity.annLshBucketed(spark, d).collect().map(_.toString).sorted
    assert(a.sameElements(b), s"${a.length} vs ${b.length}")
    val f = formatted(Similarity.annLshBucketed(spark, d))
    // the corpus scan must be partition-filtered on the LSH bucket
    // (dynamic partition pruning from the broadcast probe side)
    assert(f.contains("dynamicpruning") || f.contains("PartitionFilters: [isnotnull(bkt"),
      f.take(2000))
    // float32 layout contract: the scan reads the narrow vector column
    // (half the bytes), and scoring widens to float64 BEFORE arithmetic
    // — the row-equality assertion above proves the widening is lossless
    assert(f.contains("v:array<float>"), f.take(3000))
    assert(Similarity.annLshBucketed(spark, d).schema("cos").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("op_overlaps(boxcol, const) derives pushed range filters (R-tree analogue)") {
    // natural predicate on a stored stbox struct column — the optimizer
    // rule (graft.plans.BoxPredicateRule) must add min/max conjuncts that
    // reach the parquet scan as PushedFilters on the nested box fields
    val dir = java.nio.file.Files.createTempDirectory("boxrule").toString
    spark.sql(
      s"""SELECT id, to_stbox(tgeompoint(st_point(cast(id % 100 AS double),
            cast(id % 77 AS double)), timestamp'2024-01-01')) AS box
          FROM range(1000) t(id)""")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("boxed_tab")
    val df = spark.sql(
      """SELECT id FROM boxed_tab
         WHERE op_overlaps(box, stbox('STBOX X((10.0,10.0),(20.0,20.0))'))""")
    val f = formatted(df)
    assert(f.contains("PushedFilters") &&
      (f.contains("box.xmin") || f.contains("LessThanOrEqual(box.xmin")),
      f.take(2000))
    // and the result is still exact (superset ranges + original predicate)
    assert(df.count() > 0)
  }

  test("CREATE INDEX ... USING TRTREE materializes a clustered layout") {
    // the DDL is accepted and mapped to a write-time range-clustered
    // parquet layout; the rebound view serves identical rows, and a box
    // predicate against it still derives pushed range filters
    spark.sql(
      s"""SELECT id, to_stbox(tgeompoint(st_point(cast(id % 50 AS double),
            cast(id % 31 AS double)), timestamp'2024-01-01')) AS box
          FROM range(500) t(id)""").createOrReplaceTempView("trtree_tab")
    val before = spark.table("trtree_tab").collect().map(_.getLong(0)).sorted
    val ddl = graft.sqlx.MobSql.run(spark,
      "CREATE INDEX idx_tt ON trtree_tab USING TRTREE(box)")
    assert(ddl.isEmpty)
    val after = spark.table("trtree_tab").collect().map(_.getLong(0)).sorted
    assert(before.sameElements(after))
    val q = graft.sqlx.MobSql.run(spark,
      """SELECT id FROM trtree_tab
         WHERE box && stbox('STBOX X((10.0,10.0),(20.0,20.0))')""")
    val f = formatted(q)
    assert(f.contains("PushedFilters") && f.contains("box.xmin"), f.take(2000))
    assert(q.count() > 0)
  }

  test("TRTREE ZORDER layout prunes off-axis box queries the range layout can't") {
    // range-clustering leads with xmin, so a predicate tight in y but
    // wide in x prunes nothing; the Z-curve key interleaves (x, y, t)
    // bits so every file's min/max stats bound a hyper-rectangle — the
    // write-time equivalent of the R-tree's 2-D page locality. Measured
    // as rows SURVIVING row-group pruning at the scan (with AQE off so
    // the executed plan exposes the scan metric directly).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def src = spark.sql(
        s"""SELECT id, to_stbox(tgeompoint(st_point(cast(id % 100 AS double),
              cast((id div 100) % 100 AS double)), timestamp'2024-01-01'))
              AS box
            FROM range(20000) t(id)""")
      src.createOrReplaceTempView("zr_tab")
      src.createOrReplaceTempView("zz_tab")
      graft.sqlx.MobSql.run(spark,
        "CREATE INDEX zr_idx ON zr_tab USING TRTREE(box)")
      graft.sqlx.MobSql.run(spark,
        "CREATE INDEX zz_idx ON zz_tab USING TRTREE(box) ZORDER")
      def q(t: String) = graft.sqlx.MobSql.run(spark,
        s"""SELECT id FROM $t
            WHERE box && stbox('STBOX X((0.0,40.0),(99.0,45.0))')""")
      def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
      }
      val idsR = q("zr_tab").collect().map(_.getLong(0)).sorted
      val idsZ = q("zz_tab").collect().map(_.getLong(0)).sorted
      assert(idsR.sameElements(idsZ), s"${idsR.length} vs ${idsZ.length}")
      assert(idsR.length == 1200) // 6 of 100 y values x 200 points each
      val (rRows, zRows) = (scanRows(q("zr_tab")), scanRows(q("zz_tab")))
      assert(zRows < rRows,
        s"zorder scan read $zRows rows, range layout $rRows — " +
          "the curve should prune off-axis row groups")
      // HILBERT (r10 verdict #8): same off-axis query, rows identical,
      // and post-pruning scan rows <= the Z-curve's (face-adjacent curve
      // steps bound each file's hyper-rectangle at least as tightly as
      // Z-order's diagonal-jumping key ranges)
      src.createOrReplaceTempView("zh_tab")
      graft.sqlx.MobSql.run(spark,
        "CREATE INDEX zh_idx ON zh_tab USING TRTREE(box) HILBERT")
      val idsH = q("zh_tab").collect().map(_.getLong(0)).sorted
      assert(idsH.sameElements(idsZ), s"${idsH.length} vs ${idsZ.length}")
      val hRows = scanRows(q("zh_tab"))
      assert(hRows <= zRows,
        s"hilbert scan read $hRows rows, zorder $zRows — " +
          "hilbert should prune at least as tightly off-axis")
      assert(hRows < rRows,
        s"hilbert scan read $hRows rows, range layout $rRows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("TRTREE compact restores pushed-filter pruning over appended rows") {
    // append leaves a tail scanned unpruned alongside the layout;
    // compact must fold it back so the WHOLE table is again behind one
    // clustered scan with pushed min/max filters on the box fields
    spark.sql(
      s"""SELECT id, to_stbox(tgeompoint(st_point(cast(id % 50 AS double),
            cast(id % 31 AS double)), timestamp'2024-01-01')) AS box
          FROM range(500) t(id)""").createOrReplaceTempView("compact_tab")
    graft.sqlx.MobSql.run(spark,
      "CREATE INDEX idx_ct ON compact_tab USING TRTREE(box)")
    graft.sqlx.MobSql.appendToLayout(spark, "compact_tab", spark.sql(
      s"""SELECT id, to_stbox(tgeompoint(st_point(cast(id % 50 AS double),
            cast(id % 31 AS double)), timestamp'2024-01-01')) AS box
          FROM range(500, 600) t(id)"""))
    val sql =
      """SELECT id FROM compact_tab
         WHERE box && stbox('STBOX X((10.0,10.0),(20.0,20.0))')"""
    val rowsBefore = graft.sqlx.MobSql.run(spark, sql)
      .collect().map(_.getLong(0)).sorted
    graft.sqlx.MobSql.compactLayout(spark, "compact_tab")
    val q = graft.sqlx.MobSql.run(spark, sql)
    // identical rows before/after the re-layout
    assert(q.collect().map(_.getLong(0)).sorted.sameElements(rowsBefore))
    val f = formatted(q)
    // single clustered scan again: pushed filters present, no union
    assert(f.contains("PushedFilters") && f.contains("box.xmin"), f.take(2000))
    assert(!f.contains("Union"), f.take(2000))
  }

  test("derived range filters keep mixed-dimension boxes (per-row flag guard)") {
    // overlapsST skips a dimension absent on EITHER side: a T-only row box
    // can overlap an XT literal via time alone. The derived xmin/xmax
    // conjuncts must be guarded by the row's own hasX flag or such rows
    // would be wrongly dropped (they carry placeholder coords).
    spark.sql(
      """SELECT * FROM VALUES
           (1, to_stbox(tgeompoint(st_point(15.0d, 15.0d), timestamp'2024-01-01'))),
           (2, stbox('STBOX T([2024-01-01, 2024-01-02])')),
           (3, stbox('STBOX X((90.0,90.0),(95.0,95.0))'))
         AS t(id, box)""").createOrReplaceTempView("mixed_boxes")
    val df = spark.sql(
      """SELECT id FROM mixed_boxes
         WHERE op_overlaps(box, stbox('STBOX XT(((10.0,10.0),(20.0,20.0)),[2024-01-01, 2024-01-03])'))""")
    val got = df.collect().map(_.getInt(0)).sorted
    // row 1 overlaps in X and T; row 2 has no X and overlaps in T;
    // row 3 has no T and does not overlap in X
    assert(got.sameElements(Array(1, 2)), got.mkString(","))
  }

  test("write-time IVF layout prunes cell partitions and matches ann_ivf") {
    import graft.operators.Similarity
    val a = Similarity.annIvf(spark, d).collect().map(_.toString).sorted
    val b = Similarity.annIvfBucketed(spark, d).collect().map(_.toString).sorted
    assert(a.sameElements(b), s"${a.length} vs ${b.length}")
    val f = formatted(Similarity.annIvfBucketed(spark, d))
    // the corpus scan must be partition-filtered on the IVF cell
    assert(f.contains("dynamicpruning") || f.contains("PartitionFilters: [isnotnull(cell"),
      f.take(2000))
    // float32 layout + float64 scoring (see the LSH-layout test)
    assert(f.contains("v:array<float>"), f.take(3000))
    assert(Similarity.annIvfBucketed(spark, d).schema("cos").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("write-time IVF-PQ layout prunes cells, matches in-memory ann_ivfpq") {
    import graft.operators.Similarity
    val a = Similarity.annIvfPq(spark, d).collect().map(_.toString).sorted
    val b = Similarity.annIvfPqBucketed(spark, d).collect().map(_.toString).sorted
    assert(a.sameElements(b), s"${a.length} vs ${b.length}")
    val f = formatted(Similarity.annIvfPqBucketed(spark, d))
    // the code scan's probed-cell list is a driver-computed LITERAL, so
    // pruning is static: the scan's PartitionFilters carry `cell IN (...)`
    assert(f.contains("PartitionFilters: [cell") ||
      f.contains("PartitionFilters: [isnotnull(cell"), f.take(2000))
    // the scored path is a PROJECTION over packed codes (broadcast LUT
    // join + 8 element_at terms): no per-code join rows, no sum(dsub)
    // hash aggregate, so no corpus-proportional exchange anywhere before
    // the 64-bounded shortlist
    assert(!f.contains("sum(dsub"), f.take(4000))
    // the shortlist itself is a partial+final ObjectHashAggregate whose
    // partial state is <= 64 pairs per (partition, query)
    assert(f.contains("ObjectHashAggregate"), f.take(4000))
    // rerank joins the broadcast 640-row shortlist against the corpus
    // scan — a sort-merge join here would shuffle every full vector
    // (2.6 GB at 5M vectors, the true source of r7's flagged shuffle)
    assert(!f.contains("SortMergeJoin"), f.take(4000))
    // and no row_number window anywhere: every per-query top-k in the
    // path is the bounded partial+final aggregate
    assert(!f.contains("Window"), f.take(4000))
  }

  test("ivfpq bucketed query path shuffles KBs, not corpus-proportional bytes") {
    import graft.operators.Similarity
    // warm the layout so the measured run is query-path only
    Similarity.buildIvfPqLayout(spark, d)
    val sw = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          sw.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.annIvfPqBucketed(spark, d).collect()
      // listener delivery is async: wait until the counter stabilizes
      var prev = -1L; var tries = 0
      while (sw.get() != prev && tries < 20) {
        prev = sw.get(); Thread.sleep(100); tries += 1
      }
      // r7's join+groupBy shape shuffled ~6 MB even at sf0.001 (and
      // 2.8 GB at 5M vectors); the packed-projection path's only
      // exchanges are the bounded shortlist states and the 640-row
      // rerank — well under 1 MB at any corpus size per probed cell set
      assert(sw.get() < (1L << 20), s"shuffle write ${sw.get()} bytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ann_ivf_sq8: cell-pruned packed scan, fused kernel, no SMJ/window") {
    import graft.operators.Similarity
    val f = formatted(Similarity.annIvfSq8(spark, d))
    // IVF half: the packed-code scan reads only the probed cells
    // (driver-computed literal list -> static partition pruning)
    assert(f.contains("PartitionFilters: [cell") ||
      f.contains("PartitionFilters: [isnotnull(cell"), f.take(2000))
    // SQ8 half: scoring decodes inside the fused sq8_dot kernel — the
    // scan must NOT read or reconstruct full float64 vectors
    assert(f.contains("sq8_dot"), f.take(4000))
    // shortlist is the bounded partial+final aggregate; the rerank is a
    // broadcast join of 64 ids/query — no corpus-wide sort-merge join,
    // no row_number window anywhere on the path
    assert(f.contains("ObjectHashAggregate"), f.take(4000))
    assert(!f.contains("SortMergeJoin"), f.take(4000))
    assert(!f.contains("Window"), f.take(4000))
  }

  test("day-partitioned events layout prunes partitions for a time range") {
    // the classic time-series ingestion layout: events written
    // partitioned by day, so a time-range query touches only its day
    // directories — same write-time-layout discipline as the ANN/TRTREE
    // layouts, applied to the event stream
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("evlayout").toString
    graft.util.Tables.events(spark, d)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val ranged = spark.read.parquet(dir)
      .filter(col("day") >= "2024-01-03" && col("day") <= "2024-01-05")
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val f = formatted(ranged)
    assert(f.contains("PartitionFilters: [isnotnull(day"),
      f.take(2000))
    // correctness: equals the unpartitioned range aggregate
    val base = graft.util.Tables.events(spark, d)
      .filter(date_format(col("ts"), "yyyy-MM-dd").between(
        "2024-01-03", "2024-01-05"))
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(_.toString).sorted
    assert(ranged.collect().map(_.toString).sorted.sameElements(base))
  }

  // the q6/q10/q16 no-ScalaUDF plan assertions live in BerlinModSpec
  // (not here): they need BerlinMod.load's temp views, and suites run
  // in PARALLEL on one shared SparkSession — a load here raced
  // BerlinModSpec's own fleet reloads (observed as a one-in-N suite
  // flake). Within a suite, tests are serial.

  test("no unbounded .collect() in src/main (audited allowlist)") {
    // Every driver-side collect must be k-/vocab-/sample-/row-bounded —
    // never corpus-shaped (the r10 text_multilingual finding). This
    // audit pins the per-file call-site counts; adding a .collect()
    // anywhere fails here until the new site is audited as bounded and
    // the allowlist updated. Audited r12:
    //   StreamGate: 1 scalar max() row (sentinelAfter, shared by the
    //     hll/countmin/join entries) + 1 single-row min/max agg
    //   MobSql: 1-row bounds aggregate; BerlinMod: two 1-row aggregates
    //   Similarity: codebook/query-id/kcenter collects (k- or 10-bounded);
    //     +2 in r12 for annIvfSq8 (32-row codebook load + 10 query ids),
    //     +1 for layoutDescribeGate (32-row codebook load),
    //     +2 for ivfVectorLeg (32-row codebook load + the 1-row PRF
    //      query vector whose probed cells become the pruning literal),
    //     +2 for annFilteredBucketed (32-row codebook + 10 query vecs),
    //     +1 in r13 for graphFwdEdgesScaled (1-row SQ8 bounds aggregate
    //      collected as the probe-quantization plan literals),
    //     +2 in r13 for ivfVectorLegBatch (32-row codebook + the
    //      |queries|-row PRF-vector frame whose probed-cell union is
    //      the pruning literal)
    //   Retrieval +1 in r13: hybridRrfBatch's |terms|-row term→bucket
    //     hashes (the batch posting-scan pruning literal)
    //   Retrieval: 3-row term→bucket hashes (the posting-scan pruning
    //     literal — Spark's own xxhash64 so driver and layout agree)
    //   Retrieval +2 in r14 (optimization): the MMR entries collect
    //     their ≤ queries·LegK-row candidate shortlists (vectors
    //     included — K and |queries| are code constants) and run the
    //     5 greedy rounds driver-locally (mmrGreedy scaladoc has the
    //     measured job-overhead numbers)
    //   util/BoundedLocal +1 in r14 (optimization): THE bounded-frame
    //     materializer — one audited collect serving every ≤ K-row
    //     LocalRelation site (beam rounds, rank-list legs)
    //   TextAnalysis: vocab-bounded LM table + top-40 PMI rows
    //   Quality/Multilingual: fixed 2000-doc training samples
    //   Sketches: 512-word bloom vocabulary; Dedup: 20-row CDC sample
    val expected = Map(
      // r13 family split: Similarity's 20 audited sites now live across
      // the base object + the three family traits (same call sites)
      // (the r13 SQ8-bounds collect in graphFwdEdgesScaled was removed
      // with the shortlist design — the f32-packed build collects
      // nothing)
      "operators/Similarity.scala" -> 4,
      // +2 in r14: sq8ScoredCandidates' bounded bounds (1 row) and
      // query-vector (|queryIds| rows) collects — the fused ann_sq8
      // kernel's driver-held structures
      // -1: annIvfSq8's codebook load goes through readCodebook
      "operators/SimilarityQuant.scala" -> 7,
      // +2 in r14: ivfBatchCandidates' bounded codebook (32 rows) and
      // query-frame (|queries| rows) collects — the fused batch leg's
      // driver-held probe structures;
      // -5: the six 32-row codebook loads are one site, readCodebook;
      // -2: ivfVectorLeg's 1-row and ivfVectorLegBatch's |queries|-row
      // query-vector collects went with them (hybrid_rrf_ivf runs
      // ivfBatchCandidates as a batch of one; the join+aggregate twin
      // lives in BatchLegTwinSpec)
      "operators/SimilarityIvf.scala" -> 4,
      // batchPostingTf's term→bucket hashes and mmrPicks' shortlist;
      // -2: postingScores' 3-row term→bucket hashes (hybrid_rrf_ivf's
      // lexical leg is batchPostingTf of a batch of one) and
      // retrievalMmr's own shortlist (it runs mmrPicks for query 42)
      "operators/Retrieval.scala" -> 2,
      "util/BoundedLocal.scala" -> 1,
      // +1: stream_ann_topk_sink's |queryIds|-row query vectors, collected
      // once per run into a plan literal
      "streaming/StreamGate.scala" -> 3,
      "operators/TextAnalysis.scala" -> 2,
      "berlinmod/BerlinMod.scala" -> 2,
      "sqlx/MobSql.scala" -> 1,
      "operators/Sketches.scala" -> 1,
      "operators/Quality.scala" -> 1,
      "operators/Multilingual.scala" -> 1,
      "operators/Dedup.scala" -> 1)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val rel = root.relativize(p).toString
        val n = java.nio.file.Files.readString(p)
          .sliding(".collect()".length).count(_ == ".collect()")
        if (n > 0) found(rel) = n
      }
    }
    assert(found.toMap == expected,
      s"collect() call sites changed — audit the new/removed sites for " +
        s"boundedness and update the allowlist.\nfound:    ${found.toMap}\n" +
        s"expected: $expected")
  }

  test("simhash/minhash-LSH/ann-LSH plans carry no ScalaUDF") {
    // hash/banding/bucketing are native kernels or builtins — nothing
    // in src/main registers a ScalaUDF anymore (the BerlinMOD geometry
    // solvers were the last, kernel-ified in r11)
    import graft.operators.{Dedup, Similarity}
    for ((name, df) <- Seq(
        ("dedup_simhash", Dedup.simhash(spark, d)),
        ("dedup_minhash_lsh", Dedup.minhashLsh(spark, d)),
        ("ann_lsh", Similarity.annLsh(spark, d)),
        ("ann_ivf", Similarity.annIvf(spark, d)),
        ("ann_pq", Similarity.annPq(spark, d)),
        ("dedup_semantic", Similarity.semDedup(spark, d)),
        ("dedup_substring", Dedup.substringDedup(spark, d)),
        ("sketch_hll", graft.operators.Sketches.hll(spark, d)),
        ("sketch_countmin", graft.operators.Sketches.countMin(spark, d)),
        ("text_perplexity_buckets",
          graft.operators.TextAnalysis.perplexityBuckets(spark, d)),
        ("sketch_kmv_overlap",
          graft.operators.Sketches.kmvOverlap(spark, d)),
        ("text_mix_budget",
          graft.operators.TextAnalysis.mixBudget(spark, d)),
        ("emb_random_projection",
          Similarity.embRandomProjection(spark, d)),
        ("ann_knn_graph", Similarity.annKnnGraph(spark, d)),
        ("text_ngram_novelty",
          graft.operators.TextAnalysis.ngramNovelty(spark, d)),
        ("dedup_containment", Dedup.containment(spark, d)),
        ("emb_outliers", Similarity.embOutliers(spark, d)),
        ("text_quality_classifier",
          graft.operators.Quality.qualityClassifier(spark, d)))) {
      val p = plan(df)
      assert(!p.contains("UDF"), s"$name plan has a ScalaUDF:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"),
        s"$name plan has a cartesian product:\n${p.take(1500)}")
    }
  }

  test("plain KMV: count-derived prefilter sits below the tail's distinct") {
    // the tail path must prune with h <= tg BEFORE its distinct exchange
    // (plan text is root-first, so parent nodes print before children:
    // distinct-Aggregate line index < tg-Filter line index proves the
    // filter is INSIDE the distinct's subtree)
    val p = graft.operators.Sketches.kmv(spark, d)
      .queryExecution.optimizedPlan.toString
    val lines = p.linesIterator.toArray
    val distinctIdx = lines.indexWhere(l =>
      l.contains("Aggregate [h#") && !l.contains("count") && !l.contains("max"))
    // the optimizer folds the filter into the broadcast join condition
    // ("Join Cross, (h <= tg)") — either node form proves the prune
    val filterIdx = lines.indexWhere(l =>
      (l.contains("Filter") || l.contains("Join")) && l.contains("<= tg#"))
    assert(distinctIdx >= 0, s"no distinct aggregate over h found:\n$p")
    assert(filterIdx >= 0, s"no tg prefilter found:\n$p")
    assert(distinctIdx < filterIdx,
      s"tg prefilter is not below the distinct:\n$p")
  }

  test("vector kernels are native expressions inside whole-stage codegen") {
    import graft.operators.Similarity
    val f = formatted(Similarity.annTopK(spark, d))
    // the scoring projection must sit in a WholeStageCodegen span and
    // use the native vec_dot expression, not a ScalaUDF
    assert(f.contains("vec_dot"), f.take(1500))
    assert(!f.contains("UDF"), f.take(1500))
    // AQE prints codegen spans only once the final plan exists — execute
    val df = Similarity.annTopK(spark, d)
    df.collect()
    // "*(n)" prefixes mark WholeStageCodegen spans in the final plan
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("LSH-bucketed embedding near-dup pairs: subset of exact, finds planted dups") {
    import graft.operators.{Dedup, Similarity}
    // every emitted pair is cosine-verified — a subset of the exact join
    val exact = Dedup.embCosinePairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embLshPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH emitted non-pairs: ${(lsh -- exact).take(3)}")
    // recall contract holds in the operator's regime (true near-dups):
    // plant perturbed copies (cos >= 0.99) and require ~all found
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(5)
    val base = (0L until 50L).map(i =>
      (i, Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val planted = base.take(20).map { case (i, v) =>
      (i + 1000L, v.map(x => x + rnd.nextDouble() * 0.01))
    }
    val vecs = (base ++ planted).toDF("vec_id", "v")
    val found = Similarity.embLshPairsFrom(vecs, minCos = 0.98).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 20L).map(i => (i, i + 1000L)).toSet
    val recall = want.count(found.contains).toDouble / want.size
    assert(recall >= 0.9, f"planted-dup recall $recall%.2f < 0.9")
  }

  test("IVF ANN: 50 rows, corpus never shuffled, recall vs exact baseline") {
    import graft.operators.Similarity
    val exact = Similarity.annTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.annIvf(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ivf.length == 50, s"expected 10 queries x top-5, got ${ivf.length}")
    val recall = ivf.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, f"IVF recall $recall%.2f < 0.5 (nprobe=6/32 cells)")
    // the corpus side must not shuffle: the only exchanges allowed are
    // broadcasts (codebook/query side) and the final top-k window
    val f = formatted(Similarity.annIvf(spark, d))
    assert(!f.contains("SortMergeJoin"), f.take(2000))
  }

  test("ann_filtered plan: predicate evaluates BELOW the broadcast cell " +
       "join (pre-filter), no corpus shuffle, bounded top-k aggregate") {
    import graft.operators.Similarity
    val df = Similarity.annFiltered(spark, d)
    // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec hides the
    // unexecuted inner tree from TreeNode.collect
    val exec = df.queryExecution.sparkPlan
    // the candidate-side subtree of the cell join must carry the label
    // predicate — filtering AFTER the join would be the post-filter
    // shape the operator exists to avoid
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, exec.toString.take(2000))
    val candSide = joins.map { j =>
      // the streamed (non-broadcast) side is the candidate scan
      if (j.buildSide.toString.contains("Right")) j.left else j.right
    }
    assert(candSide.exists(_.toString.contains("% 3) = 0")),
      "label % 3 = 0 not found below the cell join:\n" +
        exec.toString.take(3000))
    val f = formatted(df)
    assert(!f.contains("SortMergeJoin"), f.take(2000))
    assert(!f.contains("CartesianProduct"), f.take(2000))
    assert(f.contains("ObjectHashAggregate"), f.take(2000))
  }

  test("hybrid_rrf / retrieval_mmr plans: query-vector joins broadcast " +
       "(no cartesian on data rows), native vec_dot kernel on the scan") {
    import graft.operators.Retrieval
    val ph = Retrieval.hybridRrf(spark, d).queryExecution.sparkPlan.toString
    assert(!ph.contains("CartesianProduct"), ph.take(2000))
    // both legs are localCheckpointed 20-row rank lists (r12 advice
    // added the vector leg's), so the fused plan reads ExistingRDDs;
    // the vec_dot kernel is asserted on the leg's OWN pre-checkpoint
    // plan via the filtered-ANN and IVF-leg tests above, and the fusion
    // plan's job here is the no-cartesian + bounded-join shape only
    assert(ph.contains("FullOuter"), ph.take(2000))
    // the MMR plan reads its localCheckpointed 20-row candidate/sim
    // frames (the cosine kernel ran at checkpoint time), so only the
    // no-cartesian shape is visible in the final plan
    val pm = Retrieval.retrievalMmr(spark, d).queryExecution.sparkPlan.toString
    assert(!pm.contains("CartesianProduct"), pm.take(2000))
  }

  test("text_chunk plan: scan + generate only, no hash exchange") {
    // the window expand must stay map-side; the only exchange allowed
    // is the presentation ORDER BY's range partitioning
    val p = plan(graft.operators.TextAnalysis.chunkDocs(spark, d))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(p.contains("Generate explode"), p.take(1500))
  }

  test("text_pmi plan: unigram lookups broadcast, no sort-merge join") {
    // pmiPlan is the lazy plan the gate entry materializes (the entry
    // itself returns a localized 40-row result so it can unpersist the
    // token cache — r10); assert on the plan that actually executes
    val (df, toks) = graft.operators.TextAnalysis.pmiPlan(spark, d)
    val p = plan(df)
    toks.unpersist()
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }
}
