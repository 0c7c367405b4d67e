package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Relational/dataflow operator coverage (SURVEY.md §2.1).
  *
  * The reference inherits all relational operators from DuckDB; our parity
  * comes from Catalyst. Each query here exercises one operator family
  * observed in the reference's BerlinMOD workload
  * (`benchmark/BerlinMOD/sql/queries/`, explain outputs) and has an
  * exact DuckDB oracle in [[graft.SparkEntry.oracleSqlFor]].
  *
  * Scale notes (100 TB design):
  *  - dimension joins (region/nation/customer) are explicitly
  *    `broadcast()`ed — no shuffle of the fact side;
  *  - aggregates are declarative groupBy/agg → Catalyst plans partial
  *    (map-side) + final HashAggregate, so the shuffle carries only
  *    per-group partials;
  *  - top-N is `orderBy().limit()` → TakeOrderedAndProject (no global sort);
  *  - all float aggregates are rounded in BOTH engines so the hash compare
  *    is insensitive to summation order across partitions.
  */
object Relational {

  /** GROUP BY hash aggregate (ref: query_8.sql SUM..GROUP BY; explain
    * HASH_JOIN/PERFECT_HASH_GROUP_BY). TPC-H Q1 shape. */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Inner equi hash join + aggregate (ref explain: HASH_JOIN VehicleId). */
  def q2JoinAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        round(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("num_orders"))
      .orderBy("c_mktsegment")

  /** Multi-way dimension join, all broadcast (star-schema pattern). */
  def q3StarJoin(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("num_suppliers"),
        round(sum("s_acctbal"), 2).as("total_acctbal"))
      .orderBy("r_name")

  /** Left-semi join (ref explain: HASH_JOIN Join Type: SEMI for EXISTS). */
  def q4SemiJoin(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS): customers with no very large order. */
  def q5AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")

  /** COUNT(DISTINCT) two-phase aggregate (ref: query_2.sql, query_17.sql). */
  def q6CountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct("l_partkey").as("distinct_parts"),
        countDistinct("l_suppkey").as("distinct_supps"))
      .orderBy("l_returnflag")

  /** ORDER BY + LIMIT top-N (ref explain: TOP_N) →
    * TakeOrderedAndProject, no global sort. */
  def q7TopN(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** Window function: best order per customer (ref: query_7.sql `<= ALL`
    * rewritten as window-min per SURVEY §2.1). */
  def q8Window(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** Scalar subquery (ref: query_17.sql `= (SELECT MAX ...)`). */
  def q9ScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    // scalar agg is a 1-row broadcast, not a driver-side collect
    val avgPrice = o.agg(avg("o_totalprice").as("a"))
    o.join(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("a"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum("o_totalprice"), 2).as("total"))
  }

  /** CTE + self-join: month-over-month revenue (ref: query_5/12 CTE
    * self-join pattern). Joins on an integer month index so Spark/DuckDB
    * date arithmetic differences cannot bite. */
  def q10CteSelfJoin(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .withColumn("mi",
        year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .groupBy("mi")
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val cur = monthly.select(col("mi"), col("rev"))
    val prev = monthly.select(
      (col("mi") + 1).as("mi"), col("rev").as("prev_rev"))
    cur.join(prev, "mi")
      .select(col("mi"), col("rev"), col("prev_rev"),
        round(col("rev") - col("prev_rev"), 2).as("delta"))
      .orderBy("mi")
  }

  /** Set operators: UNION / INTERSECT / EXCEPT over key sets. */
  def q11SetOps(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val b = c.filter(col("c_acctbal") > 0).select("c_custkey")
    val union = a.union(b).distinct.count()
    val inter = a.intersect(b).count()
    val minus = a.except(b).count()
    import s.implicits._
    Seq((union, inter, minus)).toDF("union_cnt", "intersect_cnt", "except_cnt")
  }

  /** UNNEST/explode (ref: SetUnnest table function, set.cpp:1542-1654):
    * top-20 tokens across documents. */
  def q12Explode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)

  /** ORDER BY + LIMIT + OFFSET (ref: Licences2 view LIMIT 10 OFFSET 10). */
  def q13Offset(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(10)
      .limit(10)

  /** Theta (non-equi range) join: events joined to month windows derived
    * from orders (ref explain: BLOCKWISE_NL_JOIN Trip && Period).
    * The small side is broadcast → BroadcastNestedLoopJoin, which is the
    * right physical plan when one side is tiny. */
  def q14ThetaJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tu"))
    // 4 fixed week-long windows over Jan 2024 (events start 2024-01-01)
    import s.implicits._
    val windows = Seq(
      (1, "2024-01-01", "2024-01-08"),
      (2, "2024-01-08", "2024-01-15"),
      (3, "2024-01-15", "2024-01-22"),
      (4, "2024-01-22", "2024-01-29"))
      .toDF("win_id", "lo", "hi")
      .select(col("win_id"),
        unix_micros(to_timestamp(col("lo"))).as("lo_u"),
        unix_micros(to_timestamp(col("hi"))).as("hi_u"))
    e.join(broadcast(windows),
        col("tu") >= col("lo_u") && col("tu") < col("hi_u"))
      .groupBy("win_id")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .orderBy("win_id")
  }

  /** Frame-based window analytics: daily revenue with a 7-day moving
    * average (ROWS BETWEEN 6 PRECEDING) and a running cumulative total
    * (UNBOUNDED PRECEDING) — the frame clauses rel_q8's row_number does
    * not exercise. Daily sums are rounded BEFORE the frame aggregates so
    * both engines fold identical doubles. */
  def q16WindowFrames(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("day"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    // the un-partitioned (global) windows run over the DAILY aggregate —
    // row count bounded by the calendar, not the fact table, so the
    // single-task window is a few-KB sort no matter the corpus size
    val w7 = Window.orderBy("day").rowsBetween(-6, 0)
    val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("ma7", round(avg("rev").over(w7), 2))
      .withColumn("cum", round(sum("rev").over(wCum), 2))
      .orderBy("day")
  }

  /** ROLLUP hierarchy totals (segment, year) -> segment -> grand total.
    * The grouping-null rows are materialized as 'ALL' labels via
    * GROUPING() so the compare never sees engine-specific nulls.
    * Expressed in Spark SQL: the DataFrame `.rollup` path trips the
    * self-join ambiguity checker when the re-aliased grouping columns
    * flow through Expand — SQL resolves them by position instead. */
  def q17Rollup(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("rel_orders")
    Tables.customer(s, d).createOrReplaceTempView("rel_customer")
    s.sql(
      """SELECT
           CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
                ELSE c_mktsegment END AS seg,
           CASE WHEN GROUPING(yr) = 1 THEN 'ALL' ELSE yr END AS yr,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
         FROM (SELECT c_mktsegment,
                 CAST(year(o_orderdate) AS STRING) AS yr, o_totalprice
               FROM rel_orders JOIN rel_customer ON o_custkey = c_custkey)
         GROUP BY ROLLUP (c_mktsegment, yr)
         ORDER BY seg, yr""")
  }

  /** Pivot: revenue per market segment spread across order-year columns
    * (conditional aggregation under the hood on both engines). */
  def q18Pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        year(col("o_orderdate")).as("yr"), col("o_totalprice"))
      .groupBy("seg")
      .pivot("yr", Seq(1995, 1996))
      .agg(round(sum("o_totalprice"), 2))
      .withColumnRenamed("1995", "rev_1995")
      .withColumnRenamed("1996", "rev_1996")
      .orderBy("seg")

  /** Salted equi-join for skewed keys — the manual fallback when AQE's
    * skew-join split cannot apply (e.g. the skewed side feeds a
    * bucket-preserving operator). Each fact ROW gets a deterministic
    * salt from its content hash; the (small) dim side is exploded into
    * `salt` replicas; the join key becomes (key, salt), so a hot key's
    * rows spread over `salt` reducers instead of one. Inner-join
    * semantics are unchanged: every fact row still matches exactly the
    * one dim replica carrying its salt. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 salt: Int): DataFrame = {
    val factS = fact.withColumn("_salt",
      pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(salt)).cast("int"))
    val dimS = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    factS.join(dimS, Seq(key, "_salt")).drop("_salt")
  }

  /** Driver-contract entry for [[saltedJoin]]: lineitem x orders on the
    * order key with salt 8, aggregated per customer — identical rows to
    * the plain join (the DuckDB oracle), which is exactly the property
    * that makes salting safe to drop into a skewed plan. */
  def q15SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity")
    val dim = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    saltedJoin(fact, dim, "l_orderkey", 8)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("cnt").desc, col("o_custkey").asc)
      .limit(20)
  }

  /** Ordered conversion funnel view -> click -> purchase: a user
    * advances a step only with a LATER event of the next type (the
    * classic product-analytics funnel, not mere type presence). Each
    * step is one filter + groupBy(user) min + join onto the previous
    * step's frame — a shuffle per step on the user key, never a window
    * over the whole event stream; at 100 TB each step's frame is
    * user-sized, not event-sized. */
  def q26Funnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("user_id", "ts", "event_type")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    val total = e.select("user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    total
      .crossJoin(v.agg(count(lit(1)).as("n_view")))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_full_funnel"),
        round(col("n_view_click") / col("n_view").cast("double"), 4)
          .as("click_rate"),
        round(col("n_full_funnel") / col("n_view_click").cast("double"), 4)
          .as("purchase_rate"))
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event; one row per (cohort week, week offset) with the distinct
    * users still active. Two aggregates (first-event per user, distinct
    * user-weeks) and one user-key join — the cohort matrix stays
    * |weeks|^2-sized no matter the event volume. */
  def q27Retention(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("cohort_week"))
    val active = e.distinct()
    active.join(cohort, "user_id")
      .withColumn("week_offset",
        expr("datediff(wk, cohort_week) div 7"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Multiset set operations — EXCEPT ALL / INTERSECT ALL keep
    * duplicate cardinalities (rel_q11 covers the DISTINCT variants):
    * order-priority lineitem multisets compared by (partkey, suppkey)
    * occurrence counts. Spark plans both as counted hash aggregates
    * (no sort), the same shape DuckDB uses. */
  def q25SetAll(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val hi = li.filter(col("l_quantity") >= 25).select("l_partkey", "l_suppkey")
    val lo = li.filter(col("l_quantity") < 25).select("l_partkey", "l_suppkey")
    val exceptCnt = hi.exceptAll(lo).count()
    val intersectCnt = hi.intersectAll(lo).count()
    import s.implicits._
    Seq((exceptCnt, intersectCnt)).toDF("except_all_cnt", "intersect_all_cnt")
  }

  /** CUBE over (segment, year): all four grouping combinations in one
    * pass — the partial-aggregate expansion Spark shares with ROLLUP
    * (rel_q17), completing the grouping-sets surface. */
  def q24Cube(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        year(col("o_orderdate")).cast("string").as("yr"),
        col("o_totalprice"))
      .createOrReplaceTempView("cube_base")
    s.sql(
      """SELECT
          CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
               ELSE c_mktsegment END AS seg,
          CASE WHEN GROUPING(yr) = 1 THEN 'ALL' ELSE yr END AS yr,
          count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
        FROM cube_base
        GROUP BY CUBE (c_mktsegment, yr)
        ORDER BY seg, yr""")
  }

  /** Statistical outlier detection: top-20 events by |z| against their
    * event type's mean/stddev. The moments are derived from ROUNDED
    * sums (sum, sum-of-squares quantized to 6 dp) rather than the
    * engines' native stddev aggregates — Spark's and DuckDB's streaming
    * variance states merge partials in different orders, so only the
    * quantized-sum formulation is engine-identical. Plan: one partial+
    * final agg (5 groups), broadcast back onto the scan, TakeOrdered
    * tail — at 100 TB the stats side is bytes, the scan is one pass. */
  def q19Zscore(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("event_id", "event_type", "value")
    val st = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      round(sum("value"), 6).as("msum"),
      round(sum(col("value") * col("value")), 6).as("ssum"))
    e.join(broadcast(st), "event_type")
      .withColumn("z", round(
        (col("value") - col("msum") / col("n")) /
          sqrt((col("ssum") - col("msum") * col("msum") / col("n"))
            / (col("n") - 1)), 4))
      .select("event_id", "event_type", "value", "z")
      .orderBy(abs(col("z")).desc, col("event_id").asc)
      .limit(20)
  }

  /** Semi-structured JSON extraction from the events `props` column:
    * per event type, the count, sum, and high-value count of the
    * embedded integer field. get_json_object is a codegen'd path
    * expression — the JSON never leaves the scanning task, only the
    * 5-group aggregate shuffles. */
  def q20Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("k").cast("bigint").as("sum_k"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")

  /** Remaining window-function surface in one query: lag/lead month
    * deltas, ntile quartile, percent_rank — over the monthly revenue
    * aggregate (a bounded, window-safe frame: months, not rows). */
  def q22LagNtile(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("mi")
    monthly
      .withColumn("prev_rev", lag("rev", 1).over(w))
      .withColumn("next_rev", lead("rev", 1).over(w))
      .withColumn("quartile", ntile(4).over(w.orderBy(col("rev").desc, col("mi"))))
      .withColumn("pr", round(percent_rank().over(w.orderBy(col("rev").asc, col("mi"))), 4))
      .select("mi", "rev", "prev_rev", "next_rev", "quartile", "pr")
      .orderBy("mi")
  }

  /** Calendar gap-fill (time-series resample): every (user, day) cell
    * of the observed span, zero-filled where no events landed. The
    * day spine is sequence()+explode off a 1-row bounds aggregate, the
    * user dimension is DISTINCT user_id, and the dense grid is a
    * broadcast cross join — grid cells = users x days, data-independent
    * of the event count, then one left join against the per-cell
    * aggregate. At 100 TB the grid is still |users| x |days| (small);
    * the only corpus-sized pass is the pre-aggregation. */
  def q23Gapfill(s: SparkSession, d: String): DataFrame = {
    // day stays a truncated TIMESTAMP (not DATE): the two engines'
    // client layers disagree on DATE representation, timestamps compare
    // exactly
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value"))
    val bounds = e.agg(min("day").as("lo"), max("day").as("hi"))
    val days = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val users = e.select("user_id").distinct()
    val perCell = e.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("tv"))
    users.crossJoin(broadcast(days))
      .join(perCell, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("tv"), lit(0.0)).as("total_value"))
      .orderBy("user_id", "day")
  }

  /** Correlated LATERAL subquery — per BUILDING customer, their top-2
    * orders by price: the SQL-surface form of the per-group top-N that
    * rel_q8 expresses with a window. Spark decorrelates the LATERAL
    * with ORDER BY + LIMIT into exactly that ranked-window plan, so the
    * scale shape is one shuffle by the correlation key. */
  def q21Lateral(s: SparkSession, d: String): DataFrame = {
    // lateral_-prefixed names (matching the rel_ view discipline at
    // q10's rel_orders/rel_customer): bare 'customer'/'orders' views
    // would persist for the session and shadow later bare-name SQL —
    // possibly serving a previous run's scale directory
    Tables.customer(s, d).createOrReplaceTempView("lateral_customer")
    Tables.orders(s, d).createOrReplaceTempView("lateral_orders")
    s.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
        FROM lateral_customer, LATERAL (
          SELECT o_orderkey, o_totalprice FROM lateral_orders
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  /** Bucketed CO-LOCATED join — write-time bucketing, the zero-shuffle
    * fact-to-fact join discipline at 100 TB: both sides materialized
    * `bucketBy(8, key).sortBy(key)`, so the sort-merge join reads
    * pre-bucketed, pre-sorted files with NO Exchange and NO Sort on
    * either input (plan-asserted in PlanSpec: no
    * `hashpartitioning(l_orderkey/o_orderkey)` exchange exists — the
    * only shuffles left are the tiny post-join agg partials). The
    * bucketed tables are a write-once load phase, like the ANN/TRTREE
    * layouts; table names carry the source-dir fingerprint so two sf
    * dirs never share a table. The merge hint pins SMJ so the
    * demonstration doesn't silently degrade to a broadcast join at
    * small sf (at 100 TB both sides are fact-sized and SMJ is the only
    * option — exactly what bucketing exists for). */
  def q26BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val fp = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      new java.io.File(d).getCanonicalPath))
    val liT = s"graft_li_bkt_$fp"
    val orT = s"graft_or_bkt_$fp"
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse directories persist — drop the orphaned location before
    // re-creating, or saveAsTable fails with LOCATION_ALREADY_EXISTS
    def dropOrphan(table: String): Unit = {
      val wh = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val dir = new java.io.File(wh, table)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      if (dir.exists()) rm(dir)
    }
    if (!s.catalog.tableExists(liT)) {
      dropOrphan(liT)
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(liT)
    }
    if (!s.catalog.tableExists(orT)) {
      dropOrphan(orT)
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(orT)
    }
    s.table(liT).hint("merge")
      .join(s.table(orT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("num_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }
}
