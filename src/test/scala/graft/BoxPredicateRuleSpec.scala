package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, GetStructField}
import org.apache.spark.sql.catalyst.plans.logical.Filter

import graft.plans.BoxPredicateRule

/** [[BoxPredicateRule]] reaches a fixed point: every box and span literal
  * kind, in both `op_overlaps` argument orders, over a parquet table and
  * through a TRTREE-bound view, is expanded by ONE effective invocation,
  * the operator-optimization batches stop long before
  * `spark.sql.optimizer.maxIterations`, and the optimized Filter holds
  * each derived range comparison exactly once (no re-added
  * `hasX = false OR …` / `NOT hasX OR …` twins). */
class BoxPredicateRuleSpec extends SessionSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    val dir = java.nio.file.Files.createTempDirectory("boxconv").toString
    spark.sql(
      """SELECT id,
           to_stbox(tgeompoint(st_point(cast(id % 100 AS double),
             cast(id % 77 AS double)), ts)) AS sbox,
           tbox(cast(id % 100 AS double), ts) AS tb,
           intspan(id % 100, id % 100 + 5) AS isp,
           tstzspan(ts, ts + INTERVAL 1 DAY) AS tsp,
           floatspan(cast(id % 100 AS double), cast(id % 100 AS double) + 2.5) AS fsp
         FROM (SELECT id, timestamp'2024-01-01' + make_dt_interval(id % 10)
                 AS ts FROM range(1000) t(id))""")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("conv_tab")
    // the TRTREE cases of PlanSpec: a box column read through the view
    // MobSql re-binds to the clustered layout
    spark.sql("SELECT id, sbox AS box FROM conv_tab")
      .createOrReplaceTempView("conv_trtree")
    graft.sqlx.MobSql.run(spark,
      "CREATE INDEX conv_idx ON conv_trtree USING TRTREE(box)")
  }

  private val XWindow = "stbox('STBOX X((10.0,10.0),(20.0,20.0))')"
  private val XTWindow =
    "stbox('STBOX XT(((10.0,10.0),(20.0,20.0)),[2024-01-02, 2024-01-04])')"

  /** (case, column, literal, derived comparisons expected). */
  private val kinds = Seq(
    ("STBOX X", "sbox", XWindow, 4),
    ("STBOX XT", "sbox", XTWindow, 6),
    ("TBOX", "tb",
      "tbox('TBOXFLOAT XT([10.0, 20.0],[2024-01-02, 2024-01-04])')", 4),
    ("intspan", "isp", "intspan('[10, 20]')", 2),
    ("tstzspan", "tsp", "tstzspan('[2024-01-02, 2024-01-04]')", 2),
    ("floatspan", "fsp", "floatspan('[10.0, 20.0]')", 2))

  private val BoxFields =
    Set("xmin", "xmax", "ymin", "ymax", "tmin", "tmax", "lower", "upper")

  /** Every range comparison on a box field in the optimized Filters. */
  private def derivedComparisons(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .flatMap(_.collect {
        case c: BinaryComparison if (c.left match {
          case g: GetStructField => g.name.exists(BoxFields)
          case _ => false
        }) => c.canonicalized
      })

  private def assertConverged(label: String, df: DataFrame,
                              expected: Int): Unit = {
    val derived = derivedComparisons(df)
    val rule = df.queryExecution.tracker.rules(BoxPredicateRule.ruleName)
    val maxIter = spark.sessionState.conf.optimizerMaxIterations
    assert(rule.numEffectiveInvocations == 1,
      s"$label: ${rule.numEffectiveInvocations} effective invocations")
    assert(rule.numInvocations < maxIter / 4,
      s"$label: ${rule.numInvocations} invocations (maxIterations $maxIter)")
    val dups = derived.groupBy(identity).collect {
      case (c, xs) if xs.size > 1 => s"${xs.size}x $c"
    }
    assert(dups.isEmpty, s"$label: repeated derived ranges: ${dups.mkString("; ")}")
    assert(derived.size == expected, s"$label: ${derived.mkString("; ")}")
  }

  /** Row ids op_overlaps keeps, computed in a projection the rule never
    * rewrites. */
  private def exactIds(table: String, column: String, lit: String): Seq[Long] =
    spark.sql(s"SELECT id, op_overlaps($column, $lit) AS hit FROM $table")
      .collect().filter(r => r.getBoolean(1)).map(_.getLong(0)).toSeq.sorted

  for ((kind, column, lit, expected) <- kinds;
       (order, pred) <- Seq(
         "box first" -> s"op_overlaps($column, $lit)",
         "literal first" -> s"op_overlaps($lit, $column)")) {
    test(s"$kind literal, $order: expanded once, no repeated ranges") {
      val df = spark.sql(s"SELECT id FROM conv_tab WHERE $pred")
      assertConverged(s"$kind/$order", df, expected)
      val got = df.collect().map(_.getLong(0)).toSeq.sorted
      assert(got.nonEmpty && got == exactIds("conv_tab", column, lit))
    }
  }

  for ((order, pred) <- Seq(
         "box first" -> s"box && $XTWindow",
         "literal first" -> s"$XTWindow && box")) {
    test(s"TRTREE view lookup, $order: expanded once, no repeated ranges") {
      val df = graft.sqlx.MobSql.run(spark,
        s"SELECT id FROM conv_trtree WHERE $pred")
      assertConverged(s"trtree/$order", df, 6)
      val got = df.collect().map(_.getLong(0)).toSeq.sorted
      assert(got.nonEmpty && got == exactIds("conv_trtree", "box", XTWindow))
    }
  }

  test("the analyzed plan stays unmarked: re-optimizing it derives again") {
    // the TRTREE layout writer re-binds a DataFrame's analyzed plan to
    // another session and optimizes it again; that pass must still derive
    val df = spark.sql(s"SELECT id FROM conv_tab WHERE op_overlaps(sbox, $XWindow)")
    assertConverged("first", df, 4)
    val again = org.apache.spark.sql.graft.ColumnBridge.ofRows(
      spark.newSession(), df.queryExecution.analyzed)
    assertConverged("re-bound", again, 4)
  }
}
