package graft

import org.apache.spark.sql.DataFrame

import graft.plans.GraftExtensions

/** Every optimizer rule [[GraftExtensions]] injects must let Catalyst's
  * fixed-point batches converge. A rule that rewrites the plan on every
  * iteration runs its batch to `spark.sql.optimizer.maxIterations`, which
  * costs each query hundreds of milliseconds of planning and otherwise
  * shows up only as a "Max iterations" WARN in a log.
  *
  * The query's planning tracker sums a rule's invocations over all
  * batches, so a batch that reached the cap shows as at least
  * `maxIterations` invocations. */
class InjectedRuleGuardSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  private def assertConverges(label: String, df: DataFrame): Unit = {
    df.queryExecution.optimizedPlan
    val maxIter = spark.conf.get("spark.sql.optimizer.maxIterations").toInt
    val rules = df.queryExecution.tracker.rules
    for (r <- GraftExtensions.optimizerRules) {
      val s = rules.get(r.ruleName)
      assert(s.exists(_.numInvocations > 0), s"$label: ${r.ruleName} never ran")
      assert(s.get.numInvocations < maxIter,
        s"$label: ${r.ruleName} invoked ${s.get.numInvocations} times " +
          s"(${s.get.numEffectiveInvocations} effective) against " +
          s"maxIterations $maxIter")
    }
  }

  test("TRTREE lookup through MobSql.run converges") {
    spark.sql(
      """SELECT id, to_stbox(tgeompoint(st_point(cast(id % 50 AS double),
           cast(id % 31 AS double)), timestamp'2024-01-01')) AS box
         FROM range(500) t(id)""").createOrReplaceTempView("guard_trtree")
    graft.sqlx.MobSql.run(spark,
      "CREATE INDEX guard_idx ON guard_trtree USING TRTREE(box)")
    assertConverges("trtree", graft.sqlx.MobSql.run(spark,
      """SELECT id FROM guard_trtree
         WHERE box && stbox('STBOX X((10.0,10.0),(20.0,20.0))')"""))
  }

  test("mob_q6_stbox_filter (box filter above an aggregate) converges") {
    assertConverges("mob_q6_stbox_filter",
      SparkEntry.queries("mob_q6_stbox_filter")(spark, d))
  }

  test("round(double, 6) query converges") {
    assertConverges("round", spark.sql(
      "SELECT round(cast(id AS double) / 7.0d, 6) AS r FROM range(100) t(id)"))
  }

  test("every BerlinMOD query converges") {
    graft.berlinmod.BerlinMod.load(spark, nVehicles = 8, seed = 3L)
    for ((n, df) <- graft.berlinmod.BerlinMod.queries(spark))
      assertConverges(s"berlinmod_$n", df)
  }
}
