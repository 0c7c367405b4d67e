package graft

import graft.sqlx.{MobSql, SqlRewriter}

/** Unit tests for the SQL rewriter edge cases and the TRTREE DDL path. */
class RewriterSpec extends SessionSuite {

  /** One literal per type the rewriter accepts in `::T` position. */
  private val castLiterals = Seq(
    "tint" -> "1@2000-01-01", "tbool" -> "t@2000-01-01",
    "tfloat" -> "1.5@2000-01-01", "ttext" -> "a@2000-01-01",
    "tgeompoint" -> "Point(1 1)@2000-01-01",
    "tgeogpoint" -> "Point(1 1)@2000-01-01",
    "tgeometry" -> "Point(1 1)@2000-01-01",
    "intspan" -> "[1, 3)", "bigintspan" -> "[1, 3)", "floatspan" -> "[1.5, 2.5]",
    "datespan" -> "[2001-01-01, 2001-01-03)",
    "tstzspan" -> "[2001-01-01, 2001-01-03]",
    "intset" -> "{1, 2}", "bigintset" -> "{1, 2}", "floatset" -> "{1.5, 2}",
    "textset" -> """{"a"}""", "dateset" -> "{2001-01-01}",
    "tstzset" -> "{2001-01-01}", "geomset" -> """{"Point(1 1)"}""",
    "geogset" -> """{"Point(1 1)"}""", "intspanset" -> "{[1, 3)}",
    "bigintspanset" -> "{[1, 3)}", "floatspanset" -> "{[1.5, 2.5]}",
    "textspanset" -> """{["a", "b"]}""",
    "datespanset" -> "{[2001-01-01, 2001-01-03)}",
    "tstzspanset" -> "{[2001-01-01, 2001-01-03]}",
    "tbox" -> "TBOXINT XT([1, 2],[2001-01-01, 2001-01-02])",
    "stbox" -> "STBOX X((1,2),(3,4))")

  for ((ty, lit) <- castLiterals) test(s"VARCHAR column cast s::$ty parses like '...'::$ty") {
    val r = spark.sql(SqlRewriter.rewrite(
      s"SELECT asText(s::$ty) AS c, asText('$lit'::$ty) AS l FROM VALUES ('$lit') AS v(s)"))
      .collect()(0)
    assert(r.getString(0) == r.getString(1))
  }

  test("a VARCHAR textset cast parses the set, not a one-element set") {
    assert(spark.sql(SqlRewriter.rewrite(
      """SELECT asText(s::textset) FROM VALUES ('{"a", "b"}') AS v(s)"""))
      .collect()(0).getString(0) == """{"a", "b"}""")
  }

  test("list() rewrites to collect_list() only in bare call position") {
    assert(SqlRewriter.rewrite("SELECT list(x) FROM t")
      .contains("collect_list(x)"))
    // qualified names are not call sites
    assert(SqlRewriter.rewrite("SELECT schema.list(x) FROM t")
      .contains("schema.list(x)"))
    // string literals are untouched
    val lit = SqlRewriter.rewrite("SELECT 'a list (of things)' AS s FROM t")
    assert(lit.contains("'a list (of things)'"), lit)
    // escaped quotes inside literals keep the literal boundary
    val esc = SqlRewriter.rewrite(
      "SELECT 'it''s a list(x)' AS s, list(y) FROM t")
    assert(esc.contains("'it''s a list(x)'") && esc.contains("collect_list(y)"),
      esc)
    // word-boundary: collect_list / string_split stay intact
    assert(SqlRewriter.rewrite("SELECT collect_list(x) FROM t")
      .contains("collect_list(x)"))
  }

  test("CREATE INDEX ... USING TRTREE is idempotent (fresh layout path)") {
    spark.createDataFrame(Seq((1, 1.0, 2.0), (2, 3.0, 4.0), (3, 5.0, 6.0)))
      .toDF("id", "xmin", "xmax")
      .selectExpr("id", "named_struct('xmin', xmin, 'xmax', xmax) AS box")
      .createOrReplaceTempView("idx_t")
    MobSql.run(spark, "CREATE INDEX i1 ON idx_t USING TRTREE(box)")
    val afterFirst = spark.table("idx_t").count()
    // re-issuing the same DDL used to fail with "Cannot overwrite a path
    // that is also being read from" — must succeed and keep the rows
    MobSql.run(spark, "CREATE INDEX i1 ON idx_t USING TRTREE(box)")
    assert(spark.table("idx_t").count() == afterFirst)
    assert(afterFirst == 3)
  }

  test("append -> compact cycle: rows preserved, compact idempotent") {
    def mk(ids: Seq[Int]) = spark
      .createDataFrame(ids.map(i => (i, i * 1.0, i * 1.0 + 1)))
      .toDF("id", "xmin", "xmax")
      .selectExpr("id", "named_struct('xmin', xmin, 'xmax', xmax) AS box")
    mk(1 to 100).createOrReplaceTempView("maint_t")
    MobSql.run(spark, "CREATE INDEX m1 ON maint_t USING TRTREE(box)")
    // two append batches: visible immediately through the view
    MobSql.appendToLayout(spark, "maint_t", mk(101 to 110))
    MobSql.appendToLayout(spark, "maint_t", mk(111 to 115))
    val before = spark.table("maint_t").collect().map(_.toString).sorted
    assert(before.length == 115)
    // compact merges the tails into one clustered layout: identical rows
    MobSql.compactLayout(spark, "maint_t")
    val after = spark.table("maint_t").collect().map(_.toString).sorted
    assert(before.sameElements(after))
    // idempotent: compacting a compacted table keeps the rows
    MobSql.compactLayout(spark, "maint_t")
    assert(spark.table("maint_t").collect().map(_.toString).sorted
      .sameElements(before))
    // and the cycle composes: append after compact still works
    MobSql.appendToLayout(spark, "maint_t", mk(116 to 120))
    assert(spark.table("maint_t").count() == 120)
    MobSql.compactLayout(spark, "maint_t")
    assert(spark.table("maint_t").count() == 120)
  }

  test("DESCRIBE TRTREE: per-file extents cover every row, range files " +
       "are xmin-disjoint, tails surface and compact away") {
    def mk(ids: Seq[Int]) = spark
      .createDataFrame(ids.map(i => (i, i * 1.0, i * 1.0 + 1)))
      .toDF("id", "xmin", "xmax")
      .selectExpr("id", "named_struct('xmin', xmin, 'xmax', xmax) AS box")
    mk(1 to 200).createOrReplaceTempView("desc_t")
    MobSql.run(spark, "CREATE INDEX d1 ON desc_t USING TRTREE(box)")
    MobSql.appendToLayout(spark, "desc_t", mk(201 to 210))
    val rows = MobSql.run(spark, "DESCRIBE TRTREE desc_t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getDouble(5), r.getDouble(6)))
    // both parts surface; curve recorded; every extent well-formed
    val parts = rows.map(_._1).distinct.sorted
    assert(parts.sameElements(Seq("layout", "tail-0")), parts.mkString(","))
    assert(rows.forall(_._2 == "range"))
    assert(rows.forall(r => r._6 <= r._7), "lo > hi somewhere")
    // self-consistency: per-part row counts (each file contributes its
    // n_rows once per coordinate — here one coord, xmin) sum to the
    // bound view's split sizes
    val perPart = rows.filter(_._5 == "xmin").groupBy(_._1)
      .view.mapValues(_.map(_._4).sum).toMap
    assert(perPart("layout") == 200 && perPart("tail-0") == 10, perPart)
    // the pruning story itself: a range layout's files must be DISJOINT
    // on the leading coordinate (touching boundaries allowed), else the
    // min/max statistics could not prune a box predicate to few files
    val ex = rows.filter(r => r._1 == "layout" && r._5 == "xmin")
      .map(r => (r._6, r._7)).sortBy(_._1)
    for (w <- ex.toSeq.sliding(2) if w.length == 2)
      assert(w(1)._1 >= w(0)._2,
        s"overlapping file extents: ${ex.mkString(",")}")
    // compact folds the tail back into the clustered layout
    MobSql.compactLayout(spark, "desc_t")
    val after = MobSql.run(spark, "DESCRIBE TRTREE desc_t").collect()
    assert(after.forall(_.getString(0) == "layout"))
    assert(after.filter(_.getString(4) == "xmin").map(_.getLong(3)).sum == 210)
  }
}
