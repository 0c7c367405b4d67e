package graft

/** Property-style tests for the native codegen vector kernels: the
  * generated code (exercised through a DataFrame, so doGenCode runs)
  * must agree with a plain-Scala reference on seeded-random inputs,
  * including empty and length-mismatched arrays. */
class KernelSpec extends SessionSuite {

  override protected def cores = 2

  test("vec_dot matches the scalar reference (codegen path)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (0 until 40).map { i =>
      def vec(n: Int) = Array.fill(n)(rnd.nextDouble() * 2e3 - 1e3)
      (i.toLong, vec(rnd.nextInt(80)), vec(rnd.nextInt(80)))
    } :+ ((99L, Array.empty[Double], Array(1.0, 2.0)))
    val got = cases.toDF("i", "a", "b")
      .selectExpr("i", "vec_dot(a, b) AS dotp")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((i, a, b) <- cases) {
      val n = math.min(a.length, b.length)
      val want = (0 until n).map(k => a(k) * b(k)).sum
      assert(math.abs(got(i) - want) <= 1e-9 * (1 + math.abs(want)),
        s"case $i: got ${got(i)}, want $want")
    }
  }

  test("f32_pack / f32_dot: lossless on float-sourced doubles — packed " +
       "dot is BIT-identical to vec_dot (codegen path)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    // float-SOURCED doubles (the embeddings-table invariant): every
    // component is double(float32(x)), so the pack must lose nothing
    val cases = (0 until 40).map { i =>
      def vec(n: Int) =
        Array.fill(n)((rnd.nextFloat() * 2e3f - 1e3f).toDouble)
      val n = rnd.nextInt(80) + 1
      (i.toLong, vec(n), vec(n))
    }
    val rows = cases.toDF("i", "a", "b")
      .selectExpr("i",
        "f32_dot(f32_pack(a), f32_pack(b)) AS packed",
        "vec_dot(a, b) AS direct")
      .collect()
    rows.foreach { r =>
      // BIT-identical, not approximately equal: the pack is lossless
      // and the fused kernel folds left-to-right like vec_dot
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"case ${r.getLong(0)}: packed ${r.getDouble(1)} != " +
          s"direct ${r.getDouble(2)}")
    }
    // pack width: 4 bytes per dimension
    val w = Seq((1L, Array(1.5, -2.25, 3.0))).toDF("i", "a")
      .selectExpr("length(f32_pack(a)) AS len").collect()(0).getInt(0)
    assert(w == 12, s"pack width $w")
  }

  test("nfc_normalize / strip_accents kernels: composition, accent strip, " +
       "java.text.Normalizer agreement (codegen path)") {
    val sp = spark
    import sp.implicits._
    val comb = "\u0301" // COMBINING ACUTE
    val cases = Seq(
      (1L, "e" + comb),              // composes to precomposed U+00E9
      (2L, "plain ascii text"),      // fixed point
      (3L, "\u00e1\u00e9\u00ed\u00f6\u00fc"), // precomposed accents
      (4L, "a" + comb + "b\u0308c"), // mixed combining (acute, diaeresis)
      (5L, ""),                      // empty
      (6L, "\u212B"))                // ANGSTROM SIGN: NFC -> U+00C5
    val got = cases.toDF("i", "s")
      .selectExpr("i", "nfc_normalize(s) AS nfc",
        "strip_accents(nfc_normalize(s)) AS stripped",
        "length(nfc_normalize(s)) AS n")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getInt(3))).toMap
    import java.text.Normalizer
    for ((i, s) <- cases) {
      val nfc = Normalizer.normalize(s, Normalizer.Form.NFC)
      val strip = Normalizer.normalize(nfc, Normalizer.Form.NFD)
        .replaceAll("\\p{Mn}+", "")
      assert(got(i)._1 == nfc, s"case $i nfc")
      assert(got(i)._2 == strip, s"case $i strip")
      assert(got(i)._3 == nfc.codePointCount(0, nfc.length), s"case $i len")
    }
    // the specific contracts the gate entry rests on
    assert(got(1L)._1 == "\u00e9" && got(1L)._3 == 1)
    assert(got(3L)._2 == "aeiou")
    assert(got(6L)._1 == "\u00c5")
  }

  test("md5_lower64 native kernel equals the SQL twin (fuzz, both forms)") {
    // Md5Lower64.of/signedOf now execute graft.functions.HexLower64
    // (nibble parse in codegen); Md5Lower64.sql/signedSql remain the
    // documented pure-SQL form the DuckDB oracles replay — pin their
    // equality over random strings (unicode included) plus edge cases
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(1234)
    val inputs = (0 until 200).map { _ =>
      val n = rnd.nextInt(40)
      new String(Array.fill(n)((rnd.nextInt(0x2FF) + 1).toChar))
    } ++ Seq("", "a", "élève", "0123456789abcdef0123456789abcdef")
    val df = inputs.toDF("s")
      .selectExpr("md5(s) AS hx")
      .select(
        graft.util.Md5Lower64.of("hx").as("k_u"),
        org.apache.spark.sql.functions.expr(
          graft.util.Md5Lower64.sql("hx")).as("s_u"),
        graft.util.Md5Lower64.signedOf("hx").as("k_s"),
        org.apache.spark.sql.functions.expr(
          graft.util.Md5Lower64.signedSql("hx")).as("s_s"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"unsigned mismatch: $r")
      assert(r.getLong(2) == r.getLong(3), s"signed mismatch: $r")
      assert(r.getLong(0) == (r.getLong(2) & Long.MaxValue),
        s"mask relation broken: $r")
      assert(r.getLong(0) >= 0L)
    }
    // null propagates like the SQL form
    val nr = Seq[Option[String]](None).toDF("hx")
      .select(graft.util.Md5Lower64.of("hx").as("v")).collect()(0)
    assert(nr.isNullAt(0))
  }

  test("vec_inter_sorted matches set intersection (codegen path)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val cases = (0 until 40).map { i =>
      def sorted(n: Int) =
        Array.fill(n)(rnd.nextInt(50).toLong).distinct.sorted
      (i.toLong, sorted(rnd.nextInt(60)), sorted(rnd.nextInt(60)))
    } :+ ((99L, Array.empty[Long], Array(1L, 2L)))
    val got = cases.toDF("i", "a", "b")
      .selectExpr("i", "vec_inter_sorted(a, b) AS inter")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((i, a, b) <- cases)
      assert(got(i) == a.toSet.intersect(b.toSet).size, s"case $i")
  }

  test("hilbert_key: bijection + unit-step adjacency on the full 2-D grid " +
       "(the defining Hilbert properties), 3-D bijection, codegen path") {
    val sp = spark
    import sp.implicits._
    // 2-D, 4 bits/dim: all 256 cells through the SQL function (codegen)
    val cells = for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong)
    val keyed = cells.toDF("x", "y")
      .selectExpr("x", "y", "hilbert_key(array(x, y), 4) AS k")
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    // bijection onto [0, 256)
    assert(keyed.map(_._1).sorted.sameElements(0L until 256L))
    // consecutive curve positions are face-adjacent cells (|dx|+|dy| = 1)
    // — the property Z-order lacks (its diagonal jumps are exactly why
    // HILBERT is offered as the TRTREE cluster key)
    val byKey = keyed.sortBy(_._1).map(_._2)
    for (i <- 1 until byKey.length) {
      val d = math.abs(byKey(i)._1 - byKey(i - 1)._1) +
        math.abs(byKey(i)._2 - byKey(i - 1)._2)
      assert(d == 1, s"jump of $d at curve position $i")
    }
    // 3-D, 3 bits/dim: bijection onto [0, 512)
    val cells3 = for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8)
      yield (x.toLong, y.toLong, z.toLong)
    val keys3 = cells3.toDF("x", "y", "z")
      .selectExpr("hilbert_key(array(x, y, z), 3) AS k")
      .collect().map(_.getLong(0))
    assert(keys3.sorted.sameElements(0L until 512L))
  }

  test("sq8 kernels: encode∘decode == recon == the HOF-SQL twin; " +
       "fused sq8_dot == dot(decode, y) (fuzz, codegen paths)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val cases = (0 until 30).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 4 - 2),
        Array.fill(dim)(rnd.nextDouble() * 4 - 2))
    }
    val lo = Array.tabulate(dim)(j => cases.map(_._2(j)).min)
    val hi = Array.tabulate(dim)(j =>
      if (j == 3) lo(3) else cases.map(_._2(j)).max) // j=3: degenerate dim
    val df = cases.toDF("i", "v", "y")
      .selectExpr(s"i", "v", "y",
        s"cast(array(${lo.mkString(",")}) as array<double>) AS lo",
        s"cast(array(${hi.mkString(",")}) as array<double>) AS hi")
      .selectExpr("i",
        "sq8_recon(v, lo, hi) AS recon",
        "sq8_decode(sq8_encode(v, lo, hi), lo, hi) AS roundtrip",
        "sq8_dot(sq8_encode(v, lo, hi), lo, hi, y) AS fused",
        "vec_dot(sq8_decode(sq8_encode(v, lo, hi), lo, hi), y) AS plain",
        // the HOF twin the oracle replays (identical arithmetic)
        "transform(transform(v, (x, j) -> CASE WHEN hi[j] > lo[j] THEN " +
          "greatest(0, least(255, cast(floor((x - lo[j]) / (hi[j] - lo[j])" +
          " * 255.0 + 0.5) as int))) ELSE 0 END), " +
          "(c, j) -> lo[j] + cast(c as double) * (hi[j] - lo[j]) / 255.0)" +
          " AS hof")
      .collect()
    for (r <- df) {
      val recon = r.getSeq[Double](1)
      assert(recon == r.getSeq[Double](2), s"roundtrip != recon at ${r.getLong(0)}")
      assert(recon == r.getSeq[Double](5), s"hof != recon at ${r.getLong(0)}")
      assert(r.getDouble(3) == r.getDouble(4),
        s"fused dot != plain dot at ${r.getLong(0)}")
    }
  }

  test("vec_nearest_cell / vec_probe_cells match brute-force argmin (codegen)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 8
    val k = 5
    val cents = Array.fill(k, dim)(rnd.nextDouble() * 10 - 5)
    val flat = cents.flatten
    val cases = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 10 - 5))
    }
    def d2(v: Array[Double], c: Array[Double]): Double =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val got = cases.toDF("i", "v")
      .withColumn("cents", org.apache.spark.sql.functions.typedLit(flat.toSeq))
      .selectExpr("i", "vec_nearest_cell(v, cents) AS cell",
        "vec_probe_cells(v, cents, 3) AS probes")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Int](2).toSeq))).toMap
    for ((i, v) <- cases) {
      val ranked = cents.indices.sortBy(c => (d2(v, cents(c)), c))
      val (cell, probes) = got(i)
      assert(cell == ranked.head, s"case $i: cell $cell vs ${ranked.head}")
      assert(probes == ranked.take(3), s"case $i: $probes vs ${ranked.take(3)}")
    }
  }
}
