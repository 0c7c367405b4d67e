package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.util.Tables

/** Behavioral properties of the round-4 pipeline operators: dup-graph
  * connected components, the relational (oracle-checkable) SimHash, the
  * tf-idf / quantile / stratified-sampling text ops, and the empty-doc
  * robustness of the multimodal codecs. */
class PipelineOpsSpec extends SessionSuite {

  private val d = "/root/testdata/sf0.001"

  test("jaccard equals Scala brute force on a constructed corpus, " +
       "including exact-threshold and one-shared-prefix-shingle pairs") {
    val sp = spark
    import sp.implicits._
    // deterministic corpus engineered at the candidate-pruning edges:
    //  - docs 0/1: J = 0.5 EXACTLY (shingles {abc,bcd} vs {abc,bcd,cde,def})
    //    — the ceil-boundary pair the PPJoin+ bound must not reject;
    //  - docs 2/3: share exactly one rare shingle, J < 0.5 — the junk
    //    class the aggregated bound prunes before verify;
    //  - docs 4/5: exact duplicates (J = 1);
    //  - a tail of common-vocabulary filler docs that generate high-df
    //    shingles (the collision source the bound exists for).
    val vocab = Array("pa", "pb", "pc", "pd")
    def filler(i: Int): String =
      (0 until 12).map(k => vocab((i * 7 + k * 3) % 4)).mkString(" ")
    val docs = Seq(
      0L -> "a b c d", 1L -> "a b c d e f",
      2L -> "x1 x2 x3 q1 q2 q3 q4 q5", 3L -> "x1 x2 x3 r1 r2 r3 r4 r5",
      4L -> "dup1 dup2 dup3 dup4 dup5", 5L -> "dup1 dup2 dup3 dup4 dup5") ++
      (6L to 45L).map(i => i -> filler(i.toInt))
    val dir = java.nio.file.Files.createTempDirectory("jacbf").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // Scala brute force over the same 3-gram shingle sets
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = docs.toMap.map { case (id, t) => id -> shingles(t) }
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a) | sets(b)).size if j >= 0.5
    } yield (a, b) -> j).toMap
    val got = Dedup.jaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === expect.keySet,
      s"missing=${expect.keySet -- got.keySet} extra=${got.keySet -- expect.keySet}")
    expect.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-4, s"$k") }
    assert(got((0L, 1L)) === 0.5) // the exact-threshold pair survived
    assert(!got.contains((2L, 3L))) // the junk-class pair is sub-threshold

    // the other callers of the same set-similarity join, same corpus:
    // containment C >= 0.7, smaller set first, lower id on a size tie
    val expectC = (for {
      a <- sets.keys; b <- sets.keys if a != b
      (sa, sb) = (sets(a).size, sets(b).size) if sa < sb || (sa == sb && a < b)
      c = (sets(a) & sets(b)).size.toDouble / sa if c >= 0.7
    } yield (a, b) -> ((sa.toLong, sb.toLong, c))).toMap
    val gotC = Dedup.containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(gotC.keySet === expectC.keySet,
      s"missing=${expectC.keySet -- gotC.keySet} extra=${gotC.keySet -- expectC.keySet}")
    expectC.foreach { case (k, (sa, sb, c)) =>
      val (ga, gb, gc) = gotC(k)
      assert(ga === sa && gb === sb && math.abs(gc - c) < 1e-4, s"$k")
    }
    assert(gotC((0L, 1L)) === ((2L, 4L, 1.0))) // doc 0 sits whole in doc 1

    // incremental: new docs (doc_id % 10 == 0) against the rest, J >= 0.5
    val expectI = expect.toSeq.flatMap { case ((a, b), j) =>
      if (a % 10 != 0 && b % 10 == 0) Some((a, b) -> j)
      else if (b % 10 != 0 && a % 10 == 0) Some((b, a) -> j)
      else None
    }.toMap
    val gotI = Dedup.incrementalNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotI.keySet === expectI.keySet,
      s"missing=${expectI.keySet -- gotI.keySet} extra=${gotI.keySet -- expectI.keySet}")
    expectI.foreach { case (k, j) => assert(math.abs(gotI(k) - j) < 1e-4, s"$k") }
    assert(gotI((1L, 0L)) === 0.5) // the boundary pair, corpus doc 1 vs new doc 0

    // minhash-LSH: banding may miss pairs, verify must not invent or
    // misscore any; the exact duplicates always share every band
    val gotM = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotM.keySet.subsetOf(expect.keySet), s"extra=${gotM.keySet -- expect.keySet}")
    gotM.foreach { case (k, j) => assert(j === got(k), s"$k") }
    assert(gotM.contains((4L, 5L)))
  }

  test("shingle3_hashes kernel == split/transform/concat_ws/xxhash64 " +
       "expression chain, byte-for-byte, on edge-case strings") {
    val sp = spark
    import sp.implicits._
    // every boundary the split/join-identity argument rests on:
    // multi-space runs (empty tokens), leading/trailing spaces, exactly
    // 2/3/4 tokens, all-spaces, empty, multi-byte UTF-8, long filler
    val texts = Seq(
      "a b c", "a b c d", "a  b c", "  a b c", "a b c  ", " ", "   ",
      "", "a", "a b", "one two three four five six seven",
      "héllo wörld ünïcode ça va bien", "日本 語 テ ス ト",
      "x " * 500 + "end",
      "tab\tis not a delimiter here b c d")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("old", when(size(col("toks")) >= 3, expr(
        """transform(sequence(0, size(toks) - 3),
           i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"""))
        .otherwise(array().cast("array<long>")))
      .withColumn("fused", call_function("shingle3_hashes", col("text")))
    val rows = df.select("doc_id", "old", "fused").collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: ${texts(r.getLong(0).toInt).take(40)}")
    }
    // null text → null (the old chain's split(null) propagated null too)
    val nullRow = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(call_function("shingle3_hashes", col("text"))).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("dup clusters: pairs co-clustered, reps are min members, exact cover") {
    val pairs = Dedup.jaccard(spark, d).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dupClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val memberOf = clusters.flatMap { case (rep, _, ms) =>
      ms.split(",").map(_.toLong -> rep)
    }.toMap
    // both endpoints of every near-dup pair land in the same cluster
    pairs.foreach { case (a, b) =>
      assert(memberOf(a) == memberOf(b), s"pair ($a,$b) split across clusters")
    }
    // representative is the minimum member; members sorted; size matches
    clusters.foreach { case (rep, n, ms) =>
      val m = ms.split(",").map(_.toLong)
      assert(m.length == n)
      assert(m.min == rep)
      assert(m.sorted.sameElements(m))
    }
    // clusters cover exactly the docs that appear in some pair
    assert(memberOf.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("dup clusters: single-task union-find and label propagation agree") {
    // threshold 0 forces the distributed label-propagation path;
    // MaxValue forces the one-task union-find — identical output rows
    val fast = Dedup.dupClustersImpl(spark, d, Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val dist = Dedup.dupClustersImpl(spark, d, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(fast.sameElements(dist))
    assert(fast.nonEmpty)
  }

  test("distributed label propagation: 360k-edge synthetic graph, chains") {
    // 20k chain components of 10 nodes each — chains force the
    // propagation to run component-diameter rounds (the adversarial
    // case for min-label), at a volume the single-task path never
    // sees from the gate corpus
    val edges = (0L until 20000L).flatMap { c =>
      val base = c * 10
      (0 until 9).map(i => (base + i, base + i + 1))
    }
    val sym = spark.createDataFrame(
      edges.flatMap { case (a, b) => Seq((a, b), (b, a)) })
      .toDF("src", "dst").persist()
    val (labels, _) = Dedup.bigGraphLabels(spark, sym, edges.size * 2L)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 200000)
    got.foreach { case (n, l) =>
      assert(l == (n / 10) * 10, s"node $n labeled $l")
    }
  }

  test("label propagation: planted hub (1% of nodes on one label) and a " +
       "512-diameter chain converge in O(log d) rounds") {
    // the two shapes a real crawl graph has that the synthetic corpus
    // lacks (r8 verdict #5):
    //  - a HUB: one boilerplate cluster touching ~1% of the graph —
    //    20 000 leaves on one center. The min aggregate absorbs the
    //    hub's fan-in map-side (one partial row per partition per dst),
    //    so no single task ever sees the full fan-in;
    //  - a 512-node CHAIN: diameter 511, where pure one-hop propagation
    //    needs 511 rounds — past the 50-round cap, which now THROWS
    //    rather than emitting partial components. The pointer-jumping
    //    round (path halving) must converge it in O(log 511) ~ 9-ish
    //    rounds instead.
    val hubCenter = 5100000L
    val hubEdges = (1L to 20000L).map(i => (hubCenter, 5000000L + i))
    val chainEdges = (0L until 511L).map(i => (9000000L + i, 9000000L + i + 1))
    val triEdges = (0L until 1000L).flatMap { c =>
      val b = 7000000L + c * 3
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    }
    val edges = hubEdges ++ chainEdges ++ triEdges
    val sym = spark.createDataFrame(
      edges.flatMap { case (a, b) => Seq((a, b), (b, a)) })
      .toDF("src", "dst").persist()
    val (labels, rounds) = Dedup.bigGraphLabels(spark, sym, edges.size * 2L)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 20001 + 512 + 3000)
    // hub: min member is leaf 5000001, center included
    (Seq(hubCenter) ++ (1L to 20000L).map(5000000L + _)).foreach { n =>
      assert(got(n) == 5000001L, s"hub node $n labeled ${got(n)}")
    }
    // chain: min is the 9000000 end, felt 511 hops away
    (0L to 511L).foreach { i =>
      assert(got(9000000L + i) == 9000000L, s"chain node $i")
    }
    // triangles: each labeled by its own base
    (0L until 1000L).foreach { c =>
      val b = 7000000L + c * 3
      assert(got(b) == b && got(b + 1) == b && got(b + 2) == b)
    }
    // bounded rounds: log2(511) ~ 9 plus propagation slack — far under
    // the cap the chain alone would have blown one-hop
    assert(rounds <= 20, s"took $rounds rounds")
    sym.unpersist()
  }

  test("relational simhash token hash equals md5 lower-64 (little-endian)") {
    val rng = new scala.util.Random(42)
    val toks = Seq("alpha", "beta", "gamma delta", "42", "été", "",
      "é漢字", "a|b,c'd\"e") ++
      Seq.fill(200)(rng.alphanumeric.take(rng.nextInt(30) + 1).mkString)
        .distinct
    val got = spark.createDataFrame(toks.map(Tuple1(_))).toDF("tok")
      .withColumn("hx", md5(col("tok")))
      .withColumn("h", expr(
        """aggregate(sequence(0, 7), cast(0 as bigint),
           (acc, k) -> acc + shiftleft(
             cast(conv(substring(hx, 17 + 2 * k, 2), 16, 10) as bigint),
             8 * k))"""))
      .select("tok", "h").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    toks.foreach { t =>
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      var exp = 0L
      var k = 0
      while (k < 8) { exp |= (dg(8 + k).toLong & 0xFF) << (8 * k); k += 1 }
      assert(got(t) == exp, s"token '$t'")
    }
  }

  test("simhash_rel / tfidf / sample plans carry no ScalaUDF") {
    Seq(
      ("dedup_simhash_rel", Dedup.simhashRel(spark, d)),
      ("text_tfidf", TextAnalysis.tfidf(spark, d)),
      ("text_sample_stratified", TextAnalysis.sampleStratified(spark, d)))
      .foreach { case (n, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("ScalaUDF"), s"$n plan contains a ScalaUDF")
      }
  }

  test("stratified sample keeps exactly ceil(n/10) per language") {
    val perLang = Tables.documents(spark, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = TextAnalysis.sampleStratified(spark, d).collect()
    val got = sampled.groupBy(_.getString(0))
    perLang.foreach { case (lang, n) =>
      val rows = got(lang)
      val want = math.ceil(n / 10.0).toLong
      assert(rows.length == want, s"$lang: ${rows.length} != $want")
      // ranks are the contiguous prefix 1..k
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to want.toInt))
    }
  }

  test("token-length quantiles are monotone per language") {
    TextAnalysis.lengthQuantiles(spark, d).collect().foreach { r =>
      val qs = (2 to 6).map(r.getDouble)
      assert(qs.zip(qs.tail).forall { case (a, b) => a <= b }, qs)
    }
  }

  test("emb_kmeans equals a pure-Scala Lloyd replication (3 iterations, " +
       "6-dp quantization, empty-cluster carry)") {
    val vecs = Tables.embeddings(spark, d)
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents = vecs.take(8).map(_._2)
    var asg: Array[(Long, Int, Double)] = null
    for (it <- 1 to 3) {
      asg = vecs.map { case (id, v) =>
        val ds = cents.map { c =>
          var vv = 0.0; var vc = 0.0; var cc = 0.0; var i = 0
          while (i < v.length) {
            vv += v(i) * v(i); vc += v(i) * c(i); cc += c(i) * c(i); i += 1
          }
          r6(math.max(0.0, vv - 2.0 * vc + cc))
        }
        val best = ds.indexOf(ds.min)
        (id, best, ds(best))
      }
      if (it < 3) {
        val byId = vecs.toMap
        val next = cents.map(_.clone())
        asg.groupBy(_._2).foreach { case (cid, rows) =>
          val members = rows.map(r => byId(r._1))
          next(cid) = Array.tabulate(64)(p =>
            r6(members.map(_(p)).sum / members.length))
        }
        cents = next
      }
    }
    val got = graft.operators.Similarity.embKmeans(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length == vecs.length)
    assert(got.sortBy(_._1).sameElements(asg.sortBy(_._1)))
    // a real clustering, not a degenerate one
    assert(got.map(_._2).distinct.length >= 4)
  }

  test("emb_pagerank equals a pure-Scala replication over the same " +
       "k-NN edges (5 damped iterations, 1e-9 fixed-point)") {
    val edges = graft.operators.Similarity.annKnnGraph(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)) // (query_id, neighbor_id)
    val nodes = Tables.embeddings(spark, d)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val n = nodes.length
    val scale = 1000000000L
    val deg = edges.groupBy(_._1).map { case (s0, es) => s0 -> es.length }
    var r = nodes.map(_ -> scale / n).toMap // 1e-9 fixed-point LONGs
    for (_ <- 1 to 5) {
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = nodes.map(v =>
        v -> (15L * scale / (100L * n)
          + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    val want = nodes.map(v => (v, r(v).toDouble / 1e9))
    val got = graft.operators.Similarity.embPagerank(spark, d).collect()
      .map(x => (x.getLong(0), x.getDouble(1)))
    assert(got.length == n)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2, s"$g vs $w")
    }
    // ranks vary (a real graph signal, not the uniform vector)
    assert(got.map(_._2).distinct.length > 10)
  }

  test("emb_dbscan equals a pure-Scala DBSCAN replication (eps=0.38 " +
       "cosine, minPts=3, min-rep border assignment)") {
    val vecs = Tables.embeddings(spark, d)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < a.length) {
        dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1
      }
      dot / math.sqrt(na * nb)
    }
    val ids = vecs.map(_._1)
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
      .withDefaultValue(Nil)
    for (i <- vecs.indices; j <- (i + 1) until vecs.length)
      if (cos(vecs(i)._2, vecs(j)._2) >= 0.38) {
        adj(ids(i)) = ids(j) :: adj(ids(i))
        adj(ids(j)) = ids(i) :: adj(ids(j))
      }
    val core = ids.filter(v => adj(v).length + 1 >= 3).toSet
    // CC over core-core edges, min label
    val rep = scala.collection.mutable.Map[Long, Long]()
    core.toSeq.sorted.foreach { v =>
      if (!rep.contains(v)) {
        var comp = Set(v); var frontier = List(v)
        while (frontier.nonEmpty) {
          val nxt = frontier.flatMap(adj).filter(core)
            .filterNot(comp).distinct
          comp ++= nxt; frontier = nxt
        }
        val m = comp.min
        comp.foreach(c => rep(c) = m)
      }
    }
    val want = ids.map { v =>
      if (core(v)) (v, rep(v), "core")
      else {
        val coreN = adj(v).filter(core)
        if (coreN.nonEmpty) (v, coreN.map(rep).min, "border")
        else (v, -1L, "noise")
      }
    }
    val got = graft.operators.Similarity.embDbscan(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
    // a meaningful mix of all three roles and >1 cluster
    val roles = got.groupBy(_._3).map { case (k, v) => k -> v.length }
    assert(roles.getOrElse("core", 0) > 5 && roles.getOrElse("border", 0) > 5
      && roles.getOrElse("noise", 0) > 5, roles.toString)
    assert(got.filter(_._3 == "core").map(_._2).distinct.length > 1)
  }

  test("emb_kcenter equals a pure-Scala Gonzalez replication (k=16, " +
       "6-dp quantized distances, lowest-id ties) with non-increasing " +
       "coverage radius") {
    val vecs = Tables.embeddings(spark, d)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var vv = 0.0; var vc = 0.0; var cc = 0.0; var i = 0
      while (i < a.length) {
        vv += a(i) * a(i); vc += a(i) * b(i); cc += b(i) * b(i); i += 1
      }
      r6(math.sqrt(math.max(0.0, vv - 2.0 * vc + cc)))
    }
    var centers = Vector(vecs.head._2)
    val want = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (0, vecs.head._1, None))
    for (r <- 1 until 16) {
      // min over INDEPENDENTLY rounded per-center kernels (the Spark
      // side's array_min over round-6 columns), argmax with lowest-id tie
      val (id, md) = vecs.map { case (vid, v) =>
        (vid, centers.map(c => dist(v, c)).min)
      }.maxBy { case (vid, m) => (m, -vid) }
      centers :+= vecs.find(_._1 == id).get._2
      want += ((r, id, Some(md)))
    }
    val got = graft.operators.Similarity.embKcenter(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.length == 16)
    got.sortBy(_._1).zip(want).foreach { case (g, w) =>
      assert(g == w, s"$g vs $w")
    }
    // Gonzalez invariant: the coverage radius never grows as centers
    // are added, and the selected set is 16 distinct points
    val radii = got.sortBy(_._1).flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b }, radii)
    assert(got.map(_._2).distinct.length == 16)
    assert(radii.last > 0.0) // no duplicate-point degenerate pick
  }

  test("corpus_diff equals a pure-Scala snapshot-CDC replication " +
       "(delete-wins, hash-compared, mirror ids above max)") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val maxId = docs.map(_._1).max
    val a = docs.map { case (id, lang, t) => id -> (lang, t) }.toMap
    val b = scala.collection.mutable.Map[Long, (String, String)]()
    docs.foreach { case (id, lang, t) =>
      if (id % 23 != 5)
        b(id) = (lang, if (id % 17 == 3) t + " [rev2]" else t)
      if (id % 41 == 7) b(maxId + id + 1) = (lang, t + " (mirror)")
    }
    val want = (a.keySet ++ b.keySet).toSeq.sorted.flatMap { id =>
      (a.get(id), b.get(id)) match {
        case (Some((lang, t)), None) =>
          Some((id, "removed", lang, Some(t.length.toLong), None))
        case (None, Some((lang, t))) =>
          Some((id, "added", lang, None, Some(t.length.toLong)))
        case (Some((lang, ta)), Some((_, tb))) if ta != tb =>
          Some((id, "modified", lang,
            Some(ta.length.toLong), Some(tb.length.toLong)))
        case _ => None
      }
    }
    val got = Dedup.corpusDiff(spark, d).collect().map { r =>
      (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
    // all three change classes are exercised
    assert(got.map(_._2).distinct.sorted.sameElements(
      Seq("added", "modified", "removed")))
  }

  test("split_leakage_safe: zero near-dup pairs straddle splits; rep and " +
       "bucket replay in pure Scala (union-find + portable md5-lower-64)") {
    val rows = Dedup.splitLeakageSafe(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3))))
    val split = rows.toMap
    assert(rows.length == 500 && split.size == 500)
    // 1. the leakage invariant: every near-dup pair lands in ONE split
    val prs = Dedup.jaccard(spark, d).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(prs.nonEmpty)
    prs.foreach { case (a, b) =>
      assert(split(a)._3 == split(b)._3,
        s"pair ($a,$b) straddles: ${split(a)} vs ${split(b)}")
    }
    // 2. rep = min member of the pair-graph component (union-find)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    prs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // 3. bucket = lower-64-LE md5 of rep, masked to 63 bits, % 100
    def h63(x: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8"))
      var v = 0L
      for (i <- 0 until 8) v |= (dig(8 + i) & 0xffL) << (8 * i)
      v & Long.MaxValue
    }
    rows.foreach { case (id, (rep, bucket, sp)) =>
      val wantRep = if (parent.contains(id) || prs.exists(p =>
        p._1 == id || p._2 == id)) find(id) else id
      assert(rep == wantRep, s"doc $id rep $rep != $wantRep")
      assert(bucket == (h63(rep) % 100).toInt, s"doc $id bucket")
      val wantSp = if (bucket < 90) "train"
        else if (bucket < 95) "validation" else "test"
      assert(sp == wantSp)
    }
    // 4. sane proportions: train is the 90% mass, eval splits exist
    val byS = rows.groupBy(_._2._3).map { case (k, v) => k -> v.length }
    assert(byS("train") > 400, byS.toString)
    assert(byS.getOrElse("validation", 0) > 0 && byS.getOrElse("test", 0) > 0,
      byS.toString)
  }

  test("dedup_keep_best picks per cluster the quality-lexicographic " +
       "best member (keep > n_words > lowest id) and covers every cluster") {
    val clusters = Dedup.dupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong))
    val sig = graft.operators.Quality.qualityFilters(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(4), r.getInt(1)))).toMap
    val want = clusters.map { case (rep, members) =>
      val best = members.minBy { id =>
        val (k, w) = sig(id); (if (k) 0 else 1, -w, id)
      }
      (rep, members.length.toLong, best, sig(best)._2.toLong, sig(best)._1)
    }.sortBy(_._1)
    val got = Dedup.keepBest(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(got.length == clusters.length, "one row per cluster")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
    // the selection is doing real work: at least one cluster keeps a
    // member that is NOT the min-id representative
    assert(got.exists(r => r._3 != r._1), "keep-best degenerated to keep-first")
  }

  test("dedup_paragraph_rewrite reconstructs exactly the kept paragraphs " +
       "in original order (pure-Scala replication incl. content hash)") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // earliest corpus-wide occurrence per paragraph hash (docs are
    // scanned in (doc_id, pos) order, so first-seen IS the min)
    val seen = scala.collection.mutable.Set[String]()
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val paras = toks.grouped(10).map(_.mkString(" ")).filter(_.nonEmpty)
      val kept = paras.filter(p => seen.add(p)).toArray
      if (kept.isEmpty) None
      else {
        val nt = kept.mkString(" ")
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(nt.getBytes("UTF-8"))
        var v = 0L
        for (i <- 0 until 8) v |= (dig(8 + i) & 0xffL) << (8 * i)
        Some((id, kept.length.toLong, nt.length.toLong, v & Long.MaxValue))
      }
    }
    val got = Dedup.paragraphRewrite(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g vs $w") }
    // consistency with the measuring entry: kept counts agree, and the
    // dedup did real work (some paragraph was dropped corpus-wide)
    val stats = Dedup.paragraphDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keptOf = stats.map { case (id, np, nd) => id -> (np - nd) }.toMap
    got.foreach { case (id, nk, _, _) => assert(keptOf(id) == nk) }
    assert(stats.map(_._3).sum > 0, "no paragraph was ever dropped")
  }

  test("sketch_bloom_join: no false negatives (n_join = exact join), " +
       "counts replay in pure Scala, pruning does real work") {
    val m = 16384
    def h63(x: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8"))
      var v = 0L
      for (i <- 0 until 8) v |= (dig(8 + i) & 0xffL) << (8 * i)
      v & Long.MaxValue
    }
    val keys = Tables.orders(spark, d)
      .filter(col("o_totalprice") > 450000)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val bits = scala.collection.mutable.BitSet()
    keys.foreach { k =>
      val h = h63(k)
      bits += (h % m).toInt; bits += ((h / m) % m).toInt
    }
    val li = Tables.lineitem(spark, d).select("l_orderkey").collect()
      .map(_.getLong(0))
    val pass = li.filter { k =>
      val h = h63(k)
      bits((h % m).toInt) && bits(((h / m) % m).toInt)
    }
    val joinN = li.count(keys)
    val r = graft.operators.Sketches.bloomPruneJoin(spark, d).collect()(0)
    assert(r.getLong(1) == li.length)            // n_big
    assert(r.getLong(2) == pass.length, "n_pass") // bloom pass count
    assert(r.getLong(3) == joinN, "n_join = exact join (no false negatives)")
    assert(r.getLong(4) == pass.length - joinN)   // n_false_pos
    // the prune is doing real work: most non-matching rows never reach
    // the join, and false positives are a small fraction of non-members
    assert(pass.length < li.length / 2, s"pass ${pass.length} of ${li.length}")
    assert(r.getLong(4).toDouble / (li.length - joinN) < 0.1, "fp rate")
  }

  test("TopKTerms aggregate equals the row_number window on tie-heavy " +
       "data, at every partitioning") {
    val sp = spark
    import sp.implicits._
    // deterministic tie-heavy corpus: 40 groups x 30 terms with scores
    // drawn from only 4 distinct values, so top-3 cut lines routinely
    // fall inside a tie run and the term-asc tie-break decides — the
    // exact case where a buggy cap/merge would silently diverge from
    // the window form the DuckDB oracle replays.
    val rows = for {
      g <- 0 until 40
      t <- 0 until 30
    } yield {
      val h = ((g * 31 + t) * 2654435761L) >>> 16
      (g.toLong, f"t${h % 7}%s_$t%02d", (h % 4).toDouble)
    }
    val topk = udaf(new TextAnalysis.TopKTerms(3),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, String)]())
    // 1 partition (merge never fires) and 7 (merge fires repeatedly):
    // same result, pinned against the window form.
    Seq(1, 7).foreach { nPart =>
      val df = rows.toDF("g", "term", "score").repartition(nPart)
      val viaAgg = df.groupBy("g")
        .agg(topk(col("score"), col("term")).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("g"), (col("pos") + 1).as("rank"),
          col("p._1").as("term"), col("p._2").as("score"))
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy(col("score").desc, col("term").asc)
      val viaWin = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("g", "rank", "term", "score")
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      assert(viaAgg.sameElements(viaWin), s"nPart=$nPart")
    }
  }

  test("tfidf plan: top-3 via k-bounded aggregate, not a rank window") {
    // the guard is the TOP-K selection: it must stay a bounded
    // aggregate, never a row_number window over the full score stream.
    // (A streaming count-window now attaches df on the term exchange —
    // that window is unbounded-frame over the join key, not a rank.)
    val p = TextAnalysis.tfidf(spark, d).queryExecution.executedPlan.toString
    assert(!p.contains("row_number"), "tfidf top-k regressed to a rank window")
    assert(p.contains("TopKTerms") || p.toLowerCase.contains("topkterms"),
      "tfidf top-k no longer uses the bounded aggregate")
  }

  test("tfidf: 3 rows per doc, ranks 1..3, scores non-increasing") {
    val rows = TextAnalysis.tfidf(spark, d).collect()
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      assert(rs.length == 3, s"doc $doc")
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).sameElements(Seq(1, 2, 3)))
      val sc = byRank.map(_.getDouble(3))
      assert(sc(0) >= sc(1) && sc(1) >= sc(2), s"doc $doc: ${sc.toSeq}")
    }
  }

  test("hll estimate within the m=1024 error envelope; state consistent") {
    val r = graft.operators.Sketches.hll(spark, d).collect()(0)
    val (m, vEmpty) = (r.getInt(0), r.getLong(1))
    val (exact, est) = (r.getLong(3), r.getLong(4))
    assert(m == 1024 && vEmpty >= 0 && vEmpty < 1024)
    assert(est > 0)
    // 1.04/sqrt(1024) = 3.25% std error; 5 sigma = 16%
    assert(math.abs(est - exact).toDouble / exact < 0.16,
      s"est $est vs exact $exact")
  }

  test("substring dedup: coverage bounds and repeated-text planted case") {
    val rows = Dedup.substringDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.length == 500)
    rows.foreach { case (doc, n, ndg, ndt, ratio) =>
      assert(ndt <= n, s"doc $doc coverage exceeds tokens")
      // a duplicated 8-gram covers at least its own 8 tokens
      if (ndg > 0) assert(ndt >= 8, s"doc $doc: $ndg grams but $ndt tokens")
      else assert(ndt == 0)
      assert(math.abs(ratio - math.rint(ndt.toDouble / n * 1e4) / 1e4) < 1e-9)
    }
    // the corpus has planted near-duplicates: some doc must hit
    assert(rows.exists(_._3 > 0), "no repeated 8-gram found in the corpus")
    // planted case: two docs sharing identical full text are fully covered
    val t = Tables.documents(spark, d)
      .groupBy("text").count().filter(col("count") >= 2)
      .join(Tables.documents(spark, d), "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    rows.filter(r => t.contains(r._1) && r._2 >= 8).foreach {
      case (doc, n, _, ndt, _) => assert(ndt == n, s"exact-dup doc $doc not fully covered")
    }
  }

  test("perplexity buckets: terciles ordered and balanced") {
    val rows = TextAnalysis.perplexityBuckets(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(rows.length == 500)
    val byBucket = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // boundaries: every head ppl <= every middle ppl <= every tail ppl
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // percentile split keeps the thirds roughly balanced
    byBucket.values.foreach(b => assert(b.length > 100 && b.length < 234))
    rows.foreach { case (_, nb, ppl, _) => assert(nb > 0 && ppl > 0) }
  }

  test("pq ann: recall@5 >= 0.8 vs exact top-k; well-formed ranking") {
    val exact = graft.operators.Similarity.annTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = graft.operators.Similarity.annPq(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    pq.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to 5), s"query $q ranks")
    }
    val got = pq.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & got(q)).size / 5.0).sum / exact.size
    assert(recall >= 0.8, s"recall@5 $recall")
  }

  test("ivfpq ann: recall@5 vs exact top-k; IVF pruning bounds candidates") {
    val exact = graft.operators.Similarity.annTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivfpq = graft.operators.Similarity.annIvfPq(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    ivfpq.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to 5), s"query $q ranks")
    }
    val got = ivfpq.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // IVF pruning (nprobe 6 of 32 cells) caps attainable recall below
    // plain PQ's on this near-random space; measured 0.64 at sf0.001 —
    // IDENTICAL to the ivf-only query's 0.64, i.e. the residual-PQ stage
    // loses nothing within the probed cells (8-bit codes + 64-deep exact
    // re-rank), coarse pruning is the binding constraint
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & got(q)).size / 5.0).sum / exact.size
    assert(recall >= 0.5, s"recall@5 $recall")
  }

  test("kmv aggregate: matches the window-based kmvGrouped state exactly") {
    import graft.operators.Sketches
    val agg = Sketches.kmvAgg(spark, d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val win = Sketches.kmvGrouped(spark, d).collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(agg.keySet == win.keySet)
    for ((g, (kth, nMin, est)) <- agg) {
      // both forms hold the K smallest distinct hashes -> same k-th hash;
      // estimates agree whenever the sketch is saturated (n_min = K)
      assert(kth == win(g)._1, s"grp $g kth")
      if (nMin == 256) assert(est == win(g)._2, s"grp $g est")
    }
    // the plan must be a partial+final object-hash aggregate — no
    // distinct shuffle of data rows, no rank window
    val plan = Sketches.kmvAgg(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("semdedup: removals are true cosine pairs and keepers precede") {
    val removed = graft.operators.Similarity.semDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(removed.nonEmpty, "no semantic duplicates found at tau=0.4")
    // every (removed, keeper) pair must be a REAL cos>=0.4 pair per the
    // exact all-pairs operator (cluster-local search cannot invent pairs)
    val exactPairs = Dedup.embCosinePairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    removed.foreach { case (v, _, k, cos) =>
      assert(cos >= 0.4, s"removed $v at cos $cos")
      val key = (math.min(v, k), math.max(v, k))
      assert(exactPairs.contains(key), s"pair $key not in exact cos pairs")
    }
    // a vector is removed at most once
    assert(removed.map(_._1).distinct.length == removed.length)
  }

  test("count-min: one-sided guarantee and theoretical error bound") {
    val rows = graft.operators.Sketches.countMin(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    val totalTokens = Tables.documents(spark, d)
      .select(explode(split(col("text"), " "))).count()
    rows.foreach { case (tok, exact, est, over) =>
      // CM never undercounts (min over rows of counters >= true count)
      assert(est >= exact, s"$tok undercounted: $est < $exact")
      assert(over == est - exact)
      // expected overcount per row is N/w; min over 4 rows far tighter.
      // 8x the single-row expectation is a generous determinism-safe cap
      assert(over <= 8 * totalTokens / 1024, s"$tok overcount $over")
    }
    // top-20 probes are sorted by exact count descending
    assert(rows.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("histogram quantiles: within two bin widths of exact percentile") {
    val rows = graft.operators.Sketches.quantileHist(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val langs = rows.map(_._1).distinct
    assert(rows.length == langs.length * 4)
    val Array(mn, mx) = Tables.documents(spark, d)
      .select(size(split(col("text"), " ")).cast("long").as("x"))
      .agg(min("x"), max("x")).collect()(0).toSeq
      .map(_.asInstanceOf[Long]).toArray
    val binW = (mx - mn + 1).toDouble / 128
    rows.foreach { case (lang, p, est, exact, err) =>
      // estimate and exact interpolation can sit in adjacent bins, so
      // two bin widths bounds the uniform-within-bin estimator
      assert(math.abs(err) <= 2 * binW + 1e-9, s"$lang p$p err $err")
      assert(math.abs(est - exact - err) < 1e-3)
    }
  }

  test("weighted sample: well-formed, deterministic, weight-biased") {
    val rows = TextAnalysis.sampleWeighted(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1 to 50))
    val keys = rows.map(_._4)
    assert(keys.sliding(2).forall(p => p(0) >= p(1)), "keys not descending")
    // E-S draws proportional to weight: on this fixed corpus the sample
    // mean weight exceeds the corpus mean (a deterministic fact here)
    val corpusMean = Tables.documents(spark, d)
      .agg(avg("n_chars")).collect()(0).getDouble(0)
    val sampleMean = rows.map(_._3).sum.toDouble / rows.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean <= corpus mean $corpusMean")
    // same draw on a GENUINELY different layout: rewrite the corpus as
    // 7 shuffled parquet parts and re-run — TakeOrdered must merge
    // per-partition heads to the identical top-50 at any parallelism
    val tmp = java.nio.file.Files.createTempDirectory("wsample").toFile
    Tables.documents(spark, d).repartition(7, col("text"))
      .write.mode("overwrite")
      .parquet(new java.io.File(tmp, "documents.parquet").getPath)
    val again = TextAnalysis.sampleWeighted(spark, tmp.getPath).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.sameElements(rows))
  }

  test("psi drift: non-negative by theorem, bands consistent, full cover") {
    val rows = TextAnalysis.driftPsi(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(rows.nonEmpty)
    // every (p-q)*ln(p/q) term is >= 0, so PSI is >= 0
    rows.foreach { case (src, n, psi, verdict) =>
      assert(psi >= 0, s"$src psi $psi")
      assert(n > 0)
      val expected =
        if (psi < 0.1) "stable" else if (psi < 0.25) "moderate" else "drifted"
      assert(verdict == expected, s"$src psi $psi verdict $verdict")
    }
    // sources partition the corpus
    val total = Tables.documents(spark, d).count()
    assert(rows.map(_._2).sum == total)
  }

  test("mix budget: waterfill caps a prefix, conserves the budget") {
    val rows = TextAnalysis.mixBudget(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getLong(4), r.getDouble(5)))
    val (capped, free) = rows.partition(_._4)
    assert(capped.nonEmpty && free.nonEmpty,
      "fixture must exercise both waterfill branches")
    // capped sources sit exactly at the epoch cap; uncapped strictly under
    capped.foreach { r => assert(r._6 == 2.52, r.toString) }
    free.foreach { r => assert(r._6 < 2.52, r.toString) }
    // cap-binding sources form a prefix of the n-ascending order
    assert(capped.map(_._2).max <= free.map(_._2).min)
    // budget conservation: sum of allocations = 2.5x corpus (rounding slack)
    val total = rows.map(_._2).sum
    assert(math.abs(rows.map(_._5).sum - 2.5 * total) <= rows.length,
      s"allocated ${rows.map(_._5).sum} vs budget ${2.5 * total}")
    // target weights normalize
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    // uncapped epochs decrease with size (alpha < 1 favors small sources)
    free.sortBy(_._2).map(_._6).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b)
      case _ => ()
    }
  }

  test("random projection: JL distance-preservation envelope") {
    val rows = Similarity.embRandomProjection(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 64 * 63 / 2)
    val r2 = rows.map(r => r._5 * r._5)
    // E[ratio^2] = 1; mean over 2016 pairs concentrates hard
    val mean = r2.sum / r2.length
    assert(mean > 0.7 && mean < 1.3, s"mean ratio^2 $mean")
    // individual ratios: std ~ sqrt(2/16) = 0.35 -> generous hard bounds
    rows.foreach { r =>
      assert(r._5 > 0.2 && r._5 < 2.5, s"pair ${r._1},${r._2} ratio ${r._5}")
    }
    // deterministic across runs (literal sign matrix, fixed sample)
    val again = Similarity.embRandomProjection(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.sameElements(again))
  }

  test("containment: superset of high-J pairs, bounded, smaller side first") {
    val cont = Dedup.containment(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(cont.nonEmpty)
    cont.foreach { case ((a, b), (sza, szb, c)) =>
      assert(c >= 0.7 && c <= 1.0, s"($a,$b) c=$c")
      assert(sza < szb || (sza == szb && a < b), s"($a,$b) side order")
    }
    // C = i/min(sz) >= i/union = J, so every Jaccard pair with J >= 0.7
    // must reappear as a containment pair (in some direction) with
    // containment >= its J
    val jac = Dedup.jaccard(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter(_._2 >= 0.7)
    assert(jac.nonEmpty, "fixture needs at least one J >= 0.7 pair")
    jac.foreach { case ((a, b), j) =>
      val row = cont.get((a, b)).orElse(cont.get((b, a)))
      assert(row.isDefined, s"J=$j pair ($a,$b) missing from containment")
      assert(row.get._3 >= j - 1e-4)
    }
  }

  test("embedding outliers: top-20 by |z|, consistent with the tail") {
    val rows = Similarity.embOutliers(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length == 20)
    // sorted by |z| descending
    rows.map(r => math.abs(r._3)).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b)
      case _ => ()
    }
    // a 500-vector sample must put its extreme tail past 2 sigma, and
    // z-scores must be standardized (not all one sign)
    assert(math.abs(rows.head._3) > 2.0, s"max |z| ${rows.head._3}")
    // deterministic
    val again = Similarity.embOutliers(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.sameElements(again))
  }

  test("ngram novelty: first doc fully novel, totals = distinct grams") {
    val rows = TextAnalysis.ngramNovelty(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, ng, nn, nov) =>
      assert(nn >= 0 && nn <= ng, s"doc $id")
      assert(nov >= 0.0 && nov <= 1.0, s"doc $id novelty $nov")
    }
    // the lowest doc_id owns every one of its grams by construction
    val first = rows.minBy(_._1)
    assert(first._4 == 1.0, s"first doc novelty ${first._4}")
    // each distinct gram is owned by exactly one doc: novel counts sum
    // to the corpus-wide distinct gram count
    val distinctGrams = Tables.documents(spark, d)
      .selectExpr("explode(transform(sequence(0, size(split(text,' ')) - 8)," +
        " i -> concat_ws(' ', slice(split(text,' '), i + 1, 8)))) AS g")
      .where("size(split(g, ' ')) = 8")
      .select("g").distinct().count()
    assert(rows.map(_._3).sum == distinctGrams,
      s"${rows.map(_._3).sum} owned vs $distinctGrams distinct")
  }

  test("knn graph: restriction to the LSH query set equals ann_lsh top-3") {
    val graph = Similarity.annKnnGraph(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val lshTop3 = Similarity.annLsh(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .filter(_._2 <= 3)
    assert(lshTop3.nonEmpty)
    val qids = lshTop3.map(_._1).toSet
    val sub = graph.filter(r => qids(r._1))
    assert(sub.sortBy(r => (r._1, r._2)).sameElements(
      lshTop3.sortBy(r => (r._1, r._2))),
      "graph restricted to the query set differs from ann_lsh top-3")
    // every vector with at least one bucket-mate appears as a query
    assert(graph.map(_._1).distinct.length > 400)
  }

  test("jaccard curve: monotone, consistent with the pair operator") {
    val curve = Dedup.jaccardCurve(spark, d).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(curve.map(_._1).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    // cumulative counts are non-increasing in the threshold
    curve.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 >= b._2 && a._3 >= b._3)
      case _ => ()
    }
    // the 0.5 point IS the jaccard operator's output
    val pairs = Dedup.jaccard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(curve.head._2 == pairs.length)
    assert(curve.head._3 ==
      pairs.flatMap(p => Seq(p._1, p._2)).distinct.length)
    // spot-check an interior point against a direct filter
    val at07 = pairs.filter(_._3 >= 0.7)
    assert(curve(2)._2 == at07.length)
  }

  test("multimodal codecs survive empty documents (pad convention)") {
    val tmp = java.nio.file.Files.createTempDirectory("mmtest").toFile
    spark.createDataFrame(Seq((0L, ""), (1L, ""), (2L, "hello world!"),
        (3L, "three tokens here")))
      .toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet(new java.io.File(tmp, "documents.parquet").getPath)
    val feats = Multimodal.mediaFeatures(spark, tmp.getPath).collect()
    assert(feats.length == 2) // one ppm row, one wav row
    val frames = Multimodal.mediaFrames(spark, tmp.getPath).collect()
    assert(frames.length == 1 && frames(0).getLong(0) == 4) // n_media
    val png = Multimodal.mediaPng(spark, tmp.getPath).collect()
    assert(png.length == 1 && png(0).getLong(0) == 4 &&
      png(0).getLong(3) == 4) // all CRCs verified
  }

  test("PNG codec cross-validates against the JVM's ImageIO both ways") {
    // 1) our encoder -> ImageIO decoder: the spec-conformance check a
    //    self-round-trip can't give (signature, chunk CRCs, zlib stream,
    //    and all five filter types must satisfy a foreign reader)
    val text = "The quick brown fox jumps over the lazy dog! 0123456789" * 3
    val (_, payload) = Multimodal.encodePngPayload(7L, text)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img != null, "ImageIO rejected our PNG")
    val tb = text.getBytes("UTF-8")
    val w = 8; val h = tb.length / 8
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val expect = tb((y * w + x) % tb.length) & 0xFF
      val got = img.getRaster.getSample(x, y, 0)
      assert(got == expect, s"pixel ($x,$y): $got != $expect")
    }
    // 2) ImageIO encoder -> our decoder: a foreign writer's filter and
    //    deflate choices must inflate/unfilter to the same pixels
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, tb((y * w + x) % tb.length) & 0xFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val feats = Multimodal.decodePng(7L, bos.toByteArray)
    assert(feats.crc_ok == 1)
    assert(feats.n_pixels == w.toLong * h)
    val expMean =
      (0 until w * h).map(i => tb(i % tb.length) & 0xFF).sum.toDouble / (w * h)
    assert(math.abs(feats.mean_px - expMean) < 1e-12,
      s"${feats.mean_px} != $expMean")
  }

  test("JPEG codec: constant blocks round-trip exactly; ImageIO " +
       "cross-validation both ways") {
    // (a) gate payload (constant 8x8 blocks under the all-8s quant
    //     table) round-trips EXACTLY through our decoder — the lossy
    //     codec's full-hash-oracle precondition
    val text = "The quick brown fox jumps over the lazy dog! 0123456789" * 3
    val tb = text.getBytes("UTF-8")
    val (_, payload) = Multimodal.encodeJpegPayload(7L, text)
    val nb = tb.length / 8
    val feats = Multimodal.decodeJpeg(7L, payload)
    assert(feats.n_pixels == 64L * nb && feats.ok == 1)
    val expMean =
      (0 until nb).map(b => tb(b % tb.length) & 0xFF).sum.toDouble / nb
    assert(math.abs(feats.mean_px - expMean) < 1e-12,
      s"${feats.mean_px} != $expMean")
    // (b) our encoder -> ImageIO's (libjpeg-class) decoder: a foreign
    //     reader must accept the markers/huffman/stuffing and, for
    //     DC-only blocks, reproduce the exact constants
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img != null, "ImageIO rejected our JPEG")
    assert(img.getWidth == 8 && img.getHeight == 8 * nb)
    for (b <- 0 until nb; i <- 0 until 64) {
      val expect = tb(b % tb.length) & 0xFF
      val got = img.getRaster.getSample(i % 8, b * 8 + i / 8, 0)
      assert(got == expect, s"block $b px $i: $got != $expect")
    }
    // (c) a NON-constant image through our general encoder, read by
    //     ImageIO: quantization loss is shared (same coefficients), so
    //     the two IDCTs may differ only by the standard's +-1 rounding
    val w = 16; val h = 16
    val px = Array.tabulate(w * h)(i =>
      ((tb(i % tb.length) & 0xFF) + (i * 7) % 64) % 256)
    val general = Multimodal.encodeJpegGray(px, w, h)
    val gImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(general))
    assert(gImg != null)
    val ours = Multimodal.decodeJpeg(1L, general)
    var sumIio = 0L
    for (y <- 0 until h; x <- 0 until w) sumIio += gImg.getRaster.getSample(x, y, 0)
    // same coefficients, two IDCTs: means within 1 gray level
    assert(math.abs(ours.mean_px - sumIio.toDouble / (w * h)) <= 1.0)
    // (d) ImageIO's ENCODER (foreign writer: its own quant + huffman
    //     tables) -> our decoder, against ImageIO's own decode of the
    //     same bytes: both read identical coefficients, IDCTs agree
    //     within the standard's +-1
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "jpg", bos)
    val foreign = bos.toByteArray
    val oursF = Multimodal.decodeJpeg(2L, foreign)
    val iioF = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(foreign))
    var sumF = 0L
    for (y <- 0 until h; x <- 0 until w) sumF += iioF.getRaster.getSample(x, y, 0)
    assert(oursF.n_pixels == w.toLong * h && oursF.ok == 1)
    assert(math.abs(oursF.mean_px - sumF.toDouble / (w * h)) <= 1.0,
      s"${oursF.mean_px} vs ${sumF.toDouble / (w * h)}")
  }

  test("heavy hitters: equals exact groupBy-HAVING on the gate corpus") {
    import graft.operators.Sketches
    val got = Sketches.heavyHitters(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("token"))
    val n = toks.count()
    val expect = toks.groupBy("token").count()
      .filter(col("count") * 30 > n)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }.toSeq
    assert(got === expect)
    assert(got.nonEmpty) // a trivial empty pass proves nothing
  }

  test("heavy hitters: MG compaction path on a 10k-word Zipf corpus " +
       "still yields the exact answer") {
    val sp = spark
    import sp.implicits._
    // vocab of 10 heavy words (2000 occurrences each) + 10 000 tail
    // words (2 each): 10 010 distinct tokens >> the 2*HhK = 2048 buffer
    // bound, so reduce-side compaction MUST fire; n = 40 000, threshold
    // n/30 = 1333.3 -> exactly the 10 heavy words qualify. The MG
    // guarantee (any item with freq > n/(K+1) ~ 39 survives the summary)
    // is what makes the two-pass result exact despite the compactions.
    val stream = scala.collection.mutable.ArrayBuffer[String]()
    var ti = 0
    for (i <- 0 until 20000) {
      stream += s"h${i % 10}"
      stream += s"w$ti"; ti = (ti + 1) % 10000
    }
    // deterministic shuffle so heavies and tail interleave irregularly
    val arr = stream.toArray
    var seed = 0x9E3779B97F4A7C15L
    for (i <- arr.indices.reverse if i > 0) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val j = (((seed >>> 33) % (i + 1)) + (i + 1)) % (i + 1)
      val t = arr(i); arr(i) = arr(j.toInt); arr(j.toInt) = t
    }
    val docs = arr.grouped(100).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
    val dir = java.nio.file.Files.createTempDirectory("hhzipf").toString
    docs.toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Sketches.heavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = (0 until 10).map(i => (s"h$i", 2000L)).toSet
    assert(got === expect)
  }

  test("text_chunk: windows replayed in pure Scala; full token coverage") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val rows = TextAnalysis.chunkDocs(spark, d).collect()
    // pure-Scala replication of the window arithmetic
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val n = toks.length
      val nChunks = if (n <= 64) 1 else 1 + (n - 64 + 47) / 48
      (0 until nChunks).map { i =>
        val w = toks.slice(i * 48, math.min(i * 48 + 64, n))
        ((id, i.toLong), w.length.toLong)
      }
    }
    assert(rows.length == expected.size)
    for (r <- rows) {
      val key = (r.getLong(0), r.getLong(1))
      assert(expected.contains(key), s"unexpected chunk $key")
      assert(r.getLong(2) == expected(key), s"length mismatch at $key")
    }
    // coverage: per doc, sum(chunk_tokens) = n + 16 * (n_chunks - 1)
    // (each window past the first re-reads exactly the 16-token overlap)
    val perDoc = rows.groupBy(_.getLong(0)).map { case (id, rs) =>
      (id, rs.map(_.getLong(2)).sum, rs.length)
    }
    for ((id, total, nc) <- perDoc) {
      val n = docs(id).split(" ", -1).length.toLong
      assert(total == n + 16L * (nc - 1), s"coverage broken for doc $id")
    }
  }

  test("ann_graph_search: well-formed ranks and recall@5 vs the exact " +
       "brute force above the navigability floor") {
    import graft.operators.Similarity
    val g = Similarity.annGraphSearch(spark, d).collect()
    val t = Similarity.annTopK(spark, d).collect()
    // shape: 10 queries x ranks 1..5, cos within [-1, 1]
    val byQ = g.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    }
    // recall vs the exact top-5 (the audit brute force): the undirected
    // 2-bit-probe graph measured 0.88 at sf0.01 / r10 — pin a floor
    // well above the 0.66 the 1-bit directed build capped at
    val gs = g.map(r => (r.getLong(0), r.getLong(2))).toSet
    val ts = t.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (gs & ts).size.toDouble / ts.size
    assert(recall >= 0.75, s"graph-search recall@5 $recall below floor")
  }

  test("ann_graph_scaled: quantizer-seeded recall@5 holds the NSW floor " +
       "and the build plan carries no window over bkt") {
    import graft.operators.Similarity
    // recall pin (r11 verdict #2): the production variant's recall was
    // evidenced only in an archived 500k probe — pin the gate-SF floor
    // so a seeding or cap regression fails the suite
    val g = Similarity.annGraphScaled(spark, d).collect()
    val t = Similarity.annTopK(spark, d).collect()
    val byQ = g.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    }
    val gs = g.map(r => (r.getLong(0), r.getLong(2))).toSet
    val ts = t.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (gs & ts).size.toDouble / ts.size
    assert(recall >= 0.75, s"scaled-graph recall@5 $recall below floor")
    // skew-proof cap (r11 verdict #1): the bucket cap must be the
    // bounded min-k id AGGREGATE, not a window — a window over bkt
    // sorts every member of a bucket (vectors included) in one task.
    // Assert on the PURE forward-edge plan (graphEdgesScaled eagerly
    // materializes, which would hide the subtree behind a LogicalRDD)
    val plan = Similarity.graphFwdEdgesScaled(spark, d,
        Similarity.scaledPFor(spark, d))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      s"scaled build plan contains ${windows.size} window node(s)")
  }

  test("ann_graph_scaled_sq8: quantized edge semantics hold the recall " +
       "floor vs exact, and the build plan stays window-free") {
    import graft.operators.Similarity
    // r13 verdict #1: the SQ8-scored build changes what an edge IS, so
    // the pin is against BOTH the exact brute-force top-5 (search
    // quality) and the exact-edge build's own results (the quantization
    // must not change where the walk lands much)
    val g = Similarity.annGraphScaledSq8(spark, d).collect()
    val byQ = g.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    }
    val t = Similarity.annTopK(spark, d).collect()
    val gs = g.map(r => (r.getLong(0), r.getLong(2))).toSet
    val ts = t.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (gs & ts).size.toDouble / ts.size
    assert(recall >= 0.75, s"sq8-graph recall@5 $recall below floor")
    // exact-twin agreement: the quantized-edge walk should land on
    // (nearly) the same neighbors as the full-precision build
    val ex = Similarity.annGraphScaled(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val agree = (gs & ex).size.toDouble / ex.size
    assert(agree >= 0.75, s"sq8-vs-exact-build agreement $agree below floor")
    // same window-free discipline as the exact build: the bucket cap is
    // the bounded aggregate, never a per-bucket sort
    val plan = Similarity.graphFwdEdgesScaledSq8(spark, d,
        Similarity.scaledPFor(spark, d))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      s"sq8 build plan contains ${windows.size} window node(s)")
  }

  test("graphFwdEdgesScaled: the f32-packed build emits the EXACT " +
       "float edge set (lossless pack, bit-identical scores)") {
    import graft.operators.Similarity
    // independent float-exact replay of the forward build — deterministic
    // splitmix planes, 1-bit probes, 32-per-bucket lowest-id cap, exact
    // cosine top-8 by (round(cos,6) desc, id asc) — computed in plain
    // Scala from the raw parquet, no Similarity internals. The build's
    // f32 packing is a pure shuffle-byte optimization ONLY if
    // double(float32(x)) == x for every embedding component (the tables
    // store float parquet); this pin fails the suite the moment the
    // packed dot diverges from the float64 dot.
    val rows = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val n = rows.length
    val p = Similarity.scaledPlaneCount(n)
    def planes(count: Int): Array[Array[Double]] = Array.tabulate(count) { q =>
      var x = 0x9E3779B97F4A7C15L * (q + 1)
      Array.fill(64) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        ((x * 0x2545F4914F6CDD1DL) >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
    }
    val pl = planes(p)
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vmap = rows.toMap
    val norm = rows.map { case (id, v) => id -> math.sqrt(dotA(v, v)) }.toMap
    val bkt = rows.map { case (id, v) =>
      id -> pl.indices.map(i => if (dotA(v, pl(i)) > 0) 1 << i else 0).sum
    }.toMap
    val capped: Map[Int, Seq[Long]] =
      rows.map(_._1).groupBy(bkt).map { case (b, ids) =>
        b -> ids.sorted.take(32).toSeq
      }
    def r6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = rows.flatMap { case (qid, qv) =>
      val probeSet: Seq[Int] =
        bkt(qid) +: (0 until p).map(i => bkt(qid) ^ (1 << i))
      probeSet.flatMap(b => capped.getOrElse(b, Seq.empty[Long]))
        .filter(_ != qid)
        .map(c => (c, r6(dotA(vmap(c), qv) / (norm(c) * norm(qid)))))
        .sortBy { case (c, cos) => (-cos, c) }
        .take(8)
        .map { case (c, _) => (qid, c) }
    }.toSet
    val actual = Similarity.graphFwdEdgesScaled(spark, d, p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(actual == expected,
      s"quantized-build edge set diverged from float-exact: " +
        s"missing=${(expected -- actual).take(5)} " +
        s"extra=${(actual -- expected).take(5)}")
  }

  test("ann_graph_append: batch-shaped edges for arriving vectors, " +
       "disjoint splits, windowless plan, top-1 agrees with exact") {
    import graft.operators.Similarity
    val g = Similarity.annGraphAppend(spark, d).collect()
    // every query is a batch (vec_id % 10 == 7) vector, every neighbor
    // a base vector — the splits never cross
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getLong(0) % 10 == 7, s"query ${r.getLong(0)} not in batch")
      assert(r.getLong(2) % 10 != 7, s"neighbor ${r.getLong(2)} in batch")
    }
    // well-formed contiguous ranks per query (M = graph out-degree)
    g.groupBy(_.getLong(0)).values.foreach { rows =>
      val rk = rows.map(_.getInt(1)).sorted
      assert(rk.sameElements(1 to rk.length), rk.mkString(","))
    }
    // quality: each new vector's rank-1 edge must land in its true
    // exact top-10 among base vectors (measured 1.0 at both gate SFs).
    // Exact-top-1 EQUALITY is the wrong pin: it is bounded ~0.6 by the
    // bucket cap itself (the true NN is often not among a bucket's 32
    // lowest-id representatives — the same bound the build's own edges
    // operate under); what an append must guarantee is that the new
    // vector ties into its near NEIGHBORHOOD, which this pins.
    val e = Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val base = e.filter(_._1 % 10 != 7)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { s += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      s / math.sqrt(na * nb)
    }
    val byId = e.toMap
    val top1 = g.filter(_.getInt(1) == 1).map(r => (r.getLong(0), r.getLong(2)))
    val hits = top1.count { case (q, nbr) =>
      val qv = byId(q)
      val exact10 = base.map { case (id, v) =>
        (math.rint(cos(qv, v) * 1e6), -id, id) }
        .sortBy(t => (-t._1, -t._2)).take(10).map(_._3).toSet
      exact10(nbr)
    }
    assert(hits.toDouble / top1.length >= 0.9,
      s"append top-1-in-exact-top-10 ${hits.toDouble / top1.length}")
    // batch-shaped plan: the cap is the bounded id aggregate, no window
    val plan = Similarity.annGraphAppend(spark, d)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, s"append plan has ${windows.size} window(s)")
  }

  test("describeAnnLayout: bkt-keyed LSH layout histogram covers the corpus") {
    import graft.operators.Similarity
    val layout = Similarity.buildLshLayout(spark, d)
    val rows = Similarity.describeAnnLayout(spark, layout.toString).collect()
    assert(rows.map(_.getLong(1)).sum == 500, "histogram must cover all rows")
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1)
      assert(r.getLong(3) <= r.getLong(4), "vec_id extent inverted")
    }
  }

  test("ann_hnsw: hierarchical descent holds the NSW recall floor with " +
       "FEWER distinct scored candidates at equal layer-0 beam width") {
    import graft.operators.Similarity
    val (hdf, haud) = Similarity.annHnswAudited(spark, d)
    val h = hdf.collect()
    val byQ = h.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    }
    val t = Similarity.annTopK(spark, d).collect()
    val hs = h.map(r => (r.getLong(0), r.getLong(2))).toSet
    val ts = t.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (hs & ts).size.toDouble / ts.size
    assert(recall >= 0.75, s"hnsw recall@5 $recall below the NSW floor")
    // the hierarchy's point (r10 verdict #3): entering through the apex
    // + logarithmic descent must score FEWER distinct (query, candidate)
    // pairs than the fixed 64-node entry set, at the same layer-0 W/L
    val (_, naud) = Similarity.annGraphSearchAudited(spark, d)
    val hnswScored = haud.count()
    val nswScored = naud.count()
    assert(hnswScored < nswScored,
      s"hnsw scored $hnswScored, nsw scored $nswScored")
  }

  test("ann_sq8: recall@5 >= 0.95 vs exact top-k; well-formed ranking") {
    // 8-bit scalar quantization reconstructs each dim to ~range/512, so
    // the dequantized-cosine shortlist should essentially never miss a
    // true top-5 neighbor (measured 1.0 at this SF)
    val exact = graft.operators.Similarity.annTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sq = graft.operators.Similarity.annSq8(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    sq.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to 5), s"query $q ranks")
    }
    val got = sq.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & got(q)).size / 5.0).sum / exact.size
    assert(recall >= 0.95, s"sq8 recall@5 $recall")
  }

  test("ann_ivf_sq8: recall matches coarse pruning's bound; equals the " +
       "ivf candidate restriction with sq8's in-cell fidelity") {
    // the composition's recall is bounded by the IVF half (nprobe 6 of
    // 32 cells — measured 0.64 for ivf/ivfpq at this SF); the SQ8 half
    // loses essentially nothing within probed cells (0.95+ standalone),
    // so the composed recall should sit AT the coarse bound
    val exact = graft.operators.Similarity.annTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val c = graft.operators.Similarity.annIvfSq8(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    c.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to 5), s"query $q ranks")
    }
    val got = c.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & got(q)).size / 5.0).sum / exact.size
    assert(recall >= 0.5, s"ivf_sq8 recall@5 $recall")
    // within the probed cells the result equals the IVF query's top-5
    // wherever SQ8's 64-deep shortlist retained them: pin agreement
    // with plain IVF (same codebook by determinism)
    val ivf = graft.operators.Similarity.annIvf(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val agree = ivf.keys.toSeq
      .map(q => (ivf(q) & got(q)).size / 5.0).sum / ivf.size
    assert(agree >= 0.9, s"ivf vs ivf_sq8 agreement $agree")
  }

  test("text_pmi: equals a pure-Scala PMI computation, ranked top-40") {
    val texts = Tables.documents(spark, d)
      .select("text").collect().map(_.getString(0))
    val tokRe = "[a-z0-9]+".r
    val docsT = texts.map(t => tokRe.findAllIn(t.toLowerCase).toArray)
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    var n = 0L; var b = 0L
    for (toks <- docsT) {
      n += toks.length
      for (i <- 0 until toks.length - 1) {
        b += 1
        bi((toks(i), toks(i + 1))) = bi.getOrElse((toks(i), toks(i + 1)), 0L) + 1
      }
      for (w <- toks) uni(w) = uni.getOrElse(w, 0L) + 1
    }
    val scored = bi.toSeq.filter(_._2 >= 3).map { case ((w1, w2), cxy) =>
      val pmi = math.log((cxy.toDouble / b) /
        ((uni(w1).toDouble / n) * (uni(w2).toDouble / n))) / math.log(2.0)
      (w1, w2, cxy,
        BigDecimal(pmi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (w1, w2, _, pmi) => (-pmi, w1, w2) }.take(40)
    val got = TextAnalysis.pmiCollocations(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 40)
    for (((gw1, gw2, gc, gp), (ew1, ew2, ec, ep)) <- got.zip(scored)) {
      assert((gw1, gw2, gc) == ((ew1, ew2, ec)), s"rank mismatch: $gw1 $gw2")
      assert(math.abs(gp - ep) < 1e-6, s"pmi mismatch for ($gw1,$gw2)")
    }
  }

  test("partitioned-layout write pattern keeps a HOT key's single file " +
       "splittable: row groups bounded by Layouts.RowGroupBytes") {
    // The IVF/LSH/posting layouts write one file per key dir
    // (repartition(key) + partitionBy(key)). A parquet file splits only
    // at row-group boundaries: with the 128 MB default, a hot key's
    // whole file was ONE group — one scan task scored (hot-key rows) ×
    // (probe fan-out), the measured hybrid_rrf_batch100 straggler
    // (42.5 s task vs a 40 ms stage median). This pins the cure: the
    // shared write pattern at Layouts.RowGroupBytes must produce
    // multiple, roughly target-sized row groups on a hot key big enough
    // to need them.
    val dir = java.nio.file.Files.createTempDirectory("rgsplit").toString
    // ~12 MB of 64-dim float rows under ONE key — past the 4 MB target
    // but far below the 128 MB default (which would leave 1 group)
    val df = spark.range(0, 48000).select(
      col("id").as("vec_id"), lit(0).as("cell"),
      array((0 until 64).map(i =>
        (col("id") * (i * 2654435761L + 1)).cast("float")): _*).as("v"))
    df.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .option("parquet.block.size", graft.util.Layouts.RowGroupBytes.toString)
      .parquet(dir)
    val files = new java.io.File(s"$dir/cell=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, "one file per key dir (the §8q.10 rule)")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files(0).getPath),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val groups = reader.getRowGroups
      assert(groups.size() >= 2,
        s"hot-key file not splittable: ${groups.size()} row group(s)")
      // groups track the target (writer checks size periodically, so
      // allow 2x slack) — splittable AND not degenerate-tiny
      import scala.jdk.CollectionConverters._
      groups.asScala.dropRight(1).foreach { g =>
        assert(g.getTotalByteSize <= 2L * graft.util.Layouts.RowGroupBytes,
          s"row group ${g.getTotalByteSize} B exceeds 2x target")
      }
    } finally reader.close()
  }
}
