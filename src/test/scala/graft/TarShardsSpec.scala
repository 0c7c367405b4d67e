package graft

import java.io.{BufferedInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.TarShards

/** Tar-shard source/sink: ustar conformance is proved against a FOREIGN
  * implementation both directions — GNU tar must read our shards
  * (listing + extraction byte-identical to the inputs), and our reader
  * must parse a GNU-tar-written archive — plus sink determinism and the
  * WebDataset sample-grouping contract. */
class TarShardsSpec extends SessionSuite {

  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("tarshards").toString
  }

  // text exercising multibyte UTF-8, empties, and >512-byte payloads
  private def sampleDocs() = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "hello tar world", "en", "src0", 15L),
      (1L, "héllo — ünïcode ✓ 中文", "de", "src1", 20L),
      (2L, "", "en", "src2", 0L),
      (3L, "x" * 1300, "fr", "src3", 1300L),
      (4L, "last\nline\twith whitespace ", "es", "src4", 26L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def run(cmd: Seq[String], cwd: File): String = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    assert(p.waitFor() == 0, s"${cmd.mkString(" ")} failed:\n$out")
    out
  }

  test("GNU tar reads our shards: listing and extracted bytes match") {
    val out = s"$work/ours"
    TarShards.writeShards(sampleDocs(), out, 2)
    val shards = new File(out).listFiles().filter(_.getName.endsWith(".tar"))
    assert(shards.length == 2)
    val extract = new File(s"$work/extract"); extract.mkdirs()
    for (sh <- shards) {
      // -t must list every member without complaint (header checksums,
      // sizes, end-of-archive blocks all validated by the foreign reader)
      val listing = run(Seq("tar", "-tf", sh.getAbsolutePath), extract)
      assert(listing.linesIterator.forall(l =>
        l.endsWith(".txt") || l.endsWith(".json")))
      run(Seq("tar", "-xf", sh.getAbsolutePath), extract)
    }
    // every extracted .txt must be byte-identical to the source text
    val docs = sampleDocs().collect()
    for (r <- docs) {
      val f = Paths.get(extract.toString, f"${r.getLong(0)}%016d.txt")
      assert(Files.exists(f), s"missing ${f.getFileName}")
      assert(new String(Files.readAllBytes(f), UTF_8) == r.getString(1),
        s"payload mismatch for doc ${r.getLong(0)}")
      val j = Paths.get(extract.toString, f"${r.getLong(0)}%016d.json")
      val meta = new String(Files.readAllBytes(j), UTF_8)
      assert(meta.contains(s""""lang":"${r.getString(2)}""""))
      assert(meta.contains(s""""n_chars":${r.getLong(4)}"""))
    }
  }

  test("our reader parses a GNU-tar-written archive") {
    val src = new File(s"$work/gnusrc"); src.mkdirs()
    Files.writeString(Paths.get(src.toString, "a.txt"), "alpha")
    Files.writeString(Paths.get(src.toString, "b.txt"), "beta " * 200)
    Files.write(Paths.get(src.toString, "c.bin"),
      Array.tabulate(700)(i => (i % 251).toByte))
    // default GNU format AND strict ustar both must parse
    for ((fmt, tarName) <- Seq(
        (Seq.empty[String], "gnu_default.tar"),
        (Seq("--format=ustar"), "gnu_ustar.tar"))) {
      run(Seq("tar") ++ fmt ++ Seq("-cf", s"$work/$tarName",
        "a.txt", "b.txt", "c.bin"), src)
      val in = new BufferedInputStream(
        new FileInputStream(s"$work/$tarName"))
      val members = try TarShards.readTar(in).toVector finally in.close()
      assert(members.map(m => s"${m.key}.${m.ext}").sorted ==
        Vector("a.txt", "b.txt", "c.bin"))
      assert(new String(members.find(_.key == "a").get.bytes, UTF_8)
        == "alpha")
      assert(members.find(_.key == "b").get.bytes.length == 1000)
      assert(members.find(_.key == "c").get.bytes.toSeq ==
        Array.tabulate(700)(i => (i % 251).toByte).toSeq)
    }
  }

  test("sparse doc_ids: every residue class gets a shard file, empty " +
       "ones as bare end-of-archive, and the byte accounting holds") {
    val s = spark
    import s.implicits._
    // ids 0 and 5 only → with 4 shards, residues 2/3 are EMPTY (the
    // latent divergence r9 ADVICE flagged: no file used to be written,
    // but the oracle charges end-of-archive bytes for all n shards)
    val docs = Seq(
      (0L, "alpha beta", "en", "s0", 10L),
      (5L, "gamma", "en", "s1", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = s"$work/sparse"
    val paths = TarShards.writeShards(docs, out, 4)
    assert(paths.size == 4, paths.mkString(", "))
    // empty shards are exactly the two zero blocks
    val sizes = paths.map(p => new File(p).length())
    assert(sizes.count(_ == 1024L) == 2, sizes.mkString(", "))
    // the populated ones still parse, and total bytes match the ustar
    // arithmetic the oracle replays (512-byte header + padded payload
    // per member + 1024 end-of-archive per shard, ALL shards counted)
    val members = TarShards.readShards(s, paths).collect()
    assert(members.count(_.getString(2) == "txt") == 2)
    val jsonLens = Seq(
      s"""{"doc_id":0,"lang":"en","source":"s0","n_chars":10}""",
      s"""{"doc_id":5,"lang":"en","source":"s1","n_chars":5}""").map(_.length)
    def padded(n: Long) = 512L + ((n + 511) / 512) * 512
    val want = padded(10) + padded(5) +
      jsonLens.map(l => padded(l)).sum + 4 * 1024L
    assert(sizes.sum == want, s"${sizes.sum} != $want")
  }

  test("sink is deterministic and readShards groups samples correctly") {
    val out1 = s"$work/det1"
    val out2 = s"$work/det2"
    TarShards.writeShards(sampleDocs().repartition(3), out1, 2)
    TarShards.writeShards(sampleDocs().repartition(5), out2, 2)
    for (n <- Seq("shard-00000.tar", "shard-00001.tar")) {
      val b1 = Files.readAllBytes(Paths.get(out1, n))
      val b2 = Files.readAllBytes(Paths.get(out2, n))
      assert(java.util.Arrays.equals(b1, b2),
        s"$n differs across input partitionings")
    }
    val back = TarShards.readShards(spark,
      new File(out1).listFiles().map(_.getAbsolutePath).sorted.toSeq)
    // 5 docs x 2 members, keys grouped pairwise, shard = doc_id % 2
    assert(back.count() == 10)
    val byKey = back.groupBy("key")
      .agg(count(lit(1)).as("n"), countDistinct("shard").as("sh"))
      .collect()
    assert(byKey.length == 5)
    assert(byKey.forall(r => r.getLong(1) == 2 && r.getLong(2) == 1))
    val shardOf = back.select(col("key").cast("long").as("id"), col("shard"))
      .distinct().collect()
    assert(shardOf.forall(r =>
      r.getString(1) == f"shard-${r.getLong(0) % 2}%05d.tar"))
  }
}
