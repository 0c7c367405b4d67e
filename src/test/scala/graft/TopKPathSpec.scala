package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One path per retrieval leg and one top-k buffer: in `src/main` a
  * top-k buffer is inserted into only in TopKAggExpr.scala (the
  * aggregate's `update` and the fused kernels' shared `Buffers`), and
  * the single-query legs, equivalence twins and aliases the batch legs
  * replaced stay gone (the twins live in BatchLegTwinSpec). */
class TopKPathSpec extends AnyFunSuite {

  /** (file, line number, trimmed line) of every code line in `src/main`
    * — comment lines are skipped, so a scaladoc may still name them. */
  private def codeLines: Seq[(Path, Int, String)] = {
    val dir = Paths.get("src/main")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    for {
      f <- Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
    } yield (f, i + 1, code)
  }

  private def failWith(sites: Seq[String], what: String): Unit =
    if (sites.nonEmpty) fail(sites.sorted.mkString(s"${sites.size} $what:\n", "\n", ""))

  test("top-k buffers are inserted into only in TopKAggExpr.scala") {
    val insert = """TopKOrderedAgg\s*\.\s*(insert\b|_|\{[^}]*\binsert\b)""".r
    val sites = for {
      (f, n, code) <- codeLines
      if f.getFileName.toString != "TopKAggExpr.scala"
      if insert.findFirstIn(code).nonEmpty
    } yield s"$f:$n: $code"
    failWith(sites, "TopKOrderedAgg.insert sites outside TopKAggExpr.scala")
  }

  test("no retired retrieval leg, twin or alias is defined in src/main") {
    val retired = Seq("ivfVectorLeg", "ivfVectorLegBatch", "bm25ScoreBatch",
      "postingScores", "topKPerQuery")
    val defined = ("""\bdef\s+(""" + retired.mkString("|") + """)\b""").r
    val aggregator = """\bclass\s+TopKOrdered\b""".r
    val sites = for {
      (f, n, code) <- codeLines
      if defined.findFirstIn(code).nonEmpty || aggregator.findFirstIn(code).nonEmpty
    } yield s"$f:$n: $code"
    failWith(sites, "retired definitions")
  }
}
