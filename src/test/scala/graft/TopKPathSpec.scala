package graft

import org.scalatest.funsuite.AnyFunSuite

/** One path per retrieval leg and one top-k buffer: in `src/main` a
  * top-k buffer is inserted into only in TopKAggExpr.scala (the
  * aggregate's `update` and the fused kernels' shared `Buffers`), and
  * the single-query legs, equivalence twins and aliases the batch legs
  * replaced stay gone (the twins live in BatchLegTwinSpec). */
class TopKPathSpec extends AnyFunSuite {

  import SourceLines.failWith

  test("top-k buffers are inserted into only in TopKAggExpr.scala") {
    val insert = """TopKOrderedAgg\s*\.\s*(insert\b|_|\{[^}]*\binsert\b)""".r
    val sites = for {
      (f, n, code) <- SourceLines.code
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
      (f, n, code) <- SourceLines.code
      if defined.findFirstIn(code).nonEmpty || aggregator.findFirstIn(code).nonEmpty
    } yield s"$f:$n: $code"
    failWith(sites, "retired definitions")
  }
}
