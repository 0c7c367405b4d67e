package graft

import org.scalatest.funsuite.AnyFunSuite

/** One set-similarity join for the shingle-dedup family: jaccard,
  * containment and incremental near-dup share one prefix-filter
  * pipeline (`Dedup.Shingles`), and minhash-LSH its verify tail. In
  * `src/main` each stage of that pipeline is called from one site, in
  * Dedup.scala, so a fix to the join lands in every entry at once. */
class DedupPathSpec extends AnyFunSuite {

  /** Stage -> the code that calls it (`def name(` defines, not calls). */
  private val stages = Seq(
    "the rarest-first shingle ranking" -> """(?<!def )\brankedShingles\s*\(""".r,
    "the PPJoin+ pair-bound window" -> """count\(lit\(1\)\)\s*\.over\(byPair\)""".r,
    "the exact verify intersection" -> """(?<!def )\binterSorted\s*\(""".r)

  test("each stage of the shingle set-similarity join has one call site, in Dedup.scala") {
    val bad = stages.flatMap { case (stage, call) =>
      val sites = for {
        (f, n, code) <- SourceLines.code
        if call.findFirstIn(code).nonEmpty
      } yield (f.getFileName.toString, s"$f:$n: $code")
      if (sites.size == 1 && sites.head._1 == "Dedup.scala") Nil
      else Seq(sites.map(_._2).sorted.mkString(s"$stage: ${sites.size} call sites\n  ", "\n  ", ""))
    }
    if (bad.nonEmpty) fail(bad.mkString("\n"))
  }
}
