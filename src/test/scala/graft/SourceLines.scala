package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions.fail

/** The source view of the path-guard specs (TopKPathSpec, DedupPathSpec). */
object SourceLines {

  /** (file, line number, trimmed line) of every code line in `src/main`
    * — comment lines are skipped, so a scaladoc may still name a
    * guarded call. */
  def code: Seq[(Path, Int, String)] = {
    val dir = Paths.get("src/main")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    for {
      f <- Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
    } yield (f, i + 1, code)
  }

  /** Fails listing `sites` (sorted, counted) when there are any. */
  def failWith(sites: Seq[String], what: String): Unit =
    if (sites.nonEmpty) fail(sites.sorted.mkString(s"${sites.size} $what:\n", "\n", ""))
}
