package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session recipe: every main and every suite gets its session from
  * [[GraftSession]], so no copy of the settings can drift from it. */
class SessionRecipeSpec extends AnyFunSuite {

  test("sessions are built only in GraftSession") {
    val needle = "SparkSession" + ".builder"
    def sources(root: String): Seq[Path] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    val sites = for {
      f <- sources("src/main") ++ sources("src/test")
      if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if code.contains(needle) && !code.startsWith("*") && !code.startsWith("//")
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(sites.sorted.mkString(s"${sites.size} builder sites:\n", "\n", ""))
  }
}
