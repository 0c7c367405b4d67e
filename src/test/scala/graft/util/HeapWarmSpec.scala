package graft.util

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Runs [[HeapWarm.pretouch]] alone in a JVM. */
object HeapWarmMain {
  def main(args: Array[String]): Unit = HeapWarm.pretouch()
}

/** [[HeapWarm.pretouch]] fills the heap until the allocation fails, so it
  * must let go of its chunks before anything else allocates: in a 3 GB
  * G1 heap each 1 MiB chunk takes two 1 MB regions, and the fill ends in
  * an OutOfMemoryError every time. */
class HeapWarmSpec extends AnyFunSuite {

  test("pretouch returns normally in a 3 GB heap") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
      "-cp", System.getProperty("java.class.path"),
      "graft.util.HeapWarmMain").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, out)
  }
}
