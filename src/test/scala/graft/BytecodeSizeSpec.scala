package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

/** No compiled `graft` method may exceed HotSpot's 8,000-byte
  * `DontCompileHugeMethods` limit: the JIT never compiles such a method,
  * so every call to it runs in the interpreter (an 8,000-byte+ dispatch
  * method once made every mobility function ~9x slower per row). */
class BytecodeSizeSpec extends AnyFunSuite {

  private val HugeMethodLimit = 8000

  /** (method name + descriptor, code length) of every method with code. */
  private def codeLengths(bytes: Array[Byte]): Seq[(String, Int)] = {
    val cr = new ClassReader(bytes)
    val buf = new Array[Char](cr.getMaxStringLength)
    // class file layout after the constant pool (JVMS §4.1)
    var p = cr.header + 6
    p += 2 + 2 * cr.readUnsignedShort(p) // interfaces
    def skipMembers(): Unit = {
      val n = cr.readUnsignedShort(p); p += 2
      for (_ <- 0 until n) {
        val attrs = cr.readUnsignedShort(p + 6); p += 8
        for (_ <- 0 until attrs) p += 6 + cr.readInt(p + 2)
      }
    }
    skipMembers() // fields
    val methods = cr.readUnsignedShort(p); p += 2
    (0 until methods).flatMap { _ =>
      val name = cr.readUTF8(p + 2, buf) + cr.readUTF8(p + 4, buf)
      val attrs = cr.readUnsignedShort(p + 6); p += 8
      (0 until attrs).flatMap { _ =>
        val attr = cr.readUTF8(p, buf)
        val len = cr.readInt(p + 2)
        // Code: max_stack u2, max_locals u2, code_length u4
        val code = if (attr == "Code") Some(name -> cr.readInt(p + 10)) else None
        p += 6 + len
        code
      }
    }
  }

  test("no graft method exceeds the 8,000-byte JIT limit") {
    val root = Paths.get(classOf[graft.functions.MobCall]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes = Files.walk(root.resolve("graft")).iterator().asScala
      .filter(_.toString.endsWith(".class")).toSeq
    assert(classes.size > 100, s"only ${classes.size} classes under $root")
    val sized = for {
      f: Path <- classes
      (m, n) <- codeLengths(Files.readAllBytes(f))
    } yield (s"${root.relativize(f)} $m", n)
    val huge = sized.filter(_._2 > HugeMethodLimit).sortBy(-_._2)
    assert(huge.isEmpty, huge.map { case (m, n) => s"$m: $n bytes" }.mkString("; "))
  }
}
