package graft

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** HotSpot never JIT-compiles a method whose bytecode is 8,000 bytes or
  * more (`-XX:HugeMethodLimit`, enforced while `DontCompileHugeMethods`
  * is on, the default): such a method runs in the bytecode interpreter
  * for the life of the JVM, however hot it is. A per-row dispatcher
  * that grows past the limit silently costs every call through it, so
  * this spec reads the code length of every method of every compiled
  * `graft` class and fails on any at or over the limit. */
class BytecodeSizeSpec extends AnyFunSuite {
  private val HugeMethodLimit = 8000

  /** (method, code length in bytes) for every method with code. The
    * class-file walk: header, interfaces, fields, then each method's
    * attributes, where `Code` holds u2 max_stack, u2 max_locals and u4
    * code_length. */
  private def codeLengths(bytes: Array[Byte]): Seq[(String, Int)] = {
    val r = new ClassReader(bytes)
    val buf = new Array[Char](r.getMaxStringLength)
    var p = r.header + 6 // access_flags, this_class, super_class
    p += 2 + 2 * r.readUnsignedShort(p) // interfaces
    def attributes(at: Int)(f: (String, Int) => Unit): Int = {
      var q = at + 2
      for (_ <- 0 until r.readUnsignedShort(at)) {
        f(r.readUTF8(q, buf), q + 6)
        q += 6 + r.readInt(q + 2)
      }
      q
    }
    // a field or method: access_flags, name, descriptor, attributes
    val fields = r.readUnsignedShort(p)
    p += 2
    for (_ <- 0 until fields) p = attributes(p + 6)((_, _) => ())
    val out = Seq.newBuilder[(String, Int)]
    val methods = r.readUnsignedShort(p)
    p += 2
    for (_ <- 0 until methods) {
      val name = r.readUTF8(p + 2, buf)
      p = attributes(p + 6) { (attr, body) =>
        if (attr == "Code") out += name -> r.readInt(body + 4)
      }
    }
    out.result()
  }

  private val classesRoot: Path =
    Paths.get(classOf[graft.cel.Ast].getProtectionDomain.getCodeSource.getLocation.toURI)

  test("no compiled graft method reaches HotSpot's 8,000-byte HugeMethodLimit") {
    val classes = Files.walk(classesRoot.resolve("graft")).iterator().asScala
      .filter(_.toString.endsWith(".class")).toSeq
    assert(classes.length > 100, s"found only ${classes.length} classes under $classesRoot")
    val sizes = classes.flatMap { f =>
      val cls = classesRoot.relativize(f).toString.stripSuffix(".class").replace('/', '.')
      codeLengths(Files.readAllBytes(f)).map { case (m, n) => (s"$cls.$m", n) }
    }
    // the walk reads real code lengths: some methods are a few KB
    assert(sizes.map(_._2).max > 1000, "code lengths look wrong")
    val huge = sizes.filter(_._2 >= HugeMethodLimit).sortBy(-_._2)
    assert(huge.isEmpty, "methods HotSpot will never compile: " +
      huge.map { case (m, n) => s"$m ($n bytes)" }.mkString(", "))
  }
}
