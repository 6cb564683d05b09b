package graft

import graft.cel.{Cel, Eval}
import graft.cel.Eval.{V, VErr, VList, VString}
import graft.values.JsonAlgebra
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

import java.nio.charset.StandardCharsets.UTF_8

/** The byte-native decoder against the text decoder it replaces on the
  * per-row paths. A document arrives as UTF-8 bytes; its reference is
  * the Jackson-tree decode of the text those bytes decode to
  * (`Eval.utf8Text`, which turns each ill-formed byte into one U+FFFD
  * as Go's json.Unmarshal does), and for a document that fails, the
  * text decoder's error. Every path must give exactly that: the `Cel(...)`
  * column, `Cel.evalOnce`, a json_* kernel and `decode_json` on bytes.
  *
  * The generated inputs include the bytes a plain swap to Jackson's
  * byte parser reads differently: a leading BOM (skipped, where the
  * text path fails), ill-formed UTF-8 (rejected or decoded leniently,
  * where the text path gives U+FFFD) and a leading NUL (read as
  * UTF-16). */
class DecoderParitySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val hardNumbers = Seq("2.2250738585072011e-308", "9007199254740993", "1e23",
    "5e-324", "1e400", "-1e400", "9223372036854775807", "9223372036854775808",
    "-9223372036854775809", "18446744073709551616", "0.1", "-0", "1E+2", "123456789.987654321e-5")

  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf(" ", "\\\"", "\\\\", "\\n", "\\u00e9", "\\ud800", "\\udc00x",
      "\\ud83d\\ude00", "/"),
    2 -> Gen.choose(0x80, 0xd7ff).map(c => new String(Character.toChars(c))),
    1 -> Gen.choose(0xe000, 0xfffd).map(c => new String(Character.toChars(c))),
    2 -> Gen.choose(0x10000, 0x10ffff).map(c => new String(Character.toChars(c)))))
    .map(_.take(8).mkString("\"", "", "\""))

  private def genDoc(depth: Int): Gen[String] = {
    val scalar = Gen.frequency(3 -> genText, 2 -> Gen.oneOf(hardNumbers),
      1 -> Gen.choose(-1000L, 1000L).map(_.toString), 1 -> Gen.oneOf("true", "false", "null"))
    if (depth <= 0) scalar
    else Gen.frequency(
      2 -> scalar,
      2 -> Gen.choose(0, 5).flatMap(Gen.listOfN(_, genDoc(depth - 1)))
        .map(_.mkString("[", ",", "]")),
      // repeated keys: Go's json.Unmarshal keeps the last value
      3 -> Gen.choose(0, 6).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.oneOf(genText, Gen.oneOf("\"a\"", "\"b\"", "\"\\u00e9\"")), genDoc(depth - 1))))
        .map(_.map { case (k, v) => s"$k:$v" }.mkString("{", " , ", "}")))
  }

  /** Byte sequences that decode to U+FFFD: a lone
    * continuation byte, overlong forms, an encoded surrogate, a code
    * point above U+10FFFF, a truncated sequence, bytes never used. */
  private val illFormed: Seq[Array[Int]] = Seq(Array(0x80), Array(0xc0, 0x80), Array(0xc1, 0xbf),
    Array(0xe0, 0x80, 0x80), Array(0xed, 0xa0, 0x80), Array(0xf0, 0x80, 0x80, 0x80),
    Array(0xf4, 0x90, 0x80, 0x80), Array(0xf5, 0x80, 0x80, 0x80), Array(0xe2, 0x82),
    Array(0xe2, 0x82, 0x41), Array(0xff), Array(0xfe))

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def text(b: Array[Byte]): String = Eval.utf8Text(b, 0, b.length)

  /** A document's bytes, often altered at the byte level. */
  private val genBytes: Gen[Array[Byte]] = genDoc(3).flatMap { d =>
    val b = bytes(d)
    Gen.frequency(
      6 -> Gen.const(b),
      1 -> Gen.const(Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ b), // BOM
      1 -> Gen.const(0.toByte +: b),                              // leading NUL
      1 -> Gen.oneOf("\"\u0000\"", "1\u0000", "[\u0000]").map(bytes),
      // ill-formed UTF-8 inside a string
      3 -> Gen.oneOf(illFormed).map(bad =>
        bytes("{\"k\":[\"a") ++ bad.map(_.toByte) ++ bytes("z\"],\"n\":1}")),
      1 -> Gen.choose(0, b.length).map(n => b.take(n)),           // truncated
      1 -> Gen.oneOf(" x", "1", "{}", "x", " \n", "\u00e9").map(t => b ++ bytes(t)))
  }

  private val pinned: Seq[Array[Byte]] = Seq(
    "[" * 300 + "1" + "]" * 300, "[" * 1100 + "]" * 1100, """{"a":1,"a":2}""", "1x", "",
    " ", "\"\\ud800\"", "{\"\\udc00\":\"\\ud83d\\ude00\"}").map(bytes) ++
    illFormed.map(bad => bytes("\"") ++ bad.map(_.toByte) ++ bytes("\"")) ++
    Seq(Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ bytes("{}"), Array[Byte](0, '1'))

  /** The parent's result: the tree decode of the decoded text, or the
    * text decoder's error. */
  private def reference(b: Array[Byte]): V = {
    val t = text(b)
    Eval.stateLeafV(t) match {
      case e: VErr => e
      case _ => Eval.fromJson(JsonAlgebra.parse(t))
    }
  }

  test("byte decode equals the tree reference on values and the text decoder's errors") {
    val docs = pinned ++ sample(genBytes, 400)
    // the generator reaches every class of input
    assert(docs.count(d => reference(d).isInstanceOf[VErr]) > 40)
    assert(docs.count(d => !reference(d).isInstanceOf[VErr]) > 200)
    for (d <- docs) {
      val ref = reference(d)
      val shown = d.map(b => f"${b & 0xff}%02x").mkString(" ")
      assert(Eval.stateLeafV(d, 0, d.length) == ref, s"bytes: $shown")
      // an offset view of a larger array, as a Spark row holds it
      val framed = bytes("xx") ++ d ++ bytes("yy")
      assert(Eval.parseV(framed, 2, d.length) == Eval.parseV(text(d)), s"framed: $shown")
      ref match {
        case e: VErr => assert(Eval.parseV(d, 0, d.length) == e)
        case _ =>
      }
    }

    val rendered = docs.map(d => Eval.renderV(reference(d)))
    // the Cel column and a json_* kernel read each row's bytes; a
    // binary-to-string cast keeps ill-formed bytes as they are
    val df = docs.toDF("b").select(col("b").cast("string").as("s"))
    val viaCel = df.select(Cel("state", col("s"))).as[String].collect().toSeq
    val viaKernel = df.select(graft.functions.json_normalize(col("s"))).as[String].collect().toSeq
    for (((d, want), i) <- docs.zip(rendered).zipWithIndex) {
      val shown = d.map(b => f"${b & 0xff}%02x").mkString(" ")
      assert(viaCel(i) == want, s"Cel column on $shown")
      assert(viaKernel(i) == want, s"json_normalize on $shown")
      assert(Cel.evalOnce("state", text(d)) == want, s"evalOnce on $shown")
      // decode_json on bytes: the program receives the document as bytes
      val b64 = java.util.Base64.getEncoder.encodeToString(d)
      assert(Cel.evalOnce("state.base64_decode().decode_json()", s""""$b64"""") == want,
        s"decode_json on bytes $shown")
    }
  }

  test("ill-formed UTF-8 decodes to one U+FFFD per byte that begins no sequence, as in Go") {
    def t(xs: Int*) = text(xs.map(_.toByte).toArray)
    assert(t(0xed, 0xa0, 0x80) == "\uFFFD\uFFFD\uFFFD")
    assert(t(0xe2, 0x82) == "\uFFFD\uFFFD")
    assert(t(0x61, 0xe2, 0x82, 0x41, 0xe2, 0x82, 0xac) == "a\uFFFD\uFFFDA\u20AC")
    assert(t(0xf0, 0x9f, 0x98, 0x80, 0xff) == "\uD83D\uDE00\uFFFD")
    // an offset view decodes only its own bytes
    assert(Eval.utf8Text(Array(0x80, 0x62, 0x80).map(_.toByte), 1, 1) == "b")
  }

  test("the inputs a plain byte-parser swap reads differently keep the text path's result") {
    def dec(b: Array[Byte]) = Eval.parseV(b, 0, b.length)
    val bom = Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ bytes("""{"a":1}""")
    assert(dec(bom).isInstanceOf[VErr], "a leading BOM is an error, as in Go")
    assert(dec(bom) == Eval.parseV(text(bom)))
    // ill-formed UTF-8 inside a string decodes as Go decodes it: one
    // U+FFFD per byte that does not begin a well-formed sequence
    assert(dec(bytes("\"a") ++ Array(0xc0, 0x80).map(_.toByte) ++ bytes("b\"")) ==
      VString("a\uFFFD\uFFFDb"))
    assert(dec(bytes("[\"") ++ Array(0xed, 0xa0, 0x80).map(_.toByte) ++ bytes("\"]")) ==
      VList(Vector(VString("\uFFFD\uFFFD\uFFFD"))))
    val nul = Array[Byte](0, '1')
    assert(dec(nul) == Eval.parseV(text(nul)))
    // NDJSON lines read as bytes, ill-formed bytes at a line's end included
    val nd = bytes("{\"a\":\"") ++ Array(0xe2, 0x82).map(_.toByte) ++ bytes("\"}\n\n[1]\n")
    assert(Cel.evalOnce("state.base64_decode().mime('application/x-ndjson')",
      "\"" + java.util.Base64.getEncoder.encodeToString(nd) + "\"") ==
      """[{"a":"\uFFFD\uFFFD"},[1]]""")
  }
}
