package graft

import graft.cel.Collections
import graft.cel.Eval.{parseV, renderV, V, VErr, VList, VMap, VNull, VString}
import graft.values.JsonAlgebra._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the dynamic-value algebra: the collections library
  * over CEL values (graft.cel.Collections — the semantics kernel under
  * the json_* and v_* Column functions and CEL programs) and the Go
  * float/key-order/render forms of the JSON codec (JsonAlgebra). */
class JsonAlgebraPropSpec extends AnyFunSuite {

  /** Sampling-based property check (scalatest+scalacheck bridge not in
    * deps, so drive ScalaCheck generators directly). */
  private def check[T](gen: Gen[T], n: Int = 200)(f: T => Unit): Unit =
    Iterator.continually(gen.sample).flatten.take(n).foreach(f)
  private def check2[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    Iterator.continually(for (a <- g1.sample; b <- g2.sample) yield (a, b))
      .flatten.take(200).foreach { case (a, b) => f(a, b) }

  private val genScalar: Gen[String] = Gen.oneOf(
    Gen.choose(-1000L, 1000L).map(_.toString),
    Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\""),
    Gen.oneOf("true", "false", "null"),
    Gen.choose(-100.0, 100.0).map(d => f"$d%.3f"),
    // whole doubles in source form: all tiers must collapse to the int
    // form (Go json.Marshal float64 behavior)
    Gen.choose(-100L, 100L).map(i => s"$i.000"))

  private def genJson(depth: Int): Gen[String] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      3 -> genScalar,
      2 -> Gen.listOfN(3, genJson(depth - 1)).map(_.mkString("[", ",", "]")),
      2 -> (for {
        keys <- Gen.listOfN(3, Gen.identifier.map(_.take(5)))
        vals <- Gen.listOfN(3, genJson(depth - 1))
      } yield keys.distinct.zip(vals).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")))

  private def children(v: V): Seq[V] = v match {
    case VList(xs) => xs
    case VMap(m) => m.values.toSeq
    case _ => Nil
  }

  private def hasEmptyContainer(v: V): Boolean = v match {
    case VList(xs) if xs.isEmpty => true
    case VMap(m) if m.isEmpty => true
    case _ => children(v).exists(hasEmptyContainer)
  }

  test("goFloat matches Go encoding/json float forms") {
    // plain decimal for 1e-6 <= |d| < 1e21; e-notation outside, with
    // lowercase e, explicit +, no zero-padded exponent (limit_okta.txt
    // pins 6.483528991463317e-8)
    assert(goFloat(6.483528991463317e-8) == "6.483528991463317e-8")
    assert(goFloat(0.1) == "0.1")
    assert(goFloat(1.5e-4) == "0.00015")
    assert(goFloat(1.234e20) == "123400000000000000000")
    assert(goFloat(1.5e21) == "1.5e+21")
    assert(goFloat(-2.5e-9) == "-2.5e-9")
    // single-significant-digit plain decimals must not keep BigDecimal's
    // trailing zero ("1.0E-4" -> "0.0001", not "0.00010")
    assert(goFloat(1e-4) == "0.0001")
    assert(goFloat(2e-5) == "0.00002")
    // shortest round-trip digits, which JDK 17's Double.toString misses
    // (JDK-4511638): Go prints these as below
    assert(goFloat(2e23) == "2e+23")
    assert(goFloat(1e23) == "1e+23")
    assert(goFloat(8.41e21) == "8.41e+21")
    assert(goFloat(282879384806159000.0) == "282879384806159000")
    // non-finite doubles keep the quoted (parseable) form
    assert(goFloat(Double.PositiveInfinity) == "\"Infinity\"")
    assert(goFloat(Double.NaN) == "\"NaN\"")
    // round-trip: the form parses back to the same double
    check(Gen.oneOf(Gen.chooseNum(-1e25, 1e25), Gen.chooseNum(-1.0, 1.0),
      Gen.chooseNum(-1e-6, 1e-6))) { d =>
      if (!wholeDouble(d)) assert(goFloat(d).toDouble == d, s"roundtrip $d")
    }
  }

  test("key sort is Go byte order (code points), not UTF-16 unit order") {
    // U+E000 (private use, one UTF-16 unit 0xE000) vs U+1D11E (musical
    // G clef, surrogates starting 0xD834): UTF-16 ranks E000 AFTER the
    // surrogate pair, Go/UTF-8 ranks it BEFORE
    val pua = ""
    val clef = new String(Character.toChars(0x1D11E))
    assert(goOrder.compare(pua, clef) < 0, "code-point order")
    assert(pua.compareTo(clef) > 0, "the UTF-16 order this replaces")
    val doc = s"""{"$clef": 1, "$pua": 2}"""
    assert(render(parse(doc)) == s"""{"$pua":2,"$clef":1}""")
    assert(graft.cel.Cel.evalOnce(s"state.keys()", doc) == s"""["$pua","$clef"]""")
  }

  test("render . parse is a normal form (idempotent)") {
    check(genJson(3)) { doc =>
      val once = render(parse(doc))
      assert(render(parse(once)) == once)
    }
  }

  test("dropEmpty leaves no empty containers below the root") {
    check(genJson(3)) { doc =>
      children(Collections.dropEmpty(parseV(doc))).foreach(c => assert(!hasEmptyContainer(c)))
    }
  }

  test("dropEmpty is idempotent") {
    check(genJson(3)) { doc =>
      val once = Collections.dropEmpty(parseV(doc))
      assert(Collections.dropEmpty(once) == once)
    }
  }

  test("flattenDeep yields no all-list prefix violations (fixpoint under itself)") {
    check(genJson(3).suchThat(_.trim.startsWith("["))) { doc =>
      val once = Collections.flatten(parseV(doc))
      if (!once.isInstanceOf[VErr]) assert(Collections.flatten(once) == once)
    }
  }

  test("merge algebra: withAll keys = union; withUpdate keeps dst; withReplace keeps dst keyset") {
    val genObj = genJson(2).suchThat(_.trim.startsWith("{"))
    check2(genObj, genObj) { (a, b) =>
      val (na, nb) = (parseV(a).asInstanceOf[VMap], parseV(b).asInstanceOf[VMap])
      val all = Collections.withAll(na, nb).asInstanceOf[VMap]
      val upd = Collections.withUpdate(na, nb).asInstanceOf[VMap]
      val rep = Collections.withReplace(na, nb).asInstanceOf[VMap]
      def keys(m: VMap): Set[String] = m.v.keySet
      assert(keys(all) == keys(na) ++ keys(nb))
      assert(keys(upd) == keys(na) ++ keys(nb))
      assert(keys(rep) == keys(na))
      // withUpdate never changes existing values
      keys(na).foreach(k => assert(upd.v(k) == na.v(k)))
      // withAll takes src values for src keys
      keys(nb).foreach(k => assert(all.v(k) == nb.v(k)))
      // withReplace takes src values for shared keys, dst values otherwise
      keys(na).foreach(k => assert(rep.v(k) == nb.v.getOrElse(k, na.v(k))))
    }
  }

  test("keysSorted is sorted and valuesSorted aligns with it") {
    check(genJson(2).suchThat(_.trim.startsWith("{"))) { doc =>
      val m = parseV(doc).asInstanceOf[VMap]
      val VList(ks) = Collections.keys(m)
      val VList(vs) = Collections.values(m)
      val list = ks.map { case VString(k) => k; case k => fail(s"non-string key $k") }
      assert(list == list.sorted(goOrder))
      assert(vs == list.map(m.v))
    }
  }

  test("pathSepIndex finds first unescaped dot") {
    assert(Collections.pathSepIndex("a.b") == (1, false))
    assert(Collections.pathSepIndex("""a\.b.c""") == (4, true))
    assert(Collections.pathSepIndex("abc") == (-1, false))
    assert(Collections.pathSepIndex(""".x""") == (0, false))
  }

  test("collate on scalar with empty path returns the scalar") {
    assert(renderV(Collections.collate(parseV("5"), Seq(""))) == "[5]")
  }

  // --- streaming codec equivalence: the V tier's direct parse/render
  // --- must agree with the Jackson-tree reference path on ANY doc -----

  test("parseV == fromJson(parse) on arbitrary JSON") {
    check(genJson(3)) { doc =>
      assert(graft.cel.Eval.parseV(doc) == graft.cel.Eval.fromJson(parse(doc)),
        s"parseV diverged on $doc")
    }
  }

  test("renderV == render(toJson) on arbitrary parsed values") {
    check(genJson(3)) { doc =>
      val v = graft.cel.Eval.parseV(doc)
      assert(graft.cel.Eval.renderV(v) == render(graft.cel.Eval.toJson(v)),
        s"renderV diverged on $doc")
    }
  }

  test("streaming render . parse is the same normal form as the tree path") {
    check(genJson(3)) { doc =>
      val direct = graft.cel.Eval.renderV(graft.cel.Eval.parseV(doc))
      assert(direct == render(parse(doc)), s"normal forms diverged on $doc")
    }
  }

  // --- the CEL map core: entries in Go key order (Eval.VMap) ---------

  private val E = graft.cel.Eval

  test("duplicate JSON keys: the last one wins") {
    val doc = """{"b":1,"a":2,"b":3}"""
    assert(renderV(parseV(doc)) == """{"a":2,"b":3}""")
    assert(renderV(E.fromJson(parse(doc))) == """{"a":2,"b":3}""")
    assert(graft.cel.Cel.evalOnce("state.b", doc) == "3")
    assert(graft.cel.Cel.evalOnce("state.keys()", doc) == """["a","b"]""")
  }

  /** Text mixing ASCII, other BMP text, U+E000..U+FFFF, supplementary
    * characters and lone surrogates: the cases where UTF-16 unit order
    * and code-point order part. */
  private val genText: Gen[String] = {
    val cp: Gen[Int] = Gen.frequency(
      4 -> Gen.choose(0x20, 0x7e),
      2 -> Gen.choose(0x80, 0xd7ff),
      3 -> Gen.choose(0xe000, 0xffff),
      3 -> Gen.choose(0x10000, 0x10ffff),
      1 -> Gen.choose(0xd800, 0xdfff))
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, cp))
      .map(cps => cps.map(c => new String(Character.toChars(c))).mkString)
  }

  test("goOrder equals code-point order on random strings") {
    def ref(a: String, b: String): Int =
      java.util.Arrays.compare(a.codePoints().toArray, b.codePoints().toArray)
    // a shared prefix makes the first difference land past index 0
    check2(genText, genText) { (a, b) =>
      for ((x, y) <- Seq((a, b), (a + b, a + a), (b + a, b)))
        assert(goOrder.compare(x, y).sign == ref(x, y).sign, s"'$x' vs '$y'")
    }
    val pua = "\uE000"
    val clef = new String(Character.toChars(0x1D11E))
    assert(goOrder.compare(pua, clef) < 0 && goOrder.compare(clef, pua) > 0)
    assert(goOrder.compare("a" + pua, "a" + clef) < 0)
  }

  test("the int-key tag survives with, drop, drop_empty and keys()") {
    def run(p: String) = graft.cel.Cel.evalOnce(p, "null")
    // numeric key order (1, 2, 10), not string order ("1", "10", "2")
    assert(run("{10: 'x', 2: 'b', 1: 'a'}.keys()") == "[1,2,10]")
    assert(run("{10: 'x', 1: 'a'}.with({2: 'b'}).keys()") == "[1,2,10]")
    assert(run("{10: 'x', 2: 'b', 1: 'a'}.drop('2').keys()") == "[1,10]")
    assert(run("{10: 'x', 2: [], 1: 'a'}.drop_empty().keys()") == "[1,10]")
    assert(run("{10: 'x', 1: 'a'}.with({2: 'b'}) == {1: 'a', 2: 'b', 10: 'x'}") == "true")
    assert(run("{10: 'x', 1: 'a'}.with({2: 'b'}) == {'1': 'a', '2': 'b', '10': 'x'}") == "false")
    assert(run("{10: 'x', 2: 'b', 1: 'a'}.values()") == """["a","b","x"]""")
  }

  test("map equality does not depend on construction order") {
    val entries = (0 until 12).map(i => s"k$i" -> (graft.cel.Eval.VInt(i.toLong): V))
    check(Gen.const(entries).map(scala.util.Random.shuffle(_))) { shuffled =>
      val a = VMap.from(entries)
      val b = VMap.from(shuffled)
      assert(a == b && a.hashCode == b.hashCode && E.equalsV(a, b))
      assert(renderV(a) == renderV(b))
    }
    assert(parseV("""{"b":1,"a":{"y":2,"x":3}}""") == parseV("""{"a":{"x":3,"y":2},"b":1}"""))
    assert(graft.cel.Cel.evalOnce("{'b': 1, 'a': 2} == {'a': 2, 'b': 1}", "null") == "true")
  }

  test("a nested VMap survives a Java-serialization round trip") {
    val clef = new String(Character.toChars(0x1D11E))
    val inner = VMap(VMap.noEntries ++ Seq("2" -> (VString("b"): V), "1" -> VString("a")),
      Set("1", "2"))
    val doc = VMap.of("z" -> VList(Vector(inner, VString(clef))), clef -> inner,
      "\uE000" -> VString("pua"))
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(doc)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[VMap]
    assert(back == doc && renderV(back) == renderV(doc))
    back.v(clef) match {
      case m: VMap => assert(m.intKeys == Set("1", "2"), "nested int-key tag")
      case other => fail(s"nested map came back as $other")
    }
    // the entries keep Go key order after the trip: U+E000 sorts below
    // a supplementary character, as it does before
    assert(back.v.updated("\uF000", VNull).keys.toSeq ==
      Seq("z", "\uE000", "\uF000", clef))
  }

  test("a 20k-key object parses, renders and merges in linear-ish time") {
    def doc(n: Int) = (0 until n).map(i => s""""k${(i * 7919) % n}":$i""")
      .mkString("{", ",", "}")
    def bestNanos(n: Int): Long = {
      val text = doc(n)
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val v = parseV(text)
        renderV(Collections.withAll(v, parseV(text)))
        System.nanoTime() - t0
      }.min
    }
    bestNanos(5000) // warm up
    val small = bestNanos(5000)
    val big = bestNanos(20000)
    val v = parseV(doc(20000))
    assert(v.asInstanceOf[VMap].v.size == 20000)
    // 4x the keys: about 4-5x the time for n log n, 16x for a quadratic path
    assert(big < 10 * small, s"20k keys took ${big / 1e6} ms, 5k keys ${small / 1e6} ms")
  }

  test("the UTF-8 render equals the tree render's bytes on escapes, non-BMP text and floats") {
    val genStr: Gen[String] = Gen.frequency(
      3 -> genText,
      2 -> Gen.listOfN(4, Gen.oneOf("\"", "\\", "\n", "\t", "\u0001", "\u001f",
        "\u007f", "\u2028", "/", "<", "\u00e9", "x")).map(_.mkString))
    def quote(s: String) = render(com.fasterxml.jackson.databind.node.TextNode.valueOf(s))
    val genNum: Gen[String] = Gen.oneOf(
      Gen.oneOf(2e23, 1e23, 8.41e21, 0.1, 6.483528991463317e-8, -2.5e-9, 1.5e300),
      Gen.chooseNum(-1e25, 1e25), Gen.chooseNum(-1.0, 1.0)).map(_.toString)
    def genDoc(depth: Int): Gen[String] =
      if (depth <= 0) Gen.oneOf(genStr.map(quote), genNum, genScalar)
      else Gen.frequency(
        2 -> Gen.oneOf(genStr.map(quote), genNum),
        1 -> Gen.listOfN(3, genDoc(depth - 1)).map(_.mkString("[", ",", "]")),
        2 -> (for {
          keys <- Gen.listOfN(3, genStr)
          vals <- Gen.listOfN(3, genDoc(depth - 1))
        } yield keys.zip(vals).map { case (k, x) => quote(k) + ":" + x }
          .mkString("{", ",", "}")))
    // Go's encoding/json decodes a lone surrogate escape to U+FFFD
    val goUtf8 = java.nio.charset.StandardCharsets.UTF_8.newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .replaceWith("\uFFFD".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def encode(s: String): Array[Byte] = {
      val buf = goUtf8.encode(java.nio.CharBuffer.wrap(s))
      java.util.Arrays.copyOfRange(buf.array, buf.position, buf.limit)
    }
    check(genDoc(3), n = 300) { doc =>
      val v = parseV(doc)
      val bytes = E.renderUtf8(v)
      val tree = encode(render(E.toJson(v)))
      assert(java.util.Arrays.equals(bytes, tree), s"bytes diverged on $doc")
      assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) == renderV(v))
    }
  }

  test("no product source but the JSON codec and the evaluator uses Jackson trees") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    val allowed = Set("scala/graft/values/JsonAlgebra.scala", "scala/graft/cel/Eval.scala")
    val treeUsers = files.filter { f =>
      new String(java.nio.file.Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
        .contains("jackson.databind")
    }.map(root.relativize(_).toString.replace('\\', '/'))
      .filterNot(allowed)
    assert(files.length > 50, s"scanned only ${files.length} files under $root")
    assert(treeUsers.isEmpty, s"Jackson trees used outside the codec: ${treeUsers.mkString(", ")}")
  }
}
