package graft

import graft.cel.Collections
import graft.cel.Eval.{parseV, renderV, V, VErr, VList, VMap, VString}
import graft.values.JsonAlgebra._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the dynamic-value algebra: the collections library
  * over CEL values (graft.cel.Collections — the semantics kernel under
  * the json_* and v_* Column functions and both CEL tiers) and the Go
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
}
