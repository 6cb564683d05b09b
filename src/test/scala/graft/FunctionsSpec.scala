package graft

import graft.cel.{Eval, Parser}
import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.charset.StandardCharsets

class FunctionsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** Evaluate a Column built over a single-row string input — goes through
    * the real plan (projection over a Dataset), i.e. codegen when possible. */
  private def evalOn(input: String, f: Column => Column): Any = {
    val r = Seq(input).toDF("v").select(f(col("v")).as("r")).head()
    r.get(0)
  }
  private def evalStr(input: String, f: Column => Column): String =
    evalOn(input, f).asInstanceOf[String]

  // --- collections: collate (reference testdata/collate_a.txt shape) ---
  val doc = """{"a":[{"b":1},{"b":2},{"b":3}],"b":[{"b":-1,"c":10},{"b":-2,"c":20},{"b":-3,"c":30}]}"""

  test("json_collate extracts path through lists") {
    assert(evalStr(doc, json_collate(_, "a.b")) == "[1,2,3]")
    assert(evalStr(doc, json_collate(_, "b.b")) == "[-1,-2,-3]")
    assert(evalStr(doc, json_collate(_, "b.c")) == "[10,20,30]")
  }

  test("json_collate flattens one level at list leaf") {
    assert(evalStr("""{"a":{"b":[1,2,[3]]}}""", json_collate(_, "a.b")) == "[1,2,[3]]")
  }

  test("json_collate multi-path concatenates") {
    assert(evalStr(doc, json_collate_all(_, Seq("a.b", "b.b"))) == "[1,2,3,-1,-2,-3]")
  }

  test("json_collate escaped dot path") {
    assert(evalStr("""{"a.b":[{"c":7}]}""", json_collate(_, """a\.b.c""")) == "[7]")
  }

  test("json_collate invalid path is an in-band error") {
    val out = evalStr(doc, json_collate(_, ".bad"))
    assert(evalOn(out, is_error) == true)
    assert(evalOn(doc, c => is_error(json_collate(c, "a.b"))) == false)
  }

  // --- drop / drop_empty ---
  test("json_drop removes nested field through lists") {
    assert(evalStr(doc, json_drop(_, "a.b")) ==
      """{"a":[{},{},{}],"b":[{"b":-1,"c":10},{"b":-2,"c":20},{"b":-3,"c":30}]}""")
    assert(evalStr(doc, json_drop(_, "b.c")) ==
      """{"a":[{"b":1},{"b":2},{"b":3}],"b":[{"b":-1},{"b":-2},{"b":-3}]}""")
  }

  test("json_drop_empty removes empty containers recursively, keeps empty strings") {
    assert(evalStr("""{"a":[],"b":{},"c":[{}],"d":"","e":1,"f":[[],[{}]]}""", json_drop_empty) ==
      """{"d":"","e":1}""")
  }

  // --- flatten (deep) ---
  test("json_flatten_deep flattens nested lists depth-first") {
    assert(evalStr("[[1],[2,3],[[[4]],[5,6]]]", json_flatten_deep) == "[1,2,3,4,5,6]")
    // a list with a non-list element contributes elements as-is
    assert(evalStr("""[[{"a":[1]}],[2]]""", json_flatten_deep) == """[{"a":[1]},2]""")
    assert(evalStr("[1,[2]]", json_flatten_deep) == "[1,[2]]")
  }

  // --- with merges ---
  test("with/with_update/with_replace merge semantics") {
    val d = """{"a":1,"b":2}"""
    val s = """{"b":20,"c":30}"""
    assert(evalStr(d, c => json_with(c, lit(s))) == """{"a":1,"b":20,"c":30}""")
    assert(evalStr(d, c => json_with_update(c, lit(s))) == """{"a":1,"b":2,"c":30}""")
    assert(evalStr(d, c => json_with_replace(c, lit(s))) == """{"a":1,"b":20}""")
  }

  // --- keys/values/zip/min/max ---
  test("keys and values are key-sorted") {
    val m = """{"b":2,"a":1,"c":3}"""
    assert(evalStr(m, json_keys) == """["a","b","c"]""")
    assert(evalStr(m, json_values) == "[1,2,3]")
  }

  test("zip builds map, errors on size mismatch") {
    assert(evalStr("""["x","y"]""", c => json_zip(c, lit("[1,2]"))) == """{"x":1,"y":2}""")
    assert(evalOn("""["x","y"]""", c => is_error(json_zip(c, lit("[1]")))) == true)
  }

  test("min/max over comparable lists") {
    assert(evalStr("[3,1,2]", json_min) == "1")
    assert(evalStr("[3,1,2]", json_max) == "3")
    assert(evalStr("""["b","a"]""", json_min) == "\"a\"")
    assert(evalOn("""[1,"a"]""", c => is_error(json_max(c))) == true)
  }

  // --- one core: json_* behave like the one-op CEL program ---
  test("json_* error texts are the CEL collections texts") {
    assert(evalStr("[1]", json_keys) == """{"__error__":"no such overload: keys"}""")
    assert(evalStr("[1]", json_values) == """{"__error__":"no such overload: values"}""")
    assert(evalStr("1", c => json_zip(c, lit("[1]"))) == """{"__error__":"no such overload: zip"}""")
    assert(evalStr("1", json_flatten_deep) == """{"__error__":"no such overload"}""")
    assert(evalStr("[1]", c => json_with(c, lit("{}"))) == """{"__error__":"no such overload"}""")
    assert(evalStr("{}", c => json_with(c, lit("[1]"))) == """{"__error__":"unsupported src type"}""")
  }

  test("json_* integers beyond 64 bits wrap like the CEL parse") {
    // Go-like int64 wraparound (Eval.parseV): 2^64 + 1 -> 1
    assert(evalStr("""{"n":18446744073709551617}""", json_normalize) == """{"n":1}""")
    assert(evalStr("""{"n":18446744073709551617}""", json_normalize) ==
      graft.cel.Cel.evalOnce("state", """{"n":18446744073709551617}"""))
  }

  test("an in-band error document passed to json_* propagates unchanged") {
    val err = """{"__error__":"boom"}"""
    assert(evalStr(err, c => json_with(c, lit("""{"a":1}"""))) == err)
    assert(evalStr("""{"a":1}""", c => json_with(c, lit(err))) == err)
    assert(evalStr(err, json_drop_empty) == err)
    assert(evalStr(err, json_keys) == err)
    // unparseable text is an error value too, and also propagates
    val bad = evalStr("not json", c => json_with(c, lit("""{"a":1}""")))
    assert(evalOn(bad, is_error) == true)
    assert(evalStr(bad, c => try_(c)).startsWith("\"failed to parse JSON: "))
  }

  // --- json stream / normalize / try ---
  test("decode_json_stream splits concatenated values") {
    assert(evalStr("""{"a":1}{"b":2} 3 "x"""", decode_json_stream) == """[{"a":1},{"b":2},3,"x"]""")
  }

  test("a document is the whole input: trailing content is an in-band error") {
    for ((in, c) <- Seq("""{"a":1} x""" -> "x", """{"a":1}{"b":2}""" -> "{", "[1] ]" -> "]")) {
      assert(evalOn(evalStr(in, json_normalize), is_error) == true, in)
      assert(evalStr(in, c => try_(c)) ==
        s""""failed to parse JSON: invalid character '$c' after top-level value"""")
    }
    assert(evalStr(" {\"a\":1} \n\t", json_normalize) == """{"a":1}""")
  }

  // --- every Column decoder equals its CEL twin ---
  private val genLeaf: Gen[String] = Gen.oneOf(
    Gen.choose(-1000L, 1000L).map(_.toString),
    Gen.oneOf("18446744073709551617", "-9223372036854775809", "9223372036854775807",
      "123456789012345678901234567890"),
    Gen.oneOf("1.5", "1.0", "-0.0", "2e23", "6.483528991463317e-8", "1E3", "0.1"),
    Gen.oneOf("\"a\\\"b\"", "\"\\u00e9\\ud83d\\ude00\"", "\"t\\tn\\n\"", "\"x\\ud800y\"",
      "\"\u00e9\ud83d\ude00\"", "\"\""),
    Gen.oneOf("true", "false", "null"))

  private def genDoc(depth: Int): Gen[String] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      2 -> genLeaf,
      1 -> Gen.listOfN(2, genDoc(depth - 1)).map(_.mkString("[", ",", "]")),
      2 -> Gen.listOfN(2, genDoc(depth - 1)).map(_.zipWithIndex
        .map { case (v, i) => s""""k$i":$v""" }.mkString("{", ",", "}")))

  /** One document as it may arrive: whole, followed by more tokens, or
    * cut short. */
  private val genLine: Gen[String] = for {
    d <- genDoc(2)
    form <- Gen.choose(0, 5)
  } yield form match {
    case 0 => d + " x"
    case 1 => d + d
    case 2 => d.dropRight(1)
    case _ => d
  }

  private val xsd =
    """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      |  <xs:element name="r"><xs:complexType><xs:sequence>
      |    <xs:element name="n" type="xs:int"/>
      |    <xs:element name="f" type="xs:double" maxOccurs="unbounded"/>
      |    <xs:element name="b" type="xs:boolean"/>
      |    <xs:element name="s" type="xs:string"/>
      |  </xs:sequence></xs:complexType></xs:element>
      |</xs:schema>""".stripMargin

  private val genXml: Gen[String] = {
    val text = Gen.oneOf("1", "1.0", "1.5", "-0", "2e23", "99999999999999999999", "x",
      "TRUE", "FALSE", "&lt;&amp;&quot;", "\u00e9\ud83d\ude00", "")
    for {
      n <- text; f1 <- text; f2 <- text; b <- text; s <- text
      cut <- Gen.oneOf(false, false, false, true)
    } yield {
      val doc = s"""<r a="$s"><n>$n</n><f>$f1</f><f>$f2</f><b>$b</b><s>$s</s></r>"""
      if (cut) doc.dropRight(4) else doc
    }
  }

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  /** The CEL twin: `program` over `state` bound to the input string. */
  private def celOn(program: String, input: String, xsds: Map[String, String] = Map.empty): Eval.V =
    Eval.evalValue(Parser.parse(program), Eval.renderV(Eval.VString(input)), 0L, xsds = xsds)

  test("every Column decoder equals its CEL twin on generated input") {
    val streams = sample(Gen.listOfN(3, genLine).map(_.mkString(" ")), 80)
    val streamCol = streams.toDF("v").select(decode_json_stream(col("v"))).collect().map(_.getString(0))
    streams.zip(streamCol).foreach { case (in, got) =>
      assert(got == Eval.renderV(celOn("state.decode_json_stream()", in)), s"decode_json_stream: $in")
    }

    val ndjson = sample(Gen.listOfN(4, Gen.frequency(6 -> genLine, 1 -> Gen.const(" ")))
      .map(_.mkString("\n")), 80)
    val ndjsonCol = ndjson.map(_.getBytes(StandardCharsets.UTF_8)).toDF("b")
      .select(ndjson_docs(col("b"))).collect().map(_.getSeq[String](0))
    ndjson.zip(ndjsonCol).foreach { case (in, got) =>
      celOn("state.mime('application/x-ndjson')", in) match {
        case Eval.VList(docs) => assert(got == docs.map(Eval.renderV), s"ndjson: $in")
        case other => fail(s"ndjson: $in gave $other")
      }
    }

    val hints = compile_xsd(xsd)
    val xmls = sample(genXml, 60)
    val xmlCol = xmls.toDF("x").select(decode_xml(col("x"), lit(hints))).collect().map(_.getString(0))
    xmls.zip(xmlCol).foreach { case (in, got) =>
      assert(got == Eval.renderV(celOn("state.decode_xml('h')", in, Map("h" -> hints))), s"decode_xml: $in")
    }
  }

  test("json_normalize sorts keys (Go json.Marshal order)") {
    assert(evalStr("""{"b":1,"a":{"d":4,"c":3}}""", json_normalize) == """{"a":{"c":3,"d":4},"b":1}""")
  }

  test("try weakens errors to message / labeled map") {
    val err = evalStr(doc, json_collate(_, ".bad"))
    assert(evalStr(err, c => try_(c)) == "\"invalid parameter path for drop: .bad\"")
    assert(evalStr(err, c => try_(c, "error.message")) ==
      """{"error.message":"invalid parameter path for drop: .bad"}""")
    assert(evalStr("""{"ok":1}""", c => try_(c)) == """{"ok":1}""")
  }

  // --- strings ---
  test("count_substr matches Go strings.Count") {
    assert(evalOn("cheese", c => count_substr(c, lit("e"))) == 3L)
    assert(evalOn("five", c => count_substr(c, lit(""))) == 5L)
  }

  test("index/last_index/index_any code-point offsets") {
    assert(evalOn("chicken", c => index_str(c, lit("ken"))) == 4L)
    assert(evalOn("chicken", c => index_str(c, lit("dmr"))) == -1L)
    assert(evalOn("go gopher", c => last_index(c, lit("go"))) == 3L)
    assert(evalOn("chicken", c => index_any(c, lit("aeiouy"))) == 2L)
    assert(evalOn("go gopher", c => last_index_any(c, lit("go"))) == 4L)
  }

  test("substring_runes strict bounds") {
    assert(evalStr("hello", substring_runes(_, lit(1), lit(3))) == "el")
    assert(evalStr("héllo", substring_runes(_, lit(1), lit(3))) == "él")
    intercept[Exception] { evalStr("hello", substring_runes(_, lit(2), lit(9))) }
  }

  test("split_after keeps separators; split_n limits") {
    assert(evalOn("a,b,c", c => split_after(c, lit(","))).asInstanceOf[scala.collection.Seq[String]].toSeq
      == Seq("a,", "b,", "c"))
    assert(evalOn("a,b,c", c => split_n(c, lit(","), lit(2))).asInstanceOf[scala.collection.Seq[String]].toSeq
      == Seq("a", "b,c"))
  }

  test("replace_n limited replacement") {
    assert(evalStr("oink oink oink", replace_n(_, lit("k"), lit("ky"), lit(2))) == "oinky oinky oink")
    assert(evalStr("oink oink oink", replace_n(_, lit("oink"), lit("moo"), lit(-1))) == "moo moo moo")
  }

  test("trim family") {
    assert(evalStr("¡¡¡Hello!!!", trim_cutset(_, lit("!¡"))) == "Hello")
    assert(evalStr("¡¡¡Hello!!!", trim_left(_, lit("!¡"))) == "Hello!!!")
    assert(evalStr("¡¡¡Hello!!!", trim_right(_, lit("!¡"))) == "¡¡¡Hello")
    assert(evalStr("¡¡¡Hello!!!", trim_prefix(_, lit("¡¡¡"))) == "Hello!!!")
    assert(evalStr("¡¡¡Hello!!!", trim_suffix(_, lit("!!!"))) == "¡¡¡Hello")
    assert(evalStr("  \t hi \n ", trim_space) == "hi")
  }

  test("fields/to_title/equal_fold/contains_any/compare") {
    assert(evalOn("  foo bar  baz   ", c => fields_str(c)).asInstanceOf[scala.collection.Seq[String]].toSeq
      == Seq("foo", "bar", "baz"))
    assert(evalStr("her royal highness", to_title) == "HER ROYAL HIGHNESS")
    assert(evalOn("Go", c => equal_fold(c, lit("GO"))) == true)
    assert(evalOn("failure", c => contains_any(c, lit("ui"))) == true)
    assert(evalOn("a", c => compare_str(c, lit("b"))) == -1)
  }

  // --- time ---
  test("format_time and parse_time with Go layouts") {
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-05T07:08:09Z"))
    val df = Seq(ts).toDF("t")
    assert(df.select(format_time(col("t"), "RFC3339")).head.getString(0)
      == "2024-03-05T07:08:09Z")
    assert(df.select(format_time(col("t"), "2006-01-02 15:04:05")).head.getString(0)
      == "2024-03-05 07:08:09")
    assert(df.select(format_time(col("t"), "Kitchen")).head.getString(0) == "7:08AM")

    val parsed = Seq("2024-03-05T07:08:09Z").toDF("s")
      .select(parse_time(col("s"), "RFC3339")).head.getTimestamp(0)
    assert(parsed.toInstant == java.time.Instant.parse("2024-03-05T07:08:09Z"))
  }

  test("parse_time first-success over layouts (testdata/parse_time_multiple.txt)") {
    val parsed = Seq("2024-03-05 07:08:09").toDF("s")
      .select(parse_time(col("s"), Seq("RFC3339", "2006-01-02 15:04:05"))).head.getTimestamp(0)
    assert(parsed.toInstant == java.time.Instant.parse("2024-03-05T07:08:09Z"))
  }

  test("parse_time offset handling") {
    val parsed = Seq("2024-03-05T07:08:09+02:00").toDF("s")
      .select(parse_time(col("s"), "RFC3339")).head.getTimestamp(0)
    assert(parsed.toInstant == java.time.Instant.parse("2024-03-05T05:08:09Z"))
  }

  // --- crypto (known-answer vectors) ---
  test("digests return raw bytes; hex/base64 wrap them") {
    assert(evalStr("hello world", c => hex_lower(md5_bytes(c.cast("binary"))))
      == "5eb63bbbe01eeed093cb22bb8f5acdc3")
    assert(evalStr("hello world", c => hex_lower(sha1_bytes(c.cast("binary"))))
      == "2aae6c35c94fcfb415dbe95f408b9ce91ee846ed")
    assert(evalStr("hello world", c => hex_lower(sha256_bytes(c.cast("binary"))))
      == "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9")
  }

  test("hmac RFC 4231 vector") {
    assert(evalStr("what do ya want for nothing?",
      c => hex_lower(hmac(c.cast("binary"), "sha256", lit("Jefe").cast("binary"))))
      == "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("base64 std vs raw") {
    assert(evalStr("hello worlds", c => base64_std(c.cast("binary"))) == "aGVsbG8gd29ybGRz")
    assert(evalStr("hello world", c => base64_std(c.cast("binary"))) == "aGVsbG8gd29ybGQ=")
    assert(evalStr("hello world", c => base64_raw(c.cast("binary"))) == "aGVsbG8gd29ybGQ")
    assert(new String(evalOn("aGVsbG8gd29ybGQ=", base64_decode).asInstanceOf[Array[Byte]]) == "hello world")
    assert(new String(evalOn("aGVsbG8gd29ybGQ", base64_raw_decode).asInstanceOf[Array[Byte]]) == "hello world")
  }

  // --- regexp registry ---
  test("named regexp registry") {
    val re = RegexpRegistry(Map("foo" -> "f(o+)", "digits" -> "[0-9]+"))
    assert(evalOn("food fight", c => re.re_match("foo", c)) == true)
    assert(evalStr("food fight", c => re.re_find("foo", c)) == "foo")
    assert(evalOn("a1b22c333", c => re.re_find_all("digits", c)).asInstanceOf[scala.collection.Seq[String]].toSeq
      == Seq("1", "22", "333"))
    assert(evalOn("food", c => re.re_find_submatch("foo", c)).asInstanceOf[scala.collection.Seq[String]].toSeq
      == Seq("foo", "oo"))
    assert(evalStr("food fight", c => re.re_replace_all("foo", c, lit("y"))) == "yd fight")
    // Go FindAllStringSubmatch: every match with its capture groups
    assert(evalOn("food fool", c => re.re_find_all_submatch("foo", c))
      .asInstanceOf[scala.collection.Seq[scala.collection.Seq[String]]]
      .map(_.toSeq).toSeq == Seq(Seq("foo", "oo"), Seq("foo", "oo")))
    assert(evalOn("a1b22", c => re.re_find_all_submatch("digits", c))
      .asInstanceOf[scala.collection.Seq[scala.collection.Seq[String]]]
      .map(_.toSeq).toSeq == Seq(Seq("1"), Seq("22")))
  }

  test("re_find_all_submatch is positional: lookaround, anchors, boundaries") {
    val re = RegexpRegistry(Map(
      "look" -> "a(?=b)",         // zero-width lookahead
      "anchor" -> "^f(o+)",       // start anchor
      "bound" -> """\b(\w)c""",   // word boundary + group
      "opt" -> "a(x)?b"))         // unmatched optional group -> ""
    def all(name: String, s: String) =
      evalOn(s, c => re.re_find_all_submatch(name, c))
        .asInstanceOf[scala.collection.Seq[scala.collection.Seq[String]]]
        .map(_.toSeq).toSeq
    assert(all("look", "ab ac ab") == Seq(Seq("a"), Seq("a")))
    assert(all("anchor", "foo foo") == Seq(Seq("foo", "oo")))
    assert(all("bound", "cc acid") == Seq(Seq("cc", "c"), Seq("ac", "a")))
    assert(all("opt", "ab axb") == Seq(Seq("ab", ""), Seq("axb", "x")))
  }
}
