package graft

import graft.cel.Cel
import graft.streaming.WantMore
import org.apache.spark.sql.functions.col

class CelSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val NOW = 1704067200000000L // 2024-01-01T00:00:00Z

  private def run(program: String, state: String = "null"): String =
    Cel.evalOnce(program, state, NOW)

  test("literals, arithmetic, logic, comparisons") {
    assert(run("1 + 2 * 3") == "7")
    assert(run("(1 + 2) * 3") == "9")
    assert(run("7 % 3 + 1.5") == """{"__error__":"no such overload: int + double"}""")
    assert(run("double(7 % 3) + 1.5") == "2.5")
    assert(run("1 < 2 && 2 <= 2 && 'a' != 'b'") == "true")
    assert(run("'b' in ['a','b'] && 'k' in {'k':1}") == "true")
    assert(run("true ? 'yes' : 'no'") == "\"yes\"")
    assert(run("size('héllo')") == "5")
    assert(run("\"a\" + 'b'") == "\"ab\"")
    assert(run("[1,2] + [3]") == "[1,2,3]")
  }

  test("error texts name a value by its CEL type, not its contents") {
    assert(run("{'a': 1}[true]") == """{"__error__":"no such overload: map[bool]"}""")
    assert(run("[1][?'x']") == """{"__error__":"no such overload: list[?string]"}""")
    assert(run("{'a': [1]}.contains('a')") == """{"__error__":"no such overload: contains(map)"}""")
    assert(run("b'x'.to_upper()") == """{"__error__":"no such overload on bytes"}""")
    assert(run("1.decode_json()") == """{"__error__":"no such overload: bytes from int"}""")
    assert(run("timestamp('2024-01-01T00:00:00Z') + 1") ==
      """{"__error__":"no such overload: google.protobuf.Timestamp + int"}""")
  }

  test("doubles render with Go's shortest round-trip digits") {
    // Go's encoding/json prints the shortest digits that parse back to
    // the same float64; JDK 17's Double.toString does not always find
    // them (2e23 -> 1.9999999999999998E23)
    assert(run("[2e23, 1e23, 8.41e21, 282879384806159000.0]", "{}") ==
      "[2e+23,1e+23,8.41e+21,282879384806159000]")
  }

  test("a uint at or above 2^63 renders its unsigned digits, as Go does") {
    assert(run("[18446744073709551615u, 9223372036854775808u, 5u]") ==
      "[18446744073709551615,9223372036854775808,5]")
    assert(run("{'u': 18446744073709551615u}.encode_json()") ==
      "\"{\\\"u\\\":18446744073709551615}\"")
    // the tree reference agrees with the writer
    val v = graft.cel.Eval.VUint(-1L)
    assert(graft.values.JsonAlgebra.render(graft.cel.Eval.toJson(v)) == "18446744073709551615")
  }

  test("a character glued to a root-level number is Go's after-top-level error") {
    def err(c: String) =
      s"""{"__error__":"failed to parse JSON: invalid character '$c' after top-level value"}"""
    assert(run("'1x'.decode_json()") == err("x"))
    assert(run("b'-2.5e3}'.decode_json()") == err("}"))
    assert(run("'7\u00e9'.decode_json()") == err("\u00e9"))
    assert(run("state", "  12x") == err("x"))
    val kernel = Seq("1x").toDF("s")
      .select(graft.functions.json_normalize(col("s"))).as[String].collect()
    assert(kernel.toSeq == Seq(err("x")))
  }

  test("a lone surrogate renders as U+FFFD, as Go's encoding/json does") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // the escape reaches the value as a lone UTF-16 unit
    val v = graft.cel.Eval.parseV("\"x\\ud800y\"")
    assert(graft.cel.Eval.renderUtf8(v).toSeq == "\"x\uFFFDy\"".getBytes(utf8).toSeq)
    // keys too, and a well-formed pair is kept whole
    assert(run("state", "{\"k\\udc00\":\"\\ud83d\\ude00\"}") == "{\"k\uFFFD\":\"\ud83d\ude00\"}")
  }

  test("decode_json and state read the whole input as one document") {
    def err(m: String) = s"""{"__error__":"failed to parse JSON: $m"}"""
    assert(run("""'{"a":1} x'.decode_json()""") == err("invalid character 'x' after top-level value"))
    assert(run("""'{"a":1}{"b":2}'.decode_json()""") == err("invalid character '{' after top-level value"))
    assert(run("""'1 2'.decode_json()""") == err("invalid character '2' after top-level value"))
    assert(run("''.decode_json()") == err("unexpected end of JSON input"))
    assert(run("state", """{"a":1} x""") == err("invalid character 'x' after top-level value"))
    // whitespace around the value is not content
    assert(run("""' {"a":1}\n '.decode_json()""") == """{"a":1}""")
    assert(run("state.a", " {\"a\":1}\r\n") == "1")
    // an error document decodes to an error value; another __error__ value stays a map
    assert(run("""is_error('{"__error__":"boom"}'.decode_json())""") == "true")
    assert(run("""'{"__error__":5}'.decode_json()""") == """{"__error__":5}""")
  }

  test("float-hinted XML leaves decode to doubles (mito's float64)") {
    val hints = """{"r":{"children":{"f":{"type":"float"},"n":{"type":"int"}}}}"""
    def xml(program: String) =
      Cel.evalOnce(program, "\"<r><f>1.0</f><n>2</n></r>\"", NOW, xsds = Map("h" -> hints))
    assert(xml("state.decode_xml('h')") == """{"doc":{"r":{"f":1,"n":2}}}""")
    assert(xml("[type(state.decode_xml('h').doc.r.f), type(state.decode_xml('h').doc.r.n)]") ==
      """["double","int"]""")
  }

  test("eval errors carry source spans (DecoratedError, lib/errors.go:28-52)") {
    // error originates at the '/' node: offset 6 -> 1:7, caret under it
    assert(Cel.evalDecorated("1 + 2 / (3 - 3)", "null", NOW) == Left(
      "failed eval: ERROR: <input>:1:7: division by zero\n" +
        " | 1 + 2 / (3 - 3)\n" +
        " | ......^"))
    // multi-line program: line/col resolve past the first line
    assert(Cel.evalDecorated("{\"a\": 1,\n \"b\": [1, 2][5]}", "null", NOW) == Left(
      "failed eval: ERROR: <input>:2:13: index out of range: 5\n" +
        " |  \"b\": [1, 2][5]}\n" +
        " | ............^"))
    // success path renders JSON unchanged
    assert(Cel.evalDecorated("{'a': 1 + 1}", "null", NOW) == Right("""{"a":2}"""))
  }

  test("division by zero is an error value absorbed by || (reference debug.txt semantics)") {
    assert(run("1 / 0") == """{"__error__":"division by zero"}""")
    assert(run("true || (1/0 == 1)") == "true")
    assert(run("false && (1/0 == 1)") == "false")
    assert(run("is_error(1/0)") == "true")
    assert(run("try(1/0)") == "\"division by zero\"")
    assert(run("try(1/0, 'error.message')") == """{"error.message":"division by zero"}""")
  }

  test("select, index, has over state") {
    val state = """{"a":{"b":[10,20]},"m":{"k":"v"}}"""
    assert(run("state.a.b[1]", state) == "20")
    assert(run("state.m['k']", state) == "\"v\"")
    assert(run("has(state.a) && !has(state.zzz)", state) == "true")
    assert(run("state.zzz", state) == """{"__error__":"no such key: zzz"}""")
  }

  test("comprehension macros") {
    assert(run("[1,2,3,4].map(x, x * 2)") == "[2,4,6,8]")
    assert(run("[1,2,3,4].map(x, x % 2 == 0, x * 10)") == "[20,40]")
    assert(run("[1,2,3,4].filter(x, x > 2)") == "[3,4]")
    assert(run("[1,2,3].all(x, x > 0) && [1,2].exists(x, x == 2)") == "true")
    assert(run("[1,2,3].exists_one(x, x == 2)") == "true")
    assert(run("5.as(n, n * n)") == "25")
  }

  test("type() introspection against the bound type identifiers") {
    assert(run("type(3) == int") == "true")
    assert(run("type(3u) == uint && type(1.5) == double") == "true")
    assert(run("type('x') == string && type(b'x') == bytes") == "true")
    assert(run("type(true) == bool && type(null) == null_type") == "true")
    assert(run("type([1]) == list && type({'a': 1}) == map") == "true")
    assert(run("type(timestamp('2024-01-01T00:00:00Z')) == timestamp") == "true")
    assert(run("type(duration('1s')) == duration") == "true")
    assert(run("type(type(3)) == type && type(int) == type") == "true")
    assert(run("type(3) == type(4) && type(3) != type('x')") == "true")
    assert(run("type(optional.of(1)) == optional_type") == "true")
    // strictness: an error argument propagates
    assert(run("try(type(1 / 0))") == "\"division by zero\"")
    // rendering divergence (documented at Eval.toJson): the name string
    assert(run("type(3)") == "\"int\"")
    assert(run("[type('a'), type(1)]") == "[\"string\",\"int\"]")
  }

  test("optMap/optFlatMap macros (cel-go optional library, mito.go:83)") {
    // optMap: transform inside the optional, stay optional
    assert(run("optional.of(5).optMap(x, x * 2).value()") == "10")
    assert(run("optional.none().optMap(x, x * 2).orValue('d')") == "\"d\"")
    assert(run("""{"a": 1}.?a.optMap(x, x + 1).value()""", "{}") == "2")
    assert(run("""state.?missing.optMap(x, x + 1).hasValue()""", "{}") == "false")
    // optFlatMap: the body itself returns an optional
    assert(run("optional.of(5).optFlatMap(x, optional.of(x + 1)).value()") == "6")
    assert(run("optional.of(5).optFlatMap(x, optional.none()).hasValue()") == "false")
    assert(run("optional.none().optFlatMap(x, optional.of(x)).orValue(9)") == "9")
    // body errors propagate out of a present optional
    assert(run("try(optional.of(5).optMap(x, x / 0).value())") ==
      "\"division by zero\"")
    // a strict target error propagates (the `as` expansion is
    // target-first, like every other comprehension)
    assert(run("try(state.nope.optMap(x, x))", "{}") == "\"no such key: nope\"")
  }

  test("collections library (reference testdata/collate_a.txt shape)") {
    val doc = """{"a":[{"b":1},{"b":2},{"b":3}],"b":[{"b":-1,"c":10},{"b":-2,"c":20},{"b":-3,"c":30}]}"""
    assert(run(s"$doc.collate('a')") == """[{"b":1},{"b":2},{"b":3}]""")
    assert(run(s"$doc.collate('a.b')") == "[1,2,3]")
    assert(run(s"$doc.drop('b.c')") ==
      """{"a":[{"b":1},{"b":2},{"b":3}],"b":[{"b":-1},{"b":-2},{"b":-3}]}""")
    assert(run("""{"a":1,"b":2}.with({"b":20,"c":30})""") == """{"a":1,"b":20,"c":30}""")
    assert(run("""{"a":1,"b":2}.with_update({"b":20,"c":30})""") == """{"a":1,"b":2,"c":30}""")
    assert(run("[[1],[2,3],[[[4]],[5,6]]].flatten()") == "[1,2,3,4,5,6]")
    assert(run("""{"a":[],"b":{},"c":1}.drop_empty()""") == """{"c":1}""")
    assert(run("[3,1,2].min()") == "1")
    assert(run("['x','y'].zip([1,2])") == """{"x":1,"y":2}""")
    assert(run("""{"b":2,"a":1}.keys()""") == """["a","b"]""")
  }

  test("collections ops keep CEL values: no JSON round trip per op") {
    // bytes stay bytes: the base64 text of a JSON round trip had size 4
    assert(run("""{"b": b"hi"}.with({"c": 1}).b.size()""") == "2")
    // timestamps stay timestamps through drop/with
    assert(run("""{"t": timestamp("2024-03-05T07:08:09Z"), "x": 1}.drop("x").t.getFullYear()""") ==
      "2024")
    // a whole double stays a double (the JSON form collapsed it to an int)
    assert(run("""type({"a": 2.0}.with({"b": 1}).a) == double""") == "true")
    // int-typed map keys survive the with family and drop_empty
    assert(run("""{1: "a"}.with({2: "b"}).keys()""") == "[1,2]")
    assert(run("""{1: "a", 2: []}.drop_empty() == {1: "a"}""") == "true")
    // inside a program a map with an __error__ key is a map, not an error
    // value: only the document boundary (state, json_* inputs) promotes it
    assert(run("""is_error({"__error__": "m"}.drop_empty())""") == "false")
    assert(run("""{"__error__": "m"}.drop("x")""") == """{"__error__":"m"}""")
  }

  test("strings, crypto, json, time libraries") {
    assert(run("'Hello'.to_upper()") == "\"HELLO\"")
    assert(run("'cheese'.count('e')") == "3")
    assert(run("'hello'.substring(1, 3)") == "\"el\"")
    assert(run("string(b'hello world'.md5().hex())") == "\"5eb63bbbe01eeed093cb22bb8f5acdc3\"")
    assert(run("'hello world'.base64()") == "\"aGVsbG8gd29ybGQ=\"")
    assert(run("string('hello world'.hmac('sha256', 'key').base64_raw()).size() > 0") == "true")
    assert(run("""{"b":1,"a":2}.encode_json()""") == "\"{\\\"a\\\":2,\\\"b\\\":1}\"")
    assert(run("'{\"x\": 5}'.decode_json().x") == "5")
    assert(run("'2024-03-05T07:08:09Z'.parse_time(time_layout.RFC3339).format('2006-01-02')")
      == "\"2024-03-05\"")
    assert(run("string(now)") == "\"2024-01-01T00:00:00Z\"")
    assert(run("timestamp('2024-01-01T00:00:10Z') - timestamp('2024-01-01T00:00:00Z')") == "\"10s\"")
    assert(run("string(timestamp('2024-01-01T00:00:00Z') + duration('1h30m'))")
      == "\"2024-01-01T01:30:00Z\"")
  }

  test("regexp library with named registry (reference testdata/regexp.txt)") {
    val re = Map("foo" -> "foo", "foo." -> "foo.", "foo(.)" -> "foo(.)",
      "(f)oo([ld])" -> "(f)oo([ld])")
    def runRe(p: String) = Cel.evalOnce(p, "null", NOW, re)
    assert(runRe("'food'.re_match('foo')") == "true")
    assert(runRe("'food'.re_find('foo.')") == "\"food\"")
    assert(runRe("'food fool'.re_find_all('foo.')") == """["food","fool"]""")
    assert(runRe("'food fool'.re_find_submatch('foo(.)')") == """["food","d"]""")
    assert(runRe("'food fool'.re_find_all_submatch('foo(.)')") ==
      """[["food","d"],["fool","l"]]""")
    assert(runRe("'food fool'.re_replace_all('(f)oo([ld])', '${1}u${2}')") == "\"fud ful\"")
  }

  test("VMap intKeys tag survives java serialization (task-binary literals)") {
    import graft.cel.Eval.{VMap, VString, V}
    val tagged = VMap(VMap.noEntries ++ Seq("1" -> (VString("a"): V), "x" -> (VString("b"): V)), Set("1"))
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(tagged)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[VMap]
    assert(back == tagged, "VMap equality (incl. tag) after roundtrip")
    assert(back.intKeys == Set("1"), "intKeys carried by the serialization proxy")
    assert(back.v == tagged.v, "entries preserved in order")
  }

  test("numeric map keys: cross-type equality, collision error (CEL key semantics)") {
    // CEL: int and uint keys compare numerically ({1:v} == {1u:v});
    // string "1" is a DIFFERENT key from int 1
    assert(run("""{1: "a"} == {1u: "a"}""") == "true")
    assert(run("""{"1": "a"} == {1: "a"}""") == "false")
    // keys() surfaces numeric keys numerically for both int and uint
    assert(run("""{2u: "b", 1u: "a"}.keys()""") == "[1,2]")
    // a string key colliding with a numeric key (same rendering) cannot
    // be stored distinctly in the rendered-value universe: loud error,
    // not a silent merge that flips the surviving key's type
    assert(run("""is_error({"1": "x", 1: "y"})""") == "true")
    assert(run("""try({1: "x", "1": "y"})""") == "\"map key collision: 1\"")
    // uints >= 2^63 are string-surfaced but still numeric keys: a
    // same-rendering string key collides loudly in either order
    assert(run("""is_error({"18446744073709551615": "x", 18446744073709551615u: "y"})""") == "true")
    assert(run("""is_error({18446744073709551615u: "y", "18446744073709551615": "x"})""") == "true")
  }

  test("duplicate map-literal keys error loudly (cel-go repeated-key)") {
    // same-type repeats: cel-go's own runtime error text
    assert(run("""try({1: "a", 1: "b"})""") == "\"Failed with repeated key\"")
    assert(run("""try({"a": 1, "a": 2})""") == "\"Failed with repeated key\"")
    // int/uint equal-value keys are ONE key in this engine's numeric key
    // space ({1:v} == {1u:v} — see typedKeys/equalsV), so an int/uint
    // repeat is a repeat too. Deliberate divergence from cel-go, which
    // keeps two type-distinct ref.Val entries no JSON boundary can render.
    assert(run("""try({1: "a", 1u: "b"})""") == "\"Failed with repeated key\"")
    // cross-type string-vs-numeric stays the distinct collision error
    assert(run("""try({1: "x", "1": "y"})""") == "\"map key collision: 1\"")
  }

  test("map literals evaluate all entries before constructing (cel-go order)") {
    // a later entry's eval error outranks an earlier duplicate: entries
    // evaluate in order first, duplicate detection happens at construction
    assert(run("""try({1: "a", 1: "b", 2: state.nope})""", "{}") ==
      "\"no such key: nope\"")
    // side-effect extent: entries after a duplicate still evaluate
    // (debug's stderr print happens, then the repeat error surfaces)
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    try {
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      assert(run("""try({1: "a", 1: debug("t", "b")})""") ==
        "\"Failed with repeated key\"")
    } finally System.setErr(old)
    assert(new String(buf.toByteArray, "UTF-8").contains("DEBUG: t: VString(b)"))
  }

  test("rate_limit okta through CEL (reference testdata/limit_okta.txt)") {
    val out = run(
      """{"X-Rate-Limit-Limit": ["600"],
          "X-Rate-Limit-Remaining": ["598"],
          "X-Rate-Limit-Reset": ["253402300799"]}
         .as(h, rate_limit(h, 'okta', duration('1m'))).next""")
    assert(out == "10")
  }

  test("flagship example.cel pipeline (reference example.json)") {
    val state = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/example.json")), java.nio.charset.StandardCharsets.UTF_8)
    val program = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/example.cel")), java.nio.charset.StandardCharsets.UTF_8)
    // distributed: evaluate as a Catalyst expression over a state column
    val outJson = Seq(state).toDF("state")
      .select(Cel(program, col("state"), nowMicros = NOW).as("out"))
      .head().getString(0)
    val node = graft.values.JsonAlgebra.parse(outJson)
    assert(node.has("events") && node.has("cursor"))
    val events = node.get("events")
    assert(events.size() == 13, s"expected 13 events, got ${events.size()}")
    // cartesian product events carry num x let and the original doc
    val first = events.get(0)
    assert(first.get("num").asText() == "1" && first.get("let").asText() == "a")
    assert(first.get("numlet").size() == 4)
    assert(first.has("original") && first.has("@timestamp") && first.has("@triggered"))
    // cursor summary collates @timestamp with min/max
    val ts = node.get("cursor").get("timestamps")
    assert(ts.get("first").asText() == "2024-01-01T00:00:00Z")
    assert(ts.get("last").asText() == "2024-01-01T00:00:00Z")
    assert(ts.get("list").size() == 13)
  }

  test("want_more loop driven by a CEL program (reference testdata/want_more.txt)") {
    val program = """int(state.n).as(n, {"n": n+1, "want_more": n+1 < 5})"""
    val result = WantMore.run(spark, """{"n": 0}""",
      state => Cel(program, state, nowMicros = NOW))
    assert(result.outputs == Seq(
      """{"n":1,"want_more":true}""",
      """{"n":2,"want_more":true}""",
      """{"n":3,"want_more":true}""",
      """{"n":4,"want_more":true}""",
      """{"n":5,"want_more":false}"""))
  }
}
