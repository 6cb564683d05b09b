package graft

import graft.cel.{Cel, CelEvalExpression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The CEL function table, pinned call by call: for every function name
  * the evaluator binds, a well-typed and a wrong-type call in each form
  * the name accepts, with its rendered output; the member form `x.f(a)`
  * and the global form `f(x, a)` of one call agree; and exactly the
  * functions that read or change the outside world make a program
  * impure. The calls run in one environment with a regexp registry, a
  * base directory holding `a.txt`, an XSD hint table, cfg Basic auth and
  * a local echo server at the `base` global. */
class FunctionTableSpec extends AnyFunSuite with BeforeAndAfterAll {
  import FunctionTableSpec._

  private val dir = Files.createTempDirectory("graft-fn-table")
  Files.write(dir.resolve("a.txt"), "hi".getBytes(StandardCharsets.UTF_8))

  // answers "<method> <Authorization> <request body>"
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (x: HttpExchange) => {
    val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("-")
    val in = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val body = s"${x.getRequestMethod} $auth $in".getBytes(StandardCharsets.UTF_8)
    x.sendResponseHeaders(200, if (x.getRequestMethod == "HEAD") -1 else body.length)
    if (x.getRequestMethod != "HEAD") x.getResponseBody.write(body)
    x.close()
  })
  server.start()

  override def afterAll(): Unit = {
    server.stop(0)
    graft.streaming.Channels.drain("pin_ch")
  }

  private val globals = s"""{"base": "http://127.0.0.1:${server.getAddress.getPort}"}"""

  private def eval(program: String, regexps: Map[String, String] = Regexps): String =
    Cel.evalOnce(program, "null", NOW, regexps, globals, Some(dir), Xsds, Some(("u", "p")))

  private def pure(program: String): Boolean =
    CelEvalExpression(program, Literal("{}"), NOW, Map.empty).deterministic

  test("every call renders its pinned output") {
    val programs = memberCalls.flatMap(c => Seq(c.member, c.global)) ++ globalCalls ++
      unknownCalls
    assert(programs.distinct.length == programs.length, "a pinned program is listed twice")
    assert(programs.toSet == expected.keySet,
      s"unpinned: ${programs.filterNot(expected.contains)}; " +
        s"stale: ${expected.keys.filterNot(programs.contains)}")
    val wrong = programs.flatMap { p =>
      val got = eval(p)
      if (got == expected(p)) None else Some(s"$p\n  got:  $got\n  want: ${expected(p)}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
  }

  test("without a regexp registry the re_* calls are unknown functions") {
    assert(eval("'x'.re_match('word')", Map.empty) ==
      """{"__error__":"no such function: re_match"}""")
    assert(eval("re_match('x', 'word')", Map.empty) ==
      """{"__error__":"no such function: re_match"}""")
  }

  test("the member and global forms of a call agree") {
    val differ = memberCalls.flatMap { c =>
      val (m, g) = (eval(c.member), eval(c.global))
      if (m == g) None else Some(s"${c.member} = $m but ${c.global} = $g")
    }
    assert(differ.isEmpty, differ.mkString("\n", "\n", ""))
  }

  test("exactly the calls that reach outside the program are impure") {
    val calls = memberCalls.flatMap(c => Seq(c.fn -> c.member, c.fn -> c.global)) ++
      globalCalls.map(p => p.takeWhile(_ != '(') -> p)
    val wrong = calls.collect {
      case (fn, p) if pure(p) == Impure(fn) => s"$p: ${if (Impure(fn)) "pure" else "impure"}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
    unknownCalls.foreach(p => assert(!pure(p), s"an unknown call must be impure: $p"))
  }
}

object FunctionTableSpec {
  val NOW = 1704067200000000L // 2024-01-01T00:00:00Z
  val Regexps = Map("word" -> "([a-z]+)")
  val Xsds = Map("h" -> """{"r":{"children":{"f":{"type":"float"},"n":{"type":"int"}}}}""")

  /** Function names whose calls make a program impure. */
  val Impure = Set("get", "head", "post", "do_request", "send_to", "send_refval_to",
    "close", "rate_limit", "uuid", "debug", "file", "dir")

  /** A member call `t.fn(args)`, also written `fn(t, args)`; `sel` follows
    * both forms. */
  final case class M(t: String, fn: String, args: String*)(val sel: String = "") {
    def member: String = s"$t.$fn(${args.mkString(", ")})$sel"
    def global: String = s"$fn(${(t +: args).mkString(", ")})$sel"
  }
  private def m(t: String, fn: String, args: String*): M = M(t, fn, args: _*)()

  private val ts = "timestamp('2024-02-03T04:05:06.789Z')"
  private val hdrs = "{'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], " +
    "'X-Rate-Limit-Reset': ['253402300799']}"

  val memberCalls: Seq[M] = Seq(
    // collections
    m("'ab'", "size"), m("[1, 2]", "size"), m("{'a': 1}", "size"), m("b'abc'", "size"),
    m("1", "size"), m("'ab'", "size", "2"),
    m("{'a': {'b': 1}}", "collate", "'a.b'"), m("{'a': 1}", "collate", "1"),
    m("{'a': 1, 'b': 2}", "drop", "'a'"), m("{'a': 1}", "drop", "1"),
    m("{'a': {}, 'b': 1}", "drop_empty"), m("1", "drop_empty"),
    m("[[1], [2, [3]]]", "flatten"), m("1", "flatten"),
    m("{'a': 1}", "with", "{'b': 2}"), m("1", "with", "2"),
    m("{'a': 1}", "with_update", "{'a': 2}"), m("1", "with_update", "2"),
    m("{'a': 1}", "with_replace", "{'a': 2}"), m("1", "with_replace", "2"),
    m("['a', 'b']", "zip", "[1, 2]"), m("1", "zip", "2"),
    m("{'b': 1, 'a': 2}", "keys"), m("1", "keys"),
    m("{'b': 1, 'a': 2}", "values"), m("1", "values"),
    m("[3, 1, 2]", "min"), m("1", "min"),
    m("[3, 1, 2]", "max"), m("1", "max"),
    // strings
    m("'abc'", "contains", "'b'"), m("1", "contains", "'b'"),
    m("'abc'", "startsWith", "'a'"), m("1", "startsWith", "'a'"),
    m("'abc'", "endsWith", "'c'"), m("1", "endsWith", "'c'"),
    m("'abc'", "matches", "'b.'"), m("1", "matches", "'a'"),
    m("'aBc'", "to_lower"), m("1", "to_lower"),
    m("'aBc'", "to_upper"), m("1", "to_upper"), m("'abc'", "to_upper", "1"),
    m("'hello world'", "to_title"), m("1", "to_title"),
    m("'  a b  '", "trim_space"), m("1", "trim_space"),
    m("'xxaxx'", "trim", "'x'"), m("1", "trim", "'x'"),
    m("'xxaxx'", "trim_left", "'x'"), m("1", "trim_left", "'x'"),
    m("'xxaxx'", "trim_right", "'x'"), m("1", "trim_right", "'x'"),
    m("'prefix_a'", "trim_prefix", "'prefix_'"), m("1", "trim_prefix", "'p'"),
    m("'a_suffix'", "trim_suffix", "'_suffix'"), m("1", "trim_suffix", "'s'"),
    m("'abc'", "has_prefix", "'ab'"), m("1", "has_prefix", "'ab'"),
    m("'abc'", "has_suffix", "'bc'"), m("1", "has_suffix", "'bc'"),
    m("'abc'", "contains_substr", "'b'"), m("1", "contains_substr", "'b'"),
    m("'abc'", "contains_any", "'xc'"), m("1", "contains_any", "'xc'"),
    m("'a'", "compare", "'b'"), m("1", "compare", "'b'"),
    m("'banana'", "count", "'a'"), m("1", "count", "'a'"),
    m("'Go'", "equal_fold", "'GO'"), m("1", "equal_fold", "'GO'"),
    m("' a  b '", "fields"), m("1", "fields"),
    m("'chicken'", "index", "'ken'"), m("1", "index", "'k'"),
    m("'chicken'", "index_any", "'kc'"), m("1", "index_any", "'k'"),
    m("'go gopher'", "last_index", "'go'"), m("1", "last_index", "'go'"),
    m("'go gopher'", "last_index_any", "'go'"), m("1", "last_index_any", "'go'"),
    m("['a', 'b']", "join", "'-'"), m("[1]", "join", "'-'"), m("1", "join", "'-'"),
    m("'ab'", "repeat", "2"), m("1", "repeat", "2"),
    m("'aaa'", "replace", "'a'", "'b'"), m("'aaa'", "replace", "'a'", "'b'", "2"),
    m("1", "replace", "'a'", "'b'"),
    m("'aaa'", "replace_all", "'a'", "'b'"), m("1", "replace_all", "'a'", "'b'"),
    m("'a,b,c'", "split", "','"), m("1", "split", "','"),
    m("'a,b,c'", "split_n", "','", "2"), m("1", "split_n", "','", "2"),
    m("'a,b,c'", "split_after", "','"), m("1", "split_after", "','"),
    m("'a,b,c'", "split_after_n", "','", "2"), m("1", "split_after_n", "','", "2"),
    m("'hello'", "substring", "1", "3"), m("1", "substring", "1", "3"),
    m("b'ab'", "valid_utf8"), m("1", "valid_utf8"),
    m("b'a\\xffb'", "to_valid_utf8", "'?'"), m("1", "to_valid_utf8", "'?'"),
    // time
    m(ts, "format", "'2006-01-02'"), m("1", "format", "'2006-01-02'"),
    m("'2024-01-02'", "parse_time", "'2006-01-02'"),
    m("'2024-01-02'", "parse_time", "['x', '2006-01-02']"), m("1", "parse_time", "'x'"),
    m(ts, "getFullYear"), m(ts, "getFullYear", "'America/New_York'"), m("1", "getFullYear"),
    m(ts, "getMonth"), m("1", "getMonth"),
    m(ts, "getDayOfYear"), m("1", "getDayOfYear"),
    m(ts, "getDayOfMonth"), m("1", "getDayOfMonth"),
    m(ts, "getDate"), m("1", "getDate"),
    m(ts, "getDayOfWeek"), m("1", "getDayOfWeek"),
    m(ts, "getHours"), m(ts, "getHours", "'+05:30'"), m("duration('90m')", "getHours"),
    m(ts, "getHours", "'Nowhere/Land'"), m("1", "getHours"),
    m(ts, "getMinutes"), m("duration('90m')", "getMinutes"), m("1", "getMinutes"),
    m(ts, "getSeconds"), m("duration('90m')", "getSeconds"), m("1", "getSeconds"),
    m(ts, "getMilliseconds"), m("duration('1.5s')", "getMilliseconds"),
    m("1", "getMilliseconds"), m("duration('1.5s')", "getMilliseconds", "'UTC'"),
    // crypto
    m("'abc'", "md5"), m("1", "md5"),
    m("'abc'", "sha1"), m("1", "sha1"),
    m("'abc'", "sha256"), m("1", "sha256"),
    m("'abc'", "hex"), m("1", "hex"),
    m("'abc'", "base64"), m("1", "base64"),
    m("'abc'", "base64_raw"), m("1", "base64_raw"),
    m("'YWJj'", "base64_decode"), m("1", "base64_decode"),
    m("'YWJj'", "base64_raw_decode"), m("1", "base64_raw_decode"),
    m("'d'", "hmac", "'sha256'", "'k'"), m("'d'", "hmac", "'sha256'", "1"),
    m("1", "hmac", "'sha256'", "'k'"),
    // http: requests as data, executing calls (echoed by the local
    // server), url and query
    m("'POST'", "request", "'http://h.test/a'", "'body'"), m("1", "request", "'u'"),
    m("'http://h.test/a'", "get_request"), m("1", "get_request"),
    m("'http://h.test/a'", "post_request", "'text/plain'", "'b'"),
    m("1", "post_request", "'text/plain'", "'b'"),
    M("(base + '/a')", "get")(".Body"), m("1", "get"),
    M("(base + '/a')", "head")(".StatusCode"), m("1", "head"),
    M("(base + '/a')", "post", "'text/plain'", "'x'")(".Body"),
    m("1", "post", "'text/plain'", "'x'"),
    M("{'URL': base + '/a', 'Method': 'PUT', 'Body': 'x'}", "do_request")(".Body"),
    m("1", "do_request"),
    m("'GET'.request('http://h.test/a')", "basic_authentication", "'u'", "'p'"),
    m("1", "basic_authentication", "'u'", "'p'"),
    m("'http://u:p@h.test:80/p?q=1#f'", "parse_url"), m("1", "parse_url"),
    m("{'Scheme': 'http', 'Host': 'h.test', 'Path': '/p'}", "format_url"), m("1", "format_url"),
    m("'a=1&b=2&a=3'", "parse_query"), m("1", "parse_query"),
    m("{'a': ['1', '2']}", "format_query"), m("1", "format_query"),
    // documents, mime and channels
    m("{'a': [1]}", "encode_json"), m("1", "encode_json", "2"),
    m("'{\"a\": 1}'", "decode_json"), m("1", "decode_json"),
    m("'1 2'", "decode_json_stream"), m("1", "decode_json_stream"),
    m("'<r><f>1.0</f><n>2</n></r>'", "decode_xml"),
    m("'<r><f>1.0</f><n>2</n></r>'", "decode_xml", "'h'"),
    m("'<r/>'", "decode_xml", "'nope'"), m("1", "decode_xml"),
    m("b'abc'", "mime", "'text/upper'"), m("'a,b\\n1,2'", "mime", "'text/csv; header=present'"),
    m("1", "mime", "'text/upper'"),
    m("{'a': 1}", "send_to", "'pin_ch'"), m("1", "send_to", "2"),
    m("{'a': 1}", "send_refval_to", "'pin_ch'"), m("1", "send_refval_to", "2"),
    m("null", "close", "'pin_no_channel'"), m("null", "close", "2"),
    m(hdrs, "rate_limit", "'okta'", "duration('1m')"),
    m(hdrs, "rate_limit", "'X-Rate-Limit'", "true", "false", "duration('1m')", "5"),
    m(hdrs, "rate_limit", "'okta'", "1"), m("1", "rate_limit", "'okta'", "duration('1m')"),
    // regexps, by name from the registry
    m("'food fight'", "re_match", "'word'"), m("1", "re_match", "'word'"),
    m("'x'", "re_match", "'nope'"),
    m("'food fight'", "re_find", "'word'"), m("b'food'", "re_find", "'word'"),
    m("1", "re_find", "'word'"),
    m("'food fight'", "re_find_all", "'word'"), m("1", "re_find_all", "'word'"),
    m("'food fight'", "re_find_submatch", "'word'"), m("1", "re_find_submatch", "'word'"),
    m("'food fight'", "re_find_all_submatch", "'word'"),
    m("1", "re_find_all_submatch", "'word'"),
    m("'food fight'", "re_replace_all", "'word'", "'X'"),
    m("1", "re_replace_all", "'word'", "'X'"),
    // optional values
    m("optional.none()", "orValue", "1"), m("optional.of(2)", "orValue", "1"),
    m("optional.none()", "or", "optional.of(1)"), m("optional.none()", "or", "1"),
    m("optional.of(1)", "hasValue"), m("1", "hasValue"),
    m("optional.of(1)", "value"), m("optional.none()", "value"))

  /** Global-only functions, the non-strict calls and the optional
    * namespace. */
  val globalCalls: Seq[String] = Seq(
    "int('12')", "int(1.9)", "int(2u)", "int(timestamp('2024-01-01T00:00:00Z'))",
    "int(duration('1s'))", "int('x')", "int([1])",
    "uint('3')", "uint(2)", "uint(true)",
    "double('1.5')", "double(2)", "double('x')", "double(true)",
    "string(1)", "string(b'ab')", "string(b'\\xff')", "string(1.0)", "string(2.5)",
    "string(true)", "string(timestamp('2024-01-01T00:00:00Z'))", "string(duration('90s'))",
    "string([1])",
    "bytes('ab')", "bytes(1)",
    "bool('true')", "bool(1)",
    "timestamp('2024-01-02T03:04:05Z')", "timestamp(0)", "timestamp(true)",
    "duration('1h')", "duration(1)",
    "dyn(1)", "dyn(1, 2)",
    "type(1)", "type({})", "type(1, 2)",
    "now()", "now(1)",
    "uuid().size()", "uuid(1).size()",
    "file('a.txt')", "file('a.txt', 'text/upper')", "file(1)",
    "dir('.').map(e, e.name)", "dir(1)",
    "try(1 / 0)", "try(1 / 0, 'e')", "is_error(1 / 0)", "debug('t', 1)",
    "optional.of(1)", "optional.none()", "optional.ofNonZeroValue(0)")

  /** Names no form binds: a global-only function called as a member, and
    * a name nothing declares. */
  val unknownCalls: Seq[String] = Seq("'1'.int()", "foo()", "foo(1)", "1.foo()")

  /** The rendered output of every pinned program. */
  val expected: Map[String, String] = Map(
    "'ab'.size()" ->
      "2",
    "size('ab')" ->
      "2",
    "[1, 2].size()" ->
      "2",
    "size([1, 2])" ->
      "2",
    "{'a': 1}.size()" ->
      "1",
    "size({'a': 1})" ->
      "1",
    "b'abc'.size()" ->
      "3",
    "size(b'abc')" ->
      "3",
    "1.size()" ->
      "{\"__error__\":\"no such overload: size(int)\"}",
    "size(1)" ->
      "{\"__error__\":\"no such overload: size(int)\"}",
    "'ab'.size(2)" ->
      "{\"__error__\":\"no such overload: size\"}",
    "size('ab', 2)" ->
      "{\"__error__\":\"no such overload: size\"}",
    "{'a': {'b': 1}}.collate('a.b')" ->
      "[1]",
    "collate({'a': {'b': 1}}, 'a.b')" ->
      "[1]",
    "{'a': 1}.collate(1)" ->
      "{\"__error__\":\"invalid parameter type for collate: int\"}",
    "collate({'a': 1}, 1)" ->
      "{\"__error__\":\"invalid parameter type for collate: int\"}",
    "{'a': 1, 'b': 2}.drop('a')" ->
      "{\"b\":2}",
    "drop({'a': 1, 'b': 2}, 'a')" ->
      "{\"b\":2}",
    "{'a': 1}.drop(1)" ->
      "{\"__error__\":\"invalid parameter type for drop: int\"}",
    "drop({'a': 1}, 1)" ->
      "{\"__error__\":\"invalid parameter type for drop: int\"}",
    "{'a': {}, 'b': 1}.drop_empty()" ->
      "{\"b\":1}",
    "drop_empty({'a': {}, 'b': 1})" ->
      "{\"b\":1}",
    "1.drop_empty()" ->
      "1",
    "drop_empty(1)" ->
      "1",
    "[[1], [2, [3]]].flatten()" ->
      "[1,2,[3]]",
    "flatten([[1], [2, [3]]])" ->
      "[1,2,[3]]",
    "1.flatten()" ->
      "{\"__error__\":\"no such overload\"}",
    "flatten(1)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'a': 1}.with({'b': 2})" ->
      "{\"a\":1,\"b\":2}",
    "with({'a': 1}, {'b': 2})" ->
      "{\"a\":1,\"b\":2}",
    "1.with(2)" ->
      "{\"__error__\":\"no such overload\"}",
    "with(1, 2)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'a': 1}.with_update({'a': 2})" ->
      "{\"a\":1}",
    "with_update({'a': 1}, {'a': 2})" ->
      "{\"a\":1}",
    "1.with_update(2)" ->
      "{\"__error__\":\"no such overload\"}",
    "with_update(1, 2)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'a': 1}.with_replace({'a': 2})" ->
      "{\"a\":2}",
    "with_replace({'a': 1}, {'a': 2})" ->
      "{\"a\":2}",
    "1.with_replace(2)" ->
      "{\"__error__\":\"no such overload\"}",
    "with_replace(1, 2)" ->
      "{\"__error__\":\"no such overload\"}",
    "['a', 'b'].zip([1, 2])" ->
      "{\"a\":1,\"b\":2}",
    "zip(['a', 'b'], [1, 2])" ->
      "{\"a\":1,\"b\":2}",
    "1.zip(2)" ->
      "{\"__error__\":\"no such overload: zip\"}",
    "zip(1, 2)" ->
      "{\"__error__\":\"no such overload: zip\"}",
    "{'b': 1, 'a': 2}.keys()" ->
      "[\"a\",\"b\"]",
    "keys({'b': 1, 'a': 2})" ->
      "[\"a\",\"b\"]",
    "1.keys()" ->
      "{\"__error__\":\"no such overload: keys\"}",
    "keys(1)" ->
      "{\"__error__\":\"no such overload: keys\"}",
    "{'b': 1, 'a': 2}.values()" ->
      "[2,1]",
    "values({'b': 1, 'a': 2})" ->
      "[2,1]",
    "1.values()" ->
      "{\"__error__\":\"no such overload: values\"}",
    "values(1)" ->
      "{\"__error__\":\"no such overload: values\"}",
    "[3, 1, 2].min()" ->
      "1",
    "min([3, 1, 2])" ->
      "1",
    "1.min()" ->
      "{\"__error__\":\"no such overload\"}",
    "min(1)" ->
      "{\"__error__\":\"no such overload\"}",
    "[3, 1, 2].max()" ->
      "3",
    "max([3, 1, 2])" ->
      "3",
    "1.max()" ->
      "{\"__error__\":\"no such overload\"}",
    "max(1)" ->
      "{\"__error__\":\"no such overload\"}",
    "'abc'.contains('b')" ->
      "true",
    "contains('abc', 'b')" ->
      "true",
    "1.contains('b')" ->
      "{\"__error__\":\"no such overload: contains(int)\"}",
    "contains(1, 'b')" ->
      "{\"__error__\":\"no such overload: contains(int)\"}",
    "'abc'.startsWith('a')" ->
      "true",
    "startsWith('abc', 'a')" ->
      "true",
    "1.startsWith('a')" ->
      "{\"__error__\":\"no such overload: startsWith(int)\"}",
    "startsWith(1, 'a')" ->
      "{\"__error__\":\"no such overload: startsWith(int)\"}",
    "'abc'.endsWith('c')" ->
      "true",
    "endsWith('abc', 'c')" ->
      "true",
    "1.endsWith('c')" ->
      "{\"__error__\":\"no such overload: endsWith(int)\"}",
    "endsWith(1, 'c')" ->
      "{\"__error__\":\"no such overload: endsWith(int)\"}",
    "'abc'.matches('b.')" ->
      "true",
    "matches('abc', 'b.')" ->
      "true",
    "1.matches('a')" ->
      "{\"__error__\":\"no such overload: matches(int)\"}",
    "matches(1, 'a')" ->
      "{\"__error__\":\"no such overload: matches(int)\"}",
    "'aBc'.to_lower()" ->
      "\"abc\"",
    "to_lower('aBc')" ->
      "\"abc\"",
    "1.to_lower()" ->
      "{\"__error__\":\"no such overload on int\"}",
    "to_lower(1)" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'aBc'.to_upper()" ->
      "\"ABC\"",
    "to_upper('aBc')" ->
      "\"ABC\"",
    "1.to_upper()" ->
      "{\"__error__\":\"no such overload on int\"}",
    "to_upper(1)" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'abc'.to_upper(1)" ->
      "{\"__error__\":\"no such overload: to_upper\"}",
    "to_upper('abc', 1)" ->
      "{\"__error__\":\"no such overload: to_upper\"}",
    "'hello world'.to_title()" ->
      "\"HELLO WORLD\"",
    "to_title('hello world')" ->
      "\"HELLO WORLD\"",
    "1.to_title()" ->
      "{\"__error__\":\"no such overload on int\"}",
    "to_title(1)" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'  a b  '.trim_space()" ->
      "\"a b\"",
    "trim_space('  a b  ')" ->
      "\"a b\"",
    "1.trim_space()" ->
      "{\"__error__\":\"no such overload on int\"}",
    "trim_space(1)" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'xxaxx'.trim('x')" ->
      "\"a\"",
    "trim('xxaxx', 'x')" ->
      "\"a\"",
    "1.trim('x')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "trim(1, 'x')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'xxaxx'.trim_left('x')" ->
      "\"axx\"",
    "trim_left('xxaxx', 'x')" ->
      "\"axx\"",
    "1.trim_left('x')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "trim_left(1, 'x')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'xxaxx'.trim_right('x')" ->
      "\"xxa\"",
    "trim_right('xxaxx', 'x')" ->
      "\"xxa\"",
    "1.trim_right('x')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "trim_right(1, 'x')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'prefix_a'.trim_prefix('prefix_')" ->
      "\"a\"",
    "trim_prefix('prefix_a', 'prefix_')" ->
      "\"a\"",
    "1.trim_prefix('p')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "trim_prefix(1, 'p')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'a_suffix'.trim_suffix('_suffix')" ->
      "\"a\"",
    "trim_suffix('a_suffix', '_suffix')" ->
      "\"a\"",
    "1.trim_suffix('s')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "trim_suffix(1, 's')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'abc'.has_prefix('ab')" ->
      "true",
    "has_prefix('abc', 'ab')" ->
      "true",
    "1.has_prefix('ab')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "has_prefix(1, 'ab')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'abc'.has_suffix('bc')" ->
      "true",
    "has_suffix('abc', 'bc')" ->
      "true",
    "1.has_suffix('bc')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "has_suffix(1, 'bc')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'abc'.contains_substr('b')" ->
      "true",
    "contains_substr('abc', 'b')" ->
      "true",
    "1.contains_substr('b')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "contains_substr(1, 'b')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'abc'.contains_any('xc')" ->
      "true",
    "contains_any('abc', 'xc')" ->
      "true",
    "1.contains_any('xc')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "contains_any(1, 'xc')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'a'.compare('b')" ->
      "-1",
    "compare('a', 'b')" ->
      "-1",
    "1.compare('b')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "compare(1, 'b')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'banana'.count('a')" ->
      "3",
    "count('banana', 'a')" ->
      "3",
    "1.count('a')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "count(1, 'a')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'Go'.equal_fold('GO')" ->
      "true",
    "equal_fold('Go', 'GO')" ->
      "true",
    "1.equal_fold('GO')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "equal_fold(1, 'GO')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "' a  b '.fields()" ->
      "[\"a\",\"b\"]",
    "fields(' a  b ')" ->
      "[\"a\",\"b\"]",
    "1.fields()" ->
      "{\"__error__\":\"no such overload on int\"}",
    "fields(1)" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'chicken'.index('ken')" ->
      "4",
    "index('chicken', 'ken')" ->
      "4",
    "1.index('k')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "index(1, 'k')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'chicken'.index_any('kc')" ->
      "0",
    "index_any('chicken', 'kc')" ->
      "0",
    "1.index_any('k')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "index_any(1, 'k')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'go gopher'.last_index('go')" ->
      "3",
    "last_index('go gopher', 'go')" ->
      "3",
    "1.last_index('go')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "last_index(1, 'go')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'go gopher'.last_index_any('go')" ->
      "4",
    "last_index_any('go gopher', 'go')" ->
      "4",
    "1.last_index_any('go')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "last_index_any(1, 'go')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "['a', 'b'].join('-')" ->
      "\"a-b\"",
    "join(['a', 'b'], '-')" ->
      "\"a-b\"",
    "[1].join('-')" ->
      "{\"__error__\":\"join: int\"}",
    "join([1], '-')" ->
      "{\"__error__\":\"join: int\"}",
    "1.join('-')" ->
      "{\"__error__\":\"no such overload: join\"}",
    "join(1, '-')" ->
      "{\"__error__\":\"no such overload: join\"}",
    "'ab'.repeat(2)" ->
      "\"abab\"",
    "repeat('ab', 2)" ->
      "\"abab\"",
    "1.repeat(2)" ->
      "{\"__error__\":\"no such overload: repeat\"}",
    "repeat(1, 2)" ->
      "{\"__error__\":\"no such overload: repeat\"}",
    "'aaa'.replace('a', 'b')" ->
      "\"bbb\"",
    "replace('aaa', 'a', 'b')" ->
      "\"bbb\"",
    "'aaa'.replace('a', 'b', 2)" ->
      "\"bba\"",
    "replace('aaa', 'a', 'b', 2)" ->
      "\"bba\"",
    "1.replace('a', 'b')" ->
      "{\"__error__\":\"no such overload: replace\"}",
    "replace(1, 'a', 'b')" ->
      "{\"__error__\":\"no such overload: replace\"}",
    "'aaa'.replace_all('a', 'b')" ->
      "\"bbb\"",
    "replace_all('aaa', 'a', 'b')" ->
      "\"bbb\"",
    "1.replace_all('a', 'b')" ->
      "{\"__error__\":\"no such overload: replace_all\"}",
    "replace_all(1, 'a', 'b')" ->
      "{\"__error__\":\"no such overload: replace_all\"}",
    "'a,b,c'.split(',')" ->
      "[\"a\",\"b\",\"c\"]",
    "split('a,b,c', ',')" ->
      "[\"a\",\"b\",\"c\"]",
    "1.split(',')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "split(1, ',')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'a,b,c'.split_n(',', 2)" ->
      "[\"a\",\"b,c\"]",
    "split_n('a,b,c', ',', 2)" ->
      "[\"a\",\"b,c\"]",
    "1.split_n(',', 2)" ->
      "{\"__error__\":\"no such overload: split_n\"}",
    "split_n(1, ',', 2)" ->
      "{\"__error__\":\"no such overload: split_n\"}",
    "'a,b,c'.split_after(',')" ->
      "[\"a,\",\"b,\",\"c\"]",
    "split_after('a,b,c', ',')" ->
      "[\"a,\",\"b,\",\"c\"]",
    "1.split_after(',')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "split_after(1, ',')" ->
      "{\"__error__\":\"no such overload on int\"}",
    "'a,b,c'.split_after_n(',', 2)" ->
      "[\"a,\",\"b,c\"]",
    "split_after_n('a,b,c', ',', 2)" ->
      "[\"a,\",\"b,c\"]",
    "1.split_after_n(',', 2)" ->
      "{\"__error__\":\"no such overload: split_after_n\"}",
    "split_after_n(1, ',', 2)" ->
      "{\"__error__\":\"no such overload: split_after_n\"}",
    "'hello'.substring(1, 3)" ->
      "\"el\"",
    "substring('hello', 1, 3)" ->
      "\"el\"",
    "1.substring(1, 3)" ->
      "{\"__error__\":\"no such overload: substring\"}",
    "substring(1, 1, 3)" ->
      "{\"__error__\":\"no such overload: substring\"}",
    "b'ab'.valid_utf8()" ->
      "true",
    "valid_utf8(b'ab')" ->
      "true",
    "1.valid_utf8()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "valid_utf8(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "b'a\\xffb'.to_valid_utf8('?')" ->
      "\"a?b\"",
    "to_valid_utf8(b'a\\xffb', '?')" ->
      "\"a?b\"",
    "1.to_valid_utf8('?')" ->
      "{\"__error__\":\"no such overload: to_valid_utf8\"}",
    "to_valid_utf8(1, '?')" ->
      "{\"__error__\":\"no such overload: to_valid_utf8\"}",
    "timestamp('2024-02-03T04:05:06.789Z').format('2006-01-02')" ->
      "\"2024-02-03\"",
    "format(timestamp('2024-02-03T04:05:06.789Z'), '2006-01-02')" ->
      "\"2024-02-03\"",
    "1.format('2006-01-02')" ->
      "{\"__error__\":\"no such overload: format\"}",
    "format(1, '2006-01-02')" ->
      "{\"__error__\":\"no such overload: format\"}",
    "'2024-01-02'.parse_time('2006-01-02')" ->
      "\"2024-01-02T00:00:00Z\"",
    "parse_time('2024-01-02', '2006-01-02')" ->
      "\"2024-01-02T00:00:00Z\"",
    "'2024-01-02'.parse_time(['x', '2006-01-02'])" ->
      "\"2024-01-02T00:00:00Z\"",
    "parse_time('2024-01-02', ['x', '2006-01-02'])" ->
      "\"2024-01-02T00:00:00Z\"",
    "1.parse_time('x')" ->
      "{\"__error__\":\"no such overload: parse_time\"}",
    "parse_time(1, 'x')" ->
      "{\"__error__\":\"no such overload: parse_time\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getFullYear()" ->
      "2024",
    "getFullYear(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "2024",
    "timestamp('2024-02-03T04:05:06.789Z').getFullYear('America/New_York')" ->
      "2024",
    "getFullYear(timestamp('2024-02-03T04:05:06.789Z'), 'America/New_York')" ->
      "2024",
    "1.getFullYear()" ->
      "{\"__error__\":\"no such overload: getFullYear(int)\"}",
    "getFullYear(1)" ->
      "{\"__error__\":\"no such overload: getFullYear(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getMonth()" ->
      "1",
    "getMonth(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "1",
    "1.getMonth()" ->
      "{\"__error__\":\"no such overload: getMonth(int)\"}",
    "getMonth(1)" ->
      "{\"__error__\":\"no such overload: getMonth(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getDayOfYear()" ->
      "33",
    "getDayOfYear(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "33",
    "1.getDayOfYear()" ->
      "{\"__error__\":\"no such overload: getDayOfYear(int)\"}",
    "getDayOfYear(1)" ->
      "{\"__error__\":\"no such overload: getDayOfYear(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getDayOfMonth()" ->
      "2",
    "getDayOfMonth(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "2",
    "1.getDayOfMonth()" ->
      "{\"__error__\":\"no such overload: getDayOfMonth(int)\"}",
    "getDayOfMonth(1)" ->
      "{\"__error__\":\"no such overload: getDayOfMonth(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getDate()" ->
      "3",
    "getDate(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "3",
    "1.getDate()" ->
      "{\"__error__\":\"no such overload: getDate(int)\"}",
    "getDate(1)" ->
      "{\"__error__\":\"no such overload: getDate(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getDayOfWeek()" ->
      "6",
    "getDayOfWeek(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "6",
    "1.getDayOfWeek()" ->
      "{\"__error__\":\"no such overload: getDayOfWeek(int)\"}",
    "getDayOfWeek(1)" ->
      "{\"__error__\":\"no such overload: getDayOfWeek(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getHours()" ->
      "4",
    "getHours(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "4",
    "timestamp('2024-02-03T04:05:06.789Z').getHours('+05:30')" ->
      "9",
    "getHours(timestamp('2024-02-03T04:05:06.789Z'), '+05:30')" ->
      "9",
    "duration('90m').getHours()" ->
      "1",
    "getHours(duration('90m'))" ->
      "1",
    "timestamp('2024-02-03T04:05:06.789Z').getHours('Nowhere/Land')" ->
      "{\"__error__\":\"cannot parse timezone: Nowhere/Land\"}",
    "getHours(timestamp('2024-02-03T04:05:06.789Z'), 'Nowhere/Land')" ->
      "{\"__error__\":\"cannot parse timezone: Nowhere/Land\"}",
    "1.getHours()" ->
      "{\"__error__\":\"no such overload: getHours(int)\"}",
    "getHours(1)" ->
      "{\"__error__\":\"no such overload: getHours(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getMinutes()" ->
      "5",
    "getMinutes(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "5",
    "duration('90m').getMinutes()" ->
      "90",
    "getMinutes(duration('90m'))" ->
      "90",
    "1.getMinutes()" ->
      "{\"__error__\":\"no such overload: getMinutes(int)\"}",
    "getMinutes(1)" ->
      "{\"__error__\":\"no such overload: getMinutes(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getSeconds()" ->
      "6",
    "getSeconds(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "6",
    "duration('90m').getSeconds()" ->
      "5400",
    "getSeconds(duration('90m'))" ->
      "5400",
    "1.getSeconds()" ->
      "{\"__error__\":\"no such overload: getSeconds(int)\"}",
    "getSeconds(1)" ->
      "{\"__error__\":\"no such overload: getSeconds(int)\"}",
    "timestamp('2024-02-03T04:05:06.789Z').getMilliseconds()" ->
      "789",
    "getMilliseconds(timestamp('2024-02-03T04:05:06.789Z'))" ->
      "789",
    "duration('1.5s').getMilliseconds()" ->
      "1500",
    "getMilliseconds(duration('1.5s'))" ->
      "1500",
    "1.getMilliseconds()" ->
      "{\"__error__\":\"no such overload: getMilliseconds(int)\"}",
    "getMilliseconds(1)" ->
      "{\"__error__\":\"no such overload: getMilliseconds(int)\"}",
    "duration('1.5s').getMilliseconds('UTC')" ->
      "{\"__error__\":\"no such overload: duration.getMilliseconds\"}",
    "getMilliseconds(duration('1.5s'), 'UTC')" ->
      "{\"__error__\":\"no such overload: duration.getMilliseconds\"}",
    "'abc'.md5()" ->
      "\"kAFQmDzST7DWlj99KOF/cg==\"",
    "md5('abc')" ->
      "\"kAFQmDzST7DWlj99KOF/cg==\"",
    "1.md5()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "md5(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'abc'.sha1()" ->
      "\"qZk+NkcGgWq6PiVxeFDCbJzQ2J0=\"",
    "sha1('abc')" ->
      "\"qZk+NkcGgWq6PiVxeFDCbJzQ2J0=\"",
    "1.sha1()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "sha1(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'abc'.sha256()" ->
      "\"ungWv48Bz+pBQUDeXa4iI7ADYaOWF3qctBD/YfIAFa0=\"",
    "sha256('abc')" ->
      "\"ungWv48Bz+pBQUDeXa4iI7ADYaOWF3qctBD/YfIAFa0=\"",
    "1.sha256()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "sha256(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'abc'.hex()" ->
      "\"616263\"",
    "hex('abc')" ->
      "\"616263\"",
    "1.hex()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "hex(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'abc'.base64()" ->
      "\"YWJj\"",
    "base64('abc')" ->
      "\"YWJj\"",
    "1.base64()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "base64(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'abc'.base64_raw()" ->
      "\"YWJj\"",
    "base64_raw('abc')" ->
      "\"YWJj\"",
    "1.base64_raw()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "base64_raw(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'YWJj'.base64_decode()" ->
      "\"YWJj\"",
    "base64_decode('YWJj')" ->
      "\"YWJj\"",
    "1.base64_decode()" ->
      "{\"__error__\":\"no such overload: base64_decode\"}",
    "base64_decode(1)" ->
      "{\"__error__\":\"no such overload: base64_decode\"}",
    "'YWJj'.base64_raw_decode()" ->
      "\"YWJj\"",
    "base64_raw_decode('YWJj')" ->
      "\"YWJj\"",
    "1.base64_raw_decode()" ->
      "{\"__error__\":\"no such overload: base64_raw_decode\"}",
    "base64_raw_decode(1)" ->
      "{\"__error__\":\"no such overload: base64_raw_decode\"}",
    "'d'.hmac('sha256', 'k')" ->
      "\"5+ohw7y2Ok2jrXhQMWjTa9ygvmIjgupgoQj61OSWZnk=\"",
    "hmac('d', 'sha256', 'k')" ->
      "\"5+ohw7y2Ok2jrXhQMWjTa9ygvmIjgupgoQj61OSWZnk=\"",
    "'d'.hmac('sha256', 1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "hmac('d', 'sha256', 1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "1.hmac('sha256', 'k')" ->
      "{\"__error__\":\"no such overload: hmac\"}",
    "hmac(1, 'sha256', 'k')" ->
      "{\"__error__\":\"no such overload: hmac\"}",
    "'POST'.request('http://h.test/a', 'body')" ->
      "{\"Body\":\"body\",\"Close\":false,\"ContentLength\":4,\"Header\":{},\"Host\":\"h.test\",\"Method\":\"POST\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "request('POST', 'http://h.test/a', 'body')" ->
      "{\"Body\":\"body\",\"Close\":false,\"ContentLength\":4,\"Header\":{},\"Host\":\"h.test\",\"Method\":\"POST\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "1.request('u')" ->
      "{\"__error__\":\"no such overload for request\"}",
    "request(1, 'u')" ->
      "{\"__error__\":\"no such overload for request\"}",
    "'http://h.test/a'.get_request()" ->
      "{\"Close\":false,\"ContentLength\":0,\"Header\":{},\"Host\":\"h.test\",\"Method\":\"GET\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "get_request('http://h.test/a')" ->
      "{\"Close\":false,\"ContentLength\":0,\"Header\":{},\"Host\":\"h.test\",\"Method\":\"GET\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "1.get_request()" ->
      "{\"__error__\":\"no such overload for request\"}",
    "get_request(1)" ->
      "{\"__error__\":\"no such overload for request\"}",
    "'http://h.test/a'.post_request('text/plain', 'b')" ->
      "{\"Body\":\"b\",\"Close\":false,\"ContentLength\":1,\"Header\":{\"Content-Type\":[\"text/plain\"]},\"Host\":\"h.test\",\"Method\":\"POST\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "post_request('http://h.test/a', 'text/plain', 'b')" ->
      "{\"Body\":\"b\",\"Close\":false,\"ContentLength\":1,\"Header\":{\"Content-Type\":[\"text/plain\"]},\"Host\":\"h.test\",\"Method\":\"POST\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "1.post_request('text/plain', 'b')" ->
      "{\"__error__\":\"no such overload for post request\"}",
    "post_request(1, 'text/plain', 'b')" ->
      "{\"__error__\":\"no such overload for post request\"}",
    "(base + '/a').get().Body" ->
      "\"R0VUIEJhc2ljIGRUcHcg\"",
    "get((base + '/a')).Body" ->
      "\"R0VUIEJhc2ljIGRUcHcg\"",
    "1.get()" ->
      "{\"__error__\":\"no such overload for get\"}",
    "get(1)" ->
      "{\"__error__\":\"no such overload for get\"}",
    "(base + '/a').head().StatusCode" ->
      "200",
    "head((base + '/a')).StatusCode" ->
      "200",
    "1.head()" ->
      "{\"__error__\":\"no such overload for head\"}",
    "head(1)" ->
      "{\"__error__\":\"no such overload for head\"}",
    "(base + '/a').post('text/plain', 'x').Body" ->
      "\"UE9TVCBCYXNpYyBkVHB3IHg=\"",
    "post((base + '/a'), 'text/plain', 'x').Body" ->
      "\"UE9TVCBCYXNpYyBkVHB3IHg=\"",
    "1.post('text/plain', 'x')" ->
      "{\"__error__\":\"no such overload for post\"}",
    "post(1, 'text/plain', 'x')" ->
      "{\"__error__\":\"no such overload for post\"}",
    "{'URL': base + '/a', 'Method': 'PUT', 'Body': 'x'}.do_request().Body" ->
      "\"UFVUIC0geA==\"",
    "do_request({'URL': base + '/a', 'Method': 'PUT', 'Body': 'x'}).Body" ->
      "\"UFVUIC0geA==\"",
    "1.do_request()" ->
      "{\"__error__\":\"no such overload for do_request\"}",
    "do_request(1)" ->
      "{\"__error__\":\"no such overload for do_request\"}",
    "'GET'.request('http://h.test/a').basic_authentication('u', 'p')" ->
      "{\"Close\":false,\"ContentLength\":0,\"Header\":{\"Authorization\":[\"Basic dTpw\"]},\"Host\":\"h.test\",\"Method\":\"GET\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "basic_authentication('GET'.request('http://h.test/a'), 'u', 'p')" ->
      "{\"Close\":false,\"ContentLength\":0,\"Header\":{\"Authorization\":[\"Basic dTpw\"]},\"Host\":\"h.test\",\"Method\":\"GET\",\"Proto\":\"HTTP/1.1\",\"ProtoMajor\":1,\"ProtoMinor\":1,\"URL\":\"http://h.test/a\"}",
    "1.basic_authentication('u', 'p')" ->
      "{\"__error__\":\"no such overload for request\"}",
    "basic_authentication(1, 'u', 'p')" ->
      "{\"__error__\":\"no such overload for request\"}",
    "'http://u:p@h.test:80/p?q=1#f'.parse_url()" ->
      "{\"ForceQuery\":false,\"Fragment\":\"f\",\"Host\":\"h.test:80\",\"Opaque\":\"\",\"Path\":\"/p\",\"RawFragment\":\"\",\"RawPath\":\"\",\"RawQuery\":\"q=1\",\"Scheme\":\"http\",\"User\":{\"Password\":\"p\",\"PasswordSet\":true,\"Username\":\"u\"}}",
    "parse_url('http://u:p@h.test:80/p?q=1#f')" ->
      "{\"ForceQuery\":false,\"Fragment\":\"f\",\"Host\":\"h.test:80\",\"Opaque\":\"\",\"Path\":\"/p\",\"RawFragment\":\"\",\"RawPath\":\"\",\"RawQuery\":\"q=1\",\"Scheme\":\"http\",\"User\":{\"Password\":\"p\",\"PasswordSet\":true,\"Username\":\"u\"}}",
    "1.parse_url()" ->
      "{\"__error__\":\"no such overload for request\"}",
    "parse_url(1)" ->
      "{\"__error__\":\"no such overload for request\"}",
    "{'Scheme': 'http', 'Host': 'h.test', 'Path': '/p'}.format_url()" ->
      "\"http://h.test/p\"",
    "format_url({'Scheme': 'http', 'Host': 'h.test', 'Path': '/p'})" ->
      "\"http://h.test/p\"",
    "1.format_url()" ->
      "{\"__error__\":\"no such overload\"}",
    "format_url(1)" ->
      "{\"__error__\":\"no such overload\"}",
    "'a=1&b=2&a=3'.parse_query()" ->
      "{\"a\":[\"1\",\"3\"],\"b\":[\"2\"]}",
    "parse_query('a=1&b=2&a=3')" ->
      "{\"a\":[\"1\",\"3\"],\"b\":[\"2\"]}",
    "1.parse_query()" ->
      "{\"__error__\":\"no such overload\"}",
    "parse_query(1)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'a': ['1', '2']}.format_query()" ->
      "\"a=1&a=2\"",
    "format_query({'a': ['1', '2']})" ->
      "\"a=1&a=2\"",
    "1.format_query()" ->
      "{\"__error__\":\"no such overload\"}",
    "format_query(1)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'a': [1]}.encode_json()" ->
      "\"{\\\"a\\\":[1]}\"",
    "encode_json({'a': [1]})" ->
      "\"{\\\"a\\\":[1]}\"",
    "1.encode_json(2)" ->
      "{\"__error__\":\"no such overload: encode_json\"}",
    "encode_json(1, 2)" ->
      "{\"__error__\":\"no such overload: encode_json\"}",
    "'{\"a\": 1}'.decode_json()" ->
      "{\"a\":1}",
    "decode_json('{\"a\": 1}')" ->
      "{\"a\":1}",
    "1.decode_json()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "decode_json(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'1 2'.decode_json_stream()" ->
      "[1,2]",
    "decode_json_stream('1 2')" ->
      "[1,2]",
    "1.decode_json_stream()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "decode_json_stream(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "'<r><f>1.0</f><n>2</n></r>'.decode_xml()" ->
      "{\"doc\":{\"r\":{\"f\":\"1.0\",\"n\":\"2\"}}}",
    "decode_xml('<r><f>1.0</f><n>2</n></r>')" ->
      "{\"doc\":{\"r\":{\"f\":\"1.0\",\"n\":\"2\"}}}",
    "'<r><f>1.0</f><n>2</n></r>'.decode_xml('h')" ->
      "{\"doc\":{\"r\":{\"f\":1,\"n\":2}}}",
    "decode_xml('<r><f>1.0</f><n>2</n></r>', 'h')" ->
      "{\"doc\":{\"r\":{\"f\":1,\"n\":2}}}",
    "'<r/>'.decode_xml('nope')" ->
      "{\"__error__\":\"unknown XSD: nope\"}",
    "decode_xml('<r/>', 'nope')" ->
      "{\"__error__\":\"unknown XSD: nope\"}",
    "1.decode_xml()" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "decode_xml(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "b'abc'.mime('text/upper')" ->
      "\"QUJD\"",
    "mime(b'abc', 'text/upper')" ->
      "\"QUJD\"",
    "'a,b\\n1,2'.mime('text/csv; header=present')" ->
      "[{\"a\":\"1\",\"b\":\"2\"}]",
    "mime('a,b\\n1,2', 'text/csv; header=present')" ->
      "[{\"a\":\"1\",\"b\":\"2\"}]",
    "1.mime('text/upper')" ->
      "{\"__error__\":\"no such overload: mime\"}",
    "mime(1, 'text/upper')" ->
      "{\"__error__\":\"no such overload: mime\"}",
    "{'a': 1}.send_to('pin_ch')" ->
      "{\"a\":1}",
    "send_to({'a': 1}, 'pin_ch')" ->
      "{\"a\":1}",
    "1.send_to(2)" ->
      "{\"__error__\":\"no such overload\"}",
    "send_to(1, 2)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'a': 1}.send_refval_to('pin_ch')" ->
      "{\"a\":1}",
    "send_refval_to({'a': 1}, 'pin_ch')" ->
      "{\"a\":1}",
    "1.send_refval_to(2)" ->
      "{\"__error__\":\"no such overload\"}",
    "send_refval_to(1, 2)" ->
      "{\"__error__\":\"no such overload\"}",
    "null.close('pin_no_channel')" ->
      "{\"__error__\":\"no channel pin_no_channel\"}",
    "close(null, 'pin_no_channel')" ->
      "{\"__error__\":\"no channel pin_no_channel\"}",
    "null.close(2)" ->
      "{\"__error__\":\"no such overload\"}",
    "close(null, 2)" ->
      "{\"__error__\":\"no such overload\"}",
    "{'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], 'X-Rate-Limit-Reset': ['253402300799']}.rate_limit('okta', duration('1m'))" ->
      "{\"burst\":1,\"headers\":\"X-Rate-Limit-Limit=\\\"600\\\" X-Rate-Limit-Remaining=\\\"598\\\" X-Rate-Limit-Reset=\\\"253402300799\\\"\",\"next\":10,\"rate\":6.483528991463317e-8,\"reset\":\"9999-12-31T23:59:59Z\"}",
    "rate_limit({'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], 'X-Rate-Limit-Reset': ['253402300799']}, 'okta', duration('1m'))" ->
      "{\"burst\":1,\"headers\":\"X-Rate-Limit-Limit=\\\"600\\\" X-Rate-Limit-Remaining=\\\"598\\\" X-Rate-Limit-Reset=\\\"253402300799\\\"\",\"next\":10,\"rate\":6.483528991463317e-8,\"reset\":\"9999-12-31T23:59:59Z\"}",
    "{'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], 'X-Rate-Limit-Reset': ['253402300799']}.rate_limit('X-Rate-Limit', true, false, duration('1m'), 5)" ->
      "{\"burst\":5,\"headers\":\"X-Rate-Limit-Limit=\\\"600\\\" X-Rate-Limit-Remaining=\\\"598\\\" X-Rate-Limit-Reset=\\\"253402300799\\\"\",\"next\":10,\"rate\":1.080588165243886e-9,\"reset\":\"9999-12-31T23:59:59Z\"}",
    "rate_limit({'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], 'X-Rate-Limit-Reset': ['253402300799']}, 'X-Rate-Limit', true, false, duration('1m'), 5)" ->
      "{\"burst\":5,\"headers\":\"X-Rate-Limit-Limit=\\\"600\\\" X-Rate-Limit-Remaining=\\\"598\\\" X-Rate-Limit-Reset=\\\"253402300799\\\"\",\"next\":10,\"rate\":1.080588165243886e-9,\"reset\":\"9999-12-31T23:59:59Z\"}",
    "{'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], 'X-Rate-Limit-Reset': ['253402300799']}.rate_limit('okta', 1)" ->
      "{\"__error__\":\"no such overload: rate_limit\"}",
    "rate_limit({'X-Rate-Limit-Limit': ['600'], 'X-Rate-Limit-Remaining': ['598'], 'X-Rate-Limit-Reset': ['253402300799']}, 'okta', 1)" ->
      "{\"__error__\":\"no such overload: rate_limit\"}",
    "1.rate_limit('okta', duration('1m'))" ->
      "{\"__error__\":\"no such overload for headers\"}",
    "rate_limit(1, 'okta', duration('1m'))" ->
      "{\"__error__\":\"no such overload for headers\"}",
    "'food fight'.re_match('word')" ->
      "true",
    "re_match('food fight', 'word')" ->
      "true",
    "1.re_match('word')" ->
      "{\"__error__\":\"no such overload: re_match on int\"}",
    "re_match(1, 'word')" ->
      "{\"__error__\":\"no such overload: re_match on int\"}",
    "'x'.re_match('nope')" ->
      "{\"__error__\":\"no regexp pattern: nope\"}",
    "re_match('x', 'nope')" ->
      "{\"__error__\":\"no regexp pattern: nope\"}",
    "'food fight'.re_find('word')" ->
      "\"food\"",
    "re_find('food fight', 'word')" ->
      "\"food\"",
    "b'food'.re_find('word')" ->
      "\"Zm9vZA==\"",
    "re_find(b'food', 'word')" ->
      "\"Zm9vZA==\"",
    "1.re_find('word')" ->
      "{\"__error__\":\"no such overload: re_find on int\"}",
    "re_find(1, 'word')" ->
      "{\"__error__\":\"no such overload: re_find on int\"}",
    "'food fight'.re_find_all('word')" ->
      "[\"food\",\"fight\"]",
    "re_find_all('food fight', 'word')" ->
      "[\"food\",\"fight\"]",
    "1.re_find_all('word')" ->
      "{\"__error__\":\"no such overload: re_find_all on int\"}",
    "re_find_all(1, 'word')" ->
      "{\"__error__\":\"no such overload: re_find_all on int\"}",
    "'food fight'.re_find_submatch('word')" ->
      "[\"food\",\"food\"]",
    "re_find_submatch('food fight', 'word')" ->
      "[\"food\",\"food\"]",
    "1.re_find_submatch('word')" ->
      "{\"__error__\":\"no such overload: re_find_submatch on int\"}",
    "re_find_submatch(1, 'word')" ->
      "{\"__error__\":\"no such overload: re_find_submatch on int\"}",
    "'food fight'.re_find_all_submatch('word')" ->
      "[[\"food\",\"food\"],[\"fight\",\"fight\"]]",
    "re_find_all_submatch('food fight', 'word')" ->
      "[[\"food\",\"food\"],[\"fight\",\"fight\"]]",
    "1.re_find_all_submatch('word')" ->
      "{\"__error__\":\"no such overload: re_find_all_submatch on int\"}",
    "re_find_all_submatch(1, 'word')" ->
      "{\"__error__\":\"no such overload: re_find_all_submatch on int\"}",
    "'food fight'.re_replace_all('word', 'X')" ->
      "\"X X\"",
    "re_replace_all('food fight', 'word', 'X')" ->
      "\"X X\"",
    "1.re_replace_all('word', 'X')" ->
      "{\"__error__\":\"no such overload: re_replace_all on int\"}",
    "re_replace_all(1, 'word', 'X')" ->
      "{\"__error__\":\"no such overload: re_replace_all on int\"}",
    "optional.none().orValue(1)" ->
      "1",
    "orValue(optional.none(), 1)" ->
      "1",
    "optional.of(2).orValue(1)" ->
      "2",
    "orValue(optional.of(2), 1)" ->
      "2",
    "optional.none().or(optional.of(1))" ->
      "1",
    "or(optional.none(), optional.of(1))" ->
      "1",
    "optional.none().or(1)" ->
      "{\"__error__\":\"no such overload: optional.none().or(int)\"}",
    "or(optional.none(), 1)" ->
      "{\"__error__\":\"no such overload: optional.none().or(int)\"}",
    "optional.of(1).hasValue()" ->
      "true",
    "hasValue(optional.of(1))" ->
      "true",
    "1.hasValue()" ->
      "true",
    "hasValue(1)" ->
      "true",
    "optional.of(1).value()" ->
      "1",
    "value(optional.of(1))" ->
      "1",
    "optional.none().value()" ->
      "{\"__error__\":\"optional.none() dereference\"}",
    "value(optional.none())" ->
      "{\"__error__\":\"optional.none() dereference\"}",
    "int('12')" ->
      "12",
    "int(1.9)" ->
      "1",
    "int(2u)" ->
      "2",
    "int(timestamp('2024-01-01T00:00:00Z'))" ->
      "1704067200",
    "int(duration('1s'))" ->
      "1000000000",
    "int('x')" ->
      "{\"__error__\":\"cannot convert to int: x\"}",
    "int([1])" ->
      "{\"__error__\":\"no such overload: int(list)\"}",
    "uint('3')" ->
      "3",
    "uint(2)" ->
      "2",
    "uint(true)" ->
      "{\"__error__\":\"no such overload: uint(bool)\"}",
    "double('1.5')" ->
      "1.5",
    "double(2)" ->
      "2",
    "double('x')" ->
      "{\"__error__\":\"cannot convert to double: x\"}",
    "double(true)" ->
      "{\"__error__\":\"no such overload: double(bool)\"}",
    "string(1)" ->
      "\"1\"",
    "string(b'ab')" ->
      "\"ab\"",
    "string(b'\\xff')" ->
      "{\"__error__\":\"invalid UTF-8 in bytes, cannot convert to string\"}",
    "string(1.0)" ->
      "\"1\"",
    "string(2.5)" ->
      "\"2.5\"",
    "string(true)" ->
      "\"true\"",
    "string(timestamp('2024-01-01T00:00:00Z'))" ->
      "\"2024-01-01T00:00:00Z\"",
    "string(duration('90s'))" ->
      "\"1m30s\"",
    "string([1])" ->
      "{\"__error__\":\"no such overload: string(list)\"}",
    "bytes('ab')" ->
      "\"YWI=\"",
    "bytes(1)" ->
      "{\"__error__\":\"no such overload: bytes from int\"}",
    "bool('true')" ->
      "true",
    "bool(1)" ->
      "{\"__error__\":\"no such overload: bool(int)\"}",
    "timestamp('2024-01-02T03:04:05Z')" ->
      "\"2024-01-02T03:04:05Z\"",
    "timestamp(0)" ->
      "\"1970-01-01T00:00:00Z\"",
    "timestamp(true)" ->
      "{\"__error__\":\"no such overload: timestamp(bool)\"}",
    "duration('1h')" ->
      "\"3600s\"",
    "duration(1)" ->
      "{\"__error__\":\"no such overload: duration(int)\"}",
    "dyn(1)" ->
      "1",
    "dyn(1, 2)" ->
      "{\"__error__\":\"no such overload: dyn\"}",
    "type(1)" ->
      "\"int\"",
    "type({})" ->
      "\"map\"",
    "type(1, 2)" ->
      "{\"__error__\":\"no such overload: type\"}",
    "now()" ->
      "\"2024-01-01T00:00:00Z\"",
    "now(1)" ->
      "{\"__error__\":\"no such overload: now\"}",
    "uuid().size()" ->
      "36",
    "uuid(1).size()" ->
      "{\"__error__\":\"no such overload: uuid\"}",
    "file('a.txt')" ->
      "\"aGk=\"",
    "file('a.txt', 'text/upper')" ->
      "\"SEk=\"",
    "file(1)" ->
      "{\"__error__\":\"no such overload: file\"}",
    "dir('.').map(e, e.name)" ->
      "[\"a.txt\"]",
    "dir(1)" ->
      "{\"__error__\":\"no such overload: dir\"}",
    "try(1 / 0)" ->
      "\"division by zero\"",
    "try(1 / 0, 'e')" ->
      "{\"e\":\"division by zero\"}",
    "is_error(1 / 0)" ->
      "true",
    "debug('t', 1)" ->
      "1",
    "optional.of(1)" ->
      "1",
    "optional.none()" ->
      "null",
    "optional.ofNonZeroValue(0)" ->
      "null",
    "'1'.int()" ->
      "{\"__error__\":\"no such function: int\"}",
    "foo()" ->
      "{\"__error__\":\"unknown function: foo\"}",
    "foo(1)" ->
      "{\"__error__\":\"no such function: foo\"}",
    "1.foo()" ->
      "{\"__error__\":\"no such function: foo\"}")
}
