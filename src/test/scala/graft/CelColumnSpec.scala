package graft

import graft.cel.{Cel, CelEvalExpression}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The CEL column on real data: every program's `Cel(...)` column
  * (the per-task `Eval.baseEnv` + `evalValueInEnv` path) renders
  * byte-identically to the one-shot `Cel.evalOnce` on the same state;
  * NULL states and the regexp registry behave; and the column's purity
  * decides whether Catalyst may fold it or evaluate it twice.
  */
class CelColumnSpec extends SparkSpec {

  private val NOW = 1704067200000000L

  // programs across the CEL surface, exercised over events.props
  private val corpus = Seq(
    "'hello world'",
    "42",
    "true",
    "null",
    "3.5",
    "state",
    "state.k",
    """{"greeting":"hello world"}""",
    """{"a":{"b":{"c":{"d":{"e":"hello world"}}}}}""",
    """{"a":{"b":{"c":{"d":{"e":"hello world"}}}}}.encode_json()""",
    """{"a":{"b":{"c":{"d":{"e":"hello world"}}}}}.collate('a.b.c.d.e')""",
    """{"state": state}.collate('state.k')""",
    "state.encode_json()",
    """[1, "two", {"three": 3}]""",
    """[[1], [2, 3]].flatten()""",
    """{"b": 2, "a": 1}.keys()""",
    """{"b": 2, "a": 1}.values()""",
    """[3, 1, 2].min()""",
    """[3, 1, 2].max()""",
    """["a","b"].zip([1, 2])""",
    """{"a": 1, "b": 2}.drop("a")""",
    """{"a": 1, "b": {"c": 2}}.drop(["b.c"])""",
    """{"a": [], "b": 1, "c": {}}.drop_empty()""",
    """{"a": 1}.with({"b": 2})""",
    """{"a": 1}.with_update({"a": 9, "b": 2})""",
    """{"a": 1}.with_replace({"a": 9, "b": 2})""",
    """state.as(s, {"doc": s, "k": s.k})""",
    // `as` evaluates the target strictly: a target error propagates even
    // when the body never references the binding
    "state.nope.as(s, 1)",
    "(1 / 0).as(x, 'ok')",
    "state.k.as(x, 2)",
    // error paths: missing key, bad index — in-band error values
    "state.nope",
    "state.k.nope",
    "[1, 2][5]",
    """{"a": 1}["b"]""",
    """[1, 2][1]""",
    // operators
    "1 + 2 * 3",
    "state.k + 1",
    "state.k == 69",
    "state.k >= 50 && state.k < 100",
    "'b' in ['a', 'b']",
    "'k' in state",
    "1 / 0",
    "7 % 3 + 1.5",
    "true || (1 / 0 == 1)",
    "(1 / 0 == 1) || true",
    "false && (1 / 0 == 1)",
    "!(state.k == 69)",
    "-state.k",
    "state.k > 50 ? 'big' : 'small'",
    "1 ? 2 : 3",
    "size('héllo')",
    "size(state)",
    "[1, 2, 3].size()",
    "state.k == 69 ? state : {\"other\": true}",
    // comprehensions
    "[1, 2, 3].map(x, x * 10)",
    "[1, 2, 3].map(x, x > 1, x * 10)",
    "[1, 2, 3].filter(x, x > 1)",
    "[1, 2, 3].all(x, x > 0)",
    "[1, 2, 3].exists(x, x == 2)",
    "[1, 2, 3].exists_one(x, x == 2)",
    """{"b": 2, "a": 1}.map(k, k)""",
    "[1, 0, 2].map(x, 10 / x)",
    "[1, 0, 2].filter(x, 10 / x > 1)",
    "[false, true].all(x, x)",
    "[1, 2].map(x, [x, x]).flatten()",
    "state.k.map(x, x)",
    // strings/json methods through the generic strict-method dispatch
    "'Hello World'.to_lower()",
    "'hello world'.to_title()",
    "'  x  '.trim_space()",
    "'xaax'.trim('x')",
    "'hello'.has_prefix('he')",
    "'a,b,c'.split(',')",
    "'a,b,c'.split(',').join('|')",
    "'héllo'.substring(1, 3)",
    "'mississippi'.count('ss')",
    "'mississippi'.index('ss')",
    "'one two  three'.fields()",
    "'ab'.repeat(3)",
    "'aAbB'.equal_fold('AaBb')",
    """'{"b":1,"a":2}'.decode_json()""",
    """'{"a":1} 2 "x"'.decode_json_stream()""",
    "'abc'.substring(5, 9)", // strict bounds -> in-band error
    "state.k.to_lower()",    // error: to_lower on an int
    // casts over the JSON universe
    "int('42') + 1",
    "int(3.9)",
    "int('nope')",
    "double('1.25') + 1.5",
    "string(state.k)",
    "string(12.5)",
    "string(true)",
    "bool('true') && true",
    "bool(1)",
    "dyn(state)",
    // NonStrict error handlers + has()
    "try(1 / 0)",
    "try(1 / 0, 'err')",
    "try(state.k)",
    "is_error(1 / 0)",
    "is_error(state.k)",
    "has(state.k)",
    "has(state.nope)",
    // typed intermediates: bytes/timestamp/duration literals and producers
    "b\"abc\"",
    "timestamp('2024-01-01T00:00:00Z')",
    "timestamp('2024-01-01T00:00:00Z') + duration('90s')",
    "duration('1m30s')",
    "'2024-01-01'.parse_time('DateOnly')",
    "'x'.md5()",
    "uint('7')",
    "int(duration('1s'))",
    "hmac('data', 'sha256', 'key').hex()",
    "'uryyb'.mime('text/rot13')",
    "'https://u:p@h.example:8080/p?q=1#f'.parse_url()",
    """{"b": ["2"], "a": ["1", "3"]}.format_query()""",
    "'GET'.request('https://example.com').basic_authentication('u', 'p')",
    "[10, 20, 30][state.k % 3]",
    // time ops (typed VTimestamp intermediates)
    "'2024-03-05T06:07:08Z'.parse_time('RFC3339').format('Kitchen')",
    "'2024-03-05'.parse_time(['RFC3339', 'DateOnly']).format('RFC3339')",
    "'not a date'.parse_time('RFC3339').format('Kitchen')", // in-band error
    "format(parse_time('2024-03-05', 'DateOnly'), 'DateTime')",
    "now.format('RFC3339')",
    "now.format(time_layout.Kitchen)",
    "'2024-03-05'.parse_time(time_layout.DateOnly).format('RFC3339')",
    "time_layout.RFC1123",
    "state.k.parse_time('RFC3339').format('Kitchen')", // error: target int
    // digest+encode pairs and bare encodes
    "'hello world'.md5().hex()",
    "'hello world'.sha256().base64()",
    "'hello'.sha1().base64_raw()",
    "hex(md5('abc'))",
    "state.encode_json().md5().hex()",
    "state.k.md5().hex()", // error: digest of an int
    "'hello'.hex()",
    "'hello'.base64()",
    // optional select chains
    "state.?k.orValue(-1)",
    "state.?missing.orValue('d')",
    "state.?missing.hasValue()",
    "state.?k.hasValue()",
    "state.?k.value()",
    "state.?missing.value()",          // error: none dereference
    "state.?missing.?deeper.orValue(1)",
    "state.nope.?x.orValue(1)",        // strict select error propagates
    "optional.of(42).orValue(0)",
    "optional.none().orValue('x')",
    "optional.none().hasValue()",
    "optional.of(state.k).value()",
    "state.k.orValue(9)",              // orValue on non-optional passes through
    "5.orValue(1 / 0)",                // strict default: error propagates
    // optMap/optFlatMap parse-time expansions run through the existing
    // as/ternary/optional surface
    "state.?k.optMap(x, x + 1).orValue(-1)",
    "state.?missing.optMap(x, x + 1).orValue(-1)",
    "optional.of(5).optMap(x, x * 2).value()",
    "state.?k.optFlatMap(x, optional.of(x * 10)).orValue(-1)",
    "state.?missing.optFlatMap(x, optional.of(x)).hasValue()",
    "optional.of(1).optFlatMap(x, optional.none()).orValue('d')",
    "state.nope.optMap(x, x)",         // strict target error propagates
    // optional index `[?k]`, or(), ofNonZeroValue (cel-go OptionalTypes)
    "[1, 2, 3][?1].orValue(0)",
    "[1, 2, 3][?9].orValue(-1)",
    "[1, 2, 3][?(0 - 1)].hasValue()",
    """{"a": 1}[?"a"].orValue(0)""",
    """{"a": 1}[?"z"].hasValue()""",
    "state[?'k'].orValue(-1)",
    "state[?'nope'].orValue(-1)",
    "[[1, 2]][?0][?1].orValue(-1)",    // chaining through an optional target
    "state.?k[?0].orValue(-1)",        // error: optional-index into an int
    "state.?k.or(optional.of(5)).orValue(-1)",
    "state.?nope.or(optional.of(5)).orValue(-1)",
    "state.?nope.or(state.?k).orValue(-1)",
    "optional.none().or(optional.none()).hasValue()",
    "state.k.or(optional.of(1))",      // error: or on a non-optional
    "optional.ofNonZeroValue(0).hasValue()",
    "optional.ofNonZeroValue(0u).hasValue()",
    "optional.ofNonZeroValue(0.0).hasValue()",
    "optional.ofNonZeroValue('').hasValue()",
    "optional.ofNonZeroValue(b'').hasValue()",
    "optional.ofNonZeroValue(false).hasValue()",
    "optional.ofNonZeroValue([]).hasValue()",
    "optional.ofNonZeroValue({}).hasValue()",
    "optional.ofNonZeroValue(null).hasValue()",
    "optional.ofNonZeroValue(duration('0s')).hasValue()",
    "optional.ofNonZeroValue(state.k).orValue(-1)",
    "optional.ofNonZeroValue('x').value()",
    // cel-go STANDARD env: string predicates, matches, time accessors
    "'hello'.contains('ell')",
    "'hello'.startsWith('he')",
    "'hello'.endsWith('lo')",
    "'hello'.matches('h.*o')",
    "matches('hello', '^x')",
    "'abc'.matches('[')",              // error: bad pattern, in-band
    "string(state.k).matches('^[0-9]+$')",
    "timestamp(1500000000).getFullYear()",
    "timestamp(1500000000).getMonth()",
    "timestamp(1500000000).getDayOfYear()",
    "timestamp(1500000000).getDayOfMonth()",
    "timestamp(1500000000).getDate()",
    "timestamp(1500000000).getDayOfWeek()",
    "timestamp(1500000000).getHours()",
    "timestamp(1500000000).getHours('America/New_York')",
    "timestamp(1500000000).getMinutes('+05:30')",
    "timestamp(1500000000).getSeconds()",
    "timestamp(1500000000).getMilliseconds()",
    "timestamp(1500000000 + state.k).getHours('bogus/zone')", // error in-band
    "duration('90m').getHours()",
    "duration('-90m').getMinutes()",
    "duration('90m').getSeconds()",
    "duration('1s').getMilliseconds()",
    "timestamp(1500000000 + state.k * 3600).getHours()",
    "state.k.getHours()",              // error: accessor on an int
    // type() and the type-identifier bindings
    "type(state.k) == int",
    "type(state) == map ? 'doc' : 'other'",
    "[1, 'a', true].map(x, type(x))",
    "type(state.k)",
    // int-keyed maps: typed keys survive keys()/values()/iteration
    // (typedKeys — numeric order, VInt)
    """{2: "b", 10: "a", 1: "c"}.keys()""",
    """{2: "b", 10: "a"}.values()""",
    """{2: "b", 10: "a", 1: "c"}.map(k, k)""",
    """{1: "a", 2: "b"}.map(k, k > 1, k * 10)""",
    """{1: "a"} == {"1": "a"}""",      // key type is part of map equality
    """{1: "a", 2: "b"}.exists(k, k == 2)""",
    // duplicate keys are in-band errors (Eval.mapFromPairs)
    """{1: "a", 1: "b"}""",
    """{"a": 1, "a": 2}""",
    """{1: "a", 1u: "b"}""",
    """{1: "a", "1": "b"}""",
    """try({"k": 1, "k": 2})""",
    // the wide-program bench shape
    Bench.wideChain)

  // calls that read the outside world, change it or draw randomness:
  // the column must be nondeterministic and never fold
  private val impure = Seq(
    "uuid()",
    "file('x.txt')",
    "dir('.')",
    "debug('tag', 1)",
    "state.send_to('ch')",
    "'ch'.close()",
    "'https://example.com'.get()",
    "{\"URL\": \"https://example.com\"}.do_request()",
    "state.rate_limit('okta', duration('1m'))",
    "[1, 2].map(x, uuid())",
    "{'a': 1}.with({'id': uuid()})")

  /** The analyzed CelEvalExpression of `c` selected over `df`. */
  private def celExpr(c: Column, df: DataFrame = spark.range(1).toDF()): CelEvalExpression =
    df.select(c).queryExecution.analyzed.expressions
      .flatMap(_.collectFirst { case e: CelEvalExpression => e }).head

  /** Rows (props, program output) of one Spark job over `props`. */
  private def outputs(props: DataFrame, c: Column): Seq[(String, String)] =
    props.select(col("props"), c.as("out")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))

  test("Cel column equals Cel.evalOnce per row on events") {
    val props = Tables(spark, sf).events.select(col("props")).limit(200).cache()
    corpus.foreach { program =>
      val rows = outputs(props, Cel(program, col("props"), nowMicros = NOW))
      assert(rows.size == 200)
      rows.foreach { case (state, got) =>
        val want = if (state == null) null else Cel.evalOnce(program, state, NOW)
        assert(got == want, s"$program on $state: column=$got evalOnce=$want")
      }
    }
  }

  test("NULL state column: every CEL program yields NULL") {
    val df = spark.range(1).select(lit(null).cast("string").as("props"))
    Seq("""{"doc": state}""", "[state]", """[1, state, "x"]""",
      "state.k", "state", "'constant'",
      "[1, 2].map(i, state.k + i)",
      "[1, 2].map(i, i > state.k, i)",
      "[1, 2].filter(i, i > state.k)",
      "[1, 2].all(i, i > state.k)",
      "[1, 2].exists(i, i > state.k)",
      "[1, 2].exists_one(i, i > state.k)").foreach { p =>
      val r = df.select(Cel(p, col("props"), nowMicros = NOW).as("x")).take(1).head
      assert(r.isNullAt(0), s"$p: $r")
    }
  }

  test("regexp methods resolve through the column's pattern registry") {
    val re = Map("word" -> "([a-z]+)", "digits" -> "[0-9]+")
    val programs = Seq(
      "'food fight'.re_match('word')",
      "'a1b22c333'.re_find_all('digits')",
      "'food'.re_find_submatch('word')",
      "'food fight'.re_replace_all('word', 'X')",
      "state.encode_json().re_find('digits')",
      "'x'.re_match('nope')") // unknown pattern name: in-band error
    val props = Tables(spark, sf).events.select(col("props")).limit(100)
    programs.foreach { program =>
      outputs(props, Cel(program, col("props"), re, NOW)).foreach { case (state, got) =>
        assert(got == Cel.evalOnce(program, state, NOW, re), s"$program on $state")
      }
    }
    val unknown = spark.range(1).select(
      Cel("'x'.re_match('nope')", lit("{}"), re, NOW)).head().getString(0)
    assert(unknown.contains("no regexp pattern: nope"), unknown)
  }

  test("uuid() over a literal state runs per row, not once at plan time") {
    val us = spark.range(2000).select(Cel("uuid()", lit("{}"), nowMicros = NOW).as("u"))
      .collect().map(_.getString(0))
    assert(us.distinct.length == 2000)
  }

  test("a filter on an impure CEL column keeps only rows that satisfy it") {
    // pushing the filter below the projection would run uuid() twice per
    // row: once for the predicate and once for the kept value
    val kept = spark.range(2000)
      .select(Cel("uuid()", col("id").cast("string"), nowMicros = NOW).as("u"))
      .filter(col("u").startsWith("\"a"))
      .collect().map(_.getString(0))
    assert(kept.nonEmpty)
    assert(kept.forall(_.startsWith("\"a")), kept.filterNot(_.startsWith("\"a")).take(3).toSeq)
  }

  test("purity: impure programs never fold, pure programs over a literal state do") {
    impure.foreach { p =>
      val e = celExpr(Cel(p, lit("{}"), nowMicros = NOW))
      assert(!e.deterministic && !e.foldable, s"must be impure: $p")
    }
    // `now` is the column's plan-time constant, so it is pure
    (corpus :+ "now" :+ "now.format('RFC3339')").foreach { p =>
      val e = celExpr(Cel(p, lit("{}"), nowMicros = NOW))
      assert(e.deterministic && e.foldable, s"must be pure: $p")
    }
    val df = spark.range(3).select(Cel("state.k + 1", lit("""{"k": 1}"""), nowMicros = NOW).as("x"))
    val plan = df.queryExecution.optimizedPlan
    assert(!plan.expressions.exists(_.exists(_.isInstanceOf[CelEvalExpression])),
      s"expected the pure program to fold:\n$plan")
    assert(plan.expressions.exists(_.exists {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => String.valueOf(v) == "2"
      case _ => false
    }), s"expected the folded Literal:\n$plan")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("2", "2", "2"))
  }

  test("compatibility: Cel.lower is None, tierOf is interpreted, auto is apply") {
    val props = Tables(spark, sf).events.orderBy(col("event_id")).limit(50)
    val programs = Seq("state.k", "state.encode_json()", Bench.wideChain)
    programs.foreach { p =>
      assert(Cel.lower(p, col("props"), nowMicros = Some(NOW)).isEmpty)
      val auto = Cel.auto(p, col("props"), NOW)
      assert(Cel.tierOf(auto) == "interpreted")
      assert(celExpr(auto, props) == celExpr(Cel(p, col("props"), nowMicros = NOW), props))
    }
    val both = props.select(Cel.auto(Bench.wideChain, col("props"), NOW).as("a"),
      Cel(Bench.wideChain, col("props"), nowMicros = NOW).as("b")).collect()
    assert(both.forall(r => r.getString(0) == r.getString(1)))
  }
}
