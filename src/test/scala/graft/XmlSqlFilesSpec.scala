package graft

import graft.functions._
import org.apache.spark.sql.functions.{col, lit}

class XmlSqlFilesSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def evalXml(xml: String, hints: String = ""): String =
    Seq(xml).toDF("x").select(
      (if (hints.isEmpty) decode_xml(col("x")) else decode_xml(col("x"), lit(hints))).as("r"))
      .head().getString(0)

  test("decode_xml: schemaless, repeated siblings promote to lists") {
    val xml = "<order><item>a</item><item>b</item><qty>2</qty></order>"
    assert(evalXml(xml) ==
      """{"doc":{"order":{"item":["a","b"],"qty":"2"}}}""")
  }

  test("decode_xml: attributes become fields; mixed content keeps #text") {
    val xml = """<p id="7">hello<b>x</b></p>"""
    assert(evalXml(xml) == """{"doc":{"p":{"#text":"hello","b":"x","id":"7"}}}""")
  }

  test("decode_xml: hint tree types and pluralizes (entype semantics)") {
    val xml = "<r><n>42</n><f>1.5</f><b>TRUE</b><maybe>yes</maybe></r>"
    val hints =
      """{"r":{"children":{
           "n":{"type":"int"},
           "f":{"type":"float"},
           "b":{"type":"bool"},
           "maybe":{"type":"bool","plural":true}}}}"""
    assert(evalXml(xml, hints) ==
      """{"doc":{"r":{"b":true,"f":1.5,"maybe":["yes"],"n":42}}}""")
  }

  test("decode_xml: malformed input is an in-band error value") {
    val out = evalXml("<a><b></a>")
    assert(out.contains("__error__"))
  }

  test("decode_xml: tag-less input reports Go's unexpected EOF") {
    assert(evalXml("""{"not": "xml"}""") ==
      """{"__error__":"failed to unmarshal XML document: unexpected EOF"}""")
  }

  test("compile_xsd builds the reference Details hint tree (xml/xml.go:61-138)") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/testdata/xml.txt")))
    val xsd = txt.substring(
      txt.indexOf("-- order.xsd --") + "-- order.xsd --".length,
      txt.indexOf("-- order_one.xml --"))
    val hints = compile_xsd(xsd)
    // only interesting nodes survive: item is plural with typed children;
    // the all-string address subtree is pruned
    assert(hints ==
      """{"order":{"children":{"item":{"children":{"cost":{"type":"float"},""" +
        """"number":{"type":"int"},"sent":{"type":"bool"}},"plural":true}}}}""")
    val xml = """<order><item><name>x</name><number>1</number><cost>9.90</cost>
                |<sent>TRUE</sent></item></order>""".stripMargin.replace("\n", "")
    assert(evalXml(xml, hints) ==
      """{"doc":{"order":{"item":[{"cost":9.9,"name":"x","number":1,"sent":true}]}}}""")
  }

  test("SQL registration exposes the surface to spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT json_collate('{"a":[{"b":1},{"b":2}]}', 'a.b') AS c,
                hex_lower(md5_bytes(cast('hello world' AS binary))) AS h,
                to_title('her highness') AS t,
                format_time_go(timestamp'2024-03-05 07:08:09', 'RFC3339') AS f,
                json_flatten_deep('[[1],[2,[3]]]') AS fl,
                decode_xml('<a><b>1</b></a>') AS x,
                morton16(3, 5) AS z""").head()
    assert(r.getString(0) == "[1,2]")
    assert(r.getString(1) == "5eb63bbbe01eeed093cb22bb8f5acdc3")
    assert(r.getString(2) == "HER HIGHNESS")
    assert(r.getString(3) == "2024-03-05T07:08:09Z")
    assert(r.getString(4) == "[1,2,[3]]")
    assert(r.getString(5) == """{"doc":{"a":{"b":"1"}}}""")
    assert(r.getLong(6) == 39L) // x=3 even bits, y=5 odd: 0b100111
  }

  test("cel() runs CEL programs from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cel('{"k10": state.k + 10, "big": state.k > 50}',
                    '{"k": 69}') AS pure,
                cel('state.send_to("sql-ch")', '{"k": 1}') AS side_effect,
                split_after('a,b,c', ',') AS sa,
                replace_n('x.x.x', 'x', 'y', 2) AS rn,
                compare_str('a', 'b') AS cmp,
                duration_go('90s') AS dur""").head()
    assert(r.getString(0) == """{"big":true,"k10":79}""")
    assert(r.getString(1) == """{"k":1}""") // side-effecting: not folded
    assert(r.getSeq[String](2) == Seq("a,", "b,", "c"))
    assert(r.getString(3) == "y.y.x")
    assert(r.getInt(4) == -1)
    assert(r.getLong(5) == 90000000L)
    // variant tier from SQL: parse_json is the builtin entry point
    val v = spark.sql(
      """SELECT v_render(v_with(parse_json('{"b":2,"a":1}'), parse_json('{"c":3}'))) AS m,
                v_keys(parse_json('{"b":2,"a":1}')) AS ks,
                v_size(parse_json('{"b":2,"a":1}')) AS n""").head()
    assert(v.getString(0) == """{"a":1,"b":2,"c":3}""")
    assert(v.getString(1) == """["a","b"]""")
    assert(v.getLong(2) == 2L)
    // non-literal program is rejected at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT cel(concat('sta', 'te'), '{}')").head()
    }
    assert(e.getMessage.contains("STRING literal"))
  }

  test("Files.file reads bytes distributed; Files.dir lists") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-files")
    java.nio.file.Files.writeString(tmp.resolve("a.txt"), "AAA")
    java.nio.file.Files.writeString(tmp.resolve("b.txt"), "BB")
    val rows = graft.sources.Files.file(spark, tmp.toString + "/*.txt")
      .select(col("length")).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(2L, 3L))
    val listing = graft.sources.Files.dir(spark, tmp.toString)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(listing == Seq(("a.txt", 3L), ("b.txt", 2L)))
  }

  test("Files.fileMime csv/ndjson routes through DataFrameReader") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mime")
    java.nio.file.Files.writeString(tmp.resolve("h.csv"), "x,y\n1,2\n3,4\n")
    val csv = graft.sources.Files.fileMime(spark, tmp.resolve("h.csv").toString,
      "text/csv; header=present")
    assert(csv.columns.toSeq == Seq("x", "y"))
    assert(csv.count() == 2)
    java.nio.file.Files.writeString(tmp.resolve("d.ndjson"), "{\"a\":1}\nnot json\n{\"a\":2}\n")
    val nd = graft.sources.Files.fileMime(spark, tmp.resolve("d.ndjson").toString,
      "application/x-ndjson")
    assert(nd.count() == 3)
    // (querying the corrupt column alone is restricted on raw file scans,
    // so materialize the full rows)
    val rows = nd.collect()
    assert(rows.count(r => r.getAs[String]("__error__") != null) == 1)
  }
}
