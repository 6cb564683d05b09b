package graft

import graft.functions._
import graft.values.JsonAlgebra
import org.apache.spark.sql.functions._

/** Parity harness for the VariantType entry points: every v_* operator
  * must render identically to the json_* string tier (whose semantics
  * are oracle- and golden-verified) on the same inputs. Both reach the
  * same kernels (v_* through to_json/parse_json).
  */
class VariantSpec extends SparkSpec {

  private val docs = Seq(
    """{"k": 69}""",
    """{"b": 2, "a": 1, "c": {"d": [1, 2, 3], "e": "x"}}""",
    """{"nested": {"deep": {"list": [{"v": 1}, {"v": 2}]}}}""",
    """{"s": "say \"hi\"\n\ttab", "neg": -5, "f": 1.5, "t": true, "z": null}""",
    """[1, "two", {"three": 3}, [4, 5]]""",
    """{"empty_obj": {}, "empty_list": [], "zero": 0, "blank": ""}""",
    """{"uni": "héllo wörld ✓"}""")

  private def one(col0: org.apache.spark.sql.Column): Seq[Any] = {
    val session = spark
    import session.implicits._
    docs.toDF("doc").select(col0).collect().map(_.get(0)).toSeq
  }

  test("FLOAT variants render the shortest float32 form, not the double widening") {
    val session = spark
    import session.implicits._
    // 0.1f.toDouble = 0.10000000149011612; Go marshals float32(0.1) as 0.1
    val got = Seq(0.1f, 2.0f, -5.5f).toDF("f")
      .select(v_render(expr("cast(f as variant)")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("0.1", "2", "-5.5"), got.toString)
  }

  test("v_render(parse) is the canonical sorted-key Go render") {
    val got = one(v_render(v_parse(col("doc"))))
    val want = docs.map(d => JsonAlgebra.render(JsonAlgebra.parse(d)))
    assert(got == want)
  }

  test("v_collate matches json_collate on nested paths") {
    for (p <- Seq("k", "c.d", "c.e", "nested.deep.list", "missing", "a")) {
      val got = one(v_collate(v_parse(col("doc")), lit(p)))
      val want = one(json_collate(col("doc"), lit(p)))
      assert(got == want, s"collate('$p'): $got != $want")
    }
  }

  test("v_with / v_with_update / v_with_replace match the string tier") {
    val src = """{"a": 9, "new": true}"""
    def pair(vf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
        jf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
      val got = one(v_render(vf(v_parse(col("doc")), v_parse(lit(src)))))
      val want = one(jf(col("doc"), lit(src)))
      assert(got == want, s"$got != $want")
    }
    pair(v_with, json_with)
    pair(v_with_update, json_with_update)
    pair(v_with_replace, json_with_replace)
  }

  test("v_keys / v_values / v_size match the string tier") {
    assert(one(v_keys(v_parse(col("doc")))) == one(json_keys(col("doc"))))
    assert(one(v_values(v_parse(col("doc")))) == one(json_values(col("doc"))))
    val sizes = one(v_size(v_parse(col("doc"))))
    assert(sizes == Seq(1L, 3L, 1L, 5L, 4L, 4L, 1L))
  }

  test("v_get walks dotted paths with in-band errors") {
    assert(one(v_render(v_get(v_parse(col("doc")), lit("c.e")))) ==
      Seq("""{"__error__":"no such key: c"}""", "\"x\"",
        """{"__error__":"no such key: c"}""", """{"__error__":"no such key: c"}""",
        """{"__error__":"no such key: c"}""", """{"__error__":"no such key: c"}""",
        """{"__error__":"no such key: c"}"""))
    assert(one(v_has(v_parse(col("doc")), lit("c.d"))) ==
      Seq(false, true, false, false, false, false, false))
  }

  test("v_drop removes dotted paths like json_drop") {
    val got = one(v_render(v_drop(v_parse(col("doc")), Seq("c.d", "b"))))
    val want = one(json_drop_all(col("doc"), Seq("c.d", "b")))
    assert(got == want, s"$got != $want")
  }

  test("v_* follow the json_* semantics where the variant-native kernel differed") {
    val session = spark
    import session.implicits._
    def render(c: org.apache.spark.sql.Column): String =
      Seq(1).toDF("i").select(c).head().get(0).toString
    // invalid paths are validated lazily, when the walk reaches a map
    assert(render(v_collate(v_parse(lit("[1,2]")), lit("a."))) == "[]")
    assert(render(v_collate(v_parse(lit("[1,2]")), lit("a."))) ==
      render(json_collate(lit("[1,2]"), lit("a."))))
    assert(render(v_collate(v_parse(lit("""{"a":1}""")), lit("a."))) ==
      """{"__error__":"invalid parameter path for drop: a."}""")
    assert(render(v_render(v_drop(v_parse(lit("[1]")), Seq("a.")))) == "[1]")
    // a nested {"__error__": ...} object is a map: the path walks on
    assert(render(v_render(v_get(v_parse(lit("""{"a":{"__error__":"m"}}""")), lit("a.b")))) ==
      """{"__error__":"no such key: b"}""")
    // a top-level error document is an error value (size -1, not 1)
    assert(render(v_size(v_parse(lit("""{"__error__":"m"}""")))) == "-1")
    // exact decimals render in the float64 form, like json_normalize
    assert(render(v_render(v_parse(lit("0.1000000000000000055511151231257827")))) == "0.1")
    // integers beyond 64 bits wrap like the CEL parse
    assert(render(v_render(v_parse(lit("""{"n":18446744073709551617}""")))) == """{"n":1}""")
  }

  test("variant columns round-trip through parquet and stay operable") {
    // the 100 TB story: parse ONCE at ingest, persist the variant column,
    // run every later pipeline stage off the binary encoding
    val dir = java.nio.file.Files.createTempDirectory("variant-rt").toString
    Tables(spark, sf).events.limit(300)
      .select(col("event_id"), v_parse(col("props")).as("doc"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("doc").dataType ==
      org.apache.spark.sql.types.VariantType)
    val both = back
      .join(Tables(spark, sf).events.select(col("event_id"), col("props")), "event_id")
      .select(v_render(v_with(col("doc"), v_parse(lit("""{"seen": true}""")))).as("v"),
        json_with(col("props"), lit("""{"seen": true}""")).as("j"))
    assert(both.count() == 300)
    assert(both.filter(col("v") =!= col("j")).count() == 0)
  }

  test("variant tier parity over events.props at volume") {
    val props = Tables(spark, sf).events.select(col("props")).limit(500)
    val both = props.select(
      v_render(v_with(v_parse(col("props")), v_parse(lit("""{"seen": true}""")))).as("v"),
      json_with(col("props"), lit("""{"seen": true}""")).as("j"))
    assert(both.filter(col("v") =!= col("j")).count() == 0)
    val coll = props.select(
      v_collate(v_parse(col("props")), lit("k")).as("v"),
      json_collate(col("props"), lit("k")).as("j"))
    assert(coll.filter(col("v") =!= col("j")).count() == 0)
  }
}
