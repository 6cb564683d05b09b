package graft

import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** The SQL registrations (GraftFunctions.builders) and the Column API
  * (graft.functions) build the json_* and v_* functions separately;
  * this spec runs every registered json_* / v_* name through both on the
  * VariantSpec documents and requires identical results. */
class SqlRegistrationSpec extends SparkSpec {

  private val docs = Seq(
    """{"k": 69}""",
    """{"b": 2, "a": 1, "c": {"d": [1, 2, 3], "e": "x"}}""",
    """{"nested": {"deep": {"list": [{"v": 1}, {"v": 2}]}}}""",
    """{"s": "say \"hi\"\n\ttab", "neg": -5, "f": 1.5, "t": true, "z": null}""",
    """[1, "two", {"three": 3}, [4, 5]]""",
    """{"empty_obj": {}, "empty_list": [], "zero": 0, "blank": ""}""",
    """{"uni": "héllo wörld ✓"}""")

  private val src = """{"a": 9, "new": true}"""
  private val d = col("doc")
  private val v = v_parse(d)
  private val vs = v_parse(lit(src))

  /** (registered name, SQL text, Column twin); variant results render. */
  private val cases: Seq[(String, String, Column)] = Seq(
    ("json_collate", "json_collate(doc, 'c.d')", json_collate(d, "c.d")),
    ("json_drop", "json_drop(doc, 'c.d')", json_drop(d, "c.d")),
    ("json_drop_empty", "json_drop_empty(doc)", json_drop_empty(d)),
    ("json_flatten_deep", "json_flatten_deep(doc)", json_flatten_deep(d)),
    ("json_with", s"json_with(doc, '$src')", json_with(d, lit(src))),
    ("json_with_update", s"json_with_update(doc, '$src')", json_with_update(d, lit(src))),
    ("json_with_replace", s"json_with_replace(doc, '$src')", json_with_replace(d, lit(src))),
    ("json_keys", "json_keys(doc)", json_keys(d)),
    ("json_values", "json_values(doc)", json_values(d)),
    ("json_zip", "json_zip(json_keys(doc), json_values(doc))", json_zip(json_keys(d), json_values(d))),
    ("json_min", "json_min(json_values(doc))", json_min(json_values(d))),
    ("json_max", "json_max(doc)", json_max(d)),
    ("json_normalize", "json_normalize(doc)", json_normalize(d)),
    ("json_elements", "json_elements(doc)", json_elements(d)),
    ("v_render", "v_render(parse_json(doc))", v_render(v)),
    ("v_get", "v_render(v_get(parse_json(doc), 'c.e'))", v_render(v_get(v, lit("c.e")))),
    ("v_has", "v_has(parse_json(doc), 'c.d')", v_has(v, lit("c.d"))),
    ("v_collate", "v_collate(parse_json(doc), 'c.d')", v_collate(v, lit("c.d"))),
    ("v_with", s"v_render(v_with(parse_json(doc), parse_json('$src')))", v_render(v_with(v, vs))),
    ("v_with_update", s"v_render(v_with_update(parse_json(doc), parse_json('$src')))",
      v_render(v_with_update(v, vs))),
    ("v_with_replace", s"v_render(v_with_replace(parse_json(doc), parse_json('$src')))",
      v_render(v_with_replace(v, vs))),
    ("v_keys", "v_keys(parse_json(doc))", v_keys(v)),
    ("v_values", "v_values(parse_json(doc))", v_values(v)),
    ("v_size", "v_size(parse_json(doc))", v_size(v)),
    ("v_drop", "v_render(v_drop(parse_json(doc), array('c.d', 'b')))",
      v_render(v_drop(v, Seq("c.d", "b")))))

  test("every SQL-registered json_* / v_* name has a Column twin in this spec") {
    val registered = GraftFunctions.builders.map(_._1)
      .filter(n => n.startsWith("json_") || n.startsWith("v_")).toSet
    assert(cases.map(_._1).toSet == registered)
  }

  test("SQL json_* / v_* registrations agree with their graft.functions twins") {
    val session = spark
    import session.implicits._
    GraftFunctions.register(spark)
    val df = docs.zipWithIndex.toDF("doc", "i")
    df.createOrReplaceTempView("sql_registration_docs")
    for ((name, sql, twin) <- cases) {
      val viaSql = spark.sql(s"SELECT $sql AS r FROM sql_registration_docs ORDER BY i")
        .collect().map(_.get(0)).toSeq
      val viaCol = df.orderBy("i").select(twin.as("r")).collect().map(_.get(0)).toSeq
      assert(viaSql.length == docs.length, name)
      assert(viaSql == viaCol, s"$name: $viaSql != $viaCol")
    }
  }
}
