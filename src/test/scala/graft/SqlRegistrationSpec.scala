package graft

import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, concat, hex => hexOf, length, lit, split, unhex, upper}

/** The SQL registrations (GraftFunctions.builders) and the Column API
  * (graft.functions): this spec runs every registered json_* / v_*
  * name, and every name built from its Column form, through both on the
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
  private val bin = d.cast("binary")
  private val xml = concat(lit("<r><a>"), col("i"), lit("</a></r>"))
  private val hints = """{"r":{"children":{"a":{"type":"int"}}}}"""
  private val url = concat(lit("http://h.test/p?i="), col("i"))
  private val query = concat(lit("a=1&b="), col("i"))
  // "hello", gzipped
  private val gz: String = {
    val out = new java.io.ByteArrayOutputStream
    val z = new java.util.zip.GZIPOutputStream(out)
    z.write("hello".getBytes("UTF-8")); z.close()
    out.toByteArray.map(b => f"${b & 0xff}%02X").mkString
  }

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
      v_render(v_drop(v, Seq("c.d", "b")))),
    ("decode_json_stream", "decode_json_stream(doc)", decode_json_stream(d)),
    ("is_error", "is_error(doc)", is_error(d)),
    ("try_weaken", "try_weaken(doc)", try_(d)),
    ("count_substr", "count_substr(doc, 'a')", count_substr(d, lit("a"))),
    ("index_str", "index_str(doc, 'a')", index_str(d, lit("a"))),
    ("last_index_str", "last_index_str(doc, 'a')", last_index(d, lit("a"))),
    ("index_any", "index_any(doc, 'ab')", index_any(d, lit("ab"))),
    ("last_index_any", "last_index_any(doc, 'ab')", last_index_any(d, lit("ab"))),
    ("compare_str", "compare_str(doc, '{')", compare_str(d, lit("{"))),
    ("contains_any", "contains_any(doc, 'xz')", contains_any(d, lit("xz"))),
    ("equal_fold", "equal_fold(doc, upper(doc))", equal_fold(d, upper(d))),
    ("substring_runes", "substring_runes(doc, 1, 4)", substring_runes(d, lit(1L), lit(4L))),
    ("to_title", "to_title(doc)", to_title(d)),
    ("to_valid_utf8", "to_valid_utf8(cast(doc as binary), '?')", to_valid_utf8(bin, lit("?"))),
    ("trim_cutset", "trim_cutset(doc, '{}[]')", trim_cutset(d, lit("{}[]"))),
    ("trim_prefix", "trim_prefix(doc, '{')", trim_prefix(d, lit("{"))),
    ("trim_suffix", "trim_suffix(doc, '}')", trim_suffix(d, lit("}"))),
    ("fields_str", "fields_str(doc)", fields_str(d)),
    ("split_n", "split_n(doc, ',', 2)", split_n(d, lit(","), lit(2L))),
    ("split_after", "split_after(doc, ',')", split_after(d, lit(","))),
    ("split_after_n", "split_after_n(doc, ',', 2)", split_after_n(d, lit(","), lit(2L))),
    ("replace_n", "replace_n(doc, 'a', 'b', 1)", replace_n(d, lit("a"), lit("b"), lit(1L))),
    ("duration_go", "duration_go('1h30m')", duration_go(lit("1h30m"))),
    ("format_duration_go", "format_duration_go(length(doc) * 1000000)",
      format_duration_go(length(d) * 1000000)),
    ("md5_bytes", "hex(md5_bytes(cast(doc as binary)))", hexOf(md5_bytes(bin))),
    ("sha1_bytes", "hex(sha1_bytes(cast(doc as binary)))", hexOf(sha1_bytes(bin))),
    ("sha256_bytes", "hex(sha256_bytes(cast(doc as binary)))", hexOf(sha256_bytes(bin))),
    ("base64_std", "base64_std(cast(doc as binary))", base64_std(bin)),
    ("base64_raw", "base64_raw(cast(doc as binary))", base64_raw(bin)),
    ("base64_decode", "hex(base64_decode(base64_std(cast(doc as binary))))",
      hexOf(base64_decode(base64_std(bin)))),
    ("hex_lower", "hex_lower(cast(doc as binary))", hex_lower(bin)),
    ("simhash64", "simhash64(split(doc, ' '))", simhash64(split(d, " "))),
    ("morton16", "morton16(i, length(doc))", morton16(col("i"), length(d))),
    ("rolling_fingerprint", "rolling_fingerprint(split(doc, ' '))",
      rolling_fingerprint(split(d, " "))),
    ("lang_id", "lang_id(split(doc, ' '))", lang_id(split(d, " "))),
    ("gunzip", s"hex(gunzip(unhex('$gz')))", hexOf(gunzip(unhex(lit(gz))))),
    ("ndjson_docs", "ndjson_docs(cast(doc as binary))", ndjson_docs(bin)),
    ("rot13", "hex(rot13(cast(doc as binary)))", hexOf(rot13(bin))),
    ("csv_header", "csv_header(cast('a,b\\n1,2' as binary))", csv_header(lit("a,b\n1,2").cast("binary"))),
    ("csv_no_header", "csv_no_header(cast('a,b\\n1,2' as binary))",
      csv_no_header(lit("a,b\n1,2").cast("binary"))),
    ("decode_xml", "decode_xml(concat('<r><a>', i, '</a></r>'))", decode_xml(xml)),
    ("decode_xml_hinted", s"decode_xml_hinted(concat('<r><a>', i, '</a></r>'), '$hints')",
      decode_xml(xml, lit(hints))),
    ("parse_url", "parse_url(concat('http://h.test/p?i=', i))", parse_url(url)),
    ("format_url", "format_url(parse_url(concat('http://h.test/p?i=', i)))",
      format_url(parse_url(url))),
    ("parse_query", "parse_query(concat('a=1&b=', i))", parse_query(query)),
    ("format_query", "format_query(parse_query(concat('a=1&b=', i)))",
      format_query(parse_query(query))))

  test("every SQL-registered json_* / v_* name has a Column twin in this spec") {
    // and so does every name built from its Column form
    val registered = GraftFunctions.builders.map(_._1)
      .filter(n => n.startsWith("json_") || n.startsWith("v_")).toSet ++
      GraftFunctions.fromColumns.map(_._1)
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
