package graft.queries

import graft.Tables
import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-gated queries for the format-decoder families that previously
  * had only golden-replay coverage: MIME (csv/ndjson/rot13 —
  * reference lib/mime.go), XML schemaless + XSD-hinted decode
  * (lib/xml.go, lib/xml/xml.go), rate-limit header interpretation
  * (lib/limit.go), and format_url (lib/http.go formatURL).
  *
  * Pattern: each query CONSTRUCTS its payload from table columns, runs
  * the decoder, and the DuckDB oracle independently reconstructs the
  * expected decoded output from the same base columns — so the kernels
  * are verified against an implementation-free rebuild, not themselves.
  */
object Formats {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // csv with header: quoted field containing a comma, two data rows
    "q60_mime_csv_header" -> { (s, dir) =>
      val b = concat(lit("id,name,qty\n"),
        col("event_id").cast("string"), lit(",\"a,"), col("event_type"),
        lit("\","), col("user_id").cast("string"), lit("\n0,plain,1"))
        .cast("binary")
      val rows = csv_header(b)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          size(rows).cast("long").as("n_rows"),
          element_at(element_at(rows, 1), "name").as("name1"),
          element_at(element_at(rows, 1), "qty").as("qty1"),
          element_at(element_at(rows, 2), "id").as("id2"))
    },

    // csv without header: RFC-4180 escaped quote inside a quoted field
    "q61_mime_csv_no_header" -> { (s, dir) =>
      val b = concat(col("event_id").cast("string"), lit(",\"say \"\"hi\"\"\"\n"),
        col("user_id").cast("string"), lit(",end")).cast("binary")
      val rows = csv_no_header(b)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          size(rows).cast("long").as("n_rows"),
          element_at(element_at(rows, 1), 2).as("c12"),
          element_at(element_at(rows, 2), 1).as("c21"),
          element_at(element_at(rows, 2), 2).as("c22"))
    },

    // ndjson: canonical re-render of each line, blank lines skipped
    "q62_mime_ndjson" -> { (s, dir) =>
      val b = concat(col("props"), lit("\n{\"u\": "),
        col("user_id").cast("string"), lit("}\n   \n")).cast("binary")
      val docs = ndjson_docs(b)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          size(docs).cast("long").as("n_docs"),
          element_at(docs, 1).as("d1"),
          element_at(docs, 2).as("d2"))
    },

    // rot13 content transform (reference mito.go test transform)
    "q63_mime_rot13" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          rot13(col("text").cast("binary")).cast("string").as("rotated"),
          rot13(rot13(col("text").cast("binary"))).cast("string").as("roundtrip"))
    },

    // schemaless XML: attributes join child elems, repeats auto-promote
    "q64_xml_decode" -> { (s, dir) =>
      val xml = concat(lit("<order priority=\"high\"><id>"),
        col("event_id").cast("string"), lit("</id><item>"),
        col("event_type"), lit("</item><item>x</item></order>"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), decode_xml(xml).as("decoded"))
    },

    // rate-limit okta policy: pure header interpretation, explicit now
    "q65_limit_okta" -> { (s, dir) =>
      val lim = (col("user_id") % 100 + 100).cast("string")
      val rem = (col("user_id") % 50).cast("string")
      val rst = (col("user_id") % 1000 + 10).cast("string")
      val headers = map_from_arrays(
        array(lit("X-Rate-Limit-Limit"), lit("X-Rate-Limit-Remaining"),
          lit("X-Rate-Limit-Reset")),
        array(array(lim), array(rem), array(rst)))
      val r = rate_limit(headers, "okta", lit(60), timestamp_micros(lit(0L)))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          round(r.getField("rate"), 6).as("rate"),
          round(r.getField("next"), 6).as("next_rate"),
          r.getField("burst").as("burst"),
          unix_micros(r.getField("reset")).as("reset_micros"),
          r.getField("headers").as("hdr"))
    },

    // rate-limit draft policy: quota-policy list drives window + burst,
    // numeric delta reset (limit.go:295-413)
    "q69_limit_draft" -> { (s, dir) =>
      val quota = (col("user_id") % 100 + 50).cast("string")
      val win = (col("user_id") % 60 + 30).cast("string")
      val bst = (col("user_id") % 5 + 2).cast("string")
      val lim = concat(quota, lit(", "), quota, lit(";window="), win,
        lit(";burst="), bst)
      val rem = (col("user_id") % 40).cast("string")
      val rst = (col("user_id") % 120 + 10).cast("string")
      val headers = map_from_arrays(
        array(lit("Rate-Limit-Limit"), lit("Rate-Limit-Remaining"),
          lit("Rate-Limit-Reset")),
        array(array(lim), array(rem), array(rst)))
      val r = rate_limit(headers, "draft", lit(60), timestamp_micros(lit(0L)))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          round(r.getField("rate"), 6).as("rate"),
          round(r.getField("next"), 6).as("next_rate"),
          r.getField("burst").as("burst"),
          unix_micros(r.getField("reset")).as("reset_micros"))
    },

    // generalized 6-arg rate limit: custom prefix, absolute reset,
    // caller-supplied burst with the <1 floor (limit.go:451-512)
    "q70_limit_general" -> { (s, dir) =>
      val lim = (col("user_id") % 100 + 100).cast("string")
      val rem = (col("user_id") % 50).cast("string")
      val rst = (col("user_id") % 1000 + 500).cast("string")
      val headers = map_from_arrays(
        array(lit("X-RL-Limit"), lit("X-RL-Remaining"), lit("X-RL-Reset")),
        array(array(lim), array(rem), array(rst)))
      val r = rate_limit_general(headers, "X-RL", delta = false,
        lit(60), col("user_id") % 3, timestamp_micros(lit(0L)))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          round(r.getField("rate"), 6).as("rate"),
          round(r.getField("next"), 6).as("next_rate"),
          r.getField("burst").as("burst"),
          unix_micros(r.getField("reset")).as("reset_micros"))
    },

    // XSD-compiled hints: int/bool entype + maxOccurs plurality
    "q66_xml_xsd" -> { (s, dir) =>
      val xsd = """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        <xs:element name="rec">
          <xs:complexType><xs:sequence>
            <xs:element name="qty" type="xs:int"/>
            <xs:element name="ok" type="xs:boolean"/>
            <xs:element name="tag" type="xs:string" maxOccurs="unbounded"/>
          </xs:sequence></xs:complexType>
        </xs:element>
      </xs:schema>"""
      val xml = concat(lit("<rec><qty>"), col("user_id").cast("string"),
        lit("</qty><ok>TRUE</ok><tag>"), col("event_type"), lit("</tag></rec>"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), decode_xml_xsd(xml, xsd).as("decoded"))
    },

    // the VariantType entry points under the gate: v_* reach the json_*
    // kernels through to_json/parse_json (same outputs as the string
    // tier's q20/q21/q46 shapes)
    "q68_variant_tier" -> { (s, dir) =>
      val v = v_parse(col("props"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          v_render(v_with(v, v_parse(lit("{\"seen\": true}")))).as("merged"),
          v_collate(v, lit("k")).as("collated"),
          v_keys(v).as("ks"),
          v_size(v).as("n"),
          v_render(v_get(v, lit("k"))).as("kval"))
    },

    // format_url: parse -> rebuild roundtrip plus query-string normalize
    "q67_format_url" -> { (s, dir) =>
      val url = concat(lit("https://api.example.test/v1/items/"),
        col("event_id").cast("string"), lit("?user="),
        col("user_id").cast("string"), lit("&type="), col("event_type"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          format_url(graft.functions.parse_url(url)).as("rebuilt"))
    })

  def oracle: Map[String, String] = Map(
    "q60_mime_csv_header" ->
      """SELECT event_id,
         CAST(2 AS BIGINT) AS n_rows,
         'a,' || event_type AS name1,
         CAST(user_id AS VARCHAR) AS qty1,
         '0' AS id2
         FROM events ORDER BY event_id""",
    "q61_mime_csv_no_header" ->
      """SELECT event_id,
         CAST(2 AS BIGINT) AS n_rows,
         'say "hi"' AS c12,
         CAST(user_id AS VARCHAR) AS c21,
         'end' AS c22
         FROM events ORDER BY event_id""",
    "q62_mime_ndjson" ->
      """SELECT event_id,
         CAST(2 AS BIGINT) AS n_docs,
         '{"k":' || json_extract_string(props, '$.k') || '}' AS d1,
         '{"u":' || user_id || '}' AS d2
         FROM events ORDER BY event_id""",
    "q63_mime_rot13" ->
      """SELECT doc_id,
         translate(text, 'abcdefghijklmnopqrstuvwxyz',
                         'nopqrstuvwxyzabcdefghijklm') AS rotated,
         text AS roundtrip
         FROM documents ORDER BY doc_id""",
    "q64_xml_decode" ->
      """SELECT event_id,
         '{"doc":{"order":{"id":"' || event_id || '","item":["' || event_type
           || '","x"],"priority":"high"}}}' AS decoded
         FROM events ORDER BY event_id""",
    "q65_limit_okta" ->
      """SELECT event_id,
         round(CAST(user_id % 50 AS DOUBLE) / CAST(user_id % 1000 + 10 AS DOUBLE), 6) AS rate,
         round(CAST(user_id % 100 + 100 AS DOUBLE) / 60.0, 6) AS next_rate,
         CAST(1 AS BIGINT) AS burst,
         (user_id % 1000 + 10) * 1000000 AS reset_micros,
         'X-Rate-Limit-Limit="' || (user_id % 100 + 100)
           || '" X-Rate-Limit-Remaining="' || (user_id % 50)
           || '" X-Rate-Limit-Reset="' || (user_id % 1000 + 10) || '"' AS hdr
         FROM events ORDER BY event_id""",
    "q69_limit_draft" ->
      """SELECT event_id,
         round(CAST(user_id % 40 AS DOUBLE) / CAST(user_id % 120 + 10 AS DOUBLE), 6) AS rate,
         round(CAST(user_id % 100 + 50 AS DOUBLE) / CAST(user_id % 60 + 30 AS DOUBLE), 6) AS next_rate,
         user_id % 5 + 2 AS burst,
         (user_id % 120 + 10) * 1000000 AS reset_micros
         FROM events ORDER BY event_id""",
    "q70_limit_general" ->
      """SELECT event_id,
         round(CAST(user_id % 50 AS DOUBLE)
           / (CAST(user_id % 1000 + 500 AS DOUBLE) * 60.0), 6) AS rate,
         round(CAST(user_id % 100 + 100 AS DOUBLE) / 60.0, 6) AS next_rate,
         greatest(CAST(1 AS BIGINT), user_id % 3) AS burst,
         (user_id % 1000 + 500) * 1000000 AS reset_micros
         FROM events ORDER BY event_id""",
    "q66_xml_xsd" ->
      """SELECT event_id,
         '{"doc":{"rec":{"ok":true,"qty":' || user_id || ',"tag":["'
           || event_type || '"]}}}' AS decoded
         FROM events ORDER BY event_id""",
    "q68_variant_tier" ->
      """SELECT event_id,
         '{"k":' || json_extract_string(props, '$.k') || ',"seen":true}' AS merged,
         '[' || json_extract_string(props, '$.k') || ']' AS collated,
         '["k"]' AS ks,
         CAST(1 AS BIGINT) AS n,
         json_extract_string(props, '$.k') AS kval
         FROM events ORDER BY event_id""",
    "q67_format_url" ->
      """SELECT event_id,
         'https://api.example.test/v1/items/' || event_id
           || '?user=' || user_id || '&type=' || event_type AS rebuilt
         FROM events ORDER BY event_id""")
}
