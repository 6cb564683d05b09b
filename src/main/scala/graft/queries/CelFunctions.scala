package graft.queries

import graft.Tables
import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries exercising the CEL function surface
  * (collections/strings/time/json/crypto/regexp tiers of
  * [[graft.functions]]) against the driver tables.
  *
  * `events.ts` has shipped as both epoch-nano LONG and
  * TIMESTAMP_MICROS across fixture refreshes; [[graft.Tables.eventMicros]]
  * normalizes either to an exact epoch-microsecond LONG.
  */
object CelFunctions {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_json_collate" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_collate(col("props"), "k").as("collated"))
    },

    "q21_json_with" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          json_with(col("props"), lit("""{"seen":true}""")).as("merged"))
    },

    "q22_string_funcs" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          count_substr(col("text"), lit("scan")).as("n_scan"),
          index_str(col("text"), lit("join")).as("idx_join"),
          upper(substring(col("text"), 1, 10)).as("head_upper"),
          length(col("text")).cast("long").as("n_len"))
    },

    "q23_time_format" -> { (s, dir) =>
      val e = Tables(s, dir).events
      e.orderBy(col("event_id"))
        .select(col("event_id"),
          format_time(timestamp_micros(Tables.eventMicros(e)), "RFC3339").as("rfc3339"))
    },

    "q24_time_roundtrip" -> { (s, dir) =>
      val e = Tables(s, dir).events
      e.orderBy(col("event_id"))
        .select(col("event_id"),
          unix_timestamp(
            parse_time(format_time(timestamp_micros(Tables.eventMicros(e)), "RFC3339"), "RFC3339"))
            .as("epoch_s"))
    },

    "q25_crypto_digest" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          hex_lower(md5_bytes(col("text").cast("binary"))).as("md5_hex"),
          hex_lower(sha256_bytes(col("text").cast("binary"))).as("sha256_hex"),
          base64_std(col("text").cast("binary")).as("b64"))
    },

    "q26_regexp" -> { (s, dir) =>
      val re = RegexpRegistry(Map(
        "word"   -> "([a-z]+)",
        "hasdup" -> "(\\w+) \\1"))
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
          re.re_match("word", col("text")).as("has_word"),
          regexp_replace(col("text"), "[aeiou]", "_").as("devoweled"))
    },

    "q27_tokenize" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          size(fields_str(col("text"))).cast("long").as("n_tokens"),
          trim_space(col("text")).as("trimmed"))
    },

    "q28_parse_url" -> { (s, dir) =>
      val url = concat(lit("https://example.com/"), col("source"),
        lit("?doc="), col("doc_id"))
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"), graft.functions.parse_url(url).as("u"))
        .select(col("doc_id"), col("u.Scheme").as("scheme"), col("u.Host").as("host"),
          col("u.Path").as("path"), col("u.RawQuery").as("raw_query"))
    },

    "q29_format_query" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          format_query(map_from_arrays(
            array(lit("src"), lit("id")),
            array(array(col("source")), array(col("doc_id").cast("string")))))
            .as("qs"))
    },

    // --- collections ops over data-built JSON docs (q42-q51): each op's
    // --- oracle reconstructs the expected Go-rendered (sorted-key) JSON
    // --- string directly from the raw columns in DuckDB. ---------------
    "q42_json_drop" -> { (s, dir) =>
      val doc = concat(lit("{\"a\":"), col("user_id").cast("string"),
        lit(",\"b\":\""), col("event_type"), lit("\",\"c\":"),
        col("event_id").cast("string"), lit("}"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_drop(doc, "b").as("dropped"))
    },

    "q43_json_drop_empty" -> { (s, dir) =>
      val doc = concat(lit("{\"a\":"), col("user_id").cast("string"),
        lit(",\"e\":[],\"m\":{},\"s\":\"\",\"l\":[\""), col("event_type"), lit("\"]}"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_drop_empty(doc).as("pruned"))
    },

    "q44_json_flatten" -> { (s, dir) =>
      val doc = concat(lit("[["), col("event_id").cast("string"),
        lit("],["), col("user_id").cast("string"),
        lit(",\""), col("event_type"), lit("\"]]"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_flatten_deep(doc).as("flat"))
    },

    "q45_json_zip" -> { (s, dir) =>
      val vals = concat(lit("["), col("user_id").cast("string"),
        lit(",\""), col("event_type"), lit("\","),
        col("event_id").cast("string"), lit("]"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          json_zip(lit("""["u","t","e"]"""), vals).as("zipped"))
    },

    "q46_json_keys" -> { (s, dir) =>
      val doc = concat(lit("{\""), col("event_type"), lit("\":1,\"a\":"),
        col("user_id").cast("string"), lit("}"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_keys(doc).as("ks"))
    },

    "q47_json_values" -> { (s, dir) =>
      val doc = concat(lit("{\"z\":"), col("event_id").cast("string"),
        lit(",\"m\":\""), col("event_type"), lit("\",\"a\":"),
        col("user_id").cast("string"), lit("}"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_values(doc).as("vs"))
    },

    "q48_json_minmax" -> { (s, dir) =>
      val doc = concat(lit("["), col("event_id").cast("string"),
        lit(","), col("user_id").cast("string"), lit("]"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_min(doc).as("mn"), json_max(doc).as("mx"))
    },

    "q49_json_with_update" -> { (s, dir) =>
      val src = concat(lit("{\"k\":0,\"u\":"), col("user_id").cast("string"), lit("}"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_with_update(col("props"), src).as("updated"))
    },

    "q50_json_with_replace" -> { (s, dir) =>
      val src = concat(lit("{\"k\":"), col("event_id").cast("string"), lit(",\"x\":1}"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), json_with_replace(col("props"), src).as("replaced"))
    },

    "q51_json_stream" -> { (s, dir) =>
      val stream = concat(col("props"), lit(" "),
        col("user_id").cast("string"), lit(" \""), col("event_type"), lit("\""))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), decode_json_stream(stream).as("decoded"))
    },

    // --- strings/crypto/time tiers without oracle rows until now ------
    "q52_substring_runes" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          substring_runes(col("text"), lit(0L), lit(12L)).as("head12"),
          substring_runes(col("text"), lit(3L), lit(9L)).as("mid"))
    },

    "q53_trim_cutset" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          trim_cutset(col("text"), lit("aeiou kt")).as("both"),
          trim_left(col("text"), lit("aeiou kt")).as("left"),
          trim_right(col("text"), lit("aeiou kt")).as("right"),
          trim_prefix(col("text"), lit("key ")).as("unprefixed"))
    },

    "q54_string_misc" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          equal_fold(col("lang"), lit("EN")).as("is_en_fold"),
          repeat_str(col("lang"), lit(3)).as("rep"),
          join_str(fields_str(col("text")), "|").as("joined"))
    },

    "q55_base64_raw" -> { (s, dir) =>
      Tables(s, dir).documents.orderBy(col("doc_id"))
        .select(col("doc_id"),
          base64_raw(col("text").cast("binary")).as("b64raw"),
          base64_decode(base64_std(col("text").cast("binary"))).cast("string")
            .as("roundtrip"))
    },

    "q56_duration_go" -> { (s, dir) =>
      val mins = (col("user_id") % 50 + 1)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          duration_go(concat(mins.cast("string"), lit("m"))).as("micros"),
          format_duration_go((mins * 60000000L).cast("long")).as("rendered"))
    },

    // parse_query: multi-valued keys, percent-decoding, key count
    // (reference lib/http.go parseQuery -> url.ParseQuery)
    "q71_parse_query" -> { (s, dir) =>
      val q = concat(lit("user="), col("user_id").cast("string"),
        lit("&type="), col("event_type"), lit("&tag=a&tag=b&enc=a%20b"))
      val m = graft.functions.parse_query(q)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          element_at(element_at(m, "user"), 1).as("user_v"),
          element_at(element_at(m, "type"), 1).as("type_v"),
          array_join(element_at(m, "tag"), ",").as("tags"),
          element_at(element_at(m, "enc"), 1).as("enc_v"),
          size(m).cast("long").as("n_keys"))
    },

    // to_valid_utf8: a run of invalid bytes (0xFF 0xFE) becomes ONE
    // replacement (Go strings.ToValidUTF8 semantics); valid_utf8 flags
    // the same bytes (strings.go utf8.Valid)
    "q74_valid_utf8" -> { (s, dir) =>
      val bad = concat(unhex(lit("FFFE")), col("event_type").cast("binary"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          to_valid_utf8(bad, lit("?")).as("repaired"),
          valid_utf8(bad).as("bad_is_valid"),
          valid_utf8(col("event_type").cast("binary")).as("ascii_is_valid"))
    },

    // byte-order compare, char-class scan ops, Unicode title mapping
    // (strings.go Compare/ContainsAny/IndexAny/LastIndex/ToTitle) —
    // ASCII event_type keeps byte and rune indexes identical, so the
    // DuckDB rebuild is exact
    "q73_string_scan" -> { (s, dir) =>
      val et = col("event_type")
      val base = concat(et, lit("."), et)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          compare_str(et, lit("m")).as("cmp_m"),
          contains_any(et, lit("ckz")).as("has_ckz"),
          index_any(et, lit("aeiou")).as("vowel_at"),
          index_str(base, lit(".")).as("dot_at"),
          last_index(base, et).as("last_at"),
          to_title(et).as("title"))
    },

    // split_after family + replace_n's count limit (strings.go
    // SplitAfter/SplitAfterN/Replace)
    "q72_split_replace" -> { (s, dir) =>
      val base = concat(col("event_type"), lit("."), col("event_type"),
        lit("."), col("event_type"))
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          array_join(split_after(concat(col("event_type"), lit(","),
            col("user_id").cast("string")), lit(",")), "|").as("after"),
          array_join(split_after_n(base, lit("."), lit(2L)), "|").as("after_n"),
          replace_n(base, col("event_type"), lit("Z"), lit(2L)).as("rep2"))
    },

    // string predicates + plain split (strings.go HasPrefix/HasSuffix/
    // Contains/Split) — the remaining oracle-able string family
    "q75_string_predicates" -> { (s, dir) =>
      val et = col("event_type")
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          has_prefix(et, lit("c")).as("pre_c"),
          has_suffix(et, lit("k")).as("suf_k"),
          contains_substr(et, lit("ic")).as("has_ic"),
          array_join(split_str(concat(et, lit("."), et), "."), "|").as("parts"))
    },

    // the six previously golden-only string ops under the oracle gate
    // (strings.go LastIndexAny/SplitN/ReplaceAll/ToLower/ToUpper/
    // TrimSuffix) — completes direct-oracle coverage of §2.3
    "q78_string_residue" -> { (s, dir) =>
      val et = col("event_type")
      val base = concat(et, lit("."), et, lit("."), et)
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          last_index_any(et, lit("ck")).as("lia"),
          array_join(split_n(base, lit("."), lit(2L)), "|").as("sp2"),
          replace_all(et, lit("c"), lit("X")).as("rep"),
          to_lower(to_upper(et)).as("lo"),
          to_upper(et).as("up"),
          trim_suffix(et, lit("k")).as("ts"))
    },

    // CEL core accessors under the oracle gate: has(), membership `in`
    // (map keys + list), computed list indexing
    "q76_cel_has_in" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), graft.cel.Cel(q76Program, col("props")).as("doc"))
    },

    // CEL comprehension macros under the oracle gate (map with and
    // without filter, filter, exists, all, exists_one — cel-go
    // fold semantics), value-dependent through state.k
    "q77_cel_comprehensions" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), graft.cel.Cel(q77Program, col("props")).as("doc"))
    },

    // the cel-go OptionalTypes surface under the oracle gate: .?f,
    // optional.of/none/ofNonZeroValue, or/orValue/hasValue, the
    // optMap macro and optional index `[?k]`, value-dependent through
    // state.k
    "q79_cel_optionals" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), graft.cel.Cel(q79Program, col("props")).as("doc"))
    },

    // the CEL cast family under the oracle gate (previously golden-only):
    // int/uint/double/string/bytes/bool/timestamp/duration/dyn, with the
    // Go render conventions (whole-double collapse, RFC3339 timestamps,
    // Go duration strings), value-dependent through state.k
    "q80_cel_casts" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), graft.cel.Cel(q80Program, col("props")).as("doc"))
    },

    // the cel-go STANDARD-env surface under the oracle gate: string
    // predicates (contains/startsWith/endsWith), matches, and the
    // timestamp/duration accessors, value-dependent through state.k
    "q81_cel_std" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), graft.cel.Cel(q81Program, col("props")).as("doc"))
    },

    // --- the CEL text front-end itself under the oracle gate: the same
    // --- program as q59, which pins `now` to 0. q58 keeps the name of
    // --- the retired lowered tier because the oracle artifacts are keyed
    // --- by it.
    "q58_cel_lowered" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"), graft.cel.Cel(celGateProgram, col("props")).as("doc"))
    },

    "q59_cel_interpreted" -> { (s, dir) =>
      Tables(s, dir).events.orderBy(col("event_id"))
        .select(col("event_id"),
          graft.cel.Cel(celGateProgram, col("props"), nowMicros = 0L).as("doc"))
    })

  /** One program, two executors: the CEL column (q58, q59) and the
    * DuckDB oracle rebuild the same rendered document. */
  private val celGateProgram =
    """{"k10": state.k + 10,
       "big": state.k > 50,
       "lab": state.k > 50 ? "hi" : "lo",
       "n": size(state),
       "ks": state.keys()}"""

  private val q76Program =
    """{"h": has(state.k),
         "hn": has(state.nope),
         "m": "k" in state,
         "c": "k" in ["a", "k"],
         "i": [10, 20, 30][state.k % 3]}"""

  private val q77Program =
    """{"sq": [1, 2, 3].map(i, i * state.k),
         "odd": [1, 2, 3, 4].map(i, i % 2 == 1, i * 10),
         "ev": [1, 2, 3, 4].filter(i, i % 2 == 0),
         "any": [10, 60, 90].exists(i, i > state.k),
         "all": [10, 60, 90].all(i, i > state.k),
         "one": [10, 60, 90].exists_one(i, i > state.k)}"""

  private val q79Program =
    """{"a": state.?k.orValue(-1),
         "b": state.?nope.orValue(-1),
         "c": state.?nope.hasValue(),
         "d": optional.of(state.k).optMap(v, v * 2).orValue(0),
         "e": [10, 20, 30][?(state.k % 4)].orValue(-1),
         "f": state.?nope.or(state.?k).orValue(-1),
         "g": optional.ofNonZeroValue(state.k % 3).hasValue(),
         "h": state[?"k"].orValue(-1)}"""

  private val q80Program =
    """{"i": int("42") + state.k,
         "u": uint(state.k),
         "d": double(state.k) / 2.0,
         "s": string(state.k),
         "b": string(bytes("hi")),
         "bl": bool("true"),
         "ts": string(timestamp(1500000000 + state.k)),
         "dur": string(duration(string(state.k % 50) + "s")),
         "dy": dyn(state.k)}"""

  private val q81Program =
    """{"c": string(state.k).contains("5"),
         "sw": string(state.k).startsWith("1"),
         "ew": string(state.k).endsWith("9"),
         "m": string(state.k).matches("^[0-9]$"),
         "y": timestamp(1500000000 + state.k * 86400).getFullYear(),
         "mo": timestamp(1500000000 + state.k * 86400).getMonth(),
         "dt": timestamp(1500000000 + state.k * 86400).getDate(),
         "dw": timestamp(1500000000 + state.k * 86400).getDayOfWeek(),
         "h": duration(string(state.k) + "m").getHours()}"""

  def oracle: Map[String, String] = Map(
    "q20_json_collate" ->
      """SELECT event_id, '[' || json_extract_string(props, '$.k') || ']' AS collated
         FROM events ORDER BY event_id""",
    "q21_json_with" ->
      """SELECT event_id,
         '{"k":' || json_extract_string(props, '$.k') || ',"seen":true}' AS merged
         FROM events ORDER BY event_id""",
    "q22_string_funcs" ->
      """SELECT doc_id,
         CAST((length(text) - length(replace(text, 'scan', ''))) // 4 AS BIGINT) AS n_scan,
         CAST(strpos(text, 'join') - 1 AS BIGINT) AS idx_join,
         upper(substr(text, 1, 10)) AS head_upper,
         CAST(length(text) AS BIGINT) AS n_len
         FROM documents ORDER BY doc_id""",
    "q23_time_format" ->
      """SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ') AS rfc3339
         FROM events ORDER BY event_id""",
    "q24_time_roundtrip" ->
      """SELECT event_id,
         CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s
         FROM events ORDER BY event_id""",
    "q25_crypto_digest" ->
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
         base64(CAST(text AS BLOB)) AS b64
         FROM documents ORDER BY doc_id""",
    "q26_regexp" ->
      """SELECT doc_id,
         regexp_extract(text, '([a-z]+)', 1) AS first_word,
         regexp_matches(text, '([a-z]+)') AS has_word,
         regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled
         FROM documents ORDER BY doc_id""",
    "q27_tokenize" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         trim(text) AS trimmed
         FROM documents ORDER BY doc_id""",
    "q28_parse_url" ->
      """SELECT doc_id, 'https' AS scheme, 'example.com' AS host,
         '/' || source AS path, 'doc=' || doc_id AS raw_query
         FROM documents ORDER BY doc_id""",
    "q29_format_query" ->
      """SELECT doc_id, 'id=' || doc_id || '&src=' || source AS qs
         FROM documents ORDER BY doc_id""",
    "q42_json_drop" ->
      """SELECT event_id, '{"a":' || user_id || ',"c":' || event_id || '}' AS dropped
         FROM events ORDER BY event_id""",
    "q43_json_drop_empty" ->
      """SELECT event_id,
         '{"a":' || user_id || ',"l":["' || event_type || '"],"s":""}' AS pruned
         FROM events ORDER BY event_id""",
    "q44_json_flatten" ->
      """SELECT event_id,
         '[' || event_id || ',' || user_id || ',"' || event_type || '"]' AS flat
         FROM events ORDER BY event_id""",
    "q45_json_zip" ->
      """SELECT event_id,
         '{"e":' || event_id || ',"t":"' || event_type || '","u":' || user_id || '}' AS zipped
         FROM events ORDER BY event_id""",
    "q46_json_keys" ->
      """SELECT event_id, '["a","' || event_type || '"]' AS ks
         FROM events ORDER BY event_id""",
    "q47_json_values" ->
      """SELECT event_id,
         '[' || user_id || ',"' || event_type || '",' || event_id || ']' AS vs
         FROM events ORDER BY event_id""",
    "q48_json_minmax" ->
      """SELECT event_id,
         CAST(least(event_id, user_id) AS VARCHAR) AS mn,
         CAST(greatest(event_id, user_id) AS VARCHAR) AS mx
         FROM events ORDER BY event_id""",
    "q49_json_with_update" ->
      """SELECT event_id,
         '{"k":' || json_extract_string(props, '$.k') || ',"u":' || user_id || '}' AS updated
         FROM events ORDER BY event_id""",
    "q50_json_with_replace" ->
      """SELECT event_id, '{"k":' || event_id || '}' AS replaced
         FROM events ORDER BY event_id""",
    "q51_json_stream" ->
      """SELECT event_id,
         '[{"k":' || json_extract_string(props, '$.k') || '},' || user_id || ',"' || event_type || '"]' AS decoded
         FROM events ORDER BY event_id""",
    "q52_substring_runes" ->
      """SELECT doc_id, substr(text, 1, 12) AS head12, substr(text, 4, 6) AS mid
         FROM documents ORDER BY doc_id""",
    "q53_trim_cutset" ->
      """SELECT doc_id,
         trim(text, 'aeiou kt') AS both, ltrim(text, 'aeiou kt') AS "left",
         rtrim(text, 'aeiou kt') AS "right",
         CASE WHEN text LIKE 'key %' THEN substr(text, 5) ELSE text END AS unprefixed
         FROM documents ORDER BY doc_id""",
    "q54_string_misc" ->
      """SELECT doc_id,
         lower(lang) = lower('EN') AS is_en_fold,
         repeat(lang, 3) AS rep,
         array_to_string(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), '|') AS joined
         FROM documents ORDER BY doc_id""",
    "q55_base64_raw" ->
      """SELECT doc_id,
         rtrim(base64(CAST(text AS BLOB)), '=') AS b64raw,
         text AS roundtrip
         FROM documents ORDER BY doc_id""",
    "q56_duration_go" ->
      """SELECT event_id,
         (user_id % 50 + 1) * 60000000 AS micros,
         CAST(user_id % 50 + 1 AS VARCHAR) || 'm0s' AS rendered
         FROM events ORDER BY event_id""",
    "q71_parse_query" ->
      """SELECT event_id,
         CAST(user_id AS VARCHAR) AS user_v,
         event_type AS type_v,
         'a,b' AS tags,
         'a b' AS enc_v,
         CAST(4 AS BIGINT) AS n_keys
         FROM events ORDER BY event_id""",
    "q74_valid_utf8" ->
      """SELECT event_id,
         '?' || event_type AS repaired,
         false AS bad_is_valid,
         true AS ascii_is_valid
         FROM events ORDER BY event_id""",
    "q73_string_scan" ->
      """SELECT event_id,
         CAST(CASE WHEN event_type < 'm' THEN -1
                   WHEN event_type = 'm' THEN 0 ELSE 1 END AS INTEGER) AS cmp_m,
         regexp_matches(event_type, '[ckz]') AS has_ckz,
         CAST(COALESCE(LEAST(
             NULLIF(strpos(event_type, 'a'), 0), NULLIF(strpos(event_type, 'e'), 0),
             NULLIF(strpos(event_type, 'i'), 0), NULLIF(strpos(event_type, 'o'), 0),
             NULLIF(strpos(event_type, 'u'), 0)) - 1, -1) AS BIGINT) AS vowel_at,
         CAST(length(event_type) AS BIGINT) AS dot_at,
         CAST(length(event_type) + 1 AS BIGINT) AS last_at,
         upper(event_type) AS title
         FROM events ORDER BY event_id""",
    "q72_split_replace" ->
      """SELECT event_id,
         event_type || ',|' || user_id AS after,
         event_type || '.|' || event_type || '.' || event_type AS after_n,
         'Z.Z.' || event_type AS rep2
         FROM events ORDER BY event_id""",
    "q75_string_predicates" ->
      """SELECT event_id,
         starts_with(event_type, 'c') AS pre_c,
         CASE WHEN length(event_type) >= 1
              THEN right(event_type, 1) = 'k' ELSE false END AS suf_k,
         contains(event_type, 'ic') AS has_ic,
         event_type || '|' || event_type AS parts
         FROM events ORDER BY event_id""",
    "q78_string_residue" ->
      """SELECT event_id,
         GREATEST(
           CASE WHEN contains(event_type, 'c')
                THEN length(event_type) - strpos(reverse(event_type), 'c')
                ELSE -1 END,
           CASE WHEN contains(event_type, 'k')
                THEN length(event_type) - strpos(reverse(event_type), 'k')
                ELSE -1 END) AS lia,
         event_type || '|' || event_type || '.' || event_type AS sp2,
         replace(event_type, 'c', 'X') AS rep,
         lower(upper(event_type)) AS lo,
         upper(event_type) AS up,
         CASE WHEN ends_with(event_type, 'k')
              THEN left(event_type, length(event_type) - 1)
              ELSE event_type END AS ts
         FROM events ORDER BY event_id""",
    "q76_cel_has_in" ->
      """SELECT event_id,
         '{"c":true,"h":true,"hn":false,"i":' ||
         CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 3
           WHEN 0 THEN '10' WHEN 1 THEN '20' ELSE '30' END ||
         ',"m":true}' AS doc
         FROM events ORDER BY event_id""",
    "q77_cel_comprehensions" ->
      """SELECT event_id,
         '{"all":' || CAST(k < 10 AS VARCHAR) ||
         ',"any":' || CAST(k < 90 AS VARCHAR) ||
         ',"ev":[2,4],"odd":[10,30]' ||
         ',"one":' || CAST(k >= 60 AND k < 90 AS VARCHAR) ||
         ',"sq":[' || k || ',' || 2*k || ',' || 3*k || ']}' AS doc
         FROM (SELECT event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) ORDER BY event_id""",
    "q79_cel_optionals" ->
      """SELECT event_id,
         '{"a":' || k || ',"b":-1,"c":false,"d":' || 2 * k ||
         ',"e":' || CASE k % 4 WHEN 0 THEN '10' WHEN 1 THEN '20'
                               WHEN 2 THEN '30' ELSE '-1' END ||
         ',"f":' || k ||
         ',"g":' || CAST(k % 3 <> 0 AS VARCHAR) ||
         ',"h":' || k || '}' AS doc
         FROM (SELECT event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) ORDER BY event_id""",
    "q80_cel_casts" ->
      """SELECT event_id,
         '{"b":"hi","bl":true,"d":' ||
           CASE WHEN k % 2 = 0 THEN CAST(k // 2 AS VARCHAR)
                ELSE CAST(k // 2 AS VARCHAR) || '.5' END ||
         ',"dur":"' || (k % 50) || 's"' ||
         ',"dy":' || k ||
         ',"i":' || (42 + k) ||
         ',"s":"' || k || '"' ||
         ',"ts":"' || strftime(to_timestamp(1500000000 + k), '%Y-%m-%dT%H:%M:%SZ') || '"' ||
         ',"u":' || k || '}' AS doc
         FROM (SELECT event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) ORDER BY event_id""",
    "q81_cel_std" ->
      """SELECT event_id,
         '{"c":' || CAST(contains(CAST(k AS VARCHAR), '5') AS VARCHAR) ||
         ',"dt":' || day(ts) ||
         ',"dw":' || dayofweek(ts) ||
         ',"ew":' || CAST(ends_with(CAST(k AS VARCHAR), '9') AS VARCHAR) ||
         ',"h":' || k // 60 ||
         ',"m":' || CAST(k < 10 AS VARCHAR) ||
         ',"mo":' || (month(ts) - 1) ||
         ',"sw":' || CAST(starts_with(CAST(k AS VARCHAR), '1') AS VARCHAR) ||
         ',"y":' || year(ts) || '}' AS doc
         FROM (SELECT event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                 to_timestamp(1500000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) * 86400) AS ts
               FROM events) ORDER BY event_id""",
    "q58_cel_lowered" -> celGateOracle("doc"),
    "q59_cel_interpreted" -> celGateOracle("doc"))

  private def celGateOracle(alias: String): String =
    s"""SELECT event_id,
        '{"big":' || CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT) > 50 AS VARCHAR)
        || ',"k10":' || (CAST(json_extract_string(props, '$$.k') AS BIGINT) + 10)
        || ',"ks":["k"],"lab":"'
        || CASE WHEN CAST(json_extract_string(props, '$$.k') AS BIGINT) > 50
                THEN 'hi' ELSE 'lo' END
        || '","n":1}' AS $alias
        FROM events ORDER BY event_id"""
}
