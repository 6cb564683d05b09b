package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import java.util.regex.Pattern

/** The engine's Column-API surface: every function of the reference's
  * 12 extension libraries (SURVEY.md §2), re-expressed Spark-first.
  *
  * Three tiers:
  *   1. direct `org.apache.spark.sql.functions` mappings (codegen'd);
  *   2. kernel calls via Catalyst `StaticInvoke` — still whole-stage
  *      codegen, no UDF boxing (graft.expressions.*Kernel);
  *   3. dynamic-document operators (`json_*` over JSON text, `v_*` over
  *      VariantType through to_json/parse_json) — the CEL collections
  *      library itself ([[graft.cel.Collections]]) behind JsonKernel,
  *      with exact reference semantics incl. in-band error values.
  */
object functions {

  // Static-forwarder classes (object methods exposed as Java statics).
  private val J = Class.forName("graft.expressions.JsonKernel")
  private val S = Class.forName("graft.expressions.StringKernel")
  private val T = Class.forName("graft.expressions.TimeKernel")
  private val C = Class.forName("graft.expressions.CryptoKernel")
  private val K = Class.forName("graft.expressions.SketchKernel")
  private val M = Class.forName("graft.expressions.MimeKernel")
  private val H = Class.forName("graft.expressions.HttpKernel")
  private val L = Class.forName("graft.expressions.LimitKernel")
  private val MD = Class.forName("graft.expressions.MediaKernel")

  private def call(cls: Class[_], dt: DataType, name: String,
      inTypes: Seq[DataType], args: Column*): Column =
    org.apache.spark.sql.graft.Shim.column(StaticInvoke(cls, dt, name,
      args.map(org.apache.spark.sql.graft.Shim.expression).toIndexedSeq, inTypes))

  private val Str = StringType
  private val Bin = BinaryType
  private val ArrS = ArrayType(StringType)

  // =====================================================================
  // Collections (reference lib/collections.go) — dynamic-document tier.
  // Document columns are JSON strings (the reference's value universe).
  // =====================================================================
  def json_collate(doc: Column, path: Column): Column =
    call(J, Str, "collate", Seq(Str, Str), doc, path)
  def json_collate(doc: Column, path: String): Column = json_collate(doc, F.lit(path))
  def json_collate_all(doc: Column, paths: Seq[String]): Column =
    call(J, Str, "collateMulti", Seq(Str, ArrS), doc, F.array(paths.map(F.lit): _*))

  def json_drop(doc: Column, path: String): Column =
    call(J, Str, "dropPath", Seq(Str, Str), doc, F.lit(path))
  def json_drop_all(doc: Column, paths: Seq[String]): Column =
    call(J, Str, "dropPaths", Seq(Str, ArrS), doc, F.array(paths.map(F.lit): _*))

  def json_drop_empty(doc: Column): Column = call(J, Str, "dropEmpty", Seq(Str), doc)
  def json_flatten_deep(doc: Column): Column = call(J, Str, "flattenDeep", Seq(Str), doc)

  def json_with(dst: Column, src: Column): Column =
    call(J, Str, "withAll", Seq(Str, Str), dst, src)
  def json_with_update(dst: Column, src: Column): Column =
    call(J, Str, "withUpdate", Seq(Str, Str), dst, src)
  def json_with_replace(dst: Column, src: Column): Column =
    call(J, Str, "withReplace", Seq(Str, Str), dst, src)

  def json_keys(doc: Column): Column = call(J, Str, "keysSorted", Seq(Str), doc)
  def json_values(doc: Column): Column = call(J, Str, "valuesSorted", Seq(Str), doc)
  def json_zip(keys: Column, vals: Column): Column = call(J, Str, "zip", Seq(Str, Str), keys, vals)
  def json_min(doc: Column): Column = call(J, Str, "minList", Seq(Str), doc)
  def json_max(doc: Column): Column = call(J, Str, "maxList", Seq(Str), doc)

  /** encode_json for dynamic docs: canonical sorted-key render
    * (Go json.Marshal order — lib/json.go:207-247). Typed rows use
    * Spark's to_json. */
  def json_normalize(doc: Column): Column = call(J, Str, "normalize", Seq(Str), doc)
  /** decode_json_stream — lib/json.go:268-289. */
  def decode_json_stream(s: Column): Column = call(J, Str, "decodeStream", Seq(Str), s)
  /** JSON array doc -> array of element docs (for explode fan-out). */
  def json_elements(doc: Column): Column = call(J, ArrS, "elements", Seq(Str), doc)

  // Error-value semantics (lib/try.go, SURVEY §7.4)
  def is_error(doc: Column): Column = call(J, BooleanType, "isError", Seq(Str), doc)
  def try_(doc: Column): Column = call(J, Str, "tryWeaken", Seq(Str), doc)
  def try_(doc: Column, label: String): Column =
    call(J, Str, "tryWeakenLabeled", Seq(Str, Str), doc, F.lit(label))

  // =====================================================================
  // Strings (reference lib/strings.go). Builtins where exact, kernel
  // where Go semantics differ.
  // =====================================================================
  def compare_str(a: Column, b: Column): Column =
    call(S, IntegerType, "compareStr", Seq(Str, Str), a, b)
  def contains_substr(s: Column, sub: Column): Column = s.contains(sub)
  def contains_any(s: Column, chars: Column): Column =
    call(S, BooleanType, "containsAny", Seq(Str, Str), s, chars)
  def count_substr(s: Column, sub: Column): Column =
    call(S, LongType, "countSubstr", Seq(Str, Str), s, sub)
  def equal_fold(a: Column, b: Column): Column =
    call(S, BooleanType, "equalFold", Seq(Str, Str), a, b)
  def fields_str(s: Column): Column = call(S, ArrS, "fields", Seq(Str), s)
  def has_prefix(s: Column, p: Column): Column = s.startsWith(p)
  def has_suffix(s: Column, p: Column): Column = s.endsWith(p)
  def index_str(s: Column, sub: Column): Column =
    call(S, LongType, "indexOf", Seq(Str, Str), s, sub)
  def index_any(s: Column, chars: Column): Column =
    call(S, LongType, "indexAny", Seq(Str, Str), s, chars)
  def last_index(s: Column, sub: Column): Column =
    call(S, LongType, "lastIndexOf", Seq(Str, Str), s, sub)
  def last_index_any(s: Column, chars: Column): Column =
    call(S, LongType, "lastIndexAny", Seq(Str, Str), s, chars)
  def join_str(arr: Column, sep: String): Column = F.array_join(arr, sep)
  def repeat_str(s: Column, n: Column): Column = F.repeat(s, n)
  def replace_n(s: Column, old: Column, nw: Column, n: Column): Column =
    call(S, Str, "replaceN", Seq(Str, Str, Str, LongType), s, old, nw, n)
  def replace_all(s: Column, old: Column, nw: Column): Column = F.replace(s, old, nw)
  def split_str(s: Column, sep: String): Column = F.split(s, Pattern.quote(sep))
  def split_n(s: Column, sep: Column, n: Column): Column =
    call(S, ArrS, "splitN", Seq(Str, Str, LongType), s, sep, n)
  def split_after(s: Column, sep: Column): Column =
    call(S, ArrS, "splitAfter", Seq(Str, Str), s, sep)
  def split_after_n(s: Column, sep: Column, n: Column): Column =
    call(S, ArrS, "splitAfterN", Seq(Str, Str, LongType), s, sep, n)
  /** Code-point substring with strict bounds (mito strings.go:857-902). */
  def substring_runes(s: Column, start: Column, end: Column): Column =
    call(S, Str, "substrRunes", Seq(Str, LongType, LongType), s, start, end)
  def to_lower(s: Column): Column = F.lower(s)
  def to_upper(s: Column): Column = F.upper(s)
  def to_title(s: Column): Column = call(S, Str, "toTitle", Seq(Str), s)
  def to_valid_utf8(b: Column, replacement: Column): Column =
    call(S, Str, "toValidUTF8", Seq(Bin, Str), b, replacement)
  def valid_utf8(b: Column): Column = call(S, BooleanType, "validUTF8", Seq(Bin), b)
  def trim_cutset(s: Column, cutset: Column): Column =
    call(S, Str, "trimCutset", Seq(Str, Str), s, cutset)
  def trim_left(s: Column, cutset: Column): Column =
    call(S, Str, "trimLeftCutset", Seq(Str, Str), s, cutset)
  def trim_right(s: Column, cutset: Column): Column =
    call(S, Str, "trimRightCutset", Seq(Str, Str), s, cutset)
  def trim_prefix(s: Column, p: Column): Column =
    call(S, Str, "trimPrefix", Seq(Str, Str), s, p)
  def trim_suffix(s: Column, p: Column): Column =
    call(S, Str, "trimSuffix", Seq(Str, Str), s, p)
  /** Unicode-whitespace trim (Go strings.TrimSpace). */
  def trim_space(s: Column): Column =
    F.regexp_replace(s, "^\\s+|\\s+$", "")

  // =====================================================================
  // Time (reference lib/time.go) — Go reference layouts.
  // =====================================================================
  /** The reference's `time_layout` global map (lib/time.go:151-172). */
  val time_layout: Map[String, String] = graft.expressions.TimeKernel.namedLayouts

  def format_time(ts: Column, goLayout: String): Column =
    call(T, Str, "formatTime", Seq(TimestampType, Str), ts,
      F.lit(graft.expressions.TimeKernel.resolveLayout(goLayout)))
  def parse_time(s: Column, goLayout: String): Column =
    call(T, TimestampType, "parseTime", Seq(Str, Str), s,
      F.lit(graft.expressions.TimeKernel.resolveLayout(goLayout)))
  def parse_time(s: Column, goLayouts: Seq[String]): Column =
    call(T, TimestampType, "parseTimeMulti", Seq(Str, ArrS), s,
      F.array(goLayouts.map(l => F.lit(graft.expressions.TimeKernel.resolveLayout(l))): _*))
  /** `now` global (per-query-constant, mito lib/time.go:46-54). */
  def now_batch(): Column = F.current_timestamp()

  /** CEL duration("1h2m3s") -> DayTimeIntervalType micros (long). */
  def duration_go(s: Column): Column = call(T, LongType, "parseDuration", Seq(Str), s)
  /** micros -> Go duration string (time.Duration.String rendering). */
  def format_duration_go(micros: Column): Column =
    call(T, Str, "formatDuration", Seq(LongType), micros)

  // =====================================================================
  // Crypto (reference lib/crypto.go) — digests return raw BYTES.
  // =====================================================================
  def md5_bytes(b: Column): Column = call(C, Bin, "md5Bytes", Seq(Bin), b)
  def sha1_bytes(b: Column): Column = call(C, Bin, "sha1Bytes", Seq(Bin), b)
  def sha256_bytes(b: Column): Column = call(C, Bin, "sha256Bytes", Seq(Bin), b)
  def hmac(data: Column, hash: String, key: Column): Column =
    call(C, Bin, "hmac", Seq(Bin, Str, Bin), data, F.lit(hash), key)
  def base64_std(b: Column): Column = call(C, Str, "base64Std", Seq(Bin), b)
  def base64_raw(b: Column): Column = call(C, Str, "base64Raw", Seq(Bin), b)
  def base64_decode(s: Column): Column = call(C, Bin, "base64Decode", Seq(Str), s)
  def base64_raw_decode(s: Column): Column = call(C, Bin, "base64RawDecode", Seq(Str), s)
  /** lowercase hex (Go hex.EncodeToString; Spark's hex() is uppercase). */
  def hex_lower(b: Column): Column = call(C, Str, "hexEncode", Seq(Bin), b)
  def uuid4(): Column = F.expr("uuid()")

  // =====================================================================
  // Regexp (reference lib/regexp.go) — named, pre-compiled patterns
  // become plan-time resolved literals; execution is Spark's codegen'd
  // regexp expressions.
  // =====================================================================
  // =====================================================================
  // MIME / format decoders (reference lib/mime.go, lib/file.go):
  // in-row decode of gzip/zip/csv/ndjson payload columns. File-granular
  // versions of the same formats use DataFrameReader (csv/json/binaryFile).
  // =====================================================================
  val zipMemberType: StructType = StructType(Seq(
    StructField("Name", StringType), StructField("IsDir", BooleanType),
    StructField("Size", LongType), StructField("Modified", TimestampType),
    StructField("Data", BinaryType)))

  def gunzip(b: Column): Column = call(M, Bin, "gunzip", Seq(Bin), b)
  def zip_expand(b: Column): Column =
    call(M, ArrayType(zipMemberType), "zipExpand", Seq(Bin), b)
  def csv_header(b: Column): Column =
    call(M, ArrayType(MapType(Str, Str)), "csvHeader", Seq(Bin), b)
  def csv_no_header(b: Column): Column =
    call(M, ArrayType(ArrS), "csvNoHeader", Seq(Bin), b)
  /** NDJSON bytes -> array of JSON docs; malformed lines become in-band
    * error values (mime.go:302-306). */
  def ndjson_docs(b: Column): Column = call(M, ArrS, "ndjson", Seq(Bin), b)
  def rot13(b: Column): Column = call(M, Bin, "rot13", Seq(Bin), b)

  // =====================================================================
  // XML (reference lib/xml.go + lib/xml/xml.go): schemaless decode with
  // plurality auto-promotion; optional Detail hint tree (compiled XSD).
  // =====================================================================
  private val X = Class.forName("graft.expressions.XmlKernel")
  def decode_xml(s: Column): Column = call(X, Str, "decodeXml", Seq(Str), s)
  def decode_xml(s: Column, hints: Column): Column =
    call(X, Str, "decodeXmlHinted", Seq(Str, Str), s, hints)
  /** Compile an XSD to the hint JSON decode_xml takes (reference
    * xml/xml.go:61-138 Details). Plan-time, driver-side: the compiled
    * hints ship to executors as a literal. */
  def compile_xsd(xsd: String): String = graft.expressions.XsdCompiler.compile(xsd)
  /** decode_xml with an XSD compiled at plan time. */
  def decode_xml_xsd(s: Column, xsd: String): Column =
    decode_xml(s, F.lit(compile_xsd(xsd)))

  // =====================================================================
  // HTTP url/query functions (reference lib/http.go:1002-1143), plus the
  // executing calls (get/head/post/do_request — http.go:518-635,
  // :826-854) as per-row kernels for keyed enrichment; bulk pagination
  // is the HTTP streaming source.
  // =====================================================================
  val urlStructType: StructType = graft.expressions.HttpKernel.urlStructType

  private val E = Class.forName("graft.expressions.HttpExecKernel")
  val httpRespType: StructType = graft.expressions.HttpExecKernel.respStructType
  val httpRequestType: StructType = graft.expressions.HttpExecKernel.requestStructType

  /** Executing GET — response struct (Status/StatusCode/Proto/Header/
    * ContentLength/Body). One request per row. */
  def http_get(url: Column): Column = call(E, httpRespType, "get", Seq(Str), url)
  /** Executing HEAD (reference http.go:518-548). */
  def http_head(url: Column): Column = call(E, httpRespType, "head", Seq(Str), url)
  /** Executing POST with content type + body (http.go:585-635). */
  def http_post(url: Column, contentType: Column, body: Column): Column =
    call(E, httpRespType, "post", Seq(Str, Str, Bin), url, contentType, body.cast(Bin))
  /** Execute a request struct built by request/get_request/post_request/
    * basic_authentication (http.go:826-854). */
  def http_do_request(req: Column): Column =
    call(E, httpRespType, "doRequest", Seq(httpRequestType), req)

  def parse_url(s: Column): Column = call(H, urlStructType, "parseUrl", Seq(Str), s)
  def format_url(m: Column): Column = call(H, Str, "formatUrl", Seq(urlStructType), m)
  def parse_query(s: Column): Column =
    call(H, MapType(Str, ArrS), "parseQuery", Seq(Str), s)
  /** Sorted-key url-encoded query string (url.Values.Encode). */
  def format_query(m: Column): Column =
    call(H, Str, "formatQuery", Seq(MapType(Str, ArrS)), m)

  // =====================================================================
  // Rate-limit header interpretation (reference lib/limit.go). `now` is
  // an explicit column for replay determinism (pass now_batch()).
  // =====================================================================
  val rateLimitType: StructType = graft.expressions.LimitKernel.resultType

  def rate_limit(headers: Column, policy: String, windowSecs: Column, now: Column): Column = {
    val w = (windowSecs * 1000000L).cast(LongType)
    policy match {
      case "okta" =>
        call(L, rateLimitType, "okta", Seq(MapType(Str, ArrS), LongType, TimestampType), headers, w, now)
      case "draft" =>
        call(L, rateLimitType, "draft", Seq(MapType(Str, ArrS), LongType, TimestampType), headers, w, now)
      case other => throw new IllegalArgumentException(s"unknown policy: $other")
    }
  }

  def rate_limit_general(headers: Column, prefix: String, delta: Boolean,
      windowSecs: Column, burst: Column, now: Column): Column =
    call(L, rateLimitType, "general",
      Seq(MapType(Str, ArrS), Str, BooleanType, LongType, LongType, TimestampType),
      headers, F.lit(prefix), F.lit(delta),
      (windowSecs * 1000000L).cast(LongType), burst.cast(LongType), now)

  // =====================================================================
  // VariantType entry points (Spark 4): a variant document enters the
  // json_* kernels through builtin to_json and a variant result leaves
  // through parse_json, so v_* and json_* share one implementation.
  // =====================================================================
  /** JSON text -> variant (builtin parse_json; vectorized). */
  def v_parse(json: Column): Column = F.parse_json(json)
  /** Variant -> Go-render JSON text (sorted keys). */
  def v_render(x: Column): Column = json_normalize(F.to_json(x))
  /** Dotted-path subtree; missing key = in-band error variant. */
  def v_get(x: Column, path: Column): Column =
    F.parse_json(call(J, Str, "getPath", Seq(Str, Str), F.to_json(x), path))
  def v_has(x: Column, path: Column): Column =
    call(J, BooleanType, "hasPath", Seq(Str, Str), F.to_json(x), path)
  /** collate over a variant doc -> rendered JSON list. */
  def v_collate(x: Column, path: Column): Column = json_collate(F.to_json(x), path)
  def v_with(dst: Column, src: Column): Column =
    F.parse_json(json_with(F.to_json(dst), F.to_json(src)))
  def v_with_update(dst: Column, src: Column): Column =
    F.parse_json(json_with_update(F.to_json(dst), F.to_json(src)))
  def v_with_replace(dst: Column, src: Column): Column =
    F.parse_json(json_with_replace(F.to_json(dst), F.to_json(src)))
  def v_keys(x: Column): Column = json_keys(F.to_json(x))
  def v_values(x: Column): Column = json_values(F.to_json(x))
  /** CEL size (-1 = no such overload). */
  def v_size(x: Column): Column = call(J, LongType, "size", Seq(Str), F.to_json(x))
  def v_drop(x: Column, paths: Seq[String]): Column =
    v_drop(x, F.array(paths.map(F.lit): _*))
  /** v_drop over an array<string> column of paths (the SQL form). */
  private[graft] def v_drop(x: Column, paths: Column): Column =
    F.parse_json(call(J, Str, "dropPaths", Seq(Str, ArrS), F.to_json(x), paths))

  // =====================================================================
  // LLM-pipeline operators (dedup / similarity / text analysis /
  // multimodal) — beyond the reference surface, designed for 100 TB.
  // =====================================================================
  /** Whitespace tokens of trimmed text (shared by dedup + text analysis,
    * and mirrored exactly by the DuckDB oracles). */
  def tokens(text: Column): Column = F.split(F.trim(text), "\\s+")

  /** Distinct word n-gram shingles over a token array (empty when the
    * document has fewer than n tokens). One kernel pass per document. */
  def shingles(toks: Column, n: Int): Column =
    call(K, ArrS, "wordShingles", Seq(ArrS, IntegerType), toks, F.lit(n))

  /** q89 repetition stats: [best, dup] occurrence counts over the word
    * n-grams of a token array (one kernel pass per document). */
  def ngram_run_stats(toks: Column, n: Int): Column =
    call(K, ArrayType(LongType, containsNull = false), "ngramRunStats",
      Seq(ArrS, IntegerType), toks, F.lit(n))

  /** q100 winnowed MOSS fingerprints: distinct selected k-gram hashes. */
  def winnow_fingerprints(toks: Column, k: Int, w: Int): Column =
    call(K, ArrayType(LongType, containsNull = false), "winnowedFingerprints",
      Seq(ArrS, IntegerType, IntegerType), toks, F.lit(k), F.lit(w))

  /** q95 char stats: [n_codepoints, n_distinct, shannon_entropy_bits]. */
  def char_stats(text: Column): Column =
    call(K, ArrayType(DoubleType, containsNull = false), "charStats",
      Seq(Str), text)

  /** Charikar SimHash-64 of a token array. */
  def simhash64(toks: Column): Column =
    call(K, LongType, "simhash64", Seq(ArrS), toks)

  /** 64-permutation MinHash signature (one kernel pass per document). */
  def minhash_sig(shingleSet: Column): Column =
    call(K, ArrayType(LongType, containsNull = false), "minhashSig", Seq(ArrS), shingleSet)

  /** Order-sensitive FNV-1a rolling fingerprint of a token array. */
  def rolling_fingerprint(toks: Column): Column =
    call(K, LongType, "rollingFingerprint", Seq(ArrS), toks)

  /** Low 64 bits of md5 as a signed long — the deterministic,
    * oracle-replicable (DuckDB `md5_number_lower`) hash used for split
    * assignment and the sketch families. */
  def md5_lower64(bytes: Column): Column =
    call(K, LongType, "md5Lower64", Seq(Bin), bytes)

  /** Stopword-profile language ID ('en','de','es','fr','zh','und'). */
  def lang_id(toks: Column): Column = call(K, Str, "langId", Seq(ArrS), toks)

  def stopword_hits(toks: Column, lang: String): Column =
    call(K, LongType, "stopwordHits", Seq(ArrS, Str), toks, F.lit(lang))

  /** Container-header decode over an opaque media payload — REAL
    * parsing (PNG signature + chunk walk + IHDR + CRC-32 check;
    * RIFF/WAVE fmt chunk, little-endian, odd-size padding), not a
    * stub: see [[graft.expressions.MediaKernel]]. Returns a struct
    * (container, width, height, bit_depth, color_type, sample_rate,
    * channels, bits_per_sample, valid) with nulls for the fields the
    * container doesn't carry. */
  def media_info(payload: Column): Column =
    call(MD, mediaInfoType, "mediaInfo", Seq(Bin), payload)

  val mediaInfoType: StructType = StructType(Seq(
    StructField("container", StringType, nullable = false),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("bit_depth", LongType),
    StructField("color_type", LongType),
    StructField("sample_rate", LongType),
    StructField("channels", LongType),
    StructField("bits_per_sample", LongType),
    StructField("valid", BooleanType, nullable = false)))

  /** ISO-BMFF/MP4 container triage (ISO/IEC 14496-12 box walk: ftyp
    * brand, moov/mvhd timescale+duration, per-trak hdlr handler
    * counts) — video-payload health fields for the corpus triage
    * report; no codec work. Brand parses from the sniffed ftyp header
    * even on truncated payloads; every other field requires a CLEAN
    * walk (boxes tile the payload exactly, mvhd present). */
  def mp4_info(payload: Column): Column =
    call(MD, mp4InfoType, "mp4Info", Seq(Bin), payload)

  val mp4InfoType: StructType = StructType(Seq(
    StructField("brand", StringType),
    StructField("timescale", LongType),
    StructField("duration", LongType),
    StructField("n_tracks", LongType),
    StructField("n_video", LongType),
    StructField("n_audio", LongType),
    StructField("valid", BooleanType, nullable = false)))

  /** Spec-valid minimal MP4 builder: ftyp (brand table
    * isom/mp42/avc1/qt) + moov{mvhd, per-track trak{tkhd, mdia{mdhd,
    * hdlr}}} — the planted-payload side of the video triage
    * round-trip. */
  def mp4_encode(brandIdx: Column, timescale: Column, duration: Column,
      nVideo: Column, nAudio: Column): Column =
    call(MD, Bin, "mp4Encode",
      Seq(LongType, LongType, LongType, LongType, LongType),
      brandIdx, timescale, duration, nVideo, nAudio)

  /** Spec-valid PNG header builder (signature + IHDR w/ real CRC-32 +
    * IDAT + IEND) — the planted-payload side of the media round-trip. */
  def png_encode(width: Column, height: Column, bitDepth: Column, colorType: Column): Column =
    call(MD, Bin, "pngEncode", Seq(LongType, LongType, LongType, LongType),
      width, height, bitDepth, colorType)

  /** Spec-valid JPEG header builder (SOI + APP0/JFIF + SOF0 + EOI,
    * 32 + 3*components bytes, no entropy stream). */
  def jpeg_encode(width: Column, height: Column, components: Column): Column =
    call(MD, Bin, "jpegEncode", Seq(LongType, LongType, LongType),
      width, height, components)

  /** Canonical 44-byte PCM WAV header builder. */
  def wav_encode(sampleRate: Column, channels: Column, bitsPerSample: Column): Column =
    call(MD, Bin, "wavEncode", Seq(LongType, LongType, LongType),
      sampleRate, channels, bitsPerSample)

  /** Complete 16-bit PCM WAV builder: header + `nSamples` deterministic
    * samples seeded by `seed` (sample k = ((seed+k)*2654435761) mod
    * 65536 - 32768 — oracle-recomputable). Seeds with seed mod 7 == 3
    * interleave a LIST chunk before data, so decoding requires the
    * generic RIFF walk, not a fixed 44-byte offset. */
  def wav_encode_pcm(sampleRate: Column, channels: Column, nSamples: Column,
      seed: Column): Column =
    call(MD, Bin, "wavEncodePcm", Seq(LongType, LongType, LongType, LongType),
      sampleRate, channels, nSamples, seed)

  val pcmWindowType: StructType = StructType(Seq(
    StructField("window_id", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_amp", LongType, nullable = false),
    StructField("peak_amp", LongType, nullable = false)))

  /** Real WAV sample decode + per-window aggregation: RIFF chunk walk
    * to the 16-bit PCM data, then windows of `win` samples reduced to
    * exact integer (window_id, n_samples, sum_amp, peak_amp) — the
    * frame featurizer q123's stride sampler was a stand-in for. Null
    * for non-PCM-16 payloads. */
  def wav_pcm_windows(payload: Column, win: Column): Column =
    call(MD, ArrayType(pcmWindowType, containsNull = false), "wavPcmWindows",
      Seq(Bin, LongType), payload, win)

  val zcrWindowType: StructType = StructType(Seq(
    StructField("window_id", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("zcr", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false)))

  /** Noisiness featurizer over the same decoded PCM: per window the
    * exact integer (window_id, n_samples, zcr, sum_abs) — sign
    * crossings (crossing at k iff sign-class differs from sample k-1,
    * owned by k's window) and L1 loudness. Null for non-PCM-16
    * payloads. */
  def wav_zcr_windows(payload: Column, win: Column): Column =
    call(MD, ArrayType(zcrWindowType, containsNull = false), "wavZcrWindows",
      Seq(Bin, LongType), payload, win)

  /** Complete 8-bit grayscale PNG builder: real zlib-deflated IDAT
    * carrying deterministic pixels (pixel (x,y) = ((seed + y*w + x) *
    * 2654435761) mod 256 + bright mod 256 — oracle-recomputable),
    * scanline y filtered with type y mod 5 so decoding exercises all
    * five PNG filters. */
  def png_encode_gray(width: Column, height: Column, seed: Column,
      bright: Column): Column =
    call(MD, Bin, "pngEncodeGray", Seq(LongType, LongType, LongType, LongType),
      width, height, seed, bright)

  val pngRowType: StructType = StructType(Seq(
    StructField("y", LongType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sum_lum", LongType, nullable = false),
    StructField("min_lum", LongType, nullable = false),
    StructField("max_lum", LongType, nullable = false)))

  /** Real PNG pixel decode + per-scanline aggregation: chunk walk,
    * IDAT inflate, per-scanline unfilter (all five spec filters),
    * luminance collapse, then one exact-integer row per scanline
    * (y, n_px, sum_lum, min_lum, max_lum) — the image twin of
    * [[wav_pcm_windows]]. Null for non-8-bit/interlaced/corrupt
    * payloads and >16M-pixel bombs. */
  def png_row_stats(payload: Column): Column =
    call(MD, ArrayType(pngRowType, containsNull = false), "pngRowStats",
      Seq(Bin), payload)

  /** 64-bit perceptual difference hash (dHash) over a decoded PNG:
    * 9x8 integer block-mean grid, bit cy*8+cx = mean(cx,cy) <
    * mean(cx+1,cy). Null when decode fails or the image is smaller
    * than the grid. */
  def png_dhash(payload: Column): Column =
    call(MD, LongType, "pngDhash", Seq(Bin), payload)

  /** Complete baseline JPEG builder: real Huffman-coded entropy stream
    * of flat 8x8 blocks (block bi carries (((x*x + x) * 2654435761)
    * DIV 65536) mod 256 + bright mod 256, x = (seed + bi) mod 32768 —
    * see MediaKernel.jpegBlockVal for why the argument is quadratic)
    * under an all-ones quant table, so the lossy codec round-trips
    * EXACTLY and an arithmetic oracle certifies the decode — the JPEG
    * twin of [[png_encode_gray]]. */
  def jpeg_encode_gray_flat(width: Column, height: Column, seed: Column,
      bright: Column): Column =
    call(MD, Bin, "jpegEncodeGrayFlat",
      Seq(LongType, LongType, LongType, LongType),
      width, height, seed, bright)

  /** [[jpeg_encode_gray_flat]] with a libjpeg-style quality knob: the
    * DQT carries the quality-scaled Annex K luminance table (zigzag
    * order per the spec) and DC coefficients quantize by its entry 0 —
    * the payload a quality-triage pass can read the encoder setting
    * back out of. */
  def jpeg_encode_gray_q(width: Column, height: Column, seed: Column,
      bright: Column, quality: Column): Column =
    call(MD, Bin, "jpegEncodeGrayQ",
      Seq(LongType, LongType, LongType, LongType, LongType),
      width, height, seed, bright, quality)

  /** Quant table 0 (luminance) of a JPEG payload, as stored (zigzag
    * order — entry 0 is the DC step either way), 64 longs; null when
    * the bytes are not a JPEG or carry no table 0. */
  def jpeg_dqt(payload: Column): Column =
    call(MD, ArrayType(LongType, containsNull = false), "jpegDqt",
      Seq(Bin), payload)

  /** [[png_row_stats]] over EITHER image format (PNG inflate+unfilter
    * or baseline-JPEG Huffman+dequant+IDCT luma), dispatched on magic
    * bytes — one plan for a mixed-format corpus. */
  def image_row_stats(payload: Column): Column =
    call(MD, ArrayType(pngRowType, containsNull = false), "imageRowStats",
      Seq(Bin), payload)

  /** [[png_dhash]]'s 64-bit perceptual hash over EITHER image format
    * (JPEG luma = the Y channel; PNG RGB collapses (r+g+b)/3). */
  def image_dhash(payload: Column): Column =
    call(MD, LongType, "imageDhash", Seq(Bin), payload)

  /** Container-agnostic BYTE-level feature: deterministic 16-bin byte
    * histogram over an opaque binary column — the cheap first-tier
    * signal (compression sniffing, format clustering) that runs before
    * any codec. Real decodes are the next tiers: [[media_info]]
    * (headers), [[wav_pcm_windows]] (audio samples), [[png_row_stats]]
    * / [[png_dhash]] (image pixels). */
  def byte_histogram16(bytes: Column): Column =
    call(K, ArrayType(FloatType, containsNull = false), "byteHistogram16", Seq(Bin), bytes)

  /** Integer-count 16-bin byte histogram (oracle-exact variant). */
  def byte_histogram_counts(bytes: Column): Column =
    call(K, ArrayType(LongType, containsNull = false), "byteHistogramCounts", Seq(Bin), bytes)

  /** q105 Bloom prefilter: grams whose k=3 bloom positions (md5-lower-64
    * of "bf<j>:<gram>", masked to 8*|bits|) are all set in the bitmap
    * literal. One kernel pass per document, zero shuffles. */
  def bloom_hits(bits: Column, grams: Column): Column =
    call(K, ArrS, "bloomHits", Seq(Bin, ArrS), bits, grams)

  /** Apply a learned BPE merge table (rank-ordered lhs/rhs arrays) to a
    * word: code-point split, then greedy left-to-right merge per rank
    * (SketchKernel.bpeApply — the reference BPE apply loop). */
  def bpe_apply(word: Column, lhs: Column, rhs: Column): Column =
    call(K, ArrayType(StringType, containsNull = false), "bpeApply",
      Seq(Str, ArrS, ArrS), word, lhs, rhs)

  /** Johnson-Lindenstrauss +-1 sign projection of a quantized vector
    * against a flattened plan-literal sign matrix
    * (SketchKernel.jlProject). */
  def jl_project(qv: Column, signs: Column, outDims: Int): Column =
    call(K, ArrayType(LongType, containsNull = false), "jlProject",
      Seq(ArrayType(LongType, containsNull = false),
        ArrayType(LongType, containsNull = false), IntegerType),
      qv, signs, F.lit(outDims))

  /** DSIR per-doc llr sum: one kernel pass over the token array
    * against a plan-literal llr table (SketchKernel.dsirSum; table
    * length must be a power of two). */
  def dsir_sum(toks: Column, llr: Column): Column =
    call(K, DoubleType, "dsirSum",
      Seq(ArrS, ArrayType(DoubleType, containsNull = false)), toks, llr)

  /** Hashed bag-of-words feature counts: bucket = md5(salt ‖ tok) &
    * (buckets-1), one kernel pass per document
    * (SketchKernel.hashCounts; buckets must be a power of two). */
  def hash_counts(toks: Column, salt: String, buckets: Int): Column =
    call(K, ArrayType(LongType, containsNull = false), "hashCounts",
      Seq(ArrS, Str, IntegerType), toks, F.lit(salt), F.lit(buckets))

  /** 64-component MinHash partial signature over an array of 31-bit
    * shingle hashes (universal-hash permutations, constants pinned to
    * the oracle's md5 derivation — SketchKernel.minhashComponents). */
  def minhash_components(hs: Column): Column =
    call(K, ArrayType(LongType, containsNull = false), "minhashComponents",
      Seq(ArrayType(LongType)), hs)

  /** Hamming distance between two 64-bit signatures (codegen'd builtins). */
  def hamming64(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** 32-bit Morton (z-order) code of two 16-bit values — the
    * multi-dimensional layout key (SketchKernel.morton16; a kernel
    * because the pure-Column spread duplicates its input subtree 16x
    * per dimension). */
  def morton16(x: Column, y: Column): Column =
    call(K, LongType, "morton16", Seq(LongType, LongType), x, y)

  /** Bounded top-k-smallest aggregate: the k smallest DISTINCT longs per
    * group, sorted ascending. Unlike `slice(sort_array(collect_set(x)),
    * 1, k)` its partial-aggregation state is k longs flat (map-side
    * combine included), so hot groups — stopword posting lists — never
    * accumulate corpus-sized state. See [[graft.expressions.MinKAgg]]. */
  def min_k(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.Shim.column(
      graft.expressions.MinKAgg(
        org.apache.spark.sql.graft.Shim.expression(c), k).toAggregateExpression())

  /** Distributed Gramian: elementwise sum of `vec ⊗ vec` outer products
    * per group, upper triangle packed row-major into `d*(d+1)/2` longs.
    * Partial state is ONE fixed array per task (map-side combine), so a
    * covariance over 100 TB of vectors shuffles `O(tasks * d²)` longs —
    * never `O(rows * d²)` exploded cells. See
    * [[graft.expressions.GramianAgg]]. */
  def gramian(vec: Column, d: Int): Column =
    org.apache.spark.sql.graft.Shim.column(
      graft.expressions.GramianAgg(
        org.apache.spark.sql.graft.Shim.expression(vec), d).toAggregateExpression())

  /** PQ subspace argmin codes over a flattened centroid literal (one
    * inner array per subspace, each [cl, dims...]* in ascending cl
    * order) — bit-identical to the least(struct(dist, cl)) expression
    * form it replaces in q114/q118's hot path. */
  def pq_codes(qv: Column, cents: Column, subDim: Int): Column =
    call(K, ArrayType(LongType), "pqCodes",
      Seq(ArrayType(LongType), ArrayType(ArrayType(LongType)), IntegerType),
      qv, cents, F.lit(subDim))

  /** Left-to-right double dot product (kernel loop; bit-identical to
    * aggregate(zip_with(a,b,*), 0d, +) and the DuckDB oracle form). */
  def dot_product(a: Column, b: Column): Column =
    call(K, DoubleType, "dotProduct",
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)), a, b)

  /** Exact double-precision cosine similarity between two double arrays,
    * left-to-right accumulation (deterministic, oracle-matchable). */
  def cosine(a: Column, b: Column): Column =
    dot_product(a, b) / (F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b)))

  /** Random-hyperplane LSH sign bits for an embedding (ANN scale path). */
  def embed_sign_bits(emb: Column, nbits: Int): Column =
    call(K, LongType, "embedSignBits", Seq(ArrayType(DoubleType), IntegerType),
      emb, F.lit(nbits))

  /** IVF cell assignment over a fixed md5-derived Rademacher codebook
    * (cluster-pruned ANN without a training pass). */
  def ivf_cell(emb: Column, nCells: Int): Column =
    call(K, IntegerType, "ivfCell", Seq(ArrayType(DoubleType), IntegerType),
      emb, F.lit(nCells))

  /** The nprobe closest IVF cells for a query vector, best first. */
  def ivf_probes(emb: Column, nCells: Int, nprobe: Int): Column =
    call(K, ArrayType(IntegerType, containsNull = false), "ivfProbes",
      Seq(ArrayType(DoubleType), IntegerType, IntegerType),
      emb, F.lit(nCells), F.lit(nprobe))

  // =====================================================================
  // CEL core comprehensions (SURVEY §2.1) — thin aliases onto Spark's
  // codegen'd higher-order functions, named for the CEL surface. The
  // `as` macro is a Scala `val` / Dataset.transform (zero runtime cost);
  // `has(e.f)` is null-safe getField / map_contains_key natively.
  // =====================================================================
  def cel_map(list: Column, f: Column => Column): Column = F.transform(list, f)
  def cel_map(list: Column, pred: Column => Column, f: Column => Column): Column =
    F.transform(F.filter(list, pred), f)
  def cel_filter(list: Column, pred: Column => Column): Column = F.filter(list, pred)
  def cel_all(list: Column, pred: Column => Column): Column = F.forall(list, pred)
  def cel_exists(list: Column, pred: Column => Column): Column = F.exists(list, pred)
  def cel_exists_one(list: Column, pred: Column => Column): Column =
    F.size(F.filter(list, pred)) === 1

  /** debug(tag, expr): pass-through that logs the value with a
    * "DEBUG: tag:" prefix (reference lib/debug.go:70-91 + handler
    * mito.go:292-298). Logs per ROW on executor logs — like the
    * reference's single-document model, intended for small/sampled data.
    * Errors pass through too (NonStrict): error values are in-band here. */
  def debug_(tag: String, c: Column): Column =
    call(J, Str, "debugLog", Seq(Str, Str), F.lit(tag), c.cast(Str))

  // =====================================================================
  // HTTP request-map builders (reference http.go:581-824): build the
  // request as DATA (a typed struct column); execution happens in the
  // HTTP source / driver client, mirroring get_request/do_request.
  // =====================================================================
  def get_request(url: Column): Column = request(F.lit("GET"), url, F.lit(null).cast(Bin))
  def post_request(url: Column, contentType: Column, body: Column): Column =
    F.struct(F.lit("POST").as("Method"), url.as("URL"),
      F.map_from_arrays(F.array(F.lit("Content-Type")), F.array(F.array(contentType)))
        .as("Header"),
      body.cast(Bin).as("Body"))
  def request(method: Column, url: Column, body: Column): Column =
    F.struct(method.as("Method"), url.as("URL"),
      F.map_from_arrays(F.array().cast(ArrayType(Str)), F.array().cast(ArrayType(ArrS)))
        .as("Header"),
      body.cast(Bin).as("Body"))
  /** Inject an Authorization header into a request struct
    * (basic_authentication, http.go:783-824). */
  def basic_authentication(req: Column, user: Column, pass: Column): Column = {
    val tok = base64_std(F.concat(user, F.lit(":"), pass).cast(Bin))
    req.withField("Header", F.map_concat(req.getField("Header"),
      F.map_from_arrays(F.array(F.lit("Authorization")),
        F.array(F.array(F.concat(F.lit("Basic "), tok))))))
  }

  final case class RegexpRegistry(patterns: Map[String, String]) {
    private def p(name: String): String =
      patterns.getOrElse(name, throw new IllegalArgumentException(s"no pattern: $name"))
    def re_match(name: String, s: Column): Column = s.rlike(p(name))
    def re_find(name: String, s: Column): Column = F.regexp_extract(s, p(name), 0)
    def re_find_all(name: String, s: Column): Column = F.regexp_extract_all(s, F.lit(p(name)), F.lit(0))
    def re_find_submatch(name: String, s: Column): Column = {
      val n = Pattern.compile(p(name)).matcher("").groupCount()
      F.array((0 to n).map(g => F.regexp_extract(s, p(name), g)): _*)
    }
    def re_replace_all(name: String, s: Column, replacement: Column): Column =
      F.regexp_replace(s, F.lit(p(name)), replacement)
    /** All matches with all capture groups: array of [full, g1, ...]
      * arrays (Go FindAllStringSubmatch). Groups are computed positionally
      * against the original string by a kernel, so context-dependent
      * patterns (anchors, lookaround, word boundaries) are correct. */
    def re_find_all_submatch(name: String, s: Column): Column =
      call(S, ArrayType(ArrayType(StringType)), "findAllSubmatch",
        Seq(Str, Str), s, F.lit(p(name)))
  }
}
