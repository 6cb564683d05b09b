package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

/** SQL registration of the engine's function surface, so every operator
  * is reachable from `spark.sql(...)` as well as the Column API:
  *
  *   - at session build: `.withExtensions(new GraftExtensions)` or
  *     `spark.sql.extensions=graft.GraftExtensions`
  *   - on a live session: `GraftFunctions.register(spark)`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}

object GraftFunctions {
  private val J = Class.forName("graft.expressions.JsonKernel")
  private val S = Class.forName("graft.expressions.StringKernel")
  private val T = Class.forName("graft.expressions.TimeKernel")
  private val C = Class.forName("graft.expressions.CryptoKernel")
  private val K = Class.forName("graft.expressions.SketchKernel")
  private val M = Class.forName("graft.expressions.MimeKernel")
  private val H = Class.forName("graft.expressions.HttpKernel")
  private val X = Class.forName("graft.expressions.XmlKernel")

  private val Str  = StringType
  private val Bin  = BinaryType
  private val ArrS = ArrayType(StringType)

  private def si(cls: Class[_], dt: DataType, method: String,
      inTypes: Seq[DataType])(exprs: Seq[Expression]): Expression =
    StaticInvoke(cls, dt, method, exprs.toIndexedSeq, inTypes)

  private def cols(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => Shim.resolvedExpression(f(exprs.map(Shim.column)))

  /** name -> expression builder, shared by both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // dynamic-document collections tier
    "json_collate"      -> si(J, Str, "collate", Seq(Str, Str)) _,
    "json_drop"         -> si(J, Str, "dropPath", Seq(Str, Str)) _,
    "json_drop_empty"   -> si(J, Str, "dropEmpty", Seq(Str)) _,
    "json_flatten_deep" -> si(J, Str, "flattenDeep", Seq(Str)) _,
    "json_with"         -> si(J, Str, "withAll", Seq(Str, Str)) _,
    "json_with_update"  -> si(J, Str, "withUpdate", Seq(Str, Str)) _,
    "json_with_replace" -> si(J, Str, "withReplace", Seq(Str, Str)) _,
    "json_keys"         -> si(J, Str, "keysSorted", Seq(Str)) _,
    "json_values"       -> si(J, Str, "valuesSorted", Seq(Str)) _,
    "json_zip"          -> si(J, Str, "zip", Seq(Str, Str)) _,
    "json_min"          -> si(J, Str, "minList", Seq(Str)) _,
    "json_max"          -> si(J, Str, "maxList", Seq(Str)) _,
    "json_normalize"    -> si(J, Str, "normalize", Seq(Str)) _,
    "decode_json_stream" -> si(J, Str, "decodeStream", Seq(Str)) _,
    "json_elements"     -> si(J, ArrS, "elements", Seq(Str)) _,
    "is_error"          -> si(J, BooleanType, "isError", Seq(Str)) _,
    "try_weaken"        -> si(J, Str, "tryWeaken", Seq(Str)) _,
    "try_weaken_labeled" -> si(J, Str, "tryWeakenLabeled", Seq(Str, Str)) _,
    // strings
    "count_substr"      -> si(S, LongType, "countSubstr", Seq(Str, Str)) _,
    "index_str"         -> si(S, LongType, "indexOf", Seq(Str, Str)) _,
    "last_index_str"    -> si(S, LongType, "lastIndexOf", Seq(Str, Str)) _,
    "index_any"         -> si(S, LongType, "indexAny", Seq(Str, Str)) _,
    "last_index_any"    -> si(S, LongType, "lastIndexAny", Seq(Str, Str)) _,
    "compare_str"       -> si(S, IntegerType, "compareStr", Seq(Str, Str)) _,
    "contains_any"      -> si(S, BooleanType, "containsAny", Seq(Str, Str)) _,
    "equal_fold"        -> si(S, BooleanType, "equalFold", Seq(Str, Str)) _,
    "substring_runes"   -> si(S, Str, "substrRunes", Seq(Str, LongType, LongType)) _,
    "to_title"          -> si(S, Str, "toTitle", Seq(Str)) _,
    "to_valid_utf8"     -> si(S, Str, "toValidUTF8", Seq(Bin, Str)) _,
    "trim_cutset"       -> si(S, Str, "trimCutset", Seq(Str, Str)) _,
    "trim_prefix"       -> si(S, Str, "trimPrefix", Seq(Str, Str)) _,
    "trim_suffix"       -> si(S, Str, "trimSuffix", Seq(Str, Str)) _,
    "fields_str"        -> si(S, ArrS, "fields", Seq(Str)) _,
    "split_n"           -> si(S, ArrS, "splitN", Seq(Str, Str, LongType)) _,
    "split_after"       -> si(S, ArrS, "splitAfter", Seq(Str, Str)) _,
    "split_after_n"     -> si(S, ArrS, "splitAfterN", Seq(Str, Str, LongType)) _,
    "replace_n"         -> si(S, Str, "replaceN", Seq(Str, Str, Str, LongType)) _,
    "find_all_submatch" -> si(S, ArrayType(ArrS), "findAllSubmatch", Seq(Str, Str)) _,
    // time (named Go layouts resolve inside the kernel)
    "format_time_go"    -> si(T, Str, "formatTime", Seq(TimestampType, Str)) _,
    "parse_time_go"     -> si(T, TimestampType, "parseTime", Seq(Str, Str)) _,
    "duration_go"       -> si(T, LongType, "parseDuration", Seq(Str)) _,
    "format_duration_go" -> si(T, Str, "formatDuration", Seq(LongType)) _,
    // crypto
    "md5_bytes"         -> si(C, Bin, "md5Bytes", Seq(Bin)) _,
    "sha1_bytes"        -> si(C, Bin, "sha1Bytes", Seq(Bin)) _,
    "sha256_bytes"      -> si(C, Bin, "sha256Bytes", Seq(Bin)) _,
    "hmac_bytes"        -> si(C, Bin, "hmac", Seq(Bin, Str, Bin)) _,
    "base64_raw"        -> si(C, Str, "base64Raw", Seq(Bin)) _,
    "hex_lower"         -> si(C, Str, "hexEncode", Seq(Bin)) _,
    // sketches / pipeline
    "simhash64"         -> si(K, LongType, "simhash64", Seq(ArrS)) _,
    "morton16"          -> si(K, LongType, "morton16", Seq(LongType, LongType)) _,
    "rolling_fingerprint" -> si(K, LongType, "rollingFingerprint", Seq(ArrS)) _,
    "lang_id"           -> si(K, Str, "langId", Seq(ArrS)) _,
    // formats
    "gunzip"            -> si(M, Bin, "gunzip", Seq(Bin)) _,
    "ndjson_docs"       -> si(M, ArrS, "ndjson", Seq(Bin)) _,
    "rot13"             -> si(M, Bin, "rot13", Seq(Bin)) _,
    "csv_header"        -> si(M, ArrayType(MapType(Str, Str)), "csvHeader", Seq(Bin)) _,
    "csv_no_header"     -> si(M, ArrayType(ArrS), "csvNoHeader", Seq(Bin)) _,
    // crypto additions
    "base64_std"        -> si(C, Str, "base64Std", Seq(Bin)) _,
    "base64_decode"     -> si(C, Bin, "base64Decode", Seq(Str)) _,
    // variant entry points (v_parse = builtin parse_json), built from
    // the graft.functions Column forms so both surfaces stay in step
    "v_render"          -> cols(c => functions.v_render(c(0))),
    "v_get"             -> cols(c => functions.v_get(c(0), c(1))),
    "v_has"             -> cols(c => functions.v_has(c(0), c(1))),
    "v_collate"         -> cols(c => functions.v_collate(c(0), c(1))),
    "v_with"            -> cols(c => functions.v_with(c(0), c(1))),
    "v_with_update"     -> cols(c => functions.v_with_update(c(0), c(1))),
    "v_with_replace"    -> cols(c => functions.v_with_replace(c(0), c(1))),
    "v_keys"            -> cols(c => functions.v_keys(c(0))),
    "v_values"          -> cols(c => functions.v_values(c(0))),
    "v_size"            -> cols(c => functions.v_size(c(0))),
    "v_drop"            -> cols(c => functions.v_drop(c(0), c(1))),
    "decode_xml"        -> si(X, Str, "decodeXml", Seq(Str)) _,
    "decode_xml_hinted" -> si(X, Str, "decodeXmlHinted", Seq(Str, Str)) _,
    // url/query
    "parse_url"         -> si(H, graft.expressions.HttpKernel.urlStructType, "parseUrl", Seq(Str)) _,
    "format_url"        -> si(H, Str, "formatUrl", Seq(graft.expressions.HttpKernel.urlStructType)) _,
    "parse_query"       -> si(H, MapType(Str, ArrS), "parseQuery", Seq(Str)) _,
    "format_query"      -> si(H, Str, "formatQuery", Seq(MapType(Str, ArrS))) _,
    // the CEL front-end itself: cel('<program>', state_json_col) — the
    // program must be a literal (compiled once at plan time); lowered to
    // codegen Columns when in the subset, interpreted otherwise
    "cel"               -> celBuilder _)

  private def celBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(org.apache.spark.sql.catalyst.expressions.Literal(p: org.apache.spark.unsafe.types.UTF8String, StringType), state) =>
      Shim.resolvedExpression(
        graft.cel.Cel.auto(p.toString, Shim.column(state)))
    case _ => throw new IllegalArgumentException(
      "cel(program, state): program must be a STRING literal")
  }

  /** Register everything on a live session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      Shim.registerFunction(spark, name, b)
    }
}
