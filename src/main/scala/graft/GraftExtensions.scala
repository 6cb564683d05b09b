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
  private def cols(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => Shim.resolvedExpression(f(exprs.map(Shim.column)))

  /** SQL names built from their `graft.functions` Column form, so both
    * surfaces build the same expression. */
  private[graft] val fromColumns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // dynamic-document collections tier
    "json_collate"      -> cols(c => functions.json_collate(c(0), c(1))),
    "json_drop_empty"   -> cols(c => functions.json_drop_empty(c(0))),
    "json_flatten_deep" -> cols(c => functions.json_flatten_deep(c(0))),
    "json_with"         -> cols(c => functions.json_with(c(0), c(1))),
    "json_with_update"  -> cols(c => functions.json_with_update(c(0), c(1))),
    "json_with_replace" -> cols(c => functions.json_with_replace(c(0), c(1))),
    "json_keys"         -> cols(c => functions.json_keys(c(0))),
    "json_values"       -> cols(c => functions.json_values(c(0))),
    "json_zip"          -> cols(c => functions.json_zip(c(0), c(1))),
    "json_min"          -> cols(c => functions.json_min(c(0))),
    "json_max"          -> cols(c => functions.json_max(c(0))),
    "json_normalize"    -> cols(c => functions.json_normalize(c(0))),
    "decode_json_stream" -> cols(c => functions.decode_json_stream(c(0))),
    "json_elements"     -> cols(c => functions.json_elements(c(0))),
    "is_error"          -> cols(c => functions.is_error(c(0))),
    "try_weaken"        -> cols(c => functions.try_(c(0))),
    // strings
    "count_substr"      -> cols(c => functions.count_substr(c(0), c(1))),
    "index_str"         -> cols(c => functions.index_str(c(0), c(1))),
    "last_index_str"    -> cols(c => functions.last_index(c(0), c(1))),
    "index_any"         -> cols(c => functions.index_any(c(0), c(1))),
    "last_index_any"    -> cols(c => functions.last_index_any(c(0), c(1))),
    "compare_str"       -> cols(c => functions.compare_str(c(0), c(1))),
    "contains_any"      -> cols(c => functions.contains_any(c(0), c(1))),
    "equal_fold"        -> cols(c => functions.equal_fold(c(0), c(1))),
    "substring_runes"   -> cols(c => functions.substring_runes(c(0), c(1), c(2))),
    "to_title"          -> cols(c => functions.to_title(c(0))),
    "to_valid_utf8"     -> cols(c => functions.to_valid_utf8(c(0), c(1))),
    "trim_cutset"       -> cols(c => functions.trim_cutset(c(0), c(1))),
    "trim_prefix"       -> cols(c => functions.trim_prefix(c(0), c(1))),
    "trim_suffix"       -> cols(c => functions.trim_suffix(c(0), c(1))),
    "fields_str"        -> cols(c => functions.fields_str(c(0))),
    "split_n"           -> cols(c => functions.split_n(c(0), c(1), c(2))),
    "split_after"       -> cols(c => functions.split_after(c(0), c(1))),
    "split_after_n"     -> cols(c => functions.split_after_n(c(0), c(1), c(2))),
    "replace_n"         -> cols(c => functions.replace_n(c(0), c(1), c(2), c(3))),
    // time
    "duration_go"       -> cols(c => functions.duration_go(c(0))),
    "format_duration_go" -> cols(c => functions.format_duration_go(c(0))),
    // crypto
    "md5_bytes"         -> cols(c => functions.md5_bytes(c(0))),
    "sha1_bytes"        -> cols(c => functions.sha1_bytes(c(0))),
    "sha256_bytes"      -> cols(c => functions.sha256_bytes(c(0))),
    "base64_std"        -> cols(c => functions.base64_std(c(0))),
    "base64_raw"        -> cols(c => functions.base64_raw(c(0))),
    "base64_decode"     -> cols(c => functions.base64_decode(c(0))),
    "hex_lower"         -> cols(c => functions.hex_lower(c(0))),
    // sketches / pipeline
    "simhash64"         -> cols(c => functions.simhash64(c(0))),
    "morton16"          -> cols(c => functions.morton16(c(0), c(1))),
    "rolling_fingerprint" -> cols(c => functions.rolling_fingerprint(c(0))),
    "lang_id"           -> cols(c => functions.lang_id(c(0))),
    // formats
    "gunzip"            -> cols(c => functions.gunzip(c(0))),
    "ndjson_docs"       -> cols(c => functions.ndjson_docs(c(0))),
    "rot13"             -> cols(c => functions.rot13(c(0))),
    "csv_header"        -> cols(c => functions.csv_header(c(0))),
    "csv_no_header"     -> cols(c => functions.csv_no_header(c(0))),
    "decode_xml"        -> cols(c => functions.decode_xml(c(0))),
    "decode_xml_hinted" -> cols(c => functions.decode_xml(c(0), c(1))),
    // url/query
    "parse_url"         -> cols(c => functions.parse_url(c(0))),
    "format_url"        -> cols(c => functions.format_url(c(0))),
    "parse_query"       -> cols(c => functions.parse_query(c(0))),
    "format_query"      -> cols(c => functions.format_query(c(0))),
    // variant entry points (v_parse = builtin parse_json)
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
    "v_drop"            -> cols(c => functions.v_drop(c(0), c(1))))

  private val J = Class.forName("graft.expressions.JsonKernel")
  private val S = Class.forName("graft.expressions.StringKernel")
  private val T = Class.forName("graft.expressions.TimeKernel")
  private val C = Class.forName("graft.expressions.CryptoKernel")

  private def si(cls: Class[_], dt: DataType, method: String,
      inTypes: Seq[DataType])(exprs: Seq[Expression]): Expression =
    StaticInvoke(cls, dt, method, exprs.toIndexedSeq, inTypes)

  /** name -> expression builder, shared by both registration paths. The
    * names whose Column form takes a Scala String (a path, label, regexp
    * name, Go layout or hash name) where SQL passes a column invoke
    * their kernel directly. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = fromColumns ++ Seq(
    "json_drop"         -> si(J, StringType, "dropPath", Seq(StringType, StringType)) _,
    "try_weaken_labeled" -> si(J, StringType, "tryWeakenLabeled", Seq(StringType, StringType)) _,
    "find_all_submatch" -> si(S, ArrayType(ArrayType(StringType)), "findAllSubmatch",
      Seq(StringType, StringType)) _,
    "format_time_go"    -> si(T, StringType, "formatTime", Seq(TimestampType, StringType)) _,
    "parse_time_go"     -> si(T, TimestampType, "parseTime", Seq(StringType, StringType)) _,
    "hmac_bytes"        -> si(C, BinaryType, "hmac", Seq(BinaryType, StringType, BinaryType)) _,
    // the CEL front-end itself: cel('<program>', state_json_col) — the
    // program must be a literal (compiled once at plan time), run by the
    // CEL interpreter per row
    "cel"               -> celBuilder _)

  private def celBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(org.apache.spark.sql.catalyst.expressions.Literal(p: org.apache.spark.unsafe.types.UTF8String, StringType), state) =>
      Shim.resolvedExpression(
        graft.cel.Cel(p.toString, Shim.column(state)))
    case _ => throw new IllegalArgumentException(
      "cel(program, state): program must be a STRING literal")
  }

  /** Register everything on a live session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      Shim.registerFunction(spark, name, b)
    }
}
