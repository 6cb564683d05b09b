package graft.cel

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactoryBuilder, JsonGenerator}
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.core.util.ByteArrayBuilder
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import graft.expressions.{CryptoKernel, StringKernel, TimeKernel}
import graft.values.JsonAlgebra
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import scala.collection.immutable.TreeMap
import scala.util.control.NonFatal

/** Tree-walk evaluator for the CEL subset (the text front-end of the
  * engine — SURVEY.md §7.2 step 6). Execution model matches the
  * reference (cel-go interpreter, one document at a time); distribution
  * comes from running the program per-row inside a Catalyst expression
  * ([[CelExpression]]). The Column API remains the full capability
  * surface; this front-end is sugar over the same kernels.
  *
  * CEL error values are VALUES here ([[Eval.VErr]]), so `&&`/`||`
  * absorption, `try`, and NonStrict functions follow the reference
  * semantics (lib/try.go, mito.go error handling) without exceptions.
  */
object Eval {

  sealed trait V extends Serializable
  final case class VInt(v: Long) extends V
  final case class VUint(v: Long) extends V
  final case class VDouble(v: Double) extends V
  final case class VString(v: String) extends V
  final case class VBytes(v: Array[Byte]) extends V
  final case class VBool(v: Boolean) extends V
  case object VNull extends V
  final case class VList(v: Vector[V]) extends V
  /** A CEL map. Entries are kept in Go key order (code-point order,
    * [[JsonAlgebra.goOrder]]): the order Go's encoding/json marshals a
    * map in (mito prints every result through it, mito.go:329-356) and
    * the canonical order keys()/values() and comprehensions surface. So
    * a render walks the entries once, with no per-render sort and no
    * second lookup per key. The entry map is a TreeMap whose ordering is
    * a serializable singleton, so a VMap rides inside serialized
    * closures and task binaries as it is.
    *
    * `intKeys` marks entries whose CEL key was an int/uint (testdata/
    * keys.txt: `keys({1: "a"})` must return `[1, 2]`, not strings).
    * Storage stays string-keyed — the engine's JSON backbone stringifies
    * integer keys exactly like Go's json.Marshal — and the tag restores
    * the typed key at the surfaces where the type is observable: keys()/
    * values() ordering and element type, comprehension iteration, and
    * CEL equality (`{1:"a"} != {"1":"a"}`). Values that cross a JSON
    * boundary (encode_json, a rendered result) degrade to string keys,
    * as the JSON value universe requires; the collections ops work on V
    * and keep the tag ([[Collections]]). Not a case class: the arity-1
    * unapply keeps the tag out of the 60+ existing match sites. */
  final class VMap(val v: TreeMap[String, V], val intKeys: Set[String]) extends V {
    override def equals(o: Any): Boolean = o match {
      case m: VMap => m.v == v && m.intKeys == intKeys
      case _ => false
    }
    override def hashCode: Int = v.hashCode * 31 + intKeys.hashCode
    // case-class-format toString: VMap error texts predate the tag
    override def toString: String = s"VMap($v)"
  }
  object VMap {
    /** No entries, in Go key order: every map's entries grow from here. */
    val noEntries: TreeMap[String, V] = TreeMap.empty(JsonAlgebra.goOrder)
    def entryBuilder: scala.collection.mutable.Builder[(String, V), TreeMap[String, V]] =
      TreeMap.newBuilder(JsonAlgebra.goOrder)
    def apply(v: TreeMap[String, V]): VMap = new VMap(v, Set.empty)
    def apply(v: TreeMap[String, V], intKeys: Set[String]): VMap =
      new VMap(v, intKeys)
    /** A string-keyed map; a repeated key keeps its last value. */
    def of(kvs: (String, V)*): VMap = from(kvs)
    def from(kvs: IterableOnce[(String, V)]): VMap = new VMap(noEntries ++ kvs, Set.empty)
    def unapply(m: VMap): Option[TreeMap[String, V]] = Some(m.v)
  }
  final case class VTimestamp(micros: Long) extends V
  final case class VDuration(micros: Long) extends V
  /** Error value; `at` is the source offset of the node the error
    * originated at (-1 = unknown) — the analog of the reference's
    * DecoratedError node id (lib/errors.go:28-52). Plain class with a
    * case-like companion so the span rides along without touching the
    * 100+ `VErr(msg)` construction/match sites. */
  final class VErr(val msg: String, val at: Int = -1) extends V {
    override def equals(o: Any): Boolean = o match {
      case e: VErr => e.msg == msg
      case _ => false
    }
    override def hashCode: Int = msg.hashCode
    override def toString: String = s"VErr($msg)"
  }
  object VErr {
    def apply(msg: String): VErr = new VErr(msg)
    def apply(msg: String, at: Int): VErr = new VErr(msg, at)
    def unapply(e: VErr): Option[String] = Some(e.msg)
  }
  /** CEL optional type (enabled in mito, mito.go:83): produced by `.?f`
    * and optional.of/none; consumed by orValue/hasValue/value. */
  final case class VOpt(v: Option[V]) extends V
  /** CEL type value: `type(x)` results and the bound type identifiers
    * (`int`, `string`, ... — cel-go's standard declarations). Equality is
    * by name (case-class), the only operation CEL defines on types. */
  final case class VType(name: String) extends V

  final case class Env(vars: Map[String, V], nowMicros: Long,
      regexps: Map[String, String] = Map.empty,
      baseDir: Option[java.nio.file.Path] = None,
      xsds: Map[String, String] = Map.empty,
      /** cfg-level Basic auth applied to every executing get/head/post
        * (reference HTTP(client, limit, auth), lib/http.go:46-50;
        * requests built as data + do_request are explicitly NOT
        * affected — use basic_authentication for those). */
      httpAuth: Option[(String, String)] = None,
      /** One-shot (CLI) mode: `now()` the FUNCTION reads a live
        * monotonic clock anchored here (System.nanoTime at env build),
        * while `now` the VARIABLE stays the evaluation-start constant —
        * the reference's semantics (lib/time.go:46-54: the variable is
        * bound at start, the function at call time, so
        * `now < now()` holds — testdata/now.txt). None (the Spark
        * column) keeps both fixed for replay-deterministic retries. */
      liveNowAnchor: Option[Long] = None)

  // ---------------- JSON <-> V ----------------
  // The Jackson-tree bridge: the property tests check the V codec
  // (parseV, renderUtf8) against the tree codec through these two. No
  // document path builds or reads a tree.
  def fromJson(n: JsonNode): V =
    if (n == null || n.isNull) VNull
    else if (n.isTextual) VString(n.textValue())
    else if (n.isBoolean) VBool(n.booleanValue())
    else if (n.isIntegralNumber) VInt(n.longValue())
    else if (n.isNumber) VDouble(n.doubleValue())
    else if (n.isArray) {
      val b = Vector.newBuilder[V]
      n.elements().forEachRemaining(e => b += fromJson(e))
      VList(b.result())
    } else {
      val b = VMap.entryBuilder
      n.properties().forEach(e => b += e.getKey -> fromJson(e.getValue))
      VMap(b.result())
    }

  private val nf = JsonNodeFactory.instance

  /** Whole doubles below 1e15 collapse to ints at JSON boundaries (Go
    * json.Marshal of float64). ONE definition shared with the tree and
    * variant render paths. */
  @inline private def wholeDouble(d: Double): Boolean =
    graft.values.JsonAlgebra.wholeDouble(d)

  private val rfc3339 = UTF8String.fromString("RFC3339")

  def toJson(v: V): JsonNode = v match {
    case VNull => nf.nullNode()
    case VBool(b) => nf.booleanNode(b)
    case VInt(i) => nf.numberNode(i)
    case VUint(i) => nf.numberNode(i)
    case VDouble(d) => if (wholeDouble(d))
      nf.numberNode(d.toLong) else nf.numberNode(d)
    case VString(s) => nf.textNode(s)
    case VBytes(b) => nf.textNode(java.util.Base64.getEncoder.encodeToString(b))
    case VTimestamp(us) =>
      nf.textNode(TimeKernel.formatTime(us, rfc3339).toString)
    case VDuration(us) => nf.textNode(trimDur(us))
    case VList(xs) => { val a = nf.arrayNode(); xs.foreach(x => a.add(toJson(x))); a }
    case VMap(m) =>
      val o = nf.objectNode()
      m.foreach { case (k, x) => o.set[JsonNode](k, toJson(x)) }
      o
    case VOpt(Some(x)) => toJson(x)
    case VOpt(None) => nf.nullNode()
    // type values render as their name. Divergence note: the reference
    // fails proto conversion on a top-level type value (no script does
    // this); the name string is strictly more useful and keeps type
    // values alive inside rendered containers.
    case VType(n) => nf.textNode(n)
    case VErr(msg) => nf.objectNode().put(JsonAlgebra.ErrorKey, msg)
  }

  // a surrogate pair renders as one 4-byte UTF-8 sequence, not as two
  // escaped UTF-16 units (Jackson's UTF-8 generator default)
  private val jsonF = new JsonFactoryBuilder()
    .enable(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8).build()

  /** JSON text -> V through a streaming parser — the leaf-side mirror of
    * [[renderUtf8]]: no JsonNode tree is built and re-walked. Number/shape
    * mapping matches [[fromJson]] exactly (integral -> VInt with Go-like
    * wraparound on overflow, other numbers -> VDouble). The whole input
    * is one value, as Go's json.Unmarshal requires: content after it is
    * an error. Parse failures are in-band
    * `VErr("failed to parse JSON: ...")` values. */
  def parseV(s: String): V =
    try {
      val p = jsonF.createParser(s)
      try {
        if (p.nextToken() == null) VErr("failed to parse JSON: unexpected end of JSON input")
        else {
          val v = readV(p)
          val rest = s.indexWhere(c => c != ' ' && c != '\t' && c != '\n' && c != '\r',
            p.currentLocation().getCharOffset.toInt)
          if (rest < 0) v
          else VErr(s"failed to parse JSON: invalid character ${goQuoteChar(s.codePointAt(rest))}" +
            " after top-level value")
        }
      } finally p.close()
    } catch {
      case NonFatal(e) => VErr(s"failed to parse JSON: ${e.getMessage}")
    }

  /** Concatenated JSON values -> a list of them (decode_json_stream,
    * reference lib/json.go:268-289): the stream form of [[parseV]]. */
  def parseStreamV(s: String): V =
    try {
      val p = jsonF.createParser(s)
      try {
        val b = Vector.newBuilder[V]
        while (p.nextToken() != null) b += readV(p)
        VList(b.result())
      } finally p.close()
    } catch {
      case NonFatal(e) => VErr(s"failed to decode JSON stream: ${e.getMessage}")
    }

  /** Go's quoteChar (encoding/json scanner errors). */
  private def goQuoteChar(c: Int): String = "'" + (c match {
    case '\'' => "\\'"
    case 7 => "\\a"; case '\b' => "\\b"; case '\f' => "\\f"; case 11 => "\\v"
    case _ if c < 0x20 || c == 0x7f => f"\\x$c%02x"
    case _ => new String(Character.toChars(c))
  }) + "'"

  private def readV(p: com.fasterxml.jackson.core.JsonParser): V = {
    import com.fasterxml.jackson.core.JsonToken._
    p.currentToken() match {
      case VALUE_NULL => VNull
      case VALUE_TRUE => VBool(true)
      case VALUE_FALSE => VBool(false)
      case VALUE_NUMBER_INT =>
        try VInt(p.getLongValue)
        catch { case _: com.fasterxml.jackson.core.exc.InputCoercionException =>
          VInt(p.getBigIntegerValue.longValue()) } // JsonNode.longValue() parity
      case VALUE_NUMBER_FLOAT => VDouble(p.getDoubleValue)
      case VALUE_STRING => VString(p.getText)
      case START_ARRAY =>
        val b = Vector.newBuilder[V]
        while (p.nextToken() != END_ARRAY) b += readV(p)
        VList(b.result())
      case START_OBJECT =>
        // a repeated key keeps its last value, like Go's json.Unmarshal
        val b = VMap.entryBuilder
        while (p.nextToken() != END_OBJECT) {
          val k = p.currentName()
          p.nextToken()
          b += k -> readV(p)
        }
        VMap(b.result())
      case other => VErr(s"failed to parse JSON: unexpected token $other")
    }
  }

  /** Document leaf parse — shared by the CEL `state` binding,
    * `decode_json` and the json_* and v_* kernels (JsonKernel): parse
    * failures are VErr, and a top-level `{"__error__": "<msg>"}` object
    * promotes to VErr so rendered error values stay in-band across a
    * render->parse round trip. Any other `__error__` value stays a map. */
  def stateLeafV(s: String): V = parseV(s) match {
    case m: VMap if m.v.size == 1 =>
      m.v.get(JsonAlgebra.ErrorKey) match {
        case Some(VString(msg)) => VErr(msg)
        case _ => m
      }
    case ok => ok
  }

  /** V -> Go-rendered JSON text, as UTF-8 bytes: one pass through
    * Jackson's UTF-8 generator, each map's entries written in their
    * stored Go key order. The same bytes as the tree render
    * `JsonAlgebra.render(toJson(v))` but for a lone surrogate (U+FFFD
    * here; JsonAlgebraPropSpec pins this), with no JsonNode tree, no
    * per-map key sort and no String-to-UTF-8 re-encode: the per-row
    * render of every CEL column, json_* kernel and Column decoder hands
    * these bytes to Spark as they are.
    *
    * One-entry per-thread IDENTITY memo: a program that references
    * `state.encode_json()` k times renders the SAME immutable V object
    * k times per row — wide_chain does it 5x — because the interpreter
    * re-walks each AST occurrence. V values are immutable and the
    * render is deterministic, so an `eq` hit returns the cached result;
    * the memo never survives the row (the next different V overwrites
    * it). */
  def renderUtf8(value: V): Array[Byte] = {
    val memo = lastRender.get()
    if (memo.value eq value) return memo.bytes
    val sink = memo.sink
    sink.reset()
    val g = jsonF.createGenerator(sink, JsonEncoding.UTF8)
    writeV(g, value)
    g.close()
    val bytes = sink.toByteArray
    memo.value = value
    memo.bytes = bytes
    memo.text = null
    bytes
  }

  /** [[renderUtf8]] decoded to a String (encode_json, send_to, the
    * CLI's next state): the same bytes, so both forms of a render always
    * agree. */
  def renderV(value: V): String = {
    val memo = lastRender.get()
    if ((memo.value eq value) && memo.text != null) return memo.text
    val text = new String(renderUtf8(value), StandardCharsets.UTF_8)
    memo.text = text
    text
  }

  /** Go `json.Encoder` SetIndent("", "\t") form, mito's stdout
    * (mito.go:351-356): the [[renderUtf8]] writer with tab indentation,
    * `"key": value` and empty composites kept compact. */
  def renderPretty(value: V): String = {
    val sink = new ByteArrayBuilder(256)
    val g = jsonF.createGenerator(sink, JsonEncoding.UTF8)
    g.setPrettyPrinter(new GoIndent)
    writeV(g, value)
    g.close()
    new String(sink.toByteArray, StandardCharsets.UTF_8)
  }

  /** Jackson's DefaultPrettyPrinter writes `{ }` for an empty object and
    * ` : ` between a key and its value; Go writes `{}` and `: `. */
  private final class GoIndent extends com.fasterxml.jackson.core.PrettyPrinter {
    private var depth = 0
    private def newline(g: JsonGenerator): Unit = g.writeRaw("\n" + "\t" * depth)
    private def open(g: JsonGenerator, c: Char): Unit = { g.writeRaw(c); depth += 1 }
    private def close(g: JsonGenerator, c: Char, entries: Int): Unit = {
      depth -= 1
      if (entries > 0) newline(g)
      g.writeRaw(c)
    }
    private def next(g: JsonGenerator): Unit = { g.writeRaw(','); newline(g) }
    def writeRootValueSeparator(g: JsonGenerator): Unit = newline(g)
    def writeStartObject(g: JsonGenerator): Unit = open(g, '{')
    def writeEndObject(g: JsonGenerator, entries: Int): Unit = close(g, '}', entries)
    def writeObjectEntrySeparator(g: JsonGenerator): Unit = next(g)
    def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    def writeStartArray(g: JsonGenerator): Unit = open(g, '[')
    def writeEndArray(g: JsonGenerator, entries: Int): Unit = close(g, ']', entries)
    def writeArrayValueSeparator(g: JsonGenerator): Unit = next(g)
    def beforeArrayValues(g: JsonGenerator): Unit = newline(g)
    def beforeObjectEntries(g: JsonGenerator): Unit = newline(g)
  }

  private def writeV(g: JsonGenerator, x: V): Unit = x match {
    case VNull => g.writeNull()
    case VBool(b) => g.writeBoolean(b)
    case VInt(i) => g.writeNumber(i)
    case VUint(i) => g.writeNumber(i)
    case VDouble(d) =>
      if (wholeDouble(d)) g.writeNumber(d.toLong)
      else g.writeNumber(JsonAlgebra.goFloat(d))
    case VString(s) => g.writeString(wellFormed(s))
    case VBytes(b) => g.writeString(java.util.Base64.getEncoder.encodeToString(b))
    case VTimestamp(us) =>
      g.writeString(TimeKernel.formatTime(us, rfc3339).toString)
    case VDuration(us) => g.writeString(trimDur(us))
    case VList(xs) =>
      g.writeStartArray()
      xs.foreach(writeV(g, _))
      g.writeEndArray()
    case VMap(m) =>
      g.writeStartObject()
      m.foreachEntry { (k, e) => g.writeFieldName(wellFormed(k)); writeV(g, e) }
      g.writeEndObject()
    case VOpt(Some(x2)) => writeV(g, x2)
    case VOpt(None) => g.writeNull()
    case VType(n) => g.writeString(n) // see toJson's divergence note
    case VErr(msg) =>
      g.writeStartObject()
      g.writeStringField(JsonAlgebra.ErrorKey, wellFormed(msg))
      g.writeEndObject()
  }

  /** A lone surrogate (reachable only through an escaped UTF-16 unit
    * in parsed JSON) renders as U+FFFD, as Go's encoding/json decodes
    * it; Jackson's UTF-8 generator would escape it instead. Well-formed
    * text, the only kind in practice, is returned as it is. */
  private def wellFormed(s: String): String = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (!Character.isSurrogate(c)) i += 1
      else if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) i += 2
      else return loneSurrogate.matcher(s).replaceAll("\uFFFD")
    }
    s
  }

  // java.util.regex reads a surrogate pair as one code point, so the
  // class matches only unpaired surrogates
  private val loneSurrogate = java.util.regex.Pattern.compile("[\\x{D800}-\\x{DFFF}]")

  /** Per-thread render state: the identity memo and a reusable sink. */
  private final class RenderMemo {
    var value: V = null
    var bytes: Array[Byte] = null
    var text: String = null
    val sink = new ByteArrayBuilder(256)
  }

  private val lastRender = new ThreadLocal[RenderMemo] {
    override def initialValue(): RenderMemo = new RenderMemo
  }

  private def trimDur(us: Long): String = {
    val s = us / 1e6
    if (s == s.floor) s"${s.toLong}s" else s"${BigDecimal(s).underlying.stripTrailingZeros.toPlainString}s"
  }

  /** Evaluate program text against a JSON state document; returns the
    * result rendered as (key-sorted) JSON. `globalsJson` injects extra
    * top-level variables (the reference's Globals lib,
    * lib/globals.go:34-77 — YAML-configured constants; here a JSON
    * object of name -> value). */
  def evalJson(program: Ast, stateJson: String, nowMicros: Long,
      regexps: Map[String, String] = Map.empty,
      globalsJson: String = "",
      baseDir: Option[java.nio.file.Path] = None,
      xsds: Map[String, String] = Map.empty,
      httpAuth: Option[(String, String)] = None,
      liveNow: Boolean = false): String =
    renderV(evalValue(program, stateJson, nowMicros,
      regexps, globalsJson, baseDir, xsds, httpAuth, liveNow))

  /** Like evalJson but returns the raw value — the top-level VErr keeps
    * its source offset for DecoratedError-style rendering. */
  def evalValue(program: Ast, stateJson: String, nowMicros: Long,
      regexps: Map[String, String] = Map.empty,
      globalsJson: String = "",
      baseDir: Option[java.nio.file.Path] = None,
      xsds: Map[String, String] = Map.empty,
      httpAuth: Option[(String, String)] = None,
      liveNow: Boolean = false): V =
    evalValueInEnv(program, stateJson,
      baseEnv(nowMicros, regexps, globalsJson, baseDir, xsds, httpAuth)
        .copy(liveNowAnchor = if (liveNow) Some(System.nanoTime()) else None))

  /** Optional index `c[?k]` (cel-go OptionalTypes `_[?_]`): a present
    * list index / map key wraps in optional.of, an absent one is
    * optional.none; the target may itself be optional (chaining).
    * Container/key type mismatches stay hard errors, mirroring the
    * plain index's overloads. */
  private def indexOptV(tv: V, iv: V): V = (tv, iv) match {
    case (err: VErr, _) => err
    case (_, err: VErr) => err
    case (VOpt(None), _) => VOpt(None)
    case (VOpt(Some(inner)), idx) => indexOptV(inner, idx)
    case (VList(xs), VInt(idx)) =>
      if (idx >= 0 && idx < xs.length) VOpt(Some(xs(idx.toInt))) else VOpt(None)
    case (VMap(m), VString(k)) => VOpt(m.get(k))
    case (VMap(m), VInt(k)) => VOpt(m.get(k.toString))
    case (a, b) => VErr(s"no such overload: ($a)[?$b]")
  }

  /** cel-go types' IsZeroValue, the `optional.ofNonZeroValue` predicate:
    * numeric 0, false, "", b"", [], {}, null, 0-duration and the Go
    * zero time (time.Time{}, epoch -62135596800 s). */
  private[cel] def isZeroV(x: V): Boolean = x match {
    case VInt(0L) | VUint(0L) | VBool(false) | VNull | VDuration(0L) => true
    case VDouble(d) => d == 0.0
    case VString(s) => s.isEmpty
    case VBytes(b) => b.isEmpty
    case VList(xs) => xs.isEmpty
    case VMap(m) => m.isEmpty
    case VTimestamp(us) => us == -62135596800000000L
    case _ => false
  }

  /** `opt.or(other)`: first present optional wins. Defined only on
    * optionals (cel-go optional_or_optional). Eager in the
    * alternative, consistent with this engine's orValue. */
  private[cel] def orOptV(t: V, d: V): V = (t, d) match {
    case (e: VErr, _) => e
    case (_, e: VErr) => e
    case (o @ VOpt(Some(_)), _) => o
    case (VOpt(None), o: VOpt) => o
    case (VOpt(None), other) => VErr(s"no such overload: optional.none().or($other)")
    case (other, _) => VErr(s"no such overload: ($other).or(...)")
  }

  /** cel-go's runtime type of a value (the `type()` overload). */
  private[cel] def typeOf(v: V): V = v match {
    case e: VErr => e
    case VInt(_) => VType("int")
    case VUint(_) => VType("uint")
    case VDouble(_) => VType("double")
    case VString(_) => VType("string")
    case VBytes(_) => VType("bytes")
    case VBool(_) => VType("bool")
    case VNull => VType("null_type")
    case VList(_) => VType("list")
    case _: VMap => VType("map")
    case VTimestamp(_) => VType("google.protobuf.Timestamp")
    case VDuration(_) => VType("google.protobuf.Duration")
    case VOpt(_) => VType("optional_type")
    case VType(_) => VType("type")
  }

  /** The standard type identifiers, bound as values in every env so
    * `type(x) == int` works. Lowest precedence — cfg globals and the
    * engine's own vars shadow them. `timestamp`/`duration` the
    * IDENTIFIERS are the proto type names they compare equal to
    * (cel-go's declarations); the same-named FUNCTIONS are Call nodes
    * and never consult these bindings. */
  private val typeIdentsV: Map[String, V] = Map(
    "int" -> VType("int"), "uint" -> VType("uint"),
    "double" -> VType("double"), "string" -> VType("string"),
    "bytes" -> VType("bytes"), "bool" -> VType("bool"),
    "null_type" -> VType("null_type"), "list" -> VType("list"),
    "map" -> VType("map"), "type" -> VType("type"), "dyn" -> VType("dyn"),
    "timestamp" -> VType("google.protobuf.Timestamp"),
    "duration" -> VType("google.protobuf.Duration"),
    "optional_type" -> VType("optional_type"))

  /** The `time_layout` global (17 named Go layouts) — one shared value,
    * not rebuilt per evaluation. */
  private val timeLayoutV: V = VMap.from(
    TimeKernel.namedLayouts.iterator.map { case (k, l) => k -> (VString(l): V) })

  /** Everything about the environment except the per-row `state`
    * binding: globals parse, `now`, `time_layout`. Built ONCE per query
    * (CelEvalExpression caches it), so the per-row work is one state
    * parse + one immutable-map update. */
  def baseEnv(nowMicros: Long, regexps: Map[String, String] = Map.empty,
      globalsJson: String = "",
      baseDir: Option[java.nio.file.Path] = None,
      xsds: Map[String, String] = Map.empty,
      httpAuth: Option[(String, String)] = None): Env = {
    val globals: Map[String, V] =
      if (globalsJson.isEmpty) Map.empty
      else stateLeafV(globalsJson) match {
        case VMap(m) => m
        case _ => Map.empty
      }
    Env(typeIdentsV ++ globals ++ Map(
      "now" -> VTimestamp(nowMicros),
      "time_layout" -> timeLayoutV),
      nowMicros, regexps, baseDir, xsds, httpAuth)
  }

  def evalValueInEnv(program: Ast, stateJson: String, env: Env): V =
    eval(program, env.copy(vars = env.vars.updated("state", stateLeafV(stateJson))))

  /** Evaluate with an OPTIONAL state binding: None leaves `state`
    * unbound, so programs referencing it get the undeclared-reference
    * error — the reference CLI's behavior without -data (mito.go
    * :171-184 passes an EmptyActivation). */
  def evalValueOpt(program: Ast, stateJson: Option[String], env: Env): V =
    stateJson.fold(eval(program, env))(s => evalValueInEnv(program, s, env))

  // ---------------- core evaluation ----------------
  /** Evaluate, annotating errors with the source offset of the node they
    * originate at: the innermost positioned node that first sees an
    * un-spanned VErr stamps it (DecoratedError's "node the error
    * happened at", lib/errors.go:54-84); outer nodes pass it through. */
  def eval(e: Ast, env: Env): V = {
    val v = evalAst(e, env)
    v match {
      case err: VErr if err.at < 0 && e.pos >= 0 => new VErr(err.msg, e.pos)
      case other => other
    }
  }

  private def evalAst(e: Ast, env: Env): V = e match {
    case Ast.IntLit(v) => VInt(v)
    case Ast.UintLit(v) => VUint(v)
    case Ast.DoubleLit(v) => VDouble(v)
    case Ast.StringLit(v) => VString(v)
    case Ast.BytesLit(v) => VBytes(v)
    case Ast.BoolLit(v) => VBool(v)
    case Ast.NullLit => VNull

    case Ast.ListLit(elems) =>
      val vs = elems.map(eval(_, env))
      vs.collectFirst { case err: VErr => err }.getOrElse(VList(vs))

    case Ast.MapLit(entries) =>
      // evaluation order (and its side effects: debug/send_to entries)
      // stays here; the key/collision logic is shared with the closure
      // compiler via mapFromPairs
      val pairs = Vector.newBuilder[(V, V)]
      entries.foreach { case (k, v) =>
        (eval(k, env), eval(v, env)) match {
          case (err: VErr, _) => return err
          case (_, err: VErr) => return err
          case (kv, vv) => pairs += ((kv, vv))
        }
      }
      mapFromPairs(pairs.result())

    case Ast.Ident(name) =>
      env.vars.getOrElse(name, VErr(s"undeclared reference to '$name'"))

    case Ast.Select(t, f) =>
      eval(t, env) match {
        // re-attribute a propagating error to THIS qualifier node —
        // cel-go wraps attribute-qualification errors with the
        // qualifier's id (serve_tls.txt pins `.Body` on an error
        // response as the reported position)
        case err: VErr => if (e.pos >= 0) new VErr(err.msg, e.pos) else err
        case VMap(m) => m.getOrElse(f, VErr(s"no such key: $f"))
        // selection through an optional stays optional (CEL optional types)
        case VOpt(Some(VMap(m))) => VOpt(m.get(f))
        case VOpt(None) => VOpt(None)
        case VNull => VErr(s"no such key: $f")
        case other => VErr(s"no such field: $f on $other")
      }

    case Ast.SelectOpt(t, f) =>
      eval(t, env) match {
        case err: VErr => if (e.pos >= 0) new VErr(err.msg, e.pos) else err
        case VMap(m) => VOpt(m.get(f))
        case VOpt(Some(VMap(m))) => VOpt(m.get(f)) // chained a.?b.?c
        case VOpt(None) => VOpt(None)
        case VNull => VOpt(None)
        case other => VErr(s"no such field: $f on $other")
      }

    case Ast.Has(t, f) =>
      eval(t, env) match {
        case err: VErr => err
        case VMap(m) => VBool(m.contains(f))
        case _ => VBool(false)
      }

    case Ast.Index(t, i) =>
      (eval(t, env), eval(i, env)) match {
        case (err: VErr, _) => if (e.pos >= 0) new VErr(err.msg, e.pos) else err
        case (_, err: VErr) => err
        case (VList(xs), VInt(idx)) =>
          if (idx >= 0 && idx < xs.length) xs(idx.toInt)
          else VErr(s"index out of range: $idx")
        case (VMap(m), VString(k)) => m.getOrElse(k, VErr(s"no such key: $k"))
        case (VMap(m), VInt(k)) => m.getOrElse(k.toString, VErr(s"no such key: $k"))
        case (a, b) => VErr(s"no such overload: ($a)[$b]")
      }

    case Ast.IndexOpt(t, i) =>
      (eval(t, env), eval(i, env)) match {
        case (err: VErr, _) => if (e.pos >= 0) new VErr(err.msg, e.pos) else err
        case (_, err: VErr) => err
        case (tv, iv) => indexOptV(tv, iv)
      }

    case Ast.Unary("!", x) =>
      eval(x, env) match {
        case err: VErr => err
        case VBool(b) => VBool(!b)
        case other => VErr(s"no such overload: !$other")
      }
    case Ast.Unary("-", x) =>
      eval(x, env) match {
        case err: VErr => err
        case VInt(i) => VInt(-i)
        case VDouble(d) => VDouble(-d)
        case other => VErr(s"no such overload: -$other")
      }
    case Ast.Unary(op, _) => VErr(s"unknown unary op $op")

    case Ast.Binary("&&", l, r) => logical(eval(l, env), () => eval(r, env), and = true)
    case Ast.Binary("||", l, r) => logical(eval(l, env), () => eval(r, env), and = false)
    case Ast.Binary(op, l, r) => binary(op, eval(l, env), eval(r, env))

    case Ast.Ternary(c, t, f) =>
      eval(c, env) match {
        case err: VErr => err
        case VBool(true) => eval(t, env)
        case VBool(false) => eval(f, env)
        case other => VErr(s"no such overload: $other ? _ : _")
      }

    case Ast.Comprehension(kind, target, x, pred, body) =>
      comprehension(kind, target, x, pred, body, env)

    case Ast.Call(fn, args) => Functions.call(fn, args, env)
    case Ast.Method(t, fn, args) => Functions.method(t, fn, args, env)
  }

  /** CEL commutative error-absorbing logic ops. */
  private def logical(l: V, rThunk: () => V, and: Boolean): V = {
    val shortVal = !and // && shorts on false, || shorts on true
    l match {
      case VBool(b) if b == shortVal => VBool(shortVal)
      case _ =>
        val r = rThunk()
        (l, r) match {
          case (_, VBool(b)) if b == shortVal => VBool(shortVal)
          case (VBool(a), VBool(b)) => VBool(if (and) a && b else a || b)
          case (err: VErr, _) => err
          case (_, err: VErr) => err
          case _ => VErr("no such overload: logical op on non-bool")
        }
    }
  }

  private def numPair(a: V, b: V): Option[(Double, Double)] = (a, b) match {
    case (VInt(x), VInt(y)) => Some((x.toDouble, y.toDouble))
    case (VInt(x), VDouble(y)) => Some((x.toDouble, y))
    case (VDouble(x), VInt(y)) => Some((x, y.toDouble))
    case (VDouble(x), VDouble(y)) => Some((x, y))
    case (VUint(x), VUint(y)) => Some((x.toDouble, y.toDouble))
    case (VUint(x), VInt(y)) => Some((x.toDouble, y.toDouble))
    case (VInt(x), VUint(y)) => Some((x.toDouble, y.toDouble))
    case _ => None
  }

  /** Map-literal builder over pre-evaluated (key, value) pairs in entry
    * order: first error wins, string/int/uint key typing, and duplicate
    * keys are ERRORS, never silent last-win (see the MapLit scaladoc
    * trail). Two duplicate flavors:
    *
    * - same-type repeat ({1:"a",1:"b"}, {"a":1,"a":2}): cel-go's own
    *   runtime error, "Failed with repeated key".
    * - cross-type same-rendering ({1:v,"1":w}; also {1:v,1u:w}): cel-go
    *   keeps TWO entries (ref.Val keys are type-distinct) — this
    *   engine's string-keyed JSON backbone cannot, so it fails loudly
    *   ("map key collision") instead of silently merging. Deliberate,
    *   documented divergence: no reference script constructs such maps
    *   (they don't survive a JSON boundary in any engine). Note int/uint
    *   equal-value keys count as SAME type here because this engine maps
    *   both to one numeric key space ({1:v} == {1u:v} by CEL numeric
    *   equality — the same choice typedKeys/equalsV make). */
  private def mapFromPairs(pairs: Vector[(V, V)]): V = {
    var m = VMap.noEntries
    var intKeys = Set.empty[String]
    // uints >= 2^63: string-surfaced but numeric — local tag so a
    // same-rendering string key still collides loudly
    var hugeUintKeys = Set.empty[String]
    pairs.foreach { case (k, v) =>
      (k, v) match {
        case (err: VErr, _) => return err
        case (_, err: VErr) => return err
        case (VString(ks), vv) =>
          if (intKeys(ks) || hugeUintKeys(ks)) return VErr(s"map key collision: $ks")
          if (m.contains(ks)) return VErr("Failed with repeated key")
          m = m.updated(ks, vv)
        case (VInt(ki), vv) =>
          val ks = ki.toString
          if (m.contains(ks))
            return if (intKeys(ks)) VErr("Failed with repeated key")
            else VErr(s"map key collision: $ks")
          m = m.updated(ks, vv); intKeys += ks
        // uint keys: tagged numeric like int when representable, so
        // CEL's cross-type numeric key equality holds ({1:v}=={1u:v});
        // >= 2^63 stays string-surfaced (toLong would overflow typedKeys)
        case (VUint(ki), vv) =>
          val ks = java.lang.Long.toUnsignedString(ki)
          if (ki >= 0) {
            if (m.contains(ks))
              return if (intKeys(ks)) VErr("Failed with repeated key")
              else VErr(s"map key collision: $ks")
            m = m.updated(ks, vv); intKeys += ks
          } else {
            if (m.contains(ks))
              return if (hugeUintKeys(ks)) VErr("Failed with repeated key")
              else VErr(s"map key collision: $ks")
            m = m.updated(ks, vv); hugeUintKeys += ks
          }
        case (other, _) => return VErr(s"unsupported map key: $other")
      }
    }
    VMap(m, intKeys)
  }

  /** Canonical-order typed keys of a map (storage key -> surfaced V):
    * an all-int-keyed map sorts numerically and surfaces VInt keys
    * (reference testdata/keys.txt wants `keys({1:"a",2:"b"}) == [1,2]`);
    * anything else keeps the entries' own Go key order, with tagged
    * keys still surfacing as ints. */
  def typedKeys(m: VMap): Vector[(String, V)] = {
    val ks = m.v.keys.toVector
    val sorted =
      if (m.intKeys.nonEmpty && ks.forall(m.intKeys)) ks.sortBy(_.toLong)
      else ks
    sorted.map(k => k -> (if (m.intKeys(k)) VInt(k.toLong) else VString(k): V))
  }

  def equalsV(a: V, b: V): Boolean = (a, b) match {
    // same-type scalar fast paths: the general tail goes through numPair,
    // which boxes an Option[(Double, Double)] per comparison — measurable
    // in comprehension predicates (i % 2 == 1 per element per row)
    case (VInt(x), VInt(y)) => x == y
    case (VString(x), VString(y)) => x == y
    case (VBool(x), VBool(y)) => x == y
    case (VDouble(x), VDouble(y)) => x == y
    case (VList(xs), VList(ys)) =>
      xs.length == ys.length && xs.zip(ys).forall { case (x, y) => equalsV(x, y) }
    case (m1: VMap, m2: VMap) =>
      // key TYPE is part of CEL map equality: {1:"a"} != {"1":"a"};
      // both entry maps are in key order, so one zipped walk compares them
      m1.intKeys == m2.intKeys && m1.v.size == m2.v.size &&
        m1.v.iterator.zip(m2.v.iterator).forall { case ((k1, v1), (k2, v2)) =>
          k1 == k2 && equalsV(v1, v2) }
    case (VBytes(x), VBytes(y)) => java.util.Arrays.equals(x, y)
    case _ => numPair(a, b) match {
      case Some((x, y)) => x == y
      case None => a == b
    }
  }

  def compareV(a: V, b: V): Option[Int] = (a, b) match {
    case (VInt(x), VInt(y)) => Some(java.lang.Long.compare(x, y))
    case (VDouble(x), VDouble(y)) => Some(java.lang.Double.compare(x, y).sign)
    case (VString(x), VString(y)) => Some(x.compareTo(y).sign)
    case (VBool(x), VBool(y)) => Some(java.lang.Boolean.compare(x, y))
    case (VTimestamp(x), VTimestamp(y)) => Some(java.lang.Long.compare(x, y))
    case (VDuration(x), VDuration(y)) => Some(java.lang.Long.compare(x, y))
    case (VBytes(x), VBytes(y)) => Some(java.util.Arrays.compare(x, y).sign)
    case _ => numPair(a, b).map { case (x, y) => java.lang.Double.compare(x, y).sign }
  }

  private def binary(op: String, l: V, r: V): V = {
    (l, r) match {
      case (err: VErr, _) => return err
      case (_, err: VErr) => return err
      case _ =>
    }
    op match {
      case "==" => VBool(equalsV(l, r))
      case "!=" => VBool(!equalsV(l, r))
      case "<" | "<=" | ">" | ">=" =>
        compareV(l, r) match {
          case Some(c) => VBool(op match {
            case "<" => c < 0
            case "<=" => c <= 0
            case ">" => c > 0
            case ">=" => c >= 0
          })
          case None => VErr(s"no such overload: $l $op $r")
        }
      case "in" => (r, l) match {
        case (VList(xs), x) => VBool(xs.exists(equalsV(_, x)))
        case (VMap(m), VString(k)) => VBool(m.contains(k))
        case (VMap(m), VInt(k)) => VBool(m.contains(k.toString))
        case _ => VErr(s"no such overload: $l in $r")
      }
      case "+" => (l, r) match {
        case (VInt(a), VInt(b)) => VInt(a + b)
        case (VUint(a), VUint(b)) => VUint(a + b)
        case (VDouble(a), VDouble(b)) => VDouble(a + b)
        case (VString(a), VString(b)) => VString(a + b)
        case (VBytes(a), VBytes(b)) => VBytes(a ++ b)
        case (VList(a), VList(b)) => VList(a ++ b)
        case (VTimestamp(a), VDuration(b)) => VTimestamp(a + b)
        case (VDuration(a), VTimestamp(b)) => VTimestamp(a + b)
        case (VDuration(a), VDuration(b)) => VDuration(a + b)
        case _ => VErr(s"no such overload: $l + $r")
      }
      case "-" => (l, r) match {
        case (VInt(a), VInt(b)) => VInt(a - b)
        case (VUint(a), VUint(b)) => VUint(a - b)
        case (VDouble(a), VDouble(b)) => VDouble(a - b)
        case (VTimestamp(a), VDuration(b)) => VTimestamp(a - b)
        case (VTimestamp(a), VTimestamp(b)) => VDuration(a - b)
        case (VDuration(a), VDuration(b)) => VDuration(a - b)
        case _ => VErr(s"no such overload: $l - $r")
      }
      case "*" => (l, r) match {
        case (VInt(a), VInt(b)) => VInt(a * b)
        case (VUint(a), VUint(b)) => VUint(a * b)
        case (VDouble(a), VDouble(b)) => VDouble(a * b)
        case _ => VErr(s"no such overload: $l * $r")
      }
      case "/" => (l, r) match {
        case (VInt(_), VInt(0)) => VErr("division by zero")
        case (VInt(a), VInt(b)) => VInt(a / b)
        case (VUint(_), VUint(0)) => VErr("division by zero")
        case (VUint(a), VUint(b)) => VUint(java.lang.Long.divideUnsigned(a, b))
        case (VDouble(a), VDouble(b)) => VDouble(a / b)
        case _ => VErr(s"no such overload: $l / $r")
      }
      case "%" => (l, r) match {
        case (VInt(_), VInt(0)) => VErr("modulus by zero")
        case (VInt(a), VInt(b)) => VInt(a % b)
        case (VUint(a), VUint(b)) => VUint(java.lang.Long.remainderUnsigned(a, b))
        case _ => VErr(s"no such overload: $l % $r")
      }
      case other => VErr(s"unknown operator $other")
    }
  }

  private def comprehension(kind: String, target: Ast, x: String,
      pred: Option[Ast], body: Ast, env: Env): V = {
    if (kind == "as") {
      val t = eval(target, env)
      t match { case err: VErr => return err case _ => }
      return eval(body, env.copy(vars = env.vars.updated(x, t)))
    }
    val items: Vector[V] = eval(target, env) match {
      case err: VErr => return err
      case VList(xs) => xs
      // Sorted key order: Go map iteration is RANDOM (no reference
      // program can depend on it), so we fix the canonical order used
      // everywhere else in the engine.
      case vm: VMap => typedKeys(vm).map(_._2)
      case other => return VErr(s"no such overload: $kind over $other")
    }
    def bind(v: V) = env.copy(vars = env.vars.updated(x, v))
    kind match {
      case "map" =>
        val out = Vector.newBuilder[V]
        for (item <- items) {
          val keep = pred match {
            case None => true
            case Some(p) => eval(p, bind(item)) match {
              case VBool(b) => b
              case err: VErr => return err
              case other => return VErr(s"no such overload: predicate $other")
            }
          }
          if (keep) eval(body, bind(item)) match {
            case err: VErr => return err
            case v => out += v
          }
        }
        VList(out.result())
      case "filter" =>
        val out = Vector.newBuilder[V]
        for (item <- items) eval(body, bind(item)) match {
          case VBool(true) => out += item
          case VBool(false) =>
          case err: VErr => return err
          case other => return VErr(s"no such overload: predicate $other")
        }
        VList(out.result())
      case "all" =>
        for (item <- items) eval(body, bind(item)) match {
          case VBool(false) => return VBool(false)
          case VBool(true) =>
          case err: VErr => return err
          case other => return VErr(s"no such overload: predicate $other")
        }
        VBool(true)
      case "exists" =>
        for (item <- items) eval(body, bind(item)) match {
          case VBool(true) => return VBool(true)
          case VBool(false) =>
          case err: VErr => return err
          case other => return VErr(s"no such overload: predicate $other")
        }
        VBool(false)
      case "exists_one" =>
        var n = 0
        for (item <- items) eval(body, bind(item)) match {
          case VBool(true) => n += 1
          case VBool(false) =>
          case err: VErr => return err
          case other => return VErr(s"no such overload: predicate $other")
        }
        VBool(n == 1)
      case other => VErr(s"unknown macro $other")
    }
  }

  private[cel] def guard[T](f: => V): V =
    try f catch { case NonFatal(ex) => VErr(ex.getMessage) }
  private[cel] def u8(s: String): UTF8String = UTF8String.fromString(s)
}
