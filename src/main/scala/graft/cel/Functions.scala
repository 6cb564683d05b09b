package graft.cel

import graft.expressions.{CryptoKernel, StringKernel, TimeKernel}
import graft.values.JsonAlgebra
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import scala.collection.immutable.{ArraySeq, TreeMap}
import scala.jdk.CollectionConverters._

/** The CEL function table: CEL's standard functions plus the reference's
  * extension libraries, each declared ONCE (as mito declares each in one
  * `decls.NewFunction` block bound to one Go body) with
  *  - its forms: a member function `x.f(a)` is also called `f(x, a)`;
  *    a global one (`int`, `timestamp`, `now`, ...) only `f(a)`;
  *  - the counts of values its body takes, a member's target included;
  *    any other count is `no such overload: <fn>` in both forms;
  *  - whether it is pure: it reads only its arguments and the
  *    evaluation's fixed `now`, so a program of pure calls may be folded
  *    at plan time ([[isPure]]);
  *  - one body over the evaluated values and the [[Eval.Env]].
  * [[call]], [[method]] and [[isPure]] read the table and nothing else
  * does. Outside it stay the non-strict `try`, `is_error` and `debug`,
  * which see unevaluated arguments, and the `optional.of`/`none`/
  * `ofNonZeroValue` namespace, whose target is an identifier.
  *
  * Bodies run the SAME kernels as the Column API (StringKernel,
  * TimeKernel, CryptoKernel, and [[Collections]], which the json_* and
  * v_* Column functions also call), so both front-ends share one
  * semantics implementation.
  */
private[cel] object Functions {
  import Eval._

  /** One declared function; `arities` has bit n set when the body takes
    * n values. */
  private final class Fn(val member: Boolean, arities: Int, val pure: Boolean,
      val body: (Env, Vector[V]) => V) {
    def takes(n: Int): Boolean = n < 32 && (arities & (1 << n)) != 0
  }

  private val Pure = true
  private val Impure = false

  private def declare(name: String, member: Boolean, pure: Boolean, arities: Seq[Int])
      (body: (Env, Vector[V]) => V): (String, Fn) =
    name -> new Fn(member, arities.foldLeft(0)((m, n) => m | (1 << n)), pure, body)

  // member functions by the number of values they take, target included
  private def m1(name: String, pure: Boolean)(f: V => V) =
    declare(name, member = true, pure, Seq(1))((_, vs) => f(vs(0)))
  private def m2(name: String, pure: Boolean)(f: (V, V) => V) =
    declare(name, member = true, pure, Seq(2))((_, vs) => f(vs(0), vs(1)))
  private def m3(name: String, pure: Boolean)(f: (V, V, V) => V) =
    declare(name, member = true, pure, Seq(3))((_, vs) => f(vs(0), vs(1), vs(2)))
  private def mv(name: String, pure: Boolean, arities: Int*)(body: (Env, Vector[V]) => V) =
    declare(name, member = true, pure, arities)(body)
  private def g1(name: String, pure: Boolean)(f: V => V) =
    declare(name, member = false, pure, Seq(1))((_, vs) => f(vs(0)))
  private def gv(name: String, pure: Boolean, arities: Int*)(body: (Env, Vector[V]) => V) =
    declare(name, member = false, pure, arities)(body)

  /** Every function, by name. Declared library by library (one Go file
    * each under the reference's lib/), each group its own method so no
    * initializer nears HotSpot's 8,000-byte `HugeMethodLimit`
    * (BytecodeSizeSpec). */
  private val table: Map[String, Fn] = Map.from(
    conversions ++ collections ++ strings ++ time ++ crypto ++ http ++ documents ++ optionals)

  // ---------------- calls ----------------
  def call(fn: String, args: Vector[Ast], env: Env): V = fn match {
    // NonStrict (receive error values; lib/try.go:96-111, debug.go:62)
    case "try" =>
      val v = Eval.eval(args(0), env)
      (v, args.lift(1).map(Eval.eval(_, env))) match {
        case (VErr(m), None) => VString(m)
        case (VErr(m), Some(VString(label))) => VMap.of(label -> VString(m))
        case (ok, _) => ok
      }
    case "is_error" => VBool(Eval.eval(args(0), env).isInstanceOf[VErr])
    case "debug" =>
      val tag = Eval.eval(args(0), env)
      val v = Eval.eval(args(1), env)
      System.err.println(s"DEBUG: ${tag match { case VString(s) => s; case o => o }}: $v")
      v
    case _ =>
      val f = table.getOrElse(fn, null)
      if (f == null && args.isEmpty) VErr(s"unknown function: $fn")
      else invoke(fn, f, args.map(Eval.eval(_, env)), env)
  }

  def method(target: Ast, fn: String, args: Vector[Ast], env: Env): V = fn match {
    case "of" if target == OptionalNs =>
      strict(args, env)(vs => VOpt(Some(vs.head)))
    case "none" if target == OptionalNs => VOpt(None)
    case "ofNonZeroValue" if target == OptionalNs =>
      strict(args, env)(vs => VOpt(if (Eval.isZeroV(vs.head)) None else Some(vs.head)))
    case _ =>
      // the arguments are not evaluated when the target is an error
      val t = Eval.eval(target, env)
      if (t.isInstanceOf[VErr]) t
      else {
        val f = table.getOrElse(fn, null)
        // an exact-size AnyRef array, which the Vector wraps as it is
        val vs = new Array[AnyRef](args.length + 1)
        vs(0) = t
        var i = 0
        while (i < args.length) { vs(i + 1) = Eval.eval(args(i), env); i += 1 }
        invoke(fn, if (f != null && f.member) f else null,
          Vector.from(ArraySeq.unsafeWrapArray(vs)).asInstanceOf[Vector[V]], env)
      }
  }

  private val OptionalNs = Ast.Ident("optional")

  /** `f` over evaluated values: the first error among them, else `no
    * such function` when the form binds no `f` (null), else `no such
    * overload` for a count `f` does not take, else its body. */
  private def invoke(fn: String, f: Fn, vs: Vector[V], env: Env): V = {
    var i = 0
    while (i < vs.length) {
      if (vs(i).isInstanceOf[VErr]) return vs(i)
      i += 1
    }
    if (f == null) VErr(s"no such function: $fn")
    else if (!f.takes(vs.length)) VErr(s"no such overload: $fn")
    else guard(f.body(env, vs))
  }

  private def strict(args: Vector[Ast], env: Env)(f: Vector[V] => V): V = {
    val vs = args.map(a => Eval.eval(a, env))
    vs.collectFirst { case e: VErr => e }.getOrElse(guard(f(vs)))
  }

  /** True when every call in `e` is to a pure function (the table's
    * flag; `try` and `is_error` are pure, `debug` is not, and a name the
    * form does not bind is not): the program reads only its state,
    * globals and the evaluation's fixed `now`, so it may be folded at
    * plan time or evaluated more than once per row. */
  def isPure(e: Ast): Boolean = e match {
    case Ast.Call(fn, args) =>
      (fn match {
        case "try" | "is_error" => true
        case "debug" => false
        case _ => table.get(fn).exists(_.pure)
      }) && args.forall(isPure)
    case Ast.Method(t, fn, args) =>
      val ok = t match {
        case OptionalNs => fn == "of" || fn == "none" || fn == "ofNonZeroValue"
        case _ => table.get(fn).exists(f => f.member && f.pure)
      }
      ok && isPure(t) && args.forall(isPure)
    case Ast.ListLit(es) => es.forall(isPure)
    case Ast.MapLit(en) => en.forall { case (k, v) => isPure(k) && isPure(v) }
    case Ast.Select(t, _) => isPure(t)
    case Ast.SelectOpt(t, _) => isPure(t)
    case Ast.Has(t, _) => isPure(t)
    case Ast.Index(t, i) => isPure(t) && isPure(i)
    case Ast.IndexOpt(t, i) => isPure(t) && isPure(i)
    case Ast.Unary(_, x) => isPure(x)
    case Ast.Binary(_, l, r) => isPure(l) && isPure(r)
    case Ast.Ternary(c, t, f) => isPure(c) && isPure(t) && isPure(f)
    case Ast.Comprehension(_, t, _, p, b) => isPure(t) && p.forall(isPure) && isPure(b)
    case _ => true // literals and identifiers
  }

  // ---------------- the table ----------------

  /** CEL's standard conversions and the environment's globals: now,
    * uuid and the file library (reference lib/file.go; the base
    * directory is the evaluation's working directory, like the mito
    * CLI's cwd). */
  private def conversions: Seq[(String, Fn)] = Seq(
    g1("type", Pure)(Eval.typeOf),
    g1("int", Pure) {
      case VInt(i) => VInt(i)
      case VUint(i) => VInt(i)
      case VDouble(d) => VInt(d.toLong)
      case VString(s) =>
        try VInt(s.toLong) catch { case _: NumberFormatException => VErr(s"cannot convert to int: $s") }
      case VTimestamp(us) => VInt(Math.floorDiv(us, 1000000L))
      case VDuration(us) => VInt(us * 1000L) // Go int(duration) is nanoseconds
      case v => VErr(s"no such overload: int(${typeName(v)})")
    },
    g1("uint", Pure) {
      case VInt(i) => VUint(i)
      case VUint(i) => VUint(i)
      case VDouble(d) => VUint(d.toLong)
      case VString(s) => VUint(java.lang.Long.parseUnsignedLong(s))
      case v => VErr(s"no such overload: uint(${typeName(v)})")
    },
    g1("double", Pure) {
      case VInt(i) => VDouble(i.toDouble)
      case VUint(i) => VDouble(i.toDouble)
      case VDouble(d) => VDouble(d)
      case VString(s) =>
        try VDouble(s.toDouble) catch { case _: NumberFormatException => VErr(s"cannot convert to double: $s") }
      case v => VErr(s"no such overload: double(${typeName(v)})")
    },
    g1("string", Pure) {
      case VString(s) => VString(s)
      case VBytes(b) =>
        if (!StringKernel.validUTF8(b)) VErr("invalid UTF-8 in bytes, cannot convert to string")
        else VString(new String(b, StandardCharsets.UTF_8))
      case VInt(i) => VString(i.toString)
      case VUint(i) => VString(java.lang.Long.toUnsignedString(i))
      case VDouble(d) => VString(if (JsonAlgebra.wholeDouble(d)) d.toLong.toString else d.toString)
      case VBool(b) => VString(b.toString)
      case VTimestamp(us) => VString(TimeKernel.formatTime(us, u8("RFC3339")).toString)
      case VDuration(us) => VString(TimeKernel.formatDuration(us).toString)
      case v => VErr(s"no such overload: string(${typeName(v)})")
    },
    g1("bytes", Pure)(v => bytesOf(v).fold(identity, VBytes(_))),
    g1("bool", Pure) {
      case VBool(b) => VBool(b)
      case VString("true") => VBool(true)
      case VString("false") => VBool(false)
      case v => VErr(s"no such overload: bool(${typeName(v)})")
    },
    g1("timestamp", Pure) {
      case VString(s) => VTimestamp(TimeKernel.parseTime(u8(s), u8("RFC3339")))
      case VInt(sec) => VTimestamp(sec * 1000000L)
      case t: VTimestamp => t
      case v => VErr(s"no such overload: timestamp(${typeName(v)})")
    },
    g1("duration", Pure) {
      case VString(s) => VDuration(TimeKernel.parseDuration(u8(s)))
      case d: VDuration => d
      case v => VErr(s"no such overload: duration(${typeName(v)})")
    },
    g1("dyn", Pure)(identity),
    gv("now", Pure, 0)((env, _) => env.liveNowAnchor match {
      // live call-time clock (monotonic, +1us so `now < now()` is
      // strict even inside one microsecond — time.go:194-199)
      case Some(anchor) =>
        VTimestamp(env.nowMicros + (System.nanoTime() - anchor) / 1000L + 1L)
      case None => VTimestamp(env.nowMicros)
    }),
    gv("uuid", Impure, 0)((_, _) => VString(java.util.UUID.randomUUID().toString)),
    gv("file", Impure, 1, 2)((env, vs) => vs match {
      case Vector(VString(path)) => readFileV(path, env)
      case Vector(VString(path), VString(mime)) =>
        readFileV(path, env) match {
          case VBytes(b) => mimeTransform(b, mime)
          case err => err
        }
      case _ => VErr("no such overload: file")
    }),
    gv("dir", Impure, 1)((env, vs) => vs(0) match {
      case VString(path) => readDirV(path, env)
      case _ => VErr("no such overload: dir")
    }))

  /** collections ([[Collections]], shared with json_* and v_*). */
  private def collections: Seq[(String, Fn)] = Seq(
    m1("size", Pure) {
      case VString(s) => VInt(s.codePointCount(0, s.length).toLong)
      case VBytes(b) => VInt(b.length.toLong)
      case VList(xs) => VInt(xs.length.toLong)
      case VMap(m) => VInt(m.size.toLong)
      case other => VErr(s"no such overload: size(${typeName(other)})")
    },
    m2("collate", Pure)((t, a) => pathsArg(a, "collate").fold(identity, Collections.collate(t, _))),
    m2("drop", Pure)((t, a) => pathsArg(a, "drop").fold(identity, Collections.drop(t, _))),
    m1("drop_empty", Pure)(Collections.dropEmpty),
    m1("flatten", Pure)(Collections.flatten),
    m2("with", Pure)(Collections.withAll),
    m2("with_update", Pure)(Collections.withUpdate),
    m2("with_replace", Pure)(Collections.withReplace),
    m2("zip", Pure)(Collections.zip),
    m1("keys", Pure)(Collections.keys),
    m1("values", Pure)(Collections.values),
    m1("min", Pure)(Collections.min),
    m1("max", Pure)(Collections.max))

  /** strings (StringKernel + builtins), with cel-go's STANDARD-env
    * string predicates and matches, which every program the reference
    * compiles has (cel.NewEnv defaults). */
  private def strings: Seq[(String, Fn)] = Seq(
    m2("contains", Pure) {
      case (VString(s), VString(sub)) => VBool(s.contains(sub))
      case (t, _) => VErr(s"no such overload: contains(${typeName(t)})")
    },
    m2("startsWith", Pure) {
      case (VString(s), VString(p)) => VBool(s.startsWith(p))
      case (t, _) => VErr(s"no such overload: startsWith(${typeName(t)})")
    },
    m2("endsWith", Pure) {
      case (VString(s), VString(p)) => VBool(s.endsWith(p))
      case (t, _) => VErr(s"no such overload: endsWith(${typeName(t)})")
    },
    m2("matches", Pure) {
      case (VString(s), VString(re)) => matchesRe(s, re)
      case (t, _) => VErr(s"no such overload: matches(${typeName(t)})")
    },
    m1("to_lower", Pure)(str1(_)(s => VString(s.toLowerCase))),
    m1("to_upper", Pure)(str1(_)(s => VString(s.toUpperCase))),
    m1("to_title", Pure)(str1(_)(s => VString(StringKernel.toTitle(u8(s)).toString))),
    m1("trim_space", Pure)(str1(_)(s => VString(s.trim))),
    m2("trim", Pure)(str2(_, _)((s, c) => VString(StringKernel.trimCutset(u8(s), u8(c)).toString))),
    m2("trim_left", Pure)(str2(_, _)((s, c) => VString(StringKernel.trimLeftCutset(u8(s), u8(c)).toString))),
    m2("trim_right", Pure)(str2(_, _)((s, c) => VString(StringKernel.trimRightCutset(u8(s), u8(c)).toString))),
    m2("trim_prefix", Pure)(str2(_, _)((s, p) => VString(StringKernel.trimPrefix(u8(s), u8(p)).toString))),
    m2("trim_suffix", Pure)(str2(_, _)((s, p) => VString(StringKernel.trimSuffix(u8(s), u8(p)).toString))),
    m2("has_prefix", Pure)(str2(_, _)((s, p) => VBool(s.startsWith(p)))),
    m2("has_suffix", Pure)(str2(_, _)((s, p) => VBool(s.endsWith(p)))),
    m2("contains_substr", Pure)(str2(_, _)((s, p) => VBool(s.contains(p)))),
    m2("contains_any", Pure)(str2(_, _)((s, p) => VBool(StringKernel.containsAny(u8(s), u8(p))))),
    m2("compare", Pure)(str2(_, _)((a, b) => VInt(StringKernel.compareStr(u8(a), u8(b)).toLong))),
    m2("count", Pure)(str2(_, _)((s, sub) => VInt(StringKernel.countSubstr(u8(s), u8(sub))))),
    m2("equal_fold", Pure)(str2(_, _)((a, b) => VBool(a.equalsIgnoreCase(b)))),
    m1("fields", Pure)(str1(_)(s => VList(s.split("\\s+").filter(_.nonEmpty).toVector.map(VString(_))))),
    m2("index", Pure)(str2(_, _)((s, sub) => VInt(StringKernel.indexOf(u8(s), u8(sub))))),
    m2("index_any", Pure)(str2(_, _)((s, c) => VInt(StringKernel.indexAny(u8(s), u8(c))))),
    m2("last_index", Pure)(str2(_, _)((s, sub) => VInt(StringKernel.lastIndexOf(u8(s), u8(sub))))),
    m2("last_index_any", Pure)(str2(_, _)((s, c) => VInt(StringKernel.lastIndexAny(u8(s), u8(c))))),
    m2("join", Pure)(join),
    m2("repeat", Pure) {
      case (VString(s), VInt(n)) => VString(s * n.toInt)
      case _ => VErr("no such overload: repeat")
    },
    mv("replace", Pure, 3, 4)((_, vs) => vs match {
      case Vector(VString(s), VString(o), VString(n2)) =>
        VString(StringKernel.replaceN(u8(s), u8(o), u8(n2), -1).toString)
      case Vector(VString(s), VString(o), VString(n2), VInt(k)) =>
        VString(StringKernel.replaceN(u8(s), u8(o), u8(n2), k).toString)
      case _ => VErr("no such overload: replace")
    }),
    m3("replace_all", Pure) {
      case (VString(s), VString(o), VString(n2)) =>
        VString(StringKernel.replaceN(u8(s), u8(o), u8(n2), -1).toString)
      case _ => VErr("no such overload: replace_all")
    },
    m2("split", Pure)(str2(_, _)((s, sep) => VList(arr(StringKernel.splitN(u8(s), u8(sep), -1))))),
    m3("split_n", Pure) {
      case (VString(s), VString(sep), VInt(n)) => VList(arr(StringKernel.splitN(u8(s), u8(sep), n)))
      case _ => VErr("no such overload: split_n")
    },
    m2("split_after", Pure)(str2(_, _)((s, sep) => VList(arr(StringKernel.splitAfter(u8(s), u8(sep)))))),
    m3("split_after_n", Pure) {
      case (VString(s), VString(sep), VInt(n)) =>
        VList(arr(StringKernel.splitAfterN(u8(s), u8(sep), n)))
      case _ => VErr("no such overload: split_after_n")
    },
    m3("substring", Pure) {
      case (VString(s), VInt(a), VInt(b)) => VString(StringKernel.substrRunes(u8(s), a, b).toString)
      case _ => VErr("no such overload: substring")
    },
    m1("valid_utf8", Pure)(t => bytesOf(t).fold(identity, b => VBool(StringKernel.validUTF8(b)))),
    m2("to_valid_utf8", Pure)((t, rep) => (bytesOf(t), rep) match {
      case (Right(b), VString(r)) => VString(StringKernel.toValidUTF8(b, u8(r)).toString)
      case _ => VErr("no such overload: to_valid_utf8")
    }),
    // the registry's named regexps (Env.regexps); with none configured
    // the re_* names are unknown
    mv("re_match", Pure, 2)(regexp("re_match")),
    mv("re_find", Pure, 2)(regexp("re_find")),
    mv("re_find_all", Pure, 2)(regexp("re_find_all")),
    mv("re_find_submatch", Pure, 2)(regexp("re_find_submatch")),
    mv("re_find_all_submatch", Pure, 2)(regexp("re_find_all_submatch")),
    mv("re_replace_all", Pure, 3)(regexp("re_replace_all")))

  /** time, with cel-go's STANDARD-env timestamp/duration accessors
    * (the target, then an optional time zone). */
  private def time: Seq[(String, Fn)] = Seq(
    m2("format", Pure) {
      case (VTimestamp(us), VString(layout)) => VString(TimeKernel.formatTime(us, u8(layout)).toString)
      case _ => VErr("no such overload: format")
    },
    m2("parse_time", Pure)(parseTimeV)) ++
    Seq("getFullYear", "getMonth", "getDayOfYear", "getDayOfMonth", "getDate",
      "getDayOfWeek", "getHours", "getMinutes", "getSeconds", "getMilliseconds").map(name =>
      mv(name, Pure, 1, 2)((_, vs) => timeAccessor(name, vs.head, vs.tail)))

  /** crypto (reference lib/crypto.go). */
  private def crypto: Seq[(String, Fn)] = Seq(
    m1("md5", Pure)(t => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.md5Bytes(b)))),
    m1("sha1", Pure)(t => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.sha1Bytes(b)))),
    m1("sha256", Pure)(t => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.sha256Bytes(b)))),
    m1("hex", Pure)(t => bytesOf(t).fold(identity, b => VString(CryptoKernel.hexEncode(b).toString))),
    m1("base64", Pure)(t => bytesOf(t).fold(identity, b => VString(CryptoKernel.base64Std(b).toString))),
    m1("base64_raw", Pure)(t => bytesOf(t).fold(identity, b => VString(CryptoKernel.base64Raw(b).toString))),
    m1("base64_decode", Pure) {
      case VString(s) => VBytes(CryptoKernel.base64Decode(u8(s)))
      case _ => VErr("no such overload: base64_decode")
    },
    m1("base64_raw_decode", Pure) {
      case VString(s) => VBytes(CryptoKernel.base64RawDecode(u8(s)))
      case _ => VErr("no such overload: base64_raw_decode")
    },
    m3("hmac", Pure)((d0, alg, k) => (bytesOf(d0), alg) match {
      case (Right(d), VString(a)) => bytesOf(k).fold(identity, kb => VBytes(CryptoKernel.hmac(d, u8(a), kb)))
      case _ => VErr("no such overload: hmac")
    }))

  /** http: request-as-data, executing calls, url and query. Reference
    * lib/http.go: makeRequestBody :672-712, reqToMap :713-746, doHead
    * :518-548, doPost :585-635, doRequest :826-854,
    * basicAuthentication :783-824. The cfg-level Basic auth
    * (Env.httpAuth) rides on every executing get/head/post, never on
    * do_request (lib/http.go:46-50). */
  private def http: Seq[(String, Fn)] = Seq(
    mv("request", Pure, 2, 3)((_, vs) => vs match {
      case Vector(VString(m), VString(url)) => buildRequestV(m, url, None, None)
      case Vector(VString(m), VString(url), body) => buildRequestV(m, url, Some(body), None)
      case _ => VErr("no such overload for request")
    }),
    m1("get_request", Pure) {
      case VString(url) => buildRequestV("GET", url, None, None)
      case _ => VErr("no such overload for request")
    },
    m3("post_request", Pure) {
      case (VString(url), VString(ct), body) => buildRequestV("POST", url, Some(body), Some(ct))
      case _ => VErr("no such overload for post request")
    },
    mv("get", Impure, 1)(httpExecCall("get")),
    mv("head", Impure, 1)(httpExecCall("head")),
    mv("post", Impure, 3)(httpExecCall("post")),
    m1("do_request", Impure) {
      case VMap(m) => doRequestV(m)
      case _ => VErr("no such overload for do_request")
    },
    m3("basic_authentication", Pure) {
      case (VMap(m), VString(user), VString(pass)) =>
        val tok = java.util.Base64.getEncoder.encodeToString(
          s"$user:$pass".getBytes(StandardCharsets.UTF_8))
        val hdr = m.get("Header") match {
          case Some(VMap(h)) => h
          case _ => VMap.noEntries
        }
        VMap(m + ("Header" -> VMap(hdr + ("Authorization" -> VList(Vector(VString("Basic " + tok)))))))
      case _ => VErr("no such overload for request")
    },
    m1("parse_url", Pure) {
      case VString(s) => parseUrlV(s)
      case _ => VErr("no such overload for request")
    },
    m1("format_url", Pure) {
      case VMap(m) => formatUrlV(m)
      case _ => VErr("no such overload")
    },
    m1("parse_query", Pure) {
      case VString(s) => parseQueryV(s)
      case _ => VErr("no such overload")
    },
    m1("format_query", Pure) {
      case VMap(m) => formatQueryV(m)
      case _ => VErr("no such overload")
    },
    mv("rate_limit", Impure, 3, 6)((env, vs) => vs match {
      case Vector(h, VString(policy), VDuration(win)) => rateLimit(h, policy, win, env)
      case Vector(h, VString(prefix), VBool(_), VBool(delta), VDuration(win), VInt(burst)) =>
        rateLimitGeneral(h, prefix, delta, win, burst, env)
      case _ => VErr("no such overload: rate_limit")
    }))

  /** json and xml documents, mime transforms on bytes (reference
    * lib/mime.go:90-132) and channels (lib/send.go:149-197).
    * v.send_to(name) pushes the value (rendered JSON) onto the named
    * driver channel and returns the value; v.close(name) closes it.
    * send_refval_to (send.go:148-159) differs from send_to (:161-177)
    * only in HOW the value crosses the channel: raw ref.Val vs
    * converted-to-native. Here every value is already a rendered V, so
    * the two are the same operation. */
  private def documents: Seq[(String, Fn)] = Seq(
    m1("encode_json", Pure)(t => VString(Eval.renderV(t))),
    m1("decode_json", Pure)(t => bytesOf(t).fold(identity, b => Eval.stateLeafV(b, 0, b.length))),
    m1("decode_json_stream", Pure)(t => bytesOf(t).fold(identity, Eval.parseStreamV(_))),
    // the hint table (Env.xsds) is empty in a Column's env, where a
    // named hint is a constant error, so the call is pure in both arities
    mv("decode_xml", Pure, 1, 2)((env, vs) => decodeXml(vs.head, vs.tail, env)),
    m2("mime", Pure) {
      case (VBytes(b), VString(tpe)) => mimeTransform(b, tpe)
      case (VString(s), VString(tpe)) => mimeTransform(s.getBytes(StandardCharsets.UTF_8), tpe)
      case _ => VErr("no such overload: mime")
    },
    m2("send_to", Impure)(sendTo),
    m2("send_refval_to", Impure)(sendTo),
    m2("close", Impure) {
      case (_, VString(name)) =>
        if (graft.streaming.Channels.closeStrict(name)) VBool(true) else VErr(s"no channel $name")
      case _ => VErr("no such overload")
    })

  /** optional-value accessors (CEL optional types, mito.go:83). */
  private def optionals: Seq[(String, Fn)] = Seq(
    m2("orValue", Pure) {
      case (VOpt(Some(v)), _) => v
      case (VOpt(None), d) => d
      case (v, _) => v // CEL: orValue on a non-optional passes through
    },
    m2("or", Pure)(Eval.orOptV),
    m1("hasValue", Pure) {
      case VOpt(o) => VBool(o.isDefined)
      case _ => VBool(true)
    },
    m1("value", Pure) {
      case VOpt(Some(v)) => v
      case VOpt(None) => VErr("optional.none() dereference")
      case v => v
    })

  // ---------------- bodies ----------------

  private def bytesOf(v: V): Either[VErr, Array[Byte]] = v match {
    case VBytes(b) => Right(b)
    case VString(s) => Right(s.getBytes(StandardCharsets.UTF_8))
    case other => Left(VErr(s"no such overload: bytes from ${typeName(other)}"))
  }

  /** `s.matches(re)` — unanchored partial match, the semantics of Go's
    * regexp.MatchString in cel-go's standard env. Patterns compile via
    * java.util.regex (documented divergence from RE2: no linear-time
    * guarantee, named groups are `(?<n>)` not `(?P<n>)`), cached
    * process-wide since the pattern is almost always a plan constant.
    * The cache is capped so adversarial dynamic patterns cannot grow it
    * without bound (past the cap: compile per call, still correct). */
  private val matchesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def matchesRe(s: String, re: String): V = {
    val p =
      if (matchesCache.size > 1024) java.util.regex.Pattern.compile(re)
      else matchesCache.computeIfAbsent(re, java.util.regex.Pattern.compile(_))
    VBool(p.matcher(s).find())
  }

  private def join(t: V, sep: V): V = (t, sep) match {
    case (VList(xs), VString(sep)) =>
      VString(xs.map { case VString(s) => s; case o => return VErr(s"join: ${typeName(o)}") }.mkString(sep))
    case _ => VErr("no such overload: join")
  }

  private def parseTimeV(t: V, layout: V): V = (t, layout) match {
    case (VString(s), VString(layout)) => VTimestamp(TimeKernel.parseTime(u8(s), u8(layout)))
    case (VString(s), VList(layouts)) =>
      layouts.foreach {
        case VString(l) =>
          try return VTimestamp(TimeKernel.parseTime(u8(s), u8(l)))
          catch { case _: Exception => }
        case _ =>
      }
      VErr(s"failed to parse $s with any provided layout")
    case _ => VErr("no such overload: parse_time")
  }

  /** cel-go standard timestamp/duration accessors. Timestamp fields are
    * in UTC or an explicit IANA / fixed-offset zone argument; month,
    * day-of-year and dayOfMonth are 0-based, getDate is 1-based and
    * getDayOfWeek counts Sunday = 0 (the CEL spec's JS-style calendar).
    * Duration accessors are TOTALS truncated toward zero (Go
    * d.Hours()/d.Minutes()/... conversions), not components. */
  private def timeAccessor(fn: String, t: V, args: Vector[V]): V = t match {
    case VDuration(us) => (fn, args) match {
      case ("getHours", Vector()) => VInt(us / 3600000000L)
      case ("getMinutes", Vector()) => VInt(us / 60000000L)
      case ("getSeconds", Vector()) => VInt(us / 1000000L)
      case ("getMilliseconds", Vector()) => VInt(us / 1000L)
      case _ => VErr(s"no such overload: duration.$fn")
    }
    case VTimestamp(us) =>
      val zone: Either[VErr, java.time.ZoneId] = args match {
        case Vector() => Right(java.time.ZoneOffset.UTC)
        case Vector(VString(tz)) =>
          try Right(java.time.ZoneId.of(tz))
          catch { case _: Exception => Left(VErr(s"cannot parse timezone: $tz")) }
        case _ => Left(VErr(s"no such overload: timestamp.$fn"))
      }
      zone.fold(identity, z => {
        val zdt = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L).atZone(z)
        fn match {
          case "getFullYear" => VInt(zdt.getYear.toLong)
          case "getMonth" => VInt(zdt.getMonthValue.toLong - 1L)
          case "getDayOfYear" => VInt(zdt.getDayOfYear.toLong - 1L)
          case "getDayOfMonth" => VInt(zdt.getDayOfMonth.toLong - 1L)
          case "getDate" => VInt(zdt.getDayOfMonth.toLong)
          case "getDayOfWeek" => VInt(zdt.getDayOfWeek.getValue.toLong % 7L)
          case "getHours" => VInt(zdt.getHour.toLong)
          case "getMinutes" => VInt(zdt.getMinute.toLong)
          case "getSeconds" => VInt(zdt.getSecond.toLong)
          case "getMilliseconds" => VInt(zdt.getNano.toLong / 1000000L)
        }
      })
    case other => VErr(s"no such overload: $fn(${typeName(other)})")
  }

  /** decode_xml, with the hint name looked up in the env's XSD table. */
  private def decodeXml(t: V, args: Vector[V], env: Env): V = {
    val hints: Either[VErr, String] = args match {
      case Vector() => Right("")
      case Vector(VString(name)) => env.xsds.get(name).toRight(VErr(s"unknown XSD: $name"))
      case _ => Left(VErr("no such overload for decode_xml"))
    }
    (bytesOf(t), hints) match {
      case (Left(e), _) => e
      case (_, Left(e)) => e
      case (Right(b), Right(h)) =>
        graft.expressions.XmlKernel.decode(new String(b, StandardCharsets.UTF_8), h)
    }
  }

  private def sendTo(t: V, name: V): V = name match {
    case VString(n) =>
      graft.streaming.Channels.send(n, Eval.renderV(t))
      t
    case _ => VErr("no such overload")
  }

  private def arr(a: org.apache.spark.sql.catalyst.util.ArrayData): Vector[V] =
    (0 until a.numElements()).map(i => VString(a.getUTF8String(i).toString): V).toVector

  private def str1(t: V)(f: String => V): V = t match {
    case VString(s) => f(s)
    case _ => VErr(s"no such overload on ${typeName(t)}")
  }
  private def str2(t: V, a: V)(f: (String, String) => V): V = (t, a) match {
    case (VString(s), VString(a)) => f(s, a)
    case _ => VErr(s"no such overload on ${typeName(t)}")
  }

  /** collate/drop path argument: one path or a list of paths. */
  private def pathsArg(a: V, fn: String): Either[VErr, Seq[String]] = a match {
    case VString(p) => Right(Seq(p))
    case VList(ps) => Right(ps.map { case VString(p) => p; case o => return Left(VErr(s"bad path ${typeName(o)}")) })
    case o => Left(VErr(s"invalid parameter type for $fn: ${typeName(o)}"))
  }

  // ---- regexp (named registry from env) ----
  private val regexCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  private def regexp(fn: String)(env: Env, vs: Vector[V]): V = {
    if (env.regexps.isEmpty) return VErr(s"no such function: $fn")
    val t = vs(0)
    val name = vs(1) match {
      case VString(n) => n
      case _ => return VErr(s"no such overload: $fn")
    }
    val pat = env.regexps.getOrElse(name, return VErr(s"no regexp pattern: $name"))
    // named patterns come from a small config registry: cache compiles
    val p = regexCache.computeIfAbsent(pat, java.util.regex.Pattern.compile(_))
    val isBytes = t.isInstanceOf[VBytes]
    val s = t match {
      case VString(x) => x
      case VBytes(b) => new String(b, StandardCharsets.ISO_8859_1)
      case _ => return VErr(s"no such overload: $fn on ${typeName(t)}")
    }
    def out(x: String): V =
      if (isBytes) VBytes(x.getBytes(StandardCharsets.ISO_8859_1)) else VString(x)
    fn match {
      case "re_match" => VBool(p.matcher(s).find())
      case "re_find" =>
        val m = p.matcher(s)
        if (m.find()) out(m.group()) else out("")
      case "re_find_all" =>
        val m = p.matcher(s)
        val b = Vector.newBuilder[V]
        while (m.find()) b += out(m.group())
        VList(b.result())
      case "re_find_submatch" =>
        val m = p.matcher(s)
        if (m.find()) VList((0 to m.groupCount()).map(g => out(Option(m.group(g)).getOrElse(""))).toVector)
        else VList(Vector.empty)
      case "re_find_all_submatch" =>
        val m = p.matcher(s)
        val b = Vector.newBuilder[V]
        while (m.find())
          b += VList((0 to m.groupCount()).map(g => out(Option(m.group(g)).getOrElse(""))).toVector)
        VList(b.result())
      case "re_replace_all" =>
        val rep = vs(2) match {
          case VString(x) => x
          case VBytes(b2) => new String(b2, StandardCharsets.ISO_8859_1)
          case _ => return VErr("no such overload: re_replace_all")
        }
        // Go ${n} group syntax -> Java $n
        val javaRep = rep.replaceAll("\\$\\{(\\d+)\\}", "\\$$1")
        out(p.matcher(s).replaceAll(javaRep))
    }
  }

  // ---- file / mime (reference lib/file.go, lib/mime.go) ----
  private def readFileV(path: String, env: Env): V = env.baseDir match {
    case None => VErr("file access requires a base directory")
    case Some(dir) =>
      try VBytes(java.nio.file.Files.readAllBytes(dir.resolve(path)))
      catch { case e: Exception => VErr(s"failed to read file: ${e.getMessage}") }
  }

  /** dir(path) — reference lib/file.go:158-199: name-sorted entries as
    * {is_dir, mod_time (RFC3339Nano-style), name, size} maps. */
  private def readDirV(path: String, env: Env): V = env.baseDir match {
    case None => VErr("file access requires a base directory")
    case Some(dir) =>
      try {
        val p = dir.resolve(path)
        val entries = java.nio.file.Files.list(p).iterator().asScala.toSeq
          .sortBy(_.getFileName.toString)
        VList(entries.toVector.map { f =>
          val attrs = java.nio.file.Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          val mt = attrs.lastModifiedTime().toInstant
          VMap.of(
            "is_dir" -> VBool(attrs.isDirectory),
            "mod_time" -> VString(mt.toString),
            "name" -> VString(f.getFileName.toString),
            "size" -> VInt(attrs.size()))
        })
      } catch { case e: Exception => VErr(s"failed to read dir: ${e.getMessage}") }
  }

  private[cel] def mimeTransform(b: Array[Byte], tpe: String): V = tpe match {
    case "text/rot13" => VBytes(graft.expressions.MimeKernel.rot13(b))
    case "text/upper" =>
      VBytes(new String(b, StandardCharsets.UTF_8).toUpperCase.getBytes(StandardCharsets.UTF_8))
    case "application/gzip" =>
      try VBytes(graft.expressions.MimeKernel.gunzip(b))
      catch { case e: Exception => VErr(s"gzip: ${e.getMessage}") }
    case "application/zip" =>
      try graft.expressions.MimeKernel.zipMap(b)
      catch { case e: Exception => VErr(s"zip: ${e.getMessage}") }
    case "text/csv; header=present" =>
      val rows = graft.expressions.MimeKernel.csvRows(new String(b, StandardCharsets.UTF_8))
      if (rows.isEmpty) VList(Vector.empty)
      else {
        val h = rows.head
        VList(rows.tail.toVector.map(rec =>
          VMap.from(h.zip(rec.padTo(h.length, "")).map {
            case (k, v) => k -> (VString(v): V)
          })))
      }
    case "text/csv; header=absent" =>
      VList(graft.expressions.MimeKernel
        .csvRows(new String(b, StandardCharsets.UTF_8))
        .toVector.map(rec => VList(rec.toVector.map(VString(_): V))))
    case "application/x-ndjson" => VList(graft.expressions.MimeKernel.ndjsonDocs(b))
    case other => VErr(s"unknown transform: $other")
  }

  // ---- url / query (reference http.go:1002-1143, mito map shape) ----

  /** Go encodeUserPassword escaping: unreserved + "$&+,;=" pass through. */
  private def userinfoEscape(s: String): String =
    s.flatMap { c =>
      if (c.isLetterOrDigit || "-_.~$&+,;=".contains(c)) c.toString
      else c.toString.getBytes(StandardCharsets.UTF_8).map(b => f"%%${b & 0xff}%02X").mkString
    }

  def parseUrlV(addr: String): V = {
    val row = graft.expressions.HttpKernel.parseUrl(u8(addr))
    val scheme = row.getUTF8String(0).toString
    val opaque = row.getUTF8String(1).toString
    val username = row.getUTF8String(2).toString
    val password = row.getUTF8String(3).toString
    val passwordSet = row.getBoolean(4)
    val host = row.getUTF8String(5).toString
    val path = row.getUTF8String(6).toString
    val rawQuery = row.getUTF8String(7).toString
    val fragment = row.getUTF8String(8).toString
    val user: V =
      if (username.isEmpty && !passwordSet) VNull
      else VMap.of("Username" -> VString(username),
        "Password" -> VString(password), "PasswordSet" -> VBool(passwordSet))
    VMap.of(
      "Scheme" -> VString(scheme), "Opaque" -> VString(opaque),
      "User" -> user, "Host" -> VString(host), "Path" -> VString(path),
      "RawPath" -> VString(""), "ForceQuery" -> VBool(false),
      "RawQuery" -> VString(rawQuery), "Fragment" -> VString(fragment),
      "RawFragment" -> VString(""))
  }

  def formatUrlV(m: TreeMap[String, V]): V = {
    def str(k: String) = m.get(k) match { case Some(VString(s)) => s; case _ => "" }
    val sb = new StringBuilder
    if (str("Scheme").nonEmpty) sb.append(str("Scheme")).append(':')
    if (str("Opaque").nonEmpty) sb.append(str("Opaque"))
    else {
      if (str("Scheme").nonEmpty || str("Host").nonEmpty) sb.append("//")
      m.get("User") match {
        case Some(VMap(user)) =>
          val un = user.get("Username") match { case Some(VString(s)) => s; case _ => "" }
          val pwSet = user.get("PasswordSet") == Some(VBool(true))
          val pw = user.get("Password") match { case Some(VString(s)) => s; case _ => "" }
          sb.append(userinfoEscape(un))
          if (pwSet) sb.append(':').append(userinfoEscape(pw))
          sb.append('@')
        case _ =>
      }
      sb.append(str("Host")).append(str("Path"))
    }
    if (m.get("ForceQuery") == Some(VBool(true)) || str("RawQuery").nonEmpty)
      sb.append('?').append(str("RawQuery"))
    if (str("Fragment").nonEmpty) sb.append('#').append(str("Fragment"))
    VString(sb.toString)
  }

  def parseQueryV(q: String): V = {
    var m = VMap.noEntries
    q.split('&').filter(_.nonEmpty).foreach { p =>
      val i = p.indexOf('=')
      val (k, v) = if (i < 0) (p, "") else (p.substring(0, i), p.substring(i + 1))
      val kd = java.net.URLDecoder.decode(k, StandardCharsets.UTF_8)
      val vd = java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      m = m.updated(kd, m.get(kd) match {
        case Some(VList(xs)) => VList(xs :+ VString(vd))
        case _ => VList(Vector(VString(vd)))
      })
    }
    VMap(m)
  }

  def formatQueryV(m: TreeMap[String, V]): V = {
    val sb = new StringBuilder
    m.foreachEntry { (k, vs) =>
      val vals = vs match {
        case VList(xs) => xs.collect { case VString(s) => s }
        case VString(s) => Vector(s)
        case _ => Vector.empty
      }
      vals.foreach { v =>
        if (sb.nonEmpty) sb.append('&')
        sb.append(java.net.URLEncoder.encode(k, StandardCharsets.UTF_8))
          .append('=').append(java.net.URLEncoder.encode(v, StandardCharsets.UTF_8))
      }
    }
    VString(sb.toString)
  }

  // ---- rate_limit: bridge to LimitKernel (shared semantics) ----
  private def headersToMapData(h: V): Option[org.apache.spark.sql.catalyst.util.MapData] =
    h match {
      case VMap(m) =>
        val keys = m.keys.map(k => u8(k): Any).toArray
        val vals = m.values.map {
          case VList(xs) => new org.apache.spark.sql.catalyst.util.GenericArrayData(
            xs.collect { case VString(s) => u8(s): Any }.toArray): Any
          case VString(s) => new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array(u8(s): Any)): Any
          case _ => new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]): Any
        }.toArray
        Some(org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys, vals))
      case _ => None
    }

  private def limitRowToV(r: org.apache.spark.sql.catalyst.InternalRow): V = {
    var m = VMap.noEntries
    if (!r.isNullAt(2)) m = m.updated("burst", VInt(r.getLong(2)))
    if (!r.isNullAt(5)) m = m.updated("error", VString(r.getUTF8String(5).toString))
    if (!r.isNullAt(4)) m = m.updated("headers", VString(r.getUTF8String(4).toString))
    if (!r.isNullAt(1)) m = m.updated("next", VDouble(r.getDouble(1)))
    if (!r.isNullAt(0)) m = m.updated("rate", VDouble(r.getDouble(0)))
    if (!r.isNullAt(3)) m = m.updated("reset", VTimestamp(r.getLong(3)))
    VMap(m)
  }

  private def rateLimitGeneral(h: V, prefix: String, delta: Boolean,
      windowMicros: Long, burst: Long, env: Env): V =
    headersToMapData(h) match {
      case Some(md) => limitRowToV(graft.expressions.LimitKernel.general(
        md, u8(prefix), delta, windowMicros, burst, env.nowMicros))
      case None => VErr("no such overload for headers")
    }

  private def rateLimit(h: V, policy: String, windowMicros: Long, env: Env): V =
    headersToMapData(h) match {
      case None => VErr("no such overload for headers")
      case Some(md) => policy match {
        case "okta" =>
          limitRowToV(graft.expressions.LimitKernel.okta(md, windowMicros, env.nowMicros))
        case "draft" =>
          limitRowToV(graft.expressions.LimitKernel.draft(md, windowMicros, env.nowMicros))
        case other => VErr(s"""unknown policy: "$other"""")
      }
    }

  // ---------------- http request/response plumbing ----------------

  private def reqBodyBytes(v: V): Either[VErr, Array[Byte]] = v match {
    case VString(s) => Right(s.getBytes(StandardCharsets.UTF_8))
    case VBytes(b) => Right(b)
    case other => Left(VErr(s"invalid type for request body: ${typeName(other)}"))
  }

  private def headerV(h: Map[String, Seq[String]]): V =
    VMap.from(h.iterator.map { case (k, vs) =>
      k -> (VList(vs.toVector.map(VString(_): V)): V)
    })

  /** Go reqToMap shape (http.go:713-746): the request as data. Body keeps
    * the caller's value type (string stays a string in the render, like
    * Go keeps the ref.Val). */
  private def buildRequestV(method: String, url: String,
      body: Option[V], contentType: Option[String]): V = {
    val len = body match {
      case None => 0L
      case Some(b) => reqBodyBytes(b) match {
        case Left(e) => return e
        case Right(x) => x.length.toLong
      }
    }
    val header: V = contentType match {
      case Some(ct) => VMap.of("Content-Type" -> VList(Vector(VString(ct))))
      case None => VMap(VMap.noEntries)
    }
    val base = VMap.noEntries ++ Seq[(String, V)](
      "Close" -> VBool(false),
      "ContentLength" -> VInt(len),
      "Header" -> header,
      "Host" -> VString(graft.sources.HttpExec.host(url)),
      "Method" -> VString(method),
      "Proto" -> VString("HTTP/1.1"),
      "ProtoMajor" -> VInt(1),
      "ProtoMinor" -> VInt(1),
      "URL" -> VString(url))
    VMap(body match {
      case Some(b) => base + ("Body" -> b)
      case None => base
    })
  }

  private def respToV(r: graft.sources.HttpExec.Resp): V = {
    val reqEcho = VMap.of(
      "Close" -> VBool(false),
      "ContentLength" -> VInt(r.reqContentLength),
      "Header" -> headerV(r.reqHeader),
      "Host" -> VString(r.reqHost),
      "Method" -> VString(r.reqMethod),
      "Proto" -> VString("HTTP/1.1"),
      "ProtoMajor" -> VInt(1),
      "ProtoMinor" -> VInt(1),
      "URL" -> VString(r.reqUrl))
    VMap.of(
      "Body" -> VBytes(r.body),
      "Close" -> VBool(false),
      "ContentLength" -> VInt(r.contentLength),
      "Header" -> headerV(r.header),
      "Proto" -> VString(r.proto),
      "ProtoMajor" -> VInt(r.protoMajor),
      "ProtoMinor" -> VInt(r.protoMinor),
      "Request" -> reqEcho,
      "Status" -> VString(r.status),
      "StatusCode" -> VInt(r.statusCode),
      "Uncompressed" -> VBool(r.uncompressed))
  }

  private def execHttpV(method: String, url: String,
      headers: Map[String, Seq[String]], body: Array[Byte]): V =
    try respToV(graft.sources.HttpExec.send(method, url, headers, body))
    catch { case scala.util.control.NonFatal(e) => VErr(String.valueOf(e.getMessage)) }

  /** The executing get/head/post overloads, with the cfg-level Basic
    * auth (Env.httpAuth) merged in: the reference applies it to exactly
    * these three calls (lib/http.go :544-545, :575-576, :630-631) and
    * never to do_request. The header is Go's req.SetBasicAuth form. */
  private def httpExecCall(fn: String)(env: Env, vs: Vector[V]): V = {
    val auth = env.httpAuth.fold(Map.empty[String, Seq[String]]) { case (user, pass) =>
      Map("Authorization" -> Seq("Basic " + java.util.Base64.getEncoder.encodeToString(
        s"$user:$pass".getBytes(StandardCharsets.UTF_8))))
    }
    (fn, vs) match {
      case ("get", Vector(VString(url))) => execHttpV("GET", url, auth, null)
      case ("head", Vector(VString(url))) => execHttpV("HEAD", url, auth, null)
      case ("post", Vector(VString(url), VString(ct), body)) =>
        reqBodyBytes(body).fold(identity,
          b => execHttpV("POST", url, auth + ("Content-Type" -> Seq(ct)), b))
      case _ => VErr(s"no such overload for $fn")
    }
  }

  private def doRequestV(m: TreeMap[String, V]): V = {
    val url = m.get("URL") match {
      case Some(VString(s)) => s
      case _ => return VErr("no such overload for do_request")
    }
    val method = m.get("Method") match {
      case Some(VString(s)) if s.nonEmpty => s
      case _ => "GET"
    }
    val headers: Map[String, Seq[String]] = m.get("Header") match {
      case Some(VMap(h)) => h.toSeq.map {
        case (k, VList(vs)) => k -> vs.collect { case VString(s) => s }.toSeq
        case (k, VString(s)) => k -> Seq(s)
        case (k, _) => k -> Seq.empty[String]
      }.toMap
      case _ => Map.empty
    }
    val body = m.get("Body") match {
      case None => null
      case Some(b) => reqBodyBytes(b) match {
        case Left(e) => return e
        case Right(x) => x
      }
    }
    execHttpV(method, url, headers, body)
  }
}
