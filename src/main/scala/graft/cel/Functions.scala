package graft.cel

import graft.expressions.{CryptoKernel, StringKernel, TimeKernel}
import graft.values.JsonAlgebra
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

/** Function/method bindings for the CEL front-end: CEL core conversions
  * plus the reference's extension libraries, routed through the SAME
  * kernels as the Column API (StringKernel/TimeKernel/CryptoKernel, and
  * [[Collections]] for the collections library, which the json_* and v_*
  * Column functions also call) so the CEL evaluator and the Column API
  * share one semantics implementation.
  */
private[cel] object Functions {
  import Eval._

  private def strict(args: Vector[Ast], env: Env)(f: Vector[V] => V): V = {
    val vs = args.map(a => Eval.eval(a, env))
    vs.collectFirst { case e: VErr => e }.getOrElse(guard(f(vs)))
  }

  private def bytesOf(v: V): Either[VErr, Array[Byte]] = v match {
    case VBytes(b) => Right(b)
    case VString(s) => Right(s.getBytes(StandardCharsets.UTF_8))
    case other => Left(VErr(s"no such overload: bytes from $other"))
  }

  /** decode_json: one JSON document, read as a `state` document is. */
  private def decodeJson(v: V): V =
    bytesOf(v).fold(identity, b => Eval.stateLeafV(new String(b, StandardCharsets.UTF_8)))

  // ---------------- global calls ----------------
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

    case fn2 if pureGlobals(fn2) => strict(args, env)(vs => call2(fn2, vs))
    case "rate_limit" => strict(args, env) {
      case Vector(h, VString(policy), VDuration(win)) => rateLimit(h, policy, win, env)
      case Vector(h, VString(prefix), VBool(_), VBool(delta), VDuration(win), VInt(burst)) =>
        rateLimitGeneral(h, prefix, delta, win, burst, env)
      case _ => VErr("no such overload: rate_limit")
    }
    case "now" => env.liveNowAnchor match {
      // live call-time clock (monotonic, +1us so `now < now()` is
      // strict even inside one microsecond — time.go:194-199)
      case Some(anchor) =>
        VTimestamp(env.nowMicros + (System.nanoTime() - anchor) / 1000L + 1L)
      case None => VTimestamp(env.nowMicros)
    }
    // file library (reference lib/file.go; baseDir = the evaluation's
    // working directory, like the mito CLI's cwd)
    case "file" => strict(args, env) {
      case Vector(VString(path)) => readFileV(path, env)
      case Vector(VString(path), VString(mime)) =>
        readFileV(path, env) match {
          case VBytes(b) => mimeTransform(b, mime)
          case err => err
        }
      case _ => VErr("no such overload: file")
    }
    case "dir" => strict(args, env) {
      case Vector(VString(path)) => readDirV(path, env)
      case _ => VErr("no such overload: dir")
    }
    case "uuid" => VString(java.util.UUID.randomUUID().toString)
    case other =>
      // fall back to method form with first arg as target (CEL allows both
      // for several reference overloads, e.g. collate(x, p))
      if (args.nonEmpty) {
        val vs = args.map(a => Eval.eval(a, env))
        vs.collectFirst { case e: VErr => e }.getOrElse((other, env.httpAuth) match {
          // cfg-level Basic auth on executing calls, global form
          case ("get" | "head" | "post", Some((u, p))) =>
            guard(httpExecCall(other, vs.head, vs.tail, basicAuthHeader(u, p)))
          case _ => guard(method2(other, vs.head, vs.tail))
        })
      } else VErr(s"unknown function: $other")
  }

  // ---------------- method calls ----------------
  def method(target: Ast, fn: String, args: Vector[Ast], env: Env): V = fn match {
    // optional.of(x) / optional.none() namespace calls
    case "of" if target == Ast.Ident("optional") =>
      strict(args, env)(vs => VOpt(Some(vs.head)))
    case "none" if target == Ast.Ident("optional") => VOpt(None)
    case "ofNonZeroValue" if target == Ast.Ident("optional") =>
      strict(args, env)(vs =>
        VOpt(if (Eval.isZeroV(vs.head)) None else Some(vs.head)))
    // optional-value accessors
    case "orValue" => strictWithTarget(target, args, env) {
      case (VOpt(Some(v)), _) => v
      case (VOpt(None), vs) => vs.head
      case (v, _) => v // CEL: orValue on a non-optional passes through
    }
    case "or" => strictWithTarget(target, args, env) { (t, vs) =>
      Eval.orOptV(t, vs.head)
    }
    case "hasValue" => strictWithTarget(target, args, env) {
      case (VOpt(o), _) => VBool(o.isDefined)
      case _ => VBool(true)
    }
    case "value" => strictWithTarget(target, args, env) {
      case (VOpt(Some(v)), _) => v
      case (VOpt(None), _) => VErr("optional.none() dereference")
      case (v, _) => v
    }
    case "rate_limit" => // needs env.nowMicros
      strictWithTarget(target, args, env) { case (h, Vector(VString(policy), VDuration(win))) =>
        rateLimit(h, policy, win, env)
      }
    case "decode_xml" => // needs env.xsds for the named-hint overload
      strictWithTarget(target, args, env) { (t, vs) =>
        val hints: Either[VErr, String] = vs match {
          case Vector() => Right("")
          case Vector(VString(name)) =>
            env.xsds.get(name).toRight(VErr(s"unknown XSD: $name"))
          case _ => Left(VErr("no such overload for decode_xml"))
        }
        (bytesOf(t), hints) match {
          case (Left(e), _) => e
          case (_, Left(e)) => e
          case (Right(b), Right(h)) =>
            graft.expressions.XmlKernel.decode(new String(b, StandardCharsets.UTF_8), h)
        }
      }
    // cfg-level Basic auth rides on every executing get/head/post
    // (never do_request — lib/http.go:46-50)
    case "get" | "head" | "post" if env.httpAuth.isDefined =>
      val (u, p) = env.httpAuth.get
      strictWithTarget(target, args, env)((t, vs) =>
        httpExecCall(fn, t, vs, basicAuthHeader(u, p)))
    case _ if env.regexps.nonEmpty && fn.startsWith("re_") =>
      strictWithTarget(target, args, env)((t, vs) => regexp(fn, t, vs, env))
    case _ =>
      strictWithTarget(target, args, env)((t, vs) => method2(fn, t, vs))
  }

  private def strictWithTarget(target: Ast, args: Vector[Ast], env: Env)
      (f: (V, Vector[V]) => V): V = {
    val t = Eval.eval(target, env)
    t match { case e: VErr => return e case _ => }
    val vs = args.map(a => Eval.eval(a, env))
    vs.collectFirst { case e: VErr => e }.getOrElse(guard(f(t, vs)))
  }

  /** Env-free global functions: pure value-level dispatch ([[call2]]). */
  private val pureGlobals: Set[String] = Set(
    "size", "int", "uint", "double", "string", "bytes", "bool", "timestamp",
    "duration", "dyn", "type", "max", "min", "zip", "keys", "values",
    "encode_json", "decode_json", "hmac", "matches")

  /** Methods (also callable in global form) whose result depends only on
    * their target and arguments. Deliberately excluded: send_to/close
    * (channel side effects), get/head/post/do_request (executing HTTP)
    * and rate_limit (shared limiter state). */
  private val pureMethods: Set[String] = Set(
    "size", "collate", "drop", "drop_empty", "flatten", "with",
    "with_update", "with_replace", "zip", "keys", "values", "min", "max",
    "mime", "request", "get_request", "post_request",
    "basic_authentication", "parse_url", "format_url", "parse_query",
    "format_query", "encode_json", "decode_json", "decode_json_stream",
    "to_lower", "to_upper", "to_title", "trim_space", "trim", "trim_left",
    "trim_right", "trim_prefix", "trim_suffix", "has_prefix", "has_suffix",
    "contains_substr", "contains_any", "compare", "count", "equal_fold",
    "fields", "index", "index_any", "last_index", "last_index_any", "join",
    "repeat", "replace", "replace_all", "split", "split_n", "split_after",
    "split_after_n", "substring", "valid_utf8", "to_valid_utf8", "format",
    "parse_time", "md5", "sha1", "sha256", "hex", "base64", "base64_raw",
    "base64_decode", "base64_raw_decode", "hmac",
    // cel-go STANDARD env: string predicates, matches, time accessors
    "contains", "startsWith", "endsWith", "matches",
    "getFullYear", "getMonth", "getDayOfYear", "getDayOfMonth",
    "getDate", "getDayOfWeek", "getHours", "getMinutes",
    "getSeconds", "getMilliseconds",
    // optional-value accessors
    "orValue", "or", "value", "hasValue")

  /** True when every call in `e` is pure: the program reads only its
    * state, globals and the evaluation's fixed `now`, so it may be
    * folded at plan time or evaluated more than once per row. uuid(),
    * debug, file/dir, executing HTTP, channels and rate_limit make a
    * program impure, and so does any call not listed here. */
  def isPure(e: Ast): Boolean = e match {
    case Ast.Call(fn, args) =>
      (pureGlobals(fn) || fn == "try" || fn == "is_error" || fn == "now" ||
        (args.nonEmpty && pureMethods(fn))) && args.forall(isPure)
    case Ast.Method(t, fn, args) =>
      val ok = t match {
        case Ast.Ident("optional") => fn == "of" || fn == "none" || fn == "ofNonZeroValue"
        case _ => pureMethods(fn) || fn.startsWith("re_") ||
          (fn == "decode_xml" && args.isEmpty)
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

  private def call2(fn: String, vs: Vector[V]): V = fn match {
    case "type" => vs match {
      case Vector(x) => Eval.typeOf(x)
      case _ => VErr("no such overload: type")
    }
    case "size" => vs match {
      case Vector(VString(s)) => VInt(s.codePointCount(0, s.length).toLong)
      case Vector(VBytes(b)) => VInt(b.length.toLong)
      case Vector(VList(xs)) => VInt(xs.length.toLong)
      case Vector(VMap(m)) => VInt(m.size.toLong)
      case v => VErr(s"no such overload: size(${v.head})")
    }
    case "int" => vs match {
      case Vector(VInt(i)) => VInt(i)
      case Vector(VUint(i)) => VInt(i)
      case Vector(VDouble(d)) => VInt(d.toLong)
      case Vector(VString(s)) => try VInt(s.toLong) catch { case _: NumberFormatException => VErr(s"cannot convert to int: $s") }
      case Vector(VTimestamp(us)) => VInt(Math.floorDiv(us, 1000000L))
      case Vector(VDuration(us)) => VInt(us * 1000L) // CEL: duration -> ns? Go int(duration)=ns
      case v => VErr(s"no such overload: int(${v.head})")
    }
    case "uint" => vs match {
      case Vector(VInt(i)) => VUint(i)
      case Vector(VUint(i)) => VUint(i)
      case Vector(VDouble(d)) => VUint(d.toLong)
      case Vector(VString(s)) => VUint(java.lang.Long.parseUnsignedLong(s))
      case v => VErr(s"no such overload: uint(${v.head})")
    }
    case "double" => vs match {
      case Vector(VInt(i)) => VDouble(i.toDouble)
      case Vector(VUint(i)) => VDouble(i.toDouble)
      case Vector(VDouble(d)) => VDouble(d)
      case Vector(VString(s)) => try VDouble(s.toDouble) catch { case _: NumberFormatException => VErr(s"cannot convert to double: $s") }
      case v => VErr(s"no such overload: double(${v.head})")
    }
    case "string" => vs match {
      case Vector(VString(s)) => VString(s)
      case Vector(VBytes(b)) =>
        if (!StringKernel.validUTF8(b))
          VErr("invalid UTF-8 in bytes, cannot convert to string")
        else VString(new String(b, StandardCharsets.UTF_8))
      case Vector(VInt(i)) => VString(i.toString)
      case Vector(VUint(i)) => VString(java.lang.Long.toUnsignedString(i))
      case Vector(VDouble(d)) => VString(
        if (JsonAlgebra.wholeDouble(d)) d.toLong.toString else d.toString)
      case Vector(VBool(b)) => VString(b.toString)
      case Vector(VTimestamp(us)) => VString(TimeKernel.formatTime(us, u8("RFC3339")).toString)
      case Vector(VDuration(us)) => VString(TimeKernel.formatDuration(us).toString)
      case v => VErr(s"no such overload: string(${v.head})")
    }
    case "bytes" => bytesOf(vs.head).fold(identity, VBytes(_))
    case "bool" => vs match {
      case Vector(VBool(b)) => VBool(b)
      case Vector(VString("true")) => VBool(true)
      case Vector(VString("false")) => VBool(false)
      case v => VErr(s"no such overload: bool(${v.head})")
    }
    case "timestamp" => vs match {
      case Vector(VString(s)) => VTimestamp(TimeKernel.parseTime(u8(s), u8("RFC3339")))
      case Vector(VInt(sec)) => VTimestamp(sec * 1000000L)
      case Vector(t: VTimestamp) => t
      case v => VErr(s"no such overload: timestamp(${v.head})")
    }
    case "duration" => vs match {
      case Vector(VString(s)) => VDuration(TimeKernel.parseDuration(u8(s)))
      case Vector(d: VDuration) => d
      case v => VErr(s"no such overload: duration(${v.head})")
    }
    case "dyn" => vs.head
    case "matches" => vs match { // cel-go standard global form
      case Vector(VString(s), VString(re)) => matchesRe(s, re)
      case _ => VErr("no such overload: matches")
    }
    case "max" => Collections.max(vs.head)
    case "min" => Collections.min(vs.head)
    case "zip" => Collections.zip(vs(0), vs(1))
    case "keys" => Collections.keys(vs.head)
    case "values" => Collections.values(vs.head)
    case "encode_json" => VString(Eval.renderV(vs.head))
    case "decode_json" => decodeJson(vs.head)
    case "hmac" => vs match {
      case Vector(d0, VString(alg), k0) =>
        (bytesOf(d0), bytesOf(k0)) match {
          case (Right(d), Right(k)) => VBytes(CryptoKernel.hmac(d, u8(alg), k))
          case _ => VErr("no such overload: hmac")
        }
      case _ => VErr("no such overload: hmac")
    }
    case other => VErr(s"unknown function: $other")
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
          case _ => VErr(s"no such overload: timestamp.$fn")
        }
      })
    case other => VErr(s"no such overload: $fn($other)")
  }

  /** Shared method implementations (also reachable as global calls). */
  private def method2(fn: String, t: V, args: Vector[V]): V = fn match {
    case "size" => t match {
      case VString(s) => VInt(s.codePointCount(0, s.length).toLong)
      case VBytes(b) => VInt(b.length.toLong)
      case VList(xs) => VInt(xs.length.toLong)
      case VMap(m) => VInt(m.size.toLong)
      case other => VErr(s"no such overload: size($other)")
    }
    // ---- collections (graft.cel.Collections, shared with json_* and v_*) ----
    case "collate" => pathsArg(args.head, "collate").fold(identity, Collections.collate(t, _))
    case "drop" => pathsArg(args.head, "drop").fold(identity, Collections.drop(t, _))
    case "drop_empty" => Collections.dropEmpty(t)
    case "flatten" => Collections.flatten(t)
    case "with" => Collections.withAll(t, args.head)
    case "with_update" => Collections.withUpdate(t, args.head)
    case "with_replace" => Collections.withReplace(t, args.head)
    case "zip" => Collections.zip(t, args.head)
    case "keys" => Collections.keys(t)
    case "values" => Collections.values(t)
    case "min" => Collections.min(t)
    case "max" => Collections.max(t)

    // ---- cel-go STANDARD env (not the mito libs): string predicates,
    // ---- matches, and the timestamp/duration accessors — available in
    // ---- every program the reference compiles (cel.NewEnv defaults).
    case "contains" => (t, args) match {
      case (VString(s), Vector(VString(sub))) => VBool(s.contains(sub))
      case _ => VErr(s"no such overload: contains($t)")
    }
    case "startsWith" => (t, args) match {
      case (VString(s), Vector(VString(p))) => VBool(s.startsWith(p))
      case _ => VErr(s"no such overload: startsWith($t)")
    }
    case "endsWith" => (t, args) match {
      case (VString(s), Vector(VString(p))) => VBool(s.endsWith(p))
      case _ => VErr(s"no such overload: endsWith($t)")
    }
    case "matches" => (t, args) match {
      case (VString(s), Vector(VString(re))) => matchesRe(s, re)
      case _ => VErr(s"no such overload: matches($t)")
    }
    case "getFullYear" | "getMonth" | "getDayOfYear" | "getDayOfMonth" |
         "getDate" | "getDayOfWeek" | "getHours" | "getMinutes" |
         "getSeconds" | "getMilliseconds" => timeAccessor(fn, t, args)

    // ---- mime transforms on bytes (reference lib/mime.go:90-132) ----
    case "mime" => (t, args.headOption) match {
      case (VBytes(b), Some(VString(tpe))) => mimeTransform(b, tpe)
      case (VString(s2), Some(VString(tpe))) =>
        mimeTransform(s2.getBytes(StandardCharsets.UTF_8), tpe)
      case _ => VErr("no such overload: mime")
    }

    // ---- channels (reference lib/send.go:149-197) ----
    // v.send_to(name) pushes the value (rendered JSON) onto the named
    // driver channel and returns the value; v.close(name) closes it.
    // send_refval_to (send.go:148-159) differs from send_to (:161-177)
    // only in HOW the value crosses the channel: raw ref.Val vs
    // converted-to-native. Here every value is already a rendered V, so
    // the distinction collapses and the two are the same operation.
    case "send_to" | "send_refval_to" => args match {
      case Vector(VString(name)) =>
        graft.streaming.Channels.send(name, Eval.renderV(t))
        t
      case _ => VErr("no such overload")
    }
    case "close" => args match {
      case Vector(VString(name)) =>
        if (graft.streaming.Channels.closeStrict(name)) VBool(true)
        else VErr(s"no channel $name")
      case _ => VErr("no such overload")
    }

    // ---- http: request-as-data + executing calls ----
    // reference lib/http.go: makeRequestBody :672-712, reqToMap :713-746,
    // doHead :518-548, doPost :585-635, doRequest :826-854,
    // basicAuthentication :783-824.
    case "request" => (t, args) match {
      case (VString(m), Vector(VString(url))) => buildRequestV(m, url, None, None)
      case (VString(m), Vector(VString(url), body)) => buildRequestV(m, url, Some(body), None)
      case _ => VErr("no such overload for request")
    }
    case "get_request" => (t, args) match {
      case (VString(url), Vector()) => buildRequestV("GET", url, None, None)
      case _ => VErr("no such overload for request")
    }
    case "post_request" => (t, args) match {
      case (VString(url), Vector(VString(ct), body)) =>
        buildRequestV("POST", url, Some(body), Some(ct))
      case _ => VErr("no such overload for post request")
    }
    case "get" | "head" | "post" => httpExecCall(fn, t, args, Map.empty)
    case "do_request" => t match {
      case VMap(m) => doRequestV(m)
      case _ => VErr("no such overload for do_request")
    }
    case "basic_authentication" => (t, args) match {
      case (VMap(m), Vector(VString(user), VString(pass))) =>
        val tok = java.util.Base64.getEncoder.encodeToString(
          s"$user:$pass".getBytes(StandardCharsets.UTF_8))
        val hdr = m.get("Header") match {
          case Some(VMap(h)) => h
          case _ => VMap.noEntries
        }
        VMap(m + ("Header" -> VMap(hdr +
          ("Authorization" -> VList(Vector(VString("Basic " + tok)))))))
      case _ => VErr("no such overload for request")
    }

    // ---- url / query ----
    case "parse_url" => t match {
      case VString(s) => parseUrlV(s)
      case _ => VErr("no such overload for request")
    }
    case "format_url" => t match {
      case VMap(m) => formatUrlV(m)
      case _ => VErr("no such overload")
    }
    case "parse_query" => t match {
      case VString(s) => parseQueryV(s)
      case _ => VErr("no such overload")
    }
    case "format_query" => t match {
      case VMap(m) => formatQueryV(m)
      case _ => VErr("no such overload")
    }

    // ---- json ----
    case "encode_json" => VString(Eval.renderV(t))
    case "decode_json" => decodeJson(t)
    case "decode_json_stream" =>
      bytesOf(t).fold(identity, b => Eval.parseStreamV(new String(b, StandardCharsets.UTF_8)))

    // ---- strings (StringKernel + builtins) ----
    case "to_lower" => str1(t)(s => VString(s.toLowerCase))
    case "to_upper" => str1(t)(s => VString(s.toUpperCase))
    case "to_title" => str1(t)(s => VString(StringKernel.toTitle(u8(s)).toString))
    case "trim_space" => str1(t)(s => VString(s.trim))
    case "trim" => str2(t, args)((s, c) => VString(StringKernel.trimCutset(u8(s), u8(c)).toString))
    case "trim_left" => str2(t, args)((s, c) => VString(StringKernel.trimLeftCutset(u8(s), u8(c)).toString))
    case "trim_right" => str2(t, args)((s, c) => VString(StringKernel.trimRightCutset(u8(s), u8(c)).toString))
    case "trim_prefix" => str2(t, args)((s, p) => VString(StringKernel.trimPrefix(u8(s), u8(p)).toString))
    case "trim_suffix" => str2(t, args)((s, p) => VString(StringKernel.trimSuffix(u8(s), u8(p)).toString))
    case "has_prefix" => str2(t, args)((s, p) => VBool(s.startsWith(p)))
    case "has_suffix" => str2(t, args)((s, p) => VBool(s.endsWith(p)))
    case "contains_substr" => str2(t, args)((s, p) => VBool(s.contains(p)))
    case "contains_any" => str2(t, args)((s, p) => VBool(StringKernel.containsAny(u8(s), u8(p))))
    case "compare" => str2(t, args)((a, b) => VInt(StringKernel.compareStr(u8(a), u8(b)).toLong))
    case "count" => str2(t, args)((s, sub) => VInt(StringKernel.countSubstr(u8(s), u8(sub))))
    case "equal_fold" => str2(t, args)((a, b) => VBool(a.equalsIgnoreCase(b)))
    case "fields" => str1(t)(s => VList(s.split("\\s+").filter(_.nonEmpty).toVector.map(VString(_))))
    case "index" => str2(t, args)((s, sub) => VInt(StringKernel.indexOf(u8(s), u8(sub))))
    case "index_any" => str2(t, args)((s, c) => VInt(StringKernel.indexAny(u8(s), u8(c))))
    case "last_index" => str2(t, args)((s, sub) => VInt(StringKernel.lastIndexOf(u8(s), u8(sub))))
    case "last_index_any" => str2(t, args)((s, c) => VInt(StringKernel.lastIndexAny(u8(s), u8(c))))
    case "join" => (t, args.head) match {
      case (VList(xs), VString(sep)) =>
        VString(xs.map { case VString(s) => s; case o => return VErr(s"join: $o") }.mkString(sep))
      case _ => VErr("no such overload: join")
    }
    case "repeat" => (t, args.head) match {
      case (VString(s), VInt(n)) => VString(s * n.toInt)
      case _ => VErr("no such overload: repeat")
    }
    case "replace" => (t, args) match {
      case (VString(s), Vector(VString(o), VString(n2))) =>
        VString(StringKernel.replaceN(u8(s), u8(o), u8(n2), -1).toString)
      case (VString(s), Vector(VString(o), VString(n2), VInt(k))) =>
        VString(StringKernel.replaceN(u8(s), u8(o), u8(n2), k).toString)
      case _ => VErr("no such overload: replace")
    }
    case "replace_all" => (t, args) match {
      case (VString(s), Vector(VString(o), VString(n2))) =>
        VString(StringKernel.replaceN(u8(s), u8(o), u8(n2), -1).toString)
      case _ => VErr("no such overload: replace_all")
    }
    case "split" => str2(t, args)((s, sep) =>
      VList(arr(StringKernel.splitN(u8(s), u8(sep), -1))))
    case "split_n" => (t, args) match {
      case (VString(s), Vector(VString(sep), VInt(n))) =>
        VList(arr(StringKernel.splitN(u8(s), u8(sep), n)))
      case _ => VErr("no such overload: split_n")
    }
    case "split_after" => str2(t, args)((s, sep) =>
      VList(arr(StringKernel.splitAfter(u8(s), u8(sep)))))
    case "split_after_n" => (t, args) match {
      case (VString(s), Vector(VString(sep), VInt(n))) =>
        VList(arr(StringKernel.splitAfterN(u8(s), u8(sep), n)))
      case _ => VErr("no such overload: split_after_n")
    }
    case "substring" => (t, args) match {
      case (VString(s), Vector(VInt(a), VInt(b))) =>
        VString(StringKernel.substrRunes(u8(s), a, b).toString)
      case _ => VErr("no such overload: substring")
    }
    case "valid_utf8" => bytesOf(t).fold(identity, b => VBool(StringKernel.validUTF8(b)))
    case "to_valid_utf8" => (bytesOf(t), args.head) match {
      case (Right(b), VString(r)) => VString(StringKernel.toValidUTF8(b, u8(r)).toString)
      case _ => VErr("no such overload: to_valid_utf8")
    }

    // ---- time ----
    case "format" => (t, args.head) match {
      case (VTimestamp(us), VString(layout)) =>
        VString(TimeKernel.formatTime(us, u8(layout)).toString)
      case _ => VErr("no such overload: format")
    }
    case "parse_time" => (t, args.head) match {
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

    // ---- crypto ----
    case "md5" => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.md5Bytes(b)))
    case "sha1" => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.sha1Bytes(b)))
    case "sha256" => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.sha256Bytes(b)))
    case "hex" => bytesOf(t).fold(identity, b => VBytes(CryptoKernel.hexEncode(b).toString.getBytes) match {
      case _ => VString(CryptoKernel.hexEncode(b).toString)
    })
    case "base64" => bytesOf(t).fold(identity, b => VString(CryptoKernel.base64Std(b).toString))
    case "base64_raw" => bytesOf(t).fold(identity, b => VString(CryptoKernel.base64Raw(b).toString))
    case "base64_decode" => t match {
      case VString(s) => VBytes(CryptoKernel.base64Decode(u8(s)))
      case _ => VErr("no such overload: base64_decode")
    }
    case "base64_raw_decode" => t match {
      case VString(s) => VBytes(CryptoKernel.base64RawDecode(u8(s)))
      case _ => VErr("no such overload: base64_raw_decode")
    }
    case "hmac" => (bytesOf(t), args) match {
      case (Right(d), Vector(VString(alg), k)) =>
        bytesOf(k).fold(identity, kb => VBytes(CryptoKernel.hmac(d, u8(alg), kb)))
      case _ => VErr("no such overload: hmac")
    }

    case other => VErr(s"no such function: $other")
  }

  private def arr(a: org.apache.spark.sql.catalyst.util.ArrayData): Vector[V] =
    (0 until a.numElements()).map(i => VString(a.getUTF8String(i).toString): V).toVector

  private def str1(t: V)(f: String => V): V = t match {
    case VString(s) => f(s)
    case _ => VErr(s"no such overload on $t")
  }
  private def str2(t: V, args: Vector[V])(f: (String, String) => V): V = (t, args.headOption) match {
    case (VString(s), Some(VString(a))) => f(s, a)
    case _ => VErr(s"no such overload on $t")
  }

  /** collate/drop path argument: one path or a list of paths. */
  private def pathsArg(a: V, fn: String): Either[VErr, Seq[String]] = a match {
    case VString(p) => Right(Seq(p))
    case VList(ps) => Right(ps.map { case VString(p) => p; case o => return Left(VErr(s"bad path $o")) })
    case o => Left(VErr(s"invalid parameter type for $fn: $o"))
  }

  // ---- regexp (named registry from env) ----
  private val regexCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  private def regexp(fn: String, t: V, args: Vector[V], env: Env): V = {
    val name = args.headOption match {
      case Some(VString(n)) => n
      case _ => return VErr(s"no such overload: $fn")
    }
    val pat = env.regexps.getOrElse(name, return VErr(s"no regexp pattern: $name"))
    // named patterns come from a small config registry: cache compiles
    val p = regexCache.computeIfAbsent(pat, java.util.regex.Pattern.compile(_))
    val isBytes = t.isInstanceOf[VBytes]
    val s = t match {
      case VString(x) => x
      case VBytes(b) => new String(b, StandardCharsets.ISO_8859_1)
      case _ => return VErr(s"no such overload: $fn on $t")
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
        args.lift(1) match {
          case Some(r) =>
            val rep = r match {
              case VString(x) => x
              case VBytes(b2) => new String(b2, StandardCharsets.ISO_8859_1)
              case _ => return VErr("no such overload: re_replace_all")
            }
            // Go ${n} group syntax -> Java $n
            val javaRep = rep.replaceAll("\\$\\{(\\d+)\\}", "\\$$1")
            out(p.matcher(s).replaceAll(javaRep))
          case None => VErr("no such overload: re_replace_all")
        }
      case other => VErr(s"no such function: $other")
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
    case other => Left(VErr(s"invalid type for request body: $other"))
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

  /** The executing get/head/post overloads, with `extra` headers merged
    * in — the hook for cfg-level Basic auth (Env.httpAuth), which the
    * reference applies to exactly these three calls (lib/http.go
    * :544-545, :575-576, :630-631) and never to do_request. */
  private[cel] def httpExecCall(fn: String, t: V, args: Vector[V],
      extra: Map[String, Seq[String]]): V = fn match {
    case "get" => (t, args) match {
      case (VString(url), Vector()) => execHttpV("GET", url, extra, null)
      case _ => VErr("no such overload for get")
    }
    case "head" => (t, args) match {
      case (VString(url), Vector()) => execHttpV("HEAD", url, extra, null)
      case _ => VErr("no such overload for head")
    }
    case "post" => (t, args) match {
      case (VString(url), Vector(VString(ct), body)) =>
        reqBodyBytes(body).fold(identity,
          b => execHttpV("POST", url, extra + ("Content-Type" -> Seq(ct)), b))
      case _ => VErr("no such overload for post")
    }
    case other => VErr(s"no such overload for $other")
  }

  /** "Basic <base64(user:pass)>" — Go req.SetBasicAuth. */
  private[cel] def basicAuthHeader(user: String, pass: String): Map[String, Seq[String]] =
    Map("Authorization" -> Seq("Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$user:$pass".getBytes(StandardCharsets.UTF_8))))

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
