package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.cel.{Cel, Eval}
import graft.streaming.WantMore
import graft.values.JsonAlgebra
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Parity harness: replays the reference engine's OWN golden test
  * scripts (the .txt testscripts under /root/reference/testdata)
  * through the CEL front-end and tree-compares the output with the
  * recorded golden (numeric-tolerant, key-order-insensitive).
  *
  * All 70 scripts replay with byte-exact stdout — including the
  * live-server scripts (HTTP and self-signed HTTPS stubs), the
  * want_more loop, `stdout`/`stderr` regex assertions, and
  * expected-failure (`! mito`) runs with decorated-error output.
  */
class ReferenceGoldenSpec extends AnyFunSuite {

  private val dir = Paths.get("/root/reference/testdata")

  // Empty since round 5: every script replays. Kept so a future
  // reference update with an unhostable script has a documented escape
  // hatch. Notable hosting notes: www.example.com scripts run against
  // a local stub serving the body their own want pins (GET gzip+chunked
  // to match Go's transparent decompression); serve_tls runs against a
  // self-signed HTTPS stub (SAN=127.0.0.1) with the transport
  // mirroring Go's x509 error text; limit_* are deterministic because
  // their year-9999 reset headers saturate Go's time.Sub at ±2^63 ns;
  // keys.txt needs VMap's intKeys tag; uuid/now use the stdout-regex
  // and liveNow call-time-clock forms.
  private val skip: Set[String] = Set()

  /** One `mito`/`! mito` invocation: flags, its want TEXT (empty for
    * assertion-only runs), and — for `! mito` expected-failure runs —
    * the `stderr '<re>'` regex the failure must match. */
  private case class RunSpec(flags: Map[String, String], want: String,
      stderrRe: Option[String])

  private case class Script(flags: Map[String, String], src: String,
      files: Map[String, String], want: String, base64Cmds: Seq[(String, String)] = Nil,
      serve: Option[(String, Option[(String, String)])] = None,
      expands: Seq[(String, String)] = Nil,
      /** additional invocations in the same script (basic_auth_config
        * runs good and bad cfgs; serve_tls runs secure then -insecure). */
      moreRuns: Seq[RunSpec] = Nil,
      /** a `stdout <regex>` assertion instead of a want file (uuid.txt). */
      stdoutRe: Option[String] = None,
      /** HTTPS stub serving this fixture (self-signed — serve_tls.txt). */
      serveTls: Option[String] = None,
      /** primary run is `! mito` expecting failure matching this regex. */
      expectStderr: Option[String] = None)

  /** Write the archive's fixture files into a temp dir (the testscript
    * working directory), applying `base64 <src> <dst>` decode commands. */
  private def materialize(s: Script): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-golden")
    s.files.foreach { case (name, content) =>
      if (name != "src.cel" && name != "want.txt" && name != "cfg.yaml") {
        val target = dir.resolve(name)
        Option(target.getParent).foreach(Files.createDirectories(_))
        Files.write(target,
          content.stripPrefix("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    s.base64Cmds.foreach { case (srcName, dstName) =>
      val b64 = s.files.getOrElse(srcName, "")
      Files.write(dir.resolve(dstName),
        java.util.Base64.getMimeDecoder.decode(b64.replaceAll("\\s", "")))
    }
    dir
  }

  private def parseFlags(cmd: String): Map[String, String] = {
    val flagTokens = cmd.split("\\s+").drop(1).toVector
    var flags = Map.empty[String, String]
    var i = 0
    while (i < flagTokens.length) {
      val t = flagTokens(i)
      if (t == "-insecure") { flags += ("insecure" -> "true"); i += 1 }
      else if (t.startsWith("-") && i + 1 < flagTokens.length && !flagTokens(i + 1).startsWith("-")
        && !flagTokens(i + 1).endsWith(".cel")) {
        flags += (t.stripPrefix("-") -> flagTokens(i + 1)); i += 2
      } else if (t.startsWith("-") && i + 1 < flagTokens.length
        && flagTokens(i + 1).endsWith(".cel") && (t == "-use" || t == "-data" || t == "-cfg")) {
        flags += (t.stripPrefix("-") -> flagTokens(i + 1)); i += 2
      } else i += 1
    }
    flags
  }

  private def parseScript(text: String): Option[Script] = {
    // command section only: a fixture file whose content happens to
    // start a line with "mito"/"serve"/... must not become a command
    val lines = text.linesIterator.toVector.takeWhile(!_.startsWith("-- "))
    if (!lines.exists(l => l.startsWith("mito") || l.startsWith("! mito"))) return None
    // testscript commands we host: base64 (materialize), `serve` and
    // `serve_tls` (local stubs; see runScript), `expand`/cmpenv ${URL}
    // substitution, `stdout <re>` / `! mito`+`stderr <re>` assertions.
    if (lines.exists(l => l.startsWith("serve -") || l.startsWith("env "))) return None
    if (lines.exists(l => l.startsWith("!") && l != "! stderr ." &&
      !l.startsWith("! mito") && l != "! stdout .")) return None
    val serveTls = lines.find(_.startsWith("serve_tls "))
      .map(_.stripPrefix("serve_tls ").trim)
    val serveCmd = lines.find(l => l.startsWith("serve ") || l == "serve").map { l =>
      val parts = l.trim.split("\\s+").drop(1)
      val auth = if (parts.length >= 3) Some((parts(1), parts(2))) else None
      (parts.headOption.getOrElse(""), auth)
    }
    val expandCmds = lines.filter(_.startsWith("expand ")).map { l =>
      val parts = l.trim.split("\\s+")
      (parts(1), parts(2))
    }
    val sections = text.split("(?m)^-- (.+?) --$").toVector
    val names = "(?m)^-- (.+?) --$".r.findAllMatchIn(text).map(_.group(1).trim).toVector
    val files = names.zip(sections.drop(1)).toMap
    // each `mito …`/`! mito …` invocation pairs with the assertions that
    // follow it (before the next invocation): `cmp stdout <want>`
    // (default want.txt) or, for expected failures, `stderr '<re>'`
    val runs: Vector[(Map[String, String], String, Option[String])] = {
      val idx = lines.zipWithIndex.collect {
        case (l, i) if l.startsWith("mito") || l.startsWith("! mito") => i
      }
      idx.map { i =>
        val until = idx.find(_ > i).getOrElse(lines.length)
        val tail = lines.slice(i + 1, until)
        val wantName = tail.find(_.trim.startsWith("cmp stdout "))
          .map(_.trim.split("\\s+")(2)).getOrElse("want.txt")
        val stderrRe = if (!lines(i).startsWith("! mito")) None
          else tail.find(_.startsWith("stderr "))
            .map(_.stripPrefix("stderr ").trim.stripPrefix("'").stripSuffix("'"))
        (parseFlags(lines(i).stripPrefix("! ")), wantName, stderrRe)
      }
    }
    val base64Cmds = lines.filter(_.startsWith("base64 ")).map { l =>
      val parts = l.trim.split("\\s+")
      (parts(1), parts(2))
    }
    // testscript `stdout <regex>` assertion form (no want file)
    val stdoutRe = lines.find(l => l.startsWith("stdout "))
      .map(_.stripPrefix("stdout ").trim)
    for {
      // strip the section-split leading newline: decorated-error
      // positions (serve_tls pins <input>:2:62) are line-exact
      src <- files.get("src.cel").orElse(
        expandCmds.headOption.flatMap { case (from, _) => files.get(from) })
        .map(_.stripPrefix("\n"))
      want <- files.get(runs.head._2)
        .orElse(if (stdoutRe.isDefined || runs.head._3.isDefined) Some("") else None)
      more <- runs.tail.foldLeft(Option(Vector.empty[RunSpec])) {
        case (acc, (f, wn, re)) => for {
          a <- acc
          w <- files.get(wn).orElse(if (re.isDefined) Some("") else None)
        } yield a :+ RunSpec(f, w, re)
      }
    } yield Script(runs.head._1, src, files, want, base64Cmds, serveCmd,
      expandCmds, more, stdoutRe, serveTls, runs.head._3)
  }

  /** numeric-tolerant tree equality */
  private def treeEq(a: JsonNode, b: JsonNode): Boolean = {
    if (a.isNumber && b.isNumber)
      math.abs(a.doubleValue() - b.doubleValue()) <=
        1e-9 * math.max(1.0, math.abs(b.doubleValue()))
    else if (a.isObject && b.isObject) {
      val ka = a.properties().asScala.map(_.getKey).toSet
      val kb = b.properties().asScala.map(_.getKey).toSet
      ka == kb && ka.forall(k => treeEq(a.get(k), b.get(k)))
    } else if (a.isArray && b.isArray) {
      a.size() == b.size() &&
        (0 until a.size()).forall(i => treeEq(a.get(i), b.get(i)))
    } else a == b
  }

  /** Host the testscript `serve` command: serve the named fixture file,
    * replicating its basic-auth responses (the texts basic_auth.txt's
    * want records: "user mismatch"/"password mismatch"). */
  private def startServe(workDir: java.nio.file.Path,
      file: String, auth: Option[(String, String)]): (com.sun.net.httpserver.HttpServer, String) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
        val reply: Array[Byte] = auth match {
          case None => Files.readAllBytes(workDir.resolve(file))
          case Some((user, pass)) =>
            val creds = Option(x.getRequestHeaders.getFirst("Authorization"))
              .filter(_.startsWith("Basic "))
              .map(a => new String(java.util.Base64.getDecoder.decode(
                a.stripPrefix("Basic ")), java.nio.charset.StandardCharsets.UTF_8))
            creds match {
              case Some(c) if c == s"$user:$pass" => Files.readAllBytes(workDir.resolve(file))
              case Some(c) if c.startsWith(s"$user:") =>
                "password mismatch".getBytes(java.nio.charset.StandardCharsets.UTF_8)
              case _ => "user mismatch".getBytes(java.nio.charset.StandardCharsets.UTF_8)
            }
        }
        x.sendResponseHeaders(200, reply.length)
        x.getResponseBody.write(reply); x.close()
      }
    })
    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}/")
  }

  /** Self-signed keystore for serve_tls (generated once per JVM via
    * keytool, SAN=ip:127.0.0.1 so -insecure trust-all still passes the
    * JDK's hostname check — Go's InsecureSkipVerify skips both). */
  private lazy val tlsContext: javax.net.ssl.SSLContext = {
    val dir = Files.createTempDirectory("graft-tls")
    val ksPath = dir.resolve("ks.p12")
    val cmd = Array("keytool", "-genkeypair", "-keyalg", "RSA", "-keysize", "2048",
      "-alias", "test", "-keystore", ksPath.toString, "-storetype", "PKCS12",
      "-storepass", "changeit", "-dname", "CN=127.0.0.1",
      "-ext", "SAN=ip:127.0.0.1", "-validity", "3650")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    p.waitFor()
    require(Files.exists(ksPath), "keytool keystore generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(ksPath)
    ks.load(in, "changeit".toCharArray); in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance("SunX509")
    kmf.init(ks, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Host the `serve_tls` command: HTTPS stub with a self-signed cert —
    * the default client must fail verification (the golden pins the Go
    * x509 text the transport layer mirrors), -insecure must succeed. */
  private def startServeTls(workDir: java.nio.file.Path,
      file: String): (com.sun.net.httpserver.HttpServer, String) = {
    val server = com.sun.net.httpserver.HttpsServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(tlsContext))
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
        val reply = Files.readAllBytes(workDir.resolve(file))
        x.sendResponseHeaders(200, reply.length)
        x.getResponseBody.write(reply); x.close()
      }
    })
    server.start()
    (server, s"https://127.0.0.1:${server.getAddress.getPort}/")
  }

  /** Host www.example.com for the live-server goldens: serve the body
    * the golden's own want.txt pins (decoded from its Body field), with
    * the header/framing shape the reference recorded — GET responses
    * come back gzip+chunked (so the client's transparent decompression
    * must produce Uncompressed=true / ContentLength -1, exactly as Go's
    * transport did), POST with Content-Length, HEAD body-less. */
  private def startExampleCom(want: String): (com.sun.net.httpserver.HttpServer, String) = {
    val body: Array[Byte] =
      try {
        val b = JsonAlgebra.parse(want).get("Body")
        if (b != null && b.isTextual) java.util.Base64.getDecoder.decode(b.asText())
        else Array.empty[Byte]
      } catch { case _: Exception => Array.empty[Byte] }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
        x.getResponseHeaders.add("Content-Type", "text/html; charset=UTF-8")
        x.getRequestMethod match {
          case "HEAD" =>
            x.sendResponseHeaders(200, -1)
          case "GET" =>
            x.getResponseHeaders.add("Vary", "Accept-Encoding")
            x.getResponseHeaders.add("Content-Encoding", "gzip")
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(body); gz.close()
            x.sendResponseHeaders(200, 0) // chunked
            x.getResponseBody.write(bos.toByteArray)
          case _ => // POST
            x.getResponseHeaders.add("Accept-Ranges", "bytes")
            x.sendResponseHeaders(200, body.length)
            x.getResponseBody.write(body)
        }
        x.close()
      }
    })
    server.start()
    (server, s"127.0.0.1:${server.getAddress.getPort}")
  }

  private def runScript(name: String, s: Script): Either[String, Boolean] = {
    val workDir = materialize(s)
    val served = s.serve.map { case (f, auth) => startServe(workDir, f, auth) }
      .orElse(s.serveTls.map(f => startServeTls(workDir, f)))
    val example =
      if (s.src.contains("www.example.com")) Some(startExampleCom(s.want)) else None
    val s2 = example match {
      case Some((_, authority)) =>
        s.copy(src = s.src.replace("www.example.com", authority))
      case None => s
    }
    val normalize = example.map { case (_, authority) =>
      (out: String) => out.replace(authority, "www.example.com")
    }
    // every invocation runs against the same served fixtures; all must
    // match their own want / stderr assertion
    val allRuns = RunSpec(s2.flags, s2.want, s2.expectStderr) +: s2.moreRuns
    try allRuns.zipWithIndex.foldLeft(Right(true): Either[String, Boolean]) {
      case (acc @ Left(_), _) => acc
      case (acc, (RunSpec(flags, want, stderrRe), i)) =>
        val run = s2.copy(flags = flags, want = want, expectStderr = stderrRe)
        val state = flags.get("data").flatMap(s.files.get).getOrElse("null")
        // bare -insecure = the reference's process-level trust-all
        graft.sources.HttpExec.trustAll = flags.contains("insecure")
        val r = try runScriptInner(run, state, workDir, served.map(_._2), normalize)
          finally graft.sources.HttpExec.trustAll = false
        r.map(exact => exact && acc.getOrElse(true))
          .left.map(e => if (allRuns.length > 1) s"run ${i + 1}: $e" else e)
    }
    finally { served.foreach(_._1.stop(0)); example.foreach(_._1.stop(0)) }
  }

  /** Right(byteExact): trees matched; true when the Go-form pretty
    * render is also byte-identical to the recorded stdout. */
  private def runScriptInner(s: Script, state: String,
      workDir: java.nio.file.Path, url: Option[String],
      normalize: Option[String => String] = None): Either[String, Boolean] = {
    // regexps / globals / xsd tables from cfg.yaml (the cfg forms the
    // goldens use)
    // cfg parsing is the CLI's (graft.cel.CelConfig): regexp tables,
    // typed globals, XSD hint compilation, client-level Basic auth
    val cfg = s.flags.get("cfg").flatMap(s.files.get) match {
      case None => graft.cel.CelConfig.Cfg()
      case Some(y) => graft.cel.CelConfig.parse(y, Some(workDir)) match {
        case Left(e) => return Left(s"unsupported cfg: $e")
        case Right(c) => c
      }
    }
    val regexps = cfg.regexps
    val globalsJson = cfg.globalsJson
    val xsds = cfg.xsds
    val httpAuth = cfg.basicAuth
    val src = url.map(u => s.src.replace("${URL}", u.stripSuffix("/"))).getOrElse(s.src)
    def evalWith(st: String): Either[String, String] =
      try {
        val out = Cel.evalOnce(src, st, 1704067200000000L, regexps,
          globalsJson, Some(workDir), xsds, httpAuth, liveNow = true)
        Right(normalize.fold(out)(f => f(out)))
      } catch { case e: Exception => Left(s"eval threw: ${e.getMessage}") }

    // `! mito` + `stderr '<re>'`: the run must FAIL, decorated like the
    // reference's CLI (failed eval: ERROR: <input>:line:col: ...)
    s.expectStderr.foreach { re =>
      val res = try Cel.evalDecorated(src, state, 1704067200000000L,
          regexps, globalsJson, Some(workDir), xsds)
        catch { case e: Exception => Left(s"threw: ${e.getMessage}") }
      return res match {
        case Left(msg) if re.r.findFirstIn(msg).isDefined => Right(true)
        case Left(msg) => Left(s"stderr !~ /$re/:\n$msg")
        case Right(v) => Left(s"expected failure, got: $v")
      }
    }

    // `stdout <regex>` assertion scripts: one eval, pattern must match
    s.stdoutRe.foreach { re =>
      return evalWith(state).flatMap { got =>
        val pretty = Eval.renderPretty(Eval.parseV(got))
        if (re.r.findFirstIn(pretty).isDefined) Right(true)
        else Left(s"stdout !~ /$re/: $pretty")
      }
    }

    // multi-doc want = the mito driver's want_more re-entry loop: the
    // rendered output becomes the next evaluation's state until
    // want_more is false (mito.go run loop; WantMore.run is the Spark
    // form). Compare document-by-document.
    val wantDocs = parseDocs(s.want)
    if (wantDocs.isEmpty) return Left("non-JSON golden")
    if (wantDocs.length > 1) {
      val gotDocs = Vector.newBuilder[String]
      var st = state
      var more = true
      var i = 0
      while (more && i < wantDocs.length + 5) {
        val out = evalWith(st) match {
          case Left(err) => return Left(err)
          case Right(o) => o
        }
        gotDocs += out
        more = WantMore.wantsMore(Eval.parseV(out))
        st = out
        i += 1
      }
      val got = gotDocs.result()
      return if (got.length == wantDocs.length &&
        got.zip(wantDocs).forall { case (g, w) => treeEq(JsonAlgebra.parse(g), w) })
        Right(got.map(g => Eval.renderPretty(Eval.parseV(g))).mkString("\n") == wantNorm(s.want))
      else Left(s"want_more loop mismatch: ${got.length} docs vs ${wantDocs.length}")
    }

    val got = evalWith(state) match {
      case Left(err) => return Left(err)
      case Right(o) => o
    }
    val wantNode = wantDocs.head
    val gotV = Eval.stateLeafV(got)
    if (gotV.isInstanceOf[Eval.VErr]) Left(s"error result: $got")
    else if (treeEq(JsonAlgebra.parse(got), wantNode))
      Right(Eval.renderPretty(gotV) == wantNorm(s.want))
    else Left(s"mismatch:\n  got:  $got\n  want: ${JsonAlgebra.render(wantNode)}")
  }

  /** The want section's exact text as mito printed it (strip the
    * section-split newlines). */
  private def wantNorm(w: String): String = w.stripPrefix("\n").stripSuffix("\n")

  /** Concatenated pretty-printed JSON docs -> nodes (testscript wants
    * with one doc per loop iteration). */
  private def parseDocs(text: String): Vector[JsonNode] =
    try {
      // NOT MappingIterator.readValues: it unwraps a root-level ARRAY
      // into its elements, turning single-array wants into fake
      // multi-doc goldens. Token-walk the concatenated docs instead.
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val p = mapper.createParser(text)
      val b = Vector.newBuilder[JsonNode]
      while (p.nextToken() != null) b += mapper.readTree[JsonNode](p)
      b.result()
    } catch { case _: Exception => Vector.empty }

  test("reference golden scripts replay through the CEL front-end") {
    val all = Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".txt")).sortBy(_.getFileName.toString)
    var pass, fail, skipped, byteExact = 0
    val failures = Seq.newBuilder[String]
    val inexact = Seq.newBuilder[String]
    all.foreach { p =>
      val name = p.getFileName.toString
      if (skip.contains(name)) skipped += 1
      else parseScript(new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)) match {
        case None => skipped += 1; info(s"  SKIP (harness cannot parse) $name")
        case Some(script) =>
          runScript(name, script) match {
            case Right(exact) =>
              pass += 1
              if (exact) byteExact += 1 else inexact += name
            case Left(reason) => fail += 1; failures += s"$name: $reason"
          }
      }
    }
    info(s"golden replay: $pass pass ($byteExact byte-exact stdout), " +
      s"$fail fail, $skipped skipped of ${all.size}")
    inexact.result().foreach(n => info(s"  tree-equal only: $n"))
    failures.result().foreach(f => info(s"  FAIL $f"))
    assert(pass >= 70, s"expected all 70 goldens to pass, got $pass")
    assert(byteExact >= 70,
      s"expected byte-exact stdout on all replayed goldens, got $byteExact " +
        s"(tree-equal only: ${inexact.result().mkString(", ")})")
    assert(fail == 0, s"golden failures:\n${failures.result().mkString("\n")}")
  }
}
