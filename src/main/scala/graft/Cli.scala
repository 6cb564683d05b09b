package graft

import graft.cel.{CelConfig, Errors, Eval, Parser}
import graft.streaming.WantMore

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The reference's CLI entry point (mito.go Main :59-206), so a mito
  * user can run their existing invocations unchanged:
  *
  *   tools/run.sh graft.Cli [-use libs] [-data state.json] [-cfg cfg.yaml]
  *     [-insecure] <src.cel>
  *
  * Behavior mirrored from the reference: state is UNBOUND without
  * -data (programs referencing it get the undeclared-reference error);
  * output is Go json.Encoder form — tab-indented, sorted keys, no HTML
  * escaping; the want_more re-entry loop re-feeds the full output as
  * the next `state` until `want_more` is falsy (:186-204); eval errors
  * render DecoratedError-style with source position (:335) to stderr,
  * exit 1; flag/config errors exit 2.
  */
object Cli {

  /** The reference's library names (mito.go libMap :261-274; xml and
    * regexp join when the cfg provides tables :102-113). All libraries
    * are compiled into this engine — -use is validated for interface
    * compatibility, unknown names rejected like the reference (:151-164). */
  private val knownLibs = Set("collections", "crypto", "json", "time", "try",
    "debug", "file", "mime", "http", "limit", "strings", "xml", "regexp")

  private val usage =
    s"""Usage of graft.Cli:
       |
       |  graft.Cli [opts] <src.cel>
       |
       |  -cfg string
       |    \tpath to a YAML file holding configuration for global vars and regular expressions
       |  -data string
       |    \tpath to a JSON object holding input (exposed as the label state)
       |  -insecure
       |    \tdisable TLS verification in the HTTP client
       |  -use string
       |    \tlibraries to use (default "all")""".stripMargin

  def main(args: Array[String]): Unit =
    sys.exit(run(args.toSeq, Console.out.println(_), Console.err.println(_)))

  def run(args: Seq[String], out: String => Unit, err: String => Unit): Int = {
    var use = "all"; var data = ""; var cfgPath = ""; var insecure = false
    var srcPath: Option[String] = None
    var i = 0
    while (i < args.length) {
      // Go's flag package accepts both `-flag value` and `-flag=value`;
      // only flag tokens split on '=' — a positional path like
      // `dir=x/src.cel` must pass through whole
      val (flag, inline) = args(i).split("=", 2) match {
        case Array(f, v) if f.startsWith("-") => (f, Some(v))
        case _ => (args(i), None)
      }
      def value: Option[String] =
        inline.orElse(if (i + 1 < args.length) { i += 1; Some(args(i)) } else None)
      flag match {
        case "-use" | "--use" => value match {
          case Some(v) => use = v; i += 1
          case None => err(usage); return 2
        }
        case "-data" | "--data" => value match {
          case Some(v) => data = v; i += 1
          case None => err(usage); return 2
        }
        case "-cfg" | "--cfg" => value match {
          case Some(v) => cfgPath = v; i += 1
          case None => err(usage); return 2
        }
        // boolean flag: bare = true; `-insecure=v` parses v like Go's
        // strconv.ParseBool (flag.Value for bools), bad values exit 2
        case "-insecure" | "--insecure" => inline match {
          case None => insecure = true; i += 1
          case Some(v) => v match {
            case "1" | "t" | "T" | "true" | "TRUE" | "True" => insecure = true; i += 1
            case "0" | "f" | "F" | "false" | "FALSE" | "False" => insecure = false; i += 1
            case _ => err(usage); return 2
          }
        }
        case f if f.startsWith("-") => err(usage); return 2
        case p => srcPath = Some(p); i += 1
      }
    }
    srcPath match {
      case None => err(usage); 2
      case Some(p) => runFile(p, use, data, cfgPath, insecure, out, err)
    }
  }

  private def runFile(srcPath: String, use: String, data: String,
      cfgPath: String, insecure: Boolean,
      out: String => Unit, err: String => Unit): Int = {
    if (use != "all") {
      val unknown = use.split(",").map(_.trim).filterNot(knownLibs)
      if (unknown.nonEmpty) { err(s"no lib: ${unknown.mkString(",")}"); return 2 }
    }
    graft.sources.HttpExec.trustAll = insecure

    def readFile(p: String): Either[String, String] =
      try Right(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
      catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

    val src = readFile(srcPath) match {
      case Left(e) => err(e); return 2
      case Right(s) => s
    }
    val cfg = if (cfgPath.isEmpty) CelConfig.Cfg() else readFile(cfgPath) match {
      case Left(e) => err(e); return 2
      case Right(y) =>
        CelConfig.parse(y, Some(Paths.get(cfgPath).toAbsolutePath.getParent)) match {
          case Left(e) => err(e); return 2
          case Right(c) => c
        }
    }
    val state0: Option[String] = if (data.isEmpty) None else readFile(data) match {
      case Left(e) => err(e); return 2
      case Right(s) => Some(s)
    }

    val ast = try Parser.parse(src) catch {
      case e: Exception => err(s"failed compilation: ${e.getMessage}"); return 2
    }
    // the want_more re-entry loop (mito.go:186-204): output becomes the
    // next state while out.want_more is true. The env is rebuilt PER
    // iteration — the reference constructs the evaluation per run of the
    // loop, so `now` the variable is each evaluation's start (not CLI
    // start) and `now()` the function reads a live clock from there
    // (time.go:46-54 one-shot semantics).
    var state = state0
    var more = true
    while (more) {
      val baseEnv = Eval.baseEnv(System.currentTimeMillis() * 1000L,
        cfg.regexps, cfg.globalsJson,
        Some(Paths.get(".").toAbsolutePath.normalize), cfg.xsds, cfg.basicAuth)
        .copy(liveNowAnchor = Some(System.nanoTime()))
      Eval.evalValueOpt(ast, state, baseEnv) match {
        case e: Eval.VErr =>
          err("failed eval: " + Errors.display(src, e.at, e.msg))
          return 1
        case v =>
          out(Eval.renderPretty(v))
          more = WantMore.wantsMore(v)
          state = Some(Eval.renderV(v))
      }
    }
    0
  }

}
