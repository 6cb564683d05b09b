package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The mito-compatible CLI (graft.Cli): flag surface, Go
  * json.Encoder output form, the want_more re-entry loop, cfg
  * parsing, and the reference's error/exit conventions.
  */
class CliSpec extends AnyFunSuite {

  private def write(dir: java.nio.file.Path, name: String, content: String) = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def run(args: String*): (Int, Vector[String], Vector[String]) = {
    val out = Vector.newBuilder[String]
    val err = Vector.newBuilder[String]
    val rc = Cli.run(args, out += _, err += _)
    (rc, out.result(), err.result())
  }

  test("pretty output is Go json.Encoder SetIndent form (tabs, sorted keys)") {
    val dir = Files.createTempDirectory("cli")
    val src = write(dir, "p.cel",
      """{"b": [1, {"x": "y"}], "a": 1.5, "e": {}, "l": [], "f": 2e23,""" +
        """ "n": {"m": [], "o": {}, "p": [{}, []]},""" +
        " \"s\": \"q\\\"\\\\\\n\\t\\u0001\u00e9\ud83d\ude00\"}")
    val (rc, out, _) = run(src)
    assert(rc == 0)
    assert(out.mkString("\n") ==
      "{\n\t\"a\": 1.5,\n\t\"b\": [\n\t\t1,\n\t\t{\n\t\t\t\"x\": \"y\"\n\t\t}\n\t],\n\t\"e\": {}," +
        "\n\t\"f\": 2e+23,\n\t\"l\": []," +
        "\n\t\"n\": {\n\t\t\"m\": [],\n\t\t\"o\": {},\n\t\t\"p\": [\n\t\t\t{},\n\t\t\t[]\n\t\t]\n\t}," +
        "\n\t\"s\": \"q\\\"\\\\\\n\\t\\u0001\u00e9\ud83d\ude00\"\n}")
  }

  test("-data binds state; without it state is undeclared (exit 1)") {
    val dir = Files.createTempDirectory("cli")
    val src = write(dir, "p.cel", "state.k")
    val data = write(dir, "d.json", """{"k": 7}""")
    assert(run(src, "-data", data) == ((0, Vector("7"), Vector())))
    val (rc, _, err) = run(src)
    assert(rc == 1)
    // position re-attributes to the `.k` qualifier (cel-go wraps
    // qualification errors at the qualifier node — serve_tls.txt)
    assert(err.head.startsWith("failed eval: ERROR: <input>:1:6: undeclared reference to 'state'"))
  }

  test("want_more loop re-feeds output as state until falsy (mito.go:186-204)") {
    val dir = Files.createTempDirectory("cli")
    val src = write(dir, "p.cel",
      """{"n": int(state.n) + 1, "want_more": int(state.n) < 2}""")
    val data = write(dir, "d.json", """{"n": 0}""")
    val (rc, out, _) = run(src, "-data", data)
    assert(rc == 0)
    val docs = out.mkString("\n").split("\\}\n\\{").toSeq
    assert(docs.length == 3, out.mkString("\n")) // n=1 more, n=2 more, n=3 stop
    assert(out.mkString("\n").contains("\"n\": 3"))
  }

  test("cfg wires regexps and globals") {
    val dir = Files.createTempDirectory("cli")
    val cfg = write(dir, "cfg.yaml",
      """regexp:
        |  digits: "[0-9]+"
        |globals:
        |  greeting: hello
        |""".stripMargin)
    val src = write(dir, "p.cel",
      """{"m": greeting.re_find('digits'), "g": greeting}""")
    val (rc, out, _) = run(src, "-cfg", cfg)
    assert(rc == 0)
    assert(out.mkString("\n") == "{\n\t\"g\": \"hello\",\n\t\"m\": \"\"\n}")
  }

  test("Go -flag=value syntax and quoted cfg scalars") {
    val dir = Files.createTempDirectory("cli")
    // quoted keys/values (the YAML-subset: quotes strip, no inner escapes)
    val cfg = write(dir, "cfg.yaml",
      """globals:
        |  "quoted_key": "hello world"
        |""".stripMargin)
    val src = write(dir, "p.cel", "quoted_key")
    val (rc, out, _) = run(s"-cfg=$cfg", src)
    assert(rc == 0, out.mkString)
    assert(out.mkString == "\"hello world\"")
    val data = write(dir, "d.json", """{"k": 5}""")
    val src2 = write(dir, "p2.cel", "state.k")
    assert(run(s"-data=$data", src2) == ((0, Vector("5"), Vector())))
  }

  test("positional path containing '=' passes through whole; -insecure=v parses") {
    val dir = Files.createTempDirectory("cli")
    val sub = Files.createDirectory(dir.resolve("v=1"))
    val src = write(sub, "p.cel", "1 + 1")
    assert(run(src) == ((0, Vector("2"), Vector())))
    // boolean flag inline values, Go strconv.ParseBool subset
    val old = graft.sources.HttpExec.trustAll
    try {
      assert(run("-insecure=true", src)._1 == 0)
      assert(graft.sources.HttpExec.trustAll)
      assert(run("-insecure=false", src)._1 == 0)
      assert(!graft.sources.HttpExec.trustAll) // was: inline value ignored -> true
      assert(run("-insecure=bogus", src)._1 == 2)
    } finally graft.sources.HttpExec.trustAll = old
  }

  test("want_more loop rebinds now per evaluation (reference per-run env)") {
    val dir = Files.createTempDirectory("cli")
    val data = write(dir, "d.json", """{"i": 0}""")
    val src = write(dir, "p.cel",
      """{"i": int(state.i) + 1, "t": now.format('RFC3339Nano'),
         "want_more": int(state.i) + 1 < 2000}""")
    val (rc, out, _) = run(src, "-data", data)
    assert(rc == 0)
    // 2000 iterations span multiple milliseconds (now is ms-resolution);
    // a loop-constant `now` (one env built before the loop) would print
    // one distinct value
    val ts = out.flatMap(_.linesIterator).filter(_.contains("\"t\":")).distinct
    assert(ts.size > 1, s"now was loop-constant: $ts")
  }

  test("cfg regexp section accepts bare (unquoted) patterns") {
    val dir = Files.createTempDirectory("cli")
    val cfg = write(dir, "cfg.yaml",
      """regexp:
        |  digits: \d+
        |  word: "[a-z]+"
        |""".stripMargin)
    val src = write(dir, "p.cel", "'a1b22'.re_find_all('digits')")
    val (rc, out, _) = run(src, "-cfg", cfg)
    assert(rc == 0, out.mkString)
    assert(out.mkString("\n") == "[\n\t\"1\",\n\t\"22\"\n]")
  }

  test("unknown -use library and bad flags exit 2 like the reference") {
    val dir = Files.createTempDirectory("cli")
    val src = write(dir, "p.cel", "1")
    assert(run(src, "-use", "collections,nope")._1 == 2)
    assert(run(src, "-use", "collections,strings")._1 == 0)
    assert(run("-bogus", src)._1 == 2)
    assert(run()._1 == 2)
  }

  test("compile errors exit 2 with a message") {
    val dir = Files.createTempDirectory("cli")
    val src = write(dir, "p.cel", "1 +")
    val (rc, _, err) = run(src)
    assert(rc == 2)
    assert(err.head.startsWith("failed compilation:"))
  }
}
