package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, not}

import graft.cel.{Cel, Eval, Parser}
import graft.functions._
import graft.values.JsonAlgebra

/** cel_msgs: a corpus of generated cel-input messages through a fixed
  * mix of mito programs, each in three tiers: `Cel.apply` (interpreter),
  * `Cel.auto` (lowered when possible) and, where one exists, the
  * `graft.functions` json_* twin. One Spark job at a time, each forced
  * through the noop sink; jobs run round-robin in whole passes. */
class CelMsgs(spark: SparkSession, inputs: String, cores: Int) extends Workload {
  import CelMsgs._

  private val msgs = Files.readAllLines(Paths.get(inputs, "messages.jsonl")).asScala.toVector
  private var corpus: DataFrame = _
  private val state = col("msg")

  /** (program, tier, column) in pass order. */
  private lazy val jobs: Seq[(String, String, Column)] = programs.flatMap { p =>
    Seq((p.name, "interp", Trace.span("graft.cel", s"Cel.apply ${p.name}") {
        Cel(p.src, state, nowMicros = Main.NOW) }),
      (p.name, "auto", Trace.span("graft.cel", s"Cel.auto ${p.name}") {
        Cel.auto(p.src, state, Main.NOW) })) ++
      p.twin.map(t => (p.name, "docfn", Trace.span("graft.functions", s"twin ${p.name}") {
        t(state) }))
  }
  private val samples = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  def setup(): Unit = {
    import spark.implicits._
    corpus = msgs.zipWithIndex.map { case (m, i) => (i.toLong, m) }.toDF("id", "msg")
      .repartition(cores * 2).cache()
    corpus.count()
    // warm-up: whole passes over the corpus (classes, codegen, JIT)
    for (_ <- 1 to WarmupPasses; (_, _, c) <- jobs) force(corpus.select(c.as("x")))
  }

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      jobs.foreach { case (p, tier, c) =>
        timed("exec", s"$p/$tier")(force(corpus.select(c.as("x")))).foreach { s =>
          samples.getOrElseUpdate((p, tier), mutable.ArrayBuffer.empty) += s
        }
      }
      passes += 1
    }
    out("n_messages") = msgs.length
    out("passes") = passes
    out("jobs") = samples.map { case ((p, t), xs) =>
      collection.immutable.ListMap("program" -> p, "tier" -> t, "samples" -> xs.toSeq) }
  }

  /** Counts one compared item; a mismatch also counts as failed. */
  private def compare(n: Long, bad: Long, what: String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) System.err.println(s"[perfbench] cel_msgs: $bad/$n mismatches in $what")
  }

  def check(): Unit = {
    val byProgram = jobs.groupBy(_._1)
    for (p <- programs) {
      val cols = byProgram(p.name).map(j => j._2 -> j._3).toMap
      // interpreter and Cel.auto: byte-identical per message
      val pair = corpus.select(cols("interp").as("a"), cols("auto").as("b"))
      compare(msgs.length, pair.filter(not(col("a") <=> col("b"))).count(), s"${p.name} interp vs auto")
      // json_* twin: equal to the interpreter after JSON normalisation
      cols.get("docfn").foreach { twin =>
        val t = corpus.select(json_normalize(cols("interp")).as("a"), json_normalize(twin).as("b"))
        compare(msgs.length, t.filter(not(col("a") <=> col("b"))).count(), s"${p.name} interp vs docfn")
      }
      // a sample against the one-shot evaluator (no Spark)
      val sample = corpus.filter(col("id") < EvalOnceSample)
        .select(col("msg"), cols("interp").as("x")).collect()
      val bad = sample.count(r => Cel.evalOnce(p.src, r.getString(0), Main.NOW) != r.getString(1))
      compare(sample.length, bad, s"${p.name} interp vs Cel.evalOnce")
    }
  }

  private def perMsgUs(n: Int)(body: => Unit): Double = {
    body // warm-up round: JIT before the timed one
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e3 / n
  }

  def probes(): Unit = {
    val sample = msgs.take(ProbeMessages)
    val n = sample.length
    val decode = Trace.span("graft.cel", "Eval.parseV") {
      perMsgUs(n)(sample.foreach(Eval.parseV)) }
    val env = Eval.baseEnv(Main.NOW)
    val asts = programs.map(p => Parser.parse(p.src))
    var results: Seq[Eval.V] = Nil
    val evalAll = Trace.span("graft.cel", "Eval.evalValueInEnv") {
      perMsgUs(n * asts.length) {
        results = asts.flatMap(a => sample.map(m => Eval.evalValueInEnv(a, m, env)))
      }
    }
    val render = Trace.span("graft.cel", "Eval.renderV") {
      perMsgUs(results.length)(results.foreach(Eval.renderV)) }
    val compileMs = programs.map { p =>
      Trace.span("graft.cel", s"compile ${p.name}") {
        val t0 = System.nanoTime()
        Parser.parse(p.src)
        Cel.lower(p.src, state, nowMicros = Some(Main.NOW))
        (System.nanoTime() - t0) / 1e6
      }
    }
    val lowered = programs.count(p => Cel.tierOf(Cel.auto(p.src, state, Main.NOW)) == "lowered")
    var nodes: Seq[com.fasterxml.jackson.databind.JsonNode] = Nil
    val vParse = Trace.span("graft.values", "JsonAlgebra.parse") {
      perMsgUs(n) { nodes = sample.map(JsonAlgebra.parse) } }
    val vRender = Trace.span("graft.values", "JsonAlgebra.render") {
      perMsgUs(n)(nodes.foreach(JsonAlgebra.render)) }
    val chainV = {
      val v = v_parse(state)
      v_render(v_with(v_drop(v_with(v, v_parse(lit(ChainWith))), Seq("tmp")),
        v_parse(lit(ChainDone))))
    }
    val variantRuns = (1 to 3).flatMap(_ =>
      timed("exec", "chain/variant")(force(corpus.select(chainV.as("x")))))

    def tierRate(tier: String): Double = {
      val meds = samples.collect { case ((_, t), xs) if t == tier => Stats.median(xs.toSeq) }
      msgs.length / meds.sum
    }
    layer ++= Seq(
      "cel.decode_us" -> decode,
      "cel.eval_us" -> math.max(0.0, evalAll - decode),
      "cel.render_us" -> render,
      "cel.compile_ms" -> Stats.median(compileMs),
      "cel.lowered_share" -> lowered.toDouble / programs.length,
      "values.parse_us" -> vParse,
      "values.render_us" -> vRender,
      "expressions.variant_chain_s" -> Stats.median(variantRuns),
      "cel.interp_msgs_per_s" -> tierRate("interp"),
      "cel.auto_msgs_per_s" -> tierRate("auto"),
      "functions.docfn_msgs_per_s" -> tierRate("docfn"))
  }

  def perLayer: Map[String, Double] = layer.toMap
}

object CelMsgs {
  final case class Program(name: String, src: String, twin: Option[Column => Column])

  val WarmupPasses = 3
  val MinPasses = 3
  val EvalOnceSample = 40
  val ProbeMessages = 1000
  val ChainWith = """{"seen": true, "tmp": 1}"""
  val ChainDone = """{"done": true}"""

  /** The program mix: string/crypto/collection work, a nested collate,
    * a want_more-style reshape, a with/drop chain and a drop_empty. */
  val programs: Seq[Program] = Seq(
    Program("wide_chain", graft.Bench.wideChain, None),
    Program("collate", "state.collate('items.tags')",
      Some(c => json_collate(c, "items.tags"))),
    Program("reshape",
      """{
        "events": state.items.map(e, {"id": e.id, "user": state.user.name,
          "kind": e.kind, "amount": e.amount, "at": e.ts}),
        "cursor": {"page": state.cursor.page + 1, "token": state.cursor.token},
        "want_more": size(state.items) >= 4
      }""", None),
    Program("strings_time_crypto",
      """{
        "host": state.source.host.to_upper(),
        "h": state.id.sha256().hex(),
        "b64": state.user.name.base64(),
        "n": size(state.encode_json()),
        "day": timestamp(state.created).getDayOfWeek(),
        "age_h": (now - timestamp(state.created)).getHours(),
        "roles": state.user.roles.join(","),
        "labels": state.source.host.split(".")
      }""", None),
    Program("chain",
      s"""state.with($ChainWith).drop(["tmp"]).with($ChainDone)""",
      Some(c => json_with(json_drop(json_with(c, lit(ChainWith)), "tmp"), lit(ChainDone)))),
    Program("drop_empty", "state.drop_empty()", Some(c => json_drop_empty(c))))
}
