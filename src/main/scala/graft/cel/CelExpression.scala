package graft.cel

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** CEL program as a Catalyst expression: evaluates the compiled AST
  * against each row's `state` document (JSON string), returning the
  * result document. The program is parsed ONCE on the driver and the
  * AST ships to executors (compile-once / eval-per-row, the reference's
  * own model — mito.go:308-333 — but distributed across rows).
  *
  * Every CEL column runs here: a per-row tree walk (CodegenFallback),
  * exactly like the reference's cel-go interpreter. `nowMicros` is
  * captured at plan time so `now`/`now()` are batch-constant and
  * retries replay deterministically (mito's `now` variable semantics;
  * its per-call now() diverges only within an evaluation, SURVEY §4).
  *
  * Folding and determinism follow the program: a program made only of
  * pure calls ([[Functions.isPure]]) over a literal state folds at plan
  * time, while one that calls uuid(), debug, file/dir, executing HTTP,
  * channels or rate_limit is nondeterministic, so Catalyst neither
  * folds it nor pushes a filter below it (which would evaluate it a
  * second time per row).
  */
case class CelEvalExpression(program: String, child: Expression, nowMicros: Long,
    regexps: Map[String, String], globalsJson: String = "")
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val ast: Ast = Parser.parse(program)
  @transient private lazy val pure: Boolean = Functions.isPure(ast)
  // globals parse + now + time_layout assembled once per task, not per row
  @transient private lazy val env0: Eval.Env =
    Eval.baseEnv(nowMicros, regexps, globalsJson)

  override def dataType: DataType = StringType
  override def prettyName: String = "cel"
  override def foldable: Boolean = pure && child.foldable
  override lazy val deterministic: Boolean = pure && child.deterministic

  // a non-string state (SQL `cel('state * 2', 21)`) is read as its text
  override def nullSafeEval(state: Any): Any = {
    val v = state match {
      case u: UTF8String => Eval.evalValueInEnv(ast, u, env0)
      case o => Eval.evalValueInEnv(ast, o.toString, env0)
    }
    UTF8String.fromBytes(Eval.renderUtf8(v))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Entry points for the CEL text front-end. */
object Cel {
  /** Parse (and thereby validate) a CEL program. */
  def compile(src: String): Ast = Parser.parse(src)

  /** Column transform: evaluate `program` against a JSON state column.
    * `now` defaults to plan-build time (batch-constant). */
  def apply(program: String, state: Column,
      regexps: Map[String, String] = Map.empty,
      nowMicros: Long = System.currentTimeMillis() * 1000L,
      globalsJson: String = ""): Column = {
    Parser.parse(program) // fail fast on driver
    org.apache.spark.sql.graft.Shim.column(CelEvalExpression(program,
      org.apache.spark.sql.graft.Shim.expression(state), nowMicros, regexps, globalsJson))
  }

  /** Compatibility form of the retired lowered tier: always None,
    * which tells the caller to use apply(). */
  def lower(program: String, state: Column,
      regexps: Map[String, String] = Map.empty,
      nowMicros: Option[Long] = None): Option[Column] = None

  /** Same column as apply(), with `now` before `regexps`. */
  def auto(program: String, state: Column,
      nowMicros: Long = System.currentTimeMillis() * 1000L,
      regexps: Map[String, String] = Map.empty): Column =
    apply(program, state, regexps, nowMicros)

  /** Which tier a Cel-built column runs: always "interpreted", the
    * only one. */
  def tierOf(c: Column): String = "interpreted"

  /** One-shot local evaluation (no Spark): the mito CLI model. `xsds`
    * maps hint names to compiled hint JSON (the -cfg xsd: table,
    * compiled by [[graft.expressions.XsdCompiler]]). */
  def evalOnce(program: String, stateJson: String,
      nowMicros: Long = System.currentTimeMillis() * 1000L,
      regexps: Map[String, String] = Map.empty,
      globalsJson: String = "",
      baseDir: Option[java.nio.file.Path] = None,
      xsds: Map[String, String] = Map.empty,
      httpAuth: Option[(String, String)] = None,
      liveNow: Boolean = false): String =
    Eval.evalJson(Parser.parse(program), stateJson, nowMicros, regexps,
      globalsJson, baseDir, xsds, httpAuth, liveNow)

  /** evalOnce with DecoratedError semantics (reference mito.go:335 +
    * lib/errors.go:28-52): a failing program returns
    * Left("failed eval: ERROR: <input>:line:col: msg" + snippet/caret);
    * a successful one returns Right(rendered JSON). */
  def evalDecorated(program: String, stateJson: String,
      nowMicros: Long = System.currentTimeMillis() * 1000L,
      regexps: Map[String, String] = Map.empty,
      globalsJson: String = "",
      baseDir: Option[java.nio.file.Path] = None,
      xsds: Map[String, String] = Map.empty): Either[String, String] =
    Eval.evalValue(Parser.parse(program), stateJson, nowMicros, regexps,
      globalsJson, baseDir, xsds) match {
      case e: Eval.VErr =>
        Left("failed eval: " + Errors.display(program, e.at, e.msg))
      case v => Right(Eval.renderV(v))
    }
}
