package graft.streaming

import graft.cel.Eval
import graft.cel.Eval.{V, VBool, VMap}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.lit

import scala.collection.mutable.ArrayBuffer

/** The reference engine's driver loop (mito.go:186-204): evaluate the
  * program against `state`, re-feed the output as the next `state` while
  * `.want_more == true`. This IS mito's streaming/pagination model — the
  * cursor is just state threaded between evaluations.
  *
  * Spark mapping: each iteration is one micro-batch; the *program* is a
  * Column program over the dynamic-document tier, so the per-batch body
  * (event reshaping, fan-out) runs distributed, while the want_more
  * re-entry decision is driver-side — exactly where Spark's own
  * micro-batch planning lives. The HTTP source
  * ([[graft.sources.HttpMicroBatchStream]]) plays the same loop as a
  * DSv2 stream with the cursor persisted in offsets.
  */
object WantMore {

  final case class Result(outputs: Seq[String], iterations: Int)

  /** Run `program` (a Column transform of the JSON `state` document)
    * until want_more is absent/false or maxIterations is hit.
    * Returns every iteration's output document (testdata/want_more.txt
    * golden sequence semantics). */
  def run(spark: SparkSession, initialState: String, program: Column => Column,
      maxIterations: Int = 1000): Result = {
    val outs = ArrayBuffer.empty[String]
    var state = initialState
    var more = true
    while (more && outs.length < maxIterations) {
      val out = spark.range(1).select(program(lit(state)).as("state"))
        .head().getString(0)
      outs += out
      more = wantsMore(Eval.parseV(out))
      state = out
    }
    Result(outs.toSeq, outs.length)
  }

  /** The loop condition, shared with the CLI: the output document is a
    * map whose `want_more` is true. */
  def wantsMore(doc: V): Boolean = doc match {
    case VMap(m) => m.get("want_more").contains(VBool(true))
    case _ => false
  }
}
