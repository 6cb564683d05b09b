package graft.expressions

import graft.cel.{Collections, Eval}
import graft.cel.Eval.{V, VErr, VList, VMap, VString}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel for the dynamic-document (JSON) operator tier: the json_*
  * functions, and the v_* functions after builtin `to_json`.
  *
  * Standalone Scala object => the compiler emits a `JsonKernel` class with
  * static forwarders, which Catalyst's `StaticInvoke` can call from
  * whole-stage-generated code (no UDF serialization, no codegen fallback).
  *
  * Every kernel is the path of a one-op CEL program: parse to a CEL
  * value ([[Eval.stateLeafV]], so an in-band `{"__error__": msg}`
  * document is an error value and propagates unchanged), the shared
  * operator ([[graft.cel.Collections]]), one Go-faithful render
  * ([[Eval.renderUtf8]], whose bytes become the result UTF8String as
  * they are). All methods are total: CEL error values
  * (reference lib/errors.go) are returned in-band, never thrown, so the
  * CEL error-absorption semantics survive distribution.
  */
object JsonKernel {
  private def doc(u: UTF8String): V = Eval.stateLeafV(u.toString)
  private def out(v: V): UTF8String = UTF8String.fromBytes(Eval.renderUtf8(v))

  private def op1(json: UTF8String)(f: V => V): UTF8String = doc(json) match {
    case e: VErr => out(e)
    case x => out(f(x))
  }

  private def op2(a: UTF8String, b: UTF8String)(f: (V, V) => V): UTF8String =
    (doc(a), doc(b)) match {
      case (e: VErr, _) => out(e)
      case (_, e: VErr) => out(e)
      case (x, y) => out(f(x, y))
    }

  private def paths(a: ArrayData): Seq[String] =
    (0 until a.numElements()).map(a.getUTF8String(_).toString)

  def collate(json: UTF8String, path: UTF8String): UTF8String =
    op1(json)(Collections.collate(_, Seq(path.toString)))

  def collateMulti(json: UTF8String, ps: ArrayData): UTF8String =
    op1(json)(Collections.collate(_, paths(ps)))

  def dropPath(json: UTF8String, path: UTF8String): UTF8String =
    op1(json)(Collections.drop(_, Seq(path.toString)))

  def dropPaths(json: UTF8String, ps: ArrayData): UTF8String =
    op1(json)(Collections.drop(_, paths(ps)))

  def dropEmpty(json: UTF8String): UTF8String = op1(json)(Collections.dropEmpty)

  def flattenDeep(json: UTF8String): UTF8String = op1(json)(Collections.flatten)

  def withAll(dst: UTF8String, src: UTF8String): UTF8String =
    op2(dst, src)(Collections.withAll)

  def withUpdate(dst: UTF8String, src: UTF8String): UTF8String =
    op2(dst, src)(Collections.withUpdate)

  def withReplace(dst: UTF8String, src: UTF8String): UTF8String =
    op2(dst, src)(Collections.withReplace)

  def keysSorted(json: UTF8String): UTF8String = op1(json)(Collections.keys)

  def valuesSorted(json: UTF8String): UTF8String = op1(json)(Collections.values)

  def zip(keys: UTF8String, vals: UTF8String): UTF8String =
    op2(keys, vals)(Collections.zip)

  def minList(json: UTF8String): UTF8String = op1(json)(Collections.min)

  def maxList(json: UTF8String): UTF8String = op1(json)(Collections.max)

  /** Canonical form: parse + sorted-key render (mito encode_json parity
    * for already-dynamic documents; typed columns use to_json). */
  def normalize(json: UTF8String): UTF8String = out(doc(json))

  def decodeStream(s: UTF8String): UTF8String = out(Eval.parseStreamV(s.toString))

  def isError(json: UTF8String): Boolean = doc(json).isInstanceOf[VErr]

  /** CEL try(e): weaken an error value to its message string (JSON-encoded);
    * pass non-errors through. Reference lib/try.go:116-134. */
  def tryWeaken(json: UTF8String): UTF8String = doc(json) match {
    case VErr(m) => out(VString(m))
    case x => out(x)
  }

  /** CEL try(e, label): weaken an error value to {label: msg}. */
  def tryWeakenLabeled(json: UTF8String, label: UTF8String): UTF8String = doc(json) match {
    case VErr(m) => out(VMap.of(label.toString -> VString(m)))
    case x => out(x)
  }

  /** debug(tag, expr) pass-through logger — reference lib/debug.go:70-91
    * (handler prints "DEBUG: <tag>: <value>", mito.go:292-298). */
  def debugLog(tag: UTF8String, value: UTF8String): UTF8String = {
    System.err.println(s"DEBUG: $tag: $value")
    value
  }

  /** Split a JSON array document into one JSON string per element
    * (feeds explode() — row-granularity fan-out of a batch document). */
  def elements(json: UTF8String): ArrayData = doc(json) match {
    case VList(xs) => new GenericArrayData(xs.map(out(_): Any).toArray)
    case _ => new GenericArrayData(Array[Any](out(VErr("no such overload"))))
  }

  // ---------------------------------------------------------------------
  // v_get / v_has / v_size (after to_json): a dotted path (backslash
  // escapes as in collate) walks map keys; a missing key or a non-map
  // step is an in-band "no such key" error.
  // ---------------------------------------------------------------------
  private def segments(path: String): List[String] = {
    val (dot, escaped) = Collections.pathSepIndex(path)
    if (dot < 0) List(Collections.unescape(path))
    else {
      val head = path.substring(0, dot)
      (if (escaped) Collections.unescape(head) else head) :: segments(path.substring(dot + 1))
    }
  }

  private def walk(x: V, path: UTF8String): V =
    segments(path.toString).foldLeft(x) {
      case (e: VErr, _) => e
      case (VMap(m), k) => m.getOrElse(k, VErr(s"no such key: $k"))
      case (_, k) => VErr(s"no such key: $k")
    }

  def getPath(json: UTF8String, path: UTF8String): UTF8String = out(walk(doc(json), path))

  def hasPath(json: UTF8String, path: UTF8String): Boolean =
    !walk(doc(json), path).isInstanceOf[VErr]

  /** CEL size of a map, list or string; -1 for anything else. */
  def size(json: UTF8String): Long = doc(json) match {
    case VMap(m) => m.size.toLong
    case VList(xs) => xs.length.toLong
    case VString(s) => s.codePointCount(0, s.length).toLong
    case _ => -1L
  }
}
