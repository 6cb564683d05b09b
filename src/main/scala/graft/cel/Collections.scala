package graft.cel

import scala.collection.immutable.VectorMap
import scala.util.control.NoStackTrace

/** The collections library of the reference (lib/collections.go) over
  * CEL values: the one implementation of collate, drop, drop_empty,
  * flatten, with/with_update/with_replace, zip, keys, values, min and
  * max. CEL programs reach it through `Functions.method2`, and the
  * json_* / v_* Column functions through [[graft.expressions.JsonKernel]]
  * (parse to V, one op, [[Eval.renderV]]). No operator converts its
  * document to another value type, so every CEL value (bytes,
  * timestamps, typed map keys, optionals) passes through a collections
  * op unchanged.
  *
  * Every op is total: failures are in-band [[Eval.VErr]] values. A map
  * that merely has an `__error__` key is a map here; the text-to-value
  * boundary (`Eval.stateLeafV`) is where a rendered error document
  * becomes an error value again.
  */
object Collections {
  import Eval._

  // ---------------------------------------------------------------------
  // flatten: a list whose elements are ALL lists recurses into each; a
  // list with any non-list element contributes its elements as-is.
  // Reference: lib/collections.go:560-583.
  // ---------------------------------------------------------------------
  def flatten(v: V): V = v match {
    case VList(xs) =>
      val out = Vector.newBuilder[V]
      def parts(ys: Vector[V]): Unit =
        if (ys.exists(!_.isInstanceOf[VList])) out ++= ys
        else ys.foreach { case VList(zs) => parts(zs); case _ => }
      parts(xs)
      VList(out.result())
    case _ => VErr("no such overload")
  }

  // ---------------------------------------------------------------------
  // with / with_update / with_replace: map merges. dst keys keep their
  // key type; keys added from src take src's. Reference:
  // lib/collections.go:585-649.
  // ---------------------------------------------------------------------
  private def merge(dst: V, src: V)(keep: (VMap, String) => Boolean): V =
    (dst, src) match {
      case (d: VMap, s: VMap) =>
        var m = d.v
        var intKeys = d.intKeys
        s.v.foreach { case (k, x) =>
          if (keep(d, k)) {
            if (!d.v.contains(k) && s.intKeys(k)) intKeys += k
            m = m.updated(k, x)
          }
        }
        VMap(m, intKeys)
      case (_: VMap, _) => VErr("unsupported src type")
      case _ => VErr("no such overload")
    }

  /** src wins (upsert). collections.go:585-594 */
  def withAll(dst: V, src: V): V = merge(dst, src)((_, _) => true)
  /** only add missing keys. collections.go:596-608 */
  def withUpdate(dst: V, src: V): V = merge(dst, src)((d, k) => !d.v.contains(k))
  /** only overwrite existing keys. collections.go:610-622 */
  def withReplace(dst: V, src: V): V = merge(dst, src)((d, k) => d.v.contains(k))

  // ---------------------------------------------------------------------
  // drop_empty: recursively remove zero-size lists/maps (empty strings
  // are kept); a non-container passes through.
  // Reference: lib/collections.go:652-744.
  // ---------------------------------------------------------------------
  def dropEmpty(v: V): V = v match {
    case VList(xs) => VList(xs.flatMap(nonEmpty))
    case m: VMap =>
      val kept = VectorMap.from(m.v.iterator.flatMap { case (k, x) => nonEmpty(x).map(k -> _) })
      VMap(kept, m.intKeys.filter(kept.contains))
    case other => other
  }

  private def isEmptyContainer(v: V): Boolean = v match {
    case VList(xs) => xs.isEmpty
    case VMap(m) => m.isEmpty
    case _ => false
  }

  private def nonEmpty(v: V): Option[V] = v match {
    case _: VList | _: VMap => Some(dropEmpty(v)).filterNot(isEmptyContainer)
    case other => Some(other)
  }

  // ---------------------------------------------------------------------
  // dotted paths with backslash-escaped dots.
  // Reference: lib/collections.go:1118-1131 (pathSepIndex).
  // ---------------------------------------------------------------------
  /** (offset of the first unescaped '.', whether an escaped dot was
    * skipped before it). */
  def pathSepIndex(s: String): (Int, Boolean) = {
    var off = 0
    var escaped = false
    while (true) {
      val idx = s.indexOf('.', off)
      if (idx == -1) return (-1, escaped)
      off = idx
      if (idx == 0 || s.charAt(off - 1) != '\\') return (off, escaped)
      off += 1
      escaped = true
    }
    (-1, escaped) // unreachable
  }

  def unescape(s: String): String = s.replace("\\.", ".")

  private final case class PathError(err: VErr) extends RuntimeException with NoStackTrace

  /** One path step, taken when the walk reaches a map: (key, remaining
    * path, None at the leaf). An empty head or tail segment is an error,
    * raised only then: the reference validates lazily, so an invalid
    * path over data that never reaches a map is not an error. */
  private def step(path: String): (String, Option[String]) = {
    val (dot, escaped) = pathSepIndex(path)
    if (dot == 0 || dot == path.length - 1)
      throw PathError(VErr(s"invalid parameter path for drop: $path"))
    if (dot < 0) (unescape(path), None)
    else {
      val head = path.substring(0, dot)
      (if (escaped) unescape(head) else head, Some(path.substring(dot + 1)))
    }
  }

  // ---------------------------------------------------------------------
  // drop: remove field(s) at dotted path(s), recursing through lists.
  // Reference: lib/collections.go:753-831 (+hasFieldPath :833-883).
  // ---------------------------------------------------------------------
  def drop(v: V, paths: Seq[String]): V =
    paths.foldLeft(v) {
      case (e: VErr, _) => e
      case (o, p) => dropPath(o, p)
    }

  private def dropPath(v: V, path: String): V =
    try {
      if (!hasPath(v, path)) v
      else v match {
        case VList(xs) => VList(xs.map(dropPath(_, path)))
        case m: VMap => step(path) match {
          case (key, None) => VMap(m.v - key, m.intKeys - key)
          case (head, Some(tail)) => VMap(m.v.updated(head, dropPath(m.v(head), tail)), m.intKeys)
        }
        case other => other
      }
    } catch { case PathError(e) => e }

  private def hasPath(v: V, path: String): Boolean = v match {
    case VList(xs) => xs.exists(hasPath(_, path))
    case VMap(m) => step(path) match {
      case (key, None) => m.contains(key)
      case (head, Some(tail)) => m.get(head).exists(hasPath(_, tail))
    }
    case _ => false
  }

  // ---------------------------------------------------------------------
  // collate: the values at dotted path(s), descending through lists and
  // splicing a list found at the leaf. Reference:
  // lib/collections.go:885-971.
  // ---------------------------------------------------------------------
  def collate(v: V, paths: Seq[String]): V =
    try VList(paths.toVector.flatMap(collatePath(v, _)))
    catch { case PathError(e) => e }

  private def collatePath(v: V, path: String): Vector[V] = v match {
    case VList(xs) => xs.flatMap(collatePath(_, path))
    case VMap(m) => step(path) match {
      case (key, None) => m.get(key) match {
        case None => Vector.empty
        case Some(VList(xs)) => xs
        case Some(x) => Vector(x)
      }
      case (head, Some(tail)) => m.get(head).fold(Vector.empty[V])(collatePath(_, tail))
    }
    case other => if (path.isEmpty) Vector(other) else Vector.empty
  }

  // ---------------------------------------------------------------------
  // zip / keys / values / min / max. Reference:
  // lib/collections.go:973-1096.
  // ---------------------------------------------------------------------
  /** Map from equal-length key/value lists; a non-string key is keyed by
    * its rendered JSON form. */
  def zip(keys: V, vals: V): V = (keys, vals) match {
    case (VList(ks), VList(vs)) =>
      if (ks.length != vs.length)
        VErr(s"zip: size(keys) != size(vals): ${ks.length} != ${vs.length}")
      else VMap(VectorMap.from(ks.lazyZip(vs).map {
        case (VString(k), x) => k -> x
        case (k, x) => renderV(k) -> x
      }))
    case _ => VErr("no such overload: zip")
  }

  /** Keys in canonical order ([[Eval.typedKeys]]). */
  def keys(v: V): V = v match {
    case m: VMap => VList(typedKeys(m).map(_._2))
    case _ => VErr("no such overload: keys")
  }

  /** Values in the order of [[keys]]. */
  def values(v: V): V = v match {
    case m: VMap => VList(typedKeys(m).map { case (k, _) => m.v(k) })
    case _ => VErr("no such overload: values")
  }

  def min(v: V): V = extremum(v, -1)
  def max(v: V): V = extremum(v, 1)

  /** CEL ordering ([[Eval.compareV]]): numbers compare across types;
    * other kinds only within their type; an empty list or a mixed pair
    * is "no such overload". */
  private def extremum(v: V, want: Int): V = v match {
    case VList(xs) if xs.nonEmpty =>
      var best = xs.head
      for (x <- xs.tail) compareV(x, best) match {
        case Some(c) => if (c == want) best = x
        case None => return VErr("no such overload")
      }
      best
    case _ => VErr("no such overload")
  }
}
