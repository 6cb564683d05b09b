package graft.values

import com.fasterxml.jackson.core.io.NumberOutput
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.util.control.NonFatal

/** Go `encoding/json` number and key-order rules, and a Jackson-tree
  * JSON codec kept as a reference.
  *
  * Documents live as CEL values ([[graft.cel.Eval.V]]): every decoder
  * builds them, `Eval.parseV` parses them and `Eval.renderUtf8` (with
  * its pretty mode) prints them. That writer takes its float and key
  * forms from here: [[goFloat]], [[wholeDouble]], [[goOrder]].
  *
  * [[parse]]/[[render]] are the tree codec. No document path calls
  * them; they stay because the benchmark's value-layer probe times
  * them, the property tests compare the V codec against them, and the
  * OAuth credential readers pick fields out of a parsed tree.
  *
  * Error values (CEL errors-as-data, lib/errors.go) are encoded as
  * `{"__error__": "<msg>"}` objects so they flow through data exactly
  * like CEL error values flow through expressions.
  */
object JsonAlgebra {
  val ErrorKey = "__error__"

  private val mapper = new ObjectMapper()
  private val nf     = JsonNodeFactory.instance

  def parse(s: String): JsonNode =
    try mapper.readTree(s)
    catch {
      case NonFatal(e) => nf.objectNode().put(ErrorKey, s"failed to parse JSON: ${e.getMessage}")
    }

  /** Go `json.Marshal` prints a whole float64 without a fractional part
    * (`-5.0` → `-5`). Both render paths — tree and streaming V — share
    * this predicate so they stay byte-identical. */
  @inline def wholeDouble(d: Double): Boolean =
    d == d.floor && !d.isInfinite && math.abs(d) < 1e15

  /** Go string order = byte order of the UTF-8 encoding = code-point
    * order. Java's String.compareTo compares UTF-16 units, which ranks
    * U+E000..U+FFFF ABOVE supplementary characters (their surrogates
    * start at 0xD800) — the opposite of Go. Every key order (CEL map
    * entries, the tree render, keys(), values(), format_query) shares
    * this ordering. A serializable singleton, so ordered maps keep it
    * across Java serialization. */
  val goOrder: Ordering[String] = GoOrder

  private object GoOrder extends Ordering[String] {
    /** Compares UTF-16 units up to the first difference, which is
      * code-point order unless a surrogate is involved; only then does
      * it compare by code points. */
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.charAt(i); val cb = b.charAt(i)
        if (ca != cb)
          return if (Character.isSurrogate(ca) || Character.isSurrogate(cb)) byCodePoint(a, b)
                 else ca - cb
        i += 1
      }
      a.length - b.length
    }

    private def byCodePoint(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
  }

  /** Go `encoding/json` float form for NON-whole doubles (whole ones
    * collapse via [[wholeDouble]] first): shortest round-trip digits
    * (Go's strconv 'g' with precision -1); plain decimal for
    * 1e-6 <= |d| < 1e21, else e-notation with lowercase `e`, explicit
    * `+`, and no zero-padded exponent (Go's floatEncoder turns
    * strconv's `e-08` into `e-8`). The digits come from Jackson's
    * Schubfach writer: JDK 17's Double.toString is not always shortest
    * (2e23 prints as 1.9999999999999998E23, JDK-4511638); its layout is
    * the same, and this converts the layout, never the digits. */
  def goFloat(d: Double): String =
    if (d.isNaN || d.isInfinite) "\"" + d + "\"" // Jackson's quoted non-numeric form
    else goForm(NumberOutput.toString(d, true), {
      val abs = math.abs(d); abs >= 1e-6 && abs < 1e21
    })

  private def goForm(s: String, plain: Boolean): String = {
    val e = s.indexOf('E')
    if (plain) {
      if (e < 0) s
      // same digits, plain form; stripTrailingZeros because "1.0E-4"
      // would otherwise print "0.00010" where Go prints "0.0001"
      else new java.math.BigDecimal(s).stripTrailingZeros().toPlainString
    } else {
      // e-notation: Java "1.0E21"/"6.48E-8" -> Go "1e+21"/"6.48e-8"
      val (mant0, exp) = if (e < 0) (s, 0) else (s.substring(0, e), s.substring(e + 1).toInt)
      val mant = if (mant0.endsWith(".0")) mant0.dropRight(2) else mant0
      if (e < 0) mant // shortest repr without E can't be outside the range; guard
      else if (exp < 0) s"${mant}e-${-exp}"
      else s"${mant}e+$exp"
    }
  }

  /** Serialize with object keys sorted — matches Go `json.Marshal` map
    * key ordering (mito's encode_json, lib/json.go:207-247). Streams the
    * tree once with keys sorted at write time; scalars delegate to the
    * mapper's own serializers (writeTree), so output is byte-identical
    * to writeValueAsString. */
  def render(n: JsonNode): String = {
    val w = new java.io.StringWriter(64)
    val g = mapper.createGenerator(w)
    def write(x: JsonNode): Unit =
      if (x.isObject) {
        g.writeStartObject()
        val o = x.asInstanceOf[ObjectNode]
        if (o.size > 1) {
          val keys = new Array[String](o.size)
          var i = 0
          o.fieldNames().forEachRemaining { k => keys(i) = k; i += 1 }
          java.util.Arrays.sort(keys, goOrder)
          keys.foreach { k => g.writeFieldName(k); write(o.get(k)) }
        } else o.properties().forEach { e =>
          g.writeFieldName(e.getKey); write(e.getValue)
        }
        g.writeEndObject()
      } else if (x.isArray) {
        g.writeStartArray()
        x.elements().forEachRemaining(write(_))
        g.writeEndArray()
      } else if (x.isFloatingPointNumber) {
        // DoubleNode would print "-5.0" / "6.48E-8"; Go collapses whole
        // floats and formats the rest per encoding/json (goFloat)
        val d = x.doubleValue()
        if (wholeDouble(d)) g.writeNumber(d.toLong) else g.writeNumber(goFloat(d))
      } else g.writeTree(x)
    write(n)
    g.close()
    w.toString
  }
}
