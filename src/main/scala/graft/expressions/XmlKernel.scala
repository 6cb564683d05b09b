package graft.expressions

import graft.cel.Eval
import graft.cel.Eval.{V, VBool, VDouble, VErr, VInt, VList, VMap, VString}
import org.apache.spark.unsafe.types.UTF8String

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import java.io.StringReader
import scala.collection.mutable
import scala.util.control.NonFatal

/** XML decode kernel mirroring the reference's schemaless XML walk
  * (/root/reference/lib/xml/xml.go:176-236): all leaves are strings,
  * repeated sibling elements auto-promote to lists (:209-224),
  * attributes become fields (:229-232), mixed content keeps cdata under
  * "#text", typed coercion per hint tree (`entype` :240-271 — bool only
  * for "TRUE"/"FALSE", int/float parse with string fallback).
  *
  * The hint tree is the compiled form of the reference's XSD support
  * (xml/xml.go:33-41 `Detail`): a JSON object
  *   {"elem": {"type": "int"|"float"|"bool", "plural": true,
  *             "children": {...}}}
  * supplied directly (XSD -> tree compilation is a config-time concern,
  * not a per-row one).
  *
  * The walk builds a CEL value, {"doc": ..., "#text": ...}, matching
  * decodeXMLWithXSD (lib/xml.go:177-208): the CEL `decode_xml` call
  * returns it, and the Column kernels render it as a JSON document.
  */
object XmlKernel {
  private val noHints: V = VMap(VMap.noEntries)

  // Hint trees are plan-time literals (compiled XSDs), so the parsed
  // cache stays bounded by the number of distinct hint configs.
  private val hintCache = new java.util.concurrent.ConcurrentHashMap[String, V]()

  // XMLInputFactory.newInstance() walks the service loader — far too
  // expensive per row (it dominated decode at ~160us/row). The factory
  // is not guaranteed thread-safe, so cache one per executor thread.
  private val factory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f
    }
  }

  def decodeXml(data: UTF8String): UTF8String = decodeXmlHinted(data, null)

  def decodeXmlHinted(data: UTF8String, hintsJson: UTF8String): UTF8String =
    UTF8String.fromBytes(Eval.renderUtf8(
      decode(data.toString, if (hintsJson == null) "" else hintsJson.toString)))

  /** The decoded document; `hintsJson` is a hint tree ("" for none). */
  def decode(xml: String, hintsJson: String): V = {
    // Go's encoding/xml consumes tag-less input as chardata until EOF and
    // reports io.ErrUnexpectedEOF; surface the same error text.
    if (!xml.contains('<')) return VErr("failed to unmarshal XML document: unexpected EOF")
    try {
      val hints =
        if (hintsJson.isEmpty) noHints
        else hintCache.computeIfAbsent(hintsJson, Eval.parseV(_))
      val r = factory.get().createXMLStreamReader(new StringReader(xml))
      val (cdata, doc) = walk(r, Nil, hints)
      val out = VMap.entryBuilder
      if (cdata.nonEmpty) out += "#text" -> VString(cdata)
      if (doc.nonEmpty) out += "doc" -> VMap.from(doc)
      VMap(out.result())
    } catch {
      case NonFatal(e) => VErr(s"failed to unmarshal XML document: ${e.getMessage}")
    }
  }

  private def hint(details: V, key: String): Option[V] = details match {
    case VMap(m) => m.get(key)
    case _ => None
  }

  /** Recursive element walk; returns (cdata, elems). Mirrors walkXML. */
  private def walk(r: XMLStreamReader, attrs: Seq[(String, String)],
      details: V): (String, mutable.Map[String, V]) = {
    val elems = mutable.HashMap.empty[String, V]
    var cdata = ""
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val key = r.getLocalName
          val det = hint(details, key).getOrElse(noHints)
          // Attributes plus namespace declarations: Go's encoding/xml
          // reports xmlns:foo="uri" as a regular attribute named "foo"
          // (xml.go's walk keeps it); StAX splits them out.
          val childAttrs = (0 until r.getAttributeCount)
            .map(i => r.getAttributeLocalName(i) -> r.getAttributeValue(i)) ++
            (0 until r.getNamespaceCount).map { i =>
              val p = r.getNamespacePrefix(i)
              (if (p == null || p.isEmpty) "xmlns" else p) -> r.getNamespaceURI(i)
            }
          val (childCdata, part) = walk(r, childAttrs, hint(det, "children").getOrElse(noHints))
          val add = entype(
            if (part.isEmpty) VString(childCdata)
            else {
              if (childCdata.nonEmpty) part("#text") = VString(childCdata)
              VMap.from(part)
            },
            hint(det, "type") match { case Some(VString(t)) => t; case _ => "string" })
          val plural = hint(det, "plural").contains(VBool(true))
          elems(key) = elems.get(key) match {
            case None => if (plural) VList(Vector(add)) else add
            case Some(VList(prev)) => VList(prev :+ add)
            case Some(prev) => VList(Vector(prev, add))
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          val t = r.getText.trim
          if (t.nonEmpty || cdata.isEmpty) cdata = t
        case XMLStreamConstants.END_ELEMENT =>
          attrs.foreach { case (k, v) => elems(k) = VString(v) }
          return (cdata, elems)
        case XMLStreamConstants.END_DOCUMENT =>
          return (cdata, elems)
        case _ =>
      }
    }
    (cdata, elems)
  }

  /** entype — xml/xml.go:240-271. */
  private def entype(v: V, t: String): V = v match {
    case VString(s) => t match {
      case "bool" =>
        s match {
          case "TRUE"  => VBool(true)
          case "FALSE" => VBool(false)
          case _       => v
        }
      case "int" =>
        try VInt(s.toLong) catch { case _: NumberFormatException => v }
      case "float" =>
        try VDouble(s.toDouble) catch { case _: NumberFormatException => v }
      case _ => v
    }
    case _ => v
  }
}
