package graft.expressions

import graft.cel.Eval
import graft.cel.Eval.{V, VBool, VMap, VString}
import org.w3c.dom.{Element, Node}

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.xml.parsers.DocumentBuilderFactory

/** XSD -> type/plurality hint-tree compiler: the config-time half of the
  * reference's XSD support (/root/reference/lib/xml/xml.go:61-138
  * `Details`). Compiles the XSD subset the reference consumes
  * (xs:element with builtin or inline complexType, xs:sequence/all/
  * choice nesting, named complexType/simpleType references, maxOccurs
  * plurality) into the hint JSON [[XmlKernel.decodeXmlHinted]] takes:
  *
  *   {"elem": {"type": "int"|"float"|"bool", "plural": true,
  *             "children": {...}}}
  *
  * Matching the reference, only "interesting" nodes are retained: nodes
  * that are plural or non-string typed, or have such a descendant
  * (xml.go:57-60). Runs on the driver at plan/config time — never per
  * row.
  */
object XsdCompiler {

  private val XS = "http://www.w3.org/2001/XMLSchema"

  // builtinTypeFor mapping (xml.go:85-97)
  private val intTypes = Set("int", "integer", "long", "nonNegativeInteger",
    "nonPositiveInteger", "positiveInteger", "short", "unsignedByte",
    "unsignedInt", "unsignedLong", "unsignedShort", "byte", "negativeInteger")
  private val floatTypes = Set("decimal", "double", "float")

  private final case class Detail(tpe: String, plural: Boolean,
      children: Map[String, Detail]) {
    def interesting: Boolean = tpe != "string" || plural || children.nonEmpty
  }

  /** Compile XSD text to hint JSON (empty object when nothing in the
    * schema needs coercion). Throws IllegalArgumentException on
    * unparseable XSD. */
  def compile(xsd: String): String = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc =
      try dbf.newDocumentBuilder()
        .parse(new ByteArrayInputStream(xsd.trim.getBytes(StandardCharsets.UTF_8)))
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"failed to parse XSD: ${e.getMessage}")
      }
    val schema = doc.getDocumentElement
    val namedComplex = childElems(schema, "complexType")
      .flatMap(e => Option(e.getAttribute("name")).filter(_.nonEmpty).map(_ -> e)).toMap
    val namedSimple = childElems(schema, "simpleType")
      .flatMap(e => Option(e.getAttribute("name")).filter(_.nonEmpty).map(_ -> e)).toMap

    def localName(qname: String): String = {
      val i = qname.indexOf(':')
      if (i >= 0) qname.substring(i + 1) else qname
    }

    def builtinOf(name: String, seen: Set[String]): String = {
      val local = localName(name)
      if (intTypes.contains(local)) "int"
      else if (floatTypes.contains(local)) "float"
      else if (local == "boolean") "bool"
      else namedSimple.get(local).filterNot(_ => seen.contains(local)) match {
        case Some(st) =>
          // xs:restriction base="..." chain (builtinTypeFor's SimpleType walk)
          childElems(st, "restriction").headOption
            .map(r => builtinOf(r.getAttribute("base"), seen + local))
            .getOrElse("string")
        case None => "string"
      }
    }

    def elemDetail(e: Element, seen: Set[String]): Detail = {
      val maxOccurs = e.getAttribute("maxOccurs")
      val plural = maxOccurs.nonEmpty && maxOccurs != "1" && maxOccurs != "0"
      val typeAttr = e.getAttribute("type")
      val (tpe, children) =
        if (typeAttr.nonEmpty) {
          val local = localName(typeAttr)
          namedComplex.get(local) match {
            case Some(ct) if !seen.contains(local) =>
              ("string", complexChildren(ct, seen + local))
            case _ => (builtinOf(typeAttr, seen), Map.empty[String, Detail])
          }
        } else childElems(e, "complexType").headOption match {
          case Some(ct) => ("string", complexChildren(ct, seen))
          case None => ("string", Map.empty[String, Detail])
        }
      Detail(tpe, plural, children)
    }

    def complexChildren(ct: Element, seen: Set[String]): Map[String, Detail] = {
      // descend through sequence/all/choice wrappers collecting elements
      def walk(n: Element): Seq[(String, Detail)] =
        allChildElems(n).flatMap { c =>
          c.getLocalName match {
            case "sequence" | "all" | "choice" => walk(c)
            case "element" =>
              val name = c.getAttribute("name")
              if (name.isEmpty) Nil
              else {
                val d = elemDetail(c, seen)
                if (d.interesting) Seq(name -> d) else Nil
              }
            case _ => Nil
          }
        }
      walk(ct).toMap
    }

    val roots: Seq[(String, Detail)] = childElems(schema, "element").flatMap { e =>
      val name = e.getAttribute("name")
      if (name.isEmpty) Nil
      else {
        val d = elemDetail(e, Set.empty)
        if (d.interesting) Seq(name -> d) else Nil
      }
    }

    Eval.renderV(hintMap(roots))
  }

  private def hintMap(details: Iterable[(String, Detail)]): V =
    VMap.from(details.map { case (k, d) => k -> toV(d) })

  private def toV(d: Detail): V = {
    val o = VMap.entryBuilder
    if (d.tpe != "string") o += "type" -> VString(d.tpe)
    if (d.plural) o += "plural" -> VBool(true)
    if (d.children.nonEmpty) o += "children" -> hintMap(d.children)
    VMap(o.result())
  }

  private def childElems(parent: Element, local: String): Seq[Element] =
    allChildElems(parent).filter(_.getLocalName == local)

  private def allChildElems(parent: Element): Seq[Element] = {
    val nl = parent.getChildNodes
    (0 until nl.getLength).map(nl.item).collect {
      case e: Element if e.getNamespaceURI == XS => e
    }
  }
}
