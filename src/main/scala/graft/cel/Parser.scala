package graft.cel

import scala.collection.mutable.ArrayBuffer

/** Recursive-descent parser for the CEL expression grammar
  * (https://github.com/google/cel-spec — operator precedence per spec:
  * ?: then || then && then relations then +- then * / % then unary then
  * member/index/call). Macros (map/filter/all/exists/exists_one/has and
  * mito's `as`, reference collections.go:1098-1113) are recognized at
  * parse time, like cel-go's parse-time macro expansion.
  */
object Parser {
  final case class ParseException(msg: String, pos: Int)
    extends RuntimeException(s"$msg at offset $pos")

  def parse(src: String): Ast = {
    val p = new Parser(src)
    val e = p.parseTernary()
    p.skipWs()
    if (!p.eof) throw ParseException(s"unexpected trailing input '${p.rest.take(20)}'", p.pos)
    e
  }

  private val macroNames = Set("map", "filter", "all", "exists", "exists_one",
    "as", "optMap", "optFlatMap")
}

private final class Parser(src: String) {
  import Ast._
  import Parser.ParseException

  var pos = 0
  /** Stamp a node with a source offset if it doesn't carry one yet. */
  private def st[A <: Ast](p: Int, node: A): A = { if (node.pos < 0) node.pos = p; node }
  def eof: Boolean = pos >= src.length
  def rest: String = src.substring(math.min(pos, src.length))

  def skipWs(): Unit = {
    while (!eof && (src.charAt(pos).isWhitespace || src.startsWith("//", pos))) {
      if (src.startsWith("//", pos)) {
        while (!eof && src.charAt(pos) != '\n') pos += 1
      } else pos += 1
    }
  }

  private def peek(s: String): Boolean = { skipWs(); src.startsWith(s, pos) }
  private def eat(s: String): Boolean = { if (peek(s)) { pos += s.length; true } else false }
  private def expect(s: String): Unit =
    if (!eat(s)) throw ParseException(s"expected '$s', found '${rest.take(10)}'", pos)

  // ---- precedence levels ----
  def parseTernary(): Ast = {
    val c = parseOr()
    if (peek("?")) {
      val p = pos
      eat("?")
      val t = parseTernary()
      expect(":")
      val f = parseTernary()
      st(p, Ternary(c, t, f))
    } else c
  }

  private def parseOr(): Ast = {
    var l = parseAnd()
    while (peek("||")) { val p = pos; eat("||"); l = st(p, Binary("||", l, parseAnd())) }
    l
  }

  private def parseAnd(): Ast = {
    var l = parseRel()
    while (peek("&&")) { val p = pos; eat("&&"); l = st(p, Binary("&&", l, parseRel())) }
    l
  }

  private val relOps = Seq("<=", ">=", "==", "!=", "<", ">")
  private def parseRel(): Ast = {
    var l = parseAdd()
    var done = false
    while (!done) {
      skipWs()
      relOps.find(op => src.startsWith(op, pos)) match {
        case Some(op) => val p = pos; pos += op.length; l = st(p, Binary(op, l, parseAdd()))
        case None =>
          if (peekWord("in")) { val p = pos; eatWord("in"); l = st(p, Binary("in", l, parseAdd())) }
          else done = true
      }
    }
    l
  }

  private def parseAdd(): Ast = {
    var l = parseMul()
    var done = false
    while (!done) {
      skipWs()
      if (!eof && src.charAt(pos) == '+') { val p = pos; pos += 1; l = st(p, Binary("+", l, parseMul())) }
      else if (!eof && src.charAt(pos) == '-') { val p = pos; pos += 1; l = st(p, Binary("-", l, parseMul())) }
      else done = true
    }
    l
  }

  private def parseMul(): Ast = {
    var l = parseUnary()
    var done = false
    while (!done) {
      skipWs()
      if (!eof && src.charAt(pos) == '*') { val p = pos; pos += 1; l = st(p, Binary("*", l, parseUnary())) }
      else if (!eof && src.charAt(pos) == '/' && !src.startsWith("//", pos)) {
        val p = pos; pos += 1; l = st(p, Binary("/", l, parseUnary()))
      }
      else if (!eof && src.charAt(pos) == '%') { val p = pos; pos += 1; l = st(p, Binary("%", l, parseUnary())) }
      else done = true
    }
    l
  }

  private def parseUnary(): Ast = {
    skipWs()
    val p0 = pos
    if (eat("!")) st(p0, Unary("!", parseUnary()))
    else if (!eof && src.charAt(pos) == '-' && {
      // negative literal vs binary minus is handled here (unary context)
      true
    } && eat("-")) st(p0, Unary("-", parseUnary()))
    else parseMember()
  }

  // member = primary { '.' IDENT [ '(' args ')' ] | '[' expr ']' }
  private def parseMember(): Ast = {
    skipWs()
    val p0 = pos
    var e = st(p0, parsePrimary())
    var done = false
    while (!done) {
      skipWs()
      val p = pos
      if (peek(".?")) {
        eat(".?")
        e = st(p, SelectOpt(e, parseIdent()))
      } else if (eat(".")) {
        val name = parseIdent()
        skipWs()
        if (!eof && src.charAt(pos) == '(') {
          e = st(p, parseCallTail(e, name))
        } else e = st(p, Select(e, name))
      } else if (!eof && src.charAt(pos) == '[') {
        pos += 1
        skipWs()
        val opt = !eof && src.charAt(pos) == '?'
        if (opt) pos += 1
        val idx = parseTernary()
        expect("]")
        e = st(p, if (opt) IndexOpt(e, idx) else Index(e, idx))
      } else done = true
    }
    e
  }

  private def parseCallTail(target: Ast, name: String): Ast = {
    expect("(")
    if (Parser.macroNames.contains(name)) {
      name match {
        case "as" =>
          val v = parseIdent(); expect(",")
          val body = parseTernary(); expect(")")
          Comprehension("as", target, v, None, body)
        case "map" =>
          val v = parseIdent(); expect(",")
          val first = parseTernary()
          if (eat(",")) {
            val second = parseTernary(); expect(")")
            Comprehension("map", target, v, Some(first), second)
          } else { expect(")"); Comprehension("map", target, v, None, first) }
        case m @ ("filter" | "all" | "exists" | "exists_one") =>
          val v = parseIdent(); expect(",")
          val body = parseTernary(); expect(")")
          Comprehension(m, target, v, None, body)
        // cel-go optional-library macros (enabled by cel.OptionalTypes,
        // reference mito.go:83): parse-time expansion to the existing
        // surface — exactly cel-go's own macro strategy —
        //   t.optMap(v, f)     => t.as($t, $t.hasValue()
        //                           ? optional.of($t.value().as(v, f))
        //                           : optional.none())
        //   t.optFlatMap(v, f) => same, without the optional.of wrap
        // so the interpreter hosts them with no new evaluation machinery.
        // `$opt` cannot collide: '$' is not an identifier character, so
        // no user binding can carry the name.
        case m @ ("optMap" | "optFlatMap") =>
          val v = parseIdent(); expect(",")
          val body = parseTernary(); expect(")")
          val t = Ident("$opt")
          val bound = Comprehension("as", Method(t, "value", Vector()), v, None, body)
          val some =
            if (m == "optMap") Method(Ident("optional"), "of", Vector(bound))
            else bound
          Comprehension("as", target, "$opt",
            None,
            Ternary(Method(t, "hasValue", Vector()), some,
              Method(Ident("optional"), "none", Vector())))
      }
    } else {
      val args = parseArgs()
      Method(target, name, args)
    }
  }

  private def parseArgs(): Vector[Ast] = {
    val args = ArrayBuffer.empty[Ast]
    skipWs()
    if (!eat(")")) {
      args += parseTernary()
      while (eat(",")) args += parseTernary()
      expect(")")
    }
    args.toVector
  }

  private def peekWord(w: String): Boolean = {
    skipWs()
    src.startsWith(w, pos) &&
      (pos + w.length >= src.length || !isIdentChar(src.charAt(pos + w.length)))
  }
  private def eatWord(w: String): Boolean = if (peekWord(w)) { pos += w.length; true } else false

  private def isIdentStart(c: Char) = c.isLetter || c == '_'
  private def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'

  private def parseIdent(): String = {
    skipWs()
    if (eof || !isIdentStart(src.charAt(pos)))
      throw ParseException(s"expected identifier, found '${rest.take(10)}'", pos)
    val start = pos
    while (!eof && isIdentChar(src.charAt(pos))) pos += 1
    src.substring(start, pos)
  }

  private def parsePrimary(): Ast = {
    skipWs()
    if (eof) throw ParseException("unexpected end of input", pos)
    val c = src.charAt(pos)
    if (eat("(")) { val e = parseTernary(); expect(")"); e }
    else if (c == '[') {
      pos += 1
      val elems = ArrayBuffer.empty[Ast]
      skipWs()
      if (!eat("]")) {
        elems += parseTernary()
        while (eat(",")) { skipWs(); if (!peek("]")) elems += parseTernary() }
        expect("]")
      }
      ListLit(elems.toVector)
    } else if (c == '{') {
      pos += 1
      val entries = ArrayBuffer.empty[(Ast, Ast)]
      skipWs()
      if (!eat("}")) {
        def entry(): Unit = { val k = parseTernary(); expect(":"); entries += (k -> parseTernary()) }
        entry()
        while (eat(",")) { skipWs(); if (!peek("}")) entry() }
        expect("}")
      }
      MapLit(entries.toVector)
    } else if (c == '"' || c == '\'') StringLit(parseStringLit())
    else if ((c == 'b' || c == 'B') && pos + 1 < src.length &&
      (src.charAt(pos + 1) == '"' || src.charAt(pos + 1) == '\'')) {
      pos += 1
      BytesLit(parseBytesLit())
    } else if ((c == 'r' || c == 'R') && pos + 1 < src.length &&
      (src.charAt(pos + 1) == '"' || src.charAt(pos + 1) == '\'')) {
      pos += 1
      StringLit(parseRawStringLit())
    } else if (c.isDigit) parseNumber()
    else if (isIdentStart(c)) {
      val name = parseIdent()
      name match {
        case "true"  => BoolLit(true)
        case "false" => BoolLit(false)
        case "null"  => NullLit
        case _ =>
          skipWs()
          if (!eof && src.charAt(pos) == '(') {
            if (name == "has") {
              expect("(")
              val inner = parseTernary()
              expect(")")
              inner match {
                case Select(t, f) => Has(t, f)
                case _ => throw ParseException("has() requires a field selection", pos)
              }
            } else { expect("("); Call(name, parseArgs()) }
          } else Ident(name)
      }
    } else throw ParseException(s"unexpected character '$c'", pos)
  }

  private def parseNumber(): Ast = {
    val start = pos
    if (src.startsWith("0x", pos) || src.startsWith("0X", pos)) {
      pos += 2
      while (!eof && (src.charAt(pos).isDigit || "abcdefABCDEF".contains(src.charAt(pos)))) pos += 1
      val hex = java.lang.Long.parseLong(src.substring(start + 2, pos), 16)
      if (eat("u") || eat("U")) return UintLit(hex)
      return IntLit(hex)
    }
    while (!eof && src.charAt(pos).isDigit) pos += 1
    var isDouble = false
    if (!eof && src.charAt(pos) == '.' && pos + 1 < src.length && src.charAt(pos + 1).isDigit) {
      isDouble = true
      pos += 1
      while (!eof && src.charAt(pos).isDigit) pos += 1
    }
    if (!eof && (src.charAt(pos) == 'e' || src.charAt(pos) == 'E')) {
      isDouble = true
      pos += 1
      if (!eof && (src.charAt(pos) == '+' || src.charAt(pos) == '-')) pos += 1
      while (!eof && src.charAt(pos).isDigit) pos += 1
    }
    val text = src.substring(start, pos)
    if (isDouble) DoubleLit(text.toDouble)
    // full CEL uint range (0..2^64-1): values >= 2^63 land in the
    // unsigned bit pattern, matching VUint's unsigned rendering
    else if (eat("u") || eat("U")) UintLit(java.lang.Long.parseUnsignedLong(text))
    else IntLit(text.toLong)
  }

  private def parseStringLit(): String = {
    val quote = src.charAt(pos)
    pos += 1
    val sb = new StringBuilder
    while (!eof && src.charAt(pos) != quote) {
      val c = src.charAt(pos)
      if (c == '\\' && pos + 1 < src.length) {
        pos += 1
        src.charAt(pos) match {
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case '\\' => sb.append('\\')
          case '"' => sb.append('"')
          case '\'' => sb.append('\'')
          case 'u' =>
            val hex = src.substring(pos + 1, pos + 5)
            sb.append(Integer.parseInt(hex, 16).toChar)
            pos += 4
          case other => sb.append(other)
        }
      } else sb.append(c)
      pos += 1
    }
    if (eof) throw ParseException("unterminated string", pos)
    pos += 1
    sb.toString
  }

  /** Bytes literal: like a string literal but \xNN escapes yield raw
    * bytes (CEL b"..." syntax). */
  private def parseBytesLit(): Array[Byte] = {
    val quote = src.charAt(pos)
    pos += 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    while (!eof && src.charAt(pos) != quote) {
      val c = src.charAt(pos)
      if (c == '\\' && pos + 1 < src.length) {
        pos += 1
        src.charAt(pos) match {
          case 'n' => out += '\n'.toByte
          case 't' => out += '\t'.toByte
          case 'r' => out += '\r'.toByte
          case '\\' => out += '\\'.toByte
          case '"' => out += '"'.toByte
          case '\'' => out += '\''.toByte
          case 'x' | 'X' =>
            out += Integer.parseInt(src.substring(pos + 1, pos + 3), 16).toByte
            pos += 2
          case 'a' => out += 7.toByte
          case 'b' => out += 8.toByte
          case 'f' => out += 12.toByte
          case 'v' => out += 11.toByte
          case '0' => out += 0.toByte
          case other => out ++= other.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
      } else out ++= c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      pos += 1
    }
    if (eof) throw ParseException("unterminated bytes literal", pos)
    pos += 1
    out.toArray
  }

  private def parseRawStringLit(): String = {
    val quote = src.charAt(pos)
    pos += 1
    val start = pos
    while (!eof && src.charAt(pos) != quote) pos += 1
    if (eof) throw ParseException("unterminated raw string", pos)
    val s = src.substring(start, pos)
    pos += 1
    s
  }
}
