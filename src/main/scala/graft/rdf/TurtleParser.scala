package graft.rdf

import scala.collection.mutable.ArrayBuffer

/** Recursive-descent Turtle / TriG parser (no Jena on the classpath —
  * SURVEY.md §7 phase 1). Covers the W3C grammar subset the reference's
  * fixture corpus and "any Jena syntax" ingestion path exercise:
  * prefixes, base, IRIs, prefixed names, all literal forms (incl. long
  * strings, numeric and boolean shorthands), lang tags, datatypes,
  * blank-node labels and property lists, collections, `a`, `;`/`,`
  * lists, and TriG named-graph blocks.
  *
  * Reference behavior mirrored: Turtle payloads land in the default
  * graph (FusekiSink.java:74-77 streams dataset quads verbatim); a
  * malformed document raises [[RdfParseException]] before any quad is
  * emitted (lazy-materialization contract, FusekiProjector.java:502-508).
  */
final class TurtleParser(input: String, trig: Boolean) {
  private var pos = 0
  private val len = input.length
  private val prefixes = scala.collection.mutable.HashMap[String, String]()
  private var base: String = null
  private val quads = ArrayBuffer[Quad]()
  private var graph: Term = null // current TriG graph context
  private var blankCounter = 0

  def parse(): Seq[Quad] = {
    skipWs()
    while (pos < len) {
      statement()
      skipWs()
    }
    quads.toSeq
  }

  // --- statements ---------------------------------------------------------

  private def statement(): Unit = {
    if (peekKeyword("@prefix")) { pos += 7; prefixDecl(dot = true) }
    else if (peekKeyword("@base")) { pos += 5; baseDecl(dot = true) }
    else if (peekKeywordCI("PREFIX")) { pos += 6; prefixDecl(dot = false) }
    else if (peekKeywordCI("BASE")) { pos += 4; baseDecl(dot = false) }
    else if (trig && peekKeywordCI("GRAPH")) { pos += 5; graphBlock(explicit = true) }
    else if (trig && peekAheadIsGraphBlock()) graphBlock(explicit = false)
    else if (trig && peek() == '{') { // default graph block
      expect('{'); graph = null; triplesBlock(); expect('}')
    }
    else { triples(); expectDot() }
  }

  private def prefixDecl(dot: Boolean): Unit = {
    skipWs()
    val end = input.indexOf(':', pos)
    if (end < 0) fail("prefix declaration missing ':'")
    val name = input.substring(pos, end).trim
    pos = end + 1
    skipWs()
    val iri = parseIriRef()
    prefixes(name) = iri
    if (dot) expectDot()
  }

  private def baseDecl(dot: Boolean): Unit = {
    skipWs()
    base = parseIriRef()
    if (dot) expectDot()
  }

  /** lookahead: `(iri|prefixedName|blank) {` begins a TriG graph block */
  private def peekAheadIsGraphBlock(): Boolean = {
    val save = pos
    try {
      val c = peek()
      if (c != '<' && !isPNStart(c) && c != '_') return false
      val t = parseTerm(allowLiteral = false)
      skipWs()
      val isBlock = peek() == '{'
      pos = save
      isBlock && (t.isIri || t.isBlank)
    } catch { case _: Throwable => pos = save; false }
  }

  private def graphBlock(explicit: Boolean): Unit = {
    skipWs()
    val g = parseTerm(allowLiteral = false)
    if (!g.isIri && !g.isBlank) fail("graph label must be an IRI or blank node")
    skipWs()
    expect('{')
    graph = g
    triplesBlock()
    expect('}')
    graph = null
  }

  private def triplesBlock(): Unit = {
    skipWs()
    while (pos < len && peek() != '}') {
      triples()
      skipWs()
      if (pos < len && peek() == '.') { pos += 1; skipWs() }
    }
  }

  private def triples(): Unit = {
    skipWs()
    val subj =
      if (peek() == '[') {
        val b = blankNodePropertyList()
        skipWs()
        // subject-only bnode property list may omit predicateObjectList
        if (pos < len && peek() != '.' && peek() != '}') predicateObjectList(b)
        return
      } else parseTerm(allowLiteral = false)
    if (!subj.isIri && !subj.isBlank && !subj.isTriple)
      fail(s"subject must be IRI, blank node, or quoted triple, got ${subj.toNT}")
    predicateObjectList(subj)
  }

  private def predicateObjectList(subj: Term): Unit = {
    var more = true
    while (more) {
      skipWs()
      val pred = parsePredicate()
      objectList(subj, pred)
      skipWs()
      if (pos < len && peek() == ';') {
        pos += 1
        skipWs()
        // trailing ';' before '.' (or an annotation's '|}') is legal
        more = pos < len && peek() != '.' && peek() != '}' && peek() != ']' &&
          peek() != '|'
      } else more = false
    }
  }

  private def objectList(subj: Term, pred: Term): Unit = {
    var more = true
    while (more) {
      skipWs()
      val obj = parseObject()
      quads += Quad(graph, subj, pred, obj)
      skipWs()
      // Turtle-star annotation `{| p o ; … |}`: asserts the enclosing
      // triple (already emitted above) AND states the annotation
      // triples about it, subject = the quoted form
      if (pos + 1 < len && peek() == '{' && input.charAt(pos + 1) == '|') {
        pos += 2
        predicateObjectList(Term.quoted(subj, pred, obj))
        skipWs()
        if (!(pos + 1 < len && peek() == '|' && input.charAt(pos + 1) == '}'))
          fail("unterminated annotation: expected '|}'")
        pos += 2
        skipWs()
      }
      if (pos < len && peek() == ',') { pos += 1; more = true } else more = false
    }
  }

  private def parsePredicate(): Term = {
    skipWs()
    if (peek() == 'a' && pos + 1 <= len &&
        (pos + 1 == len || !isPNChar(input.charAt(pos + 1)))) {
      pos += 1
      Term.iri(Term.RDF_TYPE)
    } else {
      val t = parseTerm(allowLiteral = false)
      if (!t.isIri) fail(s"predicate must be an IRI, got ${t.toNT}")
      t
    }
  }

  private def parseObject(): Term = {
    peek() match {
      case '[' => blankNodePropertyList()
      case '(' => collection()
      case _   => parseTerm(allowLiteral = true)
    }
  }

  private def blankNodePropertyList(): Term = {
    expect('[')
    val b = freshBlank()
    skipWs()
    if (peek() != ']') predicateObjectList(b)
    skipWs()
    expect(']')
    b
  }

  private def collection(): Term = {
    expect('(')
    skipWs()
    if (peek() == ')') { pos += 1; return Term.iri(Term.RDF_NIL) }
    val head = freshBlank()
    var cur = head
    var first = true
    while (peek() != ')') {
      if (!first) {
        val next = freshBlank()
        quads += Quad(graph, cur, Term.iri(Term.RDF_REST), next)
        cur = next
      }
      val obj = parseObject()
      quads += Quad(graph, cur, Term.iri(Term.RDF_FIRST), obj)
      first = false
      skipWs()
    }
    pos += 1
    quads += Quad(graph, cur, Term.iri(Term.RDF_REST), Term.iri(Term.RDF_NIL))
    head
  }

  private def freshBlank(): Term = {
    blankCounter += 1
    Term.blank(s"gen$blankCounter")
  }

  // --- terms --------------------------------------------------------------

  /** RDF-star quoted triple `<< qtSubject verb qtObject >>` — the
    * embedded terms are plain nodes (no property-list/collection sugar
    * inside, per the Turtle-star grammar).
    */
  private def quotedTriple(): Term = {
    pos += 2 // '<<'
    val wg = pos < len && peek() == '(' // RDF 1.2 `<<( s p o )>>` spelling
    if (wg) pos += 1
    val s = parseTerm(allowLiteral = false)
    if (!s.isIri && !s.isBlank && !s.isTriple)
      fail("quoted-triple subject must be IRI, blank node, or quoted triple")
    val p = parsePredicate()
    val o = parseTerm(allowLiteral = true)
    skipWs()
    if (wg) {
      expect(')')
      skipWs()
    }
    if (!(pos + 1 < len && peek() == '>' && input.charAt(pos + 1) == '>'))
      fail("unterminated quoted triple: expected '>>'")
    pos += 2
    Term.quoted(s, p, o)
  }

  private def parseTerm(allowLiteral: Boolean): Term = {
    skipWs()
    if (pos >= len) fail("unexpected end of input")
    peek() match {
      case '<' if pos + 1 < len && input.charAt(pos + 1) == '<' => quotedTriple()
      case '<' => Term.iri(resolve(parseIriRef()))
      case '_' =>
        if (pos + 1 < len && input.charAt(pos + 1) == ':') {
          pos += 2
          Term.blank(parseBlankLabel())
        } else fail("expected '_:' blank node")
      case '"' | '\'' if allowLiteral => parseLiteral()
      case c if allowLiteral && (c.isDigit || c == '+' || c == '-' || c == '.') =>
        parseNumber()
      case _ if allowLiteral && (peekKeyword("true") || peekKeyword("false")) =>
        val v = if (peekKeyword("true")) { pos += 4; "true" } else { pos += 5; "false" }
        Term.typed(v, Term.XSD_BOOLEAN)
      case c if isPNStart(c) || c == ':' => parsePrefixedName()
      case c => fail(s"unexpected character '$c'")
    }
  }

  private def parseIriRef(): String = {
    expect('<')
    val sb = new StringBuilder
    while (pos < len && input.charAt(pos) != '>') {
      val c = input.charAt(pos)
      if (c == '\\') pos = Term.unescape(input, pos, len, sb, fail)
      else { sb.append(c); pos += 1 }
    }
    expect('>')
    sb.toString
  }

  private def resolve(iri: String): String = {
    if (base == null || iri.contains("://") || iri.startsWith("urn:") ||
        iri.startsWith("mailto:") || iri.startsWith("uuid:")) iri
    else if (iri.startsWith("#")) {
      val h = base.indexOf('#')
      (if (h >= 0) base.substring(0, h) else base) + iri
    } else if (iri.isEmpty) base
    else if (iri.startsWith("/")) {
      val schemeEnd = base.indexOf("://")
      if (schemeEnd < 0) base + iri
      else {
        val pathStart = base.indexOf('/', schemeEnd + 3)
        (if (pathStart < 0) base else base.substring(0, pathStart)) + iri
      }
    } else {
      val cut = base.lastIndexOf('/')
      if (cut < 0) base + iri else base.substring(0, cut + 1) + iri
    }
  }

  private def parsePrefixedName(): Term = {
    val start = pos
    while (pos < len && input.charAt(pos) != ':' && isPNChar(input.charAt(pos))) pos += 1
    if (pos >= len || input.charAt(pos) != ':') fail(s"expected prefixed name at '${context(start)}'")
    val prefix = input.substring(start, pos)
    pos += 1
    val localStart = pos
    val sb = new StringBuilder
    while (pos < len && (isPNChar(input.charAt(pos)) || input.charAt(pos) == '.' ||
           input.charAt(pos) == '\\' || input.charAt(pos) == '%')) {
      val c = input.charAt(pos)
      if (c == '\\') { pos += 1; sb.append(input.charAt(pos)); pos += 1 } // PN local escape
      else if (c == '.') {
        // '.' is part of the name only if followed by a name char
        if (pos + 1 < len && (isPNChar(input.charAt(pos + 1)) || input.charAt(pos + 1) == '.')) {
          sb.append('.'); pos += 1
        } else { /* statement terminator */ return finishPrefixed(prefix, sb.toString, localStart) }
      } else { sb.append(c); pos += 1 }
    }
    finishPrefixed(prefix, sb.toString, localStart)
  }

  private def finishPrefixed(prefix: String, local: String, at: Int): Term = {
    prefixes.get(prefix) match {
      case Some(ns) => Term.iri(ns + local)
      case None => fail(s"undefined prefix '$prefix:' at '${context(at)}'")
    }
  }

  private def parseBlankLabel(): String = {
    val start = pos
    while (pos < len && (isPNChar(input.charAt(pos)) ||
           (input.charAt(pos) == '.' && pos + 1 < len && isPNChar(input.charAt(pos + 1))))) pos += 1
    if (pos == start) fail("empty blank node label")
    input.substring(start, pos)
  }

  private def parseLiteral(): Term = {
    val quote = peek()
    val long = pos + 2 < len && input.charAt(pos + 1) == quote && input.charAt(pos + 2) == quote
    val lex = if (long) parseLongString(quote) else parseShortString(quote)
    // suffix: @lang or ^^datatype
    if (pos < len && peek() == '@') {
      pos += 1
      val start = pos
      while (pos < len && (input.charAt(pos).isLetterOrDigit || input.charAt(pos) == '-')) pos += 1
      Term.langLit(lex, input.substring(start, pos))
    } else if (pos + 1 < len && peek() == '^' && input.charAt(pos + 1) == '^') {
      pos += 2
      val dt = parseTerm(allowLiteral = false)
      if (!dt.isIri) fail("datatype must be an IRI")
      if (dt.lex == Term.XSD_STRING) Term.lit(lex) else Term.typed(lex, dt.lex)
    } else Term.lit(lex)
  }

  private def parseShortString(quote: Char): String = {
    expect(quote)
    val sb = new StringBuilder
    while (pos < len && input.charAt(pos) != quote) {
      val c = input.charAt(pos)
      if (c == '\\') pos = Term.unescape(input, pos, len, sb, fail)
      else if (c == '\n' || c == '\r') fail("newline in single-quoted string")
      else { sb.append(c); pos += 1 }
    }
    expect(quote)
    sb.toString
  }

  private def parseLongString(quote: Char): String = {
    pos += 3
    val sb = new StringBuilder
    while (pos < len) {
      if (pos + 2 < len && input.charAt(pos) == quote &&
          input.charAt(pos + 1) == quote && input.charAt(pos + 2) == quote &&
          (pos + 3 >= len || input.charAt(pos + 3) != quote)) {
        pos += 3
        return sb.toString
      }
      val c = input.charAt(pos)
      if (c == '\\') pos = Term.unescape(input, pos, len, sb, fail)
      else { sb.append(c); pos += 1 }
    }
    fail("unterminated long string")
  }

  private def parseNumber(): Term = {
    val start = pos
    if (peek() == '+' || peek() == '-') pos += 1
    var digits = false
    var dot = false
    var exp = false
    var done = false
    while (pos < len && !done) {
      val c = input.charAt(pos)
      if (c.isDigit) { digits = true; pos += 1 }
      else if (c == '.' && !dot && !exp && pos + 1 < len && input.charAt(pos + 1).isDigit) { dot = true; pos += 1 }
      else if ((c == 'e' || c == 'E') && digits && !exp) {
        exp = true; pos += 1
        if (pos < len && (input.charAt(pos) == '+' || input.charAt(pos) == '-')) pos += 1
      } else done = true
    }
    if (!digits) fail("malformed numeric literal")
    val lex = input.substring(start, pos)
    val dt = if (exp) Term.XSD_DOUBLE else if (dot) Term.XSD_DECIMAL else Term.XSD_INTEGER
    Term.typed(lex, dt)
  }

  // --- lexer utilities ------------------------------------------------------

  private def peek(): Char = if (pos < len) input.charAt(pos) else '\u0000'

  private def peekKeyword(kw: String): Boolean =
    input.regionMatches(pos, kw, 0, kw.length) &&
      (pos + kw.length >= len || !isPNChar(input.charAt(pos + kw.length)))

  private def peekKeywordCI(kw: String): Boolean =
    input.regionMatches(true, pos, kw, 0, kw.length) &&
      (pos + kw.length >= len || !isPNChar(input.charAt(pos + kw.length)))

  private def isPNStart(c: Char): Boolean = c.isLetter || c >= 0x00C0
  private def isPNChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '-' || c >= 0x00C0

  private def skipWs(): Unit = {
    var go = true
    while (go && pos < len) {
      val c = input.charAt(pos)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') pos += 1
      else if (c == '#') { while (pos < len && input.charAt(pos) != '\n') pos += 1 }
      else go = false
    }
  }

  private def expect(c: Char): Unit = {
    skipWs()
    if (pos >= len || input.charAt(pos) != c)
      fail(s"expected '$c' at '${context(pos)}'")
    pos += 1
  }

  private def expectDot(): Unit = expect('.')

  private def context(at: Int): String = {
    val s = math.max(0, at - 10)
    val e = math.min(len, at + 20)
    input.substring(s, e).replace("\n", "\\n")
  }

  private def fail(msg: String): Nothing = {
    val line = input.substring(0, math.min(pos, len)).count(_ == '\n') + 1
    throw new RdfParseException(s"[line $line] $msg")
  }
}

object TurtleParser {
  def parseTurtle(doc: String): Seq[Quad] = new TurtleParser(doc, trig = false).parse()
  def parseTrig(doc: String): Seq[Quad] = new TurtleParser(doc, trig = true).parse()
}
