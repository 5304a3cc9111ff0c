package graft.rdf

import scala.collection.mutable.ArrayBuffer

/** Line-oriented N-Triples / N-Quads parser — the hot ingest path (the
  * reference's default Content-Type is application/n-quads,
  * README.md:8-9). Unlike Turtle there are no prefixes, so each line
  * parses independently; errors carry the 1-based line number.
  */
object NQuadsParser {

  /** @param allowGraph true for N-Quads (optional 4th term), false for N-Triples */
  def parse(doc: String, allowGraph: Boolean): Seq[Quad] = {
    val out = ArrayBuffer[Quad]()
    var lineNo = 0
    var start = 0
    val n = doc.length
    while (start <= n) {
      val nl = doc.indexOf('\n', start)
      val end = if (nl < 0) n else nl
      lineNo += 1
      if (end > start) parseLine(doc, start, end, lineNo, allowGraph, out)
      start = end + 1
      if (nl < 0) start = n + 1
    }
    out.toSeq
  }

  private def parseLine(doc: String, from: Int, to: Int, lineNo: Int,
                        allowGraph: Boolean, out: ArrayBuffer[Quad]): Unit = {
    val s = new Scanner(doc, from, to, lineNo)
    s.skipWs()
    if (s.atEnd || s.peek == '#') return
    val subj = s.term()
    if (!subj.isIri && !subj.isBlank && !subj.isTriple)
      s.fail("subject must be IRI, blank node, or quoted triple")
    val pred = s.term()
    if (!pred.isIri) s.fail("predicate must be an IRI")
    val obj = s.term()
    s.skipWs()
    var graph: Term = null
    if (!s.atEnd && s.peek != '.') {
      if (!allowGraph) s.fail("unexpected 4th term in N-Triples")
      graph = s.term()
      if (!graph.isIri && !graph.isBlank) s.fail("graph label must be IRI or blank node")
      s.skipWs()
    }
    if (s.atEnd || s.peek != '.') s.fail("missing '.' terminator")
    s.advance()
    s.skipWs()
    if (!s.atEnd && s.peek != '#') s.fail("trailing content after '.'")
    out += Quad(graph, subj, pred, obj)
  }

  /** Components of a quoted-triple term, parsed back out of its
    * canonical `<<s p o>>` lex. Inverse of [[Term.quoted]]; used for
    * blank-node scoping inside quoted triples and by
    * [[graft.functions.TermStar]]'s SUBJECT/PREDICATE/OBJECT.
    */
  def components(t: Term): (Term, Term, Term) = {
    require(t.isTriple, s"not a quoted triple: ${t.toNT}")
    val lex = t.lex
    if (lex == null || lex.length < 4 || !lex.startsWith("<<") || !lex.endsWith(">>"))
      throw new RdfParseException(s"malformed quoted-triple lex: '$lex'")
    val s = new Scanner(lex, 2, lex.length - 2, 1)
    val subj = s.term(); val pred = s.term(); val obj = s.term()
    s.skipWs()
    if (!s.atEnd) s.fail("trailing content in quoted triple")
    (subj, pred, obj)
  }

  /** Scanner over one line; shared with the RDF Patch parser. */
  private[rdf] final class Scanner(doc: String, from: Int, val to: Int, lineNo: Int) {
    var pos: Int = from

    def atEnd: Boolean = pos >= to
    def peek: Char = doc.charAt(pos)
    def advance(): Unit = pos += 1

    def skipWs(): Unit =
      while (pos < to && (doc.charAt(pos) == ' ' || doc.charAt(pos) == '\t' || doc.charAt(pos) == '\r'))
        pos += 1

    def term(): Term = {
      skipWs()
      if (atEnd) fail("unexpected end of line")
      peek match {
        // RDF-star quoted triple `<< s p o >>`, or the RDF 1.2 WG
        // triple-term spelling `<<( s p o )>>` (Jena 6 accepts both) —
        // '<<' never begins an IRIREF (IRIs are absolute, and '<' is
        // excluded from IRIREF anyway), so one char of lookahead
        // disambiguates; both spellings normalize to the same term
        case '<' if pos + 1 < to && doc.charAt(pos + 1) == '<' =>
          pos += 2
          val wg = pos < to && peek == '(' // `<<(` triple-term form
          if (wg) advance()
          val s = term()
          if (!s.isIri && !s.isBlank && !s.isTriple)
            fail("quoted-triple subject must be IRI, blank node, or quoted triple")
          val p = term()
          if (!p.isIri) fail("quoted-triple predicate must be an IRI")
          val o = term()
          skipWs()
          if (wg) {
            if (atEnd || peek != ')') fail("unterminated triple term: expected ')>>'")
            advance(); skipWs()
          }
          if (pos + 1 >= to || peek != '>' || doc.charAt(pos + 1) != '>')
            fail("unterminated quoted triple: expected '>>'")
          pos += 2
          Term.quoted(s, p, o)
        case '<' =>
          advance()
          val sb = new StringBuilder
          while (!atEnd && peek != '>') {
            if (peek == '\\') pos = Term.unescape(doc, pos, to, sb, fail)
            else { sb.append(peek); advance() }
          }
          if (atEnd) fail("unterminated IRI")
          advance()
          Term.iri(sb.toString)
        case '_' =>
          advance()
          if (atEnd || peek != ':') fail("expected '_:'")
          advance()
          // Terms are self-delimiting: a label ends at whitespace OR at
          // the start of the next term ('<', '"', '#'). A medial '.' is
          // legal (PN_CHARS grammar) when followed by another label
          // char — same rule as TurtleParser.parseBlankLabel.
          val start = pos
          var done = false
          while (!atEnd && !done) {
            val c = peek
            if (isTermEnd(c) && c != '.') done = true
            else if (c == '.') {
              val nxOk = pos + 1 < to && {
                val nx = doc.charAt(pos + 1)
                !isTermEnd(nx) && nx != '.'
              }
              if (nxOk) advance() else done = true
            } else advance()
          }
          if (pos == start) fail("empty blank node label")
          Term.blank(doc.substring(start, pos))
        case '"' =>
          advance()
          val sb = new StringBuilder
          while (!atEnd && peek != '"') {
            if (peek == '\\') pos = Term.unescape(doc, pos, to, sb, fail)
            else { sb.append(peek); advance() }
          }
          if (atEnd) fail("unterminated literal")
          advance()
          val lex = sb.toString
          if (!atEnd && peek == '@') {
            advance()
            val start = pos
            while (!atEnd && (peek.isLetterOrDigit || peek == '-')) advance()
            if (pos == start) fail("empty language tag")
            Term.langLit(lex, doc.substring(start, pos))
          } else if (pos + 1 < to && peek == '^' && doc.charAt(pos + 1) == '^') {
            pos += 2
            val dt = term()
            if (!dt.isIri) fail("datatype must be an IRI")
            if (dt.lex == Term.XSD_STRING) Term.lit(lex) else Term.typed(lex, dt.lex)
          } else Term.lit(lex)
        case c => fail(s"unexpected character '$c'")
      }
    }

    private def isTermEnd(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\r' || c == '.' ||
      c == '<' || c == '"' || c == '#' ||
      c == '>' // a quoted triple's '>>' may directly follow a blank label

    def fail(msg: String): Nothing =
      throw new RdfParseException(s"[line $lineNo] $msg")
  }
}
