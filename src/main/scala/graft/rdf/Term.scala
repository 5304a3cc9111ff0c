package graft.rdf

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** RDF term — the engine's analogue of a Jena `Node`
  * (reference: jena-fuseki-kafka models terms via Jena `NodeFactory`,
  * e.g. AbstractDockerTests.java:64-70).
  *
  * Represented as a flat nested-struct-friendly case class so Catalyst
  * can prune and push down on its fields (SURVEY.md §1.1): termType is
  * one of "iri" | "blank" | "lit"; datatype/lang are null except for
  * literals (datatype null for plain xsd:string literals).
  */
final case class Term(termType: String, lex: String, datatype: String, lang: String) {
  def isIri: Boolean = termType == Term.IRI
  def isBlank: Boolean = termType == Term.BLANK
  def isLit: Boolean = termType == Term.LIT
  def isTriple: Boolean = termType == Term.TRIPLE

  /** Canonical N-Triples serialization (also used for DLQ echoes and
    * deterministic hashing). A quoted triple's lex IS its canonical
    * `<< s p o >>` form (see [[Term.quoted]]), so it passes through.
    */
  def toNT: String = termType match {
    case Term.IRI    => s"<$lex>"
    case Term.BLANK  => s"_:$lex"
    case Term.TRIPLE => lex
    case _ =>
      val escaped = Term.escapeLiteral(lex)
      if (lang != null) s""""$escaped"@$lang"""
      else if (datatype != null && datatype != Term.XSD_STRING) s""""$escaped"^^<$datatype>"""
      else s""""$escaped""""
  }
}

object Term {
  val IRI = "iri"
  val BLANK = "blank"
  val LIT = "lit"
  /** RDF-star quoted triple (Jena: `Node_Triple`, used by the
    * reference stack's RIOT parsers for Turtle-star/N-Triples-star
    * payloads). Kept IN the flat 4-field struct: lex carries the
    * canonical `<<s p o>>` N-Triples-star string (single spaces,
    * canonical component serialization), so Catalyst equality, joins,
    * shuffles and hashing work on quoted triples with zero schema
    * change, and nesting is just nesting in the string. Components
    * are recovered by [[graft.functions.TermStar]].
    */
  val TRIPLE = "triple"

  val XSD = "http://www.w3.org/2001/XMLSchema#"
  val XSD_STRING: String = XSD + "string"
  val XSD_INTEGER: String = XSD + "integer"
  val XSD_DECIMAL: String = XSD + "decimal"
  val XSD_DOUBLE: String = XSD + "double"
  val XSD_FLOAT: String = XSD + "float"
  val XSD_BOOLEAN: String = XSD + "boolean"
  val XSD_DATETIME: String = XSD + "dateTime"
  val XSD_DATE: String = XSD + "date"
  val RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RDF_TYPE: String = RDF_NS + "type"
  /** Datatype of a language-tagged literal (RDF 1.1 §3.3). */
  val RDF_LANGSTRING: String = RDF_NS + "langString"
  /** Datatype of a language+direction literal, `"x"@en--ltr`
    * (RDF 1.2; the reference stack's Jena 6 parses these). The engine
    * stores the combined `lang--dir` in the lang field — parsers and
    * serializers pass it through; LANG/LANGDIR/DATATYPE split it.
    */
  val RDF_DIRLANGSTRING: String = RDF_NS + "dirLangString"
  val RDF_FIRST: String = RDF_NS + "first"
  val RDF_REST: String = RDF_NS + "rest"
  val RDF_NIL: String = RDF_NS + "nil"

  def iri(lex: String): Term = Term(IRI, lex, null, null)
  def blank(label: String): Term = Term(BLANK, label, null, null)
  /** Quoted triple from its components (canonical encoding — equal
    * component terms ⇒ byte-equal lex, so struct equality IS RDF-star
    * term equality).
    */
  def quoted(s: Term, p: Term, o: Term): Term =
    Term(TRIPLE, s"<<${s.toNT} ${p.toNT} ${o.toNT}>>", null, null)
  def lit(lex: String): Term = Term(LIT, lex, null, null)
  def typed(lex: String, dt: String): Term = Term(LIT, lex, dt, null)
  def langLit(lex: String, lang: String): Term = Term(LIT, lex, null, lang)

  // --- the term's Spark form -----------------------------------------------

  /** The term as a Spark struct column: the case class's four fields,
    * each a nullable string. Every term column, segment file and
    * decoded event uses this one type.
    */
  val Schema: StructType =
    StructType(Seq("termType", "lex", "datatype", "lang").map(StructField(_, StringType)))

  /** Whether `dt` is the term struct — the input check of the term
    * expressions in [[graft.functions]].
    */
  def isStruct(dt: DataType): Boolean = dt match {
    case StructType(fields) => fields.map(_.name).toSeq == Schema.fieldNames.toSeq
    case _ => false
  }

  /** A term-struct column of kind `termType` (one of [[IRI]], [[BLANK]],
    * [[LIT]], [[TRIPLE]]). An omitted `datatype` or `lang` is a null
    * string.
    */
  def column(termType: String, lex: Column, datatype: Column = null,
      lang: Column = null): Column = {
    def orNull(c: Column) = if (c == null) F.lit(null).cast("string") else c
    F.struct(F.lit(termType).as("termType"), lex.as("lex"),
      orNull(datatype).as("datatype"), orNull(lang).as("lang"))
  }

  /** `t` as a constant term-struct column. */
  def column(t: Term): Column =
    column(t.termType, F.lit(t.lex), F.lit(t.datatype).cast("string"),
      F.lit(t.lang).cast("string"))

  /** `t` as the internal row its struct column holds; null stays null. */
  def row(t: Term): InternalRow =
    if (t == null) null
    else new GenericInternalRow(Array[Any](UTF8String.fromString(t.termType),
      UTF8String.fromString(t.lex), UTF8String.fromString(t.datatype),
      UTF8String.fromString(t.lang)))

  def escapeLiteral(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Decode the string escape whose backslash is at `at` in `s` (an
    * ECHAR or a `\uXXXX`/`\UXXXXXXXX` UCHAR, ending before `end`) onto
    * `sb` and return the index past it — the one escape table of N-Quads,
    * Turtle and SPARQL strings (SPARQL 1.1 §19.2, §19.8). `fail` raises a
    * malformed escape as the caller's parse error.
    */
  def unescape(s: String, at: Int, end: Int, sb: StringBuilder,
      fail: String => Nothing): Int = {
    if (at + 1 >= end) fail("dangling escape")
    def hex(esc: Char, n: Int): Long = {
      if (at + 2 + n > end) fail(s"bad \\$esc escape")
      val digits = s.substring(at + 2, at + 2 + n)
      if (!digits.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0))
        fail(s"bad hex in \\$esc escape: '$digits'")
      java.lang.Long.parseLong(digits, 16)
    }
    s.charAt(at + 1) match {
      case 'u' =>
        sb.append(hex('u', 4).toChar)
        at + 6
      case 'U' =>
        val cp = hex('U', 8)
        if (cp > Character.MAX_CODE_POINT)
          fail(s"\\U escape out of unicode range: ${s.substring(at + 2, at + 10)}")
        sb.appendAll(Character.toChars(cp.toInt))
        at + 10
      case c => // ECHAR: the letter's index picks the character
        val i = "tbnrf\"'\\".indexOf(c)
        if (i < 0) fail(s"bad escape '\\$c'")
        sb.append("\t\b\n\r\f\"'\\".charAt(i))
        at + 2
    }
  }
}

/** A quad: graph is null for the default graph (FIXTURES.md §6). */
final case class Quad(graph: Term, subject: Term, predicate: Term, obj: Term) {
  def toNQ: String = {
    val g = if (graph == null) "" else s" ${graph.toNT}"
    s"${subject.toNT} ${predicate.toNT} ${obj.toNT}$g ."
  }
}

object Quad {
  /** The quad's columns, in the case class's field order. */
  val Columns: Seq[String] = Seq("graph", "subject", "predicate", "obj")

  /** A quad as Spark columns: one [[Term.Schema]] struct per position. */
  val Schema: StructType = StructType(Columns.map(StructField(_, Term.Schema)))

  /** `q` as the internal row `struct(graph, subject, predicate, obj)`
    * holds over [[Schema]] columns.
    */
  def row(q: Quad): InternalRow =
    new GenericInternalRow(Array[Any](Term.row(q.graph), Term.row(q.subject),
      Term.row(q.predicate), Term.row(q.obj)))
}

/** One RDF Patch operation (reference: patch1.rdfp fixture; op stream
  * semantics per RDFChangesApplyExternalTransaction.java:22-41).
  * op ∈ H, TX, TC, TA, A, D, PA, PD.
  */
final case class PatchOp(op: String, graph: Term, subject: Term, predicate: Term, obj: Term)

/** Parse failure carrying the reference's "deserialization failure"
  * semantics (FusekiProjector.java:502-508 RdfPayloadException):
  * raised before any store mutation, routes the event to the DLQ.
  */
final class RdfParseException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)
