package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed RDF/XML serialization — the egress twin of
  * [[RdfXmlParser]], closing the content-negotiation asymmetry with
  * the reference deployment (a Fuseki GSP endpoint serves
  * `application/rdf+xml` for any graph it can parse;
  * config-connector.ttl:14-18 wires `fuseki:gsp-rw`).
  *
  * One `rdf:Description` element per triple (striped form, processors
  * merge by `rdf:about`) as ONE codegen'd projection — no driver hop,
  * no per-subject grouping shuffle. Each property element declares its
  * namespace inline (`xmlns:n="…"`), so no global prefix collection
  * pass exists either; shards/streams stay independent.
  *
  * Contract bounds (all FAIL loudly, nothing drops silently):
  *  - triples only — named-graph quads are un-representable (callers
  *    merge graphs or use TriG/N-Quads);
  *  - every predicate IRI must end in an XML NCName local part
  *    (`…/p` or `…#label`; an IRI ending in `/` cannot be a property
  *    element name — the same bound Jena's writer enforces);
  *  - no quoted-triple (RDF-star) terms — RDF/XML has no syntax for
  *    them (classic reification is the parser-side mapping);
  *  - text must be XML-1.0-legal (control chars below 0x20 other than
  *    tab/newline/cr are unencodable in XML — standard limitation).
  */
object XmlWriter {

  val HEADER: Seq[String] = Seq(
    """<?xml version="1.0" encoding="UTF-8"?>""",
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">""")
  val FOOTER: Seq[String] = Seq("</rdf:RDF>")

  /** rdf:nodeID must be an XML NCName; event-decode SCOPES blank
    * labels with ':' (topic:partition:offset:label), which is not.
    * Valid labels pass through; others map to a deterministic hash
    * name — a pure function of the label, so co-reference within the
    * document is preserved, which is all a blank label promises
    * (star terms are rejected up front, so no label can hide inside
    * a quoted-triple lex where the rename couldn't reach it).
    */
  private[rdf] def ncLabel(c: Column): Column =
    when(c.rlike("^[A-Za-z_][A-Za-z0-9_.\\-]*$"), c)
      .otherwise(concat(lit("gb"), lower(hex(xxhash64(c)))))

  private[graft] def escText(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  private[graft] def escAttr(c: Column): Column =
    regexp_replace(escText(c), "\"", "&quot;")

  /** Longest NCName-shaped suffix of a predicate IRI — the XML local
    * name; the remainder is the inline-declared namespace.
    */
  private val LOCAL_RE = "([A-Za-z_][A-Za-z0-9_.\\-]*)$"

  /** A triples DataFrame (graph, subject, predicate, obj — graph must
    * be all-null) as one `line` STRING column, one self-contained
    * `rdf:Description` element per row. Validity of the input is the
    * caller's job (see [[requireRepresentable]]).
    */
  def rdfXmlLines(triples: DataFrame): DataFrame = {
    val p = col("predicate").getField("lex")
    val local = regexp_extract(p, LOCAL_RE, 1)
    val ns = p.substr(lit(1), length(p) - length(local))
    val s = col("subject")
    val o = col("obj")
    val subjAttr =
      when(s.getField("termType") === Term.IRI,
        concat(lit("rdf:about=\""), escAttr(s.getField("lex")), lit("\"")))
      .otherwise(
        concat(lit("rdf:nodeID=\""), ncLabel(s.getField("lex")), lit("\"")))
    val open = concat(lit("<n:"), local, lit(" xmlns:n=\""), escAttr(ns), lit("\""))
    val prop =
      when(o.getField("termType") === Term.IRI,
        concat(open, lit(" rdf:resource=\""), escAttr(o.getField("lex")), lit("\"/>")))
      .when(o.getField("termType") === Term.BLANK,
        concat(open, lit(" rdf:nodeID=\""), ncLabel(o.getField("lex")), lit("\"/>")))
      .otherwise(concat(open,
        when(o.getField("lang").isNotNull,
          concat(lit(" xml:lang=\""), o.getField("lang"), lit("\"")))
        .when(o.getField("datatype").isNotNull &&
            o.getField("datatype") =!= Term.XSD_STRING,
          concat(lit(" rdf:datatype=\""), escAttr(o.getField("datatype")), lit("\"")))
        .otherwise(lit("")),
        lit(">"), escText(o.getField("lex")), lit("</n:"), local, lit(">")))
    triples.select(concat(
      lit("<rdf:Description "), subjAttr, lit(">"), prop,
      lit("</rdf:Description>")).as("line"))
  }

  /** Fail-loud validation the server runs before an RDF/XML response:
    * named graphs, quoted-triple terms, and un-splittable predicate
    * IRIs are contract violations, not rows to drop. Three
    * short-circuiting take(1) probes over pruned columns.
    */
  def requireRepresentable(quads: DataFrame): Unit = {
    if (!quads.filter(col("graph").isNotNull).isEmpty)
      throw new IllegalArgumentException(
        "rdf/xml export: dataset contains named-graph quads, which RDF/XML " +
        "cannot represent — merge graphs first or use TriG / N-Quads")
    if (!quads.filter(col("subject.termType") === Term.TRIPLE ||
        col("obj.termType") === Term.TRIPLE).isEmpty)
      throw new IllegalArgumentException(
        "rdf/xml export: dataset contains quoted-triple (RDF-star) terms, " +
        "which RDF/XML cannot represent — use Turtle / N-Quads")
    if (!quads.filter(
        regexp_extract(col("predicate.lex"), LOCAL_RE, 1) === "").isEmpty)
      throw new IllegalArgumentException(
        "rdf/xml export: a predicate IRI has no XML local-name suffix " +
        "(ends in '/', '#' or a digit-led segment) and cannot form a " +
        "property element — use Turtle / N-Quads")
  }
}
