package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed JSON-LD serialization (expanded form) — the egress twin
  * of [[JsonLdParser]], closing the content-negotiation asymmetry with
  * the reference deployment (a Fuseki GSP endpoint serves
  * `application/ld+json`).
  *
  * One node object per quad as ONE codegen'd projection: default-graph
  * rows become `{"@id": s, "<pred>": [obj]}`, named-graph rows wrap as
  * `{"@id": g, "@graph": [node]}`. Expanded JSON-LD allows repeated
  * `@id` entries (consumers merge them), so no per-subject grouping
  * shuffle exists and shards/streams stay independent. The document is
  * the JSON array of the lines — framing (`[`, commas, `]`) is O(1)
  * driver-side, the [[graft.sparql.ResultsWriter]] shape.
  *
  * JSON string escaping is delegated to Spark's own JSON writer via
  * `to_json(array(x))` minus the brackets — byte-exact Jackson
  * escaping with zero hand-rolled rules, inside codegen.
  *
  * Lexical forms are preserved exactly: every literal serializes as a
  * string `@value` with explicit `@type`, so `"01"^^xsd:integer`
  * round-trips through [[JsonLdParser]] term-for-term (a native JSON
  * number would canonicalize and lose it).
  *
  * Quoted-triple (RDF-star) terms have no JSON-LD 1.1 mapping and FAIL
  * the export (no silent drop) — use Turtle / N-Quads.
  */
object JsonLdWriter {

  /** `x` as a JSON string token (quotes included), escaped by Spark's
    * JSON writer: to_json of a one-element array, brackets stripped.
    */
  private def jstr(c: Column): Column = {
    val j = to_json(array(c))
    j.substr(lit(2), length(j) - 2)
  }

  /** `@id` string of an IRI or blank term. Blank labels must satisfy
    * the BLANK_NODE_LABEL grammar for external consumers; invalid ones
    * (event-scoped labels carry ':') map through the same
    * deterministic rename as [[XmlWriter.ncLabel]] — co-reference
    * within the document is preserved (pure function of the label;
    * star terms are rejected up front so no label hides inside a
    * quoted-triple lex).
    */
  private def idOf(c: Column): Column =
    when(c.getField("termType") === Term.BLANK,
      concat(lit("_:"), XmlWriter.ncLabel(c.getField("lex"))))
      .otherwise(c.getField("lex"))

  /** A quads DataFrame as one `line` STRING column, one expanded
    * node object per row (see class doc).
    */
  def jsonLdLines(quads: DataFrame): DataFrame = {
    val o = col("obj")
    val objJson =
      when(o.getField("termType").isin(Term.IRI, Term.BLANK),
        concat(lit("{\"@id\":"), jstr(idOf(o)), lit("}")))
      .otherwise(concat(
        lit("{\"@value\":"), jstr(o.getField("lex")),
        when(o.getField("lang").isNotNull,
          concat(lit(",\"@language\":"), jstr(o.getField("lang"))))
        .when(o.getField("datatype").isNotNull &&
            o.getField("datatype") =!= Term.XSD_STRING,
          concat(lit(",\"@type\":"), jstr(o.getField("datatype"))))
        .otherwise(lit("")),
        lit("}")))
    val node = concat(
      lit("{\"@id\":"), jstr(idOf(col("subject"))), lit(","),
      jstr(col("predicate").getField("lex")), lit(":["), objJson, lit("]}"))
    quads.select(
      when(col("graph").isNotNull, concat(
        lit("{\"@id\":"), jstr(idOf(col("graph"))),
        lit(",\"@graph\":["), node, lit("]}")))
      .otherwise(node).as("line"))
  }

  /** Fail-loud star-term check (shared by export and server paths). */
  def requireRepresentable(quads: DataFrame): Unit =
    if (!quads.filter(col("subject.termType") === Term.TRIPLE ||
        col("obj.termType") === Term.TRIPLE ||
        col("graph.termType") === Term.TRIPLE).isEmpty)
      throw new IllegalArgumentException(
        "json-ld export: dataset contains quoted-triple (RDF-star) terms, " +
        "which JSON-LD 1.1 cannot represent — use Turtle / N-Quads")

  /** The node-object lines framed as one JSON array document. */
  def documentLines(quads: DataFrame): Iterator[String] = {
    import quads.sparkSession.implicits._
    import scala.jdk.CollectionConverters._
    val it = jsonLdLines(quads).select(col("line")).as[String]
      .toLocalIterator().asScala
    var first = true
    Iterator("[") ++ it.map { l =>
      if (first) { first = false; l } else "," + l
    } ++ Iterator("]")
  }
}
