package graft.sparql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructType}

import graft.rdf.{NtWriter, Term, XmlWriter}

/** W3C SPARQL 1.1 Query Results serialization — the response formats
  * the reference's host server speaks over HTTP (a Fuseki `fuseki:query`
  * endpoint content-negotiates `application/sparql-results+json`,
  * `…+xml`, `text/csv`, `text/tab-separated-values`; the reference's
  * own integration tests read query results over that surface,
  * DockerTestConfigFK.java:144-153).
  *
  * Serialization is DISTRIBUTED: each solution row renders to one
  * output line as a single codegen'd `concat` projection over the
  * term-struct columns (the [[graft.rdf.NtWriter]] shape — no driver
  * hop, no UDF), so a 100 TB result set serializes with the same plan
  * cost as a projection. Document framing (JSON/XML header + footer)
  * is O(1) driver-side string glue; [[SparqlHttp]] streams the line
  * iterator straight into the HTTP response.
  *
  * Result DataFrames come from [[Sparql.execute]]: SELECT variables
  * are term structs (termType, lex, datatype, lang), while top-level
  * aggregate aliases are raw SQL values (long/decimal/double/string/
  * boolean) — [[termish]] lifts those back to typed-literal structs so
  * every format sees uniform RDF terms (`COUNT` → `xsd:integer`, etc.).
  */
object ResultsWriter {

  /** A result column as a term struct: term-struct columns pass
    * through; raw SQL aggregate columns become the typed literal a
    * SPARQL engine would have returned for them.
    */
  private def termish(df: DataFrame, name: String): Column = {
    val f = df.schema(name)
    def typed(dt: String): Column =
      Term.column(Term.LIT, col(name).cast("string"), lit(dt).cast("string"))
    f.dataType match {
      case _: StructType => col(name)
      case StringType =>
        when(col(name).isNull, lit(null).cast(Term.Schema))
          .otherwise(Term.column(Term.LIT, col(name)))
      case BooleanType =>
        when(col(name).isNull, lit(null).cast(Term.Schema))
          .otherwise(typed(Term.XSD_BOOLEAN))
      case t =>
        val xsd = t.typeName match {
          case "long" | "integer" | "int" | "short" | "byte" => Term.XSD_INTEGER
          case "double" | "float" => Term.XSD_DOUBLE
          case _ => Term.XSD_DECIMAL // decimal(p,s)
        }
        when(col(name).isNull, lit(null).cast(Term.Schema))
          .otherwise(typed(xsd))
    }
  }

  // --- JSON (application/sparql-results+json) -------------------------------

  /** One term as its results-JSON object (`{"type":…,"value":…}`).
    * `to_json` over a struct does the string escaping in codegen; the
    * variant fields (xml:lang / datatype) pick the struct shape.
    * A quoted triple serializes as `{"type":"triple","value":"<<…>>"}`
    * — the flat canonical form the engine stores (RDF-star JSON
    * results nest the components; the lex IS that triple, documented
    * engine-wide in [[graft.rdf.Term.TRIPLE]]).
    */
  private def termJson(c: Column): Column = {
    val lex = c.getField("lex")
    val dt = c.getField("datatype")
    val lang = c.getField("lang")
    when(c.isNull, lit(null).cast("string"))
      .when(c.getField("termType") === Term.IRI,
        to_json(struct(lit("uri").as("type"), lex.as("value"))))
      .when(c.getField("termType") === Term.BLANK,
        to_json(struct(lit("bnode").as("type"), lex.as("value"))))
      .when(c.getField("termType") === Term.TRIPLE,
        to_json(struct(lit("triple").as("type"), lex.as("value"))))
      .when(lang.isNotNull,
        to_json(struct(lit("literal").as("type"), lex.as("value"),
          lang.as("xml:lang"))))
      .when(dt.isNotNull && dt =!= Term.XSD_STRING,
        to_json(struct(lit("literal").as("type"), lex.as("value"),
          dt.as("datatype"))))
      .otherwise(to_json(struct(lit("literal").as("type"), lex.as("value"))))
  }

  /** Each solution as one results-JSON binding object line
    * (`{"var":{...},...}` — unbound variables omitted, per spec).
    */
  def jsonBindingLines(df: DataFrame): DataFrame = {
    val parts = df.columns.toSeq.map { v =>
      val t = termJson(termish(df, v))
      when(t.isNotNull,
        concat(lit("\"" + jsonEscape(v) + "\":"), t))
        .otherwise(lit(null).cast("string"))
    }
    // concat_ws skips nulls: an all-unbound row correctly renders "{}"
    df.select(concat(lit("{"), concat_ws(",", parts: _*), lit("}")).as("line"))
  }

  def jsonHead(vars: Seq[String]): String =
    """{"head":{"vars":[""" +
      vars.map(v => "\"" + jsonEscape(v) + "\"").mkString(",") +
      """]},"results":{"bindings":["""

  val jsonFoot: String = "]}}"

  def askJson(b: Boolean): String = s"""{"head":{},"boolean":$b}"""

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  // --- XML (application/sparql-results+xml) ---------------------------------

  /** One term as its `<binding name="v">…</binding>` element; null
    * (unbound) renders nothing.
    */
  private def termXml(name: String, c: Column): Column = {
    val lex = XmlWriter.escText(c.getField("lex"))
    val dt = c.getField("datatype")
    val lang = c.getField("lang")
    val open = lit(s"""<binding name="${xmlAttrEscape(name)}">""")
    val close = lit("</binding>")
    when(c.isNull, lit(""))
      .when(c.getField("termType") === Term.IRI,
        concat(open, lit("<uri>"), lex, lit("</uri>"), close))
      .when(c.getField("termType") === Term.BLANK,
        concat(open, lit("<bnode>"), lex, lit("</bnode>"), close))
      // flat quoted-triple form, mirroring termJson: the canonical
      // `<<…>>` lexical under a marker datatype (SPARQL 1.2 XML
      // results nest components; the engine's triple term is flat)
      .when(c.getField("termType") === Term.TRIPLE,
        concat(open, lit("<literal datatype=\"" +
          xmlAttrEscape(Term.RDF_NS + "triple") + "\">"), lex,
          lit("</literal>"), close))
      .when(lang.isNotNull,
        concat(open, lit("<literal xml:lang=\""), XmlWriter.escAttr(lang),
          lit("\">"), lex, lit("</literal>"), close))
      .when(dt.isNotNull && dt =!= Term.XSD_STRING,
        concat(open, lit("<literal datatype=\""), XmlWriter.escAttr(dt),
          lit("\">"), lex, lit("</literal>"), close))
      .otherwise(concat(open, lit("<literal>"), lex, lit("</literal>"), close))
  }

  private def xmlAttrEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace("\"", "&quot;")

  /** Each solution as one `<result>…</result>` line. */
  def xmlResultLines(df: DataFrame): DataFrame = {
    val parts = df.columns.toSeq.map(v => termXml(v, termish(df, v)))
    df.select(concat(lit("<result>") +: parts :+ lit("</result>"): _*).as("line"))
  }

  def xmlHead(vars: Seq[String]): String =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""" +
      vars.map(v => s"""<variable name="${xmlAttrEscape(v)}"/>""").mkString +
      "</head><results>"

  val xmlFoot: String = "</results></sparql>"

  def askXml(b: Boolean): String =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">""" +
      s"<head/><boolean>$b</boolean></sparql>"

  // --- CSV / TSV (sparql11-results-csv-tsv) ---------------------------------

  /** CSV cell per spec §3: the plain string form of the term (IRI
    * string, `_:label`, bare lexical form), RFC 4180-quoted when it
    * contains a comma, quote, or newline.
    */
  private def termCsv(c: Column): Column = {
    val plain = when(c.isNull, lit(""))
      .when(c.getField("termType") === Term.BLANK,
        concat(lit("_:"), c.getField("lex")))
      .otherwise(c.getField("lex"))
    val needsQuote = plain.contains(",") || plain.contains("\"") ||
      plain.contains("\n") || plain.contains("\r")
    when(needsQuote,
      concat(lit("\""), regexp_replace(plain, "\"", "\"\""), lit("\"")))
      .otherwise(plain)
  }

  /** Each solution as one CSV record line (header NOT included — see
    * [[csvHeader]]; the writer prepends it at assembly).
    */
  def csvLines(df: DataFrame): DataFrame = {
    val parts = df.columns.toSeq.map(v => termCsv(termish(df, v)))
    df.select(concat_ws(",", parts: _*).as("line"))
  }

  def csvHeader(vars: Seq[String]): String = vars.mkString(",")

  /** TSV cell per spec §4: full SPARQL/N-Triples term syntax (the
    * round-trippable format) — exactly [[NtWriter.termNt]].
    */
  def tsvLines(df: DataFrame): DataFrame = {
    val parts = df.columns.toSeq
      .map(v => coalesce(NtWriter.termNt(termish(df, v)), lit("")))
    df.select(concat_ws("\t", parts: _*).as("line"))
  }

  def tsvHeader(vars: Seq[String]): String = vars.map("?" + _).mkString("\t")

  // --- document assembly ----------------------------------------------------

  /** Assemble a complete SELECT results document as a lazy line
    * iterator: header, the distributed lines (streamed via
    * `toLocalIterator` — one partition in driver memory at a time),
    * footer. JSON binding lines need `,` separators, handled here.
    */
  def documentLines(df: DataFrame, format: String): Iterator[String] = {
    val vars = df.columns.toSeq
    format match {
      case "json" =>
        val it = jsonBindingLines(df).toLocalIterator()
        var first = true
        Iterator(jsonHead(vars)) ++ new Iterator[String] {
          def hasNext = it.hasNext
          def next() = {
            val sep = if (first) "" else ","
            first = false
            sep + it.next().getString(0)
          }
        } ++ Iterator(jsonFoot)
      case "xml" =>
        Iterator(xmlHead(vars)) ++
          xmlResultLines(df).toLocalIterator().asScala.map(_.getString(0)) ++
          Iterator(xmlFoot)
      case "csv" =>
        Iterator(csvHeader(vars)) ++
          csvLines(df).toLocalIterator().asScala.map(_.getString(0))
      case "tsv" =>
        Iterator(tsvHeader(vars)) ++
          tsvLines(df).toLocalIterator().asScala.map(_.getString(0))
      case other =>
        throw new IllegalArgumentException(s"unknown results format '$other'")
    }
  }

  /** Full document as one string (tests / small responses). */
  def document(df: DataFrame, format: String): String = {
    val sep = format match { case "json" => "" case _ => "\n" }
    documentLines(df, format).mkString("", sep, "")
  }

  /** Distributed export: SELECT results as sharded text files (CSV /
    * TSV — the line-oriented formats; each task writes its partition).
    */
  def exportCsv(df: DataFrame, path: String): Unit =
    csvLines(df).write.mode("overwrite").text(path)

  def exportTsv(df: DataFrame, path: String): Unit =
    tsvLines(df).write.mode("overwrite").text(path)
}
