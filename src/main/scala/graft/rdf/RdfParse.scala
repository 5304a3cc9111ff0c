package graft.rdf

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Payload materialization + content-type dispatch (SURVEY.md §2.2
  * rows 10-11; reference FusekiProjector.materialiseValue,
  * FusekiProjector.java:502-508 and FusekiSink.java:41-45).
  *
  * An event's value bytes decode, per its Content-Type header, to
  * either a quad set ("dataset" kind) or an RDF Patch op stream
  * ("patch" kind). Default content type is application/n-quads
  * (README.md:8-9). Malformed payloads yield a non-null `_corrupt`
  * column (PERMISSIVE-mode analogue) instead of failing the job —
  * the DLQ split happens downstream on that column.
  */
object RdfParse {

  val CT_NQUADS = "application/n-quads"
  val CT_NTRIPLES = "application/n-triples"
  val CT_TURTLE = "text/turtle"
  val CT_TRIG = "application/trig"
  val CT_PATCH = "application/rdf-patch"
  val CT_SPARQL_UPDATE = "application/sparql-update"
  val CT_RDFXML = "application/rdf+xml"
  val CT_JSONLD = "application/ld+json"

  /** Content types that decode to an RDF Patch op stream. */
  val PatchTypes: Seq[String] = Seq(CT_PATCH, "text/rdf-patch")

  final case class Decoded(
      kind: String,               // "dataset" | "patch" | "update" | null on error
      quads: Seq[Quad],           // dataset kind
      ops: Seq[PatchOp],          // patch kind: the parsed stream, markers included
      _corrupt: String)           // non-null ⇒ deserialization failure

  /** Normalize a Content-Type header (strip parameters, lowercase). */
  def normalize(ct: String): String = {
    if (ct == null || ct.trim.isEmpty) CT_NQUADS
    else {
      val semi = ct.indexOf(';')
      (if (semi >= 0) ct.substring(0, semi) else ct).trim.toLowerCase
    }
  }

  /** Decode one payload. `scope` namespaces blank-node labels so that
    * distinct events can never collide (blank identity is per-document
    * in RDF; the reference gets this from Jena's per-parse labels).
    */
  def decode(value: Array[Byte], contentType: String, scope: String,
      jsonLdContexts: Map[String, String] = Map.empty): Decoded = {
    val ct = normalize(contentType)
    try {
      val doc = new String(value, StandardCharsets.UTF_8)
      ct match {
        case CT_NQUADS =>
          Decoded("dataset", scopeBlanks(NQuadsParser.parse(doc, allowGraph = true), scope), null, null)
        case CT_NTRIPLES =>
          Decoded("dataset", scopeBlanks(NQuadsParser.parse(doc, allowGraph = false), scope), null, null)
        case CT_TURTLE | "application/x-turtle" =>
          Decoded("dataset", scopeBlanks(TurtleParser.parseTurtle(doc), scope), null, null)
        case CT_TRIG =>
          Decoded("dataset", scopeBlanks(TurtleParser.parseTrig(doc), scope), null, null)
        case CT_RDFXML =>
          Decoded("dataset", scopeBlanks(RdfXmlParser.parse(doc), scope), null, null)
        case CT_JSONLD | "application/json+ld" =>
          Decoded("dataset",
            scopeBlanks(JsonLdParser.parse(doc, jsonLdContexts), scope), null, null)
        case t if PatchTypes.contains(t) =>
          Decoded("patch", null, RdfPatchParser.parse(doc), null)
        case CT_SPARQL_UPDATE =>
          // validate now (parse errors must DLQ before any store
          // mutation); WHERE-driven ops need the live store state, so
          // the sink re-parses and resolves at apply time
          graft.sparql.SparqlUpdate.parse(doc)
          Decoded("update", null, null, null)
        case other =>
          Decoded(null, null, null, s"No RDF parser for content type '$other'")
      }
    } catch {
      case e: RdfParseException => Decoded(null, null, null, s"$ct: ${e.getMessage}")
      case e: Exception => Decoded(null, null, null, s"$ct: unexpected ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** `t` with every blank node in it, quoted triples included, moved
    * into `scope`.
    */
  private[graft] def scopeTerm(t: Term, scope: String): Term =
    if (t == null) t
    else if (t.isBlank) Term.blank(scope + ":" + t.lex)
    else if (t.isTriple) {
      // blanks EMBEDDED in a quoted triple must scope with their
      // asserted siblings, or `<< _:b … >>` and `_:b` in one event
      // would silently disconnect
      val (s, p, o) = NQuadsParser.components(t)
      Term.quoted(scopeTerm(s, scope), scopeTerm(p, scope), scopeTerm(o, scope))
    } else t

  private def scopeBlanks(quads: Seq[Quad], scope: String): Seq[Quad] =
    if (scope == null || scope.isEmpty) quads
    else quads.map(q => Quad(scopeTerm(q.graph, scope), scopeTerm(q.subject, scope),
      q.predicate, scopeTerm(q.obj, scope)))

  /** Schema of [[decodeEvents]]'s output. */
  val DECODED_SCHEMA: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("topic", StringType),
      StructField("partition", IntegerType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("quads", ArrayType(Quad.Schema)),
      StructField("_corrupt", StringType)))
  }

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  /** Whether an event of content type `ct` decodes to a quad set (or
    * fails to decode) rather than to a patch or an update: [[normalize]]
    * and [[decode]]'s dispatch as a column, so a frame of raw events
    * splits by kind without decoding.
    */
  def isDatasetType(ct: Column): Column = {
    val javaTrim = (0 to ' ').map(_.toChar).mkString // String.trim's set
    val t = lower(trim(substring_index(ct, ";", 1), javaTrim))
    !coalesce(t.isin(CT_SPARQL_UPDATE +: PatchTypes: _*), lit(false))
  }

  /** DataFrame-level decode of dataset events: input must have columns
    * (topic STRING, partition INT, offset LONG, value BINARY,
    *  contentType STRING); output has [[DECODED_SCHEMA]].
    * Runs as one mapPartitions pass, no shuffle; blank scope is the
    * event identity topic:partition:offset, making the decode
    * deterministic and hence safe under Spark task retry/epoch replay
    * (SURVEY.md §2.3 row 26 exactly-once note).
    *
    * Rows carry no order across events, so only dataset events decode
    * here ([[isDatasetType]]): patch and update events apply in order,
    * on the driver ([[graft.connect.QuadStoreSink.applyFrame]]). A row
    * of another kind gets a `_corrupt` reason.
    *
    * The parser emits InternalRows directly (via
    * [[org.apache.spark.sql.graft.bridge.toDataFrame]]): a case-class
    * ExpressionEncoder re-walked every nested Term object per row.
    *
    * Batch-only: the rows are built from `queryExecution.toRdd`, which
    * a streaming frame does not have — streaming ingest decodes per
    * micro-batch (see [[graft.streaming.IngestPipeline]]).
    */
  def decodeEvents(df: DataFrame,
      jsonLdContexts: Map[String, String] = Map.empty): DataFrame = {
    require(!df.isStreaming,
      "decodeEvents is batch-only; decode each micro-batch instead")
    val spark = df.sparkSession
    // the registry is a plain immutable map captured by the decode
    // closure — it ships once per task like any broadcast-small state
    val input = df.select(col("topic"), col("partition"), col("offset"),
      col("value"), col("contentType"))
    val rdd = input.queryExecution.toRdd.mapPartitions { it =>
      it.map { row =>
        // copy what the closure retains: toRdd yields reused UnsafeRows
        // (getBinary and toString both copy; the output row is fresh)
        val topic = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
        val part = row.getInt(1)
        val off = row.getLong(2)
        val value = if (row.isNullAt(3)) null else row.getBinary(3)
        val ct = if (row.isNullAt(4)) null else row.getUTF8String(4).toString
        val scope = s"$topic:$part:$off"
        val d = decode(value, ct, scope, jsonLdContexts)
        val corrupt = if (d.kind == null || d.kind == "dataset") d._corrupt
          else s"${normalize(ct)}: a ${d.kind} event does not decode to quads"
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(topic), part, off,
          if (d.quads == null || corrupt != null) null
          else new GenericArrayData(d.quads.map(Quad.row).toArray[Any]),
          UTF8String.fromString(corrupt))): InternalRow
      }
    }
    org.apache.spark.sql.graft.bridge.toDataFrame(spark, rdd, DECODED_SCHEMA)
  }
}
