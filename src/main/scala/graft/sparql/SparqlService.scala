package graft.sparql

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Sparql.{Sol, ServiceElem, Const, Var, QTriple, unitDf, currentCtx}

import scala.jdk.CollectionConverters._

import graft.rdf.{RdfParseException, Term}

/** The remote half of `SERVICE` (SPARQL 1.1 Federated Query): issues
  * the extracted sub-query to the endpoint over the SPARQL Protocol
  * and parses the `application/sparql-results+json` response back into
  * [[Term]] bindings.
  *
  * Injectable so tests (and air-gapped deployments) can substitute a
  * stub; the default [[SparqlService.Http]] uses the JDK HTTP client —
  * no extra dependency. The reference stack gets this from ARQ's
  * `Service.exec` + Fuseki's HTTP machinery; here it is one small
  * driver-side exchange because a SERVICE result is by construction a
  * bounded HTTP response body, never a distributed scan (the DISTRIBUTED
  * work stays in the outer query that joins it).
  */
trait ServiceClient {

  /** Run a SELECT query against a SPARQL Protocol endpoint and return
    * the raw `application/sparql-results+json` document.
    */
  def select(endpoint: String, query: String): String
}

object SparqlService {

  /** Driver-side guard: a SERVICE response materializes on the driver
    * (it is an HTTP body), so refuse pathological result sets instead
    * of dying on heap. 1M bindings is far beyond any sane federation
    * join side; a bigger remote extract belongs on the ingest path.
    */
  val MaxResults: Int = 1 << 20

  /** `SERVICE ?var` fan-out cap — the endpoint list is collected to
    * the driver, one HTTP exchange each.
    */
  val MaxEndpoints: Int = 64

  /** Default client: JDK `java.net.http`, POST form-encoded per SPARQL
    * Protocol §2.1.2 (no URL-length limit on the query), 10 s connect /
    * 120 s exchange timeouts.
    */
  object Http extends ServiceClient {
    private lazy val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(10))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

    def select(endpoint: String, query: String): String = {
      val body = "query=" + java.net.URLEncoder.encode(query, StandardCharsets.UTF_8)
      val req = HttpRequest.newBuilder(URI.create(endpoint))
        .timeout(Duration.ofSeconds(120))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .header("Accept", "application/sparql-results+json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new RdfParseException(
          s"SERVICE endpoint <$endpoint> returned HTTP ${resp.statusCode()}: " +
            resp.body().take(200))
      resp.body()
    }
  }

  /** A client that refuses every call — the HTTP server's default
    * posture (same opt-in stance as SPARQL Update `LOAD`): a query
    * arriving over the network must not be able to make this server
    * originate arbitrary outbound requests unless the operator enabled
    * federation explicitly.
    */
  object Disabled extends ServiceClient {
    def select(endpoint: String, query: String): String =
      throw new RdfParseException(
        "SERVICE (federated query) is disabled on this endpoint; " +
          "enable it explicitly (allowService) or run the query via the library API")
  }

  private val mapper = new ObjectMapper()

  /** Parse a W3C SPARQL results JSON document into (head vars, one
    * Term map per solution). Blank-node labels are re-scoped with the
    * supplied prefix: a remote document's bnodes are fresh terms that
    * must never accidentally equal local labels or labels from another
    * SERVICE call (SPARQL 1.1 Federated Query §2.4).
    *
    * Accepts both the standard term encodings (`uri`, `bnode`,
    * `literal` with `xml:lang`/`datatype`, legacy `typed-literal`) and
    * the RDF-star forms: this engine's flat `{"type":"triple","value":
    * "<<…>>"}` and the nested `{"type":"triple","value":{"subject":…,
    * "predicate":…,"object":…}}` shape other stores emit.
    */
  def parseResults(json: String, bnodeScope: String): (Seq[String], Seq[Map[String, Term]]) = {
    val root =
      try mapper.readTree(json)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new RdfParseException(
            s"SERVICE response is not valid JSON: ${e.getMessage}")
      }
    if (root == null || !root.isObject)
      throw new RdfParseException("SERVICE response is not a JSON object")
    if (root.has("boolean"))
      throw new RdfParseException(
        "SERVICE endpoint answered an ASK result where solutions were expected")
    val head = root.path("head").path("vars")
    val vars: Seq[String] =
      if (head.isArray) head.elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    val bindings = root.path("results").path("bindings")
    if (!bindings.isArray)
      throw new RdfParseException(
        "SERVICE response has no results.bindings array")
    val n = bindings.size()
    if (n > MaxResults)
      throw new RdfParseException(
        s"SERVICE result too large: $n bindings (cap $MaxResults)")
    val rows = (0 until n).map { i =>
      val b = bindings.get(i)
      if (!b.isObject)
        throw new RdfParseException("SERVICE binding is not a JSON object")
      b.properties().asScala.map { e =>
        e.getKey -> termOf(e.getValue, bnodeScope)
      }.toMap
    }
    (vars, rows)
  }

  private def termOf(node: JsonNode, bnodeScope: String): Term = {
    if (!node.isObject)
      throw new RdfParseException("SERVICE term is not a JSON object")
    val tpe = node.path("type").asText(null)
    def value: String = {
      val v = node.path("value")
      if (!v.isTextual)
        throw new RdfParseException(s"SERVICE term of type '$tpe' has no string value")
      v.asText()
    }
    tpe match {
      case "uri" => Term.iri(value)
      case "bnode" => Term.blank(bnodeScope + value)
      case "literal" | "typed-literal" =>
        val lang = Option(node.path("xml:lang").asText(null))
        val dt = Option(node.path("datatype").asText(null))
        (lang, dt) match {
          case (Some(l), _) => Term.langLit(value, l)
          case (None, Some(d)) => Term.typed(value, d)
          case _ => Term.lit(value)
        }
      case "triple" =>
        val v = node.path("value")
        if (v.isTextual) Term(Term.TRIPLE, v.asText(), null, null)
        else if (v.isObject)
          Term.quoted(
            termOf(v.path("subject"), bnodeScope),
            termOf(v.path("predicate"), bnodeScope),
            termOf(v.path("object"), bnodeScope))
        else throw new RdfParseException("SERVICE triple term has no value")
      case other =>
        throw new RdfParseException(s"SERVICE term has unknown type '$other'")
    }
  }

  /** Evaluate one SERVICE element (SPARQL 1.1 Federated Query §2):
    * one HTTP exchange per endpoint — driver-side by construction,
    * since a SERVICE result IS a bounded HTTP response body — staged
    * as a local relation the caller joins on shared-variable
    * compatibility. Being a LocalRelation, Catalyst broadcast-joins
    * the federated side against the distributed local plan: the 100 TB
    * side never moves. A variable endpoint fans out over the DISTINCT
    * endpoint bindings accumulated so far (positional, like OPTIONAL),
    * each result tagged with its endpoint so the join keeps
    * row↔endpoint provenance. `SILENT` turns any remote failure into
    * the unit solution (spec §2.4); without it the failure propagates.
    */
  def serviceSol(quads: DataFrame, cur: Sol, se: ServiceElem): Sol = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import org.apache.spark.sql.Row
    val spark = quads.sparkSession
    val client = currentCtx.service
    // per-call blank-node scope: remote bnodes are fresh terms that
    // must never equal local labels or another call's (deterministic
    // under a fixed EvalContext, so oracle entries stay reproducible)
    val scope = "svc" + java.lang.Long.toHexString(
      currentCtx.nextSiteSeed() & 0xffffffffL) + "_"
    def unit: Sol = Sol(unitDf(quads), Set.empty)
    def termRow(t: Term): Row = Row(t.termType, t.lex, t.datatype, t.lang)
    def fetch(ep: String, tag: Option[(String, Term)]): Option[Sol] =
      try {
        val (headVars, rows) = SparqlService.parseResults(
          client.select(ep, se.remoteQuery), scope)
        val vars = (headVars ++ rows.flatMap(_.keys)).distinct
          .filterNot(v => tag.exists(_._1 == v))
        val schema = StructType(
          vars.map(StructField(_, Term.Schema, nullable = true)) ++
            tag.map { case (v, _) => StructField(v, Term.Schema, nullable = true) })
        val data = new java.util.ArrayList[Row](rows.size)
        rows.foreach { m =>
          data.add(Row.fromSeq(
            vars.map(v => m.get(v).map(termRow).orNull) ++
              tag.map { case (_, t) => termRow(t) }))
        }
        val df = spark.createDataFrame(data, schema)
        val maybe = vars.filter(v => rows.exists(r => !r.contains(v))).toSet
        Some(Sol(df, maybe))
      } catch {
        case scala.util.control.NonFatal(_) if se.silent => None
      }
    se.endpoint match {
      case Const(t) if t.isIri => fetch(t.lex, None).getOrElse(unit)
      case Const(_) =>
        if (se.silent) unit
        else throw new RdfParseException("SERVICE endpoint must be an IRI")
      case Var(name) =>
        val eps: Seq[Term] =
          if (!cur.df.columns.contains(name)) Seq.empty
          else cur.df.select(col(name)).filter(col(name).isNotNull).distinct()
            .limit(SparqlService.MaxEndpoints + 1).collect().toSeq
            .map { r =>
              val s = r.getStruct(0)
              Term(s.getString(0), s.getString(1), s.getString(2), s.getString(3))
            }
        if (eps.isEmpty) {
          if (se.silent) unit
          else throw new RdfParseException(
            s"SERVICE ?$name needs the endpoint variable bound by the " +
              "group so far (VALUES or a preceding pattern)")
        } else if (eps.size > SparqlService.MaxEndpoints)
          throw new RdfParseException(
            s"SERVICE ?$name would contact ${eps.size} endpoints " +
              s"(cap ${SparqlService.MaxEndpoints})")
        else {
          val sols = eps.flatMap { t =>
            if (!t.isIri) {
              if (se.silent) None
              else throw new RdfParseException(
                s"SERVICE ?$name bound to a non-IRI term ${t.toNT}")
            } else fetch(t.lex, Some(name -> t))
          }
          if (sols.isEmpty) unit
          else {
            val allVars = sols.flatMap(_.df.columns).toSet
            val df = sols.map(_.df)
              .reduce(_.unionByName(_, allowMissingColumns = true))
            Sol(df, sols.flatMap(s =>
              s.maybe ++ (allVars -- s.df.columns)).toSet)
          }
        }
      case QTriple(_, _, _) =>
        throw new RdfParseException("SERVICE endpoint must be an IRI or a variable")
    }
  }
}
