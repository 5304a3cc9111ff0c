package graft.server

import java.io.OutputStream
import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.connect.{Event, MaterialisedEvent, PayloadException, Projector, QuadStoreSink}
import graft.plans.Checkpoints
import graft.rdf.{NtWriter, RdfParse, RdfParseException, RdfPatchParser, Term, TurtleWriter}
import graft.sparql.{ResultsWriter, Sparql, SparqlService}
import graft.store.QuadStore

/** SPARQL 1.1 Protocol + Graph Store Protocol endpoint over
  * [[QuadStore]] datasets — the host-server surface of the reference
  * deployment: jena-fuseki-kafka runs inside a Fuseki server exposing
  * `fuseki:query`, `fuseki:update`, `fuseki:gsp-rw` and `fuseki:patch`
  * endpoints on the same dataset the Kafka connector feeds
  * (DockerTestConfigFK.java:144-153 verifies ingest through exactly
  * this surface; README.md:10-14 frames each Kafka event as "the same
  * as if an HTTP POST request is sent to the Fuseki service").
  *
  * The symmetry is implemented literally: every mutating HTTP request
  * (update, GSP write, patch) is materialized as ONE [[Event]] batch
  * and applied through the SAME [[QuadStoreSink]] path a Kafka batch
  * takes — one atomic store commit per request, identical semantics
  * whether the operation arrived by topic or by POST.
  *
  * Reads are fully streaming: query results serialize DISTRIBUTED
  * ([[ResultsWriter]] / [[NtWriter]] line projections) and the
  * response body is the `toLocalIterator` of that plan — one
  * partition in driver memory at a time, chunked transfer, so a
  * result set larger than driver memory still serves.
  *
  * Endpoints (per registered dataset name `ds`):
  *  - `GET/POST /ds/query` (alias `/ds/sparql`, and `/ds` itself
  *    with a `query` parameter): SPARQL query; results content-
  *    negotiated — SELECT/ASK: `application/sparql-results+json`
  *    (default), `…+xml`, `text/csv`, `text/tab-separated-values`;
  *    CONSTRUCT/DESCRIBE: `application/n-quads` (default),
  *    `application/n-triples`, `text/turtle`, `application/trig`.
  *    Protocol dataset params `default-graph-uri` / `named-graph-uri`
  *    apply FROM / FROM NAMED semantics.
  *  - `POST /ds/update`: `application/sparql-update` body or form
  *    `update=`.
  *  - `GET/PUT/POST/DELETE /ds/data`: Graph Store Protocol;
  *    `?graph=<iri>` targets a named graph, `?default` the default
  *    graph, no param the whole dataset (Fuseki's quad extension).
  *  - `POST /ds/patch`: `application/rdf-patch` body (the
  *    `fuseki:patch` operation).
  *  - `GET /$/ping`, `GET /$/datasets`: liveness + registry listing
  *    (the Fuseki admin surface subset the reference module touches).
  *
  * Binds loopback only — this is an embedded/test-harness server, not
  * a hardened front door; put a real ingress in front for production.
  */
final class SparqlHttp(spark: SparkSession, port: Int = 0,
    allowService: Boolean = false) {

  /** Federation posture for queries arriving over this endpoint:
    * SERVICE is refused unless the operator opted in (`allowService`),
    * the same opt-in stance as the update layer's LOAD jail — a
    * network-reachable query surface must not originate arbitrary
    * outbound requests by default.
    */
  private def queryCtx(): Sparql.EvalContext =
    Sparql.EvalContext(service =
      if (allowService) SparqlService.Http else SparqlService.Disabled)

  private val datasets = new java.util.concurrent.ConcurrentHashMap[String, QuadStore]()

  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, port), 0)
  private val pool = Executors.newFixedThreadPool(8)
  server.setExecutor(pool)
  server.createContext("/", new Router)

  /** Register a dataset under `name` (a leading `/` is dropped). */
  def registerDataset(name: String, store: QuadStore): Unit =
    datasets.put(name.stripPrefix("/"), store)

  def start(): Unit = server.start()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  /** The bound port (useful with the ephemeral `port = 0`). */
  def boundPort: Int = server.getAddress.getPort

  // --- routing --------------------------------------------------------------

  private final class Router extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      // one checkpoint scope per request: whatever the request's plans
      // pinned (path fixpoints, operator checkpoints) frees when the
      // response finishes streaming, so a long-running server never
      // accumulates pinned blocks across requests
      try Checkpoints.withScope(route(ex))
      catch {
        case e: HttpError => respond(ex, e.code, "text/plain", e.getMessage)
        case e: RdfParseException => respond(ex, 400, "text/plain", e.getMessage)
        case e: Exception =>
          respond(ex, 500, "text/plain",
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally ex.close()
  }

  private final class HttpError(val code: Int, msg: String) extends Exception(msg)
  private def bad(code: Int, msg: String): Nothing = throw new HttpError(code, msg)

  /** One fully-read request: the exchange body is a stream consumable
    * once, so it is drained here and every handler works off this.
    */
  private final case class Req(method: String, ct: String, body: Array[Byte],
      params: Map[String, Seq[String]]) {
    def param(k: String): Option[String] = params.get(k).flatMap(_.headOption)
    def bodyText: String = new String(body, StandardCharsets.UTF_8)
  }

  /** Request-body ceiling (256 MiB): an embedded endpoint must not
    * buffer an unbounded POST on the driver — the reference's batch
    * envelope thinking (50 MiB default batch bytes) applied to the
    * protocol surface. Bulk loads belong on the event path.
    */
  private val MaxBodyBytes: Int = 256 << 20

  private def readReq(ex: HttpExchange): Req = {
    val ct = RdfParse.normalize(ex.getRequestHeaders.getFirst("Content-Type"))
    def tooLarge(): Nothing = bad(413, s"request body exceeds $MaxBodyBytes bytes; " +
      "bulk loads belong on the event-source path")
    // a declared length is refused before any byte is buffered; the
    // read cap still bounds a chunked body, which declares none
    Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.trim.toLongOption).filter(_ > MaxBodyBytes).foreach(_ => tooLarge())
    val bodyBytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
    if (bodyBytes.length > MaxBodyBytes) tooLarge()
    def parse(s: String): Seq[(String, String)] =
      if (s == null || s.isEmpty) Seq.empty
      else s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (URLDecoder.decode(kv, "UTF-8"), "")
        else (URLDecoder.decode(kv.substring(0, i), "UTF-8"),
          URLDecoder.decode(kv.substring(i + 1), "UTF-8"))
      }
    val fromQuery = parse(ex.getRequestURI.getRawQuery)
    val fromForm =
      if (ex.getRequestMethod == "POST" &&
          ct == "application/x-www-form-urlencoded")
        parse(new String(bodyBytes, StandardCharsets.UTF_8))
      else Seq.empty
    Req(ex.getRequestMethod, ct, bodyBytes,
      (fromQuery ++ fromForm).groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    path match {
      case "/$/ping" => respond(ex, 200, "text/plain", "OK")
      case "/$/datasets" =>
        val names = datasets.keys.asScala.toSeq.sorted
        respond(ex, 200, "application/json",
          names.map(n => s"""{"ds.name":"/$n"}""").mkString("[", ",", "]"))
      case _ =>
        val segs = path.stripPrefix("/").split("/", 2)
        val ds = datasets.get(segs(0))
        if (segs(0).isEmpty || ds == null) bad(404, s"no such dataset: $path")
        val req = readReq(ex)
        val op = if (segs.length > 1) segs(1) else ""
        op match {
          case "query" | "sparql" => handleQuery(ex, req, ds)
          case "update" => handleUpdate(ex, req, ds)
          case "data" => handleGsp(ex, req, ds)
          case "patch" => handlePatch(ex, req, ds)
          case "" =>
            // dataset root: dispatch on what the request carries
            if (req.params.contains("query") || req.ct == "application/sparql-query")
              handleQuery(ex, req, ds)
            else if (req.params.contains("update") || req.ct == "application/sparql-update")
              handleUpdate(ex, req, ds)
            else bad(400, "dataset root needs a query or update request")
          case other => bad(404, s"no such endpoint: $other")
        }
    }
  }

  /** First exactly-matching offer in the Accept header's order of
    * appearance (approximates q-ordering for the clients that
    * matter); absent / wildcard-only Accepts take `fallback`.
    */
  private def negotiate(ex: HttpExchange, offers: Seq[(String, String)],
      fallback: String): String = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("*/*")
    val ranges = accept.split(",").toSeq
      .map(_.trim.takeWhile(_ != ';').trim).filter(_.nonEmpty)
    ranges.iterator
      .flatMap(r => offers.collectFirst { case (mt, key) if mt == r => key })
      .nextOption().getOrElse(fallback)
  }

  private def respond(ex: HttpExchange, code: Int, ct: String, bodyStr: String): Unit = {
    val bytes = bodyStr.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$ct; charset=utf-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  /** Chunked streaming response: each line written as it arrives from
    * the distributed serialization's local iterator.
    */
  private def respondLines(ex: HttpExchange, ct: String,
      lines: Iterator[String], sep: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", s"$ct; charset=utf-8")
    ex.sendResponseHeaders(200, 0)
    val out: OutputStream = ex.getResponseBody
    var first = true
    lines.foreach { l =>
      if (!first && sep.nonEmpty) out.write(sep.getBytes(StandardCharsets.UTF_8))
      first = false
      out.write(l.getBytes(StandardCharsets.UTF_8))
    }
    out.write('\n')
    out.flush()
  }

  // --- query ----------------------------------------------------------------

  private val RESULT_OFFERS = Seq(
    "application/sparql-results+json" -> "json",
    "application/json" -> "json",
    "application/sparql-results+xml" -> "xml",
    "application/xml" -> "xml",
    "text/csv" -> "csv",
    "text/tab-separated-values" -> "tsv")

  private val GRAPH_OFFERS = Seq(
    "application/n-quads" -> "nquads",
    "application/n-triples" -> "ntriples",
    "text/turtle" -> "turtle",
    "application/trig" -> "trig",
    "application/rdf+xml" -> "rdfxml",
    "application/ld+json" -> "jsonld")

  // canonical response media type per format key = FIRST offer listed
  private val RESULT_CT = RESULT_OFFERS.map(_.swap).reverse.toMap
  private val GRAPH_CT = GRAPH_OFFERS.map(_.swap).reverse.toMap

  private def handleQuery(ex: HttpExchange, req: Req, ds: QuadStore): Unit = {
    val queryText = req.method match {
      case "GET" =>
        req.param("query").getOrElse(bad(400, "missing query parameter"))
      case "POST" =>
        if (req.ct == "application/sparql-query") req.bodyText
        else req.param("query").getOrElse(bad(400, "missing query parameter"))
      case m => bad(405, s"$m not allowed on query endpoint")
    }
    val dflt = req.params.getOrElse("default-graph-uri", Seq.empty).map(Term.iri)
    val named = req.params.getOrElse("named-graph-uri", Seq.empty).map(Term.iri)
    val quads = Sparql.datasetOf(ds.quads(), dflt, named)

    // ?explain=1 — the compiled Spark plan instead of results (the
    // engine's analogue of Fuseki's arq:queryExplain): lets a user
    // check pushdown/broadcast shape of a query before running it on
    // the full dataset
    if (req.param("explain").exists(v => v == "1" || v == "true")) {
      val df = Sparql.execute(quads, queryText, queryCtx())
      respond(ex, 200, "text/plain",
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      return
    }

    Sparql.queryForm(queryText) match {
      case "select" =>
        val fmt = negotiate(ex, RESULT_OFFERS, "json")
        val res = Sparql.execute(quads, queryText, queryCtx())
        val sep = if (fmt == "json") "" else "\n"
        respondLines(ex, RESULT_CT(fmt), ResultsWriter.documentLines(res, fmt), sep)
      case "ask" =>
        val fmt = negotiate(ex, RESULT_OFFERS, "json")
        val b = Sparql.execute(quads, queryText, queryCtx()).collect()(0).getBoolean(0)
        fmt match {
          case "xml" => respond(ex, 200, RESULT_CT("xml"), ResultsWriter.askXml(b))
          case "csv" | "tsv" => respond(ex, 200, RESULT_CT(fmt), b.toString)
          case _ => respond(ex, 200, RESULT_CT("json"), ResultsWriter.askJson(b))
        }
      case _ => // construct | describe → a graph/dataset response
        val res = Sparql.execute(quads, queryText, queryCtx())
        respondGraph(ex, ds, res)
    }
  }

  private def respondGraph(ex: HttpExchange, ds: QuadStore, quads: DataFrame): Unit = {
    import org.apache.spark.sql.Row
    def lineIt(df: DataFrame): Iterator[String] =
      df.toLocalIterator().asScala.map((r: Row) => r.getString(0))
    negotiate(ex, GRAPH_OFFERS, "nquads") match {
      case "ntriples" =>
        // triples view of a dataset: graphs merge, so re-dedup
        respondLines(ex, GRAPH_CT("ntriples"),
          lineIt(NtWriter.ntLines(quads
            .withColumn("graph", org.apache.spark.sql.functions.lit(null)
              .cast(quads.schema("graph").dataType))
            .dropDuplicates())), "\n")
      case "turtle" =>
        val pfx = ds.prefixes()
        respondLines(ex, GRAPH_CT("turtle"),
          TurtleWriter.prefixHeader(pfx).iterator ++
            lineIt(TurtleWriter.turtleLines(quads.filter(col("graph").isNull), pfx)),
          "\n")
      case "trig" =>
        val pfx = ds.prefixes()
        respondLines(ex, GRAPH_CT("trig"),
          TurtleWriter.prefixHeader(pfx).iterator ++
            lineIt(TurtleWriter.turtleLines(quads, pfx)), "\n")
      case "rdfxml" =>
        // RDF/XML is triples-only: graphs merge (the ntriples view);
        // un-representable content (star terms, local-name-less
        // predicates) is a 500 contract error, never a silent drop
        val triples = quads
          .withColumn("graph", org.apache.spark.sql.functions.lit(null)
            .cast(quads.schema("graph").dataType))
          .dropDuplicates()
        graft.rdf.XmlWriter.requireRepresentable(triples)
        respondLines(ex, GRAPH_CT("rdfxml"),
          graft.rdf.XmlWriter.HEADER.iterator ++
            lineIt(graft.rdf.XmlWriter.rdfXmlLines(triples)) ++
            graft.rdf.XmlWriter.FOOTER.iterator, "\n")
      case "jsonld" =>
        graft.rdf.JsonLdWriter.requireRepresentable(quads)
        respondLines(ex, GRAPH_CT("jsonld"),
          graft.rdf.JsonLdWriter.documentLines(quads), "\n")
      case _ =>
        respondLines(ex, GRAPH_CT("nquads"), lineIt(NtWriter.ntLines(quads)), "\n")
    }
  }

  // --- mutations: the Kafka-event-equivalence path --------------------------

  private val requestSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Apply decoded payload events as ONE atomic sink batch — the exact
    * path a Kafka batch takes ([[QuadStoreSink.apply]]); `noBulk`
    * keeps re-graphed GSP payloads on the driver decode (the bulk
    * route re-decodes raw bytes and would lose the graph override).
    */
  private def applyEvents(ds: QuadStore, events: Seq[MaterialisedEvent],
      noBulk: Boolean = false): Unit = {
    val sink =
      if (noBulk) new QuadStoreSink(spark, ds, Long.MaxValue)
      else new QuadStoreSink(spark, ds)
    // a FRESH batch id past the store's committed history — the same
    // resume contract a projector restart uses (never replay over an
    // existing segment). The id read + apply run under the store's
    // writer lock: a connector poll thread feeding the same dataset
    // commits through the same lock, so neither writer can allocate
    // the other's id or interleave the pointer update.
    sink.exclusively { sink.apply(sink.resumeBatchId, events) }
  }

  /** The projector's arrival checks ([[Projector.admit]]): a payload
    * that fails them is a 400, as an [[RdfParseException]] is.
    */
  private def materialise(value: Array[Byte], ct: String): MaterialisedEvent = {
    val ev = Event("http", 0, requestSeq.incrementAndGet(), Array.empty, value,
      Map("Content-Type" -> ct))
    try Projector.admit(ev, RdfPatchParser.TxnState(), 0, None)._1
    catch { case e: PayloadException => bad(400, e.getMessage) }
  }

  private def handleUpdate(ex: HttpExchange, req: Req, ds: QuadStore): Unit = {
    if (req.method != "POST") bad(405, "update requires POST")
    val text =
      if (req.ct == "application/sparql-update") req.bodyText
      else req.param("update").getOrElse(bad(400, "missing update"))
    // materialise probes LOAD at arrival: a non-SILENT LOAD that cannot
    // resolve — including the standing "LOAD is disabled" state here
    // (the HTTP sink never configures a loadRoot) — FAILS the request
    // per SPARQL Update §3.1.4 rather than vanish into a 204 (the sink
    // treats apply-time load failures as SILENT by design)
    applyEvents(ds, Seq(materialise(text.getBytes(StandardCharsets.UTF_8),
      RdfParse.CT_SPARQL_UPDATE)))
    respond(ex, 204, "text/plain", "")
  }

  private def handlePatch(ex: HttpExchange, req: Req, ds: QuadStore): Unit = {
    if (req.method != "POST") bad(405, "patch requires POST")
    if (!RdfParse.PatchTypes.contains(req.ct))
      bad(415, s"patch endpoint expects ${RdfParse.CT_PATCH}")
    applyEvents(ds, Seq(materialise(req.body, RdfParse.CT_PATCH)))
    respond(ex, 204, "text/plain", "")
  }

  // --- Graph Store Protocol -------------------------------------------------

  /** GSP target: `Some(None)` = default graph, `Some(Some(iri))` = a
    * named graph, `None` = the whole dataset (no graph/default param).
    */
  private def gspTarget(ps: Map[String, Seq[String]]): Option[Option[String]] =
    if (ps.contains("default")) Some(None)
    else ps.get("graph").flatMap(_.headOption) match {
      case Some(g) => Some(Some(g))
      case None => None
    }

  private def handleGsp(ex: HttpExchange, req: Req, ds: QuadStore): Unit = {
    val target = gspTarget(req.params)
    req.method match {
      case "GET" =>
        val all = ds.quads()
        val scoped = target match {
          case Some(None) => all.filter(col("graph").isNull)
          case Some(Some(g)) =>
            // named graph serialized AS a graph (triples): relabel via
            // the FROM merge machinery
            Sparql.datasetOf(all, Seq(Term.iri(g)), Seq.empty)
          case None => all
        }
        respondGraph(ex, ds, scoped)
      case "POST" | "PUT" =>
        if (!GSP_IN.contains(req.ct)) bad(415, s"unsupported RDF content type: ${req.ct}")
        val m0 = materialise(req.body, req.ct)
        val m = target match {
          case Some(Some(g)) =>
            val t = Term.iri(g)
            m0.copy(decoded = m0.decoded.copy(
              quads = m0.decoded.quads.map(_.copy(graph = t))))
          case Some(None) =>
            m0.copy(decoded = m0.decoded.copy(
              quads = m0.decoded.quads.map(_.copy(graph = null))))
          case None => m0
        }
        val clear =
          if (ex.getRequestMethod == "PUT") Some(clearEvent(target))
          else None
        applyEvents(ds, clear.toSeq :+ m, noBulk = true)
        respond(ex, if (clear.isDefined) 200 else 201, "text/plain", "")
      case "DELETE" =>
        applyEvents(ds, Seq(clearEvent(target)))
        respond(ex, 204, "text/plain", "")
      case m => bad(405, s"$m not allowed on data endpoint")
    }
  }

  /** The GSP clear of a target, expressed as the SPARQL Update event
    * it is equivalent to (same sink path, same atomic batch).
    */
  private def clearEvent(target: Option[Option[String]]): MaterialisedEvent = {
    val text = target match {
      case Some(Some(g)) => s"DROP SILENT GRAPH <$g>"
      case Some(None) => "CLEAR SILENT DEFAULT"
      case None => "CLEAR SILENT ALL"
    }
    materialise(text.getBytes(StandardCharsets.UTF_8), RdfParse.CT_SPARQL_UPDATE)
  }

  private val GSP_IN = Set(
    RdfParse.CT_NQUADS, RdfParse.CT_NTRIPLES, RdfParse.CT_TURTLE,
    RdfParse.CT_TRIG, RdfParse.CT_RDFXML, RdfParse.CT_JSONLD)
}
