package graft.queries

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables.t
import graft.rdf.{Quad, Term}
import graft.server.SparqlHttp
import graft.sparql.{ResultsWriter, Sparql}
import graft.store.QuadStore

/** Verify entries for the HTTP protocol surface ([[SparqlHttp]]) and
  * the W3C results serializers ([[ResultsWriter]]) — the reference's
  * own verification path is HTTP queries against its host Fuseki
  * server (DockerTestConfigFK.java:144-153), so these entries close
  * the loop the same way: data goes in over the protocol, query
  * results come back over the protocol, and DuckDB re-derives both
  * from the relational truth.
  */
object ServerQueries {

  private val NS = "http://graft.example/"

  private def http(url: String, accept: String): String = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url)).header("Accept", accept).GET.build,
      BodyHandlers.ofString)
    require(resp.statusCode == 200, s"HTTP ${resp.statusCode}: ${resp.body}")
    resp.body
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // full protocol loop: store → HTTP GET /ds/query (Accept text/csv)
    // → parse the CSV response → relational oracle. Covers routing,
    // the query endpoint, content negotiation, the distributed CSV
    // serialization, and the streamed chunked response.
    "server_http_select" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("srvq").toString)
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
        .as[(Long, Long)].collect()
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      store.addQuads(0,
        nations.toSeq.map { case (n, r) =>
          Quad(null, Term.iri(s"${NS}nation/$n"), Term.iri(s"${NS}inRegion"),
            Term.iri(s"${NS}region/$r")) } ++
        regions.toSeq.map { case (r, name) =>
          Quad(null, Term.iri(s"${NS}region/$r"), Term.iri(s"${NS}name"),
            Term.lit(name)) })
      val srv = new SparqlHttp(s)
      srv.registerDataset("ds", store)
      srv.start()
      try {
        val q = java.net.URLEncoder.encode(
          s"""SELECT ?rname (COUNT(?n) AS ?cnt)
              WHERE { ?n <${NS}inRegion> ?r . ?r <${NS}name> ?rname }
              GROUP BY ?rname ORDER BY ?rname""", "UTF-8")
        val body = http(
          s"http://127.0.0.1:${srv.boundPort}/ds/query?query=$q", "text/csv")
        val rows = body.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
          val Array(a, b) = l.split(",", 2)
          (a, b.toLong)
        }.toSeq
        rows.toDF("rname", "cnt")
      } finally srv.stop()
    },
    // Graph Store Protocol loop: HTTP PUT turtle into a named graph,
    // HTTP GET it back as N-Triples; the returned LINES compare
    // against DuckDB building the same strings. Covers the GSP write
    // path (clear + re-graphed payload as one atomic sink batch) and
    // the triples serialization of a named graph.
    "server_gsp_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("srvg").toString)
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      val srv = new SparqlHttp(s)
      srv.registerDataset("ds", store)
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        val ttl = regions.map { case (k, name) =>
          s"""<${NS}region/$k> <${NS}name> "$name" .""" }.mkString("\n")
        val put = HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(URI.create(s"$base/ds/data?graph=${NS}g/meta"))
            .header("Content-Type", "text/turtle")
            .method("PUT", HttpRequest.BodyPublishers.ofString(ttl)).build,
          BodyHandlers.ofString)
        require(put.statusCode == 200, s"PUT ${put.statusCode}: ${put.body}")
        val body = http(s"$base/ds/data?graph=${NS}g/meta", "application/n-triples")
        body.linesIterator.filter(_.nonEmpty).toSeq.toDF("line").orderBy(col("line"))
      } finally srv.stop()
    },
    // results-JSON serialization: one binding object per line, exact
    // string compare vs DuckDB — pins the uri/plain-literal/typed-
    // literal object shapes and field order
    "sparql_results_json" -> { (s, dir) =>
      import s.implicits._
      val store = new QuadStore(s, graft.Harness.scratchDir("srvj").toString)
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .as[(Long, String)].collect()
      store.addQuads(0, regions.toSeq.flatMap { case (k, name) => Seq(
        Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}name"),
          Term.lit(name)),
        Quad(null, Term.iri(s"${NS}region/$k"), Term.iri(s"${NS}key"),
          Term.typed(k.toString, Term.XSD_INTEGER))) })
      val res = Sparql.execute(store.quads(),
        s"SELECT ?r ?name ?k { ?r <${NS}name> ?name . ?r <${NS}key> ?k }")
      ResultsWriter.jsonBindingLines(res).orderBy(col("line"))
    }
  )

  val oracle: Map[String, String] = Map(
    "server_http_select" ->
      """SELECT r_name AS rname, COUNT(*)::BIGINT AS cnt
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "server_gsp_roundtrip" ->
      """SELECT '<http://graft.example/region/' || r_regionkey ||
                '> <http://graft.example/name> ' || chr(34) || r_name ||
                chr(34) || ' .' AS line
         FROM region ORDER BY line""",
    "sparql_results_json" ->
      """SELECT '{"r":{"type":"uri","value":"http://graft.example/region/'
                || r_regionkey || '"},"name":{"type":"literal","value":"'
                || r_name || '"},"k":{"type":"literal","value":"'
                || r_regionkey
                || '","datatype":"http://www.w3.org/2001/XMLSchema#integer"}}'
                AS line
         FROM region ORDER BY line"""
  )
}
