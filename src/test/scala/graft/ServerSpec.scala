package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.rdf.{Quad, Term}
import graft.server.SparqlHttp
import graft.sparql.{ResultsWriter, Sparql}
import graft.store.QuadStore

/** SPARQL Protocol + GSP endpoint ([[SparqlHttp]]) and the W3C
  * results serializers ([[ResultsWriter]]) — the reference's own
  * verification surface is HTTP queries against the host Fuseki
  * server (DockerTestConfigFK.java:144-153).
  */
class ServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val client = HttpClient.newHttpClient()

  private def get(url: String, accept: String = null): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    if (accept != null) b.header("Accept", accept)
    client.send(b.GET.build, BodyHandlers.ofString)
  }

  private def post(url: String, ct: String, body: String,
      accept: String = null): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url)).header("Content-Type", ct)
    if (accept != null) b.header("Accept", accept)
    client.send(b.POST(BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build,
      BodyHandlers.ofString)
  }

  private def send(method: String, url: String, ct: String, body: String): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    if (ct != null) b.header("Content-Type", ct)
    client.send(b.method(method,
      if (body == null) BodyPublishers.noBody else BodyPublishers.ofString(body)).build,
      BodyHandlers.ofString)
  }

  private def withServer(f: (SparqlHttp, String, QuadStore) => Unit): Unit = {
    val store = new QuadStore(spark, Harness.scratchDir("httpds").toString)
    val srv = new SparqlHttp(spark)
    srv.registerDataset("ds", store)
    srv.start()
    try f(srv, s"http://127.0.0.1:${srv.boundPort}", store)
    finally srv.stop()
  }

  private def seed(store: QuadStore): Unit =
    store.addQuads(0, Seq(
      Quad(null, Term.iri("http://x/a"), Term.iri("http://x/p"), Term.lit("hello")),
      Quad(null, Term.iri("http://x/b"), Term.iri("http://x/p"),
        Term.typed("42", Term.XSD_INTEGER)),
      Quad(Term.iri("http://x/g"), Term.iri("http://x/c"), Term.iri("http://x/p"),
        Term.langLit("bonjour", "fr"))))

  test("ping and dataset registry") {
    withServer { (_, base, _) =>
      assert(get(s"$base/$$/ping").statusCode == 200)
      val ds = get(s"$base/$$/datasets")
      assert(ds.statusCode == 200 && ds.body.contains("\"/ds\""))
      assert(get(s"$base/nope/query?query=ASK%7B%7D").statusCode == 404)
    }
  }

  test("GET query: SELECT results in all four formats") {
    withServer { (_, base, store) =>
      seed(store)
      val q = java.net.URLEncoder.encode(
        "SELECT ?s ?o { ?s <http://x/p> ?o } ORDER BY ?s", "UTF-8")
      val json = get(s"$base/ds/query?query=$q")
      assert(json.statusCode == 200)
      assert(json.headers.firstValue("Content-Type").get
        .startsWith("application/sparql-results+json"))
      assert(json.body.contains(""""vars":["s","o"]"""))
      assert(json.body.contains(""""s":{"type":"uri","value":"http://x/a"}"""))
      assert(json.body.contains(""""o":{"type":"literal","value":"hello"}"""))
      assert(json.body.contains(
        """"o":{"type":"literal","value":"42","datatype":"http://www.w3.org/2001/XMLSchema#integer"}"""))

      val xml = get(s"$base/ds/query?query=$q", "application/sparql-results+xml")
      assert(xml.body.contains("""<variable name="s"/>"""))
      assert(xml.body.contains("<uri>http://x/a</uri>"))
      assert(xml.body.contains(
        """<literal datatype="http://www.w3.org/2001/XMLSchema#integer">42</literal>"""))

      val csv = get(s"$base/ds/query?query=$q", "text/csv")
      assert(csv.body.linesIterator.toSeq ==
        Seq("s,o", "http://x/a,hello", "http://x/b,42"))

      val tsv = get(s"$base/ds/query?query=$q", "text/tab-separated-values")
      assert(tsv.body.linesIterator.toSeq ==
        Seq("?s\t?o", "<http://x/a>\t\"hello\"",
          "<http://x/b>\t\"42\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    }
  }

  test("explain param returns the formatted Spark plan, not results") {
    withServer { (_, base, store) =>
      seed(store)
      val q = java.net.URLEncoder.encode(
        "SELECT ?s ?o { ?s <http://x/p> ?o }", "UTF-8")
      val resp = get(s"$base/ds/query?query=$q&explain=1")
      assert(resp.statusCode == 200)
      assert(resp.headers.firstValue("Content-Type").get.startsWith("text/plain"))
      assert(resp.body.contains("Physical Plan"))
      assert(!resp.body.contains("\"bindings\""))
    }
  }

  test("POST query (raw and form), ASK, aggregate columns") {
    withServer { (_, base, store) =>
      seed(store)
      val ask = post(s"$base/ds/query", "application/sparql-query",
        "ASK { <http://x/a> ?p ?o }")
      assert(ask.body == """{"head":{},"boolean":true}""")
      val askXml = post(s"$base/ds/query", "application/sparql-query",
        "ASK { <http://x/zz> ?p ?o }", accept = "application/sparql-results+xml")
      assert(askXml.body.contains("<boolean>false</boolean>"))
      // form-encoded POST; aggregate alias comes back as xsd:integer
      val agg = post(s"$base/ds/query", "application/x-www-form-urlencoded",
        "query=" + java.net.URLEncoder.encode(
          "SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }",
          "UTF-8"))
      assert(agg.body.contains(
        """"C":{"type":"literal","value":"3","datatype":"http://www.w3.org/2001/XMLSchema#integer"}"""))
    }
  }

  test("CONSTRUCT negotiates turtle and n-quads") {
    withServer { (_, base, store) =>
      seed(store)
      val q = java.net.URLEncoder.encode(
        "CONSTRUCT { ?s <http://x/p2> ?o } WHERE { ?s <http://x/p> ?o }", "UTF-8")
      val nq = get(s"$base/ds/query?query=$q")
      assert(nq.headers.firstValue("Content-Type").get.startsWith("application/n-quads"))
      assert(nq.body.contains("<http://x/a> <http://x/p2> \"hello\" ."))
      val ttl = get(s"$base/ds/query?query=$q", "text/turtle")
      assert(ttl.body.contains("<http://x/a> <http://x/p2> \"hello\" ."))
    }
  }

  test("update endpoint mutates through the sink path") {
    withServer { (_, base, store) =>
      val up = post(s"$base/ds/update", "application/sparql-update",
        "INSERT DATA { <http://x/n> <http://x/p> \"new\" }")
      assert(up.statusCode == 204)
      assert(store.count() == 1)
      // form variant + DELETE WHERE
      val up2 = post(s"$base/ds/update", "application/x-www-form-urlencoded",
        "update=" + java.net.URLEncoder.encode(
          "DELETE WHERE { <http://x/n> ?p ?o }", "UTF-8"))
      assert(up2.statusCode == 204)
      assert(store.count() == 0)
      // parse error → 400, store untouched
      assert(post(s"$base/ds/update", "application/sparql-update",
        "LOAD <http://remote/data>").statusCode == 400)
    }
  }

  test("GSP round trip: PUT replaces, POST merges, GET serializes, DELETE drops") {
    withServer { (_, base, store) =>
      seed(store)
      // PUT replaces the named graph
      val put = send("PUT", s"$base/ds/data?graph=http://x/g", "text/turtle",
        "<http://x/new> <http://x/p> \"fresh\" .")
      assert(put.statusCode == 200)
      val g = get(s"$base/ds/data?graph=http://x/g", "application/n-triples")
      assert(g.body.trim == "<http://x/new> <http://x/p> \"fresh\" .")
      // POST merges into the default graph
      val post1 = send("POST", s"$base/ds/data?default", "application/n-triples",
        "<http://x/d> <http://x/p> \"added\" .")
      assert(post1.statusCode == 201)
      val dflt = get(s"$base/ds/data?default", "application/n-quads")
      assert(dflt.body.contains("<http://x/d> <http://x/p> \"added\" ."))
      assert(dflt.body.contains("<http://x/a> <http://x/p> \"hello\" ."))
      // whole-dataset GET carries the graph token
      val all = get(s"$base/ds/data")
      assert(all.body.contains("<http://x/new> <http://x/p> \"fresh\" <http://x/g> ."))
      // DELETE drops the named graph only
      assert(send("DELETE", s"$base/ds/data?graph=http://x/g", null, null).statusCode == 204)
      assert(!get(s"$base/ds/data").body.contains("http://x/new"))
      assert(get(s"$base/ds/data").body.contains("http://x/d"))
      // bad payload → 400 and no mutation
      val before = store.count()
      assert(send("POST", s"$base/ds/data?default", "text/turtle",
        "this is not turtle @@@").statusCode == 400)
      assert(store.count() == before)
    }
  }

  test("patch endpoint applies an rdf-patch event") {
    withServer { (_, base, store) =>
      val p = post(s"$base/ds/patch", "application/rdf-patch",
        "TX .\nA <http://x/s> <http://x/p> \"one\" .\nTC .\n")
      assert(p.statusCode == 204)
      assert(store.count() == 1)
      assert(post(s"$base/ds/patch", "text/plain", "A ...").statusCode == 415)
    }
  }

  test("concurrent patch requests serialize: 16 commits in 16 distinct batches") {
    // every HTTP mutation commits under the store's writer lock, the
    // lock the connector's sink shares: 4 client threads x 4 patches
    // of one quad each must land all 16 quads in 16 distinct batches
    withServer { (_, base, store) =>
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        new Thread(() =>
          try (0 until 4).foreach { i =>
            val r = post(s"$base/ds/patch", "application/rdf-patch",
              s"A <http://x/w$t-$i> <http://x/p> \"1\" .\n")
            assert(r.statusCode == 204, r.body)
          } catch { case e: Throwable => errs.add(e) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"client thread failed: ${errs.peek()}")
      assert(store.count() == 16L)
      assert(store.availableBatches() == (0L until 16L))
    }
  }

  test("protocol dataset params scope the query like FROM / FROM NAMED") {
    withServer { (_, base, store) =>
      seed(store)
      // default-graph-uri=http://x/g: only the named graph's triple,
      // seen as default-graph data
      val q = java.net.URLEncoder.encode("SELECT ?s { ?s ?p ?o }", "UTF-8")
      val scoped = get(s"$base/ds/query?query=$q&default-graph-uri=" +
        java.net.URLEncoder.encode("http://x/g", "UTF-8"))
      assert(scoped.body.contains("http://x/c"))
      assert(!scoped.body.contains("http://x/a"))
    }
  }

  test("GraftServer: config TTL boots engine + HTTP; ingest visible over /query") {
    import graft.connect._
    val stateDir = Harness.scratchDir("gsrv")
    val ttl =
      s"""@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
         |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
         |<#conn> rdf:type fk:Connector ;
         |  fk:bootstrapServers "localhost:9092" ;
         |  fk:topic "RDF" ;
         |  fk:fusekiServiceName "/ds" ;
         |  fk:groupId "gsrv-group" ;
         |  fk:stateFile "$stateDir/RDF.state" .
         |""".stripMargin
    val events = Seq(
      ("<http://example/s1> <http://example/p1> <http://example/o1> .\n",
        "application/n-quads"),
      ("@prefix ex: <http://example/> .\nex:s ex:p ex:o .\n", "text/turtle")
    ).zipWithIndex.map { case ((body, ct), i) =>
      Event("RDF", 0, i.toLong, Array.empty, body.getBytes("UTF-8"),
        Map("Content-Type" -> ct))
    }
    val factory = new EventSourceFactory {
      override def create(cfg: ConnectorConfig, policy: ReadPolicy,
          start: Map[(String, Int), Long]): EventSource =
        new MemoryEventSource(events.filter(_.offset >= start.getOrElse(("RDF", 0), 0L)))
    }
    val srv = new graft.server.GraftServer(spark, factory,
      Harness.scratchDir("gsrvstores"))
    val port = srv.start(ttl)
    try {
      val base = s"http://127.0.0.1:$port"
      val q = java.net.URLEncoder.encode(
        "SELECT (count(*) AS ?C) { ?s ?p ?o }", "UTF-8")
      def count(): String = get(s"$base/ds/query?query=$q", "text/csv")
        .body.linesIterator.toSeq.last
      val deadline = System.currentTimeMillis + 15000
      while (count() != "2" && System.currentTimeMillis < deadline) Thread.sleep(250)
      assert(count() == "2")
      // HTTP update lands in the SAME store the connector feeds
      assert(post(s"$base/ds/update", "application/sparql-update",
        "INSERT DATA { <http://example/u> <http://example/p> \"via-http\" }")
        .statusCode == 204)
      assert(count() == "3")
    } finally srv.stop()
  }

  test("XML results escape attribute values: a quote in a datatype IRI stays well-formed") {
    withServer { (_, base, store) =>
      seed(store)
      val q = java.net.URLEncoder.encode(
        """SELECT ?v { BIND(STRDT("x<&y", IRI("http://e/a\"b&c")) AS ?v) }""", "UTF-8")
      val resp = get(s"$base/ds/query?query=$q", "application/sparql-results+xml")
      assert(resp.statusCode == 200)
      val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(resp.body.getBytes(StandardCharsets.UTF_8)))
      val lits = doc.getElementsByTagName("literal")
      assert(lits.getLength == 1)
      val lit = lits.item(0).asInstanceOf[org.w3c.dom.Element]
      assert(lit.getAttribute("datatype") == "http://e/a\"b&c")
      assert(lit.getTextContent == "x<&y")
    }
  }

  // --- ResultsWriter unit behavior (no HTTP) --------------------------------

  test("results JSON escapes and omits unbound; lang literals tagged") {
    val store = new QuadStore(spark, Harness.scratchDir("rw").toString)
    store.addQuads(0, Seq(
      Quad(null, Term.iri("http://x/a"), Term.iri("http://x/p"),
        Term.lit("with \"quote\"\nand newline")),
      Quad(null, Term.iri("http://x/b"), Term.iri("http://x/q"),
        Term.langLit("bonjour", "fr"))))
    val df = Sparql.execute(store.quads(),
      "SELECT ?o ?missing { ?s <http://x/p> ?o }")
    val doc = ResultsWriter.document(df, "json")
    assert(doc.contains(""""vars":["o","missing"]"""))
    assert(doc.contains("""with \"quote\"\nand newline"""))
    assert(!doc.contains("missing\":")) // unbound omitted from bindings
    val lang = ResultsWriter.document(
      Sparql.execute(store.quads(), "SELECT ?o { ?s <http://x/q> ?o }"), "json")
    assert(lang.contains(""""xml:lang":"fr""""))
    // csv quoting of embedded quote/newline per RFC 4180
    val csv = ResultsWriter.document(df, "csv")
    assert(csv.contains("\"with \"\"quote\"\"\nand newline\""))
  }

  test("tsv round-trips terms through the n-quads parser") {
    val store = new QuadStore(spark, Harness.scratchDir("rw2").toString)
    store.addQuads(0, Seq(
      Quad(null, Term.iri("http://x/a"), Term.iri("http://x/p"),
        Term.typed("3.14", Term.XSD_DECIMAL))))
    val df = Sparql.execute(store.quads(), "SELECT ?s ?o { ?s ?p ?o }")
    val lines = ResultsWriter.document(df, "tsv").linesIterator.toSeq
    assert(lines.head == "?s\t?o")
    val Array(s, o) = lines(1).split("\t")
    val parsed = graft.rdf.NQuadsParser.parse(s"$s <http://x/p> $o .", allowGraph = false)
    assert(parsed.head.subject == Term.iri("http://x/a"))
    assert(parsed.head.obj == Term.typed("3.14", Term.XSD_DECIMAL))
  }

  test("GSP negotiates rdf/xml and json-ld; both re-parse to the stored data") {
    withServer { (_, base, store) =>
      seed(store)
      // rdf/xml: triples-only view — graphs merge, quad set re-parses
      val xml = get(s"$base/ds/data", accept = "application/rdf+xml")
      assert(xml.statusCode == 200)
      assert(xml.headers.firstValue("Content-Type").orElse("")
        .startsWith("application/rdf+xml"))
      val xmlBack = graft.rdf.RdfXmlParser.parse(xml.body)
      assert(xmlBack.toSet == Set(
        Quad(null, Term.iri("http://x/a"), Term.iri("http://x/p"), Term.lit("hello")),
        Quad(null, Term.iri("http://x/b"), Term.iri("http://x/p"),
          Term.typed("42", Term.XSD_INTEGER)),
        Quad(null, Term.iri("http://x/c"), Term.iri("http://x/p"),
          Term.langLit("bonjour", "fr"))))
      // json-ld: full dataset incl. the named graph
      val jld = get(s"$base/ds/data", accept = "application/ld+json")
      assert(jld.statusCode == 200)
      val jldBack = graft.rdf.JsonLdParser.parse(jld.body)
      assert(jldBack.toSet == Set(
        Quad(null, Term.iri("http://x/a"), Term.iri("http://x/p"), Term.lit("hello")),
        Quad(null, Term.iri("http://x/b"), Term.iri("http://x/p"),
          Term.typed("42", Term.XSD_INTEGER)),
        Quad(Term.iri("http://x/g"), Term.iri("http://x/c"), Term.iri("http://x/p"),
          Term.langLit("bonjour", "fr"))))
    }
  }

  test("statistics view census in the EvalContext steers the BGP order; results exact") {
    val store = new QuadStore(spark, Harness.scratchDir("httpds").toString)
    store.addQuads(0, (1 to 20).flatMap { i =>
      Seq(
        Quad(null, Term.iri(s"http://x/s$i"), Term.iri("http://x/common"),
          Term.lit(s"c$i")),
        Quad(null, Term.iri(s"http://x/s$i"), Term.iri("http://x/rare"),
          Term.lit(s"r$i")))
    } :+ Quad(null, Term.iri("http://x/s1"), Term.iri("http://x/rare"),
      Term.lit("extra")))
    val view = new graft.store.AggView(spark, store,
      Harness.scratchDir("httpstats").toString, Seq("predicate"))
    view.refresh()
    val srv = new SparqlHttp(spark)
    srv.registerDataset("ds", store)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // a 2-leaf BGP over both predicates
      val q = "SELECT ?s ?c ?r WHERE { ?s <http://x/common> ?c . " +
        "?s <http://x/rare> ?r } ORDER BY ?s ?r"
      val r = get(s"$base/ds/query?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"), accept = "text/csv")
      assert(r.statusCode == 200)
      assert(r.body.trim.linesIterator.size == 22) // header + 21 rows
      // the census is the maintained counts, and steering the join
      // order by it returns the same rows as the endpoint
      val census = view.predicateCounts()
      assert(census == Map("http://x/common" -> 20L, "http://x/rare" -> 21L))
      val steered = Sparql.execute(store.quads(), q, Sparql.EvalContext(census = census)).collect()
      assert(steered.length == 21)
      assert(steered.toSeq == Sparql.execute(store.quads(), q).collect().toSeq)
    } finally srv.stop()
  }

  test("point queries after small sink commits run no more jobs than on the compacted store") {
    import graft.connect.{Event, MaterialisedEvent, QuadStoreSink}
    withServer { (_, base, store) =>
      seed(store)
      store.compact()
      def point(subject: String): (Set[String], Int) = {
        val (r, jobs) = TestSpark.jobsOf(get(s"$base/ds/query?query=" + java.net.URLEncoder.encode(
          s"SELECT ?o WHERE { <http://x/$subject> <http://x/p> ?o }", "UTF-8"), accept = "text/csv"))
        assert(r.statusCode == 200, r.body)
        (r.body.trim.linesIterator.drop(1).map(_.trim).toSet, jobs)
      }
      val (beforeA, compactedA) = point("a")
      val (beforeB, compactedB) = point("b")
      assert(beforeA == Set("hello") && beforeB.size == 1)
      val sink = new QuadStoreSink(spark, store)
      Seq("application/n-quads" -> "<http://x/d> <http://x/p> \"x\" <http://x/g2> .\n",
          "application/rdf-patch" -> ("TX .\nD <http://x/a> <http://x/p> \"hello\" .\n" +
            "A <http://x/a> <http://x/p> \"y\" .\n" +
            "D <http://x/b> <http://x/p> \"42\"^^<http://www.w3.org/2001/XMLSchema#integer> .\nTC .\n"),
          "application/n-quads" -> "<http://x/b> <http://x/q> \"z\" .\n")
        .zipWithIndex.foreach { case ((ct, body), i) =>
          val value = body.getBytes(StandardCharsets.UTF_8)
          val ev = Event("t", 0, i.toLong, Array.empty, value, Map("Content-Type" -> ct))
          sink.apply(store.nextBatchId,
            Seq(MaterialisedEvent(ev, graft.rdf.RdfParse.decode(value, ct, s"t:0:$i"))))
        }
      assert(store.committedSegments().count(!_.contains("-base")) == 3)
      // a tail delete changes b's answer at no job over the compacted read
      val (afterB, tailB) = point("b")
      assert(afterB.isEmpty)
      assert(tailB <= compactedB, s"$tailB jobs with a 3-segment tail, $compactedB compacted")
      // a tail add in a's answer arrives as one more result partition,
      // which the per-partition streaming of the response pays one job for
      val (afterA, tailA) = point("a")
      assert(afterA == Set("y"))
      assert(tailA <= compactedA + 1, s"$tailA jobs with a 3-segment tail, $compactedA compacted")
    }
  }

  test("a declared oversize body is refused with 413 before it is read") {
    withServer { (_, base, store) =>
      val port = new URI(base).getPort
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(30000)
        val out = sock.getOutputStream
        // declares 10 GiB, sends six bytes: a buffering server would wait
        out.write(("POST /ds/update HTTP/1.1\r\nHost: localhost\r\n" +
          "Content-Type: application/sparql-update\r\n" +
          s"Content-Length: ${10L << 30}\r\n\r\nINSERT").getBytes(StandardCharsets.UTF_8))
        out.flush()
        val status = new java.io.BufferedReader(new java.io.InputStreamReader(
          sock.getInputStream, StandardCharsets.UTF_8)).readLine()
        assert(status != null && status.startsWith("HTTP/1.1 413"), status)
      } finally sock.close()
      assert(store.count() == 0)
    }
  }
}
