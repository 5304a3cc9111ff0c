package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.rdf.{Quad, RdfParseException, Term}
import graft.server.SparqlHttp
import graft.sparql.{ServiceClient, Sparql, SparqlService, SparqlUpdate}
import graft.store.QuadStore

/** SPARQL 1.1 Federated Query (`SERVICE`): the engine ships the inner
  * group to a remote SPARQL Protocol endpoint and joins the solutions.
  * Exercised against a REAL loopback [[SparqlHttp]] server (the same
  * protocol surface the reference's Fuseki host exposes), plus the
  * results-JSON parser and the security postures (HTTP opt-in, no
  * SERVICE in updates).
  */
class ServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NS = "http://x/"
  private def iri(l: String) = Term.iri(NS + l)

  private val httpc = HttpClient.newHttpClient()

  private def post(url: String, ct: String, body: String): HttpResponse[String] =
    httpc.send(HttpRequest.newBuilder(URI.create(url)).header("Content-Type", ct)
      .POST(BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build,
      BodyHandlers.ofString)

  private def tempStore(name: String): QuadStore =
    new QuadStore(spark, Harness.scratchDir(name).toString)

  /** A loopback server hosting `remote` (ages) and a second dataset
    * `other` (one extra person) for the variable-endpoint fan-out.
    */
  private def withRemote(f: (String, QuadStore) => Unit): Unit = {
    val remote = tempStore("svcremote")
    remote.addQuads(0, Seq(
      Quad(null, iri("a"), iri("age"), Term.typed("30", Term.XSD_INTEGER)),
      Quad(null, iri("b"), iri("age"), Term.typed("25", Term.XSD_INTEGER)),
      Quad(null, iri("c"), iri("age"), Term.typed("41", Term.XSD_INTEGER))))
    val other = tempStore("svcother")
    other.addQuads(0, Seq(
      Quad(null, iri("d"), iri("age"), Term.typed("99", Term.XSD_INTEGER))))
    val srv = new SparqlHttp(spark)
    srv.registerDataset("remote", remote)
    srv.registerDataset("other", other)
    srv.start()
    try f(s"http://127.0.0.1:${srv.boundPort}", remote)
    finally srv.stop()
  }

  private def localStore(): QuadStore = {
    val st = tempStore("svclocal")
    st.addQuads(0, Seq(
      Quad(null, iri("a"), iri("name"), Term.lit("Alice")),
      Quad(null, iri("b"), iri("name"), Term.lit("Bob")),
      Quad(null, iri("nowhere"), iri("name"), Term.lit("Ghost"))))
    st
  }

  test("SERVICE joins remote solutions with the local pattern") {
    withRemote { (base, _) =>
      val local = localStore()
      val res = Sparql.execute(local.quads(),
        s"""PREFIX x: <$NS>
           |SELECT ?s ?name ?age WHERE {
           |  ?s x:name ?name .
           |  SERVICE <$base/remote/sparql> { ?s x:age ?age }
           |} ORDER BY ?s""".stripMargin).collect()
      // Ghost has no remote age; c has no local name → inner join keeps a, b
      assert(res.length == 2)
      assert(res.map(_.getStruct(1).getString(1)).toSeq == Seq("Alice", "Bob"))
      assert(res.map(_.getStruct(2).getString(1)).toSeq == Seq("30", "25"))
    }
  }

  test("SERVICE SILENT on an unreachable endpoint yields the unit solution") {
    withRemote { (_, _) =>
      val local = localStore()
      val res = Sparql.execute(local.quads(),
        s"""PREFIX x: <$NS>
           |SELECT ?s ?name WHERE {
           |  ?s x:name ?name .
           |  SERVICE SILENT <http://127.0.0.1:9/nope> { ?s x:age ?age }
           |} ORDER BY ?s""".stripMargin).collect()
      assert(res.length == 3) // unit join: all local rows survive
    }
  }

  test("SERVICE without SILENT propagates the remote failure") {
    val local = localStore()
    val e = intercept[Exception] {
      Sparql.execute(local.quads(),
        s"""PREFIX x: <$NS>
           |SELECT ?s WHERE {
           |  ?s x:name ?n .
           |  SERVICE <http://127.0.0.1:9/nope> { ?s x:age ?age }
           |}""".stripMargin).collect()
    }
    assert(e != null)
  }

  test("SERVICE ?var fans out over VALUES-bound endpoints, tagging provenance") {
    withRemote { (base, _) =>
      val local = localStore()
      val res = Sparql.execute(local.quads(),
        s"""PREFIX x: <$NS>
           |SELECT ?ep ?s ?age WHERE {
           |  VALUES ?ep { <$base/remote/sparql> <$base/other/sparql> }
           |  SERVICE ?ep { ?s x:age ?age }
           |} ORDER BY ?age""".stripMargin).collect()
      assert(res.length == 4)
      assert(res.map(_.getStruct(2).getString(1)).toSeq == Seq("25", "30", "41", "99"))
      // the 99-year-old came from the `other` dataset, and the tag says so
      val byAge = res.map(r => r.getStruct(2).getString(1) -> r.getStruct(0).getString(1)).toMap
      assert(byAge("99").endsWith("/other/sparql"))
      assert(byAge("30").endsWith("/remote/sparql"))
    }
  }

  test("SERVICE ?var with the variable unbound is an error (SILENT: unit)") {
    val local = localStore()
    intercept[Exception] {
      Sparql.execute(local.quads(),
        s"SELECT ?s {{ ?s <${NS}name> ?n . SERVICE ?ep { ?s ?p ?o } }}").collect()
    }
    val silent = Sparql.execute(local.quads(),
      s"SELECT ?s { ?s <${NS}name> ?n . SERVICE SILENT ?ep { ?s ?p ?o } }")
      .collect()
    assert(silent.length == 3)
  }

  test("remote blank nodes are re-scoped: no accidental equality with local labels") {
    val remote = tempStore("svcbn")
    // remote bnode label "b0" — identical to the local store's label
    remote.addQuads(0, Seq(
      Quad(null, Term.blank("b0"), iri("p"), Term.lit("remote"))))
    val srv = new SparqlHttp(spark)
    srv.registerDataset("remote", remote)
    srv.start()
    try {
      val local = tempStore("svcbnl")
      local.addQuads(0, Seq(
        Quad(null, Term.blank("b0"), iri("p"), Term.lit("local"))))
      val res = Sparql.execute(local.quads(),
        s"""SELECT ?x ?o WHERE {
           |  SERVICE <http://127.0.0.1:${srv.boundPort}/remote/sparql> { ?x <${NS}p> ?o }
           |}""".stripMargin).collect()
      assert(res.length == 1)
      val x = res(0).getStruct(0)
      assert(x.getString(0) == Term.BLANK)
      assert(x.getString(1) != "b0" && x.getString(1).startsWith("svc"))
      // joining the re-scoped bnode against the local graph finds nothing
      val joined = Sparql.execute(local.quads(),
        s"""SELECT ?o2 WHERE {
           |  SERVICE <http://127.0.0.1:${srv.boundPort}/remote/sparql> { ?x <${NS}p> ?o }
           |  ?x <${NS}p> ?o2 .
           |}""".stripMargin).collect()
      assert(joined.isEmpty)
    } finally srv.stop()
  }

  test("unbound remote variables act as join wildcards (compat semantics)") {
    withRemote { (base, remote) =>
      // remote: only a and b have an email
      remote.addQuads(1, Seq(
        Quad(null, iri("a"), iri("email"), Term.lit("a@x"))))
      val local = localStore()
      val res = Sparql.execute(local.quads(),
        s"""PREFIX x: <$NS>
           |SELECT ?s ?age ?email WHERE {
           |  ?s x:name ?name .
           |  SERVICE <$base/remote/sparql> {
           |    ?s x:age ?age OPTIONAL { ?s x:email ?email }
           |  }
           |} ORDER BY ?s""".stripMargin).collect()
      assert(res.length == 2)
      assert(res(0).getStruct(2).getString(1) == "a@x") // a: email bound
      assert(res(1).isNullAt(2))           // b: unbound stays unbound
    }
  }

  test("HTTP endpoint refuses SERVICE by default; allowService opts in") {
    withRemote { (base, _) =>
      val local = localStore()
      // default posture: federation over the wire is refused
      val closed = new SparqlHttp(spark)
      closed.registerDataset("ds", local)
      closed.start()
      val fedQuery =
        s"""PREFIX x: <$NS>
           |SELECT ?s ?age WHERE {
           |  ?s x:name ?n . SERVICE <$base/remote/sparql> { ?s x:age ?age }
           |}""".stripMargin
      try {
        val r = post(s"http://127.0.0.1:${closed.boundPort}/ds/query",
          "application/sparql-query", fedQuery)
        assert(r.statusCode == 400)
        assert(r.body.contains("disabled"))
      } finally closed.stop()
      // opt-in: the same query federates (server → server)
      val open = new SparqlHttp(spark, allowService = true)
      open.registerDataset("ds", local)
      open.start()
      try {
        val r = post(s"http://127.0.0.1:${open.boundPort}/ds/query",
          "application/sparql-query", fedQuery)
        assert(r.statusCode == 200)
        assert(r.body.contains("\"30\"") && r.body.contains("\"25\""))
      } finally open.stop()
    }
  }

  test("SERVICE is rejected inside an update WHERE clause") {
    val e = intercept[RdfParseException] {
      SparqlUpdate.parse(
        s"INSERT { ?s <${NS}q> ?o } WHERE { SERVICE <http://127.0.0.1:9/x> { ?s ?p ?o } }")
    }
    assert(e.getMessage.contains("SERVICE"))
  }

  test("results-JSON parser: legacy typed-literal, nested triple term, lang") {
    val json =
      """{"head":{"vars":["a","b","c","d"]},
        |"results":{"bindings":[
        |  {"a":{"type":"typed-literal","value":"7","datatype":"http://www.w3.org/2001/XMLSchema#integer"},
        |   "b":{"type":"literal","value":"hi","xml:lang":"en"},
        |   "c":{"type":"triple","value":{
        |     "subject":{"type":"uri","value":"http://x/s"},
        |     "predicate":{"type":"uri","value":"http://x/p"},
        |     "object":{"type":"bnode","value":"z"}}},
        |   "d":{"type":"triple","value":"<<<http://x/s> <http://x/p> \"o\">>"}}
        |]}}""".stripMargin
    val (vars, rows) = SparqlService.parseResults(json, "scope_")
    assert(vars == Seq("a", "b", "c", "d"))
    assert(rows.length == 1)
    assert(rows(0)("a") == Term.typed("7", Term.XSD_INTEGER))
    assert(rows(0)("b") == Term.langLit("hi", "en"))
    assert(rows(0)("c") ==
      Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/p"), Term.blank("scope_z")))
    assert(rows(0)("d").termType == Term.TRIPLE)
    // malformed / hostile responses fail loudly
    intercept[RdfParseException] { SparqlService.parseResults("not json", "s_") }
    intercept[RdfParseException] {
      SparqlService.parseResults("""{"head":{},"boolean":true}""", "s_")
    }
  }

  test("a stubbed client sees the extracted prologue-carrying remote query") {
    val seen = new java.util.concurrent.atomic.AtomicReference[String]()
    val stub = new ServiceClient {
      def select(endpoint: String, query: String): String = {
        seen.set(s"$endpoint\n$query")
        """{"head":{"vars":["age"]},"results":{"bindings":[
          |{"age":{"type":"literal","value":"5","datatype":"http://www.w3.org/2001/XMLSchema#integer"}}
          |]}}""".stripMargin
      }
    }
    val local = localStore()
    val res = Sparql.execute(local.quads(),
      s"""PREFIX x: <$NS>
         |SELECT ?s ?age WHERE { ?s x:name "Alice" . SERVICE <http://ep/sparql> { ?s x:age ?age } }
         |""".stripMargin,
      Sparql.EvalContext(seed = 1L, service = stub)).collect()
    assert(res.length == 1 && res(0).getStruct(1).getString(1) == "5")
    val sent = seen.get()
    assert(sent.startsWith("http://ep/sparql\n"))
    assert(sent.contains("PREFIX x: <http://x/>"))
    assert(sent.contains("SELECT * WHERE { ?s x:age ?age }"))
  }
}
