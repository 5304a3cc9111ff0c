package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._
import graft.rdf.{NQuadsParser, RdfParse, RdfParseException, Term, TurtleParser}
import graft.sparql.{Sparql, SparqlUpdate}
import graft.store.QuadStore

/** SPARQL Update payloads (`application/sparql-update`, the content
  * type the reference ecosystem assigns to `.ru` files,
  * FKLib.java:55-69) applied through the projector path: data ops,
  * WHERE-driven modify ops with sequential in-batch semantics, CLEAR,
  * and DLQ routing for parse failures.
  */
class UpdateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val CT_RU = "application/sparql-update"
  private val CT_NQ = "application/n-quads"

  private def ingest(events: (String, String)*): QuadStore =
    ingestWithRoot(None, events: _*)

  private def ingestWithRoot(loadRoot: Option[java.nio.file.Path],
      events: (String, String)*): QuadStore = {
    val store = new QuadStore(spark, Harness.scratchDir("updstore").toString)
    val evs = events.zipWithIndex.map { case ((body, ct), i) =>
      Event("t", 0, i.toLong, Array.empty, body.getBytes("UTF-8"),
        Map("Content-Type" -> ct))
    }
    val p = new Projector(new MemoryEventSource(evs),
      new QuadStoreSink(spark, store, loadRoot = loadRoot))
    p.runToCompletion()
    store
  }

  private def stateNT(store: QuadStore): Set[(String, String, String, String)] =
    store.quads().collect().map { r =>
      def f(i: Int) = Option(r.getStruct(i)).map(_.getString(1)).orNull
      (f(0), f(1), f(2), f(3))
    }.toSet

  test("INSERT DATA with prefixes and a GRAPH block") {
    val store = ingest(
      """PREFIX ex: <http://example/>
        |INSERT DATA {
        |  ex:s ex:p "v" .
        |  GRAPH ex:g { ex:s2 ex:p "w" }
        |}""".stripMargin -> CT_RU)
    assert(stateNT(store) == Set(
      (null, "http://example/s", "http://example/p", "v"),
      ("http://example/g", "http://example/s2", "http://example/p", "w")))
  }

  test("INSERT DATA / DELETE WHERE handle quoted triples (update-star)") {
    val store = ingest(
      ("""INSERT DATA {
         |  << <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
         |  <http://x/s> <http://x/p> "v" .
         |}""".stripMargin) -> CT_RU,
      // constant quoted triple in a WHERE-driven delete
      ("""DELETE WHERE { << <http://x/s> <http://x/p> "v" >> <http://x/saidBy> ?w }""")
        -> CT_RU)
    val st = stateNT(store)
    assert(st == Set((null: String, "http://x/s", "http://x/p", "v")))
    // variables inside a quoted triple of INSERT DATA are rejected
    intercept[RdfParseException](SparqlUpdate.parse(
      """INSERT DATA { << ?s <http://x/p> "v" >> <http://x/q> <http://x/z> . }"""))
  }

  test("DELETE DATA removes exactly the listed quads; blank nodes rejected") {
    val store = ingest(
      """INSERT DATA { <http://x/a> <http://x/p> "1" . <http://x/b> <http://x/p> "2" } ;
        |DELETE DATA { <http://x/a> <http://x/p> "1" }""".stripMargin -> CT_RU)
    assert(stateNT(store).map(_._2) == Set("http://x/b"))
    intercept[RdfParseException] {
      SparqlUpdate.parse("""DELETE DATA { _:b <http://x/p> "1" }""")
    }
  }

  test("INSERT DATA scopes blanks inside quoted triples with their asserted siblings") {
    val body = """INSERT DATA { _:b <http://x/p> <http://x/o> .
                 |  << _:b <http://x/p> <http://x/o> >> <http://x/q> <http://x/r> }""".stripMargin
    // two events of the same script: each event's `_:b` is its own node,
    // in the asserted triple and in the quoted one alike
    val st = stateNT(ingest(body -> CT_RU, body -> CT_RU))
    assert(st.size == 4, st)
    val asserted = st.filter(_._3 == "http://x/p").map(_._2)
    val quoted = st.filter(_._3 == "http://x/q").map(_._2)
    assert(asserted.size == 2 && quoted.size == 2, st)
    assert(asserted.map(b => Term.quoted(Term.blank(b), Term.iri("http://x/p"),
      Term.iri("http://x/o")).lex) == quoted, st)
  }

  test("DELETE DATA rejects blanks nested in quoted triples") {
    Seq("""DELETE DATA { << _:b <http://x/p> "1" >> <http://x/q> <http://x/r> }""",
        """DELETE DATA { <http://x/s> <http://x/q> << <http://x/a> <http://x/p> _:b >> }""",
        """DELETE DATA { << << _:b <http://x/p> "1" >> <http://x/q> "2" >> <http://x/r> "3" }""")
      .foreach(u => intercept[RdfParseException](SparqlUpdate.parse(u)))
  }

  test("DELETE WHERE sees prior events AND earlier ops of the same script") {
    val store = ingest(
      "<http://x/old> <http://x/p> \"pre\" .\n" -> CT_NQ,
      """INSERT DATA { <http://x/new> <http://x/p> "in-batch" } ;
        |DELETE WHERE { ?s <http://x/p> ?o }""".stripMargin -> CT_RU)
    assert(store.count() == 0)
  }

  test("a crash-recovery replay of an update event leaves the state unchanged") {
    val store = new QuadStore(spark, Harness.scratchDir("updreplay").toString)
    val body =
      """INSERT DATA { <http://x/a> <http://x/old> "1" . <http://x/b> <http://x/old> "2" } ;
        |DELETE { ?s <http://x/old> ?o } INSERT { ?s <http://x/new> ?o }
        |WHERE { ?s <http://x/old> ?o }""".stripMargin
    def run(): Unit = {
      val evs = Seq(Event("t", 0, 0L, Array.empty, body.getBytes("UTF-8"),
        Map("Content-Type" -> CT_RU)))
      new Projector(new MemoryEventSource(evs),
        new QuadStoreSink(spark, store)).runToCompletion()
    }
    run()
    val first = stateNT(store)
    assert(first == Set(
      (null, "http://x/a", "http://x/new", "1"),
      (null, "http://x/b", "http://x/new", "2")))
    // crash-recovery replay (a FRESH projector re-reads the event,
    // offsets were never saved): the restart APPENDS a new epoch past
    // the committed history — resumeBatchId; reusing id 0 would have
    // replaced run 1's segment, which silently loses data when the
    // re-read window differs — and the re-applied script resolves
    // against the run-1 state, landing on the same final state (the
    // reference's set-semantics idempotence guarantee,
    // README.md:148-150)
    run()
    assert(stateNT(store) == first)
    assert(store.committedSegments().size == 2)
  }

  test("an INSERT DATA after a DELETE WHERE in the same script survives") {
    val store = ingest(
      """INSERT DATA { <http://x/a> <http://x/p> "1" } ;
        |DELETE WHERE { ?s <http://x/p> ?o } ;
        |INSERT DATA { <http://x/a> <http://x/p> "2" }""".stripMargin -> CT_RU)
    assert(stateNT(store) == Set((null, "http://x/a", "http://x/p", "2")))
  }

  test("DELETE/INSERT WHERE rewrites matching triples from one solve") {
    val store = ingest(
      """PREFIX x: <http://x/>
        |INSERT DATA { x:a x:old "1" . x:b x:old "2" . x:c x:other "3" } ;
        |DELETE { ?s x:old ?o } INSERT { ?s x:new ?o } WHERE { ?s x:old ?o }""".stripMargin -> CT_RU)
    assert(stateNT(store) == Set(
      (null, "http://x/a", "http://x/new", "1"),
      (null, "http://x/b", "http://x/new", "2"),
      (null, "http://x/c", "http://x/other", "3")))
  }

  test("CLEAR GRAPH deletes only that graph; CLEAR DEFAULT only the default") {
    val script =
      """PREFIX x: <http://x/>
        |INSERT DATA { x:d x:p "def" . GRAPH x:g1 { x:a x:p "1" } GRAPH x:g2 { x:b x:p "2" } } ;
        |CLEAR GRAPH x:g1""".stripMargin
    val store = ingest(script -> CT_RU)
    assert(stateNT(store).map(_._1) == Set(null, "http://x/g2"))
    val store2 = ingest((script + " ;\nCLEAR DEFAULT") -> CT_RU)
    assert(stateNT(store2).map(_._1) == Set("http://x/g2"))
  }

  test("blank nodes in INSERT DATA scope per event (no cross-event capture)") {
    val ru = """INSERT DATA { _:b <http://x/p> "v" }"""
    val store = ingest(ru -> CT_RU, ru -> CT_RU)
    assert(store.count() == 2)
  }

  test("malformed update is a decode failure (DLQ route, no store mutation)") {
    val d = RdfParse.decode("INSERT JUNK { }".getBytes("UTF-8"), CT_RU, "s")
    assert(d.kind == null && d._corrupt != null)
    // and the projector keeps going: bad update → DLQ, good event applies
    val store = new QuadStore(spark, Harness.scratchDir("upddlq").toString)
    val dlq = new MemoryDlqSink
    val evs = Seq(
      Event("t", 0, 0, Array.empty, "INSERT JUNK { }".getBytes("UTF-8"),
        Map("Content-Type" -> CT_RU)),
      Event("t", 0, 1, Array.empty,
        "<http://x/a> <http://x/p> \"1\" .\n".getBytes("UTF-8"),
        Map("Content-Type" -> CT_NQ)))
    val p = new Projector(new MemoryEventSource(evs),
      new QuadStoreSink(spark, store), dlq = Some(dlq))
    p.runToCompletion()
    assert(store.count() == 1)
    assert(dlq.events.size == 1)
  }

  test("USING scopes the WHERE like FROM; templates hit the real dataset") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" <http://x/g1> .
         |""".stripMargin) -> CT_NQ,
      """INSERT { ?s <http://x/new> ?o }
        |USING <http://x/g1>
        |WHERE { ?s <http://x/p> ?o }""".stripMargin -> CT_RU)
    // WHERE's default graph is g1's content — the store's real default
    // graph (a p 1) is NOT visible; the insert lands in the real
    // default graph
    assert(stateNT(store) == Set(
      (null, "http://x/a", "http://x/p", "1"),
      (null, "http://x/b", "http://x/new", "2"),
      ("http://x/g1", "http://x/b", "http://x/p", "2")))
  }

  test("USING NAMED restricts GRAPH patterns in the WHERE") {
    val store = ingest(
      ("""<http://x/b> <http://x/p> "2" <http://x/g1> .
         |<http://x/c> <http://x/p> "3" <http://x/g2> .
         |""".stripMargin) -> CT_NQ,
      """INSERT { ?s <http://x/seen> ?o }
        |USING NAMED <http://x/g2>
        |WHERE { GRAPH ?g { ?s <http://x/p> ?o } }""".stripMargin -> CT_RU)
    val inserted = stateNT(store).filter(_._3 == "http://x/seen")
    assert(inserted == Set((null, "http://x/c", "http://x/seen", "3")))
  }

  test("USING suppresses WITH for the WHERE but not for the templates") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" <http://x/g1> .
         |""".stripMargin) -> CT_NQ,
      """WITH <http://x/tgt>
        |INSERT { ?s <http://x/new> ?o }
        |USING <http://x/g1>
        |WHERE { ?s <http://x/p> ?o }""".stripMargin -> CT_RU)
    // WHERE reads the USING dataset (g1 only, ignoring WITH); the
    // un-GRAPHed insert template still lands in the WITH graph
    val inserted = stateNT(store).filter(_._3 == "http://x/new")
    assert(inserted == Set(("http://x/tgt", "http://x/b", "http://x/new", "2")))
  }

  test("LOAD: remote schemes rejected with a clear parse error") {
    val e = intercept[RdfParseException] {
      SparqlUpdate.parse("LOAD <http://example/doc.nt> INTO GRAPH <http://x/g>")
    }
    assert(e.getMessage.contains("file: IRIs"))
  }

  test("LOAD file: loads a local document; INTO GRAPH re-graphs it") {
    val root = Harness.scratchDir("loadroot")
    val doc = Files.createTempFile(root, "load", ".nt")
    Files.write(doc,
      ("<http://x/l1> <http://x/p> \"a\" .\n" +
       "<http://x/l2> <http://x/p> \"b\" .\n").getBytes("UTF-8"))
    val store = ingestWithRoot(Some(root),
      s"LOAD <${doc.toUri}>" -> CT_RU,
      s"LOAD <${doc.toUri}> INTO GRAPH <http://x/g>" -> CT_RU)
    assert(stateNT(store) == Set(
      (null, "http://x/l1", "http://x/p", "a"),
      (null, "http://x/l2", "http://x/p", "b"),
      ("http://x/g", "http://x/l1", "http://x/p", "a"),
      ("http://x/g", "http://x/l2", "http://x/p", "b")))
  }

  test("LOAD is DISABLED without a load root; confined to it when set") {
    // no root configured (every default, incl. the HTTP endpoint):
    // even an existing readable file must not load
    val root = Harness.scratchDir("loadroot2")
    val doc = Files.createTempFile(root, "ok", ".nt")
    Files.write(doc, "<http://x/l> <http://x/p> \"v\" .\n".getBytes("UTF-8"))
    val outside = Files.createTempFile(Harness.scratchDir("secret"), "secret", ".nt")
    Files.write(outside, "<http://x/sec> <http://x/p> \"s\" .\n".getBytes("UTF-8"))
    def dlqCountOf(loadRoot: Option[java.nio.file.Path], script: String): (Long, Int) = {
      val store = new QuadStore(spark, Harness.scratchDir("ldc").toString)
      val dlq = new MemoryDlqSink
      val p = new Projector(
        new MemoryEventSource(Seq(Event("t", 0, 0L, Array.empty,
          script.getBytes("UTF-8"), Map("Content-Type" -> CT_RU)))),
        new QuadStoreSink(spark, store, loadRoot = loadRoot), dlq = Some(dlq))
      p.runToCompletion()
      (store.count(), dlq.events.size)
    }
    assert(dlqCountOf(None, s"LOAD <${doc.toUri}>") == (0L, 1))
    // a file OUTSIDE the configured root is refused (no read primitive)
    assert(dlqCountOf(Some(root), s"LOAD <${outside.toUri}>") == (0L, 1))
    // inside the root it loads
    assert(dlqCountOf(Some(root), s"LOAD <${doc.toUri}>") == (1L, 0))
    // SILENT + disabled/confined = clean no-op, no DLQ
    assert(dlqCountOf(None, s"LOAD SILENT <${doc.toUri}>") == (0L, 0))
  }

  test("LOAD SILENT on a missing document is a no-op; non-SILENT routes to DLQ") {
    val root = Harness.scratchDir("loadroot3")
    val store = ingestWithRoot(Some(root),
      "INSERT DATA { <http://x/s> <http://x/p> \"keep\" }" -> CT_RU,
      s"LOAD SILENT <${root.toUri}nonexistent.nt>" -> CT_RU)
    assert(stateNT(store) == Set((null, "http://x/s", "http://x/p", "keep")))
    // non-SILENT: the arrival probe fails, the event routes to the
    // DLQ, the good prefix still commits
    val store2 = new QuadStore(spark, Harness.scratchDir("ldq").toString)
    val evs = Seq(
      "INSERT DATA { <http://x/s> <http://x/p> \"keep\" }",
      s"LOAD <${root.toUri}nonexistent.nt>").zipWithIndex.map { case (b, i) =>
      Event("t", 0, i.toLong, Array.empty, b.getBytes("UTF-8"),
        Map("Content-Type" -> CT_RU))
    }
    val dlq = new MemoryDlqSink
    val p = new Projector(new MemoryEventSource(evs),
      new QuadStoreSink(spark, store2, loadRoot = Some(root)), dlq = Some(dlq))
    p.runToCompletion()
    assert(stateNT(store2) == Set((null, "http://x/s", "http://x/p", "keep")))
    assert(dlq.events.size == 1)
  }

  test("WITH <g> scopes templates and WHERE to the graph; INSERT-only WHERE works") {
    val store = ingest(
      """PREFIX x: <http://x/>
        |INSERT DATA { GRAPH x:g { x:a x:old "1" } . x:a x:old "default" } ;
        |WITH x:g DELETE { ?s x:old ?o } INSERT { ?s x:new ?o } WHERE { ?s x:old ?o } ;
        |INSERT { ?s x:flag "y" } WHERE { ?s x:old ?o }""".stripMargin -> CT_RU)
    val st = stateNT(store)
    // the WITH-modify touched ONLY graph g; the default-graph quad kept
    // its predicate and then got flagged by the graph-less INSERT WHERE
    assert(st == Set(
      ("http://x/g", "http://x/a", "http://x/new", "1"),
      (null, "http://x/a", "http://x/old", "default"),
      (null, "http://x/a", "http://x/flag", "y")))
    // WITH also scopes UNION branches, nested groups, MINUS and
    // FILTER NOT EXISTS; the default graph holds the same subjects
    def withWhere(where: String) = stateNT(ingest(
      s"""PREFIX x: <http://x/>
        |INSERT DATA { GRAPH x:g { x:a x:old "1" . x:a x:keep "k" . x:c x:old "3" }
        |              x:a x:old "default" . x:c x:old "dc" } ;
        |WITH x:g DELETE { ?s x:old ?o } WHERE $where""".stripMargin -> CT_RU))
    val defaults = Set[(String, String, String, String)](
      (null, "http://x/a", "http://x/old", "default"),
      (null, "http://x/c", "http://x/old", "dc"))
    val gKeep = ("http://x/g", "http://x/a", "http://x/keep", "k")
    val gA = ("http://x/g", "http://x/a", "http://x/old", "1")
    Seq("{ { ?s x:old ?o } UNION { ?s x:none ?o } }", "{ { ?s x:old ?o } }")
      .foreach(w => assert(withWhere(w) == defaults + gKeep, w))
    Seq("{ ?s x:old ?o MINUS { ?s x:keep ?k } }",
        "{ ?s x:old ?o FILTER NOT EXISTS { ?s x:keep ?k } }")
      .foreach(w => assert(withWhere(w) == defaults + gKeep + gA, w))
  }

  test("WITH <g> also scopes property paths in the WHERE pattern") {
    val store = ingest(
      """PREFIX x: <http://x/>
        |INSERT DATA { GRAPH x:g { x:a x:next x:b . x:b x:next x:c }
        |              x:a x:next x:zDefault } ;
        |WITH x:g DELETE { ?s x:marker "no" } INSERT { ?s x:reach "yes" }
        |WHERE { x:a x:next+ ?s }""".stripMargin -> CT_RU)
    // the closure ran in graph g only: b and c flagged, zDefault not
    val flagged = stateNT(store).collect {
      case (g, s, p, _) if p == "http://x/reach" => (g, s)
    }
    assert(flagged == Set(("http://x/g", "http://x/b"), ("http://x/g", "http://x/c")))
  }

  test("DESCRIBE returns all quads about a resource (constant and WHERE-bound)") {
    val store = ingest(
      """PREFIX x: <http://x/>
        |INSERT DATA { x:a x:p "1" . x:a x:q "2" . x:b x:p "3" . x:c x:kind x:b }""".stripMargin -> CT_RU)
    val direct = Sparql.execute(store.quads(), "DESCRIBE <http://x/a>").collect()
    assert(direct.map(_.getStruct(2).getString(1)).toSet ==
      Set("http://x/p", "http://x/q"))
    val bound = Sparql.execute(store.quads(),
      """PREFIX x: <http://x/>
        |DESCRIBE ?s WHERE { ?c x:kind ?s }""".stripMargin).collect()
    assert(bound.length == 1 && bound.head.getStruct(1).getString(1) == "http://x/b")
  }

  test("graph management: ADD, COPY, MOVE, CREATE, same-graph no-op") {
    val seed =
      """INSERT DATA {
        |  <http://x/d> <http://x/p> "dflt" .
        |  GRAPH <http://g/1> { <http://x/a> <http://x/p> "g1" }
        |  GRAPH <http://g/2> { <http://x/b> <http://x/p> "g2" }
        |}""".stripMargin
    // ADD keeps the source and unions into the destination
    val add = ingest(s"$seed ;\nADD GRAPH <http://g/1> TO DEFAULT" -> CT_RU)
    assert(stateNT(add) == Set(
      (null, "http://x/d", "http://x/p", "dflt"),
      (null, "http://x/a", "http://x/p", "g1"),
      ("http://g/1", "http://x/a", "http://x/p", "g1"),
      ("http://g/2", "http://x/b", "http://x/p", "g2")))
    // COPY clears the destination first
    val copy = ingest(s"$seed ;\nCOPY <http://g/1> TO <http://g/2>" -> CT_RU)
    assert(stateNT(copy) == Set(
      (null, "http://x/d", "http://x/p", "dflt"),
      ("http://g/1", "http://x/a", "http://x/p", "g1"),
      ("http://g/2", "http://x/a", "http://x/p", "g1")))
    // MOVE also drops the source
    val move = ingest(s"$seed ;\nMOVE DEFAULT TO GRAPH <http://g/2>" -> CT_RU)
    assert(stateNT(move) == Set(
      ("http://g/1", "http://x/a", "http://x/p", "g1"),
      ("http://g/2", "http://x/d", "http://x/p", "dflt")))
    // CREATE is a no-op in a quad store; same-graph COPY is a no-op
    val noop = ingest(
      s"$seed ;\nCREATE GRAPH <http://g/9> ;\nCOPY <http://g/1> TO <http://g/1>" -> CT_RU)
    assert(stateNT(noop).size == 3)
  }

  test("SELECT queries also accept PREFIX prologues and pnames") {
    val store = ingest(
      """PREFIX x: <http://x/>
        |INSERT DATA { x:a x:name "alice" }""".stripMargin -> CT_RU)
    val rows = Sparql.execute(store.quads(),
      """PREFIX x: <http://x/>
        |SELECT ?n { ?s x:name ?n }""".stripMargin).collect()
    assert(rows.length == 1 && rows.head.getStruct(0).getString(1) == "alice")
  }

  test("string escapes in SPARQL literals decode to their characters") {
    // the SPARQL texts below hold backslash escapes, not the characters
    val store = ingest(
      """INSERT DATA { <http://x/a> <http://x/p> "a\nb" .
        |  <http://x/t> <http://x/p> 'q\"\'\\\t\r\b\f' }""".stripMargin -> CT_RU,
      """<http://x/n> <http://x/p> "a\nb" .""" + "\n" -> CT_NQ)
    assert(stateNT(store) == Set(
      (null, "http://x/a", "http://x/p", "a\nb"),
      (null, "http://x/t", "http://x/p", "q\"'\\\t\r\b\f"),
      (null, "http://x/n", "http://x/p", "a\nb")))
    val hits = Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ?o FILTER(?o = "a\nb") }""").collect()
      .map(_.getStruct(0).getString(1)).toSet
    assert(hits == Set("http://x/a", "http://x/n"))
    intercept[RdfParseException](Sparql.execute(store.quads(),
      """SELECT ?s { ?s ?p "a\qb" }"""))
  }

  test("\\u and \\U escapes decode alike in SPARQL, N-Quads and Turtle") {
    // the documents and queries below hold backslash escapes; only the
    // expected values hold the characters
    val store = ingest(
      "<http://x/c> <http://x/p> \"caf\\u00e9\" .\n" -> CT_NQ,
      "INSERT DATA { <http://x/e> <http://x/p> \"\\U0001F600\" }" -> CT_RU)
    def hits(lit: String) = Sparql.execute(store.quads(), s"SELECT ?s { ?s ?p $lit }")
      .collect().map(_.getStruct(0).getString(1)).toSet
    assert(hits("\"caf\\u00E9\"") == Set("http://x/c"))
    assert(hits("'\\U0001f600'") == Set("http://x/e"))
    assert(TurtleParser.parseTurtle("<http://x/c> <http://x/p> \"caf\\u00e9\" .").head.obj.lex ==
      "caf\u00e9")
    // past the last code point (U+10FFFF), and a signed hex field
    for (esc <- Seq("\\U00110000", "\\u+0e9")) {
      intercept[RdfParseException](NQuadsParser.parse(
        s"<http://x/c> <http://x/p> \"$esc\" .", allowGraph = true))
      intercept[RdfParseException](TurtleParser.parseTurtle(
        s"<http://x/c> <http://x/p> \"$esc\" ."))
      intercept[RdfParseException](Sparql.parse(s"SELECT ?s { ?s ?p \"$esc\" }"))
    }
  }
}
