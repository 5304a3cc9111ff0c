package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._
import graft.plans.Checkpoints
import graft.rdf.Term
import graft.sparql.Sparql
import graft.store.QuadStore

/** SPARQL-subset answering the reference's own verification queries —
  * the golden counts of DockerTestConfigFK (count query
  * :392-394, expectations :118-241) reproduced end-to-end: events →
  * Projector → QuadStore → SPARQL count.
  */
class SparqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The reference harness's exact count query (DockerTestConfigFK.java:394). */
  private val COUNT_ALL =
    "SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }"

  // reference fixtures (content documented in the repo's test files)
  private val DATA_TTL =
    "@prefix ex: <http://example/> .\nex:s ex:p ex:o .\n"
  private val DATA_NQ =
    "<http://example/s1> <http://example/p1> <http://example/o1> .\n"
  private val PATCH1 =
    """H id <uuid:73323f12-4011-4a3a-add3-5754baf3fda9> .
      |TX .
      |A <http://example/s> <http://example/p> "two" <http://example/patch> .
      |A <http://example/s> <http://example/p> "one" <http://example/patch> .
      |A <http://example/s> <http://example/p> "three" <http://example/patch> .
      |A <http://example/s> <http://example/p> "four" <http://example/patch> .
      |TC .
      |""".stripMargin

  private def ingest(events: (String, String)*): QuadStore = {
    val store = new QuadStore(spark, Harness.scratchDir("sparqlstore").toString)
    val evs = events.zipWithIndex.map { case ((body, ct), i) =>
      Event("t", 0, i.toLong, Array.empty, body.getBytes("UTF-8"),
        Map("Content-Type" -> ct))
    }
    val p = new Projector(new MemoryEventSource(evs), new QuadStoreSink(spark, store))
    p.runToCompletion()
    store
  }

  private def count(store: QuadStore): Long =
    Sparql.execute(store.quads(), COUNT_ALL).collect().head.getLong(0)

  test("golden counts: data.ttl → 1; + data.nq → 2 (DockerTestConfigFK:118-213)") {
    val store = ingest(DATA_TTL -> "text/turtle")
    assert(count(store) == 1L)
    val store2 = ingest(DATA_TTL -> "text/turtle", DATA_NQ -> "application/n-quads")
    assert(count(store2) == 2L)
  }

  test("golden counts: patch1.rdfp → 4 (DockerTestConfigFK:222-238)") {
    assert(count(ingest(PATCH1 -> "application/rdf-patch")) == 4L)
  }

  test("golden counts: nothing ingested → 0 (DockerTestConfigFK:241)") {
    assert(count(ingest()) == 0L)
  }

  test("BGP join on shared subject") {
    val store = ingest(
      ("""<http://x/a> <http://x/name> "alice" .
         |<http://x/a> <http://x/age> "30" .
         |<http://x/b> <http://x/name> "bob" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?name ?age { ?s <http://x/name> ?name . ?s <http://x/age> ?age }""")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getStruct(0).getString(1) == "alice")
    assert(rows.head.getStruct(1).getString(1) == "30")
  }

  test("GRAPH selection: named graph only; GRAPH var binds graph") {
    val store = ingest(PATCH1 -> "application/rdf-patch",
      DATA_NQ -> "application/n-quads")
    val named = Sparql.execute(store.quads(),
      "SELECT (COUNT(*) AS ?C) { GRAPH <http://example/patch> { ?s ?p ?o } }")
      .collect().head.getLong(0)
    assert(named == 4L)
    val dft = Sparql.execute(store.quads(),
      "SELECT (COUNT(*) AS ?C) { ?s ?p ?o }").collect().head.getLong(0)
    assert(dft == 1L)
    val graphs = Sparql.execute(store.quads(),
      "SELECT DISTINCT ?g { GRAPH ?g { ?s ?p ?o } }").collect()
    assert(graphs.length == 1)
    assert(graphs.head.getStruct(0).getString(1) == "http://example/patch")
  }

  test("FILTER uses SPARQL value equality, not structural equality") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "01"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/p> "1.0"^^<http://www.w3.org/2001/XMLSchema#decimal> .
         |<http://x/c> <http://x/p> "1" .
         |<http://x/d> <http://x/p> "x"@en .
         |""".stripMargin) -> "application/n-quads")
    def subjectsFor(filter: String): Set[String] =
      Sparql.execute(store.quads(),
        s"""SELECT ?s { ?s <http://x/p> ?v . FILTER(?v = $filter) }""")
        .collect().map(_.getStruct(0).getString(1)).toSet
    // value space: "01"^^xsd:integer and "1.0"^^xsd:decimal both equal 1
    assert(subjectsFor("\"1\"^^<http://www.w3.org/2001/XMLSchema#integer>") ==
      Set("http://x/a", "http://x/b"))
    // plain "1" matches only the plain literal, never the numerics
    assert(subjectsFor("\"1\"") == Set("http://x/c"))
    // a plain literal never equals a lang-tagged one
    assert(subjectsFor("\"x\"") == Set.empty)
    assert(subjectsFor("\"x\"@en") == Set("http://x/d"))
  }

  test("FILTER < and > use numeric value order, not lexical") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/p> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/c> <http://x/p> "2.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .
         |<http://x/d> <http://x/p> "banana" .
         |""".stripMargin) -> "application/n-quads")
    def subjectsFor(filter: String): Set[String] =
      Sparql.execute(store.quads(),
        s"""SELECT ?s { ?s <http://x/p> ?v . FILTER(?v $filter) }""")
        .collect().map(_.getStruct(0).getString(1)).toSet
    // lexically "9" > "10"; value order must say 9 < 10
    assert(subjectsFor("< \"10\"^^<http://www.w3.org/2001/XMLSchema#integer>") ==
      Set("http://x/a", "http://x/c"))
    assert(subjectsFor("> \"9\"^^<http://www.w3.org/2001/XMLSchema#integer>") ==
      Set("http://x/b"))
    // mixed numeric datatypes compare by value: 2.5 < 9
    assert(subjectsFor("< \"2.6\"^^<http://www.w3.org/2001/XMLSchema#decimal>") ==
      Set("http://x/c"))
    // plain strings still order lexically among themselves
    assert(subjectsFor("< \"c\"") == Set("http://x/d"))
  }

  test("OPTIONAL left-joins: matched rows bind, unmatched stay with null") {
    val store = ingest(
      ("""<http://x/a> <http://x/name> "alice" .
         |<http://x/b> <http://x/name> "bob" .
         |<http://x/a> <http://x/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      "SELECT ?name ?age { ?s <http://x/name> ?name OPTIONAL { ?s <http://x/age> ?age } } ORDER BY ?name")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getStruct(0).getString(1) == "alice" &&
      rows(0).getStruct(1).getString(1) == "30")
    assert(rows(1).getStruct(0).getString(1) == "bob" && rows(1).isNullAt(1))
  }

  test("BIND(COALESCE) over OPTIONAL: the reference's dataset-name probe shape") {
    // KafkaConnectorAssembler.java:380-411 — OPTIONAL may not match and
    // ?N2 is never bound; COALESCE must still yield exactly one row
    val store = ingest(
      ("""<http://x/c1> <http://x/serviceName> "/ds" .
         |""".stripMargin) -> "application/n-quads")
    def probe(node: String): Seq[String] =
      Sparql.execute(store.quads(),
        s"""SELECT ?n { OPTIONAL { <$node> <http://x/serviceName> ?N1 } BIND(COALESCE(?N1, ?N2, '') AS ?n) }""")
        .collect().toSeq.map(_.getStruct(0).getString(1))
    assert(probe("http://x/c1") == Seq("/ds"))
    assert(probe("http://x/missing") == Seq("")) // one row, empty string
  }

  test("GROUP BY with COUNT(?v) counts only bound solutions") {
    val store = ingest(
      ("""<http://x/a> <http://x/team> "red" .
         |<http://x/b> <http://x/team> "red" .
         |<http://x/c> <http://x/team> "blue" .
         |<http://x/a> <http://x/badge> "star" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?team (COUNT(*) AS ?n) (COUNT(?badge) AS ?nb)
        |{ ?s <http://x/team> ?team OPTIONAL { ?s <http://x/badge> ?badge } }
        |GROUP BY ?team ORDER BY ?team""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getStruct(0).getString(1), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("blue", 1L, 0L), ("red", 2L, 1L)))
  }

  test("projecting a non-grouped variable in an aggregate query fails") {
    val store = ingest(DATA_NQ -> "application/n-quads")
    intercept[graft.rdf.RdfParseException] {
      Sparql.execute(store.quads(),
        "SELECT ?s (COUNT(*) AS ?n) { ?s ?p ?o }").collect()
    }
  }

  test("FILTER equality, ORDER BY, LIMIT") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" .
         |<http://x/c> <http://x/p> "3" .
         |""".stripMargin) -> "application/n-quads")
    val filtered = Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ?v . FILTER(?v = "2") }""").collect()
    assert(filtered.length == 1 && filtered.head.getStruct(0).getString(1) == "http://x/b")
    val limited = Sparql.execute(store.quads(),
      "SELECT ?v { ?s ?p ?v } ORDER BY ?v LIMIT 2").collect()
    assert(limited.map(_.getStruct(0).getString(1)).toSeq == Seq("1", "2"))
    val paged = Sparql.execute(store.quads(),
      "SELECT ?v { ?s ?p ?v } ORDER BY ?v LIMIT 2 OFFSET 1").collect()
    assert(paged.map(_.getStruct(0).getString(1)).toSeq == Seq("2", "3"))
  }

  test("constant-term filters reach the parquet scan as leaf-field pushdowns") {
    val store = ingest(DATA_NQ -> "application/n-quads")
    store.compact() // empty tail → the BGP compiles onto a bare base scan
    val df = Sparql.execute(store.quads(),
      "SELECT ?o { <http://example/s1> <http://example/p1> ?o }")
    val scan = df.queryExecution.executedPlan.toString
    // struct <=> would push nothing parquet can evaluate; the
    // field-wise compile yields leaf predicates with usable stats
    assert(scan.contains("PushedFilters: [") &&
      scan.contains("subject.termType"), s"missing leaf pushdown:\n$scan")
  }

  test("constant quoted-triple patterns stay leaf-field pushdowns; star narrows on termType") {
    val store = ingest(
      ("""<< <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
         |""".stripMargin) -> "application/n-quads")
    store.compact()
    // all-constant << >> folds to ONE constant term → subject.lex
    // equality on the canonical form, parquet-evaluable
    val const = Sparql.execute(store.quads(),
      """SELECT ?w { << <http://x/s> <http://x/p> "v" >> <http://x/saidBy> ?w }""")
    val constScan = const.queryExecution.executedPlan.toString
    assert(constScan.contains("PushedFilters: [") &&
      constScan.contains("subject.lex"), s"missing quoted-const pushdown:\n$constScan")
    // variable components still narrow the scan on subject.termType
    // before any component extraction runs
    val star = Sparql.execute(store.quads(),
      """SELECT ?s ?w { << ?s <http://x/p> ?o >> <http://x/saidBy> ?w }""")
    val starScan = star.queryExecution.executedPlan.toString
    assert(starScan.contains("PushedFilters: [") &&
      starScan.contains("subject.termType"), s"missing termType pushdown:\n$starScan")
  }

  test("subject-bucketed layout: a 3-leaf star BGP plans with ZERO exchanges") {
    val docs = (0 until 200).map { i =>
      s"""<http://x/s$i> <http://x/p1> "a$i" .
         |<http://x/s$i> <http://x/p2> "b$i" .
         |<http://x/s$i> <http://x/p3> "c$i" .
         |""".stripMargin
    }.mkString
    val store = ingest(docs -> "application/n-quads")
    val t = store.writeSubjectBucketed("spo_bucketed_plan_test",
      Harness.scratchDir("spob").toString, 8)
    val q = "SELECT ?s ?a ?b ?c { ?s <http://x/p1> ?a . " +
      "?s <http://x/p2> ?b . ?s <http://x/p3> ?c }"
    // force the join path bucketing serves (broadcast would hide it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val res = Sparql.execute(t, q)
      val plan = res.queryExecution.executedPlan.toString
      // non-null === join keys + catalog bucket spec ⇒ every leaf scan
      // is already hash-partitioned by subject: no shuffle anywhere
      assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
      assert("Bucketed: true".r.findAllIn(plan).length == 3,
        s"expected 3 bucketed scans:\n$plan")
      assert(res.count() == 200)
      // the plain (store) layout must agree on results — and shuffles
      val base = Sparql.execute(store.quads(), q)
      assert(base.count() == 200)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("FROM graph predicates reach the parquet scan") {
    val store = ingest(PATCH1 -> "application/rdf-patch")
    store.compact()
    val df = Sparql.execute(store.quads(),
      "SELECT ?s FROM <http://example/patch> { ?s ?p ?o }")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") && scan.contains("graph.lex"),
      s"missing graph pushdown:\n$scan")
  }

  test("OPTIONAL filter referencing an outer variable is a LeftJoin condition") {
    val store = ingest(
      ("""<http://x/a> <http://x/name> "alice" .
         |<http://x/b> <http://x/name> "bob" .
         |<http://x/a> <http://x/nick> "al" .
         |<http://x/b> <http://x/nick> "bo" .
         |""".stripMargin) -> "application/n-quads")
    // §18.2.2.2: the filter sees the OUTER ?n; bob's nick is rejected
    // by the condition, so bob keeps a row with ?k unbound
    val rows = Sparql.execute(store.quads(),
      """SELECT ?n ?k { ?s <http://x/name> ?n
        |OPTIONAL { ?s <http://x/nick> ?k FILTER(?n != "bob") } } ORDER BY ?n""".stripMargin)
      .collect()
      .map(r => (r.getStruct(0).getString(1),
        Option(r.getStruct(1)).map(_.getString(1)).orNull))
    assert(rows.toSeq == Seq(("alice", "al"), ("bob", null)))
  }

  test("join compatibility: an unbound (OPTIONAL) variable matches anything") {
    val store = ingest(
      ("""<http://x/a> <http://x/name> "alice" .
         |<http://x/b> <http://x/name> "bob" .
         |<http://x/a> <http://x/nick> "al" .
         |<http://x/t1> <http://x/tag> "al" .
         |<http://x/t2> <http://x/tag> "zz" .
         |""".stripMargin) -> "application/n-quads")
    // for b, ?k is unbound after the OPTIONAL → compatible with BOTH
    // tags (spec §18.3); a null-safe equi-join would silently drop b
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?t { ?s <http://x/name> ?n
        |OPTIONAL { ?s <http://x/nick> ?k }
        |?t <http://x/tag> ?k }""".stripMargin).collect()
      .map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1))).toSet
    assert(rows == Set(
      ("http://x/a", "http://x/t1"),
      ("http://x/b", "http://x/t1"),
      ("http://x/b", "http://x/t2")))
    // VALUES UNDEF in a shared position is the same wildcard
    val undef = Sparql.execute(store.quads(),
      """SELECT ?s ?n { ?s <http://x/name> ?n
        |VALUES (?s ?n) { (<http://x/a> UNDEF) } }""".stripMargin).collect()
    assert(undef.length == 1 && undef.head.getStruct(1).getString(1) == "alice")
  }

  test("FILTER scopes over the whole group regardless of position") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" .
         |""".stripMargin) -> "application/n-quads")
    // filter BEFORE the pattern that binds ?v (spec §17.2)
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s { FILTER(?v = "2") ?s <http://x/p> ?v }""").collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/b"))
    // a filter variable nothing binds is an expression error → no rows
    assert(Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ?v FILTER(?nope = "1") }""").collect().isEmpty)
  }

  test("OFFSET/LIMIT accepted in either order; keyword-named prefixes parse") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" .
         |<http://x/c> <http://x/p> "3" .
         |""".stripMargin) -> "application/n-quads")
    val paged = Sparql.execute(store.quads(),
      "SELECT ?v { ?s ?p ?v } ORDER BY ?v OFFSET 1 LIMIT 1").collect()
    assert(paged.map(_.getStruct(0).getString(1)).toSeq == Seq("2"))
    // a prefix label spelling a keyword must stay a prefixed name
    val rows = Sparql.execute(store.quads(),
      """PREFIX values: <http://x/>
        |SELECT ?v { values:a <http://x/p> ?v }""".stripMargin).collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSeq == Seq("1"))
  }

  test("BIND STR/LANG/DATATYPE accessors") {
    val store = ingest(
      (s"""<http://x/a> <http://x/p> "hej"@sv .
          |<http://x/b> <http://x/p> "7"^^<${Term.XSD_INTEGER}> .
          |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?str ?lang ?dt { ?s <http://x/p> ?o
        |BIND(STR(?o) AS ?str) BIND(LANG(?o) AS ?lang)
        |BIND(DATATYPE(?o) AS ?dt) } ORDER BY ?s""".stripMargin).collect()
    def f(r: org.apache.spark.sql.Row, i: Int) = r.getStruct(i).getString(1)
    assert(f(rows(0), 1) == "hej" && f(rows(0), 2) == "sv")
    // DATATYPE of a lang-tagged literal is rdf:langString (§17.4.2.7)
    assert(f(rows(0), 3) == Term.RDF_LANGSTRING)
    assert(f(rows(1), 1) == "7" && f(rows(1), 2) == "" &&
      f(rows(1), 3) == Term.XSD_INTEGER)
  }

  test("RDF 1.2 directional language tags: LANG/LANGDIR/DATATYPE/STRLANGDIR/hasLANGDIR") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "mrhba"@ar--rtl .
         |<http://x/b> <http://x/p> "hello"@en .
         |<http://x/c> <http://x/p> "plain" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?l ?d ?dt { ?s <http://x/p> ?o
           BIND(LANG(?o) AS ?l) BIND(LANGDIR(?o) AS ?d)
           BIND(DATATYPE(?o) AS ?dt) } ORDER BY ?s""").collect()
    def f(r: org.apache.spark.sql.Row, i: Int) = r.getStruct(i).getString(1)
    // LANG strips the direction; LANGDIR isolates it
    assert(f(rows(0), 1) == "ar" && f(rows(0), 2) == "rtl" &&
      f(rows(0), 3) == Term.RDF_DIRLANGSTRING)
    assert(f(rows(1), 1) == "en" && f(rows(1), 2) == "" &&
      f(rows(1), 3) == Term.RDF_LANGSTRING)
    assert(f(rows(2), 1) == "" && f(rows(2), 2) == "" &&
      f(rows(2), 3) == Term.XSD_STRING)
    // hasLANG / hasLANGDIR filters
    val dirOnly = Sparql.execute(store.quads(),
      "SELECT ?s { ?s <http://x/p> ?o FILTER(hasLANGDIR(?o)) }").collect()
    assert(dirOnly.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/a"))
    val langOnly = Sparql.execute(store.quads(),
      "SELECT ?s { ?s <http://x/p> ?o FILTER(hasLANG(?o)) } ORDER BY ?s").collect()
    assert(langOnly.map(_.getStruct(0).getString(1)).toSeq ==
      Seq("http://x/a", "http://x/b"))
    // STRLANGDIR constructs a dir-tagged literal that round-trips; a
    // bad direction is an expression error
    val built = Sparql.execute(store.quads(),
      """SELECT ?t ?bad { ?s <http://x/p> ?o FILTER(?s = <http://x/c>)
           BIND(STRLANGDIR(?o, "he", "rtl") AS ?t)
           BIND(STRLANGDIR(?o, "he", "up") AS ?bad) }""").collect()
    assert(built(0).getStruct(0).getString(1) == "plain")
    assert(built(0).getStruct(0).getString(3) == "he--rtl")
    assert(built(0).getStruct(1) == null)
    // serializer round-trip keeps @ar--rtl
    val nt = graft.rdf.NtWriter.ntLines(store.quads()).collect()
      .map(_.getString(0)).mkString("\n")
    assert(nt.contains("@ar--rtl"))
  }

  test("FILTER functions: REGEX, CONTAINS, STRSTARTS, BOUND, isIRI, negation") {
    val store = ingest(
      ("""<http://x/a> <http://x/name> "Alice Smith" .
         |<http://x/b> <http://x/name> "bob jones" .
         |<http://x/a> <http://x/link> <http://x/b> .
         |""".stripMargin) -> "application/n-quads")
    def subs(q: String) = Sparql.execute(store.quads(), q).collect()
      .map(_.getStruct(0).getString(1)).toSeq.sorted
    assert(subs("""SELECT ?s { ?s <http://x/name> ?n FILTER(REGEX(?n, "^alice", "i")) }""") ==
      Seq("http://x/a"))
    assert(subs("""SELECT ?s { ?s <http://x/name> ?n FILTER(CONTAINS(?n, "jones")) }""") ==
      Seq("http://x/b"))
    assert(subs("""SELECT ?s { ?s <http://x/name> ?n FILTER(STRSTARTS(?n, "Alice")) }""") ==
      Seq("http://x/a"))
    assert(subs("""SELECT ?s { ?s ?p ?o FILTER(isIRI(?o)) }""") == Seq("http://x/a"))
    assert(subs("""SELECT ?s { ?s <http://x/name> ?n FILTER(!CONTAINS(?n, "jones")) }""") ==
      Seq("http://x/a"))
    // BOUND over an OPTIONAL: only subjects WITHOUT a link survive
    assert(subs(
      """SELECT ?s { ?s <http://x/name> ?n
        |OPTIONAL { ?s <http://x/link> ?l } FILTER(!BOUND(?l)) }""".stripMargin) ==
      Seq("http://x/b"))
  }

  test("property paths: sequence, alternative, inverse") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> <http://x/b> .
         |<http://x/b> <http://x/q> <http://x/c> .
         |<http://x/a> <http://x/r> <http://x/d> .
         |""".stripMargin) -> "application/n-quads")
    def iris(q: String) = Sparql.execute(store.quads(), q).collect()
      .map(_.getStruct(0).getString(1)).toSeq.sorted
    assert(iris("SELECT ?o { <http://x/a> <http://x/p>/<http://x/q> ?o }") ==
      Seq("http://x/c"))
    assert(iris("SELECT ?o { <http://x/a> <http://x/p>|<http://x/r> ?o }") ==
      Seq("http://x/b", "http://x/d"))
    assert(iris("SELECT ?s { <http://x/b> ^<http://x/p> ?s }") ==
      Seq("http://x/a"))
  }

  test("property paths: + computes the distributed transitive closure") {
    // chain a0 -> a1 -> ... -> a9 plus a side edge
    val chain = (0 until 9).map(i =>
      s"<http://x/a$i> <http://x/next> <http://x/a${i + 1}> .").mkString("\n")
    val store = ingest((chain + "\n") -> "application/n-quads")
    val reach = Sparql.execute(store.quads(),
      "SELECT ?o { <http://x/a0> <http://x/next>+ ?o }").collect()
    assert(reach.length == 9) // a1..a9 — full closure, not one hop
    val all = Sparql.execute(store.quads(),
      "SELECT ?s ?o { ?s <http://x/next>+ ?o }").collect()
    assert(all.length == 45) // 10 choose 2 ordered pairs along a chain
    // * adds the zero-length identity on every node
    val star = Sparql.execute(store.quads(),
      "SELECT ?s ?o { ?s <http://x/next>* ?o }").collect()
    assert(star.length == 45 + 10)
  }

  test("path closure frees superseded checkpoints (block-manager stable)") {
    // a depth-9 chain forces ~4 doubling rounds; every superseded
    // round's localCheckpoint must be unpersisted as soon as the next
    // round materializes, and the final fixpoint must be freed by the
    // enclosing scope — otherwise each path query pins
    // O(rounds × closure) blocks for the JVM lifetime (the round-6
    // bench-noise scale-killer)
    val chain = (0 until 9).map(i =>
      s"<http://x/b$i> <http://x/next> <http://x/b${i + 1}> .").mkString("\n")
    val store = ingest((chain + "\n") -> "application/n-quads")
    val before = TestSpark.pinned()
    Checkpoints.withScope {
      val rows = Sparql.execute(store.quads(),
        "SELECT ?s ?o { ?s <http://x/next>+ ?o }").collect()
      assert(rows.length == 45)
      val afterRun = TestSpark.pinned() -- before
      // only the final fixpoint checkpoint survives the loop
      assert(afterRun.size <= 1,
        s"closure loop leaked ${afterRun.size} checkpoints: $afterRun")
    }
    assert(TestSpark.awaitPinned(before) == before,
      "scope exit did not return the block manager to its pre-query size")
  }

  test("withClosureScope frees a request's closures without touching others") {
    // the HTTP server's per-request discipline: closures made inside
    // an inner scope unpersist when it exits; a closure the OUTER
    // scope pinned (another in-flight request's plan) stays readable
    val chain = (0 until 9).map(i =>
      s"<http://x/c$i> <http://x/next> <http://x/c${i + 1}> .").mkString("\n")
    val store = ingest((chain + "\n") -> "application/n-quads")
    val before = TestSpark.pinned()
    Checkpoints.withScope {
      val outside = Sparql.execute(store.quads(),
        "SELECT ?s ?o { ?s <http://x/next>+ ?o }")
      assert(outside.count() == 45)
      val pinnedOutside = TestSpark.pinned()
      assert((pinnedOutside -- before).nonEmpty)
      Sparql.withClosureScope {
        val rows = Sparql.execute(store.quads(),
          "SELECT ?s ?o { ?s <http://x/next>+ ?o }").collect()
        assert(rows.length == 45)
        assert(TestSpark.pinned().size > pinnedOutside.size)
      }
      assert(TestSpark.awaitPinned(pinnedOutside) == pinnedOutside,
        "inner scope exit should free exactly its own closure")
      // the outer plan still reads from its pinned checkpoint
      assert(outside.count() == 45)
    }
    assert(TestSpark.awaitPinned(before) == before)
  }

  test("EXISTS as an expression operand combines with || && and !") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/a> <http://x/flag> "y" .
         |<http://x/b> <http://x/p> "2" .
         |<http://x/c> <http://x/p> "9" .
         |""".stripMargin) -> "application/n-quads")
    def subjects(q: String): Seq[String] =
      Sparql.execute(store.quads(), q).collect()
        .map(_.getStruct(0).getString(1)).toSeq.sorted
    // EXISTS || numeric: a has the flag, c passes the comparison
    assert(subjects(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s { ?s <http://x/p> ?v
        |  FILTER(EXISTS { ?s <http://x/flag> ?f } || xsd:integer(STR(?v)) > 5)
        |}""".stripMargin) == Seq("http://x/a", "http://x/c"))
    // NOT EXISTS && comparison: unflagged subjects below the cut
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v
        |  FILTER(NOT EXISTS { ?s <http://x/flag> ?f } && ?v < "5")
        |}""".stripMargin) == Seq("http://x/b"))
    // negation of the operand form: !EXISTS == NOT EXISTS
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v
        |  FILTER(!EXISTS { ?s <http://x/flag> ?f } && ?v < "5")
        |}""".stripMargin) == Seq("http://x/b"))
    // no shared variables: pure nonemptiness gates every row the same
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v
        |  FILTER(EXISTS { <http://x/a> <http://x/flag> "y" } && ?v < "3")
        |}""".stripMargin) == Seq("http://x/a", "http://x/b"))
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v
        |  FILTER(EXISTS { <http://x/a> <http://x/flag> "nope" } || ?v < "2")
        |}""".stripMargin) == Seq("http://x/a"))
    // standalone form unchanged, agrees with the operand form
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v FILTER EXISTS { ?s <http://x/flag> ?f } }")
      == Seq("http://x/a"))
  }

  test("EXISTS inside OPTIONAL: local correlation works, outer correlation errors") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> <http://x/s1> .
         |<http://x/s1> <http://x/q> "1" .
         |<http://x/s1> <http://x/r> "z" .
         |<http://x/b> <http://x/p> <http://x/s2> .
         |<http://x/s2> <http://x/q> "2" .
         |""".stripMargin) -> "application/n-quads")
    // EXISTS fully local to the optional group: correct per-row answer
    val rows = Sparql.execute(store.quads(),
      """SELECT ?a ?w { ?a <http://x/p> ?s
        |  OPTIONAL { ?s <http://x/q> ?w
        |    FILTER(EXISTS { ?s <http://x/r> ?z } || ?w = "2") } }
        |ORDER BY ?a""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows.forall(r => !r.isNullAt(1)), "both optional rows satisfy the filter")
    // an EXISTS correlating with a variable bound OUTSIDE the optional
    // group needs LeftJoin-condition semantics — clear error, never a
    // silently-uncorrelated answer
    val e1 = intercept[graft.rdf.RdfParseException](Sparql.execute(store.quads(),
      """SELECT * { ?a <http://x/p> ?s
        |  OPTIONAL { ?s <http://x/q> ?w FILTER(EXISTS { ?a <http://x/r> ?x } && ?w > "0") } }"""
        .stripMargin).collect())
    assert(e1.getMessage.contains("OPTIONAL"))
    // same for a filter mixing EXISTS with an outer-variable reference
    val e2 = intercept[graft.rdf.RdfParseException](Sparql.execute(store.quads(),
      """SELECT * { ?a <http://x/p> ?s . ?s <http://x/q> ?v
        |  OPTIONAL { ?s <http://x/q> ?w FILTER(EXISTS { ?w <http://x/r> ?z } || ?v > "3") } }"""
        .stripMargin).collect())
    assert(e2.getMessage.contains("OPTIONAL"))
  }

  test("out-of-range integer bounds are clean parse errors") {
    val store = ingest(DATA_TTL -> "text/turtle")
    // LIMIT and path-repetition bounds past Int range must raise
    // RdfParseException, not a bare NumberFormatException (the HTTP
    // endpoint maps parse errors to 400, anything else to 500)
    intercept[graft.rdf.RdfParseException](Sparql.execute(store.quads(),
      "SELECT ?s { ?s ?p ?o } LIMIT 99999999999999999999"))
    intercept[graft.rdf.RdfParseException](Sparql.execute(store.quads(),
      "SELECT ?o { ?s <http://x/p>{99999999999} ?o }"))
  }

  test("CONSTRUCT-star skips solutions whose quoted template is invalid") {
    // ?o binds a literal: << ?o ... >> cannot form an RDF-star triple
    // (literal subject) — that solution produces NO triple (§16.2),
    // never a quad with a null subject slot
    val store = ingest(
      ("""<http://x/s1> <http://x/p> "lit" .
         |<http://x/s2> <http://x/p> <http://x/o2> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """CONSTRUCT { << ?o <http://x/q> <http://x/z> >> <http://x/m> <http://x/n> }
        |WHERE { ?s <http://x/p> ?o }""".stripMargin).collect()
    assert(rows.length == 1, "only the IRI-object solution instantiates")
    assert(rows.forall(r => r.getStruct(1) != null && !r.isNullAt(1)))
    assert(rows.head.getStruct(1).getString(0) == "triple")
  }

  test("VALUES restricts solutions to the inline data") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" .
         |<http://x/c> <http://x/p> "3" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?v { ?s <http://x/p> ?v
        |VALUES ?s { <http://x/a> <http://x/c> } } ORDER BY ?s""".stripMargin)
      .collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSeq ==
      Seq("http://x/a", "http://x/c"))
    // multi-var form with a full tuple match
    val tup = Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ?v
        |VALUES (?s ?v) { (<http://x/a> "1") (<http://x/b> "9") } }""".stripMargin)
      .collect()
    assert(tup.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/a"))
  }

  test("SUM/MIN/MAX/AVG aggregate the numeric value of literals") {
    val store = ingest(
      (Seq(("a", 10), ("a", 2), ("b", 9)).map { case (g, v) =>
        s"""<http://x/$g> <http://x/v> "$v"^^<${Term.XSD_INTEGER}> ."""
      }.mkString("", "\n", "\n")) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s (SUM(?v) AS ?sum) (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (AVG(?v) AS ?m)
        |{ ?s <http://x/v> ?v } GROUP BY ?s ORDER BY ?s""".stripMargin)
      .collect()
    def d(r: org.apache.spark.sql.Row, i: Int) = r.getDecimal(i).doubleValue()
    // MIN/MAX return the extreme ORIGINAL term (struct); lex holds it
    def t(r: org.apache.spark.sql.Row, i: Int) = r.getStruct(i).getString(1).toDouble
    assert(rows.length == 2)
    assert(d(rows(0), 1) == 12.0 && t(rows(0), 2) == 2.0 &&
      t(rows(0), 3) == 10.0 && d(rows(0), 4) == 6.0)
    assert(d(rows(1), 1) == 9.0 && d(rows(1), 4) == 9.0)
  }

  test("ORDER BY sorts numeric literals by value, not lexically") {
    val store = ingest(
      (Seq(9, 10, 2, 100).map(i =>
        s"""<http://x/s$i> <http://x/p> "$i"^^<${Term.XSD_INTEGER}> .""")
        .mkString("", "\n", "\n")) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      "SELECT ?v { ?s <http://x/p> ?v } ORDER BY ?v").collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSeq == Seq("2", "9", "10", "100"))
  }

  test("ASK: true when the pattern matches, false otherwise") {
    val store = ingest(DATA_NQ -> "application/n-quads")
    def ask(q: String) = Sparql.execute(store.quads(), q).collect().head.getBoolean(0)
    assert(ask("ASK { <http://example/s1> ?p ?o }"))
    assert(!ask("ASK { <http://example/nope> ?p ?o }"))
  }

  test("CONSTRUCT instantiates the template per solution, as a set") {
    val store = ingest(
      ("""<http://x/a> <http://x/name> "alice" .
         |<http://x/b> <http://x/name> "bob" .
         |<http://x/a> <http://x/nick> "al" .
         |""".stripMargin) -> "application/n-quads")
    val quads = Sparql.execute(store.quads(),
      """PREFIX x: <http://x/>
        |CONSTRUCT { ?s x:label ?n . ?s a x:Person }
        |WHERE { { ?s x:name ?n } UNION { ?s x:nick ?n } }""".stripMargin)
      .collect()
    val labels = quads.filter(_.getStruct(2).getString(1) == "http://x/label")
      .map(r => (r.getStruct(1).getString(1), r.getStruct(3).getString(1))).toSet
    assert(labels == Set(("http://x/a", "alice"), ("http://x/a", "al"),
      ("http://x/b", "bob")))
    // rdf:type quads are DEDUPED across the three solutions for x/a,x/b
    val types = quads.filter(_.getStruct(2).getString(1) == Term.RDF_TYPE)
    assert(types.length == 2)
  }

  test("FILTER compound && / || and var-vs-var comparison") {
    val store = ingest(
      ("""<http://x/a> <http://x/lo> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/a> <http://x/hi> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/lo> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/hi> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |""".stripMargin) -> "application/n-quads")
    // var-vs-var: numeric value order, not lexical ("5" < "10" holds)
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/lo> ?lo . ?s <http://x/hi> ?hi . FILTER(?lo < ?hi) }""")
      .collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/a"))
    val both = Sparql.execute(store.quads(),
      s"""SELECT ?s { ?s <http://x/lo> ?lo . FILTER(?lo = "5"^^<${Term.XSD_INTEGER}> || ?lo >= "7"^^<${Term.XSD_INTEGER}>) }""")
      .collect()
    assert(both.length == 2)
    val and = Sparql.execute(store.quads(),
      s"""SELECT ?s { ?s <http://x/lo> ?lo . FILTER(?lo > "1"^^<${Term.XSD_INTEGER}> && ?lo < "6"^^<${Term.XSD_INTEGER}>) }""")
      .collect()
    assert(and.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/a"))
  }

  test("FILTER EXISTS / NOT EXISTS as semi/anti joins") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" .
         |<http://x/a> <http://x/tag> "t" .
         |""".stripMargin) -> "application/n-quads")
    def subjects(q: String): Set[String] =
      Sparql.execute(store.quads(), q).collect()
        .map(_.getStruct(0).getString(1)).toSet
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v FILTER EXISTS { ?s <http://x/tag> ?t } }") ==
      Set("http://x/a"))
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v FILTER NOT EXISTS { ?s <http://x/tag> ?t } }") ==
      Set("http://x/b"))
    // no shared variables: pure pattern-nonemptiness
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v FILTER EXISTS { ?x <http://x/tag> ?t } }") ==
      Set("http://x/a", "http://x/b"))
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v FILTER NOT EXISTS { ?x <http://x/missing> ?t } }") ==
      Set("http://x/a", "http://x/b"))
  }

  test("sub-SELECT: grouped aggregate joined back on key and value") {
    val store = ingest(
      ("""<http://x/a> <http://x/g> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/a> <http://x/v> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/g> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/v> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/c> <http://x/g> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/c> <http://x/v> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |""".stripMargin) -> "application/n-quads")
    // argmax per group: MAX returns the ORIGINAL term (max_by), so the
    // join back on ?m is structural
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?g {
           ?s <http://x/v> ?m . ?s <http://x/g> ?g .
           { SELECT ?g (MAX(?v) AS ?m) { ?x <http://x/g> ?g . ?x <http://x/v> ?v } GROUP BY ?g }
         }""").collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSet ==
      Set("http://x/b", "http://x/c"))
    // sub-select with DISTINCT + LIMIT runs in isolation
    val limited = Sparql.execute(store.quads(),
      """SELECT ?g { { SELECT DISTINCT ?g { ?x <http://x/g> ?g } ORDER BY ?g LIMIT 1 } }""")
      .collect()
    assert(limited.map(_.getStruct(0).getString(1)).toSeq == Seq("1"))
  }

  test("nested group pattern joins; its FILTER scopes locally") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/p> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/a> <http://x/q> "x" .
         |<http://x/b> <http://x/q> "y" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      s"""SELECT ?s ?t {
            ?s <http://x/q> ?t .
            { ?s <http://x/p> ?v FILTER(?v < "2"^^<${Term.XSD_INTEGER}>) }
          }""").collect()
    assert(rows.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/a"))
  }

  test("HAVING filters groups; GROUP_CONCAT/SAMPLE/COUNT DISTINCT aggregate") {
    val store = ingest(
      ("""<http://x/a> <http://x/g> "1" .
         |<http://x/a> <http://x/name> "ann" .
         |<http://x/b> <http://x/g> "1" .
         |<http://x/b> <http://x/name> "bob" .
         |<http://x/c> <http://x/g> "2" .
         |<http://x/c> <http://x/name> "cyd" .
         |<http://x/d> <http://x/g> "1" .
         |<http://x/d> <http://x/name> "ann" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      s"""SELECT ?g (COUNT(*) AS ?n) (GROUP_CONCAT(?name; SEPARATOR="|") AS ?names)
                 (SAMPLE(?name) AS ?one) (COUNT(DISTINCT ?name) AS ?nd)
          { ?s <http://x/g> ?g . ?s <http://x/name> ?name }
          GROUP BY ?g
          HAVING (COUNT(*) >= "2"^^<${Term.XSD_INTEGER}>)""").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getStruct(0).getString(1) == "1")
    assert(r.getLong(1) == 3L)
    assert(r.getString(2) == "ann|ann|bob") // sorted lexical forms
    assert(r.getString(3) == "ann")         // deterministic SAMPLE
    assert(r.getLong(4) == 2L)
    // GROUP_CONCAT(DISTINCT) dedups before joining
    val dist = Sparql.execute(store.quads(),
      """SELECT ?g (GROUP_CONCAT(DISTINCT ?name; SEPARATOR="|") AS ?names)
         { ?s <http://x/g> ?g . ?s <http://x/name> ?name } GROUP BY ?g
         ORDER BY ?g""").collect()
    assert(dist.map(_.getString(1)).toSeq == Seq("ann|bob", "cyd"))
  }

  test("MINUS removes compatible solutions but keeps disjoint domains") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/b> <http://x/p> "2" .
         |<http://x/a> <http://x/tag> "t" .
         |""".stripMargin) -> "application/n-quads")
    def subjects(q: String): Set[String] =
      Sparql.execute(store.quads(), q).collect()
        .map(_.getStruct(0).getString(1)).toSet
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v MINUS { ?s <http://x/tag> ?t } }") ==
      Set("http://x/b"))
    // §18.5: disjoint domains — nothing shared, nothing removed (the
    // observable difference from NOT EXISTS over the same pattern)
    assert(subjects(
      "SELECT ?s { ?s <http://x/p> ?v MINUS { ?x <http://x/tag> ?t } }") ==
      Set("http://x/a", "http://x/b"))
  }

  test("negated property sets: !iri, !(iri|^iri)") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> <http://x/b> .
         |<http://x/a> <http://x/q> <http://x/c> .
         |<http://x/b> <http://x/r> <http://x/a> .
         |""".stripMargin) -> "application/n-quads")
    def pairs(q: String): Set[(String, String)] =
      Sparql.execute(store.quads(), q).collect()
        .map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1))).toSet
    // forward-only: any predicate except p
    assert(pairs("SELECT ?s ?o { ?s !<http://x/p> ?o }") ==
      Set("http://x/a" -> "http://x/c", "http://x/b" -> "http://x/a"))
    // mixed set: forward except p, PLUS reverse except r
    assert(pairs("SELECT ?s ?o { ?s !(<http://x/p>|^<http://x/r>) ?o }") ==
      Set("http://x/a" -> "http://x/c", "http://x/b" -> "http://x/a",
          "http://x/c" -> "http://x/a"))
    // reverse-only negation matches no forward edge
    assert(pairs("SELECT ?s ?o { ?s !^<http://x/r> ?o }") ==
      Set("http://x/b" -> "http://x/a", "http://x/c" -> "http://x/a"))
  }

  // ---- expression engine (§17.3 arithmetic, §17.4 functions) ----

  private def numStore = ingest(
    ("""<http://x/a> <http://x/k> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .
       |<http://x/b> <http://x/k> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .
       |<http://x/c> <http://x/k> "banana" .
       |""".stripMargin) -> "application/n-quads")

  private def lex(row: org.apache.spark.sql.Row, i: Int): String =
    row.getStruct(i).getString(1)

  test("arithmetic in BIND: precedence, integer vs decimal result, bare numerics") {
    val rows = Sparql.execute(numStore.quads(),
      "SELECT ?s ?v { ?s <http://x/k> ?k BIND(?k * 2 + 1 AS ?v) } ORDER BY ?s")
      .collect()
    // non-numeric operand is an expression error → ?v unbound, row kept
    assert(rows.length == 3)
    val bySubj = rows.map(r => lex(r, 0) -> r.getStruct(1)).toMap
    assert(bySubj("http://x/a").getString(1) == "7")
    assert(bySubj("http://x/a").getString(2).endsWith("integer"))
    assert(bySubj("http://x/b").getString(1) == "21")
    assert(bySubj("http://x/c") == null)
    // division is always decimal, with a canonical lexical form
    val div = Sparql.execute(numStore.quads(),
      "SELECT ?v { <http://x/b> <http://x/k> ?k BIND(?k / 4 AS ?v) }")
      .collect().head.getStruct(0)
    assert(div.getString(1) == "2.5")
    assert(div.getString(2).endsWith("decimal"))
    // division by zero is an error → unbound
    val dz = Sparql.execute(numStore.quads(),
      "SELECT ?v { <http://x/b> <http://x/k> ?k BIND(?k / 0 AS ?v) }")
      .collect().head
    assert(dz.getStruct(0) == null)
  }

  test("arithmetic in FILTER, parenthesized operands, bare numeric literals") {
    def subjects(q: String): Set[String] =
      Sparql.execute(numStore.quads(), q).collect().map(lex(_, 0)).toSet
    // non-numeric "banana" is a type error → dropped, not matched
    assert(subjects("SELECT ?s { ?s <http://x/k> ?k FILTER(?k * 2 >= 10) }") ==
      Set("http://x/b"))
    assert(subjects("SELECT ?s { ?s <http://x/k> ?k FILTER((?k + 2) * 2 = 10) }") ==
      Set("http://x/a"))
    assert(subjects("SELECT ?s { ?s <http://x/k> ?k FILTER(?k < 10) }") ==
      Set("http://x/a"))
  }

  test("numeric functions: ABS, ROUND half-to-+inf, CEIL, FLOOR") {
    val store = ingest(
      ("""<http://x/a> <http://x/k> "-2.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .
         |""".stripMargin) -> "application/n-quads")
    val r = Sparql.execute(store.quads(),
      """SELECT ?abs ?rnd ?cl ?fl { ?s <http://x/k> ?k
         BIND(ABS(?k) AS ?abs) BIND(ROUND(?k) AS ?rnd)
         BIND(CEIL(?k) AS ?cl) BIND(FLOOR(?k) AS ?fl) }""")
      .collect().head
    assert(lex(r, 0) == "2.5")
    assert(lex(r, 1) == "-2") // XPath fn:round: half toward +inf
    assert(lex(r, 2) == "-2")
    assert(lex(r, 3) == "-3")
  }

  test("string functions: STRLEN UCASE LCASE CONCAT SUBSTR REPLACE STRBEFORE STRAFTER") {
    val store = ingest(
      ("<http://x/a> <http://x/name> \"Hello World\" .\n") -> "application/n-quads")
    val r = Sparql.execute(store.quads(),
      """SELECT ?len ?up ?lo ?cat ?sub ?rep ?before ?after {
           ?s <http://x/name> ?n
           BIND(STRLEN(?n) AS ?len) BIND(UCASE(?n) AS ?up)
           BIND(LCASE(?n) AS ?lo) BIND(CONCAT(?n, "!", "!") AS ?cat)
           BIND(SUBSTR(?n, 7, 5) AS ?sub)
           BIND(REPLACE(?n, "l+", "L") AS ?rep)
           BIND(STRBEFORE(?n, " ") AS ?before)
           BIND(STRAFTER(?n, "l") AS ?after) }""").collect().head
    assert(lex(r, 0) == "11")
    assert(lex(r, 1) == "HELLO WORLD")
    assert(lex(r, 2) == "hello world")
    assert(lex(r, 3) == "Hello World!!")
    assert(lex(r, 4) == "World")
    assert(lex(r, 5) == "HeLo WorLd") // regex replace, all occurrences
    assert(lex(r, 6) == "Hello")
    assert(lex(r, 7) == "lo World") // after the FIRST occurrence
    // spec corner: empty separator — STRBEFORE → "", STRAFTER → input
    val e = Sparql.execute(store.quads(),
      """SELECT ?b ?a { ?s <http://x/name> ?n
         BIND(STRBEFORE(?n, "") AS ?b) BIND(STRAFTER(?n, "") AS ?a) }""")
      .collect().head
    assert(lex(e, 0) == "")
    assert(lex(e, 1) == "Hello World")
  }

  test("IF, IN, NOT IN, EBV of a bare expression") {
    def rows(q: String) = Sparql.execute(numStore.quads(), q).collect()
    val iff = rows(
      """SELECT ?s ?cls { ?s <http://x/k> ?k
         BIND(IF(?k < 5, "low", "high") AS ?cls) } ORDER BY ?s""")
    val byS = iff.map(r => lex(r, 0) -> r.getStruct(1)).toMap
    assert(byS("http://x/a").getString(1) == "low")
    assert(byS("http://x/b").getString(1) == "high")
    assert(byS("http://x/c") == null) // error in condition → error
    assert(rows("SELECT ?s { ?s <http://x/k> ?k FILTER(?k IN (3, 99)) }")
      .map(lex(_, 0)).toSet == Set("http://x/a"))
    // NOT IN: an error in the comparison poisons the row (banana dropped)
    assert(rows("SELECT ?s { ?s <http://x/k> ?k FILTER(?k NOT IN (3, 99)) }")
      .map(lex(_, 0)).toSet == Set("http://x/b"))
    // EBV: numeric != 0 is true, non-empty string is true
    assert(rows("SELECT ?s { ?s <http://x/k> ?k FILTER(?k - 3) }")
      .map(lex(_, 0)).toSet == Set("http://x/b"))
    assert(rows("SELECT ?s { ?s <http://x/k> ?k FILTER(?k) }")
      .map(lex(_, 0)).toSet == Set("http://x/a", "http://x/b", "http://x/c"))
  }

  test("aggregates over expressions: SUM(?a * ?b), MAX(STRLEN(?s))") {
    val store = ingest(
      ("""<http://x/a> <http://x/q> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/a> <http://x/price> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/q> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/price> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/a> <http://x/name> "longername" .
         |<http://x/b> <http://x/name> "short" .
         |""".stripMargin) -> "application/n-quads")
    val r = Sparql.execute(store.quads(),
      """SELECT (SUM(?q * ?p) AS ?rev) (MAX(STRLEN(?n)) AS ?maxlen)
         { ?s <http://x/q> ?q . ?s <http://x/price> ?p . ?s <http://x/name> ?n }""")
      .collect().head
    assert(r.getDecimal(0).longValue == 35L) // 2*10 + 3*5
    // MAX returns the extreme ORIGINAL term (struct); lex holds it
    assert(r.getStruct(1).getString(1).toLong == 10L)
  }

  test("GROUP BY an expression key: (expr AS ?x)") {
    val rows = Sparql.execute(numStore.quads(),
      """SELECT ?bucket (COUNT(*) AS ?n) (SUM(?k) AS ?sum)
         { ?s <http://x/k> ?k FILTER(isNUMERIC(?k)) }
         GROUP BY (IF(?k < 5, "lo", "hi") AS ?bucket) ORDER BY ?bucket""")
      .collect()
    // keys 3 and 10 split into lo/hi computed-key groups
    assert(rows.map(r => (lex(r, 0), r.getLong(1), r.getDecimal(2).longValue)).toSeq ==
      Seq(("hi", 1L, 10L), ("lo", 1L, 3L)))
  }

  test("FROM and FROM NAMED define the queried dataset exactly") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "dflt" .
         |<http://x/b> <http://x/p> "g1" <http://g/1> .
         |<http://x/c> <http://x/p> "g2" <http://g/2> .
         |<http://x/d> <http://x/p> "g1b" <http://g/1> .
         |""".stripMargin) -> "application/n-quads")
    def n(q: String): Long =
      Sparql.execute(store.quads(), q).collect().head.getLong(0)
    // FROM merges the named graphs into the default graph; the store's
    // real default graph is NOT part of the dataset any more
    assert(n("SELECT (COUNT(*) AS ?C) FROM <http://g/1> { ?s ?p ?o }") == 2L)
    assert(n("SELECT (COUNT(*) AS ?C) FROM <http://g/1> FROM <http://g/2> { ?s ?p ?o }") == 3L)
    // with only FROM, GRAPH patterns see no named graphs at all
    assert(n("SELECT (COUNT(*) AS ?C) FROM <http://g/1> { GRAPH ?g { ?s ?p ?o } }") == 0L)
    // FROM NAMED restricts GRAPH to the named list; default empty
    assert(n("SELECT (COUNT(*) AS ?C) FROM NAMED <http://g/2> { GRAPH ?g { ?s ?p ?o } }") == 1L)
    assert(n("SELECT (COUNT(*) AS ?C) FROM NAMED <http://g/2> { ?s ?p ?o }") == 0L)
  }

  test("SELECT expressions and ORDER BY DESC") {
    val rows = Sparql.execute(numStore.quads(),
      """SELECT ?s (?k * 10 AS ?x) { ?s <http://x/k> ?k }
         ORDER BY DESC(?k) LIMIT 2""").collect()
    // DESC in VALUE space: 10 before 3 (lexically "10" < "3" — the
    // value order is what makes this test bite); "banana" has a null
    // numeric key and sorts last under desc, cut by LIMIT 2
    assert(rows.length == 2)
    assert(lex(rows(0), 0) == "http://x/b")
    assert(rows(0).getStruct(1).getString(1) == "100")
    assert(lex(rows(1), 0) == "http://x/a")
    assert(rows(1).getStruct(1).getString(1) == "30")
  }

  test("STRDT and STRLANG construct typed and tagged literals") {
    val store = ingest(
      ("<http://x/a> <http://x/p> \"5\" .\n") -> "application/n-quads")
    // STRDT result participates in VALUE-space comparison
    val n = Sparql.execute(store.quads(),
      s"""SELECT ?s { ?s <http://x/p> ?v
          FILTER(STRDT(STR(?v), <${Term.XSD_INTEGER}>) = 5) }""").collect()
    assert(n.length == 1)
    // STRLANG result matches LANGMATCHES; empty tag is an error
    val r = Sparql.execute(store.quads(),
      """SELECT ?t ?bad { ?s <http://x/p> ?v
         BIND(STRLANG(STR(?v), "en-GB") AS ?t)
         BIND(STRLANG(STR(?v), "") AS ?bad) }""").collect().head
    assert(r.getStruct(0).getString(3) == "en-GB")
    assert(r.getStruct(1) == null)
  }

  test("ENCODE_FOR_URI percent-encodes everything but the unreserved set") {
    val store = ingest(
      ("<http://x/a> <http://x/p> \"caf\\u00E9 ~A_b.c-1/?#\" .\n") -> "application/n-quads")
    val r = Sparql.execute(store.quads(),
      """SELECT ?e { ?s <http://x/p> ?v BIND(ENCODE_FOR_URI(?v) AS ?e) }""")
      .collect().head
    // é → UTF-8 C3 A9; space → %20; unreserved -_.~ pass through
    assert(lex(r, 0) == "caf%C3%A9%20~A_b.c-1%2F%3F%23")
  }

  test("malformed queries fail with parse errors, not misparses") {
    val store = ingest(DATA_NQ -> "application/n-quads")
    def bad(q: String): Unit =
      intercept[graft.rdf.RdfParseException](
        Sparql.execute(store.quads(), q).collect())
    bad("SELECT ?s { ?s ?p ?o")                         // unterminated group
    bad("SELECT { ?s ?p ?o }")                          // no projection
    bad("SELECT ?s { ?s ?p ?o } LIMIT x")               // non-numeric LIMIT
    bad("SELECT ?s { ?s ?p ?o FILTER(?s <) }")          // dangling operator
    bad("SELECT ?s { ?s ?p ?o FILTER(STRLEN(?s) }")     // unbalanced parens
    bad("SELECT ?s { ?s ex:p ?o }")                     // undeclared prefix
    bad("SELECT (SUM(?o) AS ?t) { ?s ?p ?o } HAVING (COUNT(*) >)") // bad HAVING
    bad("SELECT ?s { ?s ?p ?o } GROUP BY")              // empty GROUP BY
    bad("SELECT ?s { ?s ?p ?o } ORDER BY DESC ?s")      // DESC needs parens
    bad("SELECT ?s ?o { ?s !?p ?o }")                   // negated set needs IRIs
    bad("SELECT ?s FROM { ?s ?p ?o }")                  // FROM needs an IRI
    bad("SELECT ?x { BIND(?a + AS ?x) }")               // dangling arithmetic
    // trailing garbage after a complete query is rejected
    bad("SELECT ?s { ?s ?p ?o } LIMIT 5 garbage")
    // round-6 syntax: unterminated sugar and bad IRI function calls
    bad("""SELECT ?s { ?s <http://x/p> ("a" }""")       // unterminated collection
    bad("SELECT ?s { ?s <http://x/p> [ }")              // unterminated blank list
    bad("""SELECT ?x { ?s ?p ?a
           BIND(<http://www.w3.org/2001/XMLSchema#integer>(?a, ?a) AS ?x) }""")
    bad("SELECT ?x { ?s ?p ?a BIND(<http://unknown/fn>(?a) AS ?x) }")
    bad("SELECT ?s { ?s ?p ?o } VALUES ?x { }")         // empty trailing VALUES
    // round-7: SELECT * cannot project over a grouped query (18.2.4.4)
    bad("SELECT * { ?s ?p ?o } GROUP BY ?s")
    bad("SELECT * { ?s ?p ?o } HAVING(COUNT(*) > 1)")
    // round-7 star syntax: malformed quoted triples
    bad("SELECT ?w { << ?s ?p >> <http://x/q> ?w }")        // two terms
    bad("SELECT ?w { << ?s ?p ?o <http://x/q> ?w }")        // unterminated
    bad("""SELECT ?w { << "lit" ?p ?o >> <http://x/q> ?w }""") // literal subject
    bad("""SELECT ?w { << ?s "p" ?o >> <http://x/q> ?w }""")   // literal predicate
    bad("SELECT ?x { ?s ?p ?o BIND(TRIPLE(?s, ?p) AS ?x) }")   // TRIPLE arity
  }

  test("sameTerm vs value =, LANGMATCHES, isNUMERIC") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "01"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/c> <http://x/p> "hi"@en .
         |<http://x/d> <http://x/p> "hi"@en-GB .
         |<http://x/e> <http://x/p> "hi"@fr .
         |""".stripMargin) -> "application/n-quads")
    def subjects(q: String): Set[String] =
      Sparql.execute(store.quads(), q).collect().map(lex(_, 0)).toSet
    // = is value equality ("01" = "1"), sameTerm is structural
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v
         FILTER(?v = "1"^^<http://www.w3.org/2001/XMLSchema#integer>) }""") ==
      Set("http://x/a", "http://x/b"))
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v
         FILTER(sameTerm(?v, "1"^^<http://www.w3.org/2001/XMLSchema#integer>)) }""") ==
      Set("http://x/b"))
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v FILTER(LANGMATCHES(LANG(?v), "en")) }""") ==
      Set("http://x/c", "http://x/d"))
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v FILTER(LANGMATCHES(LANG(?v), "*")) }""") ==
      Set("http://x/c", "http://x/d", "http://x/e"))
    assert(subjects(
      """SELECT ?s { ?s <http://x/p> ?v FILTER(isNUMERIC(?v)) }""") ==
      Set("http://x/a", "http://x/b"))
  }

  test("hash functions: MD5/SHA1/SHA256 digests of simple literals") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "abc" .
         |<http://x/b> <http://x/p> "tagged"@en .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?m ?s1 ?s256 { ?s <http://x/p> ?v
         BIND(MD5(?v) AS ?m) BIND(SHA1(?v) AS ?s1) BIND(SHA256(?v) AS ?s256) }
         ORDER BY ?s""").collect()
    // reference digests of "abc" (RFC test vectors)
    assert(rows(0).getStruct(1).getString(1) ==
      "900150983cd24fb0d6963f7d28e17f72")
    assert(rows(0).getStruct(2).getString(1) ==
      "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(rows(0).getStruct(3).getString(1) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    // a language-tagged literal is not a valid hash argument → error
    assert(rows(1).getStruct(1) == null)
  }

  test("date/time accessors over xsd:dateTime and xsd:date lexical forms") {
    val store = ingest(
      ("""<http://x/a> <http://x/t> "2024-03-05T10:30:02.5+01:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
         |<http://x/b> <http://x/t> "2024-12-31"^^<http://www.w3.org/2001/XMLSchema#date> .
         |<http://x/c> <http://x/t> "not a date" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?y ?mo ?d ?h ?mi ?sec ?tz { ?s <http://x/t> ?v
         BIND(YEAR(?v) AS ?y) BIND(MONTH(?v) AS ?mo) BIND(DAY(?v) AS ?d)
         BIND(HOURS(?v) AS ?h) BIND(MINUTES(?v) AS ?mi)
         BIND(SECONDS(?v) AS ?sec) BIND(TZ(?v) AS ?tz) }
         ORDER BY ?s""").collect()
    def f(r: org.apache.spark.sql.Row, i: Int): String =
      Option(r.getStruct(i)).map(_.getString(1)).orNull
    assert((1 to 7).map(f(rows(0), _)) ==
      Seq("2024", "3", "5", "10", "30", "2.5", "+01:00"))
    // xsd:date supports the date components and TZ ("" without zone);
    // the time components are type errors
    assert((1 to 3).map(f(rows(1), _)) == Seq("2024", "12", "31"))
    assert((4 to 6).map(f(rows(1), _)) == Seq(null, null, null))
    assert(f(rows(1), 7) == "")
    // a plain literal is a type error for every accessor
    assert((1 to 7).map(f(rows(2), _)).forall(_ == null))
  }

  test("TIMEZONE returns canonical xsd:dayTimeDuration; zone-less is an error") {
    val store = ingest(
      ("""<http://x/a> <http://x/t> "2011-01-10T14:45:13.815-05:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
         |<http://x/b> <http://x/t> "2024-03-05T10:30:02+05:30"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
         |<http://x/c> <http://x/t> "2024-03-05T10:30:02Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
         |<http://x/d> <http://x/t> "2024-03-05T10:30:02+00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
         |<http://x/e> <http://x/t> "2024-03-05T10:30:02"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?z { ?s <http://x/t> ?v BIND(TIMEZONE(?v) AS ?z) }
         ORDER BY ?s""").collect()
    def z(i: Int) = Option(rows(i).getStruct(1))
    assert(z(0).map(_.getString(1)) == Some("-PT5H"))
    assert(z(0).map(_.getString(2)) ==
      Some("http://www.w3.org/2001/XMLSchema#dayTimeDuration"))
    assert(z(1).map(_.getString(1)) == Some("PT5H30M"))
    assert(z(2).map(_.getString(1)) == Some("PT0S"))   // Z
    assert(z(3).map(_.getString(1)) == Some("PT0S"))   // +00:00
    assert(z(4).isEmpty)                               // no zone → error
  }

  test("BASE prologue resolves relative IRIs (and chains with PREFIX)") {
    val store = ingest(
      ("""<http://x/data/a> <http://x/data/p> "1" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """BASE <http://x/data/>
         PREFIX ex: <rel/>
         SELECT ?v { <a> <p> ?v }""").collect()
    assert(rows.length == 1 && rows(0).getStruct(0).getString(1) == "1")
    // the PREFIX expansion itself resolved against BASE
    val rows2 = Sparql.execute(store.quads(),
      """BASE <http://x/>
         PREFIX d: <data/>
         SELECT ?v { d:a d:p ?v }""").collect()
    assert(rows2.length == 1)
  }

  test("ASK WHERE, DESCRIBE with prefixed names and bare group") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |""".stripMargin) -> "application/n-quads")
    val ask = Sparql.execute(store.quads(),
      """PREFIX ex: <http://x/> ASK WHERE { ex:a ex:p ?v }""").collect()
    assert(ask.head.getBoolean(0))
    val desc = Sparql.execute(store.quads(),
      """PREFIX ex: <http://x/> DESCRIBE ex:a""").collect()
    assert(desc.length == 1)
    val descVar = Sparql.execute(store.quads(),
      """DESCRIBE ?s { ?s <http://x/p> "1" }""").collect()
    assert(descVar.length == 1)
  }

  test("path repetition {n}, {n,m}, {n,} rewrites onto the combinators") {
    // chain 1 → 2 → 3 → 4 → 5
    val store = ingest(
      ((1 to 4).map(i =>
        s"<http://x/n$i> <http://x/next> <http://x/n${i + 1}> .").mkString("\n") + "\n")
        -> "application/n-quads")
    def pairs(q: String): Set[(String, String)] =
      Sparql.execute(store.quads(), q).collect()
        .map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1))).toSet
    def n(i: Int) = s"http://x/n$i"
    // exactly two hops
    assert(pairs("SELECT ?s ?o { ?s <http://x/next>{2} ?o }") ==
      Set(n(1) -> n(3), n(2) -> n(4), n(3) -> n(5)))
    // two to three hops
    assert(pairs("SELECT ?s ?o { ?s <http://x/next>{2,3} ?o }") ==
      Set(n(1) -> n(3), n(2) -> n(4), n(3) -> n(5),
          n(1) -> n(4), n(2) -> n(5)))
    // zero to two hops from a fixed start (zero-length binds the start)
    assert(pairs(s"SELECT ?s ?o { ?s <http://x/next>{0,2} ?o . FILTER(?s = <${n(1)}>) }") ==
      Set(n(1) -> n(1), n(1) -> n(2), n(1) -> n(3)))
    // at least three hops
    assert(pairs("SELECT ?s ?o { ?s <http://x/next>{3,} ?o }") ==
      Set(n(1) -> n(4), n(2) -> n(5), n(1) -> n(5)))
    // malformed / unsupported forms fail cleanly
    intercept[graft.rdf.RdfParseException](
      Sparql.execute(store.quads(), "SELECT ?s ?o { ?s <http://x/next>{0} ?o }"))
    intercept[graft.rdf.RdfParseException](
      Sparql.execute(store.quads(), "SELECT ?s ?o { ?s <http://x/next>{3,2} ?o }"))
    intercept[graft.rdf.RdfParseException](
      Sparql.execute(store.quads(), "SELECT ?s ?o { ?s <http://x/next>{2,99} ?o }"))
  }

  test("CONSTRUCT honors ORDER BY + LIMIT/OFFSET solution modifiers") {
    val store = ingest(
      ("""<http://x/a> <http://x/v> "1" .
         |<http://x/b> <http://x/v> "2" .
         |<http://x/c> <http://x/v> "3" .
         |""".stripMargin) -> "application/n-quads")
    // top-2 by descending value, skipping the first solution
    val out = Sparql.execute(store.quads(),
      """CONSTRUCT { ?s <http://x/keep> ?v } WHERE { ?s <http://x/v> ?v }
         ORDER BY DESC(?v) LIMIT 2 OFFSET 1""").collect()
    val kept = out.map(_.getStruct(3).getString(1)).toSet
    assert(kept == Set("2", "1"))
  }

  test("DESCRIBE * describes every WHERE-bound variable") {
    val store = ingest(
      ("""<http://x/a> <http://x/knows> <http://x/b> .
         |<http://x/a> <http://x/age> "30" .
         |<http://x/b> <http://x/age> "31" .
         |<http://x/c> <http://x/age> "32" .
         |""".stripMargin) -> "application/n-quads")
    // ?s and ?o both bind → quads about a AND b (c is not bound)
    val rows = Sparql.execute(store.quads(),
      "DESCRIBE * WHERE { ?s <http://x/knows> ?o }").collect()
    val subjects = rows.map(_.getStruct(1).getString(1)).toSet
    assert(subjects == Set("http://x/a", "http://x/b") && rows.length == 3)
  }

  test("SELECT REDUCED eliminates duplicates (conformant §15.3.2 choice)") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "v" .
         |<http://x/b> <http://x/p> "v" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      "SELECT REDUCED ?v { ?s <http://x/p> ?v }").collect()
    assert(rows.length == 1 && rows(0).getStruct(0).getString(1) == "v")
  }

  test("sparql-star: quoted-triple patterns match, destructure, and join") {
    val store = ingest(
      ("""<< <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
         |<< <http://x/s2> <http://x/p> "w" >> <http://x/saidBy> <http://x/bob> .
         |<http://x/s> <http://x/p> "v" .
         |""".stripMargin) -> "application/n-quads")
    // constant quoted triple → plain pushable term match
    val c = Sparql.execute(store.quads(),
      """SELECT ?w { << <http://x/s> <http://x/p> "v" >> <http://x/saidBy> ?w }""").collect()
    assert(c.map(_.getStruct(0).getString(1)).toSeq == Seq("http://x/alice"))
    // variable components destructure and bind
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s ?o ?w { << ?s <http://x/p> ?o >> <http://x/saidBy> ?w }
         ORDER BY ?s""").collect()
    assert(rows.length == 2)
    assert(rows(0).getStruct(0).getString(1) == "http://x/s")
    assert(rows(0).getStruct(1).getString(1) == "v")
    assert(rows(0).getStruct(2).getString(1) == "http://x/alice")
    assert(rows(1).getStruct(0).getString(1) == "http://x/s2")
    // the destructured subject joins back to the asserted triple
    val joined = Sparql.execute(store.quads(),
      """SELECT ?s ?w { << ?s <http://x/p> ?o >> <http://x/saidBy> ?w .
                        ?s <http://x/p> ?o }""").collect()
    assert(joined.length == 1 && joined(0).getStruct(0).getString(1) == "http://x/s")
  }

  test("sparql-star: TRIPLE/SUBJECT/PREDICATE/OBJECT/isTRIPLE builtins") {
    val store = ingest(
      ("""<< <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
         |<http://x/plain> <http://x/saidBy> <http://x/carol> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?su ?pr ?ob { ?t <http://x/saidBy> ?w FILTER(ISTRIPLE(?t))
           BIND(SUBJECT(?t) AS ?su) BIND(PREDICATE(?t) AS ?pr) BIND(OBJECT(?t) AS ?ob) }""")
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getStruct(0).getString(1) == "http://x/s")
    assert(rows(0).getStruct(1).getString(1) == "http://x/p")
    assert(rows(0).getStruct(2).getString(1) == "v")
    // TRIPLE() rebuilds the quoted term, and equality matches the stored one
    val rebuilt = Sparql.execute(store.quads(),
      """SELECT ?w { ?t <http://x/saidBy> ?w
           FILTER(ISTRIPLE(?t))
           FILTER(?t = TRIPLE(SUBJECT(?t), PREDICATE(?t), OBJECT(?t))) }""").collect()
    assert(rebuilt.length == 1 && rebuilt(0).getStruct(0).getString(1) == "http://x/alice")
    // SUBJECT of a non-triple term is an expression error → row dropped
    val err = Sparql.execute(store.quads(),
      """SELECT ?w { ?t <http://x/saidBy> ?w . ?x <http://x/saidBy> ?w
           BIND(SUBJECT(?t) AS ?su) FILTER(BOUND(?su)) }""").collect()
    assert(err.forall(_.getStruct(0).getString(1) == "http://x/alice"))
  }

  test("sparql-star: constant quoted triples in VALUES data") {
    val store = ingest(
      ("""<< <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
         |<< <http://x/s2> <http://x/p> "w" >> <http://x/saidBy> <http://x/bob> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?w { ?t <http://x/saidBy> ?w
           VALUES ?t { << <http://x/s> <http://x/p> "v" >> } }""").collect()
    assert(rows.length == 1 && rows(0).getStruct(0).getString(1) == "http://x/alice")
  }

  test("sparql-star: CONSTRUCT with quoted-triple templates") {
    val store = ingest(
      ("""<http://x/s> <http://x/score> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |""".stripMargin) -> "application/n-quads")
    val out = Sparql.execute(store.quads(),
      """CONSTRUCT { << ?s <http://x/score> ?v >> <http://x/assessedBy> <http://x/judge> }
         WHERE { ?s <http://x/score> ?v }""").collect()
    assert(out.length == 1)
    val subj = out(0).getStruct(1)
    assert(subj.getString(0) == "triple")
    assert(subj.getString(1) ==
      "<<<http://x/s> <http://x/score> \"7\"^^<http://www.w3.org/2001/XMLSchema#integer>>>")
  }

  test("predicate-object lists, object lists, blank-node property lists") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "1" .
         |<http://x/a> <http://x/p> "9" .
         |<http://x/a> <http://x/q> "2" .
         |<http://x/b> <http://x/p> "1" .
         |<http://x/c> <http://x/r> <http://x/n1> .
         |<http://x/n1> <http://x/p> "1" .
         |""".stripMargin) -> "application/n-quads")
    def subjects(q: String): Set[String] =
      Sparql.execute(store.quads(), q).collect().map(lex(_, 0)).toSet
    // ';' shares the subject
    assert(subjects("""SELECT ?s { ?s <http://x/p> "1" ; <http://x/q> "2" }""") ==
      Set("http://x/a"))
    // ',' shares subject AND predicate
    assert(subjects("""SELECT ?s { ?s <http://x/p> "1" , "9" }""") ==
      Set("http://x/a"))
    // trailing ';' before '.' is legal
    assert(subjects("""SELECT ?s { ?s <http://x/q> "2" ; . }""") ==
      Set("http://x/a"))
    // [ ... ] is an unnamed joinable variable
    assert(subjects("""SELECT ?s { ?s <http://x/r> [ <http://x/p> "1" ] }""") ==
      Set("http://x/c"))
    // the internal variable never surfaces through SELECT *
    val star = Sparql.execute(store.quads(),
      """SELECT * { ?s <http://x/r> [ <http://x/p> "1" ] }""")
    assert(star.columns.toSeq == Seq("s"))
    // bare [ ] subject block
    assert(Sparql.execute(store.quads(),
      """SELECT * { [ <http://x/p> "1" ; <http://x/q> "2" ] }""").count() == 1)
  }

  test("collection patterns match rdf:first/rdf:rest chains exactly") {
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val store = ingest(
      (s"""<http://x/s> <http://x/p> _:c1 .
          |_:c1 <${rdf}first> "a" .
          |_:c1 <${rdf}rest> _:c2 .
          |_:c2 <${rdf}first> "b" .
          |_:c2 <${rdf}rest> <${rdf}nil> .
          |""".stripMargin) -> "application/n-quads")
    val hit = Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ("a" "b") }""").collect()
    assert(hit.length == 1 && lex(hit(0), 0) == "http://x/s")
    // a shorter collection must NOT match (rest is a cell, not nil)
    assert(Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ("a") }""").count() == 0)
    // items can be variables
    val items = Sparql.execute(store.quads(),
      """SELECT ?x ?y { ?s <http://x/p> (?x ?y) }""").collect()
    assert(items.length == 1)
    assert(lex(items(0), 0) == "a" && lex(items(0), 1) == "b")
  }

  test("comments and double literals parse (SPARQL grammar WS, 19.8)") {
    val rows = Sparql.execute(groupedStore.quads(),
      """# leading comment
         SELECT ?s ?k {  # inline comment after a token
           ?s <http://x/k> ?k   # bound per nation
           FILTER(?k > 2.0e0)  # exponent double literal
         } # trailing
         ORDER BY ?k""").collect()
    // 2.0e0 compares numerically: keys 5 and 9 survive
    assert(rows.map(lex(_, 0)).toSeq == Seq("http://x/b", "http://x/c"))
    // '#' inside IRIs and strings is NOT a comment
    val iri = Sparql.execute(groupedStore.quads(),
      "SELECT ?s { ?s <http://x/k> ?k FILTER(?s = <http://x/a#frag> || ?k = 2) }")
      .collect()
    assert(iri.length == 1 && lex(iri(0), 0) == "http://x/a")
  }

  test("XSD casting constructors validate, canonicalize, and error per 17.5") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> "42" .
         |<http://x/b> <http://x/p> "2.50" .
         |<http://x/c> <http://x/p> "nope" .
         |<http://x/d> <http://x/p> "-3.7"^^<http://www.w3.org/2001/XMLSchema#decimal> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      s"""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          SELECT ?s ?i ?d ?b {
            ?s <http://x/p> ?v
            BIND(xsd:integer(?v) AS ?i)
            BIND(xsd:decimal(?v) AS ?d)
            BIND(xsd:boolean(?v) AS ?b)
          } ORDER BY ?s""").collect()
    def f(r: org.apache.spark.sql.Row, i: Int): String =
      Option(r.getStruct(i)).map(_.getString(1)).orNull
    // "42": valid everywhere except boolean
    assert(f(rows(0), 1) == "42" && f(rows(0), 2) == "42" && f(rows(0), 3) == null)
    // "2.50": not an integer lexical; decimal canonicalizes
    assert(f(rows(1), 1) == null && f(rows(1), 2) == "2.5")
    // "nope": error for every numeric cast
    assert(f(rows(2), 1) == null && f(rows(2), 2) == null && f(rows(2), 3) == null)
    // numeric → integer truncates toward zero: -3.7 → -3
    assert(f(rows(3), 1) == "-3")
    // casts participate in value-space filters
    val kept = Sparql.execute(store.quads(),
      s"""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          SELECT ?s { ?s <http://x/p> ?v FILTER(xsd:decimal(?v) > 3) }""")
      .collect().map(lex(_, 0)).toSet
    assert(kept == Set("http://x/a"))
    // datatype of the result is the target type
    val dt = Sparql.execute(store.quads(),
      s"""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          SELECT ?t { <http://x/a> <http://x/p> ?v
            BIND(DATATYPE(xsd:integer(?v)) AS ?t) }""").collect()
    assert(dt.head.getStruct(0).getString(1) == Term.XSD_INTEGER)
  }

  test("LANGMATCHES on a non-literal operand is a type error, not a tag match") {
    val store = ingest(
      ("""<http://x/a> <http://x/p> <http://x/iri> .
         |<http://x/b> <http://x/p> "en" .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      """SELECT ?s { ?s <http://x/p> ?o FILTER(LANGMATCHES(?o, "*")) }""")
      .collect().map(lex(_, 0)).toSet
    // the IRI's lex is non-empty, but an IRI is not a language tag
    assert(rows == Set("http://x/b"))
  }

  test("SUBSTR uses XPath semantics: a start before 1 shortens, never wraps") {
    val store = ingest(
      ("<http://x/a> <http://x/p> \"hello\" .\n") -> "application/n-quads")
    def sub(args: String): String =
      Sparql.execute(store.quads(),
        s"SELECT ?v { ?s <http://x/p> ?o BIND(SUBSTR(?o, $args) AS ?v) }")
        .collect().head.getStruct(0).getString(1)
    assert(sub("2, 3") == "ell")
    // window [0, 3) ∩ [1, ∞) = positions 1..2
    assert(sub("0, 3") == "he")
    // window [-2, 2) = position 1 only — Spark's raw substr(-2, 4)
    // would wrap to the string end and yield "lo"
    assert(sub("-2, 4") == "h")
    assert(sub("3") == "llo")
  }

  // ---- expression projections & ORDER BY expressions in grouped queries ----

  private def groupedStore = ingest(
    ("""<http://x/a> <http://x/g> <http://x/grp1> .
       |<http://x/a> <http://x/k> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
       |<http://x/b> <http://x/g> <http://x/grp1> .
       |<http://x/b> <http://x/k> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
       |<http://x/c> <http://x/g> <http://x/grp2> .
       |<http://x/c> <http://x/k> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .
       |""".stripMargin) -> "application/n-quads")

  test("expression projection over aggregates: SUM/COUNT ratio per group") {
    val rows = Sparql.execute(groupedStore.quads(),
      """SELECT ?g (SUM(?k)/COUNT(?k) AS ?avg) ((SUM(?k) + 1) * 2 AS ?x)
         { ?s <http://x/g> ?g . ?s <http://x/k> ?k }
         GROUP BY ?g ORDER BY DESC(SUM(?k) + 1)""")
      .collect()
    assert(rows.length == 2)
    // ORDER BY DESC(SUM + 1): grp2 (10) before grp1 (8)
    assert(lex(rows(0), 0) == "http://x/grp2")
    assert(rows(0).getStruct(1).getString(1) == "9")    // 9/1
    assert(rows(0).getStruct(2).getString(1) == "20")   // (9+1)*2
    assert(lex(rows(1), 0) == "http://x/grp1")
    assert(rows(1).getStruct(1).getString(1) == "3.5")  // 7/2
    assert(rows(1).getStruct(2).getString(1) == "16")   // (7+1)*2
    // a variable that is neither aggregated nor a group key is an error
    assertThrows[graft.rdf.RdfParseException] {
      Sparql.execute(groupedStore.quads(),
        """SELECT ?g (SUM(?k) + ?k AS ?bad)
           { ?s <http://x/g> ?g . ?s <http://x/k> ?k } GROUP BY ?g""")
    }
  }

  test("HAVING takes full expressions: aggregate arithmetic, group keys, ||") {
    // grp1: keys 2,5 (sum 7); grp2: key 9 (sum 9)
    val avg = Sparql.execute(groupedStore.quads(),
      """SELECT ?g (SUM(?k) AS ?s)
         { ?s <http://x/g> ?g . ?s <http://x/k> ?k }
         GROUP BY ?g
         HAVING (SUM(?k)/COUNT(?k) > 3 && COUNT(*) >= 2)""")
      .collect()
    assert(avg.length == 1 && lex(avg(0), 0) == "http://x/grp1") // avg 3.5, n 2
    // a group-key reference and a disjunction in HAVING
    val keyed = Sparql.execute(groupedStore.quads(),
      s"""SELECT ?g (COUNT(*) AS ?n)
          { ?s <http://x/g> ?g . ?s <http://x/k> ?k }
          GROUP BY ?g
          HAVING (?g = <http://x/grp2> || SUM(?k) > 100)""")
      .collect()
    assert(keyed.length == 1 && lex(keyed(0), 0) == "http://x/grp2")
    // two HAVING constraints AND together (spec HavingCondition+)
    val both = Sparql.execute(groupedStore.quads(),
      """SELECT ?g { ?s <http://x/g> ?g . ?s <http://x/k> ?k }
         GROUP BY ?g
         HAVING (COUNT(*) >= 1) (MAX(?k) < 6)""")
      .collect()
    assert(both.length == 1 && lex(both(0), 0) == "http://x/grp1")
  }

  test("COUNT(DISTINCT *) and AVG(DISTINCT)") {
    val store = ingest(
      ("""<http://x/a> <http://x/k> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/k> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/c> <http://x/k> "4"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |""".stripMargin) -> "application/n-quads")
    // the UNION duplicates every solution: COUNT(*) sees 6,
    // COUNT(DISTINCT *) the 3 distinct binding tuples
    val counts = Sparql.execute(store.quads(),
      """SELECT (COUNT(*) AS ?n) (COUNT(DISTINCT *) AS ?nd)
         { { ?s <http://x/k> ?k } UNION { ?s <http://x/k> ?k } }""")
      .collect().head
    assert(counts.getLong(0) == 6L)
    assert(counts.getLong(1) == 3L)
    // AVG over values 2,2,4 is 8/3; AVG(DISTINCT) over {2,4} is 3
    val avgs = Sparql.execute(store.quads(),
      """SELECT (AVG(DISTINCT ?k) AS ?ad) { ?s <http://x/k> ?k }""")
      .collect().head
    assert(avgs.getDecimal(0).doubleValue == 3.0)
  }

  test("SELECT expressions can reference earlier aliases; rebinding errors") {
    val rows = Sparql.execute(groupedStore.quads(),
      """SELECT ?s (?k * 2 AS ?d) (?d + 1 AS ?e) { ?s <http://x/k> ?k }
         ORDER BY DESC(?e) LIMIT 1""").collect()
    assert(rows.length == 1)
    assert(lex(rows(0), 0) == "http://x/c") // k=9 → d=18 → e=19
    assert(rows(0).getStruct(2).getString(1) == "19")
    assertThrows[graft.rdf.RdfParseException] {
      Sparql.execute(groupedStore.quads(),
        "SELECT (?k * 2 AS ?k) { ?s <http://x/k> ?k }")
    }
  }

  test("CONSTRUCT WHERE shorthand uses the pattern as the template") {
    val store = ingest(DATA_TTL -> "text/turtle")
    val rows = Sparql.execute(store.quads(),
      "CONSTRUCT WHERE { ?s ?p ?o }").collect()
    assert(rows.length == 1)
    assert(rows(0).getStruct(1).getString(1) == "http://example/s")
  }

  test("trailing VALUES joins the query solutions (spec 7.2)") {
    val rows = Sparql.execute(groupedStore.quads(),
      s"""SELECT ?s ?k { ?s <http://x/k> ?k }
          ORDER BY ?s
          VALUES ?k { "2"^^<${Term.XSD_INTEGER}> "9"^^<${Term.XSD_INTEGER}> }""")
      .collect().map(r => lex(r, 0))
    assert(rows.toSet == Set("http://x/a", "http://x/c")) // k ∈ {2, 9}
    // multi-variable form with UNDEF wildcards
    val undef = Sparql.execute(groupedStore.quads(),
      s"""SELECT ?s ?k { ?s <http://x/k> ?k }
          VALUES (?s ?k) { (<http://x/a> UNDEF) (UNDEF "5"^^<${Term.XSD_INTEGER}>) }""")
      .collect().map(r => lex(r, 0))
    assert(undef.toSet == Set("http://x/a", "http://x/b"))
  }

  test("trailing VALUES of a grouped query joins after aggregation (spec 18.2.4.3)") {
    val store = ingest(
      (s"""<http://x/s1> <http://x/p> "1"^^<${Term.XSD_INTEGER}> .
          |<http://x/s1> <http://x/p> "2"^^<${Term.XSD_INTEGER}> .
          |<http://x/s2> <http://x/p> "3"^^<${Term.XSD_INTEGER}> .
          |""".stripMargin) -> "application/n-quads")
    // duplicate VALUES rows multiply the GROUPED solution, not the
    // rows feeding COUNT — the pre-pattern join would report n=4
    val dup = Sparql.execute(store.quads(),
      """SELECT ?s (COUNT(?o) AS ?n) { ?s <http://x/p> ?o } GROUP BY ?s
        |VALUES ?s { <http://x/s1> <http://x/s1> }""".stripMargin).collect()
    assert(dup.length == 2)
    assert(dup.forall(r => lex(r, 0) == "http://x/s1" && r.getLong(1) == 2L))
    // restriction form: only the named group survives, count intact
    val one = Sparql.execute(store.quads(),
      """SELECT ?s (COUNT(?o) AS ?n) { ?s <http://x/p> ?o } GROUP BY ?s
        |VALUES ?s { <http://x/s2> }""".stripMargin).collect()
    assert(one.length == 1 && one(0).getLong(1) == 1L)
    // a VALUES row naming no existing group contributes nothing
    // (inner compatibility join), and UNDEF keeps every group
    val undefd = Sparql.execute(store.quads(),
      """SELECT ?s (SUM(?o) AS ?t) { ?s <http://x/p> ?o } GROUP BY ?s
        |VALUES ?s { UNDEF }""".stripMargin).collect()
    assert(undefd.length == 2)
    assert(undefd.map(_.getDecimal(1).longValue).toSet == Set(3L, 3L))
  }

  test("ORDER BY keeps numeric order beyond the exact-decimal range; overflowing casts error") {
    val store = ingest(
      (s"""<http://x/a> <http://x/v> "1e30"^^<${Term.XSD + "double"}> .
          |<http://x/b> <http://x/v> "5"^^<${Term.XSD_INTEGER}> .
          |<http://x/c> <http://x/v> "-1e30"^^<${Term.XSD + "double"}> .
          |""".stripMargin) -> "application/n-quads")
    // 1e30 nulls under decimal(38,10); the double primary key still
    // orders it above every in-range value (and -1e30 below)
    val rows = Sparql.execute(store.quads(),
      "SELECT ?s ?v { ?s <http://x/v> ?v } ORDER BY ?v")
      .collect().map(r => lex(r, 0))
    assert(rows.toSeq == Seq("http://x/c", "http://x/b", "http://x/a"))
    // a cast overflowing the decimal carrier is an expression error
    // (unbound), never a literal with a null lexical form
    val cast = Sparql.execute(store.quads(),
      s"""SELECT (<${Term.XSD_INTEGER}>("${"9" * 40}") AS ?x)
          { <http://x/b> <http://x/v> ?v }""").collect()
    assert(cast.length == 1 && cast(0).isNullAt(0))
  }

  test("nondeterministic builtins: NOW/RAND/UUID/STRUUID/BNODE under a seeded context") {
    val store = ingest(
      (s"""<http://x/a> <http://x/t> "2026-01-01T00:00:00Z"^^<${Term.XSD_DATETIME}> .
          |<http://x/b> <http://x/t> "2026-12-01T00:00:00Z"^^<${Term.XSD_DATETIME}> .
          |""".stripMargin) -> "application/n-quads")
    // NOW() is the injected clock, one instant for the whole query
    val ctx = Sparql.EvalContext(
      java.time.Instant.parse("2026-06-15T00:00:00Z"), seed = 42L)
    val now = Sparql.execute(store.quads(),
      "SELECT ?s { ?s <http://x/t> ?d FILTER(?d < NOW()) }", ctx).collect()
    assert(now.map(r => lex(r, 0)).toSeq == Seq("http://x/a"))
    // UUID/STRUUID: v4 shape, fresh per row, reproducible per seed
    val q = "SELECT (UUID() AS ?u) (STRUUID() AS ?su) { ?s <http://x/t> ?d }"
    def run() = Sparql.execute(store.quads(), q,
      Sparql.EvalContext(seed = 7L)).collect()
    val rows = run()
    assert(rows.length == 2)
    val iriRe = "^urn:uuid:[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-a[0-9a-f]{3}-[0-9a-f]{12}$"
    rows.foreach { r =>
      assert(r.getStruct(0).getString(0) == "iri")
      assert(r.getStruct(0).getString(1).matches(iriRe))
      assert(r.getStruct(1).getString(1)
        .matches(iriRe.replace("^urn:uuid:", "^")))
    }
    assert(rows.map(_.getStruct(0).getString(1)).distinct.length == 2)
    assert(run().map(_.getStruct(0).getString(1)).toSeq ==
      rows.map(_.getStruct(0).getString(1)).toSeq) // same seed, same output
    // RAND: xsd:double in [0,1); BNODE(str): same label for the same
    // literal across call sites, different labels for different ones
    val misc = Sparql.execute(store.quads(),
      """SELECT (RAND() AS ?r) (BNODE() AS ?f) (BNODE("k") AS ?b1)
                (BNODE("k") AS ?b2) (BNODE("x") AS ?b3)
         { ?s <http://x/t> ?d }""",
      Sparql.EvalContext(seed = 9L)).collect()
    misc.foreach { r =>
      val rv = r.getStruct(0)
      assert(rv.getString(2) == Term.XSD_DOUBLE)
      val d = rv.getString(1).toDouble
      assert(d >= 0.0 && d < 1.0)
      assert(r.getStruct(1).getString(0) == "blank")
      assert(r.getStruct(2).getString(1) == r.getStruct(3).getString(1))
      assert(r.getStruct(2).getString(1) != r.getStruct(4).getString(1))
    }
  }

  test("expression ORDER BY key in a non-aggregate query") {
    val rows = Sparql.execute(groupedStore.quads(),
      "SELECT ?s ?k { ?s <http://x/k> ?k } ORDER BY DESC(?k * 2)")
      .collect().map(r => lex(r, 0))
    assert(rows.toSeq == Seq("http://x/c", "http://x/b", "http://x/a"))
  }

  test("ORDER BY compares integers beyond 2^53 exactly (decimal, not double)") {
    val store = ingest(
      ("""<http://x/a> <http://x/k> "9007199254740993"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/b> <http://x/k> "9007199254740992"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |<http://x/c> <http://x/k> "9007199254740994"^^<http://www.w3.org/2001/XMLSchema#integer> .
         |""".stripMargin) -> "application/n-quads")
    // as doubles all three collapse to 2^53 and the order is arbitrary
    val rows = Sparql.execute(store.quads(),
      "SELECT ?s { ?s <http://x/k> ?k } ORDER BY ?k").collect().map(lex(_, 0))
    assert(rows.toSeq == Seq("http://x/b", "http://x/a", "http://x/c"))
  }

  // --- one value order: FILTER <, ORDER BY and MIN/MAX agree ---------------

  private val XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

  /** lex@lang^^datatype of the term in column i ("-" when unbound). */
  private def nt(row: org.apache.spark.sql.Row, i: Int): String =
    if (row.isNullAt(i)) "-"
    else {
      val t = row.getStruct(i)
      t.getString(1) + Option(t.getString(3)).fold("")("@" + _) +
        Option(t.getString(2)).fold("")("^^" + _.stripPrefix(Term.XSD))
    }

  private def orderOf(store: QuadStore, desc: Boolean = false): Seq[String] =
    Sparql.execute(store.quads(), "SELECT ?v { ?s <http://x/v> ?v } ORDER BY " +
      (if (desc) "DESC(?v)" else "?v")).collect().map(nt(_, 0)).toSeq

  private def minMax(store: QuadStore): (String, String) = {
    val r = Sparql.execute(store.quads(),
      "SELECT (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) { ?s <http://x/v> ?v }").collect().head
    (nt(r, 0), nt(r, 1))
  }

  test("dateTimes in two zones: FILTER <, ORDER BY and MIN/MAX follow the timeline") {
    // a is 10:00Z, b is 11:00Z: a < b although a's lexical form is larger
    val store = ingest(
      (s"""<http://x/a> <http://x/v> "2020-01-01T12:00:00+02:00"^^<${Term.XSD_DATETIME}> .
          |<http://x/b> <http://x/v> "2020-01-01T11:00:00Z"^^<${Term.XSD_DATETIME}> .
          |""".stripMargin) -> "application/n-quads")
    val lt = Sparql.execute(store.quads(),
      "SELECT ?s { ?s <http://x/v> ?ta . <http://x/b> <http://x/v> ?tb FILTER(?ta < ?tb) }")
      .collect().map(lex(_, 0)).toSeq
    assert(lt == Seq("http://x/a"))
    val (a, b) = ("2020-01-01T12:00:00+02:00^^dateTime", "2020-01-01T11:00:00Z^^dateTime")
    assert(orderOf(store) == Seq(a, b))
    assert(orderOf(store, desc = true) == Seq(b, a))
    assert(minMax(store) == (a, b))
  }

  test("mixed term kinds: MIN and MAX are the ends of the ORDER BY order") {
    val store = ingest(
      (s"""<http://x/s1> <http://x/v> "zebra" .
          |<http://x/s2> <http://x/v> "5"^^<$XSD_INT> .
          |<http://x/s3> <http://x/v> "apple"@en .
          |<http://x/s4> <http://x/v> <http://x/iri> .
          |<http://x/s5> <http://x/v> "apple" .
          |""".stripMargin) -> "application/n-quads")
    // IRI < literals; non-numeric literals before numeric ones
    val asc = Seq("http://x/iri", "apple", "apple@en", "zebra", "5^^integer")
    assert(orderOf(store) == asc)
    assert(orderOf(store, desc = true) == asc.reverse)
    assert(minMax(store) == ("http://x/iri", "5^^integer"))
  }

  test("a plain numeric string is a string: SUM errors, MIN/MAX follow ORDER BY") {
    val store = ingest(
      (s"""<http://x/a> <http://x/v> "9"^^<$XSD_INT> .
          |<http://x/b> <http://x/v> "12" .
          |""".stripMargin) -> "application/n-quads")
    // §18.5.1.2: Sum of a non-numeric value is a type error → unbound
    val sum = Sparql.execute(store.quads(),
      "SELECT (SUM(?v) AS ?t) { ?s <http://x/v> ?v }").collect().head
    assert(sum.isNullAt(0))
    assert(orderOf(store) == Seq("12", "9^^integer"))
    assert(minMax(store) == ("12", "9^^integer"))
  }

  test("integers past decimal(38,10): FILTER <, ORDER BY and MIN/MAX agree, negatives too") {
    val (n1, n2) = ("-100000000000000000000000000000001", "-100000000000000000000000000000002")
    val (p1, p2) = ("100000000000000000000000000000001", "100000000000000000000000000000002")
    val store = ingest(
      (Seq(n1, p2, n2, p1, "7").map(v =>
        s"""<http://x/s$v> <http://x/v> "$v"^^<$XSD_INT> .""").mkString("", "\n", "\n")) ->
        "application/n-quads")
    val lt = Sparql.execute(store.quads(),
      s"""SELECT ?a { ?a <http://x/v> ?x . <http://x/s$n1> <http://x/v> ?y FILTER(?x < ?y) }""")
      .collect().map(lex(_, 0)).toSeq
    assert(lt == Seq(s"http://x/s$n2"))
    val asc = Seq(n2, n1, "7", p1, p2).map(_ + "^^integer")
    assert(orderOf(store) == asc)
    assert(orderOf(store, desc = true) == asc.reverse)
    assert(minMax(store) == (asc.head, asc.last))
  }

  test("ORDER BY breaks ties by lexical form, then language, then datatype") {
    val store = ingest(
      (s"""<http://x/s1> <http://x/v> "2"^^<$XSD_INT> .
          |<http://x/s2> <http://x/v> "2"^^<${Term.XSD + "int"}> .
          |<http://x/s3> <http://x/v> "apple"@fr .
          |<http://x/s4> <http://x/v> "apple"@en .
          |<http://x/s5> <http://x/v> "apple" .
          |""".stripMargin) -> "application/n-quads")
    val asc = Seq("apple", "apple@en", "apple@fr", "2^^int", "2^^integer")
    assert(orderOf(store) == asc)
    assert(orderOf(store, desc = true) == asc.reverse)
    assert(minMax(store) == (asc.head, asc.last))
    // the tie-breaks order value-equal terms; `<` still sees them equal
    def pairs(op: String) = Sparql.execute(store.quads(),
      s"SELECT ?a ?b { ?a <http://x/v> ?x . ?b <http://x/v> ?y FILTER(isNUMERIC(?x) && ?x $op ?y) }")
      .count()
    assert(pairs("<") == 0 && pairs("<=") == 4)
  }

  test("< on an ill-formed numeric or dateTime is a type error; against NaN it is false") {
    val store = ingest(
      (s"""<http://x/a> <http://x/v> "abc"^^<$XSD_INT> .
          |<http://x/b> <http://x/v> "1998-10-03 00:00:00T00:00:00Z"^^<${Term.XSD_DATETIME}> .
          |<http://x/c> <http://x/v> "NaN"^^<${Term.XSD_DOUBLE}> .
          |<http://x/d> <http://x/v> "7"^^<$XSD_INT> .
          |<http://x/e> <http://x/v> "2020-01-01T00:00:00Z"^^<${Term.XSD_DATETIME}> .
          |""".stripMargin) -> "application/n-quads")
    def subjects(filter: String): Seq[String] = Sparql.execute(store.quads(),
      s"SELECT ?s { ?s <http://x/v> ?v FILTER($filter) } ORDER BY ?s")
      .collect().map(lex(_, 0)).toSeq
    // §17.3: no operator applies to an ill-formed literal, so the
    // comparison errs and neither it nor its negation keeps the row
    assert(subjects("?v < 5").isEmpty)
    assert(subjects("!(?v < 5)") == Seq("http://x/c", "http://x/d"))
    assert(subjects("?v < NOW()") == Seq("http://x/e"))
    assert(subjects("!(?v < NOW())").isEmpty)
    // XPath op:numeric-less-than & co.: every comparison with NaN is false
    assert(subjects("?v >= 5") == Seq("http://x/d"))
    assert(subjects("!(?v >= 5)") == Seq("http://x/c"))
    // ORDER BY still ranks both: NaN after every number, the
    // ill-formed literals among the non-numeric ones
    assert(orderOf(store) == Seq("1998-10-03 00:00:00T00:00:00Z^^dateTime", "abc^^integer",
      "2020-01-01T00:00:00Z^^dateTime", "7^^integer", "NaN^^double"))
  }

  test("property paths inside GRAPH ?var close per graph") {
    val store = ingest(
      ("""<http://x/a> <http://x/next> <http://x/b> <http://x/g1> .
         |<http://x/b> <http://x/next> <http://x/c> <http://x/g1> .
         |<http://x/a> <http://x/next> <http://x/d> <http://x/g2> .
         |""".stripMargin) -> "application/n-quads")
    val rows = Sparql.execute(store.quads(),
      "SELECT ?g ?s ?o { GRAPH ?g { ?s <http://x/next>+ ?o } }")
      .collect().map(r => (lex(r, 0), lex(r, 1), lex(r, 2))).toSet
    assert(rows == Set(
      ("http://x/g1", "http://x/a", "http://x/b"),
      ("http://x/g1", "http://x/b", "http://x/c"),
      ("http://x/g1", "http://x/a", "http://x/c"), // closure stays in g1
      ("http://x/g2", "http://x/a", "http://x/d")))
    // a sequence path under GRAPH ?var joins within the graph only
    val seqRows = Sparql.execute(store.quads(),
      "SELECT ?g ?s ?o { GRAPH ?g { ?s <http://x/next>/<http://x/next> ?o } }")
      .collect().map(r => (lex(r, 0), lex(r, 1), lex(r, 2))).toSet
    assert(seqRows == Set(("http://x/g1", "http://x/a", "http://x/c")))
  }
}
