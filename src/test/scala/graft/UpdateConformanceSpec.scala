package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._
import graft.rdf.{RdfParseException, Term}
import graft.sparql.SparqlUpdate
import graft.store.QuadStore

/** SPARQL 1.1 Update evaluation conformance — a vendored subset of the
  * public W3C rdf-tests `data-sparql11` update families (basic-update,
  * delete-data, delete-where, delete-insert, clear, drop, add, copy,
  * move, syntax-update "syn-bad" blank-node restrictions), re-authored
  * as inline fixtures: each case is (initial state, update request,
  * expected final state), with the expected state taken from the
  * spec's defined semantics (§3.1-3.2, §19.6).
  *
  * Requests run through the SAME projector → QuadStoreSink path a
  * Kafka `application/sparql-update` event takes, so what's verified
  * is the engine's real deferred-apply commit semantics, not a test
  * shortcut.
  */
class UpdateConformanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val CT_RU = "application/sparql-update"

  private val P = "PREFIX : <http://example/>\n"

  /** Apply each request as its own event (separate blank scopes, like
    * separate HTTP requests), return the resulting store.
    */
  private def apply(requests: String*): QuadStore = {
    val store = new QuadStore(spark,
      Harness.scratchDir("updconf").toString)
    val evs = requests.zipWithIndex.map { case (body, i) =>
      Event("t", 0, i.toLong, Array.empty, (P + body).getBytes("UTF-8"),
        Map("Content-Type" -> CT_RU))
    }
    val p = new Projector(new MemoryEventSource(evs),
      new QuadStoreSink(spark, store))
    p.runToCompletion()
    store
  }

  /** Final state rendered as "graph subject predicate object" N-Quads
    * style lines ("-" for the default graph), prefixed-name compressed.
    */
  private def state(store: QuadStore): Set[String] =
    store.quads().collect().map { r =>
      def t(i: Int): String = Option(r.getStruct(i))
        .map(s => Term(s.getString(0), s.getString(1), s.getString(2),
          s.getString(3)).toNT.replace("<http://example/", "<:")
          .replace(">", ">"))
        .getOrElse("-")
      s"${t(0)} ${t(1)} ${t(2)} ${t(3)}"
    }.toSet

  private def q(g: String, s: String, p: String, o: String): String =
    s"$g $s $p $o"
  private def iri(l: String) = s"<:$l>"
  private def lit(l: String) = "\"" + l + "\""

  // ==========================================================================
  // basic-update: INSERT DATA (spec §3.1.1)
  // ==========================================================================

  test("insert-data-spo1: one triple into the empty default graph") {
    val st = apply("""INSERT DATA { :s :p :o }""")
    assert(state(st) == Set(q("-", iri("s"), iri("p"), iri("o"))))
  }

  test("insert-data-named1: GRAPH block targets the named graph") {
    val st = apply("""INSERT DATA { GRAPH :g { :s :p :o } }""")
    assert(state(st) == Set(q(iri("g"), iri("s"), iri("p"), iri("o"))))
  }

  test("insert-data-named2: second insert into the same graph merges") {
    val st = apply(
      """INSERT DATA { GRAPH :g { :s :p :o } }""",
      """INSERT DATA { GRAPH :g { :s :p :o2 } }""")
    assert(state(st) == Set(
      q(iri("g"), iri("s"), iri("p"), iri("o")),
      q(iri("g"), iri("s"), iri("p"), iri("o2"))))
  }

  test("insert-data re-inserting a present triple keeps set semantics") {
    val st = apply("""INSERT DATA { :s :p :o }""",
      """INSERT DATA { :s :p :o }""")
    assert(state(st).size == 1)
  }

  test("insert-data: typed literals distinct from plain by term identity") {
    val st = apply("""INSERT DATA { :s :p "1" . :s :p 1 . :s :p "01"^^<http://www.w3.org/2001/XMLSchema#integer> }""")
    assert(state(st).size == 3) // "1", "1"^^xsd:integer, "01"^^xsd:integer
  }

  // ==========================================================================
  // delete-data (spec §3.1.2)
  // ==========================================================================

  test("delete-data-01: removes exactly the listed triple") {
    val st = apply(
      """INSERT DATA { :a :p :1 . :b :p :2 }""",
      """DELETE DATA { :a :p :1 }""")
    assert(state(st) == Set(q("-", iri("b"), iri("p"), iri("2"))))
  }

  test("delete-data named graph: only that graph's copy goes") {
    val st = apply(
      """INSERT DATA { :a :p :1 . GRAPH :g { :a :p :1 } }""",
      """DELETE DATA { GRAPH :g { :a :p :1 } }""")
    assert(state(st) == Set(q("-", iri("a"), iri("p"), iri("1"))))
  }

  test("delete-data of an absent triple is a no-op") {
    val st = apply(
      """INSERT DATA { :a :p :1 }""",
      """DELETE DATA { :zzz :p :1 }""")
    assert(state(st) == Set(q("-", iri("a"), iri("p"), iri("1"))))
  }

  // ==========================================================================
  // delete-where (spec §3.1.3.3) + §19.6 blank restrictions
  // ==========================================================================

  test("delete-where-01: pattern-driven delete of one subject") {
    val st = apply(
      """INSERT DATA { :a :p :1 . :a :q :2 . :b :p :3 }""",
      """DELETE WHERE { :a ?p ?o }""")
    assert(state(st) == Set(q("-", iri("b"), iri("p"), iri("3"))))
  }

  test("delete-where with GRAPH pattern scopes to the graph") {
    val st = apply(
      """INSERT DATA { :a :p :1 . GRAPH :g { :a :p :1 . :b :p :2 } }""",
      """DELETE WHERE { GRAPH :g { ?s :p ?o } }""")
    assert(state(st) == Set(q("-", iri("a"), iri("p"), iri("1"))))
  }

  test("delete-where joined patterns delete both matched quads") {
    val st = apply(
      """INSERT DATA { :a :knows :b . :b :knows :c . :x :knows :y }""",
      """DELETE WHERE { ?s :knows ?m . ?m :knows ?o }""")
    // only the chained pair (a knows b, b knows c) matches; both quads go
    assert(state(st) == Set(q("-", iri("x"), iri("knows"), iri("y"))))
  }

  test("syn-bad: DELETE WHERE with a blank node is a syntax error") {
    intercept[RdfParseException](
      SparqlUpdate.parse("""DELETE WHERE { _:b <http://x/p> ?o }"""))
  }

  test("syn-bad: DELETE template with a blank node is a syntax error") {
    intercept[RdfParseException](SparqlUpdate.parse(
      """DELETE { ?s <http://x/p> _:b } WHERE { ?s <http://x/p> ?o }"""))
  }

  // ==========================================================================
  // delete-insert (spec §3.1.3)
  // ==========================================================================

  test("delete-insert-01: predicate rename over all matches") {
    val st = apply(
      """INSERT DATA { :a :p :1 . :b :p :2 . :c :q :3 }""",
      """DELETE { ?s :p ?o } INSERT { ?s :q ?o } WHERE { ?s :p ?o }""")
    assert(state(st) == Set(
      q("-", iri("a"), iri("q"), iri("1")),
      q("-", iri("b"), iri("q"), iri("2")),
      q("-", iri("c"), iri("q"), iri("3"))))
  }

  test("delete-insert simultaneity: both templates see the PRE-state") {
    // swap every edge; with a 2-cycle the naive sequential reading
    // (delete a→b, insert b→a, then see b→a and swap it back) diverges
    val st = apply(
      """INSERT DATA { :a :p :b . :b :p :a }""",
      """DELETE { ?s :p ?o } INSERT { ?o :p ?s } WHERE { ?s :p ?o }""")
    assert(state(st) == Set(
      q("-", iri("a"), iri("p"), iri("b")),
      q("-", iri("b"), iri("p"), iri("a"))))
  }

  test("delete-insert-04: WITH scopes templates and bare WHERE") {
    val st = apply(
      """INSERT DATA { GRAPH :g { :a :p :1 } . :a :p :2 }""",
      """WITH :g DELETE { ?s :p ?o } INSERT { ?s :q ?o } WHERE { ?s :p ?o }""")
    assert(state(st) == Set(
      q(iri("g"), iri("a"), iri("q"), iri("1")),
      q("-", iri("a"), iri("p"), iri("2"))))
  }

  test("insert-where §19.6: ill-formed instantiation (literal subject) skips") {
    val st = apply(
      """INSERT DATA { :s2 :p1 "b" }""",
      """INSERT { ?y ?x "a" } WHERE { ?x :p1 ?y }""")
    // the only solution binds ?y to "b": subject would be a literal and
    // predicate :p1 — the instantiation is skipped, not an error
    assert(state(st) == Set(q("-", iri("s2"), iri("p1"), lit("b"))))
  }

  test("delete-where §19.6: literal-subject instantiation deletes nothing") {
    val st = apply(
      """INSERT DATA { :s :p "x" . :s :q :s }""",
      """DELETE { ?o ?p ?s } WHERE { ?s ?p ?o }""")
    // ( :s :q :s ) self-inverts and deletes itself; the literal-object
    // solution instantiates an ill-formed quad and must be skipped
    assert(state(st) == Set(q("-", iri("s"), iri("p"), lit("x"))))
  }

  test("insert-where OPTIONAL: unbound template var skips that solution") {
    val st = apply(
      """INSERT DATA { :a :p :1 . :b :p :2 . :a :name "A" }""",
      """INSERT { ?s :label ?n } WHERE { ?s :p ?o OPTIONAL { ?s :name ?n } }""")
    val got = state(st)
    assert(got.contains(q("-", iri("a"), iri("label"), "\"A\"")))
    assert(!got.exists(_.contains("<:b> <:label>")))
  }

  test("insert-using-01: USING scopes the WHERE to the named graph") {
    val st = apply(
      """INSERT DATA { :x :p :0 . GRAPH :g { :a :p :1 } }""",
      """INSERT { ?s :q ?o } USING :g WHERE { ?s :p ?o }""")
    val got = state(st)
    // only :g's match instantiates, into the REAL default graph
    assert(got.contains(q("-", iri("a"), iri("q"), iri("1"))))
    assert(!got.exists(_.contains("<:x> <:q>")))
  }

  test("delete-insert with USING: WITH no longer scopes the WHERE") {
    val st = apply(
      """INSERT DATA { GRAPH :g { :a :p :1 } . GRAPH :h { :a :p :2 } }""",
      // WITH :g would aim the WHERE at :g, but USING :h overrides; the
      // DELETE template still lands in :g per WITH
      """WITH :g DELETE { ?s :p ?o } USING :h WHERE { ?s :p ?o }""")
    assert(state(st) == Set(
      q(iri("g"), iri("a"), iri("p"), iri("1")),
      q(iri("h"), iri("a"), iri("p"), iri("2")))
      // :g's quad survives: WHERE bound ?o=:2 from :h, so the delete
      // instantiation (:a :p :2) IN :g matches nothing
    )
  }

  test("insert-05a-ish: blank in INSERT template is fresh per solution") {
    val st = apply(
      """INSERT DATA { :a :p :1 . :b :p :2 }""",
      """INSERT { ?s :addr _:n . _:n :tag "t" } WHERE { ?s :p ?o }""")
    val got = state(st)
    // two solutions → two distinct minted blanks, each carrying both
    // template triples (co-reference within the solution)
    val addr = got.filter(_.contains("<:addr>"))
    val tags = got.filter(_.contains("<:tag>"))
    assert(addr.size == 2 && tags.size == 2)
    val addrBlanks = addr.map(_.split(" ")(3))
    val tagBlanks = tags.map(_.split(" ")(1))
    assert(addrBlanks.size == 2, s"blanks must differ per solution: $addr")
    assert(addrBlanks == tagBlanks, "co-reference must survive within a solution")
  }

  test("blank scoping: template blanks from separate events stay distinct") {
    val st = apply(
      """INSERT DATA { :a :p :1 }""",
      """INSERT { :a :addr _:n } WHERE { :a :p ?o }""",
      """INSERT { :a :addr _:n } WHERE { :a :p ?o }""")
    val addr = state(st).filter(_.contains("<:addr>"))
    assert(addr.size == 2, s"same-label blanks of two events collided: $addr")
  }

  // ==========================================================================
  // clear / drop (spec §3.1.5, §3.2.2)
  // ==========================================================================

  private val MIXED =
    """INSERT DATA { :d :p :0 . GRAPH :g1 { :a :p :1 } . GRAPH :g2 { :b :p :2 } }"""

  test("clear-default: default goes, named graphs stay") {
    val st = apply(MIXED, "CLEAR DEFAULT")
    assert(state(st) == Set(
      q(iri("g1"), iri("a"), iri("p"), iri("1")),
      q(iri("g2"), iri("b"), iri("p"), iri("2"))))
  }

  test("clear-graph: only the named graph goes") {
    val st = apply(MIXED, "CLEAR GRAPH :g1")
    assert(state(st) == Set(
      q("-", iri("d"), iri("p"), iri("0")),
      q(iri("g2"), iri("b"), iri("p"), iri("2"))))
  }

  test("clear-named: every named graph goes, default stays") {
    val st = apply(MIXED, "CLEAR NAMED")
    assert(state(st) == Set(q("-", iri("d"), iri("p"), iri("0"))))
  }

  test("clear-all: everything goes") {
    val st = apply(MIXED, "CLEAR ALL")
    assert(state(st).isEmpty)
  }

  test("drop-graph: DROP behaves as CLEAR in a quad store") {
    val st = apply(MIXED, "DROP GRAPH :g2")
    assert(state(st) == Set(
      q("-", iri("d"), iri("p"), iri("0")),
      q(iri("g1"), iri("a"), iri("p"), iri("1"))))
  }

  // ==========================================================================
  // add / copy / move (spec §3.2.3-3.2.5)
  // ==========================================================================

  test("add-01: ADD merges source into destination, keeps source") {
    val st = apply(
      """INSERT DATA { GRAPH :g1 { :a :p :1 } . GRAPH :g2 { :b :p :2 } }""",
      "ADD :g1 TO :g2")
    assert(state(st) == Set(
      q(iri("g1"), iri("a"), iri("p"), iri("1")),
      q(iri("g2"), iri("a"), iri("p"), iri("1")),
      q(iri("g2"), iri("b"), iri("p"), iri("2"))))
  }

  test("add-03: ADD DEFAULT TO g") {
    val st = apply(
      """INSERT DATA { :a :p :1 . GRAPH :g { :b :p :2 } }""",
      "ADD DEFAULT TO :g")
    assert(state(st) == Set(
      q("-", iri("a"), iri("p"), iri("1")),
      q(iri("g"), iri("a"), iri("p"), iri("1")),
      q(iri("g"), iri("b"), iri("p"), iri("2"))))
  }

  test("copy-01: COPY clears the destination first, keeps source") {
    val st = apply(
      """INSERT DATA { GRAPH :g1 { :a :p :1 } . GRAPH :g2 { :b :p :2 } }""",
      "COPY :g1 TO :g2")
    assert(state(st) == Set(
      q(iri("g1"), iri("a"), iri("p"), iri("1")),
      q(iri("g2"), iri("a"), iri("p"), iri("1"))))
  }

  test("copy-to-self is a no-op") {
    val st = apply(
      """INSERT DATA { GRAPH :g1 { :a :p :1 } }""",
      "COPY :g1 TO :g1")
    assert(state(st) == Set(q(iri("g1"), iri("a"), iri("p"), iri("1"))))
  }

  test("move-01: MOVE overwrites destination and drops source") {
    val st = apply(
      """INSERT DATA { GRAPH :g1 { :a :p :1 } . GRAPH :g2 { :b :p :2 } }""",
      "MOVE :g1 TO :g2")
    assert(state(st) == Set(q(iri("g2"), iri("a"), iri("p"), iri("1"))))
  }

  test("move-default: MOVE DEFAULT TO g empties the default graph") {
    val st = apply(
      """INSERT DATA { :a :p :1 . GRAPH :g { :b :p :2 } }""",
      "MOVE DEFAULT TO :g")
    assert(state(st) == Set(q(iri("g"), iri("a"), iri("p"), iri("1"))))
  }

  // ==========================================================================
  // request sequencing (spec §3: ops apply in order within a request)
  // ==========================================================================

  test("sequence: a later op in one request sees the earlier op's writes") {
    val st = apply(
      """INSERT DATA { :a :p :1 } ;
        |INSERT { ?s :q ?o } WHERE { ?s :p ?o }""".stripMargin)
    assert(state(st) == Set(
      q("-", iri("a"), iri("p"), iri("1")),
      q("-", iri("a"), iri("q"), iri("1"))))
  }

  test("sequence: delete then re-insert within one request nets present") {
    val st = apply(
      """INSERT DATA { :a :p :1 }""",
      """DELETE DATA { :a :p :1 } ; INSERT DATA { :a :p :1 }""")
    assert(state(st) == Set(q("-", iri("a"), iri("p"), iri("1"))))
  }

  test("sequence: clear between inserts leaves only the later insert") {
    val st = apply(
      """INSERT DATA { :a :p :1 } ; CLEAR DEFAULT ; INSERT DATA { :b :p :2 }""")
    assert(state(st) == Set(q("-", iri("b"), iri("p"), iri("2"))))
  }
}
