package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.rdf._
import graft.store.{OpLog, QuadStore}

/** Golden-count fixture corpus per FIXTURES.md §2 / BASELINE.md §B:
  * data.ttl → 1, + data.nq → 2, patch1.rdfp → 4, malformed → DLQ-class
  * errors. Fixture payloads are re-authored from their documented
  * content (reference: jena-fuseki-kafka-module/src/test/files/).
  */
object Fixtures {
  val dataTtl: String =
    """PREFIX : <http://example/>
      |:s1 :p :o .
      |""".stripMargin
  val data2Ttl: String =
    """PREFIX : <http://example/>
      |:s1 :p "a literal" .
      |""".stripMargin
  val dataNq: String =
    "<http://example/sq> <http://example/pq> \"abc\" .\n"
  val patch1Rdfp: String =
    """H id <uuid:016f0b2c-bd82-4f51-86d1-63330ee6c9cd> .
      |TX .
      |A <http://example/s> <http://example/p> "two" <http://example/patch> .
      |A <http://example/s> <http://example/p> "one" <http://example/patch> .
      |A <http://example/s> <http://example/p> "three" <http://example/patch> .
      |A <http://example/s> <http://example/p> "four" <http://example/patch> .
      |TC .
      |""".stripMargin
  val malformedTtl: String = "no:prefix a \"malformed Turtle file\"\n"
  val malformedRdfp: String = "TX .\nTX .\n"
}

class RdfParserSpec extends AnyFunSuite {
  import Fixtures._

  test("data.ttl parses to 1 triple (golden count 1)") {
    val qs = TurtleParser.parseTurtle(dataTtl)
    assert(qs == Seq(Quad(null, Term.iri("http://example/s1"),
      Term.iri("http://example/p"), Term.iri("http://example/o"))))
  }

  test("data.nq parses to 1 default-graph quad") {
    val qs = NQuadsParser.parse(dataNq, allowGraph = true)
    assert(qs == Seq(Quad(null, Term.iri("http://example/sq"),
      Term.iri("http://example/pq"), Term.lit("abc"))))
  }

  test("rdf/xml: typed node, property elements, rdf:resource, datatype, xml:lang, nesting") {
    val doc =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <ex:Widget rdf:about="http://example/w1" ex:label="inline">
        |    <ex:name xml:lang="en">gear</ex:name>
        |    <ex:size rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">5</ex:size>
        |    <ex:partOf rdf:resource="http://example/m1"/>
        |    <ex:maker>
        |      <rdf:Description rdf:about="http://example/acme">
        |        <ex:name>Acme</ex:name>
        |      </rdf:Description>
        |    </ex:maker>
        |  </ex:Widget>
        |</rdf:RDF>
        |""".stripMargin
    val qs = RdfXmlParser.parse(doc)
    val w = Term.iri("http://example/w1")
    assert(qs.contains(Quad(null, w, Term.iri(Term.RDF_TYPE),
      Term.iri("http://example/Widget"))))
    assert(qs.contains(Quad(null, w, Term.iri("http://example/label"),
      Term.lit("inline"))))
    assert(qs.contains(Quad(null, w, Term.iri("http://example/name"),
      Term.langLit("gear", "en"))))
    assert(qs.contains(Quad(null, w, Term.iri("http://example/size"),
      Term.typed("5", "http://www.w3.org/2001/XMLSchema#integer"))))
    assert(qs.contains(Quad(null, w, Term.iri("http://example/partOf"),
      Term.iri("http://example/m1"))))
    assert(qs.contains(Quad(null, w, Term.iri("http://example/maker"),
      Term.iri("http://example/acme"))))
    assert(qs.contains(Quad(null, Term.iri("http://example/acme"),
      Term.iri("http://example/name"), Term.lit("Acme"))))
    assert(qs.size == 7)
    // parseType="Resource" makes an anonymous node with inline properties
    val pt = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description rdf:about="http://example/a">
        |    <ex:detail rdf:parseType="Resource">
        |      <ex:k>v</ex:k>
        |    </ex:detail>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(pt.size == 2)
    val blank = pt.head.obj
    assert(blank.isBlank)
    assert(pt(1) == Quad(null, blank, Term.iri("http://example/k"), Term.lit("v")))
  }

  test("rdf/xml: rdf:ID on a property element reifies the statement") {
    val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val qs = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xml:base="http://example/doc">
        |<rdf:Description rdf:about="http://example/a">
        |<x:p xmlns:x="http://x/" rdf:ID="r1">v</x:p>
        |<x:q xmlns:x="http://x/" rdf:ID="r2" rdf:resource="http://example/b"/>
        |</rdf:Description></rdf:RDF>""".stripMargin)
    val st = Term.iri("http://example/doc#r1")
    val a = Term.iri("http://example/a")
    assert(qs.contains(Quad(null, a, Term.iri("http://x/p"), Term.lit("v"))))
    assert(qs.contains(Quad(null, st, Term.iri(Term.RDF_TYPE),
      Term.iri(RDF + "Statement"))))
    assert(qs.contains(Quad(null, st, Term.iri(RDF + "subject"), a)))
    assert(qs.contains(Quad(null, st, Term.iri(RDF + "predicate"),
      Term.iri("http://x/p"))))
    assert(qs.contains(Quad(null, st, Term.iri(RDF + "object"), Term.lit("v"))))
    // resource-object form reifies too, with the IRI object
    assert(qs.contains(Quad(null, Term.iri("http://example/doc#r2"),
      Term.iri(RDF + "object"), Term.iri("http://example/b"))))
    assert(qs.size == 2 + 2 * 4)
    // rdf:ID values are document-unique (node + property shared space)
    intercept[RdfParseException](RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xml:base="http://example/doc">
        |<rdf:Description rdf:about="http://example/a">
        |<x:p xmlns:x="http://x/" rdf:ID="dup">v</x:p>
        |<x:p xmlns:x="http://x/" rdf:ID="dup">w</x:p>
        |</rdf:Description></rdf:RDF>""".stripMargin))
    // and still an error without any base to resolve the fragment
    intercept[RdfParseException](RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
        |<rdf:Description rdf:about="http://example/a">
        |<x:p xmlns:x="http://x/" rdf:ID="r1">v</x:p>
        |</rdf:Description></rdf:RDF>""".stripMargin))
  }

  test("rdf/xml: parseType='Literal' captures the subtree as an rdf:XMLLiteral") {
    val qs = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description rdf:about="http://example/a">
        |    <ex:content rdf:parseType="Literal"><b xmlns="http://www.w3.org/1999/xhtml" class="x">bold &amp; <i>it</i></b> tail</ex:content>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(qs.size == 1)
    val lit = qs.head.obj
    assert(lit.datatype ==
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral")
    // inner <i> inherits <b>'s default namespace — no re-declaration;
    // the ancestor-declared default ns IS re-declared on <b>
    assert(lit.lex ==
      """<b xmlns="http://www.w3.org/1999/xhtml" class="x">bold &amp; <i>it</i></b> tail""")
    // a prefix declared on an ANCESTOR of the literal is re-declared
    // on first use inside it (the literal is self-contained)
    val anc = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description rdf:about="http://example/a">
        |    <ex:content rdf:parseType="Literal"><ex:frag>z</ex:frag></ex:content>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(anc.head.obj.lex ==
      """<ex:frag xmlns:ex="http://example/">z</ex:frag>""")
  }

  test("json-ld: context, @id/@type, value objects, arrays, nesting, @graph") {
    val doc =
      """{
        |  "@context": {
        |    "ex": "http://example/",
        |    "name": "http://example/name",
        |    "knows": {"@id": "http://example/knows", "@type": "@id"},
        |    "age": {"@id": "http://example/age",
        |            "@type": "http://www.w3.org/2001/XMLSchema#integer"}
        |  },
        |  "@id": "ex:alice",
        |  "@type": "ex:Person",
        |  "name": {"@value": "Alice", "@language": "en"},
        |  "age": "30",
        |  "knows": ["ex:bob", "_:b1"],
        |  "ex:score": 7,
        |  "ex:friend": {"@id": "ex:bob", "name": "Bob"}
        |}""".stripMargin
    val qs = JsonLdParser.parse(doc)
    val alice = Term.iri("http://example/alice")
    val bob = Term.iri("http://example/bob")
    assert(qs.contains(Quad(null, alice, Term.iri(Term.RDF_TYPE),
      Term.iri("http://example/Person"))))
    assert(qs.contains(Quad(null, alice, Term.iri("http://example/name"),
      Term.langLit("Alice", "en"))))
    assert(qs.contains(Quad(null, alice, Term.iri("http://example/age"),
      Term.typed("30", "http://www.w3.org/2001/XMLSchema#integer"))))
    assert(qs.contains(Quad(null, alice, Term.iri("http://example/knows"), bob)))
    assert(qs.contains(Quad(null, alice, Term.iri("http://example/knows"),
      Term.blank("b1"))))
    assert(qs.contains(Quad(null, alice, Term.iri("http://example/score"),
      Term.typed("7", "http://www.w3.org/2001/XMLSchema#integer"))))
    assert(qs.contains(Quad(null, alice, Term.iri("http://example/friend"), bob)))
    assert(qs.contains(Quad(null, bob, Term.iri("http://example/name"),
      Term.lit("Bob"))))
    assert(qs.size == 8)
    // @graph with a wrapper @id produces NAMED-graph quads
    val g = JsonLdParser.parse(
      """{"@id": "http://example/g1",
        | "@graph": [{"@id": "http://example/s",
        |             "http://example/p": "v"}]}""".stripMargin)
    assert(g == Seq(Quad(Term.iri("http://example/g1"), Term.iri("http://example/s"),
      Term.iri("http://example/p"), Term.lit("v"))))
    // malformed JSON is a parse error (→ DLQ class)
    intercept[RdfParseException](JsonLdParser.parse("{not json"))
  }

  test("json-ld: a nested @context scopes to its subtree, not later siblings") {
    // the nested node remaps "name" to /nick; the later sibling and
    // the outer node must keep the outer mapping
    val qs = JsonLdParser.parse(
      """{"@context": {"name": "http://example/name"},
        | "@id": "http://example/a",
        | "http://example/friend": [
        |   {"@context": {"name": "http://example/nick"},
        |    "@id": "http://example/b", "name": "Bee"},
        |   {"@id": "http://example/c", "name": "Cee"}],
        | "name": "Aye"}""".stripMargin)
    assert(qs.contains(Quad(null, Term.iri("http://example/b"),
      Term.iri("http://example/nick"), Term.lit("Bee"))))
    assert(qs.contains(Quad(null, Term.iri("http://example/c"),
      Term.iri("http://example/name"), Term.lit("Cee"))))
    assert(qs.contains(Quad(null, Term.iri("http://example/a"),
      Term.iri("http://example/name"), Term.lit("Aye"))))
  }

  test("json-ld: array @context merges left-to-right; null resets; remote rejected") {
    val qs = JsonLdParser.parse(
      """{"@context": [
        |   {"name": "http://example/name", "nick": "http://example/nick"},
        |   {"nick": "http://example/alias"}],
        | "@id": "http://example/a",
        | "name": "Aye", "nick": "Al"}""".stripMargin)
    assert(qs.contains(Quad(null, Term.iri("http://example/a"),
      Term.iri("http://example/name"), Term.lit("Aye"))))
    // the later member shadows the earlier definition of "nick"
    assert(qs.contains(Quad(null, Term.iri("http://example/a"),
      Term.iri("http://example/alias"), Term.lit("Al"))))
    assert(qs.size == 2)
    // a null member resets the active context: "name" stays a
    // relative key with no @vocab, emitted as-is
    val reset = JsonLdParser.parse(
      """{"@context": [{"name": "http://example/name"}, null],
        | "@id": "http://example/a", "name": "Aye"}""".stripMargin)
    assert(reset == Seq(Quad(null, Term.iri("http://example/a"),
      Term.iri("name"), Term.lit("Aye"))))
    // remote (string) members stay parse errors → DLQ when no
    // registry is supplied
    intercept[RdfParseException](JsonLdParser.parse(
      """{"@context": ["https://schema.org", {"x": "http://x/"}],
        | "@id": "http://example/a", "x": "1"}""".stripMargin))
  }

  test("json-ld: remote contexts resolve against a preloaded registry") {
    // published context documents wrap the mappings in "@context"
    val registry = Map(
      "https://example.org/ctx/person" ->
        """{"@context": {"name": "http://example/name",
          |              "knows": {"@id": "http://example/knows", "@type": "@id"}}}""".stripMargin,
      // a bare context object (no wrapper) also works
      "https://example.org/ctx/extra" -> """{"nick": "http://example/nick"}""",
      // a registered context may itself reference a registered URL
      "https://example.org/ctx/chain" ->
        """{"@context": ["https://example.org/ctx/person",
          |              {"age": "http://example/age"}]}""".stripMargin,
      "https://example.org/ctx/loop" ->
        """{"@context": "https://example.org/ctx/loop"}""")
    val qs = JsonLdParser.parse(
      """{"@context": ["https://example.org/ctx/person",
        |              "https://example.org/ctx/extra"],
        | "@id": "http://example/a",
        | "name": "Aye", "nick": "Al", "knows": "http://example/b"}""".stripMargin,
      registry)
    assert(qs.toSet == Set(
      Quad(null, Term.iri("http://example/a"),
        Term.iri("http://example/name"), Term.lit("Aye")),
      Quad(null, Term.iri("http://example/a"),
        Term.iri("http://example/nick"), Term.lit("Al")),
      Quad(null, Term.iri("http://example/a"),
        Term.iri("http://example/knows"), Term.iri("http://example/b"))))
    // chained registered reference
    val chained = JsonLdParser.parse(
      """{"@context": "https://example.org/ctx/chain",
        | "@id": "http://example/a", "name": "Aye", "age": 7}""".stripMargin,
      registry)
    assert(chained.contains(Quad(null, Term.iri("http://example/a"),
      Term.iri("http://example/age"),
      Term.typed("7", "http://www.w3.org/2001/XMLSchema#integer"))))
    // unknown URL → clean parse error even with a registry present
    val eUnknown = intercept[RdfParseException](JsonLdParser.parse(
      """{"@context": "https://example.org/ctx/nope", "@id": "http://e/a"}""",
      registry))
    assert(eUnknown.getMessage.contains("not in the preloaded registry"))
    // self/cyclic reference → clean parse error, no stack overflow
    val eLoop = intercept[RdfParseException](JsonLdParser.parse(
      """{"@context": "https://example.org/ctx/loop", "@id": "http://e/a"}""",
      registry))
    assert(eLoop.getMessage.contains("cycle"))
    // the registry flows through the content-type dispatch layer too
    val d = RdfParse.decode(
      """{"@context": "https://example.org/ctx/person",
        | "@id": "http://example/a", "name": "Aye"}""".stripMargin
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      RdfParse.CT_JSONLD, "t:0:0", registry)
    assert(d.kind == "dataset" && d.quads == Seq(
      Quad(null, Term.iri("http://example/a"),
        Term.iri("http://example/name"), Term.lit("Aye"))))
  }

  test("json-ld: a blank-node @graph label stays a blank node") {
    val qs = JsonLdParser.parse(
      """{"@id": "_:g1",
        | "@graph": [{"@id": "http://example/s", "http://example/p": "v"}]}""".stripMargin)
    assert(qs == Seq(Quad(Term.blank("g1"), Term.iri("http://example/s"),
      Term.iri("http://example/p"), Term.lit("v"))))
    // nested @graph under an anonymous node: generated blank label
    val nested = JsonLdParser.parse(
      """{"@id": "http://example/outer",
        | "http://example/p": {"@graph": [
        |   {"@id": "http://example/s2", "http://example/q": "w"}]}}""".stripMargin)
    val inner = nested.find(_.predicate == Term.iri("http://example/q")).get
    assert(inner.graph.isBlank)
  }

  test("rdf/xml: xml:base resolves rdf:ID and relative references") {
    val doc =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/" xml:base="http://example/doc">
        |  <rdf:Description rdf:ID="frag">
        |    <ex:rel rdf:resource="other"/>
        |    <ex:abs rdf:resource="http://example/m1"/>
        |  </rdf:Description>
        |  <rdf:Description rdf:about="relative"><ex:p>v</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin
    val qs = RdfXmlParser.parse(doc)
    assert(qs.contains(Quad(null, Term.iri("http://example/doc#frag"),
      Term.iri("http://example/rel"), Term.iri("http://example/other"))))
    assert(qs.contains(Quad(null, Term.iri("http://example/doc#frag"),
      Term.iri("http://example/abs"), Term.iri("http://example/m1"))))
    assert(qs.exists(_.subject == Term.iri("http://example/relative")))
    // a parse-time base works the same; rdf:ID without ANY base errors
    val viaArg = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description rdf:ID="n"><ex:p>v</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin, base = "http://example/base")
    assert(viaArg.head.subject == Term.iri("http://example/base#n"))
    intercept[RdfParseException](RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description rdf:ID="n"><ex:p>v</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin))
  }

  test("rdf/xml: parseType='Collection' builds an rdf:first/rdf:rest chain") {
    val qs = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description rdf:about="http://example/s">
        |    <ex:parts rdf:parseType="Collection">
        |      <rdf:Description rdf:about="http://example/p1"/>
        |      <rdf:Description rdf:about="http://example/p2"/>
        |    </ex:parts>
        |    <ex:none rdf:parseType="Collection"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    val first = Term.iri(Term.RDF_FIRST)
    val rest = Term.iri(Term.RDF_REST)
    val nil = Term.iri(Term.RDF_NIL)
    val head = qs.find(_.predicate == Term.iri("http://example/parts")).get.obj
    assert(head.isBlank)
    assert(qs.contains(Quad(null, head, first, Term.iri("http://example/p1"))))
    val cell2 = qs.find(q => q.subject == head && q.predicate == rest).get.obj
    assert(cell2.isBlank)
    assert(qs.contains(Quad(null, cell2, first, Term.iri("http://example/p2"))))
    assert(qs.contains(Quad(null, cell2, rest, nil)))
    // empty collection links straight to rdf:nil
    assert(qs.contains(Quad(null, Term.iri("http://example/s"),
      Term.iri("http://example/none"), nil)))
    assert(qs.size == 6)
  }

  test("json-ld: @list builds an rdf:first/rdf:rest chain (lists nest)") {
    val qs = JsonLdParser.parse(
      """{"@id": "http://example/s",
        | "http://example/order": {"@list": ["a", {"@list": []}]}}""".stripMargin)
    val first = Term.iri(Term.RDF_FIRST)
    val rest = Term.iri(Term.RDF_REST)
    val nil = Term.iri(Term.RDF_NIL)
    val head = qs.find(_.predicate == Term.iri("http://example/order")).get.obj
    assert(head.isBlank)
    assert(qs.contains(Quad(null, head, first, Term.lit("a"))))
    val cell2 = qs.find(q => q.subject == head && q.predicate == rest).get.obj
    // second item is an EMPTY nested list → rdf:nil as rdf:first value
    assert(qs.contains(Quad(null, cell2, first, nil)))
    assert(qs.contains(Quad(null, cell2, rest, nil)))
    assert(qs.size == 5)
  }

  test("json-ld: @reverse emits inverted triples; literals rejected") {
    val qs = JsonLdParser.parse(
      """{"@context": {"knows": "http://example/knows"},
        | "@id": "http://example/a",
        | "@reverse": {"knows": [{"@id": "http://example/b"},
        |                        {"@id": "_:c"}]}}""".stripMargin)
    assert(qs.toSet == Set(
      Quad(null, Term.iri("http://example/b"), Term.iri("http://example/knows"),
        Term.iri("http://example/a")),
      Quad(null, Term.blank("c"), Term.iri("http://example/knows"),
        Term.iri("http://example/a"))))
    intercept[RdfParseException](JsonLdParser.parse(
      """{"@id": "http://example/a",
        | "@reverse": {"http://example/p": "a literal"}}""".stripMargin))
  }

  test("rdf/xml: rdf:li numbers itself per node element; json-ld @set flattens") {
    val qs = RdfXmlParser.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Seq rdf:about="http://example/seq1">
        |    <rdf:li>one</rdf:li>
        |    <rdf:li>two</rdf:li>
        |  </rdf:Seq>
        |  <rdf:Bag rdf:about="http://example/bag1">
        |    <rdf:li>solo</rdf:li>
        |  </rdf:Bag>
        |</rdf:RDF>""".stripMargin)
    val seq1 = Term.iri("http://example/seq1")
    assert(qs.contains(Quad(null, seq1, Term.iri(Term.RDF_TYPE),
      Term.iri(RdfXmlParser.RDF_NS + "Seq"))))
    assert(qs.contains(Quad(null, seq1,
      Term.iri(RdfXmlParser.RDF_NS + "_1"), Term.lit("one"))))
    assert(qs.contains(Quad(null, seq1,
      Term.iri(RdfXmlParser.RDF_NS + "_2"), Term.lit("two"))))
    // the counter resets per node element
    assert(qs.contains(Quad(null, Term.iri("http://example/bag1"),
      Term.iri(RdfXmlParser.RDF_NS + "_1"), Term.lit("solo"))))
    // @set expands exactly like the bare array — one triple per member
    val js = JsonLdParser.parse(
      """{"@id": "http://example/s",
        | "http://example/tag": {"@set": ["a", "b"]}}""".stripMargin)
    assert(js.toSet == Set(
      Quad(null, Term.iri("http://example/s"), Term.iri("http://example/tag"),
        Term.lit("a")),
      Quad(null, Term.iri("http://example/s"), Term.iri("http://example/tag"),
        Term.lit("b"))))
  }

  test("rdf/xml and json-ld round-trip through decode with blank scoping") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example/">
        |  <rdf:Description><ex:p>v</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin
    val dx = RdfParse.decode(xml.getBytes(UTF_8), "application/rdf+xml", "e1")
    assert(dx.kind == "dataset")
    assert(dx.quads.head.subject == Term.blank("e1:genid1"))
    val dj = RdfParse.decode(
      """{"http://example/p": "v"}""".getBytes(UTF_8), "application/ld+json", "e2")
    assert(dj.kind == "dataset")
    assert(dj.quads.head.subject == Term.blank("e2:genid1"))
    // unparseable payloads surface as _corrupt, not exceptions
    assert(RdfParse.decode("<broken".getBytes(UTF_8),
      "application/rdf+xml", "e3")._corrupt != null)
  }

  test("patch1.rdfp parses to header + markers + 4 adds in the named graph") {
    val ops = RdfPatchParser.parse(patch1Rdfp)
    assert(ops.map(_.op) == Seq("H", "TX", "A", "A", "A", "A", "TC"))
    val data = RdfPatchParser.dataOpsBatch(Seq(ops))._1.head
    assert(data.size == 4)
    assert(data.forall(_.graph == Term.iri("http://example/patch")))
    assert(data.map(_.obj.lex) == Seq("two", "one", "three", "four"))
  }

  test("malformed.ttl raises a deserialization failure") {
    intercept[RdfParseException] { TurtleParser.parseTurtle(malformedTtl) }
  }

  test("malformed.rdfp parses but fails at apply (nested TX)") {
    val ops = RdfPatchParser.parse(malformedRdfp)
    assert(ops.map(_.op) == Seq("TX", "TX"))
    intercept[RdfParseException] { RdfPatchParser.dataOpsBatch(Seq(ops)) }
  }

  test("dataOpsBatch: patch transactions spanning events") {
    def op(o: String, lex: String = null): PatchOp =
      if (lex == null) PatchOp(o, null, null, null, null)
      else PatchOp(o, null, Term.iri("http://x/s"), Term.iri("http://x/p"), Term.lit(lex))
    def lexes(ops: Seq[PatchOp]): Seq[String] = ops.map(_.obj.lex)
    // later TC commits the carried txn: ops flush to their own events
    val (c1, open1) = RdfPatchParser.dataOpsBatch(Seq(
      Seq(op("TX"), op("A", "x")), Seq(op("A", "y"), op("TC"))))
    assert(c1.map(lexes) == Seq(Seq("x"), Seq("y")) && !open1.open)
    // later TA aborts it: carried ops from the earlier event discarded
    val (c2, open2) = RdfPatchParser.dataOpsBatch(Seq(
      Seq(op("TX"), op("A", "x")), Seq(op("TA"))))
    assert(c2.map(lexes) == Seq(Seq(), Seq()) && !open2.open)
    // a TX over a carried txn commits it first (external-txn semantics)
    val (c3, open3) = RdfPatchParser.dataOpsBatch(Seq(
      Seq(op("TX"), op("A", "x")), Seq(op("TX"), op("A", "y"))))
    assert(c3.map(lexes) == Seq(Seq("x"), Seq("y")) && open3.open)
    // dangling open txn commits with the batch
    val (c4, open4) = RdfPatchParser.dataOpsBatch(Seq(Seq(op("TX"), op("A", "x"))))
    assert(c4.map(lexes) == Seq(Seq("x")) && open4.open)
    // nested TX within one event still fails at apply
    intercept[RdfParseException] {
      RdfPatchParser.dataOpsBatch(Seq(Seq(op("TX")), Seq(op("TX"), op("TX"))))
    }
    // TC with no open patch txn commits the projector's txn (valid);
    // TA there has nothing to abort and fails
    val (c5, open5) = RdfPatchParser.dataOpsBatch(Seq(Seq(op("TC"), op("A", "x"))))
    assert(c5.map(lexes) == Seq(Seq("x")) && !open5.open)
    intercept[RdfParseException] { RdfPatchParser.dataOpsBatch(Seq(Seq(op("TA")))) }
  }

  test("turtle: literals, lang tags, datatypes, numbers, booleans, 'a'") {
    val doc =
      """@prefix ex: <http://ex/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |ex:s a ex:T ;
        |  ex:str "hi" ;
        |  ex:lang "bonjour"@fr ;
        |  ex:typed "42"^^xsd:int ;
        |  ex:int 7 ;
        |  ex:dec 3.14 ;
        |  ex:dbl 1.0e3 ;
        |  ex:bool true .
        |""".stripMargin
    val qs = TurtleParser.parseTurtle(doc)
    val byPred = qs.map(q => q.predicate.lex.stripPrefix("http://ex/") -> q.obj).toMap
    assert(qs.head.predicate.lex == Term.RDF_TYPE)
    assert(byPred("str") == Term.lit("hi"))
    assert(byPred("lang") == Term.langLit("bonjour", "fr"))
    assert(byPred("typed") == Term.typed("42", "http://www.w3.org/2001/XMLSchema#int"))
    assert(byPred("int") == Term.typed("7", Term.XSD_INTEGER))
    assert(byPred("dec") == Term.typed("3.14", Term.XSD_DECIMAL))
    assert(byPred("dbl") == Term.typed("1.0e3", Term.XSD_DOUBLE))
    assert(byPred("bool") == Term.typed("true", Term.XSD_BOOLEAN))
  }

  test("turtle: blank node property lists and collections") {
    val doc =
      """@prefix ex: <http://ex/> .
        |ex:s ex:p [ ex:q "v" ] .
        |ex:s ex:list ( 1 2 ) .
        |""".stripMargin
    val qs = TurtleParser.parseTurtle(doc)
    assert(qs.count(_.predicate.lex == Term.RDF_FIRST) == 2)
    assert(qs.count(_.predicate.lex == Term.RDF_REST) == 2)
    assert(qs.exists(q => q.obj.isBlank))
  }

  test("turtle: string escapes and long strings") {
    val doc = "@prefix ex: <http://ex/> .\n" +
      "ex:s ex:p \"line1\\nline2\\t\\\"q\\\"\" .\n" +
      "ex:s ex:q \"\"\"multi\nline\"\"\" .\n"
    val qs = TurtleParser.parseTurtle(doc)
    assert(qs.head.obj.lex == "line1\nline2\t\"q\"")
    assert(qs(1).obj.lex == "multi\nline")
  }

  test("trig: named graph blocks") {
    val doc =
      """@prefix ex: <http://ex/> .
        |ex:g { ex:s ex:p ex:o . }
        |{ ex:s2 ex:p2 "dflt" . }
        |""".stripMargin
    val qs = TurtleParser.parseTrig(doc)
    assert(qs.size == 2)
    assert(qs.head.graph == Term.iri("http://ex/g"))
    assert(qs(1).graph == null)
  }

  test("nquads: escapes, unicode, named graph, comments") {
    val doc =
      "# comment\n" +
      "<http://ex/s> <http://ex/p> \"a\\u00e9b\" <http://ex/g> .\n" +
      "<http://ex/s> <http://ex/p> \"x\"^^<http://ex/dt> .\n" +
      "_:b1 <http://ex/p> \"y\"@en-GB .\n"
    val qs = NQuadsParser.parse(doc, allowGraph = true)
    assert(qs.size == 3)
    assert(qs.head.obj.lex == "aéb")
    assert(qs.head.graph == Term.iri("http://ex/g"))
    assert(qs(1).obj.datatype == "http://ex/dt")
    assert(qs(2).subject == Term.blank("b1"))
    assert(qs(2).obj.lang == "en-GB")
  }

  test("ntriples rejects a 4th term") {
    intercept[RdfParseException] {
      NQuadsParser.parse("<http://s> <http://p> \"o\" <http://g> .", allowGraph = false)
    }
  }

  test("content-type dispatch: default nquads, unknown type errors") {
    val d1 = RdfParse.decode(Fixtures.dataNq.getBytes(UTF_8), null, "e1")
    assert(d1.kind == "dataset" && d1.quads.size == 1)
    val d2 = RdfParse.decode("junk".getBytes(UTF_8), "text/unrecognized", "e2")
    assert(d2._corrupt != null && d2._corrupt.contains("No RDF parser"))
    val d3 = RdfParse.decode(Fixtures.patch1Rdfp.getBytes(UTF_8), "application/rdf-patch", "e3")
    assert(d3.kind == "patch" && d3.ops.size == 7)
    val d4 = RdfParse.decode(Fixtures.malformedTtl.getBytes(UTF_8), "text/turtle", "e4")
    assert(d4._corrupt != null)
  }

  test("blank node scoping prevents cross-event collisions") {
    val doc = "_:b <http://ex/p> \"v\" .\n"
    val a = RdfParse.decode(doc.getBytes(UTF_8), RdfParse.CT_NQUADS, "t:0:1")
    val b = RdfParse.decode(doc.getBytes(UTF_8), RdfParse.CT_NQUADS, "t:0:2")
    assert(a.quads.head.subject != b.quads.head.subject)
  }

  test("term NT round-trip") {
    val terms = Seq(Term.iri("http://ex/x"), Term.blank("b0"), Term.lit("plain \"q\" \\ nl\n"),
      Term.typed("5", Term.XSD_INTEGER), Term.langLit("hej", "sv"))
    val nt = terms.map(t => s"<http://s> <http://p> ${t.toNT} .").mkString("\n")
    val back = NQuadsParser.parse(nt, allowGraph = true).map(_.obj)
    assert(back == terms)
  }

  test("rdf-star: n-triples quoted triples parse, nest, and round-trip") {
    val doc =
      """<< <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
        |<http://x/bob> <http://x/claims> << <http://x/s> <http://x/p> "v"@en >> .
        |<< << <http://x/a> <http://x/b> <http://x/c> >> <http://x/q> _:b0 >> <http://x/d> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |""".stripMargin
    val qs = NQuadsParser.parse(doc, allowGraph = true)
    assert(qs.length == 3)
    val q0 = qs(0)
    assert(q0.subject == Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/p"), Term.lit("v")))
    assert(qs(1).obj.isTriple)
    // nested: subject of the quoted subject is itself quoted
    val (ns, _, no) = NQuadsParser.components(qs(2).subject)
    assert(ns == Term.quoted(Term.iri("http://x/a"), Term.iri("http://x/b"), Term.iri("http://x/c")))
    assert(no == Term.blank("b0"))
    // round-trip: serialize every quad and reparse
    val back = NQuadsParser.parse(qs.map(_.toNQ).mkString("\n"), allowGraph = true)
    assert(back == qs)
  }

  test("rdf-star: turtle quoted triples and annotation syntax") {
    val doc =
      """@prefix ex: <http://x/> .
        |<< ex:s ex:p "v" >> ex:saidBy ex:alice .
        |ex:s ex:age 42 {| ex:source ex:census ; ex:year 2020 |} .
        |""".stripMargin
    val qs = TurtleParser.parseTurtle(doc)
    val quoted = Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/p"), Term.lit("v"))
    assert(qs.contains(Quad(null, quoted, Term.iri("http://x/saidBy"), Term.iri("http://x/alice"))))
    // annotation asserts the base triple AND the two annotation triples
    val age = Term.typed("42", Term.XSD_INTEGER)
    val qAge = Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/age"), age)
    assert(qs.contains(Quad(null, Term.iri("http://x/s"), Term.iri("http://x/age"), age)))
    assert(qs.contains(Quad(null, qAge, Term.iri("http://x/source"), Term.iri("http://x/census"))))
    assert(qs.contains(Quad(null, qAge, Term.iri("http://x/year"), Term.typed("2020", Term.XSD_INTEGER))))
    assert(qs.length == 4)
  }

  test("rdf-star: blank nodes inside quoted triples scope with their siblings") {
    val doc = "<< _:b <http://x/p> <http://x/o> >> <http://x/q> _:b .\n"
    val dec = RdfParse.decode(doc.getBytes("UTF-8"), "application/n-quads", "ev7")
    assert(dec._corrupt == null)
    val q = dec.quads.head
    val (s, _, _) = NQuadsParser.components(q.subject)
    // embedded and asserted _:b must stay THE SAME scoped label
    assert(s == q.obj && s == Term.blank("ev7:b"))
  }

  test("rdf-star: RDF 1.2 <<( )>> triple-term spelling normalizes to the same term") {
    val quoted = Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/p"), Term.lit("v"))
    val nq = NQuadsParser.parse(
      "<http://x/r> <http://x/reifies> <<( <http://x/s> <http://x/p> \"v\" )>> .\n",
      allowGraph = true)
    assert(nq.head.obj == quoted)
    val ttl = TurtleParser.parseTurtle(
      "@prefix ex: <http://x/> . ex:r ex:reifies <<( ex:s ex:p \"v\" )>> .")
    assert(ttl.head.obj == quoted)
    // malformed: missing ')'
    intercept[RdfParseException](NQuadsParser.parse(
      "<http://x/r> <http://x/q> <<( <http://x/s> <http://x/p> \"v\" >> .\n",
      allowGraph = true))
  }

  test("rdf-star: patch A/D ops carry quoted triples (shared scanner)") {
    val doc =
      """TX .
        |A << <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/alice> .
        |D << <http://x/s> <http://x/p> "v" >> <http://x/saidBy> <http://x/bob> <http://x/g> .
        |TC .
        |""".stripMargin
    val ops = RdfPatchParser.parse(doc)
    assert(ops.map(_.op) == Seq("TX", "A", "D", "TC"))
    val quoted = Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/p"), Term.lit("v"))
    assert(ops(1).subject == quoted && ops(1).graph == null)
    assert(ops(2).subject == quoted && ops(2).graph == Term.iri("http://x/g"))
  }

  test("rdf-star: malformed quoted triples are parse errors") {
    val bads = Seq(
      "<< <http://x/s> <http://x/p> \"v\" <http://x/o> .",        // unterminated
      "<< \"lit\" <http://x/p> <http://x/o> >> <http://x/q> <http://x/z> .", // literal subject
      "<< <http://x/s> \"p\" <http://x/o> >> <http://x/q> <http://x/z> .")   // literal predicate
    bads.foreach { b =>
      intercept[RdfParseException](NQuadsParser.parse(b, allowGraph = true))
    }
  }
}

class QuadStoreSpec extends AnyFunSuite {
  import Fixtures._
  private lazy val spark = TestSpark.spark

  private def freshStore(): QuadStore =
    new QuadStore(spark, Files.createTempDirectory("quadstore").toString)

  test("golden counts: data.ttl → 1, + data.nq → 2 (DockerTestConfigFK single connector)") {
    val store = freshStore()
    store.addQuads(0, TurtleParser.parseTurtle(dataTtl))
    assert(store.count() == 1)
    store.addQuads(1, NQuadsParser.parse(dataNq, allowGraph = true))
    assert(store.count() == 2)
  }

  test("golden count: patch1.rdfp → 4 quads in graph <http://example/patch>") {
    val store = freshStore()
    val ops = RdfPatchParser.dataOpsBatch(Seq(RdfPatchParser.parse(patch1Rdfp)))._1.head
    store.applyPatch(0, ops)
    assert(store.count() == 4)
    import org.apache.spark.sql.functions.col
    assert(store.quads().filter(col("graph.lex") === "http://example/patch").count() == 4)
  }

  test("set semantics: re-ingesting the same payload is idempotent (README.md:148-150)") {
    val store = freshStore()
    store.addQuads(0, TurtleParser.parseTurtle(dataTtl))
    store.addQuads(1, TurtleParser.parseTurtle(dataTtl))
    assert(store.count() == 1)
  }

  test("patch delete removes exactly the matching quad; later re-add wins") {
    val store = freshStore()
    store.addQuads(0, TurtleParser.parseTurtle(dataTtl)) // :s1 :p :o
    val del = PatchOp("D", null, Term.iri("http://example/s1"),
      Term.iri("http://example/p"), Term.iri("http://example/o"))
    store.applyPatch(1, Seq(del))
    assert(store.count() == 0)
    store.addQuads(2, TurtleParser.parseTurtle(dataTtl))
    assert(store.count() == 1)
  }

  test("idempotent epoch replay: re-committing the same batchId changes nothing") {
    val store = freshStore()
    store.addQuads(0, TurtleParser.parseTurtle(dataTtl))
    store.addQuads(0, TurtleParser.parseTurtle(dataTtl)) // replayed epoch
    assert(store.committedSegments().size == 1)
    assert(store.count() == 1)
  }

  test("compaction preserves state") {
    val store = freshStore()
    store.addQuads(0, TurtleParser.parseTurtle(dataTtl))
    store.addQuads(1, NQuadsParser.parse(dataNq, allowGraph = true))
    store.applyPatch(2, RdfPatchParser.dataOpsBatch(Seq(RdfPatchParser.parse(patch1Rdfp)))._1.head)
    val before = store.count()
    store.compact()
    assert(store.committedSegments().size == 1)
    assert(store.count() == before)
  }
}

/** Round-trip properties for the RDF/XML and JSON-LD egress writers:
  * serialize a store's quads through the distributed line projection,
  * re-parse the document with the engine's own parser, and require the
  * identical quad set — covering IRIs, blank nodes, plain / typed /
  * lang-tagged literals, and escaping-hostile content.
  */
class RdfWritersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val mixedTriples = Seq(
    Quad(null, Term.iri("http://x/s1"), Term.iri("http://x/ns#p"),
      Term.lit("plain \"quoted\" & <tagged> text\nline2\tend\\")),
    Quad(null, Term.iri("http://x/s1"), Term.iri("http://x/ns#count"),
      Term.typed("01", Term.XSD_INTEGER)),
    Quad(null, Term.iri("http://x/s2"), Term.iri("http://x/label"),
      Term.langLit("grüß", "de")),
    Quad(null, Term.blank("b0"), Term.iri("http://x/link"),
      Term.iri("http://x/o?q=1&r=2")),
    Quad(null, Term.iri("http://x/s2"), Term.iri("http://x/ref"),
      Term.blank("b0")))

  private def df(quads: Seq[Quad]) = {
    import spark.implicits._
    quads.map(q => OpLog.OpRow("A", 0L, q.graph, q.subject, q.predicate, q.obj))
      .toDF().select(org.apache.spark.sql.functions.col("graph"),
        org.apache.spark.sql.functions.col("subject"),
        org.apache.spark.sql.functions.col("predicate"),
        org.apache.spark.sql.functions.col("obj"))
  }

  private def lines(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.getString(0)).toSeq

  test("rdf/xml round-trip: serialize → RdfXmlParser → identical triples") {
    val doc = (XmlWriter.HEADER ++
      lines(XmlWriter.rdfXmlLines(df(mixedTriples))) ++
      XmlWriter.FOOTER).mkString("\n")
    val back = RdfXmlParser.parse(doc)
    assert(back.toSet == mixedTriples.toSet)
  }

  test("rdf/xml export fails loudly on named graphs, star terms, bad predicates") {
    val named = Seq(Quad(Term.iri("http://x/g"), Term.iri("http://x/s"),
      Term.iri("http://x/p"), Term.lit("v")))
    intercept[IllegalArgumentException](XmlWriter.requireRepresentable(df(named)))
    val star = Seq(Quad(null,
      Term(Term.TRIPLE, "<<<http://x/a> <http://x/p> \"v\">>", null, null),
      Term.iri("http://x/q"), Term.lit("v")))
    intercept[IllegalArgumentException](XmlWriter.requireRepresentable(df(star)))
    // predicate IRI ending in '/' has no XML local name
    val slash = Seq(Quad(null, Term.iri("http://x/s"),
      Term.iri("http://x/p/"), Term.lit("v")))
    intercept[IllegalArgumentException](XmlWriter.requireRepresentable(df(slash)))
    XmlWriter.requireRepresentable(df(mixedTriples)) // sanity: clean data passes
  }

  test("json-ld round-trip: serialize → JsonLdParser → identical quads incl. named graphs") {
    val quads = mixedTriples ++ Seq(
      Quad(Term.iri("http://x/g1"), Term.iri("http://x/s3"),
        Term.iri("http://x/p"), Term.lit("in graph \"one\"")),
      Quad(Term.blank("gb"), Term.iri("http://x/s4"),
        Term.iri("http://x/p"), Term.typed("2.5", "http://www.w3.org/2001/XMLSchema#decimal")))
    val doc = ("[" + lines(JsonLdWriter.jsonLdLines(df(quads))).mkString(",") + "]")
    val back = JsonLdParser.parse(doc)
    assert(back.toSet == quads.toSet)
  }

  test("writers rename grammar-invalid blank labels, preserving co-reference") {
    // event-decode scopes blank labels as topic:partition:offset:label —
    // not a valid NCName (rdf:nodeID) or BLANK_NODE_LABEL; the writers
    // must emit a valid deterministic rename, same label → same name
    val scoped = Seq(
      Quad(null, Term.blank("t:0:5:b0"), Term.iri("http://x/p"), Term.lit("v")),
      Quad(null, Term.iri("http://x/s"), Term.iri("http://x/ref"),
        Term.blank("t:0:5:b0")))
    val xml = (XmlWriter.HEADER ++ lines(XmlWriter.rdfXmlLines(df(scoped))) ++
      XmlWriter.FOOTER).mkString("\n")
    assert(!xml.contains("t:0:5:b0"), "raw scoped label must not leak into XML")
    val xmlBack = RdfXmlParser.parse(xml)
    // co-reference: the subject of one triple IS the object of the other
    val subj = xmlBack.collectFirst {
      case q if q.predicate == Term.iri("http://x/p") => q.subject }.get
    assert(subj.isBlank && xmlBack.exists(_.obj == subj))
    val jld = "[" + lines(JsonLdWriter.jsonLdLines(df(scoped))).mkString(",") + "]"
    assert(!jld.contains("_:t:0:5:b0"))
    val jldBack = JsonLdParser.parse(jld)
    val jsubj = jldBack.collectFirst {
      case q if q.predicate == Term.iri("http://x/p") => q.subject }.get
    assert(jsubj.isBlank && jldBack.exists(_.obj == jsubj))
  }

  test("json-ld documentLines frames a valid one-array document") {
    val doc = JsonLdWriter.documentLines(df(mixedTriples.take(2))).mkString("\n")
    val back = JsonLdParser.parse(doc)
    assert(back.toSet == mixedTriples.take(2).toSet)
    // and an empty dataset is an empty array, still valid
    assert(JsonLdWriter.documentLines(df(Seq.empty).limit(0)).mkString("") == "[]")
  }
}

/** [[graft.rdf.RdfCanonical]]: blank-node hash refinement. The oracle
  * entry (rdf_canonical) pins the exact per-round hashes vs DuckDB;
  * these tests pin the SEMANTIC contract the oracle can't express —
  * invariance under blank relabeling and sensitivity to structure.
  */
class RdfCanonicalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(quads: Seq[Quad]) = {
    import spark.implicits._
    quads.map(q => OpLog.OpRow("A", 0L, q.graph, q.subject, q.predicate, q.obj))
      .toDF().select(org.apache.spark.sql.functions.col("graph"),
        org.apache.spark.sql.functions.col("subject"),
        org.apache.spark.sql.functions.col("predicate"),
        org.apache.spark.sql.functions.col("obj"))
  }

  private val p = Term.iri("http://x/p")
  private val q = Term.iri("http://x/q")
  private val name = Term.iri("http://x/name")

  test("canonical lines are invariant under blank relabeling") {
    val g1 = Seq(
      Quad(null, Term.blank("a"), name, Term.lit("hub")),
      Quad(null, Term.blank("a"), p, Term.blank("b")),
      Quad(null, Term.blank("b"), q, Term.lit("leaf1")),
      Quad(null, Term.blank("a"), p, Term.blank("c")),
      Quad(null, Term.blank("c"), q, Term.lit("leaf2")))
    // same graph, blanks renamed arbitrarily (and differently shaped labels)
    val g2 = Seq(
      Quad(null, Term.blank("zz9"), name, Term.lit("hub")),
      Quad(null, Term.blank("zz9"), p, Term.blank("k")),
      Quad(null, Term.blank("k"), q, Term.lit("leaf1")),
      Quad(null, Term.blank("zz9"), p, Term.blank("m")),
      Quad(null, Term.blank("m"), q, Term.lit("leaf2")))
    val l1 = RdfCanonical.canonicalLines(df(g1)).collect().map(_.getString(0)).toSeq
    val l2 = RdfCanonical.canonicalLines(df(g2)).collect().map(_.getString(0)).toSeq
    assert(l1 == l2)
    assert(l1.exists(_.contains("_:c")), s"blanks must be renamed: $l1")
    // and the dataset fingerprints agree
    val f1 = RdfCanonical.datasetHash(df(g1)).collect().head.getString(0)
    val f2 = RdfCanonical.datasetHash(df(g2)).collect().head.getString(0)
    assert(f1 == f2)
  }

  test("structurally different graphs fingerprint differently") {
    val g1 = Seq(
      Quad(null, Term.blank("a"), p, Term.blank("b")),
      Quad(null, Term.blank("b"), q, Term.lit("x")))
    val g2 = Seq( // reversed edge direction
      Quad(null, Term.blank("b"), p, Term.blank("a")),
      Quad(null, Term.blank("b"), q, Term.lit("x")))
    val f1 = RdfCanonical.datasetHash(df(g1)).collect().head.getString(0)
    val f2 = RdfCanonical.datasetHash(df(g2)).collect().head.getString(0)
    assert(f1 != f2)
  }

  test("automorphic twins tie on hash yet render identically") {
    // two interchangeable leaves under one hub: any within-tie rank
    // assignment yields the same canonical document
    val g = Seq(
      Quad(null, Term.blank("hub"), p, Term.blank("l1")),
      Quad(null, Term.blank("hub"), p, Term.blank("l2")),
      Quad(null, Term.blank("l1"), q, Term.lit("same")),
      Quad(null, Term.blank("l2"), q, Term.lit("same")))
    val hashes = RdfCanonical.blankHashes(df(g)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hashes("l1") == hashes("l2"))
    assert(hashes("hub") != hashes("l1"))
    val lines = RdfCanonical.canonicalLines(df(g)).collect().map(_.getString(0)).toSeq
    // swapped input labels → same canonical output
    val swapped = Seq(
      Quad(null, Term.blank("hub"), p, Term.blank("l2")),
      Quad(null, Term.blank("hub"), p, Term.blank("l1")),
      Quad(null, Term.blank("l2"), q, Term.lit("same")),
      Quad(null, Term.blank("l1"), q, Term.lit("same")))
    val lines2 = RdfCanonical.canonicalLines(df(swapped)).collect().map(_.getString(0)).toSeq
    assert(lines == lines2)
  }

  test("named-graph position participates in the signature") {
    val gname = Term.iri("http://x/g")
    val inDefault = Seq(Quad(null, Term.blank("a"), q, Term.lit("x")))
    val inNamed = Seq(Quad(gname, Term.blank("a"), q, Term.lit("x")))
    val h1 = RdfCanonical.blankHashes(df(inDefault)).collect().head.getString(1)
    val h2 = RdfCanonical.blankHashes(df(inNamed)).collect().head.getString(1)
    assert(h1 != h2)
  }

  test("graphFingerprints: isomorphic graphs collapse regardless of names") {
    val p1 = Term.iri("http://x/link")
    def g(name: String, b1: String, b2: String, leaf: String) = Seq(
      Quad(Term.iri(name), Term.blank(b1), p1, Term.blank(b2)),
      Quad(Term.iri(name), Term.blank(b2), q, Term.lit(leaf)))
    val quads = g("http://g/1", "a", "b", "same") ++
      g("http://g/2", "zz", "k", "same") ++  // isomorphic to g/1
      g("http://g/3", "a", "b", "other")     // differs in the literal
    val fps = RdfCanonical.graphFingerprints(df(quads)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fps.size == 3)
    assert(fps("<http://g/1>") == fps("<http://g/2>"))
    assert(fps("<http://g/1>") != fps("<http://g/3>"))
    // blank-free quads participate in the fingerprint too
    val extra = quads ++ Seq(Quad(Term.iri("http://g/2"),
      Term.iri("http://x/s"), q, Term.lit("tail")))
    val fps2 = RdfCanonical.graphFingerprints(df(extra)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fps2("<http://g/1>") != fps2("<http://g/2>"))
    assert(fps2("<http://g/1>") == fps("<http://g/1>"))
  }

  test("canonicalization leaves no pinned checkpoint blocks behind") {
    val g = Seq(
      Quad(null, Term.blank("a"), p, Term.blank("b")),
      Quad(null, Term.blank("b"), q, Term.lit("x")))
    RdfCanonical.canonicalLines(df(g)).collect()
    val before = spark.sparkContext.getPersistentRDDs.size
    RdfCanonical.canonicalLines(df(g)).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"checkpoint blocks leak: $before -> $after")
  }
}
