package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.rdf.{NQuadsParser, Quad, RdfParseException, Term, TurtleParser}
import graft.sparql.Sparql
import graft.store.{OpLog, QuadStore}

/** Property-based robustness: serializer/parser round-trips over
  * generated terms (escapes, unicode, surrogate halves, control
  * chars) and crash-safety of the text parsers on adversarial input —
  * a 100 TB ingest WILL see every byte sequence eventually, and the
  * failure contract is "RdfParseException routed to the DLQ", never a
  * hang, a StackOverflow, or a silent wrong parse.
  */
class FuzzSpec extends AnyFunSuite {

  /** Run a scalacheck property deterministically (fixed seed — a CI
    * gate must not flake) and surface the failing args on failure.
    */
  private def check(prop: Prop, n: Int = 200): Unit = {
    // FUZZ_N deepens the search for a manual soak run; the committed
    // default keeps the suite fast and deterministic
    val iters = sys.env.get("FUZZ_N").map(_.toInt).getOrElse(n)
    val seed = sys.env.get("FUZZ_SEED").map(_.toLong).getOrElse(42L)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(iters)
      .withInitialSeed(org.scalacheck.rng.Seed(seed))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  // --- generators -----------------------------------------------------------

  private val iriTail: Gen[String] =
    Gen.stringOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('/', '.', '_', '~', '-', '#')))
  private val genIri: Gen[Term] = iriTail.map(t => Term.iri("http://ex/" + t))

  private val genBlank: Gen[Term] = for {
    h <- Gen.alphaChar
    t <- Gen.stringOf(Gen.alphaNumChar)
  } yield Term.blank(s"$h$t")

  /** Any UTF-16 content, including control chars and lone surrogate
    * halves — the serializer must escape what the grammar requires
    * and pass everything else through unchanged.
    */
  private val genLex: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.asciiPrintableChar,
      2 -> Gen.oneOf('"', '\\', '\n', '\r', '\t'),
      1 -> Gen.choose(Char.MinValue, Char.MaxValue))).map(_.mkString)

  private val genLang: Gen[String] = for {
    a <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
    b <- Gen.option(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(8).mkString))
  } yield a + b.map("-" + _).getOrElse("")

  private val genLiteral: Gen[Term] = for {
    lex <- genLex
    t <- Gen.oneOf(0, 1, 2)
    term <- t match {
      case 0 => Gen.const(Term.lit(lex))
      case 1 => genLang.map(Term.langLit(lex, _))
      case _ => genIri.map(dt => Term.typed(lex, dt.lex))
    }
  } yield term

  /** RDF-star quoted triple, depth-bounded so nesting stays shallow. */
  private def genQuoted(depth: Int): Gen[Term] = for {
    s <- if (depth > 0) Gen.frequency(4 -> genIri, 2 -> genBlank, 1 -> genQuoted(depth - 1))
         else Gen.oneOf(genIri, genBlank)
    p <- genIri
    o <- if (depth > 0) Gen.frequency(3 -> genIri, 2 -> genLiteral, 1 -> genQuoted(depth - 1))
         else Gen.oneOf(genIri, genLiteral)
  } yield Term.quoted(s, p, o)

  private val genQuad: Gen[Quad] = for {
    s <- Gen.frequency(5 -> genIri, 3 -> genBlank, 1 -> genQuoted(1))
    p <- genIri
    o <- Gen.frequency(3 -> genIri, 2 -> genBlank, 3 -> genLiteral, 1 -> genQuoted(1))
    g <- Gen.option(genIri)
  } yield Quad(g.map(_.lex).map(Term.iri).orNull, s, p, o)

  /** [[genQuad]] restricted to VALID unicode: Spark string columns
    * are UTF-8 (UTF8String), so a lone UTF-16 surrogate half is
    * normalized the moment it enters a DataFrame — an engine-wide
    * data-model invariant, not a serializer property.
    */
  private lazy val genValidQuad: Gen[Quad] = genQuad.map { q =>
    def fix(t: Term): Term =
      if (t.termType == Term.LIT)
        t.copy(lex = t.lex.map(c => if (Character.isSurrogate(c)) 'x' else c))
      else if (t.isTriple) {
        // literals may hide INSIDE a quoted triple's canonical lex
        val (s, p, o) = NQuadsParser.components(t)
        Term.quoted(fix(s), fix(p), fix(o))
      } else t
    q.copy(subject = fix(q.subject), obj = fix(q.obj))
  }

  // --- round-trips ----------------------------------------------------------

  test("N-Quads round-trip: toNT serialization parses back to the same quads") {
    check(Prop.forAll(Gen.listOfN(5, genQuad)) { qs =>
      val doc = qs.map { q =>
        val g = Option(q.graph).map(" " + _.toNT).getOrElse("")
        s"${q.subject.toNT} ${q.predicate.toNT} ${q.obj.toNT}$g ."
      }.mkString("\n")
      NQuadsParser.parse(doc, allowGraph = true) == qs
    })
  }

  test("xsd:string typed literals normalize to plain on round-trip (RDF 1.1)") {
    check(Prop.forAll(genLex) { lex =>
      val nt = s"<http://s> <http://p> ${Term.typed(lex, Term.XSD_STRING).toNT} ."
      NQuadsParser.parse(nt, allowGraph = true).head.obj == Term.lit(lex)
    })
  }

  test("NtWriter round-trip: the distributed serializer parses back to the same quads") {
    val spark = TestSpark.spark
    import spark.implicits._
    // VALID unicode only: Spark's string columns are UTF-8
    // (UTF8String), so a lone UTF-16 surrogate half is normalized to
    // '?' the moment it enters a DataFrame — an engine-wide data-model
    // invariant (any UTF-8-native store does the same), not an
    // NtWriter property. The JVM-level toNT round-trip above keeps
    // exercising the lone-surrogate case.
    val validQuad = genValidQuad
    // each sample runs a Spark job — bounded count, still 4 terms/quad
    check(Prop.forAll(Gen.listOfN(4, validQuad)) { qs =>
      val df = qs.map(q => OpLog.OpRow("A", 0L, q.graph, q.subject,
          q.predicate, q.obj)).toDF()
        .select(col("graph"), col("subject"), col("predicate"), col("obj"))
      val doc = rdf.NtWriter.ntLines(df).collect().map(_.getString(0)).mkString("\n")
      NQuadsParser.parse(doc, allowGraph = true).toSet == qs.toSet
    }, n = 40)
  }

  test("JsonLdWriter round-trip: expanded node objects parse back to the same quads") {
    val spark = TestSpark.spark
    import spark.implicits._
    // star-free: quoted-triple terms have no JSON-LD 1.1 mapping and
    // the writer rejects them by contract (requireRepresentable)
    val starFree = genValidQuad.retryUntil(
      q => !q.subject.isTriple && !q.obj.isTriple, 100)
    check(Prop.forAll(Gen.listOfN(4, starFree)) { qs =>
      val df = qs.map(q => OpLog.OpRow("A", 0L, q.graph, q.subject,
          q.predicate, q.obj)).toDF()
        .select(col("graph"), col("subject"), col("predicate"), col("obj"))
      val doc = "[" + rdf.JsonLdWriter.jsonLdLines(df)
        .collect().map(_.getString(0)).mkString(",") + "]"
      rdf.JsonLdParser.parse(doc).toSet == qs.toSet
    }, n = 30)
  }

  test("TurtleWriter round-trip: Turtle/TriG blocks parse back to the same quads") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the writer groups by (graph, subject): duplicate quads collapse
    // into object lists only when byte-identical, so the SET is
    // preserved; parse back in TriG mode (named-graph blocks)
    check(Prop.forAll(Gen.listOfN(4, genValidQuad)) { qs =>
      val df = qs.map(q => OpLog.OpRow("A", 0L, q.graph, q.subject,
          q.predicate, q.obj)).toDF()
        .select(col("graph"), col("subject"), col("predicate"), col("obj"))
      val doc = rdf.TurtleWriter.turtleLines(df, Map.empty)
        .collect().map(_.getString(0)).mkString("\n")
      new rdf.TurtleParser(doc, trig = true).parse().toSet == qs.toSet
    }, n = 30)
  }

  test("TurtleWriter prefix compaction round-trips through the parser") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ns = "http://graft.example/v/"
    // locals drawn to straddle the PN_LOCAL-safe boundary: safe ones
    // compact to pn:local, unsafe ones (slash, colon, leading dot)
    // must fall back to <full-iri> — either way the parse expands to
    // the same IRI
    val genLocal = Gen.oneOf(
      Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(6).mkString),
      Gen.const("a/b"), Gen.const("x:y"), Gen.const(".lead"),
      Gen.const("trail."), Gen.const("mid.dle"), Gen.const(""))
    val genQ = for {
      s <- genLocal; o <- genLocal
    } yield Quad(null, Term.iri(ns + s), Term.iri(Term.RDF_TYPE), Term.iri(ns + o))
    check(Prop.forAll(Gen.listOfN(4, genQ)) { qs =>
      val df = qs.map(q => OpLog.OpRow("A", 0L, q.graph, q.subject,
          q.predicate, q.obj)).toDF()
        .select(col("graph"), col("subject"), col("predicate"), col("obj"))
      val hdr = rdf.TurtleWriter.prefixHeader(Map("v" -> ns)).mkString("\n")
      val doc = hdr + "\n" + rdf.TurtleWriter.turtleLines(df, Map("v" -> ns))
        .collect().map(_.getString(0)).mkString("\n")
      new rdf.TurtleParser(doc, trig = true).parse().toSet == qs.toSet
    }, n = 20)
  }

  // --- crash safety ---------------------------------------------------------

  /** Parse must return or throw RdfParseException — nothing else. */
  private def totalParse(body: => Any): Boolean =
    try { body; true }
    catch { case _: RdfParseException => true }

  private val sparqlTokens = Gen.oneOf(
    "SELECT", "WHERE", "FILTER", "OPTIONAL", "UNION", "GRAPH", "VALUES",
    "GROUP", "BY", "ORDER", "HAVING", "LIMIT", "OFFSET", "DISTINCT",
    "PREFIX", "CONSTRUCT", "ASK", "DESCRIBE", "BIND", "AS", "IN", "NOT",
    "EXISTS", "MINUS", "COUNT", "SUM", "AVG", "a", "*", "{", "}", "(",
    ")", ".", ";", ",", "|", "/", "^", "?v", "?s", "?p", "$x", "<http://x/p>",
    "ex:p", "_:b", "\"lit\"", "\"\"\"long\"\"\"", "'1'", "42", "3.14", "1e3",
    "true", "false", "@en", "^^xsd:int", "&&", "||", "=", "!=", "<", ">",
    "<<", ">>", "#c", "\\u0041", "é", "")

  private lazy val fuzzStore: QuadStore = {
    val st = new QuadStore(TestSpark.spark,
      Harness.scratchDir("fuzzstore").toString)
    st.addQuads(0, Seq(
      Quad(null, Term.iri("http://x/s"), Term.iri("http://x/p"), Term.lit("o")),
      // a quoted-triple subject so generated star patterns can match
      Quad(null, Term.quoted(Term.iri("http://x/s"), Term.iri("http://x/p"),
        Term.lit("o")), Term.iri("http://x/p"), Term.typed("3", Term.XSD_INTEGER))))
    st
  }

  test("SPARQL parser is total over token soup (parse or RdfParseException)") {
    val quads = fuzzStore.quads()
    check(Prop.forAll(Gen.listOfN(24, sparqlTokens)) { toks =>
      totalParse(Sparql.execute(quads, toks.mkString(" ")))
    })
  }

  // --- grammar-directed SPARQL: well-formed random queries ------------------

  /** Conservative generator of VALID queries: BGP (1-3 triples over a
    * shared var pool), optional OPTIONAL/UNION/FILTER/BIND, optional
    * DISTINCT/ORDER BY/LIMIT. Everything it emits must compile and
    * execute — an exception here is a compiler bug, not fuzz noise.
    */
  private val genSparql: Gen[(String, Option[Int], Boolean)] = {
    val vars = Seq("?a", "?b", "?c")
    val genVar = Gen.oneOf(vars)
    val genSubj = Gen.oneOf(genVar, Gen.const("<http://x/s>"))
    val genPred = Gen.oneOf(genVar, Gen.const("<http://x/p>"))
    val genObj = Gen.oneOf(genVar, Gen.const("\"o\""), Gen.const("3"))
    val genTriple0 = for { s <- genSubj; p <- genPred; o <- genObj }
      yield s"$s $p $o ."
    // SPARQL-star: a quoted-triple pattern in subject position (mixed
    // const/var components exercise both the fold-to-constant and the
    // destructuring compile paths)
    val genStarTriple = for {
      qs <- genSubj; qp <- genPred; qo <- genObj; p <- genPred; o <- genObj
    } yield s"<< $qs $qp $qo >> $p $o ."
    val genTriple = Gen.frequency(5 -> genTriple0, 1 -> genStarTriple)
    val genFilter = for {
      v <- genVar
      f <- Gen.oneOf(s"BOUND($v)", s"$v = 3", s"isIRI($v)",
        s"STRLEN(STR($v)) >= 0", s"$v != <http://x/q>")
    } yield s"FILTER($f)"
    for {
      triples <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, genTriple))
      opt <- Gen.option(genTriple.map(t => s"OPTIONAL { $t }"))
      uni <- Gen.option(genTriple.map(t => s"{ $t } UNION { $t }"))
      filt <- Gen.option(genFilter)
      bind <- Gen.option(genVar.map(v => s"BIND(STR($v) AS ?z)"))
      distinct <- Gen.oneOf("", "DISTINCT ")
      order <- Gen.option(genVar.map(v => s" ORDER BY $v"))
      limit <- Gen.option(Gen.choose(0, 5))
    } yield {
      val body = (triples ++ opt.toSeq ++ uni.toSeq ++ bind.toSeq ++ filt.toSeq)
        .mkString(" ")
      (s"SELECT $distinct* { $body }${order.getOrElse("")}" +
        limit.map(n => s" LIMIT $n").getOrElse(""),
        limit, distinct.nonEmpty)
    }
  }

  test("well-formed generated SPARQL compiles, executes, and honors LIMIT/DISTINCT") {
    val quads = fuzzStore.quads()
    check(Prop.forAll(genSparql) { case (q, limit, distinct) =>
      val rows = Sparql.execute(quads, q).collect()
      limit.forall(rows.length <= _) &&
        (!distinct || rows.map(_.toString).distinct.length == rows.length)
    }, n = 60) // each sample runs compile + a Spark job
  }

  test("Turtle parser is total over token soup") {
    val turtleTokens = Gen.oneOf(
      "@prefix", "@base", "ex:", ":", "ex:s", "a", "<http://x/s>", "_:b",
      "\"lit\"", "'''long'''", "42", "3.14", "true", "(", ")", "[", "]",
      ".", ";", ",", "@en", "^^ex:dt", "#c", "\\", "é", "\"", "",
      "<<", ">>", "{|", "|}") // RDF-star / annotation tokens
    check(Prop.forAll(Gen.listOfN(20, turtleTokens)) { toks =>
      totalParse(TurtleParser.parseTurtle(toks.mkString(" ")))
    })
  }

  test("rdf/xml parser is total over token soup") {
    val xmlTokens = Gen.oneOf(
      "<rdf:RDF", "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\"",
      "xmlns:ex=\"http://example/\"", ">", "</rdf:RDF>", "<rdf:Description",
      "rdf:about=\"http://example/a\"", "rdf:ID=\"i\"", "rdf:nodeID=\"b\"",
      "<ex:p>", "</ex:p>", "</rdf:Description>", "rdf:parseType=\"Literal\"",
      "rdf:parseType=\"Collection\"", "rdf:parseType=\"Resource\"",
      "rdf:resource=\"http://example/o\"", "rdf:datatype=\"http://dt\"",
      "xml:lang=\"en\"", "xml:base=\"http://b/\"", "text", "&amp;", "&bad;",
      "<!--c-->", "<![CDATA[x]]>", "<", ">", "\"", "=", "/", "")
    check(Prop.forAll(Gen.listOfN(16, xmlTokens)) { toks =>
      totalParse(rdf.RdfXmlParser.parse(toks.mkString(" ")))
    })
  }

  test("json-ld parser is total over token soup") {
    val jsonTokens = Gen.oneOf(
      "{", "}", "[", "]", ":", ",", "\"@context\"", "\"@id\"", "\"@type\"",
      "\"@value\"", "\"@language\"", "\"@graph\"", "\"@list\"", "\"@set\"",
      "\"@reverse\"", "\"ex\"", "\"http://example/\"", "\"ex:p\"", "\"v\"",
      "42", "3.14", "true", "false", "null", "\"\\u0041\"", "\"\\x\"", "")
    check(Prop.forAll(Gen.listOfN(18, jsonTokens)) { toks =>
      totalParse(rdf.JsonLdParser.parse(toks.mkString(" ")))
    })
  }

  test("N-Quads parser is total over mangled serializations") {
    // take a valid line and splice random edits into it — closer to
    // the corrupt-payload shapes a DLQ actually sees than pure noise
    val line = "<http://x/s> <http://x/p> \"v\\n\"@en <http://x/g> ."
    val mangled = for {
      i <- Gen.choose(0, line.length - 1)
      j <- Gen.choose(i, line.length)
      ins <- Gen.stringOf(Gen.frequency(
        3 -> Gen.asciiPrintableChar,
        1 -> Gen.oneOf('<', '>', '"', '\\', '@', '^', '\u0000')))
    } yield line.substring(0, i) + ins + line.substring(j)
    check(Prop.forAll(mangled) { doc =>
      totalParse(NQuadsParser.parse(doc, allowGraph = true))
    })
  }
}
