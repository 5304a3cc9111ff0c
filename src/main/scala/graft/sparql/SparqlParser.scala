package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Checkpoints
import graft.rdf.{RdfParseException, Term}

import Sparql._

  /** Recursive-descent SPARQL tokenizer/parser. Package-visible so
    * [[SparqlUpdate]] reuses the term/group grammar for update
    * requests (same prologue, node, and group productions).
    */
  private[sparql] final class Parser(text: String) {
    private[sparql] var pos = 0

    /** Full request: prologue + SELECT | ASK | CONSTRUCT. */
    def parseRequest(): Request = {
      parsePrologue()
      if (tryKeyword("ASK")) {
        tryKeyword("WHERE") // `ASK WHERE { … }` — WHERE is optional (§19.8 AskQuery)
        val pattern = parseGroup()
        expectEnd()
        AskReq(pattern)
      } else if (tryKeyword("CONSTRUCT")) {
        def triplesOf(p: Pattern): Seq[TriplePattern] = p match {
          case Group(elems) => elems.map {
            case PatElem(tp) => tp
            case other => fail(
              s"CONSTRUCT template allows only triple patterns, found ${other.getClass.getSimpleName}")
          }
          case _ => fail("CONSTRUCT template cannot contain UNION")
        }
        // `CONSTRUCT WHERE { tps }` shorthand (§16.2.4): the pattern
        // doubles as the template
        // SolutionModifier: ORDER BY, then LIMIT/OFFSET in either order
        def modifiers(): (Seq[OrderKey], Option[Int], Option[Int]) = {
          val order =
            if (tryKeyword("ORDER")) { keyword("BY"); parseOrderKeys() }
            else Seq.empty
          var limit: Option[Int] = None
          var offset: Option[Int] = None
          var more = true
          while (more) {
            if (limit.isEmpty && tryKeyword("LIMIT")) limit = Some(parseInt())
            else if (offset.isEmpty && tryKeyword("OFFSET")) offset = Some(parseInt())
            else more = false
          }
          (order, limit, offset)
        }
        if (tryKeyword("WHERE")) {
          val pattern = parseGroup()
          val tpl = triplesOf(pattern)
          val (order, limit, offset) = modifiers()
          expectEnd()
          ConstructReq(tpl, pattern, order, limit, offset)
        } else {
          val tpl = triplesOf(parseGroup())
          keyword("WHERE")
          val pattern = parseGroup()
          val (order, limit, offset) = modifiers()
          expectEnd()
          ConstructReq(tpl, pattern, order, limit, offset)
        }
      } else if (tryKeyword("DESCRIBE")) {
        skipWs()
        if (pos < text.length && peek == '*') { // DESCRIBE * — all WHERE vars
          pos += 1
          skipWs()
          if (!tryKeyword("WHERE") && (pos >= text.length || peek != '{'))
            fail("DESCRIBE * needs a WHERE pattern")
          val pattern = parseGroup()
          expectEnd()
          return DescribeReq(Seq.empty, Some(pattern), all = true)
        }
        val nodes = scala.collection.mutable.ArrayBuffer[Node]()
        skipWs()
        // VarOrIri list: ?var, <iri>, or prefixed name — stop at WHERE
        // or '{' (a keyword-check that consumes nothing on WHERE match
        // would mis-read `WHERE` as a pname)
        var more = true
        while (more) {
          skipWs()
          if (pos >= text.length || peek == '{') more = false
          else if (peek == '?' || peek == '<') nodes += parseNode()
          else {
            val save = pos
            if (tryKeyword("WHERE")) { pos = save; more = false }
            else if (peek.isLetter || peek == ':') nodes += parseNode()
            else more = false
          }
        }
        if (nodes.isEmpty) fail("DESCRIBE needs at least one IRI or variable")
        skipWs()
        val pattern = // WHERE is optional before the group (§19.8 WhereClause)
          if (tryKeyword("WHERE") || (pos < text.length && peek == '{'))
            Some(parseGroup())
          else None
        expectEnd()
        DescribeReq(nodes.toSeq, pattern)
      } else SelectReq(parseQuery())
    }

    private def expectEnd(): Unit = {
      skipWs()
      if (pos < text.length) fail(s"trailing content: '${text.substring(pos).take(20)}'")
    }

    def parseQuery(): Query = {
      parsePrologue()
      keyword("SELECT")
      val q = parseSelectTail()
      skipWs()
      if (pos < text.length) fail(s"trailing content: '${text.substring(pos).take(20)}'")
      q
    }

    /** Everything after the SELECT keyword — shared between top-level
      * queries and sub-SELECTs (which stop at the enclosing '}').
      */
    private def parseSelectTail(): Query = {
      // REDUCED *permits* duplicate elimination (§15.3.2); eliminating
      // them fully is a conformant answer and reuses the DISTINCT path
      val distinct = tryKeyword("DISTINCT") || tryKeyword("REDUCED")
      val projection = parseProjection()
      // DatasetClause* (spec §13.2)
      val from = scala.collection.mutable.ArrayBuffer[Term]()
      val fromNamed = scala.collection.mutable.ArrayBuffer[Term]()
      var moreFrom = true
      while (moreFrom) {
        if (tryKeyword("FROM")) {
          val named = tryKeyword("NAMED")
          parseNode() match {
            case Const(t) if t.isIri => if (named) fromNamed += t else from += t
            case _ => fail("FROM expects an IRI")
          }
        } else moreFrom = false
      }
      tryKeyword("WHERE")
      val pattern = parseGroup()
      // GroupCondition subset: ?v | '(' expr AS ?x ')'
      val groupExprs = scala.collection.mutable.ArrayBuffer[(VExpr, String)]()
      val groupBy =
        if (tryKeyword("GROUP")) {
          keyword("BY")
          val keys = scala.collection.mutable.ArrayBuffer[String]()
          var moreKeys = true
          while (moreKeys) {
            skipWs()
            if (peek == '?') keys += parseVar()
            else if (peek == '(') {
              pos += 1
              val e = parseAdditive()
              keyword("AS")
              val as = parseVar()
              expect(')')
              groupExprs += ((e, as))
              keys += as
            } else moreKeys = false
          }
          if (keys.isEmpty) fail("expected at least one GROUP BY key")
          keys.toSeq
        } else Seq.empty
      // HavingClause: HAVING '(' constraint ')'+ — each constraint is
      // a full FILTER expression; aggregate calls parse via VAgg
      val having =
        if (tryKeyword("HAVING")) {
          val fs = scala.collection.mutable.ArrayBuffer[FExpr]()
          skipWs()
          while (peek == '(') {
            expect('('); fs += parseFilterOr(); expect(')'); skipWs()
          }
          if (fs.isEmpty) fail("HAVING needs at least one (constraint)")
          fs.toSeq
        } else Seq.empty
      val orderBy =
        if (tryKeyword("ORDER")) { keyword("BY"); parseOrderKeys() } else Seq.empty
      // LimitOffsetClauses: either order, each at most once
      var limit: Option[Int] = None
      var offset: Option[Int] = None
      var more = true
      while (more) {
        if (limit.isEmpty && tryKeyword("LIMIT")) limit = Some(parseInt())
        else if (offset.isEmpty && tryKeyword("OFFSET")) offset = Some(parseInt())
        else more = false
      }
      // trailing ValuesClause (§7.2): for an UNGROUPED query it joins
      // the WHERE solutions (nesting the original group keeps its
      // FILTER scopes intact — exactly the spec's Join(pattern, data));
      // a GROUPED query must join it AFTER aggregation and HAVING
      // (§18.2.4.3 — the pre-pattern join would multiply rows before
      // COUNT/SUM), so it travels separately on the Query
      // SELECT * projects every in-scope variable, which a grouped
      // query cannot do (§18.2.4.4 — only group keys and aggregates
      // are projectable); rejecting here also keeps the grouped
      // trailing-VALUES routing below total
      if (projection == SelectAll && (groupBy.nonEmpty || having.nonEmpty))
        fail("SELECT * cannot be combined with GROUP BY or HAVING")
      val isGrouped = groupBy.nonEmpty || having.nonEmpty ||
        (projection match {
          case SelectItems(items) => items.exists {
            case _: ItemAgg => true
            case ItemExpr(e, _) => aggsOf(e).nonEmpty
            case _ => false
          }
          case _ => false
        }) || orderBy.exists(k => aggsOf(k.expr).nonEmpty)
      val (fullPattern, trailingValues) =
        if (tryKeyword("VALUES")) {
          val v = parseValuesElem()
          if (isGrouped) (pattern, Some(v))
          else (Group(Seq(NestedElem(pattern), v)): Pattern, None)
        } else (pattern, None)
      Query(projection, fullPattern, groupBy, having, orderBy, limit, offset,
        distinct, from.toSeq, fromNamed.toSeq, groupExprs.toSeq, trailingValues)
    }

    private def parseProjection(): Projection = {
      skipWs()
      if (peek == '*') { pos += 1; return SelectAll }
      val items = scala.collection.mutable.ArrayBuffer[SelectItem]()
      var done = false
      while (!done) {
        skipWs()
        if (peek == '?') items += ItemVar(parseVar())
        else if (peek == '(') {
          // `(expr AS ?x)`: a bare aggregate call keeps the dedicated
          // ItemAgg form (raw SQL output at the top level); any other
          // expression — possibly containing aggregate calls — is an
          // expression projection
          pos += 1
          val e = parseAdditive()
          keyword("AS")
          val as = parseVar()
          expect(')')
          items += (e match {
            case VAgg(func, arg, isDistinct, sep) => ItemAgg(func, arg, as, isDistinct, sep)
            case other => ItemExpr(other, as)
          })
        } else done = true
      }
      if (items.isEmpty) fail("expected projection variables or aggregates")
      SelectItems(items.toSeq)
    }

    /** `FUNC([DISTINCT] expr|*) [; SEPARATOR="…"]` — the aggregate
      * call shared by projection items and HAVING conjuncts; the
      * argument is a full value expression (SUM(?a * ?b)).
      */
    private def parseAggCall(): (String, Option[VExpr], Boolean, String) = {
      val func = Seq("GROUP_CONCAT", "COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE")
        .find(tryKeyword).getOrElse(fail("expected an aggregate function"))
      expect('(')
      val isDistinct = tryKeyword("DISTINCT")
      skipWs()
      val arg =
        if (peek == '*') {
          if (func != "COUNT") fail(s"$func requires an expression argument")
          pos += 1; None
        } else Some(parseAdditive())
      var sep = " "
      if (func == "GROUP_CONCAT") {
        skipWs()
        if (peek == ';') { pos += 1; keyword("SEPARATOR"); expect('='); sep = parseStringLit() }
      }
      expect(')')
      (func, arg, isDistinct, sep)
    }

    private def parseVarList(): Seq[String] = {
      val vs = scala.collection.mutable.ArrayBuffer[String]()
      skipWs()
      while (pos < text.length && peek == '?') { vs += parseVar(); skipWs() }
      if (vs.isEmpty) fail("expected at least one ?variable")
      vs.toSeq
    }

    /** `(?v | ASC(expr) | DESC(expr) | (expr))+` — expression keys may
      * contain aggregate calls in a grouped query.
      */
    private def parseOrderKeys(): Seq[OrderKey] = {
      val ks = scala.collection.mutable.ArrayBuffer[OrderKey]()
      var more = true
      while (more) {
        skipWs()
        if (peek == '?') ks += OrderKey(VVar(parseVar()))
        else if (tryKeyword("DESC")) {
          expect('('); ks += OrderKey(parseAdditive(), descending = true); expect(')')
        } else if (tryKeyword("ASC")) {
          expect('('); ks += OrderKey(parseAdditive()); expect(')')
        } else if (peek == '(') {
          pos += 1; ks += OrderKey(parseAdditive()); expect(')')
        } else more = false
      }
      if (ks.isEmpty) fail("expected at least one ORDER BY key")
      ks.toSeq
    }

    private[sparql] def parseGroup(): Pattern = {
      expect('{')
      locally {
        val elems = scala.collection.mutable.ArrayBuffer[GroupElem]()
        var done = false
        while (!done) {
          skipWs()
          if (pos >= text.length) fail("unterminated group pattern")
          else if (peek == '}') { pos += 1; done = true }
          else if (peek == '{') {
            // sub-SELECT, or a nested group pattern (possibly the head
            // of a UNION chain: `{A} UNION {B}` groups as Union(A,B))
            val save = pos
            pos += 1
            skipWs()
            val isSub = text.regionMatches(true, pos, "SELECT", 0, 6) &&
              (pos + 6 >= text.length || !text.charAt(pos + 6).isLetterOrDigit)
            pos = save
            if (isSub) {
              expect('{')
              keyword("SELECT")
              val q = parseSelectTail()
              expect('}')
              elems += SubSelectElem(q)
            } else {
              var p: Pattern = parseGroup()
              while (tryKeyword("UNION")) p = p match {
                case Union(bs) => Union(bs :+ parseGroup())
                case x => Union(Seq(x, parseGroup()))
              }
              elems += NestedElem(p)
            }
          }
          else if (tryKeyword("OPTIONAL")) elems += OptElem(parseGroup())
          else if (tryKeyword("BIND")) {
            expect('(')
            val e = parseVExpr()
            keyword("AS")
            val v = parseVar()
            expect(')')
            elems += BindElem(e, v)
          } else if (tryKeyword("GRAPH")) {
            val g = parseNode()
            parseGroup() match {
              // conjunctive fast path: flatten into per-leaf graph
              // fields so the BGP reorderer sees one flat join run.
              // A FILTER disqualifies it — hoisted, it would read
              // variables bound OUTSIDE its group (§17.2 scope) — and
              // so does a leaf that already carries a graph (a nested
              // GRAPH block this parse already flattened: its active
              // graph must not be overwritten, and under an outer
              // variable graph its rows cross the graph names, which
              // only the GraphElem path expresses).
              case Group(es) if es.forall {
                  case PatElem(tp) => tp.graph.isEmpty
                  case pe: PathElem => pe.graph.isEmpty
                  case _ => false
                } =>
                elems ++= es.map {
                  case PatElem(tp) => PatElem(tp.copy(graph = Some(g)))
                  case pe: PathElem => pe.copy(graph = Some(g))
                  case other => other
                }
              case p => elems += GraphElem(g, p)
            }
            // Quads grammar allows '.' between GRAPH blocks and triples
            skipWs()
            if (pos < text.length && peek == '.') pos += 1
          } else if (tryKeyword("SERVICE")) {
            // SPARQL 1.1 Federated Query: the inner group ships to the
            // endpoint VERBATIM — capture its source text plus this
            // query's prologue (so prefixed names and relative IRIs
            // resolve identically at the remote end) and keep the
            // parsed pattern for variable-scope analysis only; the
            // remote endpoint is the evaluator.
            val silent = tryKeyword("SILENT")
            val ep = parseNode()
            ep match {
              case Var(_) => ()
              case Const(t) if t.isIri => ()
              case _ => fail("SERVICE endpoint must be an IRI or a variable")
            }
            skipWs()
            val start = pos
            val inner = parseGroup()
            val raw = text.substring(start, pos)
            val sb = new StringBuilder
            if (base != null) sb.append("BASE <").append(base).append(">\n")
            prefixes.foreach { case (p, iri) =>
              sb.append("PREFIX ").append(p).append(": <").append(iri).append(">\n")
            }
            sb.append("SELECT * WHERE ").append(raw)
            elems += ServiceElem(ep, silent, sb.toString, inner)
          } else if (tryKeyword("MINUS")) {
            elems += MinusElem(parseGroup())
          } else if (tryKeyword("FILTER")) {
            if (tryKeyword("NOT")) {
              keyword("EXISTS")
              elems += ExistsElem(parseGroup(), positive = false)
            } else if (tryKeyword("EXISTS")) {
              elems += ExistsElem(parseGroup(), positive = true)
            } else {
              // Constraint ::= BrackettedExpression | BuiltInCall |
              // FunctionCall (§19.8) — `FILTER REGEX(…)`,
              // `FILTER langMatches(…)`, `FILTER xsd:integer(?x) = …`
              // are legal without an extra bracket pair
              skipWs()
              val f =
                if (peek == '(') { expect('('); val e = parseFilterOr(); expect(')'); e }
                else parseFilterCmp()
              elems += FilterElem(f)
            }
          } else if (tryKeyword("VALUES")) {
            elems += parseValuesElem()
          } else {
            val (s, pre) = parseTripleNode()
            elems ++= pre
            skipWs()
            // a bare `[ ...props ]` block needs no outer predicate
            if (!(pre.nonEmpty && (peek == '.' || peek == '}')))
              elems ++= parsePropertyList(s)
            skipWs()
            if (pos < text.length && peek == '.') pos += 1
          }
        }
        Group(elems.toSeq)
      }
    }

    /** `Verb ObjectList (';' (Verb ObjectList)?)*` — predicate-object
      * lists with ',' object lists. Nested blank-node property lists
      * emit their triples alongside.
      */
    private def parsePropertyList(s: Node): Seq[GroupElem] = {
      val out = scala.collection.mutable.ArrayBuffer[GroupElem]()
      var moreProps = true
      while (moreProps) {
        val pred = parsePredicate()
        var moreObjs = true
        while (moreObjs) {
          val (o, post) = parseTripleNode()
          pred match {
            case Left(p) => out += PatElem(TriplePattern(None, s, p, o))
            case Right(path) => out += PathElem(None, s, path, o)
          }
          out ++= post
          skipWs()
          if (peek == ',') pos += 1 else moreObjs = false
        }
        skipWs()
        var sawSemi = false
        while (peek == ';') { pos += 1; skipWs(); sawSemi = true }
        if (!sawSemi || peek == '.' || peek == '}' || peek == ']') moreProps = false
      }
      out.toSeq
    }

    /** A node in triple subject/object position: a plain node, a
      * blank-node property list `[ ... ]`, or a collection `( ... )`.
      * Both sugars bind FRESH internal variables ('#'-prefixed — they
      * join like any variable, are invisible to SELECT * / DISTINCT,
      * and are stripped with the other hidden columns; a blank node in
      * a query is just an unnamed variable). A collection matches an
      * rdf:first/rdf:rest chain of exactly the listed items — the
      * shape [[graft.rdf.JsonLdParser]] `@list` /
      * [[graft.rdf.RdfXmlParser]] `parseType="Collection"` emit.
      */
    private var blankN = 0
    private def freshVar(): Var = { blankN += 1; Var(s"#b$blankN") }
    private def parseTripleNode(): (Node, Seq[GroupElem]) = {
      skipWs()
      if (peek == '[') {
        pos += 1
        skipWs()
        val v = freshVar()
        val inner =
          if (peek == ']') Seq.empty
          else parsePropertyList(v)
        expect(']')
        (v, inner)
      } else if (peek == '(') {
        pos += 1
        skipWs()
        if (peek == ')') { pos += 1; (Const(Term.iri(Term.RDF_NIL)), Seq.empty) }
        else {
          val items = scala.collection.mutable.ArrayBuffer[(Node, Seq[GroupElem])]()
          while (peek != ')') { items += parseTripleNode(); skipWs() }
          pos += 1
          val out = scala.collection.mutable.ArrayBuffer[GroupElem]()
          val head = freshVar()
          var cur: Var = head
          items.zipWithIndex.foreach { case ((n, extra), i) =>
            out ++= extra
            out += PatElem(TriplePattern(None, cur,
              Const(Term.iri(Term.RDF_FIRST)), n))
            val rest: Node =
              if (i == items.size - 1) Const(Term.iri(Term.RDF_NIL))
              else freshVar()
            out += PatElem(TriplePattern(None, cur,
              Const(Term.iri(Term.RDF_REST)), rest))
            rest match { case v: Var => cur = v; case _ => () }
          }
          (head, out.toSeq)
        }
      } else (parseNode(), Seq.empty)
    }

    /** Predicate position: a plain node (IRI/var/`a`) or a property
      * path. Path grammar: alt := seq ('|' seq)* ; seq := elt ('/'
      * elt)* ; elt := '^'? prim ('+'|'*'|'?')? ; prim := iri | '('
      * alt ')'. A modifier must touch its operand (`ex:p?` is a
      * modifier, `ex:p ?o` is the object variable).
      */
    private def parsePredicate(): Either[Node, PathExpr] = {
      skipWs()
      if (peek == '?') Left(Var(parseVar()))
      else {
        val path = parsePathAlt()
        path match {
          case PLink(t) => Left(Const(t))
          case p => Right(p)
        }
      }
    }

    private def parsePathAlt(): PathExpr = {
      var e = parsePathSeq()
      skipWs()
      while (pos < text.length && peek == '|') { pos += 1; e = PAlt(e, parsePathSeq()); skipWs() }
      e
    }

    private def parsePathSeq(): PathExpr = {
      var e = parsePathElt()
      skipWs()
      while (pos < text.length && peek == '/') { pos += 1; e = PSeq(e, parsePathElt()); skipWs() }
      e
    }

    private def parsePathElt(): PathExpr = {
      skipWs()
      val inv = if (peek == '^') { pos += 1; true } else false
      val prim: PathExpr =
        if (peek == '!') { pos += 1; parseNegatedSet() }
        else if (peek == '(') { pos += 1; val e = parsePathAlt(); expect(')'); e }
        else parseNode() match {
          case Const(t) if t.isIri => PLink(t)
          case _ => fail("a path element must be an IRI or a parenthesized path")
        }
      // modifiers bind only when directly adjacent (no whitespace)
      val modified =
        if (pos < text.length) text.charAt(pos) match {
          case '+' => pos += 1; PPlus(prim)
          case '*' => pos += 1; PStar(prim)
          case '?' => pos += 1; POpt(prim)
          case '{' => pos += 1; parseRepeat(prim)
          case _ => prim
        } else prim
      if (inv) PInv(modified) else modified
    }

    /** `p{n}` / `p{n,m}` / `p{n,}` repetition (the widely-used ARQ
      * extension; dropped from the final SPARQL 1.1 grammar) —
      * REWRITTEN onto the standard combinators so the engine needs no
      * new operator: bounded forms become an alternation of sequence
      * chains (optionally `?`-wrapped when n=0), `{n,}` becomes
      * `p/…/p/p+`. Bounds cap at 16: the rewrite is exponential-free
      * but a chain of joins, and beyond that `+`/`*`'s doubling
      * closure is the right tool.
      */
    private def parseRepeat(p: PathExpr): PathExpr = {
      skipWs()
      val lo = parseInt()
      skipWs()
      val hi: Option[Int] = // None = unbounded {n,}
        if (peek == ',') {
          pos += 1; skipWs()
          if (peek == '}') None else Some(parseInt())
        } else Some(lo)
      skipWs()
      expect('}')
      val cap = 16
      if (lo > cap || hi.exists(_ > cap))
        fail(s"path repetition bounds cap at $cap (use + or * beyond)")
      if (hi.exists(_ < lo)) fail(s"path repetition {$lo,${hi.get}} is empty")
      if (lo == 0 && hi.contains(0))
        fail("path repetition {0} (the zero-length path) is not supported")
      def chain(k: Int): PathExpr = (2 to k).foldLeft(p: PathExpr)((e, _) => PSeq(e, p))
      hi match {
        case None => // {n,}: n-1 fixed hops, then one-or-more
          if (lo <= 0) PStar(p)
          else if (lo == 1) PPlus(p)
          else PSeq(chain(lo - 1), PPlus(p))
        case Some(m) => // {n,m}: alternation of chains, ?-wrapped if n=0
          val from = math.max(lo, 1)
          val alts = (from to m).map(chain).reduce(PAlt(_, _))
          if (lo == 0) POpt(alts) else alts
      }
    }

    /** After '!': a single (possibly inverted) IRI or a '('-list of
      * them separated by '|'.
      */
    private def parseNegatedSet(): PathExpr = {
      val fwd = scala.collection.mutable.ArrayBuffer[Term]()
      val inv = scala.collection.mutable.ArrayBuffer[Term]()
      def one(): Unit = {
        skipWs()
        val inverted = if (peek == '^') { pos += 1; true } else false
        parseNode() match {
          case Const(t) if t.isIri => if (inverted) inv += t else fwd += t
          case _ => fail("a negated property set lists IRIs")
        }
      }
      skipWs()
      if (peek == '(') {
        pos += 1
        one()
        skipWs()
        while (peek == '|') { pos += 1; one(); skipWs() }
        expect(')')
      } else one()
      PNeg(fwd.toSeq, inv.toSeq)
    }

    /** The data block after the VALUES keyword — shared between the
      * in-group form and the trailing query-level clause (§7.2).
      */
    private def parseValuesElem(): ValuesElem = {
      skipWs()
      val vars =
        if (peek == '(') {
          expect('('); val vs = parseVarList(); expect(')'); vs
        } else Seq(parseVar())
      val single = vars.size == 1
      expect('{')
      val rows = scala.collection.mutable.ArrayBuffer[Seq[Option[Term]]]()
      skipWs()
      while (peek != '}') {
        val cells =
          if (single) Seq(parseValuesCell())
          else {
            expect('(')
            val cs = vars.map(_ => parseValuesCell())
            expect(')')
            cs
          }
        rows += cells
        skipWs()
      }
      expect('}')
      if (rows.isEmpty) fail("VALUES needs at least one data row")
      ValuesElem(vars, rows.toSeq)
    }

    private def parseValuesCell(): Option[Term] =
      if (tryKeyword("UNDEF")) None
      else parseNode() match {
        case Const(t) => Some(t)
        case _ => fail("VALUES data must be constant terms or UNDEF")
      }

    // FILTER grammar: or := and ('||' and)* ; and := cmp ('&&' cmp)* ;
    // cmp := '(' or ')' | operand OP operand — standard precedence,
    // parenthesized sub-expressions allowed
    private def parseFilterOr(): FExpr = {
      var e = parseFilterAnd()
      while (tryToken("||")) e = FOr(e, parseFilterAnd())
      e
    }

    private def parseFilterAnd(): FExpr = {
      var e = parseFilterCmp()
      while (tryToken("&&")) e = FAnd(e, parseFilterCmp())
      e
    }

    private def parseFilterCmp(): FExpr = {
      skipWs()
      if (peek == '(') {
        // ambiguous '(': a parenthesized boolean (`(?x < 3) || …`) or a
        // parenthesized arithmetic operand (`(?a + ?b) > 3`). Try the
        // boolean reading; if it fails, or the closing paren is
        // followed by a comparison/arithmetic operator, re-read as an
        // expression operand
        val save = pos
        val asBool: Option[FExpr] =
          try {
            expect('('); val e = parseFilterOr(); expect(')')
            skipWs()
            val c = peek
            if ("=<>+-*/".indexOf(c.toInt) >= 0 ||
                (c == '!' && pos + 1 < text.length && text.charAt(pos + 1) == '='))
              None
            else Some(e)
          } catch { case _: RdfParseException => None }
        asBool.getOrElse { pos = save; parseCmpTail() }
      }
      else if (peek == '!' && pos + 1 < text.length && text.charAt(pos + 1) != '=') {
        pos += 1
        FNot(parseFilterCmp())
      } else if (tryKeyword("REGEX")) {
        expect('('); val v = parseNode(); expect(',')
        val pat = parseStringLit()
        skipWs()
        val flags = if (peek == ',') { pos += 1; parseStringLit() } else ""
        expect(')')
        FRegex(v, pat, flags)
      } else if (tryKeyword("CONTAINS") || tryKeyword("STRSTARTS") ||
                 tryKeyword("STRENDS")) {
        val func = text.substring(0, pos).trim.split("[^A-Za-z]").last.toUpperCase
        expect('('); val v = parseNode(); expect(',')
        val arg = parseStringLit()
        expect(')')
        FStrFn(func, v, arg)
      } else if (tryKeyword("SAMETERM")) {
        expect('('); val a = parseAdditive(); expect(',')
        val b = parseAdditive(); expect(')')
        FSameTerm(a, b)
      } else if (tryKeyword("LANGMATCHES")) {
        expect('('); val t = parseAdditive(); expect(',')
        val r = parseStringLit(); expect(')')
        FLangMatches(t, r)
      } else if (tryKeyword("BOUND") || tryKeyword("ISIRI") || tryKeyword("ISURI") ||
                 tryKeyword("ISBLANK") || tryKeyword("ISLITERAL") ||
                 tryKeyword("ISNUMERIC") || tryKeyword("ISTRIPLE") ||
                 tryKeyword("HASLANGDIR") || tryKeyword("HASLANG")) {
        val func = text.substring(0, pos).trim.split("[^A-Za-z]").last.toUpperCase
        expect('('); val v = parseVar(); expect(')')
        FTest(func, v)
      } else if (tryKeyword("EXISTS")) {
        // EXISTS as an expression operand (§17.4.1.4) — combinable
        // with || / && / ! unlike the standalone FILTER EXISTS form
        FExists(parseGroup(), positive = true)
      } else if (tryKeyword("NOT")) {
        // at operand position a bare NOT must be NOT EXISTS
        // (negation of an expression is spelled !)
        keyword("EXISTS")
        FExists(parseGroup(), positive = false)
      } else parseCmpTail()
    }

    /** expression (op expression | [NOT] IN list)? — a bare expression
      * in boolean position falls through to EBV.
      */
    private def parseCmpTail(): FExpr = {
      val l = parseAdditive()
      skipWs()
      val op =
        if (tryToken("!=")) "!=" else if (tryToken("<=")) "<="
        else if (tryToken(">=")) ">=" else if (tryToken("=")) "="
        else if (tryToken("<")) "<" else if (tryToken(">")) ">"
        else ""
      if (op.nonEmpty) FCmp(l, op, parseAdditive())
      else if (tryKeyword("IN")) FIn(l, parseExprList(), positive = true)
      else if (tryKeyword("NOT")) {
        keyword("IN"); FIn(l, parseExprList(), positive = false)
      } else FEbv(l)
    }

    private def parseExprList(): Seq[VExpr] = {
      expect('(')
      val args = scala.collection.mutable.ArrayBuffer(parseAdditive())
      skipWs()
      while (peek == ',') { pos += 1; args += parseAdditive(); skipWs() }
      expect(')')
      args.toSeq
    }

    private def parseStringLit(): String = parseNode() match {
      case Const(t) if t.isLit => t.lex
      case _ => fail("expected a string literal")
    }

    private def parseVExpr(): VExpr = parseAdditive()

    // expression grammar with standard precedence:
    //   additive := mult (('+'|'-') mult)* ; mult := prim (('*'|'/') prim)*
    private def parseAdditive(): VExpr = {
      var e = parseMultiplicative()
      skipWs()
      while (pos < text.length && (peek == '+' || peek == '-')) {
        val op = peek.toString; pos += 1
        e = VBin(op, e, parseMultiplicative()); skipWs()
      }
      e
    }

    private def parseMultiplicative(): VExpr = {
      var e = parsePrimaryV()
      skipWs()
      while (pos < text.length && (peek == '*' || peek == '/')) {
        val op = peek.toString; pos += 1
        e = VBin(op, e, parsePrimaryV()); skipWs()
      }
      e
    }

    private val UNARY_FNS =
      Seq("STRLEN", "UCASE", "LCASE", "ABS", "ROUND", "CEIL", "FLOOR",
        "IRI", "URI", "ENCODE_FOR_URI",
        "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ", "TIMEZONE",
        "SUBJECT", "PREDICATE", "OBJECT", "LANGDIR")
    private val NARY_FNS =
      Seq("CONCAT", "SUBSTR", "REPLACE", "STRBEFORE", "STRAFTER",
        "STRDT", "STRLANG", "TRIPLE", "STRLANGDIR")
    // nondeterministic builtins (§17.4.2 / §17.4.5): zero-argument;
    // BNODE is handled separately (0 or 1 argument)
    private val NILADIC_FNS = Seq("NOW", "UUID", "STRUUID", "RAND")
    private val AGG_FNS =
      Seq("GROUP_CONCAT", "COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE")

    /** Next token is an aggregate keyword (no consumption; tryKeyword's
      * prefixed-name lookahead applies, so `sum:x` stays a pname).
      */
    private def peekAgg(): Boolean = {
      val save = pos
      val hit = AGG_FNS.exists(tryKeyword)
      pos = save
      hit
    }

    private def parsePrimaryV(): VExpr = {
      skipWs()
      if (peek == '(') {
        // a bracketted sub-expression may be arithmetic OR boolean
        // (`BIND((?v = 2) AS ?b)`): parse the full boolean grammar —
        // pure arithmetic comes back as its EBV wrapper and unwraps,
        // anything else is a boolean-valued term expression
        pos += 1; val f = parseFilterOr(); expect(')')
        f match { case FEbv(e) => e; case other => VBool(other) }
      }
      else if (peek == '-' && !(pos + 1 < text.length &&
               (text.charAt(pos + 1).isDigit || text.charAt(pos + 1) == '.'))) {
        // unary minus on a non-literal operand (`-?v`); negative
        // NUMERIC literals keep their turtle-style parseNode path so
        // the datatype stays exact
        pos += 1
        VBin("-", VConst(Term.typed("0", Term.XSD_INTEGER)), parsePrimaryV())
      }
      else if (peek == '+' && !(pos + 1 < text.length &&
               (text.charAt(pos + 1).isDigit || text.charAt(pos + 1) == '.'))) {
        pos += 1
        parsePrimaryV() // unary plus is the identity
      }
      else if (peekAgg()) {
        val (func, arg, isDistinct, sep) = parseAggCall()
        VAgg(func, arg, isDistinct, sep)
      }
      else if (tryKeyword("IF")) {
        expect('('); val c = parseFilterOr(); expect(',')
        val t = parseAdditive(); expect(',')
        val f = parseAdditive(); expect(')')
        VIf(c, t, f)
      } else if (tryKeyword("COALESCE")) {
        VCoalesce(parseExprList())
      } else if (tryKeyword("STR") || tryKeyword("LANG") || tryKeyword("DATATYPE")) {
        val func = text.substring(0, pos).trim.split("[^A-Za-z]").last.toUpperCase
        expect('(')
        val a = parseAdditive()
        expect(')')
        VFn(func, a)
      } else if (UNARY_FNS.exists(tryKeyword)) {
        // keep '_' in the class: ENCODE_FOR_URI must not truncate to URI
        val func = text.substring(0, pos).trim.split("[^A-Za-z0-9_]").last.toUpperCase
        expect('(')
        val a = parseAdditive()
        expect(')')
        VFnN(func, Seq(a))
      } else if (NARY_FNS.exists(tryKeyword)) {
        val func = text.substring(0, pos).trim.split("[^A-Za-z0-9_]").last.toUpperCase
        VFnN(func, parseExprList())
      } else if (NILADIC_FNS.exists(tryKeyword)) {
        val func = text.substring(0, pos).trim.split("[^A-Za-z0-9_]").last.toUpperCase
        expect('('); expect(')')
        VFnN(func, Seq.empty)
      } else if (tryKeyword("BNODE")) {
        expect('(')
        skipWs()
        if (peek == ')') { pos += 1; VFnN("BNODE", Seq.empty) }
        else { val a = parseAdditive(); expect(')'); VFnN("BNODE", Seq(a)) }
      } else if (peek == '?') VVar(parseVar())
      else parseNode() match {
        case Const(t) if t.isIri && { skipWs(); peek == '(' } =>
          // IRI function call: XSD casting constructors only (§17.5)
          if (!CAST_TARGETS.contains(t.lex))
            fail(s"unsupported function <${t.lex}>")
          val args = parseExprList()
          if (args.size != 1) fail("a casting constructor takes one argument")
          VCast(t.lex, args.head)
        case Const(t) => VConst(t)
        case _ => fail("expected a value expression")
      }
    }

    private val CAST_TARGETS: Set[String] = Set(
      Term.XSD_STRING, Term.XSD_INTEGER, Term.XSD_DECIMAL,
      Term.XSD_DOUBLE, Term.XSD_FLOAT, Term.XSD_BOOLEAN,
      Term.XSD_DATETIME, Term.XSD_DATE)

    /** `PREFIX pfx: <iri>` declarations (SPARQL grammar `Prologue`);
      * populates the pname expansion table used by [[parseNode]].
      */
    private[sparql] def parsePrologue(): Unit = {
      var more = true
      while (more) {
        if (tryKeyword("PREFIX")) {
          skipWs()
          val start = pos
          while (pos < text.length && text.charAt(pos) != ':' &&
                 !text.charAt(pos).isWhitespace) pos += 1
          val pfx = text.substring(start, pos)
          expect(':')
          parseNode() match {
            case Const(t) if t.isIri => prefixes(pfx) = t.lex
            case _ => fail("PREFIX expects an IRI")
          }
        } else if (tryKeyword("BASE")) {
          // BASE declarations interleave with PREFIX; later IRIs (and
          // later PREFIX expansions) resolve against the latest BASE
          parseNode() match {
            case Const(t) if t.isIri => base = t.lex
            case _ => fail("BASE expects an IRI")
          }
        } else more = false
      }
    }

    private val prefixes = scala.collection.mutable.Map[String, String]()
    private var base: String = null

    /** Resolve a (possibly relative) IRI reference against the BASE
      * declaration — same merge rules as [[graft.rdf.TurtleParser]].
      */
    private def resolveIri(iri: String): String = {
      if (base == null || iri.contains("://") || iri.startsWith("urn:") ||
          iri.startsWith("mailto:") || iri.startsWith("uuid:")) iri
      else if (iri.startsWith("#")) {
        val h = base.indexOf('#')
        (if (h >= 0) base.substring(0, h) else base) + iri
      } else if (iri.isEmpty) base
      else if (iri.startsWith("/")) {
        val schemeEnd = base.indexOf("://")
        if (schemeEnd < 0) base + iri
        else {
          val pathStart = base.indexOf('/', schemeEnd + 3)
          (if (pathStart < 0) base else base.substring(0, pathStart)) + iri
        }
      } else {
        val cut = base.lastIndexOf('/')
        if (cut < 0) base + iri else base.substring(0, cut + 1) + iri
      }
    }

    private[sparql] def parseNode(): Node = {
      skipWs()
      // boolean keyword literals (RDFLiteral alternative in GraphTerm);
      // tryKeyword's prefixed-name lookahead keeps `true:x` intact
      if (tryKeyword("true")) return Const(Term.typed("true", Term.XSD_BOOLEAN))
      if (tryKeyword("false")) return Const(Term.typed("false", Term.XSD_BOOLEAN))
      peek match {
        case '?' => Var(parseVar())
        // SPARQL-star quoted triple pattern `<< s p o >>`
        case '<' if pos + 1 < text.length && text.charAt(pos + 1) == '<' =>
          pos += 2
          val s = parseNode()
          val p = parseNode()
          val o = parseNode()
          skipWs()
          if (!(pos + 1 < text.length && peek == '>' && text.charAt(pos + 1) == '>'))
            fail("unterminated quoted triple: expected '>>'")
          pos += 2
          s match {
            case Const(t) if !t.isIri && !t.isBlank && !t.isTriple =>
              fail("quoted-triple subject must be an IRI, blank node, or quoted triple")
            case _ => ()
          }
          p match {
            case Const(t) if !t.isIri => fail("quoted-triple predicate must be an IRI")
            case _ => ()
          }
          (s, p, o) match {
            case (Const(st), Const(pt), Const(ot)) => Const(Term.quoted(st, pt, ot))
            case _ => QTriple(s, p, o)
          }
        case '<' =>
          pos += 1
          val end = text.indexOf('>', pos)
          if (end < 0) fail("unterminated IRI")
          val iri = text.substring(pos, end); pos = end + 1
          Const(Term.iri(resolveIri(iri)))
        case q @ ('"' | '\'') =>
          pos += 1
          val sb = new StringBuilder
          while (pos < text.length && text.charAt(pos) != q) {
            if (text.charAt(pos) == '\\') pos = Term.unescape(text, pos, text.length, sb, fail)
            else { sb.append(text.charAt(pos)); pos += 1 }
          }
          if (pos >= text.length) fail("unterminated literal")
          pos += 1
          if (pos + 1 < text.length && text.charAt(pos) == '^' && text.charAt(pos + 1) == '^') {
            pos += 2
            parseNode() match {
              case Const(dt) if dt.isIri => Const(Term.typed(sb.toString, dt.lex))
              case _ => fail("datatype must be an IRI")
            }
          } else if (pos < text.length && text.charAt(pos) == '@') {
            pos += 1
            val start = pos
            while (pos < text.length && (text.charAt(pos).isLetterOrDigit || text.charAt(pos) == '-')) pos += 1
            Const(Term.langLit(sb.toString, text.substring(start, pos)))
          } else Const(Term.lit(sb.toString))
        case 'a' if pos + 1 < text.length && text.charAt(pos + 1).isWhitespace =>
          pos += 1
          Const(Term.iri(Term.RDF_TYPE))
        // bare numeric literal (SPARQL §19.8 NumericLiteral): digits →
        // xsd:integer, a dot followed by digits → xsd:decimal, an
        // exponent → xsd:double
        case c if c.isDigit || ((c == '-' || c == '+') &&
            pos + 1 < text.length && text.charAt(pos + 1).isDigit) =>
          val start = pos
          if (c == '-' || c == '+') pos += 1
          while (pos < text.length && text.charAt(pos).isDigit) pos += 1
          val isDec = pos + 1 < text.length && text.charAt(pos) == '.' &&
            text.charAt(pos + 1).isDigit
          if (isDec) {
            pos += 1
            while (pos < text.length && text.charAt(pos).isDigit) pos += 1
          }
          val isDouble = pos < text.length &&
            (text.charAt(pos) == 'e' || text.charAt(pos) == 'E') && {
              var i = pos + 1
              if (i < text.length && (text.charAt(i) == '+' || text.charAt(i) == '-')) i += 1
              i < text.length && text.charAt(i).isDigit
            }
          if (isDouble) {
            pos += 1
            if (text.charAt(pos) == '+' || text.charAt(pos) == '-') pos += 1
            while (pos < text.length && text.charAt(pos).isDigit) pos += 1
          }
          Const(Term.typed(text.substring(start, pos),
            if (isDouble) Term.XSD_DOUBLE
            else if (isDec) Term.XSD_DECIMAL else Term.XSD_INTEGER))
        case '_' if pos + 1 < text.length && text.charAt(pos + 1) == ':' =>
          pos += 2
          val start = pos
          while (pos < text.length && (text.charAt(pos).isLetterOrDigit ||
                 text.charAt(pos) == '_' || text.charAt(pos) == '-')) pos += 1
          if (pos == start) fail("empty blank node label")
          Const(Term.blank(text.substring(start, pos)))
        case c if c.isLetter || c == ':' =>
          // prefixed name pfx:local (expanded against the prologue)
          val start = pos
          while (pos < text.length && text.charAt(pos) != ':' &&
                 (text.charAt(pos).isLetterOrDigit || text.charAt(pos) == '_' ||
                  text.charAt(pos) == '-' || text.charAt(pos) == '.')) pos += 1
          if (pos >= text.length || text.charAt(pos) != ':')
            fail(s"unexpected token '${text.substring(start, pos).take(20)}'")
          val pfx = text.substring(start, pos)
          pos += 1
          val ls = pos
          // local part: no trailing dot (a dot ends the triple)
          while (pos < text.length && (text.charAt(pos).isLetterOrDigit ||
                 text.charAt(pos) == '_' || text.charAt(pos) == '-' ||
                 (text.charAt(pos) == '.' && pos + 1 < text.length &&
                  (text.charAt(pos + 1).isLetterOrDigit || text.charAt(pos + 1) == '_')))) pos += 1
          prefixes.get(pfx) match {
            case Some(ns) => Const(Term.iri(ns + text.substring(ls, pos)))
            case None => fail(s"undeclared prefix '$pfx:'")
          }
        case c => fail(s"unexpected character '$c'")
      }
    }

    private[sparql] def parseVar(): String = {
      skipWs()
      if (peek != '?') fail("expected ?variable")
      pos += 1
      val start = pos
      while (pos < text.length && (text.charAt(pos).isLetterOrDigit || text.charAt(pos) == '_')) pos += 1
      if (pos == start) fail("empty variable name")
      text.substring(start, pos)
    }

    private def parseInt(): Int = {
      skipWs()
      val start = pos
      while (pos < text.length && text.charAt(pos).isDigit) pos += 1
      if (pos == start) fail("expected integer")
      val digits = text.substring(start, pos)
      // a bound past Int range is a clean parse error, not a raw
      // NumberFormatException escaping the parse-or-RdfParseException
      // totality contract (LIMIT/OFFSET, path {n,m} bounds)
      try digits.toInt
      catch { case _: NumberFormatException =>
        fail(s"integer out of range: $digits") }
    }

    private[sparql] def peek: Char = if (pos < text.length) text.charAt(pos) else '\u0000'
    /** Whitespace AND `#` line comments (SPARQL grammar WS). A `#`
      * inside an IRI or string literal never reaches here — the
      * `<...>` and quote scanners consume those byte-by-byte.
      */
    private[sparql] def skipWs(): Unit = {
      var more = true
      while (more) {
        while (pos < text.length && text.charAt(pos).isWhitespace) pos += 1
        if (pos < text.length && text.charAt(pos) == '#')
          while (pos < text.length && text.charAt(pos) != '\n') pos += 1
        else more = false
      }
    }
    private[sparql] def expect(c: Char): Unit = {
      skipWs()
      if (pos >= text.length || text.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }
    private[sparql] def keyword(kw: String): Unit =
      if (!tryKeyword(kw)) fail(s"expected $kw")
    private[sparql] def tryKeyword(kw: String): Boolean = {
      skipWs()
      if (!text.regionMatches(true, pos, kw, 0, kw.length)) return false
      var i = pos + kw.length
      if (i < text.length && text.charAt(i).isLetterOrDigit) return false
      // lookahead over the remaining prefix-label chars: if they run
      // into a ':', this is a prefixed name whose label starts with a
      // keyword (values:x, values_x:y), not the keyword itself
      while (i < text.length && (text.charAt(i).isLetterOrDigit ||
             text.charAt(i) == '_' || text.charAt(i) == '-' ||
             text.charAt(i) == '.')) i += 1
      if (i < text.length && text.charAt(i) == ':') return false
      pos += kw.length
      true
    }
    private[sparql] def tryToken(tok: String): Boolean = {
      skipWs()
      if (text.startsWith(tok, pos)) { pos += tok.length; true } else false
    }
    private[sparql] def fail(msg: String): Nothing =
      throw new RdfParseException(s"SPARQL parse error at $pos: $msg")
  }
