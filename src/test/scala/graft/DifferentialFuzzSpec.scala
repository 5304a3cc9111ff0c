package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.rdf.Term
import graft.sparql.Sparql

/** Differential SPARQL fuzzing: seeded random queries over seeded
  * random datasets, executed BOTH by the distributed DataFrame
  * compilation and by a naive reference evaluator written directly
  * from the spec's set-algebra over in-memory quads — then compared
  * as multisets of rendered solutions. The naive evaluator is small
  * enough to be obviously correct, so any divergence is an engine
  * bug (or a genuine spec ambiguity to pin down). This is the
  * counterpart of the hand-written ConformanceSpec: breadth there is
  * authored, breadth here is generated — join shapes, OPTIONAL
  * nesting, UNION branches, MINUS/NOT EXISTS, three-valued FILTER
  * errors, DISTINCT, projection, and grouped COUNT compose randomly.
  *
  * Deterministic by default (fixed seed); FUZZ_N deepens the search
  * for a soak run (e.g. `FUZZ_N=1000 sbt "testOnly *DifferentialFuzzSpec"`),
  * FUZZ_SEED shifts the space.
  */
class DifferentialFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val N = sys.env.get("FUZZ_N").map(_.toInt).getOrElse(120)
  private val SEED = sys.env.get("FUZZ_SEED").map(_.toLong).getOrElse(7L)

  // --- query model ----------------------------------------------------------

  private sealed trait Node
  private case class V(name: String) extends Node
  private case class C(term: Term) extends Node

  private case class TP(s: Node, p: Node, o: Node)

  // property-path model: link / inverse / sequence / alternative /
  // one-or-more / zero-or-more / zero-or-one over constant predicates
  private sealed trait PathE
  private case class PLinkE(p: Term) extends PathE
  private case class PInvE(i: PathE) extends PathE
  private case class PSeqE(l: PathE, r: PathE) extends PathE
  private case class PAltE(l: PathE, r: PathE) extends PathE
  private case class PPlusE(i: PathE) extends PathE
  private case class PStarE(i: PathE) extends PathE
  private case class POptE(i: PathE) extends PathE
  /** Negated property set `!(p|…|^q|…)` — §9.1: a mixed set is the
    * ALTERNATIVE of the forward NPS (triples whose predicate is not in
    * fwd) and the inverted NPS (reversed triples whose predicate is
    * not in inv); a side with no members contributes nothing.
    */
  private case class PNegE(fwd: Seq[Term], inv: Seq[Term]) extends PathE

  /** A path pattern slot: endpoints + path. */
  private case class PathTP(s: Node, path: PathE, o: Node)

  /** A UNION branch as a full group: BGP, optional inner OPTIONAL,
    * optional BRANCH-SCOPED filter (sees only the branch's bindings —
    * the group-scope rule nested groups are most often wrong about).
    */
  private case class Branch(tps: Seq[TP], opt: Option[Seq[TP]],
      filt: Option[Filt])

  /** BIND expression kinds: arithmetic with numeric promotion,
    * CONCAT(STR(?x), "sfx") (STR of a blank node would error — the
    * generated data has none; unbound stays an error → ?as unbound),
    * COALESCE over two vars + constant fallback, IF(BOUND(?c), ?t, k).
    */
  private sealed trait BindE
  private case class BArith(src: String, op: String, k: Term) extends BindE
  private case class BConcatStr(src: String, suffix: String) extends BindE
  private case class BCoalesce(x: String, y: String, k: Term) extends BindE
  private case class BIf(cond: String, thenV: String, k: Term) extends BindE

  private case class GBlock(gn: Node, tps: Seq[TP],
      union: Option[(Seq[TP], Seq[TP])], opt: Option[Seq[TP]],
      bind: Option[(String, BindE)], minus: Option[Seq[TP]],
      filt: Option[Filt],
      // { SELECT ?k (COUNT(*) AS ?u) WHERE { tps } GROUP BY ?k }
      // inside the block: under GRAPH ?var the engine rewrites it to
      // group on the graph variable too (per-graph aggregation)
      sub: Option[(String, Seq[TP])] = None)

  private sealed trait Filt
  private case class Cmp(l: Node, op: String, r: Node) extends Filt
  private case class Bound(v: String, positive: Boolean) extends Filt
  private case class AndF(l: Filt, r: Filt) extends Filt
  private case class OrF(l: Filt, r: Filt) extends Filt

  /** An aggregate query head: GROUP BY keys (empty = whole-pattern
    * group), the function, and its argument variable (None =
    * COUNT(*)). func "COUNT_DISTINCT" renders COUNT(DISTINCT ?v).
    */
  private case class AggQ(group: Seq[String], func: String, arg: Option[String])

  /** One generated query: BGP, then optional UNION-of-two-BGPs joined
    * in, then OPTIONALs, then MINUS / NOT EXISTS, then FILTERs; with
    * projection, DISTINCT, and an optional aggregate head
    * (COUNT/SUM/AVG/MIN/MAX, grouped or whole-pattern).
    */
  private case class GenQuery(
      bgp: Seq[TP],
      paths: Seq[PathTP],
      union: Option[(Branch, Branch)],
      // each OPTIONAL may carry an inner FILTER — §18.2.2.2 LeftJoin
      // condition semantics (the filter sees the JOINED solution, and
      // a row keeps its bare left part only when no compatible right
      // row passes) — and/or a NESTED OPTIONAL: the group evaluates
      // bottom-up as LeftJoin(BGP, BGP) BEFORE the outer left join,
      // with the outer condition seeing the nested bindings too
      optionals: Seq[(Seq[TP], Option[Filt], Option[Seq[TP]])],
      minus: Option[Seq[TP]],
      notExists: Option[Seq[TP]],
      // positive FILTER EXISTS { tps } — §8.1.1 substitution semantics
      exists: Option[Seq[TP]] = None,
      binds: Seq[(String, BindE)], // ?as := expression
      filters: Seq[Filt],
      project: Seq[String],
      distinct: Boolean,
      aggQ: Option[AggQ],
      // HAVING(<agg-call> op k): only generated with aggQ
      having: Option[(String, Int)],
      // trailing query-level VALUES ?v { ... } (None entry = UNDEF);
      // §18.2.4.3: joins AFTER aggregation + HAVING, before projection
      values: Option[(String, Seq[Option[Term]])],
      // GRAPH <g>/?g { tps [{A} UNION {B}] [OPTIONAL{...}] [BIND]
      // [MINUS{...}] [FILTER f] } joined into the group — evaluated
      // over the NAMED graphs only (never the default graph), the
      // variable form iterating dataset graphs and binding the name
      // BEFORE the block's own elements run (so any of them can
      // reference ?g); the filter scopes to the block (§17.2 — an
      // outer variable it names is unbound → error), and the MINUS
      // subtracts within the row's own graph with the graph binding
      // excluded from the §18.5 domain-overlap test
      graph: Option[GBlock] = None,
      // { SELECT ?g (COUNT(*) AS ?m) WHERE { tps } GROUP BY ?g }
      // joined into the outer group: §18.2 subquery scoping — only
      // the projected pair joins out; inner uses of outer variable
      // NAMES are fresh variables, not correlations
      sub: Option[(String, Seq[TP])] = None)

  // --- rendering to SPARQL text --------------------------------------------

  private def nodeText(n: Node): String = n match {
    case V(v) => s"?$v"
    case C(t) => t.toNT
  }

  private def tpText(tp: TP): String =
    s"${nodeText(tp.s)} ${nodeText(tp.p)} ${nodeText(tp.o)} ."

  private def pathText(p: PathE): String = p match {
    case PLinkE(t) => t.toNT
    case PInvE(i) => s"^(${pathText(i)})"
    case PSeqE(l, r) => s"(${pathText(l)}/${pathText(r)})"
    case PAltE(l, r) => s"(${pathText(l)}|${pathText(r)})"
    case PPlusE(i) => s"(${pathText(i)})+"
    case PStarE(i) => s"(${pathText(i)})*"
    case POptE(i) => s"(${pathText(i)})?"
    case PNegE(fwd, inv) =>
      "!(" + (fwd.map(_.toNT) ++ inv.map("^" + _.toNT)).mkString("|") + ")"
  }

  private def filtText(f: Filt): String = f match {
    case Cmp(l, op, r) => s"(${nodeText(l)} $op ${nodeText(r)})"
    case Bound(v, true) => s"BOUND(?$v)"
    case Bound(v, false) => s"(!BOUND(?$v))"
    case AndF(l, r) => s"(${filtText(l)} && ${filtText(r)})"
    case OrF(l, r) => s"(${filtText(l)} || ${filtText(r)})"
  }

  private def bindText(be: BindE): String = be match {
    case BArith(src, op, k) => s"(?$src $op ${k.toNT})"
    case BConcatStr(src, sfx) => s"""CONCAT(STR(?$src), "$sfx")"""
    case BCoalesce(x, y, k) => s"COALESCE(?$x, ?$y, ${k.toNT})"
    case BIf(c, t, k) => s"IF(BOUND(?$c), ?$t, ${k.toNT})"
  }

  private def aggCall(a: AggQ): String =
    if (a.func == "COUNT_DISTINCT") s"COUNT(DISTINCT ?${a.arg.get})"
    else s"${a.func}(${a.arg.fold("*")("?" + _)})"

  private def queryText(q: GenQuery): String = {
    val sb = new StringBuilder
    sb.append(q.aggQ match {
      case Some(a @ AggQ(group, _, _)) =>
        val call = aggCall(a)
        if (group.isEmpty) s"SELECT ($call AS ?n)"
        else s"SELECT ${group.map("?" + _).mkString(" ")} ($call AS ?n)"
      case None =>
        (if (q.distinct) "SELECT DISTINCT " else "SELECT ") +
          q.project.map("?" + _).mkString(" ")
    })
    sb.append(" {\n")
    q.bgp.foreach(tp => sb.append("  " + tpText(tp) + "\n"))
    q.paths.foreach(pt => sb.append(
      s"  ${nodeText(pt.s)} ${pathText(pt.path)} ${nodeText(pt.o)} .\n"))
    q.graph.foreach { case GBlock(gn, tps, gunion, opt, gbind, gminus, filt, gsub) =>
      sb.append("  GRAPH " + nodeText(gn) + " { " +
        tps.map(tpText).mkString(" ") +
        gsub.fold("") { case (k, stps) => " { SELECT ?" + k +
          " (COUNT(*) AS ?u) WHERE { " + stps.map(tpText).mkString(" ") +
          " } GROUP BY ?" + k + " }" } +
        gunion.fold("")(u => " { " + u._1.map(tpText).mkString(" ") +
          " } UNION { " + u._2.map(tpText).mkString(" ") + " }") +
        opt.fold("")(o => " OPTIONAL { " + o.map(tpText).mkString(" ") + " }") +
        gbind.fold("") { case (as, be) => s" BIND(${bindText(be)} AS ?$as)" } +
        gminus.fold("")(m => " MINUS { " + m.map(tpText).mkString(" ") + " }") +
        filt.fold("")(f => " FILTER " + filtText(f)) + " }\n")
    }
    q.sub.foreach { case (g, tps) =>
      sb.append("  { SELECT ?" + g + " (COUNT(*) AS ?m) WHERE { " +
        tps.map(tpText).mkString(" ") + " } GROUP BY ?" + g + " }\n")
    }
    def branchText(br: Branch): String =
      br.tps.map(tpText).mkString(" ") +
        br.opt.fold("")(o => " OPTIONAL { " + o.map(tpText).mkString(" ") + " }") +
        br.filt.fold("")(f => " FILTER " + filtText(f))
    q.union.foreach { case (a, b) =>
      sb.append("  { " + branchText(a) + " } UNION { " + branchText(b) + " }\n")
    }
    q.optionals.foreach { case (o, f, nested) =>
      sb.append("  OPTIONAL { " + o.map(tpText).mkString(" ") +
        nested.fold("")(n => " OPTIONAL { " + n.map(tpText).mkString(" ") + " }") +
        f.fold("")(ff => " FILTER " + filtText(ff)) + " }\n")
    }
    q.binds.foreach { case (as, be) =>
      sb.append(s"  BIND(${bindText(be)} AS ?$as)\n")
    }
    q.minus.foreach(m =>
      sb.append("  MINUS { " + m.map(tpText).mkString(" ") + " }\n"))
    q.notExists.foreach(ne =>
      sb.append("  FILTER NOT EXISTS { " + ne.map(tpText).mkString(" ") + " }\n"))
    q.exists.foreach(ex =>
      sb.append("  FILTER EXISTS { " + ex.map(tpText).mkString(" ") + " }\n"))
    q.filters.foreach(f => sb.append("  FILTER " + filtText(f) + "\n"))
    sb.append("}")
    q.aggQ.foreach(a => if (a.group.nonEmpty)
      sb.append(" GROUP BY " + a.group.map("?" + _).mkString(" ")))
    for (a <- q.aggQ; (op, k) <- q.having)
      sb.append(s" HAVING(${aggCall(a)} $op $k)")
    q.values.foreach { case (v, rows) =>
      sb.append(s"\nVALUES ?$v { ${rows.map(_.fold("UNDEF")(_.toNT)).mkString(" ")} }")
    }
    sb.toString
  }

  // --- naive reference evaluator (spec algebra over Seq[Quad]) -------------

  private type Sol = Map[String, Term]

  private def termMatch(n: Node, t: Term, sol: Sol): Option[Sol] = n match {
    case C(c) => if (c == t) Some(sol) else None
    case V(v) => sol.get(v) match {
      case Some(b) => if (b == t) Some(sol) else None
      case None => Some(sol + (v -> t))
    }
  }

  private def evalTp(data: Seq[(Term, Term, Term)], tp: TP, sol: Sol): Seq[Sol] =
    data.flatMap { case (s, p, o) =>
      for {
        s1 <- termMatch(tp.s, s, sol)
        s2 <- termMatch(tp.p, p, s1)
        s3 <- termMatch(tp.o, o, s2)
      } yield s3
    }

  private def evalBgp(data: Seq[(Term, Term, Term)], tps: Seq[TP],
      init: Seq[Sol]): Seq[Sol] =
    tps.foldLeft(init)((sols, tp) => sols.flatMap(evalTp(data, tp, _)))

  /** Pair BAG of a path over the data, per §18.4 cardinality rules:
    * link/inverse/sequence/alternative are bag operators (a sequence
    * through k distinct routes yields k solutions), while the three
    * closure forms — ZeroOrMorePath, OneOrMorePath, ZeroOrOnePath —
    * produce every pair with cardinality EXACTLY 1. Zero-length pairs
    * cover every node in the graph (and, at evaluation, a constant
    * endpoint matches itself).
    */
  private def pathPairsN(data: Seq[(Term, Term, Term)], p: PathE): Seq[(Term, Term)] = p match {
    case PLinkE(t) => data.collect { case (s, pp, o) if pp == t => (s, o) }
    case PInvE(i) => pathPairsN(data, i).map(_.swap)
    case PSeqE(l, r) =>
      val a = pathPairsN(data, l); val b = pathPairsN(data, r)
      for { (x, m) <- a; (m2, y) <- b if m == m2 } yield (x, y)
    case PAltE(l, r) => pathPairsN(data, l) ++ pathPairsN(data, r)
    case PPlusE(i) =>
      var cur = pathPairsN(data, i).toSet
      var done = false
      while (!done) {
        val next = cur ++ (for { (x, m) <- cur; (m2, y) <- cur if m == m2 } yield (x, y))
        if (next == cur) done = true else cur = next
      }
      cur.toSeq
    case PStarE(i) =>
      (pathPairsN(data, PPlusE(i)).toSet ++ allNodes(data).map(n => (n, n))).toSeq
    case POptE(i) =>
      (pathPairsN(data, i).toSet ++ allNodes(data).map(n => (n, n))).toSeq
    case PNegE(fwd, inv) =>
      // bag union of the two sides: one pair per qualifying triple per
      // direction (a triple excluded by neither side yields TWO pairs)
      (if (fwd.nonEmpty)
        data.collect { case (s, p, o) if !fwd.contains(p) => (s, o) }
      else Seq.empty) ++
      (if (inv.nonEmpty)
        data.collect { case (s, p, o) if !inv.contains(p) => (o, s) }
      else Seq.empty)
  }

  private def allNodes(data: Seq[(Term, Term, Term)]): Set[Term] =
    data.flatMap { case (s, _, o) => Seq(s, o) }.toSet

  /** Whether a path admits the zero-length match (constant endpoints
    * then match themselves even off-graph).
    */
  private def zeroLen(p: PathE): Boolean = p match {
    case PStarE(_) | POptE(_) => true
    case PSeqE(l, r) => zeroLen(l) && zeroLen(r)
    case PAltE(l, r) => zeroLen(l) || zeroLen(r)
    case PInvE(i) => zeroLen(i)
    case _ => false // links and negated property sets are length-1
  }

  private def evalPathTp(data: Seq[(Term, Term, Term)], pt: PathTP,
      sols: Seq[Sol]): Seq[Sol] = {
    var pairs = pathPairsN(data, pt.path)
    if (zeroLen(pt.path)) {
      // the constant-self zero-length pair joins the DEDUPED closure
      // set, so add it only if not already present
      val consts = Seq(pt.s, pt.o).collect { case C(t) => t }.distinct
      consts.foreach(t => if (!pairs.contains((t, t))) pairs = pairs :+ ((t, t)))
    }
    sols.flatMap { sol =>
      pairs.flatMap { case (x, y) =>
        for {
          s1 <- termMatch(pt.s, x, sol)
          s2 <- termMatch(pt.o, y, s1)
        } yield s2
      }
    }
  }

  private def compatible(a: Sol, b: Sol): Boolean =
    (a.keySet intersect b.keySet).forall(k => a(k) == b(k))

  private def join(l: Seq[Sol], r: Seq[Sol]): Seq[Sol] =
    for { a <- l; b <- r if compatible(a, b) } yield a ++ b

  private def leftJoin(l: Seq[Sol], r: Seq[Sol]): Seq[Sol] =
    l.flatMap { a =>
      val ext = r.filter(compatible(a, _)).map(a ++ _)
      if (ext.nonEmpty) ext else Seq(a)
    }

  /** §8.3.3 Minus: drop μ1 when some μ2 is compatible AND shares a
    * variable (disjoint domains never subtract).
    */
  private def minusOp(l: Seq[Sol], r: Seq[Sol]): Seq[Sol] =
    l.filterNot(a => r.exists(b =>
      compatible(a, b) && (a.keySet intersect b.keySet).nonEmpty))

  /** Three-valued filter evaluation: Some(bool) or None (= error). */
  private def evalFilt(f: Filt, sol: Sol): Option[Boolean] = f match {
    case Bound(v, pos) => Some(sol.contains(v) == pos)
    case Cmp(l, op, r) =>
      def termOf(n: Node): Option[Term] = n match {
        case C(t) => Some(t)
        case V(v) => sol.get(v)
      }
      (termOf(l), termOf(r)) match {
        case (Some(a), Some(b)) => cmpTerms(a, op, b)
        case _ => None // unbound operand → expression error
      }
    case AndF(l, r) => (evalFilt(l, sol), evalFilt(r, sol)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case OrF(l, r) => (evalFilt(l, sol), evalFilt(r, sol)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
  }

  private val XSD_DOUBLE = Term.XSD + "double"

  /** Numeric promotion class per §17.3: integer 0, decimal 1, double 3
    * (floats are not generated); None = not a numeric literal.
    */
  private def numClass(t: Term): Option[Int] =
    if (!t.isLit || t.datatype == null) None
    else if (t.datatype == Term.XSD_INTEGER) Some(0)
    else if (t.datatype == Term.XSD_DECIMAL) Some(1)
    else if (t.datatype == XSD_DOUBLE) Some(3)
    else None

  private def numOf(t: Term): Option[BigDecimal] =
    if (numClass(t).isDefined)
      try Some(BigDecimal(t.lex)) catch { case _: NumberFormatException => None }
    else None

  /** Canonical numeric lexical form mirroring the engine's contract:
    * strip trailing zeros; a whole value renders without a point.
    */
  private def decCanon(v: java.math.BigDecimal): String = {
    val s = v.stripTrailingZeros
    if (s.scale <= 0) s.toBigInteger.toString else s.toPlainString
  }

  /** Spec arithmetic with XPath promotion: the wider operand class
    * decides the result datatype; double math is IEEE.
    */
  private def naiveArith(a: Term, op: String, b: Term): Option[Term] =
    for { ca <- numClass(a); cb <- numClass(b) } yield {
      val c = math.max(ca, cb)
      if (c >= 2) {
        val x = a.lex.toDouble; val y = b.lex.toDouble
        val v = op match { case "+" => x + y; case "-" => x - y; case "*" => x * y }
        Term.typed(java.lang.Double.toString(v), XSD_DOUBLE)
      } else {
        val x = new java.math.BigDecimal(a.lex)
        val y = new java.math.BigDecimal(b.lex)
        val v = op match {
          case "+" => x.add(y); case "-" => x.subtract(y); case "*" => x.multiply(y)
        }
        Term.typed(decCanon(v),
          if (c == 0) Term.XSD_INTEGER else Term.XSD_DECIMAL)
      }
    }

  /** Value-space comparison per §17.3: numerics by value; simple
    * strings by codepoint; `=`/`!=` extend to term (in)equality for
    * IRIs; everything else is a type error.
    */
  private def cmpTerms(a: Term, op: String, b: Term): Option[Boolean] =
    (numOf(a), numOf(b)) match {
      case (Some(x), Some(y)) => Some(op match {
        case "=" => x == y
        case "!=" => x != y
        case "<" => x < y
        case "<=" => x <= y
        case ">" => x > y
        case ">=" => x >= y
      })
      case _ =>
        val bothPlainStr = a.isLit && b.isLit &&
          a.datatype == null && b.datatype == null &&
          a.lang == null && b.lang == null
        if (bothPlainStr) Some(op match {
          case "=" => a.lex == b.lex
          case "!=" => a.lex != b.lex
          case "<" => a.lex < b.lex
          case "<=" => a.lex <= b.lex
          case ">" => a.lex > b.lex
          case ">=" => a.lex >= b.lex
        })
        else if (op == "=" || op == "!=") {
          // RDFterm-equal (§17.4.1.1): same term → equal; a type
          // error needs BOTH sides literal (they might be value-equal
          // under a datatype we don't evaluate); any mix of kinds, or
          // two distinct non-literals, is definitively not equal
          if (a == b) Some(op == "=")
          else if (a.isLit && b.isLit) None
          else Some(op == "!=")
        } else None
    }

  private def project(sols: Seq[Sol], vars: Seq[String]): Seq[Sol] =
    sols.map(s => s.filter { case (k, _) => vars.contains(k) })

  private def evalNaive(data: Seq[(Term, Term, Term)], q: GenQuery,
      named: Seq[(Term, Term, Term, Term)] = Nil): Seq[Sol] = {
    var sols = evalBgp(data, q.bgp, Seq(Map.empty))
    q.paths.foreach { pt => sols = evalPathTp(data, pt, sols) }
    // GRAPH block: per named graph, evaluate the inner BGP over that
    // graph's triples; the variable form binds the graph name (or
    // checks an existing binding at the join)
    q.graph.foreach { case GBlock(gn, tps, gunion, opt, gbind, gminus, filt, gsub) =>
      val gsols = named.groupBy(_._1).toSeq.flatMap { case (g, quads) =>
        val trip = quads.map(q4 => (q4._2, q4._3, q4._4))
        var inner = evalBgp(trip, tps, Seq(Map.empty))
        // the variable form binds the graph name FIRST (the engine
        // seeds the block with the names relation), so the block's own
        // elements see ?g; a constant form never binds it
        gn match {
          case C(t) => if (t != g) inner = Seq.empty
          case V(v) => inner = inner.flatMap(sol => sol.get(v) match {
            case Some(b) => if (b == g) Some(sol) else None
            case None => Some(sol + (v -> g))
          })
        }
        gsub.foreach { case (k, stps) =>
          // §18.2 subquery scoping per active graph: evaluate from
          // scratch over THIS graph's triples, project only (k, u)
          val srows = evalBgp(trip, stps, Seq(Map.empty))
            .groupBy(_.get(k)).toSeq.map { case (kv, rs) =>
              val base = kv.fold(Map.empty: Sol)(t => Map(k -> t))
              base + ("u" -> Term.typed(rs.size.toString, Term.XSD_INTEGER))
            }
          inner = join(inner, srows)
        }
        gunion.foreach { case (a, b) =>
          inner = join(inner,
            evalBgp(trip, a, Seq(Map.empty)) ++ evalBgp(trip, b, Seq(Map.empty)))
        }
        opt.foreach(o => inner = leftJoin(inner, evalBgp(trip, o, Seq(Map.empty))))
        gbind.foreach { case (as, be) =>
          inner = inner.map(sol => evalBind(be, sol).fold(sol)(t => sol + (as -> t)))
        }
        // the MINUS right side evaluates under the same active graph
        // and never binds the graph variable (§18.5 overlap uses only
        // the patterns' own variables)
        gminus.foreach(m => inner = minusOp(inner, evalBgp(trip, m, Seq(Map.empty))))
        filt.foreach(f => inner = inner.filter(evalFilt(f, _).contains(true)))
        inner
      }
      sols = join(sols, gsols)
    }
    // subquery: evaluate the inner pattern from scratch (no outer
    // correlation — §18.2 scoping), group on the key, project only
    // (key, count); a never-bound key forms ONE unbound-key group
    q.sub.foreach { case (g, tps) =>
      val inner = evalBgp(data, tps, Seq(Map.empty))
      val rows: Seq[Sol] = inner.groupBy(_.get(g)).toSeq.map { case (k, rs) =>
        val base = k.fold(Map.empty: Sol)(t => Map(g -> t))
        base + ("m" -> Term.typed(rs.size.toString, Term.XSD_INTEGER))
      }
      sols = join(sols, rows)
    }
    q.union.foreach { case (a, b) =>
      def evalBranch(br: Branch): Seq[Sol] = {
        var bs = evalBgp(data, br.tps, Seq(Map.empty))
        br.opt.foreach(o => bs = leftJoin(bs, evalBgp(data, o, Seq(Map.empty))))
        br.filt.foreach(f => bs = bs.filter(evalFilt(f, _).contains(true)))
        bs
      }
      sols = join(sols, evalBranch(a) ++ evalBranch(b))
    }
    q.optionals.foreach { case (o, f, nested) =>
      // the optional group evaluates bottom-up: its own BGP, left-
      // joined with any nested OPTIONAL, all from the empty solution
      var inner = evalBgp(data, o, Seq(Map.empty))
      nested.foreach(n => inner = leftJoin(inner, evalBgp(data, n, Seq(Map.empty))))
      sols = f match {
        case None => leftJoin(sols, inner)
        case Some(ff) =>
          // LeftJoin(Ω1, Ω2, F) = Filter(F, Join) ∪ Diff(Ω1, Ω2, F):
          // keep the bare left row iff no compatible right row makes
          // F true (false AND error both fail the condition)
          sols.flatMap { a =>
            val ext = inner.filter(b => compatible(a, b) &&
              evalFilt(ff, a ++ b).contains(true)).map(a ++ _)
            if (ext.nonEmpty) ext else Seq(a)
          }
      }
    }
    q.binds.foreach { case (as, be) =>
      // a BIND evaluation error leaves ?as unbound, the row survives
      sols = sols.map(sol => evalBind(be, sol).fold(sol)(t => sol + (as -> t)))
    }
    q.minus.foreach { m => sols = minusOp(sols, evalBgp(data, m, Seq(Map.empty))) }
    q.notExists.foreach { ne =>
      // §8.1.1: substitute the outer bindings into the inner pattern
      sols = sols.filter(sol => evalBgp(data,
        ne.map(tp => TP(subst(tp.s, sol), subst(tp.p, sol), subst(tp.o, sol))),
        Seq(Map.empty)).isEmpty)
    }
    q.exists.foreach { ex =>
      sols = sols.filter(sol => evalBgp(data,
        ex.map(tp => TP(subst(tp.s, sol), subst(tp.p, sol), subst(tp.o, sol))),
        Seq(Map.empty)).nonEmpty)
    }
    q.filters.foreach { f =>
      sols = sols.filter(sol => evalFilt(f, sol).contains(true))
    }
    // trailing VALUES joins after aggregation + HAVING (§18.2.4.3),
    // before projection/DISTINCT
    def joinValues(rows: Seq[Sol]): Seq[Sol] = q.values match {
      case None => rows
      case Some((v, vrows)) => rows.flatMap { sol =>
        vrows.flatMap {
          case None => Seq(sol) // UNDEF row binds nothing
          case Some(t) => sol.get(v) match {
            case Some(b) => if (b == t) Seq(sol) else Seq.empty
            case None => Seq(sol + (v -> t))
          }
        }
      }
    }
    q.aggQ match {
      case Some(AggQ(group, func, arg)) =>
        // GROUP BY over no solutions yields no groups; the ungrouped
        // head always aggregates exactly one (possibly empty) group.
        // Multi-key groups key on the TUPLE of (possibly unbound)
        // values; unbound components stay unbound in the output row
        val groups: Seq[(Seq[Option[Term]], Seq[Sol])] =
          if (group.isEmpty) Seq((Seq.empty, sols))
          else sols.groupBy(s => group.map(s.get)).toSeq
        val headRows = groups.map { case (k, rows) =>
          val base: Sol = group.zip(k).collect {
            case (g, Some(t)) => g -> t
          }.toMap
          naiveAgg(func, arg, rows).fold(base)(t => base + ("n" -> t))
        }
        // HAVING recomputes the aggregate: an errored group (no ?n)
        // or a type-error comparison drops the group
        val kept = q.having match {
          case None => headRows
          case Some((op, k)) =>
            val kt = Term.typed(k.toString, Term.XSD_INTEGER)
            headRows.filter(row => row.get("n")
              .flatMap(n => cmpTerms(n, op, kt)).contains(true))
        }
        joinValues(kept)
      case None =>
        val projected = project(joinValues(sols), q.project)
        if (q.distinct) projected.distinct else projected
    }
  }

  /** §18.5.1 aggregate over one group's solutions; None = error →
    * unbound. SUM/AVG/MIN/MAX error if ANY argument evaluation errors
    * (unbound or non-numeric for SUM/AVG); Sum({})=0, Avg({})=0,
    * Min/Max({}) error; COUNT(?v) counts bound evaluations.
    */
  private def naiveAgg(func: String, arg: Option[String],
      rows: Seq[Sol]): Option[Term] = {
    def int(n: Long) = Term.typed(n.toString, Term.XSD_INTEGER)
    func match {
      case "COUNT" => arg match {
        case None => Some(int(rows.size))
        case Some(v) => Some(int(rows.count(_.contains(v))))
      }
      case "COUNT_DISTINCT" =>
        Some(int(rows.flatMap(_.get(arg.get)).distinct.size))
      case "SUM" | "AVG" =>
        val vals = rows.map(_.get(arg.get).flatMap(numOf))
        if (vals.exists(_.isEmpty)) None // an error poisons the group
        else if (vals.isEmpty) Some(Term.typed("0", Term.XSD_INTEGER))
        else {
          val sum = vals.flatten.map(_.underlying)
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          val v =
            if (func == "SUM") sum
            else sum.divide(new java.math.BigDecimal(vals.size), 14,
              java.math.RoundingMode.HALF_UP)
          // the engine renders whole aggregate values as xsd:integer
          val canon = decCanon(v)
          Some(Term.typed(canon,
            if (canon.contains('.')) Term.XSD_DECIMAL else Term.XSD_INTEGER))
        }
      case "MIN" | "MAX" =>
        val terms = rows.map(_.get(arg.get))
        if (terms.isEmpty || terms.exists(_.isEmpty)) None
        else {
          // the engine's deterministic order key: numerics first by
          // value, then lexical form, then datatype, then lang
          implicit val ord: Ordering[Term] = Ordering.by { t: Term =>
            val n = numOf(t)
            (if (n.isDefined) 0 else 1, n.getOrElse(BigDecimal(0)),
              Option(t.lex).getOrElse(""), Option(t.datatype).getOrElse(""),
              Option(t.lang).getOrElse(""))
          }
          Some(if (func == "MIN") terms.flatten.min else terms.flatten.max)
        }
      case other => sys.error(s"unfuzzed aggregate $other")
    }
  }

  private def subst(n: Node, sol: Sol): Node = n match {
    case V(v) if sol.contains(v) => C(sol(v))
    case other => other
  }

  /** One BIND expression over a solution; None = evaluation error →
    * the alias stays unbound and the row survives.
    */
  private def evalBind(be: BindE, sol: Sol): Option[Term] = be match {
    case BArith(src, op, k) => sol.get(src).flatMap(naiveArith(_, op, k))
    case BConcatStr(src, sfx) => sol.get(src).map(t => Term.lit(t.lex + sfx))
    case BCoalesce(x, y, k) => sol.get(x).orElse(sol.get(y)).orElse(Some(k))
    case BIf(c, t, k) => if (sol.contains(c)) sol.get(t) else Some(k)
  }

  // --- generation -----------------------------------------------------------

  private def genData(rnd: scala.util.Random): Seq[(Term, Term, Term)] = {
    val subs = (0 until 4).map(i => Term.iri(s"http://f/s$i"))
    val preds = (0 until 3).map(i => Term.iri(s"http://f/p$i"))
    val objs: Seq[Term] =
      subs ++
      (0 until 4).map(i => Term.typed(i.toString, Term.XSD_INTEGER)) ++
      Seq(Term.lit("a"), Term.lit("b"),
        // numeric datatype diversity: cross-datatype value comparisons
        // and promotion through BIND/aggregates (values chosen exact
        // in binary so double math renders canonically)
        Term.typed("0.5", Term.XSD_DECIMAL), Term.typed("7", Term.XSD_DECIMAL),
        Term.typed("2.5", XSD_DOUBLE))
    val n = 12 + rnd.nextInt(18)
    (0 until n).map { _ =>
      (subs(rnd.nextInt(subs.size)), preds(rnd.nextInt(preds.size)),
        objs(rnd.nextInt(objs.size)))
    }.distinct // an RDF graph is a SET of triples
  }

  /** Named-graph quads over the same term pools, in two graphs. */
  private def genNamedData(rnd: scala.util.Random): Seq[(Term, Term, Term, Term)] = {
    val graphs = Seq(Term.iri("http://f/g1"), Term.iri("http://f/g2"))
    val subs = (0 until 4).map(i => Term.iri(s"http://f/s$i"))
    val preds = (0 until 3).map(i => Term.iri(s"http://f/p$i"))
    val objs: Seq[Term] = subs ++
      (0 until 4).map(i => Term.typed(i.toString, Term.XSD_INTEGER)) ++
      Seq(Term.lit("a"), Term.lit("b"))
    val n = 8 + rnd.nextInt(10)
    (0 until n).map { _ =>
      (graphs(rnd.nextInt(graphs.size)), subs(rnd.nextInt(subs.size)),
        preds(rnd.nextInt(preds.size)), objs(rnd.nextInt(objs.size)))
    }.distinct
  }

  private def genQuery(rnd: scala.util.Random): GenQuery = {
    val varPool = Seq("a", "b", "c", "d")
    var used = scala.collection.mutable.LinkedHashSet[String]()
    def newVar(): String = {
      val v = varPool(rnd.nextInt(varPool.size)); used += v; v
    }
    def sharedVar(): String =
      if (used.nonEmpty && rnd.nextDouble() < 0.7)
        used.toSeq(rnd.nextInt(used.size))
      else newVar()
    def someSub() = Term.iri(s"http://f/s${rnd.nextInt(4)}")
    def somePred() = Term.iri(s"http://f/p${rnd.nextInt(3)}")
    def someObj(): Term = rnd.nextInt(5) match {
      case 0 => someSub()
      case 1 => Term.typed(rnd.nextInt(4).toString, Term.XSD_INTEGER)
      case 2 => Seq(Term.typed("0.5", Term.XSD_DECIMAL),
        Term.typed("7", Term.XSD_DECIMAL),
        Term.typed("2.5", XSD_DOUBLE))(rnd.nextInt(3))
      case _ => Term.lit(if (rnd.nextBoolean()) "a" else "b")
    }
    def genTp(): TP = {
      val s = if (rnd.nextDouble() < 0.7) V(sharedVar()) else C(someSub())
      val p = if (rnd.nextDouble() < 0.8) C(somePred()) else V(sharedVar())
      val o = if (rnd.nextDouble() < 0.6) V(sharedVar()) else C(someObj())
      TP(s, p, o)
    }
    def genTps(max: Int): Seq[TP] = (0 to rnd.nextInt(max)).map(_ => genTp())

    def genFilt(depth: Int): Filt = {
      val roll = rnd.nextDouble()
      if (depth > 0 && roll < 0.2)
        AndF(genFilt(depth - 1), genFilt(depth - 1))
      else if (depth > 0 && roll < 0.4)
        OrF(genFilt(depth - 1), genFilt(depth - 1))
      else if (roll < 0.55 && used.nonEmpty)
        Bound(used.toSeq(rnd.nextInt(used.size)), rnd.nextBoolean())
      else {
        val l = V(sharedVar())
        val r = rnd.nextInt(3) match {
          case 0 => C(Term.typed(rnd.nextInt(4).toString, Term.XSD_INTEGER))
          case 1 => V(sharedVar())
          case _ => C(someObj())
        }
        val ops = Seq("=", "!=", "<", "<=", ">", ">=")
        Cmp(l, ops(rnd.nextInt(ops.size)), r)
      }
    }

    val bgp = genTps(2)
    def genNps(): PNegE = {
      // exclude 1-2 of the three predicates per side; at least one side
      // non-empty (an all-empty set is not grammatical)
      def side(p: Double) = if (rnd.nextDouble() < p)
        rnd.shuffle(Seq(0, 1, 2)).take(1 + rnd.nextInt(2))
          .map(i => Term.iri(s"http://f/p$i"))
        else Seq.empty
      val fwd = side(0.75)
      val inv = side(if (fwd.isEmpty) 1.0 else 0.4)
      PNegE(fwd, inv)
    }
    def genPath(depth: Int): PathE = {
      val roll = rnd.nextDouble()
      if (depth <= 0 || roll < 0.35) PLinkE(somePred())
      else if (roll < 0.45) genNps()
      else if (roll < 0.55) PInvE(genPath(depth - 1))
      else if (roll < 0.7) PSeqE(genPath(depth - 1), genPath(depth - 1))
      else if (roll < 0.8) PAltE(genPath(depth - 1), genPath(depth - 1))
      else if (roll < 0.88) PPlusE(genPath(depth - 1))
      else if (roll < 0.95) PStarE(genPath(depth - 1))
      else POptE(genPath(depth - 1))
    }
    val paths = (0 until (if (rnd.nextDouble() < 0.4) 1 else 0)).map { _ =>
      val s = if (rnd.nextDouble() < 0.6) V(sharedVar()) else C(someSub())
      val o = if (rnd.nextDouble() < 0.6) V(sharedVar()) else C(someObj())
      PathTP(s, genPath(2), o)
    }
    def genBindE(): BindE = {
      def pick() = used.toSeq(rnd.nextInt(used.size))
      val src = pick()
      val numConst = rnd.nextInt(4) match {
        case 0 => Term.typed("0.5", Term.XSD_DECIMAL)
        case 1 => Term.typed("2.5", XSD_DOUBLE)
        case _ => Term.typed(rnd.nextInt(3).toString, Term.XSD_INTEGER)
      }
      rnd.nextInt(4) match {
        case 0 => BArith(src, Seq("+", "-", "*")(rnd.nextInt(3)), numConst)
        case 1 => BConcatStr(src, if (rnd.nextBoolean()) "s" else "")
        case 2 => BCoalesce(src, pick(),
          if (rnd.nextBoolean()) numConst else Term.lit("dflt"))
        case _ => BIf(src, pick(),
          if (rnd.nextBoolean()) numConst else Term.lit("dflt"))
      }
    }
    // GRAPH block: variable form binds ?g (registered in the pool so
    // later OPTIONAL/FILTER/BIND/VALUES and projection can reference
    // it); constant form names g1/g2 — or a graph with no quads, the
    // empty-scope edge
    val graphBlock =
      if (rnd.nextDouble() >= 0.3) None
      else {
        val tps = genTps(1)
        val gn =
          if (rnd.nextDouble() < 0.5) { used += "g"; V("g") }
          else C(Term.iri(s"http://f/g${1 + rnd.nextInt(3)}")) // g3 = empty
        // a full group inside GRAPH: OPTIONAL and/or a block-scoped
        // FILTER (which may name outer variables — unbound here, per
        // §17.2 an error that drops the row)
        val gunion =
          if (rnd.nextDouble() < 0.25) Some((genTps(1), genTps(1))) else None
        val gopt = if (rnd.nextDouble() < 0.4) Some(genTps(1)) else None
        val gbind =
          if (used.nonEmpty && rnd.nextDouble() < 0.25) {
            val as = "y" + rnd.nextInt(2)
            if (used.contains(as)) None
            else {
              val be = genBindE()
              used += as
              Some((as, be))
            }
          } else None
        val gminus = if (rnd.nextDouble() < 0.3) Some(genTps(1)) else None
        val gfilt = if (rnd.nextDouble() < 0.35) Some(genFilt(1)) else None
        // subquery key: any pattern var except the graph variable
        // (the engine's per-graph rewrite would reject the capture)
        val gsub =
          if (rnd.nextDouble() >= 0.25) None
          else {
            // the key must not be the graph variable (engine rejects
            // the capture) nor the block BIND's alias (the projected
            // key would make that a rebind)
            val bindAliases = gbind.map(_._1).toSet
            val cands = used.toSeq.filterNot(v => v == "g" || bindAliases(v))
            if (cands.isEmpty) None
            else {
              val k = cands(rnd.nextInt(cands.size))
              // no variable named ?g anywhere in the subquery — the
              // engine's per-graph rewrite rejects that capture
              def subVar(): String = {
                val c2 = used.toSeq.filterNot(_ == "g")
                if (c2.nonEmpty && rnd.nextDouble() < 0.7)
                  c2(rnd.nextInt(c2.size))
                else { val v = Seq("a", "b", "c", "d")(rnd.nextInt(4)); used += v; v }
              }
              val stps = TP(V(k), C(somePred()),
                if (rnd.nextDouble() < 0.5) V(subVar()) else C(someObj())) +:
                (0 until rnd.nextInt(2)).map { _ =>
                  TP(V(subVar()), C(somePred()),
                    if (rnd.nextDouble() < 0.5) V(subVar()) else C(someObj()))
                }
              used += "u"
              Some((k, stps))
            }
          }
        Some(GBlock(gn, tps, gunion, gopt, gbind, gminus, gfilt, gsub))
      }
    def genBranch(): Branch = Branch(genTps(1),
      if (rnd.nextDouble() < 0.3) Some(genTps(1)) else None,
      if (rnd.nextDouble() < 0.3) Some(genFilt(1)) else None)
    val union =
      if (rnd.nextDouble() < 0.3) Some((genBranch(), genBranch())) else None
    // subquery: the group key is usually an outer-shared variable so
    // the projected (key, count) pair genuinely joins back; ?m then
    // enters the pool for later FILTER/BIND/MINUS/projection
    val sub =
      if (rnd.nextDouble() >= 0.25) None
      else {
        val g = sharedVar()
        val tps = TP(V(g), C(somePred()),
          if (rnd.nextDouble() < 0.5) V(sharedVar()) else C(someObj())) +:
          genTps(1).take(rnd.nextInt(2))
        used += "m"
        Some((g, tps))
      }
    val optionals = (0 until rnd.nextInt(2)).map { _ =>
      val tps = genTps(1)
      val nested = if (rnd.nextDouble() < 0.35) Some(genTps(1)) else None
      val f = if (rnd.nextDouble() < 0.4) Some(genFilt(1)) else None
      (tps, f, nested)
    }
    val minus = if (rnd.nextDouble() < 0.25) Some(genTps(1)) else None
    val notExists =
      if (minus.isEmpty && rnd.nextDouble() < 0.25) Some(genTps(1)) else None
    val existsPos =
      if (minus.isEmpty && notExists.isEmpty && rnd.nextDouble() < 0.2)
        Some(genTps(1)) else None
    val binds = (0 until (if (used.nonEmpty && rnd.nextDouble() < 0.3) 1 else 0)).map { _ =>
      // a fresh alias never colliding with pattern vars
      val as = "w" + rnd.nextInt(2)
      val be = genBindE()
      used += as
      (as, be)
    }
    val filters = (0 until rnd.nextInt(2)).map(_ => genFilt(1))
    val allVars = used.toSeq
    val project =
      if (allVars.isEmpty) Seq.empty
      else if (rnd.nextDouble() < 0.5) allVars
      else allVars.take(1 + rnd.nextInt(allVars.size))
    val aggQ =
      if (allVars.isEmpty || rnd.nextDouble() >= 0.3) None
      else {
        val func = Seq("COUNT", "SUM", "AVG", "MIN", "MAX",
          "COUNT_DISTINCT")(rnd.nextInt(6))
        val arg =
          if (func == "COUNT" && rnd.nextBoolean()) None // COUNT(*)
          else Some(allVars(rnd.nextInt(allVars.size)))
        val group =
          if (rnd.nextDouble() < 0.3) Seq.empty
          else rnd.shuffle(allVars).take(1 + rnd.nextInt(2)).sorted
        Some(AggQ(group, func, arg))
      }
    val having = aggQ.flatMap { _ =>
      if (rnd.nextDouble() < 0.5)
        Some((Seq(">", ">=", "=", "<")(rnd.nextInt(4)), rnd.nextInt(4)))
      else None
    }
    val values = {
      // agg queries: only the group var is in scope for the trailing
      // VALUES; non-agg: any pattern var
      val candidates = aggQ match {
        case Some(a) => a.group
        case None => allVars
      }
      if (candidates.isEmpty || rnd.nextDouble() >= 0.3) None
      else {
        val v = candidates(rnd.nextInt(candidates.size))
        val rows = (0 to rnd.nextInt(2)).map { _ =>
          if (rnd.nextDouble() < 0.2) None
          else Some(if (rnd.nextBoolean()) someSub() else someObj())
        }
        Some((v, rows))
      }
    }
    GenQuery(bgp, paths, union, optionals, minus, notExists, existsPos,
      binds.toSeq, filters, project, distinct = rnd.nextDouble() < 0.3,
      aggQ, having, values, graphBlock, sub)
  }

  // --- comparison harness ---------------------------------------------------

  private def renderNaive(sols: Seq[Sol]): Seq[String] =
    sols.map(_.toSeq.sortBy(_._1)
      .map { case (k, t) => s"$k=${t.toNT}" }.mkString(" ")).sorted

  private def renderEngine(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map { row =>
      cols.zipWithIndex.flatMap { case (c, i) =>
        row.get(i) match {
          case null => None
          case r: org.apache.spark.sql.Row =>
            Some(c -> Term(r.getString(0), r.getString(1), r.getString(2),
              r.getString(3)).toNT)
          case l: Long => // top-level COUNT returns a raw long
            Some(c -> Term.typed(l.toString, Term.XSD_INTEGER).toNT)
          case d: java.math.BigDecimal => // raw SUM/AVG: canonical value
            val canon = decCanon(d)
            Some(c -> Term.typed(canon,
              if (canon.contains('.')) Term.XSD_DECIMAL
              else Term.XSD_INTEGER).toNT)
          case other => Some(c -> other.toString)
        }
      }.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
    }.sorted
  }

  // --- CONSTRUCT differential ----------------------------------------------

  /** Template node: var / constant / the (single) template blank. */
  private sealed trait TNode
  private case class TV(v: String) extends TNode
  private case class TC(t: Term) extends TNode
  private case object TB extends TNode

  private def tnodeText(n: TNode): String = n match {
    case TV(v) => s"?$v"
    case TC(t) => t.toNT
    case TB => "_:nb"
  }

  /** 1–3 template triples over the query's vars, constants, and at
    * most one blank label (kept to one so the label-bijection compare
    * below stays decidable by sorted first-use renaming). A var in
    * predicate position deliberately allowed — a solution binding it
    * to a non-IRI must SKIP that instantiation (§16.2), which is
    * exactly the rule this fuzzer exists to drill.
    */
  private def genTemplate(rnd: scala.util.Random,
      vars: Seq[String]): Seq[(TNode, TNode, TNode)] =
    (0 to rnd.nextInt(2)).map { _ =>
      def slot(pos: Int): TNode = {
        val roll = rnd.nextDouble()
        if (vars.nonEmpty && roll < 0.55) TV(vars(rnd.nextInt(vars.size)))
        else if (pos != 1 && roll < 0.7) TB
        else if (pos == 2 && rnd.nextBoolean()) TC(Term.lit("k" + rnd.nextInt(3)))
        else TC(Term.iri("http://f/t" + rnd.nextInt(3)))
      }
      (slot(0), slot(1), slot(2))
    }

  /** All vars the query pattern can bind (for full projection). */
  private def queryVars(q: GenQuery): Seq[String] = {
    def nv(n: Node): Seq[String] = n match {
      case V(v) => Seq(v); case _ => Seq.empty
    }
    def tps(ts: Seq[TP]): Seq[String] =
      ts.flatMap(tp => nv(tp.s) ++ nv(tp.p) ++ nv(tp.o))
    (tps(q.bgp) ++ q.paths.flatMap(pt => nv(pt.s) ++ nv(pt.o)) ++
      q.union.toSeq.flatMap { case (a, b) =>
        tps(a.tps) ++ tps(a.opt.getOrElse(Nil)) ++
        tps(b.tps) ++ tps(b.opt.getOrElse(Nil)) } ++
      tps(q.optionals.flatMap(_._1)) ++
      tps(q.optionals.flatMap(_._3.getOrElse(Nil))) ++
      q.binds.map(_._1)).distinct
  }

  /** §16.2 instantiation over the naive solutions: unbound template
    * var → skip the triple; literal subject / non-IRI predicate →
    * skip; the blank mints fresh per solution; the result graph is a
    * SET.
    */
  private def naiveConstruct(sols: Seq[Sol],
      tpl: Seq[(TNode, TNode, TNode)]): Set[String] =
    sols.zipWithIndex.flatMap { case (sol, i) =>
      tpl.flatMap { case (s, p, o) =>
        def res(n: TNode): Option[Term] = n match {
          case TV(v) => sol.get(v)
          case TC(t) => Some(t)
          case TB => Some(Term(Term.BLANK, s"nb!$i", null, null))
        }
        for {
          st <- res(s) if st.isIri || st.isBlank ||
            st.termType == Term.TRIPLE
          pt <- res(p) if pt.isIri
          ot <- res(o)
        } yield s"${st.toNT} ${pt.toNT} ${ot.toNT}"
      }
    }.toSet

  /** Label-bijection-proof comparison form: TEMPLATE-minted blanks
    * (label `nb!<fresh>`; engine and naive mint different fresh parts)
    * are solution-scoped, so the graphs are isomorphic iff the
    * non-template-blank triples match exactly AND the multiset of
    * per-blank triple groups (each group = one minted blank's triples
    * with that label erased) matches. Data blank labels pass through
    * literally — both sides read the same data.
    */
  private def constructSignature(rows: Set[String]): (Seq[String], Seq[Seq[String]]) = {
    val T = "_:(nb![^\\s>]+)".r
    val (tblank, plain) = rows.toSeq.partition(r => T.findFirstIn(r).isDefined)
    val groups = tblank.groupBy(r => T.findFirstMatchIn(r).get.group(1))
      .values.map(rs => rs.map(r => T.replaceAllIn(r, "_:•")).sorted).toSeq
      .sortBy(_.mkString("|"))
    (plain.sorted, groups)
  }

  test(s"differential: CONSTRUCT matches naive §16.2 instantiation on ${N / 2} random queries") {
    import spark.implicits._
    var skipped = 0
    (0 until N / 2).foreach { i =>
      val rnd = new scala.util.Random(SEED * 7000003L + i)
      val data = genData(rnd)
      // strip the head forms CONSTRUCT has no counterpart for and
      // project everything so the naive solutions keep all bindings
      val q0 = genQuery(rnd)
      // graph also stripped: CONSTRUCT × GRAPH is pinned by the
      // conformance suite; here the focus is template instantiation
      val q = q0.copy(aggQ = None, having = None, values = None,
        distinct = false, graph = None, project = queryVars(q0.copy(graph = None)))
      val tpl = genTemplate(rnd, q.project)
      if (q.project.isEmpty) skipped += 1
      else {
        val naive = evalNaive(data, q)
        if (naive.size > 20000) { skipped += 1 }
        else {
          val text = "CONSTRUCT { " +
            tpl.map { case (s, p, o) =>
              s"${tnodeText(s)} ${tnodeText(p)} ${tnodeText(o)} ."
            }.mkString(" ") + " } WHERE " +
            queryText(q).dropWhile(_ != '{')
          val df = data.map { case (s, p, o) =>
            ConformanceQuad(null, s, p, o)
          }.toDF()
          val engine = Sparql.execute(df, text).collect().toSeq.map { row =>
            (1 to 3).map { j =>
              val r = row.getStruct(j)
              Term(r.getString(0), r.getString(1), r.getString(2),
                r.getString(3)).toNT
            }.mkString(" ")
          }.toSet
          val expected = naiveConstruct(naive, tpl)
          assert(constructSignature(engine) == constructSignature(expected),
            s"[$i] CONSTRUCT DIVERGENCE\n$text\ndata=${data.map {
              case (s, p, o) => s"${s.toNT} ${p.toNT} ${o.toNT}." }.mkString(" ")}\n" +
              s"naive=${expected.size} triples, engine=${engine.size}\n" +
              s"missing: ${expected.diff(engine).take(3)}\n" +
              s"extra: ${engine.diff(expected).take(3)}")
        }
      }
    }
    info(s"${N / 2} generated, $skipped skipped")
  }

  /** Generated case `i`: default-graph triples, named-graph quads and
    * the query, all drawn from one seeded stream.
    */
  private def generated(i: Int) = {
    val rnd = new scala.util.Random(SEED * 1000003L + i)
    val data = genData(rnd)
    val named = genNamedData(rnd)
    (data, named, genQuery(rnd))
  }

  /** Runs generated cases (triples, named quads, query) through the
    * engine and the naive evaluator and fails on the first divergence,
    * with its repro. Returns how many were skipped.
    */
  private def differential(
      cases: Seq[(Seq[(Term, Term, Term)], Seq[(Term, Term, Term, Term)], GenQuery)]): Int = {
    import spark.implicits._
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var skipped = 0
    cases.zipWithIndex.foreach { case ((data, named, q), i) =>
      if (q.project.isEmpty && q.aggQ.isEmpty) skipped += 1
      else {
        val naive = evalNaive(data, q, named)
        if (naive.size > 20000) skipped += 1 // unbounded cross join: cap runtime
        else {
          val text = queryText(q)
          val df = (data.map { case (s, p, o) =>
            ConformanceQuad(null, s, p, o)
          } ++ named.map { case (g, s, p, o) =>
            ConformanceQuad(g, s, p, o)
          }).toDF()
          val engine =
            try renderEngine(Sparql.execute(df, text))
            catch {
              case e: Exception =>
                failures += s"[$i] ENGINE ERROR ${e.getMessage}\n$text"
                Seq.empty[String]
            }
          val expected = renderNaive(naive)
          if (failures.isEmpty && engine != expected) {
            val miss = expected.diff(engine).take(3)
            val extra = engine.diff(expected).take(3)
            failures += s"[$i] DIVERGENCE\n$text\ndata=${data.map {
              case (s, p, o) => s"${s.toNT} ${p.toNT} ${o.toNT}." }.mkString(" ")}\n" +
              s"naive=${expected.size} rows, engine=${engine.size} rows\n" +
              s"missing: $miss\nextra: $extra"
          }
        }
      }
      if (failures.nonEmpty)
        fail(failures.head) // first divergence with its full repro
    }
    skipped
  }

  test(s"differential: engine matches the naive evaluator on $N random queries") {
    val skipped = differential((0 until N).map(generated))
    info(s"$N generated, $skipped skipped (empty projection / size cap)")
  }

  test("differential: seeded closures past the driver's cap take the distributed loop") {
    // a `+`/`*` path with a constant endpoint runs its BFS on the driver
    // while the visited set stays under the broadcast threshold, which
    // the generated datasets never reach. At 1 byte the driver holds no
    // node, so every closure hands its first hop to the distributed
    // loop. Each case is a generated closure pattern that reaches a node
    // only on its second hop, so that loop has work left, run on its
    // own: the rest of its generated query mostly filters the closure
    // down to its first hop.
    def deep(data: Seq[(Term, Term, Term)], pt: PathTP): Boolean = {
      val inner = pt.path match {
        case PPlusE(i) => Some(i)
        case PStarE(i) => Some(i)
        case _ => None
      }
      val from = (pt.s, pt.o) match {
        case (C(t), V(_)) => inner.map(i => (t, pathPairsN(data, i)))
        case (V(_), C(t)) => inner.map(i => (t, pathPairsN(data, i).map(_.swap)))
        case _ => None
      }
      from.exists { case (seed, pairs) =>
        val first = pairs.collect { case (a, b) if a == seed => b }.toSet
        pairs.exists { case (a, b) => first(a) && !first(b) }
      }
    }
    val cases = (0 until 20 * N).iterator.flatMap { i =>
      val (data, named, q) = generated(i)
      q.paths.find(deep(data, _)).map { pt =>
        (data, named, GenQuery(bgp = Seq.empty, paths = Seq(pt), union = None,
          optionals = Seq.empty, minus = None, notExists = None, binds = Seq.empty,
          filters = Seq.empty, project = Seq(pt.s, pt.o).collect { case V(v) => v },
          distinct = false, aggQ = None, having = None, values = None))
      }
    }.take(3).toSeq
    val skipped = Harness.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "1")(differential(cases))
    assert(cases.size == 3 && skipped == 0)
  }

  // --- ORDER BY / LIMIT / OFFSET differential --------------------------------

  /** A coarse model of the engine's ORDER BY order (TermOps.orderKey)
    * over this generator's terms: class rank (unbound 0 < blank 1 <
    * IRI 2 < literal 3 < quoted triple 4), then numeric double, then
    * exact decimal, then lexical form. Components 2-4 are null for
    * non-applicable terms; ascending sorts nulls FIRST, and DESC sorts
    * them LAST — both mirrored in [[cmpKeys]]. The model leaves out
    * the engine's language/datatype tie-breaks, so "2"^^xsd:integer vs
    * "2.0"^^xsd:decimal break on lex and "a" vs "a"@en TIE here (one
    * equivalence class, any engine order inside it passes).
    */
  private type KV = (Int, Option[Double], Option[java.math.BigDecimal], Option[String])
  private type KeyV = Seq[KV]

  private def keyVec(sol: Sol, v: String): KV = sol.get(v) match {
    case None => (0, None, None, None)
    case Some(t) =>
      val rank =
        if (t.isBlank) 1 else if (t.isIri) 2
        else if (t.termType == Term.TRIPLE) 4 else 3
      val num =
        if (t.isLit && t.datatype != null &&
            graft.functions.TermOps.NUMERIC_DATATYPES.contains(t.datatype))
          scala.util.Try(new java.math.BigDecimal(t.lex)).toOption
        else None
      (rank, num.map(_.doubleValue), num, Option(t.lex))
  }

  /** asc: nulls first; desc: values reversed, nulls last. */
  private def cmpComp[T](a: Option[T], b: Option[T], desc: Boolean,
      cmp: (T, T) => Int): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => if (desc) 1 else -1
    case (_, None) => if (desc) -1 else 1
    case (Some(x), Some(y)) => if (desc) cmp(y, x) else cmp(x, y)
  }

  private def cmpKV(a: KV, b: KV, desc: Boolean): Int = {
    val c0 = if (desc) Integer.compare(b._1, a._1) else Integer.compare(a._1, b._1)
    if (c0 != 0) return c0
    val c1 = cmpComp[Double](a._2, b._2, desc, java.lang.Double.compare)
    if (c1 != 0) return c1
    val c2 = cmpComp[java.math.BigDecimal](a._3, b._3, desc, _.compareTo(_))
    if (c2 != 0) return c2
    cmpComp[String](a._4, b._4, desc, _.compareTo(_))
  }

  private def cmpKeys(a: KeyV, b: KeyV, flags: Seq[Boolean]): Int = {
    var i = 0
    while (i < flags.size) {
      val c = cmpKV(a(i), b(i), flags(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  private def renderSol(sol: Sol): String =
    sol.toSeq.sortBy(_._1).map { case (k, t) => s"$k=${t.toNT}" }.mkString(" ")

  /** Engine rows IN RESULT ORDER as solutions (renderEngine sorts —
    * here the sequence is the point). aggQ is always stripped, so
    * every column is a term struct.
    */
  private def collectSols(df: DataFrame): Seq[Sol] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map { row =>
      cols.zipWithIndex.flatMap { case (c, i) =>
        row.get(i) match {
          case null => None
          case r: org.apache.spark.sql.Row =>
            Some(c -> Term(r.getString(0), r.getString(1), r.getString(2),
              r.getString(3)))
        }
      }.toMap
    }
  }

  test(s"differential: ORDER BY / LIMIT / OFFSET slice semantics on ${N / 2} random queries") {
    import spark.implicits._
    var skipped = 0
    (0 until N / 2).foreach { i =>
      val rnd = new scala.util.Random(SEED * 9000011L + i)
      val data = genData(rnd)
      val q0 = genQuery(rnd)
      // agg/values heads and DISTINCT carry their own ordering rules
      // (§15.3.1) pinned by the conformance suite; GRAPH/subquery are
      // drilled by the main test. Project EVERY pattern var so a
      // rendered row identifies its solution completely.
      val q = q0.copy(aggQ = None, having = None, values = None,
        distinct = false, graph = None, sub = None,
        project = queryVars(q0.copy(graph = None, sub = None)))
      if (q.project.isEmpty) { skipped += 1 }
      else {
        val naive = evalNaive(data, q)
        if (naive.size > 20000) { skipped += 1 }
        else {
          // 1-2 keys; a key may repeat a var, flip direction, or (10%)
          // name a never-bound var — all rows then tie on that key
          val keys: Seq[(String, Boolean)] =
            (0 until (1 + rnd.nextInt(2))).map { _ =>
              val v = if (rnd.nextDouble() < 0.1) "zz"
                      else q.project(rnd.nextInt(q.project.size))
              (v, rnd.nextBoolean())
            }
          val flags = keys.map(_._2)
          val n = naive.size
          val off = if (rnd.nextDouble() < 0.5) Some(rnd.nextInt(n + 2)) else None
          val lim = if (off.isEmpty || rnd.nextDouble() < 0.7) Some(rnd.nextInt(n + 2)) else None
          val ordText = " ORDER BY " + keys.map { case (v, d) =>
            if (d) s"DESC(?$v)"
            else if (rnd.nextBoolean()) s"ASC(?$v)" else s"?$v"
          }.mkString(" ")
          // the grammar allows LIMIT/OFFSET in either clause order;
          // OFFSET always applies first semantically
          val loText = (off, lim, rnd.nextBoolean()) match {
            case (Some(o), Some(l), true) => s" LIMIT $l OFFSET $o"
            case (Some(o), Some(l), false) => s" OFFSET $o LIMIT $l"
            case (Some(o), None, _) => s" OFFSET $o"
            case (None, Some(l), _) => s" LIMIT $l"
            case (None, None, _) => ""
          }
          val text = queryText(q) + ordText + loText

          val withKeys: Seq[(KeyV, String)] = naive.map(s =>
            (keys.map(k => keyVec(s, k._1)), renderSol(
              s.view.filterKeys(q.project.contains).toMap)))
          val sorted = withKeys.sortWith((a, b) => cmpKeys(a._1, b._1, flags) < 0)
          val start = off.getOrElse(0)
          val end = math.min(n, lim.fold(n)(l => start + l))

          val df = data.map { case (s, p, o) =>
            ConformanceQuad(null, s, p, o)
          }.toDF()
          val eSols = collectSols(Sparql.execute(df, text))
          val eKeys = eSols.map(s => keys.map(k => keyVec(s, k._1)))
          val eRender = eSols.map(renderSol)
          val diag = s"[$i]\n$text\ndata=${data.map {
            case (s, p, o) => s"${s.toNT} ${p.toNT} ${o.toNT}." }.mkString(" ")}\n" +
            s"naive=$n rows, slice=[$start,${math.max(start, end)}), engine=${eSols.size} rows"
          assert(eSols.size == math.max(0, end - start), diag)

          // walk the naive key classes in sorted order: a class fully
          // inside the slice must match as a multiset; a class the
          // OFFSET/LIMIT boundary cuts contributes exactly its overlap
          // count, any sub-multiset of the class
          var classStart = 0
          var ePos = 0
          while (classStart < n) {
            val key = sorted(classStart)._1
            var classEnd = classStart + 1
            while (classEnd < n && cmpKeys(sorted(classEnd)._1, key, flags) == 0)
              classEnd += 1
            val lo = math.max(start, classStart)
            val hi = math.min(end, classEnd)
            val overlap = math.max(0, hi - lo)
            if (overlap > 0) {
              val got = (ePos until ePos + overlap).map { j =>
                assert(cmpKeys(eKeys(j), key, flags) == 0,
                  s"$diag\nrow $j out of key order: ${eRender(j)}")
                eRender(j)
              }
              val classRows = (classStart until classEnd).map(sorted(_)._2)
              if (overlap == classEnd - classStart)
                assert(got.sorted == classRows.sorted,
                  s"$diag\nclass mismatch at key $key:\n  naive=${classRows.sorted}\n  engine=${got.sorted}")
              else {
                // boundary-cut class: every returned row must exist in
                // the class, with multiplicity
                val avail = scala.collection.mutable.Map[String, Int]()
                classRows.foreach(r => avail(r) = avail.getOrElse(r, 0) + 1)
                got.foreach { r =>
                  assert(avail.getOrElse(r, 0) > 0,
                    s"$diag\nrow not in its boundary class: $r")
                  avail(r) -= 1
                }
              }
              ePos += overlap
            }
            classStart = classEnd
          }
          assert(ePos == eSols.size, diag)
        }
      }
    }
    info(s"${N / 2} generated, $skipped skipped")
  }

  // --- one value order over mixed terms --------------------------------------

  /** A random bag of mixed terms: IRIs, blanks, plain and language-
    * tagged strings, numerics of several datatypes (some past
    * decimal(38,10), some IEEE infinities and NaN, some ill-formed) and
    * dateTimes in several zones (and none: taken as UTC, the engine's
    * fixed choice), one of them ill-formed.
    */
  private def genMixedBag(rnd: scala.util.Random): Seq[Term] = {
    val big = "1" + "0" * 35
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def gen(): Term = rnd.nextInt(7) match {
      case 0 => Term.iri(s"http://f/i${rnd.nextInt(3)}")
      case 1 => Term.blank(s"b${rnd.nextInt(3)}")
      case 2 => Term.lit(pick(Seq("a", "b", "apple", "Zebra", "12")))
      case 3 => Term.langLit(pick(Seq("a", "apple")), pick(Seq("en", "fr")))
      case 4 | 5 => pick(Seq(
        Term.typed(s"${rnd.nextInt(21) - 10}", Term.XSD_INTEGER),
        Term.typed(pick(Seq("", "-")) + big + rnd.nextInt(3), Term.XSD_INTEGER),
        Term.typed(pick(Seq("0.5", "-2.50", "3.0", "1")), Term.XSD_DECIMAL),
        Term.typed(pick(Seq("1e30", "-1.5E2", "2.5", "INF", "-INF", "NaN")), XSD_DOUBLE),
        Term.typed(pick(Seq("abc", "1.5x")), pick(Seq(Term.XSD_INTEGER, Term.XSD_DECIMAL))),
        Term.typed(pick(Seq("2.5", "7")), Term.XSD + "float"),
        Term.typed(pick(Seq("3", "-7")), Term.XSD + "int")))
      case _ =>
        val zone = pick(Seq("Z", "+02:00", "-05:30", "", " 00:00:00Z"))
        Term.typed(f"2020-01-01T${rnd.nextInt(24)}%02d:${pick(Seq(0, 30))}%02d:00$zone",
          Term.XSD_DATETIME)
    }
    Seq.fill(4 + rnd.nextInt(9))(gen())
  }

  /** SPARQL `a < b` (§17.3 operator mapping), independent of the
    * engine: numerics by value (IEEE infinities outside every finite
    * value, false against NaN), simple strings by code point, dateTimes
    * on the timeline; None — a type error — for incomparable kinds and
    * for an ill-formed numeric or dateTime lexical form.
    */
  private def sparqlLess(a: Term, b: Term): Option[Boolean] = {
    import scala.util.Try
    // (sign class -INF 0 < finite 1 < INF 2, NaN 3; value); None when ill-formed
    def num(t: Term): Option[(Int, java.math.BigDecimal)] = t.lex match {
      case "-INF" => Some((0, java.math.BigDecimal.ZERO))
      case "INF" => Some((2, java.math.BigDecimal.ZERO))
      case "NaN" => Some((3, java.math.BigDecimal.ZERO))
      case l => Try(new java.math.BigDecimal(l)).toOption.map((1, _))
    }
    def instant(t: Term): Option[java.time.Instant] =
      Try(java.time.OffsetDateTime.parse(t.lex).toInstant).orElse(Try(
        java.time.LocalDateTime.parse(t.lex).toInstant(java.time.ZoneOffset.UTC))).toOption
    def numeric(t: Term) = t.isLit && graft.functions.TermOps.NUMERIC_DATATYPES.contains(t.datatype)
    def dateTime(t: Term) = t.isLit && t.datatype == Term.XSD_DATETIME
    def plain(t: Term) = t.isLit && t.lang == null &&
      (t.datatype == null || t.datatype == Term.XSD_STRING)
    if (numeric(a) && numeric(b))
      for ((ca, va) <- num(a); (cb, vb) <- num(b))
        yield ca != 3 && cb != 3 && (if (ca != cb) ca < cb else va.compareTo(vb) < 0)
    else if (dateTime(a) && dateTime(b))
      for (ia <- instant(a); ib <- instant(b)) yield ia.isBefore(ib)
    else if (plain(a) && plain(b)) Some(a.lex.compareTo(b.lex) < 0)
    else None
  }

  test("value order: ORDER BY, MIN/MAX and FILTER < agree on random mixed bags") {
    import spark.implicits._
    val trials = math.max(8, N / 6)
    (0 until trials).foreach { i =>
      val rnd = new scala.util.Random(SEED * 7340033L + i)
      val bag = genMixedBag(rnd)
      val subj = bag.indices.map(k => Term.iri(s"http://f/s$k"))
      val p = Term.iri("http://f/v")
      val df = bag.indices.map(k => ConformanceQuad(null, subj(k), p, bag(k))).toDF()
      val diag = s"[$i] bag=${bag.map(_.toNT).mkString(" ")}"
      def terms(q: String): Seq[Term] = collectSols(Sparql.execute(df, q))
        .map(_.getOrElse("v", null))
      val asc = terms("SELECT ?v { ?s <http://f/v> ?v } ORDER BY ?v")
      val desc = terms("SELECT ?v { ?s <http://f/v> ?v } ORDER BY DESC(?v)")
      assert(asc.sortBy(_.toNT) == bag.sortBy(_.toNT), diag)
      assert(desc == asc.reverse, s"$diag\nasc=${asc.map(_.toNT)}\ndesc=${desc.map(_.toNT)}")
      for (j <- asc.indices; k <- j + 1 until asc.size) {
        assert(!sparqlLess(asc(k), asc(j)).contains(true),
          s"$diag\nASC row $k ${asc(k).toNT} < earlier row $j ${asc(j).toNT}")
        assert(!sparqlLess(desc(j), desc(k)).contains(true),
          s"$diag\nDESC row $k ${desc(k).toNT} > earlier row $j ${desc(j).toNT}")
      }
      val mm = collectSols(Sparql.execute(df,
        "SELECT (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) { ?s <http://f/v> ?v }")).head
      assert(mm.get("lo").contains(asc.head) && mm.get("hi").contains(asc.last),
        s"$diag\nmin/max=$mm asc=${asc.map(_.toNT)}")
      // the engine's `<` is the same comparison, type errors included:
      // an error drops the pair from both `<` and `!(<)`
      for ((filter, holds) <- Seq("?x < ?y" -> true, "!(?x < ?y)" -> false)) {
        val got = Sparql.execute(df, "SELECT ?a ?b { ?a <http://f/v> ?x . " +
            s"?b <http://f/v> ?y FILTER($filter) }")
          .collect().map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1))).toSet
        val expected = (for (j <- bag.indices; k <- bag.indices
            if sparqlLess(bag(j), bag(k)).contains(holds))
          yield (subj(j).lex, subj(k).lex)).toSet
        assert(got == expected,
          s"$diag\n$filter missing=${expected -- got}\nextra=${got -- expected}")
      }
    }
    info(s"$trials bags")
  }
}
