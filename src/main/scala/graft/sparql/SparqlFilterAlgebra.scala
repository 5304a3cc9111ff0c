package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.rdf.{RdfParseException, Term}

/** FILTER/EXISTS algebra rewrites: EXISTS-as-expression → mark-join
  * probes, variable/aggregate collection over expression trees, and
  * aggregate substitution for expression projections. Mixed into
  * [[Sparql]]; split out for reviewability only — no behavior or API
  * change.
  */
private[sparql] trait SparqlFilterAlgebra { this: Sparql.type =>
  import Sparql._
  private[sparql] def applyFilter(quads: DataFrame, sol: Sol, f: FExpr,
      seed: Option[Sol] = None): Sol = {
    val (marked, nf, flags) = rewriteExists(quads, sol, f, seed)
    val filtered = marked.df.filter(compileFilter(nf, resolverOf(marked.df)))
    Sol(flags.foldLeft(filtered)(_.drop(_)), sol.maybe, sol.nonNull)
  }

  /** Rewrite `[NOT] EXISTS` operands (anywhere in the expression tree,
    * including IF conditions) into boolean mark columns over the
    * solution: one left-semi probe of the inner pattern per EXISTS,
    * joined back on the DISTINCT shared-variable bindings — every
    * join is an equi/compat join, no solution row ever duplicates.
    */
  private[sparql] def rewriteExists(quads: DataFrame, sol0: Sol,
      f0: FExpr, seed: Option[Sol] = None): (Sol, FExpr, Seq[String]) = {
    var sol = sol0
    val flags = scala.collection.mutable.ArrayBuffer[String]()
    def fw(f: FExpr): FExpr = f match {
      case FExists(inner, positive) =>
        val flag = s"#exists${flags.size}"
        sol = markExists(quads, sol, inner, flag, seed)
        flags += flag
        FFlag(flag, positive)
      case FAnd(a, b) => FAnd(fw(a), fw(b))
      case FOr(a, b) => FOr(fw(a), fw(b))
      case FNot(e) => FNot(fw(e))
      case FCmp(l, op, r) => FCmp(vw(l), op, vw(r))
      case FIn(e, items, p) => FIn(vw(e), items.map(vw), p)
      case FSameTerm(l, r) => FSameTerm(vw(l), vw(r))
      case FEbv(e) => FEbv(vw(e))
      case other => other
    }
    def vw(v: VExpr): VExpr = v match {
      case VIf(c, t, e) => VIf(fw(c), vw(t), vw(e))
      case VBool(c) => VBool(fw(c))
      case VCoalesce(args) => VCoalesce(args.map(vw))
      case VFn(fn, a) => VFn(fn, vw(a))
      case VBin(op, l, r) => VBin(op, vw(l), vw(r))
      case VFnN(fn, args) => VFnN(fn, args.map(vw))
      case VCast(dt, a) => VCast(dt, vw(a))
      case other => other
    }
    val nf = fw(f0)
    (sol, nf, flags.toSeq)
  }

  /** Collect the `[NOT] EXISTS` operands anywhere in a filter
    * expression (including IF conditions).
    */
  private[sparql] def existsOf(f: FExpr): Seq[FExists] = {
    def fw(f: FExpr): Seq[FExists] = f match {
      case e: FExists => Seq(e)
      case FAnd(a, b) => fw(a) ++ fw(b)
      case FOr(a, b) => fw(a) ++ fw(b)
      case FNot(e) => fw(e)
      case FCmp(l, _, r) => vw(l) ++ vw(r)
      case FIn(e, items, _) => (e +: items).flatMap(vw)
      case FSameTerm(l, r) => vw(l) ++ vw(r)
      case FEbv(e) => vw(e)
      case _ => Seq.empty
    }
    def vw(v: VExpr): Seq[FExists] = v match {
      case VIf(c, t, e) => fw(c) ++ vw(t) ++ vw(e)
      case VBool(c) => fw(c)
      case VCoalesce(args) => args.flatMap(vw)
      case VFn(_, a) => vw(a)
      case VBin(_, l, r) => vw(l) ++ vw(r)
      case VFnN(_, args) => args.flatMap(vw)
      case VCast(_, a) => vw(a)
      case _ => Seq.empty
    }
    fw(f)
  }

  /** Variables a pattern can bind (for EXISTS scope checks). */
  private[sparql] def patternVars(p: Pattern): Set[String] = {
    def nodeVars(n: Node): Set[String] = n match {
      case Var(v) => Set(v)
      case QTriple(s, pp, o) => nodeVars(s) ++ nodeVars(pp) ++ nodeVars(o)
      case _ => Set.empty
    }
    def tpVars(tp: TriplePattern): Set[String] =
      Seq(tp.s, tp.p, tp.o).flatMap(nodeVars).toSet ++
        tp.graph.toSeq.flatMap(nodeVars)
    p match {
      case Group(elems) => elems.flatMap {
        case PatElem(tp) => tpVars(tp)
        case OptElem(inner) => patternVars(inner)
        case BindElem(_, as) => Set(as)
        case NestedElem(pp) => patternVars(pp)
        case SubSelectElem(q) => q.projection match {
          case SelectAll => patternVars(q.pattern)
          case SelectItems(items) => items.collect {
            case ItemVar(n) => n
            case ItemExpr(_, as) => as
            case ItemAgg(_, _, as, _, _) => as
          }.toSet
        }
        case ValuesElem(vars, _) => vars.toSet
        case PathElem(g, s, _, o) =>
          Seq(s, o).flatMap(nodeVars).toSet ++
            g.toSeq.flatMap(nodeVars)
        case ServiceElem(_, _, _, inner) => patternVars(inner)
        case GraphElem(g, inner) => patternVars(inner) ++ nodeVars(g)
        case MinusElem(_) => Set.empty[String]
        case ExistsElem(_, _) => Set.empty[String]
        case FilterElem(_) => Set.empty[String]
      }.toSet
      case Union(branches) => branches.flatMap(patternVars).toSet
    }
  }

  /** Attach `flag` = whether the inner pattern has at least one
    * solution compatible (§18.3) with the row's bindings. Probe shape:
    * distinct shared-variable bindings → left-semi against the inner
    * solution (compat condition) → equi-join back (null-safe, at most
    * one hit row per distinct binding) — hash-joinable at scale, and
    * the inner pattern evaluates once, not per row.
    */
  private[sparql] def markExists(quads: DataFrame, sol: Sol, inner: Pattern,
      flag: String, seed: Option[Sol] = None): Sol = {
    // `seed`: under GRAPH ?var the inner pattern evaluates per graph —
    // seeding keeps even its bare rows carrying the graph binding, so
    // the compat probe restricts to the row's own graph
    val innerSol = compileSol(quads, inner, seed)
    val shared = sol.df.columns.filterNot(_.startsWith("#"))
      .filter(innerSol.df.columns.contains).toSeq
    val marked =
      if (shared.isEmpty) {
        // no shared bindings: pure pattern-nonemptiness, one row or none
        val any = innerSol.df.limit(1).select(lit(true).as(flag))
        sol.df.join(any, lit(true), "left_outer")
          .withColumn(flag, coalesce(col(flag), lit(false)))
      } else {
        val key = sol.df.select(shared.map(col): _*).distinct()
        val keySol = Sol(key, sol.maybe.intersect(shared.toSet),
          sol.nonNull.intersect(shared.toSet))
        val hits = keySol.df.alias("l")
          .join(innerSol.df.alias("r"), compatCond(keySol, innerSol), "left_semi")
          .withColumn(flag, lit(true))
        val a = sol.df.alias("a")
        val b = hits.alias("b")
        val cond = shared.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
        a.join(b, cond, "left_outer")
          .select(sol.df.columns.map(c => col(s"a.$c")) :+
            coalesce(col(s"b.$flag"), lit(false)).as(flag): _*)
      }
    Sol(marked, sol.maybe, sol.nonNull)
  }

  /** Variables referenced by a filter expression. */
  private[sparql] def varsOf(f: FExpr): Set[String] = f match {
    case FCmp(l, _, r) => varsOfV(l) ++ varsOfV(r)
    case FAnd(a, b) => varsOf(a) ++ varsOf(b)
    case FOr(a, b) => varsOf(a) ++ varsOf(b)
    case FNot(e) => varsOf(e)
    case FRegex(v, _, _) => Seq(v).collect { case Var(n) => n }.toSet
    case FStrFn(_, v, _) => Seq(v).collect { case Var(n) => n }.toSet
    case FTest(_, v) => Set(v)
    case FIn(e, items, _) => (e +: items).flatMap(varsOfV).toSet
    case FSameTerm(l, r) => varsOfV(l) ++ varsOfV(r)
    case FLangMatches(t, _) => varsOfV(t)
    case FEbv(e) => varsOfV(e)
    // an EXISTS operand evaluates against whatever is bound where the
    // filter applies; it imposes no binding requirement of its own
    case FExists(_, _) => Set.empty
    case FFlag(_, _) => Set.empty
  }

  /** Variables referenced by a value expression. */
  private[sparql] def varsOfV(e: VExpr): Set[String] = e match {
    case VVar(n) => Set(n)
    case VConst(_) => Set.empty
    case VCoalesce(args) => args.flatMap(varsOfV).toSet
    case VFn(_, a) => varsOfV(a)
    case VBin(_, l, r) => varsOfV(l) ++ varsOfV(r)
    case VFnN(_, args) => args.flatMap(varsOfV).toSet
    case VIf(c, t, f) => varsOf(c) ++ varsOfV(t) ++ varsOfV(f)
    case VBool(c) => varsOf(c)
    case VAgg(_, arg, _, _) => arg.map(varsOfV).getOrElse(Set.empty)
    case VCast(_, a) => varsOfV(a)
  }

  /** Aggregate calls appearing in a value / filter expression. */
  private[sparql] def aggsOfV(e: VExpr): Seq[VAgg] = e match {
    case a: VAgg => Seq(a)
    case VCoalesce(args) => args.flatMap(aggsOfV)
    case VFn(_, a) => aggsOfV(a)
    case VBin(_, l, r) => aggsOfV(l) ++ aggsOfV(r)
    case VFnN(_, args) => args.flatMap(aggsOfV)
    case VIf(c, t, f) => aggsOfF(c) ++ aggsOfV(t) ++ aggsOfV(f)
    case VBool(c) => aggsOfF(c)
    case VCast(_, a) => aggsOfV(a)
    case _ => Seq.empty
  }

  private[sparql] def aggsOfF(f: FExpr): Seq[VAgg] = f match {
    case FCmp(l, _, r) => aggsOfV(l) ++ aggsOfV(r)
    case FAnd(a, b) => aggsOfF(a) ++ aggsOfF(b)
    case FOr(a, b) => aggsOfF(a) ++ aggsOfF(b)
    case FNot(e) => aggsOfF(e)
    case FIn(e, items, _) => (e +: items).flatMap(aggsOfV)
    case FSameTerm(l, r) => aggsOfV(l) ++ aggsOfV(r)
    case FLangMatches(t, _) => aggsOfV(t)
    case FEbv(e) => aggsOfV(e)
    case _ => Seq.empty
  }

  /** Replace each aggregate call with what `f` yields — the grouped
    * projection's hidden-column indirection.
    */
  private[sparql] def substAggs(e: VExpr, f: VAgg => VExpr): VExpr = e match {
    case a: VAgg => f(a)
    case VCoalesce(args) => VCoalesce(args.map(substAggs(_, f)))
    case VFn(fn, a) => VFn(fn, substAggs(a, f))
    case VBin(op, l, r) => VBin(op, substAggs(l, f), substAggs(r, f))
    case VFnN(fn, args) => VFnN(fn, args.map(substAggs(_, f)))
    case VIf(c, t, el) => VIf(substAggsF(c, f), substAggs(t, f), substAggs(el, f))
    case VBool(c) => VBool(substAggsF(c, f))
    case VCast(dt, a) => VCast(dt, substAggs(a, f))
    case other => other
  }

  private[sparql] def substAggsF(x: FExpr, f: VAgg => VExpr): FExpr = x match {
    case FCmp(l, op, r) => FCmp(substAggs(l, f), op, substAggs(r, f))
    case FAnd(a, b) => FAnd(substAggsF(a, f), substAggsF(b, f))
    case FOr(a, b) => FOr(substAggsF(a, f), substAggsF(b, f))
    case FNot(e) => FNot(substAggsF(e, f))
    case FIn(e, items, p) => FIn(substAggs(e, f), items.map(substAggs(_, f)), p)
    case FSameTerm(l, r) => FSameTerm(substAggs(l, f), substAggs(r, f))
    case FLangMatches(t, r) => FLangMatches(substAggs(t, f), r)
    case FEbv(e) => FEbv(substAggs(e, f))
    case other => other
  }

}
