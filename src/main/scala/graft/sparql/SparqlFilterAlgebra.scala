package graft.sparql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  /** Rewrite `[NOT] EXISTS` operands (anywhere in the expression tree)
    * into boolean mark columns over the solution: one left-semi probe
    * of the inner pattern per EXISTS, joined back on the DISTINCT
    * shared-variable bindings — every join is an equi/compat join, no
    * solution row ever duplicates.
    */
  private[sparql] def rewriteExists(quads: DataFrame, sol0: Sol,
      f0: FExpr, seed: Option[Sol] = None): (Sol, FExpr, Seq[String]) = {
    var sol = sol0
    val flags = scala.collection.mutable.ArrayBuffer[String]()
    val nf = transform(f0) { case FExists(inner, positive) =>
      val flag = s"#exists${flags.size}"
      sol = markExists(quads, sol, inner, flag, seed)
      flags += flag
      FFlag(flag, positive)
    }
    (sol, nf, flags.toSeq)
  }

  /** The `[NOT] EXISTS` operands anywhere in a filter expression. */
  private[sparql] def existsOf(f: FExpr): Seq[FExists] =
    collect(f) { case e: FExists => e }

  /** Variables a pattern can bind (for EXISTS scope checks). */
  private[sparql] def patternVars(p: Pattern): Set[String] = {
    def tpVars(tp: TriplePattern): Set[String] =
      (tp.graph.toSeq ++ Seq(tp.s, tp.p, tp.o)).flatMap(nodeVars).toSet
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
        case PathElem(g, s, _, o) => (g.toSeq ++ Seq(s, o)).flatMap(nodeVars).toSet
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

  /** Variables referenced by an expression. An EXISTS operand
    * evaluates against whatever is bound where the filter applies; it
    * imposes no binding requirement of its own.
    */
  private[sparql] def varsOf(e: Expr): Set[String] =
    collect(e) {
      case VVar(n) => n
      case FRegex(Var(n), _, _) => n
      case FStrFn(_, Var(n), _) => n
      case FTest(_, n) => n
    }.toSet

  /** Aggregate calls appearing in an expression. */
  private[sparql] def aggsOf(e: Expr): Seq[VAgg] =
    collect(e) { case a: VAgg => a }

  /** Replace each aggregate call with what `f` yields — the grouped
    * projection's hidden-column indirection.
    */
  private[sparql] def substAggs[E <: Expr](e: E, f: VAgg => VExpr): E =
    transform(e) { case a: VAgg => f(a) }

}
