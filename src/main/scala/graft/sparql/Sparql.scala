package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TermOps
import graft.plans.Checkpoints
import graft.rdf.{Quad, RdfParseException, Term}

/** SPARQL-subset → DataFrame compiler (SURVEY.md §3.3, §7 phase 6):
  * enough of the language to answer every query the reference itself
  * issues — the verification count
  * `SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }`
  * (DockerTestConfigFK.java:392-394) and the assembler's config probes
  * — plus BGP joins, GRAPH blocks, UNION, OPTIONAL,
  * BIND(COALESCE/STR/LANG/DATATYPE), VALUES, property paths
  * (`/ | ^ + * ?` — transitive closure as a distributed fixpoint),
  * FILTER (value-space `=`/`!=`/`<`/`>`/`<=`/`>=`, `&&`/`||`/`!`,
  * var-vs-var, REGEX/CONTAINS/STRSTARTS/STRENDS/BOUND/type tests),
  * GROUP BY with COUNT/SUM/MIN/MAX/AVG, PREFIX prologues and prefixed
  * names, ORDER BY in value space, LIMIT/OFFSET, DISTINCT, and the
  * ASK / CONSTRUCT / DESCRIBE query forms. SPARQL Update lives in
  * [[SparqlUpdate]].
  *
  * Compilation is fully declarative: each triple pattern becomes a
  * filtered projection of the quads DataFrame (constant terms are
  * null-safe field comparisons, so Catalyst pushes them into the
  * parquet scan), a BGP is an equi-join chain on shared variables, and
  * UNION is unionByName — Catalyst then plans joins/aggregations as it
  * would any relational query (broadcast for small pattern sides, AQE
  * at scale).
  */
object Sparql extends SparqlPathEngine with SparqlExprCompiler with SparqlFilterAlgebra {

  // --- AST ------------------------------------------------------------------

  sealed trait Node
  final case class Var(name: String) extends Node
  final case class Const(term: Term) extends Node
  /** SPARQL-star quoted-triple pattern with at least one variable
    * inside (an all-constant `<<…>>` folds to [[Const]] of a quoted
    * [[Term]] at parse time, keeping the pushable leaf-field match).
    */
  final case class QTriple(s: Node, p: Node, o: Node) extends Node

  /** The variables a node mentions, quoted-triple components
    * included, in slot order (a repeated variable repeats).
    */
  private[sparql] def nodeVars(n: Node): Seq[String] = n match {
    case Var(v) => Seq(v)
    case QTriple(s, p, o) => Seq(s, p, o).flatMap(nodeVars)
    case Const(_) => Seq.empty
  }

  final case class TriplePattern(graph: Option[Node], s: Node, p: Node, o: Node)

  /** A group `{ ... }` is an ORDERED element list: SPARQL scopes BIND
    * over the bindings produced so far, and OPTIONAL left-joins the
    * group-so-far, so order is semantics, not syntax.
    */
  sealed trait Pattern
  final case class Group(elems: Seq[GroupElem]) extends Pattern
  final case class Union(branches: Seq[Pattern]) extends Pattern

  sealed trait GroupElem
  final case class PatElem(tp: TriplePattern) extends GroupElem
  final case class FilterElem(f: FExpr) extends GroupElem
  final case class OptElem(inner: Pattern) extends GroupElem
  final case class BindElem(expr: VExpr, as: String) extends GroupElem
  /** `VALUES` inline data: one row per binding tuple; None = UNDEF.
    * An UNDEF cell leaves the variable unbound, which join
    * compatibility then treats as a wildcard (see [[joinShared]]).
    */
  final case class ValuesElem(vars: Seq[String], rows: Seq[Seq[Option[Term]]])
    extends GroupElem
  /** `MINUS { ... }` (spec §18.5): positional like OPTIONAL — removes
    * solutions compatible with some right-side solution that shares at
    * least one BOUND variable; disjoint-domain solutions survive
    * (the observable difference from NOT EXISTS).
    */
  final case class MinusElem(inner: Pattern) extends GroupElem
  /** `FILTER [NOT] EXISTS { ... }` (spec §8.1.1): scope is the whole
    * group like any FILTER; compiled to a semi (anti) join on
    * shared-variable compatibility.
    */
  final case class ExistsElem(inner: Pattern, positive: Boolean) extends GroupElem
  /** A nested group graph pattern `{ ... }` (possibly a UNION chain),
    * joined with the group-so-far. FILTERs inside scope to the nested
    * group only — which is exactly why it stays a separate element
    * instead of being spliced into the outer group.
    */
  final case class NestedElem(p: Pattern) extends GroupElem
  /** A sub-SELECT `{ SELECT ... }` (spec §12): evaluated bottom-up in
    * isolation, its projected variables joined with the group-so-far.
    */
  final case class SubSelectElem(q: Query) extends GroupElem
  /** `SERVICE [SILENT] <endpoint> { ... }` (SPARQL 1.1 Federated
    * Query): the inner group is shipped VERBATIM (`remoteQuery` is the
    * parse-time extraction `prologue + SELECT * WHERE {...}`) to the
    * endpoint over the SPARQL Protocol and its solutions joined with
    * the group-so-far on shared-variable compatibility. `inner` is
    * kept only for variable-scope analysis — the remote endpoint is
    * the evaluator. A variable endpoint fans out over the distinct
    * bindings accumulated so far (bounded by
    * [[SparqlService.MaxEndpoints]]).
    */
  final case class ServiceElem(endpoint: Node, silent: Boolean,
      remoteQuery: String, inner: Pattern) extends GroupElem
  /** `GRAPH g { ... }` with a FULL group pattern inside (OPTIONAL /
    * BIND / UNION / nested groups / VALUES / FILTER / EXISTS):
    * evaluated bottom-up with `g` as the active graph — every leaf
    * pattern scoped to `g`, and under `GRAPH ?var` seeded with the
    * named-graph-names relation so even bare rows (a leading OPTIONAL
    * that matches nothing in some graph) carry the graph binding, per
    * §18.2.5.1's per-graph evaluation — then joined with the
    * group-so-far. Purely conjunctive GRAPH contents never build this
    * element: the parser flattens them into per-leaf graph fields so
    * BGP reordering sees one flat join run.
    */
  final case class GraphElem(g: Node, inner: Pattern) extends GroupElem

  /** Property-path expressions (SPARQL §9). Sequence, alternative and
    * inverse desugar to joins/unions at compile time; `+` and `*`
    * compile to a distributed transitive-closure fixpoint (doubling
    * joins — O(log diameter) rounds, each fully parallel).
    */
  sealed trait PathExpr
  final case class PLink(iri: Term) extends PathExpr
  final case class PInv(p: PathExpr) extends PathExpr
  final case class PSeq(l: PathExpr, r: PathExpr) extends PathExpr
  final case class PAlt(l: PathExpr, r: PathExpr) extends PathExpr
  final case class PPlus(p: PathExpr) extends PathExpr
  final case class PStar(p: PathExpr) extends PathExpr
  final case class POpt(p: PathExpr) extends PathExpr
  /** Negated property set `!(iri1|…|^irij|…)` (§9.1): forward edges
    * whose predicate is NOT in `fwd` (when `fwd` was listed), plus
    * reverse edges whose predicate is NOT in `inv` (when `inv` was
    * listed) — `!ex:p` is forward-only, `!^ex:p` reverse-only.
    */
  final case class PNeg(fwd: Seq[Term], inv: Seq[Term]) extends PathExpr

  /** A triple whose predicate is a non-trivial path. Evaluates against
    * the default graph, a constant GRAPH context, or `GRAPH ?var`
    * (per-graph semantics: the pair relation carries the graph column
    * and every join/closure keys on it).
    */
  final case class PathElem(graph: Option[Node], s: Node, path: PathExpr,
      o: Node) extends GroupElem

  /** An expression node: a filter ([[FExpr]]) or value ([[VExpr]])
    * expression. [[mapChildren]] is the one place that knows each
    * node's expression children; [[transform]] and [[collect]] are
    * the walks built on it.
    */
  sealed trait Expr

  /** FILTER expressions: comparisons over value expressions composed
    * with `&&` / `||` (SPARQL `ConditionalAndExpression`).
    */
  sealed trait FExpr extends Expr
  final case class FCmp(l: VExpr, op: String, r: VExpr) extends FExpr
  final case class FAnd(l: FExpr, r: FExpr) extends FExpr
  final case class FOr(l: FExpr, r: FExpr) extends FExpr
  final case class FNot(e: FExpr) extends FExpr
  /** REGEX(?v, "pat" [, "flags"]) — flags subset: i. */
  final case class FRegex(v: Node, pattern: String, flags: String) extends FExpr
  /** CONTAINS / STRSTARTS / STRENDS over the lexical form. */
  final case class FStrFn(func: String, v: Node, arg: String) extends FExpr
  /** BOUND / isIRI / isBLANK / isLITERAL / isNUMERIC. */
  final case class FTest(func: String, v: String) extends FExpr
  /** `expr [NOT] IN (e1, …, en)` — value-equality disjunction (§17.4.1.9). */
  final case class FIn(e: VExpr, items: Seq[VExpr], positive: Boolean) extends FExpr
  /** sameTerm(a, b) — STRUCTURAL identity, unlike `=` (§17.4.1.8). */
  final case class FSameTerm(l: VExpr, r: VExpr) extends FExpr
  /** LANGMATCHES(tag, range) with basic-range semantics (§17.4.3.1). */
  final case class FLangMatches(tag: VExpr, range: String) extends FExpr
  /** A bare expression in boolean position → effective boolean value
    * (§17.2.2): boolean literals by value, numerics by != 0, strings by
    * non-emptiness; anything else is a type error (row dropped).
    */
  final case class FEbv(e: VExpr) extends FExpr
  /** `[NOT] EXISTS { pattern }` as an EXPRESSION operand (§17.4.1.4 —
    * in any operand position of a FILTER expression), beyond the
    * standalone `FILTER [NOT] EXISTS` form. Rewritten before
    * compilation into a boolean mark column ([[rewriteExists]]); it
    * never reaches [[compileFilter]] directly.
    */
  final case class FExists(inner: Pattern, positive: Boolean) extends FExpr
  /** Internal: a precomputed boolean mark column (see [[FExists]]). */
  final case class FFlag(name: String, positive: Boolean) extends FExpr

  /** Value expressions usable in BIND, SELECT expressions and FILTER
    * comparison operands.
    */
  sealed trait VExpr extends Expr
  final case class VVar(name: String) extends VExpr
  final case class VConst(term: Term) extends VExpr
  final case class VCoalesce(args: Seq[VExpr]) extends VExpr
  /** STR / LANG / DATATYPE accessors (spec §17.4.2). */
  final case class VFn(func: String, arg: VExpr) extends VExpr
  /** Arithmetic `+ - * /` over NUMERIC literal values (§17.3 operator
    * mapping): integer op integer stays xsd:integer except division,
    * which is always xsd:decimal; any other numeric mix is xsd:decimal.
    * Non-numeric operands and division by zero are expression errors
    * (unbound result / dropped filter row).
    */
  final case class VBin(op: String, l: VExpr, r: VExpr) extends VExpr
  /** N-ary scalar functions (§17.4.3-5): STRLEN UCASE LCASE CONCAT
    * SUBSTR REPLACE STRBEFORE STRAFTER ABS ROUND CEIL FLOOR IRI
    * ENCODE_FOR_URI STRDT STRLANG, the hash functions MD5/SHA1/
    * SHA256/SHA384/SHA512, and the date/time accessors YEAR MONTH DAY
    * HOURS MINUTES SECONDS TZ.
    */
  final case class VFnN(func: String, args: Seq[VExpr]) extends VExpr
  /** IF(cond, then, else) — an error in `cond` is an error (§17.4.1.2). */
  final case class VIf(cond: FExpr, t: VExpr, e: VExpr) extends VExpr
  /** Boolean-valued expression (comparison/logical) used in term
    * position — `BIND((?v = 2) AS ?b)`, `SELECT (?x < ?y AS ?lt)`:
    * evaluates to an xsd:boolean literal; an expression ERROR (not
    * plain false — three-valued null) leaves the result unbound.
    */
  final case class VBool(cond: FExpr) extends VExpr
  /** An XSD casting constructor `xsd:integer(expr)` etc. (§17.5 /
    * XPath §17): validates the source value and produces a canonical
    * typed literal, or an expression error.
    */
  final case class VCast(datatype: String, arg: VExpr) extends VExpr

  /** An aggregate call inside a value expression — the post-grouping
    * expression form (`SELECT (SUM(?a)/SUM(?b) AS ?r)`,
    * `ORDER BY DESC(SUM(?a) + 1)`, spec §18.4: aggregates project into
    * the expression scope of a grouped query). Compiled as a hidden
    * term-typed aggregate column the surrounding expression reads.
    */
  final case class VAgg(func: String, arg: Option[VExpr],
      isDistinct: Boolean = false, separator: String = " ") extends VExpr

  /** Rebuild `e` with `f` applied to each of its expression children,
    * left to right; a node without any returns as it is. `f` must map
    * an FExpr to an FExpr and a VExpr to a VExpr. [[FExists]]'s
    * pattern and the [[Node]] operands of [[FRegex]], [[FStrFn]] and
    * [[FTest]] are not expression children.
    */
  def mapChildren[E <: Expr](e: E)(f: Expr => Expr): E = {
    def fx(x: FExpr) = f(x).asInstanceOf[FExpr]
    def vx(x: VExpr) = f(x).asInstanceOf[VExpr]
    (e match {
      case FCmp(l, op, r) => FCmp(vx(l), op, vx(r))
      case FAnd(l, r) => FAnd(fx(l), fx(r))
      case FOr(l, r) => FOr(fx(l), fx(r))
      case FNot(a) => FNot(fx(a))
      case FIn(a, items, positive) => FIn(vx(a), items.map(vx), positive)
      case FSameTerm(l, r) => FSameTerm(vx(l), vx(r))
      case FLangMatches(tag, range) => FLangMatches(vx(tag), range)
      case FEbv(a) => FEbv(vx(a))
      case VCoalesce(args) => VCoalesce(args.map(vx))
      case VFn(fn, a) => VFn(fn, vx(a))
      case VBin(op, l, r) => VBin(op, vx(l), vx(r))
      case VFnN(fn, args) => VFnN(fn, args.map(vx))
      case VIf(c, t, el) => VIf(fx(c), vx(t), vx(el))
      case VBool(c) => VBool(fx(c))
      case VCast(dt, a) => VCast(dt, vx(a))
      case a: VAgg => a.copy(arg = a.arg.map(vx))
      case leaf => leaf
    }).asInstanceOf[E]
  }

  /** Top-down rewrite: `rule` applies to a node first, then the walk
    * goes on into the children of what it returned.
    */
  def transform[E <: Expr](e: E)(
      rule: PartialFunction[Expr, Expr]): E =
    mapChildren(rule.applyOrElse(e, identity[Expr]).asInstanceOf[E])(
      transform(_)(rule))

  /** What `rule` yields at each node it matches, in pre-order; the
    * subtree under a matched node is not searched.
    */
  def collect[T](e: Expr)(rule: PartialFunction[Expr, T]): Seq[T] = {
    val out = Seq.newBuilder[T]
    def visit(x: Expr): Expr = {
      rule.lift(x) match {
        case Some(t) => out += t
        case None => mapChildren(x)(visit)
      }
      x
    }
    visit(e)
    out.result()
  }

  sealed trait Projection
  case object SelectAll extends Projection
  final case class SelectItems(items: Seq[SelectItem]) extends Projection
  sealed trait SelectItem
  final case class ItemVar(name: String) extends SelectItem
  /** `(expr AS ?x)` — a projected value expression (spec §16.1.2). */
  final case class ItemExpr(expr: VExpr, as: String) extends SelectItem
  /** `(FUNC([DISTINCT] ?v) AS ?x)` for FUNC ∈ COUNT, SUM, MIN, MAX,
    * AVG, GROUP_CONCAT, SAMPLE; COUNT also takes `*`. COUNT(?v) counts
    * rows where ?v is bound, per SPARQL aggregate semantics; the
    * numeric aggregates operate on the NUMERIC VALUE of literal
    * bindings (exact DECIMAL accumulation — cross-engine-stable for
    * integer inputs; a bare double sum would drift). GROUP_CONCAT
    * joins lexical forms SORTED ascending (the spec leaves order
    * undefined; sorting makes the engine deterministic), SAMPLE
    * returns the lexically-least value for the same reason.
    */
  final case class ItemAgg(func: String, arg: Option[VExpr], as: String,
      isDistinct: Boolean = false, separator: String = " ")
    extends SelectItem

  // HAVING constraints are plain FILTER expressions over the grouped
  // solution — aggregate calls inside them ride the same hidden-column
  // machinery as expression projections (VAgg)

  /** One ORDER BY key (spec §15.1): `?v`, `ASC(expr)`, `DESC(expr)` or
    * a bracketted expression — in a grouped query the expression may
    * contain aggregate calls ([[VAgg]]).
    */
  final case class OrderKey(expr: VExpr, descending: Boolean = false)

  final case class Query(projection: Projection, pattern: Pattern,
      groupBy: Seq[String], having: Seq[FExpr], orderBy: Seq[OrderKey],
      limit: Option[Int], offset: Option[Int], distinct: Boolean,
      from: Seq[Term] = Seq.empty, fromNamed: Seq[Term] = Seq.empty,
      // `GROUP BY (expr AS ?x)` keys: bound onto the solution before
      // aggregation; their aliases also appear in `groupBy`
      groupExprs: Seq[(VExpr, String)] = Seq.empty,
      // trailing VALUES of a GROUPED query (§18.2.4.3): joined after
      // aggregation+HAVING, not into the WHERE pattern — the parser
      // nests it into the pattern only for ungrouped queries, where
      // the two placements are equivalent
      trailingValues: Option[ValuesElem] = None)

  /** Query forms (SPARQL §16): SELECT bindings, ASK boolean,
    * CONSTRUCT instantiated quads.
    */
  sealed trait Request
  final case class SelectReq(q: Query) extends Request
  final case class AskReq(pattern: Pattern) extends Request
  final case class ConstructReq(tpl: Seq[TriplePattern], pattern: Pattern,
      orderBy: Seq[OrderKey] = Seq.empty, limit: Option[Int] = None,
      offset: Option[Int] = None) extends Request
  /** DESCRIBE: resources by IRI and/or variables bound by WHERE;
    * `all` = `DESCRIBE *`: every variable the WHERE pattern binds.
    */
  final case class DescribeReq(nodes: Seq[Node], pattern: Option[Pattern],
      all: Boolean = false)
    extends Request

  /** Per-query evaluation context for the nondeterministic builtins
    * (§17.4.2 / §17.4.5): `NOW()` reads the injected clock — one fixed
    * instant for the whole query, per spec — and `UUID()`/`STRUUID()`/
    * `BNODE()`/`RAND()` derive per-row values from `seed` (each call
    * site gets its own stream). A fixed context makes the query's
    * output reproducible — the oracle-safe form; the no-context
    * [[execute]] overload draws a fresh clock and seed per query,
    * which is the ARQ behavior.
    *
    * `census` is a predicate-cardinality census (lex → count) steering
    * the BGP join order ([[reorderBgpRuns]]); the store maintains one
    * incrementally (`AggView(..., Seq("predicate")).predicateCounts()`).
    * Empty means no statistics.
    */
  final case class EvalContext(
      now: java.time.Instant = java.time.Instant.now(),
      seed: Long = scala.util.Random.nextLong(),
      service: ServiceClient = SparqlService.Http,
      census: Map[String, Long] = Map.empty) {
    private val sites = new java.util.concurrent.atomic.AtomicInteger(0)
    /** A distinct deterministic sub-seed per builtin call site. */
    private[sparql] def nextSiteSeed(): Long =
      seed + 0x9e3779b97f4a7c15L * sites.incrementAndGet()
  }

  // compile-scoped: compileExpr runs eagerly inside execute's dynamic
  // extent, so every builtin in the query reads ONE context; None
  // means "draw a fresh one per query" (clock advances between calls)
  private val evalCtx =
    new scala.util.DynamicVariable[Option[EvalContext]](None)

  private[sparql] def currentCtx: EvalContext =
    evalCtx.value.getOrElse(EvalContext())

  /** [[execute]] with an explicit clock/seed for the nondeterministic
    * builtins — reproducible output for tests and oracles.
    */
  def execute(quads: DataFrame, queryText: String, ctx: EvalContext): DataFrame =
    evalCtx.withValue(Some(ctx))(execute(quads, queryText))

  /** Compile + run a query against a quads DataFrame (columns graph,
    * subject, predicate, obj — [[graft.store.QuadStore.quads]]).
    * SELECT yields one column per projected variable; ASK a single
    * `ask BOOLEAN` row; CONSTRUCT distinct quads columns.
    */
  def execute(quads: DataFrame, queryText: String): DataFrame = {
    def run(): DataFrame = executeParsed(quads, queryText)
    if (evalCtx.value.isDefined) run()
    else evalCtx.withValue(Some(EvalContext()))(run())
  }

  /** The query form of a request — `"select"`, `"ask"`, `"construct"`
    * or `"describe"` — parsed from the full grammar (not a keyword
    * sniff: a prologue may precede the form keyword). The protocol
    * layer ([[graft.server.SparqlHttp]]) picks the response
    * serialization family from this.
    */
  def queryForm(queryText: String): String =
    new Parser(queryText).parseRequest() match {
      case _: SelectReq => "select"
      case _: AskReq => "ask"
      case _: ConstructReq => "construct"
      case _: DescribeReq => "describe"
    }

  /** Protocol-level dataset construction (SPARQL Protocol §2.1.4
    * `default-graph-uri` / `named-graph-uri`): same semantics as the
    * query-level FROM / FROM NAMED clauses.
    */
  def datasetOf(quads: DataFrame, defaultGraphs: Seq[Term],
      namedGraphs: Seq[Term]): DataFrame =
    applyDatasetClause(quads, defaultGraphs, namedGraphs)

  private def executeParsed(quads: DataFrame, queryText: String): DataFrame =
    new Parser(queryText).parseRequest() match {
      case SelectReq(q) => executeSelect(quads, q)
      case AskReq(pattern) =>
        // declarative existence check: LIMIT 1 stops the scan at the
        // first solution, the aggregate turns presence into a boolean
        compile(quads, pattern).select(lit(1).as("x")).limit(1)
          .agg((count(lit(1)) > 0).as("ask"))
      case ConstructReq(tpl, pattern, orderBy, limit, offset) =>
        val sols0 = compile(quads, pattern)
        // solution modifiers apply BEFORE instantiation (§16.2):
        // ORDER BY only observably matters with LIMIT/OFFSET since the
        // constructed graph is a set — the value order as in SELECT
        val resolve = resolverOf(sols0)
        val ordered =
          if (orderBy.isEmpty) sols0
          else sols0.orderBy(orderBy.map { k =>
            val c = TermOps.orderKey(compileExpr(k.expr, resolve))
            if (k.descending) c.desc else c.asc
          }: _*)
        val offsetted = offset.fold(ordered)(ordered.offset)
        val sols = limit.fold(offsetted)(offsetted.limit)
        SparqlTemplates.instantiate(sols, tpl).reduceOption(_.unionByName(_))
          .map(_.dropDuplicates()) // a constructed graph is a SET of quads
          .getOrElse(quads.limit(0).select(Quad.Columns.map(col): _*))
      case DescribeReq(nodes, pattern, all) =>
        // minimal (non-CBD) description: every quad whose subject is a
        // described resource. Constant IRIs become pushable subject
        // filters; WHERE-bound variables a distinct semi-join.
        val consts = nodes.collect { case Const(t) => t }
        val constPart = consts
          .map(t => quads.filter(termEqFields("subject", t)))
          .reduceOption(_.unionByName(_))
        val explicitVars = nodes.collect { case Var(n) => n }
        val varPart = pattern.filter(_ => all || explicitVars.nonEmpty).flatMap { p =>
          val sols = compile(quads, p)
          // DESCRIBE *: every visible variable the pattern bound
          val varNames =
            if (all) sols.columns.filterNot(_.startsWith("#")).toSeq
            else explicitVars
          varNames.filter(sols.columns.contains)
            .map(n => sols.select(col(n).as("s")).filter(col("s").isNotNull))
            .reduceOption(_.unionByName(_)).map(_.distinct())
            .map { subjects =>
              quads.join(subjects, quads("subject") <=> subjects("s"), "left_semi")
            }
        }
        (constPart.toSeq ++ varPart.toSeq).reduceOption(_.unionByName(_))
          .map(_.dropDuplicates())
          .getOrElse(quads.limit(0))
    }

  private def executeSelect(quads: DataFrame, q: Query): DataFrame =
    executeSelectSol(quads, q, asTerms = false).df

  /** FROM / FROM NAMED (spec §13.2): with any dataset clause present,
    * the queried dataset is EXACTLY what the clauses name — the
    * default graph becomes the set-union merge of the FROM graphs
    * (re-labelled to the default graph), and only FROM NAMED graphs
    * remain visible to GRAPH patterns. Pure filters + a union over the
    * same scan — the graph-constant predicates push to parquet.
    */
  private[sparql] def applyDatasetClause(quads: DataFrame, from: Seq[Term],
      fromNamed: Seq[Term]): DataFrame =
    if (from.isEmpty && fromNamed.isEmpty) quads
    else {
      val gType = quads.schema("graph").dataType
      val dflt =
        if (from.isEmpty) quads.limit(0)
        else quads.filter(from.map(termEqFields("graph", _)).reduce(_ || _))
          .withColumn("graph", lit(null).cast(gType))
          .dropDuplicates() // graph MERGE is a set union
      val named =
        if (fromNamed.isEmpty) quads.limit(0)
        else quads.filter(fromNamed.map(termEqFields("graph", _)).reduce(_ || _))
      dflt.unionByName(named)
    }

  /** Evaluate a SELECT query. On the sub-SELECT path (`asTerms`, spec
    * §12) aggregate results must be RDF terms so they can join with
    * outer bindings: MIN/MAX return the ORIGINAL term of the extreme
    * value (`min_by`/`max_by` over the numeric value — semantically
    * exact, an aggregate returns one of its inputs), while COUNT/SUM/
    * AVG build canonical-lexical numeric literals (integer when the
    * value is whole). The top level keeps raw SQL values — the
    * contract the existing verify entries check.
    */
  private def executeSelectSol(quads0: DataFrame, q: Query, asTerms: Boolean): Sol = {
    val quads = applyDatasetClause(quads0, q.from, q.fromNamed)
    val boundSol = compileSol(quads, q.pattern)
    val bound = q.groupExprs.foldLeft(boundSol.df) { case (d, (e, as)) =>
      d.withColumn(as, compileExpr(e, resolverOf(d)))
    }
    def intTerm(c: Column) =
      Term.column(Term.LIT, c.cast("string"), lit(Term.XSD_INTEGER).cast("string"))
    // canonical lex: whole values render as xsd:integer ("24", not
    // "24.0000000000"), so a SUM over integers joins/compares cleanly
    def numTerm(c: Column) = when(c.isNull, lit(null).cast(Term.Schema))
      .when(c % 1 === 0, intTerm(c.cast("long")))
      .otherwise(Term.column(Term.LIT, regexp_replace(c.cast("string"), "0+$", ""),
        lit(Term.XSD_DECIMAL).cast("string")))
    var maybe: Set[String] = Set.empty
    // ORDER BY keys as evaluated against the projected solution; the
    // aggregate branch rewrites embedded aggregate calls to hidden
    // '#agg*' columns it carries through the projection
    var orderKeys: Seq[OrderKey] = q.orderBy
    val projected = q.projection match {
      case SelectAll =>
        maybe = boundSol.maybe
        bound
      case SelectItems(items)
          if q.groupBy.isEmpty && q.having.isEmpty &&
            !items.exists {
              case _: ItemAgg => true
              case ItemExpr(e, _) => aggsOf(e).nonEmpty
              case _ => false
            } && !q.orderBy.exists(k => aggsOf(k.expr).nonEmpty) =>
        val names = items.collect { case ItemVar(n) => n }
        // a projected expression is maybe-unbound unless it cannot error
        val exprMaybe = items.collect {
          case ItemExpr(e, as) => e match {
            case VConst(_) => None
            case VVar(n) if bound.columns.contains(n) &&
              !boundSol.maybe.contains(n) => None
            case _ => Some(as)
          }
        }.flatten
        maybe = (boundSol.maybe intersect names.toSet) ++ exprMaybe
        // a projected expression may reference EARLIER aliases
        // (`SELECT (?a+1 AS ?b) (?b*2 AS ?c)` — ARQ's extend chain):
        // each alias binds onto the working solution left-to-right
        var work = bound
        items.foreach {
          case ItemExpr(e, as) =>
            if (work.columns.contains(as))
              throw new RdfParseException(s"SELECT expression would rebind ?$as")
            work = work.withColumn(as, compileExpr(e, resolverOf(work)))
          case _ => ()
        }
        val cols = items.map {
          case ItemVar(n) =>
            // projecting a variable no pattern binds is legal: unbound
            (if (work.columns.contains(n)) col(n)
             else lit(null).cast(Term.Schema)).as(n)
          case ItemExpr(_, as) => col(as)
          case i => throw new RdfParseException(s"unexpected item $i")
        }
        // ORDER BY evaluates over the PRE-projection solution (§15.1)
        // extended with the aliases above: a key referencing variables
        // the projection drops is computed here as a hidden column.
        // DISTINCT queries must order by projected expressions
        // (§15.3.1), so those stay downstream
        val projNames = items.collect {
          case ItemVar(n) => n
          case ItemExpr(_, as) => as
        }.toSet
        val wCols = work.columns.toSet
        val preOrd = scala.collection.mutable.ArrayBuffer[Column]()
        if (!q.distinct) orderKeys = q.orderBy.zipWithIndex.map { case (k, i) =>
          k.expr match {
            case VVar(n) if projNames.contains(n) => k
            case e if varsOf(e).subsetOf(wCols) =>
              preOrd += compileExpr(e,
                n => if (wCols.contains(n)) col(n)
                     else lit(null).cast(Term.Schema)).as(s"#ord$i")
              k.copy(expr = VVar(s"#ord$i"))
            case _ => k // unknown variables: post-projection (null keys)
          }
        }
        work.select(cols ++ preOrd: _*)
      case SelectItems(items) =>
        // aggregation query: plain projected vars must be GROUP BY keys
        // (SPARQL §18.2.4); COUNT(?v) counts bound rows, COUNT(*) all.
        // An expression projection may mix aggregate calls and group
        // keys (`(SUM(?a)/SUM(?b) AS ?r)`, §18.4) — anything else free
        // in it is an error
        // trailing-VALUES variables join the GROUPED solution
        // (§18.2.4.3), so they are projectable alongside group keys
        val tvVars = q.trailingValues.map(_.vars.toSet).getOrElse(Set.empty)
        items.collect {
          case ItemVar(n) if !q.groupBy.contains(n) && !tvVars.contains(n) => n
        }.foreach(n => throw new RdfParseException(
          s"projected variable ?$n is not in GROUP BY"))
        items.collect { case ItemExpr(e, as) =>
          val frees = varsOf(substAggs(e, _ => VConst(Term.lit(""))))
          (frees -- q.groupBy -- tvVars).foreach(n => throw new RdfParseException(
            s"?$n in expression projection ?$as is neither aggregated nor a GROUP BY key"))
        }
        // raw (SQL-typed) aggregate — also the HAVING form. Arguments
        // are full value expressions (SUM(?a * ?b), MAX(STRLEN(?s)))
        // compiled against the bound solution's columns.
        def argCol(e: VExpr): Column = compileExpr(e, resolverOf(bound))
        // the numeric value, narrowed to the decimal(28,10) that leaves
        // SUM/AVG ten digits of headroom in their decimal(38,…) result
        def argVal(e: VExpr): Column =
          TermOps.numValue(argCol(e)).try_cast("decimal(28,10)")
        def rawAgg(func: String, arg: Option[VExpr], isDistinct: Boolean,
            separator: String): Column = func match {
          case "COUNT" =>
            if (isDistinct) arg.map(e => count_distinct(argCol(e))).getOrElse {
              // COUNT(DISTINCT *): distinct solution tuples — the
              // binding columns packed as one (never-null) struct
              if (bound.columns.isEmpty) count_distinct(lit(1))
              else count_distinct(struct(bound.columns.toIndexedSeq.map(col): _*))
            }
            else arg.fold(count(lit(1)))(e => count(argCol(e)))
          case "SUM" | "AVG" =>
            // §18.5.1.2: Sum over the EMPTY multiset is 0; a non-
            // numeric (or unbound) value anywhere in the group is a
            // type error → the aggregate is unbound. A null numeric
            // value is exactly "this row's argument failed to
            // evaluate numerically", so errors = count of null values.
            // AVG(DISTINCT) = SUM(DISTINCT)/COUNT(DISTINCT) over the
            // numeric values (§18.5.1.5 Avg is Sum/Count over Dx)
            val v = argVal(arg.get)
            val t = if (func == "SUM") "decimal(38,10)" else "decimal(38,14)"
            when(count(when(v.isNull, 1)) > 0, lit(null).cast(t))
              .when(count(lit(1)) === 0, lit(0).cast(t))
              .otherwise(if (func == "SUM") (if (isDistinct) sum_distinct(v) else sum(v))
                else if (isDistinct) sum_distinct(v) / count_distinct(v) else avg(v))
          case "GROUP_CONCAT" =>
            // error-strict like SUM (§18.5.1.7): any argument that
            // failed to evaluate poisons the group; the EMPTY group
            // still concatenates to "" (fn:string-join of no items)
            val term = argCol(arg.get)
            val lex = term.getField("lex")
            when(count(when(term.isNull, 1)) > 0, lit(null).cast("string"))
              .otherwise(array_join(array_sort(
                if (isDistinct) collect_set(lex) else collect_list(lex)), separator))
          case "SAMPLE" => min(argCol(arg.get).getField("lex"))
          case other => throw new RdfParseException(s"unsupported aggregate $other")
        }
        def strTerm(c: Column) = Term.column(Term.LIT, c)
        // term-typed aggregate — the sub-SELECT form, and the form
        // expressions read: MIN/MAX return the ORIGINAL extreme term
        // by the ORDER BY order (§18.5.1: MIN over strings is defined,
        // not null; the order's tie-breaks pick DETERMINISTICALLY among
        // value-equal candidates, never by partition order), COUNT/SUM/
        // AVG canonical numeric literals
        // §18.5.1: an error ANYWHERE in the aggregate's multiset makes
        // the whole aggregate an error — for MIN/MAX/GROUP_CONCAT the
        // only per-row error is an argument that failed to evaluate
        // (unbound variable → null term), so gate on any-null-arg.
        // COUNT is exempt (it counts bound evaluations) and SAMPLE may
        // pick any non-error element.
        def errStrict(arg: Option[VExpr], agg: Column): Column =
          when(count(when(argCol(arg.get).isNull, 1)) > 0,
            lit(null).cast(Term.Schema)).otherwise(agg)
        def termAgg(func: String, arg: Option[VExpr], isDistinct: Boolean,
            sep: String): Column = func match {
          case "COUNT" => intTerm(rawAgg(func, arg, isDistinct, sep))
          case "SUM" | "AVG" => numTerm(rawAgg(func, arg, isDistinct, sep))
          case "MIN" => errStrict(arg, min_by(argCol(arg.get), TermOps.orderKey(argCol(arg.get))))
          case "MAX" => errStrict(arg, max_by(argCol(arg.get), TermOps.orderKey(argCol(arg.get))))
          case "GROUP_CONCAT" =>
            errStrict(arg, strTerm(rawAgg(func, arg, isDistinct, sep)))
          case "SAMPLE" => min_by(argCol(arg.get), argCol(arg.get).getField("lex"))
          case other => throw new RdfParseException(s"unsupported aggregate $other")
        }
        val aggCols = items.collect { case ItemAgg(func, arg, as, isDistinct, sep) =>
          // MIN/MAX return the extreme ORIGINAL TERM even at the top
          // level (strings and dates have a defined MIN; a raw numeric
          // column could not hold them) — COUNT/SUM/AVG/GROUP_CONCAT/
          // SAMPLE keep the raw-SQL-value convenience contract there
          (if (asTerms || func == "MIN" || func == "MAX")
             termAgg(func, arg, isDistinct, sep)
           else rawAgg(func, arg, isDistinct, sep)).as(as)
        }
        // aggregate calls embedded in expressions (projection + ORDER
        // BY) become hidden term-typed columns, deduplicated by call
        val hidden = scala.collection.mutable.LinkedHashMap[VAgg, String]()
        def hiddenName(a: VAgg): String =
          hidden.getOrElseUpdate(a, s"#agg${hidden.size}")
        (items.collect { case ItemExpr(e, _) => e } ++ q.orderBy.map(_.expr))
          .foreach(e => aggsOf(e).foreach(hiddenName))
        q.having.foreach(f => aggsOf(f).foreach(hiddenName))
        val hiddenCols = hidden.toSeq.map { case (a, n) =>
          termAgg(a.func, a.arg, a.isDistinct, a.separator).as(n)
        }
        // a non-COUNT aggregate over no numeric bindings is null ⇒
        // its alias is maybe-unbound for join compatibility; an
        // expression projection may evaluate to error likewise
        val tvUndef = q.trailingValues.map(v => v.vars.zipWithIndex.collect {
          case (n, i) if v.rows.exists(_(i).isEmpty) => n
        }.toSet).getOrElse(Set.empty)
        // a group key is maybe-unbound when the pattern binds it only
        // maybe — or NEVER binds it (legal: one all-null group key,
        // compatible with ANYTHING in the trailing-VALUES join; an
        // intersect with boundSol.maybe alone missed the never-bound
        // case and joined it as sure-bound ⇒ zero rows)
        val groupMaybe = q.groupBy.toSet.filter(n =>
          !boundSol.df.columns.contains(n) || boundSol.maybe.contains(n))
        maybe = groupMaybe ++ tvUndef ++
          items.collect {
            case ItemAgg(func, _, as, _, _)
                if func != "COUNT" && func != "GROUP_CONCAT" => as
            case ItemExpr(_, as) => as
          }
        val allAggs = aggCols ++ hiddenCols
        // a GROUP BY variable the pattern never binds is legal — every
        // solution has it unbound, giving one all-null group key
        val groupCols = q.groupBy.map(n =>
          if (bound.columns.contains(n)) col(n)
          else lit(null).cast(Term.Schema).as(n))
        val grouped =
          if (allAggs.isEmpty) // pure-key projection over a grouped query
            bound.select(groupCols: _*).dropDuplicates()
          else if (q.groupBy.isEmpty) bound.agg(allAggs.head, allAggs.tail: _*)
          else bound.groupBy(groupCols: _*).agg(allAggs.head, allAggs.tail: _*)
        // HAVING: FILTER semantics over the grouped solution — group
        // keys resolve directly, aggregate calls via the hidden columns
        val kept0 = q.having.foldLeft(grouped) { (d, f) =>
          d.filter(compileFilter(substAggs(f, a => VVar(hiddenName(a))), resolverOf(d)))
        }
        // §18.2.4.3: the trailing VALUES data joins the grouped,
        // HAVING-filtered solution — before select expressions — via
        // the standard compatibility join (shared group keys; UNDEF
        // rows are maybe-unbound on the data side)
        val kept = q.trailingValues match {
          case Some(ValuesElem(vvars, vrows)) =>
            val data = vrows.map { r =>
              unitDf(quads).select(vvars.zip(r).map {
                case (v, Some(t)) => Term.column(t).as(v)
                case (v, None) => lit(null).cast(Term.Schema).as(v)
              }: _*)
            }.reduce(_.unionByName(_))
            joinShared(Sol(kept0, groupMaybe),
              Sol(data, tvUndef), "inner").df
          case None => kept0
        }
        // ORDER BY aggregate calls read the hidden columns, which must
        // survive the projection — they are dropped after the sort
        orderKeys = q.orderBy.map(k =>
          k.copy(expr = substAggs(k.expr, a => VVar(hiddenName(a)))))
        val orderHidden = q.orderBy.flatMap(k => aggsOf(k.expr))
          .distinct.map(a => col(hiddenName(a)))
        kept.select((items.map {
          case ItemVar(n) => col(n)
          case ItemAgg(_, _, as, _, _) => col(as)
          case ItemExpr(e, as) =>
            compileExpr(substAggs(e, a => VVar(hiddenName(a))), resolverOf(kept)).as(as)
        } ++ orderHidden): _*)
    }
    // hidden '#'-prefixed sort columns are invisible to DISTINCT and
    // dropped once the sort is done
    val visible = projected.columns.filterNot(_.startsWith("#")).toIndexedSeq
    val distinct =
      if (!q.distinct) projected
      else if (visible.length == projected.columns.length) projected.dropDuplicates()
      else projected.dropDuplicates(visible)
    var sortInput = distinct
    val sortCols: Seq[Column] = orderKeys.zipWithIndex.map { case (k, i) =>
      val key = k.expr match {
        case VVar(n) if sortInput.columns.contains(n) =>
          if (Term.isStruct(sortInput.schema(n).dataType)) TermOps.orderKey(col(n))
          else col(n) // raw SQL aggregate alias (top level)
        case e =>
          // expression key: materialize as a hidden column so the sort
          // stays a plain Exchange+Sort over precomputed keys
          val name = s"#ord$i"
          sortInput = sortInput.withColumn(name, compileExpr(e, resolverOf(sortInput)))
          TermOps.orderKey(col(name))
      }
      if (k.descending) key.desc else key.asc
    }
    val ordered = if (sortCols.isEmpty) sortInput else sortInput.orderBy(sortCols: _*)
    val offsetted = q.offset.fold(ordered)(ordered.offset)
    val limited = q.limit.fold(offsetted)(offsetted.limit)
    val hiddenLeft = limited.columns.filter(_.startsWith("#")).toIndexedSeq
    Sol(if (hiddenLeft.isEmpty) limited else limited.drop(hiddenLeft: _*), maybe)
  }

  // --- compiler -------------------------------------------------------------

  /** The empty solution: one row, no bindings — the identity of the
    * SPARQL join, and what `{ OPTIONAL {..} BIND(..) }` starts from
    * (the reference's dataset-name probe is exactly that shape,
    * KafkaConnectorAssembler.java:380-411).
    */
  private[sparql] def unitDf(quads: DataFrame): DataFrame =
    quads.sparkSession.range(1).drop("id")

  /** A compiled binding set plus the variables that may be UNBOUND
    * (null) in some row — introduced by OPTIONAL, UNION branch gaps,
    * VALUES UNDEF, or a BIND that can evaluate to error. Joins need
    * the distinction: SPARQL join compatibility (§18.3) treats an
    * unbound variable as compatible with anything, so a maybe-unbound
    * shared variable joins with an OR-null condition and merges via
    * COALESCE, while sure-bound variables keep plain null-safe
    * equality — which Catalyst plans as hash-join keys. Only patterns
    * that CAN produce unbound pay the non-equi price.
    *
    * `nonNull` ⊆ sure-bound vars whose column provably never holds a
    * NULL struct: vars bound at a top-level s/p/o slot of a triple
    * pattern (a quad row's s/p/o are never null — store invariant), a
    * `GRAPH ?g` binding (named graphs only), path endpoints, VALUES
    * vars with no UNDEF, constant BINDs. Joins on such a var use plain
    * `===` instead of `<=>` — identical semantics when either side
    * cannot be null, but the join keys stay RAW COLUMNS, which is what
    * lets a subject-bucketed table layout satisfy the join's required
    * distribution and run multi-leaf BGP stars with ZERO exchanges
    * (`<=>` compiles to coalesce/isnull keys, which disqualify
    * bucketed scans). Tracking is conservative: an empty set is always
    * safe and falls back to `<=>`.
    */
  private[sparql] final case class Sol(df: DataFrame, maybe: Set[String],
      nonNull: Set[String] = Set.empty)

  private def compile(quads: DataFrame, pattern: Pattern): DataFrame =
    compileSol(quads, pattern).df

  /** Join-order heuristic for BGPs. Inner joins of triple patterns are
    * commutative, but the compiler folds them in author order and
    * Catalyst never reorders them (no table stats, CBO off), so at
    * scale a constant-bound pattern written LAST makes every earlier
    * join materialize its full intermediate first. Each maximal
    * consecutive run of plain triple patterns is reordered greedily:
    * start from the most constant-bound pattern, then repeatedly take
    * the most constant-bound pattern CONNECTED to the variables bound
    * so far (keeping disconnected components — cross joins — last),
    * author order breaking ties so plans stay deterministic. Runs
    * never cross OPTIONAL/MINUS/BIND/VALUES/sub-select boundaries:
    * left joins don't commute, and a pattern may legally share a
    * variable with a later BIND target (§10.1) only on its own side
    * of the BIND.
    *
    * `census` (the query's [[EvalContext]] census) makes the order
    * COST-BASED where Catalyst has no statistics at all (these are
    * self-joins of one DataFrame; CBO never sees them). It is treated
    * as complete: a predicate absent from a non-empty census estimates
    * to ZERO rows (its leaf empties the whole join — the best possible
    * first pick). Staleness only affects ordering, never results.
    */
  private[sparql] def reorderBgpRuns(elems: Seq[GroupElem],
      census: Map[String, Long] = Map.empty): Seq[GroupElem] = {
    val out = Seq.newBuilder[GroupElem]
    val run = scala.collection.mutable.ArrayBuffer.empty[GroupElem]
    def flush(): Unit = { out ++= reorderJoinRun(run.toSeq, census); run.clear() }
    elems.foreach {
      case e @ (PatElem(_) | PathElem(_, _, _, _)) => run += e
      case other => flush(); out += other
    }
    flush()
    out.result()
  }

  /** Spec-convenience wrapper over [[reorderJoinRun]] for plain BGPs. */
  private[sparql] def reorderBgp(tps: Seq[TriplePattern],
      census: Map[String, Long] = Map.empty): Seq[TriplePattern] =
    reorderJoinRun(tps.map(PatElem.apply), census).collect { case PatElem(tp) => tp }

  // blank-node labels are non-distinguished VARIABLES (deblank): they
  // carry connectivity and are never constants
  private def runVars(n: Node): Seq[String] = nodeVars(deblank(n))
  private def isConstNode(n: Node): Boolean = runVars(n).isEmpty
  private def runElemVars(e: GroupElem): Set[String] = e match {
    case PatElem(tp) =>
      (tp.graph.toSeq ++ Seq(tp.s, tp.p, tp.o)).flatMap(runVars).toSet
    case PathElem(g, s, _, o) => (g.toSeq ++ Seq(s, o)).flatMap(runVars).toSet
    case _ => Set.empty
  }
  // constant subjects/objects bind to few rows; a constant predicate
  // alone still selects a whole predicate class (though the store's
  // predicate-clustered buckets make it cheap to scan)
  private def runElemScore(e: GroupElem): Int = e match {
    case PatElem(tp) =>
      (if (isConstNode(tp.s)) 4 else 0) + (if (isConstNode(tp.o)) 3 else 0) +
        (if (isConstNode(tp.p)) 2 else 0) +
        (if (tp.graph.exists(isConstNode)) 1 else 0)
    case PathElem(g, s, _, o) =>
      (if (isConstNode(s)) 4 else 0) + (if (isConstNode(o)) 3 else 0) +
        (if (g.exists(isConstNode)) 1 else 0)
    case _ => 0
  }

  /** Estimated leaf cardinality from the predicate census `stats`:
    * the count of a constant-IRI predicate (absent from a non-empty
    * census = 0 — the census is complete), MaxValue when unknowable
    * (variable predicate, closure path, no census). Only a
    * same-boundedness-class tie-break: a constant object still beats
    * a merely-rare predicate.
    */
  private def runElemEst(e: GroupElem, stats: Map[String, Long]): Long = {
    if (stats.isEmpty) Long.MaxValue
    else e match {
      case PatElem(tp) => tp.p match {
        case Const(t) if t != null && t.isIri => stats.getOrElse(t.lex, 0L)
        case _ => Long.MaxValue
      }
      case PathElem(_, _, p, _) => pathEst(p, stats)
      case _ => Long.MaxValue
    }
  }

  private def satAdd(a: Long, b: Long): Long = {
    val s = a + b
    if (s < a || s < b) Long.MaxValue else s
  }

  /** Edge-relation cardinality of a path whose shape the census can
    * bound: a link is its predicate count, inverse preserves it,
    * alternative is a bag union (sum), a negated set is the census
    * total minus the excluded predicates per direction listed.
    * Closures, sequences, and `?` stay MaxValue — their pair count is
    * not derivable from per-predicate counts.
    */
  private def pathEst(p: PathExpr, stats: Map[String, Long]): Long = p match {
    case PLink(t) => stats.getOrElse(t.lex, 0L)
    case PInv(q) => pathEst(q, stats)
    case PAlt(l, r) => satAdd(pathEst(l, stats), pathEst(r, stats))
    case PNeg(fwd, inv) =>
      val total = stats.values.foldLeft(0L)(satAdd)
      def rem(ts: Seq[Term]): Long =
        math.max(0L, total - ts.map(t => stats.getOrElse(t.lex, 0L)).sum)
      satAdd(if (fwd.nonEmpty) rem(fwd) else 0L,
        if (inv.nonEmpty) rem(inv) else 0L)
    case _ => Long.MaxValue
  }

  private def reorderJoinRun(es: Seq[GroupElem],
      census: Map[String, Long]): Seq[GroupElem] =
    if (es.size <= 1) es
    else {
      val remaining = scala.collection.mutable.ArrayBuffer(es.zipWithIndex: _*)
      val picked = Seq.newBuilder[GroupElem]
      var bound = Set.empty[String]
      while (remaining.nonEmpty) {
        val connected = remaining.filter { case (e, _) =>
          runElemVars(e).intersect(bound).nonEmpty }
        val pool = if (connected.nonEmpty) connected else remaining
        val (e, i) = pool.minBy { case (t, j) =>
          (-runElemScore(t), runElemEst(t, census), j) }
        picked += e
        bound ++= runElemVars(e)
        remaining -= ((e, i))
      }
      picked.result()
    }

  /** A blank node label in a query pattern is a NON-DISTINGUISHED
    * variable, not a term constant (§4.1.4: "Blank node labels are
    * scoped to a ... query, and act as variables that cannot be
    * selected"): same label = same variable, '#'-prefixed so it stays
    * invisible to SELECT * / DISTINCT like the [] sugar variables.
    * Applied at the BGP/path leaves so CONSTRUCT / update templates —
    * where a blank label DOES denote a (per-solution-fresh) blank node
    * — keep their Const form for [[instantiate]].
    */
  private def deblank(n: Node): Node = n match {
    case Const(t) if t != null && t.isBlank => Var("#bn:" + t.lex)
    case QTriple(s, p, o) => QTriple(deblank(s), deblank(p), deblank(o))
    case other => other
  }
  private def deblankTp(tp: TriplePattern): TriplePattern =
    TriplePattern(tp.graph.map(deblank), deblank(tp.s), deblank(tp.p),
      deblank(tp.o))

  /** `seed`: the active-graph-names relation threaded through every
    * sub-group evaluation under `GRAPH ?var` — §18.2.5.1 evaluates the
    * whole group once per named graph, so even a bare row produced by
    * a leading OPTIONAL (or a nested group's left join) must carry the
    * graph binding. Seeding each group's accumulator with the bound
    * names relation is that per-graph evaluation, vectorized.
    */
  private[sparql] def compileSol(quads: DataFrame, pattern: Pattern,
      seed: Option[Sol] = None): Sol = pattern match {
    case Union(branches) =>
      // branches may bind different variable sets (e.g. ?g only under
      // GRAPH); SPARQL leaves the others unbound → null columns
      val sols = branches.map(compileSol(quads, _, seed))
      val allVars = sols.flatMap(_.df.columns).toSet
      val df = sols.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
      Sol(df, sols.flatMap(s => s.maybe ++ (allVars -- s.df.columns)).toSet,
        sols.map(_.nonNull).reduceLeft(_ intersect _))
    case Group(elems) =>
      val termType = quads.schema("subject").dataType
      // acc == None until the first binding element, so a leading
      // OPTIONAL/BIND operates on the empty solution, not on zero rows
      // (or, seeded under GRAPH ?var, on the graph-names relation)
      var acc: Option[Sol] = seed
      def cur: Sol = acc.getOrElse(Sol(unitDf(quads), Set.empty))
      // FILTER scopes over the WHOLE group regardless of position
      // (spec §17.2) — binding elements first, filters at the end; a
      // filter variable no element binds is an error ⇒ row dropped
      val filters = elems.collect { case FilterElem(f) => f }
      val existsElems = elems.collect { case e: ExistsElem => e }
      val bindingElems = elems.filterNot(e =>
        e.isInstanceOf[FilterElem] || e.isInstanceOf[ExistsElem])
      reorderBgpRuns(bindingElems, currentCtx.census).foreach {
        case PatElem(tp) =>
          val (pdf, leafNonNull) = compilePattern(quads, deblankTp(tp))
          val next = Sol(pdf, Set.empty, leafNonNull)
          acc = Some(acc.fold(next)(d => joinShared(d, next, "inner")))
        case OptElem(inner) =>
          // LeftJoin-condition semantics (§18.2.2.2): an inner filter
          // whose variables are NOT all bound inside the optional
          // group becomes part of the left-join condition, evaluated
          // with the left solution visible — compiling it inside the
          // group would read those outer variables as unbound
          val (innerSol, joinFilters) = inner match {
            case Group(es) =>
              val fs = es.collect { case FilterElem(f) => f }
              val rest = es.filterNot(_.isInstanceOf[FilterElem])
              val sol0 = compileSol(quads, Group(rest), seed)
              // local evaluation (inside the group, before the join)
              // is an optimization of the LeftJoin-condition semantics
              // and is only sound when every filter variable's MERGED
              // value provably equals its inner value: it must be an
              // inner column, and not maybe-unbound inner while ALSO
              // bound on the left (there the merge would take the
              // left's value where the inner is null — a local read
              // sees null instead)
              val outerCols0 = cur.df.columns.toSet
              def localOk(f: FExpr): Boolean = {
                val vs = varsOf(f)
                vs.subsetOf(sol0.df.columns.toSet) &&
                  vs.forall(v => !(sol0.maybe.contains(v) && outerCols0.contains(v)))
              }
              val (local, joined) = fs.partition(localOk)
              // EXISTS operands inside an OPTIONAL's filters: §18.2.2.2
              // evaluates the filter as part of the LeftJoin condition
              // with the LEFT solution visible. The local rewrite sees
              // only the optional group's bindings, so an EXISTS whose
              // inner pattern could correlate with an OUTER variable —
              // or one in a filter that itself references outer
              // variables (compiled into the join condition, where no
              // mark column exists) — gets a clear error instead of a
              // silently-uncorrelated answer.
              val outerCols = cur.df.columns.toSet
              val innerCols = sol0.df.columns.toSet
              fs.foreach { f =>
                val exs = existsOf(f)
                if (exs.nonEmpty) {
                  if (!localOk(f))
                    throw new RdfParseException(
                      "EXISTS inside an OPTIONAL filter that also references " +
                      "variables bound outside the optional group is not " +
                      "supported — lift the filter out of the OPTIONAL")
                  exs.foreach { ex =>
                    val corr = patternVars(ex.inner)
                      .intersect(outerCols) -- innerCols
                    if (corr.nonEmpty)
                      throw new RdfParseException(
                        "EXISTS inside OPTIONAL correlating with outer " +
                        s"variable(s) ${corr.map("?" + _).mkString(", ")} is " +
                        "not supported — lift the filter out of the OPTIONAL")
                  }
                }
              }
              (local.foldLeft(sol0)((a, f) => applyFilter(quads, a, f, seed)),
                joined)
            case other => (compileSol(quads, other, seed), Seq.empty[FExpr])
          }
          acc = Some(joinShared(cur, innerSol, "left_outer", joinFilters))
        case BindElem(expr, as) =>
          val base = cur
          if (base.df.columns.contains(as))
            throw new RdfParseException(s"BIND would rebind ?$as")
          // the bound value is sure only when the expression cannot
          // evaluate to error/null
          val sure = expr match {
            case VConst(_) => true
            case VVar(n) => base.df.columns.contains(n) && !base.maybe.contains(n)
            case _ => false
          }
          val bindNonNull = expr match {
            case VConst(_) => base.nonNull + as
            case VVar(n) if base.nonNull.contains(n) => base.nonNull + as
            case _ => base.nonNull
          }
          acc = Some(Sol(base.df.withColumn(as, compileExpr(expr, resolverOf(base.df))),
            if (sure) base.maybe else base.maybe + as, bindNonNull))
        case MinusElem(inner) =>
          // under a seeded GRAPH ?var block the seed's variable joins
          // (same-graph restriction) but is excluded from the §18.5
          // domain-overlap test — see minusJoin
          acc = Some(minusJoin(cur, compileSol(quads, inner, seed),
            seed.map(_.df.columns.toSet).getOrElse(Set.empty)))
        case NestedElem(p) =>
          val inner = compileSol(quads, p, seed)
          acc = Some(acc.fold(inner)(d => joinShared(d, inner, "inner")))
        case SubSelectElem(q) =>
          val inner = executeSelectSol(quads, q, asTerms = true)
          acc = Some(acc.fold(inner)(d => joinShared(d, inner, "inner")))
        case se: ServiceElem =>
          val next = SparqlService.serviceSol(quads, cur, se)
          acc = Some(acc.fold(next)(d => joinShared(d, next, "inner")))
        case GraphElem(g, inner) =>
          val pushed = pushGraph(inner, g)
          // GRAPH ?var: seed the inner evaluation with the bound
          // named-graph names so bare rows carry the binding (the
          // distinct-names relation is tiny — graph count, not quad
          // count — and broadcast-joins against everything downstream)
          val innerSeed = g match {
            case Var(v) => Some(Sol(
              quads.filter(col("graph").isNotNull)
                .select(col("graph").as(v)).distinct(),
              Set.empty, Set(v)))
            case _ => None
          }
          val rhs = compileSol(quads, pushed, innerSeed)
          acc = Some(acc.fold(rhs)(d => joinShared(d, rhs, "inner")))
        case FilterElem(_) | ExistsElem(_, _) => () // handled below
        case ValuesElem(vars, rows) =>
          val df = rows.map { r =>
            unitDf(quads).select(vars.zip(r).map {
              case (v, Some(t)) => Term.column(t).as(v)
              case (v, None) => lit(null).cast(termType).as(v)
            }: _*)
          }.reduce(_.unionByName(_))
          val undef = vars.zipWithIndex
            .collect { case (v, i) if rows.exists(_(i).isEmpty) => v }.toSet
          val data = Sol(df, undef, vars.toSet -- undef)
          acc = Some(acc.fold(data)(d => joinShared(d, data, "inner")))
        case PathElem(graph, s0, path, o0) =>
          val (s, o) = (deblank(s0), deblank(o0))
          var pairs = seededPathPairs(quads, graph, path, s, o)
            .getOrElse(pathPairs(quads, graph, path))
          // (constant quoted triples arrive as Const and filter like
          // any term; a variable-carrying QTriple endpoint is out of
          // this subset — fail loudly rather than dropping it)
          Seq(s, o).foreach {
            case QTriple(_, _, _) => throw new RdfParseException(
              "quoted-triple patterns are not supported as property-path endpoints")
            case _ => ()
          }
          s match {
            case Const(t) => pairs = pairs.filter(col("ps") <=> Term.column(t))
            case _ => ()
          }
          o match {
            case Const(t) => pairs = pairs.filter(col("po") <=> Term.column(t))
            case _ => ()
          }
          // zero-length-capable path with a CONSTANT endpoint: the
          // term matches itself even when absent from the graph
          // (identityPairs only covers the graph's own node set).
          // Post-filter, so the union + dedup touch the already-tiny
          // constant-bound relation, never the full pair relation.
          if (pathZeroLength(path)) {
            val cterm = (s, o) match {
              case (Const(a2), Const(b2)) => if (a2 == b2) Some(a2) else None
              case (Const(a2), _) => Some(a2)
              case (_, Const(b2)) => Some(b2)
              case _ => None
            }
            cterm.foreach { t =>
              val tl = Term.column(t)
              val extra =
                if (pathGrouped(graph))
                  // under GRAPH ?var the zero-length match holds in
                  // EVERY named graph
                  scopedQuads(quads, graph).select(col("graph").as("pg"))
                    .distinct().select(col("pg"), tl.as("ps"), tl.as("po"))
                else quads.sparkSession.range(1)
                  .select(tl.as("ps"), tl.as("po"))
              // add-if-missing (NOT union+distinct: a zero-length-
              // capable path can still carry legitimate duplicate
              // multiplicities, e.g. overlapping alternative branches,
              // which a blanket distinct would collapse)
              pairs = pairs.unionByName(extra.except(pairs))
            }
          }
          // endpoint slots plus, under GRAPH ?var, the graph binding;
          // a repeated variable forces equality and projects once
          val slots = Seq(s -> "ps", o -> "po") ++
            graph.collect { case v: Var => (v: Node) -> "pg" }
          val varSlots = slots.collect { case (Var(n), c) => (n, c) }
          varSlots.groupBy(_._1).values.filter(_.size > 1).foreach { dup =>
            dup.sliding(2).foreach {
              case Seq((_, c1), (_, c2)) => pairs = pairs.filter(col(c1) <=> col(c2))
              case _ => ()
            }
          }
          val proj = varSlots.toMap
          val bound = Sol(
            pairs.select(proj.toSeq.map { case (n, c) => col(c).as(n) }: _*),
            Set.empty,
            // endpoint pairs come from quad s/o slots (never null);
            // pg stays unmarked (conservative)
            varSlots.collect { case (n, c) if c != "pg" => n }.toSet)
          acc = Some(acc.fold(bound)(d => joinShared(d, bound, "inner")))
      }
      filters.foreach(f => acc = Some(applyFilter(quads, cur, f, seed)))
      existsElems.foreach(e =>
        acc = Some(existsJoin(cur, compileSol(quads, e.inner, seed), e.positive)))
      cur
  }

  /** Scope every leaf pattern of `p` that has no explicit graph to the
    * active graph `g`, recursing through all group elements EXCEPT
    * nested GRAPH blocks (they establish their own active graph) and
    * SERVICE (evaluated remotely — the active graph does not travel).
    * `GRAPH g { … }` and an update's `WITH <g>` both scope through it.
    */
  private[sparql] def pushGraph(p: Pattern, g: Node): Pattern = p match {
    case Group(es) => Group(es.map(pushGraphElem(_, g)))
    case Union(bs) => Union(bs.map(pushGraph(_, g)))
  }

  private def pushGraphElem(e: GroupElem, g: Node): GroupElem = e match {
    case PatElem(tp) if tp.graph.isEmpty => PatElem(tp.copy(graph = Some(g)))
    case pe: PathElem if pe.graph.isEmpty => pe.copy(graph = Some(g))
    case OptElem(inner) => OptElem(pushGraph(inner, g))
    case NestedElem(pp) => NestedElem(pushGraph(pp, g))
    case MinusElem(inner) => MinusElem(pushGraph(inner, g))
    case ExistsElem(inner, pos) => ExistsElem(pushGraph(inner, g), pos)
    case SubSelectElem(q) => g match {
      case Var(v) => SubSelectElem(rewriteSubSelectForGraphVar(q, v, g))
      case _ => SubSelectElem(q.copy(pattern = pushGraph(q.pattern, g)))
    }
    // a FILTER's leaf patterns live in embedded [NOT] EXISTS operands
    case FilterElem(f) => FilterElem(transform(f) {
      case FExists(inner, pos) => FExists(pushGraph(inner, g), pos)
    })
    // BIND/VALUES carry no leaf patterns; a nested GraphElem and
    // SERVICE keep their own scope
    case other => other
  }

  /** Rewrite a sub-SELECT under `GRAPH ?v` into its per-graph form:
    * the active graph is pushed onto the pattern leaves, ?v joins the
    * projection, and an aggregating subquery additionally groups on
    * ?v — §18.2.5.1's per-graph evaluation expressed as one grouped
    * query over all graphs at once. Shapes whose per-graph semantics
    * this rewrite cannot express are rejected with a clear error
    * instead of a silently wrong answer:
    *  - the subquery already uses ?v (the rewrite would capture it);
    *  - ORDER BY / LIMIT / OFFSET / trailing VALUES (a per-graph
    *    slice is not one global slice);
    *  - an ungrouped aggregate head (`SELECT (COUNT(*) AS ?c)`):
    *    §18.2.4 gives EVERY graph a row — count 0 for a graph with
    *    no matches — which grouping on ?v cannot produce.
    */
  private def rewriteSubSelectForGraphVar(q: Query, v: String, g: Node): Query = {
    def err(what: String): Nothing = throw new RdfParseException(
      s"$what inside a sub-SELECT under GRAPH ?$v is not supported — " +
      "use a constant graph")
    val projected = q.projection match {
      case SelectAll => Seq.empty
      case SelectItems(items) => items.map {
        case ItemVar(n) => n
        case ItemExpr(_, as) => as
        case ItemAgg(_, _, as, _, _) => as
        case other => sys.error(s"unexpected item $other")
      }
    }
    if (patternVars(q.pattern).contains(v) || projected.contains(v) ||
        q.groupBy.contains(v))
      err(s"a use of the graph variable ?$v")
    if (q.orderBy.nonEmpty || q.limit.isDefined || q.offset.isDefined)
      err("ORDER BY / LIMIT / OFFSET")
    if (q.trailingValues.isDefined) err("trailing VALUES")
    val hasAgg = q.groupBy.nonEmpty || q.having.nonEmpty ||
      (q.projection match {
        case SelectItems(items) => items.exists {
          case _: ItemAgg => true
          case ItemExpr(e, _) => aggsOf(e).nonEmpty
          case _ => false
        }
        case SelectAll => false
      })
    if (hasAgg && q.groupBy.isEmpty) err("an ungrouped aggregate head")
    val pushed = q.copy(pattern = pushGraph(q.pattern, g))
    q.projection match {
      case SelectAll => pushed // the pushed pattern binds ?v; * keeps it
      case SelectItems(items) => pushed.copy(
        projection = SelectItems(items :+ ItemVar(v)),
        groupBy = if (hasAgg) q.groupBy :+ v else q.groupBy)
    }
  }

  /** Shared-variable join compatibility (§18.3) as a join condition:
    * sure-bound vars are plain null-safe equality (hash-join keys) —
    * upgraded to raw `===` when either side is provably non-null
    * ([[Sol.nonNull]]; `<=>` and `===` differ only when BOTH sides are
    * null), keeping the keys bucketed-layout-compatible; maybe-unbound
    * vars add the unbound-matches-anything disjuncts.
    */
  private[sparql] def compatCond(l: Sol, r: Sol): Column = {
    val shared = l.df.columns.toSet intersect r.df.columns.toSet
    shared.toSeq.map { c =>
      if (l.maybe.contains(c) || r.maybe.contains(c))
        col(s"l.$c") <=> col(s"r.$c") ||
          col(s"l.$c").isNull || col(s"r.$c").isNull
      else if (l.nonNull.contains(c) || r.nonNull.contains(c))
        col(s"l.$c") === col(s"r.$c")
      else col(s"l.$c") <=> col(s"r.$c")
    }.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** FILTER EXISTS / NOT EXISTS → left_semi / left_anti join. With no
    * shared variables the condition degenerates to `true`, i.e. pure
    * pattern-nonemptiness — exactly the spec's substitution semantics
    * for that case.
    */
  private def existsJoin(l: Sol, r: Sol, positive: Boolean): Sol =
    Sol(l.df.alias("l").join(r.df.alias("r"), compatCond(l, r),
      if (positive) "left_semi" else "left_anti"), l.maybe, l.nonNull)

  /** MINUS (§18.5): anti join, but a right solution only removes a left
    * one when at least one shared variable is bound on BOTH sides; with
    * no shared variables nothing is removed. When every shared var is
    * sure-bound the overlap guard is identically true and is omitted,
    * keeping the anti join hash-joinable.
    *
    * `exclude`: variables that do NOT count for the §18.5 domain-
    * overlap test (though they still join in the compatibility
    * condition). Under `GRAPH ?var` the pushed graph variable is such:
    * the spec evaluates both MINUS sides under the same active graph
    * and only then adds the graph binding, so ?var correctly RESTRICTS
    * the right side to the row's own graph but must not make
    * domain-disjoint sides start subtracting.
    */
  private def minusJoin(l: Sol, r: Sol, exclude: Set[String] = Set.empty): Sol = {
    val shared = l.df.columns.toSet intersect r.df.columns.toSet
    val overlap = shared -- exclude
    if (overlap.isEmpty) l
    else {
      val allSure = overlap.forall(c => !l.maybe.contains(c) && !r.maybe.contains(c))
      val cond =
        if (allSure) compatCond(l, r)
        else compatCond(l, r) && overlap.toSeq
          .map(c => col(s"l.$c").isNotNull && col(s"r.$c").isNotNull)
          .reduce(_ || _)
      Sol(l.df.alias("l").join(r.df.alias("r"), cond, "left_anti"),
        l.maybe, l.nonNull)
    }
  }


  /** SPARQL join of two binding sets (`left_outer` for OPTIONAL).
    * Sure-bound shared variables join with null-safe equality
    * (default-graph bindings are NULL structs, so `<=>` rather than
    * `=` is load-bearing) — Catalyst treats these as hash-join keys.
    * MAYBE-unbound shared variables use full join compatibility
    * (§18.3: unbound matches anything): `l <=> r || l IS NULL ||
    * r IS NULL`, merged with COALESCE. With no shared variables the
    * condition degenerates to `true` — a cross join, or for OPTIONAL
    * the guaranteed-at-least-one-row extension.
    */
  private def joinShared(l: Sol, r: Sol, how: String,
      extraFilters: Seq[FExpr] = Seq.empty): Sol = {
    val shared = l.df.columns.toSet intersect r.df.columns.toSet
    def eitherMaybe(c: String) = l.maybe.contains(c) || r.maybe.contains(c)
    val a = l.df.alias("l")
    val b = r.df.alias("r")
    val conds = shared.toSeq.map { c =>
      if (eitherMaybe(c))
        col(s"l.$c") <=> col(s"r.$c") ||
          col(s"l.$c").isNull || col(s"r.$c").isNull
      else if (l.nonNull.contains(c) || r.nonNull.contains(c))
        col(s"l.$c") === col(s"r.$c")
      else col(s"l.$c") <=> col(s"r.$c")
    }
    // extra join-level filters (OPTIONAL's LeftJoin condition) see the
    // MERGED candidate solution: shared vars take the merged value,
    // left-only from l, right-only from r
    val mergedResolve: String => Column = n =>
      if (shared.contains(n) && l.maybe.contains(n))
        coalesce(col(s"l.$n"), col(s"r.$n"))
      else if (l.df.columns.contains(n)) col(s"l.$n")
      else if (r.df.columns.contains(n)) col(s"r.$n")
      else lit(null).cast(Term.Schema)
    val cond = (conds ++ extraFilters.map(compileFilter(_, mergedResolve)))
      .reduceOption(_ && _).getOrElse(lit(true))
    val keep = l.df.columns.map { c =>
      if (shared.contains(c) && l.maybe.contains(c))
        coalesce(col(s"l.$c"), col(s"r.$c")).as(c)
      else col(s"l.$c")
    } ++ r.df.columns.filterNot(shared.contains).map(c => col(s"r.$c"))
    val df = a.join(b, cond, how).select(keep: _*)
    // post-join unboundness: an inner join fills a maybe var from the
    // other side unless BOTH sides can be unbound; a left join keeps
    // the left status and makes every right-only var optional
    val maybe = how match {
      case "left_outer" => l.maybe ++ (r.df.columns.toSet -- shared)
      case _ =>
        l.maybe.filter(v => !shared.contains(v) || r.maybe.contains(v)) ++
          r.maybe.filter(v => !shared.contains(v) || l.maybe.contains(v))
    }
    // a left join keeps only the left side's guarantees (right-only
    // vars can be null-extended); an inner join joins shared non-null
    // vars with === so either side's guarantee carries over
    val nonNull = how match {
      case "left_outer" => l.nonNull -- maybe
      case _ => (l.nonNull ++ r.nonNull) -- maybe
    }
    Sol(df, maybe, nonNull)
  }



  /** Whether a pattern contains a SERVICE element anywhere (including
    * inside OPTIONAL/MINUS/EXISTS/sub-SELECT) — the update layer and
    * security-posture checks need to see through nesting.
    */
  private[sparql] def containsService(p: Pattern): Boolean = p match {
    case Union(branches) => branches.exists(containsService)
    case Group(elems) => elems.exists {
      case _: ServiceElem => true
      case OptElem(inner) => containsService(inner)
      case NestedElem(pp) => containsService(pp)
      case GraphElem(_, inner) => containsService(inner)
      case MinusElem(inner) => containsService(inner)
      case ExistsElem(inner, _) => containsService(inner)
      case SubSelectElem(q) => containsService(q.pattern)
      case FilterElem(f) => existsOf(f).exists(e => containsService(e.inner))
      case _ => false
    }
  }

  /** Solve a graph pattern to a bindings DataFrame (one column per
    * variable) — the WHERE-clause engine shared with [[SparqlUpdate]].
    */
  private[sparql] def solve(quads: DataFrame, pattern: Pattern): DataFrame =
    compile(quads, pattern)

  /** Constant-term match as LEAF-FIELD comparisons rather than one
    * struct <=>: parquet cannot evaluate a struct equality against
    * row-group statistics, but `subject.lex = '…'` maps to a column
    * predicate on the leaf and skips row groups/pages at 100 TB.
    */
  private[sparql] def termEqFields(c: String, t: Term): Column =
    col(s"$c.termType") === t.termType && col(s"$c.lex") === t.lex &&
      col(s"$c.datatype") <=> lit(t.datatype).cast("string") &&
      col(s"$c.lang") <=> lit(t.lang).cast("string")

  /** One triple pattern → filtered projection with one column per
    * variable. Constant terms become null-safe comparisons on the term
    * struct fields (pushable); the graph scope is [[scopedQuads]]'s.
    * Returns the bindings DataFrame plus the vars bound at a TOP-LEVEL
    * quad slot — provably non-null (see [[Sol.nonNull]]); vars
    * destructured out of quoted-triple components are excluded (a
    * malformed triple lex extracts to null).
    */
  private def compilePattern(quads: DataFrame,
      tp: TriplePattern): (DataFrame, Set[String]) = {
    var df = scopedQuads(quads, tp.graph)
    val slots: Seq[(String, Node)] = Seq(
      "subject" -> tp.s, "predicate" -> tp.p, "obj" -> tp.o) ++
      tp.graph.collect { case v: Var => "graph" -> (v: Node) }
    // walk each slot: top-level constants stay LEAF-FIELD filters
    // (parquet-pushable); SPARQL-star quoted-triple patterns narrow to
    // termType='triple' (still a leaf predicate) then destructure via
    // TermStar component extraction — variable bindings collect as
    // (name, column-expression) pairs either way
    val binds = scala.collection.mutable.ArrayBuffer[(String, Column)]()
    def walk(c: Column, n: Node): Unit = n match {
      case Const(t) =>
        // ONE struct comparison, not four field reads: `c` may be a
        // component-extraction expression, and field-wise compare
        // would re-parse the quoted lex once per field
        df = df.filter(c <=> Term.column(t))
      case Var(n0) => binds += n0 -> c
      case QTriple(s, p, o) =>
        df = df.filter(c.getField("termType") === Term.TRIPLE)
        walk(graft.functions.TermStar.componentOf(c, 0), s)
        walk(graft.functions.TermStar.componentOf(c, 1), p)
        walk(graft.functions.TermStar.componentOf(c, 2), o)
    }
    val nonNull = scala.collection.mutable.Set[String]()
    slots.foreach {
      case (cName, Const(t)) => df = df.filter(termEqFields(cName, t))
      case (cName, Var(n0)) => binds += n0 -> col(cName); nonNull += n0
      case (cName, node) => walk(col(cName), node)
    }
    // repeated vars within the pattern force equality
    binds.groupBy(_._1).values.filter(_.size > 1).foreach { dup =>
      dup.toSeq.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(c1 <=> c2)
        case _ => ()
      }
    }
    val proj = binds.toMap
    (df.select(proj.toSeq.map { case (n, c) => c.as(n) }: _*), nonNull.toSet)
  }

  // --- parser ---------------------------------------------------------------

  def parse(text: String): Query = new Parser(text).parseQuery()

}
