package graft.sparql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rdf.{Quad, RdfParseException, Term}

/** SPARQL Update subset → quad-op resolver (SURVEY.md §2.2; the
  * reference ecosystem produces `application/sparql-update` events for
  * `.ru` files, FKLib.java:55-69, and routes them to the dataset's
  * update endpoint — here they apply directly to the engine's store).
  *
  * Supported requests, `;`-separated, with a shared PREFIX prologue:
  *  - `INSERT DATA { quads }` / `DELETE DATA { quads }` (GRAPH blocks
  *    allowed; DELETE DATA rejects blank nodes per spec §3.1.2)
  *  - `DELETE WHERE { pattern }`
  *  - `[WITH <g>] DELETE { tpl } INSERT { tpl } [USING [NAMED] <g>]*
  *    WHERE { pattern }` (either template optional; WITH sets the
  *    default graph for templates and un-GRAPHed WHERE patterns;
  *    USING/USING NAMED define the WHERE-side dataset like FROM/FROM
  *    NAMED and suppress WITH for the WHERE, spec §3.1.3)
  *  - `CLEAR [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL)`; `DROP` is
  *    an alias (the store has no empty-graph existence, spec note)
  *  - `LOAD [SILENT] <file:…> [INTO GRAPH <g>]` (spec §3.1.4): local
  *    documents load by file extension through the engine's own
  *    parsers; `INTO GRAPH` re-graphs every loaded quad; SILENT turns
  *    a missing/unparseable document into a no-op. Remote schemes
  *    (http/https/…) are rejected with a clear error — this offline
  *    engine dereferences no URLs; remote ingest goes through the
  *    event-source path
  *
  * Execution model is Spark-first and fully distributed: data ops are
  * driver-local rows (they came off one event), while WHERE-driven
  * ops resolve by solving the pattern with [[Sparql.solve]] against
  * the CURRENT state DataFrame and instantiating templates as column
  * selections — constants in the pattern push into the parquet scan,
  * matched-quad sets never surface on the driver. A CLEAR compiles to
  * a partition-prunable graph filter producing delete rows; at 100 TB
  * a metadata tombstone would beat the O(graph) delete write, but the
  * log-structured store's fold would then need tombstone-aware reads
  * on every path — documented tradeoff, not taken.
  */
object SparqlUpdate {
  import Sparql._

  sealed trait UpdateOp
  /** INSERT DATA (`op` "A") or DELETE DATA (`op` "D"). */
  final case class QuadDataOp(op: String, quads: Seq[Quad]) extends UpdateOp
  /** DELETE/INSERT ... WHERE (DELETE WHERE sets both templates from
    * the pattern). Delete instantiations apply before inserts from the
    * same solutions (spec §3.1.3). `using`/`usingNamed` are the
    * update-side FROM/FROM NAMED: they define the dataset the WHERE
    * sees (templates still instantiate into the REAL dataset), and
    * when present WITH is ignored for the WHERE (spec §3.1.3).
    */
  final case class ModifyOp(deleteTpl: Seq[TriplePattern],
      insertTpl: Seq[TriplePattern], where: Pattern,
      using: Seq[Term] = Seq.empty, usingNamed: Seq[Term] = Seq.empty)
    extends UpdateOp {
    // Fuseki's default posture: an update arriving over the wire (HTTP
    // or Kafka) must not make this server originate outbound SERVICE
    // requests — queries opt in per-context, updates never.
    if (Sparql.containsService(where))
      throw new RdfParseException(
        "SERVICE is not allowed in an update WHERE clause")
  }
  /** CLEAR/DROP. `target` ∈ GRAPH | DEFAULT | NAMED | ALL. */
  final case class ClearOp(target: String, graph: Option[Term]) extends UpdateOp
  /** ADD/COPY/MOVE between graphs (`None` = the default graph), and
    * CREATE (a no-op in a quad store, which has no empty-graph
    * existence — same behavior as Jena's TDB). COPY clears the
    * destination first; MOVE additionally drops the source; a
    * same-graph operation is a no-op (spec §3.2.3-5).
    */
  final case class GraphManageOp(kind: String, src: Option[Term],
      dst: Option[Term]) extends UpdateOp
  /** LOAD of a `file:` document (see class doc). */
  final case class LoadOp(iri: String, into: Option[Term],
      silent: Boolean) extends UpdateOp

  /** Parse an update request (one or more `;`-separated operations). */
  def parse(text: String): Seq[UpdateOp] = {
    val p = new Parser(text)
    val ops = scala.collection.mutable.ArrayBuffer[UpdateOp]()
    var more = true
    while (more) {
      p.parsePrologue()
      p.skipWs()
      if (p.pos >= text.length) more = false
      else {
        ops += parseOne(p)
        p.skipWs()
        if (p.tryToken(";")) () else {
          p.skipWs()
          if (p.pos < text.length)
            throw new RdfParseException(
              s"SPARQL update: trailing content at ${p.pos}")
          more = false
        }
      }
    }
    if (ops.isEmpty)
      throw new RdfParseException("SPARQL update: empty request")
    ops.toSeq
  }

  private def parseOne(p: Parser): UpdateOp = {
    // WITH <g>: default graph for the modify form's templates and any
    // WHERE pattern without an explicit GRAPH (spec §3.1.3)
    val withGraph: Option[Node] =
      if (p.tryKeyword("WITH")) p.parseNode() match {
        case c @ Const(t) if t.isIri => Some(c)
        case _ => throw new RdfParseException("WITH expects an IRI")
      } else None
    def g(tps: Seq[TriplePattern]): Seq[TriplePattern] = withGraph match {
      case None => tps
      case Some(n) => tps.map(tp => if (tp.graph.isEmpty) tp.copy(graph = Some(n)) else tp)
    }
    // UsingClause* (spec §3.1.3): the WHERE-side dataset clause
    def parseUsing(): (Seq[Term], Seq[Term]) = {
      val u = scala.collection.mutable.ArrayBuffer[Term]()
      val un = scala.collection.mutable.ArrayBuffer[Term]()
      while (p.tryKeyword("USING")) {
        val named = p.tryKeyword("NAMED")
        p.parseNode() match {
          case Const(t) if t.isIri => if (named) un += t else u += t
          case _ => throw new RdfParseException("USING expects an IRI")
        }
      }
      (u.toSeq, un.toSeq)
    }
    // WITH scopes the WHERE as GRAPH would, unless a USING clause is
    // present
    def scopeWhere(pat: Pattern, u: Seq[Term] = Seq.empty,
        un: Seq[Term] = Seq.empty): Pattern =
      if (u.isEmpty && un.isEmpty) withGraph.fold(pat)(pushGraph(pat, _))
      else pat
    val isInsert = p.tryKeyword("INSERT")
    val isDelete = !isInsert && p.tryKeyword("DELETE")
    if (withGraph.isDefined && !isInsert && !isDelete)
      throw new RdfParseException("WITH applies only to DELETE/INSERT forms")
    if (isInsert) {
      if (p.tryKeyword("DATA")) {
        if (withGraph.isDefined)
          throw new RdfParseException("WITH applies only to DELETE/INSERT ... WHERE")
        QuadDataOp("A", parseQuadData(p, allowBlank = true))
      } else {
        val tpl = parseTemplate(p)
        val (u, un) = parseUsing()
        p.keyword("WHERE")
        ModifyOp(Seq.empty, g(tpl), scopeWhere(p.parseGroup(), u, un), u, un)
      }
    } else if (isDelete) {
      if (p.tryKeyword("DATA")) {
        if (withGraph.isDefined)
          throw new RdfParseException("WITH applies only to DELETE/INSERT ... WHERE")
        QuadDataOp("D", parseQuadData(p, allowBlank = false))
      } else if (p.tryKeyword("WHERE")) {
        val pat = scopeWhere(p.parseGroup())
        rejectBlanks(patternsOf(pat), "DELETE WHERE")
        ModifyOp(patternsOf(pat), Seq.empty, pat)
      } else {
        val del = parseTemplate(p)
        rejectBlanks(del, "a DELETE template")
        val ins = if (p.tryKeyword("INSERT")) parseTemplate(p) else Seq.empty
        val (u, un) = parseUsing()
        p.keyword("WHERE")
        ModifyOp(g(del), g(ins), scopeWhere(p.parseGroup(), u, un), u, un)
      }
    } else if (p.tryKeyword("LOAD")) {
      val silent = p.tryKeyword("SILENT")
      val doc = p.parseNode() match {
        case Const(t) if t.isIri => t.lex
        case _ => throw new RdfParseException("LOAD expects a document IRI")
      }
      // only local documents: this offline engine dereferences no
      // URLs — remote ingest goes through the event-source path
      if (!doc.startsWith("file:"))
        throw new RdfParseException(
          s"LOAD supports only file: IRIs (got <$doc>): remote documents " +
          "are ingested via the event source path")
      val into =
        if (p.tryKeyword("INTO")) {
          p.keyword("GRAPH")
          p.parseNode() match {
            case Const(t) if t.isIri => Some(t)
            case _ => throw new RdfParseException("LOAD INTO GRAPH expects an IRI")
          }
        } else None
      LoadOp(doc, into, silent)
    } else if (p.tryKeyword("CLEAR") || p.tryKeyword("DROP")) {
      p.tryKeyword("SILENT")
      if (p.tryKeyword("DEFAULT")) ClearOp("DEFAULT", None)
      else if (p.tryKeyword("NAMED")) ClearOp("NAMED", None)
      else if (p.tryKeyword("ALL")) ClearOp("ALL", None)
      else {
        p.keyword("GRAPH")
        p.parseNode() match {
          case Const(t) if t.isIri => ClearOp("GRAPH", Some(t))
          case _ => throw new RdfParseException("CLEAR GRAPH expects an IRI")
        }
      }
    } else {
      val kind =
        if (p.tryKeyword("ADD")) "ADD"
        else if (p.tryKeyword("COPY")) "COPY"
        else if (p.tryKeyword("MOVE")) "MOVE"
        else if (p.tryKeyword("CREATE")) "CREATE"
        else throw new RdfParseException(
          "SPARQL update: expected INSERT, DELETE, CLEAR, DROP, ADD, COPY, MOVE or CREATE")
      p.tryKeyword("SILENT")
      if (kind == "CREATE") {
        p.keyword("GRAPH")
        p.parseNode() match {
          case Const(t) if t.isIri => GraphManageOp("CREATE", Some(t), None)
          case _ => throw new RdfParseException("CREATE GRAPH expects an IRI")
        }
      } else {
        // GraphOrDefault ::= 'DEFAULT' | 'GRAPH'? iri
        def target(): Option[Term] =
          if (p.tryKeyword("DEFAULT")) None
          else {
            p.tryKeyword("GRAPH")
            p.parseNode() match {
              case Const(t) if t.isIri => Some(t)
              case _ => throw new RdfParseException(s"$kind expects DEFAULT or an IRI")
            }
          }
        val src = target()
        p.keyword("TO")
        GraphManageOp(kind, src, target())
      }
    }
  }

  /** §19.6: DELETE DATA and DELETE templates (incl. the DELETE WHERE
    * shorthand) must not contain blank nodes — a blank can never
    * denote an existing store term, so the spec makes it a syntax
    * error rather than a silent no-match.
    */
  private def rejectBlanks(tps: Seq[TriplePattern], what: String): Unit = {
    // an all-constant quoted triple folds to one Const at parse time,
    // so a blank may sit inside a Const term as well as a QTriple node
    def checkTerm(t: Term): Unit =
      if (t == null) ()
      else if (t.isBlank) throw new RdfParseException(s"$what forbids blank nodes (_:${t.lex})")
      else if (t.isTriple) {
        val (s, p, o) = graft.rdf.NQuadsParser.components(t)
        Seq(s, p, o).foreach(checkTerm)
      }
    def check(n: Node): Unit = n match {
      case Const(t) => checkTerm(t)
      case Sparql.QTriple(s, p, o) => Seq(s, p, o).foreach(check)
      case _ => ()
    }
    tps.foreach { tp =>
      tp.graph.foreach(check); check(tp.s); check(tp.p); check(tp.o)
    }
  }

  /** A `{ ... }` of ground quads (GRAPH blocks inline the graph). */
  private def parseQuadData(p: Parser, allowBlank: Boolean): Seq[Quad] = {
    val tps = patternsOf(p.parseGroup())
    if (!allowBlank) rejectBlanks(tps, "DELETE DATA")
    tps.map { tp =>
      def ground(n: Node, slot: String): Term = n match {
        case Const(t) => t
        case Var(v) =>
          throw new RdfParseException(s"quad data must be ground, found ?$v")
        case Sparql.QTriple(_, _, _) =>
          // an all-constant quoted triple folds to Const at parse time;
          // reaching here means it embedded a variable
          throw new RdfParseException(s"quad data must be ground ($slot quoted triple has variables)")
      }
      Quad(tp.graph.map(ground(_, "graph")).orNull,
        ground(tp.s, "subject"), ground(tp.p, "predicate"), ground(tp.o, "obj"))
    }
  }

  /** A `{ ... }` template: triple patterns only, vars allowed. */
  private def parseTemplate(p: Parser): Seq[TriplePattern] =
    patternsOf(p.parseGroup())

  private def patternsOf(pat: Pattern): Seq[TriplePattern] = pat match {
    case Group(elems) => elems.map {
      case PatElem(tp) => tp
      case other => throw new RdfParseException(
        s"only triple patterns allowed here, found ${other.getClass.getSimpleName}")
    }
    case _ => throw new RdfParseException("UNION not allowed in quad data/template")
  }

  // --- resolution -----------------------------------------------------------

  /** Ordinal-space guard: a single event's ops must fit the per-event
    * budget of the op-log `seq` packing ([[graft.store.OpLog]]), with
    * headroom for the script's other ops.
    */
  val MaxLoadQuads: Int = (graft.store.OpLog.MaxEventOps - (1 << 12)).toInt

  private val LoadToken = java.util.regex.Pattern.compile(
    "(?i)(?<![A-Za-z0-9_])LOAD(?![A-Za-z0-9_])")

  /** Arrival-time probe for update scripts that may carry LOAD — the
    * shared gate both ingest fronts run BEFORE buffering/applying an
    * event (the projector routes failures to the DLQ, the HTTP update
    * endpoint maps them to 400): the deferred-apply model requires the
    * commit apply to be infallible, so a disabled / confined / missing
    * / unparseable document must surface here. Also totals the
    * script's ordinal budget (inline quads + resolved load sizes +
    * fixed costs per WHERE-driven op) and rejects scripts whose ops
    * would overflow the op-log budget ([[graft.store.OpLog.overBudget]])
    * — e.g. two near-cap LOADs whose CUMULATIVE count passes 2^24 even
    * though each document is under [[MaxLoadQuads]]. Cheap
    * word-boundary pre-filter: scripts with no LOAD token skip the
    * re-parse (they cannot reach 2^24 ops without a payload the decode
    * gate already choked on).
    */
  def probeArrival(text: String, root: Option[java.nio.file.Path]): Unit = {
    if (!LoadToken.matcher(text).find()) return
    var budget = 0L
    parse(text).foreach {
      case QuadDataOp(_, quads) => budget += quads.size
      case _: ModifyOp | _: GraphManageOp => budget += 2
      case _: ClearOp => budget += 1
      case ld: LoadOp =>
        // non-SILENT failures throw (DLQ/400 at arrival); SILENT loads
        // resolve to their quads on success and zero on failure, so
        // probing them only feeds the budget total
        budget += resolveLoad(ld, "arrival-probe", root).size
    }
    graft.store.OpLog.overBudget(budget).foreach(why =>
      throw new RdfParseException(s"update script resolves to $why"))
  }

  /** Resolve a LOAD to the quads to add: read the `file:` document,
    * parse it by extension through the engine's own format dispatch
    * (mirroring the reference producer's ctForFile, FKLib.java:55-69),
    * re-graph under `INTO GRAPH` when given. Blank nodes scope to
    * `scope` (fresh per load, like per-event decode). SILENT maps a
    * missing or unparseable document to zero quads (spec §3.1.4's
    * failure-ignoring variant); otherwise the error propagates and the
    * event routes to the DLQ at arrival (the projector probes
    * non-SILENT loads before buffering).
    *
    * SECURITY: `root` confines what LOAD may read. `None` (the
    * default everywhere, including the HTTP update endpoint) DISABLES
    * LOAD with a clear error — an update endpoint must not be an
    * arbitrary local-file read primitive. A deployment that wants
    * LOAD passes an explicit root directory (sink construction), and
    * only documents under it resolve.
    */
  def resolveLoad(l: LoadOp, scope: String,
      root: Option[java.nio.file.Path]): Seq[Quad] =
    try {
      val r = root.getOrElse(throw new RdfParseException(
        "LOAD is disabled: no load root directory is configured for this " +
        "dataset (pass loadRoot when constructing the sink)"))
      // confinement must survive symlinks: normalize() alone would let
      // a link under the root point anywhere, so resolve BOTH sides to
      // real paths before the prefix check (a missing document throws
      // NoSuchFileException here — the same error path a failed read
      // takes)
      val rroot = r.toAbsolutePath.normalize().toRealPath()
      val path = java.nio.file.Paths.get(java.net.URI.create(l.iri))
        .toAbsolutePath.normalize().toRealPath()
      if (!path.startsWith(rroot))
        throw new RdfParseException(
          s"LOAD <${l.iri}> is outside the configured load root")
      val bytes = java.nio.file.Files.readAllBytes(path)
      val name = path.getFileName.toString
      val ct = name.substring(name.lastIndexOf('.') + 1).toLowerCase match {
        case "ttl" => "text/turtle"
        case "nt" => "application/n-triples"
        case "nq" => "application/n-quads"
        case "trig" => "application/trig"
        case "rdf" | "xml" => "application/rdf+xml"
        case "jsonld" | "json" => "application/ld+json"
        case _ => "application/n-quads"
      }
      val d = graft.rdf.RdfParse.decode(bytes, ct, scope)
      if (d._corrupt != null) throw new RdfParseException(d._corrupt)
      if (d.quads.size > MaxLoadQuads)
        throw new RdfParseException(
          s"LOAD <${l.iri}>: document holds ${d.quads.size} quads, past the " +
          s"per-event ordinal budget ($MaxLoadQuads) — bulk corpora belong " +
          "on the event ingest path")
      l.into match {
        case Some(g) => d.quads.map(_.copy(graph = g))
        case None => d.quads
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (l.silent) Seq.empty
        else throw new RdfParseException(
          s"LOAD <${l.iri}> failed: ${e.getMessage}")
    }

  /** Resolve a modify op against `state` into delete rows (at `seq`)
    * and insert rows (at `seq + 1`): solve WHERE once, instantiate
    * both templates from the same solutions. Instantiations using an
    * unbound variable are skipped (spec §3.1.3.2); duplicate
    * instantiations are left to the store's set semantics rather than
    * paying a dedup shuffle here.
    */
  def resolveModify(state: DataFrame, m: ModifyOp, seq: Long,
      blankScope: String = ""): Option[DataFrame] = {
    // USING/USING NAMED scope only what the WHERE sees; the templates
    // below instantiate into the real dataset (spec §3.1.3)
    val sols = Sparql.solve(
      Sparql.applyDatasetClause(state, m.using, m.usingNamed), m.where)
    def tag(df: DataFrame, op: String, s: Long): DataFrame =
      df.select(Seq(lit(op).as("op"), lit(s).as("seq")) ++ Quad.Columns.map(col): _*)
    val parts =
      SparqlTemplates.instantiate(sols, m.deleteTpl).map(tag(_, "D", seq)) ++
      SparqlTemplates.instantiate(sols, m.insertTpl, blankScope)
        .map(tag(_, "A", seq + 1))
    parts.reduceOption(_.unionByName(_))
  }

  /** Resolve ADD/COPY/MOVE to delete + insert rows against `state`
    * (CREATE and same-graph ops resolve to nothing). The source scan
    * carries a pushable graph predicate; the re-labelled inserts ride
    * at `seq + 1` so deletes of the destination land first.
    */
  def resolveGraphManage(state: DataFrame, g: GraphManageOp,
      seq: Long): Option[DataFrame] = {
    if (g.kind == "CREATE" || g.src == g.dst) return None
    def scoped(t: Option[Term]) = t match {
      case None => state.filter(col("graph").isNull)
      case Some(x) => state.filter(Sparql.termEqFields("graph", x))
    }
    val gType = state.schema("graph").dataType
    def tag(df: DataFrame, op: String, s: Long): DataFrame =
      df.select(Seq(lit(op).as("op"), lit(s).as("seq")) ++ Quad.Columns.map(col): _*)
    val inserts = tag(scoped(g.src).withColumn("graph", g.dst match {
      case None => lit(null).cast(gType)
      case Some(t) => Term.column(t)
    }), "A", seq + 1)
    val deletes = (g.kind match {
      case "ADD" => Seq.empty[DataFrame]
      case "COPY" => Seq(scoped(g.dst))
      case "MOVE" => Seq(scoped(g.dst), scoped(g.src))
      case other => throw new RdfParseException(s"unexpected graph op $other")
    }).map(tag(_, "D", seq))
    Some((deletes :+ inserts).reduce(_.unionByName(_)))
  }

  /** Resolve CLEAR/DROP to delete rows: a graph filter over `state`
    * (prunable — for `GRAPH <g>` the predicate reaches the scan).
    */
  def resolveClear(state: DataFrame, c: ClearOp, seq: Long): DataFrame = {
    val filtered = c.target match {
      case "DEFAULT" => state.filter(col("graph").isNull)
      case "NAMED" => state.filter(col("graph").isNotNull)
      case "ALL" => state
      // leaf-field form so graph.lex pushes to the scan (cf.
      // Sparql.termEqFields)
      case "GRAPH" => state.filter(Sparql.termEqFields("graph", c.graph.get))
    }
    filtered.select(Seq(lit("D").as("op"), lit(seq).as("seq")) ++ Quad.Columns.map(col): _*)
  }
}
