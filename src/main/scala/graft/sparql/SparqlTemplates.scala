package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.rdf.Term
import Sparql._

/** Template instantiation shared by CONSTRUCT (§16.2) and the SPARQL
  * Update DELETE/INSERT templates (§3.1.3): solutions DataFrame +
  * triple-pattern templates → quad DataFrames, with §16.2.1/§19.6
  * fresh-per-solution blank node minting.
  */
private[sparql] object SparqlTemplates {

  /** §16.2 / §19.6 well-formedness of an instantiated quad: a binding
    * that would put a literal in subject position, a non-IRI in
    * predicate position, or a literal/quoted triple as a graph name
    * produces NO triple for that solution (skipped, not an error).
    * Constants hit these rules too when the grammar can't reject them
    * (e.g. a quoted-triple template in predicate position is already a
    * parse error, but a var is only ill-formed per binding).
    */
  private def wellFormedQuad(graph: Column, s: Column, p: Column): Column =
    s.getField("termType") =!= lit(Term.LIT) &&
      p.getField("termType") === lit(Term.IRI) &&
      (graph.isNull || graph.getField("termType") === lit(Term.IRI) ||
        graph.getField("termType") === lit(Term.BLANK))

  /** Instantiate triple-pattern templates from a solutions DataFrame
    * (CONSTRUCT and the update DELETE/INSERT templates): each pattern
    * becomes a column selection over the bindings — vars project their
    * column, constants become literal term structs. Instantiations
    * using an unbound variable are skipped (spec §16.2 / §3.1.3.2).
    * One DataFrame per pattern, quad columns only.
    */
  def instantiate(sols: DataFrame,
      tpl: Seq[TriplePattern], blankScope: String = ""): Seq[DataFrame] = {
    def nodeBlank(n: Node): Boolean = n match {
      case Const(t) => t != null && t.isBlank
      case QTriple(s, p, o) => Seq(s, p, o).exists(nodeBlank)
      case _ => false
    }
    if (tpl.exists(tp => (tp.graph.toSeq :+ tp.s :+ tp.p :+ tp.o)
        .exists(nodeBlank)))
      return Seq(instantiateWithBlanks(sols, tpl, blankScope))
    tpl.flatMap { tp =>
      val slots = Seq(
        tp.graph.getOrElse(Const(null)) -> "graph",
        tp.s -> "subject", tp.p -> "predicate", tp.o -> "obj")
      val vars = slots.flatMap { case (n, _) => nodeVars(n) }
      // a template var absent from the solutions is unbound in every
      // row → the whole pattern instantiates to nothing
      if (vars.exists(v => !sols.columns.contains(v))) None
      else {
        def nodeCol(n: Node): Column = n match {
          case Var(v) => col(v)
          case Const(null) => lit(null).cast(Term.Schema)
          case Const(t) => Term.column(t)
          // CONSTRUCT-star: re-quote per row from the bound components
          case QTriple(s, p, o) =>
            graft.functions.TermStar.quotedOf(nodeCol(s), nodeCol(p), nodeCol(o))
        }
        val cols = slots.map { case (n, as) => nodeCol(n).as(as) }
        val bound = vars.foldLeft(sols)((d, v) => d.filter(col(v).isNotNull))
        // a quoted-triple template whose bound components don't form a
        // valid RDF-star triple (e.g. a literal subject) instantiates
        // to NULL — that solution produces no triple (§16.2), rather
        // than a quad with a null slot
        val starSlots = slots.collect {
          case (QTriple(_, _, _), as) => as }
        val out = bound.select(cols: _*)
        Some(starSlots.foldLeft(out)((d, c) => d.filter(col(c).isNotNull))
          .filter(wellFormedQuad(col("graph"), col("subject"),
            col("predicate"))))
      }
    }
  }

  /** Template instantiation when the template carries blank node
    * labels: §16.2.1 / §19.6 require a FRESH blank node per solution
    * (shared across the template's triples within that solution, so
    * co-reference survives). One per-solution id column feeds every
    * minted label, and all template triples instantiate in a SINGLE
    * select (array + posexplode) so the id is computed exactly once
    * per solution row — label consistency cannot depend on whether a
    * nondeterministic id recomputes across separate plan branches.
    */
  private[sparql] def instantiateWithBlanks(sols: DataFrame,
      tpl: Seq[TriplePattern], blankScope: String): DataFrame = {
    // update templates pass the event identity so blanks minted by two
    // different update events can never denote the same stored term
    val pre = if (blankScope.isEmpty) "" else blankScope + ":"
    val cset = sols.columns.toSet
    val withId = sols.withColumn("#bsol", monotonically_increasing_id())
    def nodeCol(n: Node): Column = n match {
      case Var(v) => col(v)
      case Const(null) => lit(null).cast(Term.Schema)
      case Const(t) if t.isBlank =>
        // fresh per solution: label derives from (template label, row
        // id); '!' cannot appear in a parsed blank label, so minted
        // labels collide with neither data labels nor each other
        Term.column(Term.BLANK, concat(lit(pre + t.lex + "!"), col("#bsol").cast("string")))
      case Const(t) => Term.column(t)
      case QTriple(s, p, o) =>
        graft.functions.TermStar.quotedOf(nodeCol(s), nodeCol(p), nodeCol(o))
    }
    val elems: Seq[Column] = tpl.flatMap { tp =>
      val slots = Seq(tp.graph.getOrElse(Const(null)) -> "graph",
        tp.s -> "subject", tp.p -> "predicate", tp.o -> "obj")
      val vars = slots.flatMap { case (n, _) => nodeVars(n) }
      if (vars.exists(v => !cset.contains(v))) None
      else {
        val slotCols = slots.map { case (n, as) => as -> nodeCol(n) }.toMap
        val quad = struct(slots.map { case (n, as) => nodeCol(n).as(as) }: _*)
        val valid = (vars.map(col(_).isNotNull) ++ slots.collect {
          case (q @ QTriple(_, _, _), _) => nodeCol(q).isNotNull
        } :+ wellFormedQuad(slotCols("graph"), slotCols("subject"),
          slotCols("predicate"))).reduce(_ && _)
        Some(when(valid, quad))
      }
    }
    val empty = sols.sparkSession.emptyDataFrame
      .withColumn("graph", lit(null).cast(Term.Schema))
      .withColumn("subject", lit(null).cast(Term.Schema))
      .withColumn("predicate", lit(null).cast(Term.Schema))
      .withColumn("obj", lit(null).cast(Term.Schema))
      .limit(0)
    if (elems.isEmpty) empty
    else withId.select(explode(array(elems: _*)).as("#q"))
      .filter(col("#q").isNotNull)
      .select(col("#q.graph").as("graph"), col("#q.subject").as("subject"),
        col("#q.predicate").as("predicate"), col("#q.obj").as("obj"))
  }

}
