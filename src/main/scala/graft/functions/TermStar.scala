package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types._

import graft.rdf.{NQuadsParser, Term}

/** RDF-star quoted-triple component access over the flat term struct
  * (Jena: `Node_Triple.getTriple().getSubject()` etc. — the reference
  * stack's RIOT/ARQ surface for Turtle-star payloads). A quoted triple
  * is stored as termType "triple" with lex = canonical `<<s p o>>`
  * (see [[graft.rdf.Term.quoted]]); SUBJECT/PREDICATE/OBJECT parse the
  * canonical form back out with the same scanner that produced it — a
  * per-row O(|lex|) parse with no allocation-heavy regex, codegen'd via
  * a static helper like [[TermOps]].
  */
object TermStar {

  /** i-th component (0=subject, 1=predicate, 2=object) of a
    * quoted-triple term column; NULL (expression error) on any other
    * term kind.
    */
  def componentOf(c: Column, i: Int): Column =
    ExpressionUtils.column(TermStarComponent(ExpressionUtils.expression(c), i))

  /** Executor-side evaluation over the term InternalRow. Returns null
    * unless the input is a well-formed quoted triple.
    */
  def component(t: InternalRow, i: Int): InternalRow = {
    def f(j: Int): String =
      if (t.isNullAt(j)) null else t.getUTF8String(j).toString
    if (f(0) != Term.TRIPLE) return null
    val lex = f(1)
    if (lex == null) return null
    val term =
      try {
        val (s, p, o) = NQuadsParser.components(Term(Term.TRIPLE, lex, null, null))
        i match { case 0 => s; case 1 => p; case _ => o }
      } catch { case _: Exception => return null }
    Term.row(term)
  }

  /** SPARQL-star TRIPLE(s, p, o) constructor as pure built-in columns
    * (the canonical lex is a concat of the components' N-Triples
    * tokens): NULL when the components don't form a valid RDF-star
    * triple (subject IRI/blank/triple, predicate IRI).
    */
  def quotedOf(s: Column, p: Column, o: Column): Column = {
    val nt = graft.rdf.NtWriter.termNt _
    val ok =
      s.getField("termType").isin(Term.IRI, Term.BLANK, Term.TRIPLE) &&
      p.getField("termType") === Term.IRI && o.getField("termType").isNotNull
    when(ok, Term.column(Term.TRIPLE,
      concat(lit("<<"), nt(s), lit(" "), nt(p), lit(" "), nt(o), lit(">>"))))
      .otherwise(lit(null).cast(Term.Schema))
  }
}

/** See [[TermStar.componentOf]]. */
final case class TermStarComponent(child: Expression, idx: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (idx < 0 || idx > 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: index $idx out of [0,2]")
    else if (Term.isStruct(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a term struct, got ${child.dataType}")
  override def dataType: DataType = Term.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "term_star_component"
  override protected def nullSafeEval(t: Any): Any =
    TermStar.component(t.asInstanceOf[InternalRow], idx)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |${ev.value} = graft.functions.TermStar.component($t, $idx);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): TermStarComponent =
    copy(child = c)
}
