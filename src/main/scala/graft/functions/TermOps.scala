package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** SPARQL VALUE semantics over the engine's term struct — the cases
  * Catalyst's structural equality gets silently wrong (SURVEY.md §4.2):
  * `"01"^^xsd:integer` equals `"1"^^xsd:integer` in SPARQL value space
  * but not byte-wise, `"1.0"^^xsd:decimal` equals `"1"^^xsd:integer`,
  * and a plain `"a"` never equals `"a"@en`. Implemented as a native
  * Catalyst expression (codegen'd via a static helper) rather than a
  * rewrite rule, exactly because a rule could not see the value space.
  */
object TermOps {

  /** Datatype IRIs whose literals compare by numeric value. */
  val NUMERIC_DATATYPES: Set[String] = Set(
    graft.rdf.Term.XSD + "integer", graft.rdf.Term.XSD + "decimal",
    graft.rdf.Term.XSD + "double", graft.rdf.Term.XSD + "float",
    graft.rdf.Term.XSD + "int", graft.rdf.Term.XSD + "long",
    graft.rdf.Term.XSD + "short", graft.rdf.Term.XSD + "byte",
    graft.rdf.Term.XSD + "nonNegativeInteger", graft.rdf.Term.XSD + "positiveInteger")

  /** SPARQL `=` between two term-struct columns. */
  def termValueEquals(a: Column, b: Column): Column =
    ExpressionUtils.column(TermValueEquals(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b)))

  /** Evaluate SPARQL value equality over two term InternalRows with
    * fields (termType, lex, datatype, lang).
    */
  def valueEquals(a: InternalRow, b: InternalRow): Boolean = {
    def f(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    val (tA, lexA, dtA, lgA) = (f(a, 0), f(a, 1), f(a, 2), f(a, 3))
    val (tB, lexB, dtB, lgB) = (f(b, 0), f(b, 1), f(b, 2), f(b, 3))
    if (tA != tB) return false
    if (tA != graft.rdf.Term.LIT) return lexA == lexB // IRI/blank: identity
    val numA = dtA != null && NUMERIC_DATATYPES.contains(dtA)
    val numB = dtB != null && NUMERIC_DATATYPES.contains(dtB)
    if (numA && numB) {
      try return new java.math.BigDecimal(lexA).compareTo(new java.math.BigDecimal(lexB)) == 0
      catch { case _: NumberFormatException => return false }
    }
    // temporal literals of the same datatype compare on the TIMELINE
    // (op:dateTime-equal): "12:00:00Z" = "14:00:00+02:00"
    if (dtA != null && dtA == dtB && TEMPORAL_DATATYPES.contains(dtA)) {
      val (ka, kb) = (temporalKey(lexA, dtA), temporalKey(lexB, dtB))
      if (ka != null && kb != null) return ka.longValue == kb.longValue
    }
    // plain/lang strings: lexical form AND language must match; a
    // plain literal never equals a lang-tagged one
    lexA == lexB && lgA == lgB && dtA == dtB
  }

  /** Datatypes whose values live on the timeline. */
  val TEMPORAL_DATATYPES: Set[String] = Set(
    graft.rdf.Term.XSD_DATETIME, graft.rdf.Term.XSD_DATE,
    graft.rdf.Term.XSD + "time")

  /** Timeline key (epoch / day millis) for a temporal lexical form,
    * normalizing an explicit timezone; zone-less values are taken as
    * UTC (the spec leaves the implicit zone implementation-defined —
    * one FIXED choice keeps the order total and deterministic). Null
    * when the lexical form does not parse: callers fall back to the
    * lexical comparison, never error.
    */
  def temporalKey(lex: String, dt: String): java.lang.Long = try {
    import java.time._
    dt match {
      case graft.rdf.Term.XSD_DATETIME =>
        if (lex.length > 10 && (lex.endsWith("Z") || lex.lastIndexOf('+') > 10 ||
            lex.lastIndexOf('-') > 10))
          OffsetDateTime.parse(lex).toInstant.toEpochMilli
        else LocalDateTime.parse(lex).toInstant(ZoneOffset.UTC).toEpochMilli
      case graft.rdf.Term.XSD_DATE =>
        val date = LocalDate.parse(lex.substring(0, 10))
        val zone =
          if (lex.length > 10) ZoneOffset.of(lex.substring(10).replace("Z", "+00:00"))
          else ZoneOffset.UTC
        date.atStartOfDay(zone).toInstant.toEpochMilli
      case _ => // xsd:time: millis of day shifted by the zone offset
        val t =
          if (lex.endsWith("Z") || lex.lastIndexOf('+') > 0 ||
              lex.lastIndexOf('-') > 0) {
            val ot = OffsetTime.parse(lex)
            ot.toLocalTime.toNanoOfDay / 1000000L -
              ot.getOffset.getTotalSeconds * 1000L
          } else LocalTime.parse(lex).toNanoOfDay / 1000000L
        t
    }
  } catch { case _: Exception => null }

  /** SPARQL value-space comparison (`<`/`>`/ORDER) between two
    * term-struct columns: -1/0/1.
    */
  def termValueCompare(a: Column, b: Column): Column =
    ExpressionUtils.column(TermValueCompare(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b)))

  /** XSD integer-family datatypes: integer `+ - *` stays xsd:integer. */
  val INTEGER_DATATYPES: Set[String] = Set(
    graft.rdf.Term.XSD_INTEGER, graft.rdf.Term.XSD + "int",
    graft.rdf.Term.XSD + "long", graft.rdf.Term.XSD + "short",
    graft.rdf.Term.XSD + "byte", graft.rdf.Term.XSD + "nonNegativeInteger",
    graft.rdf.Term.XSD + "positiveInteger")

  /** SPARQL §17.3 numeric arithmetic (`+ - * /`) over two term-struct
    * columns, as ONE codegen'd expression — the equivalent
    * when/cast/regexp column tree is ~40 nodes per operator, which
    * made expression-heavy queries analysis/codegen-bound.
    */
  def termArith(op: String, a: Column, b: Column): Column =
    ExpressionUtils.column(TermArith(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b), op))

  /** Evaluate one arithmetic op over term InternalRows. Returns the
    * result term or null (SPARQL expression error: a non-numeric
    * operand, an ill-formed numeric lexical, or division by zero).
    * Exact BigDecimal arithmetic; division uses DECIMAL128 (34
    * significant digits) then strips trailing zeros, so terminating
    * quotients keep their canonical lexical form ("2.5", never
    * "2.5000000000"). integer op integer stays xsd:integer except
    * `/`, which is always xsd:decimal (§17.3 operator mapping).
    */
  def arith(a: InternalRow, b: InternalRow, op: String): InternalRow = {
    def f(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    val (tA, lexA, dtA) = (f(a, 0), f(a, 1), f(a, 2))
    val (tB, lexB, dtB) = (f(b, 0), f(b, 1), f(b, 2))
    if (tA != graft.rdf.Term.LIT || tB != graft.rdf.Term.LIT) return null
    if (dtA == null || !NUMERIC_DATATYPES.contains(dtA)) return null
    if (dtB == null || !NUMERIC_DATATYPES.contains(dtB)) return null
    // §17.3 / XPath promotion: double > float > decimal > integer —
    // the WIDER operand class decides the result type, and double /
    // float results use IEEE math (÷0 is INF, not an error)
    def numClass(dt: String): Int =
      if (dt == graft.rdf.Term.XSD + "double") 3
      else if (dt == graft.rdf.Term.XSD + "float") 2
      else if (INTEGER_DATATYPES.contains(dt)) 0 else 1
    val cls = math.max(numClass(dtA), numClass(dtB))
    def mk(lex: String, dt: String): InternalRow =
      graft.rdf.Term.row(graft.rdf.Term.typed(lex, dt))
    if (cls >= 2) {
      def pd(s: String): java.lang.Double = s match {
        case "INF" => Double.PositiveInfinity
        case "-INF" => Double.NegativeInfinity
        case "NaN" => Double.NaN
        case other =>
          try java.lang.Double.valueOf(other)
          catch { case _: NumberFormatException => null }
      }
      val (x, y) = (pd(lexA), pd(lexB))
      if (x == null || y == null) return null
      val r = op match {
        case "+" => x + y
        case "-" => x - y
        case "*" => x * y
        case "/" => x / y
        case _ => return null
      }
      val lex =
        if (r.isNaN) "NaN"
        else if (r == Double.PositiveInfinity) "INF"
        else if (r == Double.NegativeInfinity) "-INF"
        else java.lang.Double.toString(r)
      return mk(lex,
        if (cls == 3) graft.rdf.Term.XSD + "double"
        else graft.rdf.Term.XSD + "float")
    }
    val (va, vb) =
      try (new java.math.BigDecimal(lexA), new java.math.BigDecimal(lexB))
      catch { case _: NumberFormatException => return null }
    val isInt = op != "/" && cls == 0
    val res = op match {
      case "+" => va.add(vb)
      case "-" => va.subtract(vb)
      case "*" => va.multiply(vb)
      case "/" =>
        if (vb.compareTo(java.math.BigDecimal.ZERO) == 0) return null
        va.divide(vb, java.math.MathContext.DECIMAL128)
      case _ => return null
    }
    val lex =
      if (isInt) res.toBigInteger.toString
      else {
        val s = res.stripTrailingZeros
        if (s.scale <= 0) s.toBigInteger.toString else s.toPlainString
      }
    mk(lex, if (isInt) graft.rdf.Term.XSD_INTEGER else graft.rdf.Term.XSD_DECIMAL)
  }

  /** Value-space total order over term InternalRows. SPARQL ORDER BY
    * (spec §15.1) ranks blank < IRI < literal; numeric literals compare
    * by value (BigDecimal — `"9"^^xsd:integer < "10"^^xsd:integer`,
    * where the lexical order is inverted), everything else by lexical
    * form then language then datatype so the order stays total.
    */
  def valueCompare(a: InternalRow, b: InternalRow): Int = {
    def f(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    def nc(x: String, y: String): Int =
      if (x == null && y == null) 0 else if (x == null) -1
      else if (y == null) 1 else x.compareTo(y)
    def rank(t: String): Int = t match {
      case graft.rdf.Term.BLANK => 0
      case graft.rdf.Term.IRI => 1
      case graft.rdf.Term.TRIPLE => 3 // quoted triples after literals (mirrors Sparql.sortKeys)
      case _ => 2
    }
    val (tA, lexA, dtA, lgA) = (f(a, 0), f(a, 1), f(a, 2), f(a, 3))
    val (tB, lexB, dtB, lgB) = (f(b, 0), f(b, 1), f(b, 2), f(b, 3))
    val r = Integer.compare(rank(tA), rank(tB))
    if (r != 0) return r
    if (tA != graft.rdf.Term.LIT) return nc(lexA, lexB)
    if (dtA != null && dtB != null &&
        NUMERIC_DATATYPES.contains(dtA) && NUMERIC_DATATYPES.contains(dtB)) {
      try return new java.math.BigDecimal(lexA).compareTo(new java.math.BigDecimal(lexB))
      catch { case _: NumberFormatException => () } // ill-formed → lexical
    }
    // same-datatype temporal literals order on the timeline (zone-
    // normalized); ill-formed lexicals fall through to lexical order
    if (dtA != null && dtA == dtB && TEMPORAL_DATATYPES.contains(dtA)) {
      val (ka, kb) = (temporalKey(lexA, dtA), temporalKey(lexB, dtB))
      if (ka != null && kb != null && ka.longValue != kb.longValue)
        return java.lang.Long.compare(ka.longValue, kb.longValue)
      if (ka != null && kb != null) return 0
    }
    val c = nc(lexA, lexB)
    if (c != 0) c else { val c2 = nc(lgA, lgB); if (c2 != 0) c2 else nc(dtA, dtB) }
  }
}

/** See [[TermOps.termValueEquals]]. */
final case class TermValueEquals(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (graft.rdf.Term.isStruct(left.dataType) && graft.rdf.Term.isStruct(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two term structs, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "term_value_equals"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TermOps.valueEquals(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TermOps.valueEquals($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TermValueEquals =
    copy(left = l, right = r)
}

/** See [[TermOps.termArith]]. The result is nullable even for
  * non-null inputs (expression errors), so codegen handles the null
  * explicitly instead of using defineCodeGen.
  */
final case class TermArith(left: Expression, right: Expression, op: String)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (!Seq("+", "-", "*", "/").contains(op))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: unknown operator '$op'")
    else if (graft.rdf.Term.isStruct(left.dataType) && graft.rdf.Term.isStruct(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two term structs, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = graft.rdf.Term.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "term_arith"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TermOps.arith(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow], op)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.TermOps.arith($a, $b, "$op");
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TermArith =
    copy(left = l, right = r)
}

/** See [[TermOps.termValueCompare]]. */
final case class TermValueCompare(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (graft.rdf.Term.isStruct(left.dataType) && graft.rdf.Term.isStruct(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two term structs, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "term_value_compare"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TermOps.valueCompare(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TermOps.valueCompare($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TermValueCompare =
    copy(left = l, right = r)
}
