package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{coalesce, lit, struct}
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types._

import graft.rdf.Term

/** SPARQL VALUE semantics over the engine's term struct — the cases
  * Catalyst's structural equality and ordering get silently wrong
  * (SURVEY.md §4.2): `"01"^^xsd:integer` equals `"1"^^xsd:integer` in
  * SPARQL value space but not byte-wise, `"9"^^xsd:integer` sorts
  * before `"10"^^xsd:integer` though its lexical form does not, and a
  * plain `"a"` never equals `"a"@en`. Owns value equality, arithmetic,
  * the numeric value ([[numValue]]) and the ONE value order: the
  * [[valueKeyBytes]] the `<` family compares ([[compare]]) and the
  * [[orderKey]] built on them that
  * ORDER BY sorts by and MIN/MAX pick by (§18.5.1 defines them by the
  * ORDER BY order). Native Catalyst expressions (codegen'd via static
  * helpers) rather than rewrite rules, exactly because a rule could
  * not see the value space.
  */
object TermOps {

  /** XSD integer-family datatypes: integer `+ - *` stays xsd:integer. */
  val INTEGER_DATATYPES: Set[String] = Set("integer", "int", "long", "short", "byte",
    "nonNegativeInteger", "positiveInteger").map(Term.XSD + _)

  /** Datatype IRIs whose literals compare by numeric value. */
  val NUMERIC_DATATYPES: Set[String] =
    INTEGER_DATATYPES ++ Set("decimal", "double", "float").map(Term.XSD + _)

  /** Field i of a term InternalRow (termType, lex, datatype, lang). */
  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** Evaluate SPARQL value equality over two term InternalRows with
    * fields (termType, lex, datatype, lang).
    */
  def valueEquals(a: InternalRow, b: InternalRow): Boolean = {
    val (tA, lexA, dtA, lgA) = (str(a, 0), str(a, 1), str(a, 2), str(a, 3))
    val (tB, lexB, dtB, lgB) = (str(b, 0), str(b, 1), str(b, 2), str(b, 3))
    if (tA != tB) return false
    if (tA != Term.LIT) return lexA == lexB // IRI/blank: identity
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

  /** Datatypes whose values live on the timeline, in [[valueKeyBytes]]
    * order (any fixed order: different temporal datatypes are not
    * comparable by `<`).
    */
  val TEMPORAL_DATATYPES: Seq[String] =
    Seq(Term.XSD_DATETIME, Term.XSD_DATE, Term.XSD + "time")

  /** Timeline key (epoch / day millis) for a temporal lexical form,
    * normalizing an explicit timezone; zone-less values are taken as
    * UTC (the spec leaves the implicit zone implementation-defined —
    * one FIXED choice keeps the order total and deterministic). Null
    * when the lexical form does not parse: `=` then falls back to the
    * lexical form, the `<` family errs ([[compare]]).
    */
  def temporalKey(lex: String, dt: String): java.lang.Long = try {
    import java.time._
    dt match {
      case Term.XSD_DATETIME =>
        if (lex.length > 10 && (lex.endsWith("Z") || lex.lastIndexOf('+') > 10 ||
            lex.lastIndexOf('-') > 10))
          OffsetDateTime.parse(lex).toInstant.toEpochMilli
        else LocalDateTime.parse(lex).toInstant(ZoneOffset.UTC).toEpochMilli
      case Term.XSD_DATE =>
        val date = LocalDate.parse(lex.substring(0, 10))
        val zone =
          if (lex.length > 10) ZoneOffset.of(lex.substring(10).replace("Z", "+00:00"))
          else ZoneOffset.UTC
        date.atStartOfDay(zone).toInstant.toEpochMilli
      case _ => // xsd:time: millis of day shifted by the zone offset
        if (lex.endsWith("Z") || lex.lastIndexOf('+') > 0 || lex.lastIndexOf('-') > 0) {
          val ot = OffsetTime.parse(lex)
          ot.toLocalTime.toNanoOfDay / 1000000L - ot.getOffset.getTotalSeconds * 1000L
        } else LocalTime.parse(lex).toNanoOfDay / 1000000L
    }
  } catch { case _: Exception => null }

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
    val (tA, lexA, dtA) = (str(a, 0), str(a, 1), str(a, 2))
    val (tB, lexB, dtB) = (str(b, 0), str(b, 1), str(b, 2))
    if (tA != Term.LIT || tB != Term.LIT) return null
    if (dtA == null || !NUMERIC_DATATYPES.contains(dtA)) return null
    if (dtB == null || !NUMERIC_DATATYPES.contains(dtB)) return null
    // §17.3 / XPath promotion: double > float > decimal > integer —
    // the WIDER operand class decides the result type, and double /
    // float results use IEEE math (÷0 is INF, not an error)
    def numClass(dt: String): Int =
      if (dt == Term.XSD + "double") 3
      else if (dt == Term.XSD + "float") 2
      else if (INTEGER_DATATYPES.contains(dt)) 0 else 1
    val cls = math.max(numClass(dtA), numClass(dtB))
    def mk(lex: String, dt: String): InternalRow = Term.row(Term.typed(lex, dt))
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
      return mk(lex, Term.XSD + (if (cls == 3) "double" else "float"))
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
    mk(lex, if (isInt) Term.XSD_INTEGER else Term.XSD_DECIMAL)
  }

  /** Whether a term column is a literal of a numeric datatype. */
  def isNumeric(c: Column): Column =
    c.getField("termType") === Term.LIT &&
      // datatype is null for plain literals — that's false, not unknown
      coalesce(c.getField("datatype").isin(NUMERIC_DATATYPES.toSeq: _*), lit(false))

  /** Numeric VALUE of a term column as decimal(38,10): null for a
    * term that is not a numeric-datatype literal (a plain "12" is a
    * string, not a number) and for a lexical form outside the carrier —
    * a SPARQL expression error either way, never a runtime error (a
    * data-controlled "1e30"^^xsd:double included). One codegen'd
    * expression: the equivalent when/isin/try_cast column tree, once
    * per SUM/AVG use, made `sparql_agg_expr` about 30 % slower.
    */
  def numValue(c: Column): Column =
    ExpressionUtils.column(TermNumValue(ExpressionUtils.expression(c)))

  /** [[numValue]] of one term InternalRow: the lexical form cast as
    * `try_cast(lex AS decimal(38,10))` casts it (half-up rounding to
    * scale 10, null on overflow), for numeric datatypes only.
    */
  def numValueOf(r: InternalRow): Decimal =
    if (r.isNullAt(1) || r.isNullAt(2) ||
        !NUMERIC_DATATYPES.contains(r.getUTF8String(2).toString)) null
    else {
      val d = Decimal.fromString(r.getUTF8String(1))
      if (d != null && d.changePrecision(38, 10)) d else null
    }

  /** SPARQL `a op b` over two term-struct columns, as one codegen'd
    * expression: `=` is value equality ([[valueEquals]]); `<`, `<=`,
    * `>` and `>=` ([[compareOf]]) compare value keys. As a column
    * tree over the keys, a Filter (which shares no subexpressions)
    * built each key three times per row, and `sparql_filter_numeric`
    * ran about 30 % slower.
    */
  def compare(a: Column, b: Column, op: String): Column =
    ExpressionUtils.column(TermCompare(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b), op))

  /** `a op b` for the `<` family (XPath `op:numeric-less-than` & co.,
    * §17.3), behind its comparability check: null — a type error —
    * when either term is a numeric or temporal literal with an
    * ill-formed lexical form, false when either is NaN (NaN's rank
    * above every numeric is for ORDER BY only), else `op` over the
    * [[valueKeyBytes]]; `=` is [[valueEquals]].
    */
  def compareOf(a: InternalRow, b: InternalRow, op: String): java.lang.Boolean = {
    if (op == "=") return valueEquals(a, b)
    val (ka, kb) = (valueKeyBytes(a, strict = true), valueKeyBytes(b, strict = true))
    def nan(k: Array[Byte]) = java.util.Arrays.equals(k, NaNKey)
    if (ka == null || kb == null) null
    else if (nan(ka) || nan(kb)) false
    else {
      val c = org.apache.spark.unsafe.types.ByteArray.compareBinary(ka, kb)
      op match { case "<" => c < 0; case "<=" => c <= 0; case ">" => c > 0; case ">=" => c >= 0 }
    }
  }

  private val NaNKey = Array[Byte](3, 2, 5)

  /** The total order over terms (§15.1): the term's position in SPARQL
    * value space ([[valueKeyBytes]], a binary key Spark orders byte-
    * wise, equal for value-equal terms such as `"2"^^xsd:int` and
    * `"2.0"^^xsd:decimal` or one instant in two zones), then lexical
    * form, language and datatype, so value-equal terms still sort
    * deterministically. ORDER BY sorts by it (ascending puts unbound
    * first, descending last) and MIN/MAX are `min_by`/`max_by` over it.
    */
  def orderKey(c: Column): Column =
    struct(ExpressionUtils.column(TermValueKey(ExpressionUtils.expression(c))).as("v"),
      c.getField("lex").as("lex"), c.getField("lang").as("lang"),
      c.getField("datatype").as("dt"))

  /** The value key of one term InternalRow. Layout, compared as
    * unsigned bytes:
    *  - rank: blank 1 < IRI 2 < literal 3 < quoted triple 4, then the
    *    UTF-8 lexical form for non-literals;
    *  - literals: class 0 (strings and every other non-numeric, non-
    *    temporal literal, incl. ill-formed ones) + UTF-8 lexical form;
    *    class 1 (a well-formed temporal) + datatype index + the
    *    [[temporalKey]]; class 2 (a well-formed numeric) + [[numericKey]].
    * `strict` keys an ill-formed numeric or temporal literal as null.
    */
  def valueKeyBytes(r: InternalRow, strict: Boolean): Array[Byte] = {
    def withLex(head: Byte*): Array[Byte] =
      head.toArray ++ (if (r.isNullAt(1)) Array.emptyByteArray else r.getUTF8String(1).getBytes)
    str(r, 0) match {
      case Term.BLANK => withLex(1)
      case Term.IRI => withLex(2)
      case Term.TRIPLE => withLex(4)
      case _ =>
        val (lex, dt) = (str(r, 1), str(r, 2))
        val num = if (lex != null && NUMERIC_DATATYPES.contains(dt)) numericKey(lex, dt) else null
        val tIdx = TEMPORAL_DATATYPES.indexOf(dt)
        val time = if (num == null && lex != null && tIdx >= 0) temporalKey(lex, dt) else null
        if (num != null) Array[Byte](3, 2) ++ num
        else if (time != null) Array[Byte](3, 1, tIdx.toByte) ++ longBytes(time)
        else if (strict && (tIdx >= 0 || NUMERIC_DATATYPES.contains(dt))) null
        else withLex(3, 0)
    }
  }

  /** A long as 8 big-endian bytes with the sign bit flipped, so the
    * unsigned byte order is the signed numeric order.
    */
  private def longBytes(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v ^ Long.MinValue).array()

  /** Order-preserving bytes of a numeric lexical form: exact for every
    * finite value `BigDecimal` parses (past 2^53 and past
    * decimal(38,10)), with xsd:double/float INF, -INF and NaN around
    * them. Null for an ill-formed lexical form.
    *
    * A sign class (-INF 0 < negative 1 < zero 2 < positive 3 < INF 4 <
    * NaN 5), then for a non-zero value 0.d1d2…dn × 10^e (no trailing
    * zero digit) the exponent e as 8 bytes and one byte per digit
    * (d + 1). A negative value inverts both (the exponent's bits, the
    * digits as 10 - d) and ends with byte 11, so that a shorter digit
    * string — the smaller magnitude — sorts after its extensions.
    */
  private def numericKey(lex: String, dt: String): Array[Byte] = {
    val ieee = dt == Term.XSD_DOUBLE || dt == Term.XSD_FLOAT
    lex match {
      case "-INF" if ieee => Array[Byte](0)
      case "INF" | "+INF" if ieee => Array[Byte](4)
      case "NaN" if ieee => Array[Byte](5)
      case _ =>
        val v = try new java.math.BigDecimal(lex)
          catch { case _: NumberFormatException => return null }
        if (v.signum == 0) return Array[Byte](2)
        val neg = v.signum < 0
        val s = v.stripTrailingZeros
        val digits = s.unscaledValue.abs.toString
        val exp = digits.length.toLong - s.scale
        val out = new Array[Byte](9 + digits.length + (if (neg) 1 else 0))
        out(0) = if (neg) 1 else 3
        System.arraycopy(longBytes(if (neg) ~exp else exp), 0, out, 1, 8)
        var i = 0
        while (i < digits.length) {
          val d = digits.charAt(i) - '0'
          out(9 + i) = (if (neg) 10 - d else d + 1).toByte
          i += 1
        }
        if (neg) out(out.length - 1) = 11
        out
    }
  }
}

/** An expression over term structs only: its input type check. */
trait TermInputs extends Expression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(c => Term.isStruct(c.dataType))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs term structs, got ${children.map(_.dataType).mkString(", ")}")
}

/** See [[TermOps.termArith]]. The result is nullable even for
  * non-null inputs (expression errors), so codegen handles the null
  * explicitly instead of using defineCodeGen.
  */
final case class TermArith(left: Expression, right: Expression, op: String)
    extends BinaryExpression with TermInputs {
  override def checkInputDataTypes(): TypeCheckResult =
    if (!Seq("+", "-", "*", "/").contains(op))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: unknown operator '$op'")
    else super.checkInputDataTypes()
  override def dataType: DataType = Term.Schema
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

/** See [[TermOps.compare]]. */
final case class TermCompare(left: Expression, right: Expression, op: String)
    extends BinaryExpression with TermInputs {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "term_compare"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TermOps.compareOf(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow], op)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cmp")
      s"""
         |Boolean $r = graft.functions.TermOps.compareOf($a, $b, "$op");
         |${ev.isNull} = $r == null;
         |if (!${ev.isNull}) ${ev.value} = $r;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TermCompare =
    copy(left = l, right = r)
}

/** See [[TermOps.orderKey]]. */
final case class TermValueKey(child: Expression) extends UnaryExpression with TermInputs {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "term_value_key"
  override protected def nullSafeEval(t: Any): Any =
    TermOps.valueKeyBytes(t.asInstanceOf[InternalRow], strict = false)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TermOps.valueKeyBytes($t, false)")
  override protected def withNewChildInternal(c: Expression): TermValueKey =
    copy(child = c)
}

/** See [[TermOps.numValue]]. */
final case class TermNumValue(child: Expression) extends UnaryExpression with TermInputs {
  override def dataType: DataType = DecimalType(38, 10)
  override def nullable: Boolean = true
  override def prettyName: String = "term_num_value"
  override protected def nullSafeEval(t: Any): Any =
    TermOps.numValueOf(t.asInstanceOf[InternalRow])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |${ev.value} = graft.functions.TermOps.numValueOf($t);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): TermNumValue =
    copy(child = c)
}
