package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

import graft.functions.TermOps
import graft.plans.Checkpoints
import graft.rdf.{RdfParseException, Term}

/** SPARQL expression compiler: [[Sparql.VExpr]]/[[Sparql.FExpr]] →
  * Catalyst [[Column]] trees over term structs (value-space
  * comparisons, numeric promotion, EBV, scalar functions, casts).
  * Mixed into [[Sparql]]; split out for reviewability only — no
  * behavior or API change.
  */
private[sparql] trait SparqlExprCompiler { this: Sparql.type =>
  import Sparql._
  /** Resolves a variable to its column of `df`, or to an unbound
    * (typed-null) term where `df` does not bind it.
    */
  private[sparql] def resolverOf(df: DataFrame): String => Column = {
    val cols = df.columns.toSet
    n => if (cols.contains(n)) col(n) else nullTerm
  }

  private[sparql] def nullTerm: Column = lit(null).cast(Term.Schema)

  /** Canonical lexical form of a decimal value: strip a trailing
    * fraction of zeros ("10.5000" → "10.5", "10.000" → "10") so the
    * engine's arithmetic lexicals are deterministic.
    */
  private[sparql] def decLex(c: Column): Column = {
    val s = c.cast("string")
    when(s.contains("."),
      regexp_replace(regexp_replace(s, "0+$", ""), "\\.$", ""))
      .otherwise(s)
  }

  private[sparql] def plainStrTerm(lex: Column): Column =
    when(lex.isNull, nullTerm).otherwise(
      Term.column(Term.LIT, lex))

  private[sparql] def numericTerm(v: Column, dt: Column): Column =
    when(v.isNull, nullTerm).otherwise(
      Term.column(Term.LIT,
        when(dt === Term.XSD_INTEGER, v.cast("decimal(38,0)").cast("string"))
          .otherwise(decLex(v)), dt))

  private[sparql] def compileExpr(e: VExpr, resolve: String => Column): Column = e match {
    // an unbound variable is a typed-null term, so COALESCE skips it
    case VVar(n) => resolve(n)
    // aggregate calls are rewritten to hidden columns by the grouped
    // projection before compilation ever sees them
    case _: VAgg => throw new RdfParseException(
      "aggregate call is only allowed in the projection/ORDER BY of a grouped query")
    case VConst(t) => Term.column(t)
    case VCoalesce(args) => coalesce(args.map(compileExpr(_, resolve)): _*)
    case VFn(func, arg) =>
      val a = compileExpr(arg, resolve)
      def strTerm(lex: Column) =
        when(a.isNull, nullTerm).otherwise(plainStrTerm(lex))
      func match {
        case "STR" => strTerm(a.getField("lex"))
        case "LANG" =>
          // only defined for literals; "" when no language tag. An
          // RDF 1.2 base direction (`en--ltr`) is NOT part of the
          // language — LANG strips it (LANGDIR reads it)
          when(a.getField("termType") === Term.LIT,
            strTerm(regexp_replace(coalesce(a.getField("lang"), lit("")),
              "--(ltr|rtl)$", "")))
            .otherwise(nullTerm)
        case "DATATYPE" =>
          // lang-tagged → rdf:langString, lang+dir → rdf:dirLangString
          // (RDF 1.1 §3.3 / RDF 1.2), else the stated datatype, else
          // xsd:string
          val lg = a.getField("lang")
          val dt = when(lg.isNotNull,
              when(lg.rlike("--(ltr|rtl)$"), Term.RDF_DIRLANGSTRING)
                .otherwise(Term.RDF_LANGSTRING))
            .otherwise(coalesce(a.getField("datatype"), lit(Term.XSD_STRING)))
          when(a.getField("termType") === Term.LIT,
            Term.column(Term.IRI, dt))
            .otherwise(nullTerm)
        case other => throw new RdfParseException(s"unsupported function $other")
      }
    case VBin(op, l, r) =>
      if (!Seq("+", "-", "*", "/").contains(op))
        throw new RdfParseException(s"unsupported operator $op")
      // ONE codegen'd Catalyst expression (§17.3 semantics inside,
      // incl. div-by-zero → error): the equivalent when/cast/regexp
      // column tree was ~40 nodes PER OPERATOR, which made
      // expression-heavy queries analysis/codegen-bound
      TermOps.termArith(op,
        compileExpr(l, resolve), compileExpr(r, resolve))
    case VIf(cond, t, f) =>
      val c = compileFilter(cond, resolve)
      // an error in the condition is an error in the result
      when(c === true, compileExpr(t, resolve))
        .when(c === false, compileExpr(f, resolve))
        .otherwise(nullTerm)
    case VBool(cond) =>
      // boolean-valued expression in term position: three-valued null
      // (expression error) stays unbound, true/false become canonical
      // xsd:boolean literals
      val c = compileFilter(cond, resolve)
      when(c.isNotNull,
        Term.column(Term.LIT, when(c, lit("true")).otherwise(lit("false")),
          lit(Term.XSD_BOOLEAN)))
        .otherwise(nullTerm)
    case VCast(dt, arg) =>
      // §17.5 XPath casting: validate the source, emit the canonical
      // typed literal, error (null) on anything outside the cast table
      val a = compileExpr(arg, resolve)
      val lexC = a.getField("lex")
      val isLit = a.getField("termType") === Term.LIT
      val srcNum = TermOps.isNumeric(a)
      val srcBool = isLit && a.getField("datatype") === Term.XSD_BOOLEAN
      val srcStr = isPlainString(a)
      val truthy = lexC.isin("true", "1")
      val falsy = lexC.isin("false", "0")
      // a null lexical form (decimal(38,0)/(38,10) overflow of an
      // in-range source, >38-digit strings) is a cast ERROR, not a
      // malformed literal-with-null-lex
      def typed(lex: Column, dtIri: String) = when(lex.isNotNull,
        Term.column(Term.LIT, lex, lit(dtIri).cast("string"))).otherwise(nullTerm)
      dt match {
        case Term.XSD_STRING =>
          // the lexical form of any literal, as xsd:string (= plain
          // in RDF 1.1 value space — valueEq treats them alike)
          when(isLit, typed(lexC, Term.XSD_STRING)).otherwise(nullTerm)
        case Term.XSD_BOOLEAN =>
          when((srcBool || srcStr) && truthy, typed(lit("true"), Term.XSD_BOOLEAN))
            .when((srcBool || srcStr) && falsy, typed(lit("false"), Term.XSD_BOOLEAN))
            .when(srcNum, typed(when(TermOps.numValue(a) =!= 0, "true")
              .otherwise("false"), Term.XSD_BOOLEAN))
            .otherwise(nullTerm)
        case Term.XSD_INTEGER =>
          // numeric sources truncate toward zero (XPath casting);
          // string sources must be integer lexicals (canonicalized)
          val v = TermOps.numValue(a)
          val trunc = when(v >= 0, floor(v)).otherwise(ceil(v)).cast("decimal(38,0)")
          when(srcNum, typed(trunc.cast("string"), Term.XSD_INTEGER))
            .when(srcBool, typed(when(truthy, "1").otherwise("0"), Term.XSD_INTEGER))
            .when(srcStr && lexC.rlike("^[+-]?\\d+$"),
              typed(lexC.try_cast("decimal(38,0)").cast("string"), Term.XSD_INTEGER))
            .otherwise(nullTerm)
        case Term.XSD_DECIMAL =>
          when(srcNum, typed(decLex(TermOps.numValue(a)), Term.XSD_DECIMAL))
            .when(srcBool, typed(when(truthy, "1").otherwise("0"), Term.XSD_DECIMAL))
            .when(srcStr && lexC.rlike("^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)$"),
              typed(decLex(lexC.try_cast("decimal(38,10)")), Term.XSD_DECIMAL))
            .otherwise(nullTerm)
        case Term.XSD_DOUBLE | Term.XSD_FLOAT =>
          // lexical form is the JVM double repr — deterministic
          // engine-wide, not XSD-canonical-with-exponent
          val d = when(srcNum || srcStr, lexC.try_cast("double"))
            .when(srcBool, when(truthy, 1.0d).otherwise(0.0d))
          when(d.isNotNull, typed(d.cast("string"), dt)).otherwise(nullTerm)
        case Term.XSD_DATETIME =>
          when(isLit && lexC.rlike(
              "^-?\\d{4,}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})?$"),
            typed(lexC, Term.XSD_DATETIME)).otherwise(nullTerm)
        case Term.XSD_DATE =>
          when(isLit && lexC.rlike("^-?\\d{4,}-\\d{2}-\\d{2}(Z|[+-]\\d{2}:\\d{2})?$"),
            typed(lexC, Term.XSD_DATE)).otherwise(nullTerm)
        case other => throw new RdfParseException(s"unsupported cast target <$other>")
      }
    case VFnN(func, args) =>
      def a(i: Int) = compileExpr(args(i), resolve)
      def lex(i: Int) = a(i).getField("lex")
      // string functions are defined on literals only (§17.4.3)
      def onLit(i: Int)(c: Column) =
        when(a(i).getField("termType") === Term.LIT, c).otherwise(nullTerm)
      // result carries the argument's lang/datatype (UCASE/LCASE/...)
      def likeArg(i: Int)(l: Column) = onLit(i)(
        Term.column(Term.LIT, l, a(i).getField("datatype"), a(i).getField("lang")))
      def intTerm(v: Column) = when(v.isNull, nullTerm).otherwise(
        Term.column(Term.LIT, v.cast("string"), lit(Term.XSD_INTEGER).cast("string")))
      // STRBEFORE/STRAFTER take their separator as a parse-time string
      def sepArg: String = args(1) match {
        case VConst(t) if t.isLit => t.lex
        case _ => throw new RdfParseException(s"$func needs a constant separator")
      }
      func match {
        case "STRLEN" => onLit(0)(intTerm(length(lex(0)).cast("long")))
        // RFC 3986 percent-encoding of everything but the unreserved
        // set, UTF-8 bytes uppercase-hex (§17.4.3.4). Pure column ops:
        // per-character transform, multi-byte chars hex-encoded from
        // their UTF-8 encoding. (Astral chars split into surrogates by
        // split('') are out of this subset's scope.)
        case "ENCODE_FOR_URI" =>
          onLit(0)(plainStrTerm(array_join(
            functions.transform(split(lex(0), ""), c =>
              when(c.rlike("^[A-Za-z0-9\\-_.~]$"), c)
                .otherwise(regexp_replace(upper(hex(encode(c, "UTF-8"))),
                  "(..)", "%$1"))), "")))
        case "UCASE" => likeArg(0)(upper(lex(0)))
        case "LCASE" => likeArg(0)(lower(lex(0)))
        case "CONCAT" =>
          // all args must be literals; a lang tag shared by ALL
          // arguments survives (§17.4.3.12), otherwise the result is a
          // simple literal
          if (args.isEmpty) plainStrTerm(lit(""))
          else {
            val ok = args.indices.map(i => a(i).getField("termType") === Term.LIT)
              .reduce(_ && _)
            val langs = args.indices.map(i => a(i).getField("lang"))
            val shared = langs.tail.foldLeft(langs.head.isNotNull)(
              (acc, c) => acc && (c <=> langs.head))
            when(ok, Term.column(Term.LIT, concat(args.indices.map(lex): _*),
              lang = when(shared, langs.head).otherwise(lit(null).cast("string"))))
              .otherwise(nullTerm)
          }
        case "SUBSTR" =>
          // XPath fn:substring (§17.4.3.3): keep positions p with
          // round(start) <= p < round(start) + round(len). A start
          // before 1 SHORTENS the window — it never wraps to the
          // string end the way Spark's negative-start substr does
          def clampPos(c: Column) = greatest(least(floor(c + 0.5),
            lit(Int.MaxValue.toDouble)), lit(Int.MinValue.toDouble)).cast("long")
          val s0 = clampPos(TermOps.numValue(a(1)))
          val l0 = if (args.size > 2) clampPos(TermOps.numValue(a(2)))
            else lit(Int.MaxValue.toLong)
          val from = greatest(s0, lit(1L))
          val len = greatest(s0 + l0 - from, lit(0L))
          likeArg(0)(lex(0).substr(from.cast("int"),
            least(len, lit(Int.MaxValue.toLong)).cast("int")))
        case "REPLACE" =>
          (args(1), args(2)) match {
            case (VConst(p), VConst(r)) if p.isLit && r.isLit =>
              likeArg(0)(regexp_replace(lex(0), p.lex, r.lex))
            case _ => throw new RdfParseException(
              "REPLACE needs constant pattern and replacement")
          }
        case "STRBEFORE" =>
          // a MATCH (incl. the empty separator) yields a literal of
          // arg1's kind — lang tag / datatype survive (§17.4.3.7); no
          // match yields an empty SIMPLE literal
          def like0(l: Column) =
            Term.column(Term.LIT, l, a(0).getField("datatype"), a(0).getField("lang"))
          val sep = sepArg
          onLit(0)(
            if (sep.isEmpty) like0(lit(""))
            else when(instr(lex(0), sep) > 0,
              like0(substring_index(lex(0), sep, 1)))
              .otherwise(plainStrTerm(lit(""))))
        case "STRAFTER" =>
          def like0(l: Column) =
            Term.column(Term.LIT, l, a(0).getField("datatype"), a(0).getField("lang"))
          val sep = sepArg
          onLit(0)(
            if (sep.isEmpty) like0(lex(0))
            else {
              val p = locate(sep, lex(0))
              when(p > 0, like0(lex(0).substr(p + sep.length, lit(Int.MaxValue))))
                .otherwise(plainStrTerm(lit("")))
            })
        case "ABS" | "ROUND" | "CEIL" | "FLOOR" =>
          val v = TermOps.numValue(a(0))
          numericTerm(func match {
            case "ABS" => abs(v)
            // XPath fn:round: half rounds toward positive infinity
            // (round(-2.5) = -2), which is floor(x + 0.5)
            case "ROUND" => floor(v + lit(0.5)).cast("decimal(38,10)")
            case "CEIL" => ceil(v).cast("decimal(38,10)")
            case _ => floor(v).cast("decimal(38,10)")
          }, when(a(0).getField("datatype").isin(TermOps.INTEGER_DATATYPES.toSeq: _*),
            lit(Term.XSD_INTEGER)).otherwise(lit(Term.XSD_DECIMAL)))
        case "IRI" | "URI" =>
          // §17.4.2.8: the argument must be an IRI, a simple literal,
          // or an xsd:string — a numeric/lang-tagged literal is an error
          val iriOk = a(0).getField("termType") === Term.IRI ||
            (a(0).getField("termType") === Term.LIT &&
              a(0).getField("lang").isNull &&
              (a(0).getField("datatype").isNull ||
                a(0).getField("datatype") === Term.XSD_STRING))
          when(a(0).isNotNull && iriOk, Term.column(Term.IRI, lex(0))).otherwise(nullTerm)
        // §17.4.4 hash functions: hex digest of the UTF-8 bytes of a
        // simple / xsd:string literal's lexical form, as a simple
        // literal (Spark's md5/sha1/sha2 emit lowercase hex already)
        case "MD5" | "SHA1" | "SHA256" | "SHA384" | "SHA512" =>
          val okStr = a(0).getField("termType") === Term.LIT &&
            a(0).getField("lang").isNull &&
            (a(0).getField("datatype").isNull ||
             a(0).getField("datatype") === Term.XSD_STRING)
          val digest = func match {
            case "MD5" => md5(encode(lex(0), "UTF-8"))
            case "SHA1" => sha1(encode(lex(0), "UTF-8"))
            case other => sha2(encode(lex(0), "UTF-8"), other.drop(3).toInt)
          }
          when(okStr, plainStrTerm(digest)).otherwise(nullTerm)
        // SPARQL-star quoted-triple accessors/constructor: components
        // parse out of the canonical lex (TermStar expression, null =
        // expression error on a non-triple term); TRIPLE() re-quotes
        // three bound terms
        // RDF 1.2 / SPARQL 1.2 direction accessors and constructor
        case "LANGDIR" =>
          // "" for a literal with no direction; error on non-literals
          when(a(0).getField("termType") === Term.LIT,
            plainStrTerm(regexp_extract(
              coalesce(a(0).getField("lang"), lit("")), "--(ltr|rtl)$", 1)))
            .otherwise(nullTerm)
        case "STRLANGDIR" =>
          if (args.length != 3)
            throw new RdfParseException("STRLANGDIR takes exactly 3 arguments")
          // simple-literal lex + language + direction ("ltr"/"rtl")
          val okLex = isPlainString(a(0))
          val lang = a(1).getField("lex")
          val dir = a(2).getField("lex")
          when(okLex && isPlainString(a(1)) && isPlainString(a(2)) &&
              lang =!= "" && dir.isin("ltr", "rtl"),
            Term.column(Term.LIT, lex(0), lang = concat(lang, lit("--"), dir)))
            .otherwise(nullTerm)
        case "SUBJECT" => graft.functions.TermStar.componentOf(a(0), 0)
        case "PREDICATE" => graft.functions.TermStar.componentOf(a(0), 1)
        case "OBJECT" => graft.functions.TermStar.componentOf(a(0), 2)
        case "TRIPLE" =>
          if (args.length != 3)
            throw new RdfParseException("TRIPLE takes exactly 3 arguments")
          graft.functions.TermStar.quotedOf(a(0), a(1), a(2))
        // §17.4.5 date/time accessors, evaluated on the LEXICAL form of
        // xsd:dateTime (YEAR/MONTH/DAY/TZ also xsd:date) — no timezone
        // conversion, exactly the component the literal spells
        case "YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS" | "TZ"
           | "TIMEZONE" =>
          val dt = a(0).getField("datatype")
          val okType = func match {
            case "YEAR" | "MONTH" | "DAY" | "TZ" | "TIMEZONE" =>
              dt === Term.XSD_DATETIME || dt === Term.XSD_DATE
            case _ => dt === Term.XSD_DATETIME
          }
          val ok = a(0).getField("termType") === Term.LIT && okType
          def part(pattern: String) = regexp_extract(lex(0), pattern, 1)
          func match {
            case "TZ" => // "" when the literal carries no zone (spec)
              when(ok, plainStrTerm(part("(Z|[+-]\\d{2}:\\d{2})$")))
                .otherwise(nullTerm)
            case "TIMEZONE" =>
              // xsd:dayTimeDuration in canonical form: Z/±00:00 → PT0S,
              // else [-]PT<h>H[<m>M] with zero components omitted; a
              // literal with NO zone is an expression error (§17.4.5.7)
              val zone = part("(Z|[+-]\\d{2}:\\d{2})$")
              val hh = regexp_extract(zone, "^[+-](\\d{2}):", 1).try_cast("int")
              val mm = regexp_extract(zone, ":(\\d{2})$", 1).try_cast("int")
              val durLex =
                when(zone === "Z" || (hh === 0 && mm === 0), lit("PT0S"))
                  .otherwise(concat(
                    when(zone.startsWith("-"), lit("-")).otherwise(lit("")),
                    lit("PT"),
                    when(hh > 0, concat(hh.cast("string"), lit("H"))).otherwise(lit("")),
                    when(mm > 0, concat(mm.cast("string"), lit("M"))).otherwise(lit(""))))
              when(ok && zone =!= "",
                Term.column(Term.LIT, durLex, lit(Term.XSD + "dayTimeDuration")))
                .otherwise(nullTerm)
            case "SECONDS" =>
              val sec = part("T\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)")
              when(ok && sec =!= "",
                numericTerm(sec.cast("decimal(12,6)"), lit(Term.XSD_DECIMAL)))
                .otherwise(nullTerm)
            case other =>
              val p = other match {
                case "YEAR" => "^(-?\\d{4,})-"
                case "MONTH" => "^-?\\d{4,}-(\\d{2})"
                case "DAY" => "^-?\\d{4,}-\\d{2}-(\\d{2})"
                case "HOURS" => "T(\\d{2}):"
                case "MINUTES" => "T\\d{2}:(\\d{2})"
              }
              val v = part(p)
              when(ok && v =!= "", intTerm(v.try_cast("long"))).otherwise(nullTerm)
          }
        // literal constructors (§17.4.2.8-9): the lexical form must be
        // a simple literal, the datatype an IRI / the tag a literal
        case "STRDT" =>
          // the lexical-form argument must be a SIMPLE literal (or
          // xsd:string) — lang-tagged / already-typed input is an error
          when(a(0).getField("termType") === Term.LIT &&
              a(0).getField("lang").isNull &&
              (a(0).getField("datatype").isNull ||
                a(0).getField("datatype") === Term.XSD_STRING) &&
              a(1).getField("termType") === Term.IRI,
            Term.column(Term.LIT, lex(0), lex(1)))
            .otherwise(nullTerm)
        case "STRLANG" =>
          when(a(0).getField("termType") === Term.LIT &&
              a(0).getField("lang").isNull &&
              (a(0).getField("datatype").isNull ||
                a(0).getField("datatype") === Term.XSD_STRING) &&
              a(1).getField("termType") === Term.LIT && length(lex(1)) > 0,
            Term.column(Term.LIT, lex(0), lang = lex(1)))
            .otherwise(nullTerm)

        // --- nondeterministic builtins (§17.4.2 / §17.4.5): values
        // come from the query's EvalContext so a fixed clock/seed
        // reproduces the output bit-for-bit (oracle-safe) -------------
        case "NOW" =>
          // ONE instant for the whole query (§17.4.5.1) — compiled to
          // a literal from the context clock
          val lexNow = java.time.format.DateTimeFormatter.ISO_INSTANT
            .format(currentCtx.now)
          Term.column(Term.LIT, lit(lexNow), lit(Term.XSD_DATETIME).cast("string"))
        case "RAND" =>
          // xsd:double in [0,1), a distinct seeded stream per call site
          Term.column(Term.LIT, rand(currentCtx.nextSiteSeed()).cast("string"),
            lit(Term.XSD_DOUBLE).cast("string"))
        case "UUID" =>
          Term.column(Term.IRI, concat(lit("urn:uuid:"), uuidLex(currentCtx)))
        case "STRUUID" => plainStrTerm(uuidLex(currentCtx))
        case "BNODE" if args.isEmpty =>
          Term.column(Term.BLANK,
            concat(lit("gen"), lower(hex(xxhash64(rand(currentCtx.nextSiteSeed()))))))
        case "BNODE" =>
          // BNODE(str): one label per distinct literal (stable across
          // solutions — a CONSTRUCT-templating-friendly reading of
          // §17.4.2.9, which scopes freshness per solution; ARQ's
          // per-row map is not reproducible under distribution)
          when(a(0).getField("termType") === Term.LIT &&
              a(0).getField("lang").isNull &&
              (a(0).getField("datatype").isNull ||
                a(0).getField("datatype") === Term.XSD_STRING),
            Term.column(Term.BLANK,
              concat(lit("b"), lower(hex(xxhash64(lex(0), lit(currentCtx.seed)))))))
            .otherwise(nullTerm)
        case other => throw new RdfParseException(s"unsupported function $other")
      }
  }

  /** A v4-shaped UUID lexical, one fresh value per row: 122 random
    * bits drawn from two seeded per-call-site streams. Reproducible
    * given the context seed and a stable partitioning of the input —
    * the property the oracle entries rely on.
    */
  private[sparql] def uuidLex(ctx: EvalContext): Column = {
    val h1 = lpad(hex(xxhash64(rand(ctx.nextSiteSeed()))), 16, "0")
    val h2 = lpad(hex(xxhash64(rand(ctx.nextSiteSeed()))), 16, "0")
    lower(concat(
      substring(h1, 1, 8), lit("-"), substring(h1, 9, 4), lit("-4"),
      substring(h1, 13, 3), lit("-a"), substring(h2, 1, 3), lit("-"),
      substring(h2, 4, 12)))
  }

  /** A filter operand via the contextual variable resolver — an
    * UNBOUND variable resolves to a typed null, and SPARQL
    * expression-error semantics then drop the row via three-valued
    * logic instead of failing analysis.
    */
  private[sparql] def operandCol(n: Node, resolve: String => Column): Column = n match {
    case Var(v) => resolve(v)
    case Const(t) => Term.column(t)
    case QTriple(_, _, _) =>
      throw new RdfParseException("quoted-triple patterns are not filter operands; use TRIPLE()")
  }

  private[sparql] def compileFilter(f: FExpr, resolve: String => Column): Column = f match {
    case FFlag(n, positive) =>
      // EXISTS never errors: the mark column is a real true/false
      if (positive) col(n) else !col(n)
    case FExists(_, _) =>
      throw new RdfParseException(
        "EXISTS is supported only inside FILTER constraints " +
        "(not in HAVING, BIND or SELECT expressions)")
    case FAnd(a, b) => compileFilter(a, resolve) && compileFilter(b, resolve)
    case FOr(a, b) => compileFilter(a, resolve) || compileFilter(b, resolve)
    case FNot(e) =>
      // SPARQL error semantics: an error inside NOT stays an error
      // (row dropped) — Spark's three-valued !null matches exactly
      !compileFilter(e, resolve)
    case FRegex(v, pattern, flags) =>
      val pat = if (flags.contains("i")) "(?i)" + pattern else pattern
      operandCol(v, resolve).getField("lex").rlike(pat)
    case FStrFn(func, v, arg) =>
      val lex = operandCol(v, resolve).getField("lex")
      func match {
        case "CONTAINS" => lex.contains(arg)
        case "STRSTARTS" => lex.startsWith(arg)
        case "STRENDS" => lex.endsWith(arg)
        case other => throw new RdfParseException(s"unsupported string test $other")
      }
    case FTest(func, v) =>
      val c = resolve(v) // a never-bound var resolves to null → false
      func match {
        case "BOUND" => c.isNotNull
        case "ISIRI" | "ISURI" => c.getField("termType") === Term.IRI
        case "ISBLANK" => c.getField("termType") === Term.BLANK
        case "ISLITERAL" => c.getField("termType") === Term.LIT
        // a numeric TERM whose lexical form actually parses
        case "ISNUMERIC" => TermOps.isNumeric(c) && TermOps.numValue(c).isNotNull
        case "ISTRIPLE" => c.getField("termType") === Term.TRIPLE
        // SPARQL 1.2: does the literal carry a language / a direction
        case "HASLANG" =>
          c.getField("termType") === Term.LIT && c.getField("lang").isNotNull
        case "HASLANGDIR" =>
          c.getField("termType") === Term.LIT &&
            c.getField("lang").rlike("--(ltr|rtl)$")
        case other => throw new RdfParseException(s"unsupported test $other")
      }
    case FIn(e, items, positive) =>
      val ec = compileExpr(e, resolve)
      val anyEq = items
        .map(i => valueEq(ec, compileExpr(i, resolve)))
        .reduce(_ || _)
      if (positive) anyEq else !anyEq
    case FSameTerm(l, r) =>
      // structural identity of the term structs, not value equality
      compileExpr(l, resolve) === compileExpr(r, resolve)
    case FLangMatches(t, range) =>
      val tc = compileExpr(t, resolve)
      val tag = lower(tc.getField("lex"))
      val matched =
        if (range == "*") tag.isNotNull && tag =!= ""
        else {
          val r = range.toLowerCase
          tag === r || tag.startsWith(r + "-")
        }
      // the tag operand must be a literal (§17.4.3.1) — an IRI or
      // blank node is a TYPE ERROR (row dropped), not a comparison
      // of its lex as if it were a language tag
      when(tc.getField("termType") === Term.LIT, matched)
        .otherwise(lit(null).cast("boolean"))
    case FEbv(e) =>
      val c = compileExpr(e, resolve)
      when(c.getField("termType") === Term.LIT &&
          c.getField("datatype") === Term.XSD_BOOLEAN,
          c.getField("lex") === "true" || c.getField("lex") === "1")
        .when(TermOps.isNumeric(c), TermOps.numValue(c) =!= lit(0))
        .when(isPlainString(c), length(c.getField("lex")) > 0)
        .otherwise(lit(null).cast("boolean")) // type error → row dropped
    case FCmp(l, op, r) =>
      val lc = compileExpr(l, resolve)
      val rc = compileExpr(r, resolve)
      op match {
        // SPARQL VALUE equality, not structural: "01"^^xsd:integer
        // equals "1"^^xsd:integer (graft.functions.TermOps.valueEquals)
        case "=" => valueEq(lc, rc)
        case "!=" => !valueEq(lc, rc)
        // ordering is VALUE-space too: "9"^^xsd:integer <
        // "10"^^xsd:integer, on the value keys ORDER BY sorts by (the
        // lexical order is inverted there). Incomparable operand kinds
        // and ill-formed numeric/temporal operands are a TYPE ERROR
        // (null), not false — so FILTER drops the row, !(…) stays an
        // error, and IF propagates the error (§17.2)
        case "<" | ">" | "<=" | ">=" =>
          when(comparable(l, r, resolve), TermOps.compare(lc, rc, op))
        case other => throw new RdfParseException(s"unsupported FILTER op '$other'")
      }
  }

  /** RDFterm-equal (§17.4.1.7) with the numeric-vs-non-numeric literal
    * corner as a TYPE ERROR rather than false: `"banana" = 3` errors,
    * so `?v NOT IN (3)` drops the banana row instead of keeping it.
    */
  private[sparql] def valueEq(lc: Column, rc: Column): Column = {
    val bothLit = lc.getField("termType") === Term.LIT &&
      rc.getField("termType") === Term.LIT
    when(bothLit && (TermOps.isNumeric(lc) =!= TermOps.isNumeric(rc)),
      lit(null).cast("boolean"))
      .otherwise(TermOps.compare(lc, rc, "="))
  }

  /** Datatypes with a defined `<` beyond numerics and simple strings
    * (op:dateTime/date/time/boolean-less-than, §17.3) — orderable only
    * against the SAME datatype.
    */
  private val ORDERABLE_DATATYPES: Seq[String] = TermOps.TEMPORAL_DATATYPES :+ Term.XSD_BOOLEAN

  private def sameOrderableDt(a: Column, b: Column): Column =
    a.getField("termType") === Term.LIT && b.getField("termType") === Term.LIT &&
      a.getField("lang").isNull && b.getField("lang").isNull &&
      coalesce(a.getField("datatype").isin(ORDERABLE_DATATYPES: _*), lit(false)) &&
      a.getField("datatype") === b.getField("datatype")

  /** SPARQL ordering comparability (spec §17.3, operator mapping):
    * numeric-vs-numeric and string-vs-string compare; anything else is
    * a type error, i.e. FILTER false. With a constant side this
    * resolves statically to a plain datatype/lang predicate on the
    * other operand (pushable); var-vs-var takes the column form.
    */
  private[sparql] def comparable(l: VExpr, r: VExpr, resolve: String => Column): Column = (l, r) match {
    case (VConst(t), e) => comparableWith(compileExpr(e, resolve), t)
    case (e, VConst(t)) => comparableWith(compileExpr(e, resolve), t)
    case _ =>
      val a = compileExpr(l, resolve)
      val b = compileExpr(r, resolve)
      val (na, nb) = (TermOps.isNumeric(a), TermOps.isNumeric(b))
      when(na || nb, na && nb)
        .when(isPlainString(a) || isPlainString(b), isPlainString(a) && isPlainString(b))
        // IRI / blank / lang-tagged / mismatched datatypes: TYPE ERROR
        // (spec §17.3 leaves them without an order; the total-order
        // extension lives only in ORDER BY, §15.1)
        .otherwise(sameOrderableDt(a, b))
  }

  private[sparql] def isPlainString(c: Column): Column =
    c.getField("termType") === Term.LIT && c.getField("lang").isNull &&
      (c.getField("datatype").isNull || c.getField("datatype") === Term.XSD_STRING)

  private[sparql] def comparableWith(c: Column, t: Term): Column = {
    import TermOps.NUMERIC_DATATYPES
    val isLit = c.getField("termType") === Term.LIT
    if (t.termType == Term.LIT && t.datatype != null &&
        NUMERIC_DATATYPES.contains(t.datatype))
      isLit && c.getField("datatype").isin(NUMERIC_DATATYPES.toSeq: _*)
    else if (t.termType == Term.LIT && t.lang == null &&
        (t.datatype == null || t.datatype == Term.XSD_STRING))
      isPlainString(c)
    else if (t.termType == Term.LIT && t.lang == null &&
        ORDERABLE_DATATYPES.contains(t.datatype))
      isLit && c.getField("lang").isNull &&
        c.getField("datatype") === t.datatype
    // IRI / blank / lang-tagged constant: no defined order → type error
    else lit(false)
  }
}
