package graft.rules

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._

/**
 * Lowers a [[ValidationSuite]] to Catalyst `Column` expression trees:
 * the whole rule set becomes ONE wide projection (no joins, no UDFs —
 * everything codegen-friendly built-ins), so Catalyst gets full freedom
 * for CSE / constant folding / null propagation across rules.
 *
 * Per-record semantics mirror the reference interpreter
 * (odevalidator/validator.py:83-243):
 *   - each rule emits struct(field_path, valid, details);
 *   - `validations` = array of all rule structs (+ per-element structs for
 *     `.list` rules with indexed labels `a{i}.b`, validator.py:304-378);
 *   - conditional rules are first-wins `when` chains with fallback to the
 *     unconditional check (validator.py:96-129);
 *   - skip-sequential conditions emit boolean side-columns, aggregated
 *     per-file downstream (validator.py:110-112; SURVEY §2.7 W7).
 *
 * Documented divergences from the reference (all in failure-detail TEXT,
 * never in the valid/invalid verdict):
 *   - decimal/timestamp/choice parse-failure details reproduce the COMMON
 *     CPython exception texts byte-for-byte (ConversionSyntax, "Unknown
 *     string format", the six datetime component-range messages in
 *     constructor order, strptime mismatch, %-format TypeError); exotic
 *     failure classes would render Python-specific texts we don't mirror.
 *   (r7: the former non-UTC-offset divergence is CLOSED — dateutil-path
 *   details now re-shift to the value's original offset, ref-golden
 *   pinned in fixtures/lenient.)
 */
object RuleCompiler {

  /** Schema-aware path resolution: dotted path with `{i}` list indices
   *  (validator.py:172-194). Unresolvable path ⇒ lit(null) — the reference
   *  yields None for any missing step. */
  def pathColumn(schema: StructType, path: String): Column = {
    val segments = path.split('.')
    resolve(schema, segments.toList, None).getOrElse(nullCol)
  }

  /** Data type a path resolves to, if any. */
  def pathType(schema: StructType, path: String): Option[DataType] =
    typeOf(schema, path.split('.').toList)

  private def nullCol: Column = lit(null).cast(StringType)

  private val IndexedSeg = """^(.+)\{(\d+)\}$""".r

  private def splitSeg(seg: String): (String, Option[Int]) = seg match {
    case IndexedSeg(n, i) => (n, Some(i.toInt))
    case n => (n, None)
  }

  private def resolve(dt: DataType, segs: List[String], cur: Option[Column]): Option[Column] =
    segs match {
      case Nil => cur
      case seg :: rest =>
        val (name, idx) = splitSeg(seg)
        dt match {
          case st: StructType =>
            st.fields.find(_.name == name).flatMap { f =>
              val base = cur.map(_.getField(name)).getOrElse(col(quoted(name)))
              (idx, f.dataType) match {
                case (Some(i), at: ArrayType) =>
                  // SafeArrayGet: 0-based Python indexing, null out of bounds,
                  // and codegen-safe over literal CreateArray (ArrayExpressions)
                  resolve(at.elementType, rest,
                    Some(graft.functions.GraftFunctions.graftArrayGet(base, lit(i))))
                case (Some(_), _) => None
                case (None, inner) => resolve(inner, rest, Some(base))
              }
            }
          case _ => None
        }
    }

  private def typeOf(dt: DataType, segs: List[String]): Option[DataType] = segs match {
    case Nil => Some(dt)
    case seg :: rest =>
      val (name, idx) = splitSeg(seg)
      dt match {
        case st: StructType =>
          st.fields.find(_.name == name).flatMap { f =>
            (idx, f.dataType) match {
              case (Some(_), at: ArrayType) => typeOf(at.elementType, rest)
              case (Some(_), _) => None
              case (None, inner) => typeOf(inner, rest)
            }
          }
        case _ => None
      }
  }

  private def quoted(name: String): String = s"`$name`"

  /** Python-style truthiness per column type (validator.py:137 `not value`):
   *  null, empty string, numeric zero, false, empty array are all falsy. */
  def falsy(c: Column, dt: Option[DataType]): Column = dt match {
    case Some(StringType) => c.isNull || c === ""
    case Some(_: NumericType) => c.isNull || c === lit(0)
    case Some(BooleanType) => c.isNull || !c
    case Some(_: ArrayType) => c.isNull || size(c) === 0
    case _ => c.isNull || c.cast(StringType) === ""
  }

  /** Verdict struct shape shared by every rule column. */
  val verdictType: StructType = StructType(Seq(
    StructField("field_path", StringType),
    StructField("valid", BooleanType, nullable = false),
    StructField("details", StringType)))

  private def verdict(path: Column, valid: Column, details: Column): Column =
    struct(path.as("field_path"), valid.as("valid"), details.as("details"))

  private def pass(path: Column): Column = verdict(path, lit(true), lit(""))
  private def fail(path: Column, details: Column): Column = verdict(path, lit(false), details)

  /** `%d`-style rendering of a decimal: truncation toward zero, matching
   *  Python `'%d' % Decimal(v)` in failure details (validator.py:210-213). */
  private def intRepr(c: Column): Column =
    when(c >= 0, floor(c)).otherwise(ceil(c)).try_cast(LongType).cast(StringType)

  /** Python str(list) of config scalars for details text, e.g.
   *  "['RV', 'EV']" (validator.py:167). */
  private def pyListRepr(xs: Seq[JsonScalar]): String =
    xs.map(_.repr).mkString("[", ", ", "]")

  /** Python str(datetime) of a config bound: dateutil keeps the offset;
   *  configs are UTC so this is always "+00:00" (validator.py:227). */
  private[rules] def pyInstantRepr(i: Instant): String = {
    val base = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(ZoneOffset.UTC).format(i)
    val micros = (i.getNano / 1000)
    val frac = if (micros != 0) f".$micros%06d" else ""
    base + frac + "+00:00"
  }

  /** Python str(datetime) of a parsed timestamp value. `withOffset` for the
   *  dateutil path (tz-aware), bare for the strptime/DateFormat path. */
  private def pyTsRepr(ts: Column, withOffset: Boolean,
                       raw: Option[Column] = None): Column = {
    def render(t: Column): Column = {
      val base = date_format(t, "yyyy-MM-dd HH:mm:ss")
      val micros = date_format(t, "SSSSSS")
      when(micros =!= "000000", concat(base, lit("."), micros)).otherwise(base)
    }
    val utc = concat(render(ts), lit("+00:00"))
    if (!withOffset) render(ts)
    else raw match {
      case None => utc
      case Some(v) =>
        // dateutil's str() preserves the ORIGINAL offset (tzoffset), so
        // a '+05:30' value renders as local wall time + '+05:30', not
        // shifted to UTC — extract the offset from the raw string and
        // re-shift for display (r7: removes the non-UTC-offset
        // exclusion from the leniency envelope)
        val s = v.cast(StringType)
        // POSIX tzstr first ("UTC+05:30"): utcoffset = -(face), so the
        // rendered wall time is epoch MINUS the face offset and the
        // rendered suffix carries the INVERTED sign — checked before the
        // generic branch, whose end-anchored regex also matches the
        // tzstr's numeric tail.
        val posixRe = "(GMT|UTC)([+-])([0-9]{1,2})(:?([0-9]{2}))?\\s*$"
        val pSign = regexp_extract(s, posixRe, 2)
        val pH = regexp_extract(s, posixRe, 3)
        val pM = when(regexp_extract(s, posixRe, 5) === "", lit("00"))
          .otherwise(regexp_extract(s, posixRe, 5))
        val faceMin = (pH.cast("int") * 60 + pM.cast("int")) *
          when(pSign === "-", -1).otherwise(1)
        val pNonZero = (pSign =!= "") && (faceMin =!= 0)
        val pShifted = ts - make_dt_interval(lit(0), lit(0), faceMin, lit(0))
        val pDispSign = when(pSign === "+", lit("-")).otherwise(lit("+"))
        val offRe = "([+-])([0-9]{2}):?([0-9]{2})\\s*$"
        val sign = regexp_extract(s, offRe, 1)
        val oh = regexp_extract(s, offRe, 2)
        val om = regexp_extract(s, offRe, 3)
        val nonUtc = (sign =!= "") && !(oh === "00" && om === "00")
        val offMin = (oh.cast("int") * 60 + om.cast("int")) *
          when(sign === "-", -1).otherwise(1)
        val shifted = ts + make_dt_interval(lit(0), lit(0), offMin, lit(0))
        when(pNonZero, concat(render(pShifted), pDispSign,
            lpad(pH, 2, "0"), lit(":"), pM))
          .when(nonUtc, concat(render(shifted), sign, oh, lit(":"), om))
          .otherwise(utc)
    }
  }

  // ---------------------------------------------------------------------
  // Unconditional check (validator.py:196-243)
  // ---------------------------------------------------------------------
  private def unconditional(rule: FieldRule, value: Column, pathLbl: Column,
                            childResolver: String => Column): Column = {
    val missing = fail(pathLbl, concat(lit("Field missing: "), pathLbl))
    val empty =
      if (rule.allowEmpty) pass(pathLbl)
      else fail(pathLbl, lit("Field empty"))

    val typed: Column = rule.fieldType match {
      case FieldTypes.Enum =>
        // case-insensitive membership; details join values with ', '
        // (validator.py:206-207 uses ', '.join(map(str, values)) — unquoted)
        val known = rule.values.map {
          case JStr(v) => v.toLowerCase
          case n: JNum => n.repr.toLowerCase
        }
        val detail = concat(
          lit("Value '"), value.cast(StringType),
          lit("' not in list of known values: ["),
          lit(rule.values.map { case JStr(v) => v; case n: JNum => n.repr }.mkString(", ")),
          lit("]"))
        when(!lower(value.cast(StringType)).isin(known: _*), fail(pathLbl, detail))
          .otherwise(pass(pathLbl))

      case FieldTypes.Decimal =>
        // scale 18: wide enough that boundary values with ≤18 fractional
        // digits compare exactly against the limits like CPython's
        // arbitrary-precision Decimal (a narrower scale would ROUND
        // '45.00000000001' to the limit and flip the verdict)
        val dec = value.try_cast(DecimalType(38, 18))
        // ", error: ..." reproduces CPython's InvalidOperation repr for a
        // syntax error — the only parse-failure class INI-driven data hits
        // (validator.py:215 embeds str(e))
        val parseFail = fail(pathLbl, concat(
          lit("failure to perform decimal validation on "), value.cast(StringType),
          lit(", error: [<class 'decimal.ConversionSyntax'>]")))
        val upper = rule.upperLimit.map { u =>
          when(dec > lit(u.underlying()), fail(pathLbl, concat(
            lit("Value '"), intRepr(dec), lit(s"' is greater than upper limit '${u.toBigInt}'"))))
        }
        val lower = rule.lowerLimit.map { l =>
          when(dec < lit(l.underlying()), fail(pathLbl, concat(
            lit("Value '"), intRepr(dec), lit(s"' is less than lower limit '${l.toBigInt}'"))))
        }
        val limitChecks = (upper.toSeq ++ lower.toSeq)
          .reduceOption((a, b) => coalesce(a, b))
          .getOrElse(lit(null))
        // no limits ⇒ the reference's hasattr guards short-circuit BEFORE
        // Decimal(value) is ever called (validator.py:210-213), so an
        // unparseable value still PASSES a limit-less decimal rule
        if (rule.upperLimit.isEmpty && rule.lowerLimit.isEmpty) pass(pathLbl)
        else when(dec.isNull, parseFail).otherwise(coalesce(limitChecks, pass(pathLbl)))

      case FieldTypes.Timestamp =>
        val ts = parseTimestamp(value, rule.dateFormat)
        val tsRepr = pyTsRepr(ts, withOffset = rule.dateFormat.isEmpty,
          raw = if (rule.dateFormat.isEmpty) Some(value) else None)
        // ", error: ..." mirrors the common CPython failure texts
        // (dateutil ParserError / strptime ValueError, validator.py:229)
        val parseFail = fail(pathLbl, rule.dateFormat match {
          case Some(fmt) => concat(
            lit("failure to perform timestamp validation, error: time data '"),
            value.cast(StringType), lit(s"' does not match format '$fmt'"))
          case None => dateutilParseError(value)
        })
        val earliest = rule.earliestTime.map { e =>
          when(ts < lit(java.sql.Timestamp.from(e)), fail(pathLbl, concat(
            lit("Timestamp value '"), tsRepr,
            lit(s"' occurs before earliest limit '${pyInstantRepr(e)}'"))))
        }
        val latest = rule.latestTime.map { lb =>
          val (bound, boundRepr) = lb match {
            case FixedTime(i) => (lit(java.sql.Timestamp.from(i)), lit(pyInstantRepr(i)))
            case NowTime =>
              // per-query constant ≙ suite-compile NOW (validator.py:69-70)
              (current_timestamp(), pyTsRepr(current_timestamp(), withOffset = true))
          }
          // +1 minute grace (validator.py:226)
          when(ts > bound + expr("INTERVAL 1 MINUTE"), fail(pathLbl, concat(
            lit("Timestamp value '"), tsRepr,
            lit("' occurs after latest limit '"), boundRepr, lit("'"))))
        }
        val boundChecks = (earliest.toSeq ++ latest.toSeq)
          .reduceOption((a, b) => coalesce(a, b))
          .getOrElse(lit(null))
        // dateutil returns an AWARE datetime only for explicit offsets
        // (strptime only with %z); the reference's Z-suffixed config
        // bounds are aware, so its first bound compare on a naive value
        // raises TypeError — caught at validator.py:229 into this exact
        // message. Bound-less rules never compare, so naive values pass.
        // (Approximation: bounds parsed from offset-less config strings
        // would be naive in the reference; every shipped/fixture config
        // writes Z-suffixed bounds, so awareness of the BOUND is assumed.)
        val hasBounds = rule.earliestTime.isDefined || rule.latestTime.isDefined
        val aware: Column = rule.dateFormat match {
          case Some(fmt) => lit(fmt.contains("%z"))
          case None => value.cast(StringType)
            // aware ⇔ explicit Z/offset, or a named UTC zone optionally
            // carrying a POSIX tzstr offset ("UTC+05:30"). A bare
            // non-UTC tzname (EST) stays NAIVE — dateutil keeps the
            // label with tzinfo=None when no tzinfos mapping is given.
            // Boundary guards: Z only counts after a digit or space
            // (an unknown tzname like 'NZ' must stay naive), GMT/UTC
            // only after whitespace (mirrors the strip + the native
            // awareTailRe).
            .rlike("((?<=[0-9\\s])Z|[+-][0-9]{2}:?[0-9]{2}|\\s(GMT|UTC)([+-][0-9]{1,2}(:?[0-9]{2})?)?)\\s*$")
        }
        val naiveFail = fail(pathLbl, lit("failure to perform timestamp " +
          "validation, error: can't compare offset-naive and offset-aware datetimes"))
        if (hasBounds)
          when(ts.isNull, parseFail)
            .when(!aware, naiveFail)
            .otherwise(coalesce(boundChecks, pass(pathLbl)))
        else
          when(ts.isNull, parseFail).otherwise(pass(pathLbl))

      case FieldTypes.Choice =>
        val children = rule.choices.map(childResolver)
        val cnt = children.map(c => when(c.isNotNull, 1).otherwise(0))
          .reduceOption(_ + _).getOrElse(lit(0))
        when(cnt === 0, fail(pathLbl, concat(lit("No choices found in '"), pathLbl, lit("'"))))
          // >1 branch raises in the reference ("Found '%d' choices" with a
          // tuple-less %-format, validator.py:241) and lands in the except
          // with CPython's TypeError text — reproduced byte-for-byte:
          .when(cnt > 1, fail(pathLbl,
            lit("failure to perform choice validation, error: not enough arguments for format string")))
          .otherwise(pass(pathLbl))

      case _ => pass(pathLbl) // string / serial / unknown: presence+empty only
    }

    when(value.isNull, missing)
      .when(value.cast(StringType) === "", empty)
      .otherwise(typed)
  }

  /**
   * The dateutil ParserError text for an unparseable value. dateutil
   * routes ISO-shaped strings into CPython's datetime constructor,
   * whose component checks raise in a FIXED order (year, month, day,
   * hour, minute, second — each with its own message); everything else
   * is the generic "Unknown string format". Reproduced by classifying
   * the failed value's shape (r7: removes the invalid-date exclusion
   * from the leniency envelope; all six messages ref-golden-pinned).
   */
  private def dateutilParseError(value: Column): Column = {
    val s = value.cast(StringType)
    // components may be 1-2 digits and seconds optional — dateutil
    // routes those to the constructor too ("2019-13-5", "... 25:05")
    val comp = "^\\s*([0-9]{4})-([0-9]{1,2})-([0-9]{1,2})" +
      "([T ]([0-9]{1,2}):([0-9]{1,2})(:([0-9]{1,2}))?.*)?\\s*$"
    def g(i: Int) = regexp_extract(s, comp, i)
    val yy = g(1).cast("int")
    val mm = g(2).cast("int")
    val dd = g(3).cast("int")
    val hasTime = g(4) =!= ""
    val hh = g(5).cast("int")
    val mi = g(6).cast("int")
    val sec = g(8).cast("int")
    val iso = s.rlike(comp)
    val p = "failure to perform timestamp validation, error: "
    // year 0 fires on the compact form too ("00000101")
    when(s.rlike("^\\s*0000([-./][0-9]{1,2}[-./][0-9]{1,2}|[0-9]{4})"),
        concat(lit(p + "year 0 is out of range: "), s))
      .when(iso && yy === 0, concat(lit(p + "year 0 is out of range: "), s))
      .when(iso && (mm < 1 || mm > 12),
        concat(lit(p + "month must be in 1..12: "), s))
      .when(iso && (dd < 1 ||
          dd > dayofmonth(last_day(make_date(yy, mm, lit(1))))),
        concat(lit(p + "day is out of range for month: "), s))
      .when(iso && hasTime && hh > 23,
        concat(lit(p + "hour must be in 0..23: "), s))
      .when(iso && hasTime && mi > 59,
        concat(lit(p + "minute must be in 0..59: "), s))
      .when(iso && hasTime && g(7) =!= "" && sec > 59,
        concat(lit(p + "second must be in 0..59: "), s))
      .otherwise(concat(lit(p + "Unknown string format: "), s))
  }

  /** Lenient timestamp parse: coalesce chain approximating dateutil's ISO
   *  handling (validator.py:216-229); explicit DateFormat wins. */
  def parseTimestamp(value: Column, dateFormat: Option[String]): Column = dateFormat match {
    case Some(fmt) => try_to_timestamp(value, lit(pythonToJavaFormat(fmt)))
    // the dateutil chain ships as ONE native expression
    // (functions/DateutilTs.scala): ~30 try_to_timestamp branches
    // inlined per rule instance pushed the ODE mega-projections into
    // janino's fusion fallback and cost ~3 s of compile on the 100k
    // head-to-head; the native walk is a single generated call with
    // branch-for-branch identical semantics (45-row ref-golden pinned).
    // The equivalent Column chain is the readable specification, kept
    // in test scope (DateutilColumnChain) and pinned against the native
    // expression by EngineProperties.
    case None =>
      graft.functions.GraftFunctions.graftDateutilTs(value.cast(StringType))
  }

  /** Python strptime directives → java.time pattern (the subset seen in
   *  rule configs). */
  private[rules] def pythonToJavaFormat(py: String): String =
    py.replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
      .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
      .replace("%f", "SSSSSS").replace("%z", "XXX").replace("%%", "%")

  // ---------------------------------------------------------------------
  // Conditional chain (validator.py:96-170)
  // ---------------------------------------------------------------------
  private def conditionMet(cond: ConditionalRule, target: Column,
                           targetType: Option[DataType], schema: StructType): Column = {
    val ref = pathColumn(schema, cond.ifPart.fieldName)
    val refType = pathType(schema, cond.ifPart.fieldName)
    cond.ifPart.fieldValues match {
      case Some(vals) =>
        // referenced value ∈ fieldValues (Python `in`; null ⇒ not met)
        coalesce(compareIn(ref, refType, vals), lit(false))
      case None =>
        // both referenced field AND target falsy ⇒ met (validator.py:134-138)
        falsy(ref, refType) && falsy(target, targetType)
    }
  }

  /** `value in [...]` with Python's `==` semantics: numbers compare
   *  numerically across int/float, strings compare only to strings, and a
   *  string NEVER equals a number (validator.py:141,166). */
  private def compareIn(c: Column, dt: Option[DataType], vals: Seq[JsonScalar]): Column = {
    val numVals = vals.collect { case JNum(v) => v }
    val strVals = vals.collect { case JStr(v) => v }
    def numIn(cc: Column): Column =
      if (numVals.isEmpty) lit(false)
      else cc.try_cast(DecimalType(38, 10)).isin(
        numVals.map(v => lit(v.underlying()).cast(DecimalType(38, 10))): _*)
    dt match {
      case Some(_: NumericType) => numIn(c)
      case Some(BooleanType) => numIn(c.try_cast(IntegerType)) // Python True == 1
      case _ =>
        // string-typed or unresolvable: only string literals can match
        if (strVals.isEmpty) lit(false) else c.cast(StringType).isin(strVals: _*)
    }
  }

  private def thenVerdict(rule: FieldRule, thenPart: Option[ThenPart], target: Column,
                          targetType: Option[DataType], pathLbl: Column,
                          schema: StructType): Column = {
    thenPart match {
      case None => pass(pathLbl) // no thenPart ⇒ condition met, nothing to check (validator.py:151)
      case Some(tp) =>
        val missing = fail(pathLbl, lit("Required Field is missing."))
        val body: Column = tp match {
          case ThenPart(_, Some(swField), _) =>
            val sw = pathColumn(schema, swField)
            val swType = pathType(schema, swField)
            when(!falsy(sw, swType) && !target.cast(StringType).startsWith(sw.cast(StringType)),
              fail(pathLbl, concat(
                lit("Value of Field ('"), target.cast(StringType),
                lit("') does not start with "), sw.cast(StringType))))
              .otherwise(pass(pathLbl))
          case ThenPart(Some(vals), _, _) =>
            when(!coalesce(compareIn(target, targetType, vals), lit(false)),
              fail(pathLbl, concat(
                lit("Value of Field ('"), target.cast(StringType),
                lit(s"') is not one of the expected values (${pyListRepr(vals)})"))))
              .otherwise(pass(pathLbl))
          case _ => pass(pathLbl)
        }
        when(target.isNull, missing).otherwise(body)
    }
  }

  /** Compile one rule to its verdict struct column (record-level target). */
  def compileRule(rule: FieldRule, schema: StructType): Column = {
    val target = pathColumn(schema, rule.path)
    val targetType = pathType(schema, rule.path)
    compileRuleWith(rule, schema, target, targetType, lit(rule.path),
      ch => pathColumn(schema, rule.path + "." + ch))
  }

  /** Core rule lowering against an explicit target column + path label —
   *  used both for record-level rules and per-element list expansion. */
  private def compileRuleWith(rule: FieldRule, schema: StructType, target: Column,
                              targetType: Option[DataType], pathLbl: Column,
                              childResolver: String => Column): Column = {
    if (rule.equalsValueOpaque) {
      // EqualsValue was a non-conditions JSON value ⇒ reference skips all
      // checks (validator.py:96-129 returns None ⇒ pass)
      pass(pathLbl)
    } else if (rule.fieldConditions.isEmpty) {
      unconditional(rule, target, pathLbl, childResolver)
    } else {
      // first-wins chain with fallback to unconditional when none met
      rule.fieldConditions.foldRight(unconditional(rule, target, pathLbl, childResolver)) {
        (cond, fallback) =>
          when(conditionMet(cond, target, targetType, schema),
            thenVerdict(rule, cond.thenPart, target, targetType, pathLbl, schema))
            .otherwise(fallback)
      }
    }
  }

  /** Sequential-skip flag for one rule: true iff ANY skip condition is met
   *  on this record (aggregated per file downstream — SURVEY §2.7 W7). */
  def compileSkipFlag(rule: FieldRule, schema: StructType): Option[Column] = {
    val target = pathColumn(schema, rule.path)
    val targetType = pathType(schema, rule.path)
    val conds = rule.skipConditions.map(c => conditionMet(c, target, targetType, schema))
    conds.reduceOption(_ || _)
  }

  /** Sanitized column name for a rule's skip flag. */
  def skipFlagName(path: String): String =
    "skip__" + path.replace('.', '_').replace("{", "_").replace("}", "_")

  // ---------------------------------------------------------------------
  // List rules: `a.list.b` expanded over every element, any nesting depth
  // (validator.py:304-378 populate_list_validations)
  // ---------------------------------------------------------------------

  private def emptyVerdicts: Column = array().cast(ArrayType(verdictType))

  /**
   * Compile a `.list` rule to an ARRAY of verdict structs — one per actual
   * array element, labeled with its index (`a{2}.b`, validator.py:334) and
   * routed through the FULL conditional chain (the reference builds complete
   * `Field`s from the section config). Degenerate cases mirror the
   * reference's recursion exactly:
   *   - MISSING list ⇒ two probes: `a{0}.<tail>` (branch that consumed
   *     'list') and `a{0}.<tail.drop(1)>` (the type-check branch that
   *     advances the keys again; for one-segment tails that is plain
   *     `a{0}`) — traced at validator.py:318-341;
   *   - EMPTY list ⇒ zero probes (range(0) body never runs);
   *   - nested `a.list.b.list.c` recurses per element at every level.
   */
  def compileListRule(rule: FieldRule, schema: StructType): Column =
    walkList(rule, schema, rule.path.split('.').toList, Some(schema), None, lit(""), isRoot = true)

  private def walkList(rule: FieldRule, schema: StructType, segs: List[String],
                       dt: Option[DataType], data: Option[Column], label: Column,
                       isRoot: Boolean): Column = {
    def segLabel(s: String): Column =
      if (isRoot) lit(s) else concat(label, lit("." + s))
    segs match {
      case Nil =>
        val target = (dt, data) match {
          case (Some(_), Some(d)) => d
          case _ => nullCol
        }
        val childResolver: String => Column = ch => (dt, data) match {
          case (Some(st: StructType), Some(d)) if st.fieldNames.contains(ch) => d.getField(ch)
          case _ => nullCol
        }
        array(compileRuleWith(rule, schema, target, dt, label, childResolver))

      case "list" :: rest =>
        val lbl0 = concat(label, lit("{0}"))
        // missing list ⇒ the reference's two-probe trace
        def missingProbes: Column = concat(
          walkList(rule, schema, rest, None, None, lbl0, isRoot = false),
          walkList(rule, schema, if (rest.isEmpty) Nil else rest.drop(1),
            None, None, lbl0, isRoot = false))
        (dt, data) match {
          case (Some(at: ArrayType), Some(d)) =>
            if (rest.isEmpty) {
              // 'list' as last segment: reference logs a warning and emits
              // nothing for a real list (validator.py:340-341)
              when(d.isNull, missingProbes).otherwise(emptyVerdicts)
            } else {
              val perElem = flatten(transform(d, (e, i) =>
                walkList(rule, schema, rest, Some(at.elementType), Some(e),
                  concat(label, lit("{"), i.cast(StringType), lit("}")), isRoot = false)))
              when(d.isNull, missingProbes).otherwise(perElem)
            }
          case (Some(other), Some(d)) =>
            // non-list value at a 'list' segment: the type-check branch
            // advances one key and continues with the SAME data
            // (validator.py:328-332 with data != '')
            walkList(rule, schema, rest, Some(other), Some(d), label, isRoot)
          case _ => missingProbes
        }

      case seg :: rest =>
        val (name, idx) = splitSeg(seg)
        val lbl = segLabel(seg)
        dt match {
          case Some(st: StructType) =>
            st.fields.find(_.name == name) match {
              case Some(f) =>
                val base = data.map(_.getField(name)).getOrElse(col(quoted(name)))
                (idx, f.dataType) match {
                  case (Some(i), at: ArrayType) =>
                    walkList(rule, schema, rest, Some(at.elementType),
                      Some(graft.functions.GraftFunctions.graftArrayGet(base, lit(i))), lbl, isRoot = false)
                  case (Some(_), _) =>
                    walkList(rule, schema, rest, None, None, lbl, isRoot = false)
                  case (None, inner) =>
                    walkList(rule, schema, rest, Some(inner), Some(base), lbl, isRoot = false)
                }
              case None => walkList(rule, schema, rest, None, None, lbl, isRoot = false)
            }
          case _ => walkList(rule, schema, rest, None, None, lbl, isRoot = false)
        }
    }
  }

  // ---------------------------------------------------------------------
  // Whole-suite lowering
  // ---------------------------------------------------------------------

  /** All rule verdicts as one `validations` array column. */
  def validationsColumn(suite: ValidationSuite, schema: StructType): Column = {
    val scalar = suite.scalarRules.map(r => compileRule(r, schema))
    val scalarArr =
      if (scalar.isEmpty) emptyVerdicts else array(scalar: _*)
    val listArrs = suite.listRules.map(r => compileListRule(r, schema))
    (scalarArr +: listArrs).reduceOption((a, b) => concat(a, b)).getOrElse(emptyVerdicts)
  }

  /** Skip-flag columns (name → Column) for the suite. */
  def skipFlagColumns(suite: ValidationSuite, schema: StructType): Seq[(String, Column)] =
    suite.scalarRules.flatMap { r =>
      compileSkipFlag(r, schema).map(c => r.path -> c)
    }
}
