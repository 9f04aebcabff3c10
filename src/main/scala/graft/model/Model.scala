package graft.model

import java.time.Instant

/**
 * Data model for the validation-rule engine.
 *
 * The reference system's "query language" is a declarative INI rule file:
 * each section is a dotted field path with type/range/enum/timestamp
 * constraints plus optional conditional ("EqualsValue") logic
 * (reference: odevalidator/validator.py:24-80, config_2.ini). We compile
 * that into a pure, immutable rule model here, and later into Catalyst
 * `Column` expression trees (graft.rules.RuleCompiler) — the logical plan
 * of the validation query.
 */

/** Field types declared in rule configs (odevalidator/validator.py:17-21).
 *  `serial` and unknown types behave as presence/empty-only checks. */
object FieldTypes {
  val Decimal   = "decimal"
  val Enum      = "enum"
  val Choice    = "choice"
  val Timestamp = "timestamp"
  val Str       = "string"
  val Serial    = "serial"
}

/** `ifPart` of a conditional rule (validator.py:131-148).
 *  - `fieldValues` present: condition met iff referenced field's value is in
 *    the list (exact match).
 *  - `fieldValues` absent: condition met iff BOTH the referenced field and
 *    the rule's target field are "falsy" (null / empty string / zero),
 *    mirroring Python truthiness at validator.py:137-138. */
final case class IfPart(fieldName: String, fieldValues: Option[Seq[JsonScalar]])

/** `thenPart` of a conditional rule (validator.py:150-170). At most one of
 *  matchAgainst / startsWithField is used per condition in practice. */
final case class ThenPart(
    matchAgainst: Option[Seq[JsonScalar]] = None,
    startsWithField: Option[String] = None,
    skipSequentialValidation: Boolean = false)

/** One `{ifPart, thenPart}` entry of an EqualsValue conditions array.
 *  Evaluation is ordered first-wins for field validation; skip-sequential
 *  conditions are side-channel only (validator.py:96-129). */
final case class ConditionalRule(ifPart: IfPart, thenPart: Option[ThenPart]) {
  def isSkipRule: Boolean = thenPart.exists(_.skipSequentialValidation)
}

/** A JSON scalar as it appears in rule config literals (`Values`,
 *  `matchAgainst`, `fieldValues`) — strings and numbers only in practice. */
sealed trait JsonScalar { def repr: String }
final case class JStr(value: String) extends JsonScalar {
  def repr: String = "'" + value + "'"
}
final case class JNum(value: BigDecimal) extends JsonScalar {
  def repr: String = if (value.isWhole) value.toBigInt.toString else value.toString
}

/** Upper bound for timestamp rules: a fixed instant, or NOW captured once at
 *  suite-compile time (validator.py:69-70). */
sealed trait TimeBound
final case class FixedTime(instant: Instant) extends TimeBound
case object NowTime extends TimeBound

/**
 * One compiled rule = one INI section (validator.py:24-80).
 *
 * @param path        dotted field path, may contain `{i}` list indices
 * @param fieldType   one of FieldTypes (raw string; unknown types allowed)
 * @param isListRule  section path contained `.list` segments — expanded
 *                    per-array-element at validation time (validator.py:304-378)
 * @param equalsValueOpaque true when EqualsValue parsed to a non-object JSON
 *                    value (e.g. `EqualsValue = 6` at config_2.ini:28). The
 *                    reference then skips ALL checks for the field, including
 *                    presence (validator.py:96-129 returns None for
 *                    non-Iterable / no-'conditions' values) — a quirk we
 *                    reproduce faithfully.
 */
final case class FieldRule(
    path: String,
    fieldType: String,
    values: Seq[JsonScalar] = Nil,
    choices: Seq[String] = Nil,
    upperLimit: Option[BigDecimal] = None,
    lowerLimit: Option[BigDecimal] = None,
    dateFormat: Option[String] = None,
    earliestTime: Option[Instant] = None,
    latestTime: Option[TimeBound] = None,
    allowEmpty: Boolean = false,
    conditions: Seq[ConditionalRule] = Nil,
    equalsValueOpaque: Boolean = false,
    isListRule: Boolean = false) {

  /** Conditions that participate in first-wins field validation. */
  def fieldConditions: Seq[ConditionalRule] = conditions.filterNot(_.isSkipRule)

  /** Conditions that only raise the sequential-skip flag for this path. */
  def skipConditions: Seq[ConditionalRule] = conditions.filter(_.isSkipRule)
}

/** A compiled rule suite = one INI file (validator.py:262-292). */
final case class ValidationSuite(
    dataType: String,            // "json" | "csv"
    sequential: Boolean,
    hasHeader: Boolean,
    rules: Seq[FieldRule]) {
  def scalarRules: Seq[FieldRule] = rules.filterNot(_.isListRule)
  def listRules: Seq[FieldRule] = rules.filter(_.isListRule)

  /** Every static dotted path the suite's rules READ — the rule targets
   *  plus cross-field condition references (`ifPart.fieldName`,
   *  `thenPart.startsWithField`) and choice children. The read schema
   *  must cover all of them or conditions silently evaluate against
   *  null (see OdeSchema.withRulePaths). */
  def referencedPaths: Seq[String] =
    rules.flatMap { r =>
      // a choice rule's target is an OBJECT holding its children — emit
      // the child paths (their parent struct materializes implicitly); a
      // bare leaf first would block the struct insertion
      (if (r.choices.nonEmpty) r.choices.map(c => s"${r.path}.$c")
       else Seq(r.path)) ++
        r.conditions.flatMap(c =>
          c.ifPart.fieldName +: c.thenPart.flatMap(_.startsWithField).toList)
    }.distinct
}
