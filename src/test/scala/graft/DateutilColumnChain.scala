package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The readable Column-algebra form of the native dateutil walk
  * (functions/DateutilTs.scala, which `RuleCompiler.parseTimestamp`
  * runs): EngineProperties pins the native expression against it on
  * generated timestamp strings. Not on the production path. */
object DateutilColumnChain {

  /** The Column-algebra SPECIFICATION of the native dateutil chain. */
  def parseTimestampColumnSpec(value: Column): Column = {
    {
      val s = value.cast(StringType)
      val doubleTz = s.rlike("(Z|[+-][0-9]{2}:?[0-9]{2})\\s+(GMT|UTC)\\s*$")
      // year 0 guard (dashed, dotted, slashed, or compact): Spark's
      // proleptic calendar accepts 0000 (= 1 BC) where CPython's
      // datetime raises "year 0 is out of range" — force the parse
      // failure so the classifier emits CPython's message
      val yearZero = s.rlike("^\\s*0000([-./]|[0-9]{4})")

      // r8: POSIX tzstr + bare-tzname suffixes (mirrors DateutilTsOps
      // — see the native file for the dateutil semantics). Both gate on
      // a present TIME and a zone-free base, and only fire when the
      // main walk returned null.
      val posixRe = "\\s+(GMT|UTC)([+-])([0-9]{1,2})(:?([0-9]{2}))?\\s*$"
      val awareTail = "(Z|[+-][0-9]{2}:?[0-9]{2}|\\s(GMT|UTC))\\s*$"
      val hasTime = "[0-9]:[0-9]{2}|[0-9]T[0-9]{4}"
      val posixBase = regexp_replace(s, posixRe, "")
      val faceSign = when(regexp_extract(s, posixRe, 2) === "+", 1).otherwise(-1)
      val offH = regexp_extract(s, posixRe, 3).cast("int")
      val offM = coalesce(when(regexp_extract(s, posixRe, 5) === "", lit("0"))
        .otherwise(regexp_extract(s, posixRe, 5)).cast("int"), lit(0))
      val posixVal = when(s.rlike(posixRe) && !posixBase.rlike(awareTail) &&
          posixBase.rlike(hasTime),
        walkSpec(posixBase) +
          make_dt_interval(lit(0), faceSign * offH, faceSign * offM, lit(0)))
        .otherwise(lit(null).cast(TimestampType))
      val tznameRe = "\\s+([A-Z]{2,5})\\s*$"
      val tzBase = regexp_replace(s, tznameRe, "")
      val tznameVal = when(s.rlike(tznameRe) &&
          !s.rlike("\\s+(GMT|UTC|AM|PM)\\s*$") &&
          !tzBase.rlike(awareTail) && tzBase.rlike(hasTime),
        walkSpec(tzBase)).otherwise(lit(null).cast(TimestampType))

      when(yearZero || doubleTz, lit(null).cast(TimestampType))
        .otherwise(coalesce(walkSpec(s), posixVal, tznameVal))
    }
  }

  /** The branch walk proper over one input string (zone-suffix rewrites
    * live in [[parseTimestampColumnSpec]], which re-enters the walk on a
    * stripped base — same split as the native DateutilTsOps). */
  private def walkSpec(value: Column): Column = {
    {
      val s = value
      // Named UTC zones: dateutil resolves a trailing GMT/UTC to tzutc
      // on every shape it parses (its UTCZONE list, no tzinfos needed).
      // The strip is applied to the FORMATLESS cast (covering the ISO
      // family) and the ref-golden-pinned zone-suffixed shapes — NOT to
      // every branch: the `cleaned` regexp subtree inlines into each
      // branch's generated code, and 30 copies pushed the compiled
      // method past janino. Zone suffixes on the remaining exotic
      // shapes are an unpinned residual. A DOUBLE timezone — explicit
      // Z/offset AND a zone name ("…Z GMT") — rejects, as in dateutil.
      val cleaned = regexp_replace(s, "\\s+(GMT|UTC)\\s*$", "")
      coalesce(
      // formatless cast LAST GUARD: Spark's string grammar also accepts
      // trailing zone ids ("America/New_York", POSIX "UTC+05:30") that
      // dateutil rejects or reads with the OPPOSITE sign — gate the
      // cast to values with no multi-letter token (T/Z singles pass)
      when(!cleaned.rlike("[A-Za-z]{2,}"), try_to_timestamp(cleaned))
        .otherwise(lit(null).cast(TimestampType)), // ISO local / space-separated
      // exact-Z first: the dominant reference format — any value it
      // matches parses identically under the XXX branches below, so
      // ordering only short-circuits the exception-driven walk
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")),
      try_to_timestamp(value, lit("yyyy-MM-dd HH:mm:ssXXX")),
      try_to_timestamp(value, lit("yyyy/MM/dd HH:mm:ss")),
      try_to_timestamp(cleaned, lit("MM/dd/yyyy HH:mm:ss")),
      // dateutil-leniency tail, pinned by the q_rule_timestamp_lenient
      // ref-golden (fixtures/lenient): colon-less offsets, compact ISO,
      // English month names, minute-precision US dates
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ssXX")),   // +0000
      try_to_timestamp(value, lit("yyyyMMdd'T'HHmmssXX")),       // 20190514T190547Z
      try_to_timestamp(value, lit("MMM d yyyy HH:mm:ss XX")),    // May 14 2019 19:05:47 +0000
      try_to_timestamp(value, lit("MMM d yyyy HH:mm:ss")),
      try_to_timestamp(value, lit("MMM d yyyy")),                // May 14 2019
      try_to_timestamp(value, lit("MM/dd/yyyy HH:mm")),          // 05/14/2019 19:05
      // r7 widening (grid at 45): RFC-2822, ctime ordering, AM/PM,
      // dateutil's implicit DAYFIRST FALLBACK (dd/MM must sit AFTER the
      // MM/dd patterns — dateutil prefers month-first and only retries
      // day-first when the month is invalid), dotted and dashed dates,
      // compact yyyymmdd, comma decimal mark
      // Spark >= 3 rejects 'E' in PARSE patterns — strip the weekday
      // prefix instead (a weekday-less "14 May 2019 ..." parses too,
      // which matches dateutil, where the weekday is always optional)
      try_to_timestamp(regexp_replace(value, "^[A-Za-z]{3}, ", ""),
        lit("d MMM yyyy HH:mm:ss XX")),   // Tue, 14 May 2019 19:05:47 +0000
      try_to_timestamp(regexp_replace(value, "^[A-Za-z]{3} ", ""),
        lit("MMM d HH:mm:ss yyyy")),      // Tue May 14 19:05:47 2019
      try_to_timestamp(regexp_replace(cleaned, "^[A-Za-z]{3}, ", ""),
        lit("d MMM yyyy HH:mm:ss")),      // Tue, 14 May 2019 19:05:47 GMT (RFC-1123: weekday strip composed with the zone strip)
      try_to_timestamp(value, lit("MMM d, yyyy h:mm:ss a")),        // May 14, 2019 7:05:47 PM
      try_to_timestamp(value, lit("dd/MM/yyyy HH:mm:ss")),          // 14/05/2019 19:05:47
      try_to_timestamp(value, lit("yyyy.MM.dd HH:mm:ss")),          // 2019.05.14 19:05:47
      try_to_timestamp(cleaned, lit("d-MMM-yyyy HH:mm")),             // 14-May-2019 19:05
      try_to_timestamp(value, lit("yyyyMMdd")),                     // 20190514
      try_to_timestamp(value, lit("yyyy-MM-dd'T'HH:mm:ss,SSSSSS'Z'")),
      try_to_timestamp(cleaned, lit("d MMM yyyy HH:mm:ss")),
      try_to_timestamp(value, lit("MMM d yyyy HH:mm:ss XXX")))
    }
  }
}
