package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Tools` argument checking: every malformed command line is a
  * usage error found before any session exists, and a name that is not
  * a registry query never passes as a clean run over nothing. */
class ToolsSpec extends AnyFunSuite {

  /** The usage error `args` parses to; parsing must build no session. */
  private def usageError(args: String*): String = {
    val before = SparkSession.getDefaultSession
    val parsed = Tools.parse(args)
    assert(SparkSession.getDefaultSession == before, "parsing built a session")
    parsed.swap.getOrElse(fail(s"'${args.mkString(" ")}' parsed"))
  }

  test("an unknown or missing subcommand is a usage error listing the subcommands") {
    for (args <- Seq(Seq("profiel", "/x", "q1_agg"), Seq.empty[String])) {
      val e = usageError(args: _*)
      assert(e.startsWith("usage: graft.Tools") && e.contains("scalecheck"), e)
    }
  }

  test("an unknown registry name is a usage error for every name-taking subcommand") {
    for (args <- Seq(
        Seq("profile", "/x", "q1_agg", "q_nope"),
        Seq("plans", "/x", "q_nope"),
        Seq("determinism", "/x", "q1_agg,q_nope"),
        Seq("scalebench", "base.json", "/x", "1", "8", "q_nope,q1_agg"))) {
      val e = usageError(args: _*)
      assert(e.startsWith("unknown queries: q_nope\nknown queries: "), e)
      assert(e.contains("q_ode_file_totals"), "the known names are listed")
    }
  }

  test("missing arguments and malformed numbers are usage errors") {
    for (args <- Seq(
        Seq("profile", "/x"),
        Seq("scalebench", "base.json", "/x"),
        Seq("scalebench", "base.json", "/x", "ten"),
        Seq("scaledata", "src", "dest", "2.5"),
        Seq("scalecheck", "/x", "many"),
        Seq("validate-bench", "data.json", "big")))
      assert(usageError(args: _*).startsWith("usage: graft.Tools"), args)
  }

  test("well-formed command lines parse to a runner") {
    for (args <- Seq(
        Seq("validate-bench"),
        Seq("profile", "/x", "q1_agg", "q_ode_file_totals"),
        Seq("plans"),
        Seq("determinism", "/x"),
        Seq("scalebench", "base.json", "/x", "10", "8", "@scalepath:r1"),
        Seq("scaledata", "src", "dest", "2"),
        Seq("scalecheck", "/x", "2"),
        Seq("gen-compression-golden")))
      assert(Tools.parse(args).isRight, args)
  }

  test("DeterminismCheck.run rejects an unknown name instead of checking nothing") {
    val e = intercept[IllegalArgumentException](
      DeterminismCheck.run(TestSpark.spark, "/root/testdata/sf0.001", Set("q_nope")))
    assert(e.getMessage.startsWith("unknown queries: q_nope"))
  }
}
