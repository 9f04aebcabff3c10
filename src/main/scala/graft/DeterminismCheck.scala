package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry-wide determinism invariant (round-8, VERDICT item 2).
  *
  * The two round-7 correctness reds (`q_incremental_join`,
  * `q_trip_segments`) were round-of-double-sum results whose last digit
  * depended on Spark's partial-aggregation accumulation order — green on
  * every builder-side run, red on the driver's. A query whose hash
  * depends on partition layout is a broken oracle contract, and a
  * single-layout check cannot catch it. This main runs EVERY registered
  * query twice under deliberately different physical layouts:
  *
  *   - layout A: `spark.sql.shuffle.partitions=7`,
  *     `spark.sql.files.maxPartitionBytes=1m` (many small scan splits →
  *     different partial-agg grouping and merge order)
  *   - layout B: `spark.sql.shuffle.partitions=200`, default 128m splits
  *
  * and compares the results after the SAME canonicalization the
  * correctness gate applies (column-name sort, `%.10g` floats, sorted
  * rows). Any layout-dependent digit flips the canonical hash.
  *
  * Usage: `runMain graft.DeterminismCheck <sfDir> [name,name,...]`
  * Exits non-zero on any mismatch or error (reported apart).
  * `DeterminismSpec` runs the same invariant over the full registry at
  * sf0.001 in `sbt test`.
  */
object DeterminismCheck {

  /** Value normalization matched to the gate's `norm`
    * (tools/check_correctness.py): stricter would flag harmless
    * sub-10-digit ULP noise the gate accepts, looser would miss real
    * flakes. Scope note (round-9): the DRIVER's gate — the actual
    * contract — is additionally dtype-sensitive (HUGEINT vs BIGINT
    * flips its hash even at value equality). That dimension is
    * structurally invisible here: both runs are the same Spark plan, so
    * their schemas always agree. Cross-engine TYPE parity is enforced by
    * the gate's DESCRIBE-level type comparison instead
    * (tools/check_correctness.py `described_types`) — this check owns
    * only layout-dependence of VALUES. */
  def norm(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "T" else "F"
    case d: Double =>
      if (d.isNaN) "NaN" else formatG10(d)
    case f: Float =>
      if (f.isNaN) "NaN" else formatG10(f.toDouble)
    case s: Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Python's `%.10g`: 10 significant digits, trailing zeros stripped.
    * Java's `%.10g` keeps trailing zeros, so normalize by hand. */
  private def formatG10(d: Double): String = {
    val s = "%.10g".formatLocal(java.util.Locale.ROOT, d)
    if (s.contains('e') || s.contains('E')) {
      // normalize mantissa and exponent like CPython: 1.500000000e+05 → 1.5e+05
      val Array(m, e) = s.split("[eE]")
      val m2 = if (m.contains('.')) m.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else m
      m2 + "e" + e
    } else if (s.contains('.')) {
      s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    } else s
  }

  /** Canonical table key: rows as tuples ordered by sorted column name,
    * rows themselves sorted — the gate's `table_key`. */
  def canon(df: DataFrame): String = {
    val cols = df.columns
    val order = cols.indices.sortBy(cols(_))
    val rows = df.collect().map { r =>
      order.map(i => norm(r.get(i))).mkString("\u0001")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\u0002").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def withLayout(s: SparkSession, parts: Int, maxBytes: String): Unit = {
    s.conf.set("spark.sql.shuffle.partitions", parts)
    s.conf.set("spark.sql.files.maxPartitionBytes", maxBytes)
  }

  /** Layout-dependent queries, and queries that threw. */
  final case class Outcome(nondeterministic: Seq[String], errors: Seq[String]) {
    def ok: Boolean = nondeterministic.isEmpty && errors.isEmpty
  }

  /** Runs `names` (all registered queries if empty) under both layouts. */
  def run(spark: SparkSession, sfDir: String,
          names: Set[String] = Set.empty,
          quiet: Boolean = false): Outcome = {
    val todo = SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    // restore the CALLER's layout afterwards — the shared test session
    // runs other suites with its own partition count
    val origParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val origBytes = spark.conf
      .getOption("spark.sql.files.maxPartitionBytes").getOrElse("128m")
    val nondeterministic = scala.collection.mutable.ArrayBuffer[String]()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    todo.foreach { case (name, fn) =>
      try {
        withLayout(spark, 7, "1m")
        val a = canon(fn(spark, sfDir))
        withLayout(spark, 200, "128m")
        val b = canon(fn(spark, sfDir))
        if (a != b) {
          nondeterministic += name
          println(s"NONDETERMINISTIC $name: $a != $b")
        } else if (!quiet) println(s"ok   $name $a")
      } catch {
        case e: Throwable =>
          errors += name
          println(s"ERROR $name: ${e.getMessage}")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", origParts)
        spark.conf.set("spark.sql.files.maxPartitionBytes", origBytes)
      }
    }
    Outcome(nondeterministic.toSeq, errors.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSet).getOrElse(Set.empty)
    Verify.pinRouteMtimes()
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val outcome = run(spark, sfDir, names)
    println(s"determinism: ${if (outcome.ok) "ALL OK" else
      s"nondeterministic ${outcome.nondeterministic.mkString(", ")}; errors ${outcome.errors.mkString(", ")}"}")
    spark.stop()
    if (!outcome.ok) sys.exit(1)
  }
}
