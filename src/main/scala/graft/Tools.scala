package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.config.SuiteLoader
import graft.pipeline.ValidationPipeline

/** The harness tools, `sbt "runMain graft.Tools <subcommand> [args...]"`
  * ([[Usage]]). Bad arguments exit 2 before any session exists; each
  * subcommand then runs on one [[GraftSession.local]] session with
  * `SPARK_GRAFT_CPUS` cores (all of them when unset) and exits 1 when its
  * check fails. */
object Tools {
  /** A subcommand bound to its arguments: true when its check passed. */
  type Run = SparkSession => Boolean

  private val Usage =
    """usage: graft.Tools <subcommand> [args...]
      |  validate-bench [ndjsonPath] [chunkSerials]   flagship throughput, one JSON line
      |  profile <sfDir> <query> [query...]           construct vs action time and jobs
      |  plans [sfDir] [query...]                     final adaptive plans, each query executed first
      |  determinism [sfDir] [query,query,...]        layout-flip hash check (all queries if none named)
      |  scalebench <baselineBenchJson> <sfDir> <mult> [floorSec] [query,query,...|@scalepath[:seed]]
      |  scaledata <srcDir> <destDir> <mult>          replicate every table mult times
      |  scalecheck [sfDir] [mult]                    scale-stress rows against budgets
      |  gen-compression-golden [sfDir...]            rewrite fixtures/golden/q_compression_ratio.sql""".stripMargin

  private val DefaultSf = "/root/testdata/sf0.01"
  private val DefaultPlans = Seq(
    "q1_agg", "q_join_revenue", "q_ode_field_validations",
    "q_ode_sequential", "q_events_sequential", "q_file_totals_parquet",
    "q_dedup_exact", "q_minhash_pairs", "q_ann_lsh", "q_topk_orders")

  /** The usage error naming every entry of `names` that is not a registry
    * query, or None when all are. */
  private[graft] def unknownQueries(names: Iterable[String]): Option[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains).toSeq.distinct.sorted
    if (unknown.isEmpty) None
    else Some(s"unknown queries: ${unknown.mkString(", ")}\nknown queries: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
  }

  /** Drops what one registry query may leave cached or persisted (the
    * flagship queries persist `validated`), so the next query's plan and
    * timing see none of it. */
  private[graft] def resetCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The subcommand `args` names, bound to its arguments, or the usage
    * error. Pure: reads no file and builds no session. */
  def parse(args: Seq[String]): Either[String, Run] = {
    def queries(names: Seq[String])(run: Run): Either[String, Run] =
      unknownQueries(names).toLeft(run)
    def isNum(s: String) = s.toDoubleOption.nonEmpty
    def isInt(s: String) = s.toIntOption.nonEmpty
    args match {
      case Seq("validate-bench", rest @ _*)
          if rest.size <= 2 && rest.lift(1).forall(_.toLongOption.nonEmpty) =>
        Right(validateBench(rest.headOption.getOrElse("target/refbench/data.json"),
          rest.lift(1).map(_.toLong)))
      case Seq("profile", dir, names @ _*) if names.nonEmpty =>
        queries(names)(profile(dir, names))
      case Seq("plans", rest @ _*) =>
        val names = if (rest.size > 1) rest.tail else DefaultPlans
        queries(names)(plans(rest.headOption.getOrElse(DefaultSf), names))
      case Seq("determinism", rest @ _*) if rest.size <= 2 =>
        val names = rest.lift(1).map(_.split(",").toSeq).getOrElse(Nil)
        queries(names)(determinism(rest.headOption.getOrElse(DefaultSf), names.toSet))
      case Seq("scalebench", baseline, dir, mult, rest @ _*)
          if rest.size <= 2 && isNum(mult) && rest.headOption.forall(isNum) =>
        val filter = rest.lift(1)
        queries(filter.filterNot(_.startsWith("@scalepath")).toSeq.flatMap(_.split(",")))(
          ScaleBench.run(_, baseline, dir, mult.toDouble,
            rest.headOption.fold(8.0)(_.toDouble), filter))
      case Seq("scaledata", src, dest, mult) if isInt(mult) =>
        Right { spark => ScaleData.run(spark, src, dest, mult.toInt); true }
      case Seq("scalecheck", rest @ _*) if rest.size <= 2 && rest.lift(1).forall(isInt) =>
        Right(ScaleCheck.run(_, rest.headOption.getOrElse("/root/testdata/sf0.1"),
          rest.lift(1).fold(16)(_.toInt)))
      case Seq("gen-compression-golden", dirs @ _*) =>
        val sfDirs = if (dirs.nonEmpty) dirs
          else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
        Right { spark => GenCompressionGolden.run(spark, sfDirs); true }
      case _ => Left(Usage)
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(usage) =>
      System.err.println(usage)
      sys.exit(2)
    case Right(run) =>
      val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString))
      val ok = try run(spark) finally spark.stop()
      if (!ok) sys.exit(1)
  }

  /** Head-to-head throughput vs the reference validator on the identical
    * NDJSON input (written by tools/bench_reference.py): full per-record
    * field validation + sequential checks + per-file totals, timed end to
    * end. `SPARK_GRAFT_CPUS=1` gives the single-thread number BASELINE.md
    * compares at. `chunkSerials` selects the two-phase giant-file
    * sequential plan (BASELINE.md r13 row: one 10⁶-record object). */
  private def validateBench(path: String, chunkSerials: Option[Long])(spark: SparkSession): Boolean = {
    val suite = SuiteLoader.fromFile("fixtures/odejson/suite.ini")
    // warm the JVM/codegen once so the measured pass times the ENGINE,
    // not JIT compilation (the reference number likewise excludes python
    // startup — both sides measure steady-state validation)
    ValidationPipeline.runJson(spark, path, suite,
      chunkSerials = chunkSerials).fileTotals.collect()

    val t0 = System.nanoTime()
    val res = ValidationPipeline.runJson(spark, path, suite,
      chunkSerials = chunkSerials)
    val totals = res.fileTotals.collect()
    val dt = (System.nanoTime() - t0) / 1e9
    val nRec = totals.map(_.getAs[Long]("num_messages_total")).sum
    val nVal = totals.map(_.getAs[Long]("num_validations")).sum
    val tag = chunkSerials.map(c => s", chunked c=$c").getOrElse("")
    println(s"""{"engine":"graft(spark, ${spark.sparkContext.master}$tag)","records":$nRec,"validations":$nVal,"seconds":${math.round(dt * 1000) / 1000.0},"records_per_sec":${math.round(nRec / dt)}}""")
    true
  }

  /** Measurement-first profiling aid (optimization guide §1): for each
    * named registry query, splits wall time into DataFrame CONSTRUCTION
    * (eager driver work — collects, localCheckpoints, training loops,
    * scale-guard probes) vs the noop-sink ACTION, and counts the Spark
    * jobs / stages / tasks each phase launches. A query whose seconds sit
    * in construction is driver/lineage-bound (fix: fewer actions, bounded
    * collects); one whose seconds sit in the action is plan-bound (fix:
    * the plan). */
  private def profile(dir: String, names: Seq[String])(spark: SparkSession): Boolean = {
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    })
    def snap(): (Int, Int, Int) = (jobs.get(), stages.get(), tasks.get())
    names.foreach { q =>
      val (j0, s0, t0) = snap()
      val c0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      val c1 = System.nanoTime()
      // drain the listener bus BEFORE the construct snapshot too (r15
      // ADVICE): stage completions from eager construction jobs landing
      // late were misattributed to the action phase
      Thread.sleep(200)
      val (j1, s1, t1) = snap()
      df.write.format("noop").mode("overwrite").save()
      val c2 = System.nanoTime()
      // let the listener bus drain so stage/task counts are attributed
      Thread.sleep(200)
      val (j2, s2, t2) = snap()
      println(f"[profile] $q construct=${(c1 - c0) / 1e9}%.2fs (jobs=${j1 - j0} stages=${s1 - s0} tasks=${t1 - t0}) " +
        f"action=${(c2 - c1) / 1e9}%.2fs (jobs=${j2 - j1} stages=${s2 - s1} tasks=${t2 - t1})")
      resetCaches(spark)
      System.gc()
    }
    true
  }

  /** Prints the formatted physical plan of each query — the
    * scale-readiness audit (pushdown visible? broadcasts chosen? how many
    * exchanges?). Each query runs first, so the plan printed is its FINAL
    * adaptive plan. */
  private def plans(dir: String, names: Seq[String])(spark: SparkSession): Boolean = {
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, dir)
      df.collect() // finalizes THIS df's adaptive plan
      df.explain("formatted")
      resetCaches(spark)
    }
    true
  }

  private def determinism(dir: String, names: Set[String])(spark: SparkSession): Boolean = {
    Verify.pinRouteMtimes()
    val outcome = DeterminismCheck.run(spark, dir, names)
    println(s"determinism: ${if (outcome.ok) "ALL OK" else
      s"nondeterministic ${outcome.nondeterministic.mkString(", ")}; errors ${outcome.errors.mkString(", ")}"}")
    outcome.ok
  }
}
