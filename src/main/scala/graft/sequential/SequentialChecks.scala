package graft.sequential

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Cross-record sequential validation (reference: odevalidator/sequential.py)
 * re-expressed as window functions — per-file, shuffle-once:
 *
 *  - W1 bundle segmentation: after sorting the file's records by
 *    serialNumber, maximal runs of equal bundleId (consecutive runs, NOT a
 *    global group-by — a recurring bundleId forms two bundles;
 *    sequential.py:89-110) — classic gaps-and-islands via lag + running sum;
 *  - W2 recordId increment within bundle when bundleSize>1 (sequential.py:42-43);
 *  - W3 serialNumber increment within bundle (sequential.py:44-45; pairs
 *    spanning bundle boundaries are never compared);
 *  - W4 chronology: recordGeneratedAt / odeReceivedAt non-decreasing,
 *    second-truncated (sequential.py:32-33,46-49);
 *  - W5 bundle-size consistency with the reference's consecutive-dedup on
 *    emitted failures (sequential.py:61-86);
 *  - W6 zero-failure sentinel: one passing "SequentialCheck" row per file
 *    (sequential.py:22-25);
 *  - W7 skip-set gating: a skip flag raised by ANY record in a file
 *    suppresses that path's checks for the WHOLE file (validator.py:110-112
 *    mutates a suite-global set read after all records) — reproduced as
 *    per-file max() over the per-record flags, no mutable state.
 *
 * At 100 TB scale: everything partitions by file — one exchange on the file
 * key, then all windows and the bundle aggregate reuse that partitioning.
 * Files are independent, so parallelism = number of files and no global
 * sort ever materializes.
 *
 * SINGLE-GIANT-FILE ceiling (r12 verdict item 1): the default path puts a
 * whole file on one task (per-file scope IS the reference semantics), so
 * with one multi-GB object the wall clock degenerates to that file's
 * single-task sort — it spills and completes (unlike the reference's
 * in-memory model), but 31 of 32 cores idle. Pass `chunkSerials = Some(c)`
 * for the TWO-PHASE path: records range-chunk by serialNumber value,
 * phase A segments bundle runs within each (file, chunk) in parallel,
 * a tiny per-chunk summary table stitches run numbering across chunk
 * boundaries (merging the boundary runs when the adjacent bundleIds are
 * null-safe equal), and phase B runs every remaining window keyed by
 * (file, bundle_run) — so the largest serial unit is a BUNDLE, not a
 * file. Exactness is pinned by SequentialChunkedSpec (chunked ≡ default
 * on the ref-golden fixtures and on adversarial boundary streams) and by
 * the q_ode_sequential_chunked gate row (same golden as q_ode_sequential,
 * chunkSerials=4 forcing many boundaries). Degenerate worst case: ONE
 * bundle run spanning the whole file (e.g. every bundleId null) still
 * serializes — that is inherent to the reference's within-bundle
 * semantics, not to this formulation.
 */
object SequentialChecks {

  /** Expected input column names (prepare with [[withStandardColumns]]). */
  val FileCol = "file"
  val SerialNumber = "serial_number"
  val BundleId = "bundle_id"
  val RecordId = "record_id"
  val BundleSize = "bundle_size"
  val GeneratedAt = "generated_at"
  val ReceivedAt = "received_at"
  val LogFileName = "log_file_name"

  val SequentialCheck = "SequentialCheck"

  /** Paths whose skip flags gate specific checks (config_2.ini:74-98,9). */
  object SkipPaths {
    val RecordIdPath = "metadata.serialId.recordId"
    val SerialNumberPath = "metadata.serialId.serialNumber"
    val GeneratedAtPath = "metadata.recordGeneratedAt"
    val ReceivedAtPath = "metadata.odeReceivedAt"
    val BundleSizePath = "metadata.serialId.bundleSize"
  }

  private val AllSkipPaths: Seq[(String, String)] = {
    import SkipPaths._
    Seq(RecordIdPath -> "skip_record_id", SerialNumberPath -> "skip_serial",
      GeneratedAtPath -> "skip_gen", ReceivedAtPath -> "skip_rcv",
      BundleSizePath -> "skip_bundle_size")
  }

  /** Project an ODE-shaped DataFrame (metadata struct per FIXTURES.md §1)
   *  to the standard sequential input columns, plus any `extra` columns
   *  that must ride along (e.g. per-record skip flags). */
  def withStandardColumns(df: DataFrame, fileCol: Column,
                          extra: Seq[Column] = Nil): DataFrame =
    df.select(Seq(
      fileCol.as(FileCol),
      col("metadata.serialId.serialNumber").try_cast("long").as(SerialNumber),
      col("metadata.serialId.bundleId").try_cast("long").as(BundleId),
      col("metadata.serialId.recordId").try_cast("long").as(RecordId),
      col("metadata.serialId.bundleSize").try_cast("long").as(BundleSize),
      date_trunc("second", try_to_timestamp(col("metadata.recordGeneratedAt"))).as(GeneratedAt),
      date_trunc("second", try_to_timestamp(col("metadata.odeReceivedAt"))).as(ReceivedAt),
      col("metadata.logFileName").as(LogFileName)) ++ extra: _*)

  /** Null-safe bundle-run start marker: the reference compares raw
   *  bundleIds with Python == (None == None → same bundle,
   *  sequential.py:96-104); a null-unsafe =!= would nullify the
   *  comparison and silently make every null-bundleId record its own
   *  singleton bundle, disabling all pair checks for the file. */
  private def runStartOver(w: org.apache.spark.sql.expressions.WindowSpec): Column =
    when(!(col(BundleId) <=> lag(col(BundleId), 1).over(w)), 1).otherwise(0)

  /**
   * Run all sequential checks.
   *
   * @param records      standard-column DataFrame (see
   *                     [[withStandardColumns]]); may carry extra columns
   *                     (e.g. per-record skip flags).
   * @param skips        per-record boolean skip-flag Column per gated path
   *                     (missing path = never skipped).
   * @param chunkSerials None (default): the single-exchange per-file plan.
   *                     Some(c): the two-phase giant-file plan — records
   *                     range-chunk by floor(serialNumber / c); pick c so a
   *                     chunk is ~10⁵–10⁶ records (c counts SERIAL UNITS,
   *                     not records). Results are identical.
   * @return (file, field_path, valid, details, serial_number) — failures
   *         plus one passing SequentialCheck sentinel per failure-free file.
   */
  def apply(records: DataFrame, skips: Map[String, Column] = Map.empty,
            chunkSerials: Option[Long] = None): DataFrame =
    chunkSerials match {
      case None    => singlePass(records, skips)
      case Some(c) => chunked(records, skips, c)
    }

  private def singlePass(records: DataFrame, skips: Map[String, Column]): DataFrame = {
    // SINGLE-PASS plan: every window below partitions by `file` (or by
    // (file, bundle_run), which hashpartitioning(file) already satisfies),
    // so the whole computation — pair checks, bundle-size checks, the W6
    // sentinel — is ONE exchange + sorts + one explode. The naive
    // formulation (union of three branches derived from the same input)
    // re-scans and re-shuffles the input once per branch: AQE does NOT
    // reuse those exchanges (verified on the final adaptive plan), which
    // at 100 TB would mean 4× the scan+shuffle work.
    val fileW = Window.partitionBy(FileCol)
    def fileSkip(path: String): Column =
      skips.get(path).map(c => coalesce(max(c).over(fileW), lit(false))).getOrElse(lit(false))

    val w = Window.partitionBy(FileCol).orderBy(SerialNumber)
    val seg = records.select(col("*") +:
      sum(runStartOver(w)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("bundle_run") +:
      AllSkipPaths.map { case (path, name) => fileSkip(path).as(name) }: _*)

    // W6: zero failures in the file ⇒ one sentinel row, attached to the
    // file's first record (row_number avoids a second pass over the input)
    val perRecord = withFails(seg).select(col("*"),
      sum(size(col("fails"))).over(fileW).as("file_fail_count"),
      row_number().over(w).as("rn"))

    perRecord
      .select(col(FileCol),
        explode(when(col("file_fail_count") === 0,
          when(col("rn") === 1, array(sentinel)).otherwise(array().cast(ArrayType(sentinelType))))
          .otherwise(col("fails"))).as("r"))
      .select(col(FileCol), col("r.field_path").as("field_path"), col("r.valid").as("valid"),
        col("r.details").as("details"), col("r.serial_number").as("serial_number"))
  }

  /**
   * Two-phase giant-file plan. The ONLY file-global ORDERED dependency in
   * the whole operator is the bundle-run prefix sum (W1); every other
   * window is keyed by (file, bundle_run), and the file-level state (W6
   * sentinel, W7 skip set) is an unordered aggregate. So:
   *
   *  phase A  exchange on hash(file, chunk): local run numbering per
   *           chunk + a per-chunk summary (first/last bundleId, run
   *           count, per-chunk skip-flag ORs);
   *  stitch   a window over the TINY summary table (rows = chunks, i.e.
   *           data / chunkSerials — broadcastable at any sane chunk
   *           size): global run offset per chunk = Σ previous chunks'
   *           runs − Σ boundary merges (adjacent chunks whose facing
   *           bundleIds are null-safe equal share one run); per-file
   *           skip flags = OR over the file's chunk summaries. Joined
   *           back BROADCAST — phase A's partitioning is undisturbed;
   *  phase B  exchange on hash(file, bundle_run): all pair/bundle
   *           windows (W2–W5) — bundles distribute across tasks, so the
   *           giant file parallelizes to its bundle count;
   *  finish   failures are SPARSE: localCheckpoint them (truncating the
   *           heavy lineage), then the W6 sentinel set = files (from the
   *           already-materialized summaries) minus files with failures.
   */
  private def chunked(records: DataFrame, skips: Map[String, Column],
                      chunkSize: Long): DataFrame = {
    require(chunkSize >= 2, s"chunkSerials must be >= 2, got $chunkSize")

    // null serials take a sentinel chunk BELOW every real chunk — they
    // sort first under the single-pass orderBy(serial), so the chunk
    // order must agree. floor(serial/c) for c >= 2 can never reach
    // Long.MinValue, so the sentinel cannot collide.
    val chunkCol = when(col(SerialNumber).isNull, lit(Long.MinValue))
      .otherwise(floor(col(SerialNumber) / lit(chunkSize)).cast("long"))

    // ---- phase A: local run numbering within (file, chunk) ----
    val wc = Window.partitionBy(col(FileCol), col("__chunk")).orderBy(SerialNumber)
    // the chunk's FIRST row must ALWAYS open local run 1: for a null
    // bundleId the bare null-safe lag comparison reads null <=> null =
    // true and would start the numbering at 0, corrupting the offset
    // arithmetic below (the single-pass plan tolerates that shift — its
    // numbering is never stitched)
    val lrunStart = when(row_number().over(wc) === 1, 1).otherwise(runStartOver(wc))
    val segA = records.withColumn("__chunk", chunkCol)
      .withColumn("__lrun",
        sum(lrunStart).over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // per-chunk summary: run count, the bundleId of the first and last
    // run (constant within a run, so min_by/max_by on the never-null
    // local run number is exact even when bundleId itself is null),
    // and the chunk's skip-flag ORs
    val skipAggs = AllSkipPaths.map { case (path, name) =>
      skips.get(path).map(c => coalesce(max(c), lit(false)))
        .getOrElse(lit(false)).as(s"__$name")
    }
    val summaryAggs = Seq(
      min_by(col(BundleId), col("__lrun")).as("__first_bid"),
      max_by(col(BundleId), col("__lrun")).as("__last_bid")) ++ skipAggs
    val summaries = segA.groupBy(col(FileCol), col("__chunk"))
      .agg(max(col("__lrun")).as("__n_runs"), summaryAggs: _*)

    // ---- stitch: global run offsets + per-file skip flags ----
    val ws = Window.partitionBy(col(FileCol)).orderBy(col("__chunk"))
    val fileAll = Window.partitionBy(col(FileCol))
    val offsets0 = summaries
      .withColumn("__has_prev", lag(col("__n_runs"), 1).over(ws).isNotNull)
      .withColumn("__merge",
        when(col("__has_prev") &&
          (col("__first_bid") <=> lag(col("__last_bid"), 1).over(ws)), 1L)
          .otherwise(0L))
      .withColumn("__offset",
        coalesce(sum(col("__n_runs")).over(ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          - sum(col("__merge")).over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = AllSkipPaths.foldLeft(offsets0) { case (df, (_, name)) =>
      df.withColumn(name, max(col(s"__$name")).over(fileAll))
    }.select(Seq(col(FileCol), col("__chunk"), col("__offset")) ++
        AllSkipPaths.map { case (_, name) => col(name) }: _*)
      // tiny (one row per chunk) and consumed twice (row join + sentinel
      // file set): materialize once, truncating the phase-A lineage
      .localCheckpoint(true)

    // ---- phase B: every remaining window keyed by (file, bundle_run) ----
    val segB = segA.join(broadcast(offsets), Seq(FileCol, "__chunk"))
      .withColumn("bundle_run", col("__lrun") + col("__offset"))
    val fails = withFails(segB)
      .select(col(FileCol), explode(col("fails")).as("r"))
      .select(col(FileCol), col("r.field_path").as("field_path"), col("r.valid").as("valid"),
        col("r.details").as("details"), col("r.serial_number").as("serial_number"))
      // failures are sparse (bounded by actual rule violations):
      // materialize so the sentinel anti-join below does not re-run the
      // whole two-phase pipeline a second time
      .localCheckpoint(true)

    // ---- W6 sentinel: files with zero failures ----
    val allFiles = offsets.select(col(FileCol)).distinct()
    val sentinels = allFiles
      .join(fails.select(col(FileCol)).distinct(), Seq(FileCol), "left_anti")
      .select(col(FileCol), lit(SequentialCheck).as("field_path"),
        lit(true).as("valid"), lit("").as("details"),
        lit(null).cast("long").as("serial_number"))
    fails.unionByName(sentinels)
  }

  /** The shared bundle stage: given records carrying `bundle_run` and the
   *  five per-file skip_* flags, compute the per-record `fails` array —
   *  pair checks W2–W4 and the bundle-size check W5 with the reference's
   *  consecutive-emission dedup. Every window here is keyed by
   *  (file, bundle_run): under the single-pass plan hashpartitioning(file)
   *  already satisfies it (no extra exchange); under the chunked plan it
   *  IS the phase-B exchange. */
  private def withFails(seg: DataFrame): DataFrame = {
    val w2 = Window.partitionBy(col(FileCol), col("bundle_run")).orderBy(SerialNumber)
    val bw = Window.partitionBy(col(FileCol), col("bundle_run"))
    val wholeBundle = w2.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    def longStr(c: Column): Column = c.cast("long").cast("string")
    // Python str(tz-aware datetime), second-truncated (sequential.py:32-33):
    // "2019-05-14 19:05:02+00:00" — session is UTC.
    def tsStr(c: Column): Column = concat(date_format(c, "yyyy-MM-dd HH:mm:ss"), lit("+00:00"))

    // one select per dependency level: the bundle windows, then the W5
    // emission and its running "previous emitted size", then `fails`
    val annotated = seg.select(col("*"),
      // pair context (W2-W4, sequential.py:36-49)
      lag(col(RecordId), 1).over(w2).as("prev_record_id"),
      lag(col(SerialNumber), 1).over(w2).as("prev_serial"),
      lag(col(GeneratedAt), 1).over(w2).as("prev_gen"),
      lag(col(ReceivedAt), 1).over(w2).as("prev_rcv"),
      // bundle context (W5, sequential.py:61-86)
      first(col(RecordId)).over(w2).as("first_record_id"),
      first(col(BundleSize)).over(w2).as("first_bundle_size"),
      last(col(RecordId)).over(wholeBundle).as("last_record_id"),
      max(col(SerialNumber)).over(bw).as("last_serial"),
      count(lit(1)).over(bw).as("bundle_count"))

    val isFull = col("first_record_id") === 0 &&
      col("last_record_id") === col("first_bundle_size") - 1

    // W5 emission per record; consecutive emissions with equal bundleSize
    // collapse (prev_bundle_size only updates on emission) — the "previous
    // emitted size" is a null-skipping last() over earlier rows.
    val emit = !col("skip_bundle_size") && (
      when(col("first_record_id") === 0,
        isFull && col(LogFileName).isNotNull && col("bundle_count") =!= col(BundleSize))
        .otherwise(col("last_record_id") =!= col(BundleSize) - 1))

    val withEmit = annotated.select(col("*"), emit.as("emit"),
      last(when(emit, col(BundleSize)), ignoreNulls = true)
        .over(w2.rowsBetween(Window.unboundedPreceding, -1)).as("prev_emitted_size"))

    def failRow(details: Column, serial: Column): Column = struct(
      lit(null).cast("string").as("field_path"), lit(false).as("valid"),
      details.as("details"), serial.cast("long").as("serial_number"))

    val pairChecks = array(
      when(col("prev_serial").isNotNull && !col("skip_record_id") && col(BundleSize) > 1 &&
           col(RecordId) =!= col("prev_record_id") + 1,
        failRow(concat(lit("Detected incorrectly incremented recordId. Expected recordId '"),
          longStr(col("prev_record_id") + 1), lit("' but got '"), longStr(col(RecordId)), lit("'")),
          col(SerialNumber))),
      when(col("prev_serial").isNotNull && !col("skip_serial") &&
           col(SerialNumber) =!= col("prev_serial") + 1,
        failRow(concat(lit("Detected incorrectly incremented serialNumber. Expected serialNumber '"),
          longStr(col("prev_serial") + 1), lit("' but got '"), longStr(col(SerialNumber)), lit("'")),
          col(SerialNumber))),
      when(col("prev_serial").isNotNull && !col("skip_gen") && col(GeneratedAt) < col("prev_gen"),
        failRow(concat(lit("Detected non-chronological recordGeneratedAt. Previous timestamp was '"),
          tsStr(col("prev_gen")), lit("' but current timestamp is '"),
          tsStr(col(GeneratedAt)), lit("'")), col(SerialNumber))),
      when(col("prev_serial").isNotNull && !col("skip_rcv") && col(ReceivedAt) < col("prev_rcv"),
        failRow(concat(lit("Detected non-chronological odeReceivedAt. Previous timestamp was '"),
          tsStr(col("prev_rcv")), lit("' but current timestamp is '"),
          tsStr(col(ReceivedAt)), lit("'")), col(SerialNumber))),
      when(col("emit") &&
           (col("prev_emitted_size").isNull || col("prev_emitted_size") =!= col(BundleSize)),
        failRow(
          when(col("first_record_id") === 0,
            concat(lit("bundleSize doesn't match number of records. Number of records: '"),
              longStr(col("bundle_count")), lit("' != bundlSize: '"), longStr(col(BundleSize)), lit("'")))
            .otherwise(
              concat(lit("bundleSize doesn't match last recordId. Last recordId: '"),
                longStr(col("last_record_id")), lit("' != (bundleSize-1: '"),
                longStr(col(BundleSize) - 1), lit("')"))),
          col("last_serial"))))

    withEmit.select(col("*"), filter(pairChecks, _.isNotNull).as("fails"))
  }

  private val sentinel = struct(
    lit(SequentialCheck).as("field_path"), lit(true).as("valid"),
    lit("").as("details"), lit(null).cast("long").as("serial_number"))

  private val sentinelType = StructType(Seq(
    StructField("field_path", StringType),
    StructField("valid", BooleanType, nullable = false),
    StructField("details", StringType),
    StructField("serial_number", LongType)))
}
