package graft.aggregate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Per-file aggregations (SURVEY §2.4, reference
 * cvp_bucket_event_lambda_handler.py:110-153 and
 * bucket_event_lambda_handler.py:105-198).
 *
 * Input: a validated record DataFrame with `file` and `validations`
 * (array<struct<field_path,valid,details>>) columns. All aggregates are
 * hash aggregates with map-side partial aggregation — one shuffle on the
 * file key, reusable across A1-A4.
 *
 * Scope note (reference fidelity): the reference's aggregation loop
 * (cvp...py:123-138) iterates validate_queue's FULL result list, which
 * includes the one extra sequential RecordValidationResult appended per
 * file (validator.py:408-415) — so that synthetic record adds 1 to
 * num_messages_total, its failure count to num_errors, etc. Pass the
 * sequential verdicts to [[fileTotals]] and [[errorHistogram]] and they
 * fold in as exactly that extra record; without them both cover the
 * field-validation records alone.
 */
object FileAggregates {

  /** failed-check count per record. */
  private def failedCount: Column =
    size(filter(col("validations"), v => !v.getField("valid")))

  /** A1-A4 + K3 (cvp...py:115-153): per-file num_messages_total,
   *  num_validations (Σ checks), num_errors (Σ failed checks),
   *  num_error_messages (records with ≥1 failure), num_valid, and the
   *  verdict line (PASSED iff zero failures).
   *  @param sequential output of SequentialChecks: (file, field_path,
   *                    valid, details, serial_number); each file's
   *                    verdict rows count as ONE extra record. */
  def fileTotals(validated: DataFrame, sequential: Option[DataFrame] = None): DataFrame = {
    val records = validated.select(col("file"),
      size(col("validations")).as("checks"), failedCount.as("failed"))
    // one summary row per file, not a collected array: a giant
    // all-failing file would otherwise become one huge row
    val extra = sequential.map(_.groupBy(col("file")).agg(
      count(lit(1)).as("checks"), count(when(!col("valid"), 1)).as("failed")))
    extra.fold(records)(records.unionByName(_))
      .groupBy(col("file"))
      .agg(
        count(lit(1)).as("num_messages_total"),
        sum(col("checks")).as("num_validations"),
        sum(col("failed")).as("num_errors"),
        sum(when(col("failed") > 0, 1L).otherwise(0L)).as("num_error_messages"))
      .select(col("file"), col("num_messages_total"), col("num_validations"),
        col("num_errors"), col("num_error_messages"),
        (col("num_messages_total") - col("num_error_messages")).as("num_valid"),
        when(col("num_errors") === 0, lit("PASSED")).otherwise(lit("FAILED")).as("verdict"))
  }

  /** Reference error-histogram key (cvp...py:131): Python renders a null
   *  field_path as 'None'. */
  private def errorMessage(fieldPath: Column, details: Column): Column =
    concat(lit("Invalid field '"), coalesce(fieldPath, lit("None")),
      lit("' due to "), details)

  /** A3 (cvp...py:122-135,143-145): distinct failure message → occurrence
   *  count, per file; message format "Invalid field '<path>' due to
   *  <details>" exactly as the reference's error_dict keys. The
   *  `sequential` verdict rows join the field verdicts as the reference's
   *  extra record (its None field_path renders as 'None'). */
  def errorHistogram(validated: DataFrame, sequential: Option[DataFrame] = None): DataFrame = {
    val fields = validated.select(col("file"), explode(col("validations")).as("v"))
      .select(col("file"), col("v.field_path").as("field_path"),
        col("v.valid").as("valid"), col("v.details").as("details"))
    sequential.map(_.select(col("file"), col("field_path"), col("valid"), col("details")))
      .fold(fields)(fields.unionByName(_))
      .filter(!col("valid"))
      .groupBy(col("file"),
        errorMessage(col("field_path"), col("details")).as("error_message"))
      .agg(count(lit(1)).as("occurrences"))
  }

  /** A5 (bucket_event_lambda_handler.py:105-198): dimensional counters —
   *  counts grouped by up to two dimension columns (State×TrafficType,
   *  DataProvider×DataType). The reference emits per-file increments to
   *  CloudWatch; here they're per-batch aggregates. */
  def dimensionalCounts(meta: DataFrame, dims: Seq[String]): DataFrame =
    meta.groupBy(dims.map(col): _*)
      .agg(
        count(lit(1)).as("file_count"),
        sum(coalesce(col("MessageCount"), lit(0L))).as("message_count"))

  /** A5 in the reference's exact metric-family shape: one long-format row
   *  per (namespace, metric, dims) with the same namespaces, dimension
   *  names, and per-file values the CloudWatch calls emit — including the
   *  zero-byte sentinel (ContentLength == 166,
   *  bucket_event_lambda_handler.py:129) and the hardcoded Value=10 quirk
   *  of the generic cv branch (bucket_event_lambda_handler.py:168).
   *
   *  @param meta file-metadata rows with Dataset / State / TrafficType /
   *              TableName / DataProvider / DataType / ContentLength and,
   *              for the CVP families, num_valid + num_error_messages.
   */
  def metricDatums(meta: DataFrame): DataFrame = {
    // one (family, dims, value) datum per family whose condition holds;
    // a null Dataset matches none
    def datum(on: Column, nameSpace: String, metric: String,
              dim1: String, dim2: String, value: Long): Column =
      struct(coalesce(on, lit(false)).as("on"), lit(nameSpace).as("namespace"),
        lit(metric).as("metric_name"), lit(dim1).as("dim1_name"),
        col(dim1).as("dim1_value"), lit(dim2).as("dim2_name"),
        col(dim2).as("dim2_value"), lit(value).as("value"))
    val dataset = col("Dataset")
    val datums = array(
      datum(dataset === "waze", "dot-sdc-waze-submissions-bucket-metric",
        "Counts by state and traffic type", "State", "TrafficType", 1L),
      datum(dataset === "waze" && col("ContentLength") === 166,
        "dot-sdc-waze-zero-byte-submissions-metric",
        "Zero Byte Submissions by State and traffic type", "State", "TrafficType", 1L),
      datum(dataset === "cv", "dot-sdc-cv-submissions-bucket-metric",
        "Counts by provider and datatype", "DataProvider", "DataType", 10L),
      datum(dataset =!= "manifest", "dot-sdc-waze-curated-bucket-metric",
        "Counts by state and table name", "State", "TableName", 1L))
    meta.select(explode(filter(datums, _.getField("on"))).as("d"))
      .groupBy(Seq("namespace", "metric_name", "dim1_name", "dim1_value",
        "dim2_name", "dim2_value").map(f => col(s"d.$f").as(f)): _*)
      .agg(sum(col("d.value")).as("value"), count(lit(1)).as("file_count"))
  }

  /** A5 CVP variant (cvp...py:155-227): per (DataProvider, DataType) —
   *  submission count, valid / invalid message sums, file count. Input is
   *  the per-file metadata joined with A2 totals. */
  def cvpMetricDatums(metaWithTotals: DataFrame): DataFrame =
    metaWithTotals
      .groupBy(col("DataProvider"), col("DataType"))
      .agg(
        count(lit(1)).as("submission_count"),
        sum(coalesce(col("num_valid"), lit(0L))).as("valid_messages"),
        sum(coalesce(col("num_error_messages"), lit(0L))).as("invalid_messages"),
        count(lit(1)).as("data_file_count"))
}
