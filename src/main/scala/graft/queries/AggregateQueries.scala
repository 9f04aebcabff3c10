package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.aggregate.FileAggregates
import graft.config.SuiteLoader
import graft.ext.{Bpe, Dedup, Events, LanguageModel, Multimodal, Packing, Retrieval, Sampling, Similarity, Stats, TextAnalysis}
import graft.ingest.{Metadata, Readers}
import graft.pipeline.{OdeSchema, Routing, ValidationPipeline}
import graft.plans.AsOf
import graft.rules.RuleCompiler
import graft.sequential.SequentialChecks
/** Aggregates over parquet (A1-A5). Split out of the monolithic registry
  * (r9 verdict item 5); every member keeps resolving
  * unqualified through the `Queries.type` self-type. */
private[graft] trait AggregateQueries { this: Queries.type =>
  // =====================================================================
  // Aggregates over parquet (A1-A5)
  // =====================================================================

  private[graft] val lineitemSuiteIni =
    """[_settings]
      |DataType = json
      |Sequential = False
      |
      |[l_returnflag]
      |Type = enum
      |Values = ["a", "n"]
      |
      |[l_quantity]
      |Type = decimal
      |UpperLimit = 45
      |LowerLimit = 5
      |
      |[l_shipmode_missing]
      |Type = string
      |""".stripMargin

  private[graft] def lineitemValidated(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(t(dir, "lineitem"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
      .withColumn("file", concat(lit("f"), pmod(col("l_orderkey"), lit(4))))
    ValidationPipeline.validateRecords(df, ruleSuite(lineitemSuiteIni))
  }

  /** A1/A2/A4/K3 as hash aggregates over 60k validated records. */
  private[graft] def fileTotalsParquet(s: SparkSession, dir: String): DataFrame =
    FileAggregates.fileTotals(lineitemValidated(s, dir))
      .select(col("file"), col("num_messages_total"), col("num_validations"),
        col("num_errors"), col("num_error_messages"), col("num_valid"), col("verdict"))

  private[graft] val fileTotalsParquetOracle =
    """WITH v AS (
      |  SELECT concat('f', l_orderkey % 4) AS file,
      |    (CASE WHEN lower(l_returnflag) IN ('a','n') THEN 0 ELSE 1 END +
      |     CASE WHEN l_quantity > 45 OR l_quantity < 5 THEN 1 ELSE 0 END +
      |     1) AS failed  -- l_shipmode_missing always fails (field absent)
      |  FROM lineitem)
      |SELECT file,
      |  count(*) AS num_messages_total,
      |  CAST(3 * count(*) AS BIGINT) AS num_validations,
      |  CAST(sum(failed) AS BIGINT) AS num_errors,
      |  CAST(count(*) FILTER (WHERE failed > 0) AS BIGINT) AS num_error_messages,
      |  CAST(count(*) - count(*) FILTER (WHERE failed > 0) AS BIGINT) AS num_valid,
      |  CASE WHEN sum(failed) = 0 THEN 'PASSED' ELSE 'FAILED' END AS verdict
      |FROM v GROUP BY file""".stripMargin

  /** A3: error histogram with the reference's message format. */
  private[graft] def errorHistogramParquet(s: SparkSession, dir: String): DataFrame =
    FileAggregates.errorHistogram(lineitemValidated(s, dir))
      .select(col("file"), col("error_message"), col("occurrences"))

  private[graft] val errorHistogramParquetOracle =
    """WITH msgs AS (
      |  SELECT concat('f', l_orderkey % 4) AS file,
      |    'Invalid field ''l_returnflag'' due to Value ''' || l_returnflag || ''' not in list of known values: [a, n]' AS m
      |  FROM lineitem WHERE lower(l_returnflag) NOT IN ('a','n')
      |  UNION ALL
      |  SELECT concat('f', l_orderkey % 4),
      |    CASE WHEN l_quantity > 45 THEN 'Invalid field ''l_quantity'' due to Value ''' || CAST(CAST(trunc(l_quantity) AS BIGINT) AS VARCHAR) || ''' is greater than upper limit ''45'''
      |         ELSE 'Invalid field ''l_quantity'' due to Value ''' || CAST(CAST(trunc(l_quantity) AS BIGINT) AS VARCHAR) || ''' is less than lower limit ''5''' END
      |  FROM lineitem WHERE l_quantity > 45 OR l_quantity < 5
      |  UNION ALL
      |  SELECT concat('f', l_orderkey % 4),
      |    'Invalid field ''l_shipmode_missing'' due to Field missing: l_shipmode_missing'
      |  FROM lineitem)
      |SELECT file, m AS error_message, count(*) AS occurrences
      |FROM msgs GROUP BY file, m""".stripMargin

  /** A5: dimensional metric families incl. the zero-byte sentinel. */
  private[graft] def metricDatumsParquet(s: SparkSession, dir: String): DataFrame = {
    val meta = s.read.parquet(t(dir, "orders")).select(
      when(pmod(col("o_orderkey"), lit(3)) === 0, lit("waze"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("cv"))
        .otherwise(lit("manifest")).as("Dataset"),
      concat(lit("S"), pmod(col("o_custkey"), lit(3))).as("State"),
      when(pmod(col("o_orderkey"), lit(2)) === 0, lit("alerts")).otherwise(lit("jams")).as("TrafficType"),
      lit("t1").as("TableName"),
      concat(lit("p"), pmod(col("o_custkey"), lit(2))).as("DataProvider"),
      lit("bsm").as("DataType"),
      when(pmod(col("o_orderkey"), lit(5)) === 0, lit(166L)).otherwise(lit(500L)).as("ContentLength"),
      pmod(col("o_orderkey"), lit(10)).as("MessageCount"))
    FileAggregates.metricDatums(meta)
      .select(col("namespace"), col("metric_name"), col("dim1_name"), col("dim1_value"),
        col("dim2_name"), col("dim2_value"), col("value"), col("file_count"))
  }

  /** A5 companion: dimensional rollups (file + message counts per
   *  dimension pair) over the same synthetic metadata. */
  private[graft] def dimensionalCountsQ(s: SparkSession, dir: String): DataFrame = {
    val meta = s.read.parquet(t(dir, "orders")).select(
      concat(lit("S"), pmod(col("o_custkey"), lit(3))).as("State"),
      when(pmod(col("o_orderkey"), lit(2)) === 0, lit("alerts")).otherwise(lit("jams")).as("TrafficType"),
      pmod(col("o_orderkey"), lit(10)).as("MessageCount"))
    FileAggregates.dimensionalCounts(meta, Seq("State", "TrafficType"))
      .select(col("State"), col("TrafficType"), col("file_count"), col("message_count"))
  }

  private[graft] val dimensionalCountsOracle =
    """SELECT concat('S', o_custkey % 3) AS State,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'alerts' ELSE 'jams' END AS TrafficType,
      |  count(*) AS file_count,
      |  CAST(sum(o_orderkey % 10) AS BIGINT) AS message_count
      |FROM orders GROUP BY 1, 2""".stripMargin

  private[graft] val metricDatumsParquetOracle =
    """WITH meta AS (
      |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'waze' WHEN o_orderkey % 3 = 1 THEN 'cv' ELSE 'manifest' END AS Dataset,
      |         concat('S', o_custkey % 3) AS State,
      |         CASE WHEN o_orderkey % 2 = 0 THEN 'alerts' ELSE 'jams' END AS TrafficType,
      |         't1' AS TableName,
      |         concat('p', o_custkey % 2) AS DataProvider,
      |         'bsm' AS DataType,
      |         CASE WHEN o_orderkey % 5 = 0 THEN 166 ELSE 500 END AS ContentLength
      |  FROM orders)
      |SELECT 'dot-sdc-waze-submissions-bucket-metric' AS namespace, 'Counts by state and traffic type' AS metric_name,
      |       'State' AS dim1_name, State AS dim1_value, 'TrafficType' AS dim2_name, TrafficType AS dim2_value,
      |       CAST(count(*) AS BIGINT) AS value, CAST(count(*) AS BIGINT) AS file_count
      |FROM meta WHERE Dataset = 'waze' GROUP BY State, TrafficType
      |UNION ALL
      |SELECT 'dot-sdc-waze-zero-byte-submissions-metric', 'Zero Byte Submissions by State and traffic type',
      |       'State', State, 'TrafficType', TrafficType, CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM meta WHERE Dataset = 'waze' AND ContentLength = 166 GROUP BY State, TrafficType
      |UNION ALL
      |SELECT 'dot-sdc-cv-submissions-bucket-metric', 'Counts by provider and datatype',
      |       'DataProvider', DataProvider, 'DataType', DataType, CAST(10 * count(*) AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM meta WHERE Dataset = 'cv' GROUP BY DataProvider, DataType
      |UNION ALL
      |SELECT 'dot-sdc-waze-curated-bucket-metric', 'Counts by state and table name',
      |       'State', State, 'TableName', TableName, CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM meta WHERE Dataset <> 'manifest' GROUP BY State, TableName""".stripMargin

  /** K2 driven END-TO-END from the streaming path (the CloudWatch
   *  counterpart of q_streaming_es_docs): the q_metric_datums synthetic
   *  metadata is staged as 3 parquet files and streamed
   *  (maxFilesPerTrigger=1), each micro-batch PRE-AGGREGATED to datums
   *  and POSTed through
   *  [[graft.sinks.CloudWatchSink.putMetricDataIdempotent]]'s real
   *  codegen'd to_json → deterministic-chunked PutMetricData-JSON →
   *  HTTP path (batchId-keyed ledger + BatchKey idempotency tokens),
   *  answered by the in-process [[graft.sinks.HttpCapture]]. The query
   *  RESULT is what the metrics endpoint RECEIVED, summed per
   *  (namespace, metric, dims) — additive datums are exactly
   *  CloudWatch's own aggregation semantics, so the batch split is
   *  invisible and the oracle is the one-shot datum SQL (sans
   *  file_count, which the wire shape deliberately does not carry). */
  private[graft] def streamingCwDatumsQ(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-cw-stream-")
    sys.addShutdownHook(graft.util.Fs.deleteRecursively(root))
    val meta = s.read.parquet(t(dir, "orders")).select(
      when(pmod(col("o_orderkey"), lit(3)) === 0, lit("waze"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("cv"))
        .otherwise(lit("manifest")).as("Dataset"),
      concat(lit("S"), pmod(col("o_custkey"), lit(3))).as("State"),
      when(pmod(col("o_orderkey"), lit(2)) === 0, lit("alerts")).otherwise(lit("jams")).as("TrafficType"),
      lit("t1").as("TableName"),
      concat(lit("p"), pmod(col("o_custkey"), lit(2))).as("DataProvider"),
      lit("bsm").as("DataType"),
      when(pmod(col("o_orderkey"), lit(5)) === 0, lit(166L)).otherwise(lit(500L)).as("ContentLength"),
      pmod(col("o_orderkey"), lit(10)).as("MessageCount"))
    val chunkDir = s"$root/chunks"
    meta.repartition(3).write.parquet(chunkDir)
    val capture = new graft.sinks.HttpCapture
    try {
      val q = s.readStream.schema(meta.schema)
        .option("maxFilesPerTrigger", 1).parquet(chunkDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // REPLAY-IDEMPOTENT (r14 verdict item 1): batchId-keyed ledger
          // + BatchKey-tokened bodies; a restart that re-delivers a
          // micro-batch no longer double-counts the additive datums
          graft.sinks.CloudWatchSink.putMetricDataIdempotent(
            FileAggregates.metricDatums(batch), batchId.toString,
            capture.endpoint, s"$root/cw-ledger")
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      // the idempotent receiver's view: BatchKey-deduped, so the result
      // is replay-invariant (CloudWatchSinkSpec kills and restarts this
      // very pipeline against the same oracle)
      val received = s.createDataset(capture.effectiveBodies.asJava.asScala.toSeq)(
        org.apache.spark.sql.Encoders.STRING)
      s.read.json(received)
        .select(col("Namespace").as("namespace"),
          explode(col("MetricData")).as("d"))
        .select(col("namespace"),
          col("d.MetricName").as("metric_name"),
          col("d.Dimensions")(0)("Name").as("dim1_name"),
          col("d.Dimensions")(0)("Value").as("dim1_value"),
          col("d.Dimensions")(1)("Name").as("dim2_name"),
          col("d.Dimensions")(1)("Value").as("dim2_value"),
          col("d.Value").as("v"))
        .groupBy(col("namespace"), col("metric_name"),
          col("dim1_name"), col("dim1_value"),
          col("dim2_name"), col("dim2_value"))
        .agg(sum(col("v")).cast("long").as("value"))
    } finally capture.stop()
  }

  /** The one-shot datum SQL minus file_count (not on the wire). */
  private[graft] lazy val streamingCwDatumsOracle =
    """WITH meta AS (
      |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'waze' WHEN o_orderkey % 3 = 1 THEN 'cv' ELSE 'manifest' END AS Dataset,
      |         concat('S', o_custkey % 3) AS State,
      |         CASE WHEN o_orderkey % 2 = 0 THEN 'alerts' ELSE 'jams' END AS TrafficType,
      |         't1' AS TableName,
      |         concat('p', o_custkey % 2) AS DataProvider,
      |         'bsm' AS DataType,
      |         CASE WHEN o_orderkey % 5 = 0 THEN 166 ELSE 500 END AS ContentLength
      |  FROM orders)
      |SELECT 'dot-sdc-waze-submissions-bucket-metric' AS namespace, 'Counts by state and traffic type' AS metric_name,
      |       'State' AS dim1_name, State AS dim1_value, 'TrafficType' AS dim2_name, TrafficType AS dim2_value,
      |       CAST(count(*) AS BIGINT) AS value
      |FROM meta WHERE Dataset = 'waze' GROUP BY State, TrafficType
      |UNION ALL
      |SELECT 'dot-sdc-waze-zero-byte-submissions-metric', 'Zero Byte Submissions by State and traffic type',
      |       'State', State, 'TrafficType', TrafficType, CAST(count(*) AS BIGINT)
      |FROM meta WHERE Dataset = 'waze' AND ContentLength = 166 GROUP BY State, TrafficType
      |UNION ALL
      |SELECT 'dot-sdc-cv-submissions-bucket-metric', 'Counts by provider and datatype',
      |       'DataProvider', DataProvider, 'DataType', DataType, CAST(10 * count(*) AS BIGINT)
      |FROM meta WHERE Dataset = 'cv' GROUP BY DataProvider, DataType
      |UNION ALL
      |SELECT 'dot-sdc-waze-curated-bucket-metric', 'Counts by state and table name',
      |       'State', State, 'TableName', TableName, CAST(count(*) AS BIGINT)
      |FROM meta WHERE Dataset <> 'manifest' GROUP BY State, TableName""".stripMargin

  /** A5 CVP variant: per-(DataProvider, DataType) submission counts +
   *  valid/invalid message sums (cvp...py:155-227). */
  private[graft] def cvpMetrics(s: SparkSession, dir: String): DataFrame = {
    val metaWithTotals = s.read.parquet(t(dir, "orders")).select(
      concat(lit("p"), pmod(col("o_custkey"), lit(3))).as("DataProvider"),
      when(pmod(col("o_orderkey"), lit(2)) === 0, lit("bsm")).otherwise(lit("tim")).as("DataType"),
      pmod(col("o_orderkey"), lit(7)).as("num_valid"),
      pmod(col("o_orderkey"), lit(3)).as("num_error_messages"))
    FileAggregates.cvpMetricDatums(metaWithTotals)
  }

  private[graft] val cvpMetricsOracle =
    """SELECT concat('p', o_custkey % 3) AS DataProvider,
      |       CASE WHEN o_orderkey % 2 = 0 THEN 'bsm' ELSE 'tim' END AS DataType,
      |       count(*) AS submission_count,
      |       CAST(sum(o_orderkey % 7) AS BIGINT) AS valid_messages,
      |       CAST(sum(o_orderkey % 3) AS BIGINT) AS invalid_messages,
      |       count(*) AS data_file_count
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** Skew pattern: two-phase salted aggregation — partial counts on a
   *  salted key absorb hot keys, then the salt folds out. Result equals
   *  the plain groupBy (the oracle), the shape is the 100 TB skew cure. */
  private[graft] def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(t(dir, "lineitem"))
    val salted = df
      .withColumn("__salt", pmod(col("l_partkey") * 31 + col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("__salt"))
      .agg(count(lit(1)).as("partial_n"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).as("partial_qty"))
    // final cast to DOUBLE: sums are exact at <=4 decimal digits (well inside
    // double's 53 bits), and decimal parquet/DuckDB serialization disagrees
    // in the driver's hasher (trailing-zero representation)
    salted.groupBy(col("l_returnflag"))
      .agg(sum(col("partial_n")).as("n_rows"),
        sum(col("partial_qty")).cast("double").as("sum_qty"))
  }

  private[graft] val saltedAggOracle =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
}
