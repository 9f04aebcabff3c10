package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.aggregate.FileAggregates

/** A5 datum values on hand-built file metadata, one row per case the
  * reference's CloudWatch branches tell apart
  * (bucket_event_lambda_handler.py:105-198): every waze object counts
  * by (State, TrafficType), a 166-byte one also as a zero-byte
  * submission (:129); every cv object adds the hard-coded Value 10 by
  * (DataProvider, DataType) (:168); every object but a manifest counts
  * as curated by (State, TableName); a missing Dataset emits nothing. */
class FileAggregatesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("metricDatums: family values, zero-byte sentinel, cv Value 10, manifest and null Dataset") {
    val schema = StructType(Seq("Dataset", "State", "TrafficType", "TableName",
      "DataProvider", "DataType").map(StructField(_, StringType)) :+
      StructField("ContentLength", LongType))
    val meta = spark.createDataFrame(java.util.Arrays.asList(
      Row("waze", "CA", "alerts", "t1", null, null, 166L),
      Row("waze", "CA", "alerts", "t1", null, null, 500L),
      Row("waze", "TX", "jams", "t2", null, null, 166L),
      Row("cv", "CA", null, "t1", "p1", "bsm", 166L),
      Row("cv", "CA", null, "t1", "p1", "bsm", 900L),
      Row("manifest", "CA", null, "t1", null, null, 166L),
      Row("wydot", "WY", null, "t3", null, null, 166L),
      Row(null, "CA", "alerts", "t1", "p1", "bsm", 166L)), schema)
    val got = FileAggregates.metricDatums(meta)

    assert(got.schema.map(f => f.name -> f.dataType) == Seq(
      "namespace" -> StringType, "metric_name" -> StringType,
      "dim1_name" -> StringType, "dim1_value" -> StringType,
      "dim2_name" -> StringType, "dim2_value" -> StringType,
      "value" -> LongType, "file_count" -> LongType))

    val waze = ("dot-sdc-waze-submissions-bucket-metric", "Counts by state and traffic type")
    val zero = ("dot-sdc-waze-zero-byte-submissions-metric",
      "Zero Byte Submissions by State and traffic type")
    val cv = ("dot-sdc-cv-submissions-bucket-metric", "Counts by provider and datatype")
    val curated = ("dot-sdc-waze-curated-bucket-metric", "Counts by state and table name")
    def datum(family: (String, String), d1: (String, String), d2: (String, String),
              value: Long, files: Long) =
      Seq(family._1, family._2, d1._1, d1._2, d2._1, d2._2, value, files)
    val expected = Seq(
      datum(waze, "State" -> "CA", "TrafficType" -> "alerts", 2, 2),
      datum(waze, "State" -> "TX", "TrafficType" -> "jams", 1, 1),
      datum(zero, "State" -> "CA", "TrafficType" -> "alerts", 1, 1),
      datum(zero, "State" -> "TX", "TrafficType" -> "jams", 1, 1),
      datum(cv, "DataProvider" -> "p1", "DataType" -> "bsm", 20, 2),
      datum(curated, "State" -> "CA", "TableName" -> "t1", 4, 4),
      datum(curated, "State" -> "TX", "TableName" -> "t2", 1, 1),
      datum(curated, "State" -> "WY", "TableName" -> "t3", 1, 1))
    val rows = got.collect().toSeq.map(_.toSeq)
    assert(rows.sortBy(_.mkString("|")) == expected.sortBy(_.mkString("|")))
  }
}
