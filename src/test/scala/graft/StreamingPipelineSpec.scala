package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SuiteLoader
import graft.pipeline.ValidationPipeline
import graft.streaming.StreamingPipeline

/** §2.8: the AvailableNow streaming run must produce the same per-file
  * outputs as the batch pipeline over the same files. */
class StreamingPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming AvailableNow equals batch (totals + sequential + histogram)") {
    val suite = SuiteLoader.fromFile("/root/repo/fixtures/odejson/suite.ini")
    val glob = "/root/repo/fixtures/odejson/data/*.json*"
    val tmp = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath

    StreamingPipeline.runAvailableNow(spark, glob, suite,
      s"$tmp/out", s"$tmp/ckpt")

    val batch = ValidationPipeline.runJson(spark, glob, suite)
    def norm(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(element_at(split(col("file"), "/"), -1).as("f"),
        struct(cols.map(col): _*).as("r"))
        .collect().map(r => r.toString).sorted.toSeq

    val streamTotals = spark.read.parquet(s"$tmp/out/file_totals")
    // full strings, not basenames: Metadata.keyColumn and the ES `_id`
    // derive from the whole `file` value
    def files(df: org.apache.spark.sql.DataFrame) =
      df.select("file").collect().map(_.getString(0)).sorted.toSeq
    assert(files(streamTotals) == files(batch.fileTotals))
    assert(norm(streamTotals, "num_messages_total", "num_validations", "num_errors",
      "num_error_messages", "num_valid") ==
      norm(batch.fileTotals, "num_messages_total", "num_validations", "num_errors",
        "num_error_messages", "num_valid"))

    val streamSeq = spark.read.parquet(s"$tmp/out/sequential")
    assert(norm(streamSeq, "field_path", "valid", "details") ==
      norm(batch.sequential, "field_path", "valid", "details"))

    val streamHist = spark.read.parquet(s"$tmp/out/error_histogram")
    assert(norm(streamHist, "error_message", "occurrences") ==
      norm(batch.errorHistogram, "error_message", "occurrences"))
  }

  test("observe() counters reach the listener and match the batch counts (K2)") {
    val suite = SuiteLoader.fromFile("/root/repo/fixtures/odejson/suite.ini")
    val glob = "/root/repo/fixtures/odejson/data/*.json*"
    val tmp = Files.createTempDirectory("graft-stream-obs").toFile.getAbsolutePath
    val listener = new StreamingPipeline.MetricsListener
    spark.streams.addListener(listener)
    try {
      StreamingPipeline.runAvailableNow(spark, glob, suite, s"$tmp/out", s"$tmp/ckpt")
      // listener bus is async — poll briefly for the progress events
      val expected = graft.ingest.Readers.lines(spark, glob).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var metrics = listener.drain()
      while (metrics.map(_.nRecords).sum < expected && System.nanoTime() < deadline) {
        Thread.sleep(200)
        metrics = metrics ++ listener.drain()
      }
      assert(metrics.nonEmpty, "no observed metrics arrived")
      assert(metrics.map(_.nRecords).sum == expected) // every line counted once
      assert(metrics.map(_.nCorrupt).sum == 0)        // fixtures parse clean
      assert(metrics.map(_.nBytes).sum > 0)
    } finally spark.streams.removeListener(listener)
  }

  test("restart with an existing checkpoint reprocesses nothing") {
    val suite = SuiteLoader.fromFile("/root/repo/fixtures/odejson/suite.ini")
    val glob = "/root/repo/fixtures/odejson/data/*.json*"
    val tmp = Files.createTempDirectory("graft-stream2").toFile.getAbsolutePath

    StreamingPipeline.runAvailableNow(spark, glob, suite, s"$tmp/out", s"$tmp/ckpt")
    val n1 = spark.read.parquet(s"$tmp/out/file_totals").count()
    // second run: checkpoint already covers every input file
    StreamingPipeline.runAvailableNow(spark, glob, suite, s"$tmp/out", s"$tmp/ckpt")
    val n2 = spark.read.parquet(s"$tmp/out/file_totals").count()
    assert(n1 == 5 && n2 == 5) // one totals row per fixture file, run twice
  }
}
