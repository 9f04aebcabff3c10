package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SuiteLoader
import graft.ingest.Readers
import graft.pipeline.{OdeSchema, ValidationPipeline}
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

  /** The odejson fixture, relative to the checkout the forked tests run in. */
  private val Odejson = new java.io.File("fixtures/odejson").getAbsolutePath

  /** Every row of `df`, in `cols`, sorted: a row-for-row comparison key. */
  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def assertSameOutputs(out: String, batch: ValidationPipeline.Result): Unit = {
    val totals = Seq("file", "num_messages_total", "num_validations", "num_errors",
      "num_error_messages", "num_valid", "verdict")
    assert(rows(spark.read.parquet(s"$out/file_totals"), totals: _*) ==
      rows(batch.fileTotals, totals: _*))
    val seq = Seq("file", "field_path", "valid", "details", "serial_number")
    assert(rows(spark.read.parquet(s"$out/sequential"), seq: _*) ==
      rows(batch.sequential, seq: _*))
    val hist = Seq("file", "error_message", "occurrences")
    assert(rows(spark.read.parquet(s"$out/error_histogram"), hist: _*) ==
      rows(batch.errorHistogram, hist: _*))
  }

  test("one object per micro-batch: re-bound batches equal the batch run") {
    val suite = SuiteLoader.fromFile(s"$Odejson/suite.ini")
    val tmp = Files.createTempDirectory("graft-stream-mb")
    val landing = Files.createDirectories(tmp.resolve("landing"))
    val glob = s"$landing/*.json*"
    // a rebuilt plan mints new attribute ids; a re-bound one keeps them
    val validatedIds = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = StreamingPipeline.start(spark, glob, suite, s"$tmp/out", s"$tmp/ckpt",
      trigger = Trigger.ProcessingTime(100),
      extraSinks = Seq(r => {
        validatedIds.add(GraftBridge.analyzed(r.validated).output.map(_.exprId.id)); ()
      }))
    try {
      val objects = Files.list(Paths.get(s"$Odejson/data"))
      try objects.sorted.forEach { p =>
        val staged = Files.copy(p, tmp.resolve(p.getFileName))
        Files.move(staged, landing.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      } finally objects.close()
      assert(q.recentProgress.count(_.numInputRows > 0) == 5)
    } finally q.stop()
    assert(validatedIds.size == 5 && validatedIds.toArray.distinct.length == 1)
    assertSameOutputs(s"$tmp/out", ValidationPipeline.runJson(spark, glob, suite))
  }

  test("BatchPlan re-binds its template to a later batch; a new leaf builds anew") {
    val suite = SuiteLoader.fromFile(s"$Odejson/suite.ini")
    val glob = s"$Odejson/data/*.json*"
    def ids(df: DataFrame) = GraftBridge.analyzed(df).output.map(_.exprId)
    def leafRdds(df: DataFrame) =
      GraftBridge.analyzed(df).collectLeaves().collect { case l: LogicalRDD => l.rdd }
    // two checkpoints of one read share its output attributes, as the
    // micro-batches of one query do
    val records = Readers.ndjson(spark, glob, OdeSchema.record)
    val first = records.filter(col("file").endsWith("a1.json")).localCheckpoint()
    val second = records.filter(!col("file").endsWith("a1.json")).localCheckpoint()
    val plan = new StreamingPipeline.BatchPlan(suite)

    val template = plan.bind(first)
    val bound = plan.bind(second)
    assert(ids(bound.validated) == ids(template.validated))
    val secondRdd = GraftBridge.analyzed(second).asInstanceOf[LogicalRDD].rdd
    Seq(bound.validated, bound.sequential, bound.fileTotals, bound.errorHistogram)
      .foreach { df =>
        val rdds = leafRdds(df)
        assert(rdds.nonEmpty && rdds.forall(_ eq secondRdd))
      }
    val rebuilt = ValidationPipeline.run(ValidationPipeline.validateRecords(second, suite), suite)
    assert(rows(bound.fileTotals, bound.fileTotals.columns.toIndexedSeq: _*) ==
      rows(rebuilt.fileTotals, rebuilt.fileTotals.columns.toIndexedSeq: _*))
    assert(rows(bound.sequential, bound.sequential.columns.toIndexedSeq: _*) ==
      rows(rebuilt.sequential, rebuilt.sequential.columns.toIndexedSeq: _*))

    // a new read mints new attributes: a new template, kept for its batches
    val other = Readers.ndjson(spark, glob, OdeSchema.record).localCheckpoint()
    val fresh = plan.bind(other)
    assert(ids(fresh.validated) != ids(template.validated))
    assert(ids(plan.bind(other).validated) == ids(fresh.validated))
  }

  test("micro-batches run without AQE; the caller's session keeps its setting") {
    val suite = SuiteLoader.fromFile(s"$Odejson/suite.ini")
    val glob = s"$Odejson/data/*.json*"
    val tmp = Files.createTempDirectory("graft-stream-aqe").toFile.getAbsolutePath
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    StreamingPipeline.runAvailableNow(spark, glob, suite, s"$tmp/out", s"$tmp/ckpt",
      extraSinks = Seq(r => { seen.add(r.validated.sparkSession.conf.get(key)); () }))
    assert(spark.conf.get(key) == before)
    assert(seen.size == 1 && seen.peek() == "false")
  }
}
