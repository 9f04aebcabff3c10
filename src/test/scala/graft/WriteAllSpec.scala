package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SuiteLoader
import graft.ingest.Metadata
import graft.pipeline.ValidationPipeline
import graft.streaming.StreamingPipeline

/** The one sink fan-out, [[ValidationPipeline.writeAll]], which the batch
  * path and every streaming micro-batch go through: outputs equal the
  * Result frames, nothing stays cached, a failed or interrupted call
  * returns only after every sink has finished, and sink threads carry the
  * caller's job group. */
class WriteAllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dataDir = new java.io.File("fixtures/odejson/data").getAbsolutePath
  private val glob = s"$dataDir/*.json*"
  private lazy val suite = SuiteLoader.fromFile("fixtures/odejson/suite.ini")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("parquet outputs equal the Result frames; nothing stays cached") {
    spark.catalog.clearCache()
    val out = tmp("graft-writeall")
    val result = ValidationPipeline.runJson(spark, glob, suite)
    assert(result.hasSequential)
    ValidationPipeline.writeAll(result, out, bucketRoot = Some(dataDir))
    assert(cacheIsEmpty, "writeAll left frames cached")

    def written(name: String) = spark.read.parquet(s"$out/$name")
    assert(rows(written("file_totals")) == rows(result.fileTotals))
    assert(rows(written("error_histogram")) == rows(result.errorHistogram))
    assert(rows(written("sequential")) == rows(result.sequential))

    // one metadata doc per object, joined to that object's totals
    val expectedMeta = result.fileTotals.select(
      Metadata.keyColumn(col("file"), dataDir).as("key"),
      col("num_valid"), col("num_error_messages"))
    assert(rows(written("metadata").select("key", "num_valid", "num_error_messages")) ==
      rows(expectedMeta))
    assert(rows(written("metadata").select("key")) ==
      Seq("a1.json", "a2.json", "a3.json", "a4.json.gz", "a5.json").map(k => s"[$k]"))
  }

  test("a failing extra sink fails the micro-batch only after its sibling finished") {
    spark.catalog.clearCache()
    val dir = tmp("graft-writeall-fail")
    val siblingDone = new AtomicBoolean(false)
    val siblingSawCache = new AtomicBoolean(false)
    val failing: ValidationPipeline.Result => Unit =
      _ => throw new IllegalStateException("sink down")
    val slow: ValidationPipeline.Result => Unit = res => {
      Thread.sleep(4000)
      siblingSawCache.set(res.fileTotals.storageLevel != StorageLevel.NONE)
      siblingDone.set(true)
    }
    val e = intercept[StreamingQueryException] {
      StreamingPipeline.runAvailableNow(spark, glob, suite, s"$dir/out", s"$dir/ckpt",
        extraSinks = Seq(failing, slow))
    }
    assert(siblingDone.get, "the batch failed while a sibling sink was still running")
    assert(siblingSawCache.get, "caches were dropped under a running sink")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage == "sink down"), e)
    assert(cacheIsEmpty, "a failed fan-out left frames cached")
  }

  test("an interrupted caller (query.stop()) interrupts its sinks and waits for them") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val result = ValidationPipeline.runJson(spark, glob, suite)
    val started = new CountDownLatch(1)
    val sinkEnded = new AtomicBoolean(false)
    val blocking: ValidationPipeline.Result => Unit = _ => {
      started.countDown()
      // a sink that takes a while to wind down after the interrupt
      try Thread.sleep(120000) finally { Thread.sleep(500); sinkEnded.set(true) }
    }
    val thrown = new AtomicReference[Throwable]()
    val caller = new Thread(() => {
      sc.setJobGroup("writeall-interrupt", "writeall-interrupt", interruptOnCancel = true)
      try ValidationPipeline.writeAll(result, tmp("graft-writeall-interrupt"),
        extraSinks = Seq(blocking))
      catch { case e: Throwable => thrown.set(e) }
    })
    caller.start()
    assert(started.await(120, TimeUnit.SECONDS), "the extra sink never started")
    // what StreamExecution.stop() does to the query thread
    caller.interrupt()
    sc.cancelJobGroup("writeall-interrupt")
    caller.join(60000)
    assert(!caller.isAlive, "writeAll did not return after the interrupt")
    assert(thrown.get != null, "writeAll returned normally after the interrupt")
    assert((thrown.get +: thrown.get.getSuppressed.toSeq)
      .exists(_.isInstanceOf[InterruptedException]), thrown.get)
    assert(sinkEnded.get, "writeAll returned while a sink was still running")
    assert(cacheIsEmpty, "an interrupted fan-out left frames cached")
  }

  test("extra sinks run under the caller's job group, batch and stream") {
    val sc = spark.sparkContext
    val seen = new AtomicReference[String]()
    val probe: ValidationPipeline.Result => Unit =
      _ => seen.set(sc.getLocalProperty("spark.jobGroup.id"))

    val out = tmp("graft-writeall-group")
    sc.setJobGroup("writeall-spec", "writeall-spec", interruptOnCancel = false)
    try ValidationPipeline.writeAll(ValidationPipeline.runJson(spark, glob, suite), out,
      extraSinks = Seq(probe))
    finally sc.clearJobGroup()
    assert(seen.get == "writeall-spec")

    // the stream runs each micro-batch under its run id as job group —
    // the group query.stop() cancels
    seen.set(null)
    val dir = tmp("graft-writeall-stream-group")
    val q = StreamingPipeline.start(spark, glob, suite, s"$dir/out", s"$dir/ckpt",
      extraSinks = Seq(probe))
    q.awaitTermination()
    assert(seen.get == q.runId.toString)
  }
}
