package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sequential.SequentialChecks

/** The two-phase giant-file path (chunkSerials) must be INDISTINGUISHABLE
  * from the single-pass plan — r12 verdict item 1. Equality is asserted as
  * row multisets on (a) adversarial synthetic streams engineered so bundle
  * runs, failures, and W5 emission-dedup state all CROSS chunk boundaries,
  * (b) null-serial / null-bundleId / recurring-bundleId shapes, (c) skip
  * flags raised mid-file, and (d) the ref-golden odejson fixture corpus
  * (which the q_ode_sequential_chunked gate row also pins against the
  * reference's own verdicts). */
class SequentialChunkedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(sec: Int): Timestamp = Timestamp.valueOf(f"2019-05-14 19:${(sec / 60) % 60}%02d:${sec % 60}%02d")

  /** (file, serial, bundle, record, size, genSec, rcvSec, logFile) */
  private def std(rows: (String, Option[Long], Option[Long], Long, Long, Int, Int, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (f, s, b, r, sz, g, rc, lf) =>
      (f, s, b, r, sz, ts(g), ts(rc), Option(lf))
    }.toDF(SequentialChecks.FileCol, SequentialChecks.SerialNumber,
      SequentialChecks.BundleId, SequentialChecks.RecordId,
      SequentialChecks.BundleSize, SequentialChecks.GeneratedAt,
      SequentialChecks.ReceivedAt, SequentialChecks.LogFileName)
  }

  private def multiset(df: DataFrame): Map[(String, Option[String], Boolean, String, Option[Long]), Int] =
    df.select("file", "field_path", "valid", "details", "serial_number")
      .collect().toSeq
      .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2),
        r.getString(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertEqual(df: DataFrame, skips: Map[String, Column] = Map.empty,
                          chunk: Long = 4L): Unit = {
    val single = multiset(SequentialChecks(df, skips))
    val chunked = multiset(SequentialChecks(df, skips, chunkSerials = Some(chunk)))
    assert(chunked == single,
      s"chunked(c=$chunk) diverged:\nonly-single=${(single.toSet -- chunked.toSet)}" +
        s"\nonly-chunked=${(chunked.toSet -- single.toSet)}")
    assert(single.nonEmpty)
  }

  test("bundle runs and failures crossing chunk boundaries (c=4)") {
    // serials 0..19, bundles of 7 → every run crosses a c=4 chunk edge;
    // planted: recordId gap at 9, serial gap 12→14, chronology dip at 16,
    // and a size-mismatch tail bundle
    val rows = (0L to 19L).filterNot(_ == 13L).map { s =>
      val rid = if (s == 9) (s % 7) + 1 else s % 7
      val gen = if (s == 16) 5 else 10 + s.toInt
      ("f1", Some(s), Some(s / 7), rid, 7L, gen, 10 + s.toInt, "log")
    }
    assertEqual(std(rows: _*))
  }

  test("W5 emission dedup state spanning chunk edges") {
    // one long bundle (equal bundleId) whose records disagree on
    // bundleSize in a pattern that emits at several serials across
    // chunk boundaries — consecutive equal-size emissions must collapse
    // IDENTICALLY in both plans
    val sizes = Seq(5L, 5L, 9L, 9L, 9L, 5L, 9L, 9L, 5L, 5L, 5L, 9L)
    val rows = sizes.zipWithIndex.map { case (sz, i) =>
      ("f2", Some(i.toLong), Some(1L), i.toLong, sz, 10 + i, 10 + i, "log")
    }
    assertEqual(std(rows: _*), chunk = 3L)
  }

  test("null serials, null bundleIds, recurring bundleId, multiple files") {
    val rows = Seq[(String, Option[Long], Option[Long], Long, Long, Int, Int, String)](
      // f3: null serials first (sentinel chunk), then a null-bundle run
      // CONTINUING into real serials (boundary merge on null <=> null)
      ("f3", None, None, 0L, 3L, 1, 1, "log"),
      ("f3", None, None, 1L, 3L, 2, 2, "log"),
      ("f3", Some(0L), None, 2L, 3L, 3, 3, "log"),
      ("f3", Some(1L), None, 3L, 3L, 4, 4, "log"),
      // recurring bundleId 7 — two separate runs, NOT one group
      ("f3", Some(2L), Some(7L), 0L, 2L, 5, 5, "log"),
      ("f3", Some(3L), Some(7L), 1L, 2L, 6, 6, "log"),
      ("f3", Some(4L), Some(8L), 0L, 1L, 7, 7, "log"),
      ("f3", Some(5L), Some(7L), 0L, 2L, 8, 8, "log"),
      ("f3", Some(6L), Some(7L), 1L, 2L, 9, 9, "log"),
      // f4: clean file → sentinel only, in both plans
      ("f4", Some(100L), Some(1L), 0L, 2L, 1, 1, "log"),
      ("f4", Some(101L), Some(1L), 1L, 2L, 2, 2, "log"))
    assertEqual(std(rows: _*), chunk = 2L)
  }

  test("skip flags raised mid-file gate the whole file in both plans") {
    val base = std((0L to 11L).map { s =>
      // serial gap at 6 and recordId gap at 9 — both would fail
      val serial = if (s >= 6) s + 1 else s
      val rid = if (s == 9) s % 4 + 2 else s % 4
      ("f5", Some(serial), Some(s / 4), rid, 4L, 10 + s.toInt, 10 + s.toInt, "log")
    }: _*)
    // a skip flag raised by ONE record (serial 10) must suppress the
    // serial check for the WHOLE file — including chunks before it
    val withFlag = base.withColumn("skip_ser_flag", col(SequentialChecks.SerialNumber) === 10L)
    assertEqual(withFlag,
      skips = Map(SequentialChecks.SkipPaths.SerialNumberPath -> col("skip_ser_flag")),
      chunk = 3L)
  }

  test("ref-golden odejson fixture corpus: chunked ≡ single-pass (c=4)") {
    Verify.pinRouteMtimes()
    val single = multiset(Queries.all("q_ode_sequential")(spark, "/root/testdata/sf0.001"))
    val chunked = multiset(Queries.all("q_ode_sequential_chunked")(spark, "/root/testdata/sf0.001"))
    assert(chunked == single)
    assert(single.values.sum >= 8, "fixture corpus must exercise real verdicts")
  }

  // --- r13 verdict item 2: the chunked plan must be auto-selected ---

  private val fixPath = "fixtures/odejson/data/*.json*"

  test("auto-selector: small fixture objects stay on the single-pass plan") {
    assert(graft.pipeline.ValidationPipeline.autoChunkSerials(spark, fixPath).isEmpty,
      "kB-sized fixture files must not trip the giant-file selector")
  }

  test("auto-selector: an object past the byte threshold selects the chunked plan") {
    assert(graft.pipeline.ValidationPipeline.autoChunkSerials(spark, fixPath, 64)
      .contains(graft.pipeline.ValidationPipeline.AutoChunkSerials))
  }

  test("auto-selector sizes .gz objects by gzip ISIZE, not compressed bytes " +
      "(r14 verdict item 7)") {
    // a gz fixture STRADDLING the threshold: compressed well below it,
    // uncompressed well above — compressed-size counting (the r14
    // behavior) returned None here and silently serialized the plan
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-straddle-")
    try {
      val line = """{"metadata":{"serialId":{"serialNumber":1}}}""" + "\n"
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(dir.resolve("giant.json.gz")))
      try {
        val bytes = line.getBytes("UTF-8")
        var written = 0L
        while (written < 2L * 1024 * 1024) { out.write(bytes); written += bytes.length }
      } finally out.close()
      val gzLen = java.nio.file.Files.size(dir.resolve("giant.json.gz"))
      val threshold = 1024L * 1024
      assert(gzLen < threshold,
        s"fixture must straddle: compressed $gzLen should be under $threshold")
      assert(graft.pipeline.ValidationPipeline
          .autoChunkSerials(spark, s"$dir/*.json.gz", threshold)
          .contains(graft.pipeline.ValidationPipeline.AutoChunkSerials),
        "a gzip whose ISIZE exceeds the threshold must take the chunked branch")
      // and a PLAIN object of the same compressed size stays single-pass
      java.nio.file.Files.write(dir.resolve("small.json"),
        new Array[Byte](gzLen.toInt))
      assert(graft.pipeline.ValidationPipeline
        .autoChunkSerials(spark, s"$dir/small.json", threshold).isEmpty)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("runJson via each selector branch: identical sequential verdicts") {
    Verify.pinRouteMtimes()
    val suite = Queries.suiteOde
    // default threshold → single-pass branch
    val singleRes = graft.pipeline.ValidationPipeline
      .runJson(spark, fixPath, suite)
    // forced-giant threshold → chunked branch, same corpus
    val chunkedRes = graft.pipeline.ValidationPipeline.runJson(spark, fixPath, suite,
      chunkSerials = graft.pipeline.ValidationPipeline.autoChunkSerials(spark, fixPath, 64))
    val s = multiset(singleRes.sequential)
    val c = multiset(chunkedRes.sequential)
    assert(c == s)
    assert(s.nonEmpty)
  }
}
