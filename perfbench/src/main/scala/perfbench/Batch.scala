package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel

import graft.ingest.{Metadata, Readers}
import graft.model.ValidationSuite
import graft.pipeline.{OdeSchema, ValidationPipeline}

import Main._

/** giant_plain and many_small_gz: the batch path, `runJson` then
  * `writeAll` with the object root as `bucketRoot`, once per pass. */
final class Batch(a: Args) extends Workload {
  private val root = s"${a.input}/objects"
  private val glob = s"$root/cv/*/*/*/*/*/*"
  private var untracedWalls = Seq.empty[Double]

  private def pass(spark: SparkSession, suite: ValidationSuite, outDir: String): Unit = {
    val result = ValidationPipeline.runJson(spark, glob, suite)
    ValidationPipeline.writeAll(result, outDir, bucketRoot = Some(root), environment = "bench")
  }

  /** One pass over the workload's own input: the measured passes then run
    * with the hot paths compiled, as in a long-running service. */
  def warmUp(spark: SparkSession, suite: ValidationSuite): Unit = {
    val outDir = s"${a.work}/warmup"
    pass(spark, suite, outDir)
    delete(outDir)
  }

  /** What the pass wrote, for the runner to compare with expected.json. */
  private def observe(spark: SparkSession, outDir: String): Map[String, Any] = {
    val totals = spark.read.parquet(s"$outDir/file_totals").collect().toSeq.map { r =>
      Map("key" -> objectKey(r.getAs[String]("file")),
        "num_messages_total" -> r.getAs[Long]("num_messages_total"),
        "num_validations" -> r.getAs[Long]("num_validations"),
        "num_errors" -> r.getAs[Long]("num_errors"),
        "num_error_messages" -> r.getAs[Long]("num_error_messages"),
        "num_valid" -> r.getAs[Long]("num_valid"),
        "verdict" -> r.getAs[String]("verdict"))
    }
    val histogram = spark.read.parquet(s"$outDir/error_histogram")
      .groupBy(col("error_message")).agg(sum(col("occurrences")))
      .collect().toSeq.map(r => r.getString(0) -> r.getLong(1)).toMap
    val sequentialRows = spark.read.parquet(s"$outDir/sequential").count()
    val metadata = spark.read.parquet(s"$outDir/metadata")
      .select("key", "MessageCount", "DataProvider", "DataType").collect().toSeq.map { r =>
        Map("key" -> r.getString(0), "MessageCount" -> r.getLong(1),
          "DataProvider" -> r.getString(2), "DataType" -> r.getString(3))
      }
    Map("file_totals" -> totals, "histogram" -> histogram,
      "sequential_rows" -> sequentialRows, "metadata" -> metadata)
  }

  def measure(spark: SparkSession, suite: ValidationSuite): Map[String, Any] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val observed = mutable.ArrayBuffer.empty[Map[String, Any]]
    // passes until the window has elapsed, at least two: the first is still
    // warming, and a pass that alone outlasts the window must not make
    // the median that one pass
    while (walls.size < 2 || walls.sum < a.seconds) {
      val outDir = s"${a.work}/pass-${walls.size}"
      val (_, wall) = timed(pass(spark, suite, outDir))
      walls += wall
      observed += observe(spark, outDir)
      delete(outDir)
    }
    untracedWalls = walls.toSeq
    Map("pass_walls_s" -> walls.toSeq, "passes" -> observed.toSeq)
  }

  private val Layers = Seq("ingest", "rules", "sequential", "aggregate", "sinks")

  private final class Rung(val construct: Map[String, Double], val actionS: Double,
                           val wallS: Double, val catalystS: Double, val work: Work,
                           val unattributed: Double, val fenced: Boolean, val chunked: Boolean)

  /** Prefix rung `k` (1-based over Layers): build the path up to layer k
    * and materialize it, to the noop sink for the first four rungs and
    * through `writeAll` for the last. */
  private def rung(spark: SparkSession, suite: ValidationSuite, k: Int, rep: Int,
                   work: WorkListener, phases: PhaseListener): Rung = {
    val sc = spark.sparkContext
    val construct = mutable.LinkedHashMap.empty[String, Double]
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    def build[T](layer: String)(f: => T): T = {
      val s = System.currentTimeMillis()
      val (r, dt) = timed(f)
      construct(layer) = construct.getOrElse(layer, 0.0) + dt
      spans += ((s, System.currentTimeMillis()))
      r
    }
    val group = s"${Layers(k - 1)}#$rep"
    var fenced = false
    var chunked = false
    var actionS = 0.0
    // an action's span is not attribution: it wraps Spark jobs, Catalyst
    // phases and whatever driver work lies between them
    def act(f: => Unit): Unit = actionS += timed(f)._2
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val records = build("ingest")(Readers.ndjson(spark, glob, OdeSchema.record))
      if (k == 1) act(noop(records))
      else {
        val validated = build("rules")(ValidationPipeline.validateRecords(records, suite))
        fenced = validated.queryExecution.optimizedPlan.exists(_.nodeName.contains("Fenced"))
        val chunk = if (k < 3) None else build("sequential")(
          if (suite.sequential) ValidationPipeline.autoChunkSerials(spark, glob) else None)
        chunked = chunk.isDefined
        val result = if (k < 3) None
          else Some(build("sequential")(ValidationPipeline.run(validated, suite, chunk)))
        if (k < 5) {
          // writeAll's materialization (validated persisted and filled
          // once, every later layer reading it), with the sinks swapped
          // for noop: without the cache, pruning would let a later rung
          // skip the rule projection and cost less than the one before
          val cached = validated.persist(StorageLevel.MEMORY_AND_DISK)
          try {
            act(noop(validated))
            result.foreach { r =>
              if (k == 3) act(noop(r.sequential))
              else {
                val meta = build("aggregate")(Metadata.fileMetadata(r.validated, root, "bench"))
                act {
                  noop(r.fileTotals)
                  noop(r.errorHistogram)
                  noop(meta)
                }
              }
            }
          } finally { cached.unpersist(); () }
        } else {
          val outDir = s"${a.work}/traced-$rep"
          act(ValidationPipeline.writeAll(result.get, outDir, bucketRoot = Some(root),
            environment = "bench"))
          delete(outDir)
        }
      }
    } finally sc.clearJobGroup()
    val wallS = secs(System.nanoTime() - t0)
    val endMs = System.currentTimeMillis()
    drain(spark)
    val busy = covered(spans.toSeq ++ work.jobIntervals ++ phases.intervals, startMs, endMs)
    new Rung(construct.toMap, actionS, wallS, phases.seconds(startMs, endMs),
      work.snapshot(group), 1.0 - busy.toDouble / math.max(1L, endMs - startMs),
      fenced, chunked)
  }

  def traced(spark: SparkSession, suite: ValidationSuite): Map[String, Any] = {
    val out = ladders(spark, suite)
    // the ladders warm the JVM further: compare the traced full pass with
    // untraced passes both before and after them
    val outDir = s"${a.work}/after"
    val (_, after) = timed(pass(spark, suite, outDir))
    delete(outDir)
    val untraced = (median(untracedWalls) + after) / 2
    out + ("trace.overhead_ratio" -> out("trace.wall_s").asInstanceOf[Double] / untraced)
  }

  private def ladders(spark: SparkSession, suite: ValidationSuite): Map[String, Any] =
    withListeners(spark) { (work, phases) =>
      val ladders = mutable.ArrayBuffer.empty[Seq[Rung]]
      val t0 = System.nanoTime()
      while (ladders.isEmpty || secs(System.nanoTime() - t0) < a.seconds)
        ladders += (1 to Layers.size).map(k => rung(spark, suite, k, ladders.size, work, phases))

      def med(f: Seq[Rung] => Double): Double = median(ladders.toSeq.map(f))
      val out = mutable.LinkedHashMap.empty[String, Any]
      Layers.zipWithIndex.foreach { case (layer, i) =>
        def inc(f: Rung => Double): Double =
          med(l => f(l(i)) - (if (i == 0) 0.0 else f(l(i - 1))))
        out(s"$layer.construct_s") = med(l => l(i).construct.getOrElse(layer, 0.0))
        out(s"$layer.catalyst_s") = inc(_.catalystS)
        out(s"$layer.exec_s") = inc(_.actionS)
        out(s"$layer.jobs") = inc(_.work.jobs.toDouble)
        out(s"$layer.tasks") = inc(_.work.tasks.toDouble)
        out(s"$layer.task_cpu_s") = inc(_.work.taskCpuNs / 1e9)
        out(s"$layer.gc_s") = inc(_.work.gcMs / 1e3)
        out(s"$layer.spill_mb") = inc(_.work.spillBytes / 1048576.0)
        out(s"$layer.shuffle_write_mb") = inc(_.work.shuffleWriteBytes / 1048576.0)
      }
      out("sinks.parquet_s") = out("sinks.exec_s")
      out("rules.fenced") = if (ladders.head(1).fenced) 1 else 0
      out("sequential.chunked") = if (ladders.head(2).chunked) 1 else 0
      out("trace.wall_s") = med(_.last.wallS)
      out("trace.unattributed_share") = med(_.last.unattributed)
      out("trace.ladders") = ladders.size
      out.toMap
    }
}
