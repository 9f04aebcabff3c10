package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.config.SuiteLoader
import graft.model.ValidationSuite
import graft.util.Fs

/** JVM side of the ingestion benchmark: sets up, drives the program's
  * public entry points over inputs written by perfbench/gen.py, and writes
  * raw measurements plus the outputs to check as JSON. perfbench/run.py
  * builds, generates, checks and reports.
  *
  *   perfbench.Main --workload W --input DIR --work DIR --seconds S
  *                  --trace 0|1 --cpus N --suite INI --result FILE
  */
object Main {

  final case class Args(workload: String, input: String, work: String,
                        seconds: Double, trace: Boolean, cpus: Int,
                        suite: String, result: String)

  def secs(ns: Long): Double = ns / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(System.nanoTime() - t0))
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("input"), get("work"), get("seconds").toDouble,
      get("trace") == "1", get("cpus").toInt, get("suite"), get("result"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = mutable.LinkedHashMap[String, Any]("workload" -> a.workload)
    val workload: Workload = a.workload match {
      case "giant_plain" | "many_small_gz" => new Batch(a)
      case "stream_trickle" => new Stream(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var session: Option[SparkSession] = None
    try {
      HeapAfterGc.start()
      val (spark, buildS) = timed(GraftSession.local(a.cpus.toString))
      session = Some(spark)
      val (suite, loadS) = timed(SuiteLoader.fromFile(a.suite))
      val (_, warmS) = timed(workload.warmUp(spark, suite))
      out("setup") = Map("session_build_s" -> buildS, "config_load_s" -> loadS,
        "warmup_s" -> warmS, "setup_s" -> (buildS + loadS + warmS))
      out ++= workload.measure(spark, suite)
      if (a.trace) out("trace") = workload.traced(spark, suite)
      workload.finish(spark)
      out("peak_rss_mb") = vmHwmMb()
      out("heap_after_gc_peak_mb") = HeapAfterGc.peakMb
    } finally {
      workload.close()
      session.foreach(_.stop())
    }
    Files.write(Paths.get(a.result), Json.write(out).getBytes("UTF-8"))
    ()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
  }

  /** Highest heap occupancy right after a garbage collection: what the
    * program keeps, not what the collector has reserved. */
  object HeapAfterGc {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._

    private val peak = new java.util.concurrent.atomic.AtomicLong()
    def peakMb: Double = peak.get / 1048576.0

    def start(): Unit = {
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter =>
          e.addNotificationListener((n: Notification, _: AnyRef) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              peak.accumulateAndGet(used, math.max)
              ()
            }, null, null)
        case _ =>
      }
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def delete(path: String): Unit = Fs.deleteRecursively(Paths.get(path))

  def move(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [start, end] intervals, clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Bucket-relative key of an input object's file URI. */
  def objectKey(file: String): String =
    file.substring(file.indexOf("/objects/") + "/objects/".length)

  def withListeners[T](spark: SparkSession)(f: (WorkListener, PhaseListener) => T): T = {
    val work = new WorkListener
    val phases = new PhaseListener
    spark.sparkContext.addSparkListener(work)
    spark.listenerManager.register(phases)
    try f(work, phases)
    finally {
      spark.listenerManager.unregister(phases)
      spark.sparkContext.removeSparkListener(work)
    }
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.BenchBridge.drainListeners(spark.sparkContext)
}

trait Workload {
  /** The untimed warm-up pass of set-up. */
  def warmUp(spark: SparkSession, suite: ValidationSuite): Unit
  /** Untraced measurement for `--seconds`: raw timings and the outputs
    * the runner checks. */
  def measure(spark: SparkSession, suite: ValidationSuite): Map[String, Any]
  /** The separate traced run: per-layer counters. */
  def traced(spark: SparkSession, suite: ValidationSuite): Map[String, Any]
  /** Stop what the workload keeps running between runs. */
  def finish(spark: SparkSession): Unit = ()
  def close(): Unit = ()
}

/** JSON through Jackson, with Scala collections and options. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def readFile(p: java.nio.file.Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(p.toFile)
  def readTree(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
