package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark work done under one job group. */
final case class Work(jobs: Long = 0, tasks: Long = 0, taskCpuNs: Long = 0,
                      gcMs: Long = 0, spillBytes: Long = 0,
                      shuffleWriteBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    taskCpuNs + o.taskCpuNs, gcMs + o.gcMs, spillBytes + o.spillBytes,
    shuffleWriteBytes + o.shuffleWriteBytes)
}

/** Attributes jobs and tasks to the job group that was set when the job
  * started (the benchmark sets one group per layer around each call). */
final class WorkListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val work = mutable.Map.empty[String, Work]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  private def add(group: String, w: Work): Unit = synchronized {
    work(group) = work.getOrElse(group, Work()) + w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, e.time)
    add(g, Work(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) synchronized { jobSpans += ((s.longValue, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    val m = e.taskMetrics
    if (m == null) add(g, Work(tasks = 1))
    else add(g, Work(tasks = 1, taskCpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime, spillBytes = m.diskBytesSpilled,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten))
  }

  def snapshot(group: String): Work = synchronized(work.getOrElse(group, Work()))
  def total: Work = synchronized(work.values.foldLeft(Work())(_ + _))
  /** Wall-clock [start, end] ms of every finished job. */
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobSpans.toVector)
}

/** Catalyst phase durations (analysis, optimization, planning) of every
  * executed query, keyed by the wall-clock start of each phase so that a
  * phase can be attributed to the benchmark span it ran in. */
final class PhaseListener extends QueryExecutionListener {
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.durationMs)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Wall-clock [start, end] ms of every recorded phase. */
  def intervals: Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    phases.asScala.map { case (s, d) => (s, s + d) }.toVector
  }

  /** Seconds of Catalyst phases that started inside [fromMs, toMs]. */
  def seconds(fromMs: Long, toMs: Long): Double = {
    import scala.jdk.CollectionConverters._
    phases.asScala.collect { case (s, d) if s >= fromMs && s <= toMs => d }.sum / 1000.0
  }
}
