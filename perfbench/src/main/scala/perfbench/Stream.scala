package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, regexp_extract}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.aggregate.FileAggregates
import graft.ingest.Metadata
import graft.model.ValidationSuite
import graft.pipeline.ValidationPipeline.Result
import graft.sinks.{BulkCapture, CloudWatchSink, ElasticsearchSink, HttpCapture}
import graft.streaming.StreamingPipeline

import Main._

/** stream_trickle: an open loop. One lander thread moves staged objects
  * into the watched prefix by atomic rename, on a fixed schedule that
  * does not slow when the pipeline does. `StreamingPipeline.start` runs on
  * a processing-time trigger; its extra sinks post the per-object totals
  * as ES docs to the in-process BulkCapture and CloudWatch datums to the
  * in-process HttpCapture. An object's latency runs from when it was due
  * to land until `writeBulk` returned with its doc in the capture.
  *
  * Set-up starts the query and warms it with the warm-up objects; the query
  * stays up for the measured and traced runs, so no run pays a query's
  * first micro-batches. */
final class Stream(a: Args) extends Workload {
  val TriggerMs = 500L
  /** The first object is due this long after a trigger tick. */
  val TriggerPhaseMs = 100L
  val LatencyLimitS = 30.0
  val Prefix = "cv/thea/BSM/2019/05/14"

  private val es = new BulkCapture
  private val cw = new HttpCapture
  private val expected = Json.readFile(Paths.get(a.input, "expected.json"))
  private val rate = expected.get("stream_rate_per_s").asDouble
  private val staged = expected.get("objects").size

  /** Per-run bookkeeping shared by the sink hooks and the lander. */
  private final class RunState(names: Set[String]) {
    val acked = new ConcurrentHashMap[String, java.lang.Long]()
    val esS = new ConcurrentLinkedQueue[Double]()
    val cwS = new ConcurrentLinkedQueue[Double]()
    val newPerBatch = new ConcurrentLinkedQueue[Int]()
    val httpFailures = new AtomicInteger()
    val landed = new AtomicInteger()
    val backlogMax = new AtomicInteger()
    def noteBacklog(): Unit = {
      backlogMax.accumulateAndGet(landed.get - acked.size, math.max)
      ()
    }
    def ack(now: Long): Int =
      es.docs.keys.count(id => names.contains(id) && acked.putIfAbsent(id, now) == null)
    def awaitAcks(n: Int, deadline: Long, query: StreamingQuery): Unit =
      while (acked.size < n && System.nanoTime() < deadline && query.isActive)
        Thread.sleep(20)
  }

  /** The run whose objects the sink hooks are acknowledging now. */
  @volatile private var state = new RunState(Set.empty)

  private final class Live(val query: StreamingQuery, val landing: String,
                           val progress: ConcurrentLinkedQueue[StreamingQueryProgress],
                           val listener: StreamingQueryListener, val constructS: Double)
  private var live: Option[Live] = None

  private def span[T](st: RunState, times: ConcurrentLinkedQueue[Double])(f: => T): T = {
    val (r, dt) = try timed(f) catch {
      case e: Throwable => st.httpFailures.incrementAndGet(); throw e
    }
    times.add(dt)
    r
  }

  private def hooks(bucket: String): Seq[Result => Unit] = Seq(
    res => {
      val st = state
      span(st, st.esS)(ElasticsearchSink.writeBulk(
        res.fileTotals.select(regexp_extract(col("file"), "[^/]+$", 0).as("object"),
          col("num_messages_total"), col("num_validations"), col("num_errors"),
          col("num_error_messages"), col("num_valid"), col("verdict")),
        es.endpoint, "metadata", "cv-bucket", idCol = "object"))
      st.newPerBatch.add(st.ack(System.nanoTime()))
      st.noteBacklog()
    },
    res => {
      val st = state
      span(st, st.cwS)(CloudWatchSink.putMetricData(
        FileAggregates.metricDatums(Metadata.fileMetadata(res.validated, bucket, "bench")),
        cw.endpoint))
    })

  /** Start the query and push the warm-up objects through it. */
  def warmUp(spark: SparkSession, suite: ValidationSuite): Unit = {
    val base = s"${a.work}/stream"
    val landing = s"$base/landing/$Prefix"
    Files.createDirectories(Paths.get(landing))
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
    }
    spark.streams.addListener(listener)
    val (query, constructS) = timed(StreamingPipeline.start(spark, s"$landing/*.json.gz", suite,
      s"$base/out", s"$base/ckpt", trigger = Trigger.ProcessingTime(TriggerMs),
      extraSinks = hooks(s"$base/landing")))
    live = Some(new Live(query, landing, progress, listener, constructS))
    val listing = Files.list(Paths.get(a.input, "warmup", Prefix))
    val warm = try listing.iterator().asScala.toVector.sorted finally listing.close()
    val st = new RunState(warm.map(_.getFileName.toString).toSet)
    state = st
    // one micro-batch per warm-up object: the first is the cold one, the
    // later ones run the paths a measured batch runs
    warm.zipWithIndex.foreach { case (p, i) =>
      val tmp = Paths.get(base, p.getFileName.toString)
      Files.copy(p, tmp)
      Files.move(tmp, Paths.get(landing, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
      st.awaitAcks(i + 1, System.nanoTime() + (120 * 1e9).toLong, query)
      if (query.isActive) query.processAllAvailable()
    }
    query.exception.foreach(e => throw e)
  }

  /** One open-loop run over staged objects [first, first + k). */
  private def run(spark: SparkSession, first: Int, k: Int,
                  listeners: Option[(WorkListener, PhaseListener)]): Map[String, Any] = {
    val l = live.get
    val names = (first until first + k).map(i => f"obj-$i%05d.json.gz")
    val st = new RunState(names.toSet)
    state = st
    val lastBatch = l.progress.asScala.map(_.batchId).maxOption.getOrElse(-1L)
    val esRequests0 = es.requests
    val cwBodies0 = cw.bodies.size
    val jobs0 = listeners.map(_._1.total.jobs).getOrElse(0L)
    // processing-time triggers fire on multiples of the interval of the
    // wall clock: start the schedule at a fixed phase to them, so that
    // runs differ by what the pipeline does, not by where ticks fall
    val phaseMs = Math.floorMod(TriggerPhaseMs - System.currentTimeMillis(), TriggerMs)
    Thread.sleep(phaseMs)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()

    val due = new Array[Long](k)
    val lag = new Array[Double](k)
    val stage = s"${a.input}/stage/$Prefix"
    val lander = new Thread(() => {
      names.indices.foreach { j =>
        due(j) = t0 + (j * 1e9 / rate).toLong
        var wait = due(j) - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due(j) - System.nanoTime() }
        move(s"$stage/${names(j)}", s"${l.landing}/${names(j)}")
        lag(j) = secs(System.nanoTime() - due(j))
        st.landed.incrementAndGet()
        st.noteBacklog()
      }
    }, "perfbench-lander")
    lander.start()
    lander.join()
    st.awaitAcks(k, due(k - 1) + (LatencyLimitS * 1e9).toLong, l.query)
    // let the batch in flight finish its other sinks
    if (l.query.isActive) l.query.processAllAvailable()
    val wallS = secs(System.nanoTime() - t0)
    val endMs = System.currentTimeMillis()

    val latencies = names.indices.map { j =>
      Option(st.acked.get(names(j))).map(t => secs(t - due(j)))
    }
    val docs = es.docs
    val cwTotals = cw.bodies.drop(cwBodies0).map(b => Json.readTree(b)).flatMap { b =>
      b.get("MetricData").elements().asScala
        .map(d => b.get("Namespace").asText -> d.get("Value").asDouble)
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val batches = l.progress.asScala.toSeq.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
    def durationS(p: StreamingQueryProgress, key: String): Double =
      Option(p.durationMs.get(key)).map(_.doubleValue / 1000.0).getOrElse(0.0)

    // wall-clock [start, end] ms of each micro-batch of the run
    val batchSpans = batches.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      (s, s + p.durationMs.get("triggerExecution").longValue)
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "objects" -> names,
      "batch_log" -> batches.map(p => Seq(p.numInputRows,
        durationS(p, "addBatch"), durationS(p, "triggerExecution"))),
      "latencies_s" -> latencies,
      "latency_limit_s" -> LatencyLimitS,
      "docs" -> names.map(n => docs.get(n)),
      "cw_value_sums" -> cwTotals,
      "error" -> l.query.exception.map(_.getMessage),
      "wall_s" -> wallS,
      "streaming.construct_s" -> l.constructS,
      "streaming.batches" -> batches.size,
      "streaming.objects_per_batch" -> median(st.newPerBatch.asScala.toSeq.filter(_ > 0).map(_.toDouble)),
      "streaming.query_planning_s" -> median(batches.map(durationS(_, "queryPlanning"))),
      "streaming.add_batch_s" -> median(batches.map(durationS(_, "addBatch"))),
      "streaming.backlog_objects_max" -> st.backlogMax.get,
      "streaming.generator_lag_max_s" -> lag.max,
      "sinks.es_s" -> median(st.esS.asScala.toSeq),
      "sinks.cw_s" -> median(st.cwS.asScala.toSeq),
      "sinks.es_requests" -> (es.requests - esRequests0),
      "sinks.es_docs_per_request" -> st.acked.size.toDouble / math.max(1, es.requests - esRequests0),
      "sinks.http_failures" -> st.httpFailures.get)
    listeners.foreach { case (work, phases) =>
      drain(spark)
      val nb = math.max(1, batches.size).toDouble
      out("streaming.jobs_per_batch") = (work.total.jobs - jobs0) / nb
      out("streaming.catalyst_s") = phases.seconds(startMs, endMs) / nb
      // share of micro-batch time outside Spark jobs and Catalyst phases
      val inBatches = batchSpans.map { case (s, e) => covered(Seq((s, e)), startMs, endMs) }.sum
      val busy = batchSpans.map { case (s, e) =>
        covered(work.jobIntervals ++ phases.intervals, s, e) }.sum
      out("trace.unattributed_share") = 1.0 - busy.toDouble / math.max(1L, inBatches)
    }
    out.toMap
  }

  /** Objects due in a run's `--seconds` window; the staged set covers three runs. */
  private def perRun: Int = math.max(1, math.min(staged / 3, math.ceil(a.seconds * rate - 1e-9).toInt))

  private var untracedP50 = 0.0

  private def p50(r: Map[String, Any]): Double =
    median(r("latencies_s").asInstanceOf[Seq[Option[Double]]].flatten)

  def measure(spark: SparkSession, suite: ValidationSuite): Map[String, Any] = {
    val r = run(spark, 0, perRun, None)
    untracedP50 = p50(r)
    Map("stream" -> r)
  }

  def traced(spark: SparkSession, suite: ValidationSuite): Map[String, Any] = {
    val r = withListeners(spark) { (work, phases) =>
      // micro-batches run in the query's own session clone
      val streamSession = org.apache.spark.sql.BenchBridge.streamSession(live.get.query)
      streamSession.listenerManager.register(phases)
      try run(spark, perRun, perRun, Some((work, phases)))
      finally streamSession.listenerManager.unregister(phases)
    }
    // untraced runs before and after bracket the traced one
    val after = p50(run(spark, 2 * perRun, perRun, None))
    r.filter(_._1.contains('.')) ++ Map(
      "trace.wall_s" -> r("wall_s"),
      "trace.overhead_ratio" -> p50(r) / ((untracedP50 + after) / 2),
      "trace.stream" -> r)
  }

  override def finish(spark: SparkSession): Unit = live.foreach { l =>
    l.query.stop()
    spark.streams.removeListener(l.listener)
  }

  override def close(): Unit = { es.stop(); cw.stop() }
}
