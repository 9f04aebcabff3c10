package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ingest.Readers
import graft.model.ValidationSuite
import graft.pipeline.{OdeSchema, ValidationPipeline}

/**
 * Structured Streaming variant of the validation pipeline (SURVEY §2.8).
 *
 * The reference is event-driven: one Lambda invocation per S3 object
 * (lambda_function.py:8-15), at-least-once, no cross-file state. The
 * Spark-native equivalent is a file-source stream: `readStream` discovers
 * new files, `foreachBatch` runs the SAME batch pipeline and sink fan-out
 * ([[ValidationPipeline.writeAll]]) over each micro-batch (all transforms
 * are per-file, so a file never spans batches), and the checkpoint gives
 * exactly-once file discovery — a strict upgrade over Lambda retries
 * double-indexing Elasticsearch. The sink threads carry the stream's job
 * group, which `query.stop()` cancels. Parquet appends are not yet
 * idempotent on a replayed `batchId`: a re-run micro-batch appends its
 * rows again.
 *
 * `Trigger.AvailableNow` processes the current backlog then stops —
 * byte-identical outputs to the batch path over the same files (asserted
 * in StreamingPipelineSpec).
 *
 * Planning happens once per query run ([[BatchPlan]]). The first
 * micro-batch builds the `Result` — validated → sequential → fileTotals →
 * errorHistogram — through the same `run(validateRecords(…))` call as
 * the batch path. Every later micro-batch re-binds that analyzed plan to
 * its own rows ([[org.apache.spark.sql.GraftBridge.rebind]]), so the rule
 * compiler, the sequential checks and the aggregates are not constructed
 * again: each batch pays one analyzer pass over the already-resolved plan,
 * then optimization and physical planning. A restart starts a new query
 * run and plans afresh on its first micro-batch, so a changed suite or
 * schema never meets a stale plan.
 *
 * Micro-batches run without adaptive query execution
 * (`spark.sql.adaptive.enabled=false`), set on the stream's own cloned
 * session and never on the caller's. A micro-batch holds a few objects:
 * AQE's query stages split its handful of tiny shuffles into separate
 * jobs (a 40-record `file_totals` write took 7 jobs), each paying job
 * set-up, with no data size for its re-planning to win back.
 */
object StreamingPipeline {

  /** Start the stream over `globPath`; outputs append under `outDir`. */
  def start(spark: SparkSession, globPath: String, suite: ValidationSuite,
            outDir: String, checkpointDir: String,
            schema: StructType = OdeSchema.record,
            trigger: Trigger = Trigger.AvailableNow(),
            extraSinks: Seq[ValidationPipeline.Result => Unit] = Nil): StreamingQuery = {
    val lines = Readers.textLines(spark.readStream.text(globPath))
    val parsed = Readers.parseNdjsonLines(lines, schema)
      // K2 operational counters (SURVEY §2.8): observe() attaches
      // aggregates to the streaming plan itself — per-micro-batch record /
      // corrupt / byte counts surface on every QueryProgressEvent with no
      // second pass over the data. This is the CloudWatch-metrics seam of
      // the reference (bucket_event_lambda_handler.py:105-198): a
      // StreamingQueryListener ([[MetricsListener]]) forwards them to any
      // metrics sink.
      .observe("graft_ingest",
        count(lit(1)).as("n_records"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(octet_length(col("value")).cast("long")).as("n_bytes"))

    val plan = new BatchPlan(suite)
    parsed.writeStream
      .queryName("graft-validation-stream")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        ValidationPipeline.writeAll(plan.bind(batch), outDir, mode = SaveMode.Append,
          extraSinks = extraSinks)
      }
      .start()
  }

  /** One query run's micro-batch plan: the first [[bind]] builds the
   *  `Result` over its batch and keeps it as the template; a later batch
   *  over the same leaf attributes gets the template re-bound to its rows.
   *  A batch whose leaf differs builds, and keeps, a new template through
   *  the same call. Used from the stream's one execution thread. */
  final class BatchPlan(suite: ValidationSuite) {
    private var template: Option[(DataFrame, ValidationPipeline.Result)] = None

    def bind(batch: DataFrame): ValidationPipeline.Result = template match {
      case Some((first, r)) if GraftBridge.rebindable(first, batch) =>
        def re(df: DataFrame) = GraftBridge.rebind(df, first, batch)
        r.copy(validated = re(r.validated), sequential = re(r.sequential),
          fileTotals = re(r.fileTotals), errorHistogram = re(r.errorHistogram))
      case _ =>
        val r = ValidationPipeline.run(ValidationPipeline.validateRecords(batch, suite), suite)
        template = Some((batch, r))
        r
    }
  }

  /** Run to completion over the current backlog (AvailableNow) — the
   *  batch-catchup mode used by tests and the harness. */
  def runAvailableNow(spark: SparkSession, globPath: String, suite: ValidationSuite,
                      outDir: String, checkpointDir: String,
                      schema: StructType = OdeSchema.record,
                      extraSinks: Seq[ValidationPipeline.Result => Unit] = Nil): Unit = {
    val q = start(spark, globPath, suite, outDir, checkpointDir, schema,
      extraSinks = extraSinks)
    q.awaitTermination()
  }

  /** One observed-metrics datum per micro-batch. */
  final case class BatchMetrics(batchId: Long, nRecords: Long, nCorrupt: Long,
                                nBytes: Long)

  /**
   * StreamingQueryListener that collects the `graft_ingest` observe()
   * counters per progress event — the operational-metrics sink seam (K2):
   * swap [[drain]]'s consumer for a CloudWatch/StatsD emitter in
   * production. Thread-safe; listener callbacks run on the streaming
   * listener bus, never on the query thread.
   */
  final class MetricsListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[BatchMetrics]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val om = e.progress.observedMetrics
      if (om.containsKey("graft_ingest")) {
        val r = om.get("graft_ingest")
        // sum() observes NULL on a zero-row micro-batch — a bare getLong
        // would NPE on the listener bus and drop exactly the anomalous
        // batch's datum
        def long(name: String): Long = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) 0L else r.getLong(i)
        }
        buf.add(BatchMetrics(e.progress.batchId,
          long("n_records"), long("n_corrupt"), long("n_bytes")))
        ()
      }
    }

    /** Snapshot and clear the collected per-batch metrics. */
    def drain(): Seq[BatchMetrics] = {
      val out = Seq.newBuilder[BatchMetrics]
      var m = buf.poll()
      while (m != null) { out += m; m = buf.poll() }
      out.result()
    }
  }
}
