package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * CloudWatch-shaped metrics emitter (SURVEY §2.9 K2; reference
 * `bucket_event_lambda_handler.py:105-198` — one boto3 `put_metric_data`
 * call per file event). The wire shape mirrors the call's payload —
 * `{"Namespace": …, "MetricData":[{MetricName, Dimensions:[{Name,
 * Value}…], Value, Unit}…]}` — POSTed to a configurable HTTP endpoint
 * (in production, an AWS-signing proxy / agent; in tests, an in-process
 * stub).
 *
 * Input is the long-format datum DataFrame of
 * [[graft.aggregate.FileAggregates.metricDatums]] — the engine
 * PRE-AGGREGATES per (namespace, metric, dims) where the reference emits
 * one datum per file: at 100 TB, one HTTP call per input object is the
 * anti-pattern (the Lambda fleet's put-rate throttles); a map-side
 * combined groupBy collapses millions of files into a bounded datum set
 * before anything leaves the cluster. Datums batch `chunkSize` per
 * request within each namespace (PutMetricData's classic batch limit
 * is 20). Bodies are deterministic for a given input, so task retries
 * re-send identical aggregates — but CloudWatch itself is ADDITIVE, not
 * idempotent, so streaming callers must use
 * [[putMetricDataIdempotent]], which closes the at-least-once replay
 * window with a batch ledger + per-body idempotency tokens; the plain
 * [[putMetricData]] is the one-shot batch emitter.
 */
object CloudWatchSink {

  /** (namespace, datum-JSON) projection shared by both emit paths —
    * built on the codegen path; only the two strings reach the
    * per-partition HTTP loop. */
  private def datumRows(df: DataFrame): DataFrame =
    df.select(
      col("namespace").cast("string").as("__ns"),
      to_json(struct(
        col("metric_name").as("MetricName"),
        array(
          struct(col("dim1_name").as("Name"), col("dim1_value").cast("string").as("Value")),
          struct(col("dim2_name").as("Name"), col("dim2_value").cast("string").as("Value"))
        ).as("Dimensions"),
        col("value").as("Value"),
        lit("Count").as("Unit"))).as("__datum"))

  /** POST the datum rows of `df` (schema of `metricDatums`: namespace,
    * metric_name, dim1_name, dim1_value, dim2_name, dim2_value, value,
    * file_count) to `endpoint` as PutMetricData-shaped JSON. */
  def putMetricData(df: DataFrame, endpoint: String, chunkSize: Int = 20,
                    sign: Http.HeaderProvider = Http.noHeaders): Unit = {
    require(chunkSize >= 1 && chunkSize <= 20,
      s"chunkSize must be in [1, 20] (PutMetricData batch limit), got $chunkSize")
    val url = endpoint.stripSuffix("/")
    datumRows(df).foreachPartition { it: Iterator[Row] =>
      it.toSeq.groupBy(_.getString(0)).foreach { case (ns, datums) =>
        datums.grouped(chunkSize).foreach { chunk =>
          val body = s"""{"Namespace":${Http.jsonStr(ns)},"MetricData":[""" +
            chunk.map(_.getString(1)).mkString(",") + "]}"
          Http.post(url, body, sign = sign)
        }
      }
    }
  }

  /** REPLAY-IDEMPOTENT variant for streaming foreachBatch (r14 verdict
    * item 1). foreachBatch is at-least-once: a crash after the POSTs but
    * before the checkpoint commit replays the whole micro-batch, and
    * because CloudWatch datums are ADDITIVE a blind re-send
    * double-counts. Two mechanisms close the window, both keyed on the
    * caller's `batchKey` (the foreachBatch batchId — stable across
    * restarts from the same checkpoint):
    *
    *  1. **Ledger skip** — after all POSTs succeed, an atomic
    *     (temp+rename, the `ivfIndexMaintainer` posture) marker file
    *     `posted-<batchKey>` lands in `ledgerDir`; a replayed batch that
    *     finds its marker sends nothing.
    *  2. **Receiver-keyed bodies** — a crash BETWEEN the last POST and
    *     the marker rename still re-sends, so every body carries
    *     `"BatchKey":"<batchKey>/<namespace>/<chunk>"`, an idempotency
    *     token the receiving proxy/agent dedups on (last-write-wins —
    *     see [[HttpCapture.effectiveBodies]]). Chunk membership is made
    *     DETERMINISTIC (row_number over the sorted datum JSON, then
    *     sort_array within the chunk) so a replayed key always carries a
    *     byte-identical body; datums are unique per (namespace, dims) by
    *     [[graft.aggregate.FileAggregates.metricDatums]] construction,
    *     so the ordering is total.
    *
    * `ledgerDir` should live next to the stream's checkpoint (same
    * fault domain). The reference Lambda
    * (`bucket_event_lambda_handler.py:105-198`) had the same hazard —
    * per-object `put_metric_data` with SQS at-least-once delivery. */
  def putMetricDataIdempotent(df: DataFrame, batchKey: String,
                              endpoint: String, ledgerDir: String,
                              chunkSize: Int = 20,
                              sign: Http.HeaderProvider = Http.noHeaders): Unit = {
    require(chunkSize >= 1 && chunkSize <= 20,
      s"chunkSize must be in [1, 20] (PutMetricData batch limit), got $chunkSize")
    require(batchKey.nonEmpty && batchKey.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batchKey must be a filesystem/JSON-safe token, got '$batchKey'")
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(ledgerDir)
      .getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val marker = new HPath(ledgerDir, s"posted-$batchKey")
    if (fs.exists(marker)) return // fully-posted replay: emit nothing
    val url = endpoint.stripSuffix("/")
    val bk = batchKey
    val byNs = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__ns")).orderBy(col("__datum"))
    datumRows(df)
      .withColumn("__chunk",
        ((row_number().over(byNs) - 1) / chunkSize).cast("int"))
      .groupBy(col("__ns"), col("__chunk"))
      .agg(sort_array(collect_list(col("__datum"))).as("__datums"))
      .foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          val ns = r.getString(0)
          val key = s"$bk/$ns/${r.getInt(1)}"
          val body = s"""{"Namespace":${Http.jsonStr(ns)},"BatchKey":${Http.jsonStr(key)},"MetricData":[""" +
            r.getSeq[String](2).mkString(",") + "]}"
          Http.post(url, body, sign = sign)
        }
      }
    fs.mkdirs(new HPath(ledgerDir))
    val tmp = new HPath(ledgerDir, s".posted-$batchKey.tmp")
    fs.create(tmp, true).close()
    if (!fs.rename(tmp, marker)) {
      fs.delete(tmp, false)
      // rename-over-existing returns false on HDFS: losing a race to a
      // concurrent replay that already committed the same marker is fine
      if (!fs.exists(marker))
        throw new IllegalStateException(s"could not commit ledger marker $marker")
    }
  }
}
