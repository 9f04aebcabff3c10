package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Elasticsearch-shaped HTTP bulk-index sink (SURVEY §2.9 K1; reference
 * `bucket_event_lambda_handler.py:91-103` + `common/elasticsearch_client.py`
 * — `es_client.index(index="metadata", doc_type=bucket, body=json(doc))`).
 *
 * Spark-first restatement: instead of one `index` call per file event
 * (one Lambda per object), each micro-batch partition POSTs ONE `_bulk`
 * NDJSON body per `chunkSize` docs — the executor-side fan-out pattern.
 * Two deliberate upgrades over the reference, both needed at scale:
 *
 *  - **Deterministic doc ids** (`idCol`, e.g. the object key or ETag):
 *    the reference lets ES auto-id, so a Lambda retry double-indexes the
 *    same file's metadata. With `_id` = key, retries (Spark task retries,
 *    micro-batch replays after restart) OVERWRITE instead of duplicate —
 *    the sink is idempotent and the stream gets effectively-exactly-once
 *    delivery on top of the checkpoint's exactly-once file discovery.
 *  - **Bulk batching**: one HTTP round-trip per chunk, not per doc.
 *
 * Serialization stays on the codegen path: `to_json(struct(...))` builds
 * each doc body inside the plan; only the final string rows reach the
 * per-partition HTTP loop. A non-2xx response (or per-item bulk `errors`)
 * throws, failing the task → Spark retries → idempotent by `_id`.
 */
object ElasticsearchSink {

  /** One `_bulk` NDJSON body: action line + source line per doc. */
  private[sinks] def bulkBody(index: String, docType: String,
                              docs: Seq[(String, String)]): String =
    docs.map { case (id, doc) =>
      s"""{"index":{"_index":"$index","_type":"$docType","_id":${Http.jsonStr(id)}}}""" +
        "\n" + doc
    }.mkString("", "\n", "\n")

  /**
   * Index every row of `df` into `endpoint/_bulk` under `index`/`docType`
   * with `_id` = the row's `idCol` value. All non-id columns form the doc
   * body (the id column is also kept in the body — the reference's docs
   * carry their key field too).
   *
   * `sign` is the request-signing seam (K1: the reference's client is
   * SigV4-authed, common/elasticsearch_client.py:10-32) — install
   * [[SigV4Signer]] for AWS-fronted endpoints.
   */
  def writeBulk(df: DataFrame, endpoint: String, index: String, docType: String,
                idCol: String, chunkSize: Int = 500,
                sign: Http.HeaderProvider = Http.noHeaders): Unit = {
    val rows = df.select(
      col(idCol).cast("string").as("__id"),
      to_json(struct(df.columns.map(col).toSeq: _*)).as("__doc"))
    val url = s"${endpoint.stripSuffix("/")}/_bulk"
    rows.foreachPartition { it: Iterator[Row] =>
      it.grouped(chunkSize).foreach { chunk =>
        Http.post(url, bulkBody(index, docType,
          chunk.map(r => (r.getString(0), r.getString(1)))),
          contentType = "application/x-ndjson", sign = sign)
      }
    }
  }
}
