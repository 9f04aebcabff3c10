package graft.ingest

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * File-level metadata document assembly (SURVEY §2.2 P1-P6 + §2.9 K1;
 * reference bucket_event_lambda_handler.py:41-89 and
 * cvp_bucket_event_lambda_handler.py:66-108).
 *
 * The reference head-objects each S3 file and builds a flat JSON doc
 * indexed into Elasticsearch. Spark-first restatement: the hidden
 * `_metadata` file-source columns replace the head-object call, the doc is
 * a per-file aggregate row (MessageCount = A1 count), and the sink is a
 * Parquet write. One shuffle on the file key, shared with A1-A4.
 */
object Metadata {

  /** Bucket-relative key from input_file_name()'s absolute URI. */
  def keyColumn(file: Column, bucketRoot: String): Column =
    regexp_replace(file, "^(file:/*)?/?" + Pattern.quote(bucketRoot.stripPrefix("/")) + "/", "")

  /**
   * Per-file metadata documents from a record-level DataFrame carrying
   * `file`, `file_size`, `file_modification_time` (e.g. [[Readers.lines]]).
   *
   * Emits the reference doc fields: key, ContentLength, SizeMiB (P4),
   * LastModified ISO-8601 (P5), ContentType/ETag stand-ins (no head-object
   * in a file source; ETag = md5(key) is deterministic), Dataset (P1),
   * Environment (P6), TrafficType/TableName/State (P2), DataProvider/
   * DataType (P3), MessageCount (A1).
   */
  def fileMetadata(records: DataFrame, bucketRoot: String, environment: String): DataFrame = {
    val perFile = records
      .groupBy(col("file"), col("file_size"), col("file_modification_time"))
      .agg(count(lit(1)).as("MessageCount"))
    val key = keyColumn(col("file"), bucketRoot)
    val base = perFile.select(
      Seq(
        key.as("key"),
        col("file_size").as("ContentLength"),
        (col("file_size").cast("double") / lit(1024.0 * 1024.0)).as("SizeMiB"), // P4 (:45)
        // 'xxx' renders UTC as '+00:00' like datetime.isoformat()
        // ('XXX' would print 'Z', which the reference never emits)
        date_format(col("file_modification_time"), "yyyy-MM-dd'T'HH:mm:ssxxx")
          .as("LastModified"), // P5 (:46)
        lit("application/octet-stream").as("ContentType"),
        md5(key).as("ETag"),
        lit(environment).as("Environment"), // P6 (:50)
        col("MessageCount")) ++
        Readers.pathMetadata(key).map { case (n, c) => c.as(n) }: _*)
    base
  }
}
