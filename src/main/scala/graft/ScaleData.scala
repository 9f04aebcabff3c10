package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Materializes a larger scale factor from a driver testdata directory by
 * replicating every table `mult`× with CONSISTENT key shifts — the honest
 * scale-up the sf1 bench (VERDICT r9 item 1) needs:
 *
 *  - Dimensions replicate WITH the facts (custkey/suppkey/partkey shift by
 *    the same per-replica stride on both sides), so join fan-outs and
 *    group cardinalities grow like a real TPC-H scale bump instead of
 *    concentrating `mult`× more facts on the same dimension keys.
 *  - `documents` text is word-disjoint per replica (every token suffixed
 *    `_r<i>`): replica i has the SAME internal dup/near-dup structure as
 *    the original but shares no shingles across replicas, so dedup and
 *    LSH workloads scale linearly instead of quadratically exploding on
 *    `mult`-wide exact-duplicate clusters.
 *  - `embeddings` vectors cyclic-shift their dimensions per replica:
 *    norms and within-replica geometry are preserved exactly while
 *    cross-replica cosines are decorrelated, so ANN/near-dup neighbor
 *    structure also scales linearly.
 *  - `events` shift time by replica × (span + 1 day) with fresh event
 *    ids: the same user population lives `mult`× longer, which scales
 *    sessionization, windows, and state linearly without inventing users.
 *  - region/nation stay fixed (as in TPC-H).
 *
 * Shifts derive from max(key)+1 of the SOURCE (never a hard-coded stride
 * — the r9 ScaleCheck advice), so replicas can never collide.
 *
 * Usage: runMain graft.Tools scaledata <srcDir> <destDir> <mult>
 */
object ScaleData {
  def run(spark: SparkSession, src: String, dest: String, mult: Int): Unit = {
    import spark.implicits._

    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def maxPlus1(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).as[Long].first() + 1L

    val ck = maxPlus1(rd("customer"), "c_custkey")
    val sk = maxPlus1(rd("supplier"), "s_suppkey")
    val pk = maxPlus1(rd("part"), "p_partkey")
    val ok = maxPlus1(rd("orders"), "o_orderkey")
    val dk = maxPlus1(rd("documents"), "doc_id")
    val vk = maxPlus1(rd("embeddings"), "vec_id")
    val ek = maxPlus1(rd("events"), "event_id")
    // events ship either TIMESTAMP(_NTZ) or epoch-NANOS-as-long (the two
    // layouts Readers.tsToNanos absorbs); the stride arithmetic must match
    // the layout — casting a nanos long through timestamp_ltz would read
    // it as SECONDS and saturate every replica onto one instant.
    val eventsTsIsLong =
      rd("events").schema("ts").dataType == org.apache.spark.sql.types.LongType
    val (tsMin, tsMax) =
      if (eventsTsIsLong)
        rd("events").agg(min(col("ts")), max(col("ts"))).as[(Long, Long)].first()
      else
        // micros precision (not a seconds cast): replica shifts must not
        // truncate sub-second timestamps
        rd("events")
          .agg(unix_micros(min(col("ts")).cast("timestamp_ltz")),
            unix_micros(max(col("ts")).cast("timestamp_ltz")))
          .as[(Long, Long)].first()
    // +1 day gap between replicas, in the layout's own unit
    val tsStride = tsMax - tsMin +
      (if (eventsTsIsLong) 86400L * 1000000000L else 86400L * 1000000L)
    val dim = rd("embeddings").select(size(col("embedding"))).as[Int].first()

    /** `mult` copies of `df`, transformed per replica index. */
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => f(df, i)).reduce(_ unionAll _)

    def shifted(c: String, stride: Long, i: Int) = col(c) + lit(stride * i)
    /** Distinct per-replica names that PRESERVE prefixes (LIKE 'x%' still
      * selects the same fraction) — suffix only, identity for replica 0. */
    def tagged(c: String, i: Int) =
      if (i == 0) col(c) else concat(col(c), lit(s"_r$i"))

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dest/$name.parquet")
      println(s"[scaledata] wrote $name x$mult -> $dest/$name.parquet ($parts files)")
    }

    write("region", rd("region"), 1)
    write("nation", rd("nation"), 1)

    write("customer", rep(rd("customer")) { (d, i) =>
      d.withColumn("c_custkey", shifted("c_custkey", ck, i))
        .withColumn("c_name", tagged("c_name", i))
    }, 4)

    write("supplier", rep(rd("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", shifted("s_suppkey", sk, i))
        .withColumn("s_name", tagged("s_name", i))
    }, 1)

    write("part", rep(rd("part")) { (d, i) =>
      d.withColumn("p_partkey", shifted("p_partkey", pk, i))
        .withColumn("p_name", tagged("p_name", i))
    }, 2)

    write("orders", rep(rd("orders")) { (d, i) =>
      d.withColumn("o_orderkey", shifted("o_orderkey", ok, i))
        .withColumn("o_custkey", shifted("o_custkey", ck, i))
    }, 8)

    write("lineitem", rep(rd("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", shifted("l_orderkey", ok, i))
        .withColumn("l_partkey", shifted("l_partkey", pk, i))
        .withColumn("l_suppkey", shifted("l_suppkey", sk, i))
    }, 16)

    write("events", rep(rd("events")) { (d, i) =>
      val ts =
        if (i == 0) col("ts") // replica 0 is the source, bit-identical
        else if (eventsTsIsLong) col("ts") + lit(tsStride * i)
        else timestamp_micros(
          unix_micros(col("ts").cast("timestamp_ltz")) + lit(tsStride * i))
          .cast(d.schema("ts").dataType)
      d.withColumn("event_id", shifted("event_id", ek, i))
        .withColumn("ts", ts)
    }, 16)

    write("documents", rep(rd("documents")) { (d, i) =>
      val txt =
        if (i == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_r$i"))), " ")
      d.withColumn("doc_id", shifted("doc_id", dk, i))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt))
    }, 16)

    write("embeddings", rep(rd("embeddings")) { (d, i) =>
      // cyclic dimension shift by i*dim/mult PLUS a per-replica
      // deterministic sign-flip pattern: a consistent per-dimension flip
      // preserves norms and every within-replica dot product exactly,
      // while cross-replica cosines decorrelate EVEN WHEN two replicas
      // land on the same rotation (at mult > dim the shift alone
      // collides — e.g. 100 replicas over 64 dims — which would plant
      // bit-identical vector clusters and quadratic near-dup structure).
      val k = (i.toLong * dim / mult).toInt
      val rot =
        if (k == 0) col("embedding")
        else concat(
          slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      val emb =
        if (i == 0) col("embedding") // replica 0 is the source
        else transform(rot, (x, j) =>
          when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x).otherwise(negate(x)))
      d.withColumn("vec_id", shifted("vec_id", vk, i))
        .withColumn("embedding", emb)
    }, 8)
  }
}
