package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity

/** Distributed k-means (trainCentroids) vs an independent in-memory
  * implementation of the same algorithm — exact agreement pins the
  * (centroid_id, dim)-keyed mean-update algebra, which no DuckDB oracle
  * can reach (iterated float averages). */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vectors: Array[(Long, Array[Double])] =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble)) }
      .sortBy(_._1)

  /** Plain-Scala reference: identical seeding, cosine assignment with the
    * same (sim desc, centroid_id asc) tie-break, per-dim mean update,
    * empty cells keep their centroid. */
  private def referenceKMeans(k: Int, iters: Int,
                              data: Array[(Long, Array[Double])] = vectors): Map[Int, Array[Double]] = {
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) Double.NegativeInfinity else dot / den
    }
    var centroids: Map[Int, Array[Double]] =
      data.take(k).zipWithIndex.map { case ((_, v), i) => i -> v.clone() }.toMap
    for (_ <- 0 until iters) {
      val assigned = data.map { case (_, v) =>
        val best = centroids.toSeq
          .map { case (cid, c) => (cid, cosine(v, c)) }
          .sortBy { case (cid, sim) => (-sim, cid) }.head._1
        (best, v)
      }
      val means = assigned.groupBy(_._1).map { case (cid, vs) =>
        val dim = vs.head._2.length
        val sum = new Array[Double](dim)
        vs.foreach { case (_, v) => for (i <- 0 until dim) sum(i) += v(i) }
        cid -> sum.map(_ / vs.length)
      }
      centroids = centroids.map { case (cid, c) => cid -> means.getOrElse(cid, c) }
    }
    centroids
  }

  test("trainCentroids equals the in-memory Lloyd reference (k=8, 2 iterations)") {
    val got = Similarity.trainCentroids(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding", k = 8, iters = 2)
      .as[(Int, Array[Double])].collect().toMap
    val want = referenceKMeans(8, 2)
    assert(got.keySet == want.keySet)
    for (cid <- want.keySet) {
      val (g, w) = (got(cid), want(cid))
      assert(g.length == w.length)
      val maxDiff = g.zip(w).map { case (a, b) => math.abs(a - b) }.max
      // avg() order differs between engines: tolerance, not bit-equality
      assert(maxDiff < 1e-9, s"centroid $cid differs by $maxDiff")
    }
  }

  test("sampled trainCentroids equals in-memory Lloyd over the SAME md5 sample (256 of 500)") {
    // replicate the (md5(id), id)-ordered deterministic sample in memory
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val sample = vectors.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(256).sortBy(_._1)
    val got = Similarity.trainCentroids(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding", k = 8, iters = 2, trainSampleSize = 256)
      .as[(Int, Array[Double])].collect().toMap
    val want = referenceKMeans(8, 2, data = sample)
    assert(got.keySet == want.keySet)
    for (cid <- want.keySet) {
      val maxDiff = got(cid).zip(want(cid)).map { case (a, b) => math.abs(a - b) }.max
      assert(maxDiff < 1e-9, s"centroid $cid differs by $maxDiff")
    }
  }

  test("trained-centroid IVF beats random-coverage recall (nProbe=4 of k=8 cells)") {
    // Sampled training — the registered q_ivf_trained posture. Honesty
    // note: the earlier ">=85% at nProbe=2" pass rode on seeds 0..7
    // COINCIDING with the query vectors under full-corpus training (each
    // query sat at its own centroid). Near-uniform random embeddings are
    // the worst case for cell pruning — all cell distances look alike —
    // so the implementation is pinned on LIFT over blind nProbe/k
    // coverage, not an absolute bar this corpus cannot support:
    // measured recall 0.50/0.70/0.825 at nProbe 2/4/6 vs 0.25/0.50/0.75
    // random coverage. (PQ's sampled-training test keeps the absolute
    // >=85% bar — quantization, unlike pruning, survives uniform data.)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = pairs(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    val trained = pairs(Similarity.ivfTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding",
      Similarity.trainCentroids(e, "vec_id", "embedding", k = 8, iters = 2,
        trainSampleSize = 256),
      "centroid_id", "centroid", k = 5, nProbe = 4))
    val recall = bf.intersect(trained).size.toDouble / bf.size
    assert(recall >= 0.65, s"recall $recall (random nProbe/k coverage would be ~0.50)")
  }

  test("PQ ADC top-k holds >=85% recall vs brute force (m=16, 16 codes, 8x overfetch)") {
    // sf0.01 (500 vectors): large enough that ADC ordering is actually
    // exercised — at sf0.001 the 8x overfetch would cover most of the
    // corpus. Params match the registered q_pq_topk (replica-measured
    // recall 0.94 on this corpus; near-uniform synthetic embeddings are a
    // worst case for quantization, hence m=16 narrow subspaces).
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = pairs(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    val pq = pairs(Similarity.pqTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding",
      dims = 64, m = 16, codes = 16, iters = 3, k = 5, overfetch = 8))
    val recall = bf.intersect(pq).size.toDouble / bf.size
    assert(recall >= 0.85, s"recall $recall")
  }

  test("assignToCentroids rejects non-integral centroid ids instead of nulling them") {
    val vecs = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val cents = Seq(("a", Array(1.0, 0.0)), ("b", Array(0.0, 1.0)))
      .toDF("centroid_id", "centroid")
    def assign(c: org.apache.spark.sql.DataFrame) = Similarity.assignToCentroids(
      vecs, "vec_id", "embedding", c, "centroid_id", "centroid")
    for (bad <- Seq(cents, cents.withColumn("centroid_id", lit(1.5)))) {
      val e = intercept[IllegalArgumentException](assign(bad))
      assert(e.getMessage.contains("integral"), e.getMessage)
    }
    // integral ids keep their type and value
    val byInt = assign(cents.withColumn("centroid_id",
      when(col("centroid_id") === "a", 7).otherwise(3)))
    assert(byInt.schema("centroid_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(byInt.select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap ==
      Map(1L -> 7, 2L -> 3))
  }

  test("assignToCentroids ranks a NaN similarity first, like the window it replaced") {
    // centroid 2 has a NaN component, so every similarity to it is NaN;
    // Spark and DuckDB sort NaN above every number, so the replaced
    // row_number() over (sim desc, centroid_id) picked it. The zero
    // vector's cosine is null against the other centroids.
    import org.apache.spark.sql.expressions.Window
    val vecs = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)), (3L, Array(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val cents = Seq((1, Array(1.0, 0.0)), (2, Array(Double.NaN, 1.0)), (3, Array(0.0, 1.0)))
      .toDF("centroid_id", "centroid")
    for (metric <- Seq("cosine", "l2")) {
      val sim = metric match {
        case "cosine" => Similarity.cosine(col("embedding"), col("centroid"))
        case "l2" => -(Similarity.dot(col("embedding"), col("embedding")) -
          lit(2.0) * Similarity.dot(col("embedding"), col("centroid")) +
          Similarity.dot(col("centroid"), col("centroid")))
      }
      val window = vecs.crossJoin(cents).withColumn("sim", sim)
        .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("centroid_id"))))
        .filter(col("rk") === 1)
        .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
      val got = Similarity.assignToCentroids(vecs, "vec_id", "embedding",
          cents, "centroid_id", "centroid", metric)
        .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
      assert(window(1L) == 2 && window(2L) == 2, s"$metric: vacuous, no NaN sim won")
      assert(got == window, metric)
    }
  }

  test("semantic dedup: kept set is threshold-independent within cells; drops are justified") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val thr = 0.3
    val res = Similarity.semanticDedup(e, "vec_id", "embedding",
      centroids, "centroid_id", "centroid", thr).cache()
    val byId = res.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId.size == e.count() && byId.values.exists(!_._2), "some drops expected at 0.3")
    // all within-cell near-dup pairs, from the exact quadratic baseline
    val cells = byId.groupBy(_._2._1)
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    cells.foreach { case (_, members) =>
      val ids = members.keys.toSeq.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size) {
        val (a, b) = (ids(i), ids(j))
        if (cos(vecs(a), vecs(b)) >= thr)
          // greedy min-id rule: the LARGER id of a near-dup pair is dropped,
          // so two kept docs are never near-dups of each other
          assert(!byId(b)._2, s"pair ($a, $b) similar but $b kept")
      }
    }
    // and every dropped doc is justified by SOME smaller-id cell-mate
    byId.filter(!_._2._2).foreach { case (b, (cell, _)) =>
      val justified = byId.exists { case (a, (c2, _)) =>
        a < b && c2 == cell && cos(vecs(a), vecs(b)) >= thr
      }
      assert(justified, s"doc $b dropped without a qualifying neighbor")
    }
  }

  test("PQ with SAMPLED codebook training (256 of 500) still holds >=85% recall@5") {
    // codebooks are estimates — training on a bounded sample and encoding
    // the full corpus (the 100 TB posture) must not cost meaningful recall
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = pairs(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    val pq = pairs(Similarity.pqTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding",
      dims = 64, m = 16, codes = 16, iters = 3, k = 5, overfetch = 8,
      trainSampleSize = 256))
    val recall = bf.intersect(pq).size.toDouble / bf.size
    assert(recall >= 0.85, s"recall $recall")
  }

  test("hard negatives: top-k most-similar WRONG-label vectors, exactly") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val labels = e.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val got = Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        e.filter(col("vec_id") < 4), "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 4 * 5)
    // every mined negative has a different label from its anchor
    got.foreach { case (a, n, _) =>
      assert(labels(n) != labels(a), s"anchor $a negative $n share label")
    }
    // exact agreement with an in-memory wrong-label brute force
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vectors.toMap
    (0L until 4L).foreach { a =>
      val exp = vectors.filter { case (id, _) => id != a && labels(id) != labels(a) }
        .map { case (id, v) => (id, cos(byId(a), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
      val g = got.filter(_._1 == a).sortBy(_._3).map(_._2).toSeq
      assert(g == exp, s"anchor $a: $g != $exp")
    }
  }

  test("pcaTopComponent recovers a planted dominant axis") {
    // variance concentrated on dim 1 (scale 10) with noise on dim 0:
    // the top component must align with dim 1 and own most variance
    val rows = (0 until 100).map { i =>
      val t = (i - 50).toDouble
      (i.toLong, Array(0.01f * (i % 7), (10.0 * t / 50.0).toFloat, 0.0f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pcaTopComponent(df, "vec_id", "embedding", iters = 3)
      .collect().map(r => r.getInt(0) -> r).toMap
    val loading1 = math.abs(out(1).getDouble(1))
    assert(loading1 > 0.99, s"dominant-axis loading $loading1")
    assert(out(1).getDouble(3) > 0.95, "top component should own >95% variance")
    // unit norm
    val norm = out.values.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm - 1.0) < 1e-6)
  }

  test("knnClassify: majority label of the k nearest wins, ties break low") {
    // two tight clusters on orthogonal axes; queries sit inside each
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 0), (11L, Array(0.9f, 0.1f), 0),
      (12L, Array(0.8f, 0.05f), 0),
      (20L, Array(0.0f, 1.0f), 1), (21L, Array(0.1f, 0.9f), 1),
      (22L, Array(0.05f, 0.8f), 1)).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Array(1.0f, 0.05f)), (2L, Array(0.05f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnClassify(corpus, "vec_id", "embedding", "label",
      queries, "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(1L) == ((0, 3L)) && got(2L) == ((1, 3L)))
    // k spanning both clusters: 3 votes each at k=6 -> tie breaks to label 0
    val tied = Similarity.knnClassify(corpus, "vec_id", "embedding", "label",
      queries.filter(col("vec_id") === 1L), "vec_id", "embedding", k = 6)
      .collect()(0)
    assert(tied.getInt(1) == 0 && tied.getLong(2) == 3L)
  }

  test("md5LshSizing: (4,2) at every gate SF, sharpens past them") {
    // the gate contract the static DuckDB literal family depends on
    assert(Similarity.md5LshSizing(500L) == ((4, 2)))   // sf0.001 / sf0.01
    assert(Similarity.md5LshSizing(2000L) == ((4, 2)))  // sf0.1
    // the scale ladder gets a sharper family (this was the r11 sf10 red row)
    assert(Similarity.md5LshSizing(20000L) == ((8, 2)))    // sf1
    assert(Similarity.md5LshSizing(200000L) == ((11, 4)))  // sf10
    assert(Similarity.md5LshSizing(2000000L) == ((14, 4))) // sf100: tables capped
    // planes are monotone in n: expected bucket occupancy stays ~2^7
    val sizes = Seq(1L, 500L, 2000L, 20000L, 200000L, 2000000L)
      .map(n => Similarity.md5LshSizing(n)._1)
    assert(sizes == sizes.sorted)
  }

  test("streaming IVF maintenance: appended micro-batch assignments equal the batch encode") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val trained = Similarity.trainCentroids(e, "vec_id", "embedding",
      k = 4, iters = 1, trainSampleSize = 64)
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)

    val root = java.nio.file.Files.createTempDirectory("graft-ivf-stream")
    val chunkDir = s"$root/chunks"
    val assignDir = s"$root/assign"
    // 3 parquet files -> 3 micro-batches under maxFilesPerTrigger=1
    e.repartition(3).write.parquet(chunkDir)

    val q = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(chunkDir)
      .writeStream
      .foreachBatch(Similarity.ivfIndexMaintainer(cents, "vec_id", "embedding", assignDir))
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // ADVICE r12: foreachBatch is at-least-once — a restart between sink
    // commit and checkpoint advance REPLAYS the micro-batch. Replaying
    // batch 0 by hand must overwrite its own batch_id partition, never
    // duplicate assignment rows (duplicates would occupy top-k slots in
    // ivfSearchAssigned and break the stream ≡ batch claim below).
    val b0 = spark.read.parquet(s"$assignDir/batch_id=0")
      .select("vec_id", "embedding")
    val replay = spark.createDataFrame(
      java.util.Arrays.asList(b0.collect(): _*), b0.schema)
    Similarity.ivfIndexMaintainer(cents, "vec_id", "embedding", assignDir)(replay, 0L)

    val got = spark.read.parquet(assignDir)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = Similarity.assignToCentroids(e, "vec_id", "embedding",
        cents, "centroid_id", "centroid")
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == 500 && got == expected,
      "chunked streaming maintenance must converge to the batch encode")
  }

  test("retrain-and-swap: versions advance, pointer is atomic, old versions survive") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-swap").toString
    try {
      assert(Similarity.ivfCurrentVersion(spark, idx) == 0L, "fresh dir = no index")
      intercept[IllegalArgumentException] {
        Similarity.ivfLoadCurrent(spark, idx)
      }

      val base = e.filter(col("vec_id") % 4 =!= 0)
      val v1 = Similarity.ivfRetrainAndSwap(base, "vec_id", "embedding",
        idx, k = 4, iters = 1, trainSampleSize = 64)
      assert(v1 == 1L)
      val (c1, a1, s1) = Similarity.ivfLoadCurrent(spark, idx)
      assert(s1 == 1L && c1.count() == 4 && a1.count() == base.count())

      // swap: retrain over the grown corpus publishes v2 — and the
      // loaded index must be EXACTLY the fresh train+encode over it
      val v2 = Similarity.ivfRetrainAndSwap(e, "vec_id", "embedding",
        idx, k = 4, iters = 1, trainSampleSize = 64)
      assert(v2 == 2L)
      val (c2, a2, s2) = Similarity.ivfLoadCurrent(spark, idx)
      assert(s2 == 2L)
      val trained = Similarity.trainCentroids(e, "vec_id", "embedding",
        k = 4, iters = 1, trainSampleSize = 64)
      val cents = spark.createDataFrame(
        java.util.Arrays.asList(trained.collect(): _*), trained.schema)
      val expect = Similarity.assignToCentroids(e, "vec_id", "embedding",
          cents, "centroid_id", "centroid")
        .select("vec_id", "centroid_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = a2.select("vec_id", "centroid_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expect, "served index must equal the retrained encode")

      // v1 stays readable for in-flight readers / rollback
      assert(spark.read.parquet(s"$idx/v1/assign").count() == base.count())
      // the pointer is ONE file whose content names a fully-written dir —
      // no partial state is ever addressable through it
      val ptr = java.nio.file.Paths.get(idx, "CURRENT")
      assert(new String(java.nio.file.Files.readAllBytes(ptr)).trim == "2")

      // r14 ADVICE: a reader landing in the delete+rename pointer gap
      // must NOT throw "no published index" — it falls back to the
      // highest COMPLETE version dir (old-or-new, never absent)
      java.nio.file.Files.delete(ptr)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(idx, ".CURRENT.crc"))
      val (_, aGap, sGap) = Similarity.ivfLoadCurrent(spark, idx)
      assert(sGap == 2L, "pointer-gap fallback must resolve the newest complete version")
      assert(aGap.count() == e.count())
      // ...but a HALF-WRITTEN newer version (no assign/_SUCCESS yet) is
      // never served through the fallback
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(idx, "v3", "centroids"))
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(idx, "v3", "centroids", "_SUCCESS"))
      assert(Similarity.ivfCurrentVersion(spark, idx) == 2L,
        "an incomplete v3 must be invisible to readers")

      // r14 ADVICE: concurrent publishes cannot collide on a version —
      // the claim marker makes v-number ownership atomic. v3 is claimed
      // (simulating an in-flight writer), so a new retrain takes v4.
      java.nio.file.Files.createFile(java.nio.file.Paths.get(idx, "v3", ".claimed"))
      val v4 = Similarity.ivfRetrainAndSwap(e, "vec_id", "embedding",
        idx, k = 4, iters = 1, trainSampleSize = 64)
      assert(v4 == 4L, s"a claimed v3 must push the next writer to v4, got v$v4")
      assert(Similarity.ivfLoadCurrent(spark, idx)._3 == 4L)
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(idx))
  }

  test("int8 quantization error is bounded by half a grid step") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ranges = e.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim").agg((max(col("v").cast("double")) - min(col("v").cast("double"))).as("r"))
      .agg(max(col("r"))).head().getDouble(0)
    val bound = ranges / 255.0 / 2.0 + 1e-9
    val bad = Similarity.int8QuantizationError(e, "vec_id", "embedding")
      .filter(col("max_abs_err") > bound).count()
    assert(bad == 0, s"some vector exceeds the half-step bound $bound")
  }
}
