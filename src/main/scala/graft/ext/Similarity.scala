package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/**
 * Similarity search over embedding columns (array<float>), SURVEY §7.1
 * step 9.
 *
 * Scale design: the baseline brute-force top-k broadcasts the (small)
 * query set — the corpus never shuffles; per-partition dot products feed a
 * per-query TopK (Spark plans TakeOrderedAndProject under the window+limit
 * shape). The scale path buckets the corpus by random-hyperplane LSH so
 * each query probes only matching buckets — candidate generation is a
 * bucket equi-join, not a cross product.
 *
 * All vector math is DOUBLE precision via the native codegen'd
 * expressions in [[graft.functions.VectorMath]] — one tight generated
 * loop per row instead of per-element interpreted higher-order-function
 * lambdas (measured 3–25× on this repo's folds). The previous zip_with +
 * aggregate formulations are kept in [[Similarity.hofDot]] /
 * [[Similarity.hofCosine]] as the independent cross-check the spec
 * compares against.
 */
object Similarity {

  /** Dot product of two array<numeric> columns, in double (native
   *  codegen'd expression). */
  def dot(a: Column, b: Column): Column = GraftFunctions.graftDot(a, b)

  /** Bounded deterministic training sample: the `n` rows with the lowest
   *  (md5(id), id). Reproducible without RNG state (the q_stratified_sample
   *  mechanism), and the selection plans as a per-partition top-N heap
   *  (TakeOrderedAndProject — pinned in PlanSpec), never a global sort. */
  def trainingSample(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(n)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine similarity; null when either norm is 0
   *  (matching Divide-by-zero semantics of the HOF formulation). */
  def cosine(a: Column, b: Column): Column = GraftFunctions.graftCosine(a, b)

  /** Reference HOF dot product — interpreted, for cross-checking [[dot]]. */
  private[graft] def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Reference HOF cosine — interpreted, for cross-checking [[cosine]]. */
  private[graft] def hofCosine(a: Column, b: Column): Column =
    hofDot(a, b) / (sqrt(hofDot(a, a)) * sqrt(hofDot(b, b)))

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest corpus
   * vectors. `queries` must be small (it is broadcast).
   * Returns (query_id, neighbor_id, rank) — rank 1 = most similar.
   */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    val joined = corpus.crossJoin(
      broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))))
      .filter(if (excludeSelf) col("query_id") =!= col(corpusId) else lit(true))
      .select(col("query_id"), col(corpusId).as("neighbor_id"),
        cosine(col(corpusVec), col("__qv")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /**
   * k-NN label vote — the embedding-space classifier a pipeline uses to
   * propagate labels from a seeded set onto unlabeled data (and to sanity-
   * check an embedding: if k-NN can't recover held-out labels, the space
   * is junk). For each query, the k cosine-nearest LABELED corpus vectors
   * vote; majority wins, ties break on (votes DESC, label ASC) —
   * deterministic. Returns (query_id, pred_label, votes).
   *
   * Scale shape: one corpus scan against the broadcast query set (same
   * as [[bruteForceTopK]]); the vote join broadcasts the (queries × k)
   * neighbor frame against the corpus label projection, so the corpus
   * never shuffles.
   */
  def knnClassify(corpus: DataFrame, corpusId: String, corpusVec: String,
                  labelCol: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  k: Int): DataFrame = {
    val neighbors = bruteForceTopK(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k)
    val labels = corpus.select(col(corpusId).as("neighbor_id"),
      col(labelCol).as("__lbl"))
    val votes = labels.join(broadcast(neighbors), "neighbor_id")
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__lbl"))
    votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__lbl").as("pred_label"), col("votes"))
  }

  /**
   * Hard-negative mining for contrastive training: for each anchor, the
   * k most cosine-similar corpus vectors whose LABEL DIFFERS from the
   * anchor's — the near-miss negatives that make embedding models learn
   * (easy random negatives carry almost no gradient). Anchors must be
   * small (broadcast). Returns (anchor_id, negative_id, rank), rank 1 =
   * hardest (most similar wrong-label) negative.
   *
   * Scale shape: same as [[bruteForceTopK]] — corpus scanned once against
   * a broadcast anchor set, per-anchor top-k via rank window over the
   * anchor-keyed slice. For corpus-sized anchor sets, mine per batch of
   * anchors (the standard epoch-wise pattern) or swap the candidate pass
   * to [[lshTopK]]'s bucketed join and filter labels post-hoc.
   */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    labelCol: String, anchors: DataFrame, anchorId: String,
                    anchorVec: String, k: Int): DataFrame = {
    val joined = corpus.crossJoin(
      broadcast(anchors.select(col(anchorId).as("anchor_id"), col(anchorVec).as("__av"),
        col(labelCol).as("__alabel"))))
      .filter(col("anchor_id") =!= col(corpusId) && col(labelCol) =!= col("__alabel"))
      .select(col("anchor_id"), col(corpusId).as("negative_id"),
        cosine(col(corpusVec), col("__av")).as("sim"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("negative_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("negative_id"), col("rank"))
  }

  /** Random-hyperplane LSH signature: `planes` sign bits packed in a long.
   *  Native codegen'd expression — plane components derive from splitmix64
   *  of (seed, plane, dim), integer mixing only, where the previous Column
   *  formulation hashed a string per (element × plane × row). Deterministic
   *  across runs; bucket assignments are an internal detail of the
   *  LSH queries (all rows-only checked — no value oracle pins the family). */
  def hyperplaneSignature(vec: Column, planes: Int = 16, seed: Long = 0L): Column =
    GraftFunctions.graftHyperplane(vec, planes, seed)

  /**
   * LSH-bucketed ANN top-k (the 100 TB path): corpus and queries hash to
   * hyperplane-sign buckets in `tables` independent hash tables (distinct
   * seeds — OR amplification); each query joins its bucket plus every
   * bucket within Hamming distance `probeBits` of it (multi-probe), then
   * exact cosine reranks the union of candidates. Falls back to
   * fewer-than-k results when no probed bucket holds k candidates —
   * standard ANN recall/latency trade.
   *
   * Tuning for scale: per-neighbor recall is 1 − (1 − q_p)^tables where
   * q_p = P(neighbor lands in a probed bucket of one table) — for
   * per-plane agreement p = 1 − θ/π,
   * q_p = Σ_{r=0..probeBits} C(planes, r)·p^(planes−r)·(1−p)^r
   * (the neighbor's signature may differ from the query's in up to
   * probeBits planes and still be probed). Raising probeBits is the
   * cheap recall knob — it multiplies probed buckets without re-hashing
   * or another table. Candidate volume per table scales n / 2^planes per
   * bucket, so `planes` should grow ~log₂(n) as the corpus grows, with
   * `tables` re-raised to hold recall — both knobs are corpus-size
   * independent in the shuffle key (table, bucket). DedupRecallSpec pins
   * the delivered recall against [[bruteForceTopK]] on the test corpus.
   */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, planes: Int = 12, probeBits: Int = 1,
              tables: Int = 1): DataFrame = {
    require(probeBits >= 0 && probeBits < planes,
      s"probeBits must be in [0, planes), got $probeBits")
    val corpusSigs = (0 until tables).map(t =>
      struct(lit(t).as("t"),
        hyperplaneSignature(col(corpusVec), planes, seed = t.toLong).as("b")))
    val corpusSig = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("__cv"), explode(array(corpusSigs: _*)).as("bucket"))

    // per table: the original bucket plus every bucket within Hamming
    // distance <= probeBits — XOR masks with 1..probeBits set bits,
    // enumerated at PLAN BUILD time (planes and probeBits are literals,
    // so the probe set is Σ C(planes, r) static columns, not a runtime
    // blow-up). Multi-bit probing is the standard recall/latency knob:
    // each extra bit multiplies probed buckets by ~planes/r but raises
    // q_p by C(planes, r)·p^(planes−r)·(1−p)^r per table.
    val probeMasks: Seq[Long] =
      (1 to probeBits).flatMap(r =>
        (0 until planes).combinations(r).map(
          _.foldLeft(0L)((m, b) => m | (1L << b))))
    val probes: Column = {
      val perTable = (0 until tables).flatMap { t =>
        val base = hyperplaneSignature(col(queryVec), planes, seed = t.toLong)
        val bs = base +: probeMasks.map(m => base.bitwiseXOR(lit(m)))
        bs.map(b => struct(lit(t).as("t"), b.as("b")))
      }
      array(perTable: _*)
    }
    val querySig = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("__qv"), explode(probes).as("bucket"))

    val candidates = corpusSig.join(broadcast(querySig), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__cv"), col("__qv")).as("sim"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("sim")).as("sim"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  // ------------------------------------------------------------------
  // md5-derived hyperplane family (oracle mode)
  // ------------------------------------------------------------------

  /** First 8 hex chars of md5("t:p:d") as an unsigned 32-bit value — the
   *  seed material for one plane component of the ORACLE-CHECKABLE
   *  hyperplane family. Computed driver-side once per (table, plane, dim)
   *  and embedded as a literal in BOTH the Spark plan and the DuckDB
   *  oracle SQL, so the two engines share the family by construction
   *  instead of having to agree on a hash implementation. */
  private[graft] def md5PlaneWeightBits(t: Int, p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$t:$p:$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Plane component in [-1, 1): u / 2^31 − 1 — both engines compute the
   *  identical double (u is exact in a double; one division, one
   *  subtraction, same IEEE ops). */
  private[graft] def md5PlaneWeight(t: Int, p: Int, d: Int): Double =
    md5PlaneWeightBits(t, p, d).toDouble / 2147483648.0 - 1.0

  /** Auto-sizing for the md5 hyperplane family: (planes, tables) as a
   *  pure function of corpus size n, so the candidate-join cost stays
   *  near-linear as the corpus grows instead of saturating a fixed
   *  2^planes bucket space (the r11 sf10 red row: 4 planes over 200k
   *  vectors ⇒ 16 buckets/table ⇒ quadratic candidates).
   *
   *  planes = max(4, ⌈log₂n⌉ − 7) keeps expected bucket occupancy near
   *  2^7 = 128 vectors, so candidates ≈ 64·n·tables cosine checks;
   *  tables = min(4, max(2, planes − 7)) adds OR-amplification back as
   *  planes sharpen (per-table recall falls geometrically in planes),
   *  CAPPED at 4: the r12 sf100 probe (n = 2M) measured the uncapped
   *  linear-in-log₂n table growth compounding into ~2.4× a linear
   *  budget — with the cap, total work is a clean O(n) · small-constant
   *  at every decade. Past the cap the TWIN's amplified recall decays
   *  with n; that is acceptable for this query because it is the
   *  oracle-mode MECHANISM instrument — the production near-dup path
   *  (q_embed_neardup_lsh) carries its own family sizing and ≥90%
   *  recall gate.
   *
   *  ORACLE CONTRACT: the DuckDB twin embeds the md5 literal family for
   *  the sizing at the GATE scale factors — sizing(500) = sizing(2000)
   *  = (4, 2) (embeddings at sf0.001/0.01 and sf0.1) — asserted at
   *  registry build in [[graft.queries.EmbeddingMultimodalQueries]], so
   *  a formula change that moves the gate sizing fails loudly there
   *  instead of as a silent hash mismatch. */
  private[graft] def md5LshSizing(n: Long): (Int, Int) = {
    val ceilLog2 = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val planes = math.max(4, ceilLog2 - 7)
    (planes, math.min(4, math.max(2, planes - 7)))
  }

  /** Hyperplane signature under the md5 family, as a `planes`-char
   *  '0'/'1' string. Each plane's dot product is the native codegen'd
   *  [[graft.functions.DotProduct]] loop against a LITERAL weight array —
   *  it accumulates left-to-right in index order, the same IEEE op
   *  sequence as the DuckDB oracle's left-associative `a + b + c` chain
   *  (Catalyst does not reassociate floating-point adds), so the sign
   *  (the bucket bit) matches the oracle bit-for-bit. A literal-unrolled
   *  multiply-add chain would be value-identical but generates one
   *  unsplittable planes×dims expression per signature — too large for
   *  Janino at 64 dims (method-size limit), where the loop stays tiny. */
  private[graft] def md5HyperplaneSig(vec: Column, dims: Int, planes: Int, t: Int): Column =
    concat((0 until planes).map { p =>
      val weights = (0 until dims).map(d => md5PlaneWeight(t, p, d)).toArray
      when(GraftFunctions.graftDot(vec, typedlit(weights)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }: _*)

  /** [[embeddingNearDuplicatesLSH]] under the md5 hyperplane family —
   *  string buckets, same OR-amplified multi-table shape and the same
   *  (table, bucket) shuffle key; exists so the LSH *mechanism* (bucketing
   *  → candidate join → exact-cosine verify → distinct) has a value-level
   *  DuckDB oracle, not just a recall gate. */
  def embeddingNearDuplicatesLSHMd5(df: DataFrame, idCol: String, vecCol: String,
                                    threshold: Double, dims: Int,
                                    planes: Int = 4, tables: Int = 2): DataFrame = {
    val sigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), md5HyperplaneSig(col(vecCol), dims, planes, t).as("b")))
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      explode(array(sigs: _*)).as("bucket"))
    val l = sig.select(col("bucket"), col("id").as("id_a"), col("__v").as("__va"))
    val r = sig.select(col("bucket"), col("id").as("id_b"), col("__v").as("__vb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("__va"), col("__vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** [[lshTopK]] under the md5 hyperplane family (single-bit probing) —
   *  the oracle-checkable twin of the ANN scale path: per-table string
   *  buckets, base + one-char-flip probes, exact-cosine rerank. */
  def lshTopKMd5(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, dims: Int, planes: Int = 4, tables: Int = 2): DataFrame = {
    val corpusSigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), md5HyperplaneSig(col(corpusVec), dims, planes, t).as("b")))
    val corpusSig = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("__cv"), explode(array(corpusSigs: _*)).as("bucket"))

    // two-step probe build: FIRST materialize the per-table signature as
    // a projected column, THEN derive the char-flip probes from that
    // column. Building flips directly on the signature expression would
    // duplicate the whole planes×dims multiply-add tree into every probe
    // (3 substring references each) — measured 17 s → ~1 s at sf0.1.
    // The Generate (explode) between the projections blocks
    // CollapseProject from re-inlining the tree.
    val baseSigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), md5HyperplaneSig(col(queryVec), dims, planes, t).as("b")))
    val qBase = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("__qv"), explode(array(baseSigs: _*)).as("bb"))
      .select(col("query_id"), col("__qv"),
        col("bb.t").as("t"), col("bb.b").as("b0"))
    val flips = (0 until planes).map { p =>
      val flipped = when(substring(col("b0"), p + 1, 1) === "1", lit("0")).otherwise(lit("1"))
      concat(substring(col("b0"), 1, p), flipped, substring(col("b0"), p + 2, planes))
    }
    val querySig = qBase.select(col("query_id"), col("__qv"), col("t"),
      explode(array(col("b0") +: flips: _*)).as("b"))
      .select(col("query_id"), col("__qv"), struct(col("t"), col("b")).as("bucket"))

    val candidates = corpusSig.join(broadcast(querySig), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__cv"), col("__qv")).as("sim"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("sim")).as("sim"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs, exact: all (a, b) with
   *  cosine ≥ threshold, id_a < id_b. Quadratic by construction — the
   *  correctness baseline for [[embeddingNearDuplicatesLSH]]; guard with
   *  a broadcast of the smaller side when used on real corpora. */
  def embeddingNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("__va"), col("__vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding-cosine near-dup at scale: OR-amplified multi-table
   *  hyperplane LSH. Each of `tables` independent hash tables (distinct
   *  seeds) buckets on `planes` sign bits; a pair is a candidate if it
   *  collides in ANY table — P(found) = 1 − (1 − p^planes)^tables for
   *  per-plane agreement p = 1 − θ/π. Exact cosine verifies candidates.
   *  The shuffle key is (table, bucket): never a cross product.
   *
   *  `planes ≤ 0` means AUTO: planes = max(4, ⌊log₂(n/64)⌋), holding
   *  expected bucket occupancy ≈ 64 as the corpus grows — with planes
   *  FIXED, buckets fill linearly and candidate volume is quadratic
   *  (the 10× bench caught exactly that: 92× wall-clock at 10× data).
   *  The recall law above then says what scaling costs: per-pair catch
   *  probability falls as p^planes, so a HIGH-similarity bar (p → 1,
   *  the true LSH regime) keeps recall through the growth, while a
   *  low bar (e.g. cos 0.3, p ≈ 0.6) trades recall for the bound —
   *  at low thresholds the designed 100 TB path is cell-blocked pair
   *  generation with k ∝ n ([[semanticDedup]] / SemDeDup), not LSH.
   *
   *  AUTO mode costs one extra ACTION: `df.count()` fully materializes
   *  the input frame before the LSH job — cheap on a raw scan, but a
   *  hidden double computation when `df` is a derived/widened frame.
   *  Callers who already know the corpus size (or can count a cheaper
   *  upstream frame) should pass `nHint > 0`, which AUTO uses instead
   *  of counting. */
  def embeddingNearDuplicatesLSH(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, planes: Int = 6,
                                 tables: Int = 8, nHint: Long = -1L): DataFrame = {
    val planesEff =
      if (planes > 0) planes
      else {
        val n = if (nHint > 0) nHint else df.count()
        math.max(4, (math.log(n / 64.0) / math.log(2.0)).toInt)
      }
    val sigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), hyperplaneSignature(col(vecCol), planesEff, seed = t.toLong).as("b")))
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      explode(array(sigs: _*)).as("bucket"))
    val l = sig.select(col("bucket"), col("id").as("id_a"), col("__v").as("__va"))
    val r = sig.select(col("bucket"), col("id").as("id_b"), col("__v").as("__vb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("__va"), col("__vb")).as("cos_sim"))
      // threshold BEFORE distinct: the cut drops most candidates, so the
      // dedup shuffle only carries survivors
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /**
   * Semantic deduplication (after SemDeDup, Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding space with k-means, then
   * drop near-duplicates WITHIN each cluster — the cluster assignment
   * turns the quadratic all-pairs cosine into per-cell pair generation,
   * which is the paper's entire scaling argument. Keep rule here is
   * greedy min-id: a vector is dropped iff some LOWER-id vector in its
   * cell is within `threshold` cosine (deterministic, one anti-join;
   * contrast [[graft.ext.Dedup.nearDupSurvivors]]'s connected-components
   * semantics when chain-merging matters).
   *
   * Scale shape: centroids are broadcast (assignment never shuffles the
   * corpus); the pair join keys on centroid_id, so its cost is
   * Σ_cells |cell|² — k must grow with the corpus to keep cells bounded
   * (the paper runs k ≈ n/10⁴; training stays sample-bounded via
   * [[trainCentroids]]' `trainSampleSize`).
   *
   * Returns one row per vector: (id, centroid_id, is_kept).
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, centroidId: String, centroidVec: String,
                    threshold: Double): DataFrame = {
    val assigned = assignToCentroids(df, idCol, vecCol,
      centroids, centroidId, centroidVec)
    val a = assigned.select(col("centroid_id"),
      col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = assigned.select(col("centroid_id"),
      col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b") &&
        cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        col("__dropped").isNull.as("is_kept"))
  }

  /** Similarity under the named metric, shaped so that LARGER is always
   *  closer: cosine directly, L2 as the negated squared distance expanded
   *  to dot products (‖a−c‖² = ‖a‖² − 2a·c + ‖c‖²). */
  private def metricSim(a: Column, b: Column, metric: String): Column = metric match {
    case "cosine" => cosine(a, b)
    case "l2" => -(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b))
    case other => throw new IllegalArgumentException(s"unknown metric '$other'")
  }

  /** The argmin key that ranks `sim` DESCENDING as Spark and DuckDB sort
   *  it: NaN above every number (first), null last. Negation alone would
   *  keep NaN as NaN, which the typed argmin orders greatest — last. A
   *  +∞ sim (only an overflowing l2 gives one) ties NaN here. */
  private def descendingKey(sim: Column): Column =
    when(isnan(sim), lit(Double.NegativeInfinity))
      .otherwise(coalesce(-sim, lit(Double.PositiveInfinity)))

  /** IVF-style coarse quantization: assign each vector to the nearest of
   *  `centroids` (a small broadcast table id → vector); search then probes
   *  only matching cells. Centroids can come from any upstream clustering;
   *  here they are arbitrary sampled rows — the plumbing is the point. */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, centroidId: String, centroidVec: String,
                        metric: String = "cosine"): DataFrame = {
    val joined = df.crossJoin(broadcast(
      centroids.select(col(centroidId).as("centroid_id"), col(centroidVec).as("__cent"))))
      .select(col(idCol), col(vecCol),
        col("centroid_id"), metricSim(col(vecCol), col("__cent"), metric).as("sim"))
    // argmax as a hash AGGREGATE (r16; the NaiveBayes min_by precedent):
    // min over (−sim, centroid_id) = highest sim, lowest centroid_id on
    // ties — the exact row_number()-over-(sim desc, centroid_id) pick —
    // but with map-side partial aggregation the k-way fan-out collapses
    // back to one row per vector BEFORE the exchange, and the per-vector
    // sort the window needed is gone. The TYPED argmin (not min_by over
    // a struct, whose immutable buffer forces a SortAggregate) makes the
    // whole aggregate an ObjectHashAggregate — no map-side sort either.
    // At 100 TB the encode pass hash-aggregates corpus×k rows and
    // shuffles corpus rows, sorting nothing.
    // null sims (zero-norm input under cosine) sorted LAST by the window
    // (desc nulls-last) and NaN sims first: `descendingKey` keeps both
    // the typed argmin carries ids as longs: others would null or truncate
    val cidType = joined.schema("centroid_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(cidType),
      s"centroid id column '$centroidId' must be integral, not ${cidType.simpleString}")
    joined.groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
        graft.functions.GraftFunctions.graftArgMinLong(
          col("centroid_id").cast("long"), descendingKey(col("sim"))).as("centroid_id"))
      .select(col(idCol), col(vecCol), col("centroid_id").cast(cidType).as("centroid_id"))
  }

  /**
   * Lloyd's k-means over the embedding column, pure DataFrame algebra —
   * real centroid training for the IVF path (sampled-row "centroids" are
   * only a stand-in). Deterministic: seeds are the k lowest-id vectors.
   *
   * Per iteration: one broadcast assign (the centroid table is k rows —
   * never a corpus shuffle) and one mean-update whose shuffle key is
   * (centroid_id, dim) — at most k·d keys, corpus-size-independent, with
   * map-side partial aggregation doing the heavy lifting. This is the
   * textbook scalable k-means shape: the corpus is only ever scanned,
   * never re-partitioned.
   *
   * Returns (centroid_id, centroid: array<double>). Cosine assignment
   * (matching [[assignToCentroids]]); empty cells keep their previous
   * centroid.
   *
   * `trainSampleSize` > 0 trains on a bounded deterministic sample — the
   * `trainSampleSize` rows with the lowest (md5(id), id) — instead of the
   * full corpus. This is the 100 TB posture: codebook/centroid TRAINING
   * is an estimation problem whose quality saturates at a bounded sample,
   * so Lloyd iterations should never re-scan the corpus; only the
   * one-pass ENCODE (the caller's [[assignToCentroids]]) touches every
   * row. The sample is reproducible across runs/engines (no RNG state,
   * same mechanism as q_stratified_sample) and the selection is a per-
   * partition top-N heap (TakeOrdered), never a full sort.
   */
  def trainCentroids(df0: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 3, metric: String = "cosine",
                     trainSampleSize: Int = 0): DataFrame = {
    // localCheckpoint: the bounded sample materializes ONCE instead of
    // re-running the TakeOrdered selection on every iteration's reuse
    val df = if (trainSampleSize > 0)
      trainingSample(df0, idCol, trainSampleSize).localCheckpoint()
    else df0
    val seeds = df.orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol))
      .withColumn("centroid_id",
        row_number().over(Window.orderBy(col(idCol))) - 1)
      .select(col("centroid_id"),
        transform(col(vecCol), _.cast("double")).as("centroid"))

    // each iteration is truncated to a k-row LocalRelation: the lazy fold
    // would otherwise embed iteration N−1's plan TWICE in iteration N
    // (assign + empty-cell union) — a 2^iters plan blowup whose broadcast
    // subtrees each re-execute the whole history at the final action
    val spark = df0.sparkSession
    def localize(d: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)

    (0 until iters).foldLeft(localize(seeds)) { (centroids, _) =>
      val assigned = assignToCentroids(df, idCol, vecCol,
        centroids, "centroid_id", "centroid", metric)
      val means = assigned
        .select(col("centroid_id"),
          posexplode(col(vecCol)).as(Seq("dim", "component")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg(avg(col("component")).as("mean"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
          s => s.getField("mean")).as("centroid"))
      // empty cells: keep the previous centroid (left anti join is k rows)
      val kept = centroids.join(means, Seq("centroid_id"), "left_anti")
      localize(means.unionByName(kept))
    }
  }

  /**
   * Product quantization ANN (the classic memory-bound scale path, after
   * Jégou et al., "Product Quantization for Nearest Neighbor Search"):
   * split each `dims`-dim vector into `m` sub-vectors, k-means a
   * `codes`-entry codebook per subspace ([[trainCentroids]] on the
   * slice), encode the corpus as m small codes, and score queries via
   * ADC (asymmetric distance computation): a per-query distance table of
   * m·codes partial dot products replaces any arithmetic against the
   * corpus vectors — the corpus side of the scoring join carries ONLY
   * (id, subspace, code) rows.
   *
   * Scale shape: codebooks and distance tables are tiny and broadcast;
   * the scoring join is a broadcast equi-join on (subspace, code) into a
   * map-side-combined sum — the full-precision corpus vectors are read
   * exactly twice (once to encode, once to rerank the overfetched
   * candidates with exact cosine). At 100 TB the encoded table is
   * ~m bytes/vector, the only thing that ever shuffles.
   *
   * Returns (query_id, neighbor_id, rank), rank 1 = most similar.
   * Approximation quality is pinned by the recall gate in
   * SimilaritySpec against [[bruteForceTopK]].
   */
  /** One codebook component for the md5 family: first 8 hex chars of
   *  md5("pq:subspace:code:dim") as u32, mapped to [-1, 1) exactly like
   *  [[md5PlaneWeight]]. Embedded as literals in BOTH engines, so the
   *  ORACLE-CHECKABLE PQ twin shares its codebooks with DuckDB by
   *  construction (no training — the twin value-checks the encode → ADC →
   *  rerank mechanism; the k-means-trained production path keeps its
   *  recall gate). */
  private[graft] def md5CodebookWeight(j: Int, c: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pq:$j:$c:$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 2147483648.0 - 1.0
  }

  /** The md5-family codebook table (subspace, code, centroid) as a local
   *  DataFrame — broadcast-small by construction (m·codes rows). */
  def md5Codebooks(spark: org.apache.spark.sql.SparkSession,
                   m: Int, codes: Int, subDim: Int): DataFrame = {
    import spark.implicits._
    (for (j <- 0 until m; c <- 0 until codes)
      yield (j, c, (0 until subDim).map(d => md5CodebookWeight(j, c, d)).toArray))
      .toDF("subspace", "code", "centroid")
  }

  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             dims: Int, m: Int = 16, codes: Int = 16, iters: Int = 3,
             k: Int = 5, overfetch: Int = 8,
             trainSampleSize: Int = 0,
             fixedCodebooks: Option[DataFrame] = None): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val subDim = dims / m

    // every (vector, subspace) slice as one row — ALL m subspaces train
    // and encode in a single batched pipeline keyed by (subspace, ...).
    // m separate per-subspace trainings would serialize m·iters small
    // jobs (measured 96 s at sf0.1 for m=16, iters=3 — pure job
    // overhead); batched, the iteration count is independent of m.
    val sliceArr = array((0 until m).map(j =>
      slice(col(corpusVec), j * subDim + 1, subDim)): _*)
    def subsOf(base: DataFrame): DataFrame = base.select(col(corpusId).as("id"),
      posexplode(sliceArr).as(Seq("subspace", "sv")))
    // NOT persisted: each Lloyd iteration re-derives subs, but the
    // scan+explode is cheap next to the aggregates, and caching these
    // rows measured SLOWER (18s vs 8s at sf0.1 — the InMemoryRelation
    // barrier costs more than the recomputation it saves)
    val subs = subsOf(corpus)
    // codebook TRAINING draws a bounded deterministic (md5, id)-ordered
    // sample (same posture as trainCentroids: Lloyd never re-scans the
    // corpus; only the single encode pass below does). localCheckpoint
    // materializes the sample once for all iterations.
    val trainSubs =
      if (trainSampleSize > 0)
        subsOf(trainingSample(corpus, corpusId, trainSampleSize).localCheckpoint())
      else subs

    // nearest codebook entry per (subspace, vector) under L2 — the
    // canonical PQ quantizer (cosine on sub-vectors discards magnitude,
    // which IS signal within a subspace: measured recall@5 0.54 cosine
    // vs 0.94 l2 at these params on the 500-vector corpus)
    def assignAll(base: DataFrame, cents: DataFrame): DataFrame =
      base.join(broadcast(cents), Seq("subspace"))
        .withColumn("sim", metricSim(col("sv"), col("centroid"), "l2"))
        .groupBy(col("subspace"), col("id"))
        // argmax as a hash AGGREGATE: argmin of code by −sim (highest
        // sim, lowest code on ties — the same ordering the window and
        // max_by-struct formulations used). The typed argmin flips the
        // aggregate from SortAggregate (struct buffers are not
        // hash-aggregable) to ObjectHashAggregate — map-side combine,
        // no sort anywhere (r16).
        .agg(
          graft.functions.GraftFunctions.graftArgMinLong(
            col("code").cast("long"), descendingKey(col("sim")))
            .cast("int").as("code"),
          first(col("sv")).as("sv"))
        .select(col("subspace"), col("id"), col("sv"), col("code"))

    // seeding matches trainCentroids: the `codes` lowest-id vectors (of
    // the training sample, when one is drawn)
    val sw = Window.partitionBy(col("subspace")).orderBy(col("id"))
    val seeds = trainSubs.withColumn("rk", row_number().over(sw))
      .filter(col("rk") <= codes)
      .select(col("subspace"), (col("rk") - 1).as("code"),
        transform(col("sv"), _.cast("double")).as("centroid"))

    // Lloyd over all subspaces at once: mean-update shuffle keys are
    // (subspace, code, dim) — ≤ m·codes·subDim keys at any corpus size.
    // Every iteration truncates to an m·codes-row LocalRelation: the lazy
    // fold would otherwise embed the previous iteration's plan twice
    // (assign + empty-cell union) — a 2^iters blowup re-executed through
    // every broadcast subtree at the final action.
    val spark = corpus.sparkSession
    def localize(d: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
    val codebooks = fixedCodebooks.getOrElse(
      (0 until iters).foldLeft(localize(seeds)) { (cents, _) =>
        val means = assignAll(trainSubs, cents)
          .select(col("subspace"), col("code"),
            posexplode(col("sv")).as(Seq("dim", "comp")))
          .groupBy(col("subspace"), col("code"), col("dim"))
          .agg(avg(col("comp")).as("mean"))
          .groupBy(col("subspace"), col("code"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
            s => s.getField("mean")).as("centroid"))
        // empty cells keep their previous centroid
        localize(means.unionByName(cents.join(means, Seq("subspace", "code"), "left_anti")))
      })

    // encode: one batched assign over the FULL corpus
    val encoded = assignAll(subs, codebooks)
      .select(col("id").as("neighbor_id"), col("subspace"), col("code"))

    // per-query ADC table: partial dot per (subspace, code) + the code's
    // own norm² (query-independent, reconstructs the neighbor norm)
    val dt = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"),
        l2Norm(col(queryVec)).as("__qnorm"))
      .crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("__qnorm"), col("subspace"), col("code"),
        dot(slice(col("__qv"), col("subspace") * subDim + 1, lit(subDim)),
          col("centroid")).as("pdot"),
        dot(col("centroid"), col("centroid")).as("cnorm2"))

    val adc = encoded.join(broadcast(dt), Seq("subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("pdot")).as("pd"), sum(col("cnorm2")).as("n2"),
        first(col("__qnorm")).as("qnorm"))
      // rounded to 6dp BEFORE the overfetch cut (the lm_score precedent):
      // the 8-term float sum's accumulation order is engine-dependent, and
      // at near-tied ADC scores an ulp decides who makes the candidate
      // set — rounding pins the cut to a value both engines agree on
      .select(col("query_id"), col("neighbor_id"),
        round(col("pd") / (sqrt(col("n2")) * col("qnorm")), 6).as("adc_sim"))

    // overfetch by ADC, then exact-cosine rerank of the survivors only
    val aw = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_sim").desc, col("neighbor_id"))
    val candidates = adc.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))

    val rerank = candidates
      .join(corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("__cv")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__cv"), col("__qv")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rerank.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /**
   * IVF search: corpus pre-assigned to centroid cells; each query probes
   * only its `nProbe` nearest cells (broadcast centroid table), then exact
   * cosine + top-k inside the probed cells. The candidate join is an
   * equi-join on centroid_id — no cross product against the corpus, and
   * the corpus side can be pre-partitioned/bucketed by centroid_id so
   * repeated query batches reuse the layout.
   */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              centroids: DataFrame, centroidId: String, centroidVec: String,
              k: Int, nProbe: Int = 2): DataFrame = {
    val assigned = assignToCentroids(corpus, corpusId, corpusVec,
      centroids, centroidId, centroidVec)
    ivfSearchAssigned(assigned, corpusId, corpusVec,
      queries, queryId, queryVec, centroids, centroidId, centroidVec, k, nProbe)
  }

  /**
   * IVF search over a PRE-ASSIGNED corpus — the persisted-index face
   * (r11 verdict item 6): `assigned` is the (id, vec, centroid_id)
   * index TABLE loaded from storage, so search never re-encodes the
   * corpus. This is what makes the index incrementally maintainable:
   * a new batch is assigned with one [[assignToCentroids]] pass over
   * ONLY the batch (cost independent of the existing corpus size),
   * appended to the assignment table, and served by this search —
   * no retraining, no re-scan of the old corpus.
   */
  def ivfSearchAssigned(assigned0: DataFrame, assignedId: String, assignedVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        centroids: DataFrame, centroidId: String, centroidVec: String,
                        k: Int, nProbe: Int = 2): DataFrame = {
    val assigned = assigned0
      .select(col(assignedId).as("neighbor_id"), col(assignedVec).as("__cv"), col("centroid_id"))

    // per query: its nProbe nearest cells
    val probes = queries.crossJoin(broadcast(
      centroids.select(col(centroidId).as("centroid_id"), col(centroidVec).as("__cent"))))
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"),
        col("centroid_id"), cosine(col(queryVec), col("__cent")).as("csim"))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("centroid_id"))
    val probed = probes.withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))

    val candidates = assigned.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__cv"), col("__qv")).as("sim"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /**
   * foreachBatch adapter for STREAMING incremental IVF maintenance —
   * the continuous-ingest face of [[ivfSearchAssigned]]'s persisted
   * index: each micro-batch of new vectors is assigned against the
   * FROZEN centroid table (pass a collected LocalRelation so no
   * training lineage re-executes per batch) and landed in the
   * assignment table. Per-batch cost is O(batch) — the existing index
   * is never read — and assignment is per-vector deterministic, so any
   * chunking converges to the batch encode (pinned stream ≡ batch in
   * SimilaritySpec). Retraining cadence stays a separate, offline
   * decision, exactly as with a production ANN index.
   *
   * IDEMPOTENT on batchId (ADVICE r12): foreachBatch is at-least-once —
   * a restart between sink commit and checkpoint advance REPLAYS the
   * micro-batch — so each batch overwrites its own `batch_id=<id>`
   * partition directory instead of blind-appending; the replay rewrites
   * the same partition and the index never carries duplicate neighbor
   * rows (which would otherwise occupy multiple top-k slots in
   * [[ivfSearchAssigned]]). Read the index back with ONE
   * `spark.read.parquet(assignDir)` — partition discovery surfaces
   * batch_id as a column; project it away before serving.
   */
  def ivfIndexMaintainer(centroids: DataFrame, idCol: String, vecCol: String,
                         assignDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      assignToCentroids(batch, idCol, vecCol,
          centroids, "centroid_id", "centroid")
        .write.mode("overwrite").parquet(s"$assignDir/batch_id=$batchId")
      ()
    }

  /**
   * Embedding outlier detection: assign every vector to its nearest
   * centroid, then z-score its cosine similarity against the CELL's
   * own distribution — vectors far below their cluster's typical
   * cohesion (z ≤ −2) are mislabeled/corrupted/off-manifold points, the
   * embedding-space face of quality filtering. Variance is computed as
   * avg(x²) − avg(x)² IDENTICALLY in both engines (library stddev
   * implementations differ numerically); zero-variance cells z-score
   * to 0.
   *
   * Shape: centroid assignment is a broadcast crossJoin + per-vector
   * argmax (the IVF path); the cell statistics ride one centroid-keyed
   * window over the assignment — no second corpus pass.
   */
  def embeddingOutliers(corpus: DataFrame, corpusId: String, corpusVec: String,
                        centroids: DataFrame, centroidId: String,
                        centroidVec: String, zCut: Double = -2.0): DataFrame = {
    // inline assignment (assignToCentroids drops the similarity): one
    // broadcast crossJoin against the k-row centroid table + argmax
    val joined = corpus.crossJoin(broadcast(
        centroids.select(col(centroidId).as("centroid_id"), col(centroidVec).as("__cent"))))
      .select(col(corpusId).as("vec_id"), col("centroid_id"),
        cosine(col(corpusVec), col("__cent")).as("cos_sim"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("centroid_id"))
    val assigned = joined.withColumn("rank", row_number().over(byVec))
      .filter(col("rank") === 1)
      .select(col("vec_id"), col("centroid_id"), col("cos_sim"))
    val byCell = Window.partitionBy(col("centroid_id"))
    val withStats = assigned
      .withColumn("mu", avg(col("cos_sim")).over(byCell))
      .withColumn("var", avg(col("cos_sim") * col("cos_sim")).over(byCell) -
        col("mu") * col("mu"))
      .withColumn("z",
        when(col("var") > 0,
          (col("cos_sim") - col("mu")) / sqrt(col("var"))).otherwise(lit(0.0)))
    withStats.select(col("vec_id"), col("centroid_id"),
      round(col("cos_sim"), 6).as("cos_sim"),
      round(col("z"), 6).as("z"),
      (col("z") <= lit(zCut)).as("is_outlier"))
  }

  /**
   * Int8 scalar quantization of an embedding column — the 4× memory
   * compression every production vector index applies before (or
   * instead of) PQ: per-DIMENSION min/max over the corpus define a
   * linear grid, each component rounds to its 0..255 code, and the
   * operator reports per-vector reconstruction error (MSE and max
   * absolute error) — the calibration readout that decides whether
   * int8 is safe for a given embedding distribution. Constant
   * dimensions (max = min) code to 0 and reconstruct exactly.
   *
   * Shape: one posexplode + a 64-row (dims-bounded) min/max aggregate
   * broadcast back; everything else is narrow arithmetic — no corpus
   * shuffle beyond the per-vector stats aggregate. Float components
   * cast to double BEFORE arithmetic (the engine-wide convention), so
   * the DuckDB oracle is value-level exact.
   */
  def int8QuantizationError(df: DataFrame, idCol: String,
                            vecCol: String): DataFrame = {
    val comps = df.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
    val grid = comps.groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val scaled = comps.join(broadcast(grid), Seq("dim"))
      .withColumn("code",
        when(col("hi") > col("lo"),
          round((col("v") - col("lo")) / (col("hi") - col("lo")) * lit(255.0), 0))
          .otherwise(lit(0.0)))
      .withColumn("deq",
        when(col("hi") > col("lo"),
          col("lo") + col("code") / lit(255.0) * (col("hi") - col("lo")))
          .otherwise(col("v")))
      .withColumn("err", col("v") - col("deq"))
    scaled.groupBy(col("vec_id"))
      .agg(round(avg(col("err") * col("err")), 9).as("mse"),
        round(max(abs(col("err"))), 6).as("max_abs_err"))
  }

  /**
   * Leading principal component of an embedding column — distributed
   * PCA by the only decomposition that scales: the d×d covariance is a
   * (dims²-bounded) aggregate of per-row outer products (map-side
   * combined — the corpus streams through once, 100 TB or not), and the
   * power iteration then runs on that TINY matrix as fixed-count
   * DataFrame algebra (the q_ivf_trained fixed-iteration pattern, so
   * the DuckDB oracle unrolls it as chained CTEs). Use: embedding-drift
   * monitoring (the top component captures the dominant variance axis;
   * its eigenvalue share collapsing ⇒ the embedder changed), whitening
   * prep, and anisotropy diagnostics.
   *
   * Determinism: covariance entries are rounded to 9 dp in BOTH
   * engines before iterating, so the iteration arithmetic starts from
   * identical matrices; the all-positive start vector fixes the sign.
   * Returns (dim, loading, eigenvalue, var_ratio) with the Rayleigh
   * quotient as the eigenvalue.
   */
  def pcaTopComponent(df: DataFrame, idCol: String, vecCol: String,
                      iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    // n and d in ONE metadata job (was two: a head() for the size plus a
    // separate count())
    val meta = df.agg(count(lit(1)), first(size(col(vecCol)))).head()
    val n = meta.getLong(0)
    val d = meta.getInt(1)
    // per-dim means as a d-double driver literal (bounded state, the
    // trainCentroids localize posture): centering then happens INSIDE
    // each row via transform, so the covariance needs no join at all
    val mArr = df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(avg(col("v").cast("double")).as("m"))
      .orderBy(col("dim")).collect().map(_.getDouble(1))
    val mLit = lit(mArr)
    // covariance as the one-pass outer-product aggregate the 100 TB shape
    // demands: center in-row, double-posexplode to (i, xi, j, xj), and
    // let the d²-key aggregate map-side combine. The previous formulation
    // self-JOINED the exploded corpus on vec_id — a sort exchange of
    // every centered component on both sides (SortMergeJoin over n·d
    // rows) just to rebuild pairs each row already held.
    val centered = df.select(transform(col(vecCol),
      (x, i) => x.cast("double") - element_at(mLit, i + 1)).as("xs"))
    val cov = centered
      .select(posexplode(col("xs")).as(Seq("i", "xi")), col("xs"))
      .select(col("i"), col("xi"), posexplode(col("xs")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(round(sum(col("xi") * col("xj")) / lit((n - 1).toDouble), 9).as("c"))
      .localCheckpoint(true) // feeds every iteration + the trace
    // each iteration truncates to a d-row LocalRelation: the lazy fold
    // embedded iteration N−1's plan TWICE in iteration N (once under w,
    // once under norm's aggregate) — the 2^iters blowup localize()
    // already guards against in trainCentroids/pqTopK; at iters=3 the
    // final plan carried 40 SortMergeJoins re-executed through every
    // broadcast subtree (measured: 4,643-line plan at sf0.1)
    def localize(d2: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(d2.collect(): _*), d2.schema)
    def multiply(v: DataFrame): DataFrame =
      cov.join(broadcast(v), cov("j") === v("dim")).groupBy(col("i"))
        .agg(sum(col("c") * col("vv")).as("w"))
    import spark.implicits._
    var v = (0 until d).map(i => (i, 1.0 / math.sqrt(d.toDouble)))
      .toDF("dim", "vv")
    for (_ <- 1 to iters) {
      val w = localize(multiply(v))
      val norm = w.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      v = localize(w.crossJoin(broadcast(norm))
        .select(col("i").as("dim"), (col("w") / col("nrm")).as("vv")))
    }
    val w4 = localize(multiply(v))
    val lam = w4.join(v, w4("i") === v("dim"))
      .agg(sum(col("w") * col("vv")).as("lambda"))
    val tr = cov.filter(col("i") === col("j")).agg(sum(col("c")).as("trace"))
    v.crossJoin(broadcast(lam)).crossJoin(broadcast(tr))
      .select(col("dim"), round(col("vv"), 6).as("loading"),
        round(col("lambda"), 6).as("eigenvalue"),
        round(col("lambda") / col("trace"), 6).as("var_ratio"))
  }

  /**
   * Retrieval-quality evaluation: per-query recall and MRR of an ANN
   * `result` against a ground-truth `truth` table — the metric harness
   * every ANN family here reports informally (DedupRecallSpec's ≥85%
   * gates) promoted to a first-class operator, so a production index
   * build can gate itself on measured recall. Both inputs use the
   * family-wide (query_id, neighbor_id, rank) contract.
   *
   * recall = |result ∩ truth| / |truth|; MRR = 1 / (result rank of the
   * first true neighbor), 0 when none hit. Queries with no hits still
   * report (truth drives the output). Shape: one (query, neighbor)
   * equi-join plus query-keyed aggregates — both sides are k·queries
   * rows, trivially broadcastable at any corpus size.
   */
  def recallAtK(result: DataFrame, truth: DataFrame): DataFrame = {
    val truthCounts = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"))
    val hits = result
      .join(truth.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("rank")).as("__first_hit"))
    truthCounts.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_truth"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("__first_hit"), lit(0.0)), 6).as("mrr"))
  }

  /**
   * Index-staleness readout for the frozen-centroid maintenance path
   * (r12 verdict item 4): the incremental/streaming IVF maintainers
   * ([[ivfSearchAssigned]], [[ivfIndexMaintainer]]) never retrain, so
   * as the corpus drifts the frozen cells route queries into
   * increasingly wrong neighborhoods and recall decays SILENTLY. This
   * operator measures that decay: per-query recall@k / MRR of the
   * maintained index's answers against the answers under centroids
   * RETRAINED on the current corpus, both evaluated over a shared
   * bounded candidate pool.
   *
   * O(sample), NOT O(corpus): the pool is [[trainingSample]](poolSize)
   * — the md5-lowest rows, deterministic across runs and engines — the
   * retrain is Lloyd over that same pool (k-row driver state,
   * pool-bounded scans), and BOTH searches assign and probe only the
   * pool. Beyond the TakeOrdered sample selection nothing reads the
   * full corpus, so the readout can run at any cadence against a
   * 100 TB index (a SCALECHECK rung pins the cost flat as the corpus
   * grows).
   *
   * Operational contract: retrain when the mean recall over the query
   * sample drops below `retrainThreshold` (default 0.8 — below that a
   * fifth of frozen-cell routes miss their true neighborhood, and
   * probe-widening to compensate costs more per query than one
   * retrain). Returns (query_id, n_hits, n_truth, recall, mrr,
   * needs_retrain).
   */
  def indexStaleness(corpus: DataFrame, corpusId: String, corpusVec: String,
                     maintainedCentroids: DataFrame, centroidId: String,
                     centroidVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, nProbe: Int = 2, poolSize: Int = 256,
                     retrainIters: Int = 2,
                     retrainThreshold: Double = 0.8): DataFrame = {
    val spark = corpus.sparkSession
    // the pool feeds two assigns + the retrain: materialize once
    val pool = trainingSample(corpus, corpusId, poolSize).localCheckpoint()
    val maintained = maintainedCentroids.select(
      col(centroidId).as("centroid_id"), col(centroidVec).as("centroid"))
    // same cell count as the maintained index (k is its property, not a
    // tuning knob of the readout); centroid tables are k rows — the
    // collect is bounded driver state, same posture as trainCentroids
    val kCells = maintained.count().toInt
    val retrained0 = trainCentroids(pool, corpusId, corpusVec,
      k = kCells, iters = retrainIters)
    val retrained = spark.createDataFrame(
      java.util.Arrays.asList(retrained0.collect(): _*), retrained0.schema)
    def searchWith(cents: DataFrame): DataFrame =
      ivfSearchAssigned(
        assignToCentroids(pool, corpusId, corpusVec,
          cents, "centroid_id", "centroid"),
        corpusId, corpusVec, queries, queryId, queryVec,
        cents, "centroid_id", "centroid", k, nProbe)
    recallAtK(searchWith(maintained), searchWith(retrained))
      .withColumn("needs_retrain", col("recall") < lit(retrainThreshold))
  }

  // -------------------------------------------------------------------
  // IVF retrain-and-swap (r13 verdict item 3): the verb that CONSUMES
  // indexStaleness's needs_retrain signal and closes the maintenance
  // lifecycle: train → incremental assign → streaming maintain →
  // staleness readout → RETRAIN AND SWAP.
  // -------------------------------------------------------------------

  /** Name of the atomic current-version pointer inside an index dir. */
  private[graft] val CurrentPointer = "CURRENT"

  /** Read the published version of a versioned IVF index dir (0 = none).
   *
   *  Resilient to the pointer-swap gap (r14 ADVICE): on filesystems
   *  where rename-over-existing returns false (HDFS by contract), every
   *  publish after v1 goes through delete+rename, and between those two
   *  calls no `CURRENT` exists. A reader landing in that window falls
   *  back to the highest COMPLETE version directory — one whose
   *  `centroids/` and `assign/` both carry a `_SUCCESS` marker, i.e. a
   *  version a writer finished before touching the pointer — so the
   *  documented contract holds: readers see old or new, never half,
   *  never "no published index" mid-swap. */
  def ivfCurrentVersion(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val ptr = new org.apache.hadoop.fs.Path(s"$indexDir/$CurrentPointer")
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } else highestCompleteVersion(fs, indexDir)
  }

  /** Highest vN under `indexDir` whose centroids AND assignments both
   *  finished writing (parquet `_SUCCESS` markers) — the pointer-gap
   *  fallback. 0 when none exist (fresh dir). */
  private def highestCompleteVersion(fs: org.apache.hadoop.fs.FileSystem,
                                     indexDir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    if (!fs.exists(root)) return 0L
    val vRe = "^v(\\d+)$".r
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(st => vRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
      .filter { v =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v$v/centroids/_SUCCESS")) &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v$v/assign/_SUCCESS"))
      }
      .maxOption.getOrElse(0L)
  }

  /** Load the currently-published index: (centroids, assignments,
   *  version). Readers NEVER see a half-written index — they resolve
   *  through the pointer, which only ever names fully-written version
   *  dirs. */
  def ivfLoadCurrent(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): (DataFrame, DataFrame, Long) = {
    val v = ivfCurrentVersion(spark, indexDir)
    require(v > 0, s"no published index under $indexDir")
    (spark.read.parquet(s"$indexDir/v$v/centroids"),
      spark.read.parquet(s"$indexDir/v$v/assign"), v)
  }

  /**
   * Retrain-and-swap: retrain centroids on the CURRENT corpus (bounded
   * deterministic sample, [[trainCentroids]]), re-encode the corpus in
   * one pass ([[assignToCentroids]] — broadcast k-row centroids, no
   * corpus shuffle), write both under a NEW version directory, and
   * atomically publish it by renaming a freshly-written pointer file
   * over [[CurrentPointer]] (HDFS/posix rename is atomic; on object
   * stores use a conditional put). Old versions stay on disk for
   * in-flight readers and rollback — retention is the caller's policy.
   * Concurrent retrains are safe: each writer CLAIMS its version number
   * with an atomic create-exclusive marker before any heavy work, and a
   * reader that lands in the delete+rename pointer gap falls back to
   * the highest complete version ([[ivfCurrentVersion]]) — old or new,
   * never half, never absent.
   *
   * Cost contract (pinned by the `ivf_retrain` ScaleCheck rung):
   * training is O(sample·k·iters) — corpus-size-INDEPENDENT — and the
   * re-encode is one linear scan, so the whole verb is one pass over
   * the corpus plus a parquet write; nothing is quadratic and nothing
   * shuffles the corpus. Returns the published version number.
   */
  def ivfRetrainAndSwap(corpus: DataFrame, idCol: String, vecCol: String,
                        indexDir: String, k: Int, iters: Int = 2,
                        trainSampleSize: Int = 256,
                        metric: String = "cosine"): Long = {
    val spark = corpus.sparkSession
    // CLAIM a version number atomically before any heavy work (r14
    // ADVICE): two concurrent retrains would otherwise both read
    // current=v, compute next=v+1, and write the same directory.
    // create(path, overwrite=false) is atomic-exclusive on HDFS/posix,
    // so exactly one writer owns each vN; the loser advances to the
    // next free number. The pointer swap below then serializes
    // publishes last-write-wins — concurrent retrains are safe, the
    // later pointer lands, and both version dirs stay readable.
    val fsClaim = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    var next = ivfCurrentVersion(spark, indexDir) + 1
    var claimed = false
    var attempts = 0
    while (!claimed) {
      attempts += 1
      require(attempts <= 64,
        s"could not claim a version under $indexDir after 64 attempts")
      try {
        fsClaim.create(
          new org.apache.hadoop.fs.Path(s"$indexDir/v$next/.claimed"), false).close()
        claimed = true
      } catch {
        case _: java.io.IOException => next += 1 // taken: advance
      }
    }
    val trained = trainCentroids(corpus, idCol, vecCol, k, iters,
      metric, trainSampleSize)
    // k-row driver state (same posture as trainCentroids internals):
    // freeze the centroids so the corpus encode broadcasts a
    // LocalRelation instead of re-running the training lineage
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    centroids.write.mode("overwrite").parquet(s"$indexDir/v$next/centroids")
    assignToCentroids(corpus, idCol, vecCol,
        centroids, "centroid_id", "centroid", metric)
      .write.mode("overwrite").parquet(s"$indexDir/v$next/assign")

    // publish LAST, atomically: tmp write + rename over the pointer
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      s"$indexDir/.$CurrentPointer.tmp-$next")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(s"$indexDir/$CurrentPointer")
    if (!fs.rename(tmp, ptr)) {
      // posix/HDFS rename-over-existing differs by FS: delete+rename is
      // still a single-pointer swap (readers see old or new, never half)
      fs.delete(ptr, false)
      require(fs.rename(tmp, ptr), s"could not publish $ptr")
    }
    next
  }
}
