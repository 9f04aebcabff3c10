package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-stress harness: replicates the input tables `mult`× and times
 * the heavy operators on them, each against a wall-clock budget — the
 * super-linear-blowup tripwire for the shapes PLANS.md claims are
 * linear. Two corpus variants, matching the two adversarial shapes:
 *
 *  - `big`: ids shifted, text IDENTICAL — exact-duplicate clusters of
 *    size `mult` (the worst case for hash-dedup bucket fan-out);
 *  - `bigNear`: ids shifted, one replica tag appended to the text —
 *    NEAR-duplicate clusters (Jaccard ≈ 1 − 1/tokens) that survive
 *    exact dedup, the worst case for the LSH/curation family.
 *
 * Run `sbt "runMain graft.Tools scalecheck /root/testdata/sf0.1 16"`;
 * the output table is committed per round as SCALECHECK_r{N}.txt. A row
 * that throws prints FAILED and fails the run; the rows after it still
 * run.
 */
object ScaleCheck {
  /** Runs every row; true when all finished within their budgets. */
  def run(spark: SparkSession, dir: String, mult: Int): Boolean = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val n = base.count()

    def replicated(tag: Boolean): DataFrame =
      (0 until mult).map(i =>
          base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            (if (tag) concat(col("text"), lit(s" repl$i")) else col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionAll _)
        .localCheckpoint(true)
    val big = replicated(tag = false)
    val bigNear = replicated(tag = true)
    println(s"[scalecheck] corpus: ${n * mult} docs (${mult}x)")

    var allOk = true
    // budgets are declared at the 16× calibration point; a larger mult
    // gets a LINEARLY scaled allowance (r9 verdict item 2: the 32× run
    // is a formal gate with its own explicit budgets, not an informal
    // probe against the 16× numbers — an operator that stays inside a
    // linear budget at 32× is scaling, one that needs super-linear
    // headroom is the regression this harness exists to catch)
    val budgetScale = math.max(1.0, mult / 16.0)
    def row(name: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        allOk = false
        println(s"[scalecheck] $name FAILED ($e)")
      }
    def time(name: String, budget16Sec: Double)(f: => Long): Unit = row(name) {
      val budgetSec = budget16Sec * budgetScale
      val t0 = System.nanoTime()
      val rows = f
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = secs <= budgetSec
      if (!ok) allOk = false
      println(f"[scalecheck] $name ${secs}%.1f s (budget ${budgetSec}%.0f s, " +
        f"${if (ok) "ok" else "OVER"}, $rows rows)")
    }
    /** A row that times the same work at 1× and at mult× (after one warm
      * 1× run) and fails when their ratio exceeds `maxRatio`. */
    def ratioRow(name: String, maxRatio: Double, claim: String)(secs: => Int => Double): Unit =
      row(name) {
        val f = secs
        f(1)
        val tSmall = f(1)
        val tBig = f(mult)
        val ratio = tBig / math.max(tSmall, 0.05)
        val ok = ratio <= maxRatio
        if (!ok) allOk = false
        println(f"[scalecheck] $name 1x=${tSmall}%.1f s ${mult}x=${tBig}%.1f s " +
          f"ratio=${ratio}%.2f (${if (ok) "ok" else "OVER"}, $claim)")
      }

    // ---- text-analysis family (r6 coverage) --------------------------
    time("passage_dedup(n=4)", 15) {
      graft.ext.Dedup.duplicatePassageStats(big, "text", "doc_id", n = 4).count()
    }
    // aggregate OVER the md5 column: a bare count() (or a foldable
    // not-null filter) lets Catalyst eliminate the left join to the
    // unique-keyed rewrite aggregate and time a pruned plan
    time("span_removal(n=4)", 45) {
      graft.ext.Dedup.removeDuplicateSpans(big, "text", "doc_id", n = 4)
        .agg(countDistinct(col("cleaned_md5")).as("n"))
        .collect()(0).getLong(0)
    }
    time("winnow_fps(k=3,w=4)", 20) {
      graft.ext.TextAnalysis.winnowFingerprintsDF(big, "text", "doc_id").count()
    }
    time("dsir_weights(B=256)", 20) {
      graft.ext.Sampling.dsirWeights(big, "text", "doc_id",
        col("source") === "src0").count()
    }
    time("nb_train_score(B=128)", 20) {
      graft.ext.NaiveBayes.trainAndScore(big, "text", "lang", "doc_id").count()
    }

    // ---- dedup/curation family (r7 additions) ------------------------
    // capped LSH on near-dup clusters: buckets cluster but the hot-bucket
    // valve bounds the candidate fan-out
    time(s"minhash_capped(maxBucket=64)", 60) {
      graft.ext.Dedup.minhashNearDuplicates(bigNear, "text", "doc_id",
        n = 3, k = 64, bands = 16, threshold = 0.05, maxBucketSize = 64).count()
    }
    time("curation_lsh_composite", 120) {
      val deduped = graft.ext.Dedup.dropExactDuplicates(bigNear, "text", "doc_id")
      val scored = deduped.select(col("doc_id"), col("text"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.ext.TextAnalysis.languageId(col("text")).as("lang_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("tokens"))
      val kept = scored.filter(col("quality") >= 0.5 && col("lang_id") =!= "und")
        .localCheckpoint(true)
      val pairs = graft.ext.Dedup.minhashNearDuplicates(kept, "text", "doc_id",
        n = 3, k = 64, bands = 16, threshold = 0.05, maxBucketSize = 256)
      graft.ext.Dedup.nearDupSurvivors(kept, "doc_id", pairs)
        .filter(col("is_survivor"))
        .groupBy(col("lang_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"))
        .count()
    }

    // ---- sequential + validation family (many files) -----------------
    // events replicated with DISTINCT file keys: parallelism = files,
    // one exchange, per-file windows — the claim under test
    val events = graft.ingest.Readers.tsToNanos(
      spark.read.parquet(s"$dir/events.parquet"))
    val bigEvents = (0 until mult).map(i =>
        events.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
          col("ts"), col("user_id"), col("event_type"), col("value"),
          lit(i).as("replica")))
      .reduce(_ unionAll _)
      .localCheckpoint(true)
    time(s"sequential_manyfiles(${mult * 5} files)", 30) {
      val serial = floor(pmod(col("event_id"), lit(100000000L)) / 5).cast("long")
      val tsCol = timestamp_micros(expr("ts div 1000"))
      val std = bigEvents
        .select(
          concat(lit("f"), col("replica"), lit("_"),
            pmod(col("event_id"), lit(5))).as(graft.sequential.SequentialChecks.FileCol),
          serial.as(graft.sequential.SequentialChecks.SerialNumber),
          floor(serial / 10).cast("long").as(graft.sequential.SequentialChecks.BundleId),
          pmod(serial, lit(10)).as(graft.sequential.SequentialChecks.RecordId),
          lit(10L).as(graft.sequential.SequentialChecks.BundleSize),
          date_trunc("second", tsCol).as(graft.sequential.SequentialChecks.GeneratedAt),
          date_trunc("second", tsCol).as(graft.sequential.SequentialChecks.ReceivedAt),
          lit("log").as(graft.sequential.SequentialChecks.LogFileName))
      graft.sequential.SequentialChecks(std).count()
    }
    // ---- r12 verdict item 1: the single-GIANT-file ceiling ------------
    // The per-file scope is the reference semantics, so the default plan
    // puts one whole file's sort+windows on ONE task — the only skew
    // shape no other tier tested. One 10⁷-record file vs the same rows
    // in 80 files: the single-pass row DOCUMENTS the measured ceiling
    // (generous budget — it spills and completes, unlike the reference's
    // in-memory model, but ~31 of 32 cores idle); the chunkSerials
    // two-phase row GATES the fix (largest serial unit = a bundle, so
    // the giant file parallelizes; must land near the many-files time).
    // Row count is FIXED at 10M (the rung tests a shape, not volume).
    def giantStd(nFiles: Int): DataFrame = {
      val S = graft.sequential.SequentialChecks
      spark.range(0L, 10000000L, 1L, 32).select(
        concat(lit("g"), pmod(col("id"), lit(nFiles))).as(S.FileCol),
        (col("id") / nFiles).cast("long").as(S.SerialNumber),
        (col("id") / nFiles / 10).cast("long").as(S.BundleId),
        pmod(col("id") / nFiles, lit(10)).cast("long").as(S.RecordId),
        lit(10L).as(S.BundleSize),
        date_trunc("second", timestamp_seconds(lit(1700000000L) +
          (col("id") / nFiles / 100).cast("long"))).as(S.GeneratedAt),
        date_trunc("second", timestamp_seconds(lit(1700000000L) +
          (col("id") / nFiles / 100).cast("long"))).as(S.ReceivedAt),
        lit("log").as(S.LogFileName))
    }
    time("sequential_giantfile(10M x 1, single-pass CEILING)", 90) {
      graft.sequential.SequentialChecks(giantStd(1)).count()
    }
    time("sequential_giantfile(10M x 1, chunked two-phase)", 25) {
      graft.sequential.SequentialChecks(giantStd(1),
        chunkSerials = Some(131072L)).count()
    }
    time("sequential_giantfile(10M x 80 files, baseline)", 25) {
      graft.sequential.SequentialChecks(giantStd(80)).count()
    }

    // the shipped config_2.ini mega-projection over many replicated
    // files: the 43-section rule suite's one wide select must scale in
    // ROWS, its codegen cost already paid once
    // rows replicate via a broadcast range cross-join — ONE copy of the
    // 43-section mega-projection in the plan (a unionAll of replicas
    // would multiply the PLAN 256×, a planner stress test, not a data
    // one — measured: analysis alone ran minutes)
    time(s"config2_manyfiles(${mult * 16} replicas)", 60) {
      val suite = graft.config.SuiteLoader.fromFile(Queries.config2IniPath)
      val records = graft.ingest.Readers.ndjson(spark,
        "fixtures/config2/data/*.json", graft.pipeline.OdeSchema.config2Record)
      val repl = records
        .crossJoin(broadcast(spark.range(0, mult.toLong * 16).select(col("id").as("__r"))))
        .withColumn("file", concat(col("file"), lit("#"), col("__r")))
        .drop("__r")
      graft.pipeline.ValidationPipeline.validateRecords(repl, suite)
        .select(explode(col("validations")).as("v")).count()
    }

    // ---- events analytics ---------------------------------------------
    time("gap_fill_hourly", 30) {
      import org.apache.spark.sql.expressions.Window
      val hourNs = 3600L * 1000000000L
      val hourly = bigEvents
        .withColumn("hour", expr(s"ts div $hourNs"))
        .groupBy(col("hour"), col("event_type"))
        .agg(round(sum(col("value")), 6).as("hour_value"))
      val bounds = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("hour"))
        .crossJoin(hourly.select(col("event_type")).distinct())
      val filled = spine.join(hourly, Seq("hour", "event_type"), "left")
      val wFill = Window.partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      filled
        .withColumn("value_forward_filled",
          coalesce(last(col("hour_value"), ignoreNulls = true).over(wFill), lit(0.0)))
        .count()
    }

    // ---- ANN family ----------------------------------------------------
    val embBase = spark.read.parquet(s"$dir/embeddings.parquet")
    val bigEmb = (0 until mult).map(i =>
        embBase.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label")))
      .reduce(_ unionAll _)
      .localCheckpoint(true)
    val queries = embBase.filter(col("vec_id") < 8)
    time("pq_topk(m=16,codes=16)", 60) {
      graft.ext.Similarity.pqTopK(bigEmb, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        dims = 64, m = 16, codes = 16, iters = 3, k = 5, overfetch = 8,
        trainSampleSize = 512).count()
    }
    time("ivf_topk(k=5,nProbe=2)", 60) {
      graft.ext.Similarity.ivfTopK(bigEmb, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        embBase.filter(col("vec_id") < 4), "vec_id", "embedding",
        k = 5, nProbe = 2).count()
    }

    // ---- stats/layout/LM family (r7 batch-3 additions) ----------------
    val liBase = spark.read.parquet(s"$dir/lineitem.parquet")
    // derived replica strides (max+1, the r9 ADVICE rule): a fixed 1e9
    // shift would silently collide keys at a bigger source SF
    val liOkShift = liBase.agg(max(col("l_orderkey"))).collect()(0).getLong(0) + 1L
    val liPkShift = liBase.agg(max(col("l_partkey"))).collect()(0).getLong(0) + 1L
    val bigLi = (0 until mult).map(i =>
        liBase.select((col("l_orderkey") + lit(i.toLong * liOkShift)).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax")))
      .reduce(_ unionAll _)
      .localCheckpoint(true)
    time("zorder_quadrants(16bit)", 30) {
      graft.ext.Layout.zQuadrantStats(bigLi, "l_partkey", "l_suppkey",
        bits = 16, prefixBits = 4).count()
    }
    time("equidepth_bins(k=10)", 60) {
      graft.ext.Stats.equiDepthBins(bigLi, "l_extendedprice", k = 10).count()
    }
    // ~9.6M DISTINCT doubles: the exact `percentile` buffer would hold
    // every one of them; the scalable path must stay bins/localLimit-
    // bounded (histogram-guided selection, r8)
    time("equidepth_scalable(hi-card)", 60) {
      val cont = bigLi.select((col("l_extendedprice") *
        (lit(1.0) + pmod(col("l_orderkey"), lit(9999991L)) * lit(1e-13))).as("x"))
      graft.ext.Stats.equiDepthBinsScalable(cont, "x", k = 10).count()
    }
    time("kn_score(self)", 90) {
      graft.ext.LanguageModel.kneserNeyScore(big, "text", "doc_id",
        big, "text").count()
    }
    time("chi2_terms(top5)", 60) {
      graft.ext.Stats.chiSquaredTerms(big, "text", "lang", k = 5).count()
    }
    time("knn_classify(k=5)", 30) {
      graft.ext.Similarity.knnClassify(bigEmb, "vec_id", "embedding", "label",
        queries, "vec_id", "embedding", k = 5).count()
    }

    // ---- geo/trajectory family (r7 batch 4) ---------------------------
    // Replicas shift ts by ~231 days AND keep identical coordinates —
    // the user shift must be a multiple of lcm(50, 70) = 350 so the
    // %50/%70 base in the lat/lon overlay is preserved (a shift like
    // 100000 ≡ 40 mod 70 would smear replicas across lon bases and
    // quietly weaken the stress to ~2-3× cell density): spatially the
    // worst case (every cell 16× denser) but temporally disjoint, so
    // co-location OUTPUT stays ∝ mult while the halo join carries the
    // full 16× through the (cell, bucket) shuffle — the plan stress,
    // not an output-bound blowup.
    val geoPts = (0 until mult).map(i =>
        events.select(
          (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
          (col("ts") + lit(i.toLong * 20000000000000000L)).as("ts"),
          (col("user_id") + lit(i.toLong * 350000L)).as("user_id"),
          col("value")))
      .reduce(_ unionAll _)
      .select(col("event_id"), col("user_id"), col("value"), col("ts"),
        expr("39e0 + (user_id % 50) * 1e-2 + ((event_id * 7919) % 1000) * 1e-5").as("lat"),
        expr("-105e0 + (user_id % 70) * 1e-2 + ((event_id * 104729) % 1000) * 1e-5").as("lon"))
      .localCheckpoint(true)
    time("geo_colocation(1km,2h)", 90) {
      graft.ext.Geo.colocationPairs(geoPts, "user_id", "event_id", "ts",
        "lat", "lon", distM = 1000.0, dtNs = 7200000000000L,
        cellDeg = 0.02).count()
    }
    time("geo_radius_join(900m)", 30) {
      val probes = spark.range(20).select(col("id").as("probe_id"),
        expr("39e0 + (id % 10) * 5e-2 + 13e-3").as("probe_lat"),
        expr("-105e0 + id * 35e-3 + 7e-3").as("probe_lon"))
      graft.ext.Geo.radiusJoin(geoPts, probes, "lat", "lon",
        radiusM = 900.0, cellDeg = 0.05).count()
    }
    time("trip_summaries(48h gap)", 30) {
      graft.ext.Geo.tripSummaries(geoPts, "user_id", "ts", "event_id",
        "lat", "lon", gapNs = 172800000000000L, cellDeg = 0.05).count()
    }
    // 16 DISJOINT co-purchase graphs (keys shifted per replica): the
    // wedge fan-out must scale with Σ deg², not (16·deg)²
    time("triangle_census(disjoint)", 60) {
      val lp = (0 until mult).map(i =>
          liBase.select(
            (col("l_orderkey") + lit(i.toLong * liOkShift)).as("ok"),
            (col("l_partkey") + lit(i.toLong * liPkShift)).as("pk")))
        .reduce(_ unionAll _)
        .filter(col("pk") % 7 === 0)
        .distinct()
      val edges = lp.as("x").join(lp.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
      graft.ext.Graph.triangleStats(edges).count()
    }
    // the token stream grows 16× but the SKETCH stays depth×width —
    // the whole point of the operator
    time("cms_heavy_hitters(d4,w512)", 30) {
      val toks = bigNear
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      graft.ext.Sketches.heavyHitters(toks, "tok",
        depth = 4, width = 512, k = 20).count()
    }

    // 16× points per time bucket (replicas share the time range — the
    // occupancy worst case); the containment join must stay an
    // equi-join over buckets
    time("interval_bucket_join(40w)", 30) {
      val windows = Queries.maintenanceWindows(spark)
      graft.ext.Intervals.bucketedIntervalJoin(
        bigEvents.select(col("event_id"), col("ts"), col("value")),
        "ts", windows, "w_lo", "w_hi", 50000000000000L).count()
    }

    // ---- skewed-key tier (r8) -----------------------------------------
    // The uniform replication above stresses VOLUME; the 100 TB killer
    // is Zipf skew — one hot key absorbing a constant fraction of the
    // data. Each case pins a different skew defense: per-key windows
    // staying sort-bound on the hot partition, the LSH hot-bucket
    // valve, halo-join candidate floods with bounded OUTPUT, and AQE's
    // skew-join split on a shuffled join.

    // 30% of all fixes collapse onto ONE vehicle: a per-key window is
    // inherently serial per key, so the budget asserts the hot
    // partition stays sort-bound while the cold keys ride the normal
    // hash layout (no blowup, no OOM).
    time("skew_hot_user_trips(30%)", 60) {
      val skewed = geoPts.withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) < 3, lit(77L))
          .otherwise(col("user_id")))
      graft.ext.Geo.tripSummaries(skewed, "user_id", "ts", "event_id",
        "lat", "lon", gapNs = 172800000000000L, cellDeg = 0.05).count()
    }

    // One (cell, time-bucket) holds thousands of co-temporal fixes from
    // only 50 distinct users: the halo equi-join must digest the
    // QUADRATIC candidate flood (~3·h² rows through dedup + haversine)
    // while the verified per-user-pair OUTPUT stays ≤ 50²/2 — the
    // output-bound lesson inverted: candidates explode, output may not.
    time("skew_hot_cell_colocation(h~4k)", 120) {
      val hotBase = 1704067200L * 1000000000L
      val hot = col("event_id") % 400 === 0
      val skewed = geoPts.select(
        col("event_id"),
        when(hot, col("event_id") % 50 + 9000000L).otherwise(col("user_id"))
          .as("user_id"),
        col("value"),
        when(hot, lit(hotBase) + (col("event_id") % 7200) * 1000000000L)
          .otherwise(col("ts")).as("ts"),
        when(hot, lit(39.5005) + (col("event_id") % 1000) * lit(1.5e-5))
          .otherwise(col("lat")).as("lat"),
        when(hot, lit(-105.0005) + ((col("event_id") * 31) % 1000) * lit(1.5e-5))
          .otherwise(col("lon")).as("lon"))
      graft.ext.Geo.colocationPairs(skewed, "user_id", "event_id", "ts",
        "lat", "lon", distM = 1000.0, dtNs = 7200000000000L,
        cellDeg = 0.02).count()
    }

    // A quarter of the corpus becomes ONE identical text: those docs
    // collide in EVERY band, so all 16 band buckets go hot at once and
    // the maxBucketSize valve — not wall-clock luck — must bound the
    // candidate fan-out.
    time("skew_hot_lsh_bucket(valve)", 60) {
      val hotCorpus = bigNear.withColumn("text",
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("the quick brown fox jumps over the lazy dog and then " +
            "some boilerplate every crawler sees on every page"))
          .otherwise(col("text")))
      graft.ext.Dedup.minhashNearDuplicates(hotCorpus, "text", "doc_id",
        n = 3, k = 64, bands = 16, threshold = 0.05,
        maxBucketSize = 64).count()
    }

    // 40% of a 16×-replicated lineitem lands on one orderkey, joined
    // against a build side too large to broadcast: without AQE's
    // skew-join split one task would own 40% of the probe side. The
    // budget asserts the split actually engages (GraftSession enables
    // AQE + skewJoin); output stays ∝ probe rows (build side deduped).
    // At 100 TB the hot partition dwarfs the default 256 MB skew
    // threshold; at 16× it is ~100 MB, so the threshold scales down for
    // the check — the point is exercising the SPLIT machinery, and the
    // plan is sniffed to prove it engaged rather than trusting the
    // clock.
    time("skew_hot_join_key(AQE split)", 60) {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      try {
        val skewLi = bigLi.withColumn("l_orderkey",
          when(pmod(col("l_partkey"), lit(5)) < 2, lit(42L))
            .otherwise(col("l_orderkey")))
        val oBase = spark.read.parquet(s"$dir/orders.parquet")
        // the dedup MATERIALIZES before the join: an aggregate between
        // the exchange and the sort would break OptimizeSkewedJoin's
        // SMJ(Sort(Shuffle), Sort(Shuffle)) pattern and silently forfeit
        // the split this row exists to verify
        val oKeyShift = oBase.agg(max(col("o_orderkey"))).collect()(0).getLong(0) + 1L
        val bigOrders = (0 until mult).map(i =>
            oBase.select((col("o_orderkey") + lit(i.toLong * oKeyShift)).as("o_orderkey"),
              col("o_custkey"), col("o_totalprice")))
          .reduce(_ unionAll _)
          .dropDuplicates("o_orderkey")
          .localCheckpoint(true)
        // the aggregate CONSUMES payload columns: column pruning would
        // otherwise strip the probe side down to the constant hot key,
        // which lz4 flattens below any skew threshold — the hot
        // partition must be hot in BYTES, as it would be at 100 TB
        val joined = skewLi.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
              col("l_quantity")).as("volume"))
        // materialize through the DataFrame's OWN QueryExecution —
        // count() and even .rdd plan SEPARATE query executions whose
        // adaptive plans never finalize, leaving executedPlan at
        // isFinalPlan=false with no skew markers
        val rows = joined.queryExecution.toRdd.count()
        val finalPlan = joined.queryExecution.executedPlan.toString
        // the row's own line carries the verdict: FAILED via row()
        if (!finalPlan.contains("skew=true"))
          throw new IllegalStateException("split not engaged")
        rows
      } finally {
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }

    // ---- REGISTRY queries at 16×: one shared temp dir of replicated
    // tables, deleted afterwards — leaked temp dirs accumulate across
    // runs (r8 ADVICE)
    val regDir = java.nio.file.Files.createTempDirectory("sc_registry")
    try {
      bigEvents.drop("replica").write.mode("overwrite")
        .parquet(s"$regDir/events.parquet")
      big.write.mode("overwrite").parquet(s"$regDir/documents.parquet")
      // lineitem + orders replicated with a CONSISTENT orderkey shift
      // (the fact-fact join key must survive replication); dims copied.
      // The shift is derived from the ACTUAL key range — a fixed 1e9
      // shift would silently collide keys (over-joined fact-fact rows,
      // wrong timings with no error) if a larger source SF ever pushed
      // o_orderkey past it (r9 ADVICE).
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val keyShift = ord.agg(max(col("o_orderkey"))).collect()(0).getLong(0) + 1L
      (0 until mult).map(i => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i.toLong * keyShift)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$regDir/lineitem.parquet")
      (0 until mult).map(i => ord.withColumn("o_orderkey",
          col("o_orderkey") + lit(i.toLong * keyShift)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$regDir/orders.parquet")
      for (t <- Seq("customer", "supplier", "nation", "region"))
        spark.read.parquet(s"$dir/$t.parquet")
          .write.mode("overwrite").parquet(s"$regDir/$t.parquet")

      // Wedge-join jaccard at 16× orders over the SAME part universe: the
      // co-order graph DENSIFIES (degrees grow with replication), which is
      // the wedge join's actual 100 TB failure mode — candidate pairs are
      // Σdeg², never node-pairwise. Top-20 must stay TakeOrderedAndProject.
      time("node_jaccard_wedge(16x orders)", 90) {
        Queries.all("q_node_jaccard")(spark, regDir.toString).count()
      }
      // Mann–Whitney at 16× rows per user (same user universe): the
      // distinct-value cumulative walk must stay USER-bounded because the
      // per-user decimal sums collapse first.
      time("mann_whitney(16x rows/user)", 60) {
        Queries.all("q_mann_whitney")(spark, regDir.toString).count()
      }
      // r9: grouped scalable quantiles — one job graph over all groups
      time("quantile_bands_grouped(16x)", 60) {
        Queries.all("q_quantile_bands")(spark, regDir.toString).count()
      }
      // r9: classical decomposition — windows stay 25-bounded per type
      time("stl_decompose(16x rows/hour)", 60) {
        Queries.all("q_stl_decompose")(spark, regDir.toString).count()
      }
      // r9: stateful monitor batch faces — pre-aggregated fold input
      // stays days-bounded no matter the row count
      time("z_monitor+srm(16x rows/day)", 60) {
        Queries.all("q_streaming_z_monitor")(spark, regDir.toString).count() +
          Queries.all("q_streaming_srm")(spark, regDir.toString).count()
      }
      // r9: six-table chain at 16× facts — dims broadcast, the
      // fact-fact join shuffles on the (replication-consistent) key
      time("tpch_q5(16x facts)", 90) {
        Queries.all("q_tpch_q5")(spark, regDir.toString).count()
      }
      // r9: KMV sketches — 16× scan, but pairing still sees only
      // sources² · k sketch rows
      time("kmv_set_ops(16x docs)", 60) {
        Queries.all("q_kmv_set_ops")(spark, regDir.toString).count()
      }
    } finally graft.util.Fs.deleteRecursively(regDir)

    // ---- r12 verdict item 6: incremental IVF maintenance cost must be
    // INDEPENDENT of the existing corpus size — the batch is assigned
    // against the k-row centroid table and APPENDED to the assignment
    // table; nothing in the maintenance path reads the old corpus. The
    // row times the identical fixed batch against a 1× and a mult×
    // persisted index and fails if the big-index run costs >2× the
    // small one (pure wall noise headroom; the structural answer is 1×).
    ratioRow("ivf_incremental_maintain", 2.0, "batch-cost must not scale with index") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val trained = graft.ext.Similarity.trainCentroids(
        emb, "vec_id", "embedding", k = 8, iters = 2, trainSampleSize = 256)
      val cents = spark.createDataFrame(
        java.util.Arrays.asList(trained.collect(): _*), trained.schema)
      val batch = emb.select((col("vec_id") + lit(900000000L)).as("vec_id"),
        col("embedding")).localCheckpoint(true)
      val baseAssign = graft.ext.Similarity.assignToCentroids(
        emb, "vec_id", "embedding", cents, "centroid_id", "centroid")
        .localCheckpoint(true)
      (indexMult: Int) => {
        val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfidx")
        try {
          (0 until indexMult).map(i => baseAssign.select(
              (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
              col("embedding"), col("centroid_id")))
            .reduce(_ unionAll _)
            .write.mode("overwrite").parquet(s"$idxDir/assign")
          val t0 = System.nanoTime()
          graft.ext.Similarity.assignToCentroids(batch, "vec_id", "embedding",
              cents, "centroid_id", "centroid")
            .write.mode("append").parquet(s"$idxDir/assign")
          (System.nanoTime() - t0) / 1e9
        } finally graft.util.Fs.deleteRecursively(idxDir)
      }
    }

    // ---- r12 verdict item 4: the index-staleness readout must be
    // O(sample), not O(corpus) — the candidate pool is a fixed 256-row
    // md5-sample, the retrain is Lloyd over that pool, and both searches
    // touch only the pool; the ONLY corpus-dependent cost is the
    // TakeOrdered sample selection (one narrow scan, no shuffle). Timed
    // against a 1x and a mult x corpus with the same frozen centroids;
    // fails if the big-corpus readout costs >2x the small one.
    ratioRow("ivf_staleness_readout", 2.0, "readout must not scale with corpus") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val trained = graft.ext.Similarity.trainCentroids(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
        k = 8, iters = 2, trainSampleSize = 256)
      val cents = spark.createDataFrame(
        java.util.Arrays.asList(trained.collect(): _*), trained.schema)
      val queries = emb.filter(col("vec_id") < 8).localCheckpoint(true)
      (corpusMult: Int) => {
        val corpus = (0 until corpusMult).map(i =>
            emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
              col("embedding")))
          .reduce(_ unionAll _)
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        graft.ext.Similarity.indexStaleness(corpus, "vec_id", "embedding",
          cents, "centroid_id", "centroid",
          queries, "vec_id", "embedding",
          k = 5, nProbe = 4, poolSize = 256).count()
        (System.nanoTime() - t0) / 1e9
      }
    }

    // ---- r13 verdict item 3: retrain-and-swap must be ONE linear
    // encode pass — training is O(sample·k·iters) (corpus-independent
    // by the bounded md5-sample contract) and the re-assign touches
    // each row once against a broadcast k-row centroid table, so the
    // verb's wall must grow at most linearly with the corpus (≤ mult×,
    // parallelism normally absorbs most of it); anything superlinear
    // means the corpus shuffled or the training re-scanned it. 1.2 slack
    // over strict linearity (r14 ADVICE): the container's documented ±20%
    // ambient drift would otherwise flake a verb with little parallelism
    // headroom — same posture as the other rungs' budgets.
    ratioRow("ivf_retrain_swap", mult * 1.2, "retrain is one linear encode pass") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      (corpusMult: Int) => {
        val corpus = (0 until corpusMult).map(i =>
            emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
              col("embedding")))
          .reduce(_ unionAll _)
          .localCheckpoint(true)
        val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfswap")
        try {
          val t0 = System.nanoTime()
          graft.ext.Similarity.ivfRetrainAndSwap(corpus, "vec_id", "embedding",
            idxDir.toString, k = 8, iters = 2, trainSampleSize = 256)
          (System.nanoTime() - t0) / 1e9
        } finally graft.util.Fs.deleteRecursively(idxDir)
      }
    }

    // ---- r12 verdict item 7: groupedExactQuantiles at ≥10k groups —
    // driver state is O(groups × |fracs| + active cells × path depth),
    // i.e. bounded by the RESULT size times refinement depth, never by
    // row count. 20k groups × 200 rows with localLimit=64 forces the
    // histogram-refinement machinery (not the small-group shortcut)
    // through the one-job-graph-per-round path.
    time("grouped_quantiles(20k groups)", 120) {
      val wide = spark.range(0L, 4000000L, 1L, 32)
        .select(concat(lit("g"), pmod(col("id"), lit(20000L))).as("g"),
          pmod(col("id") * lit(2654435761L), lit(1000003L))
            .cast("double").as("v"))
      graft.ext.Stats.groupedExactQuantiles(wide, "g", "v",
        Seq(0.25, 0.5, 0.75, 0.95), bins = 512, localLimit = 64L).count()
    }

    println(s"[scalecheck] all_ok=$allOk")
    allOk
  }
}
