package graft

import org.apache.spark.sql.SparkSession

/** One local-session recipe for every main (Verify, Bench and the
  * [[Tools]] subcommands) — a config fix applied here (e.g.
  * a new required legacy flag) cannot silently diverge between the
  * correctness gate and the benchmark. UTC, classic (non-ANSI) casts,
  * TIMESTAMP(NANOS) surfaced as long. */
object GraftSession {
  def local(cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // the engine's SQL surface: graft_* native functions + the as-of
      // lowering rule, injected the way a cluster deployment would
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate adds `size(e) > 0` above every explode;
      // when e is an ALIAS of a computed array, predicate pushdown then
      // inlines the full defining expression into the filter, so every
      // row evaluates the array TWICE (optimization guide §4.4's
      // duplicated-evaluation trap, with native expressions). In this
      // engine the exploded arrays are the compiled rule-validation
      // arrays — the heaviest projections on the flagship path — and
      // they are NEVER empty by construction (every rule emits a
      // verdict), so the inferred filter prunes nothing and costs a
      // second full rule evaluation per row (measured: the explode-
      // consuming validation family runs 1.2-1.6x slower with the rule
      // on; plans/r15/q_error_histogram_parquet_before.txt shows the
      // inlined duplicate). Scale-independent: the duplication is
      // per-row CPU, so the fix transfers to any cluster size.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // AQE partition coalescing sizes post-shuffle stages by BYTES with
      // a 1 MiB floor (coalescePartitions.minPartitionSize). This
      // engine's hot stages are expression-heavy over FEW bytes (shingle
      // windows, quality/language scoring, MinHash slots: ~µs/row over
      // kB/row), so byte-sized coalescing serializes CPU-bound stages
      // onto 1-8 tasks whenever data-per-core < 1 MiB — which also
      // flattens the core-count scaling the harness measures. 256 KiB
      // keeps CPU-bound stages parallel in that regime and is NEUTRAL at
      // scale: any stage with >= 1 MiB/core of shuffle bytes coalesces
      // exactly as before (parallelismFirst targets bytes/parallelism,
      // this floor only binds below it). Interleaved A/B (3 rounds,
      // median-of-3 each, anchors comparable): q_corpus_curation
      // 4.3-4.8 s -> 3.0-3.3 s, q_corpus_curation_lsh 3.1 -> 2.2-2.5 s,
      // q_jaccard_pairs 0.87x, with the many-tiny-exchange rows
      // (q_nb_lang_id, q_ngram_novelty) flat at 256 KiB where a 64 KiB
      // floor regressed them ~1.3x on task overhead.
      // Overridable for measurement/deployment: SPARK_GRAFT_MIN_COALESCE.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "256k"))
      // codegen compile cache: the default 100 entries thrash across a
      // 322-query session (each query generates several codegen units;
      // repeated fragments — same-table scans, shared subpipelines —
      // regenerate byte-identical source that would otherwise recompile
      // through janino). Static conf, so it must be set at session build;
      // entries hold compiled classes (weak classloader keys), a few MB
      // at this size. Env-overridable for measurement.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
    // SPARK_GRAFT_CODEGEN_ONLY=1: the per-round codegen audit — every
    // expression must compile (no interpreted fallback), so a new
    // expression that silently falls off the codegen path fails loudly
    if (sys.env.get("SPARK_GRAFT_CODEGEN_ONLY").contains("1"))
      b.config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
        .config("spark.sql.codegen.fallback", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
