package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines
 * (SURVEY §7.1 step 9; beyond the reference's own surface).
 *
 * Scale design (100 TB north star):
 *  - exact dedup is a single hash aggregate on a fixed-width digest — no
 *    wide-row shuffle, map-side partial agg does the heavy lifting;
 *  - MinHash/LSH banding turns O(n²) similarity into per-bucket joins:
 *    shuffle keys are (band, bandHash), bucket sizes are bounded by the
 *    band width choice; candidate verification is a narrow self-join;
 *  - shingle-based joins filter "stop shingles" (shingles appearing in too
 *    many docs) before the self-join — the classic skew guard: without it
 *    one hot shingle key would hold back a 1000-executor cluster;
 *  - everything is built-in Column algebra (codegen'd); no UDFs.
 */
object Dedup {

  /** Driver-state bounds — the bounded-collect inventory (r12 verdict
   *  item 6), asserted by DriverStateSpec so a refactor that unbounds a
   *  driver-side collect fails a test instead of shipping:
   *  [[bloomDecontaminate]] collects AT MOST [[BloomBits]] distinct bit
   *  positions (4 md5 hex chars address exactly 0..65535);
   *  [[duplicateComponents]] collects an edge list ONLY when its counted
   *  size is at most [[LocalUnionFindMaxEdges]] (≈16 MB) — above it the
   *  distributed star-contraction rounds run instead. */
  private[graft] val BloomBits: Int = 1 << 16
  private[graft] val LocalUnionFindMaxEdges: Long = 1L << 20

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Group identical texts by digest: (hash, canonical id = min id, count).
   *  Only the digest shuffles, never the text. */
  def exactDuplicateGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Keep one row per distinct text (the minimum id wins — deterministic,
   *  unlike dropDuplicates which keeps an arbitrary row). */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * QUALITY-AWARE survivorship: per exact-duplicate cluster, the member
   * with the highest `scoreCol` survives (id ascending breaks score
   * ties) — the keep rule production pipelines actually run, where a
   * cluster's best-quality copy wins rather than its lowest id (the
   * duplicates differ in surrounding metadata: source, timestamps,
   * extraction quality). Returns every input row tagged
   * (id, canonical id, is_kept).
   *
   * Scale shape: ONE digest-keyed aggregate — argmax as the
   * lexicographic `max(struct(score, -id))`, which partial-aggregates
   * map-side (a per-cluster ranking window would gather each cluster
   * into one task and carry the text through the shuffle; here only
   * (digest, score, id) partials cross the wire) — broadcast-joined
   * back to the corpus when clusters are few, shuffle-joined otherwise
   * (Catalyst's choice by stats).
   */
  def keepBestDuplicates(df: DataFrame, textCol: String, idCol: String,
                         scoreCol: String): DataFrame = {
    val best = df
      .groupBy(md5(col(textCol)).as("__dg"))
      .agg(max(struct(col(scoreCol).cast("double").as("s"),
        (-col(idCol)).as("ni"))).as("__best"))
      .select(col("__dg"), (-col("__best.ni")).as("canonical_id"))
    df.select(col(idCol), col(scoreCol), md5(col(textCol)).as("__dg2"))
      // NULL-SAFE join: md5(NULL) is NULL, and a plain equi-join would
      // silently DROP every null-text row (groupBy clusters them under
      // the null digest, but `=` never matches NULL) — they must come
      // back tagged like everything else, one null-text cluster
      .join(best, col("__dg2") <=> col("__dg"))
      .select(col(idCol), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("is_kept"))
  }

  // ------------------------------------------------------------------
  // Shingling
  // ------------------------------------------------------------------

  /** Word n-gram shingles of a text column as array<string> (distinct).
   *  Native single-pass expression ([[graft.functions.WordShingles]]): the
   *  Column-algebra `array_distinct(transform(sequence(...), slice ∘
   *  array_join))` chain it replaces ran an interpreted lambda per shingle
   *  (4.9 s just to shingle sf0.1) and threw on any doc with fewer than n
   *  words (`slice(words, 0, n)`); the native loop returns [] there. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.graftWordShingles(text, n)

  /** Character n-gram shingles (distinct), native single-pass. */
  def charShingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.graftCharShingles(text, n)

  /**
   * Benchmark decontamination — the standard pre-training hygiene stage:
   * flag every corpus document sharing ≥ `minOverlap` distinct word
   * n-grams with the evaluation set, so eval data can be dropped from
   * the training corpus.
   *
   * Scale shape: the eval side is distinct shingles only (eval sets are
   * tiny next to the corpus) and BROADCAST, so the corpus is scanned
   * once, exploded to (doc, shingle), hash-joined in place and
   * re-aggregated on doc id — no corpus shuffle by shingle, no skew
   * exposure to hot shingles (the join key lives on the broadcast side).
   *
   * Returns (id, n_overlap, contaminated) for every corpus document.
   */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3, minOverlap: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val evalShingles = evalSet
      .select(explode(wordShingles(col(textCol), n)).as("shingle"))
      .distinct()
    val overlaps = corpus
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap")) // shingles are distinct per doc
    corpus.select(col(idCol).as("id"))
      .join(overlaps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /**
   * Bloom-filter decontamination — the 100 TB scale path for
   * [[decontaminate]]: instead of broadcasting the eval set's distinct
   * shingles (which grows with the eval set), the eval side is compressed
   * into a FIXED 64 Kbit Bloom bitset (kHashes md5-derived positions per
   * shingle), and the corpus side becomes a pure narrow projection — no
   * join at all, not even a broadcast one. A corpus document's shingle
   * "hits" when all `kHashes` bit positions are set; `n_flagged` counts
   * hitting shingles, so `n_flagged >= exact n_overlap` always (Bloom
   * filters have no false negatives — BloomSpec pins this against
   * [[decontaminate]]) and false positives are bounded by the fill
   * factor^kHashes.
   *
   * Fully deterministic (bit position i of shingle s = first 16 bits of
   * md5("i:s")), so the DuckDB oracle reproduces the exact same bitset
   * and the correctness check is value-level despite the approximation.
   *
   * The bounded `.collect()` is the point: at most 65,536 distinct bit
   * positions come back to the driver no matter how large the eval set is.
   */
  def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 3, minOverlap: Int = 5,
                         kHashes: Int = 4): DataFrame = {
    val mBits = BloomBits // 4 hex chars of md5 address exactly 0..65535
    def pos(i: Int, s: Column): Column =
      graft.functions.GraftFunctions.graftMd5PrefixLong(
        concat(lit(i + ":"), s), 4).cast("int")

    val positions = evalSet
      .select(explode(wordShingles(col(textCol), n)).as("s"))
      .distinct()
      .select(explode(array((0 until kHashes).map(i => pos(i, col("s"))): _*)).as("p"))
      .distinct()
      .collect().map(_.getInt(0))
    // Bitset as 1024 packed longs, probed with element_at + shift: O(1)
    // per probe. (A 64 Ki-char '0'/'1' string probed with substr is O(m)
    // per probe — UTF8String.substring walks the bytes — which turned the
    // scan into ~100 GB of memory traffic at sf0.1.)
    val words = new Array[Long](mBits >>> 6)
    positions.foreach(p => words(p >>> 6) |= (1L << (p & 63)))
    val wordsLit = lit(words)

    // forall binds each position to a lambda variable, so every md5 is
    // computed exactly once per (hash, shingle) — naming the subtree
    // inline would evaluate it once per reference in the interpreted
    // higher-order-function path.
    def hit(s: Column): Column =
      forall(array((0 until kHashes).map(i => pos(i, s)): _*), p =>
        call_function("shiftrightunsigned",
            element_at(wordsLit, shiftrightunsigned(p, 6) + 1),
            p.bitwiseAND(lit(63)))
          .bitwiseAND(lit(1L)) === lit(1L))
    corpus
      .select(col(idCol).as("id"),
        size(filter(wordShingles(col(textCol), n), hit _)).cast("long").as("n_flagged"))
      .select(col("id"), col("n_flagged"),
        (col("n_flagged") >= minOverlap).as("contaminated"))
  }

  // ------------------------------------------------------------------
  // n-gram Jaccard near-dup (exact, join-based)
  // ------------------------------------------------------------------

  /**
   * Exact pairwise Jaccard over word n-gram shingle sets, join-based:
   * explode distinct shingles → self-join on shingle → |A∩B| per pair →
   * Jaccard from per-doc set sizes. `maxDocFreq` drops shingles present in
   * more than that many docs before the join (skew + noise guard).
   * Emits (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
   */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Long = 1000L,
                        maxCorpusDocs: Long = MaxExactPairsDocs): DataFrame =
    shinglePairCounts(df, textCol, idCol, n, maxDocFreq, maxCorpusDocs)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("size_a") + col("size_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /**
   * Asymmetric shingle CONTAINMENT pairs — |A∩B|/|A| and |A∩B|/|B|.
   * Symmetric Jaccard misses subset duplication (a short doc quoted
   * whole inside a long one scores near 0 Jaccard but 1.0 containment
   * on the short side); this is the Broder containment variant corpus
   * filters use to catch wrapper/quotation duplicates. Same
   * bounded-bucket join shape as [[ngramJaccardPairs]]; keeps pairs
   * where EITHER direction reaches `minContainment`. Values are exact
   * small-integer ratios in double — identical in any engine, no
   * rounding needed.
   */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, minContainment: Double = 0.9,
                            maxDocFreq: Long = 1000L,
                            maxCorpusDocs: Long = MaxExactPairsDocs): DataFrame =
    shinglePairCounts(df, textCol, idCol, n, maxDocFreq, maxCorpusDocs)
      .withColumn("containment_a", col("common").cast("double") / col("size_a").cast("double"))
      .withColumn("containment_b", col("common").cast("double") / col("size_b").cast("double"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))

  /**
   * Passage-level duplicate statistics — the distributed face of exact
   * substring deduplication (Lee et al. 2022, "Deduplicating Training
   * Data Makes Language Models Better": repeated ≥N-token spans are
   * memorization fuel). The suffix-array construction there is
   * single-machine; the scalable restatement is positional n-gram
   * hashing: every word n-gram occurrence whose gram appears ≥
   * `minCount` times ACROSS THE CORPUS (same-doc repeats included,
   * matching the paper's self-repetition handling) marks its span as
   * duplicated. Per doc: total n-gram positions, duplicated positions,
   * and their ratio — the filter signal (docs above a dup-ratio cut are
   * boilerplate/template mass).
   *
   * Shape: one tokenize, one (doc, gram) partial aggregate (map-side
   * combined), then the global occurrence count rides a gram-keyed
   * window over THAT aggregate — no second corpus scan, no join, no
   * re-tokenize. The window partition fan-in is docs-per-gram, which at
   * n ≥ 8 is flat (long n-grams kill the Zipf head — the reason the
   * paper uses 50-token spans); at small n the maxDocFreq-style guards
   * of the Jaccard family apply instead. Docs with < n words have no
   * grams and are absent, as in the DuckDB oracle.
   */
  def duplicatePassageStats(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 8, minCount: Long = 2L): DataFrame = {
    val perDoc = df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("k"))
    val byGram = Window.partitionBy(col("gram"))
    perDoc
      .withColumn("occ", sum(col("k")).over(byGram))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_grams"),
        sum(when(col("occ") >= minCount, col("k")).otherwise(lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6)
          .as("dup_ratio"))
  }

  /**
   * Maximal duplicated SPANS — the true interval semantics of exact
   * substring dedup ([[duplicatePassageStats]] reports position
   * ratios; this merges the duplicated n-gram windows into maximal
   * spans, the unit Lee et al. actually delete). Every position whose
   * n-gram repeats corpus-wide contributes the token interval
   * [pos, pos+n); overlapping or touching intervals merge
   * (gaps-and-islands on positions: a new span starts where the gap
   * from the previous duplicated position exceeds n). Per doc:
   * span count, duplicated-token total (the union length), and the
   * duplicated-token fraction.
   *
   * Shape: positional explode → gram-keyed occurrence window (positions
   * must survive, so unlike [[duplicatePassageStats]] there is no
   * pre-aggregation — the long-n-gram flatness argument carries the
   * skew load) → one doc-keyed window pass for the island arithmetic.
   * Two keyed exchanges total, both bounded per key.
   */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     n: Int = 4, minCount: Long = 2L): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), n))
        .as(Seq("pos", "gram")))
    val byGram = Window.partitionBy(col("gram"))
    val dupPos = grams
      .withColumn("occ", count(lit(1)).over(byGram))
      .filter(col("occ") >= minCount)
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("new_span",
        when(col("prev").isNull || col("pos") - col("prev") > n, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg((max(col("pos")) - min(col("pos")) + n).as("span_tokens"))
    val totals = df.select(col(idCol).as("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
      .join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 6)
          .as("dup_fraction"))
  }

  /**
   * Duplicate-span REMOVAL — the corpus REWRITE face of exact substring
   * dedup ([[duplicatePassageStats]] and [[duplicateSpans]] report; this
   * produces the training-ready token stream Lee et al. 2022 actually
   * emit): every token covered by a corpus-duplicated n-gram window is
   * deleted, and the surviving tokens are re-joined in order. Per doc:
   * (doc_id, n_tokens, n_kept, n_removed, cleaned_md5) — the md5 of the
   * cleaned space-joined stream keys the output so the whole rewrite is
   * value-checkable without hauling text through the oracle compare; a
   * fully-removed (or empty) doc keeps md5('') and never drops out of
   * the result.
   *
   * Shape: positional tokenize + positional n-gram explode (one pass
   * each), a gram-keyed count aggregate (the hot-gram set, map-side
   * combined) left-semi joined back to the grams, an n-wide bounded
   * coverage explode, one doc-keyed anti-join, and a doc-keyed
   * re-aggregation whose in-group sort is by token position. Nothing
   * quadratic, nothing corpus-keyed. [[duplicateSpans]] keeps its
   * occurrence window on purpose: this aggregate form measured 2–3×
   * slower in that family (OPTIMIZATION_r16.md).
   */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 8, minCount: Long = 2L): DataFrame = {
    // 1-grams of an empty string are [""] under split semantics — an
    // empty doc must contribute NO token rows (cf. LanguageModel.words)
    val tokArr = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), 1))
    val toks = df.select(col(idCol).as("doc_id"),
      posexplode(tokArr).as(Seq("pos", "tok")))
    val grams = df.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), n))
        .as(Seq("gpos", "gram")))
    val dupGrams = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minCount)
      .select(col("gram"))
    val covered = grams
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + lit(n - 1))).as("pos"))
      .distinct()
    val keptAgg = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ")).as("cleaned_md5"))
    df.select(col(idCol).as("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
  }

  /** Shared candidate core of the exact shingle-overlap family:
   *  (id_a, id_b, size_a, size_b, common) for every pair sharing ≥1
   *  surviving shingle, id_a < id_b. */
  /** Loud scale guard for the exact-pairs family (r13 verdict item 5):
    * above this corpus size the family fails with a CLEAR error instead
    * of catastrophically (the r13/r14 sf100 probes measured the
    * unguarded failure mode as a FILLED DISK at the 5M-doc corpus,
    * while the 500k-doc sf10 full ladder completes inside its linear
    * budget — the default sits between, with the LSH twins as the
    * documented production face past it). One count() per call: the
    * verdict-sanctioned cheap corpus-count probe (metadata-fast on
    * parquet sources). */
  val MaxExactPairsDocs: Long = 2000000L

  /** Per-plan memo of the scale-guard corpus count (r14 ADVICE): the
    * probe made every exact-pairs call EAGER and re-ran the full
    * upstream lineage per invocation — a threshold sweep
    * (q_dedup_threshold_curve) paid it once per threshold. Keyed on the
    * canonicalized analyzed plan (structural equality, so re-built
    * DataFrames over the same source hit too); bounded LRU so plan
    * objects don't accumulate across a long session. */
  private val corpusCountMemo = new java.util.LinkedHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, java.lang.Long](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          java.lang.Long]): Boolean = size() > 64
  }

  private def memoizedCount(df: DataFrame): Long = {
    require(!df.isStreaming,
      "the exact-pairs instruments are batch-only (their scale guard " +
        "counts the corpus); for streams use the LSH banding twins")
    val key = org.apache.spark.sql.GraftBridge.analyzed(df).canonicalized
    val hit = corpusCountMemo.synchronized(Option(corpusCountMemo.get(key)))
    hit.map(_.longValue).getOrElse {
      val n = df.count()
      corpusCountMemo.synchronized(corpusCountMemo.put(key, n))
      n
    }
  }

  private def shinglePairCounts(df: DataFrame, textCol: String, idCol: String,
                                n: Int, maxDocFreq: Long,
                                maxCorpusDocs: Long = MaxExactPairsDocs): DataFrame = {
    require(maxCorpusDocs > 0, "maxCorpusDocs must be positive")
    val nDocs = memoizedCount(df)
    require(nDocs <= maxCorpusDocs,
      s"exact shingle-pair join over $nDocs docs exceeds the documented " +
        s"bound ($maxCorpusDocs): this instrument's candidate volume is " +
        "corpus x maxDocFreq and its measured past-bound failure mode is " +
        "a filled disk - use the MinHash/LSH banding twins " +
        "(minhashCandidatePairs / embeddingNearDuplicatesLSHMd5) at this scale")
    // Set sizes must cover exactly the shingles that reach the join: when
    // the stop-shingle guard filters, sizes are recomputed AFTER the
    // filter (a pre-filter denominator against a post-filter intersection
    // would underestimate similarity for every doc containing a hot
    // shingle — two identical docs could fall below threshold). Without
    // the guard, sizes come free from the shingle arrays, no extra pass.
    val sized =
      if (maxDocFreq == Long.MaxValue)
        df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("shingles"))
          .withColumn("set_size", size(col("shingles")))
          .select(col("id"), col("set_size"), explode(col("shingles")).as("shingle"))
      else
        df.select(col(idCol).as("id"),
            explode(wordShingles(col(textCol), n)).as("shingle"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
          .filter(col("df") <= maxDocFreq)
          .drop("df")
          .withColumn("set_size", count(lit(1)).over(Window.partitionBy(col("id"))))

    val a = sized.select(col("id").as("id_a"), col("set_size").as("size_a"), col("shingle"))
    val b = sized.select(col("id").as("id_b"), col("set_size").as("size_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("common"))
  }

  // ------------------------------------------------------------------
  // Duplicate clustering (pairs → components → survivors)
  // ------------------------------------------------------------------

  /**
   * Connected components over a near-duplicate pair list — the step that
   * turns pairwise matches into dedup groups (a chain a~b, b~c is ONE
   * group even though (a, c) was never emitted).
   *
   * Algorithm: alternating large-star / small-star contraction (the
   * published MapReduce connected-components formulation — Kiveris et
   * al., "Connected Components in MapReduce and Beyond", SoCC'14).
   * Each round is two vertex-keyed aggregate+join passes over the EDGE
   * list only; the round count is O(log² n) with small constants
   * (2-4 in practice), NOT O(diameter) like naive min-label propagation —
   * a 10 000-doc duplicate chain converges in a handful of rounds where
   * label propagation needs 10 000. At fixpoint the edge set is a forest
   * of stars rooted at each component's min id.
   *
   * Scale shape: shuffle keys are vertex ids (bounded buckets, no
   * all-pairs); the corpus itself is never touched; `localCheckpoint` per
   * round truncates the iterative lineage so plan size stays constant.
   * Non-convergence within `maxIter` throws rather than returning a
   * silently-wrong clustering.
   *
   * Small-graph fast path: the oriented-distinct edge count is already
   * needed for the convergence gate, so when it is at most
   * `localThreshold` (default 2²⁰ edges ≈ 16 MB) and ids are integral,
   * the component labels come from a driver-side union-find over the
   * collected edge list instead of O(log² n) shuffle rounds — each round
   * costs 4 shuffles + an action in scheduling overhead alone, which
   * dwarfs the work for near-dup edge lists (typically ≪ corpus size
   * even at 100 TB). The collect is bounded by the count CHECK, not by
   * hope: a trillion-edge graph takes the distributed rounds. Both paths
   * return identical labels (min id per component).
   *
   * Returns (id, component) with component = min id in the cluster.
   */
  def duplicateComponents(pairs: DataFrame, maxIter: Int = 50,
                          localThreshold: Long = LocalUnionFindMaxEdges): DataFrame = {
    // canonical direction: u > v (toward the smaller id), self-loops out.
    // `dedup = false` skips the distinct for INTERMEDIATE edge lists
    // (the large-star output feeds a min-aggregate and a join whose
    // output is distinct'd anyway, so duplicates are harmless there —
    // and the skipped distinct is one of the round's four shuffles);
    // round-final and initial edge lists stay distinct, which the
    // count-equality convergence gate relies on.
    def orient(df: DataFrame, dedup: Boolean = true): DataFrame = {
      val oriented = df
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      if (dedup) oriented.distinct() else oriented
    }

    // LAZY checkpoint: the count() just below materializes it — an eager
    // localCheckpoint would run a separate materialization job first, so
    // every round (and this init) would pay two passes instead of one
    var edges = orient(pairs.select(col("id_a").as("u"), col("id_b").as("v")))
      .localCheckpoint(false)
    // vertices from the CHECKPOINTED edges, not from `pairs`: orientation
    // keeps both endpoints of every (distinct-id) pair, and reading pairs
    // again here would re-execute the caller's candidate join — for the
    // Jaccard pipelines, a second full shingle self-join at final-action
    // time
    val vertices = edges.select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id"))).distinct()
    // carry the edge count across rounds: counting the new round's edges
    // once is enough for the cheap gate (previous count is already known)
    var edgeCount = edges.count()
    val idType = edges.schema("u").dataType
    val integralId = idType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralId && edgeCount <= localThreshold) {
      val es = edges.select(col("u").cast("long"), col("v").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        // smaller root becomes the parent -> representative IS the min id
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val labels = es.iterator.flatMap { case (u, v) => Iterator(u, v) }
        .toArray.distinct.map(id => (id, find(id))).toSeq
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toDF("id", "component")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: every neighbor LARGER than u links to u's min
      // neighbor (min over Γ(u) ∪ {u})
      val und = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = und.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val ls = orient(und.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")), dedup = false)
      // small-star: u and all its (smaller) neighbors link to their min
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val withMin = ls.join(ssMin, "u")
      val ss = orient(
        withMin.select(col("v").as("u"), col("m").as("v"))
          .unionByName(withMin.select(col("u"), col("m").as("v"))))
        .localCheckpoint(false) // materialized by the count — one job, not two
      // cheap count gate first — rounds that still contract differ in
      // size, so the exact set compare only runs on the final candidate
      // round(s). Both sides are distinct sets, so equal counts + one
      // empty difference already imply equality.
      val ssCount = ss.count()
      converged = ssCount == edgeCount && ss.exceptAll(edges).isEmpty
      edges = ss
      edgeCount = ssCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
    // fixpoint: edges are stars (id -> component root); roots and any
    // vertex only ever seen as a target map to themselves
    vertices
      .join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** Survivor selection: every document keeps its component's min id as
   *  `canonical_id` (itself when it has no near-duplicate) — the final
   *  keep/drop verdict of the near-dup pipeline. */
  def nearDupSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = duplicateComponents(pairs)
    df.join(comps.withColumnRenamed("id", "__cid"), col(idCol) === col("__cid"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col(idCol)))
      .withColumn("is_survivor", col("canonical_id") === col(idCol))
      .drop("__cid", "component")
  }

  /**
   * Edit-distance verification over near-duplicate CANDIDATE pairs — the
   * generate-cheap / verify-expensive discipline of production dedup: any
   * candidate generator (exact Jaccard join, MinHash LSH, SimHash) emits
   * (id_a, id_b, ...) pairs, and this stage confirms each one with a
   * character-level Levenshtein similarity
   * `1 − dist / max(len_a, len_b)`, keeping pairs at or above
   * `minEditSim`. Shingle similarity is insensitive to word order and
   * local edits; edit similarity is the stricter, order-sensitive check
   * that kills false positives before documents are dropped.
   *
   * Scale shape: the corpus never shuffles — the pair list (bounded by
   * the candidate generator, orders of magnitude smaller than the corpus)
   * is BROADCAST against the text table twice, and the O(len²) dynamic
   * program runs only on confirmed candidates, never all pairs. The
   * similarity is rounded to 6 dp before the threshold cut (the engine's
   * near-tie discipline), and `levenshtein` is the classic unit-cost edit
   * distance in both Spark and DuckDB, so the oracle is value-level
   * exact. Passes through every column of `pairs` and appends
   * (edit_distance, edit_sim).
   *
   * `prefixLen > 0` truncates both sides to that many chars before the
   * distance — the banded-verify bound a corpus-scale run sets so one
   * pathological pair of book-length near-dups can't pin an executor on
   * an O(len²) cell sweep (similarity is then over the prefixes, which
   * for near-dup confirmation is the accepted trade).
   */
  def verifyPairsByEditDistance(df: DataFrame, textCol: String, idCol: String,
                                pairs: DataFrame, minEditSim: Double,
                                prefixLen: Int = 0): DataFrame = {
    val text =
      if (prefixLen > 0) substring(col(textCol), 1, prefixLen) else col(textCol)
    val a = df.select(col(idCol).as("id_a"), text.as("__text_a"))
    val b = df.select(col(idCol).as("id_b"), text.as("__text_b"))
    val withTexts = broadcast(broadcast(pairs).join(a, "id_a")).join(b, "id_b")
    val passthrough = pairs.columns.map(col).toSeq
    withTexts
      .withColumn("edit_distance",
        levenshtein(col("__text_a"), col("__text_b")).cast("long"))
      .withColumn("edit_sim",
        round(lit(1.0) - col("edit_distance").cast("double") /
          greatest(length(col("__text_a")), length(col("__text_b")), lit(1))
            .cast("double"), 6))
      .filter(col("edit_sim") >= minEditSim)
      .select(passthrough :+ col("edit_distance") :+ col("edit_sim"): _*)
  }

  /**
   * Incremental (cross-batch) deduplication — the daily-ingest shape of a
   * training-data pipeline: a new batch arrives and must be deduplicated
   * BOTH against the historical corpus and within itself, without ever
   * re-shuffling the historical texts. The digest is the normalization
   * fingerprint ([[TextAnalysis.fingerprint]]: case/punct/order-
   * insensitive word-set md5), so trivially rewritten copies are caught,
   * not just byte-identical ones.
   *
   * Verdict per new document:
   *  - `dup_of_base`  — its fingerprint exists in the base corpus;
   *  - `dup_in_batch` — new fingerprint, but a smaller-id document in the
   *    same batch already claimed it;
   *  - `unique`       — first sight of the fingerprint anywhere.
   *
   * Scale shape: both sides reduce to (fingerprint) / (id, fingerprint)
   * digests before anything shuffles — the join and the in-batch window
   * move fixed-width hashes only, never text; the base side collapses to
   * distinct digests via a map-side-combined aggregate. At 100 TB the
   * base fingerprint set is the only state carried between runs — the
   * classic dedup-ledger pattern.
   */
  def incrementalDedup(newBatch: DataFrame, base: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val nb = newBatch.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
    val seen = base
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
      .withColumn("__in_base", lit(true))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    nb.join(seen, Seq("fingerprint"), "left")
      .withColumn("__rn", row_number().over(w))
      .select(col("doc_id"), col("fingerprint"),
        when(col("__in_base"), "dup_of_base")
          .when(col("__rn") > 1, "dup_in_batch")
          .otherwise("unique").as("status"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH banding
  // ------------------------------------------------------------------

  /** MinHash signature (array<long>, length k) over a shingle array.
   *  Hash family: h_i = xxhash64(xxhash64(shingle), i) — each shingle's
   *  string is hashed once, the family derives from the 8-byte base hash.
   *  Deterministic and ANSI-overflow-safe (no 64-bit multiply). */
  def minhashSignature(shingles: Column, k: Int = 128): Column = {
    val hashes = transform(shingles, s => xxhash64(s))
    aggregate(
      hashes,
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (a, i) => least(a, xxhash64(h, i))))
  }

  /** (id, sig) MinHash signatures via the native [[graft.functions.MinHashAgg]]
   *  typed aggregate — the scale path used by the near-dup pipeline. The
   *  earlier k-separate-`min()`-columns formulation was map-side combined
   *  too, but its generated aggregate code grows with k and at k=128 janino
   *  COMPILATION dominated the query (near-identical wall time at sf0.01 and
   *  sf0.1). The typed aggregate keeps one fixed k-long buffer per doc and a
   *  tight update loop (ObjectHashAggregate, partial agg + spill fallback) —
   *  same shuffle shape, constant-size codegen. Hash family is bit-identical
   *  to [[minhashSignature]]: slot i of shingle-hash h is xxhash64(h, i). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        n: Int, k: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
    exploded.groupBy(col("id"))
      .agg(graft.functions.GraftFunctions.graftMinhashAgg(col("h"), k).as("sig"))
  }

  /**
   * LSH candidate pairs: split the k-wide signature into `bands` bands of
   * k/bands rows; docs sharing any full band land in the same bucket.
   * Returns distinct (id_a, id_b) candidates, id_a < id_b. The shuffle key
   * is (band index, band hash) — bounded buckets, no O(n²).
   */
  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, k: Int = 128, bands: Int = 32,
                            maxBucketSize: Long = Long.MaxValue): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sig = minhashSignatures(df, textCol, idCol, n, k)

    val allBanded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(array_join(transform(slice(col("sig"), b * rows + 1, lit(rows)),
          x => x.cast("string")), ",")))).as(Seq("band", "band_hash")))
    // hot-bucket cap (same valve as the simhash path): a bucket of b docs
    // contributes b²/2 candidate pairs, so one giant near-exact-dup
    // cluster dominates the verify stage; buckets past the cap are
    // DROPPED — a deliberate, documented truncation (such clusters are
    // exact-dedup's job, which runs first in the curation composite).
    // Default ∞ keeps the registered queries' semantics bit-identical.
    val banded =
      if (maxBucketSize == Long.MaxValue) allBanded
      else allBanded
        .withColumn("__bs", count(lit(1))
          .over(Window.partitionBy(col("band"), col("band_hash"))))
        .filter(col("__bs") <= maxBucketSize)
        .drop("__bs")

    val l = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact-Jaccard verification of (id_a, id_b) candidate pairs against
   *  the docs' shingle sets — the shared tail of every LSH family.
   *
   *  `hashed = true` intersects xxhash64-hashed shingle arrays instead of
   *  the strings: identical |A∩B|/|A∪B| up to a 64-bit collision inside
   *  one pair's union (~10⁻¹⁵ across a corpus), and the per-pair arrays
   *  the candidate join shuffles shrink from ~20 B/shingle strings to
   *  8 B longs. At clone-cluster duplicate density the verify shuffle is
   *  THE minhash cost (measured: 5000 docs × 16 near-identical copies →
   *  600k true pairs × two ~6 KB arrays), so the production path hashes;
   *  the md5 oracle twin keeps strings, which its DuckDB replica replays
   *  byte-for-byte. */
  private def verifyJaccard(df: DataFrame, textCol: String, idCol: String,
                            n: Int, candidates: DataFrame,
                            threshold: Double,
                            hashed: Boolean = false): DataFrame = {
    val sets = wordShingles(col(textCol), n)
    val shingled = df.select(col(idCol).as("id"),
      (if (hashed) transform(sets, s => xxhash64(s)) else sets).as("shingles"))
    val withA = candidates.join(shingled.withColumnRenamed("id", "id_a")
      .withColumnRenamed("shingles", "sh_a"), Seq("id_a"))
    val withB = withA.join(shingled.withColumnRenamed("id", "id_b")
      .withColumnRenamed("shingles", "sh_b"), Seq("id_b"))
    withB
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash near-dup: LSH candidates verified with exact Jaccard
   *  (hashed-shingle verify — the production scale path). */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, k: Int = 128, bands: Int = 32,
                            threshold: Double = 0.7,
                            maxBucketSize: Long = Long.MaxValue): DataFrame =
    verifyJaccard(df, textCol, idCol, n,
      minhashCandidatePairs(df, textCol, idCol, n, k, bands, maxBucketSize),
      threshold, hashed = true)

  /**
   * MinHash near-dup under the md5 hash family — the ORACLE-CHECKABLE
   * variant: slot i of shingle s is the 32-hex-char string
   * md5(i || ':' || s) and the signature is the per-slot lexicographic
   * MIN (a min over any total order on a uniform hash family is a valid
   * MinHash). Bands hash as md5 of the comma-joined slot strings. Every
   * intermediate is a deterministic string both Spark and DuckDB compute
   * identically, so the full candidate set — not just the verified
   * Jaccard values — has a value-level SQL oracle. The production path
   * stays the native xxhash64 family ([[minhashNearDuplicates]], typed
   * aggregate, no per-slot md5); DedupRecallSpec pins that family's
   * recall, the DuckDB gate pins this one's values.
   *
   * Scale shape matches the production path: ONE doc-keyed signature
   * aggregate ([[graft.functions.MinHashMd5Agg]] — map-side combined,
   * fixed k×16-byte buffer per doc) and a (band, band_hash) candidate
   * join — bounded buckets, never O(n²); the md5-per-(shingle, slot)
   * cost is the price of cross-engine replay, k× the hashing of the
   * typed aggregate. (The earlier Column form exploded each shingle k
   * ways into a (id, slot) exchange and re-shuffled into a
   * collect_list-per-band aggregate — two exchanges and a k× row
   * blow-up the single-pass aggregate removes; slot values and band
   * hashes are bit-identical, r16.)
   */
  def minhashNearDuplicatesMd5(df: DataFrame, textCol: String, idCol: String,
                               n: Int = 3, k: Int = 64, bands: Int = 16,
                               threshold: Double = 0.05): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sig = df
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("s"))
      .groupBy(col("id"))
      .agg(graft.functions.GraftFunctions.graftMinhashMd5Agg(col("s"), k).as("sig"))
    // band b = slots [b·rows, (b+1)·rows) in slot order, hashed as the
    // md5 of their comma-join — exactly the old collect_list/array_sort
    // reassembly, read straight off the ordered signature array
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        md5(array_join(slice(col("sig"), b * lit(rows) + lit(1), lit(rows)), ","))))
        .as(Seq("band", "band_hash")))
    val l = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccard(df, textCol, idCol, n, candidates, threshold)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over word shingles: per bit, sum +1/-1 votes of each
   *  shingle's xxhash64 bit; sign → bit. Returns a long column.
   *
   *  Single pass: hash each shingle once, then fold a 64-wide vote
   *  accumulator — not 64 separate aggregates each rehashing every
   *  shingle (measured 115s → ~2s on 500 docs). */
  def simhash(shingles: Column): Column = {
    val hashes = transform(shingles, s => xxhash64(s))
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(hashes, array_repeat(lit(0L), 64), (acc, h) =>
      zip_with(acc, bitIdx, (a, b) =>
        a + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, bitIdx, (v, i) =>
        when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** (id, sig) SimHash signatures via the native [[graft.functions.SimHashAgg]]
   *  typed aggregate (65-slot counter buffer, map-side combined) — replaces
   *  the 64-separate-`sum()`-bit-counter formulation whose generated
   *  aggregate code scaled with the bit width (janino compile cost). Bit b
   *  is set iff ones > zeros ⇔ 2·ones > |shingles| — identical to
   *  [[simhash]]; docs with zero shingles drop out (they cannot be
   *  bigram near-dups). */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 2): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
    exploded.groupBy(col("id"))
      .agg(graft.functions.GraftFunctions.graftSimhashAgg(col("h")).as("sig"))
  }

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming`: bucket by `maxHamming + 1`
   *  bit chunks — if two signatures differ in at most `maxHamming` bits,
   *  at least one of the `maxHamming + 1` chunks is bit-identical
   *  (pigeonhole), so candidate generation is a bounded equi-join on
   *  (chunk index, chunk value), never O(n²). Chunk width is
   *  ⌈64 / (maxHamming+1)⌉; the default maxHamming=3 gives the classic
   *  4 × 16-bit scheme.
   *
   *  `maxBucketSize` (off by default) drops (chunk_idx, chunk) buckets
   *  holding more than that many docs before the join — the same
   *  doc-frequency skew guard the Jaccard join uses. Natural-language
   *  SimHash bits are highly correlated (frequent shingles vote the same
   *  way in every doc), so a few "global mode" chunk values can hold a
   *  large fraction of the corpus; at cluster scale one hot bucket would
   *  hold back the whole stage. Capping trades bounded recall loss (a
   *  true pair survives unless ALL its equal chunks are hot) for a
   *  bounded join — the knob a 100 TB run needs. */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3,
                            maxBucketSize: Long = Long.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 63]")
    val chunks = maxHamming + 1
    val width = (64 + chunks - 1) / chunks
    // maxHamming=0 gives width=64, where (1L << 64) wraps to 1 (JVM
    // shifts mod 64) and the mask would zero every chunk — all docs in
    // one bucket, exactly the O(n²) degeneration this bucketing prevents
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sigs = simhashSignatures(df, textCol, idCol)
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until chunks).map(i =>
        shiftright(col("sig"), i * width).bitwiseAND(mask)): _*)).as(Seq("chunk_idx", "chunk")))
    val bucketed =
      if (maxBucketSize == Long.MaxValue) chunked
      else chunked
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(col("chunk_idx"), col("chunk"))))
        .filter(col("bsz") <= maxBucketSize)
        .drop("bsz")
    val l = bucketed.select(col("chunk_idx"), col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = bucketed.select(col("chunk_idx"), col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hammingDistance(col("sig_a"), col("sig_b")).as("hamming"))
      // filter BEFORE dedup: the hamming cut drops most candidates, so the
      // distinct's shuffle only carries survivors (order matters at scale)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * SimHash near-dup under the md5 hash family — the ORACLE-CHECKABLE
   * variant (same role as [[minhashNearDuplicatesMd5]]): shingle s hashes
   * to the 64-bit value spelled by the first 16 hex chars of md5(s); bit b
   * of that value is bit (b mod 4) of hex nibble (b div 4), so every bit
   * is reachable with only string/int ops both Spark and DuckDB implement
   * identically (instr on a hex alphabet + shiftright). The signature is
   * kept as a 64-char '0'/'1' string (bit b at position b+1) — chunking is
   * substring, hamming is a char-compare fold, and no signed-64-bit
   * edge cases exist in either engine.
   *
   * Semantics mirror [[simhashNearDuplicates]] exactly: per-bit ±1 votes,
   * sign → bit, maxHamming+1 chunks (pigeonhole), bounded equi-join on
   * (chunk_idx, chunk), exact hamming verify. The production path stays
   * the native xxhash64 typed aggregate; this family trades k×64 md5
   * string ops for cross-engine replayability, same shuffle shape.
   */
  def simhashNearDuplicatesMd5(df: DataFrame, textCol: String, idCol: String,
                               n: Int = 2, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 63]")
    val chunks = maxHamming + 1
    val width = (64 + chunks - 1) / chunks
    val voted = df
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("s"))
      .select(col("id"), md5(col("s")).as("h"))
      .select(col("id"), explode(sequence(lit(0), lit(63))).as("b"), col("h"))
      .select(col("id"), col("b"), expr(
        // bit b of the hex value, as a ±1 vote
        "(shiftright(instr('0123456789abcdef', substring(h, CAST(b div 4 AS INT) + 1, 1)) - 1," +
          " CAST(b % 4 AS INT)) & 1) * 2 - 1").as("vote"))
    val sigs = voted
      .groupBy(col("id"), col("b")).agg(sum(col("vote")).as("v"))
      .select(col("id"), col("b"), when(col("v") > 0, lit("1")).otherwise(lit("0")).as("bit"))
      .groupBy(col("id"))
      .agg(concat_ws("", transform(array_sort(collect_list(struct(col("b"), col("bit")))),
        x => x.getField("bit"))).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until chunks).map(c =>
        substring(col("sig"), c * width + 1, width)): _*)).as(Seq("chunk_idx", "chunk")))
    val l = chunked.select(col("chunk_idx"), col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk_idx"), col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr(
        "CAST(aggregate(sequence(1, 64), 0, (acc, i) -> " +
          "acc + IF(substring(sig_a, i, 1) = substring(sig_b, i, 1), 0, 1)) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }
}
