package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines (SURVEY §7.1 step 9):
 * token counting, quality scoring, language-ID heuristic, document
 * fingerprinting. Pure Column algebra — every operator is a scalar
 * projection that stays inside whole-stage codegen; no shuffles, no UDFs —
 * except [[topNgramDominance]], whose argmax-per-doc is a doc-keyed
 * aggregate.
 */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count estimate: every word contributes ⌈len/4⌉
   *  subword tokens (a common serving-side approximation when no
   *  tokenizer is available). Closed form: greedy `\S{1,4}` chunking
   *  counts exactly ⌈len/4⌉ matches per non-space run, so one codegen'd
   *  regexp_count replaces the per-word interpreted HOF fold (which was
   *  5.0 s of q_text_stats at sf0.1 — and counted whitespace-only docs
   *  as 1 token via the empty split artifact; this counts them 0). */
  def approxBpeTokenCount(text: Column): Column =
    regexp_count(text, lit("\\S{1,4}")).cast("long")

  /** BPE-ish regex token count: GPT-2-style pre-tokenizer classes —
   *  contractions, letter runs, digit runs, punctuation runs, whitespace
   *  runs — counted with a codegen'd regexp_count (RE2-compatible, so the
   *  same pattern runs in DuckDB for the oracle). */
  val bpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  def regexTokenCount(text: Column): Column = regexp_count(text, lit(bpeTokenPattern))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / length(text).cast("double"))

  /** Small multilingual stopword table for heuristics (public common words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "que", "en", "un", "una", "es", "por", "con", "para", "no"),
    "de" -> Seq("der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit", "sich", "des", "auf", "für", "nicht"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "en", "que", "qui", "dans", "pour", "pas", "sur"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他", "就", "人", "都", "一", "个"))

  /** Fraction of DISTINCT words that are known stopwords of `lang` —
   *  a vocabulary-level signal (deliberately insensitive to repetition;
   *  [[repetitionRatio]] covers that axis). */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val words = split(trim(lower(text)), "\\s+")
    val stops = array(stopwords(lang).map(lit): _*)
    when(size(words) === 0, 0.0).otherwise(
      size(array_intersect(array_distinct(words), stops)).cast("double")
        / size(array_distinct(words)).cast("double"))
  }

  /** Heuristic quality score in [0,1]: combines length band, punctuation
   *  sanity, mean word length, and stopword presence — the standard cheap
   *  pre-filter before expensive model-based scoring. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val tokens = tokenCount(text)
    val meanWordLen = when(tokens > 0, nChars.cast("double") / tokens.cast("double")).otherwise(0.0)
    val lengthScore = when(nChars.between(100, 10000), 1.0)
      .when(nChars.between(20, 99), 0.5).otherwise(0.1)
    val punctScore = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.3)
    val wordLenScore = when(meanWordLen.between(3.0, 12.0), 1.0).otherwise(0.4)
    val stopScore = when(stopwordRatio(text) >= 0.01, 1.0).otherwise(0.6)
    round((lengthScore * 0.4 + punctScore * 0.2 + wordLenScore * 0.2 + stopScore * 0.2), 6)
  }

  /** Language-ID heuristic: argmax of stopword-hit counts across the known
   *  languages; "und" (undetermined) when nothing matches. */
  def languageId(text: Column): Column = {
    val words = array_distinct(split(trim(lower(text)), "\\s+"))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(size(array_intersect(words, array(stops.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Normalization fingerprint (the classic near-dup "fingerprint method"):
   *  lowercase, strip punctuation, unique words sorted, md5. Two docs with
   *  the same word multiset (up to order/punct/case) collide. */
  def fingerprint(text: Column): Column = {
    val cleaned = regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " ")
    val words = array_sort(array_distinct(
      filter(split(trim(cleaned), "\\s+"), w => length(w) > 0)))
    md5(array_join(words, " "))
  }

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003
   * — the MOSS algorithm): hash every word k-gram, slide a window of
   * `w` consecutive hashes, keep the minimum of each window, dedup.
   * Guarantee: any match of length ≥ w + k − 1 tokens shares at least
   * one selected fingerprint, with expected density 2/(w+1) — the
   * position-robust middle ground between one-hash-per-doc
   * ([[fingerprint]]) and all-shingles ([[Dedup.wordShingles]]).
   *
   * Returns the distinct selected hashes as an array<long>; pure
   * higher-order-function Column (transform/slice/array_min) — narrow,
   * no shuffle, the per-doc cost is O(len · w). Hash = first 32 md5
   * bits (the cross-engine convention), so the selection is
   * value-level oracle-able. Docs with fewer than w k-grams yield an
   * empty selection (guarded: Spark's `sequence(1, n)` counts DOWN for
   * n < 1, unlike SQL generate_series).
   */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    val hashes = transform(graft.functions.GraftFunctions.graftWordNgrams(text, k),
      g => graft.functions.GraftFunctions.graftMd5PrefixLong(g, 8))
    val nWin = size(hashes) - (w - 1)
    val mins = when(nWin >= 1,
      transform(sequence(lit(1), nWin),
        i => array_min(slice(hashes, i, lit(w)))))
      .otherwise(array().cast("array<long>"))
    array_distinct(mins)
  }

  /**
   * Corpus-scale winnowing: same selection as [[winnowFingerprints]]
   * but as a DataFrame operator returning exploded (doc_id, fp) rows.
   * Spark evaluates higher-order-function LAMBDAS interpreted (no
   * codegen inside `transform`), so the Column form pays interpreted
   * md5+conv per gram — 13.8 s at sf0.1; this form explodes first,
   * hashes in a codegen'd projection, and takes the window minimum as
   * a doc-keyed rolling `min` frame — one exchange on doc_id, windows
   * bounded by DOCUMENT length (measured 4.4×faster). The Column form
   * remains for per-row embedding into wider projections at small k·w.
   */
  def winnowFingerprintsDF(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 3, w: Int = 4): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), k))
        .as(Seq("pos", "gram")))
    val hashed = grams.select(col("doc_id"), col("pos"),
      graft.functions.GraftFunctions.graftMd5PrefixLong(col("gram"), 8).as("h"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val frame = byDoc.orderBy(col("pos")).rowsBetween(Window.currentRow, w - 1)
    hashed
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("fp", min(col("h")).over(frame))
      .filter(col("pos") <= col("n") - w) // full windows only (pos 0-based)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Deflate compression ratio — the cheap redundancy signal (templated /
   *  repetitive text compresses far below natural prose). Native
   *  codegen'd expression; see [[graft.functions.DeflateRatio]]. */
  def compressionRatio(text: Column): Column =
    graft.functions.GraftFunctions.graftDeflateRatio(text)

  /** Character-distribution Shannon entropy (bits/char) — the other
   *  cheap redundancy axis: deflate sees REPEATED STRUCTURE, entropy
   *  sees a SKEWED ALPHABET (single-char spam ≈ 0, prose ≈ 4-5, random
   *  base64 ≈ 6). Native codegen'd expression
   *  ([[graft.functions.CharEntropy]]); round before comparing. */
  def charEntropy(text: Column): Column =
    graft.functions.GraftFunctions.graftCharEntropy(text)

  // ---------------------------------------------------------------------
  // Normalization + PII scrubbing (corpus-curation pre-processing)
  // ---------------------------------------------------------------------

  /** Canonical text normalization: lowercase, collapse all whitespace runs
   *  to single spaces, trim. One codegen'd projection; the shared-syntax
   *  regex (no lookaround, no backrefs) runs identically under Java regex
   *  and DuckDB's RE2, so the oracle is exact. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** PII patterns (shared Java-regex/RE2 syntax — no lookaround). Order
   *  matters: emails first (their dot-separated domains would otherwise be
   *  half-eaten by the IP pattern), then IPs, then phone-like runs. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d[\\d() -]{6,}\\d", "<PHONE>"))

  /** Redact emails / IPv4s / phone-shaped runs with typed placeholders. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Repetition ratio over word n-grams: 1 − distinct/total (0 = no
   *  repetition) — the cheap boilerplate/spam signal corpus filters cut
   *  on. Total n-grams is the closed form max(words − n + 1, 0); the
   *  distinct count reuses the native shingle expression. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val words = when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(lower(text)), "\\s+")))
    val total = greatest(words - (n - 1), lit(0))
    val distinctN = size(graft.functions.GraftFunctions.graftWordShingles(text, n))
    when(total === 0, 0.0)
      .otherwise(lit(1.0) - distinctN.cast("double") / total.cast("double"))
  }

  /** Per-category PII hit counts as (name -> count) columns. */
  def piiCounts(text: Column): Seq[(String, Column)] =
    piiPatterns.map { case (name, pat, _) =>
      (s"n_$name", regexp_count(text, lit(pat)).cast("long"))
    }

  /**
   * Frequency-based vocabulary build + per-document OOV scoring — the
   * tokenizer-construction step of a pretraining pipeline: the corpus'
   * `vocabSize` most frequent words (count desc, word asc tie-break)
   * become the vocabulary, and each document is scored by how much of it
   * falls outside (high OOV rate ⇒ noise, code, or a language the vocab
   * does not cover).
   *
   * Scale shape: the word count is a map-side-combinable aggregate (the
   * Zipfian hot keys are absorbed by partial aggregation before the
   * shuffle), the top-K plans as TakeOrderedAndProject (per-partition
   * heaps, no global sort), and the vocabulary joins back BROADCAST —
   * the corpus' exploded tokens never shuffle by word a second time.
   *
   * Returns one row per doc: (doc_id, n_tokens, n_oov, oov_rate).
   */
  def vocabOov(df: DataFrame, textCol: String, idCol: String,
               vocabSize: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), 1)).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(true).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /**
   * Word burstiness — the index of dispersion (variance-to-mean ratio)
   * of per-document counts for the top-`k` corpus words, ZEROS
   * INCLUDED (a word absent from a doc is an observation; computing
   * over only the docs that contain it systematically understates
   * clumping). D ≈ 1 is Poisson (function words); content/topic words
   * burst (D ≫ 1); D < 1 flags templated even-spreading. Variance is
   * the engine-identical avg(x²) − avg(x)² form.
   *
   * Shape: one (doc, word) partial aggregate; the top-k cut is a
   * TakeOrdered; the dense (top-word × doc) grid is k·n_docs rows built
   * from a broadcast of the k words — the corpus never re-tokenizes.
   */
  def wordDispersion(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 20): DataFrame = {
    val counts = df.select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), 1)).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the top-k cut AND the dense join
    val top = counts.groupBy(col("w")).agg(sum(col("c")).as("total"))
      .orderBy(col("total").desc, col("w")).limit(k)
    val grid = broadcast(top).crossJoin(df.select(col(idCol).as("doc_id")))
    val dense = grid.join(counts, Seq("doc_id", "w"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)).cast("double"))
    dense.groupBy(col("w"), col("total"))
      .agg(avg(col("c")).as("mu"),
        (avg(col("c") * col("c")) - avg(col("c")) * avg(col("c"))).as("var"))
      .select(col("w").as("word"), col("total"),
        round(col("mu"), 6).as("mean_per_doc"),
        round(col("var") / col("mu"), 6).as("dispersion"))
  }

  /**
   * Zipf rank–frequency fit: least-squares regression of ln(freq) on
   * ln(rank) over the top-`k` words — natural corpora slope ≈ −1;
   * template/boilerplate mass flattens the head (slope → 0) and
   * synthetic/spam corpora overshoot. Reported with R² as the
   * goodness-of-fit health metric.
   *
   * Shape: one map-side-combined word count, a TakeOrdered top-k cut
   * (never a global sort), and closed-form regression aggregates over
   * the k-row result. All arithmetic replays in SQL: slope =
   * (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), 6-dp rounding.
   */
  def zipfFit(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    val counts = df.select(
        explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), 1)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(k)
    val ranked = counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    ranked.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_words"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(
          pow(col("n") * col("sxy") - col("sx") * col("sy"), 2.0) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /**
   * Vocabulary growth curve (Heaps' law): documents are bucketed by
   * ingestion order (`bucketSize` ids per bucket) and each bucket
   * reports how many NEVER-SEEN-BEFORE words it introduces, plus the
   * running vocabulary size. The curve's flattening is the classic
   * corpus-saturation signal (new data stops adding new vocabulary ⇒
   * more of the same); a sudden spike flags a domain/contamination
   * shift at that ingestion point.
   *
   * Scale shape: one tokenize → a (gram → min doc) aggregate (map-side
   * combined, Zipf head absorbed by partial agg) → a bucket-bounded
   * count and one cumulative window over ≤ (maxId/bucketSize) rows.
   * `n` sets the n-gram order — unigram vocabularies saturate almost
   * immediately (Heaps' exponent falls with corpus size), higher
   * orders keep discriminating.
   */
  def vocabGrowth(df: DataFrame, textCol: String, idCol: String,
                  bucketSize: Long, n: Int = 1): DataFrame = {
    val firstSeen = df.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), n)).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
    val perBucket = firstSeen
      .groupBy(expr(s"first_doc div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("n_new_words"))
    perBucket.withColumn("cum_vocab",
      sum(col("n_new_words")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /**
   * Feature-hashing text embedder (the hashing trick — Weinberger et
   * al., "Feature Hashing for Large Scale Multitask Learning", ICML
   * 2009): term frequencies hashed into `dims` buckets, L2-normalized —
   * the deterministic, vocabulary-free text→vector step that feeds the
   * ANN/clustering family when no learned embedder is available. Bucket
   * = first 32 md5 bits of the word mod dims (the engine's cross-engine
   * hash convention), so the DuckDB oracle is value-level exact.
   *
   * Returned EXPLODED — (doc_id, bucket, tf, weight) for each non-zero
   * component — the natural sparse form (a dims-dense array per doc
   * wastes space at dims ≫ nnz and defeats value-level oracle checks).
   * Scale: one (doc, bucket) count aggregate (map-side combined) and a
   * doc-keyed norm window on its output; the corpus tokenizes once.
   */
  def hashEmbed(df: DataFrame, textCol: String, idCol: String,
                dims: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), 1)).as("w"))
    val bucket = pmod(
      graft.functions.GraftFunctions.graftMd5PrefixLong(col("w"), 8), lit(dims.toLong))
    val tf = toks.groupBy(col("doc_id"), bucket.as("bucket"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
    tf.select(col("doc_id"), col("bucket"), col("tf"),
      round(col("tf").cast("double") /
        sqrt(sum(col("tf") * col("tf")).over(w).cast("double")), 6).as("weight"))
  }

  /**
   * Top n-gram dominance (Gopher-family repetition filter, Rae et al.
   * 2021: "fraction of characters in the most frequent n-gram" — here
   * the occurrence-share variant): for each document, the most frequent
   * word n-gram and its share of all n-gram occurrences. Boilerplate and
   * template spam concentrate mass on one n-gram; natural text does not.
   *
   * The one DataFrame-level operator in this module — argmax-per-doc
   * needs a keyed aggregate, not a scalar projection. Scale shape: the
   * (doc, gram) count is map-side combined and both windows (total,
   * argmax) share one doc_id exchange over its output, so bucket sizes
   * are bounded by DOCUMENT length, never corpus size, and the corpus
   * tokenizes exactly once. Docs with
   * fewer than n words have no n-grams and are absent from the output.
   * Ties break lexicographically on the gram (ASCII-only after
   * lowercasing, so Spark's binary order and the oracle's collation
   * agree).
   */
  def topNgramDominance(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 2): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions.graftWordNgrams(col(textCol), n)).as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("occurrences"))
    // totals derive from the (doc, gram) counts already in hand — a
    // separate grams.groupBy(doc_id) would re-scan and re-tokenize the
    // whole corpus. Both windows share the doc_id partitioning, so one
    // exchange serves the total and the argmax.
    val wDoc = Window.partitionBy(col("doc_id"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("occurrences").desc, col("gram"))
    counts
      .withColumn("total_grams", sum(col("occurrences")).over(wDoc))
      .withColumn("__rn", row_number().over(wRank)).filter(col("__rn") === 1)
      .select(col("doc_id"), col("gram").as("top_gram"), col("occurrences"),
        col("total_grams"),
        round(col("occurrences").cast("double") / col("total_grams").cast("double"), 6)
          .as("dominance"))
  }
}
