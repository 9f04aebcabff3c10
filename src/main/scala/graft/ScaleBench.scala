package graft

import org.apache.spark.sql.SparkSession

/**
 * GATED scale-ladder bench (r10 verdict item 3): runs the full query
 * registry against a scaled-up dataset (built by [[ScaleData]]) with a
 * per-query wall-clock budget derived from a committed base-SF board,
 * and prints an `all_ok` verdict — so a quadratic regression fails
 * LOUDLY instead of hiding in a one-off evidence run. The r10 ladder
 * found six quadratic formulations exactly this way; this tool makes
 * the ladder a permanent tripwire.
 *
 * Budget per query = max(floor, mult × base-SF seconds): a LINEAR
 * allowance at `mult`× the data plus an absolute floor that absorbs
 * sub-second base timings and fixed session costs (structured-streaming
 * startup, broadcast build) that do not scale with data. Linear is a
 * deliberately generous per-query ceiling (the r10 aggregate at 10× ran
 * 1.79×) — the gate exists to catch super-linear blowups, which
 * overshoot it by an order of magnitude (the six r10 finds ran 31–140×),
 * not to police constant factors, which BENCHDETAIL tracks at base SF.
 *
 *   sbt "runMain graft.Tools scalebench BENCHDETAIL_r15.json target/sf1 10"
 *
 * Output: one `[scalebench]` line per query + a final Bench-format JSON
 * line with per-query seconds, per-query ok, and `all_ok`. Committed
 * per round as SCALEBENCH_r{N}.txt. A registry query missing from the
 * baseline gets the floor-only budget and a loud `no-base` marker —
 * regenerate the baseline board when that happens.
 */
object ScaleBench {
  /** Extracts the `"queries":{...}` per-query seconds from a Bench
    * output line (the committed BENCHDETAIL files). Anchored to the
    * LAST line carrying the `"queries":{` object itself (ADVICE r12:
    * anchoring on `"metric":` could select trailing log noise that
    * merely ECHOES a metric token — e.g. a shutdown INFO line quoting
    * the output — and fail or mis-parse) and cross-checked
    * pair-for-pair against the body's `:` count — a nested field
    * sneaking in before `queries`, or a multi-line rewrite of the
    * bench format, fails HERE instead of silently degrading every
    * budget to floor-only (ADVICE r11). */
  private[graft] def parseBaseline(json: String): Map[String, Double] = {
    val candidates = json.linesIterator.filter(_.contains("\"queries\":{")).toSeq
    require(candidates.nonEmpty, "baseline JSON has no \"queries\" line")
    // prefer the LAST line that PASSES the pair-for-pair ':' cross-check
    // (ADVICE r13: anchoring on the last token-bearing line recurs the
    // echo-in-trailing-noise failure if shutdown noise quotes the
    // queries object itself — a noisy last line must not veto a valid
    // JSON line above it)
    def parse(line: String): Option[Map[String, Double]] = {
      val start = line.indexOf("\"queries\":{")
      val end = line.indexOf("}", start)
      if (end <= start) None
      else {
        val body = line.substring(start + "\"queries\":{".length, end)
        val pairs = "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        if (pairs.nonEmpty && pairs.size == body.count(_ == ':')) Some(pairs)
        else None
      }
    }
    candidates.reverseIterator.flatMap(parse(_)).nextOption().getOrElse(
      throw new IllegalArgumentException(
        s"no line with a well-formed \"queries\" object among " +
          s"${candidates.size} candidates — bench JSON format drifted"))
  }

  /** Standing corpus-scale probe families: the proven scale-path set
    * every sf100 probe includes regardless of where the round's board
    * ranks them — dedup (exact digest, LSH bands, simhash, bloom,
    * incremental), ANN lifecycle (trained, incremental, retrain-swap),
    * curation/ingest composites, sequential windows, the heavy
    * relational rows, and the column profiler whose melt defect the
    * r13 probe caught. Composed with the baseline top-quartile under
    * `@scalepath` and always minus [[SparkEntry.nonScalePath]]. */
  private[graft] val StandingProbeFamilies: Set[String] = Set(
    "q1_agg", "q_tpch_q5", "q_join_revenue", "q_sessions",
    "q_events_sequential", "q_ingest_funnel",
    "q_dedup_exact", "q_dedup_drop", "q_incremental_dedup",
    "q_minhash_pairs_md5", "q_simhash_pairs_md5", "q_bloom_decontaminate",
    "q_embed_neardup_lsh_md5", "q_ann_lsh_md5", "q_semantic_dedup",
    "q_ivf_trained", "q_ivf_incremental", "q_ivf_retrain",
    "q_corpus_curation_lsh_md5", "q_column_profile", "q_colocation_sliced")

  /** Runs the filtered registry (all of it when `filter` is None) at
    * `sfDir`, each query against its budget; true when every query ran
    * within it. `filter` is a comma list of registry names or
    * `@scalepath[:seed]`. */
  def run(spark: SparkSession, baselinePath: String, sfDir: String, mult: Double,
          floorSec: Double, filter: Option[String]): Boolean = {
    val baseline = parseBaseline(
      scala.io.Source.fromFile(baselinePath).getLines().mkString("\n"))
    // `@scalepath` (r13 verdict item 4): probe composition is MECHANIZED,
    // not prose — top-cost quartile of the baseline board ∪ the standing
    // scale-path families, MINUS the exact-instrument registry annotation
    // (SparkEntry.nonScalePath). Any explicit comma list still works.
    val only = filter.map {
      case spec if spec.startsWith("@scalepath") =>
        val quartile = baseline.toSeq.sortBy(-_._2)
          .take(math.max(1, baseline.size / 4)).map(_._1).toSet
        val core = (quartile ++ StandingProbeFamilies) -- SparkEntry.nonScalePath
        // `@scalepath:<seed>` (r14 verdict item 8): ROTATE 12 extra
        // scale-path rows in per round, deterministically seeded (the
        // round tag), so every oracle query sees the sf100 probe at
        // least once across rounds instead of the same top-quartile
        // forever. The rotation is printed into the artifact so the
        // composition stays auditable.
        val rotation = spec.stripPrefix("@scalepath").stripPrefix(":") match {
          case "" => Set.empty[String]
          case seed =>
            val pool = (SparkEntry.queries.keySet -- core --
              SparkEntry.nonScalePath).toSeq.sorted
            val picked = pool.sortBy { n =>
              val d = java.security.MessageDigest.getInstance("MD5")
                .digest(s"$seed:$n".getBytes("UTF-8"))
              String.format("%032x", new java.math.BigInteger(1, d))
            }.take(12).toSet
            println(s"[scalebench] @scalepath rotation seed=$seed adds: " +
              picked.toSeq.sorted.mkString(","))
            picked
        }
        val composed = core ++ rotation
        println(s"[scalebench] @scalepath composed ${composed.size} queries " +
          s"(quartile=${quartile.size} standing=${StandingProbeFamilies.size} " +
          s"rotation=${rotation.size} " +
          s"excluded=${(quartile ++ StandingProbeFamilies).count(SparkEntry.nonScalePath)})")
        composed
      case list =>
        val names = list.split(",").toSet
        Tools.unknownQueries(names).foreach(e => throw new IllegalArgumentException(e))
        names
    }

    // the SAME harness Bench uses — budgets compare baseline seconds
    // against these, so the measurement must be identical
    def run(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      BenchHarness.run(spark, sfDir, "scalebench")(name, fn)

    run("warmup", SparkEntry.queries("q1_agg"))
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val base = baseline.get(name)
        val budget = math.max(floorSec, base.getOrElse(0.0) * mult)
        val t0 = System.nanoTime()
        val ran = run(name, fn)
        val secs = (System.nanoTime() - t0) / 1e9
        val ok = ran && secs <= budget
        println(f"[scalebench] $name ${secs}%.1f s (budget ${budget}%.1f s" +
          s"${if (base.isEmpty) ", no-base" else ""}, " +
          f"${if (ok) "ok" else "OVER"})")
        (name, secs, ok)
      }
    println(BenchHarness.jsonLine("scalebench_total", results, sfDir,
      extraFields = s""""mult":$mult,"""))
    results.forall(_._3)
  }
}
