package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Machine-checked plan-shape regressions — the scale claims of PLANS.md
 * as assertions, so a refactor that silently loses pushdown, broadcast,
 * or the single-exchange shape fails the suite instead of the next
 * 100 TB run. Uses the INITIAL physical plan (deterministic; AQE runtime
 * improvements like exchange reuse are audited separately in PLANS.md).
 */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.executedPlan.toString

  /** Formatted-mode explain: executedPlan.toString truncates long
    * FileScan attribute lists, so pushed-filter pins that sit past the
    * truncation point must read the full per-node detail instead. */
  private def planFull(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).length

  private val codeGen = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** `body`'s result and every event the named loggers raise while it
    * runs, at every level (the shared session's root level is ERROR). */
  private def logged[T](loggers: String*)(body: => T)
      : (T, Seq[org.apache.logging.log4j.core.LogEvent]) = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { events.add(e.toImmutable); () }
    }
    capture.start()
    loggers.foreach { name =>
      val lc = new LoggerConfig(name, org.apache.logging.log4j.Level.ALL, false)
      lc.addAppender(capture, null, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    try {
      val result = body
      import scala.jdk.CollectionConverters._
      (result, events.asScala.toSeq)
    } finally {
      loggers.foreach(cfg.removeLogger)
      ctx.updateLoggers()
      capture.stop()
    }
  }

  test("q1_agg: filter pushed to the parquet scan, pruned read schema, one exchange") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment")) // pruning: untouched wide column never read
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_join_revenue: every dimension broadcast, fact side never shuffles for the join") {
    val p = plan("q_join_revenue")
    assert(count(p, "BroadcastHashJoin") == 3)
    assert(count(p, "SortMergeJoin") == 0)
    // single exchange: the final groupBy(r_name) — not one per join
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_topk_orders: TakeOrderedAndProject, no global sort exchange") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange rangepartitioning") == 0)
  }

  test("q_tpch_q3: all three filters pushed, dims broadcast, top-10 is TakeOrdered") {
    val p = plan("q_tpch_q3")
    assert(p.contains("GreaterThan(l_shipdate"))
    assert(p.contains("LessThan(o_orderdate"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(count(p, "BroadcastHashJoin") == 2)
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange rangepartitioning") == 0, "top-10 must not global-sort")
    // one exchange: the groupBy(orderkey, ...) partial agg — none per join
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_tpch_q5: six-table chain — lineitem never shuffles for a join") {
    val p = plan("q_tpch_q5")
    assert(p.contains("EqualTo(r_name,ASIA)"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
    assert(count(p, "BroadcastHashJoin") == 5)
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "Exchange hashpartitioning") == 1) // final groupBy only
  }

  test("q_tpch_q18: fact reduces BEFORE any join; filtered keys broadcast back") {
    val p = plan("q_tpch_q18")
    // the HAVING-filtered per-order aggregate is the build side — the
    // big tables never join each other unfiltered
    assert(count(p, "BroadcastHashJoin") == 2)
    assert(count(p, "SortMergeJoin") == 0)
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange rangepartitioning") == 0)
  }

  test("q_tpch_q17: correlated scalar aggregates decorrelate — no per-row subquery") {
    val p = plan("q_tpch_q17")
    // the two correlated scalar aggregates become grouped aggregates
    // broadcast-joined back on the part key (the count-bug-correct
    // LeftOuter form); nothing re-executes per outer row
    assert(!p.contains("ScalarSubquery"), "scalar subquery must decorrelate")
    assert(p.contains("LeftOuter"), "count-subquery needs the outer-join (count-bug) form")
    assert(p.contains("EqualTo(p_brand,Brand#4)"), "part slice pushed to the scan")
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q_tpch_q20: nested semi-join chain — INs become LeftSemi, scalar sum joins back") {
    val p = plan("q_tpch_q20")
    // 3 = supplier-IN + part-IN + the part-domain constraint Catalyst
    // replicates into the correlated-sum branch (so the all-time total
    // aggregates only the selected parts, not the whole fact table)
    assert(count(p, "LeftSemi") == 3, "IN subqueries must plan as left-semi joins")
    assert(!p.contains("ScalarSubquery"), "correlated sum must decorrelate")
    assert(p.contains("StringStartsWith(p_name,small)"), "LIKE prefix pushed to the scan")
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q_tpch_q21: EXISTS→semi, NOT EXISTS→anti, top-100 is TakeOrdered") {
    val p = plan("q_tpch_q21")
    assert(count(p, "LeftSemi") == 1)
    assert(count(p, "LeftAnti") == 1)
    assert(p.contains("EqualTo(o_orderstatus,F)"))
    assert(p.contains("EqualTo(l_returnflag,R)"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange rangepartitioning") == 0, "top-100 must not global-sort")
  }

  test("q_tpch_q22: uncorrelated scalars run ONCE, NOT EXISTS is a broadcast anti-join") {
    val p = plan("q_tpch_q22")
    // the global count/sum cuts appear as one-time Subquery results in
    // the filter — never a per-row or join re-execution
    assert(p.contains("Subquery subquery"), "scalar cuts must plan as one-time subqueries")
    assert(count(p, "LeftAnti") == 1)
    assert(count(p, "BroadcastHashJoin") == 1)
    assert(p.contains("GreaterThan(o_totalprice,450000.0)"), "anti-side filter pushed")
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q_tpch_q2: correlated min decorrelates to a per-part aggregate joined back") {
    val p = plan("q_tpch_q2")
    assert(!p.contains("ScalarSubquery"), "correlated min must decorrelate")
    assert(count(p, "BroadcastHashJoin") == 3)
    assert(p.contains("EqualTo(p_brand,Brand#2)"))
    assert(p.contains("LessThan(p_size,10)"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q_tpch_q4: EXISTS with non-equi correlate — semi join carries the inequality") {
    val p = plan("q_tpch_q4")
    assert(count(p, "LeftSemi") == 1)
    assert(!p.contains("ScalarSubquery"), "EXISTS must decorrelate, not re-execute")
    // the cross-table inequality rides the semi join as its residual condition
    assert(p.contains("l_shipdate") && p.contains("+ INTERVAL '60' DAY"),
      "non-equi correlate must ride the join condition")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1997-01-01T00:00)"),
      "outer window pushed to the orders scan")
  }

  test("q_tpch_q7: nation-pair IN pushed to BOTH dim scans, one exchange total") {
    val p = plan("q_tpch_q7")
    // the pair disjunction implies n_name IN (N1,N2) on each nation lookup —
    // Catalyst must push that union to both scans, not evaluate it post-join
    assert(count(p, "In\\(n_name, \\[NATION_1,NATION_2\\]\\)") == 2)
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1996-01-01T00:00)"))
    assert(count(p, "SortMergeJoin") == 0)
    // single exchange: the final (supp, cust, year) groupBy
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_tpch_q10: returnflag pushed, group-then-top-20 is TakeOrdered") {
    val p = plan("q_tpch_q10")
    assert(p.contains("EqualTo(l_returnflag,R)"), "return slice pushed to the fact scan")
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange rangepartitioning") == 0, "top-20 must not global-sort")
    // one exchange: the customer-key aggregate
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_tpch_q12: conditional counts ride one pass — partial aggs, one exchange") {
    val p = plan("q_tpch_q12")
    assert(planFull("q_tpch_q12").contains("EqualTo(l_returnflag,N)"),
      "slice pushed to the fact scan")
    assert(p.contains("partial_sum"), "CASE counts must combine map-side")
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_tpch_q14: single-row ratio — both conditional sums in ONE aggregate") {
    val p = plan("q_tpch_q14")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-09-01T00:00)"))
    // numerator and denominator share one scan + one aggregate, not two jobs
    assert(count(p, "HashAggregate") == 2, "one partial + one final aggregate")
    assert(count(p, "Exchange SinglePartition") == 1, "global agg gathers once")
  }

  test("q_tpch_q19: OR-of-ANDs — equi key extracted (hash join), disjunct unions pushed per side") {
    val p = plan("q_tpch_q19")
    assert(!p.contains("NestedLoop"),
      "common p_partkey conjunct must be extracted so the join stays hash")
    // each side's disjunct union becomes a pushed data-skipping filter
    val pf = planFull("q_tpch_q19")
    assert(pf.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0),LessThanOrEqual(l_quantity,11.0))"),
      "quantity-range union pushed to the lineitem scan")
    assert(pf.contains("And(EqualTo(p_brand,Brand#12),LessThanOrEqual(p_size,5))"),
      "brand/size union pushed to the part scan")
  }

  test("q_tpch_q6: all three range filters pushed, 4-column pruned scan, no join") {
    val pf = planFull("q_tpch_q6")
    assert(pf.contains("GreaterThanOrEqual(l_shipdate,1997-01-01T00:00)"))
    assert(pf.contains("GreaterThanOrEqual(l_discount,0.05)"))
    assert(pf.contains("LessThan(l_quantity,24.0)"))
    assert(pf.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate"), "scan must prune to the four touched columns")
    val p = plan("q_tpch_q6")
    assert(!p.contains("Join"), "single-table aggregate must not plan a join")
    assert(count(p, "Exchange SinglePartition") == 1)
  }

  test("q_tpch_q13: slice pushed under a PRESERVED left outer, two aggregates") {
    val p = plan("q_tpch_q13")
    assert(p.contains("LeftOuter"), "zero-order customers must survive")
    assert(planFull("q_tpch_q13").contains("Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))"),
      "the slice belongs on the orders scan, not a post-join filter")
    // per-customer count then count histogram: two distinct agg keys
    assert(count(p, "Exchange hashpartitioning") == 2)
  }

  test("q_tpch_q8: seven-table join — every dim broadcast at gate SF, BOTH share sums in one aggregate") {
    // static plan: pushed filters + the hinted fixed-cardinality
    // broadcasts. part/cust/sup carry NO hint (ADVICE r11 — they scale
    // with SF; a forced broadcast would OOM the driver at 100 TB), so
    // their broadcast-ness is a RUNTIME decision pinned on the final
    // AQE plan below.
    val p = plan("q_tpch_q8")
    assert(p.contains("EqualTo(p_type,STANDARD)"))
    assert(p.contains("EqualTo(r_name,AMERICA)"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01T00:00)"))
    val df = Queries.all("q_tpch_q8")(spark, dir)
    df.collect()
    // the executed AdaptiveSparkPlan prints BOTH the final and the
    // initial plan — pin only the final section
    val whole = df.queryExecution.executedPlan.toString
    val f = whole.split("== Initial Plan ==")(0)
    assert(count(f, "BroadcastHashJoin") == 7,
      "at gate SF every dim sits under autoBroadcastJoinThreshold: " +
        "part/orders/cust/supp + nation·2/region hops all broadcast")
    assert(count(f, "SortMergeJoin") == 0)
    assert(count(f, "HashAggregate") == 2, "CASE-share numerator and denominator ride ONE partial+final pair")
  }

  test("q_tpch_q9: infix LIKE pushed as StringContains, part gates lineitem before orders") {
    val p = plan("q_tpch_q9")
    assert(p.contains("StringContains(p_name,bolt)"), "the LIKE belongs on the part scan")
    assert(count(p, "BroadcastHashJoin") == 4)
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "Exchange hashpartitioning") == 1, "the (nation, year) groupBy is the only shuffle")
    // join order: the LIKE-pruned part broadcast applies to lineitem FIRST
    // (the amount projection sits directly above the part join)
    val amountLine = p.linesIterator.find(_.contains("AS amount")).get
    assert(p.indexOf(amountLine) < p.indexOf("AS o_year"),
      "profit must be computed before the orders join widens the row")
  }

  test("q_tpch_q11: global thresholds are TWO one-time scalar subqueries, never per-row") {
    val p = plan("q_tpch_q11")
    // TWO scalar subqueries (count and sum of the view), each printed
    // twice (the Filter's reference + the node definition)
    assert(count(p, "Subquery subquery") == 4, "count and sum each plan as one reusable scalar")
    assert(count(p, "Exchange SinglePartition") == 2, "one global count + one global sum")
    assert(count(p, "LeftSemi") == 3, "the nation IN becomes a broadcast semi on all three view copies")
    assert(count(p, "NestedLoop") == 0)
    // runtime: AQE reuses the per-part aggregate exchange between the main
    // side and the scalar side — the view is computed once, not twice
    val df = Queries.all("q_tpch_q11")(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "the shared view's exchange must be reused at runtime")
  }

  test("q_tpch_q15: max-over-view joins back broadcast; AQE reuses the view's exchange") {
    val p = plan("q_tpch_q15")
    assert(count(p, "BroadcastHashJoin") == 2, "the 1-row max and the supplier dim both broadcast")
    assert(count(p, "Exchange SinglePartition") == 1, "one global max")
    assert(count(p, "Exchange rangepartitioning") == 0)
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01T00:00)"))
    val df = Queries.all("q_tpch_q15")(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "the revenue view must compute once — its l_suppkey filter is stated " +
        "explicitly so both subtrees canonicalize equal")
  }

  test("q_tpch_q16: NOT IN is a broadcast null-aware anti join, distinct-count is two-level") {
    val p = plan("q_tpch_q16")
    assert(p.contains("LeftAnti"), "the excluded-supplier NOT IN must become an anti join")
    assert(count(p, "BroadcastHashJoin") == 2)
    assert(p.contains("LessThan(s_acctbal,0.0)"), "the complaints slice belongs on the supplier scan")
    // count(DISTINCT): dedup aggregate on (brand,type,size,suppkey) then the
    // count — two exchanges, no global expand
    assert(count(p, "Exchange hashpartitioning") == 2)
    assert(count(p, "HashAggregate") == 4)
  }

  test("q_ode_field_validations: zero exchanges — validation is partition-parallel") {
    val p = plan("q_ode_field_validations")
    assert(count(p, "Exchange ") == 0)
  }

  test("q_ode_sequential: the whole window suite rides ONE exchange on the file key") {
    val p = plan("q_ode_sequential")
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_dedup_exact: only the digest shuffles, with map-side partial aggregation") {
    val p = plan("q_dedup_exact")
    assert(count(p, "Exchange hashpartitioning") == 1)
    // what crosses the shuffle is the partial-agg output row: the digest
    // grouping expression + min/count, never the text column
    val partialOut = p.linesIterator
      .find(l => l.contains("partial_min")).get
      .split("output=").last
    assert(!partialOut.contains("text#"),
      s"the text column must not cross the shuffle: $partialOut")
  }

  test("q_sessions: lag, island id and session agg all ride ONE user_id exchange") {
    val p = plan("q_sessions")
    assert(count(p, "Exchange hashpartitioning") == 1)
    assert(p.contains("user_id"))
  }

  test("q_windowed_agg: one partial-agg exchange on the window keys") {
    val p = plan("q_windowed_agg")
    assert(count(p, "Exchange hashpartitioning") == 1)
    assert(p.contains("partial_"))
  }

  test("q_ann_brute_force: query side broadcast, corpus never shuffles for the join") {
    val p = plan("q_ann_brute_force")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    // corpus → window top-k needs the one per-query exchange, nothing more
    assert(count(p, "Exchange hashpartitioning") <= 1)
  }

  test("q_partitioned_scan: the event_type filter prunes DIRECTORIES, not rows") {
    val p = plan("q_partitioned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      "partition filter must reach the scan")
    // pruned read: the type filter never appears as a post-scan row filter
    assert(!p.contains("PushedFilters: [IsNotNull(event_type"))
  }

  test("q_upsert_latest: merge rides ONE exchange on the key") {
    val p = plan("q_upsert_latest")
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_stream_interval_join: user-key exchanges, no nested-loop pair blowup") {
    val p = plan("q_stream_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q_decontaminate: eval shingles broadcast — corpus never shuffles by shingle") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    // at most ONE shingle-keyed exchange: the distinct over the tiny
    // EVAL side feeding the broadcast — the corpus side only ever
    // exchanges on doc id (overlap agg)
    assert(count(p, "hashpartitioning\\(shingle") <= 1)
  }

  test("q_budget_fill: the corpus never sorts — no range exchange, broadcast semi-join back") {
    val p = plan("q_budget_fill")
    // the whole point of bucket-granular fill: no per-row rank over a
    // (group)-partitioned window of the corpus, so no corpus sort beyond
    // the tiny bucket frame's window; rows re-enter via broadcast
    assert(count(p, "Exchange rangepartitioning") == 0, "corpus must not globally sort")
    assert(p.contains("BroadcastHashJoin"), "kept buckets re-join by broadcast")
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q_semantic_dedup: centroids broadcast, no cartesian; pairs key on the cell") {
    val p = plan("q_semantic_dedup")
    // assignment = corpus × broadcast k-row centroid table (the explicit
    // crossJoin(broadcast(...)) plans as BroadcastNestedLoopJoin — k rows,
    // bounded); the within-cell pair join must be an EQUI join on
    // centroid_id, never an unkeyed pair blowup
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid assign is broadcast")
    assert(count(p, "CartesianProduct") == 0, "no unkeyed corpus pair join")
    assert(p.contains("hashpartitioning(centroid_id") ||
      p.contains("BroadcastHashJoin"), "pairs key on the cell id")
  }

  test("q_vocab_oov: top-K vocab is TakeOrdered; it re-joins the tokens broadcast") {
    val p = plan("q_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), "vocab cut must be per-partition heaps")
    assert(count(p, "Exchange rangepartitioning") == 0, "no global sort")
    assert(p.contains("BroadcastHashJoin"), "vocab joins back broadcast")
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q_jaccard_pairs: the shingle self-join REUSES one exchange, not two scans") {
    // both sides of the exact-Jaccard self-join are the same
    // scan→shingle→explode subtree shuffled on the shingle key; Catalyst
    // must plan ONE exchange plus a ReusedExchange, or the corpus pays
    // the shingle explode twice
    val df = Queries.all("q_jaccard_pairs")(spark, dir)
    df.collect() // AQE: reuse is visible in the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    assert(count(p, "ReusedExchange") >= 1, "shingle exchange must be reused")
  }

  test("q_image_dedup / q_audio_dedup: narrow decode, one grouping exchange, no joins") {
    for (name <- Seq("q_image_dedup", "q_audio_dedup")) {
      val p = plan(name)
      // fingerprint dedup = mapPartitions decode + ONE window exchange on
      // the fingerprint key; any join or extra exchange means bytes moved
      // twice
      assert(count(p, "Exchange hashpartitioning") == 1, s"$name: one exchange")
      assert(count(p, "Join") == 0, s"$name: no joins")
    }
  }

  test("training sample: (md5, id)-ordered limit plans as TakeOrdered, not a global sort") {
    // the 100 TB posture of sampled codebook training rests on the
    // sample selection being a per-partition top-N heap — a global sort
    // exchange over the corpus would defeat the point
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ext.Similarity.trainingSample(e, "vec_id", 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "sample must be TakeOrdered")
    assert(count(p, "Exchange rangepartitioning") == 0, "no global sort exchange")
  }

  test("q_dsir_select: ratio table broadcast — tokens never shuffle by a Zipfian key") {
    val p = plan("q_dsir_select")
    // the bucket-keyed scoring join must be broadcast (bucket-bounded
    // model side), never a sort-merge join on the token/bucket key
    assert(count(p, "SortMergeJoin") == 0, "scoring join fell to SMJ")
    assert(count(p, "BroadcastHashJoin") >= 1)
    assert(p.contains("TakeOrderedAndProject"), "selection must be TakeOrdered")
  }

  test("q_nb_lang_id: the model joins broadcast; argmax rides one doc window") {
    val p = plan("q_nb_lang_id")
    assert(count(p, "SortMergeJoin") == 0, "model join fell to SMJ")
    assert(count(p, "BroadcastHashJoin") >= 2) // model + priors
  }

  test("q_winnow_fps: hashing is codegen'd projection, windows ride ONE doc exchange") {
    val p = plan("q_winnow_fps")
    // the rolling-min frame and the doc count share the doc_id
    // partitioning; distinct adds its own hash exchange on (doc, fp)
    assert(count(p, "Exchange hashpartitioning") <= 2)
    assert(count(p, "SortMergeJoin") == 0 && count(p, "CartesianProduct") == 0)
  }

  test("q_pca_top: covariance is an aggregate, iterations stay broadcast-small") {
    val p = plan("q_pca_top")
    assert(count(p, "CartesianProduct") == 0, "no cartesian in the iteration")
    assert(count(p, "Exchange rangepartitioning") == 0, "no global sort anywhere")
  }

  test("q_kn_score: every model table joins broadcast, bigram stream never shuffles") {
    val p = plan("q_kn_score")
    assert(count(p, "SortMergeJoin") == 0,
      "a shuffle join would key the exploded corpus on Zipfian bigrams")
    assert(count(p, "BroadcastHashJoin") >= 3) // c12, hist, cont
  }

  test("q_zorder_stats: interleave is codegen'd arithmetic — no sort, no window") {
    val p = plan("q_zorder_stats")
    assert(count(p, "Exchange rangepartitioning") == 0)
    assert(!p.contains("Window"))
    // the two-value bounds row joins back broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("q_equidepth_bins: exact percentiles without a global sort") {
    val p = plan("q_equidepth_bins")
    assert(count(p, "Exchange rangepartitioning") == 0,
      "percentile must plan as a typed aggregate buffer, not a sort")
  }

  test("q_knn_classify: corpus scans, never shuffles — all joins broadcast") {
    val p = plan("q_knn_classify")
    assert(count(p, "SortMergeJoin") == 0)
    // exchanges only on the (queries x k)-bounded frames: top-k window,
    // vote groupBy, winner window — never the corpus
    assert(count(p, "Exchange hashpartitioning") <= 3)
  }

  test("q_column_profile: pruned per-column distincts, no multi-distinct funnel, no melt") {
    val p = plan("q_column_profile")
    // basic stats + one COLUMN-PRUNED scan per profiled column (the r13
    // sf100 probe OOM'd the old melted (col, value-string) formulation);
    // counts derived from the query's own column list (r13 ADVICE)
    val n = Queries.profileCols.size
    assert(count(p, "Scan parquet") == n + 1)
    assert(!p.contains("Expand"),
      "the multi-distinct rewrite would funnel every value into one reducer")
    assert(count(p, "Exchange hashpartitioning") == n,
      "one native-type dedup exchange per profiled column")
  }

  test("q_ode_config2_full: 43-rule select is fenced; every codegen unit compiles") {
    // r13 verdict item 1: the shipped config_2.ini wide select overflowed
    // janino's 64 KB method limit inside WholeStageCodegen and silently
    // fell back to interpreted evaluation. The select now runs as a
    // FencedProject (row-mode codegen, reduceCodeSize splitting); this pin
    // force-compiles every codegen unit — a reintroduced overflow THROWS
    // here instead of hiding behind Spark's fallback.
    val exec = Queries.all("q_ode_config2_full")(spark, dir)
      .queryExecution.executedPlan
    assert(exec.toString.contains("FencedProject"),
      "the wide validation select must run as a fenced row-mode projection")
    val (stages, fenced) =
      org.apache.spark.sql.GraftBridge.compileCodegenStages(exec)
    assert(fenced == 1)
    assert(stages >= 1, "the rest of the plan must stay whole-stage codegen'd")
  }

  test("sub-threshold giant-payload suite: the compile-aware fence catches " +
      "what the count threshold misses (r14 verdict item 2)") {
    // 30 sections — fewer than the shipped 43 — but each carries a
    // payload big enough that the UN-fenced wide select overflows janino
    // — exactly the silent-interpreted-fallback class a section-count
    // fence could not see. The pipeline must probe-compile and fence.
    import graft.model.{FieldRule, FieldTypes, FixedTime, ValidationSuite}
    import graft.pipeline.ValidationPipeline
    import org.apache.spark.sql.types.StructType
    val nRules = 30
    // timestamp rules are the payload-heavy class: the dateutil parse
    // chain + python-repr error strings generate far more code per
    // section than an enum (whose value list folds to one InSet)
    val t0 = java.time.Instant.parse("2020-01-01T00:00:00Z")
    val t1 = java.time.Instant.parse("2030-01-01T00:00:00Z")
    val suite = ValidationSuite("json", sequential = false, hasHeader = false,
      rules = (0 until nRules).map(i =>
        FieldRule(path = s"f$i", fieldType = FieldTypes.Timestamp,
          earliestTime = Some(t0), latestTime = Some(FixedTime(t1)))))
    val records = spark.range(8).select(
      org.apache.spark.sql.functions.lit("giant.json").as("file") +:
        (0 until nRules).map(i => org.apache.spark.sql.functions
          .concat(org.apache.spark.sql.functions.lit("v"),
            org.apache.spark.sql.functions.col("id")).as(s"f$i")): _*)
    // vacuousness guard: the un-fenced formulation of this very suite
    // really fails codegen today
    val schema = StructType(records.schema.fields.filterNot(_.name == "file"))
    val unfenced = records.withColumn("validations",
      graft.rules.RuleCompiler.validationsColumn(suite, schema))
    val overflows =
      try {
        org.apache.spark.sql.GraftBridge.compileCodegenStages(
          unfenced.queryExecution.executedPlan)
        false
      } catch { case scala.util.control.NonFatal(_) => true }
    assert(overflows,
      "vacuous: the giant-payload suite should overflow un-fenced codegen " +
        "(grow the payload if janino got roomier)")
    // the probe's failed compile is an answer, not a fault: its own WARN
    // is the one log line, with no CodeGenerator ERROR (and janino trace)
    val (out, events) = logged(codeGen, "graft.pipeline.ValidationPipeline$")(
      ValidationPipeline.validateRecords(records, suite))
    assert(!events.exists(e => e.getLoggerName == codeGen &&
      e.getLevel == org.apache.logging.log4j.Level.ERROR),
      "the fence probe logged a CodeGenerator ERROR")
    assert(events.exists(e => e.getLevel == org.apache.logging.log4j.Level.WARN &&
      e.getMessage.getFormattedMessage.contains("fencing the projection")),
      "the fence probe's own WARN is missing")
    val exec = out.queryExecution.executedPlan
    assert(exec.toString.contains("FencedProject"),
      "the probe must fence a sub-threshold suite whose codegen overflows")
    val (_, fenced) =
      org.apache.spark.sql.GraftBridge.compileCodegenStages(exec)
    assert(fenced == 1, "the fenced projection itself must compile zero-error")
    assert(out.selectExpr("size(validations)").head().getInt(0) == nRules)
  }

  test("q_ode_field_validations: 22-rule select stays whole-stage (and compiles)") {
    // The other side of the fence: the head-to-head odejson suite
    // compiles in-stage and is 1.45× faster un-fenced — a probe that
    // fences it (or a suite growth past janino's limit) shows up here.
    val exec = Queries.all("q_ode_field_validations")(spark, dir)
      .queryExecution.executedPlan
    assert(!exec.toString.contains("FencedProject"),
      "the 22-rule suite must NOT be fenced — it whole-stage compiles")
    val (stages, fenced) =
      org.apache.spark.sql.GraftBridge.compileCodegenStages(exec)
    assert(fenced == 0)
    assert(stages >= 1)
  }

  test("q_ode_error_histogram: both branches read the persisted validated frame") {
    // the sequential suite's histogram reads `validated` under the
    // per-file aggregate AND under the sequential windows; the query
    // persists it, so the text is scanned once, inside the cache
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val helper = new AdaptiveSparkPlanHelper {}
    try {
      val exec = Queries.all("q_ode_error_histogram")(spark, dir)
        .queryExecution.executedPlan
      val cached = helper.collect(exec) { case s: InMemoryTableScanExec => s }
      assert(cached.size == 2, s"expected both branches on the cache:\n$exec")
      assert(cached.map(_.relation.cacheBuilder).distinct.size == 1)
      assert(helper.collect(exec) { case s: FileSourceScanExec => s }.isEmpty,
        "a branch re-scans the text outside the cache")
      assert(helper.collect(cached.head.relation.cachedPlan) {
        case s: FileSourceScanExec => s }.size == 1)
    } finally spark.catalog.clearCache()
  }

  test("q_ode_file_totals: the sequential verdict folds in by union — no join") {
    // each file's sequential verdict is one more record of its totals,
    // so the totals need no join back to a second per-file aggregate
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    try {
      val exec = Queries.all("q_ode_file_totals")(spark, dir)
        .queryExecution.executedPlan
      val cached = helper.collect(exec) { case s: InMemoryTableScanExec =>
        s.relation.cachedPlan }
      assert(cached.nonEmpty, s"expected the persisted validated frame:\n$exec")
      val joins = (exec +: cached).flatMap(p => helper.collect(p) { case j: BaseJoinExec => j })
      assert(joins.isEmpty, s"join in the totals plan:\n$exec")
    } finally spark.catalog.clearCache()
  }

  test("q_metric_datums: the four families group once — one exchange, no union") {
    val p = plan("q_metric_datums")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Union"), p)
  }

  test("q_geo_radius_join: probe halo broadcasts — the point table never shuffles") {
    val p = plan("q_geo_radius_join")
    assert(p.contains("BroadcastExchange"))
    assert(count(p, "Exchange hashpartitioning") == 0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_geo_cellcount: one map-side-combined exchange on the cell key") {
    val p = plan("q_geo_cellcount")
    assert(count(p, "Exchange hashpartitioning") == 1)
    assert(p.contains("partial_count") || p.contains("HashAggregate"))
  }

  test("q_trip_segments: segmentation, legs and trip agg ride ONE user exchange") {
    val p = plan("q_trip_segments")
    assert(count(p, "Exchange hashpartitioning") == 1,
      "the (key, trip) roll-up must reuse the key window's exchange")
  }

  test("q_colocation: halo equi-join — no cartesian, bounded exchanges") {
    val p = plan("q_colocation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "spatio-temporal candidates must come from the composite-key equi-join")
  }

  test("q_cms_topk: the sketch broadcasts, top-k is TakeOrdered not a sort") {
    val p = plan("q_cms_topk")
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange rangepartitioning") == 0)
  }

  test("q_scd2_history: islands, intervals and lead all ride ONE custkey exchange") {
    val p = plan("q_scd2_history")
    assert(count(p, "Exchange hashpartitioning") == 1)
  }

  test("q_interval_bucket_join: bucket EQUI-join — never a nested loop") {
    val p = plan("q_interval_bucket_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the containment predicate must ride the bucket equi-join")
  }

  test("q_rfm: no single-partition window — ranks come from range exchanges") {
    val p = plan("q_rfm")
    assert(!p.contains("Window "), "ntile must not plan as a global window")
    // the only SinglePartition is the 1-ROW global count, broadcast back
    assert(count(p, "Exchange SinglePartition") == 1)
    assert(p.contains("BroadcastExchange"))
  }

  test("q_touch_attribution: both models ride ONE user exchange (r8)") {
    val p = plan("q_touch_attribution")
    // the two-branch union formulation planned the window subtree
    // (scan + user exchange + sort) twice; the explode form must not
    assert(count(p, "Exchange hashpartitioning") == 2,
      "expected exactly the user window exchange + the final group")
    assert(count(p, "Scan parquet") == 1)
    assert(p.contains("Generate")) // the model explode
  }

  test("runtime bloom filter injects on a selective shuffled join (r8)") {
    // the 100 TB lever Catalyst adds for free when the plan is
    // declarative: a selective dimension filter materializes a bloom
    // filter that prunes the FACT side before its shuffle. Thresholds
    // lowered to fire at test scale (the creation side must look small,
    // the application side non-trivial); broadcast disabled so the join
    // actually shuffles — the broadcast form wouldn't need the filter.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a bloom-filter runtime filter on the probe side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_pca_top: covariance is join-free and iterations are localized (r15)") {
    // r15 optimization pins: the covariance used to SELF-JOIN the
    // exploded corpus on vec_id (SortMergeJoin + two sort exchanges of
    // every centered component) and the power-iteration fold embedded
    // each iteration's plan twice (2^iters lineage, 40 SMJs at iters=3).
    // Now: in-row centering + double-posexplode (no join anywhere) and
    // per-iteration localize() truncation — the final plan must carry
    // ZERO joins of any strategy and no vec_id exchange.
    val p = plan("q_pca_top")
    assert(count(p, "SortMergeJoin") == 0, s"covariance self-join is back:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      "the corpus is being shuffled by vec_id again")
  }

  test("q_weighted_median: the readout aggregates hash-side, never a SortAggregate (r15)") {
    // min(price), not min(struct(price, wgt)): struct-min is not
    // hash-aggregable and forced a SortAggregate + full sort of the
    // at-or-above half of the corpus; the plain min map-side combines.
    val p = plan("q_weighted_median")
    assert(count(p, "SortAggregate") == 0,
      s"struct-min readout fell back to SortAggregate:\n$p")
  }

  test("unpartitioned windows only consume bounded inputs (r16, verdict item 10)") {
    // Every Window.orderBy-without-partitionBy site in the engine is
    // documented as bounded (bins / top-k / per-bucket aggregates), but
    // nothing PINNED that: an edit moving a corpus-sized frame onto one
    // of these single-partition windows would only surface as a 100 TB
    // straggler. For each covering query, every WindowExec with an empty
    // partitionSpec must sit above a cardinality-bounding operator — an
    // aggregate (group-key-bounded), a limit / TakeOrdered (k-bounded),
    // or a local relation.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    def bounded(p: SparkPlan): Boolean = flatten(p).exists {
      case _: BaseAggregateExec | _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: LocalTableScanExec => true
      case _ => false
    }
    // one query per unpartitioned-window site family: trainCentroids
    // seeds, vocab rank/growth, BPE vocab rank, CDF-over-bins, exact
    // order statistics, experiment spines, RRF's two k-row rank inputs
    val covering = Seq("q_ivf_trained", "q_vocab_coverage", "q_vocab_growth",
      "q_bpe_vocab", "q_mann_whitney", "q_survival_curve", "q_churn_hazard",
      "q_peak_concurrency", "q_rrf_fusion", "q_ks_drift", "q_robust_stats",
      "q_equidepth_bins", "q_zipf_fit", "q_top_ngram")
    covering.foreach { q =>
      val p = Queries.all(q)(spark, dir).queryExecution.executedPlan
      val unpartitioned = flatten(p).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      unpartitioned.foreach { w =>
        assert(bounded(w.child),
          s"$q: unpartitioned window over an UNBOUNDED input — a corpus-" +
            s"sized frame would land on one partition:\n$w")
      }
    }
  }
}
