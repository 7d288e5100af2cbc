package graft

import org.apache.spark.sql.functions._

import graft.operators.Bucketing

/** Physical-plan guards: the shapes the 100 TB design depends on must not
  * regress — dimension joins broadcast, scans prune + push filters,
  * top-k avoids a global sort, bucketed fact joins avoid the shuffle.
  */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Every declared query's executed plan (adaptive wrapper unwrapped),
    * by name — built once for the whole-surface sweeps. */
  private lazy val allPlans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    for ((name, mk) <- SparkEntry.queries.toSeq.sortBy(_._1))
      yield name -> (mk(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
  }

  test("dimension join is broadcast, not shuffled") {
    val p = plan("q_join_broadcast_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("scan prunes columns and pushes filters") {
    val df = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("date-partitioned layout prunes partitions at scan time") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables(spark, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("order_year") === 1997)
    val p = pruned.queryExecution.executedPlan.toString
    // the year predicate lands in PartitionFilters (not a data filter) →
    // non-matching directories are never read
    assert(p.contains("PartitionFilters: [isnotnull(order_year") &&
      p.contains("(order_year") && p.contains("= 1997)"),
      s"partition filter missing:\n$p")
    assert(pruned.count() > 0)
    assert(pruned.count() < Tables(spark, dir, "orders").count())
  }

  test("KS and Spearman never window-sort raw rows in a single task") {
    // Guard for the distributed prefix-sum forms: a Window with an EMPTY
    // partition spec sorts its whole input into one task, which is only
    // acceptable over a pre-aggregated (bucket-totals) frame. Every other
    // window must partition by more than the 3-value return flag.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def hasAggBelow(p: SparkPlan): Boolean =
      p.collectFirst { case a: BaseAggregateExec => a }.isDefined
    for (q <- Seq("q_ks_test", "q_spearman")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        // AQE wraps the whole query; collect() does not descend into it
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: expected window operators")
      windows.foreach { w =>
        if (w.partitionSpec.isEmpty || w.partitionSpec.size == 1 &&
          w.partitionSpec.head.references.exists(_.name == "l_returnflag")) {
          assert(hasAggBelow(w.child),
            s"$q: global/low-cardinality window over raw rows:\n$w")
        }
      }
    }
  }

  test("similarity/near-dup family plans stay off the quadratic path") {
    // LSH dedup joins on band keys (equi), ngram-jaccard broadcasts the
    // probe side, range join buckets the interval axis — none of them may
    // degenerate into a cartesian or nested-loop pair explosion.
    for (q <- Seq("q_dedup_minhash_lsh", "q_ngram_jaccard", "q_corpus_clean",
        "q_range_join")) {
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop:\n$p")
    }
    val ngram = SparkEntry.queries("q_ngram_jaccard")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(ngram.contains("BroadcastHashJoin"),
      s"probe side of q_ngram_jaccard must broadcast:\n$ngram")
  }

  /** The in-plan adaptive band width (SimilarityQueries.bandParams) cross-
    * joins a ONE-ROW broadcast params frame — that plans as a
    * `BroadcastNestedLoopJoin … Cross` (possibly carrying the pushed-down
    * explode-emptiness predicate over graft_rpbands), which is the
    * intended bounded shape (same as RangeBuckets' interval join), NOT a
    * pair explosion. A nested loop of any OTHER join type / condition (a
    * theta pair join over ids or similarity) is the quadratic regression
    * this test guards against. */
  private def assertNoPairNestedLoop(q: String, p: String): Unit = {
    assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      val t = l.trim
      val benign = t.matches(".*BroadcastNestedLoopJoin Build(Left|Right), Cross") ||
        (t.contains(", Cross, ") && t.contains("graft_rpbands("))
      assert(benign, s"$q plans a conditioned nested loop (pair join):\n$l\n$p")
    }
  }

  test("banded LSH family: equi band joins, broadcast probe sides") {
    // probe-driven variants must broadcast the (small) probe band table
    for (q <- Seq("q_ann_lsh", "q_jaccard_topk_lsh")) {
      val p = plan(q)
      assertNoPairNestedLoop(q, p)
      assert(p.contains("BroadcastHashJoin"),
        s"$q probe bands must broadcast:\n$p")
    }
    // pair-listing variants: the band self-join must stay an equi join
    for (q <- Seq("q_dedup_embedding", "q_simhash_pairs", "q_embed_dedup_canon")) {
      val p = plan(q)
      assertNoPairNestedLoop(q, p)
    }
  }

  test("corr matrix computes all coefficients in one aggregation, no joins") {
    val p = plan("q_corr_matrix")
    assert(!p.contains("Join"), s"q_corr_matrix must not join:\n$p")
    assert(p.contains("Aggregate"), s"expected aggregation:\n$p")
  }

  test("equi-depth bucket assignment is a bounded broadcast range join") {
    // RangeBuckets joins the big frame against ~65 broadcast interval
    // rows — a BroadcastNestedLoopJoin over a bounded build side is the
    // intended shape (codegen comparisons), NOT a pair explosion; the
    // bounds subtree must contain the sampled percentile aggregation.
    val p = plan("q_ks_test")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast interval join:\n$p")
    assert(p.contains("percentile_approx"), s"expected sampled boundaries:\n$p")
  }

  test("two-pass exact median: sampled boundaries, no unpartitioned big window") {
    val p = plan("q_median_scalable")
    assert(!p.contains("CartesianProduct"), s"plans a cartesian:\n$p")
    // the rank window must keep its partition keys — a global
    // (empty-partition) window would be the single-task regression
    assert(p.contains("windowspecdefinition(l_returnflag"),
      s"rank window lost its partition keys:\n$p")
  }

  test("robust-stats family never buffers whole groups: no Percentile aggregate") {
    // Spark's exact `percentile` buffers the WHOLE group in aggregation
    // state — an executor OOM at a billion-row group. The family routes
    // through HistogramQuantiles instead: the declared consumers' plans
    // stay percentile- and cartesian-free, and the rank window over the
    // value histogram keeps its group key.
    for ((q, key) <- Seq("q_mad_outlier" -> "l_returnflag",
        "q_winsorize" -> "c_mktsegment", "q_quantiles_scalable" -> "l_returnflag",
        "q_median_scalable" -> "l_returnflag")) {
      val p = plan(q)
      assert(!p.replace("percentile_approx", "SKETCH").contains("percentile"),
        s"$q: whole-group exact percentile buffer crept back in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(p.contains(s"windowspecdefinition($key"),
        s"$q: rank window lost its group key:\n$p")
    }
  }

  test("ivf probe stats: centroid work broadcasts, histogram join broadcasts") {
    val p = plan("q_ivf_probe_stats")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast centroid/histogram joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"k-sized frames must never sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"plans a cartesian:\n$p")
  }

  test("bucketed fact-fact join is shuffle-free") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    Bucketing.writeBucketed(
      Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "li_b", "l_orderkey", 4, path = Some(s"$wh/li_b"))
    Bucketing.writeBucketed(
      Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "o_b", "l_orderkey", 4, path = Some(s"$wh/o_b"))
    val joined = Bucketing.coLocatedJoin(spark, "li_b", "o_b", "l_orderkey")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    assert(joined.count() > 0)
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // Catalyst's InjectRuntimeFilter: when a big scan shuffle-joins a
    // selectively-filtered side, a bloom filter built from the small
    // side's join keys is pushed into the big side's scan — at 100 TB
    // this is the difference between scanning the full fact table and
    // skipping most of it before the shuffle. Thresholds are tuned for
    // clusters, so the spec lowers the application-side floor to pin the
    // mechanism itself.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "true")
      conf.set(keys(1), "0")
      conf.set(keys(2), "-1") // force a shuffle join so the filter applies
      val li = Tables(spark, dir, "lineitem")
      val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected:\n$p")
      assert(j.count() > 0)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("JSON extraction prunes the scan to the two touched columns") {
    // get_json_object must not widen the scan: at 100 TB the events table
    // carries many columns and the payload analytics reads exactly two.
    val p = plan("q_json_extract")
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"),
      s"scan not pruned to (event_type, props):\n$p")
  }

  test("funnel stages broadcast user-sized frames, never shuffle the log twice") {
    val p = plan("q_funnel")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast stage joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"log-sized sort-merge join crept in:\n$p")
  }

  test("event-family windows keep their partition keys (no single-task window)") {
    // the sessionize / rolling / as-of plans all window per user — at
    // 100 TB an empty partitionSpec would funnel the whole event log
    // through ONE task. q_global_rownum's bucket decomposition is already
    // guarded above; this pins its event cousins after the round-6 restore.
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_sessionize", "q_rolling_1h", "q_asof_join",
        "q_asof_forward", "q_window_lag", "q_event_paths")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val windows = plan.collect { case w: WindowExec => w }
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$q: window with empty partition spec over the event log:\n$w")
      }
    }
  }

  test("pagerank adjacency is materialized once: AQE reuses the shared exchanges") {
    // The adjacency subtree appears once per iteration in the logical
    // plan; the plan is only 100-TB-sane if the physical plan reuses the
    // exchange instead of recomputing edges⋈degrees three times. Round 7
    // measured an explicit persist() against this (persisted min 2.84s
    // vs reuse min 2.49s at sf0.1) — AQE reuse wins,
    // so this guard pins it. Reuse only materializes in the ADAPTIVE
    // executed plan, hence the execute-then-inspect shape.
    val df = SparkEntry.queries("q_pagerank")(spark, dir)
    df.collect() // run THIS queryExecution (write.save would plan a fresh one)
    val p = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).nonEmpty,
      s"adjacency/degree exchanges recomputed per iteration:\n$p")
  }

  test("PII scan and Gopher rules are map-only: no exchange before the presentation sort") {
    for (q <- Seq("q_pii_scan", "q_gopher_rules", "q_pretokenize")) {
      val p = plan(q)
      // exactly one exchange — the rangepartitioning for the final ORDER BY
      val exchanges = "Exchange".r.findAllIn(p).size -
        "ReusedExchange".r.findAllIn(p).size
      assert(exchanges == 1, s"$q: expected only the final sort exchange:\n$p")
    }
  }

  test("corpus shuffle: the only global window runs over the bucket-count table") {
    // GlobalRowNumber decomposes the global rank; the full corpus must
    // only ever see PARTITIONED windows — the lone empty-partition-spec
    // window is the nb-row bucket offset prefix sum
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("q_corpus_shuffle")(spark, dir)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val global = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.size <= 1, s"more than one global window:\n$plan")
    global.foreach { w =>
      // the offset window's child aggregates to one row per bucket —
      // its subtree must contain the bucket-count HashAggregate, not a
      // raw corpus scan feeding an unpartitioned sort
      assert(w.child.toString.contains("HashAggregate"),
        s"global window over raw rows, not the bucket-count table:\n$w")
    }
  }

  // Low-cardinality partition keys (language, market segment) make a
  // plain `PARTITION BY key` window over data rows a handful of giant
  // tasks — at 100 TB a dominant language is ONE window task. Every
  // per-key-rank consumer must stay decomposed per (key, bucket), with
  // the lone key-partitioned window running over the (key, bucket)
  // COUNT table (|keys|·nb rows).
  private def assertNoWholeKeyWindow(q: String, key: String): Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries(q)(spark, dir)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val keyOnly = plan.collect {
      case w: WindowExec if w.partitionSpec.size == 1 &&
        w.partitionSpec.head.toString.contains(key) => w
    }
    assert(keyOnly.size <= 1, s"$q: more than one $key-partitioned window:\n$plan")
    keyOnly.foreach { w =>
      assert(w.child.toString.contains("HashAggregate"),
        s"$q: $key-partitioned window over raw data rows, not the count table:\n$w")
    }
  }

  // The enforcement SWEEP for the rule above: hand-enumerated pins missed
  // consumers twice (q_ppl_buckets's shape survived in q_lang_rebalance;
  // q_lang_rebalance's fix missed q_mix_materialize one file away), so
  // the guard iterates EVERY declared query. A WindowExec whose partition
  // spec references ONLY known skewable/low-cardinality keys may not run
  // over raw data rows: its child subtree must contain an aggregate (the
  // count/offset table of a GlobalRowNumber-style decomposition, or a
  // dimension-sized groupBy frame) or a WindowGroupLimit (rank<=k pushed
  // into partial mode bounds each task's rows per key before the
  // shuffle). Windows keyed by (skewKey, __bucket) pass automatically —
  // the bucket column is not in the skew set — which is exactly the
  // decomposed form. Key set: the 100-TB skew candidates in this schema
  // (a dominant language/domain/source is ONE task under a plain window;
  // segment/type/flag have ≤7 values).
  // The same sweep also bans GLOBAL (empty-partition-spec) windows over
  // raw rows across the entire surface — the single-task-sort shape —
  // subsuming the per-query global-window pins above for every future
  // query.
  test("sweep: every skew-keyed or global window in every declared query runs over a bounded frame") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val skewable = Set("lang", "source", "domain", "c_mktsegment",
      "event_type", "l_returnflag", "o_orderpriority", "o_orderstatus")
    def bounded(p: SparkPlan): Boolean = p.collectFirst {
      case a: BaseAggregateExec => a
      case g: WindowGroupLimitExec => g
    }.isDefined
    val offenders = Seq.newBuilder[String]
    for ((name, plan) <- allPlans) {
      plan.foreach {
        case w: WindowExec if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(_.references.forall(r => skewable(r.name))) &&
            !bounded(w.child) =>
          offenders += s"$name: ${w.partitionSpec.mkString(", ")}-partitioned " +
            "window over raw data rows"
        // a window with NO partition key funnels its whole input through
        // one task — acceptable only over a pre-aggregated (dimension/
        // bucket-count) frame, never over raw data rows
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          offenders += s"$name: GLOBAL window over raw data rows"
        case _ => ()
      }
    }
    val bad = offenders.result()
    assert(bad.isEmpty,
      s"skew-keyed whole-partition windows over raw rows:\n${bad.mkString("\n")}")
  }

  // Spark's exact `percentile` keeps every value of a group in its
  // aggregation state — the whole-group buffer the bounded-state design
  // avoids. Exact quantiles go through HistogramQuantiles; only the
  // queries below may plan a Percentile aggregate, each for its reason.
  private val percentileAllowed = Map(
    "q_grouped_quantiles" ->
      "A4 grouped quantiles: declares Spark `percentile` (pandas) semantics",
    "q_group_quantile_approx" ->
      "the exact bands the percentile_approx sketch is checked against",
    "q_quantile_buckets" ->
      "A4 deciles (Features.quantileBuckets): raw values vs interpolated bounds")

  test("sweep: no exact Percentile aggregate outside the allow-list") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    val buffering = allPlans.collect {
      case (name, plan) if plan.collectWithSubqueries {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[Percentile])) => n
      }.nonEmpty => name
    }.toSet
    val offenders = buffering -- percentileAllowed.keySet
    assert(offenders.isEmpty,
      s"exact Percentile aggregate outside the allow-list: ${offenders.toSeq.sorted.mkString(", ")}")
    val stale = percentileAllowed.keySet -- buffering
    assert(stale.isEmpty,
      s"allow-listed but no longer planning a Percentile: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("ppl buckets: no whole-language window — per-lang windows only see the count table") {
    assertNoWholeKeyWindow("q_ppl_buckets", "lang")
  }

  test("lang rebalance + curation pipeline: per-lang rank stays decomposed") {
    // the round-8 verdict's last two 100×-scale-killers: both rebalance
    // stages now route through GlobalRowNumber.withKeyedRowNumber
    assertNoWholeKeyWindow("q_lang_rebalance", "lang")
    assertNoWholeKeyWindow("q_curation_pipeline", "lang")
  }

  test("mix materialize + domain cap: per-key rank stays decomposed") {
    // the round-9 verdict's missed consumers — same machinery, asserted
    // the same way (and swept above so the NEXT consumer can't slip by)
    assertNoWholeKeyWindow("q_mix_materialize", "lang")
    assertNoWholeKeyWindow("q_domain_cap", "domain")
  }

  test("window ranks: percent_rank/cume_dist/ntile derive from the count table") {
    // 5 segment values → the built-in rank family would be five giant
    // tasks; the closed-form derivation's only c_mktsegment-partitioned
    // window is the bucket-count prefix sum
    assertNoWholeKeyWindow("q_window_ranks", "c_mktsegment")
  }

  test("kneser-ney LM: type total broadcasts; corpus is never cartesian-joined") {
    val p = plan("q_lm_kneser")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row type total should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian product in the LM plan:\n$p")
  }

  test("multimodal decode family is map-only up to the presentation sort") {
    for (q <- Seq("q_audio_meta", "q_image_resize")) {
      val p = plan(q)
      val exchanges = "Exchange".r.findAllIn(p).size -
        "ReusedExchange".r.findAllIn(p).size
      assert(exchanges == 1, s"$q: expected only the final sort exchange:\n$p")
    }
  }

  test("DSIR: lambda model broadcasts; the only global window is the bucket offset") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_dsir_select")(spark, dir)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val p = exec.toString
    assert(p.contains("BroadcastHashJoin"),
      s"m-bounded lambda table should broadcast into the scoring join:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    val global = exec.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.size <= 1, s"more than one global window:\n$p")
    global.foreach { w =>
      assert(w.child.toString.contains("HashAggregate"),
        s"global window over raw rows, not the bucket-count table:\n$w")
    }
  }

  test("BM25 and RRF fusion: every token-hash join broadcasts; no cartesian") {
    for (q <- Seq("q_bm25_topk", "q_rrf_fusion", "q_hard_negatives")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: workload-sized query-term side should broadcast:\n$p")
      // the SPECIFIC invariant: no join on the token-hash key `h` may
      // be a shuffle join — that hashes the whole postings table onto
      // |vocab| keys (the skew trap). post⋈dl on cand_id may legally
      // sort-merge; a plain contains(BroadcastHashJoin) would be
      // satisfied by the dictionary join alone and guard nothing.
      assert("SortMergeJoin(?:\\w*\\s)*\\[h#".r.findFirstIn(p).isEmpty &&
        "ShuffledHashJoin(?:\\w*\\s)*\\[h#".r.findFirstIn(p).isEmpty,
        s"$q: a join on the token-hash key shuffles instead of broadcasting:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: unexpected cartesian:\n$p")
    }
    // The round-11 fusion contract: BOTH scorers ride ONE postings⋈query
    // join (BM25 term6 and cosine wd live on the same enriched row).
    // Since round 14 the workload-sized query-vector build (qpost⋈widf)
    // is inlined — its per-invocation reliable checkpoint was pure
    // overhead — so a second h-join legally appears on the QUERY side.
    // The guarded regression is the run-the-chain-twice form, which
    // shows as the postings asset ('enriched') scanned more than twice
    // (norms + the one scoring join) or the two top-10 lists fused with
    // the old full-outer join.
    {
      val p = plan("q_rrf_fusion")
      val postingsScans = "/enriched".r.findAllIn(p).size
      assert(postingsScans == 2,
        s"q_rrf_fusion: expected the postings asset scanned exactly twice " +
          s"(candidate norms + ONE scoring join), found $postingsScans:\n$p")
      assert(!p.contains("FullOuter"),
        s"q_rrf_fusion: two-ranker full-outer fuse regressed:\n$p")
    }
  }

  test("brute-force baselines: the fixed probe-universe cap reaches the scan") {
    // The id cap IS the scale contract for the two brute-force
    // baselines (round 11: an uncapped `% 20` probe set grows with the
    // corpus and makes the pair work quadratic — 55x/25x wall at 10x
    // data). The decade rehearsal that caught it runs rarely; this pin
    // runs every round. The cap is a plain range predicate, so it must
    // survive to a scan's PushedFilters — a restructure that strands
    // it above a join would silently re-quadratize the query.
    for ((q, cap) <- Seq("q_cosine_topk" -> "LessThan(vec_id,2000)",
        "q_ngram_jaccard" -> "LessThan(doc_id,5000)")) {
      val p = plan(q)
      assert(p.contains(cap),
        s"$q: the fixed probe-universe cap is no longer pushed to the scan " +
          s"(expected $cap in PushedFilters) — the probe set would grow " +
          s"with the corpus again:\n$p")
    }
  }

  test("SemDeDup: within-cluster pairing is an equi-join, never a nested loop") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    // the only non-equi predicates (csim priority, vec_id !=) must ride
    // on the cluster equi-key: any BroadcastNestedLoopJoin means the
    // equi-key was lost and the pairing went O(n²) across clusters
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join lost its cluster equi-key:\n$p")
  }

  test("persisted-index consumers scan the parquet artifact, never the build lineage") {
    // VectorIndex.ensure* / FrameCache.ensure land under the shared index
    // root (…/graft-dedup-index/…): every consumer's EXECUTED plan must
    // read that parquet back — a plan whose scans all point at the raw
    // tables means the query silently rebuilt the asset in-line and the
    // round-8 repricing regressed. CartesianProduct stays banned (the
    // frozen-centroid assigns are broadcast nested-loop by design —
    // bounded by the driver-tiny centroid table — never a cartesian).
    for (q <- Seq("q_ann_ivf", "q_ivf_probe_stats", "q_semdedup",
        "q_ann_pq", "q_pq_code_stats", "q_ann_index_update",
        "q_pq_index_update", "q_bm25_topk", "q_rrf_fusion",
        "q_hard_negatives")) {
      val p = plan(q)
      // The root is resolved exactly as the caches resolve it, so the
      // guard also holds under a SPARK_GRAFT_INDEX_DIR override.
      val root = graft.operators.FrameCache.root
      // r15: q_semdedup's ExistingRDD escape hatch is GONE — its eager
      // cut was removed (the self-join shares one reused exchange over
      // the asset read-back), so every consumer here must root at the
      // persisted parquet, strengthening the pin
      assert(p.contains(root),
        s"$q does not scan the persisted artifact under $root:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: unexpected cartesian:\n$p")
    }
  }

  test("bloom prefilter probes BEFORE the exact join, inside the scan stage") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val exec = SparkEntry.queries("q_bloom_prefilter")(spark, dir)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the whole point of the kernel: the bloom Filter must sit UNDER the
    // exact join (on its streamed side), so the join's exchange moves
    // only might-match rows — a bloom above the join filters nothing
    val join = exec.collectFirst { case j: BaseJoinExec => j }
    assert(join.isDefined, s"no join in plan:\n$exec")
    val underJoin = join.get.collectFirst {
      case f: FilterExec if f.condition.toString.contains("graft_bloom_contains") => f
    }
    assert(underJoin.isDefined,
      s"graft_bloom_contains filter is not below the exact join:\n$exec")
  }

  test("salted join spreads the hot key: join keys are (key, salt)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin, SortMergeJoinExec}
    // structural, not string-contains: a regression that joins on
    // event_type alone but still PROJECTS __salt must fail here — the
    // salt has to be one of the equi-join KEYS or each hot type
    // serializes into one reducer again
    val exec = SparkEntry.queries("q_salted_join")(spark, dir)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val join = exec.collectFirst { case j: BaseJoinExec => j }
    assert(join.isDefined, s"no join in plan:\n$exec")
    val keys = join.get match {
      case h: HashJoin => h.leftKeys ++ h.rightKeys
      case s: SortMergeJoinExec => s.leftKeys ++ s.rightKeys
      case other => fail(s"unexpected join node: $other")
    }
    assert(keys.exists(_.toString.contains("__salt")),
      s"salt column missing from the join keys ${keys.mkString(", ")}:\n$exec")
    assert(keys.exists(_.toString.contains("event_type")),
      s"event_type missing from the join keys ${keys.mkString(", ")}:\n$exec")
  }

  test("triangle counting: every graph join is an equi-join, never cartesian") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct"),
      s"wedge/closure join degenerated to cartesian:\n$p")
  }

  test("triangle counting reuses the edge/degree/orientation exchanges") {
    // e0/deg/ori each feed 3-4 plan branches; the plan is only
    // 100-TB-sane if AQE reuses their exchanges instead of recomputing
    // the lineitem self-join per consumer (the q_pagerank precedent:
    // reuse measured faster than an explicit persist). Reuse only
    // materializes in the ADAPTIVE executed plan, hence execute-then-
    // inspect.
    val df = SparkEntry.queries("q_triangles")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).size >= 3,
      s"edge/degree/orientation subtrees recomputed per branch:\n$p")
  }

  test("ppjoin: equi-join candidates only, and the shingle pipeline never " +
      "leaks into the parquet scan") {
    val p = plan("q_ppjoin")
    assert(!p.contains("CartesianProduct"),
      s"prefix-filter join degenerated to cartesian:\n$p")
    // the aggregate barrier's contract: Catalyst's inferred
    // size(tset) > 0 predicate must NOT be substituted down into the
    // FileScan's data filters — that inlines the whole token-hash
    // transform into every shingle element_at and re-derives the set
    // from raw text per input row (measured 44s vs 2.4s at sf0.1)
    val scanFilters = "DataFilters: \\[[^\\]]*".r.findAllIn(p).mkString("\n")
    assert(!scanFilters.contains("element_at"),
      s"shingle pipeline pushed into the scan filter:\n$scanFilters")
  }

  test("corpus-sized shared exchanges carry the minimal column set (r13 item 1)") {
    // The multi-consumer repartition exchanges in the three conversions
    // that paid a visible recoverability premium at 10x must shuffle only
    // the columns some consumer reads — a schema column (lang/source/
    // n_chars) or the un-encoded source STRING riding a corpus-sized
    // exchange is payload, not partitioning, and it regresses silently.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffleOutputs(q: String): Seq[Set[String]] = {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val plan = exec match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case e: ShuffleExchangeExec =>
        e.output.map(_.name.takeWhile(_ != '#')).toSet
      }
    }
    // q_corpus_clean: the shared doc_id exchange (and the fp dedup-window
    // exchange below it) must not carry lang/source/n_chars
    shuffleOutputs("q_corpus_clean").foreach { cols =>
      assert(!cols.contains("lang") && !cols.contains("source") &&
        !cols.contains("n_chars"),
        s"q_corpus_clean shuffles dead columns: $cols")
    }
    // q_corpus_kl: the token-level exchange is (sid, h) — never the
    // source string per token row
    val klToken = shuffleOutputs("q_corpus_kl").filter(_.contains("h"))
    assert(klToken.nonEmpty, "q_corpus_kl: token exchange not found")
    klToken.foreach { cols =>
      assert(!cols.contains("source"),
        s"q_corpus_kl token exchange carries the source string: $cols")
    }
  }

  test("LM/KL family: the text column is scanned the declared number of times") {
    // r14 finding: a multi-consumer corpus frame's "shared" repartition
    // can silently SPLIT under per-consumer pruning/nullability drift —
    // q_corpus_kl was re-running scan+tokenize once per count table at
    // 10x. The contract pinned here is the number of text-bearing scans
    // in the executed plan: q_corpus_kl materializes its count table
    // once (cut) → 1 corpus pass; q_lm_kneser/q_lm_score deliberately
    // consume the bigram stream twice (model count + scoring join) → 2.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // runtime truth, not the pre-execution sketch: exchange reuse that
    // dedups sibling pipelines only materializes in the ADAPTIVE final
    // plan, and a ReusedExchange subtree no longer re-executes its scan —
    // count text scans NOT under a ReusedExchange after running the query
    def textScans(q: String): Int = {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // ReusedExchangeExec is a LEAF (its origin is a reference, not a
      // child), so this counts only scans that actually executed
      plan.collect {
        case s: FileSourceScanExec if s.output.exists(_.name == "text") => s
      }.size
    }
    // kl's one corpus pass happens inside the eager cut at build time;
    // the served plan reads the checkpointed count table and must never
    // touch the text again
    assert(textScans("q_corpus_kl") == 0,
      "q_corpus_kl consumers must read the cut count table, not the corpus")
    assert(textScans("q_lm_kneser") <= 2,
      "q_lm_kneser tokenizes at most twice (model count + scoring)")
    assert(textScans("q_lm_score") <= 2,
      "q_lm_score tokenizes at most twice (model count + scoring)")
  }

  test("corpus clean: one shared exchange feeds the three dedup consumers") {
    // signatures, token sets and the final anti-join all read `exact`
    // through the SAME doc_id exchange; distinct per-consumer pruning
    // would break reuse and triple the corpus shuffle. Reuse only
    // materializes in the ADAPTIVE executed plan → execute-then-inspect.
    val df = SparkEntry.queries("q_corpus_clean")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).size >= 2,
      s"q_corpus_clean recomputes the dedup stage per consumer:\n$p")
  }
}
