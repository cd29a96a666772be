package graft.operators

import graft.SparkEntry
import graft.SparkTestBase

/** Physical-plan assertions: the optimizations we rely on for 100 TB scale
  * must actually appear in the executed plans — broadcast joins for
  * dimension tables, parquet filter pushdown + column pruning for selective
  * scans, and no superfluous shuffles in the fulfillment kernel.
  */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir("0.001"))
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val full = df.queryExecution.executedPlan.toString
    // keep only the final adaptive plan (toString appends the initial plan)
    val start = full.indexOf("== Final Plan ==")
    val end = full.indexOf("== Initial Plan ==")
    if (start >= 0 && end > start) full.substring(start, end) else full
  }

  test("dimension join broadcasts (no shuffle of the small side)") {
    val p = plan("q_j1_join_left_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("TPC-H Q3 join pushes filters below the joins and broadcasts the dim") {
    val p = plan("q_j3_revenue_top10")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment)"),
      s"expected customer filter pushed to scan:\n$p")
  }

  test("selective scan pushes filters and prunes columns") {
    val p = plan("q_s1_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), s"range filter not pushed:\n$p")
    // pruned read schema: only the 5 referenced columns, not all 11
    assert(!p.contains("l_returnflag"), s"column pruning failed:\n$p")
  }

  test("aggregation is partial+final hash aggregate (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"expected partial+final agg:\n$p")
  }

  test("fulfillment kernel plans exactly two exchanges (repartition + output sort)") {
    val p = plan("q_k1_fulfillment")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p")
    assert(p.contains("Sort "), p)
  }

  test("lateral top-k decorrelates to one ranked window, no per-row re-execution") {
    // The q_j9 LATERAL subquery (ORDER BY + LIMIT per customer) must plan
    // as a rank-limited window over ONE hash exchange — the q_w1 shape —
    // not as a nested-loop re-execution of the subquery per outer row.
    val p = plan("q_j9_lateral_topk")
    assert(p.contains("WindowGroupLimit"),
      s"expected rank-limited window (WindowGroupLimit):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral join re-executes per row:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected at most 2 exchanges (window + join), got $exchanges:\n$p")
  }

  test("TPC-H Q1 aggregates with map-side combine and a single exchange") {
    val p = plan("q_h1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"expected partial+final agg:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"date filter not pushed to scan:\n$p")
  }

  test("TPC-H Q5 six-table join broadcasts all three dimensions") {
    val p = plan("q_h5_local_supplier_volume")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast dim joins, got $broadcasts:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(r_name)"),
      s"region filter not pushed:\n$p")
  }

  test("AQE re-plans a shuffle join to broadcast when the filtered side shrinks") {
    // The static planner sees a table above the broadcast threshold; the
    // runtime filter leaves a handful of rows. AQE must switch the join to
    // broadcast at runtime — the mechanism we rely on for selective joins
    // at 100 TB instead of hand-tuning every threshold.
    val sc = spark.conf
    val prev = sc.get("spark.sql.autoBroadcastJoinThreshold")
    sc.set("spark.sql.autoBroadcastJoinThreshold", "1024") // 1 KB: static planner won't broadcast
    try {
      val li = spark.read.parquet(sfDir("0.01") + "/lineitem.parquet")
      val tiny = spark.read.parquet(sfDir("0.01") + "/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderkey") < 5) // ~4 rows at runtime
      val joined = li.join(tiny,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      joined.collect()
      val full = joined.queryExecution.executedPlan.toString
      val start = full.indexOf("== Final Plan ==")
      val end = full.indexOf("== Initial Plan ==")
      assert(start >= 0 && end > start, s"expected an adaptive plan:\n$full")
      val finalPlan = full.substring(start, end)
      val initialPlan = full.substring(end)
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"AQE did not re-plan to broadcast:\n$finalPlan")
      assert(initialPlan.contains("SortMergeJoin"),
        s"static plan should have been a shuffle join:\n$initialPlan")
    } finally sc.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // codegen spans render as "*(n)" stage markers in the executed plan
    val p = plan("q_s1_scan_filter_project")
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }

  test("no unpartitioned windows: rankings ride TakeOrdered slices, cumulative ops partition by year") {
    // The WindowExec-over-unbounded-input class is banned from the
    // registry: an empty partitionSpec moves the window's WHOLE input to
    // one task (a driver-killer on a corpus-sized frame at 100x scale).
    // Every registered window must either partition (q_w1/q_w2/q_w3) or
    // rank a slice already bounded by a LIMIT below it (q_t13's
    // post-TakeOrdered ranks — a constant partition key would just be
    // optimizer-folded away). Source sweep: these four are the only
    // window-over-global-order call sites in main.
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec,
      GlobalLimitExec, CollectLimitExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match { case w: WindowExec => Seq(w); case _ => Seq.empty }
      here ++ kids(p).flatMap(windows)
    }
    def limitBounded(p: SparkPlan): Boolean = p match {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec | _: CollectLimitExec => true
      case o => kids(o).exists(limitBounded)
    }
    for (q <- Seq("q_t13_rrf_fusion", "q_w2_running_sum", "q_w3_lag_delta",
        "q_w1_topk_per_group")) {
      val df = SparkEntry.queries(q)(spark, sfDir("0.001"))
      df.collect()
      val ws = windows(df.queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$q: expected window operators in the plan")
      for (w <- ws)
        assert(w.partitionSpec.nonEmpty || limitBounded(w.child),
          s"$q: unpartitioned Window over an unbounded input single-" +
            s"partitions its whole frame:\n" +
            df.queryExecution.executedPlan.toString)
    }
    // and the RRF legs cut with TakeOrdered BEFORE ranking — the scored
    // corpus moves as partitions x 100 candidate rows, never one task
    val p = plan("q_t13_rrf_fusion")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"expected both ranker legs to plan as TakeOrderedAndProject:\n$p")
  }

  test("URL canonical dedup: exactly the agg exchanges, canonicalization rides the scan") {
    val p = plan("q_u1_url_canonical_dedup")
    // partial+final agg on the canonical key plus the output sort — the
    // whole string pipeline must stay inside the pre-exchange project
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"canonicalization should not add exchanges ($exchanges):\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final agg on the canonical key:\n$p")
  }

  test("domain stats: corpus aggregates before the 1-row total broadcasts back") {
    val p = plan("q_u2_domain_stats")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected the 1-row total to broadcast:\n$p")
  }

  test("URL hot paths stay on the native kernels and plans stay small under self-joins") {
    // the r11a regression guard, both directions: (a) the hot path calls
    // the codegen'd kernels (url_canonical/url_host/url_domain nodes in
    // the plan), not a bind-HOF or seam chain; (b) plan SIZE is a
    // resource — the rejected withColumn-seam design passed every
    // structural assert here and still exploded to a 793 KB physical plan
    // through temperatureMix's self-join (60 s/rep), so the byte bound is
    // the assert that actually catches the failure mode
    for (q <- Seq("q_sp13_domain_mix", "q_u3_domain_cap", "q_u2_domain_stats")) {
      val p = plan(q)
      assert(p.contains("url_domain") && p.contains("url_canonical"),
        s"$q must derive domains through the native kernels:\n${p.take(2000)}")
      assert(p.length < 100000,
        s"$q physical plan blew up to ${p.length} chars — the r11a seam-" +
          s"inlining class is back")
    }
  }

  test("HTML extraction is one row-local pass: no exchange before the output sort") {
    // r17: a hash spread of the THIN (id, html) input precedes the
    // extraction kernel (parallelism on few-split scans); the kernel's
    // OUTPUT still never shuffles — only the input spread + output sort.
    val p = plan("q_t26_html_extract")
    // r17 ADVICE: count alone can't tell "input spread + sort" from two
    // unrelated hash exchanges — pin each exchange's KIND and the spread's
    // key, so a regression that drops the spread while adding some other
    // hash exchange fails.
    val eh = "Exchange hashpartitioning".r.findAllIn(p).length
    val er = "Exchange rangepartitioning".r.findAllIn(p).length
    assert(eh <= 1 && er <= 1,
      s"extraction may pay only the input spread (hash) + sort (range) ($eh/$er):\n$p")
    if (eh == 1)
      assert(p.contains("Exchange hashpartitioning(doc_id"),
        s"the one hash exchange must be the doc_id input spread:\n$p")
  }

  test("round-10 cards: caption alignment rides the scan; pref pairs pay exactly the dedup exchange") {
    // q_m6: one typed feature pass + a row-local score — the only
    // exchange allowed is the output sort's range partition
    val pm = plan("q_m6_caption_align")
    val em = "Exchange (hash|range)partitioning".r.findAllIn(pm).length
    assert(em <= 1, s"caption alignment must not shuffle beyond the sort ($em):\n$pm")
    // q_f5: row-local parse/validate/flatten + ONE fixed-width prompt-key
    // exchange for the keep-first window + the output sort
    val pf = plan("q_f5_pref_pairs")
    // r17 ADVICE: pin exchange kinds — one hash (prompt-key dedup) + one
    // range (output sort) — instead of any-two
    val efh = "Exchange hashpartitioning".r.findAllIn(pf).length
    val efr = "Exchange rangepartitioning".r.findAllIn(pf).length
    assert(efh <= 1 && efr <= 1,
      s"pref pairs must pay only the dedup hash + sort range exchange ($efh/$efr):\n$pf")
  }

  test("pre-sorted-scan reshape: heavy row-local cards ride ONE range exchange, no Sort above them") {
    // q_t28/q_t21/q_t5/q_t29 contract: the only exchange is the cheap
    // scan's range repartition (or the output sort for q_t29); the heavy
    // projection sits ABOVE the sorted exchange so the range partitioner
    // never samples (= double-executes) it, and a global Sort operator
    // must not reappear downstream of the expensive work.
    // q_m10 joined the class in r18: the render/decode/feature tower sits
    // above the range-partitioned thin input, so the range sampler never
    // double-executes it and the trailing global Sort is gone
    for (q <- Seq("q_t28_repetition_card", "q_t21_char_entropy",
        "q_t5_fingerprint", "q_m10_image_caption_align")) {
      val p = plan(q)
      val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$q: expected exactly the range exchange ($exchanges):\n$p")
      assert("Exchange rangepartitioning".r.findAllIn(p).nonEmpty,
        s"$q: the single exchange must be the range repartition:\n$p")
    }
    // mojibake keeps the plain trailing sort (its projection is cheap
    // enough that sampling it is fine) — still at most one exchange
    // r17: q_t29 pays the thin input spread + the output sort (the
    // repair battery's output still never shuffles)
    val pm = plan("q_t29_mojibake_repair")
    // r17 ADVICE: pin kinds + the spread key, not just the count
    val emh = "Exchange hashpartitioning".r.findAllIn(pm).length
    val emr = "Exchange rangepartitioning".r.findAllIn(pm).length
    assert(emh <= 1 && emr <= 1,
      s"q_t29 may pay only the input spread (hash) + sort (range) ($emh/$emr):\n$pm")
    if (emh == 1)
      assert(pm.contains("Exchange hashpartitioning(doc_id"),
        s"the one hash exchange must be the doc_id input spread:\n$pm")
  }
}
