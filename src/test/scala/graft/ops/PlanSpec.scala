package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Physical-plan regression tests for the 100 TB design rules
  * documented in PLANS.md. Correctness is the driver's oracle gate;
  * these assert the plans STAY the plans we designed — pushdown
  * reaching the scan, dimension joins broadcasting, global top-k not
  * globally sorting, hot paths inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("pricing summary pushes the shipdate filter into the parquet scan and prunes columns") {
    val plan = planOf("q_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    assert(!plan.contains("l_partkey"), s"unused column not pruned:\n$plan")
  }

  test("star join plans every dimension as a broadcast join") {
    val plan = planOf("q_revenue_by_nation")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 4, s"expected 4 broadcast dimension joins, got $bhj:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no dimension should sort-merge at this size:\n$plan")
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_topk_global")
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
    assert(!plan.contains("Sort ["), s"no full sort for top-k:\n$plan")
  }

  test("custom expressions stay inside whole-stage codegen (no UDF eval breaks)") {
    Seq("q_text_rolling_hash", "q_knn_bruteforce", "q_dedup_simhash").foreach { q =>
      // collect() first: AQE only finalizes (and codegen-marks) THIS
      // queryExecution's plan after its own action (count() would plan
      // a separate aggregation with a separate AQE run)
      val df = SparkEntry.queries(q)(spark, sf001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$q fell out of codegen:\n$plan")
      // executedPlan.toString marks whole-stage-codegen'd operators *(n)
      assert(plan.contains("*("), s"$q has no codegen span:\n$plan")
    }
  }

  test("above-average filter plans as one window, never a join against the agg side") {
    // the per-customer average is customer-cardinality: at scale it can
    // neither broadcast nor join back without a second shuffle — the
    // whole-partition window form is the pinned plan
    val plan = planOf("q_above_avg")
    assert(plan.contains("Window"), s"expected a window operator:\n$plan")
    assert(!plan.contains("Join"), s"no join should appear:\n$plan")
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val plan = planOf("q_pricing_summary")
    assert(plan.contains("partial_sum"),
      s"expected a partial (map-side) aggregate:\n$plan")
  }

  test("money sums aggregate bigint cents, with no DECIMAL(28,x) buffer") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
    import org.apache.spark.sql.types.LongType
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // every query whose money sums run on the Relational money kernel
    val moneyQueries = Seq("q_pricing_summary", "q_revenue_by_brand", "q_revenue_by_nation",
      "q_window_running", "q_cube", "q_rollup", "q_unpivot", "q_orders_by_month",
      "q_agg_salted", "q_above_avg", "q_shipping_priority", "q_returned_items",
      "q_promo_revenue", "q_top_supplier", "q_large_volume_customer",
      "q_local_supplier_volume", "q_forecast_revenue", "q_volume_shipping",
      "q_market_share", "q_product_profit", "q_small_qty_revenue",
      "q_disjunctive_revenue", "q_dormant_customers")
    moneyQueries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf001)
      df.collect()  // AQE finalizes this queryExecution's plan
      val plan = df.queryExecution.executedPlan
      val sums = aqe.collectWithSubqueries(plan) { case p => p }
        .flatMap(_.expressions.flatMap(_.collect {
          case AggregateExpression(s: Sum, _, _, _, _) => s
        }))
      assert(sums.nonEmpty, s"$q plans no sum:\n$plan")
      assert(sums.forall(_.dataType == LongType),
        s"$q sums over ${sums.map(_.dataType).distinct.mkString(", ")}:\n$plan")
      val text = plan.toString
      assert(!text.contains("decimal(28") && !text.contains("DecimalType(28"),
        s"$q keeps a DECIMAL(28,x) buffer:\n$text")
    }
  }

  test("weighted sample plans as TakeOrderedAndProject, not a global sort or window") {
    val plan = planOf("q_sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"no single-partition window for top-k:\n$plan")
  }

  test("bloom-gated decontamination actually plans the might_contain prefilter") {
    val plan = planOf("q_contamination_bloom")
    assert(plan.contains("might_contain"), s"bloom prefilter missing from plan:\n$plan")
  }

  test("join runtime filter plans the might_contain gate below the join") {
    val plan = planOf("q_join_bloom_gate")
    assert(plan.contains("might_contain"), s"bloom prefilter missing from plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the filtered orders slice must broadcast at this size:\n$plan")
  }

  test("incremental-ingest dedup plans as a hash anti-join on the content digest") {
    val plan = planOf("q_dedup_incremental")
    assert(plan.contains("LeftAnti"), s"expected an anti-join:\n$plan")
  }

  test("sequence packing windows partition on shard — no single-partition exchange") {
    val plan = planOf("q_pack_sequences")
    assert(plan.contains("Window"), s"expected a shard-partitioned window:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"packing must not collapse to one partition:\n$plan")
  }

  test("epoch mixing is a narrow generator — no join anywhere in the plan") {
    val plan = planOf("q_mix_epochs")
    assert(plan.contains("Generate"), s"expected an explode generator:\n$plan")
    assert(!plan.contains("Join"), s"replication must not plan a join:\n$plan")
  }

  test("chunking, scrub, and quantization plan as narrow projections — zero exchanges") {
    Seq("q_chunk_documents", "q_text_scrub", "q_embedding_quantize").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Exchange"),
        s"$q must be shuffle-free (narrow per-row op):\n$plan")
      assert(!plan.contains("Join"), s"$q must not plan a join:\n$plan")
    }
  }

  test("entropy is one scan and one aggregate tree — no self-join, no double token pipeline") {
    val plan = planOf("q_text_entropy")
    // the H = log2(n) − Σc·log2(c)/n form needs no tf⋈totals join; the
    // naive form plans the whole token pipeline twice plus a join
    assert(!plan.contains("Join"), s"entropy must not self-join:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      s"entropy must scan documents once:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2,
      s"(doc,term) then (doc) grouping = at most two exchanges:\n$plan")
    assert(plan.contains("partial_count"), s"expected map-side partial agg:\n$plan")
  }

  test("tfidf reads the staged ulm_tf rollup — no per-run token pipeline, df stays a window") {
    val plan = planOf("q_text_tfidf")
    // r15: the (doc, term, tf) rollup is the shared staged ulm_tf
    // artifact — the per-run plan must contain NO token explode at
    // all (a Generate means the pipeline is being re-derived)
    assert(!plan.contains("Generate"),
      s"tfidf must read the staged ulm_tf, not re-explode tokens:\n$plan")
    assert(plan.contains("Window"), s"df should come from a window over tf:\n$plan")
    assert(plan.contains("ulm_tf"),
      s"tfidf must scan the staged ulm_tf artifact:\n$plan")
  }

  test("shipping priority: pushed date filters, broadcast semi segment gate, TakeOrdered top-k") {
    val plan = planOf("q_shipping_priority")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date filter not pushed:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders date filter not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"segment gate should be a broadcast semi join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-10 must not globally sort:\n$plan")
  }

  test("returned items: returnflag pushed to the scan, both dimensions broadcast") {
    val plan = planOf("q_returned_items")
    assert(plan.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"customer and nation should broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must not globally sort:\n$plan")
  }

  test("top supplier: supplier dimension broadcasts; the max is a window over the agg") {
    val plan = planOf("q_top_supplier")
    assert(plan.contains("BroadcastHashJoin"), s"supplier should broadcast:\n$plan")
    assert(plan.contains("Window"), s"max should be a window over the supplier agg:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"nothing should sort-merge here:\n$plan")
  }

  test("forecast revenue: all three predicates push into the lineitem scan, no joins") {
    val plan = planOf("q_forecast_revenue")
    // the PushedFilters list is elided ("...") in toString — assert the
    // visible prefix covers all three columns, plus the shipdate bound
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"), s"filters not pushed:\n$plan")
    assert(!plan.contains("Join"), s"Q6 must be join-free:\n$plan")
  }

  test("market share and local supplier volume broadcast every dimension side") {
    Seq("q_market_share", "q_local_supplier_volume").foreach { q =>
      val plan = planOf(q)
      assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
        s"$q should broadcast its dimension joins:\n$plan")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length <= 2,
        s"$q should shuffle only fact-fact joins:\n$plan")
    }
  }

  test("waiting orders: top-20 is TakeOrdered; the EXISTS pair is one aggregate, not correlated scans") {
    val plan = planOf("q_waiting_orders")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must not globally sort:\n$plan")
    // single-pass form: the per-order stats are a window over the
    // (order, supplier) pre-aggregate — lineitem is scanned exactly
    // once (a correlated-subquery translation would plan it 3×)
    assert("FileScan parquet.*lineitem|Location.*lineitem".r.findAllIn(plan).length <= 1,
      s"lineitem scanned more than once:\n$plan")
  }

  test("hopping windows and user growth plan join-free") {
    Seq("q_events_hopping", "q_user_growth").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q should not join:\n$plan")
    }
  }

  test("attribution is one window pass: a single shuffle on user_id, no join") {
    val plan = planOf("q_attribution")
    assert(!plan.contains("Join"), s"attribution should not join:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex === 1, s"expected exactly one shuffle, got $ex:\n$plan")
  }

  test("snapshot diff plans one full outer join on the key") {
    val plan = planOf("q_snapshot_diff")
    assert(plan.contains("FullOuter"), s"expected a full outer join:\n$plan")
    assert("Join".r.findAllIn(plan).length <= 2, // one join, ≤2 mentions
      s"expected a single join:\n$plan")
  }

  test("profile body reads the staged wide row, never the fact table") {
    val plan = planOf("q_profile_orders")
    assert(!plan.contains("orders.parquet"),
      s"profile body must scan prof_agg, not orders:\n$plan")
  }

  test("bm25 ranks via TakeOrderedAndProject with the term filter pushed to the index scan") {
    val plan = planOf("q_search_bm25")
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered top-10:\n$plan")
    assert(plan.contains("In(s, ["), s"term predicate not pushed to the ulm_tf scan:\n$plan")
  }

  test("cusum is one events scan plus windows, no join back to the fact table") {
    val plan = planOf("q_cusum_drift")
    assert("FileScan".r.findAllIn(plan).length === 1, s"expected a single scan:\n$plan")
    assert("Window".r.findAllIn(plan).length >= 2, s"expected the two cumulative windows:\n$plan")
  }

  test("zorder layout audit is one scan and one aggregate shuffle") {
    val plan = planOf("q_zorder_layout")
    assert("FileScan".r.findAllIn(plan).length === 1, s"expected a single scan:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex === 1, s"expected exactly one shuffle, got $ex:\n$plan")
  }

  test("staged text ops never re-run the token pipeline in the body") {
    Seq("q_dedup_substring", "q_text_unigram_lm").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("word_shingles") && !plan.contains("Generate"),
        s"$q body should scan the staged artifact, not re-explode:\n$plan")
    }
  }

  test("global row numbering plans sharded windows — the heavy side never single-partitions") {
    // the whole point of the two-phase decomposition: the global
    // window the ORACLE runs would be Exchange SinglePartition over
    // every row; the engine side may single-partition only the 16-row
    // shard-count table (the offset prefix sum)
    val plan = planOf("q_global_rownum")
    val sp = "SinglePartition".r.findAllIn(plan).length
    assert(sp <= 1, s"row-cardinality data must not single-partition:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"expected the local-rank window sharded by hash:\n$plan")
  }

  test("uniform range bands plan as a projection — no join, single scan") {
    // the round-4 verdict fix: floor(value/50) replaces the 10-interval
    // theta join that BroadcastNestedLoop'd every event row 10×
    val plan = planOf("q_range_join")
    assert(!plan.contains("Join"), s"banding must be a projection, not a join:\n$plan")
    assert("FileScan".r.findAllIn(plan).length === 1, s"expected a single events scan:\n$plan")
  }

  test("PQ ADC search scores the code table — embeddings scanned once, for the bounded query side") {
    val plan = planOf("q_ann_pq_search")
    assert("embeddings.parquet".r.findAllIn(plan).length === 1,
      s"database vectors must never be rescanned (codes carry the search):\n$plan")
    assert(plan.contains("pq_codes"), s"expected the staged code table in the plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"),
      s"ADC is equi-join lookups, no nested loop:\n$plan")
  }

  test("gopher rules plan as one narrow scan — zero exchanges, no join") {
    val plan = planOf("q_gopher_rules")
    assert(!plan.contains("Exchange"), s"rule battery must be shuffle-free:\n$plan")
    assert(!plan.contains("Join"), s"rule battery must not plan a join:\n$plan")
    assert("FileScan".r.findAllIn(plan).length === 1,
      s"expected a single documents scan:\n$plan")
  }

  test("CCNet bucketing body reads the staged score table — no token re-derivation, broadcast thresholds") {
    val plan = planOf("q_ccnet_buckets")
    assert(!plan.contains("word_shingles") && !plan.contains("Generate"),
      s"body must scan ccn_sc, never re-tokenize:\n$plan")
    assert(plan.contains("ccn_sc"), s"expected the staged score table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 1-row threshold side must broadcast:\n$plan")
  }

  test("histogram quantiles: per-type bounds broadcast back — no sort-merge, two event passes") {
    val plan = planOf("q_hist_quantiles")
    assert(!plan.contains("SortMergeJoin"),
      s"the per-type bounds row must broadcast:\n$plan")
    assert("FileScan".r.findAllIn(plan).length <= 2,
      s"bounds pass + histogram pass — never more:\n$plan")
  }

  test("power-iteration PCA body reads only the final 64-row stage — never the embeddings") {
    val plan = planOf("q_pca_power_iter")
    // pci_out: the driver loop's staged 64-row result (r13 — the loop
    // replaced the pci_* alias parquet chain; the iteration itself
    // runs as driver-issued jobs, so the QUERY's read path must be
    // exactly the one tiny result scan)
    assert(plan.contains("pci_out"), s"expected the staged loop result:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"the corpus passes live in the stages/loop; the body is stage-only:\n$plan")
    assert("FileScan".r.findAllIn(plan).length == 1,
      s"the read path is ONE 64-row scan:\n$plan")
  }

  test("tf-index consumers are stage-only — the corpus is never re-scanned") {
    // these bodies read only staged artifacts (ulm_tf and friends);
    // a corpus scan appearing here means a CTE/SQL edit silently
    // reverted the collapse-once design
    Seq("q_pack_efficiency", "q_mink_prob", "q_ulm_vs_bpe").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("documents.parquet"), s"$q re-scans the corpus:\n$plan")
    }
  }

  test("SF-scaling dimension sides are un-hinted; broadcast is the size gate's choice") {
    // customer/supplier/part grow linearly with scale factor, so a hard
    // broadcast() hint would force-OOM the build side at 100×. The rule
    // (Relational.scala header): only bounded-by-construction sides
    // (nation, region, their derived slices, single-row scalars) may
    // carry a hint. Assert (a) no analyzed-plan hint subtree reads an
    // SF-scaling table, and (b) the fixture-scale physical plan STILL
    // broadcasts those dims — the optimizer's size-gated choice.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val gated = Seq("q_revenue_by_nation", "q_returned_items", "q_volume_shipping",
      "q_local_supplier_volume", "q_min_cost_supplier", "q_market_share",
      "q_revenue_by_brand", "q_large_volume_customer", "q_product_profit",
      "q_shipping_priority", "q_promo_revenue", "q_top_supplier",
      "q_small_qty_revenue", "q_disjunctive_revenue", "q_waiting_orders",
      "q_important_parts", "q_parts_supplier_count", "q_dormant_customers")
    val scaling = Seq("customer", "supplier", "part.parquet")
    gated.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf001)
      val hintedLeaves = df.queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child.collectLeaves().map(_.toString)
      }.flatten
      hintedLeaves.foreach { leaf =>
        scaling.foreach { t =>
          assert(!leaf.contains(t),
            s"$q hints an SF-scaling side ($t) — unsafe at 100×:\n$leaf")
        }
      }
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: size gate should still broadcast the dims at fixture scale:\n$plan")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length <= 1,
        s"$q: only the fact-fact join may shuffle at fixture scale:\n$plan")
    }
  }

  test("no accidental cartesian products outside the literal-band irregular range join") {
    SparkEntry.queries.keys.filterNot(_ == "q_range_join_irregular").foreach { q =>
      val plan =
        try planOf(q)
        catch { case _: Throwable => "" } // staged ops build files; skip env issues
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product:\n$plan")
    }
  }
}
