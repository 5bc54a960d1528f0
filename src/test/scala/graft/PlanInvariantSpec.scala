package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-invariant sweep over EVERY registered query: the oracle gate
  * proves values; this gate proves the PLAN stayed the plan we'd want
  * at 100 TB. A silent regression the oracle can't see — a join
  * degrading to a nested-loop because an equi-condition got rewritten,
  * a cartesian sneaking in behind a cross hint, a filter no longer
  * reaching the parquet scan — fails the build here.
  */
class PlanInvariantSpec extends SparkSpec {

  /** Queries allowed a BroadcastNestedLoopJoin, each with the reason
    * the nested loop is the RIGHT plan (scalar broadcast or a
    * deliberately exhaustive small-side pass), not a degradation.
    */
  private val bnljAllowed: Map[String, String] = Map(
    "cdc_deadlines" ->
      "1-row max(ts) resolved frontier broadcast; deadline cut is a scalar compare",
    "cdc_route_configs" ->
      "same scalar deadline-frontier broadcast inside the telemetry route's config",
    "cdc_stage_filter_applied" ->
      "1-row applied-checkpoint cut broadcast over the staged rows",
    "cdc_stage_retire" ->
      "1-row retire-frontier broadcast",
    "cdc_incremental_apply" ->
      "two 1-row checkpoint cuts (c1/c2) bracket the incremental slice",
    "cdc_schema_drift" ->
      "1-row drift-cut broadcast splits before/after regimes",
    "cdc_gtid_frontier" ->
      "1-row frontier cuts; islands themselves join per (source, band) equi keys",
    "cdc_conveyor_modes" ->
      "1-row resolved/cut scalars plus the 1-row selected-mode frame",
    "cdc_pipeline_e2e" ->
      "1-row era cuts + the conveyor's 1-row resolved gate + 1-row per-route summary crosses; every data-bearing join is an equi-join",
    "cdc_objstore_resolved" ->
      "1-row max-RESOLVED marker broadcast brackets the file rows",
    "q15_top_supplier" ->
      "TPC-H Q15 date parameter: 1-row quarter-start derived from the data",
    "q_range_join" ->
      "1-row (min,max) span crossed with a ~row-per-week scaffold to derive bucket keys; the range join itself is the hash equi-join asserted below",
    "data_mix_weights" ->
      "1-row corpus-total broadcast normalizes per-source weights",
    "data_repeat_upsample" ->
      "1-row max-language-count broadcast sets the per-mille upsample weights; the doc-to-weight join is a broadcast equi-join on lang",
    "data_budget_cut" ->
      "1-row total-token broadcast sets the 60% budget; the prefix sum itself is runningSumByRange's pid equi-join over the checkpointed ranged leg",
    "text_tfidf_top_terms" ->
      "1-row corpus doc-count broadcast scales the fixed-point idf",
    "text_lm_perplexity" ->
      "1-row vocab-size broadcast for the add-one smoothing denominator",
    "text_lm_buckets" ->
      "same 1-row vocab-size broadcast (lmSurprise) under the per-source tercile window",
    "text_lm_perplexity_bounded" ->
      "same 1-row vocab-size broadcast; the bounded model only adds a prev-keyed <unk> equi-join",
    // text_lm_buckets_ranged runs the same vocab broadcast-cross, but it
    // executes inside the scored frame's eager checkpoint (lmBucketsOn),
    // so the FINAL plan the gate sees starts from checkpointed RDDs —
    // no whitelist entry needed (the stale-pruning assert enforces this)
    "data_interleave_order" ->
      "1-row (source, length) control-vector broadcast — the closed-form rank that replaces the global sort",
    "data_interleave_order_ranged" ->
      "same 1-row length-vector broadcast; the prefix-sum leg itself ends in a checkpoint, but the lens cross joins DOWNSTREAM of it",
    "data_snapshot_drift" ->
      "1-row snapshot-totals and 1-row TV-distance broadcasts; the count build is a single conditional aggregation",
    "q_purchase_anomaly_days" ->
      "1-row mean-input and 1-row variance-numerator control broadcasts for the integer-exact 3-sigma gate",
    "data_mix_plan" ->
      "same 1-row totals broadcast; all other joins are equi-joins on source/bucket",
    "ann_ivf_cosine" ->
      "broadcast-small centroid set (√n rows) crossed for probe assignment — the IVF design",
    "ann_knn_graph" ->
      "same bounded centroid broadcast-cross as ann_ivf_cosine (self-kNN at nProbe=nCells); edge list and mutual flag are equi-joins",
    // ann_graph_components runs the same centroid broadcast-cross, but
    // it executes inside dupClusters' eager per-round checkpoints, so
    // the FINAL plan the gate sees starts from checkpointed RDDs — no
    // whitelist entry needed (the stale-pruning assert enforces this)
    "ann_ivf_pq" ->
      "same bounded centroid broadcast-cross as ann_ivf_cosine; cell scoring and rescore are equi-joins",
    "embedding_kmeans" ->
      "k×dims centroid control frame broadcast-crossed for assignment (collapses map-side to one row per vector); the corpus never shuffles",
    // dedup_semantic's k-means broadcast-cross executes inside the
    // eager assignment checkpoint (see semanticDedup), so the final
    // plan carries only equi-joins — no whitelist entry needed
    "ann_bruteforce_cosine" ->
      "brute force IS the semantics (the exact top-k oracle): broadcast-small query set scored against every corpus vector",
    "ann_recall_audit" ->
      "the audit's ground truth IS brute force (sampled query set broadcast-crossed), plus the bounded centroid cross of ivfTopK",
    "q22_sales_opportunity" ->
      "TPC-H Q22 correlated scalar: 1-row avg(acctbal) broadcast against customers",
    "cdc_workload_check" ->
      "1-row workload summary broadcast for the threshold compare",
    "cdc_state_at" ->
      "1-row as-of timestamp scalar broadcast into the frontier filter")

  // lazy val: one planning sweep shared by all three tests — a def
  // would re-plan every query (~100 × analysis + physical planning)
  // per test for identical strings
  private lazy val plans: Map[String, String] = SparkEntry.queries.map {
    case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
  }

  test("no CartesianProduct anywhere; BroadcastNestedLoopJoin only where whitelisted") {
    val all = plans
    val cartesian = all.collect {
      case (n, p) if p.contains("CartesianProduct") => n }
    assert(cartesian.isEmpty, s"CartesianProduct in: ${cartesian.mkString(", ")}")
    val badBnlj = all.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(n) => n }
    assert(badBnlj.isEmpty,
      s"unexpected BroadcastNestedLoopJoin in: ${badBnlj.mkString(", ")} — " +
        "either fix the plan or whitelist WITH justification")
    // prune stale whitelist entries so the list can't rot into a blanket pass
    val stale = bnljAllowed.keys.filterNot(n =>
      all.get(n).exists(_.contains("BroadcastNestedLoopJoin")))
    assert(stale.isEmpty, s"whitelist entries no longer needed: ${stale.mkString(", ")}")
  }

  test("range join stays an equi-join on the derived bucket keys") {
    // ops/RangeJoin buckets the range so the join carries equi keys; if
    // that rewrite regresses, Spark falls back to BNLJ over every
    // (row, interval) pair — quadratic at scale.
    // (the 1-row span × week-scaffold cross is whitelisted above; the
    // JOIN carrying the data volume must stay a hash/merge equi-join)
    val p = plans("q_range_join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "expected a hash/merge equi-join")
  }

  test("rank-capped windows take the group-limit path (partial top-k)") {
    // Spark's WindowGroupLimit keeps only k rows per partition BEFORE
    // the final rank window — without it, a dominant group's rank is
    // one task sorting the whole group. These queries filter on
    // row_number ≤ k immediately, which is the shape the rule needs;
    // if a refactor re-introduces post-rank columns the rule can't
    // push, this gate catches the silent full-sort regression.
    for (n <- Seq("data_source_caps", "text_tfidf_top_terms",
        "sketch_distinct_kmv")) {
      assert(plans(n).contains("WindowGroupLimit"),
        s"$n: rank window lost its group-limit pushdown")
    }
  }

  test("ranged tercile plan: range repartition present, no ntile window") {
    // the giant-source path's whole point: the forced range-rank mode
    // must carry a range partitioning exchange and must NOT fall back
    // to the per-source ntile window (whose one-task source sort is
    // the plan the fallback exists to avoid). Since r12 the ranged
    // frame is MATERIALIZED (localCheckpoint — the correctness fix for
    // leg-divergent range sampling), so the final plan shows the
    // checkpoint's ExistingRDD scan; the range exchange is pinned on
    // the pre-checkpoint leg via Buckets.rangedPlan — the same code
    // path the checkpoint job executes.
    val p = graft.queries.LlmQueries.textLmBucketsRanged(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      "expected the materialized (checkpointed) ranged leg in the plan")
    assert(!p.contains("ntile("), "ntile window leaked into the ranged plan")
    import spark.implicits._
    // the range width is SIZE-ADAPTIVE since r16 (estimate / advisory
    // bytes, capped at shuffle.partitions) — pin both regimes: a tiny
    // frame collapses the exchange to one partition (no 32-wide
    // near-empty stages at bench scale), and anything above one
    // advisory unit gets a genuine range partitioning.
    val tiny = graft.ops.Buckets.rangedPlan(
      Seq((1L, "s", 0.5)).toDF("doc_id", "source", "mean_bits"),
      "mean_bits", "doc_id", Seq("source"))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(tiny.contains("singlepartition"),
      "expected the tiny ranged leg to collapse to one partition")
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prevAdvisory = spark.conf.get(advisoryKey)
    spark.conf.set(advisoryKey, "16b")
    try {
      val leg = graft.ops.Buckets.rangedPlan(
        Seq((1L, "s", 0.5), (2L, "s", 0.7)).toDF("doc_id", "source", "mean_bits"),
        "mean_bits", "doc_id", Seq("source"))
        .queryExecution.executedPlan.toString
      assert(leg.toLowerCase.contains("rangepartitioning"),
        "expected a range repartition in the ranged leg")
    } finally spark.conf.set(advisoryKey, prevAdvisory)
  }

  test("ranged packing plan: materialized range leg, no per-source corpus window") {
    // forced prefix-sum mode must not quietly fall back to the
    // unbounded-preceding per-source window (one task scanning the
    // dominant source — the shape the mode exists to kill). The
    // corpus window's signature is a windowspec partitioned by source
    // alone and ordered by doc_id; the range path's two windows
    // partition by (__pid, source) and (source ordered by __pid), so
    // the regex below matches ONLY the fallback.
    val p = graft.queries.LlmQueries.dataPackSequencesRanged(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      "expected the materialized (checkpointed) ranged leg in the pack plan")
    assert("windowspecdefinition\\(source#\\d+, doc_id".r.findFirstIn(p).isEmpty,
      "per-source corpus window leaked into the forced ranged pack plan")
  }

  test("quantile plan: materialized range leg, broadcast probes, no per-source sort window") {
    // quantilesByRange must never degrade into the per-source
    // rank-the-whole-source window (one task sorting the dominant
    // source to pick 4 rows): its only windows partition by
    // (__pid, source) — bounded by partition size — and the target
    // selection is a broadcast hash probe, not a shuffle
    val p = graft.queries.LlmQueries.dataQuantilesExact(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      "expected the materialized (checkpointed) ranged leg in the quantile plan")
    assert("windowspecdefinition\\(source#\\d+, n_chars".r.findFirstIn(p).isEmpty,
      "per-source corpus window leaked into the quantile plan")
    assert(p.contains("BroadcastHashJoin"),
      "target-rank probe must be a broadcast hash join")
  }

  test("asof ranged plan: materialized range carry, no per-key corpus window") {
    // the forced giant-key mode must not quietly fall back to the
    // key-partitioned carry window (one task sorting+scanning a hot
    // key's whole history — the 9.5 s straggler the 100× row
    // measured). That window's signature partitions by the key alone
    // and orders by __t; the range path's windows partition by
    // (__pid, key) and (key ordered by __pid over the control frame),
    // so the regex matches ONLY the fallback.
    val p = graft.queries.CdcQueries.asofJoinRanged(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      "expected the materialized (checkpointed) ranged leg in the asof plan")
    assert("windowspecdefinition\\(user_id#\\d+, __t".r.findFirstIn(p).isEmpty,
      "per-key corpus window leaked into the forced ranged asof plan")
    assert(p.contains("BroadcastHashJoin"),
      "boundary-carry frame must join back as a broadcast")
  }

  test("sampled-quantile plan: two-stage bottom-k, broadcast probes") {
    // the sample must form as local-per-(pid, scope) bottom-k before
    // any scope-partitioned pass (so the scope-alone window only ever
    // sees the <= k*P survivors, never the corpus), and both the
    // target-rank probe and the est/exact join must broadcast
    val p = graft.queries.LlmQueries.sketchQuantilesSampled(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(__pid#\\d+, scope".r.findFirstIn(p).isDefined,
      "local per-(pid, scope) bottom-k stage missing from the sample plan")
    assert(p.contains("BroadcastHashJoin"),
      "quantile probes must be broadcast hash joins")
  }

  test("heavy-hitter recount: broadcast set probe before the aggregate, no extra shuffle") {
    // the recount pass must filter to the MG candidates BEFORE its
    // group-by (an In/InSet predicate under the partial aggregate),
    // so only candidate rows ever shuffle — the whole point of the
    // two-pass plan
    val p = graft.queries.LlmQueries.sketchHeavyHitters(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), "recount must be a hash aggregate")
    assert("(?i)\\bin\\(gram".r.findFirstIn(p).isDefined ||
      p.contains("INSET"),
      "candidate-set probe (In/InSet on gram) missing from the recount plan")
  }

  test("selective scans keep their filters pushed to parquet") {
    // spot checks on queries whose FIRST operation is a selective
    // filter over a base table: the predicate must reach the scan
    // (PushedFilters non-empty), or at 100 TB the scan reads the
    // whole table to throw most of it away.
    val pushdownExpected = Seq(
      "q6_revenue_forecast", "q14_promo_revenue", "q19_discounted_revenue",
      "q3_shipping_priority", "q4_priority_check")
    val all = plans
    val missing = pushdownExpected.filterNot { n =>
      "PushedFilters: \\[[^\\]]".r.findFirstIn(all(n)).isDefined }
    assert(missing.isEmpty, s"no pushed parquet filters in: ${missing.mkString(", ")}")
  }

  test("scans prune unused wide columns (ReadSchema)") {
    // l_comment is lineitem's widest column and none of these queries
    // touch it: if it shows up ANYWHERE in the plan, column pruning
    // regressed and a 100 TB scan pays for bytes it throws away.
    val lineitemQueries = Seq("q1_pricing_summary", "q6_revenue_forecast",
      "q14_promo_revenue", "q19_discounted_revenue", "q9_product_profit")
    val all = plans
    val unpruned = lineitemQueries.filter(n => all(n).contains("l_comment"))
    assert(unpruned.isEmpty, s"l_comment read by: ${unpruned.mkString(", ")}")
    // and the scan really is schema-projected, not just filter-pruned
    lineitemQueries.foreach(n => assert(all(n).contains("ReadSchema"), n))
  }

  test("a semi-join against a small pinned join result broadcasts (adaptive off)") {
    // the pin's leaf carries its measured size: before the pin the join
    // estimate is the product of both sides (20000 rows read as GBs),
    // which planned this probe as a sort-merge join
    import org.apache.spark.sql.functions._
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val facts = spark.range(20000).select(col("id"), (col("id") % 100).as("k"))
      val dims = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val pinned = graft.ops.Materialize.barrier(facts.join(dims, "k"))
      val p = spark.range(50).join(pinned, Seq("id"), "left_semi")
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      graft.ops.Materialize.release(pinned)
    } finally spark.conf.set(key, prev)
  }

  test("conveyor accept plans gate on a local relation, never on the proposal log") {
    import graft.cdc.Conveyor
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Range, Window}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the proposal log is the only Range leaf: an Aggregate or Window
    // above one would re-run the frontier on every action
    val proposals = spark.range(8).select((col("id") % 2).as("part"),
      (col("id") * 100).as("nanos"), col("id").as("arr"))
    val muts = Seq((1L, 10L, 100L), (1L, 11L, 300L), (2L, 12L, 150L))
      .toDF("k", "eid", "nanos")
    for (cfg <- Seq(Conveyor.Config(bestEffortOnly = true), Conveyor.Config())) {
      val c = new Conveyor.Conveyors(cfg)
        .get("s", proposals, col("part"), col("nanos"), col("arr"), nowUs = 0L)
      val plan = c.accept(muts, Seq("k"), struct(col("nanos"), col("eid")), col("nanos"))
        .queryExecution.optimizedPlan
      val overLog = plan.collect {
        case n @ (_: Aggregate | _: Window) if n.exists(_.isInstanceOf[Range]) => n.nodeName
      }
      assert(overLog.isEmpty, s"${c.mode.name}: ${overLog.mkString(", ")} over the proposal log")
      assert(plan.collectLeaves().exists {
        case l: LocalRelation => l.output.map(_.name) == Seq("resolved_nanos")
        case _ => false
      }, s"${c.mode.name}: the gate does not read a one-row local relation\n$plan")
    }
  }
}
