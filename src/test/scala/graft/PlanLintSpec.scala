package graft

/** Suite-wide plan lint: EVERY registered query's physical plan is
  * screened for the two operators that turn into corpus × corpus
  * work at scale — CartesianProduct and BroadcastNestedLoopJoin.
  * Queries that deliberately cross-join 1-ROW aggregate relations
  * (scalar thresholds, totals, stage counts) are allowlisted with
  * the reason; anything new that plans a cartesian fails here
  * before it can ship.
  */
class PlanLintSpec extends SparkSpec {

  /** Every allowance is a BOUNDED broadcast side by construction:
    * a 1-row scalar/threshold aggregate, a fixed-size assembly of
    * 1-row aggregates, or a fixed query batch.
    */
  private val onRowAllowed: Map[String, String] = Map(
    "q11_supplier_share" -> "1-row global-threshold broadcast",
    "q22_idle_customers" -> "1-row avg-balance scalar broadcast",
    "equi_depth_buckets" -> "1-row boundary-array broadcast",
    "events_funnel_ordered" -> "three 1-row stage counts crossed",
    "association_rules" -> "1-row basket-total broadcast",
    "semi_anti_parts" -> "1-row semi/anti count assembly",
    "tfidf_top_terms" -> "1-row corpus-size broadcast",
    "unigram_logprob" -> "1-row vocab-total broadcast",
    "bigram_logprob" -> "1-row vocab-size broadcast",
    "hard_negatives" -> "1-row label-count broadcast",
    "part_pagerank" -> "1-row node-count broadcast per round",
    "dsir_weights" -> "1-row LM-totals broadcast",
    "source_kl" -> "1-row corpus-total broadcast",
    "pmi_collocations" -> "1-row pair/token-total broadcast",
    // bounded QUERY-BATCH broadcast × one corpus scan — the
    // brute-force ANN baseline by design (the corpus side is never
    // broadcast or re-scanned; candidates ≤ corpus × NumQueries)
    "ann_cosine_topk" -> "bounded query-batch broadcast, one corpus scan",
    "ann_topk_agg" -> "bounded query-batch broadcast, heap-aggregated",
    "ann_recall_report" ->
      "exact-baseline side is the same bounded query-batch broadcast",
    "ann_ivf_pruned_recall" ->
      "exact-baseline side is the same bounded query-batch broadcast",
    "bm25_search" -> "bounded query-term broadcast over the posting scan",
    "vocab_coverage_curve" -> "1-row token-total broadcast",
    "rfm_segments" -> "1-row anchor-date and quintile-boundary broadcasts",
    "dq_fk_orphans" -> "per-FK 1-row orphan/child-count aggregates crossed",
    "temporal_split_report" -> "1-row user-overlap aggregate broadcast",
    "pareto_frontier" -> "1-row price-range broadcast for bucket pruning",
    "zorder_layout" -> "1-row dim-range broadcast for quantization",
    "sketch_join_cardinality" -> "1-row KMV/exact summary aggregates crossed",
    "feature_auc" -> "1-row score-range broadcast for bucket quantization",
    "part_graph_stats" -> "five 1-row graph-summary aggregates crossed",
    "joint_histogram" -> "1-row value-range broadcast for grid quantization",
    "token_budget_epochs" -> "1-row corpus-totals broadcast over the per-source aggregate",
    "bpe_decode_roundtrip" -> "1-row vocab-size aggregate crossed onto the 1-row certificate"
  )

  test("no query plans corpus-sized cartesian or nested-loop joins") {
    val actual = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      if (p.contains("CartesianProduct") ||
          p.contains("BroadcastNestedLoopJoin")) actual += name
    }
    val unallowed = actual.toSet -- onRowAllowed.keySet
    assert(unallowed.isEmpty,
      s"unallowlisted cartesian/nested-loop plans: ${unallowed.mkString(", ")}")
    // two-way: a stale allowance hides future regressions
    val stale = onRowAllowed.keySet -- actual.toSet
    assert(stale.isEmpty,
      s"allowlist entries whose plans no longer cross: ${stale.mkString(", ")}")
  }

  /** Windows whose input is an already-aggregated tiny relation may
    * run partition-less (the single task sees a handful of rows);
    * anything else funnels the whole corpus through one task.
    */
  private val globalWindowAllowed: Map[String, String] = Map(
    "window_ratio_report" -> "ratio-to-report over a 3-row aggregate",
    "lang_temperature_weights" -> "normalizer over a per-language aggregate",
    "vocab_coverage_curve" -> "rank over the top-50 limit of the vocab aggregate",
    "open_orders_timeseries" ->
      "running backlog over the per-day delta aggregate (calendar-bounded)",
    "pareto_frontier" ->
      "running max over the 256-bucket aggregate and the bucket-pruned candidates",
    "feature_auc" -> "cumulative negatives over the 4096-bucket aggregate",
    "token_budget_epochs" -> "share normalizer over the sources-bounded aggregate",
    "bpe_decode_roundtrip" -> "id rank over the vocab-sized token aggregate"
  )

  test("no query runs a partition-less window over a non-aggregated relation") {
    val actual = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val globals = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (globals.nonEmpty) actual += name
    }
    val unallowed = actual.toSet -- globalWindowAllowed.keySet
    assert(unallowed.isEmpty,
      s"unallowlisted GLOBAL windows (single-task corpus funnel): ${unallowed.mkString(", ")}")
    val stale = globalWindowAllowed.keySet -- actual.toSet
    assert(stale.isEmpty,
      s"global-window allowances no longer needed: ${stale.mkString(", ")}")
  }
}
