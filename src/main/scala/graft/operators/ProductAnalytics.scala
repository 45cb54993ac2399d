package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.Tables

/** Product-analytics patterns over `events`/star tables: conversion
  * funnel, weekly cohort retention, grouped top-k — the standard
  * event-analytics battery. Every query is a single-shuffle-per-stage
  * plan keyed on user/cohort/nation; no driver-side iteration.
  */
object ProductAnalytics {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // signup → purchase funnel: per-user first timestamps, ordered
    // conversion counted only when the purchase follows the signup
    "events_funnel" -> ((s, dir) => {
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("first_signup").isNotNull, 1).otherwise(0)).as("n_signed_up"),
          sum(when(col("first_signup").isNotNull &&
                   col("first_purchase") > col("first_signup"), 1).otherwise(0))
            .as("n_converted"))
    }),

    // strictly-ORDERED funnel with a conversion window (view → click
    // → purchase, each within 6 h of the previous stage's anchor):
    // each stage's anchor is the min event time AFTER the previous
    // anchor — dependent minima, the correct funnel semantics
    // (comparing independent per-type mins, as events_funnel's
    // 2-step does, undercounts users who clicked before ever viewing
    // but clicked again after). Three keyed aggregations chained by
    // user_id joins; stage relations only shrink, and the three
    // 1-row stage counts cross-join for free.
    "events_funnel_ordered" -> ((s, dir) => {
      val e = Tables(s, dir).events
      val win = expr("INTERVAL 6 HOURS")
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + win)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + win)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
    }),

    // Revenue cohorts over ORDERS (the purchase-side complement of
    // the events-based retention_cohorts): customers grouped by
    // first-order quarter, revenue and buyer counts per (cohort,
    // order quarter). Two keyed aggregates + one customer-keyed
    // join; revenue sums ride decimal(18,2) so shuffle order never
    // reaches a double.
    "clv_cohorts" -> ((s, dir) => {
      val o = Tables(s, dir).orders
        .select(col("o_custkey"), col("o_totalprice"),
          date_trunc("quarter", col("o_orderdate")).as("oq"))
      val cohorts = o.groupBy(col("o_custkey"))
        .agg(min(col("oq")).as("cohort_q"))
      o.join(cohorts, Seq("o_custkey"))
        .groupBy(col("cohort_q"), col("oq").as("order_q"))
        .agg(count_distinct(col("o_custkey")).as("n_buyers"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double"), 2).as("revenue"))
    }),

    // weekly cohort retention: users grouped by first-activity week,
    // counted as retained in each later week they appear
    "retention_cohorts" -> ((s, dir) => {
      val events = Tables(s, dir).events
      val cohorts = events.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val activity = events
        .select(col("user_id"), date_trunc("week", col("ts")).as("activity_week"))
        .distinct()
      activity.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"), col("activity_week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // market-basket co-occurrence: part pairs bought in the same
    // order — a direct scan of the shared pair-count layout
    // ([[materializedPairCounts]]); the top-20 leaves through
    // TakeOrderedAndProject over the already-aggregated relation
    "part_cooccurrence" -> ((s, dir) =>
      materializedPairCounts(s, dir)
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("n_orders"))
        .orderBy(desc("n_orders"), asc("part_a"), asc("part_b"))
        .limit(20)),

    // Whole-graph summary statistics in one row, all integer-exact:
    // wedge count Σ d(d−1)/2 (exact — d(d−1) is even), total
    // triangles as Σ participation / 3 (reusing the oriented
    // adjacency-intersect machinery; the sum is divisible by 3 by
    // construction), global clustering coefficient 3T·1e6 DIV W, and
    // degree assortativity — the Pearson correlation of endpoint
    // degrees over the directed edge list — from four integer
    // moments with the decimal(38,0) widening and SIGN-SPLIT
    // truncating division (the numerator is negative on
    // disassortative graphs). Five bounded aggregates crossed into
    // one row, all reading the SHARED derived graph layout
    // ([[materializedPairCounts]] / [[materializedPartOrderCounts]])
    // — the inline edge re-derivation was the board's most expensive
    // warm query before r12 (4.6 s warm, the r11 verdict's #2).
    "part_graph_stats" -> ((s, dir) => {
      val und = materializedPairCounts(s, dir)
        .select(col("a"), col("b"))
      val both = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      // deg persists (r18 session 2): three consumers (wedge sum, the
      // dx and dy moment attaches) each re-planned the full
      // union+aggregate subtree — the same duplicated-degree-build
      // pattern fixed inside triangleParticipation; node-sized cache,
      // one fill (AQE TableCacheQueryStage), two extra builds gone
      val deg = both.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nNodes = materializedPartOrderCounts(s, dir)
        .agg(count(lit(1)).as("n_nodes"))
      val nEdges = und.agg(count(lit(1)).as("n_edges"))
      val wedges = deg.agg(expr("sum((deg * (deg - 1)) DIV 2)").as("n_wedges"))
      val tri = triangleParticipation(
          und.select(col("a").as("u"), col("b").as("v")))
        .agg(expr("sum(n_tri) DIV 3").as("n_triangles"))
      // assortativity moments from the UNDIRECTED list (r17): each
      // stored edge (a,b) contributes both directed rows, so over
      // `both`  m = 2·|und|,  Σdx = Σ(da+db),  Σdx·dy = 2·Σda·db,
      // Σdx² = Σ(da²+db²) — identical long sums (each directed term
      // is just counted where its undirected edge sits), from deg
      // joins on m rows instead of 2m
      val mom = und
        .join(deg.select(col("a"), col("deg").as("dx")), Seq("a"))
        .join(deg.select(col("a").as("b"), col("deg").as("dy")), Seq("b"))
        .agg((count(lit(1)) * 2).as("m"),
          sum(col("dx") + col("dy")).as("sx"),
          (sum(col("dx") * col("dy")) * 2).as("sxy"),
          sum(col("dx") * col("dx") + col("dy") * col("dy")).as("sxx"))
      nNodes.crossJoin(nEdges).crossJoin(wedges).crossJoin(tri)
        .crossJoin(mom)
        .withColumn("num", expr(
          "CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("den", expr(
          "CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          expr("(3 * n_triangles * 1000000) DIV n_wedges").as("global_cc_e6"),
          expr("""CAST(CASE WHEN num < 0
                 |  THEN -(((-num) * 1000000) DIV den)
                 |  ELSE ((num * 1000000) DIV den) END AS BIGINT)"""
            .stripMargin).as("assortativity_e6"))
    }),

    // Item-item collaborative-filtering neighbors: top-5 most-similar
    // parts per part by co-purchase cosine². Ranking by cosine² keeps
    // the whole estimator in bigint — sim²·1e6 = n_both²·1e6 DIV
    // (n_a·n_b) is monotone in cosine (all counts positive), so no
    // sqrt ever runs and the rank is hash-exact cross-engine. Scale
    // shape: the codegen orderkey self-join builds the pair relation
    // (the intrinsic cost, same as part_cooccurrence), item counts
    // broadcast back onto it, and the top-5 runs as a row_number
    // window PARTITIONED BY ITEM — keyed, never global. A 100 TB
    // deploy widens sim²'s numerator to decimal(38,0) (n_both can
    // reach 1e6 there; here it's bounded by per-pair order counts).
    "item_similarity" -> ((s, dir) =>
      itemNeighborsFromLayout(materializedPairCounts(s, dir),
        materializedPartOrderCounts(s, dir))),

    // Fixed-iteration PageRank over the part co-purchase graph — the
    // iterative-graph-dataflow pattern (per-round keyed join +
    // map-side-combined aggregate) complementing labelPropagation's
    // connected components. Three rounds unroll into ONE Catalyst
    // plan: no driver-side state, no collect; per round the only
    // wide operations are the edges⋈ranks shuffle-hash join and the
    // per-destination aggregate, both keyed — exactly the layout that
    // scales to a billion-edge graph. Bit-exactness across engines:
    // each contribution rounds into decimal(38,18) BEFORE the
    // shuffled sum (decimal addition is exact and order-invariant,
    // so shuffle nondeterminism never reaches a double); damping
    // constants are the literal doubles 0.85/0.15 on both sides
    // (1 − 0.85 in binary is NOT 0.15). Isolated nodes keep the
    // (1−d)/N floor (kept by the left join); their mass is dropped,
    // i.e. the simplified no-dangling-redistribution variant — the
    // oracle computes the identical formula. Top-20 leaves through
    // the bounded heap, not a global window.
    "part_pagerank" -> ((s, dir) => {
      graft.functions.TopKByScore.register(s)
      // directed edges = both orientations of the derived pair layout
      // (a < b stored once; the union flip is a narrow map). The
      // parquet read carries no partitioning guarantee, so
      // pageRankRatios does its own hash(src) respread before the
      // per-round cache — one cheap exchange of the (small) edge
      // relation instead of the orderkey self-join per query.
      val pairs = materializedPairCounts(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      // node set = every part on any order — the derived node layout
      val nodes = materializedPartOrderCounts(s, dir).select(col("part"))
      pageRankRatios(nodes, edges, rounds = 3)
        .agg(graft.functions.TopKByScore
          .topk_by_score(col("pr_ratio"), col("part"), 20).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("part"), col("col.score").as("pr_ratio"))
    }),

    // Tolerance-terminated PageRank (r12 verdict #4): the same graph
    // and per-round dataflow as part_pagerank, but the loop stops
    // when the exact decimal L1 delta drops under the tolerance (or
    // the round cap) instead of a fixed unroll — `rounds` reports
    // what the graph actually needed. The oracle unrolls the same
    // recurrence to the same k (deterministic: the stop test is
    // exact decimal arithmetic on deterministic doubles).
    "pagerank_converged" -> ((s, dir) => {
      graft.functions.TopKByScore.register(s)
      val pairs = materializedPairCounts(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val nodes = materializedPartOrderCounts(s, dir).select(col("part"))
      val (ranks, k) = pageRankConverged(nodes, edges)
      ranks
        .agg(graft.functions.TopKByScore
          .topk_by_score(col("pr_ratio"), col("part"), 20).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("part"), col("col.score").as("pr_ratio"),
          lit(k).cast("int").as("rounds"))
    }),

    // Bounded-hop BFS from the minimum edge-touched part: how much
    // of the co-purchase graph is within 1/2/3 hops of one product —
    // the reachability face of the graph trio. Frontier-only rounds
    // (each joins ONLY the just-discovered ring against the cached
    // edge list, not the whole distance table), so round r shuffles
    // O(|ring_r| + m) rows; the histogram leaves via two map-side
    // combined aggregates.
    "part_bfs_hops" -> ((s, dir) => {
      val pairs = materializedPairCounts(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      bfsHopHistogram(edges, maxHops = 3)
    }),

    // Per-part triangle participation over the co-purchase graph —
    // the third of the graph trio (PageRank, connected components,
    // triangles). Edges are degree-ORIENTED (low-(deg,id) endpoint →
    // high), so every triangle is generated exactly once from its
    // minimum edge and a node's oriented out-degree is O(√m)
    // regardless of raw degree — a hub part with a million
    // co-purchases cannot blow up a task. Triangles close by
    // adjacency-list intersection per oriented edge (see
    // [[triangleParticipation]]), never materializing the Σ outdeg²
    // wedge relation; per-part counts combine map-side; top-20
    // leaves through the bounded heap, not a global window.
    "part_triangles" -> ((s, dir) => {
      graft.functions.TopKByScore.register(s)
      // undirected edge set = the derived pair layout's key columns
      val und = materializedPairCounts(s, dir)
        .select(col("a").as("u"), col("b").as("v"))
      triangleParticipation(und)
        .agg(graft.functions.TopKByScore
          .topk_by_score(col("n_tri").cast("double"), col("part"), 20).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("part"),
          col("col.score").cast("bigint").as("n_tri"))
    }),

    // Association rules over the co-occurrence pairs: support,
    // confidence and lift for every directed rule a→b with at least
    // 2 co-occurring orders — the classic market-basket metrics. All
    // inputs are exact integer counts; the ratios divide exact
    // doubles, so both engines agree bit-for-bit. The basket total
    // joins in as a 1-row broadcast.
    "association_rules" -> ((s, dir) => {
      // directed rules = both orientations of the derived pair-count
      // layout; item/node denominators from the derived node layout.
      // Only the basket total (#distinct orders) still touches the
      // fact table — one column-pruned scan with a partial-combined
      // distinct, the cheapest corpus-scale op on the board.
      val pc = materializedPairCounts(s, dir)
      val pairs = pc.select(col("a").as("part_a"), col("b").as("part_b"),
          col("n_orders").as("n_ab"))
        .unionAll(pc.select(col("b").as("part_a"), col("a").as("part_b"),
          col("n_orders").as("n_ab")))
        .filter(col("n_ab") >= 2)
      val itemN = materializedPartOrderCounts(s, dir)
      val total = Tables(s, dir).lineitem.select(col("l_orderkey"))
        .distinct().agg(count(lit(1)).as("n_orders"))
      pairs
        .join(itemN.select(col("part").as("part_a"), col("n_item").as("n_a")),
          Seq("part_a"))
        .join(itemN.select(col("part").as("part_b"), col("n_item").as("n_b")),
          Seq("part_b"))
        .crossJoin(broadcast(total))
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          round(col("n_ab").cast("double") / col("n_orders").cast("double"), 4)
            .as("support"),
          round(col("n_ab").cast("double") / col("n_a").cast("double"), 4)
            .as("confidence"),
          round(col("n_ab").cast("double") * col("n_orders").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 4).as("lift"))
        .orderBy(desc("lift"), asc("part_a"), asc("part_b"))
        .limit(20)
    }),

    // RFM segmentation — the classic customer battery: per-customer
    // recency (days since last order vs the corpus max date),
    // frequency, monetary; quintile scores from exact percentile
    // boundaries (1-row broadcast, the equi_depth_buckets pattern —
    // no global ntile window funneling customers through one task);
    // segments aggregated with EXACT decimal monetary sums so
    // shuffle order never flips a double. Recency scores invert
    // (recent = 5).
    "rfm_segments" -> ((s, dir) => {
      val o = Tables(s, dir).orders
      val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("monetary"))
        .crossJoin(broadcast(anchor))
        .withColumn("recency", datediff(col("anchor"), col("last_order")))
      val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
      // boundaries and data meet as SCALED BIGINTS (x·1e6, half-up
      // via floor(x·1e6 + 0.5) — pure IEEE, identical in any engine):
      // percentile vs quantile_cont interpolate with different
      // arithmetic, and round(x, 6) itself is implementation-defined
      // at boundary doubles (Spark rounds the shortest decimal repr,
      // DuckDB scales first — the embedding_covariance round-8 hash
      // miss), so the compares happen int-vs-int after one shared
      // deterministic quantization
      val s6 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e6) + lit(0.5)).cast("long")
      val s6arr = (c: org.apache.spark.sql.Column) => transform(c, s6)
      val bounds = per.agg(
        s6arr(percentile(col("recency"), qs)).as("rb"),
        s6arr(percentile(col("freq"), qs)).as("fb"),
        s6arr(percentile(col("monetary").cast("double"), qs)).as("mb"))
      def above(c: org.apache.spark.sql.Column, bs: String) =
        (1 to 4).map(i =>
          when(s6(c) > element_at(col(bs), i), 1).otherwise(0)).reduce(_ + _)
      per.crossJoin(broadcast(bounds))
        .select(col("o_custkey"), col("monetary"),
          (lit(5) - above(col("recency").cast("double"), "rb")).as("r_score"),
          (lit(1) + above(col("freq").cast("double"), "fb")).as("f_score"),
          (lit(1) + above(col("monetary").cast("double"), "mb")).as("m_score"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("monetary")).cast("double"), 2).as("segment_revenue"))
    }),

    // grouped top-k: top-3 customers by spend within every nation.
    // Planned through the bounded-heap TypedImperativeAggregate
    // (functions.TopKByScore) instead of a window rank: same shuffle
    // volume as Spark 4's WindowGroupLimit-capped window, but one
    // O(n log k) heap scan replaces its two sorts + window pass (see
    // TopKByScore's scaladoc). Same results (score DESC, id ASC
    // tie-break in both).
    "top_customers_per_nation" -> ((s, dir) => {
      graft.functions.TopKByScore.register(s)
      val t = Tables(s, dir)
      val spend = t.orders.groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total_spend"))
      spend
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(graft.functions.TopKByScore
          .topk_by_score(col("total_spend"), col("o_custkey"), 3).as("top"))
        .select(col("n_name"), posexplode(col("top")))
        .select(col("n_name"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("o_custkey"), col("col.score").as("total_spend"))
    })
  )

  /** Materialized co-purchase pair counts `(a, b, n_orders)` with
    * a < b — THE shared derived layout of the whole graph family
    * (r11 verdict #2). Seven board queries consume the same
    * corpus-scale pair build (`part_cooccurrence`,
    * `part_graph_stats`, `part_pagerank`, `part_bfs_hops`,
    * `part_triangles`, `item_similarity`, `association_rules`);
    * re-deriving the orderkey self-join inside each is the same
    * scale-killer shape the cluster family eliminated in r11
    * (11.88 → 0.32 s cold): at 100 TB that is seven multi-hour edge
    * builds where one job plus seven cheap scans suffices. Carrying
    * the multiplicity (`n_orders` = #orders containing both parts)
    * makes the ONE layout serve both the weighted consumers
    * (co-occurrence counts, item-item cosine, association rules) and
    * the unweighted graph trio (edges = the distinct key set).
    * Same [[DerivedStore.table]] as the partitioned fact copy and the
    * cluster assignment — keyed on the source files and the engine
    * code, billed to the first query that needs it like all one-time
    * layout jobs.
    */
  def materializedPairCounts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir).lineitem
    s.read.parquet(DerivedStore.table(dir, "copurchase_pairs", li)(
      copurchasePairCounts(li).write.mode("overwrite").parquet(_)))
  }

  /** Materialized per-part order counts `(part, n_item)` — the node
    * face of the same layout family: the part set (PageRank/BFS node
    * relations, n_nodes) plus each part's order frequency
    * (item-similarity and association-rule denominators), one
    * map-side-combined aggregate over the distinct (order, part)
    * relation, derived once per corpus.
    */
  def materializedPartOrderCounts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir).lineitem
    s.read.parquet(DerivedStore.table(dir, "part_order_counts", li)(
      li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
        .select(col("pk").as("part"), col("n_item"))
        .write.mode("overwrite").parquet(_)))
  }

  /** The pair-count build behind [[materializedPairCounts]]: the
    * codegen orderkey self-join of [[copurchaseEdges]] with the
    * distinct replaced by a count — same pinned-spread discipline
    * (explicit partition counts; see the copurchaseEdges comment),
    * same AQE-skew-splittable join, one extra bigint per row.
    */
  def copurchasePairCounts(lineitem: DataFrame): DataFrame = {
    val n = Parallelism.pinCount(lineitem)
    val sel = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(n, col("ok")).distinct()
    sel.select(col("ok"), col("pk").as("a"))
      .join(sel.select(col("ok"), col("pk").as("b")).hint("shuffle_hash"),
        Seq("ok"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .repartition(n, col("a"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_orders"))
  }

  /** Top-k co-purchase neighbors per part, ranked by cosine² kept in
    * bigint (see the `item_similarity` query comment). Factored out
    * so ScaleSmoke can drive it at N× the bench scale.
    */
  def itemNeighbors(lineitem: DataFrame, k: Int = 5): DataFrame = {
    val io = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val cnt = io.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      .select(col("pk").as("part"), col("n_item"))
    val co = io.select(col("ok"), col("pk").as("a"))
      .join(io.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_both"))
    itemNeighborsFromLayout(
      co.withColumnRenamed("n_both", "n_orders"), cnt, k)
  }

  /** The per-item scoring/rank stage of [[itemNeighbors]] over the
    * derived graph layout: `pairCounts` = (a, b, n_orders) with
    * a < b ([[materializedPairCounts]]), `itemCounts` =
    * (part, n_item) ([[materializedPartOrderCounts]]). Counts
    * broadcast-join back onto the symmetrized pair relation and the
    * top-k runs as a row_number window PARTITIONED BY ITEM — keyed,
    * never global.
    */
  def itemNeighborsFromLayout(pairCounts: DataFrame, itemCounts: DataFrame,
                              k: Int = 5): DataFrame = {
    val sym = pairCounts
      .select(col("a").as("ia"), col("b").as("ib"), col("n_orders").as("n_both"))
      .unionAll(pairCounts
        .select(col("b").as("ia"), col("a").as("ib"), col("n_orders").as("n_both")))
    val scored = sym
      .join(itemCounts.select(col("part").as("ia"), col("n_item")), Seq("ia"))
      .join(itemCounts.select(col("part").as("ib"), col("n_item").as("n_b")),
        Seq("ib"))
      .withColumn("sim2_e6",
        expr("(n_both * n_both * 1000000) DIV (n_item * n_b)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ia"))
      .orderBy(desc("sim2_e6"), desc("n_both"), asc("ib"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("ia").as("item"), col("ib").as("neighbor"),
        col("n_both"), col("n_item"), col("sim2_e6"), col("rank"))
  }

  /** Distinct co-purchase edges straight from lineitem via a codegen
    * equi-self-join — no basket arrays. The basket formulation
    * (collect_set + double explode) routes the whole fact table
    * through a non-codegen ObjectHashAggregate and costs ~2.4 s of
    * the graph queries' budget before the first edge exists; the
    * self-join on l_orderkey is whole-stage-codegen end to end and
    * yields the identical distinct pair set. Dedup runs
    * CO-PARTITIONED: the pair stream repartitions by its first
    * endpoint once, and since hash(a) co-locates every (a,b) group,
    * the distinct aggregate needs no further exchange — the returned
    * relation reports hash(a) partitioning, exactly what the
    * downstream degree count / adjacency build / rank join key on.
    * (Cross-order pair multiplicity is near 1 on this graph, so a
    * partial-agg-first distinct would compress nothing; a giant
    * order's quadratic pair fan-out is intrinsic to the operator and
    * the orderkey join stays AQE-skew-splittable.)
    */
  def copurchaseEdges(lineitem: DataFrame, ordered: Boolean): DataFrame = {
    // in-place (order, part) dedup: hash(ok) satisfies the (ok, pk)
    // clustering, so distinct adds no exchange and the join below
    // consumes both branches exchange-free (ReuseExchange collapses
    // the identical shuffle)
    // both repartitions carry an EXPLICIT count: REPARTITION_BY_COL is
    // AQE-coalescible by byte size, and these tiny-byte/huge-CPU graph
    // relations are exactly where size-based coalescing is wrong — a
    // coalesced edge build serializes the pair fan-out and, worse, the
    // persisted caches downstream freeze the collapsed partitioning
    // (the r8 cold-instability family)
    // data-derived count (r9 verdict #4): floor at session
    // parallelism, scale with the lineitem scan's bytes at 100×
    val n = Parallelism.pinCount(lineitem)
    val sel = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(n, col("ok")).distinct()
    val cond = if (ordered) col("a") < col("b") else col("a") =!= col("b")
    sel.select(col("ok"), col("pk").as("a"))
      .join(sel.select(col("ok"), col("pk").as("b")).hint("shuffle_hash"),
        Seq("ok"))
      .filter(cond)
      .select(col("a"), col("b"))
      .repartition(n, col("a"))
      .distinct()
  }

  /** Fixed-iteration PageRank normalized to uniform-rank ratio:
    * (part, pr_ratio = round(pr·N, 6)). `nodes` (one `part` column)
    * may include isolated vertices — they keep the (1−d)/N floor;
    * `edges` (src, dst) is the directed, deduplicated edge list.
    * See the `part_pagerank` entry for the iterative-dataflow and
    * bit-exactness notes.
    */
  def pageRankRatios(nodes: DataFrame, edges: DataFrame,
                     rounds: Int,
                     prePartitioned: Boolean = false): DataFrame = {
    // The edge list persists ONCE, hash(src)-partitioned — the
    // upstream (here, the orderkey self-join + distinct) is
    // expensive, and everything downstream (degree count, every
    // round's contribution join) consumes this single cache
    // exchange-free: the cached scan reports hash(src) partitioning,
    // which satisfies both the groupBy(src) clustering and the
    // shuffle-hash join key, so per round only the node-sized rank
    // side shuffles. `prePartitioned` callers ([[copurchaseEdges]]
    // output is already hash(first endpoint)) skip the respread.
    // (A previous shape computed deg and the deg-attach join each
    // directly from `edges` — that re-ran the pair build TWICE just
    // to make the cache, 2.4× the whole query. NOTE the cache only
    // REPORTS its partitioning when
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
    // on — see GraftSession — otherwise AQE-built caches read as
    // UnknownPartitioning and every consumer re-exchanges them.)
    // groupBy+join rather than count().over(partitionBy(src)): the
    // window funnels an extreme hub's whole edge list through ONE
    // task (windows aren't AQE-skew-splittable), while the partial-
    // combined degree aggregate plus a skew-splittable join carries
    // the same information. outdeg attaches to the NODE-sized rank
    // side (pr/outdeg precomputed per src before the edge join), so
    // the edge cache never widens and the degree join is node×node.
    graft.functions.FixedPointE18.register(nodes.sparkSession)
    import graft.functions.FixedPointE18.{unscaled_e18, e18_to_double}
    val numP = Parallelism.pinCount(edges)
    val ed = (if (prePartitioned) edges else edges.repartition(numP, col("src")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // nodes persist too: the relation feeds the init, every round's
    // left join, and the count — unpersisted, each reference replays
    // the whole upstream (a lineitem scan + distinct per round).
    // Pinned on the part key: every round's left join consumes the
    // cache exchange-free AND at full parallelism (a size-coalesced
    // node cache would bottleneck every round's rank recombination)
    val nd = nodes.repartition(numP, col("part"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nn = nd.agg(count(lit(1)).as("n"))
    // The rounds stay UNROLLED into one Catalyst plan (no per-round
    // persist/count). Round-11 measured the alternative — constant-
    // shape rounds materialized per iteration so whole-stage codegen
    // compiles once: warm went 2.8 → 4.7 s at sf0.1 (the per-round
    // cache write + count jobs cost more than the saved compiles) and
    // cold did NOT improve, because the cold-warm gap here is C2/JIT
    // warming of the generated classes, not Janino source-compile
    // count (BASELINE.md round-11 negative result). At a rounds count
    // where the unrolled plan outgrows the planner (≫10), flip to the
    // materialize-per-round loop labelPropagation uses.
    var pr = nd.crossJoin(broadcast(nn))
      .select(col("part"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to rounds) {
      // per-row arithmetic is identical to the old edge-side attach —
      // w = pr/outdeg (double) per src, rounded into decimal(38,18)
      // per CONTRIBUTION — but the rounding now happens once per SRC
      // NODE (unscaled_e18: the exact unscaled long of the decimal
      // cast) and the edge-sized aggregate sums plain longs: primitive
      // codegen adds + an 8-byte agg buffer instead of a per-edge
      // BigDecimal allocate-and-add (measured 10.8 CPU-s/round at
      // sf0.1 in the decimal hash aggregate; decimal addition at one
      // scale IS unscaled-long addition, and Σw over any dst group is
      // ≤ Σpr ≈ 1 ≪ the 9.2 long-overflow bound, so the long sum is
      // bit-identical — FixedPointE18Spec fuzzes the identity)
      val prw = pr.withColumnRenamed("part", "src")
        .join(deg.hint("shuffle_hash"), Seq("src"))
        .select(col("src"), unscaled_e18(col("pr") / col("outdeg")).as("wu"))
      val contrib = ed
        .join(prw.hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("wu")).as("su"))
      pr = nd
        .join(contrib.withColumnRenamed("dst", "part").hint("shuffle_hash"),
          Seq("part"), "left")
        .crossJoin(broadcast(nn))
        .select(col("part"),
          (lit(0.15) / col("n") +
            lit(0.85) * coalesce(e18_to_double(col("su")), lit(0.0))).as("pr"))
    }
    pr.crossJoin(broadcast(nn))
      .select(col("part"), round(col("pr") * col("n"), 6).as("pr_ratio"))
  }

  /** Convergence-TERMINATED PageRank (r12 verdict #4): iterate the
    * identical per-round dataflow as [[pageRankRatios]] until the L1
    * rank delta drops under `tolL1E6`/1e6 or `maxRounds` caps the
    * loop — the shape a 100× graph actually wants (a fixed unroll
    * either under-converges or wastes rounds; a tolerance with a
    * round CAP spends exactly what the graph needs, bounded).
    * Returns (ranks, roundsUsed).
    *
    * Unlike the fixed-3 unroll, rounds MATERIALIZE — intrinsic to
    * convergence testing: the stop decision needs Σ|Δpr| on the driver
    * (one 16-byte decimal per round, the same bounded-collect budget
    * as the BPE merge loop) — but the deltas are collected in
    * contraction-predicted BATCHES (one union-of-aggregates action per
    * batch, not one barrier per round; r16 verdict item 3), scanned in
    * round order so the first round under tolerance still defines k.
    * The delta is EXACT and order-invariant —
    * both rank vectors cast to decimal(38,18) before |new − old| and
    * the sum is decimal addition — so the round count is
    * deterministic under shuffle nondeterminism and identical at any
    * partitioning: the oracle can unroll to the same k. L1 contracts
    * by ≥ the 0.85 damping per round (Markov contraction), so
    * tolerance, not the cap, terminates on any connected corpus;
    * the cap bounds adversarial graphs.
    */
  def pageRankConverged(nodes: DataFrame, edges: DataFrame,
                        tolL1E6: Long = PageRankTolL1E6,
                        maxRounds: Int = PageRankMaxRounds,
                        prePartitioned: Boolean = false): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    graft.functions.FixedPointE18.register(nodes.sparkSession)
    import graft.functions.FixedPointE18.{unscaled_e18, e18_to_double}
    val numP = Parallelism.pinCount(edges)
    val ed = (if (prePartitioned) edges else edges.repartition(numP, col("src")))
      .persist(MEMORY_AND_DISK)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(MEMORY_AND_DISK)
    val nd = nodes.repartition(numP, col("part")).persist(MEMORY_AND_DISK)
    // the node count is a DRIVER scalar here (the loop already
    // collects one scalar per round): folding 1/n and 0.15/n into
    // literals removes a broadcast-exchange job from EVERY round's
    // dataflow — the same IEEE divisions the crossJoin(broadcast(nn))
    // form evaluated per row, so values are bit-identical
    val n = nd.count()
    val tol = new java.math.BigDecimal(tolL1E6).movePointLeft(6)
    // DEPLOY.md's cluster contract, executable: when a reliable
    // checkpoint dir is configured (spark.sparkContext.setCheckpointDir)
    // the per-round truncation swaps localCheckpoint → checkpoint with
    // NO other change — same eager semantics, same LogicalRDD leaf for
    // the stats reset below, but blocks live in the checkpoint dir so a
    // lost executor cannot kill a long convergence run. Locally the dir
    // is unset and the cheaper executor-resident variant is used.
    val reliable = nodes.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    // Each round's rank vector is an EAGER localCheckpoint, not a
    // persist: persist caches data but keeps the logical lineage, so
    // an open-ended loop builds an O(rounds)-deep plan that Catalyst
    // re-analyzes (and AQE re-prints) every round — at the cap that
    // is an OOM in plan strings, not data. The checkpoint truncates
    // lineage to the materialized node-sized RDD each round (the
    // round's action doubles as the delta job's input). On a real
    // cluster set spark.sparkContext.setCheckpointDir and the loop
    // swaps to reliable Dataset.checkpoint automatically (`truncate`
    // below) so executor loss can't kill a long convergence run —
    // ReliableCheckpointSpec proves the swap is output-identical and
    // the stats reset still fires on the reliable leaf.
    // the init carries OUTDEG alongside the uniform rank (r13 verdict
    // #6): the rank relation is node-complete by induction (init from
    // nd; every round left-joins contributions onto it), so the old
    // per-round nd-join was redundant, and carrying outdeg inside the
    // checkpointed relation removes the per-round deg-join too — each
    // round is now ONE shuffle_hash left join + one aggregate instead
    // of three joins. outdeg is null for dangling nodes (the old
    // inner deg-join's set, enforced by the isNotNull filter below);
    // the 8 bytes/row it adds to the checkpoint are far cheaper than
    // a node-sized join job per round (A/B at 10×: 32.3 → see
    // BASELINE round-14). No checkpoint on the init: its lineage is
    // two cached relations.
    var pr = nd
      .join(deg.withColumnRenamed("src", "part").hint("shuffle_hash"),
        Seq("part"), "left")
      .select(col("part"), lit(if (n == 0) 0.0 else 1.0 / n).as("pr"),
        col("outdeg"))
    var rounds = 0
    var converged = false
    // ---- batched convergence barrier (r16 verdict item 3) -----------
    // The old loop collected one delta scalar per round (2 driver
    // barriers/round: eager checkpoint + delta agg) — driver-paced on
    // slow-mixing graphs. Rounds between checks are now built LAZILY
    // (persist, not checkpoint: each round's rank relation is
    // referenced TWICE by round r+1 — contrib path + left-join base —
    // so an uncached chain would recompute 2^j-fold; the cache dedups
    // both readers) and ONE union-of-aggregates action per batch
    // collects EVERY round's exact decimal Σ|Δpr| — the identical
    // per-round expression as before, scanned in round order, so the
    // FIRST round under tolerance still wins: k and the returned ranks
    // are bit-identical to the per-round loop (PageRankSpec pins this
    // against the fixed unroll; the oracle's min-r selection matches).
    // Batch size is CONTRACTION-PREDICTED from the last two observed
    // deltas (rounds-to-tol at the observed ρ, floored so mispredicts
    // land short — an extra small batch, never wasted rounds), capped
    // at 4. The cap is MEASURED, not aesthetic (ZipfSmoke m=1, 15
    // rounds to tol, steal≈0 box): per-round loop 14.7 s total; a
    // batch of 4 ran at 0.55 s/round (2× faster than per-round — the
    // saved checkpoint writes + barriers) but a batch of 8 at 8.4
    // s/round — 15× worse: with the intra-batch rounds persisted but
    // UNMATERIALIZED, each round's cache has 3 racing consumer stages
    // (next round's contrib + base, its own delta branch), and past
    // ~4 levels the duplicated cache-population work compounds down
    // the chain instead of being absorbed by first-writer-wins blocks.
    // Per batch: 1 delta action + 1 checkpoint action instead of 2 per
    // round — and the per-round checkpoint WRITES are gone too; only
    // batch boundaries pay the lineage truncation.
    var dPrev = Option.empty[Double]
    var dLast = Option.empty[Double]
    val tolD = tol.doubleValue()
    def nextBatch(remaining: Int): Int = {
      val cap = math.min(4, remaining)
      (dPrev, dLast) match {
        case (Some(p), Some(l)) if l > 0 && p > 0 && l < p && tolD > 0 =>
          // observed contraction ρ = l/p; rounds to tol ≈ log_ρ(tol/l)
          val m = math.log(tolD / l) / math.log(l / p)
          math.max(1, math.min(cap, math.floor(m).toInt))
        case _ if dLast.isEmpty => math.max(1, math.min(2, cap)) // need 2 deltas for ρ
        case _ => cap // not contracting (or tol unreachable): run the cap
      }
    }
    while (!converged && rounds < maxRounds) {
      val batchT0 = System.nanoTime()
      val batch = nextBatch(maxRounds - rounds)
      val roundDfs = new scala.collection.mutable.ArrayBuffer[DataFrame](batch)
      var cur = pr
      for (_ <- 1 to batch) {
        // contribution rounding into decimal(38,18) happens per SRC
        // NODE (unscaled_e18) and the edge-sized aggregate sums plain
        // longs — bit-identical to the per-edge decimal sum, at
        // primitive-add speed (see pageRankRatios for the argument)
        val prw = cur.filter(col("outdeg").isNotNull)
          .select(col("part").as("src"),
            unscaled_e18(col("pr") / col("outdeg")).as("wu"))
        val contrib = ed
          .join(prw.hint("shuffle_hash"), Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(col("wu")).as("su"))
        // the OLD rank rides along so each round's delta is one agg
        // over the round's own (cached) node-sized relation
        val nxt = cur
          .withColumnRenamed("pr", "pr_old")
          .join(contrib.withColumnRenamed("dst", "part").hint("shuffle_hash"),
            Seq("part"), "left")
          .select(col("part"),
            (lit(if (n == 0) 0.0 else 0.15 / n) +
              lit(0.85) * coalesce(e18_to_double(col("su")), lit(0.0))).as("pr"),
            col("pr_old"), col("outdeg"))
          .persist(MEMORY_AND_DISK)
        roundDfs += nxt
        cur = nxt.select(col("part"), col("pr"), col("outdeg"))
      }
      // ONE action per batch: every round's exact decimal Σ|pr−pr_old|
      // (the shuffle map stages are shared across the union's branches
      // by the scheduler; only cache-read probe work can duplicate)
      val deltas = roundDfs.zipWithIndex.map { case (df, i) =>
        df.agg(sum(abs(col("pr").cast("decimal(38,18)") -
          col("pr_old").cast("decimal(38,18)"))).as("d"))
          .select(lit(i).as("i"), col("d"))
      }.reduce(_.unionAll(_)).collect()
        .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
      if (sys.env.contains("SPARK_GRAFT_PR_DEBUG"))
        (0 until batch).foreach(i => System.err.println(
          f"pagerank_converged round=${rounds + i + 1} delta_l1=${deltas(i)} " +
            f"batch_sec=${(System.nanoTime() - batchT0) / 1e9}%.2f"))
      // first round under tolerance wins — exact-k semantics preserved
      val hit = (0 until batch).find { i =>
        deltas(i) == null || deltas(i).compareTo(tol) < 0
      }
      hit match {
        case Some(i) =>
          rounds += i + 1
          converged = true
          pr = roundDfs(i).select(col("part"), col("pr"), col("outdeg"))
          roundDfs.zipWithIndex.filter(_._2 != i).foreach(_._1.unpersist())
        case None =>
          rounds += batch
          // batch-boundary lineage truncation + honest stats re-root:
          // stats reset is REQUIRED, not cosmetic — the round plan
          // references its base twice, so the size-only join estimate
          // SQUARES round-over-round and the eager stats rewrite
          // inside checkpoint() goes super-exponential in driver CPU
          // (BigInteger.multiplyToomCook3 on million-digit estimates —
          // measured 161 s/round on a 4-node graph before the shim).
          // Bound = 3-col UnsafeRow width × node count.
          pr = org.apache.spark.sql.graftshim.CheckpointStats
            .withBoundedStats(truncate(
              roundDfs.last.select(col("part"), col("pr"), col("outdeg"))),
              BigInt(n).max(1) * 32)
          if (batch >= 2) {
            dPrev = Some(deltas(batch - 2).doubleValue())
            dLast = Some(deltas(batch - 1).doubleValue())
          } else {
            dPrev = dLast
            dLast = Some(deltas(batch - 1).doubleValue())
          }
          roundDfs.foreach(_.unpersist())
      }
    }
    val ranks = pr
      .select(col("part"), round(col("pr") * lit(n.toDouble), 6).as("pr_ratio"))
    (ranks, rounds)
  }

  /** Stop when Σ|Δpr| < 1e-4 — average per-node pr_ratio change under
    * 1e-4 (Σ|Δpr_i·N|/N = Σ|Δpr_i|), well past where top-k orderings
    * stop moving on this graph family. With 0.85 damping the L1
    * contracts ≥ 15%/round (Markov contraction), so k ≤
    * log(tol/δ₁)/log(0.85) — bounded at any corpus size (δ₁ ≤ 2);
    * on well-mixing graphs (this one) the real contraction is much
    * stronger and k stays single-digit.
    */
  val PageRankTolL1E6 = 100L
  val PageRankMaxRounds = 20

  /** Per-node triangle participation counts (part, n_tri) over an
    * undirected edge list `und` with columns (u, v), u < v, no
    * duplicates. Nodes in no triangle are absent. See the
    * `part_triangles` entry for the degree-orientation scale argument.
    */
  def triangleParticipation(undIn: DataFrame): DataFrame = {
    // pin count computed BEFORE the persist below: after persist()
    // the shared cache registry rewrites undIn's plan to an
    // unmaterialized InMemoryRelation leaf whose stats are the
    // join-output ESTIMATE (the r10 89,594-partition incident;
    // Parallelism also guards this, belt and braces)
    val numP = Parallelism.pinCount(undIn)
    // the edge list feeds the degree count (twice, via the union) and
    // the orientation join — persist it or the upstream basket
    // self-join replays three times
    val und = undIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deg persists (r18): the orientation join consumes it on BOTH
    // endpoints, and unpersisted the two build sides each re-ran the
    // full union+aggregate subtree (the before-plan carries two deg
    // HashAggregate/Exchange pairs and four und cache scans). Node-
    // sized; worst-case fill race re-pays one build — what running
    // without the persist paid unconditionally.
    val deg = und.select(col("u").as("p"))
      .unionAll(und.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val e = und
      .join(deg.select(col("p").as("u"), col("d").as("du"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("p").as("v"), col("d").as("dv"))
        .hint("shuffle_hash"), Seq("v"))
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      // hash(src) feeds the adjacency groupBy exchange-free. Explicit
      // count — a size-coalesced exchange would serialize the codegen
      // intersect stage (CPU-bound, tiny bytes). No persist: the
      // oriented edge list's ONLY consumer is now the adjacency build
      // (the per-edge relation is re-derived from the adjacency cache
      // by a narrow explode, see withU below).
      .repartition(numP, col("src"))
    // adjacency-intersection (compact-forward) instead of wedge
    // materialization: for oriented edge (u,v) every w in
    // N+(u) ∩ N+(v) closes triangle {u,v,w}, generated exactly once
    // at the triangle's (deg,id)-minimal edge. The wedge formulation
    // materialized and shuffled Σ outdeg² rows through two joins
    // (~tens of millions on the sf0.1 graph, 3× the runtime); here
    // the intersection evaluates inline per edge and the only
    // triangle-shaped relation is ONE ROW PER TRIANGLE. Orientation
    // still bounds every adjacency array at O(√m), so a hub cannot
    // blow up a task; the nu-carrying shuffle onto v is the one wide
    // op whose volume is Σ_(u,v)∈E |N+(u)| = O(m^1.5) BYTES worst
    // case but with none of the join/row machinery per wedge, and
    // AQE's skew split applies to it.
    //
    // Neighbor lists travel as DELTA-VARINT-ENCODED binaries
    // (functions.VarintSet, r18): the nu-carrying shuffle onto v ships
    // one sorted neighbor array per oriented edge — Σ|N+(u)| longs,
    // 322 MB of shuffle file at sf0.1 and the query's biggest
    // write+fetch stage pair — where every value is a small-gap sorted
    // id that LEB128 stores in ~2 bytes instead of 8. The per-edge
    // intersection decodes both streams on the fly (same two-pointer
    // merge as the long-array kernel it replaces; VarintSetSpec pins
    // element-identical output). Credits leave through ONE weighted
    // explode — u and v each close |N+(u)∩N+(v)| triangles on this
    // edge (weight = size(ws)), each common neighbor w closes one —
    // so the exploded relation is 2 rows per closing edge + 1 per
    // triangle instead of 3 per triangle, and the per-part sum
    // combines map-side as before.
    //
    // The adjacency persists ONCE (encoded, hash(src)) and serves BOTH
    // intersect operands: the before-plan built the whole
    // collect_list aggregate twice (u-side and v-side subtrees diverge
    // after column pruning, so ReuseExchange can't fire — the same
    // effect the minhash prep documents). The oriented edge relation
    // is re-derived from the cache by a narrow explode instead of the
    // old e⋈adj join: decode(encode(sort(collect_list))) explodes to
    // exactly the grouped rows, so the pair set is unchanged.
    graft.functions.VarintSet.register(undIn.sparkSession)
    val adj = e.groupBy(col("src"))
      .agg(graft.functions.VarintSet.varint_encode_sorted(
        sort_array(collect_list(col("dst")))).as("nbrs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withU = adj.select(col("src").as("u"),
      explode(graft.functions.VarintSet.varint_decode_sorted(col("nbrs")))
        .as("v"),
      col("nbrs").as("nu"))
    // the nu-carrying shuffle onto v is the ONE wide op of the
    // intersect phase and feeds the CPU-dominant merge-intersect —
    // pin its width (the explicit-count repartition satisfies the
    // join's clustering, so no second exchange appears; left
    // coalescible, AQE collapsed it to a handful of tasks on
    // byte-size grounds and the intersect serialized)
    val withBoth = withU
      .repartition(numP, col("v"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv"))
        .hint("shuffle_hash"), Seq("v"))
    val perEdge = withBoth.select(col("u"), col("v"),
      graft.functions.VarintSet.varint_intersect(col("nu"), col("nv"))
        .as("ws"))
      .filter(size(col("ws")) > 0)
    perEdge
      .select(explode(concat(
        array(struct(col("u").as("part"), size(col("ws")).cast("bigint").as("c")),
          struct(col("v").as("part"), size(col("ws")).cast("bigint").as("c"))),
        transform(col("ws"), w => struct(w.as("part"), lit(1L).as("c"))))).as("pc"))
      .groupBy(col("pc.part").as("part")).agg(sum(col("pc.c")).as("n_tri"))
  }

  /** Histogram (hops, n_parts) of shortest-path distances from the
    * minimum edge-touched node, bounded to `maxHops` rounds —
    * single-source BFS as iterative keyed dataflow.
    *
    * Scale shape: the edge list persists once, hash(src)-partitioned;
    * each round joins ONLY the current frontier ring (nodes first
    * discovered last round) against it, so a round's shuffle is the
    * ring size, not the accumulated distance table, and rings in a
    * bounded-hop crawl are the small side by construction. The only
    * driver scalars are the source id and the per-round ring count
    * (loop bookkeeping, same pattern as the CC fixpoint). Unreached
    * nodes don't appear — reachability IS the report.
    */
  def bfsHopHistogram(edges: DataFrame, maxHops: Int,
                      prePartitioned: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    // copurchaseEdges already leaves hash(src) partitioning (alias-
    // preserving select) — prePartitioned skips the respread, same
    // contract as pageRankRatios
    val ed = (if (prePartitioned) edges
      else edges.repartition(Parallelism.pinCount(edges), col("src")))
      .persist(MEMORY_AND_DISK)
    // the source stays a DATAFRAME (1-row aggregate), not a collected
    // literal: a lit() seed constant-folds through the first ring join
    // and degenerates it to a nested-loop plan, and an empty edge
    // relation just yields an empty seed → empty histogram (the
    // oracle's seed row carries the matching HAVING guard)
    val seed = ed.agg(min(col("src")).as("id"))
      .filter(col("id").isNotNull)
      .select(col("id"), lit(0).as("d"))
      .persist(MEMORY_AND_DISK)
    // Only the DISJOINT rings persist (their union IS the distance
    // table — one cached copy of the reached set total, no cumulative
    // snapshots to rematerialize); per round the only driver action
    // is the ring count the loop needs anyway. Constant-shape rounds
    // (r10 verdict #6): (a) the frontier carries its own hop column
    // (next hop = d + 1 read from the CACHED ring — a lit(r) would
    // bake a different constant into every round's generated code and
    // defeat the Janino cache), and (b) the anti-join side is only
    // the last TWO rings, not the union of all of them (whose arity
    // grew per round → a fresh k-way-union plan compiled per round).
    // Two rings are EXACT here: in an unweighted undirected graph a
    // neighbor of a distance-(r−1) node has distance ≥ r−2, so rings
    // 0..r−3 cannot contain any candidate. That also shrinks the
    // anti side from the whole distance table to two frontiers — the
    // version that matters at a billion nodes. With both fixed, every
    // round ≥ 2 plans identically — one frontier⋈edges shuffle-hash
    // join, one distinct, one anti against a 2-way union of cached
    // rings — compiled once, reused.
    val rings = scala.collection.mutable.ArrayBuffer[DataFrame](seed)
    var ring = seed
    var prevRing = seed // ring r−2; for round 1 both sides are the seed
    var r = 1
    var ringSize = seed.count()
    while (r <= maxHops && ringSize > 0) {
      // round 1's ring is the 1-row seed — broadcast it (provably
      // bounded) so the first expansion reads the edge cache in
      // place; later rings can be arbitrarily large and must
      // shuffle-hash against the co-partitioned cache
      val ringSide = if (r == 1) ring.hint("broadcast") else ring
      val next = ringSide.join(ed.hint("shuffle_hash"),
          ringSide("id") === ed("src"))
        .select(col("dst").as("id"), (ringSide("d") + lit(1)).as("d"))
        .distinct()
        .join(ring.select(col("id")).unionAll(prevRing.select(col("id"))),
          Seq("id"), "left_anti")
        .persist(MEMORY_AND_DISK)
      ringSize = next.count()
      rings += next
      prevRing = ring
      ring = next
      r += 1
    }
    // The histogram is ≤ maxHops+1 rows — materialize it NOW (a
    // bounded-scalar collect, same class as the fixpoint sums) so the
    // edge/seed/ring caches can be released before returning: a
    // long-lived session calling graph ops repeatedly would otherwise
    // accumulate cache blocks per call (each ring materialized during
    // the loop, so this final aggregate reads only cached data).
    val hist = rings.reduce(_ unionAll _)
      .groupBy(col("d").as("hops"))
      .agg(count(lit(1)).as("n_parts"))
    val out = hist.collect().toSeq
    val res = spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), hist.schema)
    (Seq(ed) ++ rings).foreach(_.unpersist())
    res
  }

  /** CONVERGENCE-AWARE oracle for [[pageRankConverged]]: unrolls the
    * part_pagerank recurrence to `maxK` rounds, computes each round's
    * exact decimal L1 delta IN SQL, and selects the first round under
    * the tolerance — the same stop rule the Spark loop applies, so the
    * oracle terminates at the same k on ANY corpus (measured k = 5 at
    * sf0.01, 4 at sf0.001; a fixed unroll would pin one corpus's k).
    * Both engines compare the identical exact decimal(38,18) sum of
    * |pr_new − pr_old| against the identical decimal literal, so the
    * round choice cannot diverge. `maxK` bounds the generated SQL —
    * if a corpus ever needed more rounds than `maxK`, the converged-
    * round subquery goes empty and the gate fails LOUDLY (0 rows)
    * rather than silently comparing different rounds; this graph
    * family contracts ~10×/round, so 8 covers any gate corpus.
    */
  private def pagerankConvergedOracle(maxK: Int, tolLit: String): String = {
    val head =
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
        |deg AS (SELECT src, cast(count(*) AS bigint) AS outdeg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT l_partkey AS part FROM li),
        |nn AS (SELECT cast(count(*) AS bigint) AS n FROM nodes),
        |it0 AS (SELECT part, 1.0::DOUBLE / n AS pr FROM nodes, nn)""".stripMargin
    val its = (1 to maxK).map { i =>
      s""",
         |it$i AS (
         |  SELECT nodes.part,
         |    0.15::DOUBLE / n + 0.85::DOUBLE * coalesce(cast(c.s AS DOUBLE), 0) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS part, sum(cast(p.pr / d.outdeg AS decimal(38,18))) AS s
         |    FROM edges e JOIN it${i - 1} p ON e.src = p.part JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) c ON nodes.part = c.part, nn)""".stripMargin
    }.mkString
    val deltas = (1 to maxK).map { i =>
      s"""  SELECT $i AS r,
         |    (SELECT sum(abs(cast(a.pr AS decimal(38,18)) - cast(b.pr AS decimal(38,18))))
         |     FROM it$i a JOIN it${i - 1} b ON a.part = b.part) AS dl""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val allIts = (1 to maxK).map(i =>
      s"  SELECT $i AS r, part, pr FROM it$i").mkString("\n  UNION ALL\n")
    head + its +
      s""",
         |d AS (
         |$deltas),
         |kk AS (SELECT cast(min(r) AS int) AS k FROM d WHERE dl < $tolLit),
         |allit AS (
         |$allIts)
         |SELECT cast(row_number() OVER (ORDER BY pr_ratio DESC, part) AS int) AS rk,
         |  part, pr_ratio, kk.k AS rounds
         |FROM (SELECT part, round(pr * n, 6) AS pr_ratio
         |      FROM allit, kk, nn WHERE allit.r = kk.k), kk
         |ORDER BY pr_ratio DESC, part LIMIT 20""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "clv_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey, o_totalprice,
        |    date_trunc('quarter', o_orderdate) AS oq
        |  FROM orders),
        |cohorts AS (
        |  SELECT o_custkey, min(oq) AS cohort_q FROM o GROUP BY 1)
        |SELECT c.cohort_q, o.oq AS order_q,
        |  cast(count(DISTINCT o.o_custkey) AS bigint) AS n_buyers,
        |  cast(count(*) AS bigint) AS n_orders,
        |  round(cast(sum(cast(o_totalprice AS decimal(18,2))) AS double), 2)
        |    AS revenue
        |FROM o JOIN cohorts c ON o.o_custkey = c.o_custkey
        |GROUP BY 1, 2""".stripMargin,
    "part_bfs_hops" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk <> y.pk),
        |reach(id, d) AS (
        |  SELECT min(src), 0 FROM edges HAVING min(src) IS NOT NULL
        |  UNION
        |  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.id
        |  WHERE r.d < 3),
        |dist AS (SELECT id, min(d) AS d FROM reach GROUP BY id)
        |SELECT d AS hops, cast(count(*) AS bigint) AS n_parts
        |FROM dist GROUP BY d""".stripMargin,
    "events_funnel" ->
      """SELECT cast(count(*) AS bigint) AS n_users,
        |  cast(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_signed_up,
        |  cast(sum(CASE WHEN first_signup IS NOT NULL AND first_purchase > first_signup
        |           THEN 1 ELSE 0 END) AS bigint) AS n_converted
        |FROM (SELECT user_id,
        |        min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |        min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |      FROM events GROUP BY user_id)""".stripMargin,
    "events_funnel_ordered" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 6 HOURS
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 6 HOURS
        |  GROUP BY e.user_id)
        |SELECT (SELECT cast(count(*) AS bigint) FROM v) AS n_view,
        |  (SELECT cast(count(*) AS bigint) FROM c) AS n_view_click,
        |  (SELECT cast(count(*) AS bigint) FROM p) AS n_view_click_purchase""".stripMargin,
    "retention_cohorts" ->
      """WITH cohorts AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events)
        |SELECT cohort_week, activity_week,
        |  cast(count(DISTINCT a.user_id) AS bigint) AS n_users
        |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
        |GROUP BY cohort_week, activity_week""".stripMargin,
    "part_cooccurrence" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  cast(count(*) AS bigint) AS n_orders
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,
    "part_graph_stats" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |und AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |bth AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT a, cast(count(*) AS bigint) AS deg
        |        FROM bth GROUP BY a),
        |tri AS (SELECT cast(count(*) AS bigint) AS n_triangles
        |        FROM und e1 JOIN und e2 ON e1.b = e2.a
        |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |wed AS (SELECT cast(sum((deg * (deg - 1)) // 2) AS bigint)
        |          AS n_wedges FROM deg),
        |nn AS (SELECT cast(count(DISTINCT pk) AS bigint) AS n_nodes FROM li),
        |ne AS (SELECT cast(count(*) AS bigint) AS n_edges FROM und),
        |mom AS (
        |  SELECT cast(count(*) AS bigint) AS m,
        |    cast(sum(da.deg) AS bigint) AS sx,
        |    cast(sum(da.deg * db.deg) AS bigint) AS sxy,
        |    cast(sum(da.deg * da.deg) AS bigint) AS sxx
        |  FROM bth j JOIN deg da ON j.a = da.a JOIN deg db ON j.b = db.a),
        |f AS (
        |  SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |    m::HUGEINT * sxy - sx::HUGEINT * sx AS num,
        |    m::HUGEINT * sxx - sx::HUGEINT * sx AS den
        |  FROM nn, ne, wed, tri, mom)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  cast((3 * n_triangles * 1000000) // n_wedges AS bigint)
        |    AS global_cc_e6,
        |  cast(CASE WHEN num < 0
        |    THEN -(((-num) * 1000000) // den)
        |    ELSE ((num * 1000000) // den) END AS bigint) AS assortativity_e6
        |FROM f""".stripMargin,
    "item_similarity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |cnt AS (SELECT pk, cast(count(*) AS bigint) AS n_item
        |        FROM li GROUP BY pk),
        |co AS (SELECT a.pk AS ia, b.pk AS ib, cast(count(*) AS bigint) AS n_both
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2),
        |sym AS (SELECT ia, ib, n_both FROM co
        |        UNION ALL SELECT ib, ia, n_both FROM co),
        |scored AS (
        |  SELECT s.ia AS item, s.ib AS neighbor, s.n_both,
        |    ca.n_item,
        |    (s.n_both * s.n_both * 1000000) // (ca.n_item * cb.n_item)
        |      AS sim2_e6
        |  FROM sym s JOIN cnt ca ON s.ia = ca.pk
        |             JOIN cnt cb ON s.ib = cb.pk),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item
        |        ORDER BY sim2_e6 DESC, n_both DESC, neighbor ASC) AS rank
        |      FROM scored)
        |SELECT item, neighbor, n_both, n_item,
        |  cast(sim2_e6 AS bigint) AS sim2_e6, cast(rank AS int) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,
    // the identical simplified-PageRank formula unrolled: decimal
    // contribution sums, double recombination, literal 0.15/0.85
    "part_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
        |deg AS (SELECT src, cast(count(*) AS bigint) AS outdeg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT l_partkey AS part FROM li),
        |nn AS (SELECT cast(count(*) AS bigint) AS n FROM nodes),
        |pr0 AS (SELECT part, 1.0::DOUBLE / n AS pr FROM nodes, nn),
        |it1 AS (
        |  SELECT nodes.part,
        |    0.15::DOUBLE / n + 0.85::DOUBLE * coalesce(cast(c.s AS DOUBLE), 0) AS pr
        |  FROM nodes LEFT JOIN (
        |    SELECT e.dst AS part, sum(cast(p.pr / d.outdeg AS decimal(38,18))) AS s
        |    FROM edges e JOIN pr0 p ON e.src = p.part JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON nodes.part = c.part, nn),
        |it2 AS (
        |  SELECT nodes.part,
        |    0.15::DOUBLE / n + 0.85::DOUBLE * coalesce(cast(c.s AS DOUBLE), 0) AS pr
        |  FROM nodes LEFT JOIN (
        |    SELECT e.dst AS part, sum(cast(p.pr / d.outdeg AS decimal(38,18))) AS s
        |    FROM edges e JOIN it1 p ON e.src = p.part JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON nodes.part = c.part, nn),
        |it3 AS (
        |  SELECT nodes.part,
        |    0.15::DOUBLE / n + 0.85::DOUBLE * coalesce(cast(c.s AS DOUBLE), 0) AS pr
        |  FROM nodes LEFT JOIN (
        |    SELECT e.dst AS part, sum(cast(p.pr / d.outdeg AS decimal(38,18))) AS s
        |    FROM edges e JOIN it2 p ON e.src = p.part JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON nodes.part = c.part, nn)
        |SELECT cast(row_number() OVER (ORDER BY pr_ratio DESC, part) AS int) AS rk,
        |  part, pr_ratio
        |FROM (SELECT part, round(pr * n, 6) AS pr_ratio FROM it3, nn)
        |ORDER BY pr_ratio DESC, part LIMIT 20""".stripMargin,
    // the tolerance-terminated variant: the SAME recurrence with the
    // SAME stop rule evaluated in SQL (per-round exact decimal L1
    // deltas, first round under 1e-4 wins) — converges at k = 5 at
    // sf0.01 (delta_l1: 0.1334, 0.0102, 0.00109, 0.000136, 0.0000190)
    // and k = 4 at sf0.001, and the oracle picks the same k on any
    // corpus because the delta arithmetic is exact in both engines
    "pagerank_converged" -> pagerankConvergedOracle(8, "0.0001"),
    // identical degree-oriented triangle enumeration: every triangle
    // counted once from its (deg, id)-minimum endpoint
    "part_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT p, cast(count(*) AS bigint) AS d FROM (
        |  SELECT u AS p FROM und UNION ALL SELECT v AS p FROM und) GROUP BY p),
        |e AS (
        |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS ddeg
        |  FROM und JOIN deg du ON und.u = du.p JOIN deg dv ON und.v = dv.p),
        |tri AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
        |  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |parts AS (SELECT x AS part FROM tri UNION ALL
        |          SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT cast(row_number() OVER (ORDER BY n_tri DESC, part ASC) AS int) AS rk,
        |  part, n_tri
        |FROM (SELECT part, cast(count(*) AS bigint) AS n_tri FROM parts GROUP BY part)
        |ORDER BY n_tri DESC, part ASC LIMIT 20""".stripMargin,
    "association_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |item AS (SELECT l_partkey, cast(count(*) AS bigint) AS n_item
        |         FROM li GROUP BY l_partkey),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    cast(count(*) AS bigint) AS n_ab
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |total AS (SELECT cast(count(DISTINCT l_orderkey) AS bigint) AS n_orders
        |          FROM li)
        |SELECT part_a, part_b, n_ab,
        |  ia.n_item AS n_a, ib.n_item AS n_b,
        |  round(n_ab::DOUBLE / n_orders::DOUBLE, 4) AS support,
        |  round(n_ab::DOUBLE / ia.n_item::DOUBLE, 4) AS confidence,
        |  round(n_ab::DOUBLE * n_orders::DOUBLE
        |        / (ia.n_item::DOUBLE * ib.n_item::DOUBLE), 4) AS lift
        |FROM pairs
        |JOIN item ia ON part_a = ia.l_partkey
        |JOIN item ib ON part_b = ib.l_partkey, total
        |ORDER BY lift DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,
    "rfm_segments" ->
      """WITH anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
        |per AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(o_orderdate), (SELECT anchor FROM anchor)) AS recency,
        |    cast(count(*) AS bigint) AS freq,
        |    sum(cast(o_totalprice AS decimal(18,2))) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |b AS (
        |  SELECT list_transform(quantile_cont(recency::DOUBLE, [0.2, 0.4, 0.6, 0.8]),
        |           x -> cast(floor(x * 1e6 + 0.5) AS bigint)) AS rb,
        |         list_transform(quantile_cont(freq::DOUBLE, [0.2, 0.4, 0.6, 0.8]),
        |           x -> cast(floor(x * 1e6 + 0.5) AS bigint)) AS fb,
        |         list_transform(quantile_cont(monetary::DOUBLE, [0.2, 0.4, 0.6, 0.8]),
        |           x -> cast(floor(x * 1e6 + 0.5) AS bigint)) AS mb
        |  FROM per),
        |scored AS (
        |  SELECT o_custkey, monetary,
        |    5 - ((s6r > rb[1])::int + (s6r > rb[2])::int
        |       + (s6r > rb[3])::int + (s6r > rb[4])::int) AS r_score,
        |    1 + ((s6f > fb[1])::int + (s6f > fb[2])::int
        |       + (s6f > fb[3])::int + (s6f > fb[4])::int) AS f_score,
        |    1 + ((s6m > mb[1])::int + (s6m > mb[2])::int
        |       + (s6m > mb[3])::int + (s6m > mb[4])::int) AS m_score
        |  FROM (SELECT *,
        |          cast(floor(recency::DOUBLE * 1e6 + 0.5) AS bigint) AS s6r,
        |          cast(floor(freq::DOUBLE * 1e6 + 0.5) AS bigint) AS s6f,
        |          cast(floor(monetary::DOUBLE * 1e6 + 0.5) AS bigint) AS s6m
        |        FROM per), b)
        |SELECT r_score, f_score, m_score,
        |  cast(count(*) AS bigint) AS n_customers,
        |  round(cast(sum(monetary) AS double), 2) AS segment_revenue
        |FROM scored GROUP BY 1, 2, 3""".stripMargin,
    "top_customers_per_nation" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name,
        |  cast(row_number() OVER w AS int) AS rk, o_custkey, total_spend
        |FROM spend
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WINDOW w AS (PARTITION BY n_name ORDER BY total_spend DESC, o_custkey ASC)
        |QUALIFY row_number() OVER w <= 3""".stripMargin
  )
}
