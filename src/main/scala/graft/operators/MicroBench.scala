package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev micro-bench: time SUB-dataflows of the expensive queries so a
  * multi-second query decomposes into measured pieces instead of
  * guessed ones (optimization guide §1: measure first; §1.4: noop
  * sink so the timed action computes every column of every row and
  * the optimizer can't prune the piece under test).
  *
  * Usage: runMain graft.operators.MicroBench <sfDir> [piece,piece,...] [--reps=N]
  *
  * Pieces call the operators' own kernels (`Dedup.shingleSetsK`,
  * `TextAnalysis.hits`, ...) and compose the sub-dataflows of the
  * queries they decompose; they are measurement scaffolding, never
  * query paths.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only =
      if (args.length > 1 && !args(1).startsWith("--"))
        args(1).split(",").toSet
      else Set.empty[String]
    val reps = args.find(_.startsWith("--reps="))
      .map(_.stripPrefix("--reps=").toInt).getOrElse(3)
    val s = graft.GraftSession.local()
    val t = graft.catalog.Tables(s, sfDir)
    graft.functions.MinHash60.register(s)
    graft.functions.ShingleKernel.register(s)

    def docs = t.documents

    def shingles(k: Int): DataFrame = Dedup.shingleSetsK(docs, k)
    import TextAnalysis.{hits, nWords}

    // shared graph inputs for the pagerank pieces — the exact
    // relations the part_pagerank/pagerank_converged entries build
    def prGraph(): (DataFrame, DataFrame) = {
      graft.functions.TopKByScore.register(s)
      val pairs = ProductAnalytics.materializedPairCounts(s, sfDir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val nodes = ProductAnalytics.materializedPartOrderCounts(s, sfDir)
        .select(col("part"))
      (nodes, edges)
    }
    // shared single-round inputs for the prk_* decomposition pieces:
    // the cached hash(src)-partitioned edge list and a deterministic
    // node-sized (src, w) rank stand-in, both memoized across pieces
    lazy val prkEdC: DataFrame = {
      val (_, e) = prGraph()
      val numP = Parallelism.pinCount(e)
      e.repartition(numP, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    lazy val prkWC: DataFrame = {
      val (n, _) = prGraph()
      n.select(col("part").as("src"),
        // 1e-6 scale keeps Σw per dst far under the 9.2 long bound
        // even for extreme-degree hubs
        (lit(1.0e-6) / (pmod(xxhash64(col("part")), lit(40)) + 1)).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def prkEd(s: SparkSession): DataFrame = prkEdC
    def prkW(s: SparkSession): DataFrame = prkWC

    val pieces: Seq[(String, () => DataFrame)] = Seq(
      "docs_scan" -> (() => docs),
      "docs_split" -> (() =>
        docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))),
      "docs_shingle" -> (() => shingles(2)),
      "docs_shingle3" -> (() => shingles(3)),
      "docs_minhash" -> (() => shingles(2)
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"),
          graft.functions.MinHash60.minhash60(col("toks"), Dedup.NumPerms).as("mh"))),
      "mh_cands" -> (() => Dedup.minhashBandCandidates(docs)),
      "mh_pairs" -> (() => Dedup.minhashPairs(docs.select(col("doc_id"), col("text")))),
      "curation_scored" -> (() => docs.select(col("doc_id"), col("text"),
        col("lang"), col("n_chars"), nWords.as("n_words"),
        (hits(" the ") + hits(" a ") + hits(" of ") + hits(" and "))
          .as("stop_hits"))),
      "edit_pairs" -> (() => Dedup.editPairs(docs)),
      "li_scan" -> (() => t.lineitem),
      "li_groupkey" -> (() => t.lineitem
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))),
      "pair_counts" -> (() => ProductAnalytics.materializedPairCounts(s, sfDir)),
      "events_scan" -> (() => t.events),
      "fused_tokcount" -> (() => docs.select(col("doc_id"),
        graft.functions.ShingleKernel.token_count(col("text")).as("tc"))),
      "fused_minhash" -> (() => docs.select(col("doc_id"),
        graft.functions.ShingleKernel.minhash60_text(col("text"), Dedup.NumPerms).as("mh"))),
      "fused_sig" -> (() => docs.select(col("doc_id"),
        graft.functions.ShingleKernel.shingle_sig(col("text"), Dedup.NumPerms).as("sig"))),
      "fused_sig3" -> (() => {
        val sig = graft.functions.ShingleKernel.shingle_sig(col("text"), Dedup.NumPerms)
        docs.select(col("doc_id"), sig.as("s"))
          .select(col("doc_id"), col("s.vtoks").as("vtoks"),
            col("s.n").as("n"), col("s.mh").as("mh"))
      }),
      // dfOrderedPrep's front half (object-private; inlined): the
      // exploded (doc_id, shingle) relation + df counts + the
      // (df, w)-ordered per-doc re-assembly — shared by the
      // containment/jaccard prefix joins (shingleK=3)
      "dfprep3" -> (() => {
        val tok = shingles(3).repartition(32, col("doc_id"))
          .select(col("doc_id"), explode(col("toks")).as("w"))
        val tokDf = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
        tok.join(tokDf.hint("shuffle_hash"), Seq("w"))
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("sorted"))
          .select(col("doc_id"),
            transform(col("sorted"), x => xxhash64(x.getField("w"))).as("toks"),
            size(col("sorted")).as("n"))
      }),
      "dfprep3x" -> (() => {
        val tok = docs.repartition(32, col("doc_id"))
          .select(col("doc_id"), explode(
            graft.functions.ShingleKernel.shingle_xx(col("text"), 3)).as("w"))
        val tokDf = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
        tok.join(tokDf.hint("shuffle_hash"), Seq("w"))
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("sorted"))
          .select(col("doc_id"),
            transform(col("sorted"), x => x.getField("w")).as("toks"),
            size(col("sorted")).as("n"))
      }),
      // --- pagerank fixed-cost decomposition (r18) ------------------
      // pr_r0: caches + init only (edge cache untouched — rounds=0
      // never references ed/deg); pr_r1/r3/r6: marginal per-round
      // cost; prc: the convergence-terminated loop end to end
      "pr_r0" -> (() => { val (n, e) = prGraph(); ProductAnalytics.pageRankRatios(n, e, 0) }),
      "pr_r1" -> (() => { val (n, e) = prGraph(); ProductAnalytics.pageRankRatios(n, e, 1) }),
      "pr_r3" -> (() => { val (n, e) = prGraph(); ProductAnalytics.pageRankRatios(n, e, 3) }),
      "pr_r6" -> (() => { val (n, e) = prGraph(); ProductAnalytics.pageRankRatios(n, e, 6) }),
      "prc" -> (() => { val (n, e) = prGraph(); ProductAnalytics.pageRankConverged(n, e)._1 }),
      "pr_edges" -> (() => { val (_, e) = prGraph(); e }),
      // --- one contribution round, decomposed (r18): scan the edge
      // cache / + shuffle-hash join / + aggregate (long vs decimal).
      // Warm reps read the persisted cache only — the population cost
      // sits in the first (cold) rep.
      "prk_scan" -> (() => prkEd(s)),
      "prk_join" -> (() => prkEd(s)
        .join(prkW(s).hint("shuffle_hash"), Seq("src"))),
      "prk_agg" -> (() => {
        graft.functions.FixedPointE18.register(s)
        prkEd(s).join(prkW(s)
            .select(col("src"), graft.functions.FixedPointE18
              .unscaled_e18(col("w")).as("wu")).hint("shuffle_hash"),
            Seq("src"))
          .groupBy(col("dst")).agg(sum(col("wu")).as("su"))
      }),
      "prk_agg_dec" -> (() => prkEd(s)
        .join(prkW(s).hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("w").cast("decimal(38,18)")).as("sd"))),
      "chain_sig" -> (() => {
        val toks = shingles(2)
        toks.select(col("doc_id"),
          array_sort(transform(col("toks"), x => xxhash64(x))).as("vtoks"),
          size(col("toks")).as("n"),
          graft.functions.MinHash60.minhash60(col("toks"), Dedup.NumPerms).as("mh"))
      })
    )
    val sel = pieces.filter(p => only.isEmpty || only(p._1))
    for ((name, fn) <- sel) {
      val times = (1 to reps).map { _ =>
        s.catalog.clearCache()
        s.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-18s " + times.map(x => f"$x%6.2f").mkString(" "))
    }
    s.stop()
  }
}
