package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Zipf-skew adversarial smoke (r13 verdict #2). The copy-inflation
  * smoke ([[ScaleSmoke]]) is adversarial for LSH banding but FRIENDLY
  * for the graph and prefix-join families: disjoint exact copies keep
  * PageRank's mixing, the degree distribution, and the shuffle-key
  * uniformity intact. A real 100 TB corpus is skewed, not copied —
  * one mega-degree hub, one boilerplate near-dup cluster, one hot
  * embedding block. This smoke generates those shapes
  * DETERMINISTICALLY (xxhash64-seeded, no RNG state) at sf0.1-ish
  * scale and reports, per op, the wall time AND the longest single
  * task: the signature of a hot key serializing a stage is
  * max_task ≈ wall, which a totals-only smoke cannot see.
  *
  * Shapes (hot-spot sizes FIXED as `m` scales, so a healthy op scales
  * ~linearly in m and any super-linear bend is a real plan defect,
  * not intrinsic output growth):
  *  - graph: 50k·m nodes; node r has Zipf in-degree max(1, 10⁴/r)
  *    (one ~10⁴-degree hub regardless of m) plus a ring for
  *    connectivity;
  *  - corpus: 5k·m docs of 80 Zipf(V=2000) tokens; docs 1–500 share
  *    one 60-token boilerplate prefix (a fixed-size mega near-dup
  *    cluster: ~125k true pairs); the rest form 20-doc clusters;
  *  - embeddings: 20k·m random unit-cube vectors, Zipf labels with
  *    the hot block at ~28 % of the corpus (m=1: ~5.6k, m=2: ~8.7k
  *    distinct vectors — under the 10k knn block cap; past m=2 the
  *    hot block belongs to the IVF path by the cap's own contract).
  *
  * Usage: runMain graft.ZipfSmoke [m] [op,op,...] [hotDocs] [--grow]
  * (hotDocs scales the boilerplate cluster alone — the "how big can
  * the hot near-dup cluster get before the pair family bends" probe;
  * its TRUE pair output grows quadratically in hotDocs by design, so
  * judge those runs on pairs/sec, not wall.)
  *
  * GROWING-HUB mode (`--grow`, r14 verdict #4): fixed hot-spot sizes
  * are right for judging LINEARITY, but a real power-law hub grows
  * with the corpus — the largest degree / cluster in a Zipf draw of n
  * items scales ~√n-ish, not O(1). With --grow the hub degree and the
  * boilerplate cluster scale by √m (10⁴·√m-degree hub, 500·√m-doc
  * cluster), so true pair output grows ~linearly in m for the hub
  * families and the right judgment is ROWS/SEC + max_task, both
  * printed per op: a healthy op holds throughput roughly flat and
  * keeps max_task bounded by the salt width; a serialized stage shows
  * up as max_task ≈ wall.
  */
object ZipfSmoke {

  /** Per-op task/stage telemetry: longest single task, plus any stage
    * whose longest task dominates the op (> 50 % of a ≥ 2 s op wall).
    */
  final class TaskStats extends SparkListener {
    private val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
    private val stageMaxMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    @volatile var maxTaskDetail: String = ""
    private val stageRows = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val d = e.taskInfo.duration
      val prev = maxTaskMs.getAndUpdate(m => math.max(m, d))
      if (d > prev && e.taskMetrics != null)
        maxTaskDetail = f"run=${e.taskMetrics.executorRunTime / 1000.0}%.1f " +
          f"cpu=${e.taskMetrics.executorCpuTime / 1e9}%.1f " +
          f"gc=${e.taskMetrics.jvmGCTime / 1000.0}%.1f " +
          f"deser=${e.taskMetrics.executorDeserializeTime / 1000.0}%.1f " +
          f"shufw=${e.taskMetrics.shuffleWriteMetrics.writeTime / 1e9}%.1f " +
          f"spill=${e.taskMetrics.memoryBytesSpilled >> 20}MB"
      if (e.taskMetrics != null)
        stageRows.merge(e.stageId,
          (e.taskMetrics.shuffleReadMetrics.recordsRead,
            e.taskMetrics.shuffleWriteMetrics.recordsWritten,
            e.taskMetrics.executorCpuTime / 1000000L),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      stageMaxMs.merge(e.stageId, java.lang.Long.valueOf(d),
        (a, b) => java.lang.Long.valueOf(math.max(a, b)))
    }
    def rowsOf(id: Int): String = {
      val (r, w, cpu) = stageRows.getOrDefault(id, (0L, 0L, 0L))
      f"read=$r%,d written=$w%,d cpu_total=${cpu / 1000.0}%.1f s"
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      // the stage NAME for AQE-materialized stages is an opaque
      // CompletableFuture callsite; the RDD scopes carry the SQL
      // operator names that actually ran in the stage
      val ops = e.stageInfo.rddInfos.flatMap(_.scope).map(_.name).distinct
        .filterNot(Set("mapPartitionsInternal", "DeserializeToObject"))
      stageTasks.put(e.stageInfo.stageId,
        (e.stageInfo.numTasks, ops.mkString(">").take(120)))
    }
    def reset(): Unit = { maxTaskMs.set(0); stageTasks.clear(); stageMaxMs.clear() }
    def maxTaskSec: Double = maxTaskMs.get() / 1000.0
    def dominantStages(opWallSec: Double): String = {
      import scala.jdk.CollectionConverters._
      if (opWallSec < 2.0) return ""
      val all = stageMaxMs.asScala.toSeq.sortBy(-_._2)
      val dom = all.collect {
        case (id, mx) if mx > 0.5 * opWallSec * 1000 =>
          val (n, name) = stageTasks.getOrDefault(id, (-1, "?"))
          f"stage=$id($name) tasks=$n max_task=${mx / 1000.0}%.1f s"
      }
      val top = if (sys.env.contains("ZIPF_STAGES"))
        all.take(4).map { case (id, mx) =>
          val (n, name) = stageTasks.getOrDefault(id, (-1, "?"))
          f"\n    stage=$id tasks=$n max_task=${mx / 1000.0}%5.1f s  ${rowsOf(id)}  $name"
        }.mkString else ""
      (if (dom.isEmpty) "" else dom.mkString("  HOT[", "; ", "]")) + top
    }
  }

  def main(args: Array[String]): Unit = {
    val grow = args.contains("--grow")
    val pos = args.filterNot(_.startsWith("--"))
    val m = pos.headOption.map(_.toInt).getOrElse(1)
    val only: Option[Set[String]] = pos.lift(1).map(_.split(",").toSet)
    val sqrtM = math.sqrt(m.toDouble)
    val hotDocs = pos.lift(2).map(_.toLong)
      .getOrElse(if (grow) (500L * sqrtM).toLong else 500L)
    val spark = GraftSession.local()
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)

    // ---- Zipf graph: one mega-degree hub, ring connectivity --------
    val n = 50000L * m
    val hubDeg = if (grow) (10000L * sqrtM).toLong else 10000L
    val zin = spark.range(1, n + 1).select(col("id").as("dst"))
      .select(col("dst"), explode(sequence(lit(0L),
        greatest(lit(0L), floor(lit(hubDeg) / col("dst")) - lit(1L)))).as("k"))
      .select((pmod(col("dst") * 7919L + col("k") * 104729L + 13L, lit(n)) + 1L)
        .as("src"), col("dst"))
    val ring = spark.range(1, n + 1)
      .select(col("id").as("src"), (pmod(col("id"), lit(n)) + 1L).as("dst"))
    val edges = zin.unionAll(ring).filter(col("src") =!= col("dst")).distinct()
    val nodes = spark.range(1, n + 1).select(col("id").as("part"))

    // ---- Zipf-token corpus with a fixed 500-doc boilerplate cluster -
    val nDocs = 5000L * m
    val vocab = 2000.0
    def zipfTok(seed: Column, j: Column): Column = concat(lit("t"),
      floor(pow(lit(vocab),
        pmod(xxhash64(seed, j), lit(1000000L)).cast("double") / 1e6))
        .cast("long").cast("string"))
    val docs = spark.range(1, nDocs + 1).select(col("id").as("doc_id"))
      .withColumn("grp",
        when(col("doc_id") <= hotDocs, lit(0L))
          .otherwise(floor(col("doc_id") / lit(20L))))
      // 60 shared boilerplate tokens (contiguous, so word-shingles
      // overlap) + 20 doc-unique Zipf tokens
      .withColumn("shared",
        transform(sequence(lit(1), lit(60)), j => zipfTok(col("grp"), j)))
      .withColumn("uniq",
        transform(sequence(lit(1), lit(20)),
          j => zipfTok(col("doc_id") + lit(1L << 30), j)))
      .select(col("doc_id"),
        concat_ws(" ", flatten(array(col("shared"), col("uniq")))).as("text"),
        lit("en").as("lang"), lit("zipf").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // ---- embeddings: Zipf labels, hot block ~28 % ------------------
    val nVec = 20000L * m
    val nLabels = 12.0 * m // keeps the hot block under the knn cap at m ≤ 2
    val emb = spark.range(1, nVec + 1).select(col("id").as("vec_id"))
      .withColumn("embedding", transform(sequence(lit(1), lit(64)),
        i => ((pmod(xxhash64(col("vec_id"), i), lit(2001L)) - lit(1000L))
          .cast("double") / 1000.0).cast("float")))
      .withColumn("label", floor(pow(lit(nLabels),
        pmod(xxhash64(lit("L"), col("vec_id")), lit(1000000L))
          .cast("double") / 1e6)).cast("int"))

    val pinned = Seq("edges" -> edges, "nodes" -> nodes,
      "docs" -> docs, "emb" -> emb)

    def time(name: String)(body: => Long): Unit = {
      if (only.exists(!_.contains(name))) return
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      pinned.foreach { case (_, df) =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
      org.apache.spark.graftshim.ListenerBusSync.waitUntilEmpty(spark.sparkContext)
      stats.reset()
      val t0 = System.nanoTime()
      // a BY-CONTRACT refusal (e.g. knnJoinBlocked's over-cap
      // raise_error at --grow m ≥ 3) must not kill the ops after it
      val rows = try body catch {
        case NonFatal(t) =>
          println(s"$name REFUSED: " + String.valueOf(t.getMessage)
            .linesIterator.next().take(160))
          return
      }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftshim.ListenerBusSync.waitUntilEmpty(spark.sparkContext)
      // rows/sec is the judgment axis for growing-hub runs (true pair
      // output grows with the hub, so wall alone conflates output
      // growth with plan defects)
      println(f"$name%-24s $sec%7.1f s  rows=$rows%-9d rows_per_sec=${rows / math.max(sec, 0.001)}%9.0f  max_task=${stats.maxTaskSec}%5.1f s" +
        stats.dominantStages(sec) +
        (if (stats.maxTaskSec > 0.5 * sec && sec > 2.0)
          s"  [${stats.maxTaskDetail}]" else ""))
    }

    println(s"zipf smoke m=$m grow=$grow: nodes=${nodes.count()} " +
      s"edges=${edges.count()} docs=${docs.count()} (hot cluster $hotDocs, " +
      s"hub degree ~$hubDeg) vectors=${emb.count()} " +
      s"hot_label=${emb.groupBy(col("label")).count().agg(max(col("count"))).head().getLong(0)}")

    import graft.operators.{Dedup, ProductAnalytics, Similarity}
    time("pagerank_converged") {
      val (ranks, k) = ProductAnalytics.pageRankConverged(nodes, edges)
      val c = ranks.count()
      println(s"  rounds=$k (cap=${ProductAnalytics.PageRankMaxRounds})")
      c
    }
    time("part_triangles") {
      val und = edges
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      ProductAnalytics.triangleParticipation(und).count()
    }
    time("jaccard_prefix_join")(Dedup.jaccardPrefixJoin(docs).count())
    time("dedup_minhash_lsh") {
      val df = Dedup.minhashPairs(docs)
      val n = df.count()
      if (sys.env.contains("ZIPF_PLAN"))
        println(df.queryExecution.executedPlan.toString)
      n
    }
    time("knn_join_blocked")(Similarity.knnJoinBlocked(emb).count())
    // the asymmetric containment twin: BOTH roles fan out on the
    // boilerplate cluster (every member probes every other), and the
    // texts are DISTINCT (unique suffixes) so rep composition cannot
    // collapse the family — the prefix machinery itself must absorb it
    time("dedup_containment")(Dedup.containmentPrefixJoin(docs).count())
    // drives embeddingPairsBlocked's SALTED under-cap direct compare
    // on the hot label block (5.6k·m distinct vectors, one label —
    // the unsalted twin of the 237 s knn task); past the cap (m ≥ 4
    // at --grow) the hot block falls to the banded path, whose
    // sub-bucket self-join is 2-D salted as of r16
    time("dedup_embedding_pairs")(Dedup.embeddingPairsBlocked(emb).count())
    // r16 verdict #5: a pathological LONG-CHAIN duplicate graph
    // (diameter ≈ rounds — 500 propagation rounds here) must converge
    // with BOUNDED plan size. Each round references the previous label
    // relation TWICE (union base + message join), so without the
    // periodic lineage checkpoint the plan tree has 2^rounds paths and
    // Catalyst analysis hangs around round ~25; with it, plan size is
    // capped at 2^LabelPropCheckpointEvery-ish regardless of diameter.
    time("label_prop_chain") {
      val links = spark.range(0, 500)
        .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      val labels = Dedup.labelPropagation(links)
      val c = labels.count()
      val planNodes = labels.queryExecution.analyzed
        .collect { case p => p }.size
      val allZero = labels.agg(max(col("cluster_id"))).head().getLong(0) == 0L
      println(s"  chain=500 plan_nodes=$planNodes all_in_cluster_0=$allZero")
      require(allZero, "chain must collapse into one cluster")
      c
    }
    spark.stop()
  }
}
