package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-query board. `main` builds the library's own session, then
  * [[board]] times every selected registered query once cold and
  * `SPARK_GRAFT_WARM_REPS` (default 3) times warm. There is no untimed
  * setup: a query's cold window pays every derived layout, trained
  * model, verdict probe and first-use JIT cost it is the first to need,
  * as a cold batch job would. The record goes to `bench_subset.json`
  * under `SPARK_GRAFT_SUBSET`, otherwise to `bench_full.c<cores>.json`;
  * the last stdout line is a short summary.
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

  /** A recording-time flag: `warm_unstable` carries the query's warm
    * `reps`; the suite-wide `rss_growth` compares MB.
    */
  final case class Flag(q: String, kind: String, cold: Double, ref: Double,
                        ratio: Double, reps: Seq[Double] = Nil)

  /** The whole recording. `value` is the cold total, `warm_total` the
    * sum of per-query warm medians; `telemetry` holds each query's cold
    * [[Run]]; `plan_changes` names only queries whose plan hash moved
    * across runs (an AQE replan under identical code); `host_steal_share`
    * is the hypervisor's steal share of host CPU over the timed passes.
    * `model_builds` names each model trained (`built_now`) or loaded
    * from disk inside a timed window, and `model_build_sec` sums their
    * recorded training seconds.
    */
  final case class Record(
      metric: String = "total", value: Double, unit: String = "sec",
      sf: String, warmReps: Int, warmTotal: Double, wallSec: Double,
      hostStealShare: Double, modelBuildSec: Double,
      modelBuilds: Map[String, Map[String, Any]], rssBaselineMb: Long,
      rssEndMb: Long, errors: Map[String, String], flags: Seq[Flag],
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
    * goes on; fatal errors propagate. `model_builds` lists only the
    * models this board's windows built or loaded.
    */
  def board(spark: SparkSession, sfDir: String,
            queries: Seq[(String, Query)], warmReps: Int): Record = {
    // a median over no reps would read 0 s and flag every cold query
    require(warmReps >= 1, s"warmReps must be >= 1, got $warmReps")
    graft.operators.ModelCost.clear()
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
    System.gc() // earlier garbage is collected outside the first window
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
      val fastest = math.max(reps.min, 0.05)
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
      rssBaselineMb = rssBaseline, rssEndMb = rssEnd,
      errors = TreeMap.from(errors), flags = queryFlags ++ rssFlag,
      telemetry = cold, planChanges = planChanges, warmRepTimes = repTimes,
      cold = cold.map { case (n, c) => n -> c.sec }, warm = warm)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_WARM_REPS", "3").toInt
    // the library's own session: the bench times the plans the engine
    // produces
    val spark = GraftSession.local(appName = "graft-bench")
    // render full plan strings so the plan hash is stable: both confs
    // only affect toString, never planning
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    // one throwaway action so JVM and scheduler warm-up is not billed
    // to whichever query runs first
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val queries = SparkEntry.queries.toSeq.filter(q => Subset.selected(q._1))
    val record = board(spark, sfDir, queries, warmReps)
    val path =
      if (sys.env.get("SPARK_GRAFT_SUBSET").exists(_.nonEmpty)) "bench_subset.json"
      else s"bench_full.c${spark.sparkContext.defaultParallelism}.json"
    Files.writeString(Paths.get(path), Json.write(record))
    println(Json.write(ListMap("metric" -> record.metric,
      "value" -> record.value, "warm_total" -> record.warmTotal,
      "n_q" -> record.cold.size, "n_errors" -> record.errors.size,
      "n_flags" -> record.flags.size, "full" -> path)))
    spark.stop()
  }
}
