package graft

import scala.util.control.NonFatal

/** Dev profiling harness: time named queries (default all) with
  * warm-up + repeats inside one session; optionally print the
  * formatted physical plan. Usage:
  *   runMain graft.Profile <sfDir> [query,query,...] [--explain]
  *     [--clear] [--reps=N] [--plans]
  *
  * `--clear` reproduces the bench harness's per-query isolation
  * (fresh plan + codegen + no reused persists each repeat);
  * `--plans` prints the FINAL adaptive physical plan after each rep —
  * the tool for catching AQE decisions that differ between an
  * anomalously slow rep and a normal one.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1 && !args(1).startsWith("--")) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val explain = args.contains("--explain")
    val plans = args.contains("--plans")
    val stages = args.contains("--stages")
    val reps = args.find(_.startsWith("--reps="))
      .map(_.stripPrefix("--reps=").toInt).getOrElse(3)
    val spark = GraftSession.local()
    // --stages: per-stage wall time + task count, the tool for
    // pinpointing WHICH stage a slow rep spent its time in (and
    // whether AQE collapsed its task count)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Int, Long, Long, Long, Long, Long)]()
    if (stages) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val info = sc.stageInfo
          val dur = (for (s <- info.submissionTime; c <- info.completionTime)
            yield c - s).getOrElse(-1L)
          val m = info.taskMetrics
          stageLog.add((info.stageId,
            info.name.split("\n").head.take(60), info.numTasks, dur,
            // executor wall + CPU across tasks, and shuffle bytes —
            // separates "tasks are slow" (runTime ≈ dur × tasks) from
            // "scheduler/launch overhead" (runTime ≪ dur × tasks)
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten))
        }
      })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (explain) {
        println(s"=== $name ===")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      // per-rep attribution telemetry (r12 verdict #1: "a profile,
      // not a narrative"): stop-the-world GC ms, JIT compiler wall ms
      // (CompilationMXBean — C1+C2 queue time), and foreign-process
      // CPU seconds during the rep, so a slow rep separates into
      // GC tail / JIT warmup / host contention / genuine kernel cost.
      def gcMs(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
      }
      def jitMs(): Long =
        java.lang.management.ManagementFactory.getCompilationMXBean
          .getTotalCompilationTime
      def busySelf(): (Long, Long) =
        try {
          val stat = java.nio.file.Files.readString(
            java.nio.file.Paths.get("/proc/stat"))
            .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
          val self = java.nio.file.Files.readString(
            java.nio.file.Paths.get("/proc/self/stat")).split("\\s+")
          (stat.sum - stat(3) - stat(4), self(13).toLong + self(14).toLong)
        } catch { case NonFatal(_) => (-1L, -1L) }
      val times = (1 to reps).map { i =>
        if (args.contains("--clear")) spark.catalog.clearCache()
        stageLog.clear()
        val (gc0, jit0, bs0) = (gcMs(), jitMs(), busySelf())
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        // --plans executes df's OWN QueryExecution (count() builds a
        // separate one whose executedPlan we'd never see)
        if (plans) df.queryExecution.executedPlan.executeCollect()
        else df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        val bs1 = busySelf()
        val foreignSec =
          if (bs0._1 < 0 || bs1._1 < 0) -1.0
          else math.max(0L, (bs1._1 - bs0._1) - (bs1._2 - bs0._2)) / 100.0
        println(f"  rep $i: ${dt}%6.2f s  gc=${gcMs() - gc0}%5d ms  " +
          f"jit=${jitMs() - jit0}%5d ms  foreign_cpu=${foreignSec}%5.1f s")
        if (plans) {
          println(s"--- $name rep $i (${f"$dt%.2f"}s) final plan ---")
          // post-execution: AdaptiveSparkPlanExec has settled on its
          // final plan, including AQEShuffleRead coalesce specs and
          // join-strategy replans
          println(df.queryExecution.executedPlan.toString.take(8000))
        }
        if (stages) {
          // drain the async listener bus so every stage-completion
          // event is in the log (a fixed sleep raced under load)
          org.apache.spark.graftshim.ListenerBusSync.waitUntilEmpty(
            spark.sparkContext)
          val top = stageLog.toArray(
            Array.empty[(Int, String, Int, Long, Long, Long, Long, Long)])
            .sortBy(-_._4).take(12)
          println(s"--- $name rep $i (${f"$dt%.2f"}s) slowest stages ---")
          top.foreach { case (id, nm, nt, ms, run, cpu, sr, sw) =>
            println(f"  stage $id%4d $ms%6d ms  $nt%4d tasks  " +
              f"run=$run%6d cpu=$cpu%6d srd=${sr / 1024}%6dK swr=${sw / 1024}%6dK  $nm")
          }
        }
        dt
      }
      println(f"$name%-28s " +
        times.map(t => f"$t%6.2f").mkString(" "))
    }
    spark.stop()
  }
}
