package etlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps a call into one of the library's layers. */
trait Spans {
  def apply[T](layer: String)(body: => T): T
}

object NoSpans extends Spans {
  def apply[T](layer: String)(body: => T): T = body
}

/** Per-layer collector for one traced job, built only from Spark's
  * public listener surfaces, JVM MXBeans and Catalyst's
  * `CodegenMetrics`.
  *
  * Listener callbacks only queue raw facts. At the end of each span
  * the listener bus is drained and the queued facts are attributed to
  * that span's layer, so a query is charged to the library call that
  * ran it without any hook inside the library.
  */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val facts = new ConcurrentLinkedQueue[Fact]()
  private val totals = mutable.LinkedHashMap[String, Double]()
  private var jobsStarted = 0L
  private var jobsEnded = 0L
  private var slowestStageMs = -1L

  private def add(k: String, v: Double): Unit =
    totals(k) = totals.getOrElse(k, 0.0) + v
  private def max(k: String, v: Double): Unit =
    totals(k) = math.max(totals.getOrElse(k, 0.0), v)

  private val taskTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = facts.add(JobStarted)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = facts.add(JobEnded)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      val key = (e.stageId, e.stageAttemptId)
      taskTimes.synchronized {
        taskTimes.getOrElseUpdate(key, mutable.ArrayBuffer()) += e.taskInfo.duration
      }
      facts.add(if (m == null) TaskDone(0, 0, 0, 0, 0, failed)
      else TaskDone(m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, failed))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val durMs = (for (s <- info.submissionTime; c <- info.completionTime)
        yield c - s).getOrElse(0L)
      val times = taskTimes.synchronized {
        taskTimes.remove((info.stageId, info.attemptNumber())).getOrElse(mutable.ArrayBuffer())
      }
      facts.add(StageDone(durMs, times.toArray))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      facts.add(queryFact(funcName, qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      facts.add(Progress(d, p.numInputRows))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  private val jvm = Jvm.snapshot()
  private val codegen0 = codegenSnapshot()

  /** Runs `body` as a call into `layer`, then drains the listener bus
    * and charges every fact it produced to that layer.
    */
  def apply[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    add(s"span.$layer", (System.nanoTime() - t0) / 1e9)
    org.apache.spark.graftshim.ListenerBusSync.waitUntilEmpty(spark.sparkContext)
    absorb(layer)
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    max("exec.cached_mb", cached / MB)
    r
  }

  private def absorb(layer: String): Unit = {
    var f = facts.poll()
    while (f != null) {
      f match {
        case JobStarted =>
          jobsStarted += 1; add("exec.jobs", 1)
          if (layer == "operators.construct" || layer == "pipeline.transform")
            add("operators.eager_jobs", 1)
        case JobEnded => jobsEnded += 1
        case t: TaskDone =>
          add("exec.tasks", 1)
          add("exec.task_run_s", t.runMs / 1e3)
          add("exec.task_cpu_s", t.cpuNs / 1e9)
          add("exec.shuffle_write_mb", t.shuffleWrite / MB)
          add("exec.shuffle_read_mb", t.shuffleRead / MB)
          add("exec.spill_mb", t.spill / MB)
          if (t.failed) add("exec.failed_tasks", 1)
        case s: StageDone =>
          add("exec.stages", 1)
          if (s.durMs > slowestStageMs && s.taskMs.nonEmpty) {
            slowestStageMs = s.durMs
            val sorted = s.taskMs.sorted
            val median = math.max(1L, sorted(sorted.length / 2))
            totals("exec.skew") = sorted.last.toDouble / median
          }
        case q: QueryDone =>
          add("catalyst.executions", 1)
          add("catalyst.analysis_s", q.analysisMs / 1e3)
          add("catalyst.optimization_s", q.optimizationMs / 1e3)
          add("catalyst.planning_s", q.planningMs / 1e3)
          add("sources.scan_rows", q.scanRows)
          add("sources.scan_mb", q.scanBytes / MB)
          add("sources.scan_s", q.scanMs / 1e3)
          if (q.isWrite) {
            add("sinks.write_s", q.durationNs / 1e9)
            add("sinks.files", q.writeFiles)
            add("sinks.mb", q.writeBytes / MB)
            if (q.writePath.endsWith("/dest")) add("streaming.rows_kept", q.writeRows)
          } else if (layer == "pipeline.load" && q.funcName == "count")
            add("catalog.constraints_s", q.durationNs / 1e9)
        case p: Progress =>
          if (p.inputRows > 0) add("streaming.batches", 1)
          add("streaming.rows_in", p.inputRows)
          add("streaming.trigger_s", p.ms("triggerExecution") / 1e3)
          add("streaming.add_batch_s", p.ms("addBatch") / 1e3)
          add("streaming.commit_s", (p.ms("walCommit") + p.ms("commitOffsets")) / 1e3)
          add("streaming.list_s", p.ms("latestOffset") / 1e3)
      }
      f = facts.poll()
    }
  }

  /** Every job started so far has also ended; false means the bus drain
    * timed out and the counts are truncated.
    */
  def complete: Boolean = jobsStarted == jobsEnded

  /** Layer totals since construction. */
  def report(): Map[String, Double] = {
    val j = Jvm.snapshot()
    val c = codegenSnapshot()
    val spans = totals.collect { case (k, v) if k.startsWith("span.") => k.stripPrefix("span.") -> v }
    def span(n: String) = spans.getOrElse(n, 0.0)
    totals.filterNot(_._1.startsWith("span.")).toMap ++ Map(
      "pipeline.extract_s" -> span("pipeline.extract"),
      "pipeline.transform_s" -> span("pipeline.transform"),
      "pipeline.load_s" -> span("pipeline.load"),
      "operators.construct_s" -> (span("operators.construct") + span("pipeline.transform")),
      "codegen.classes" -> (c._1 - codegen0._1).toDouble,
      "codegen.compile_s" -> (c._2 - codegen0._2) / 1e3,
      "jvm.jit_s" -> (j.jitMs - jvm.jitMs) / 1e3,
      "jvm.gc_s" -> (j.gcMs - jvm.gcMs) / 1e3,
      "jvm.classes_loaded" -> (j.classesLoaded - jvm.classesLoaded).toDouble)
  }

  private def codegenSnapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    // the histogram's reservoir keeps every sample until it holds 1028;
    // past that its mean stands in for the lost ones
    (h.getCount, s.getMean * h.getCount)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  private val MB = 1024.0 * 1024.0

  private sealed trait Fact
  private case object JobStarted extends Fact
  private case object JobEnded extends Fact
  private final case class TaskDone(runMs: Long, cpuNs: Long, shuffleWrite: Long,
                                    shuffleRead: Long, spill: Long, failed: Boolean) extends Fact
  private final case class StageDone(durMs: Long, taskMs: Array[Long]) extends Fact
  private final case class Progress(durations: Map[String, Long], inputRows: Long) extends Fact {
    def ms(k: String): Long = durations.getOrElse(k, 0L)
  }
  private final case class QueryDone(
      funcName: String, durationNs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      scanRows: Long, scanBytes: Long, scanMs: Long,
      isWrite: Boolean, writeFiles: Long, writeBytes: Long, writeRows: Long,
      writePath: String) extends Fact

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def queryFact(funcName: String, qe: QueryExecution, durationNs: Long): QueryDone = {
    val phases = qe.tracker.phases
    def phaseMs(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    // a row-based scan (CSV) has no scan-time metric of its own; its
    // time is the codegen pipeline it is fused into
    val rowScanMs = collect(plan) {
      case w: WholeStageCodegenExec
          if w.child.exists(_.isInstanceOf[FileSourceScanExec]) &&
            w.child.collectFirst { case s: FileSourceScanExec => s }
              .exists(!_.metrics.contains("scanTime")) =>
        metric(w, "pipelineTime")
    }.sum
    val writes = collect(plan) { case w: DataWritingCommandExec => w }
    val path = writes.map(_.cmd).collectFirst {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }.getOrElse("")
    QueryDone(funcName, durationNs,
      phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"),
      scans.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "scanTime")).sum + rowScanMs,
      writes.nonEmpty,
      writes.map(w => metric(w, "numFiles")).sum,
      writes.map(w => metric(w, "numOutputBytes")).sum,
      writes.map(w => metric(w, "numOutputRows")).sum,
      path)
  }
}

/** Cumulative JVM counters (JIT time, GC pause, classes loaded), plus
  * readers for process CPU time and peak resident set.
  */
final case class Jvm(jitMs: Long, gcMs: Long, classesLoaded: Long)

object Jvm {
  def snapshot(): Jvm = Jvm(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** VmHWM of this process in MB. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
}
