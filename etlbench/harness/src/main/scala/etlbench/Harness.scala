package etlbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.GraftSession

/** One fresh benchmark JVM: set up a session, run the workload's job
  * `reps` times (the first one cold; 0 measures set-up alone), and
  * print one `PB <key> <value...>` line per measurement on stdout.
  *
  * Usage: Harness <workload> <inputDir> <cores> <reps> <trace 0|1>
  *
  * The working directory must be fresh and empty: the library keeps
  * its derived artifacts under the relative `target/derived`, so a
  * fresh directory is what makes the first job cold. Outputs go to
  * `out/rep_<n>` under it.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, inDir, cores, repsArg, trace) = args
    val spark = GraftSession.local(cores.toInt, "etlbench")
    emit("setup_s", (System.nanoTime() - t0) / 1e9)
    val reps = repsArg.toInt
    if (reps == 0) { spark.stop(); return }

    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val spans: Spans = tracer.getOrElse(NoSpans)
    val job = Job(workload, spark, inDir)
    job.oracleSql.foreach { sql =>
      Files.writeString(Paths.get("oracle.sql"), sql)
    }
    val lastTraced = if (job.traceAll) reps - 1 else 0
    for (rep <- 0 until reps) {
      val out = Paths.get("out", s"rep_$rep").toAbsolutePath.toString
      job.prepare(rep)
      val (cpu0, w0) = (Jvm.processCpuNs(), System.nanoTime())
      job.run(rep, out, if (rep <= lastTraced) spans else NoSpans)
      val wall = (System.nanoTime() - w0) / 1e9
      emit("job", rep, wall, (Jvm.processCpuNs() - cpu0) / 1e9)
      emit("out", rep, job.output(out))
      // per-layer figures cover the cold job (every drop, for ingest)
      if (rep == lastTraced) tracer.foreach { t =>
        emit("trace_complete", if (t.complete) "1" else "0")
        (t.report() ++ job.layerSizes()).toSeq.sortBy(_._1)
          .foreach { case (k, v) => emit("layer", k, v.toString) }
      }
    }
    emit("peak_rss_mb", Jvm.peakRssMb())
    spark.stop()
  }

  private def emit(key: String, values: Any*): Unit =
    println(("PB" +: key +: values.map(_.toString)).mkString(" "))

  private[etlbench] def dirStats(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
}

/** A workload's job: what one rep runs, through the library's public
  * entry points, up to committed output.
  */
trait Job {
  /** Untimed staging before rep `rep` (landing-zone drops). */
  def prepare(rep: Int): Unit = ()
  def run(rep: Int, out: String, span: Spans): Unit
  /** The library's own oracle for this job, checked outside the JVM. */
  def oracleSql: Option[String] = None
  /** Where rep's committed output is, given the rep's own out dir. */
  def output(out: String): String = out
  /** Trace every rep rather than the cold job alone. */
  def traceAll: Boolean = false
  /** On-disk sizes of the per-run stores, for the traced cold job. */
  def layerSizes(): Map[String, Double] = Map.empty
}

object Job {
  def apply(workload: String, spark: SparkSession, inDir: String): Job = workload match {
    case "ref_etl"      => new RefEtl(spark, inDir)
    case "graph_iter"   => new GraphIter(spark, inDir)
    case "ingest_drops" => new IngestDrops(spark, inDir)
    case other          => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val MB = 1024.0 * 1024.0

  def derivedSizes(): Map[String, Double] = {
    val (files, bytes) = Harness.dirStats(Paths.get("target", "derived"))
    Map("derived.files" -> files.toDouble, "derived.mb_written" -> bytes / MB)
  }

  /** The paper's job: the three reference pipelines, CSV in, CSV out. */
  final class RefEtl(spark: SparkSession, inDir: String) extends Job {
    import graft.pipeline.ReferencePipelines._
    def run(rep: Int, out: String, span: Spans): Unit =
      Seq(AggPublicHolidayPipeline(inDir, out), AggShipmentsPipeline(inDir, out),
          BestPerformingProductPipeline(inDir, out)).foreach { p =>
        if (span eq NoSpans) p.run(spark)
        else {
          // the same three calls Pipeline.run makes, one span each
          val e = span("pipeline.extract")(p.extract(spark))
          val t = span("pipeline.transform")(p.transform(e))
          span("pipeline.load")(p.load(t))
        }
      }
    override def layerSizes(): Map[String, Double] = derivedSizes()
  }

  /** The registered `pagerank_converged` query: built by one library
    * call (its rounds run eagerly inside it), then written, every
    * column, to parquet.
    */
  final class GraphIter(spark: SparkSession, inDir: String) extends Job {
    private val query = "pagerank_converged"
    def run(rep: Int, out: String, span: Spans): Unit = {
      val df = span("operators.construct")(graft.SparkEntry.queries(query)(spark, inDir))
      span("sinks.write")(df.write.mode(SaveMode.Overwrite).parquet(out))
    }
    override def oracleSql: Option[String] = graft.SparkEntry.oracleSql.get(query)
    override def layerSizes(): Map[String, Double] = derivedSizes()
  }

  /** Rep `n` lands drop `n` (JSON lines) in the landing dir and drains
    * it with one incremental-ingest call; all reps share one
    * checkpoint, fingerprint store and destination.
    */
  final class IngestDrops(spark: SparkSession, inDir: String) extends Job {
    private val base = Paths.get("ingest").toAbsolutePath
    private val (landing, dest, ck, store) = (base.resolve("landing"),
      base.resolve("dest"), base.resolve("ck"), base.resolve("store"))
    private val schema = spark.read.parquet(s"$inDir/documents.parquet").schema
    Files.createDirectories(landing)

    override def prepare(rep: Int): Unit = {
      val name = f"drop_$rep%04d.json"
      val staged = base.resolve(s".$name")
      // copy then rename, so the stream never lists a partial file
      Files.copy(Paths.get(inDir, "drops", name), staged)
      Files.move(staged, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    def run(rep: Int, out: String, span: Spans): Unit = {
      span("streaming.ingest")(graft.streaming.IncrementalIngest.ingestDocumentsDedup(
        spark, landing.toString, schema, dest.toString, ck.toString, store.toString))
    }

    override def output(out: String): String = dest.toString
    override def traceAll: Boolean = true

    override def layerSizes(): Map[String, Double] =
      Map("streaming.store_mb" -> Harness.dirStats(store)._2 / MB)
  }
}
