package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A query that fails is
  * reported and the rest still run; the process then exits non-zero
  * naming every failed query.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the library's own session: the DuckDB oracle gate validates the
    // SAME plans the library produces (a WindowTopKToHeap bug must fail
    // THIS gate, not only the unit specs)
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // same subset filter as Bench (shared impl — see graft.Subset):
    // targeted dev-loop checks on one family; the driver never sets
    // it, so the gate stays full
    def selected(name: String): Boolean = Subset.selected(name)
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => selected(q._1)).flatMap { case (name, fn) =>
      val failure = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
      // several operators persist() intermediates; drop them so the
      // session's footprint stays flat across the whole query set
      spark.catalog.clearCache()
      failure
    }
    val json = Json.write(SparkEntry.oracleSql.filter { case (k, _) => selected(k) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
