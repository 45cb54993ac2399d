package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Schema evolution on a landing zone: batches written months apart
  * gain columns; `mergeSchema` reconciles them at read time (old rows
  * surface NULL for new columns). At 100 TB, per-file footer merging
  * is the reason to keep this OFF by default and ON only for the
  * reconciliation read — both paths pinned here.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def landingZone(tmp: java.nio.file.Path): String = {
    val dir = tmp.toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v1", "v2")
      .write.parquet(s"$dir/batch=2")
    dir
  }

  test("mergeSchema unions batch schemas; pre-evolution rows read as NULL") {
    withTempDir { t =>
      val dir = landingZone(t)
      val df = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(df.columns.sorted.toSeq == Seq("batch", "id", "v1", "v2"))
      val byId = df.collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("v2"))).toMap
      assert(byId(1L).isEmpty && byId(2L).isEmpty)
      assert(byId(3L).contains(30L) && byId(4L).contains(40L))
    }
  }

  test("evolved read still prunes columns and pushes filters to the scan") {
    withTempDir { t =>
      val dir = landingZone(t)
      val q = spark.read.option("mergeSchema", "true").parquet(dir)
        .filter($"id" > 2).select($"id", $"v2")
      val plan = q.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("GreaterThan(id,2)"), "id filter not pushed")
      val readSchema = plan.linesIterator
        .filter(_.contains("ReadSchema")).mkString
      assert(!readSchema.contains("v1"), s"scan reads pruned column: $readSchema")
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    }
  }

  test("without mergeSchema the read samples one footer but still returns every row") {
    withTempDir { t =>
      val dir = landingZone(t)
      val df = spark.read.parquet(dir)
      // schema comes from a single sampled footer (which one depends on
      // listing order) — the cheap default; all rows are still readable
      assert(df.columns.contains("id") && df.columns.contains("v1"))
      assert(df.select($"id").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L))
    }
  }
}
