package graft.operators

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The derived tables (`DerivedStore.table`) behind the partitioned
  * fact copy and the materialized cluster assignment: built once,
  * served while fresh, REBUILT when the source parquet changes — a
  * marker-only check would serve a stale derivation against a
  * freshly-computed oracle.
  */
class DerivedLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("materialized cluster assignment equals the direct clustering") {
    val docs = graft.catalog.Tables(spark, sf).documents
    val direct = Dedup.minhashClusters(docs)
    val mat = Dedup.materializedClusters(spark, sf)
    assert(mat.count() == docs.count())
    assert(direct.except(mat).count() == 0 && mat.except(direct).count() == 0)
  }

  test("derive builds once while fresh, rebuilds on source change") {
    withTempDir { root =>
      val dir = root.resolve("sfX").toFile; dir.mkdirs()
      val srcPath = new File(dir, "src.parquet").getAbsolutePath
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)

      var builds = 0
      def derive() = DerivedStore.table(dir.getAbsolutePath, "layout_spec_probe",
          spark.read.parquet(srcPath)) { out =>
        builds += 1
        spark.read.parquet(srcPath).withColumn("n", lit(builds))
          .write.mode("overwrite").parquet(out)
      }

      val p1 = derive()
      assert(builds == 1)
      val p2 = derive() // fresh — served from the layout, no rebuild
      assert(builds == 1 && p1 == p2)
      assert(spark.read.parquet(p1).agg(max($"n")).head.getInt(0) == 1)

      // regenerate the source (content AND mtime/size can all change);
      // bump mtime explicitly in case the rewrite lands in the same
      // filesystem timestamp granule with identical bytes
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val srcDir = new File(srcPath)
      srcDir.listFiles().foreach(f => f.setLastModified(f.lastModified() + 2000))

      val p3 = derive() // stale — must rebuild
      assert(builds == 2)
      assert(spark.read.parquet(p3).count() == 3)
      assert(spark.read.parquet(p3).agg(max($"n")).head.getInt(0) == 2)
    }
  }
}
