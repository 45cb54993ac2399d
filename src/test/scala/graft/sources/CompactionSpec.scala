package graft.sources

import graft.SparkSpec
import graft.catalog.Tables

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction collapses a many-file table without changing its rows") {
    withTempDir { t =>
      val path = s"$t/t"
      val src = Tables(spark, sf).lineitem
      src.repartition(64).write.parquet(path) // simulate streaming debris
      assert(Compaction.dataFileCount(spark, path) >= 64)
      val before = spark.read.parquet(path)
        .agg(org.apache.spark.sql.functions.sum($"l_quantity")).as[Double].collect()(0)

      Compaction.compactParquet(spark, path, targetBytes = 512L * 1024 * 1024)

      assert(Compaction.dataFileCount(spark, path) <= 4)
      val after = spark.read.parquet(path)
        .agg(org.apache.spark.sql.functions.sum($"l_quantity")).as[Double].collect()(0)
      assert(before == after)
      assert(spark.read.parquet(path).count() == src.count())
    }
  }
}
