package graft.operators

import org.apache.spark.sql.graftshim.CacheEntries

import graft.SparkSpec

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def keptIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select($"doc_id").as[Long].collect().sorted.toSeq

  test("first batch keeps in-batch canonicals and seeds the store") {
    withTempDir { t =>
      val path = s"$t/fp"
      val b1 = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
        .toDF("doc_id", "text")
      val entries = CacheEntries(spark)
      val kept = IncrementalDedup.dedupAgainstStore(b1, path)(keptIds)
      assert(kept == Seq(1L, 3L))
      assert(spark.read.parquet(path).count() == 2)
      assert(CacheEntries(spark) == entries)
    }
  }

  test("later batches drop docs already fingerprinted in any earlier run") {
    withTempDir { t =>
      val path = s"$t/fp"
      IncrementalDedup.dedupAgainstStore(
        Seq((1L, "alpha"), (3L, "beta")).toDF("doc_id", "text"), path)(_ => ())
      val b2 = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"))
        .toDF("doc_id", "text")
      val kept2 = IncrementalDedup.dedupAgainstStore(b2, path)(keptIds)
      // alpha seen in run 1; gamma canonicalizes in-batch to doc 11
      assert(kept2 == Seq(11L))
      // replaying the same batch keeps nothing (store now has gamma)
      val kept3 = IncrementalDedup.dedupAgainstStore(b2, path)(_.count())
      assert(kept3 == 0)
    }
  }

  test("null text is fingerprinted once, not re-kept every batch") {
    withTempDir { t =>
      val path = s"$t/fp"
      val b = Seq((1L, null.asInstanceOf[String]), (2L, "alpha"))
        .toDF("doc_id", "text")
      val kept1 = IncrementalDedup.dedupAgainstStore(b, path)(keptIds)
      assert(kept1 == Seq(1L, 2L))
      // second batch: the null-text doc must be recognized as seen
      val kept2 = IncrementalDedup.dedupAgainstStore(
        Seq((10L, null.asInstanceOf[String])).toDF("doc_id", "text"), path)(_.count())
      assert(kept2 == 0, "null-text row re-kept — NULL hash leaked")
    }
  }

  test("compaction collapses crash-replay duplicate fingerprints") {
    withTempDir { t =>
      val path = s"$t/fp"
      val b = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      IncrementalDedup.dedupAgainstStore(b, path)(_ => ())
      // simulate a crash-replay: same kept hashes appended again
      spark.read.parquet(path).write
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
      assert(IncrementalDedup.storeDuplication(spark, path) == 2.0)
      IncrementalDedup.compactStore(spark, path)
      assert(IncrementalDedup.storeDuplication(spark, path) == 1.0)
      assert(spark.read.parquet(path).count() == 2)
      // dedup still works against the compacted store
      assert(IncrementalDedup.dedupAgainstStore(b, path)(_.count()) == 0)
    }
  }

  test("a failing sink appends no fingerprints and releases the cache") {
    withTempDir { t =>
      val path = s"$t/fp"
      IncrementalDedup.dedupAgainstStore(
        Seq((1L, "alpha")).toDF("doc_id", "text"), path)(_ => ())
      val before = spark.read.parquet(path).count()
      val entries = CacheEntries(spark)
      val b = Seq((2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
      val e = intercept[IllegalStateException] {
        IncrementalDedup.dedupAgainstStore(b, path) { kept =>
          assert(kept.count() == 2)
          throw new IllegalStateException("sink down")
        }
      }
      assert(e.getMessage == "sink down")
      assert(spark.read.parquet(path).count() == before)
      assert(CacheEntries(spark) == entries)
      // the replay keeps every row the failed run kept
      assert(IncrementalDedup.dedupAgainstStore(b, path)(keptIds) == Seq(2L, 3L))
    }
  }
}
