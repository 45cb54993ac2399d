package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  test("clean table passes both checks") {
    val v = Constraints.check(Tables(spark, sf).orders, "orders",
      primaryKey = Seq("o_orderkey"), notNull = Seq("o_orderkey", "o_orderdate"))
    assert(v.clean)
  }

  test("duplicate keys and nulls are counted and enforced") {
    val bad = Seq(
      (Some(1), Some("a")), (Some(1), Some("b")), // dup key
      (Some(2), None), (None, Some("c"))          // null violations
    ).toDF("id", "v")
    val v = Constraints.check(bad, "bad", Seq("id"), Seq("id", "v"))
    assert(v.duplicateKeys == 1)
    assert(v.nullRows == 2)
    val e = intercept[IllegalStateException](
      Constraints.enforce(bad, "bad", Seq("id"), Seq("id", "v"))(_ => ()))
    assert(e.getMessage.contains("1 duplicate"))
  }

  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE

  // enforce has two paths. A plan with no row bound is persisted,
  // checked with one count and written from the cache; a plan bounded
  // to one row is collected and checked on the driver, and its sink
  // gets the collected row. Every case runs on both.

  /** `rows` written to parquet under `dir` and read back: a file scan
    * has no row bound.
    */
  private def fileBacked(rows: DataFrame, dir: java.nio.file.Path): DataFrame = {
    val path = Files.createTempDirectory(dir, "rows").resolve("t").toString
    rows.write.parquet(path)
    val df = spark.read.parquet(path)
    assert(df.queryExecution.optimizedPlan.maxRows.isEmpty)
    df
  }

  /** A one-row `row` read back from parquet through a top-1. */
  private def oneRow(row: DataFrame, dir: java.nio.file.Path): DataFrame = {
    val df = fileBacked(row, dir).limit(1)
    assert(df.queryExecution.optimizedPlan.maxRows.contains(1L))
    df
  }

  test("enforce hands the cached rows to the sink and then releases them") {
    withTempDir { tmp =>
      val good = fileBacked(Seq((1, "a"), (2, "b")).toDF("id", "v"), tmp)
      val n = Constraints.enforce(good, "good", Seq("id"), Seq("id", "v")) { df =>
        assert(cached(df))
        df.count()
      }
      assert(n == 2)
      assert(!cached(good))
    }
  }

  test("enforce hands a one-row output's collected row to the sink, caching nothing") {
    withTempDir { tmp =>
      val good = oneRow(Seq((1, "a")).toDF("id", "v"), tmp)
      val entries = org.apache.spark.sql.graftshim.CacheEntries(spark)
      val out = Constraints.enforce(good, "good", Seq("id"), Seq("id", "v")) { df =>
        assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation])
        assert(df.schema == good.schema)
        df.collect().toSeq
      }
      assert(out == Seq(Row(1, "a")))
      assert(!cached(good))
      assert(org.apache.spark.sql.graftshim.CacheEntries(spark) == entries)
    }
  }

  /** Runs `enforce` on `bad` with a sink writing under `tmp` and
    * asserts its message is `expected`, the sink never ran, nothing was
    * written and nothing stays cached.
    */
  private def assertRejected(bad: DataFrame, tmp: java.nio.file.Path, expected: String): Unit = {
    val out = tmp.resolve("bad")
    var sinkCalls = 0
    val e = intercept[IllegalStateException](
      Constraints.enforce(bad, "bad", Seq("id"), Seq("id", "v")) { df =>
        sinkCalls += 1
        graft.sources.Csv.writeSingle(df, out.toString)
      })
    assert(e.getMessage == expected)
    assert(sinkCalls == 0)
    assert(!Files.exists(out))
    assert(!cached(bad))
  }

  test("a violation never reaches the sink, reports exact counts, releases the cache") {
    withTempDir { tmp =>
      val bad = fileBacked(Seq(
        (Some(1), Some("a")), (Some(1), Some("b")), // dup key
        (Some(2), None), (None, Some("c"))          // null violations
      ).toDF("id", "v"), tmp)
      assertRejected(bad, tmp, "constraint violations in bad: 1 duplicate " +
        "primary keys, 2 rows with NULL in NOT NULL columns")
    }
  }

  test("a one-row violation never reaches the sink and reports exact counts") {
    withTempDir { tmp =>
      val bad = oneRow(Seq((Some(2), Option.empty[String])).toDF("id", "v"), tmp)
      assertRejected(bad, tmp, "constraint violations in bad: 0 duplicate " +
        "primary keys, 1 rows with NULL in NOT NULL columns")
    }
  }

  test("an empty primary key never counts duplicates") {
    val rows = Seq((1, "a"), (1, "a"), (2, "b")).toDF("id", "v")
    assert(Constraints.check(rows, "nopk", Nil, Seq("id")).duplicateKeys == 0)
    withTempDir { tmp =>
      assert(Constraints.enforce(fileBacked(rows, tmp), "nopk", Nil, Seq("id"))(_.count()) == 3)
      val nulls = fileBacked(
        Seq((Some(1), "a"), (None, "b"), (None, "c")).toDF("id", "v"), tmp)
      val e = intercept[IllegalStateException](
        Constraints.enforce(nulls, "nopk", Nil, Seq("id"))(_.count()))
      assert(e.getMessage.contains(": 0 duplicate primary keys, 2 rows with NULL"))
    }
  }

  test("an empty primary key on a one-row output checks only NOT NULL") {
    withTempDir { tmp =>
      val row = oneRow(Seq((1, "a")).toDF("id", "v"), tmp)
      assert(Constraints.enforce(row, "nopk", Nil, Seq("id"))(_.count()) == 1)
      val nulls = oneRow(Seq((Option.empty[Int], "b")).toDF("id", "v"), tmp)
      val e = intercept[IllegalStateException](
        Constraints.enforce(nulls, "nopk", Nil, Seq("id"))(_.count()))
      assert(e.getMessage.contains(": 0 duplicate primary keys, 1 rows with NULL"))
    }
  }
}
