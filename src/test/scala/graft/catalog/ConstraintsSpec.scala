package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
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

  test("enforce hands the cached rows to the sink and then releases them") {
    val good = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val n = Constraints.enforce(good, "good", Seq("id"), Seq("id", "v")) { df =>
      assert(cached(df))
      df.count()
    }
    assert(n == 2)
    assert(!cached(good))
  }

  test("a violation never reaches the sink, reports exact counts, releases the cache") {
    val bad = Seq(
      (Some(1), Some("a")), (Some(1), Some("b")), // dup key
      (Some(2), None), (None, Some("c"))          // null violations
    ).toDF("id", "v")
    withTempDir { tmp =>
      val out = tmp.resolve("bad")
      var sinkCalls = 0
      val e = intercept[IllegalStateException](
        Constraints.enforce(bad, "bad", Seq("id"), Seq("id", "v")) { df =>
          sinkCalls += 1
          graft.sources.Csv.writeSingle(df, out.toString)
        })
      assert(e.getMessage == "constraint violations in bad: 1 duplicate " +
        "primary keys, 2 rows with NULL in NOT NULL columns")
      assert(sinkCalls == 0)
      assert(!Files.exists(out))
      assert(!cached(bad))
    }
  }

  test("an empty primary key never counts duplicates") {
    val rows = Seq((1, "a"), (1, "a"), (2, "b")).toDF("id", "v")
    assert(Constraints.check(rows, "nopk", Nil, Seq("id")).duplicateKeys == 0)
    assert(Constraints.enforce(rows, "nopk", Nil, Seq("id"))(_.count()) == 3)
    val nulls = Seq((Some(1), "a"), (None, "b"), (None, "c")).toDF("id", "v")
    val e = intercept[IllegalStateException](
      Constraints.enforce(nulls, "nopk", Nil, Seq("id"))(_.count()))
    assert(e.getMessage.contains(": 0 duplicate primary keys, 2 rows with NULL"))
  }
}
