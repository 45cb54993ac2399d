package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkSpec

/** D2 semantics (reference `retries=2`, `orders_ETL.py:35`) and the
  * conscious D3 divergence (fail fast after retries, not swallow).
  */
class RetrySpec extends SparkSpec {

  private class Flaky(failures: Int) extends Pipeline {
    val name = "flaky"
    val attempts = new AtomicInteger(0)
    var loaded: Long = -1
    def extract(s: SparkSession): DataFrame = {
      if (attempts.incrementAndGet() <= failures)
        throw new RuntimeException(s"transient #${attempts.get}")
      s.range(5).toDF("v")
    }
    def transform(df: DataFrame): DataFrame = df
    def load(df: DataFrame): Unit = loaded = df.count()
  }

  test("a stage failing <= retries times succeeds on a later attempt") {
    val p = new Flaky(failures = 2) // retries = 2 → 3 attempts allowed
    p.run(spark)
    assert(p.attempts.get == 3)
    assert(p.loaded == 5)
  }

  test("a stage failing more than retries times fails the pipeline fast") {
    val p = new Flaky(failures = 3)
    val e = intercept[RuntimeException](p.run(spark))
    assert(e.getMessage.contains("failed after 3 attempts"))
    assert(p.loaded == -1) // downstream stages never ran
  }

  private class FailingLoad(error: => Throwable) extends Pipeline {
    val name = "failing-load"
    val loads = new AtomicInteger(0)
    def extract(s: SparkSession): DataFrame = s.range(5).toDF("v")
    def transform(df: DataFrame): DataFrame = df
    def load(df: DataFrame): Unit = { loads.incrementAndGet(); throw error }
  }

  test("an interrupted load is not retried") {
    val p = new FailingLoad(new InterruptedException("stop"))
    intercept[InterruptedException](p.run(spark))
    assert(p.loads.get == 1)
  }

  private class DuplicateKeyLoad extends Pipeline {
    val name = "duplicate-key"
    val loads = new AtomicInteger(0)
    def extract(s: SparkSession): DataFrame = s.range(3).selectExpr("id % 2 AS id")
    def transform(df: DataFrame): DataFrame = df
    def load(df: DataFrame): Unit = {
      loads.incrementAndGet()
      graft.catalog.Constraints.enforce(df, "dup_key", Seq("id"), Seq("id"))(_ => ())
    }
  }

  test("a constraint violation is loaded once and surfaces its exact message") {
    val p = new DuplicateKeyLoad // keys 0, 1, 0
    val e = intercept[IllegalStateException](p.run(spark))
    assert(p.loads.get == 1, "a deterministic violation was retried")
    assert(e.getMessage == "constraint violations in dup_key: 1 duplicate " +
      "primary keys, 0 rows with NULL in NOT NULL columns")
  }

  test("a non-fatal load error is retried, then surfaces wrapped") {
    val p = new FailingLoad(new RuntimeException("transient"))
    val e = intercept[RuntimeException](p.run(spark))
    assert(p.loads.get == p.retries + 1)
    assert(e.getMessage == s"[failing-load/load] failed after ${p.retries + 1} attempts")
    assert(e.getCause.getMessage == "transient")
  }
}
