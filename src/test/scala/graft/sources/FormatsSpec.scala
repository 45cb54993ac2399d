package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog.Tables

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("ORC round-trip preserves rows and pushes filters to the scan") {
    withTempDir { t =>
      val src = Tables(spark, sf).lineitem
      val path = s"$t/li"
      Formats.writeOrc(src, path)
      val back = Formats.readOrc(spark, path)
      assert(back.count() == src.count())
      // schema preserved
      assert(back.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
      // ORC scan supports pushdown too
      val plan = back.filter($"l_quantity" > 40.0)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PushedFilters") && plan.contains("l_quantity"), plan.take(1500))
      assert(back.filter($"l_quantity" > 40.0).count() ==
        src.filter($"l_quantity" > 40.0).count())
    }
  }

  test("JSON-lines round-trip with declared schema preserves values") {
    withTempDir { t =>
      val src = Tables(spark, sf).customer
      val path = s"$t/cust"
      Formats.writeJsonLines(src, path)
      val back = Formats.readJsonLines(spark, path, src.schema)
      assert(back.count() == src.count())
      val a = src.agg(sum($"c_acctbal")).as[Double].collect()(0)
      val b = back.agg(sum($"c_acctbal")).as[Double].collect()(0)
      assert(math.abs(a - b) < 1e-6)
      assert(back.exceptAll(src).count() == 0)
    }
  }
}
