package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.Tables

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Per-file [min,max] of `c`, by reading each file individually —
    * what any stats-based pruner (parquet row-group filter, Delta
    * file skipping) would see.
    */
  private def fileRanges(dir: String, c: String): Seq[(Long, Long)] = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  test("z-order keeps BOTH columns' per-file ranges narrow; linear sort only one") {
    withTempDir { t =>
      val li = Tables(spark, sf).lineitem
        .select($"l_orderkey", $"l_partkey", $"l_quantity")
      val zdir = s"$t/zorder"
      val sdir = s"$t/sorted"
      val files = 16

      Layout.writeZOrdered(li, zdir, "l_orderkey", "l_partkey", files)
      // baseline: the classic single-column sort layout
      li.repartitionByRange(files, $"l_orderkey")
        .sortWithinPartitions($"l_orderkey")
        .write.mode("overwrite").parquet(sdir)

      // nothing lost in the rewrite
      assert(spark.read.parquet(zdir).count() == li.count())

      // a point filter on the NON-leading column: count files whose
      // [min,max] straddle the probe — those are the files a pruning
      // reader must open
      val probe = li.agg(percentile($"l_partkey", lit(0.5))).head().getDouble(0)
      def touched(ranges: Seq[(Long, Long)]): Int =
        ranges.count { case (lo, hi) => lo <= probe && probe <= hi }

      val zTouched = touched(fileRanges(zdir, "l_partkey"))
      val sTouched = touched(fileRanges(sdir, "l_partkey"))
      // linear layout: l_partkey spans its full domain in every file →
      // all 16 touched. Z-order: only ~√files of them.
      assert(sTouched >= files * 3 / 4, s"baseline unexpectedly clustered: $sTouched")
      assert(zTouched * 2 <= sTouched,
        s"z-order should halve touched files: $zTouched vs $sTouched")

      // and the leading column must stay prunable too (the curve
      // trades a LITTLE orderkey-locality, not all of it)
      val probeA = li.agg(percentile($"l_orderkey", lit(0.5))).head().getDouble(0)
      def touchedA(ranges: Seq[(Long, Long)]): Int =
        ranges.count { case (lo, hi) => lo <= probeA && probeA <= hi }
      assert(touchedA(fileRanges(zdir, "l_orderkey")) <= files / 2,
        "z-order lost all leading-column locality")
    }
  }

  test("zorder_layout board row: bucket stats stay narrow in BOTH dims") {
    // 64 morton buckets over two 16-bit quantized dims = 3 high bits
    // per dim per bucket → each bucket should span ≈1/8 of each
    // domain; assert the loose 1/4 bound and row conservation
    val out = graft.SparkEntry.queries("zorder_layout")(spark, sf).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables(spark, sf).lineitem.count())
    def avgSpan(lo: String, hi: String): Double =
      out.map(r => (r.getAs[Long](hi) - r.getAs[Long](lo)).toDouble).sum / out.length
    val globalPk = out.map(_.getAs[Long]("max_pk")).max -
      out.map(_.getAs[Long]("min_pk")).min
    val globalSk = out.map(_.getAs[Long]("max_sk")).max -
      out.map(_.getAs[Long]("min_sk")).min
    assert(avgSpan("min_pk", "max_pk") <= globalPk / 4.0,
      "partkey ranges not clustered")
    assert(avgSpan("min_sk", "max_sk") <= globalSk / 4.0,
      "suppkey ranges not clustered")
  }
}
