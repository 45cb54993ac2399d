package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streaming recurrence and the batch prefix-min closed form are
  * the same function — pin it, single-batch and forced multi-batch.
  */
class StreamingCusumSpec extends SparkSpec {

  private def key(r: org.apache.spark.sql.Row) =
    (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3),
      r.getBoolean(4))

  test("stream trajectory equals the batch closed form") {
    val batch = run("changepoint_cusum")
      .select(col("event_type"), col("day"), col("x"), col("cusum"),
        col("alarm")).collect().map(key).toSet
    val stream = run("stream_cusum").collect().map(key).toSet
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("forced 3-batch drain reaches the same final trajectory") {
    withTempDir { t =>
      val events = spark.read.parquet(s"$sf/events.parquet")
      val srcDir = s"$t/events3"
      events.repartition(3).write.parquet(srcDir)
      val batchDaily = events
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      val base = batchDaily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("m"), sum(col("x")).as("ssum"),
          sum(col("x") * col("x")).as("q"))
      val got = EventsStream.withRocksDbStateStore(spark) {
        val in = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
          .select(col("event_type"),
            date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
          .join(broadcast(base), Seq("event_type"))
          .select(col("event_type"), col("day"), col("m"), col("ssum"),
            col("q"))
        val ck = t.resolve("ck")
        val q = StreamingCusum.perTypeCusum(in).toDF()
          .writeStream.format("memory").queryName("cusum_mb_sink")
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ck.toString).start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        assert(nBatches >= 3, s"expected a >=3-batch drain, got $nBatches")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        spark.table("cusum_mb_sink")
          .withColumn("_mx", max(col("n_seen")).over(w))
          .filter(col("n_seen") === col("_mx"))
          .select(col("event_type"), to_date(col("day")).as("day"),
            col("x"), col("cusum"), col("alarm"))
          .collect().map(key).toSet
      }
      val batch = run("changepoint_cusum").collect().map(key).toSet
      assert(got == batch)
    }
  }
}
