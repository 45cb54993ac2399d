package graft.streaming

import graft.SparkSpec

/** transformWithState (Spark 4 arbitrary-state API): per-user
  * profiles accumulate across micro-batches and across separate
  * drains of the same checkpoint; cents-integer state keeps spend
  * exact under replay.
  */
class UserProfileStateSpec extends SparkSpec {
  import spark.implicits._

  test("profiles accumulate across batches and survive a restart") {
    withTempDir { t =>
      val src = java.nio.file.Files.createDirectories(t.resolve("src")).toString
      val ck = s"$t/ck"
      val out = s"$t/prof"
      def drop(name: String, rows: String*): Unit =
        java.nio.file.Files.writeString(
          new java.io.File(s"$src/$name").toPath,
          ("user_id,value" +: rows).mkString("\n"))
      // transformWithState requires the RocksDB state store provider
      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        def drain(): Unit = {
          val events = spark.readStream
            .schema("user_id LONG, value DOUBLE")
            .option("header", "true").csv(src)
          val q = UserProfileState.runningProfiles(events)
            .writeStream.format("parquet").option("path", out)
            .outputMode("append") // parquet sink; rows are per-batch emissions
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ck).start()
          q.awaitTermination()
        }
        drop("b1.csv", "1,1.10", "1,2.20", "2,5.00")
        drain()
        drop("b2.csv", "1,0.70", "3,9.99")
        drain() // separate run: state must reload from the checkpoint
        // latest emission per user = running totals over BOTH batches
        val last = spark.read.parquet(out)
          .groupBy($"user_id")
          .agg(org.apache.spark.sql.functions.max($"n_events").as("n"),
            org.apache.spark.sql.functions.max($"total_value").as("v"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        assert(last(1L) == ((3L, 4.0)), s"user 1: ${last(1L)}")
        assert(last(2L) == ((1L, 5.0)))
        assert(last(3L) == ((1L, 9.99)))
      } finally {
        prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }
}
