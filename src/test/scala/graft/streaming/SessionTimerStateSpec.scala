package graft.streaming

import graft.SparkSpec

/** Event-time timer sessionization: a session row is emitted exactly
  * once, only after the watermark passes session end + gap, and an
  * event inside the gap extends the open session instead of closing
  * it.
  */
class SessionTimerStateSpec extends SparkSpec {
  import spark.implicits._

  test("watermark-driven timers close sessions exactly once") {
    withTempDir { t =>
      val src = java.nio.file.Files.createDirectories(t.resolve("src")).toString
      val ck = s"$t/ck"
      val out = s"$t/sess"
      def drop(name: String, rows: String*): Unit =
        java.nio.file.Files.writeString(
          new java.io.File(s"$src/$name").toPath,
          ("user_id,ts" +: rows).mkString("\n"))
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        def drain(): Unit = {
          val events = spark.readStream
            .schema("user_id LONG, ts TIMESTAMP")
            .option("header", "true").csv(src)
          val q = SessionTimerState.timerSessions(events)
            .writeStream.format("parquet").option("path", out)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ck).start()
          q.awaitTermination()
        }
        def sessions(): Seq[(Long, Long)] = // (user, n_events)
          spark.read.parquet(out).collect()
            .map(r => (r.getLong(0), r.getLong(3))).toSeq.sorted

        // batch 1: user 1 has two events 10 min apart — ONE open
        // session; watermark (max ts 10:10 − 10 min delay = 10:00)
        // hasn't passed 10:10 + 30 min gap, so nothing emits yet
        drop("b1.csv", "1,2024-01-01 10:00:00", "1,2024-01-01 10:10:00")
        drain()
        assert(sessions().isEmpty, s"session closed early: ${sessions()}")

        // batch 2: an event inside the gap EXTENDS the session (new end
        // 10:30), and a far-future event pushes the watermark past
        // 10:30 + 30 min ⇒ the extended session closes with 3 events
        drop("b2.csv", "1,2024-01-01 10:30:00", "2,2024-01-01 14:00:00")
        drain()
        assert(sessions() == Seq((1L, 3L)), s"got ${sessions()}")

        // batch 3: advance the watermark far enough to close user 2's
        // session too; user 1 must NOT re-emit (exactly-once close)
        drop("b3.csv", "3,2024-01-01 18:00:00")
        drain()
        assert(sessions() == Seq((1L, 3L), (2L, 1L)), s"got ${sessions()}")

        // batch 4: REPLAY shape — one batch carries a user's whole
        // history with events more than a gap apart. 19:00/19:05 and
        // 20:30/20:31 are 85 min apart ⇒ must SPLIT into two sessions,
        // not fold into one mega-session
        // user 9's 23:00 event pushes the NEXT batch's watermark to
        // 22:50, past both of user 4's close times (19:35, 21:01)
        drop("b4.csv", "4,2024-01-01 19:00:00", "4,2024-01-01 19:05:00",
          "4,2024-01-01 20:30:00", "4,2024-01-01 20:31:00",
          "9,2024-01-01 23:00:00")
        drain()
        // batch 5: new data advances the watermark (to 22:50 for the
        // data batch, then 2024-01-02 07:50 for the final no-data
        // batch AvailableNow runs) — closes user 3's 18:00 session,
        // both user 4 spans, and user 9's pusher session
        drop("b5.csv", "3,2024-01-02 08:00:00")
        drain()
        assert(sessions() ==
          Seq((1L, 3L), (2L, 1L), (3L, 1L), (4L, 2L), (4L, 2L), (9L, 1L)),
          s"got ${sessions()}")
        val u4 = spark.read.parquet(out).collect()
          .filter(_.getLong(0) == 4L).map(r => (r.getLong(1), r.getLong(2))).sorted
        assert(u4.length == 2 && u4(0)._2 < u4(1)._1,
          s"user 4 sessions not disjoint: ${u4.toSeq}")
      } finally {
        prev match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }
}
