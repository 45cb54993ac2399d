package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog.Tables

class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly counts equal the batch aggregation (AvailableNow drain)") {
    val stream = EventsStream.hourlyCounts(EventsStream.readEvents(spark, sf))
    EventsStream.runAvailableNow(stream, "hourly_test", outputMode = "complete")
    val streamed = spark.table("hourly_test")
      .select($"hour", $"event_type", $"cnt")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = Tables(spark, sf).events
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(streamed == batch)
  }

  test("sessionization: closed sessions respect the gap and never overlap") {
    val sessions = EventsStream.sessionize(
      EventsStream.readEvents(spark, sf), gapMinutes = 30)
    EventsStream.runAvailableNow(sessions.toDF(), "sessions_test")
    val out = spark.table("sessions_test").as[EventsStream.Session]
      .collect().groupBy(_.user_id)

    assert(out.nonEmpty)
    out.foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.start.getTime)
      sorted.foreach { s =>
        assert(s.start.getTime <= s.end.getTime)
        assert(s.n_events >= 1)
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts > 30 min after the previous one ended
          assert(b.start.getTime - a.end.getTime > 30 * 60 * 1000L)
        case _ =>
      }
    }
  }

  test("watermark drops late data across incremental drains (append mode)") {
    withTempDir { t =>
      val src = java.nio.file.Files.createDirectories(t.resolve("src")).toString
      val ck = s"$t/ck"
      def drop(name: String, rows: String*): Unit =
        java.nio.file.Files.writeString(
          new java.io.File(s"$src/$name").toPath,
          ("event_id,ts,user_id,event_type,value" +: rows).mkString("\n"))
      val out = s"$t/agg"
      def drain(): Unit = {
        val events = spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
          .option("header", "true").csv(src)
        val agg = EventsStream.hourlyCounts(events)
        // parquet sink: append-mode emits each window once it is
        // finalized by the watermark, and recovers from the checkpoint
        val q = agg.writeStream.format("parquet").option("path", out)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ck).start()
        q.awaitTermination()
      }
      // batch 1 advances the watermark to 11:30 - 1h = 10:30; the
      // 09:00 window closes and is emitted
      drop("b1.csv",
        "1,2024-01-01 09:10:00,1,click,1.0",
        "2,2024-01-01 09:20:00,1,click,1.0",
        "3,2024-01-01 11:30:00,1,click,1.0")
      drain()
      // batch 2: a 09:40 event arrives AFTER the 09:00 window closed —
      // it must be dropped, not re-open the emitted window
      drop("b2.csv", "4,2024-01-01 09:40:00,1,click,1.0")
      drain()
      val nineOclock = spark.read.parquet(out)
        .filter($"hour" === to_timestamp(lit("2024-01-01 09:00:00")))
        .select($"cnt").as[Long].collect()
      assert(nineOclock.toSeq == Seq(2L), s"got ${nineOclock.toSeq}") // late row dropped
    }
  }

  test("streaming dedup drops redeliveries within the watermark horizon") {
    withTempDir { t =>
      val src = java.nio.file.Files.createDirectories(t.resolve("src")).toString
      val ck = s"$t/ck"
      def drop(name: String, rows: String*): Unit =
        java.nio.file.Files.writeString(
          new java.io.File(s"$src/$name").toPath,
          ("event_id,ts,user_id,event_type,value" +: rows).mkString("\n"))
      val out = s"$t/dedup"
      def drain(): Unit = {
        val events = spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
          .option("header", "true").csv(src)
        val q = EventsStream.dedupStream(events, horizon = "1 hour")
          .writeStream.format("parquet").option("path", out)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ck).start()
        q.awaitTermination()
      }
      // batch 1: id 1 delivered twice in-batch, id 2 once
      drop("b1.csv",
        "1,2024-01-01 09:10:00,1,click,1.0",
        "1,2024-01-01 09:10:00,1,click,1.0",
        "2,2024-01-01 09:20:00,1,click,1.0")
      drain()
      // batch 2: id 1 redelivered across batches (still inside the
      // horizon — state remembers it); id 3 is new
      drop("b2.csv",
        "1,2024-01-01 09:12:00,1,click,1.0",
        "3,2024-01-01 09:40:00,1,click,1.0")
      drain()
      val ids = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    }
  }

  test("stream-stream attribution join matches the batch interval join") {
    val joined = EventsStream.attributionJoin(
      EventsStream.readEvents(spark, sf), windowMinutes = 30)
    EventsStream.runAvailableNow(joined, "attr_test")
    val streamed = spark.table("attr_test")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = Tables(spark, sf).events
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("cts"), $"event_id".as("cid"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id".as("pid"))
    val batch = p.join(c, $"pu" === $"cu" && $"cts" <= $"pts" &&
        $"cts" >= $"pts" - expr("INTERVAL 30 MINUTES"))
      .select($"pid", $"cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed.nonEmpty, "no attributed purchases — window too narrow for testdata")
    assert(streamed == batch)
  }

  test("foreachBatch hands every row to the custom sink exactly once") {
    withTempDir { t =>
      val ck = s"$t/ck"
      val seen = new java.util.concurrent.atomic.AtomicLong(0)
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      EventsStream.runForeachBatch(
        EventsStream.readEvents(spark, sf), ck) { (batch, _) =>
        seen.addAndGet(batch.count())
        batches.incrementAndGet()
      }
      assert(seen.get() == Tables(spark, sf).events.count())
      assert(batches.get() >= 1)
      // second drain with the same checkpoint: nothing new to process
      val seen2 = new java.util.concurrent.atomic.AtomicLong(0)
      EventsStream.runForeachBatch(
        EventsStream.readEvents(spark, sf), ck) { (batch, _) =>
        seen2.addAndGet(batch.count())
      }
      assert(seen2.get() == 0)
    }
  }

  test("session event counts cover all but the open tail sessions") {
    val sessions = EventsStream.sessionize(
      EventsStream.readEvents(spark, sf), gapMinutes = 30)
    EventsStream.runAvailableNow(sessions.toDF(), "sessions_cov")
    val closed = spark.table("sessions_cov")
      .agg(sum($"n_events")).collect()(0).getLong(0)
    val total = Tables(spark, sf).events.count()
    val users = Tables(spark, sf).events.select($"user_id").distinct().count()
    // every event lands in exactly one session; at most one open
    // session per user is withheld
    assert(closed <= total)
    assert(closed + users * 50 >= total) // open sessions are short tails
  }

  test("batch click_attribution picks the pair join's latest qualifying click") {
    // the streaming attributionJoin (above) emits qualifying PAIRS;
    // the batch operator collapses them to last-touch. Cross-check:
    // every attributed (purchase, click) must be a pair the interval
    // join produces, and must be its per-purchase maximum.
    val attributed = graft.SparkEntry.queries("click_attribution")(spark, sf)
      .filter($"click_id".isNotNull)
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val pairs = EventsStream.attributionJoin(
      Tables(spark, sf).events, windowMinutes = 30)
      .select($"purchase_id", unix_micros($"click_ts").as("cus"), $"click_id")
      .collect().groupBy(_.getLong(0))

    assert(attributed.nonEmpty)
    attributed.foreach { case (pid, cid) =>
      val best = pairs(pid).maxBy(r => (r.getLong(1), r.getLong(2)))
      assert(best.getLong(2) == cid, s"purchase $pid: $cid vs ${best.getLong(2)}")
    }
    // and every purchase with any qualifying click got attributed
    assert(pairs.keySet == attributed.keySet)
  }
}
