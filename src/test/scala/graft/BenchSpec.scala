package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.DerivedStore

/** `Bench.board` on the shared session, over small queries. */
class BenchSpec extends SparkSpec {

  private val tiny: Bench.Query = (s, _) => s.range(10).toDF()

  test("cold and median-warm seconds are present") {
    val rec = Bench.board(spark, sf, Seq("b_tiny" -> tiny, "a_tiny" -> tiny), 3)
    assert(rec.cold.keys.toSeq == Seq("a_tiny", "b_tiny"))
    assert(rec.warm.keySet == rec.cold.keySet)
    for (n <- rec.cold.keys) {
      val reps = rec.warmRepTimes(n)
      assert(reps.size == 3)
      assert(rec.warm(n) == reps.sorted.apply(1))
      assert(rec.cold(n) > 0.0 && rec.cold(n) == rec.telemetry(n).sec)
    }
    assert(rec.errors.isEmpty && rec.warmReps == 3)
  }

  test("a deterministic query leaves plan_changes empty") {
    val rec = Bench.board(spark, sf, Seq("tiny" -> tiny), 3)
    assert(rec.telemetry("tiny").plan.matches("[0-9a-f]{8}"))
    assert(rec.planChanges.isEmpty, rec.planChanges)
  }

  test("a query that throws a non-fatal exception lands in errors and the board goes on") {
    val bad: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val rec = Bench.board(spark, sf, Seq("bad" -> bad, "ok" -> tiny), 1)
    assert(rec.errors == Map("bad" -> "IllegalStateException: boom"))
    assert(rec.telemetry("bad").plan == "err")
    assert(rec.cold.keySet == Set("bad", "ok") && rec.telemetry("ok").plan != "err")
  }

  test("a StackOverflowError propagates") {
    val deep: Bench.Query = (_, _) => throw new StackOverflowError()
    intercept[StackOverflowError](Bench.board(spark, sf, Seq("deep" -> deep), 1))
  }

  test("one slow warm rep raises warm_unstable") {
    var calls = 0
    val flaky: Bench.Query = (s: SparkSession, _: String) => {
      calls += 1
      if (calls == 3) Thread.sleep(1200) // the second warm rep
      s.range(10).toDF(): DataFrame
    }
    val rec = Bench.board(spark, sf, Seq("flaky" -> flaky), 3)
    val flag = rec.flags.find(_.kind == "warm_unstable")
    assert(flag.exists(f => f.q == "flaky" && f.reps == rec.warmRepTimes("flaky")),
      rec.flags)
  }

  test("the board bills a model to the window that trains it, and a fresh JVM loads it from disk") {
    withTempDir { dir =>
      spark.range(20).toDF("id").write.mode("overwrite").parquet(dir.toString)
      val df = spark.read.parquet(dir.toString)
      // a throwaway action, as in Bench.main, so JVM and scheduler
      // warm-up is not billed to the trained query
      df.count()
      val kind = s"bench_model_${System.nanoTime()}"
      // an empty answer keeps a warm window to the memo hit and one
      // small job, well under the trainer's 400 ms
      val trained: Bench.Query = (_, _) => {
        DerivedStore.value(df, kind) { Thread.sleep(400); "model" }(identity)(identity)
        df.limit(0)
      }
      // an empty memo, as a fresh JVM would see it
      def freshBoard(warmReps: Int): Bench.Record = {
        DerivedStore.clearMemo()
        Bench.board(spark, sf, Seq("trained" -> trained), warmReps)
      }
      val rec = freshBoard(3)
      assert(rec.cold("trained") >= 0.3, rec.cold)
      assert(rec.warm("trained") < 0.3, rec.warmRepTimes)
      assert(rec.modelBuilds(kind)("built_now") == true)
      assert(freshBoard(1).modelBuilds(kind)("built_now") == false)
    }
  }

  test("a second board in the same JVM lists only the models its own windows touched") {
    withTempDir { dir =>
      spark.range(20).toDF("id").write.mode("overwrite").parquet(dir.toString)
      val df = spark.read.parquet(dir.toString)
      def trainer(kind: String): Bench.Query = (_, _) => {
        DerivedStore.value(df, kind)("model")(identity)(identity)
        df.limit(0)
      }
      val (first, second) = (s"bench_first_${System.nanoTime()}",
        s"bench_second_${System.nanoTime()}")
      val rec1 = Bench.board(spark, sf, Seq("first" -> trainer(first)), 1)
      assert(rec1.modelBuilds.contains(first))
      val rec2 = Bench.board(spark, sf, Seq("second" -> trainer(second)), 1)
      assert(rec2.modelBuilds.keySet == Set(second), rec2.modelBuilds)
    }
  }

  test("query names and error text with quote, backslash, newline and \\u0001 round-trip through the record") {
    val name = "we\"ird\\na\nme\u0001"
    val msg = "bad \"input\" at C:\\tmp\nline\u0001two"
    val bad: Bench.Query = (_, _) => throw new RuntimeException(msg)
    val rec = Bench.board(spark, sf, Seq(name -> bad), 1)
    val back = new ObjectMapper().readTree(Json.write(rec))
    assert(back.get("errors").get(name).asText == s"RuntimeException: $msg")
    assert(back.get("cold").has(name))
    assert(back.get("telemetry").get(name).get("gc_ms").isNumber)
    assert(back.get("host_steal_share").isNumber)
  }
}
