package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming CUSUM drift monitor via `transformWithState` — the
  * stateful twin of the batch `changepoint_cusum` operator. The two
  * sides deliberately take OPPOSITE routes to the same numbers: the
  * batch operator needs the prefix-min closed form because the
  * recurrence s_t = max(0, s_{t−1} + d_t) doesn't parallelize, while
  * the stream runs the recurrence natively — per-key state is where
  * sequential folds belong. `StreamingCusumSpec` pins the
  * equivalence, and both rows share one DuckDB oracle.
  *
  * Deployment shape (the reason this operator exists): the baseline
  * moments (m days, Σx, Σx²) come from yesterday's BATCH job and
  * ride into the stream on a broadcast stream-static join; the
  * stream folds arriving events into per-day counts and re-emits
  * the alarm trajectory each micro-batch. State is one
  * day→count map per key — calendar-bounded, never event-bounded.
  * All arithmetic is the same m-scaled integer form as the batch
  * operator, so arrival order and batch boundaries cannot perturb a
  * single bit of the output.
  */
object StreamingCusum extends StreamingProvider {

  case class In(event_type: String, day: String, m: Long, ssum: Long, q: Long)
  case class Out(event_type: String, n_seen: Long, day: String, x: Long,
                 cusum: Long, alarm: Boolean)

  private class CusumProcessor
      extends StatefulProcessor[String, In, Out] {
    @transient private var state: ValueState[(Long, Map[String, Long])] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Map[String, Long])]("cusum",
        Encoders.tuple(Encoders.scalaLong,
          Encoders.kryo[Map[String, Long]]), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[In],
                                 timers: TimerValues): Iterator[Out] = {
      var (n, counts) =
        if (state.exists()) state.get() else (0L, Map.empty[String, Long])
      var m = 0L; var ssum = 0L; var q = 0L
      rows.foreach { r =>
        n += 1
        counts = counts.updated(r.day, counts.getOrElse(r.day, 0L) + 1L)
        m = r.m; ssum = r.ssum; q = r.q
      }
      state.update((n, counts))
      // the recurrence, over the (calendar-bounded) sorted day map.
      // Squared/product terms fold in BigInt — the exact mirror of
      // the batch operator's decimal(38,0) widening (r11 advice): a
      // Long thresh would wrap silently where the shared HUGEINT
      // oracle raises. The linear state (st, the In moments) stays
      // Long under the same documented bound as the batch row:
      // m·(Σx per series) < 9.2e18.
      val thresh = BigInt(25) * (BigInt(m) * q - BigInt(ssum) * ssum)
      var st = 0L
      val out = counts.toSeq.sortBy(_._1).map { case (d, x) =>
        st = math.max(0L, st + (m * x - ssum))
        Out(key, n, d, x, st, BigInt(st) * st > thresh)
      }
      out.iterator
    }
  }

  /** `in` needs (event_type, day, m, ssum, q) columns — raw events
    * already carrying their type's baseline moments. Emits the full
    * per-day CUSUM trajectory for each key touched by the batch.
    */
  def perTypeCusum(in: DataFrame): Dataset[Out] = {
    val spark = in.sparkSession
    import spark.implicits._
    in.as[In]
      .groupByKey(_.event_type)
      .transformWithState(new CusumProcessor,
        TimeMode.None(), OutputMode.Update(),
        implicitly[org.apache.spark.sql.Encoder[Out]])
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cusum" -> ((s, dir) =>
      EventsStream.withRocksDbStateStore(s) {
        import org.apache.spark.sql.functions._
        val batchDaily = s.read.parquet(s"$dir/events.parquet")
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x"))
        val base = batchDaily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("m"), sum(col("x")).as("ssum"),
            sum(col("x") * col("x")).as("q"))
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val in = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("event_type"),
            date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
          .join(broadcast(base), Seq("event_type"))
          .select(col("event_type"), col("day"), col("m"), col("ssum"),
            col("q"))
        EventsStream.runAvailableNow(perTypeCusum(in).toDF(),
          "stream_cusum_sink", outputMode = "update",
          stateParts = EventsStream.statePartitions(s, s"$dir/events.parquet"))
        // n_seen is strictly monotone per key; the max-n_seen
        // emission is the post-drain trajectory regardless of how
        // many micro-batches the drain took
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        s.table("stream_cusum_sink")
          .withColumn("_mx", max(col("n_seen")).over(w))
          .filter(col("n_seen") === col("_mx"))
          .select(col("event_type"), to_date(col("day")).as("day"),
            col("x"), col("cusum"), col("alarm"))
      })
  )

  /** Identical to the batch `changepoint_cusum` oracle — the two
    * operators are the same function computed through opposite
    * dataflows.
    */
  def oracles: Map[String, String] = Map(
    "stream_cusum" -> graft.operators.Timeseries.oracles("changepoint_cusum")
  )
}
