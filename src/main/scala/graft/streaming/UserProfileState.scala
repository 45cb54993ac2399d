package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Running per-user profile via Spark 4's `transformWithState` — the
  * successor API to `flatMapGroupsWithState` (typed state variables,
  * per-state TTL, RocksDB-backed). Each micro-batch folds a user's
  * events into a single `ValueState[(Long, Double)]` (event count,
  * decimal-cents spend) and emits the updated profile row — the
  * standard "feature store freshness" pattern: state is O(users), one
  * row per active user per batch reaches the sink, and the store
  * compacts/evicts via TTL rather than hand-rolled timeout logic.
  *
  * Spend accumulates in integer CENTS inside the state (exact —
  * replays and partition order can't perturb it) and surfaces as a
  * double only in the emitted row.
  */
object UserProfileState extends StreamingProvider {

  case class ProfileEvent(user_id: Long, value: Double)
  case class UserProfile(user_id: Long, n_events: Long, total_value: Double)

  private class ProfileProcessor
      extends StatefulProcessor[Long, ProfileEvent, UserProfile] {
    @transient private var profile: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      profile = getHandle.getValueState[(Long, Long)]("profile",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ProfileEvent],
                                 timers: TimerValues): Iterator[UserProfile] = {
      var (n, cents) = if (profile.exists()) profile.get() else (0L, 0L)
      rows.foreach { e =>
        n += 1
        cents += math.round(e.value * 100)
      }
      profile.update((n, cents))
      Iterator.single(UserProfile(key, n, cents / 100.0))
    }
  }

  /** `events` needs (user_id, value); emits one updated profile row
    * per active user per micro-batch (update semantics).
    */
  def runningProfiles(events: DataFrame): Dataset[UserProfile] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[ProfileEvent]
      .groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Update(), implicitly[
          org.apache.spark.sql.Encoder[UserProfile]])
  }

  /** Oracle-pinned run of the REAL profile dataflow (the
    * stream_heavy_hitters pattern): drain events AvailableNow through
    * [[runningProfiles]] — transformWithState, RocksDB ValueState,
    * update-mode emission — keep each user's FINAL state row (n_events
    * is strictly monotone per user across batches), and compare to the
    * batch aggregate. Exactness: spend folds as integer half-up cents
    * (math.round ≡ floor(x·100 + 0.5) for Long) in ANY fold order,
    * and the oracle states the identical floor — the one double op,
    * cents/100.0, is a single division on both engines.
    */
  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "stream_user_profiles" -> ((s, dir) =>
      EventsStream.withRocksDbStateStore(s) {
        import org.apache.spark.sql.functions._
        EventsStream.runAvailableNow(
          runningProfiles(EventsStream.readEvents(s, dir)).toDF(),
          "stream_profiles_sink", outputMode = "update",
          stateParts = EventsStream.statePartitions(s, s"$dir/events.parquet"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(desc("n_events"))
        s.table("stream_profiles_sink")
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col("user_id"), col("n_events"), col("total_value"))
      })
  )

  def oracles: Map[String, String] = Map(
    "stream_user_profiles" ->
      """SELECT user_id, cast(count(*) AS bigint) AS n_events,
        |  cast(sum(cast(floor(value * 100 + 0.5) AS bigint)) AS bigint)
        |    / 100.0::DOUBLE AS total_value
        |FROM events GROUP BY user_id""".stripMargin
  )
}
