package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming Misra–Gries heavy hitters via `transformWithState`: one
  * bounded MG summary per group key (e.g. per language), folded
  * incrementally across micro-batches — the streaming face of
  * [[graft.functions.HeavyHitters]].
  *
  * Scale shape: state is O(groups × capacity) REGARDLESS of how many
  * distinct items flow through — the property that makes frequency
  * tracking viable on an unbounded stream (an exact
  * groupBy(item).count() in update mode grows state with the
  * vocabulary forever). Each batch applies the classic MG update per
  * arriving item (amortized O(1)); the emitted row carries the
  * current top items, so downstream sees a fresh leaderboard per
  * group per batch.
  *
  * Same guarantee as the batch aggregate, per group: any item whose
  * true frequency within the group exceeds n/(capacity+1) of the n
  * rows observed so far is present, and every estimate lies in
  * [true − n/(capacity+1), true]. When capacity ≥ the group's
  * distinct-item count the summary is exact — the condition
  * `StreamingHeavyHittersSpec` uses to pin stream ≡ batch.
  */
object StreamingHeavyHitters extends StreamingProvider {

  case class Item(group: String, item: String)
  case class GroupHitters(group: String, n_seen: Long,
                          items: Array[String], ests: Array[Long])

  private class MgProcessor(capacity: Int, failAtCapacity: Boolean)
      extends StatefulProcessor[String, Item, GroupHitters] {
    @transient private var state: ValueState[(Long, Map[String, Long])] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Map[String, Long])]("mg",
        Encoders.tuple(Encoders.scalaLong,
          Encoders.kryo[Map[String, Long]]), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Item],
                                 timers: TimerValues): Iterator[GroupHitters] = {
      var (n, m) = if (state.exists()) state.get() else (0L, Map.empty[String, Long])
      rows.foreach { r =>
        n += 1
        m.get(r.item) match {
          case Some(c) => m = m.updated(r.item, c + 1)
          case None if m.size < capacity => m = m.updated(r.item, 1L)
          case None if failAtCapacity =>
            // exact-regime contract: callers pinning the summary to a
            // count oracle rely on capacity ≥ distinct items per group
            // (no decrements ever fire). At a scale where that stops
            // holding, diverge LOUDLY, not silently (r9 advice).
            throw new IllegalStateException(
              s"MG capacity $capacity reached for group '$key': the " +
                "exact-regime guarantee (summary ≡ per-item count) no " +
                "longer holds at this scale")
          case None =>
            // MG decrement: one uncounted arrival cancels one unit of
            // every tracked counter (and itself)
            m = m.flatMap { case (k, c) =>
              if (c - 1 == 0L) None else Some(k -> (c - 1)) }
        }
      }
      state.update((n, m))
      val sorted = m.toSeq.sortBy { case (k, c) => (-c, k) }
      Iterator.single(GroupHitters(key, n,
        sorted.map(_._1).toArray, sorted.map(_._2).toArray))
    }
  }

  /** `rows` needs (group, item) string columns; emits one updated
    * leaderboard row per active group per micro-batch.
    * `failAtCapacity` turns the silent lossy regime into a loud error
    * — set it when downstream treats the summary as exact counts.
    */
  def perGroupHitters(rows: DataFrame, capacity: Int = 32,
                      failAtCapacity: Boolean = false): Dataset[GroupHitters] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.selectExpr("group", "item").as[Item]
      .groupByKey(_.group)
      .transformWithState(new MgProcessor(capacity, failAtCapacity),
        TimeMode.None(), OutputMode.Update(), implicitly[
          org.apache.spark.sql.Encoder[GroupHitters]])
  }

  /** Oracle-pinned run of the REAL streaming dataflow (r7's
    * stream_hourly_counts pattern): drain the events table as an
    * AvailableNow file stream through [[perGroupHitters]] in the
    * EXACT regime (capacity ≥ distinct items per group ⇒ no MG
    * decrements ⇒ the summary IS the per-item count, independent of
    * arrival order), explode the final per-group leaderboard, keep
    * the top 50 — which a DuckDB group-count + row_number reproduces
    * exactly. The lossy regime (where the stream earns its O(capacity)
    * state bound) stays spec-covered in StreamingHeavyHittersSpec;
    * this row pins the state machinery's arithmetic under the hash
    * gate.
    */
  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "stream_heavy_hitters" -> ((s, dir) =>
      EventsStream.withRocksDbStateStore(s) {
        import org.apache.spark.sql.functions._
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val in = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("event_type").as("group"),
            col("user_id").cast("string").as("item"))
        // failAtCapacity: the oracle below IS the exact regime — at a
        // scale where a group's vocabulary outgrows the capacity,
        // error instead of silently diverging from the count oracle
        EventsStream.runAvailableNow(
          perGroupHitters(in, capacity = 1 << 17, failAtCapacity = true).toDF(),
          "stream_hh_sink", outputMode = "update",
          stateParts = EventsStream.statePartitions(s, s"$dir/events.parquet"))
        // the update-mode memory sink keeps ONE leaderboard row per
        // group per micro-batch; a multi-file drain would leave
        // several. n_seen is strictly monotone per group, so the
        // max-n_seen row is the final state regardless of batching
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("group")).orderBy(desc("n_seen"))
        s.table("stream_hh_sink")
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col("group").as("event_type"), col("n_seen"),
            posexplode(arrays_zip(col("items"), col("ests"))))
          .select(col("event_type"), col("n_seen"),
            (col("pos") + 1).cast("int").as("rk"),
            col("col.items").as("item"), col("col.ests").as("cnt"))
          .filter(col("rk") <= 50)
      })
  )

  def oracles: Map[String, String] = Map(
    // exact regime: the MG summary equals the per-(group, item) count,
    // ordered by (cnt desc, item asc) — a total order, so the top-50
    // cut is deterministic on both engines
    "stream_heavy_hitters" ->
      """WITH counts AS (
        |  SELECT event_type, user_id::varchar AS item,
        |    cast(count(*) AS bigint) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, item, cnt,
        |    cast(row_number() OVER
        |      (PARTITION BY event_type ORDER BY cnt DESC, item ASC) AS int) AS rk,
        |    cast(sum(cnt) OVER (PARTITION BY event_type) AS bigint) AS n_seen
        |  FROM counts)
        |SELECT event_type, n_seen, rk, item, cnt
        |FROM ranked WHERE rk <= 50""".stripMargin
  )
}
