package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time operators over the TPC-H-style `events` stream: watermarked
  * dedup, the tumbling daily rollup (Q16) and hopping windows (Q26). Each
  * has the same shape batch or streaming. The SportsTV ingest is
  * [[StreamingIngest]]. */
object EventWindows {

  /** Streaming exact dedup on `keys` with BOUNDED state: duplicates
    * arriving within `delay` of the watermark are dropped, and key state
    * older than the watermark is evicted — the ingest-side guard a training
    * pipeline puts in front of the corpus store (re-delivered files,
    * at-least-once upstream queues). Unlike plain `dropDuplicates` on a
    * stream (state grows forever), the watermark variant holds each key
    * only for the re-delivery horizon. Rows are emitted on first arrival —
    * no watermark-wait latency. */
  def dedupedStream(events: DataFrame, delay: String, keys: String*): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Q16's streaming form: tumbling daily event-time window over the events
    * stream. On a closed input this must produce exactly the batch rows
    * (asserted in StreamingSpec). `watermark` bounds state for continuous
    * runs; the default mirrors the reference's unbounded lateness. */
  def dailyEventRollup(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.fold(events)(w => events.withWatermark("ts", w))
    withWm
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        // exact countDistinct is not supported inside a streaming agg;
        // HLL++ is the streaming-native answer (SURVEY §2.11 upgrade path)
        approx_count_distinct(col("user_id")).as("approx_uniq_users"),
        // decimal sum: result independent of micro-batch arrival order
        round(sum(col("value").cast(DecimalType(18, 4))), 2)
          .cast("double").as("total_value"))
      .select(col("window.start").cast("date").as("day"), col("event_type"),
        col("events"), col("approx_uniq_users"), col("total_value"))
  }

  /** Trending detection: hopping (sliding) event-time windows — each event
    * lands in length/hop overlapping windows, so a burst is visible the
    * moment its FIRST hop closes instead of a full tumbling period later.
    * Same shape batch or streaming; with a watermark, state is bounded to
    * (lateness + length)/hop open windows per key. */
  def hoppingEventCounts(events: DataFrame, length: String = "6 hours",
      hop: String = "1 hour", watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.fold(events)(w => events.withWatermark("ts", w))
    withWm
      .groupBy(window(col("ts"), length, hop), col("event_type"))
      .agg(count(lit(1)).as("events"),
        round(sum(col("value").cast(DecimalType(18, 4))), 2)
          .cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("events"), col("total_value"))
  }
}
