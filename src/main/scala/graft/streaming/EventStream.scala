package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` stream (SURVEY.md §2.9). The
  * reference's only "streaming" is a poll-directory batch loop; these are
  * the declared queries' event-time plans, written with the engine-native
  * streaming primitives so state, watermarks and recovery are Spark's:
  *
  *   - [[windowedAgg]]: tumbling event-time window aggregation under a
  *     watermark (late data beyond the watermark is dropped, state is
  *     bounded);
  *   - [[chainedWindowAgg]]: two stateful window aggregations in one
  *     append-mode query;
  *   - [[intervalJoinBatch]]: the bucketed batch form of a same-user
  *     interval self-join.
  *
  * The window aggregations accept any DataFrame with the events schema,
  * streaming or batch: the oracle-checked queries run the same plan in
  * batch (`q_stream_window_parity`, `q_stream_chain_parity`), and
  * EventStreamSpec runs it on a memory stream.
  *
  * Scale notes: windowed aggs shuffle on (window, key) with partial
  * aggregation map-side; state store size is bounded by watermark horizon
  * × key cardinality; at 100 TB/day the knobs that matter are watermark
  * delay (state bound), `spark.sql.shuffle.partitions` (state store
  * parallelism) and RocksDB state backend — none of which change the plan
  * shape declared here.
  */
object EventStream {

  /** Tumbling event-time window counts + value sums per event type. */
  def windowedAgg(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"),
        col("n"),
        col("total_value"))

  /** CHAINED stateful aggregation in one streaming query (append mode):
    * per-minute event counts re-aggregated to hourly max/avg-of-minutes —
    * the two-level rollup every metrics pipeline needs, without landing
    * the first level in a table. Requires the downstream groupBy to
    * window over the upstream `window` struct itself (Spark threads the
    * watermark through); state at level 1 expires on the watermark,
    * level 2 holds one row per (hour, type) — both bounded. Downstream
    * rows emit only after the FULL hour passes the watermark.
    */
  def chainedWindowAgg(
      events: DataFrame,
      fine: String = "1 minute",
      coarse: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), fine).as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("w1"), coarse).as("w2"), col("event_type"))
      .agg(max("n").as("peak_minute"), sum("n").as("n_total"))
      .select(
        col("w2.start").as("window_start"),
        col("event_type"),
        col("peak_minute"),
        col("n_total"))

  /** Same-user interval self-join in batch, bucketed for scale: pairs
    * (ev_a, ev_b) where the right event lands within (0, maxGap] after the
    * left one. A plain equi-join on user_id materializes ALL same-user
    * pairs before the range filter — O(k²) per user, the dominant cost
    * once any user has thousands of events. Bucketing event time by the
    * gap length bounds each join group to two adjacent buckets: a right
    * row at bucket b can only pair with left rows in buckets {b-1, b}, so
    * the left side is expanded to its two candidate buckets (2× map-side,
    * no extra shuffle relative to the naive plan) and the join key becomes
    * (user_id, bucket). Per-group work drops from k² to ~(k/buckets)²·2.
    * Oracle: `q_interval_join`; EventStreamSpec compares it with the
    * naive range join.
    */
  def intervalJoinBatch(
      left: DataFrame,
      right: DataFrame,
      maxGapMicros: Long = 3600L * 1000000L): DataFrame = {
    val l = left
      .withColumn("lu", expr("unix_micros(ts)"))
      .withColumn("lb", explode(array(
        expr(s"unix_micros(ts) div ${maxGapMicros}L"),
        expr(s"unix_micros(ts) div ${maxGapMicros}L + 1L"))))
      .alias("l")
    val r = right
      .withColumn("ru", expr("unix_micros(ts)"))
      .withColumn("rb", expr(s"unix_micros(ts) div ${maxGapMicros}L"))
      .alias("r")
    l.join(
        r,
        col("l.user_id") === col("r.user_id") &&
          col("l.lb") === col("r.rb") &&
          col("r.ru") > col("l.lu") &&
          col("r.ru") <= col("l.lu") + lit(maxGapMicros))
      .select(
        col("l.user_id").as("user_id"),
        col("l.event_id").as("ev_a"),
        col("r.event_id").as("ev_b"))
  }
}
