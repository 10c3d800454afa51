package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import java.sql.Timestamp

/** Top-level so Spark can build its deserializer without an outer-scope
  * instance (inner-class encoders fail analysis for batch self-joins).
  */
case class Ev(event_id: String, user_id: Long, event_type: String, ts: Timestamp, value: Double)

/** MemoryStream-driven checks of the event-time window aggregations,
  * and the bucketed interval join against the naive range join.
  */
class EventStreamSpec extends SparkSpec {

  private def t(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("windowedAgg counts tumbling event-time windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev("e1", 1, "click", t(10), 1.0),
      Ev("e2", 1, "click", t(20), 2.0),
      Ev("e3", 2, "view", t(75), 5.0))
    val q = EventStream.windowedAgg(in.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_agg").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = s.table("win_agg")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set((0L, "click", 2L, 3.0), (60L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("chainedWindowAgg rolls minute counts into hourly stats in ONE query") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStream.chainedWindowAgg(in.toDF(), "1 minute", "1 hour", "1 hour")
      .writeStream.format("memory").queryName("chain_agg").outputMode("append").start()
    try {
      // hour 0: clicks in two different minutes (2 + 1), one view
      in.addData(
        Ev("e1", 1, "click", t(10), 1.0), Ev("e2", 2, "click", t(10), 1.0),
        Ev("e3", 3, "click", t(25), 1.0), Ev("e4", 4, "view", t(40), 1.0))
      q.processAllAvailable()
      // advance the watermark past hour 0 + delay so level 2 finalizes
      in.addData(Ev("e9", 9, "click", t(200), 1.0))
      q.processAllAvailable()
      val rows = s.table("chain_agg").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows === Set((0L, "click", 2L, 3L), (0L, "view", 1L, 1L)),
        "hour-0 rollup must emit peak-minute and total once the watermark passes")
    } finally q.stop()
  }

  /** Interval-join fixture times, a year past the epoch. */
  private def tOff(min: Long): Timestamp = t(min + 366L * 24 * 60)

  /** The naive interval join `intervalJoinBatch` must reproduce: the
    * same-user equi-join with the (0, maxGap] range as its condition.
    */
  private def intervalJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r, expr("l.user_id = r.user_id AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 hour"))
      .select(col("l.user_id").as("user_id"), col("l.event_id").as("ev_a"),
        col("r.event_id").as("ev_b"))
  }

  test("intervalJoinBatch equals the naive interval join, incl. boundary pairs") {
    val s = spark
    import s.implicits._
    // exact boundary (gap-inclusive), equal-ts exclusion, bucket-crossing
    // pairs (events in adjacent hour buckets), and the dense same-user case
    // the bucketing exists for
    val rows = Seq(
      Ev("a1", 1, "c", tOff(0), 1.0), Ev("a2", 1, "c", tOff(60), 1.0),   // exactly 1h apart
      Ev("a3", 1, "c", tOff(59), 1.0),  // bucket-crossing: 59min vs 60min
      Ev("a4", 1, "c", tOff(61), 1.0),
      Ev("a5", 2, "c", tOff(10), 1.0), Ev("a6", 2, "c", tOff(10), 1.0),  // equal ts
      Ev("a7", 3, "c", tOff(300), 1.0)) ++
      (0 until 40).map(i => Ev(s"d$i", 4, "c", tOff(i * 2L), 1.0))
    def key(df: DataFrame) = df.collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2))).toSet
    val naive = key(intervalJoin(rows.toDF(), rows.toDF()))
    val bucketed = key(EventStream.intervalJoinBatch(rows.toDF(), rows.toDF()))
    assert(bucketed === naive)
    assert(bucketed.contains((1L, "a1", "a2")), "gap boundary is inclusive")
    assert(!bucketed.exists(p => p._2 == "a5" && p._3 == "a6"), "equal ts excluded")
  }
}
