package graft.sources

import graft.SparkSpec
import graft.operators.{DistinctSketch, ViewMaintenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round's maintenance pieces composed end to end: a rollup view
  * (count, sum, min, distinct buyers) maintained INCREMENTALLY over
  * successive VersionedLake append commits — each refresh reads ONLY the
  * new commit's delta frame plus the prior view state, never the full
  * snapshot — and stays equal to a from-scratch recompute of whatever
  * the lake currently publishes. This is the 100 TB refresh contract:
  * O(groups + delta) per commit against an O(table) rebuild.
  */
class IncrementalViewSpec extends SparkSpec {

  private val s = spark
  import s.implicits._

  private def batch(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"g${i % 3}", i * 1.5, (i % 37).toLong))
      .toDF("id", "g", "amount", "buyer")

  private def state(df: DataFrame): DataFrame = {
    val kmv = udaf(new DistinctSketch.KmvStateAgg(1024))
    df.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum(col("amount")).as("total"),
      min(col("id")).as("first_id"),
      kmv(DistinctSketch.hashed(col("buyer"))).as("buyers_st"))
  }

  private def render(view: DataFrame): Map[String, (Long, Double, Long, Long)] = {
    val fold = udaf(new DistinctSketch.KmvMergeAgg(1024))
    ViewMaintenance.merge(Seq(view), Seq("g"),
      Seq("n" -> "sum", "total" -> "sum", "first_id" -> "min"))
      .join(
        view.groupBy("g").agg(fold(col("buyers_st")).as("buyers")), Seq("g"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
  }

  test("rollup maintained per append commit == recompute of the live snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("vlake_iv").toString
    val batches = Seq(batch(0 until 200), batch(200 until 260), batch(260 until 500))
    // the maintained view: per-batch state frames accumulated by union —
    // ViewMaintenance.merge + KmvMergeAgg collapse them at read time
    var viewParts: Seq[DataFrame] = Nil
    batches.foreach { b =>
      VersionedLake.appendCommit(b, dir)
      viewParts = viewParts :+ state(b) // reads ONLY the delta
      val maintained = render(viewParts.reduce(_ unionByName _))
      val recomputed = render(state(VersionedLake.read(s, dir)))
      assert(maintained === recomputed,
        s"view drifted from snapshot recompute after ${viewParts.size} commits")
    }
    // the distinct column really deduplicates across commits: buyer ids
    // repeat in every batch (i % 37), so the fold must not sum counts
    val buyers = render(viewParts.reduce(_ unionByName _)).values.map(_._4)
    assert(buyers.forall(_ <= 37L), s"cross-commit distinct must dedupe, got $buyers")
  }

  test("joinDelta: fact-join-dim view refresh reads delta + dim + state, NEVER the base fact") {
    val tmp = java.nio.file.Files.createTempDirectory("vlake_jd").toString
    def fact(ids: Range): DataFrame =
      ids.map(i => (i.toLong, (i % 11).toLong, i * 2.5)).toDF("id", "custkey", "amount")
    val dim = (0L until 11L).map(c => (c, s"seg${c % 3}")).toDF("custkey", "segment")
    val aggs = Seq(count(lit(1)).as("n"), sum(col("amount")).as("total"))
    val stateOps = Seq("n" -> "sum", "total" -> "sum")
    def stateOf(f: DataFrame): DataFrame =
      f.join(broadcast(dim), Seq("custkey")).groupBy("segment")
        .agg(aggs.head, aggs.tail: _*)

    fact(0 until 400).write.parquet(s"$tmp/fact")
    val base = s.read.parquet(s"$tmp/fact")
    stateOf(base).write.parquet(s"$tmp/state")

    val delta = fact(400 until 450)
    val refresh = ViewMaintenance.joinDelta(
      s.read.parquet(s"$tmp/state"), delta, broadcast(dim),
      joinKeys = Seq("custkey"), groupKeys = Seq("segment"),
      aggs = aggs, state = stateOps)

    // parity: maintained state == recompute over base ∪ delta
    val recomputed = stateOf(base.unionByName(delta))
    val got = refresh.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = recomputed.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want, "joinDelta refresh drifted from full recompute")

    // the O(delta) contract, pinned on the plan's relations (logical
    // side — AQE hides physical scans until stages finalize): the
    // refresh reads the state parquet only — the base fact never
    // appears (the whole point of delta-join maintenance)
    val scanned = refresh.queryExecution.optimizedPlan
      .collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }
      .flatten
    assert(scanned.exists(_.contains("/state")), s"expected the state scan, saw $scanned")
    assert(!scanned.exists(_.contains("/fact")),
      s"refresh plan must not rescan the base fact table, saw $scanned")
  }

  test("a maintained view survives a commit the reader has not seen (lag tolerance)") {
    val dir = java.nio.file.Files.createTempDirectory("vlake_iv2").toString
    val ver1 = VersionedLake.appendCommit(batch(0 until 100), dir)
    val v1 = render(Seq(state(batch(0 until 100))).reduce(_ unionByName _))
    // a second writer commits; the v1 view still matches ITS version exactly
    VersionedLake.appendCommit(batch(100 until 150), dir)
    val snapV1 = render(state(VersionedLake.readVersion(s, dir, ver1)))
    assert(v1 === snapV1, "time-travel parity: view state is a snapshot of ITS version")
  }
}
