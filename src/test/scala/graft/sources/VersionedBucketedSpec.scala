package graft.sources

import graft.SparkSpec
import graft.engine.Session
import org.apache.spark.sql.functions._

/** Bucket-aligned versioned lake: exchange-free joins/aggs on the bucket
  * key straight off immutable lake directories, with time travel intact —
  * and an honest fallback (plain shuffled scan, same rows) for versions
  * appends have de-bucketed until OPTIMIZE re-buckets.
  */
class VersionedBucketedSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val dirs: (String, String) = {
    val li = java.nio.file.Files.createTempDirectory("vlake_bkt_li").toString
    val ord = java.nio.file.Files.createTempDirectory("vlake_bkt_ord").toString
    VersionedLake.commit(Session.table(spark, sf, "lineitem"), li)
    VersionedLake.optimizeBucketed(spark, li, "l_orderkey", 4)
    VersionedLake.commit(Session.table(spark, sf, "orders"), ord)
    VersionedLake.optimizeBucketed(spark, ord, "o_orderkey", 4)
    (li, ord)
  }

  test("bucketed lake fact join: sort-merge join with ZERO exchange") {
    val (li, ord) = dirs
    val joined = VersionedLake.readBucketed(spark, li)
      .hint("merge")
      .join(VersionedLake.readBucketed(spark, ord),
        col("l_orderkey") === col("o_orderkey"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"), s"bucket-aligned lake join must not shuffle:\n$plan")
    val want = Session.table(spark, sf, "lineitem")
      .join(Session.table(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(joined.count() === want)
  }

  test("groupBy on the bucket key aggregates with ZERO exchange") {
    val (li, _) = dirs
    val agg = VersionedLake.readBucketed(spark, li)
      .groupBy("l_orderkey").agg(round(sum("l_quantity"), 2).as("q"))
    val plan = planOf(agg)
    assert(!plan.contains("Exchange"), s"bucket-aligned agg must not shuffle:\n$plan")
  }

  test("appends fall back to a plain read; OPTIMIZE re-buckets; BOTH versions time-travel exchange-free") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_bkt_tt").toString
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "payload")
    VersionedLake.commit(base, dir) // v0, plain
    VersionedLake.optimizeBucketed(spark, dir, "k", 4) // v1, bucketed
    VersionedLake.appendCommit(Seq((4L, "d")).toDF("k", "payload"), dir) // v2, mixed
    // mixed version: correct rows through the fallback, no bucketed claim
    val v2 = VersionedLake.readBucketed(spark, dir)
    assert(v2.select("k").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    // re-bucket via the compaction rewrite -> v3 single bucketed dir
    VersionedLake.optimizeBucketed(spark, dir, "k", 4)
    val v3 = VersionedLake.readBucketed(spark, dir)
    val aggPlan = planOf(v3.groupBy("k").agg(count(lit(1)).as("n")))
    assert(!aggPlan.contains("Exchange"), s"re-bucketed snapshot must not shuffle:\n$aggPlan")
    assert(v3.select("k").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    // time travel: v1 keeps its exchange-free shape alongside v3
    val v1 = VersionedLake.readBucketedVersion(spark, dir, 1L)
    val v1Plan = planOf(v1.groupBy("k").agg(count(lit(1)).as("n")))
    assert(!v1Plan.contains("Exchange"), s"retained bucketed version must stay exchange-free:\n$v1Plan")
    assert(v1.select("k").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }
}
