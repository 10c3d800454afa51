package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale-pattern checks: salted aggregation/join equivalence, and bucketed
  * tables joining WITHOUT a shuffle (the co-located-join contract that
  * matters most at 100 TB — both sides pre-hashed into the same bucket
  * layout, so the join plans with zero Exchange operators).
  */
class SkewAndBucketSpec extends SparkSpec {

  test("saltedAgg == plain aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val salted = Skew.saltedAgg(li, Seq("l_returnflag"), "l_quantity", salts = 8)
      .select(col("l_returnflag"), col("n"), round(col("total"), 2).as("total"))
    val plain = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("total"))
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("bucketed tables join with zero exchanges") {
    val o = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // disable broadcast so the join would need a shuffle WITHOUT bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(2000)}")
      // sanity: same result as the unbucketed join
      assert(joined.count() ===
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
