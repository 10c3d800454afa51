package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The KMV sketch's insert, merge and estimator, driven through a direct
  * count aggregate (below); the state and merge faces must fold to the
  * same count.
  */
class DistinctSketchSpec extends SparkSpec {

  private val s = spark
  import s.implicits._

  private def hashedDf(values: Seq[Long], parts: Int) =
    values.toDF("v").repartition(parts)
      .select(DistinctSketch.hashed(col("v")).as("h"))

  test("below k the sketch count is EXACT, duplicates ignored") {
    val values = (1L to 3000L) ++ (1L to 3000L) ++ (1L to 50L)
    val agg = udaf(new DistinctSketchSpec.KmvCountAgg(4096))
    val got = hashedDf(values, 8).agg(agg(col("h"))).head().getLong(0)
    assert(got === 3000L)
  }

  test("above k the estimator lands within 5% (k=1024, 50k distinct)") {
    val agg = udaf(new DistinctSketchSpec.KmvCountAgg(1024))
    val got = hashedDf((1L to 50000L), 8).agg(agg(col("h"))).head().getLong(0)
    assert(math.abs(got - 50000L) <= 2500L, s"estimate $got drifted >5%")
  }

  test("KMV state is merge-order independent: any partitioning, same answer") {
    val values = (1L to 20000L).map(i => i % 7919) // heavy duplicates
    val agg = udaf(new DistinctSketchSpec.KmvCountAgg(1024))
    val answers = Seq(1, 4, 32).map { p =>
      hashedDf(values, p).agg(agg(col("h"))).head().getLong(0)
    }
    assert(answers.distinct.size === 1,
      s"estimates must be identical across partitionings, got $answers")
  }

  test("persisted states fold to the same count as aggregating directly") {
    val values = (1L to 9000L)
    val df = values.toDF("v")
      .select(col("v"), DistinctSketch.hashed(col("v")).as("h"))
    val state = udaf(new DistinctSketch.KmvStateAgg(4096))
    val batches = Seq(
      df.filter(col("v") % 3 === 0), // overlapping slices on purpose
      df.filter(col("v") % 3 =!= 0),
      df.filter(col("v") < 1000))
      .map(_.agg(state(col("h")).as("st")))
    val fold = udaf(new DistinctSketch.KmvMergeAgg(4096))
    val merged = batches.reduce(_ unionByName _)
      .agg(fold(col("st"))).head().getLong(0)
    val direct = udaf(new DistinctSketchSpec.KmvCountAgg(4096))
    val whole = df.agg(direct(col("h"))).head().getLong(0)
    assert(merged === whole,
      "identical KMV state must yield identical counts however it was folded")
    assert(math.abs(merged - 9000L) <= 450L,
      s"9000 distinct at k=4096 estimates within 5%, got $merged")
  }

  test("empty input counts zero") {
    val agg = udaf(new DistinctSketchSpec.KmvCountAgg(64))
    val got = hashedDf(Seq.empty[Long], 2).agg(agg(col("h"))).head().getLong(0)
    assert(got === 0L)
  }
}

object DistinctSketchSpec {
  import DistinctSketch._

  /** count(distinct hashed-col) in one aggregate: the count the persisted
    * state, folded by `KmvMergeAgg`, must reproduce.
    */
  final class KmvCountAgg(k: Int) extends Aggregator[Long, KmvBuf, Long] {
    override def zero: KmvBuf = emptyBuf(k)
    override def reduce(b: KmvBuf, v: Long): KmvBuf = { insert(b, v, k); b }
    override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = mergeInto(a, b, k)
    override def finish(b: KmvBuf): Long = estimate(b, k)
    override def bufferEncoder: Encoder[KmvBuf] = Encoders.kryo[KmvBuf]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
