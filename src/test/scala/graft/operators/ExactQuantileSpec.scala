package graft.operators

import graft.SparkSpec

/** ExactQuantile must reproduce rank-ceil(q*n) selection (DuckDB
  * quantile_disc semantics) exactly. collectAt is forced low so the
  * histogram-bisection rounds actually run (not just the collect path).
  */
class ExactQuantileSpec extends SparkSpec {

  private def sparkQ(vals: Seq[Double], q: Double): Double = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Tuple1(_)), 5)).toDF("v")
    ExactQuantile.quantileDisc(df, "v", q, collectAt = 64L)
  }

  private def refQ(vals: Seq[Double], q: Double): Double = {
    val sorted = vals.sorted
    val k = math.ceil(q * sorted.size - 1e-9).toLong.max(1L)
    sorted(k.toInt - 1)
  }

  test("random data matches rank selection for several q") {
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(5000)(rnd.nextDouble() * 1000 - 500)
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
      assert(sparkQ(vals, q) === refQ(vals, q), s"q=$q")
  }

  test("heavy duplicates") {
    val vals = Seq.fill(2000)(5.0) ++ Seq.fill(999)(1.0) ++ Seq.fill(1000)(9.0)
    assert(sparkQ(vals, 0.5) === 5.0)
    assert(sparkQ(vals, 0.1) === 1.0)
    assert(sparkQ(vals, 0.99) === 9.0)
  }

  test("small inputs and exact-integral ranks") {
    assert(sparkQ(Seq(10.0), 0.5) === 10.0)
    assert(sparkQ(Seq(1.0, 2.0, 3.0, 4.0), 0.5) === 2.0) // ceil(2.0) = 2, not 3
    assert(sparkQ(Seq(1.0, 2.0, 3.0, 4.0), 0.25) === 1.0)
    assert(sparkQ(Seq(1.0, 2.0, 3.0, 4.0), 0.9) === 4.0)
  }

  test("nulls are ignored") {
    val s = spark
    import s.implicits._
    val df = Seq[java.lang.Double](1.0, null, 3.0, null, 2.0).toDF("v")
    assert(ExactQuantile.quantileDisc(df, "v", 0.5) === 2.0)
  }

  test("per-group bisection matches per-group rank selection, forced multi-round") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // three groups with very different sizes, ranges and duplicate mass
    val rows =
      Seq.fill(4000)(("a", rnd.nextDouble() * 100)) ++
        Seq.fill(900)(("b", rnd.nextGaussian() * 5 + 50)) ++
        (Seq.fill(300)(("c", 7.0)) ++ Seq.fill(200)(("c", rnd.nextDouble())))
    val df = s.sparkContext.parallelize(rows, 7).toDF("g", "v")
    for (q <- Seq(0.05, 0.5, 0.95)) {
      val got = ExactQuantile.quantilesDiscByGroup(df, "g", "v", Seq(q), collectAt = 32L)
        .map { case ((g, _), v) => g -> v }
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val k = math.ceil(q * sorted.size - 1e-9).toLong.max(1L)
        g -> sorted(k.toInt - 1)
      }
      assert(got === want, s"q=$q")
    }
  }

  test("tail collect is chunked under tailBudget when many pairs finish at once") {
    val s = spark
    import s.implicits._
    // 24 groups × 12 rows, collectAt = 16 → every (group, q) pair
    // finishes in round one. Unchunked, the single tail pass would pull
    // 24 × 12 = 288 rows; with tailBudget = 60 each round's collect must
    // stay ≤ 60 while the answers remain exact.
    val rows = for (g <- 0 until 24; i <- 0 until 12)
      yield (s"g$g", g * 100.0 + i)
    val df = s.sparkContext.parallelize(rows, 4).toDF("g", "v")
    val got = ExactQuantile.quantilesDiscByGroup(
      df, "g", "v", Seq(0.5), collectAt = 16L, tailBudget = 60L)
    assert(got.size === 24)
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      assert(got((g, 0.5)) === sorted(math.ceil(0.5 * sorted.size).toInt - 1), g)
    }
    assert(ExactQuantile.lastMaxTailCollect <= 60L,
      s"one tail round collected ${ExactQuantile.lastMaxTailCollect} rows, budget 60")
    assert(ExactQuantile.lastMaxTailCollect > 0L)
  }

  test("a single pair larger than tailBudget still makes progress") {
    val s = spark
    import s.implicits._
    // one group of 40 rows, collectAt = 64 (immediate finish), budget 8:
    // the pair exceeds the budget alone — it must still be taken (exactly
    // one per round) rather than deferring forever.
    val rows = (0 until 40).map(i => ("only", i.toDouble))
    val df = s.sparkContext.parallelize(rows, 3).toDF("g", "v")
    val got = ExactQuantile.quantilesDiscByGroup(
      df, "g", "v", Seq(0.25, 0.75), collectAt = 64L, tailBudget = 8L)
    assert(got(("only", 0.25)) === 9.0) // rank ceil(0.25·40)=10 → sorted(9)
    assert(got(("only", 0.75)) === 29.0) // rank 30 → sorted(29)
  }

  test("per-group bisection equals q_winsorize's window-rank boundaries on real data") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val byVal = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val all = Window.partitionBy("o_orderstatus")
    val windowBounds = o
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(all))
      .groupBy("o_orderstatus")
      .agg(max(when(col("rn") === ceil(round(col("n") * 0.95, 9)), col("o_totalprice"))).as("hi"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bisected = ExactQuantile.quantilesDiscByGroup(o, "o_orderstatus", "o_totalprice", Seq(0.95))
      .map { case ((g, _), v) => g -> v }
    assert(bisected === windowBounds,
      "histogram bisection must reproduce the window-rank boundary exactly")
  }
}
