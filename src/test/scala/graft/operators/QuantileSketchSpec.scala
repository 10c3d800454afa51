package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The exact window-rank selection must reproduce rank-ceil(q·n)
  * selection bit-exactly.
  */
class QuantileSketchSpec extends SparkSpec {

  private def refQ(vals: Seq[Double], q: Double): Double = {
    val sorted = vals.sorted
    sorted(math.ceil(q * sorted.size - 1e-9).toLong.max(1L).toInt - 1)
  }

  test("exact face matches per-key rank selection") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val rows = for (g <- 0 until 40; _ <- 0 until (g % 7) + 1)
      yield (s"k$g", rnd.nextDouble() * 1000)
    val df = s.sparkContext.parallelize(rows, 6).toDF("g", "v")
    val got = QuantileSketch.quantilesByKeyExact(df, "g", "v", Seq(0.25, 0.5, 1.0))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val v = vs.map(_._2)
      assert(got(g) === ((refQ(v, 0.25), refQ(v, 0.5), refQ(v, 1.0))), g)
    }
  }

  test("exact face ignores nulls and handles single-row keys") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", java.lang.Double.valueOf(5.0)), ("a", null),
      ("b", java.lang.Double.valueOf(7.0))).toDF("g", "v")
    val got = QuantileSketch.quantilesByKeyExact(df, "g", "v", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("a" -> 5.0, "b" -> 7.0))
  }

  test("colName renders quantiles unambiguously") {
    assert(QuantileSketch.colName(0.25) === "p25")
    assert(QuantileSketch.colName(0.5) === "p50")
    assert(QuantileSketch.colName(0.975) === "p97_5")
    assert(QuantileSketch.colName(1.0) === "p100")
  }
}
