package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The PQ/IVF single-kernel expressions: generated code must actually
  * COMPILE (round 17 shipped ArgMaxDot whose generated call resolved to
  * the case class's inherited eval(InternalRow) — no static forwarder —
  * so janino threw and every stage containing it silently ran
  * interpreted, re-paying the failed compile per execution), and the
  * kernel must stay bit-identical to the expression-tree form it
  * replaced.
  */
class PqExprsSpec extends SparkSpec {

  /** Run `body` with the session conf `settings`, then restore them. */
  private def withConf[A](settings: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prev = settings.map { case (k, _) => k -> conf.getOption(k) }
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Run `body` with whole-stage-codegen fallback disabled and the
    * expression factory pinned to CODEGEN_ONLY: any codegen compile
    * failure THROWS instead of silently degrading to interpreted.
    */
  private def noFallback[A](body: => A): A = withConf(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  /** Run `body` with every codegen path off: the reference result. */
  private def interpreted[A](body: => A): A = withConf(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  private val centroids = Seq(
    Seq(1.0, 0.0, -1.0, 0.5),
    Seq(0.25, 0.25, 0.25, 0.25),
    Seq(-0.5, 2.0, 0.0, 1.0))

  test("ArgMaxDot compiles under CODEGEN_ONLY and matches the expression form") {
    val df = spark.range(500).select(
      col("id"),
      array(col("id").cast("double") / 100.0, lit(1.0),
        col("id").cast("double") % 3.0, lit(-0.5)).as("v"))
    // expression form it replaced: argmax = array_position(array_max)
    // over DotProduct columns, 0-based, FIRST maximal under Double.compare
    val dots = array(centroids.map(w =>
      VectorExprs.dotProduct(col("v"), typedlit(w))): _*)
    val expected = df.select(col("id"),
      (array_position(dots, array_max(dots)) - 1).cast("int").as("cell"))
      .orderBy("id").collect()
    val got = noFallback {
      df.select(col("id"), PqExprs.argMaxDot(col("v"), centroids).as("cell"))
        .orderBy("id").collect()
    }
    assert(got.sameElements(expected))
  }

  test("ArgMaxDot ties pick the FIRST maximal cell; nulls stay null") {
    // cells 0 and 1 are identical, so a positive-dot vector ties between
    // them and must take cell 0; a vector whose max lands on cell 2
    // takes it outright
    val tie = Seq(Seq(1.0, 1.0), Seq(1.0, 1.0), Seq(-9.0, -9.0))
    val df = spark.createDataFrame(Seq(
      (1L, Seq(0.5, 0.25)), (2L, Seq(-1.0, 0.0)))).toDF("id", "v")
      .unionByName(spark.createDataFrame(Seq(Tuple1(3L))).toDF("id")
        .withColumn("v", lit(null).cast("array<double>")))
    val rows = noFallback {
      df.select(col("id"), PqExprs.argMaxDot(col("v"), tie).as("c"))
        .orderBy("id").collect()
    }
    assert(rows.map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq == Seq(0, 2, -1))
  }

  test("ArgMaxDot refuses jagged or empty centroid lists at construction") {
    intercept[IllegalArgumentException] {
      PqExprs.argMaxDot(lit(Array(1.0)), Seq(Seq(1.0, 2.0), Seq(3.0)))
    }
    intercept[IllegalArgumentException] {
      PqExprs.argMaxDot(lit(Array(1.0)), Seq.empty)
    }
  }

  test("PqEncode compiles under CODEGEN_ONLY") {
    val b = graft.operators.Pq.seededBooks(8)
    val df = spark.range(200).select(
      array((0 until 8).map(i =>
        (col("id") * (i + 1)).cast("double") / 50.0): _*).as("v"))
    val n = noFallback {
      df.select(PqExprs.pqCodes(col("v"), b).as("codes"))
        .filter(size(col("codes")) === b.m).count()
    }
    assert(n == 200)
  }

  /** Each kernel GraftExtensions registers, called from SQL on inputs
    * derived from `id` (so the optimizer cannot fold them into a
    * literal), every 11th one null: its generated code must compile and
    * agree with the kernel's interpreted eval.
    */
  private def orNull(e: String) = s"IF(id % 11 = 0, NULL, $e)"
  private val text = orNull("concat_ws(' ', 'The', cast(id % 3 AS string), 'quick', " +
    "cast(id % 5 AS string), 'fox jumps over the', cast(id % 7 AS string), 'lazy dog')")
  private val kernels = Seq(
    "dot_product" ->
      s"dot_product(${orNull("array(id * 0.5d, 2.0d, -1.0d)")}, array(3.0d, id * 0.25d, 1.0d))",
    "bitmap_and_count" ->
      s"bitmap_and_count(${orNull("array(id, 7L, id * 3)")}, array(id * 5, 5L, -1L))",
    "word_shingles" -> s"word_shingles($text, 2)",
    "word_shingles_all" -> s"word_shingles_all($text, 3)",
    "word_tokens" -> s"word_tokens($text)",
    "winnow_fingerprints" -> s"winnow_fingerprints($text, 8, 4)",
    "nfc_normalize" ->
      s"nfc_normalize(${orNull("concat('e', '\\u0301', cast(id AS string), '\\u212b')")})")

  for ((name, call) <- kernels) {
    test(s"$name compiles under CODEGEN_ONLY and matches interpreted eval") {
      def run() = spark.range(40).selectExpr("id", s"$call AS k").orderBy("id").collect().toSeq
      val got = noFallback(run())
      assert(got.size === 40 && got.exists(!_.isNullAt(1)))
      assert(got === interpreted(run()))
    }
  }
}
