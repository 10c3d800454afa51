package graft.etl

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.etl.FfiExtract.IngestId
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties: the driver operators over local tables
  * ([[FfiCatalog]]) return the rows and schema (name:type) of Spark's own
  * left join, `row_number` window and `distinct` on random small frames,
  * with null keys, duplicate keys, empty sides and order ties that only
  * the ingest id breaks.
  */
class FfiCatalogSpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), p)
    assert(r.passed, r.status.toString)
  }

  /** Three values and null: keys repeat, orders tie, keys go null. */
  private val value: Gen[String] =
    Gen.frequency(1 -> Gen.const(null), 4 -> Gen.oneOf("a", "b", "c"))

  /** A local table of 0-8 rows: string columns `names`, then unique
    * ingest ids in random order (as extraction numbers rows).
    */
  private def frame(names: String*): Gen[DataFrame] = for {
    n <- Gen.choose(0, 8)
    cells <- Gen.listOfN(n, Gen.listOfN(names.length, value))
    draws <- Gen.listOfN(n, Gen.choose(0L, 999L))
  } yield {
    val schema = StructType(names.map(StructField(_, StringType)) :+
      StructField(IngestId, LongType, nullable = false))
    val rows = cells.zip(draws.zipWithIndex).map { case (cs, (d, i)) =>
      Row.fromSeq(cs :+ (d * 10 + i))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def content(df: DataFrame): (Seq[String], Seq[String]) =
    (df.schema.map(f => s"${f.name}:${f.dataType.simpleString}"),
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted)

  private def same(ours: DataFrame, sparks: DataFrame): Prop = {
    val (a, b) = (content(ours), content(sparks))
    Prop(a == b) :| s"driver $a != Spark $b"
  }

  private def numbered(df: DataFrame, keys: Seq[String], order: Column*): DataFrame =
    df.withColumn("rn", row_number().over(
      Window.partitionBy(keys.map(col): _*).orderBy(order :+ col(IngestId): _*)))

  test("leftJoin returns Spark's left equi-join") {
    check(Prop.forAll(frame("k", "v"), frame("rk", "rv")) { (l, r) =>
      same(FfiCatalog.leftJoin(l, (r, "k", "rk")), l.join(r, col("k") === col("rk"), "left"))
    })
  }

  test("rowNumber returns Spark's row_number over the same window") {
    check(Prop.forAll(frame("k", "v")) { df =>
      same(FfiCatalog.rowNumber(df, Seq("k"), "rn", col("v")), numbered(df, Seq("k"), col("v"))) &&
        same(FfiCatalog.rowNumber(df, Seq("k", "v"), "rn"), numbered(df, Seq("k", "v")))
    })
  }

  test("keepFirst returns Spark's row_number() = 1 rows, nulls-last order included") {
    check(Prop.forAll(frame("k", "v")) { df =>
      def first(order: Column) =
        numbered(df, Seq("k"), order).filter(col("rn") === 1).drop("rn")
      same(FfiCatalog.keepFirst(df, Seq("k"), col("v")), first(col("v"))) &&
        same(FfiCatalog.keepFirst(df, Seq("k"), col("v").asc_nulls_last),
          first(col("v").asc_nulls_last))
    })
  }

  test("distinct returns Spark's distinct") {
    check(Prop.forAll(frame("k", "v")) { df =>
      val kv = df.select("k", "v")
      same(FfiCatalog.distinct(kv), kv.distinct())
    })
  }

  test("the operators run no Spark job") {
    val Seq(l, r) = Seq(frame("k", "v"), frame("rk", "rv")).map(_.sample.get)
    val (_, log) = graft.Bench.logged(spark) {
      // one ingest id per row, as every table of an export has
      val joined = FfiCatalog.leftJoin(l, (r.drop(IngestId), "k", "rk"))
      val kept = FfiCatalog.keepFirst(FfiCatalog.rowNumber(joined, Seq("k"), "rn", col("v")),
        Seq("rk"), col("rv").asc_nulls_last)
      FfiCatalog.rows(FfiCatalog.distinct(kept.select("k", "v")))
    }
    assert(log.jobs.isEmpty)
  }
}
