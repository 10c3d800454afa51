package graft.sources

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties of the two manifest pruners: a directory that
  * holds a row matching the filter ([[VersionedLake.pruneDirsForFilters]])
  * or one of the batch's keys ([[VersionedLake.pruneCandidates]]) is
  * always kept. One seven-directory table per column type, with stats on
  * `c`: values chosen where a string comparison of the stored bounds goes
  * wrong ("9" < "10", UTF-16 against UTF-8 order, NaN, ±Infinity, -0.0),
  * an all-null directory, a single-valued one and one spanning the range.
  * Which directories match is Spark's own evaluation of the filter.
  */
class StatsBoundsSpec extends SparkSpec {

  private def check(p: Prop, n: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  /** A column type, its values in ascending Spark order (as the external
    * values Spark pushes in filters), and a generator of further values.
    */
  private final case class Domain(name: String, dt: DataType, pool: IndexedSeq[Any], more: Gen[Any])

  private def date(s: String): Any = java.sql.Date.valueOf(s)
  private def dec(s: String): Any = new java.math.BigDecimal(s)

  private val domains = Seq(
    Domain("int", IntegerType,
      IndexedSeq(Int.MinValue, -1000, -7, -1, 0, 1, 2, 9, 10, 99, 100, 1000, Int.MaxValue),
      Gen.choose(-2000, 2000).map(i => i: Any)),
    Domain("bigint", LongType,
      IndexedSeq(Long.MinValue, -(1L << 53) - 1, -5L, 0L, 3L, 9L, 10L, (1L << 53) + 1,
        1L << 62, Long.MaxValue),
      Gen.choose(-100L, 100L).map(l => l: Any)),
    Domain("double", DoubleType,
      IndexedSeq(Double.NegativeInfinity, -1e300, -2.5, -0.0, 0.0, Double.MinPositiveValue,
        1.5, 9.0, 10.0, 1e300, Double.PositiveInfinity, Double.NaN),
      Gen.oneOf(Gen.choose(-20.0, 20.0), Gen.const(-0.0), Gen.const(Double.NaN))
        .map(d => d: Any)),
    Domain("decimal", DecimalType(12, 2),
      IndexedSeq("-99999.99", "-1.50", "0.00", "0.01", "9.90", "10.00", "100.25",
        "9999999999.99").map(dec),
      Gen.choose(-20000L, 20000L).map(c => java.math.BigDecimal.valueOf(c, 2): Any)),
    Domain("string", StringType,
      // UTF-8 byte order: U+E000 sorts after U+4E2D and before U+1F600,
      // whose UTF-16 surrogate pair would sort below both
      IndexedSeq("", "A", "Z", "a", "ab", "b", "z", "\u00e9", "\u4e2d", "\ue000",
        "\ud83d\ude00"),
      Gen.listOfN(2, Gen.oneOf("a", "b", "z", "\u00e9", "\ue000", "\ud83d\ude00"))
        .map(_.mkString: Any)),
    Domain("date", DateType,
      IndexedSeq("1900-01-01", "1969-12-31", "1970-01-01", "2000-02-29", "2024-01-01",
        "2024-03-01", "2024-06-01", "2099-12-31").map(date),
      Gen.choose(-30000L, 60000L).map(d =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)): Any)))

  /** Per directory, indices into the pool (-1 = null). */
  private def layout(n: Int): Seq[Seq[Int]] = Seq(
    Seq(0, 1, -1), Seq(2, 3, 4), Seq(4, 4), Seq(5, 7, -1), Seq(-1, -1),
    Seq(n - 3, n - 2, n - 1), Seq(1, n - 2))

  private final case class Table(dir: String, v: Long, rows: Map[String, Seq[Any]])

  private val tables = scala.collection.mutable.Map.empty[String, Table]

  /** The domain's table: directory -> its values of `c`, as read back. */
  private def table(dom: Domain): Table = tables.getOrElseUpdate(dom.name, {
    val dir = java.nio.file.Files.createTempDirectory(s"stats_bounds_${dom.name}").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("c", dom.dt)))
    var id = 0L
    layout(dom.pool.size).foreach { idx =>
      val rows = idx.map { i =>
        id += 1
        Row(id, if (i < 0) null else dom.pool(i))
      }
      VersionedLake.appendCommit(spark.createDataFrame(rows.asJava, schema), dir,
        statsCols = Seq("c"))
    }
    val v = VersionedLake.currentVersion(spark, dir).get
    val sch = VersionedLake.versionSchema(spark, dir, v)
    val rows = VersionedLake.manifest(spark, dir, v).map { d =>
      d -> VersionedLake.readDirsWithDeletes(spark, dir, v, Seq(d), sch)
        .select("c").collect().map(_.get(0)).toSeq
    }.toMap
    Table(dir, v, rows)
  })

  private def value(dom: Domain): Gen[Any] =
    Gen.frequency(3 -> Gen.oneOf(dom.pool), 2 -> dom.more)

  private def leaf(dom: Domain): Gen[Filter] = {
    val v = value(dom)
    Gen.oneOf(
      v.map(EqualTo("c", _)),
      Gen.frequency(3 -> v, 1 -> Gen.const(null)).map(EqualNullSafe("c", _)),
      Gen.choose(1, 16).flatMap(Gen.listOfN(_, v)).map(vs => In("c", vs.toArray)),
      Gen.choose(65, 90).flatMap(Gen.listOfN(_, v)).map(vs => In("c", vs.toArray)),
      v.map(GreaterThan("c", _)),
      v.map(GreaterThanOrEqual("c", _)),
      v.map(LessThan("c", _)),
      v.map(LessThanOrEqual("c", _)),
      Gen.const(IsNotNull("c")))
  }

  private def filter(dom: Domain): Gen[Filter] = Gen.frequency(
    3 -> leaf(dom),
    1 -> Gen.zip(leaf(dom), leaf(dom)).map { case (l, r) => And(l, r) },
    1 -> Gen.zip(leaf(dom), leaf(dom)).map { case (l, r) => Or(l, r) })

  /** Directories holding a row that satisfies each filter, by Spark. */
  private def matching(dom: Domain, t: Table, fs: Seq[Filter]): Seq[Set[String]] = {
    val schema = StructType(Seq(StructField("d", StringType), StructField("c", dom.dt)))
    val local = spark.createDataFrame(
      t.rows.toSeq.flatMap { case (d, cs) => cs.map(c => Row(d, c)) }.asJava, schema)
    val hits = fs.map(f => collect_set(when(FilterToColumn(f).get, col("d"))))
    val row = local.agg(hits.head, hits.tail: _*).head()
    fs.indices.map(i => row.getSeq[String](i).toSet)
  }

  domains.foreach { dom =>
    test(s"pruneDirsForFilters keeps every ${dom.name} directory with a matching row") {
      val t = table(dom)
      check(Prop.forAll(Gen.listOfN(24, filter(dom))) { fs =>
        val kept = fs.map(f =>
          VersionedLake.pruneDirsForFilters(spark, t.dir, t.v, Seq(f)).toSet)
        Prop.all(matching(dom, t, fs).zip(kept).zip(fs).map { case ((m, k), f) =>
          Prop(m.subsetOf(k)) :| s"$f holds rows in ${m -- k}, which were pruned"
        }: _*)
      }, 4)
    }
  }

  domains.filter(d => Set("int", "bigint", "string")(d.name)).foreach { dom =>
    test(s"pruneCandidates keeps every ${dom.name} directory holding a batch key") {
      val t = table(dom)
      val schema = StructType(Seq(StructField("c", dom.dt)))
      val batch = Gen.choose(1, 6).flatMap(Gen.listOfN(_,
        Gen.frequency(6 -> value(dom), 1 -> Gen.const(null))))
      check(Prop.forAll(batch) { keys =>
        val keyDf = spark.createDataFrame(keys.map(k => Row(k)).asJava, schema)
        val kept = VersionedLake.pruneCandidates(spark, t.dir, t.v, keyDf, Seq("c")).toSet
        val holding = t.rows.collect {
          case (d, cs) if cs.exists(c => c != null && keys.contains(c)) => d
        }.toSet
        Prop(holding.subsetOf(kept)) :| s"keys $keys are in ${holding -- kept}, which were pruned"
      }, 12)
    }
  }
}
