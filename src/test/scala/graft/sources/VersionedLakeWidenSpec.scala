package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

/** Metadata-only type widening: one manifest commit, no file rewrites,
  * old versions keep their own types, skipping layers stay conservative.
  */
class VersionedLakeWidenSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("INT->BIGINT is one manifest commit; files read promoted; time travel keeps INT") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_int")
    VersionedLake.appendCommit(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    VersionedLake.appendCommit(Seq((3, "c")).toDF("k", "v"), dir)
    val dirsBefore = VersionedLake.manifest(s, dir, 1L)
    val v = VersionedLake.widenColumn(s, dir, "k", LongType)
    assert(v === 2L)
    // metadata-only: same data directories, no rewrite
    assert(VersionedLake.manifest(s, dir, v) === dirsBefore)
    val df = VersionedLake.read(s, dir)
    assert(df.schema("k").dataType === LongType)
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // the pre-widen version still reads with its own committed type
    val old = VersionedLake.readVersion(s, dir, 1L)
    assert(old.schema("k").dataType === IntegerType)
    assert(old.orderBy("k").collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }

  test("appends after widening: the widened type lands; the narrow type refuses loudly") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_app")
    VersionedLake.appendCommit(Seq((1, "a")).toDF("k", "v"), dir)
    VersionedLake.widenColumn(s, dir, "k", LongType)
    VersionedLake.appendCommit(Seq((9L, "z")).toDF("k", "v"), dir)
    assert(VersionedLake.read(s, dir).orderBy("k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 9L))
    val e = intercept[IllegalArgumentException](
      VersionedLake.appendCommit(Seq((5, "n")).toDF("k", "v"), dir))
    assert(e.getMessage.contains("cast before committing"),
      "a narrow-typed batch must be refused, not silently coerced")
  }

  test("stats-pruned point read stays correct across INT->BIGINT (exact string domain)") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_stats")
    VersionedLake.appendCommit(
      (0 until 100).map(i => (i, s"v$i")).toDF("k", "v"), dir, statsCols = Seq("k"))
    VersionedLake.appendCommit(
      (100 until 200).map(i => (i, s"v$i")).toDF("k", "v"), dir, statsCols = Seq("k"))
    VersionedLake.widenColumn(s, dir, "k", LongType)
    // stats carried: the range read still prunes and still answers right
    val range = Seq(GreaterThanOrEqual("k", 150L), LessThanOrEqual("k", 155L))
    val dirs = VersionedLake.manifest(s, dir, VersionedLake.currentVersion(s, dir).get)
    assert(ManifestPruning.kept(s, dir, range: _*) === Seq(dirs(1)))
    val got = ManifestPruning.read(s, dir, col("k").between(150L, 155L), range: _*)
      .orderBy("k").collect().map(_.getLong(0))
    assert(got.toSeq === (150L to 155L))
  }

  test("FLOAT->DOUBLE drops the column's stats lines (float renders re-parse unsafely)") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_f")
    VersionedLake.appendCommit(
      Seq((1, 0.1f), (2, 0.5f)).toDF("k", "x"), dir, statsCols = Seq("k", "x"))
    VersionedLake.widenColumn(s, dir, "x", DoubleType)
    val cur = VersionedLake.currentVersion(s, dir).get
    val stats = VersionedLake.dirStats(s, dir, cur)
    assert(stats.values.forall(cols => !cols.contains("x")),
      "float-domain stats must drop on widening, not compare in the wrong domain")
    assert(stats.values.forall(_.contains("k")), "other columns' stats carry")
    val df = VersionedLake.read(s, dir)
    assert(df.schema("x").dataType === DoubleType)
    // promoted values are the floats' exact doubles
    assert(df.filter(col("k") === 2).head().getDouble(1) === 0.5d)
  }

  test("widening drops the column's bloom entries, keeps the others") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_bloom")
    VersionedLake.appendCommit(
      (0 until 50).map(i => (i, i.toLong * 10)).toDF("a", "b"), dir,
      bloom = Some(VersionedLake.BloomConfig(Seq("a", "b"), bits = 1 << 12)))
    VersionedLake.widenColumn(s, dir, "a", LongType)
    val cur = VersionedLake.currentVersion(s, dir).get
    val blooms = VersionedLake.dirBlooms(s, dir, cur)
    assert(blooms.values.forall(cols => !cols.contains("a")),
      "a bloom built on INT hashes cannot serve BIGINT probes")
    assert(blooms.values.forall(_.contains("b")), "other columns' blooms carry")
  }

  test("refusals: narrowing, non-numeric, partition column, MoR delete key") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_no")
    VersionedLake.appendCommit(
      Seq((1L, 1, "a")).toDF("k", "n", "p"), dir, parts = Seq("p"))
    intercept[IllegalArgumentException](
      VersionedLake.widenColumn(s, dir, "k", IntegerType)) // narrowing
    intercept[IllegalArgumentException](
      VersionedLake.widenColumn(s, dir, "p", LongType)) // partition col (string anyway)
    VersionedLake.deleteKeysMor(s, dir, Seq(1).toDF("n"), Seq("n"))
    val e = intercept[IllegalArgumentException](
      VersionedLake.widenColumn(s, dir, "n", LongType))
    assert(e.getMessage.contains("materializeDeletes"))
  }

  test("DECIMAL(p,s) grows precision and scale metadata-only, values exact") {
    val s = spark
    val dir = tmp("widen_dec")
    val df = s.sql("SELECT CAST(id AS BIGINT) AS k, " +
      "CAST(id * 1.5 AS DECIMAL(10,2)) AS price FROM range(1, 4)")
    VersionedLake.appendCommit(df, dir)
    val dirsBefore = VersionedLake.manifest(s, dir, 0L)
    // precision growth, same scale
    VersionedLake.widenColumn(s, dir, "price", DecimalType(14, 2))
    // then scale growth with matching capacity growth (a pure rescale),
    // crossing the int64/binary physical boundary at precision 18
    VersionedLake.widenColumn(s, dir, "price", DecimalType(22, 6))
    assert(VersionedLake.manifest(s, dir,
      VersionedLake.currentVersion(s, dir).get) === dirsBefore, "no rewrite")
    val got = VersionedLake.read(s, dir).orderBy("k").collect()
      .map(r => r.getDecimal(1).toPlainString)
    assert(got.toSeq === Seq("1.500000", "3.000000", "4.500000"),
      "stored DECIMAL(10,2) values rescale exactly under (22,6)")
    // capacity-shrinking growth refuses: DECIMAL(10,2)->(10,4) loses
    // integer digits, a value-changing cast
    val dir2 = tmp("widen_dec_no")
    VersionedLake.appendCommit(df, dir2)
    intercept[IllegalArgumentException](
      VersionedLake.widenColumn(s, dir2, "price", DecimalType(10, 4)))
  }

  test("DATE -> TIMESTAMP_NTZ is metadata-only; INT -> DOUBLE exact; BIGINT -> DOUBLE refuses") {
    val s = spark
    val dir = tmp("widen_dt")
    VersionedLake.appendCommit(
      s.sql("SELECT CAST(id AS INT) AS n, CAST(id AS BIGINT) AS big, " +
        "DATE_ADD(DATE'2021-03-04', CAST(id AS INT)) AS d FROM range(0, 3)"), dir)
    VersionedLake.widenColumn(s, dir, "d", TimestampNTZType)
    VersionedLake.widenColumn(s, dir, "n", DoubleType)
    val got = VersionedLake.read(s, dir).orderBy("big").collect()
    assert(got.map(_.getDouble(0)).toSeq === Seq(0.0, 1.0, 2.0))
    assert(got.map(_.get(2).toString).toSeq === Seq(
      "2021-03-04T00:00", "2021-03-05T00:00", "2021-03-06T00:00"),
      "stored DATEs read as midnight TIMESTAMP_NTZ")
    // BIGINT -> DOUBLE is lossy above 2^53: refused
    intercept[IllegalArgumentException](
      VersionedLake.widenColumn(s, dir, "big", DoubleType))
  }

  test("a hive-PARTITION column widens metadata-only; filters still prune by value") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_part")
    VersionedLake.appendCommit(
      Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "k", "v"), dir, parts = Seq("k"))
    VersionedLake.appendCommit(
      Seq((3L, 30, "c")).toDF("id", "k", "v"), dir, parts = Seq("k"))
    val dirsBefore = VersionedLake.manifest(s, dir, 1L)
    VersionedLake.widenColumn(s, dir, "k", LongType)
    assert(VersionedLake.manifest(s, dir, 2L) === dirsBefore, "no rewrite")
    val df = VersionedLake.read(s, dir)
    assert(df.schema("k").dataType === LongType)
    val q = df.filter(col("k") === 20L)
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(2L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(k") ||
      plan.contains("PartitionFilters: [(k"),
      s"dir-name values must keep pruning under the widened type:\n$plan")
    // FLOAT partition columns refuse: their renders re-parse inexactly
    val dirF = tmp("widen_partf")
    VersionedLake.appendCommit(
      s.sql("SELECT id, CAST(id AS FLOAT) AS f FROM range(0, 2)"), dirF,
      parts = Seq("f"))
    val e = intercept[IllegalArgumentException](
      VersionedLake.widenColumn(s, dirF, "f", DoubleType))
    assert(e.getMessage.contains("FLOAT hive-partition"))
  }

  test("a DECIMAL hive-PARTITION column widens metadata-only; dir renders re-bind exactly") {
    val s = spark
    val root = tmp("widen_partdec")
    val dir = s"$root/t"
    // two specs on disk: dirs rendered under DECIMAL(10,2) ("p=1.50")
    // and, post-widen, a new dir rendered under DECIMAL(22,6)
    // ("p=1.500000") — the same logical value in two spellings
    VersionedLake.appendCommit(
      s.sql("SELECT id, CAST(id * 1.5 AS DECIMAL(10,2)) AS p FROM range(1, 4)"),
      dir, parts = Seq("p"))
    val dirsBefore = VersionedLake.manifest(s, dir, 0L)
    VersionedLake.widenColumn(s, dir, "p", DecimalType(22, 6))
    assert(VersionedLake.manifest(s, dir, 1L) === dirsBefore, "no rewrite")
    VersionedLake.appendCommit(
      s.sql("SELECT id, CAST(id * 1.5 AS DECIMAL(22,6)) AS p FROM range(4, 6)"),
      dir, parts = Seq("p"))
    val df = VersionedLake.read(s, dir)
    assert(df.schema("p").dataType === DecimalType(22, 6))
    assert(df.select("p").collect().map(_.getDecimal(0).toPlainString).sorted.toSeq ===
      Seq("1.500000", "3.000000", "4.500000", "6.000000", "7.500000"),
      "old dirs' narrow renders re-parse exactly under the widened type")
    // point filters bind by VALUE across both spellings: 1.50 (old
    // spec) and 6.000000 (new spec) each prune to their own partition
    assert(VersionedLake.read(s, dir)
      .filter(col("p") === lit(BigDecimal("1.5"))).collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    assert(VersionedLake.read(s, dir)
      .filter(col("p") === lit(BigDecimal("6"))).collect()
      .map(_.getLong(0)).toSeq === Seq(4L))
    // range predicates across the widen boundary stay exact
    assert(VersionedLake.read(s, dir).filter(col("p") > lit(BigDecimal("4.5")))
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L))
    // the CATALOG path routes through the read-through (stock parquet
    // partition parsing would shift the narrow renders by 10^4) and
    // answers identically in SQL
    s.conf.set("spark.sql.catalog.gwdec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gwdec.root", root)
    assert(s.sql("SELECT CAST(p AS STRING) FROM gwdec.t ORDER BY id")
      .collect().map(_.getString(0)).toSeq ===
      Seq("1.500000", "3.000000", "4.500000", "6.000000", "7.500000"))
    assert(s.sql("SELECT id FROM gwdec.t WHERE p = 1.5").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("CDC feed spans a widen_column: one schema out, values promoted, no row events") {
    val s = spark
    import s.implicits._
    val dir = tmp("widen_cdc")
    VersionedLake.appendCommit(Seq((1, "a")).toDF("k", "v"), dir)   // v0
    VersionedLake.widenColumn(s, dir, "k", LongType)                // v1: no-op in feed
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("k", "v"), dir)  // v2
    val feed = VersionedLake.readRowChanges(s, dir, -1, 2)
    assert(feed.schema("k").dataType === LongType,
      "the feed normalizes to toVersion's (widened) type")
    val got = feed.select("k", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "insert", 0L), (2L, "insert", 2L)),
      "widen_column itself emits nothing; pre-widen frames promote")
  }

  test("SQL: ALTER TABLE ... ALTER COLUMN ... TYPE BIGINT through the catalog") {
    val s = spark
    import s.implicits._
    val root = tmp("widen_cat")
    spark.conf.set("spark.sql.catalog.gwide", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwide.root", root)
    spark.sql("CREATE TABLE gwide.wt (k INT, v STRING)")
    spark.sql("INSERT INTO gwide.wt VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gwide.wt ALTER COLUMN k TYPE BIGINT")
    val df = spark.sql("SELECT k, v FROM gwide.wt ORDER BY k")
    assert(df.schema("k").dataType === LongType)
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // and the catalog scan's pushdown still reaches the promoted column
    assert(spark.sql("SELECT v FROM gwide.wt WHERE k = 2").head().getString(0) === "b")
  }
}
