package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PARTITION-SPEC EVOLUTION: new data lands under a new hive scheme
  * while old directories stay readable in place — the manifest records
  * each directory's spec, reads group per spec, and pruning applies
  * per-spec (partition pruning on hive dirs, parquet pushdown on flat).
  */
class PartitionEvolutionSpec extends SparkSpec {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("flat table evolves to partitioned appends; manifest records per-dir specs") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_f2p")
    VersionedLake.appendCommit(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), dir)
    // evolution: the next append lands hive-partitioned by day
    VersionedLake.appendCommit(
      Seq((3L, "d1", "c"), (4L, "d3", "d")).toDF("id", "day", "v"), dir,
      parts = Seq("day"))
    val cur = VersionedLake.currentVersion(s, dir).get
    val specs = VersionedLake.dirParts(s, dir, cur)
    val dirs = VersionedLake.manifest(s, dir, cur)
    assert(specs.get(dirs.last).contains(Seq("day")), "new dir records its spec")
    assert(!specs.contains(dirs.head), "the flat dir records none")
    assert(VersionedLake.needsPerDirRead(s, dir, cur), "flat + hive dirs read per directory")
    assert(VersionedLake.partitionColumns(s, dir, cur) === Seq("day"),
      "the table's current spec is the newest directory's")
    val df = VersionedLake.read(s, dir)
    assert(df.count() === 4L)
    assert(df.filter(col("day") === "d1").orderBy("id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("pruning applies PER SPEC: partition filters on hive dirs, pushdown on flat") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_prune")
    VersionedLake.appendCommit(
      (0L until 50L).map(i => (i, s"d${i % 5}", s"v$i")).toDF("id", "day", "v"), dir)
    VersionedLake.appendCommit(
      (50L until 100L).map(i => (i, s"d${i % 5}", s"v$i")).toDF("id", "day", "v"), dir,
      parts = Seq("day"))
    val q = VersionedLake.read(s, dir).filter(col("day") === "d3")
    assert(q.count() === 20L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day") ||
      plan.contains("PartitionFilters: [(day"),
      s"the hive child must prune partitions, plan was:\n$plan")
    assert(plan.contains("EqualTo(day,d3)"),
      s"the flat child must push the filter to parquet, plan was:\n$plan")
  }

  test("catalog reads of an evolved table splice the per-spec union; INSERT follows the new spec") {
    val s = spark
    import s.implicits._
    val root = tmp("pevo_cat")
    spark.conf.set("spark.sql.catalog.gpev", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpev.root", root)
    val dir = s"$root/evo"
    VersionedLake.appendCommit(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), dir)
    VersionedLake.appendCommit(
      Seq((3L, "d1", "c")).toDF("id", "day", "v"), dir, parts = Seq("day"))
    val got = spark.sql("SELECT id FROM gpev.evo WHERE day = 'd1' ORDER BY id")
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 3L))
    // catalog INSERT keeps layout-aligned with the CURRENT (newest) spec
    spark.sql("INSERT INTO gpev.evo VALUES (9, 'd9', 'z')")
    val cur = VersionedLake.currentVersion(s, dir).get
    val dirs = VersionedLake.manifest(s, dir, cur)
    assert(VersionedLake.dirParts(s, dir, cur).get(dirs.last).contains(Seq("day")),
      "the INSERT's directory must follow the evolved spec")
    assert(spark.sql("SELECT count(*) FROM gpev.evo").head().getLong(0) === 4L)
  }

  test("row-level deleteWhere preserves each rewritten directory's own spec") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_del")
    VersionedLake.appendCommit(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), dir)
    VersionedLake.appendCommit(
      Seq((3L, "d1", "c"), (4L, "d2", "d")).toDF("id", "day", "v"), dir,
      parts = Seq("day"))
    VersionedLake.deleteWhere(s, dir, col("id").isin(2L, 4L))
    val cur = VersionedLake.currentVersion(s, dir).get
    val df = VersionedLake.read(s, dir)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the rewritten partitioned directory is still partitioned (and its
    // manifest line says so)
    val specs = VersionedLake.dirParts(s, dir, cur)
    val dirs = VersionedLake.manifest(s, dir, cur)
    assert(dirs.exists(d => specs.get(d).contains(Seq("day"))),
      "a rewritten hive directory keeps its own layout")
  }

  test("setPartitionSpec: metadata-only declaration steers writers; history answers per version") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_decl")
    VersionedLake.appendCommit(
      Seq((1L, "d1", "us", "a"), (2L, "d2", "eu", "b")).toDF("id", "day", "region", "v"),
      dir, parts = Seq("day"))
    val dirsBefore = VersionedLake.manifest(s, dir, 0L)
    val v = VersionedLake.setPartitionSpec(s, dir, Seq("region"))
    assert(v === 1L)
    assert(VersionedLake.manifest(s, dir, v) === dirsBefore,
      "the declaration is one manifest commit - zero data movement")
    assert(VersionedLake.commitOp(s, dir, v).contains("set_spec"))
    assert(VersionedLake.declaredSpec(s, dir, v) === Some(Seq("region")))
    // the PRE-evolution version never saw a declaration: time travel
    // plans under the newest-dir physical spec of ITS day
    assert(VersionedLake.declaredSpec(s, dir, 0L) === None)
    assert(VersionedLake.declaredOrPhysicalParts(s, dir, 0L) === Seq("day"))
    // new batches follow the declared spec, not the newest dir's render
    assert(VersionedLake.declaredOrPhysicalParts(s, dir, v) === Seq("region"))
    VersionedLake.appendCommit(
      Seq((3L, "d1", "us", "c")).toDF("id", "day", "region", "v"), dir,
      parts = VersionedLake.declaredOrPhysicalParts(s, dir, v))
    val cur = VersionedLake.currentVersion(s, dir).get
    // both physical renders coexist; the declaration carried verbatim
    val renders = new java.io.File(s"$dir/data").listFiles()
      .flatMap(_.listFiles()).map(_.getName.takeWhile(_ != '='))
      .filter(n => n == "day" || n == "region").toSet
    assert(renders === Set("day", "region"), s"mixed renders expected: $renders")
    assert(VersionedLake.declaredSpec(s, dir, cur) === Some(Seq("region")),
      "every later commit carries the declaration verbatim")
    // reads splice both specs
    val df = VersionedLake.read(s, dir)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // a full OPTIMIZE migrates the whole layout under the declaration
    VersionedLake.optimize(s, dir)
    val optV = VersionedLake.currentVersion(s, dir).get
    val optDirs = VersionedLake.manifest(s, dir, optV)
    val optSpecs = VersionedLake.dirParts(s, dir, optV)
    assert(optDirs.forall(d => optSpecs.get(d).contains(Seq("region"))),
      s"optimize must rewrite everything under the declared spec: $optSpecs")
    assert(VersionedLake.read(s, dir).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
    // rollback to the pre-evolution version restores the old declaration
    // state (none) with the old data
    VersionedLake.rollback(s, dir, 0L)
    val rb = VersionedLake.currentVersion(s, dir).get
    assert(VersionedLake.declaredSpec(s, dir, rb) === None,
      "rollback republishes the old version's metadata - no declaration")
  }

  test("setPartitionSpec: empty spec evolves to UNPARTITIONED, overriding the physical fallback") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_flat")
    VersionedLake.appendCommit(
      Seq((1L, "d1", "a")).toDF("id", "day", "v"), dir, parts = Seq("day"))
    val v = VersionedLake.setPartitionSpec(s, dir, Nil)
    assert(VersionedLake.declaredSpec(s, dir, v) === Some(Nil))
    assert(VersionedLake.declaredOrPhysicalParts(s, dir, v) === Nil,
      "an empty DECLARATION must beat the newest-dir physical chain")
  }

  test("setPartitionSpec guards: unknown column, every-column spec, duplicates, drop of a declared column") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_guard")
    VersionedLake.appendCommit(Seq((1L, "d1", "a")).toDF("id", "day", "v"), dir)
    intercept[IllegalArgumentException](
      VersionedLake.setPartitionSpec(s, dir, Seq("nope")))
    intercept[IllegalArgumentException](
      VersionedLake.setPartitionSpec(s, dir, Seq("id", "day", "v")))
    intercept[IllegalArgumentException](
      VersionedLake.setPartitionSpec(s, dir, Seq("day", "DAY")))
    VersionedLake.setPartitionSpec(s, dir, Seq("day"))
    // the declared column is a partition column NOW, before any dir
    // materializes it - dropping it would break the very next INSERT
    val e = intercept[IllegalArgumentException](
      VersionedLake.dropColumn(s, dir, "day"))
    assert(e.getMessage.contains("partition column"))
  }

  test("a declaration racing concurrent appends serializes cleanly; later writers follow it") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_race")
    VersionedLake.appendCommit(
      Seq((1L, "d1", "us", "a")).toDF("id", "day", "region", "v"), dir,
      parts = Seq("day"))
    // fire the declaration and two appends concurrently: every commit
    // rides retryOnConflict, so all three land in SOME serial order. An
    // append that based on a pre-declaration version legitimately lays
    // out under the OLD spec (it read that world); correctness is that
    // nothing is lost, the declaration survives verbatim, and a write
    // issued strictly AFTER follows it.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val ops = Seq(
      Future(scala.util.Try(VersionedLake.setPartitionSpec(s, dir, Seq("region")))),
      Future(scala.util.Try(VersionedLake.appendCommit(
        Seq((2L, "d2", "eu", "b")).toDF("id", "day", "region", "v"), dir,
        parts = Seq("day")))),
      Future(scala.util.Try(VersionedLake.appendCommit(
        Seq((3L, "d3", "ap", "c")).toDF("id", "day", "region", "v"), dir,
        parts = Seq("day")))))
    val results = Await.result(Future.sequence(ops), 120.seconds)
    assert(results.forall(_.isSuccess), s"all three commits must land: $results")
    val cur = VersionedLake.currentVersion(s, dir).get
    assert(VersionedLake.declaredSpec(s, dir, cur) === Some(Seq("region")),
      "the declaration survives whatever serial order the race produced")
    assert(VersionedLake.read(s, dir).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L), "no append lost to the race")
    // a strictly-after writer follows the declaration
    VersionedLake.appendCommit(
      Seq((4L, "d4", "us", "d")).toDF("id", "day", "region", "v"), dir,
      parts = VersionedLake.declaredOrPhysicalParts(s, dir,
        VersionedLake.currentVersion(s, dir).get))
    val specs = VersionedLake.dirParts(s, dir,
      VersionedLake.currentVersion(s, dir).get)
    assert(specs.values.toSeq.contains(Seq("region")),
      s"the post-declaration append must lay out by region: $specs")
  }

  test("a streaming source keeps delivering across a spec evolution mid-stream") {
    val s = spark
    import s.implicits._
    val dir = tmp("pevo_stream")
    VersionedLake.appendCommit(
      Seq((1L, "d1", "us")).toDF("id", "day", "region"), dir, parts = Seq("day"))
    val q = s.readStream.format("graft-lake").option("path", dir).load()
      .writeStream.format("memory").queryName("pevo_feed").outputMode("append")
      .option("checkpointLocation", tmp("pevo_stream_ck")).start()
    try {
      q.processAllAvailable()
      // evolve mid-stream (metadata-only: delivers no rows), then append
      // under the NEW spec - the incremental read is per-directory, so
      // the mixed layout must not disturb delivery
      VersionedLake.setPartitionSpec(s, dir, Seq("region"))
      VersionedLake.appendCommit(
        Seq((2L, "d2", "eu")).toDF("id", "day", "region"), dir,
        parts = Seq("region"))
      q.processAllAvailable()
      assert(s.table("pevo_feed").collect().map(_.getLong(0)).toSet === Set(1L, 2L),
        "rows from both eras delivered exactly once across the evolution")
    } finally q.stop()
  }

  test("SQL: CALL system.set_partition_spec steers INSERT; pruning holds per spec") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("pevo_sql").toString
    s.conf.set("spark.sql.catalog.pevocat", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pevocat.root", root)
    s.sql("CREATE TABLE pevocat.ev (id BIGINT, day STRING, region STRING, v STRING) " +
      "PARTITIONED BY (day)")
    s.sql("INSERT INTO pevocat.ev VALUES (1, 'd1', 'us', 'a'), (2, 'd2', 'eu', 'b')")
    s.sql("CALL pevocat.system.set_partition_spec(table => 'ev', parts => 'region')")
    s.sql("INSERT INTO pevocat.ev VALUES (3, 'd1', 'us', 'c'), (4, 'd3', 'ap', 'd')")
    val dir = s"$root/ev"
    val cur = VersionedLake.currentVersion(s, dir).get
    val specs = VersionedLake.dirParts(s, dir, cur)
    assert(specs.values.toSet === Set(Seq("day"), Seq("region")),
      s"the post-evolution INSERT must lay out by region: $specs")
    val got = s.sql("SELECT id FROM pevocat.ev WHERE region = 'us' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 3L))
    assert(s.sql("SELECT id FROM pevocat.ev WHERE day = 'd3'")
      .collect().map(_.getLong(0)).toSeq === Seq(4L))
  }
}
