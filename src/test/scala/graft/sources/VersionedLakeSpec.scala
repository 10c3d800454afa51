package graft.sources

import graft.SparkSpec
import graft.sources.ManifestPruning.kept
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

/** The log-structured table's contract: atomic manifest+pointer publishes
  * (partial writes invisible), O(delta) append commits, streaming ingest,
  * snapshot isolation, time travel until vacuum.
  */
class VersionedLakeSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("id", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("commit/read round-trip; versions increment; time travel reads old snapshots") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake").toString
    val v0 = VersionedLake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    assert(v0 === 0L)
    val v1 = VersionedLake.commit(Seq((1L, "a2"), (3L, "c")).toDF("id", "payload"), dir)
    assert(v1 === 1L)
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a2"), (3L, "c")))
    assert(rows(VersionedLake.readVersion(s, dir, 0)) === Set((1L, "a"), (2L, "b")))
  }

  test("a crashed writer's unmanifested data directory is invisible") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_crash").toString
    VersionedLake.commit(Seq((1L, "a")).toDF("id", "payload"), dir)
    // simulate a writer that died after writing data but before its
    // manifest/pointer publish: a full, valid, UNREFERENCED data dir
    Seq((9L, "ghost")).toDF("id", "payload")
      .write.parquet(s"$dir/data/dead-writer-leftover")
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a")),
      "readers must resolve the manifest, not the directory listing")
    // fresh uuid directories can never collide with the orphan
    val v = VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "payload"), dir)
    assert(v === 1L)
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a"), (2L, "b")))
  }

  test("appendCommit is O(delta): the new manifest reuses prior directories") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_append").toString
    VersionedLake.commit(Seq((1L, "a")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(Seq((3L, "c")).toDF("id", "payload"), dir)
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    val m0 = VersionedLake.manifest(s, dir, 0)
    val m2 = VersionedLake.manifest(s, dir, 2)
    assert(m2.size === 3, "append manifests must grow by exactly one directory")
    assert(m2.startsWith(m0), "prior data directories must be REUSED, not rewritten")
  }

  test("streaming foreachBatch ingest: every batch an atomic snapshot") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vlake_stream").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDS().toDF("id", "payload")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VersionedLake.appendCommit(batch, dir): Unit
      }
      .start()
    try {
      in.addData((1L, "a")); q.processAllAvailable()
      in.addData((2L, "b"), (3L, "c")); q.processAllAvailable()
      assert(rows(VersionedLake.read(s, dir)) ===
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // each micro-batch published its own complete snapshot
      assert(rows(VersionedLake.readVersion(s, dir, 0)) === Set((1L, "a")))
    } finally q.stop()
  }

  test("upsert merges by key into a NEW version; the old snapshot survives") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_upsert").toString
    VersionedLake.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload"), dir)
    val v = VersionedLake.upsert(
      s, dir, Seq((2L, "b2"), (4L, "d")).toDF("id", "payload"), keys = Seq("id"))
    assert(v === 1L)
    assert(rows(VersionedLake.read(s, dir)) ===
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // snapshot isolation: version 0 is untouched by the rewrite
    assert(rows(VersionedLake.readVersion(s, dir, 0)) ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("vacuum drops unreferenced data dirs and old manifests, keeps the live snapshot") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_vac").toString
    VersionedLake.commit(Seq((1L, "a")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "payload"), dir)
    VersionedLake.commit(Seq((9L, "z")).toDF("id", "payload"), dir) // full rewrite
    VersionedLake.vacuum(s, dir, keepVersions = 1, minAgeMs = 0L)
    assert(rows(VersionedLake.read(s, dir)) === Set((9L, "z")))
    // only the live manifest's single data dir remains
    val dataDirs = new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory)
    assert(dataDirs.length === 1, s"unreferenced dirs must be gone: ${dataDirs.toSeq}")
    intercept[Exception](VersionedLake.readVersion(s, dir, 0).collect())
  }

  test("schema evolution: an append may add columns; old files read back null") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_evolve").toString
    VersionedLake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(
      Seq((3L, "c", "en")).toDF("id", "payload", "lang"), dir)
    val cur = VersionedLake.read(s, dir)
    assert(cur.columns.toSeq === Seq("id", "payload", "lang"),
      "prior columns keep position, new columns append")
    val got = cur.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got === Set(
      (1L, "a", None), (2L, "b", None), (3L, "c", Some("en"))),
      "files predating the column must read back null, not fail or misalign")
    // time travel predates the column entirely
    assert(VersionedLake.readVersion(s, dir, 0).columns.toSeq === Seq("id", "payload"))
    assert(rows(VersionedLake.readVersion(s, dir, 0)) === Set((1L, "a"), (2L, "b")))
  }

  test("schema evolution rejects a same-name column changing type") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_typeerr").toString
    VersionedLake.commit(Seq((1L, "a")).toDF("id", "payload"), dir)
    val bad = Seq((2L, 7)).toDF("id", "payload") // payload: int, was string
    intercept[IllegalArgumentException](VersionedLake.appendCommit(bad, dir))
    // the failed commit published nothing
    assert(VersionedLake.currentVersion(s, dir) === Some(0L))
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a")))
  }

  test("upsert may add columns; existing rows backfill null") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_upsert_evolve").toString
    VersionedLake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    VersionedLake.upsert(
      s, dir, Seq((2L, "b2", 0.9)).toDF("id", "payload", "score"), keys = Seq("id"))
    val got = VersionedLake.read(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got === Set((1L, "a", None), (2L, "b2", Some(0.9))))
  }

  test("optimize compacts N append directories into one; history survives until vacuum") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_optimize").toString
    (0 until 20).foreach { i =>
      VersionedLake.appendCommit(Seq((i.toLong, s"p$i")).toDF("id", "payload"), dir)
    }
    val before = rows(VersionedLake.read(s, dir))
    assert(VersionedLake.manifest(s, dir, 19).size === 20)
    val v = VersionedLake.optimize(s, dir)
    assert(v === 20L)
    assert(VersionedLake.manifest(s, dir, v).size === 1,
      "the compacted manifest must list exactly one directory")
    assert(rows(VersionedLake.read(s, dir)) === before,
      "optimize must not change the data")
    // pre-optimize versions still time travel
    assert(rows(VersionedLake.readVersion(s, dir, 4)) ===
      (0 to 4).map(i => (i.toLong, s"p$i")).toSet)
    VersionedLake.vacuum(s, dir, keepVersions = 1, minAgeMs = 0L)
    val dataDirs = new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory)
    assert(dataDirs.length === 1,
      s"vacuum after optimize must reclaim the 20 append dirs: ${dataDirs.length} left")
    assert(rows(VersionedLake.read(s, dir)) === before)
    intercept[Exception](VersionedLake.readVersion(s, dir, 4).collect())
  }

  test("streaming ingest survives a mid-stream schema change (evolving foreachBatch)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vlake_stream_evolve").toString
    // the producer upgrades mid-stream: later events carry a lang field
    // (empty string = the old producer format, mapped to a null column)
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDS().toDF("id", "payload", "lang")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val legacy = batch.filter(col("lang") === "").drop("lang")
        val upgraded = batch.filter(col("lang") =!= "")
        if (!legacy.isEmpty) VersionedLake.appendCommit(legacy, dir): Unit
        if (!upgraded.isEmpty) VersionedLake.appendCommit(upgraded, dir): Unit
      }
      .start()
    try {
      in.addData((1L, "a", "")); q.processAllAvailable()   // old format: no lang
      in.addData((2L, "b", "en")); q.processAllAvailable() // upgraded producer
      val got = VersionedLake.read(s, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
      assert(got === Set((1L, "a", None), (2L, "b", Some("en"))),
        "pre-upgrade batches must read back with the new column null")
    } finally q.stop()
  }

  test("a manifest that still carries a #bucketspec= line reads as a plain table") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_bucketspec").toString
    VersionedLake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir,
      statsCols = Seq("id"))
    val d = VersionedLake.manifest(s, dir, 0L).head
    // the header line older writers put before the directory list
    val man = java.nio.file.Paths.get(dir, "manifest", "v=0.txt")
    val lines = new String(java.nio.file.Files.readAllBytes(man), "UTF-8").split("\n").toSeq
    val (headers, dirs) = lines.span(_.startsWith("#"))
    val legacy = headers ++ Seq(s"#bucketspec=$d\t{" + "\"key\":\"id\",\"n\":4}") ++ dirs
    java.nio.file.Files.write(man, legacy.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "manifest", ".v=0.txt.crc"))

    assert(VersionedLake.manifest(s, dir, 0L) === Seq(d))
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a"), (2L, "b")))
    assert(kept(s, dir, EqualTo("id", 2L)) === Seq(d), "the stats layer still reads")
    VersionedLake.appendCommit(Seq((3L, "c")).toDF("id", "payload"), dir)
    assert(rows(VersionedLake.read(s, dir)) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest", "v=1.txt")), "UTF-8").contains("#bucketspec="),
      "a new commit does not carry the line forward")
  }

  test("partitioned commits keep directory pruning inside the version") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_parts").toString
    val df = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("id", "payload", "dt")
    VersionedLake.commit(df, dir, parts = Seq("dt"))
    val pruned = VersionedLake.read(s, dir).filter(col("dt") === "2024-01-01")
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(1L))
    val scan = pruned.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    assert(scan.metrics("numFiles").value === 1L,
      s"expected 1 file opened, saw ${scan.metrics("numFiles").value}")
  }

  test("manifest stats prune whole directories; stats carry forward O(delta)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_stats").toString
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"w${"%03d".format(i)}")).toDF("id", "payload")
    VersionedLake.commit(batch(0, 99), dir, statsCols = Seq("id", "payload"))
    VersionedLake.appendCommit(batch(100, 199), dir, statsCols = Seq("id", "payload"))
    VersionedLake.appendCommit(batch(200, 299), dir, statsCols = Seq("id", "payload"))
    val v = VersionedLake.currentVersion(s, dir).get
    val dirs = VersionedLake.manifest(s, dir, v)
    assert(VersionedLake.dirStats(s, dir, v).keySet === dirs.toSet,
      "append commits must carry prior directories' stats forward verbatim")

    val idRange = Seq(GreaterThanOrEqual("id", 120L), LessThanOrEqual("id", 180L))
    assert(kept(s, dir, idRange: _*) === Seq(dirs(1)),
      "only the one intersecting directory may be planned")
    val pruned = ManifestPruning.read(s, dir, col("id").between(120L, 180L), idRange: _*)
    val expected = VersionedLake.read(s, dir)
      .filter(col("id").between(120L, 180L)).collect().map(_.getLong(0)).sorted
    assert(pruned.collect().map(_.getLong(0)).sorted === expected)

    // string-typed stats prune lexicographically the same way
    val strRange = Seq(GreaterThanOrEqual("payload", "w250"), LessThanOrEqual("payload", "w260"))
    assert(kept(s, dir, strRange: _*) === Seq(dirs(2)))
    assert(ManifestPruning.read(s, dir, col("payload").between("w250", "w260"),
      strRange: _*).count() === 11L)

    // a range outside every directory plans NOTHING
    assert(kept(s, dir, GreaterThanOrEqual("id", 1000L), LessThanOrEqual("id", 2000L)).isEmpty)
  }

  test("the manifest pruner keeps stats-less directories and skips all-null ones") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_stats_mixed").toString
    // legacy commit without stats: must always be scanned (conservative)
    VersionedLake.commit(Seq((500L, "legacy")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(
      (0L to 9L).map(i => (i, s"n$i")).toDF("id", "payload"), dir,
      statsCols = Seq("id"))
    // an all-null directory for the column can never satisfy BETWEEN
    VersionedLake.appendCommit(
      Seq(Tuple2(null.asInstanceOf[java.lang.Long], "ghost")).toDF("id", "payload"),
      dir, statsCols = Seq("id"))
    val range = Seq(GreaterThanOrEqual("id", 0L), LessThanOrEqual("id", 9L))
    val dirs = VersionedLake.manifest(s, dir, VersionedLake.currentVersion(s, dir).get)
    assert(kept(s, dir, range: _*) === dirs.take(2),
      "the stats-less directory stays planned; the all-null one is pruned " +
        "(a range never matches null)")
    val out = ManifestPruning.read(s, dir, col("id").between(0L, 9L), range: _*)
    assert(out.collect().map(_.getLong(0)).toSet === (0L to 9L).toSet,
      "stats-less directory still scanned, its out-of-range row filtered exactly")
  }

  test("optimize recomputes stats over the compacted union") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_stats_opt").toString
    VersionedLake.commit((0L to 4L).map(i => (i, "a")).toDF("id", "payload"),
      dir, statsCols = Seq("id"))
    VersionedLake.appendCommit((100L to 104L).map(i => (i, "b")).toDF("id", "payload"),
      dir, statsCols = Seq("id"))
    val v = VersionedLake.optimize(s, dir, statsCols = Seq("id"))
    val stats = VersionedLake.dirStats(s, dir, v)
    assert(stats.size === 1)
    val (mn, mx) = stats.values.head("id")
    assert(mn === Some("0") && mx === Some("104"),
      "compacted directory stats must span the union")
    assert(ManifestPruning.read(s, dir, col("id").between(2L, 3L),
      GreaterThanOrEqual("id", 2L), LessThanOrEqual("id", 3L))
      .collect().map(_.getLong(0)).sorted === Seq(2L, 3L))
  }

  /** Row-group (min, max) from real parquet footers (LakeSpec's probe). */
  private def rowGroupStats(dir: String, colName: String): Seq[(Int, Int)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    files.flatMap { f =>
      val rdr = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try rdr.getFooter.getBlocks.asScala.toSeq.map { b =>
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == colName).get
        val st = cc.getStatistics
        (st.genericGetMin.asInstanceOf[Number].intValue,
          st.genericGetMax.asInstanceOf[Number].intValue)
      } finally rdr.close()
    }
  }

  test("OPTIMIZE ... ZORDER BY: compaction co-clusters and stacks both pruning layers") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_zopt").toString
    val rnd = new scala.util.Random(11)
    def batch() = Seq.fill(1000)((rnd.nextInt(100), rnd.nextInt(100), rnd.nextInt()))
      .toDF("x", "y", "payload")
    VersionedLake.commit(batch(), dir, statsCols = Seq("x"))
    (1 to 9).foreach(_ => VersionedLake.appendCommit(batch(), dir, statsCols = Seq("x")))
    val before = VersionedLake.read(s, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).groupBy(identity).view.mapValues(_.size).toMap

    val v = VersionedLake.optimize(s, dir,
      maxRecordsPerFile = 500L, statsCols = Seq("x", "y"), zorderBy = Seq("x", "y"))

    // identical multiset, one directory, manifest stats refreshed over the union
    val after = VersionedLake.read(s, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).groupBy(identity).view.mapValues(_.size).toMap
    assert(after === before)
    val dirs = VersionedLake.manifest(s, dir, v)
    assert(dirs.size === 1)
    assert(VersionedLake.dirStats(s, dir, v).values.head.keySet === Set("x", "y"))

    // the compacted layout's footer stats prune on the SECOND z column
    val yStats = rowGroupStats(s"$dir/data/${dirs.head}", "y")
    assert(yStats.size >= 10, s"want many row groups, got ${yStats.size}")
    def skippable(lo: Int, hi: Int): Double =
      yStats.count { case (mn, mx) => mx < lo || mn > hi }.toDouble / yStats.size
    val bands = (0 until 95 by 5).map(v0 => skippable(v0, v0 + 4))
    val frac = bands.sum / bands.size
    assert(frac >= 0.40, s"zordered compaction must prune y bands, got $frac")

    // manifest-stats layer still exact on top of the new layout
    assert(ManifestPruning.read(s, dir, col("x").between(10, 20),
      GreaterThanOrEqual("x", 10), LessThanOrEqual("x", 20)).count() ===
      VersionedLake.read(s, dir).filter(col("x").between(10, 20)).count())
  }

  test("manifest blooms prune point lookups where min/max can't; carry forward O(delta)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_bloom").toString
    val bloom = Some(VersionedLake.BloomConfig(Seq("id", "payload"), bits = 1 << 14))
    // keys INTERLEAVED across batches: every directory's [min,max] spans
    // nearly the whole domain, so range stats are useless by construction
    def batch(res: Long) =
      (0L to 299L).filter(_ % 3 == res).map(i => (i, s"p$i")).toDF("id", "payload")
    VersionedLake.commit(batch(0), dir, statsCols = Seq("id"), bloom = bloom)
    VersionedLake.appendCommit(batch(1), dir, statsCols = Seq("id"), bloom = bloom)
    VersionedLake.appendCommit(batch(2), dir, statsCols = Seq("id"), bloom = bloom)
    val v = VersionedLake.currentVersion(s, dir).get
    val dirs = VersionedLake.manifest(s, dir, v)
    assert(VersionedLake.dirBlooms(s, dir, v).keySet === dirs.toSet,
      "append commits must carry prior directories' blooms forward verbatim")

    // stats CANNOT prune this lookup (121 is inside every dir's range)...
    val stats = VersionedLake.dirStats(s, dir, v)
    assert(dirs.forall { d =>
      val (mn, mx) = stats(d)("id")
      mn.get.toLong <= 121L && 121L <= mx.get.toLong
    }, "fixture must make min/max pruning impossible")
    // ...but the bloom plans exactly the one directory that has the key
    assert(kept(s, dir, EqualTo("id", 121L)) === Seq(dirs(1)),
      s"point lookup must plan only batch(1)'s directory")
    val hit = ManifestPruning.read(s, dir, col("id") === 121L, EqualTo("id", 121L))
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((121L, "p121")))

    // string column probes hash the committed type the writer hashed
    assert(kept(s, dir, EqualTo("payload", "p200")) === Seq(dirs(2)))
    assert(ManifestPruning.read(s, dir, col("payload") === "p200",
      EqualTo("payload", "p200")).count() === 1L)

    // an absent key plans NOTHING
    assert(kept(s, dir, EqualTo("id", 1234L)).isEmpty)
  }

  test("bloom-less directories read conservatively; optimize recomputes the bloom") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_bloom_mixed").toString
    val bloom = Some(VersionedLake.BloomConfig(Seq("id"), bits = 1 << 14))
    // legacy commit without a bloom: a point lookup must still scan it
    VersionedLake.commit(Seq((500L, "legacy")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(
      (0L to 99L).map(i => (i, s"n$i")).toDF("id", "payload"), dir, bloom = bloom)
    val v0 = VersionedLake.currentVersion(s, dir).get
    val dirs0 = VersionedLake.manifest(s, dir, v0)
    assert(kept(s, dir, EqualTo("id", 7L)).contains(dirs0.head),
      "the bloom-less directory must stay in the plan (conservative)")
    val out = ManifestPruning.read(s, dir, col("id") === 7L, EqualTo("id", 7L))
    assert(out.collect().map(_.getLong(0)).toSeq === Seq(7L))

    // OPTIMIZE merges the directories: the bloom must be recomputed over
    // the union, and afterwards both old keys resolve from the one dir
    VersionedLake.optimize(s, dir, bloom = bloom)
    val v1 = VersionedLake.currentVersion(s, dir).get
    val dirs1 = VersionedLake.manifest(s, dir, v1)
    assert(dirs1.size === 1)
    assert(VersionedLake.dirBlooms(s, dir, v1).keySet === dirs1.toSet)
    assert(ManifestPruning.read(s, dir, col("id") === 500L, EqualTo("id", 500L)).count() === 1L)
    assert(ManifestPruning.read(s, dir, col("id") === 7L, EqualTo("id", 7L)).count() === 1L)
    assert(kept(s, dir, EqualTo("id", 4321L)).isEmpty)
  }
}
