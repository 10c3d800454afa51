package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `analyzeStats` / `CALL system.analyze`: add or refresh the
  * column-statistics layers on an EXISTING table without rewriting a
  * byte of data — one scan per live directory, one metadata-only
  * commit. The stats backfill for a column that became filter-hot after
  * ingest, and the upgrade path that brings legacy directories onto the
  * full current layer set (histogram edges, frequent-values sketches,
  * exact sums).
  */
class AnalyzeStatsSpec extends SparkSpec {

  private def dataFiles(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/data")).map(_.getPath).toSet
  }

  test("analyze adds every layer to a stats-less table; zero data movement") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl").toString
    spark.conf.set("spark.sql.catalog.ganl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ganl.root", r)
    val t = s"$r/t"
    // two commits, NO statsCols — the post-ingest "oops, k is filter-hot"
    VersionedLake.appendCommit(
      (1L to 1000L).map(i => (i, s"s${i % 7}")).toDF("k", "tag"), t)
    VersionedLake.appendCommit(
      (1001L to 2000L).map(i => (i, s"s${i % 7}")).toDF("k", "tag"), t)
    val v0 = VersionedLake.currentVersion(spark, t).get
    assert(VersionedLake.dirStats(spark, t, v0).isEmpty, "no layers yet")
    val before = dataFiles(t)

    val v1 = spark.sql("CALL ganl.system.analyze('t', 'k,tag')").head().getLong(0)
    assert(v1 === v0 + 1, "analyze is ONE commit")
    assert(dataFiles(t) === before, "analyze must not move a byte of data")
    assert(VersionedLake.manifest(spark, t, v1) ===
      VersionedLake.manifest(spark, t, v0), "same directories, new layers")

    // every layer present for both dirs
    val stats = VersionedLake.dirStats(spark, t, v1)
    val ndv = VersionedLake.dirNdv(spark, t, v1)
    val hist = VersionedLake.dirHist(spark, t, v1)
    val freq = VersionedLake.dirFreq(spark, t, v1)
    val sums = VersionedLake.dirSums(spark, t, v1)
    assert(stats.size === 2 && stats.values.forall(m => m.contains("k") && m.contains("tag")))
    assert(ndv.size === 2 && hist.values.forall(_.contains("k")))
    assert(freq.values.forall(m => m.contains("k") && m.contains("tag")))
    assert(sums.values.forall(_.contains("k")))
    // and they WORK: manifest pruning, metadata aggregates, estimates
    val pruned = spark.table("ganl.t").filter(col("k") === 5L)
    org.apache.spark.sql.graft.LakePruningScanBuilder.lastKept.remove()
    pruned.collect()
    val keptNow = org.apache.spark.sql.graft.LakePruningScanBuilder.lastKept.get()
    assert(keptNow != null && keptNow.size === 1,
      s"post-analyze stats must range-prune to one dir, kept $keptNow")
    val mm = spark.sql("SELECT min(k) AS lo, max(k) AS hi, sum(k) AS s FROM ganl.t")
    assert(mm.collect().head.toSeq === Seq(1L, 2000L, (1L to 2000L).sum))
    assert(mm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "post-analyze min/max/sum answer from the manifest")
  }

  test("re-analyze refreshes analyzed columns and carries the rest untouched") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl2").toString
    val t = s"$r/t"
    VersionedLake.appendCommit(
      (1L to 500L).map(i => (i, i * 2, s"g${i % 3}")).toDF("a", "b", "g"), t,
      statsCols = Seq("a"))
    val v1 = VersionedLake.analyzeStats(spark, t, Seq("b", "g"))
    val stats = VersionedLake.dirStats(spark, t, v1)
    assert(stats.values.head.keySet === Set("a", "b", "g"),
      "analyzed columns ADD to the existing layer")
    // a's entry carried; b gained its own exact layer
    assert(stats.values.head("a")._1.contains("1"))
    assert(stats.values.head("b") === ((Some("2"), Some("1000"))))
    assert(VersionedLake.dirSums(spark, t, v1).values.head.get("b")
      .exists(_.longValueExact() === (1L to 500L).map(_ * 2).sum))
  }

  test("analyze keys renamed columns by their CURRENT name through the variant bridge") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl3").toString
    val t = s"$r/t"
    VersionedLake.appendCommit(
      (1L to 100L).map(i => (i, s"v$i")).toDF("old_k", "v"), t)
    VersionedLake.renameColumn(spark, t, "old_k", "k")
    val v1 = VersionedLake.analyzeStats(spark, t, Seq("k"))
    val stats = VersionedLake.dirStats(spark, t, v1)
    assert(stats.values.head.contains("k"),
      "the renamed column analyzes under its current name")
    assert(stats.values.head("k") === ((Some("1"), Some("100"))))
  }

  test("analyze submits a BOUNDED job count (grouped chunks), not one job per directory") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl5").toString
    val t = s"$r/t"
    // 10 live directories — the old per-directory loop submitted >= 10
    // aggregation jobs; the grouped pass fits them all in ONE chunk
    val n = 10
    (0 until n).foreach { d =>
      VersionedLake.appendCommit(
        (1L to 50L).map(i => (d * 1000L + i, s"g${i % 3}")).toDF("k", "g"), t)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    s.sparkContext.addSparkListener(listener)
    val v1 =
      try {
        val v = VersionedLake.analyzeStats(spark, t, Seq("k", "g"))
        Thread.sleep(500) // let the async listener bus drain
        v
      } finally s.sparkContext.removeSparkListener(listener)
    assert(jobs.get() < n,
      s"analyze over $n dirs must aggregate grouped (one job per 64-dir chunk " +
        s"+ AQE stages), not per-directory; saw ${jobs.get()} jobs")
    // and the grouped pass writes exactly the per-directory layers: each
    // dir's k-bounds are its own 1000-block, not the table's
    val stats = VersionedLake.dirStats(spark, t, v1)
    assert(stats.size === n)
    val bounds = stats.values.map(m => m("k")).toSet
    assert(bounds === (0 until n).map(d =>
      (Some((d * 1000L + 1).toString), Some((d * 1000L + 50).toString))).toSet,
      s"per-directory bounds must survive the grouped aggregation: $bounds")
    val sums = VersionedLake.dirSums(spark, t, v1)
    assert(sums.values.forall(m => m.contains("k")), "sum layer present per dir")
  }

  test("analyze(only_missing) backfills just the layer-less dirs; a fully-covered table no-ops") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl6").toString
    spark.conf.set("spark.sql.catalog.ganl6", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ganl6.root", r)
    val t = s"$r/t"
    VersionedLake.appendCommit(
      (1L to 200L).map(i => (i, s"g${i % 5}")).toDF("k", "g"), t,
      statsCols = Seq("k", "g"))
    val v0 = VersionedLake.currentVersion(spark, t).get
    // fully covered: the incremental call is a METADATA no-op — no
    // commit, no job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val same = spark.sql(
        "CALL ganl6.system.analyze('t', 'k,g', only_missing => true)")
        .head().getLong(0)
      Thread.sleep(300)
      assert(same === v0, "nothing missing: no new version")
      assert(jobs.get() === 0, s"a covered table must run ZERO jobs, saw ${jobs.get()}")
    } finally s.sparkContext.removeSparkListener(listener)
    // one stats-less commit arrives: only IT backfills; prior entries carry
    VersionedLake.appendCommit(
      (201L to 260L).map(i => (i, s"g${i % 5}")).toDF("k", "g"), t)
    val before = VersionedLake.dirStats(spark, t,
      VersionedLake.currentVersion(spark, t).get)
    val v2 = VersionedLake.analyzeStats(spark, t, Seq("k", "g"), onlyMissing = true)
    val after = VersionedLake.dirStats(spark, t, v2)
    assert(after.size === before.size + 1, "exactly the new dir gained a layer")
    before.foreach { case (d, m) =>
      assert(after(d) === m, s"prior entries must carry verbatim for $d")
    }
    val newDir = after.keySet.diff(before.keySet).head
    assert(after(newDir)("k") === ((Some("201"), Some("260"))))
  }

  test("analyze('*') covers every atomic column and skips unanalyzable types") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl7").toString
    spark.conf.set("spark.sql.catalog.ganl7", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ganl7.root", r)
    val t = s"$r/t"
    VersionedLake.appendCommit(
      (1L to 60L).map(i => (i, s"g${i % 4}", Seq(i, i + 1), i.toDouble))
        .toDF("k", "g", "arr", "x"), t)
    val v1 = spark.sql("CALL ganl7.system.analyze('t', '*')").head().getLong(0)
    val stats = VersionedLake.dirStats(spark, t, v1)
    assert(stats.values.head.keySet === Set("k", "g", "x"),
      "'*' analyzes every atomic column; the array column is skipped")
    assert(VersionedLake.dirNdv(spark, t, v1).values.head.keySet === Set("k", "g", "x"))
  }

  test("analyze(bloom_cols) backfills the point-lookup layer; only_missing composes") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl8").toString
    spark.conf.set("spark.sql.catalog.ganl8", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ganl8.root", r)
    val t = s"$r/t"
    // overlapping ranges: min/max can never separate the dirs — only a
    // bloom probe can prune the point lookup
    VersionedLake.appendCommit(
      (1L to 100L).map(i => (i * 2, s"v$i")).toDF("k", "vv"), t)
    VersionedLake.appendCommit(
      (1L to 100L).map(i => (i * 2 - 1, s"v$i")).toDF("k", "vv"), t)
    val v1 = spark.sql(
      "CALL ganl8.system.analyze('t', 'k', bloom_cols => 'k')").head().getLong(0)
    val blooms = VersionedLake.dirBlooms(spark, t, v1)
    assert(blooms.size === 2 && blooms.values.forall(_.contains("k")),
      "every directory gains its bloom entry")
    val B = org.apache.spark.sql.graft.LakePruningScanBuilder
    B.lastKept.remove()
    val got = spark.sql("SELECT vv FROM ganl8.t WHERE k = 57").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("v29"))
    val kept = B.lastKept.get()
    assert(kept != null && kept.size === 1,
      s"the backfilled bloom must prune the even-keys dir, kept $kept")
    // bloom-only incremental call: fully covered → metadata no-op
    val same = spark.sql(
      "CALL ganl8.system.analyze('t', '', only_missing => true, bloom_cols => 'k')")
      .head().getLong(0)
    assert(same === v1, "bloom-covered table: no new version")
    // a new stats-less commit: only IT gains a bloom (prior entries carry)
    VersionedLake.appendCommit(
      (201L to 260L).map(i => (i, s"v$i")).toDF("k", "vv"), t)
    val v2 = VersionedLake.analyzeStats(spark, t, Seq("k"),
      onlyMissing = true, bloomCols = Seq("k"))
    val after = VersionedLake.dirBlooms(spark, t, v2)
    assert(after.size === 3 && after.values.forall(_.contains("k")))
    blooms.foreach { case (d, m) =>
      assert(java.util.Arrays.equals(after(d)("k")._3, m("k")._3),
        s"prior bloom bitsets must carry verbatim for $d")
    }
  }

  test("analyze does not break MV stale-combine or exactly-once txn watermarks") {
    val s = spark
    import s.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_anl4").toString
    val corpus = s"$r/c"
    VersionedLake.appendCommitTxn(
      (1L to 100L).map(i => (i, s"t${i % 3}", i.toDouble)).toDF("id", "et", "value"),
      corpus, appId = "ingest", batchId = 7L)
    val viewDir = s"$r/view"
    val mv = LakeMv.MvDef(corpus, viewDir, Seq("et"),
      Map("total" -> ("sum", "value"), "cnt" -> ("count", "*")))
    LakeView.syncWith(spark, corpus, viewDir, mv.stateOverGuarded(spark))
    val v1 = VersionedLake.analyzeStats(spark, corpus, Seq("id"))
    // the watermark survived the metadata-only commit
    assert(VersionedLake.txnWatermarks(spark, corpus, v1).get("ingest").contains(7L))
    // the view is stale behind ONLY the analyze: the combine still serves
    LakeMv.register(mv)
    try {
      val combined = LakeMv.readCombined(spark, mv)
      assert(combined.isDefined,
        "a stats-only analyze commit must not force the view off the combine path")
      assert(combined.get.agg(sum("cnt")).head().getLong(0) === 100L)
    } finally LakeMv.clear()
  }

  test("a directory that cannot be read fails analyze with its own error; no job outlives it") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_anl_fail").toString + "/t"
    (0 until 4).foreach { i =>
      VersionedLake.appendCommit((i * 100L until i * 100L + 100).toDF("k"), t)
    }
    val v = VersionedLake.currentVersion(spark, t).get
    val broken = VersionedLake.manifest(spark, t, v).head
    // the directory's data files stop being parquet (checksums dropped,
    // so the read fails on the footer, not on a checksum)
    dataFiles(t).filter(_.contains(s"/data/$broken/")).foreach { f =>
      val p = java.nio.file.Paths.get(f)
      if (f.endsWith(".crc")) java.nio.file.Files.delete(p)
      else if (f.endsWith(".parquet")) java.nio.file.Files.write(p, "not parquet".getBytes)
    }
    // the bloom backfill runs one job per directory, several at a time
    val e = intercept[Exception](VersionedLake.analyzeStats(spark, t, Nil, bloomCols = Seq("k")))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains(broken)), messages.mkString("\n"))
    org.apache.spark.sql.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "every analyze job finished before the error surfaced")
    assert(VersionedLake.currentVersion(spark, t) === Some(v), "a failed analyze publishes nothing")
  }
}
