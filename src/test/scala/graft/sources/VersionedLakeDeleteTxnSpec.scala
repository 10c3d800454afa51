package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-level DELETE (copy-on-write on the minimal directory set) and
  * exactly-once transactional appends — the two contracts a replaying
  * `foreachBatch` ingest with retention obligations hits right after
  * concurrency control.
  */
class VersionedLakeDeleteTxnSpec extends SparkSpec {

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("deleteWhere rewrites ONLY the directories that hold matches") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_del").toString
    // three time-clustered commits, stats on id
    VersionedLake.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((10L, "c"), (11L, "d")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((20L, "e"), (21L, "f")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    val m0 = VersionedLake.manifest(s, dir, 2)
    val v = VersionedLake.deleteWhere(s, dir, col("id") === 10L)
    assert(v === 3L)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 11L, 20L, 21L))
    val m1 = VersionedLake.manifest(s, dir, 3)
    assert(m1.size === 3)
    assert(m1.contains(m0(0)) && m1.contains(m0(2)),
      "directories without matches must carry over VERBATIM (no rewrite)")
    assert(!m1.contains(m0(1)), "the matching directory must be replaced")
    // untouched dirs keep their stats verbatim; the rewrite re-stats
    val stats = VersionedLake.dirStats(s, dir, 3)
    assert(stats(m0(0))("id") === (Some("1"), Some("2")))
    val newDir = m1.filterNot(m0.contains).head
    assert(stats(newDir)("id") === (Some("11"), Some("11")),
      "the rewritten directory's stats must reflect the survivors")
    // time travel: the pre-delete snapshot is intact
    assert(ids(VersionedLake.readVersion(s, dir, 2)) ===
      Set(1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("upsert touching keys in 1 of 3 dirs rewrites ONLY that dir and appends new keys") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ups_cow").toString
    // three time-clustered commits with key stats — the CDC-target shape
    VersionedLake.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((10L, "c"), (11L, "d")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((20L, "e"), (21L, "f")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    val m0 = VersionedLake.manifest(s, dir, 2)
    // batch updates id=10 (middle dir) and inserts id=30 (nowhere)
    val v = VersionedLake.upsert(s, dir,
      Seq((10L, "c2"), (30L, "new")).toDF("id", "payload"), keys = Seq("id"))
    assert(v === 3L)
    val got = VersionedLake.read(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (2L, "b"), (10L, "c2"), (11L, "d"),
      (20L, "e"), (21L, "f"), (30L, "new")))
    val m1 = VersionedLake.manifest(s, dir, 3)
    assert(m1.size === 4, "3 dirs (one rewritten) + the batch's new dir")
    assert(m1.contains(m0(0)) && m1.contains(m0(2)),
      "directories without matching keys must carry over VERBATIM (no rewrite)")
    assert(!m1.contains(m0(1)), "the directory holding a matched key must be replaced")
    // untouched dirs keep their stats verbatim; the rewrite re-stats its
    // survivors; the batch dir is stat'd over the manifest's columns
    val stats = VersionedLake.dirStats(s, dir, 3)
    assert(stats(m0(0))("id") === (Some("1"), Some("2")))
    val rewrittenDir = m1.filterNot(d => m0.contains(d) || d == m1.last).head
    assert(stats(rewrittenDir)("id") === (Some("11"), Some("11")),
      "the rewritten directory's stats must reflect its survivors")
    assert(stats(m1.last)("id") === (Some("10"), Some("30")),
      "the batch's directory must carry stats over the manifest's columns")
    // time travel: the pre-upsert snapshot is intact
    assert(ids(VersionedLake.readVersion(s, dir, 2)) === Set(1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("upsert with keys entirely outside every dir's stats range is a pure append") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ups_append").toString
    VersionedLake.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((10L, "c")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    val m0 = VersionedLake.manifest(s, dir, 1)
    VersionedLake.upsert(s, dir,
      Seq((100L, "x"), (200L, "y")).toDF("id", "payload"), keys = Seq("id"))
    val m1 = VersionedLake.manifest(s, dir, 2)
    assert(m1.size === 3 && m1.startsWith(m0),
      "no key can match: every prior directory must carry verbatim, batch appends")
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 10L, 100L, 200L))
    // and the manifest diff stays an expressible append-only change feed
    assert(ids(VersionedLake.readAppendedBetween(s, dir, 1, 2)) === Set(100L, 200L))
  }

  test("deleteWhere: NULL-predicate rows are KEPT; emptied directories drop") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_del_null").toString
    VersionedLake.appendCommit(
      Seq((1L, Some("x")), (2L, None)).toDF("id", "tag"), dir)
    VersionedLake.appendCommit(
      Seq((3L, Some("kill")), (4L, Some("kill"))).toDF("id", "tag"), dir)
    VersionedLake.deleteWhere(s, dir, col("tag") === "kill")
    // id=2 has tag NULL -> predicate NULL -> must survive (SQL DELETE)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L))
    assert(VersionedLake.manifest(s, dir, 2).size === 1,
      "a directory emptied by the delete must leave the manifest")
  }

  test("deleteWhere emptying the whole table publishes a readable empty snapshot") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_del_all").toString
    VersionedLake.commit(Seq((1L, "a")).toDF("id", "payload"), dir)
    VersionedLake.deleteWhere(s, dir, lit(true))
    val out = VersionedLake.read(s, dir)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("id", "payload"), "schema must survive")
  }

  test("updateWhere rewrites only matching directories; NULL rows pass through") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_upd").toString
    VersionedLake.appendCommit(Seq((1L, Some("a")), (2L, None)).toDF("id", "tag"), dir)
    VersionedLake.appendCommit(Seq((10L, Some("a")), (11L, Some("b"))).toDF("id", "tag"), dir)
    val m0 = VersionedLake.manifest(s, dir, 1)
    // matches live only in the SECOND dir (tag='b'); first carries verbatim
    VersionedLake.updateWhere(s, dir, col("tag") === "b",
      Map("tag" -> concat(col("tag"), lit("!"))))
    val m1 = VersionedLake.manifest(s, dir, 2)
    assert(m1.contains(m0(0)), "non-matching directory must carry over verbatim")
    assert(!m1.contains(m0(1)), "the matching directory must be rewritten")
    val rows = VersionedLake.read(s, dir).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows === Map(1L -> Some("a"), 2L -> None, 10L -> Some("a"), 11L -> Some("b!")),
      "only matching rows update; NULL-predicate rows pass through untouched")
    // pre-update snapshot intact
    assert(VersionedLake.readVersion(s, dir, 1).filter(col("tag") === "b").count() === 1L)
  }

  test("keyed-CoW candidate pruning: blooms prune interleaved keys stats can't") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ups_bloom").toString
    val bloom = Some(VersionedLake.BloomConfig(Seq("id"), bits = 1 << 14))
    // keys INTERLEAVED mod 3: every directory's [min,max] spans the whole
    // domain, so the stats layer keeps all three dirs by construction
    def batch(res: Long) =
      (0L to 299L).filter(_ % 3 == res).map(i => (i, s"p$i")).toDF("id", "payload")
    VersionedLake.appendCommit(batch(0), dir, statsCols = Seq("id"), bloom = bloom)
    VersionedLake.appendCommit(batch(1), dir, statsCols = Seq("id"), bloom = bloom)
    VersionedLake.appendCommit(batch(2), dir, statsCols = Seq("id"), bloom = bloom)
    val m0 = VersionedLake.manifest(s, dir, 2)
    // a batch of residue-1 keys: only the middle directory can hold them
    val keyDf = Seq(1L, 103L, 250L).toDF("id")
    val cands = VersionedLake.pruneCandidates(s, dir, 2, keyDf, Seq("id"))
    assert(cands === Seq(m0(1)),
      s"blooms must prune the residue-0/2 dirs before the probe scan: $cands")
    // and the full upsert through the pruned probe rewrites exactly that dir
    val v = VersionedLake.upsert(s, dir,
      Seq((1L, "x1"), (103L, "x103"), (250L, "x250")).toDF("id", "payload"),
      keys = Seq("id"))
    val m1 = VersionedLake.manifest(s, dir, v)
    assert(m1.contains(m0(0)) && m1.contains(m0(2)) && !m1.contains(m0(1)))
    val got = VersionedLake.read(s, dir)
      .filter(col("id").isin(1L, 103L, 250L, 2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "x1"), (103L, "x103"), (250L, "x250"), (2L, "p2")))
  }

  test("updateWhere: predicate and every assignment RHS see the PRE-update row") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_upd_swap").toString
    VersionedLake.commit(
      Seq((1L, "a", "b"), (2L, "p", "q")).toDF("id", "x", "y"), dir)
    // SET x = y, y = x must SWAP (both RHS read the old row), and the
    // predicate references a column being assigned — chained withColumn
    // would stop matching after the first assignment flips it
    VersionedLake.updateWhere(s, dir, col("x") === "a",
      Map("x" -> col("y"), "y" -> col("x")))
    val got = VersionedLake.read(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "b", "a"), (2L, "p", "q")),
      "SET x=y, y=x must swap against the pre-update row")
  }

  test("readAppendedBetween: the manifest diff is the change feed; rewrites refuse") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_feed").toString
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "payload"), dir)
    VersionedLake.appendCommit(Seq((3L, "c")).toDF("id", "payload"), dir)
    assert(ids(VersionedLake.readAppendedBetween(s, dir, 0, 2)) === Set(2L, 3L))
    assert(ids(VersionedLake.readAppendedBetween(s, dir, 1, 2)) === Set(3L))
    assert(VersionedLake.readAppendedBetween(s, dir, 2, 2).count() === 0L)
    // a rewrite in the window makes "appended rows" inexpressible: refuse
    VersionedLake.deleteWhere(s, dir, col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      VersionedLake.readAppendedBetween(s, dir, 0, 3)
    }
    assert(e.getMessage.contains("rewrote"))
    // but a window past the rewrite works again
    VersionedLake.appendCommit(Seq((4L, "d")).toDF("id", "payload"), dir)
    assert(ids(VersionedLake.readAppendedBetween(s, dir, 3, 4)) === Set(4L))
  }

  test("deleteWhere on a partitioned table keeps the hive layout of rewrites") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_del_part").toString
    VersionedLake.commit(
      Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "y", "c")).toDF("id", "p", "payload"),
      dir, parts = Seq("p"))
    VersionedLake.deleteWhere(s, dir, col("id") === 1L)
    assert(ids(VersionedLake.read(s, dir)) === Set(2L, 3L))
    // the rewritten directory must still be hive-partitioned on p, so a
    // partition predicate prunes at the scan
    val d = VersionedLake.manifest(s, dir, 1).head
    val subdirs = new java.io.File(s"$dir/data/$d").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs === Set("p=x", "p=y"),
      s"rewrite must preserve the partition layout, got $subdirs")
    val plan = VersionedLake.read(s, dir).filter(col("p") === "x")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p"),
      s"partition pruning must survive the rewrite:\n$plan")
  }

  test("appendCommitTxn: a replayed batch no-ops; progress resumes on the next batch") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_txn").toString
    def batch(i: Long) = Seq((i, s"b$i")).toDF("id", "payload")
    val v0 = VersionedLake.appendCommitTxn(batch(0), dir, "ingest-A", batchId = 0)
    // failure replay: same (appId, batchId) with the SAME data again
    val vReplay = VersionedLake.appendCommitTxn(batch(0), dir, "ingest-A", batchId = 0)
    assert(vReplay === v0, "a committed batch must no-op on replay")
    assert(ids(VersionedLake.read(s, dir)) === Set(0L),
      "exactly-once: the replay must not append rows twice")
    // stale batchId (below the watermark) also no-ops
    assert(VersionedLake.appendCommitTxn(batch(0), dir, "ingest-A", batchId = -1) === v0)
    // the next batch commits normally; an unrelated writer has its own watermark
    val v1 = VersionedLake.appendCommitTxn(batch(1), dir, "ingest-A", batchId = 1)
    assert(v1 === v0 + 1)
    val v2 = VersionedLake.appendCommitTxn(batch(2), dir, "ingest-B", batchId = 0)
    assert(v2 === v1 + 1)
    assert(ids(VersionedLake.read(s, dir)) === Set(0L, 1L, 2L))
    assert(VersionedLake.txnWatermarks(s, dir, v2) ===
      Map("ingest-A" -> 1L, "ingest-B" -> 0L))
  }

  test("txn watermarks survive compaction, upsert, and delete") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_txn_carry").toString
    VersionedLake.appendCommitTxn(Seq((1L, "a")).toDF("id", "payload"),
      dir, "ingest-A", batchId = 7)
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "payload"), dir)
    val vOpt = VersionedLake.optimize(s, dir)
    assert(VersionedLake.txnWatermarks(s, dir, vOpt) === Map("ingest-A" -> 7L),
      "compaction must not forget writer progress")
    val vUp = VersionedLake.upsert(s, dir,
      Seq((2L, "b2")).toDF("id", "payload"), keys = Seq("id"))
    assert(VersionedLake.txnWatermarks(s, dir, vUp) === Map("ingest-A" -> 7L))
    val vDel = VersionedLake.deleteWhere(s, dir, col("id") === 1L)
    assert(VersionedLake.txnWatermarks(s, dir, vDel) === Map("ingest-A" -> 7L))
    // and the watermark still gates: a replay of batch 7 after all that no-ops
    val vReplay = VersionedLake.appendCommitTxn(Seq((9L, "ghost")).toDF("id", "payload"),
      dir, "ingest-A", batchId = 7)
    assert(vReplay === vDel)
    assert(ids(VersionedLake.read(s, dir)) === Set(2L))
  }

  test("history + rollback: metadata-only undo; watermarks and vacuum stay coherent") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_rollback").toString
    VersionedLake.appendCommitTxn(Seq((1L, "a")).toDF("id", "payload"),
      dir, "ingest", batchId = 0) // v0
    VersionedLake.appendCommitTxn(Seq((2L, "b")).toDF("id", "payload"),
      dir, "ingest", batchId = 1) // v1
    // v2: the bad commit to undo
    VersionedLake.appendCommit(Seq((666L, "corrupt")).toDF("id", "payload"), dir)
    val h = VersionedLake.history(s, dir)
    assert(h.map(_._1) === Seq(2L, 1L, 0L), "history lists newest first")
    assert(h.head._2 === 3 && h.last._2 === 1, "dir counts per version")
    assert(h.head._4 === Map("ingest" -> 1L), "history surfaces txn watermarks")
    val v3 = VersionedLake.rollback(s, dir, toVersion = 1L)
    assert(v3 === 3L)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L),
      "rollback restores the good snapshot")
    assert(ids(VersionedLake.readVersion(s, dir, 2)) === Set(1L, 2L, 666L),
      "the rolled-back version stays time-travelable until vacuum")
    // watermarks carry from the CURRENT version: batch 1 stays committed,
    // so the exactly-once writer resumes at batch 2 rather than replaying
    assert(VersionedLake.txnWatermarks(s, dir, v3) === Map("ingest" -> 1L))
    val vSame = VersionedLake.appendCommitTxn(Seq((9L, "x")).toDF("id", "payload"),
      dir, "ingest", batchId = 1)
    assert(vSame === v3, "pre-rollback batches must not replay")
    // vacuum keeps the restored snapshot's dirs, reclaims the bad commit's
    VersionedLake.vacuum(s, dir, keepVersions = 1, minAgeMs = 0L)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L))
    intercept[Exception] { VersionedLake.readVersion(s, dir, 2).collect() }
  }

  test("vacuum with a retention window keeps the newest K versions readable") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_retention").toString
    (0 until 5).foreach { i =>
      // full-snapshot commits: each version's dirs are exclusively its own,
      // so reclaim outside the window is observable
      VersionedLake.commit(Seq((i.toLong, s"v$i")).toDF("id", "payload"), dir)
    }
    VersionedLake.vacuum(s, dir, keepVersions = 3, minAgeMs = 0L)
    // the newest three (v2, v3, v4) time-travel; older reclaim
    (2L to 4L).foreach { v =>
      assert(ids(VersionedLake.readVersion(s, dir, v)) === Set(v),
        s"version $v is inside the retention window")
    }
    intercept[Exception] { VersionedLake.readVersion(s, dir, 1).collect() }
    assert(ids(VersionedLake.read(s, dir)) === Set(4L))
    // rollback still works within the window after the vacuum
    VersionedLake.rollback(s, dir, toVersion = 3L)
    assert(ids(VersionedLake.read(s, dir)) === Set(3L))
  }

  test("streaming foreachBatch through appendCommitTxn is exactly-once under epoch replay") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_txn_stream").toString
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](s)
    src.addData((1L, "a"), (2L, "b"))
    val q = src.toDF().toDF("id", "payload").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        VersionedLake.appendCommitTxn(batch, dir, "stream-1", id)
        // simulate the engine re-invoking the epoch after a sink-side
        // failure-before-ack: the second call must be a no-op
        VersionedLake.appendCommitTxn(batch, dir, "stream-1", id)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      src.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 3L),
      "each epoch's rows must land exactly once despite the replay")
  }
}
