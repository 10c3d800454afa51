package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

/** Merge-on-read equality deletes: O(delta) delete commits whose key
  * sets anti-join at read time, scoped to the directories published at
  * delete time — and the materialization that folds them back into
  * plain scans on the compaction cadence.
  */
class VersionedLakeMorSpec extends SparkSpec {

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def threeCommits(dir: String): Unit = {
    val s = spark
    import s.implicits._
    VersionedLake.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((10L, "c"), (11L, "d")).toDF("id", "payload"), dir, statsCols = Seq("id"))
    VersionedLake.appendCommit(
      Seq((20L, "e"), (21L, "f")).toDF("id", "payload"), dir, statsCols = Seq("id"))
  }

  test("deleteKeysMor hides keys WITHOUT rewriting any data directory") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor").toString
    threeCommits(dir)
    val m0 = VersionedLake.manifest(s, dir, 2)
    val v = VersionedLake.deleteKeysMor(s, dir, Seq(10L, 20L).toDF("id"), Seq("id"))
    assert(v === 3L)
    // zero data rewrite: the manifest lists the SAME directories
    assert(VersionedLake.manifest(s, dir, 3) === m0)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 11L, 21L))
    // time travel: the pre-delete snapshot still shows the rows
    assert(ids(VersionedLake.readVersion(s, dir, 2)) ===
      Set(1L, 2L, 10L, 11L, 20L, 21L))
    // scans of the manifest pruner's kept directories apply the delete too
    assert(ids(ManifestPruning.read(s, dir, col("id").between(10L, 21L),
      GreaterThanOrEqual("id", 10L), LessThanOrEqual("id", 21L))) === Set(11L, 21L))
    assert(ids(ManifestPruning.read(s, dir, col("id") === 10L, EqualTo("id", 10L))) === Set.empty)
    assert(ids(ManifestPruning.read(s, dir, col("id") === 11L, EqualTo("id", 11L))) === Set(11L))
  }

  test("a key re-inserted AFTER the delete is visible (scope pins at publish)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_reins").toString
    threeCommits(dir)
    VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id"))
    // append re-inserts id=10 with a new payload — outside the delete scope
    VersionedLake.appendCommit(Seq((10L, "z")).toDF("id", "payload"), dir,
      statsCols = Seq("id"))
    val rows = VersionedLake.read(s, dir)
      .filter(col("id") === 10L).select("payload").collect().map(_.getString(0))
    assert(rows.toSeq === Seq("z"),
      "the old copy stays deleted; the re-inserted row survives the anti-join")
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("materializeDeletes rewrites ONLY directories holding matches and drops the lines") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_mat").toString
    threeCommits(dir)
    VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id"))
    val before = VersionedLake.read(s, dir).orderBy("id").collect().toSeq
    val m0 = VersionedLake.manifest(s, dir, 2)
    val v = VersionedLake.materializeDeletes(s, dir)
    assert(v === 4L)
    assert(VersionedLake.dirEqDeletes(s, dir, v).isEmpty, "lines must drop")
    val m1 = VersionedLake.manifest(s, dir, v)
    assert(m1.contains(m0(0)) && m1.contains(m0(2)),
      "matchless directories carry verbatim even though the delete scoped them")
    assert(!m1.contains(m0(1)), "the directory holding id=10 must rewrite")
    assert(VersionedLake.read(s, dir).orderBy("id").collect().toSeq === before,
      "materialization must not change what readers see")
    // untouched dirs keep stats verbatim; the rewrite re-stats survivors
    val stats = VersionedLake.dirStats(s, dir, v)
    assert(stats(m0(0))("id") === (Some("1"), Some("2")))
    val newDir = m1.filterNot(m0.contains).head
    assert(stats(newDir)("id") === (Some("11"), Some("11")))
    // idempotent: nothing pending -> no-op returning the current version
    assert(VersionedLake.materializeDeletes(s, dir) === v)
  }

  test("keyed/predicate rewrites refuse to run over pending MoR deletes") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_guard").toString
    threeCommits(dir)
    VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id"))
    val ups = Seq((1L, "x")).toDF("id", "payload")
    intercept[IllegalArgumentException] {
      VersionedLake.upsert(s, dir, ups, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      VersionedLake.deleteKeys(s, dir, Seq(1L).toDF("id"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      VersionedLake.deleteWhere(s, dir, col("id") === 1L)
    }
    // ...and after materialization they work again
    VersionedLake.materializeDeletes(s, dir)
    VersionedLake.upsert(s, dir, ups, Seq("id"))
    assert(VersionedLake.read(s, dir).filter(col("id") === 1L)
      .select("payload").head().getString(0) === "x")
  }

  test("optimize materializes pending deletes as part of its rewrite") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_opt").toString
    threeCommits(dir)
    VersionedLake.deleteKeysMor(s, dir, Seq(10L, 20L).toDF("id"), Seq("id"))
    val v = VersionedLake.optimize(s, dir, statsCols = Seq("id"))
    assert(VersionedLake.dirEqDeletes(s, dir, v).isEmpty)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 11L, 21L))
  }

  test("appendCommit carries pending delete lines; change feed refuses in-window deletes") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_feed").toString
    threeCommits(dir)
    VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id")) // v3
    VersionedLake.appendCommit(Seq((30L, "g")).toDF("id", "payload"), dir,
      statsCols = Seq("id")) // v4
    assert(VersionedLake.dirEqDeletes(s, dir, 4).nonEmpty, "append must carry the line")
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 11L, 20L, 21L, 30L))
    // feed across the delete commit: retraction -> hard error
    intercept[IllegalArgumentException] {
      VersionedLake.readAppendedBetween(s, dir, 2, 4)
    }
    // feed entirely after the delete is fine (the line predates the window)
    assert(ids(VersionedLake.readAppendedBetween(s, dir, 3, 4)) === Set(30L))
  }

  test("vacuum retains referenced delete files, reclaims them after materialization") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_vac").toString
    threeCommits(dir)
    VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id"))
    val delRoot = new java.io.File(s"$dir/deletes")
    assert(delRoot.listFiles().count(_.isDirectory) === 1)
    // retention keeps the delete file while its manifest is retained
    VersionedLake.vacuum(s, dir, keepVersions = 1, minAgeMs = 0L)
    assert(delRoot.listFiles().count(_.isDirectory) === 1)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 11L, 20L, 21L))
    // after materialization nothing references it -> reclaimed
    VersionedLake.materializeDeletes(s, dir)
    VersionedLake.vacuum(s, dir, keepVersions = 1, minAgeMs = 0L)
    assert(delRoot.listFiles().count(_.isDirectory) === 0)
    assert(ids(VersionedLake.read(s, dir)) === Set(1L, 2L, 11L, 20L, 21L))
  }

  test("exactly-once: a replayed deleteKeysMor batch no-ops") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_mor_txn").toString
    threeCommits(dir)
    val v1 = VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id"),
      txn = Some("gdpr" -> 1L))
    val v2 = VersionedLake.deleteKeysMor(s, dir, Seq(10L).toDF("id"), Seq("id"),
      txn = Some("gdpr" -> 1L))
    assert(v1 === v2, "the replay must not publish a second delete")
    assert(VersionedLake.dirEqDeletes(s, dir, v1).size === 1)
  }

  test("upsertMor: one atomic commit updates + inserts with ZERO data rewrite") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_umor").toString
    threeCommits(dir)
    val m0 = VersionedLake.manifest(s, dir, 2)
    val v = VersionedLake.upsertMor(s, dir,
      Seq((10L, "C2"), (99L, "new")).toDF("id", "payload"), Seq("id"))
    assert(v === 3L)
    // prior directories carry VERBATIM; exactly one appended
    val m1 = VersionedLake.manifest(s, dir, 3)
    assert(m1.take(m0.size) === m0 && m1.size === m0.size + 1,
      "merge-on-read upsert must not rewrite any prior directory")
    val got = VersionedLake.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "b", 10L -> "C2", 11L -> "d",
      20L -> "e", 21L -> "f", 99L -> "new"))
    // pre-upsert snapshot intact
    assert(ids(VersionedLake.readVersion(s, dir, 2)) ===
      Set(1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("cloneTable: an independent copy of one version, services carried, MoR applied") {
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("vlake_clsrc").toString
    val dst = java.nio.file.Files.createTempDirectory("vlake_cldst").toString + "/t"
    threeCommits(src)
    LakeConstraints.add(s, src, "id_pos", "id >= 0")
    VersionedLake.deleteKeysMor(s, src, Seq(10L).toDF("id"), Seq("id"))
    val v = VersionedLake.cloneTable(s, src, dst)
    assert(v === 0L, "the clone is v0 of its own commit log")
    assert(ids(VersionedLake.read(s, dst)) === Set(1L, 2L, 11L, 20L, 21L),
      "pending MoR deletes apply — a clone is born clean")
    assert(VersionedLake.dirEqDeletes(s, dst, 0).isEmpty)
    // declared services carry: stats on id, and the CHECK constraint
    assert(VersionedLake.dirStats(s, dst, 0).values.forall(_.contains("id")))
    intercept[IllegalArgumentException](
      VersionedLake.appendCommit(Seq((-5L, "x")).toDF("id", "payload"), dst))
    // independence: source mutations after the clone are invisible to it
    VersionedLake.appendCommit(Seq((99L, "z")).toDF("id", "payload"), src)
    assert(!ids(VersionedLake.read(s, dst)).contains(99L))
    // and the clone refuses to overwrite an existing table
    intercept[IllegalArgumentException](VersionedLake.cloneTable(s, src, dst))
  }

  test("upsertMor replay is exactly-once; materialization folds the debt away") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_umor2").toString
    threeCommits(dir)
    val batch = Seq((11L, "D2"), (50L, "x")).toDF("id", "payload")
    val v1 = VersionedLake.upsertMor(s, dir, batch, Seq("id"), txn = Some("cdc" -> 1L))
    val v2 = VersionedLake.upsertMor(s, dir, batch, Seq("id"), txn = Some("cdc" -> 1L))
    assert(v1 === v2, "replayed batch must no-op at the commit")
    assert(VersionedLake.read(s, dir).count() === 7)
    // successive batch updates the ROW the first batch wrote (the second
    // delete's scope covers the first upsert's append directory)
    VersionedLake.upsertMor(s, dir, Seq((50L, "x2")).toDF("id", "payload"),
      Seq("id"), txn = Some("cdc" -> 2L))
    val got = VersionedLake.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(50L) === "x2" && got(11L) === "D2")
    VersionedLake.materializeDeletes(s, dir)
    val gotM = VersionedLake.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotM === got, "materialization must not change the answer")
    assert(VersionedLake.dirEqDeletes(s, dir,
      VersionedLake.currentVersion(s, dir).get).isEmpty)
  }
}
