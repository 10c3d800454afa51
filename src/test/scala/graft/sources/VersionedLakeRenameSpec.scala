package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only RENAME COLUMN: one manifest commit, zero data files
  * touched. Reads resolve the name indirection (old files carry the
  * former physical name, new files the logical one), prior versions
  * time-travel under their own manifests' names, and the guards keep a
  * former name from ever being silently rebound.
  */
class VersionedLakeRenameSpec extends SparkSpec {

  private def dataFiles(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/data"))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => s"${f.getPath}@${f.lastModified}")
      .toSet
  }

  test("rename is one manifest commit: zero data files touched, reads resolve") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ren").toString
    VersionedLake.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir,
      statsCols = Seq("id"))
    val before = dataFiles(dir)
    VersionedLake.renameColumn(s, dir, "payload", "body")
    assert(dataFiles(dir) === before, "rename must not touch a single data file")
    val got = VersionedLake.read(s, dir).select("id", "body")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (2L, "b")),
      "the logical column reads old files' data under the new name")
    // time travel: version 0's manifest still names it 'payload'
    val old = VersionedLake.readVersion(s, dir, 0)
    assert(old.columns.toSeq === Seq("id", "payload"),
      "prior versions read under their own schema")
  }

  test("appends after a rename write the new name; mixed directories read seamlessly") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ren2").toString
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "payload"), dir)
    VersionedLake.renameColumn(s, dir, "payload", "body")
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "body"), dir)
    val got = VersionedLake.read(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (2L, "b")),
      "old-name files and new-name files fold into one logical column")
    // filters and row-level ops work on the logical name
    assert(VersionedLake.read(s, dir).filter(col("body") === "a").count() === 1L)
    VersionedLake.deleteWhere(s, dir, col("body") === "a")
    assert(VersionedLake.read(s, dir).select("body").collect()
      .map(_.getString(0)).toSeq === Seq("b"))
  }

  test("stats keys translate; a former name can never be rebound") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ren3").toString
    VersionedLake.appendCommit(
      (1L to 100L).map(i => (i, s"p$i")).toDF("id", "payload"), dir,
      statsCols = Seq("id", "payload"))
    VersionedLake.renameColumn(s, dir, "id", "key")
    val cur = VersionedLake.currentVersion(s, dir).get
    val stats = VersionedLake.dirStats(s, dir, cur)
    assert(stats.values.head.keySet === Set("key", "payload"),
      "stat keys must follow the rename in the same commit")
    // reusing the former name as a NEW column is refused loudly
    val e = intercept[Exception](
      VersionedLake.appendCommit(Seq((1L, "x", 9L)).toDF("key", "payload", "id"), dir))
    assert(e.getMessage.toLowerCase.contains("former name"),
      s"expected the former-name guard, got: ${e.getMessage}")
    // and renaming something else ONTO a former name is refused too
    val e2 = intercept[Exception](VersionedLake.renameColumn(s, dir, "payload", "id"))
    assert(e2.getMessage.toLowerCase.contains("former name"))
  }

  test("rename chains (a→b→c) keep every former name readable") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ren4").toString
    VersionedLake.appendCommit(Seq((1L, 10.0)).toDF("id", "a"), dir)
    VersionedLake.renameColumn(s, dir, "a", "b")
    VersionedLake.appendCommit(Seq((2L, 20.0)).toDF("id", "b"), dir)
    VersionedLake.renameColumn(s, dir, "b", "c")
    VersionedLake.appendCommit(Seq((3L, 30.0)).toDF("id", "c"), dir)
    val got = VersionedLake.read(s, dir).select("id", "c")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "files written under a, b and c all resolve to the logical column")
    // a full compaction rewrites files under the logical name and drops
    // the indirection from the committed schema
    VersionedLake.optimize(s, dir)
    val v = VersionedLake.currentVersion(s, dir).get
    val sch = VersionedLake.versionSchema(s, dir, v).get
    assert(!VersionedLake.hasRenames(sch),
      "optimize normalizes names and drops the aka indirection")
    assert(VersionedLake.read(s, dir).select("c").count() === 3L)
  }

  test("DROP COLUMN is one manifest commit: tombstoned, projected away, never rebindable") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_drop").toString
    VersionedLake.appendCommit(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "score"), dir,
      statsCols = Seq("id", "score"))
    val before = dataFiles(dir)
    VersionedLake.dropColumn(s, dir, "score")
    assert(dataFiles(dir) === before, "drop must not touch a single data file")
    val df = VersionedLake.read(s, dir)
    assert(df.columns.toSeq === Seq("id", "v"), "the dropped column is projected away")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b")))
    // time travel still shows it
    assert(VersionedLake.readVersion(s, dir, 0).columns.contains("score"))
    // stats shed the dropped key in the same commit
    val cur = VersionedLake.currentVersion(s, dir).get
    assert(VersionedLake.dirStats(s, dir, cur).values.head.keySet === Set("id"))
    // the name can never be rebound: old files still carry its data
    val e = intercept[Exception](
      VersionedLake.appendCommit(Seq((3L, "c", 99.0)).toDF("id", "v", "score"), dir))
    assert(e.getMessage.contains("dropped"),
      s"expected the dropped-name guard, got: ${e.getMessage}")
    // appends WITHOUT the column flow normally; compaction sheds the tombstone
    VersionedLake.appendCommit(Seq((3L, "c")).toDF("id", "v"), dir)
    VersionedLake.optimize(s, dir)
    val sch = VersionedLake.versionSchema(s, dir,
      VersionedLake.currentVersion(s, dir).get).get
    assert(sch.fieldNames.toSeq === Seq("id", "v"),
      "optimize rewrites files without the column and drops the tombstone")
  }

  test("guards hold under case variance and constraints; OPTIMIZE sheds tombstones") {
    val s = spark
    import s.implicits._
    // dropped-name rebinding refused case-insensitively (Spark resolves
    // case-insensitively, so "STATUS" would bind old "status" bytes)
    val d1 = java.nio.file.Files.createTempDirectory("vlake_gcase").toString
    VersionedLake.appendCommit(Seq((1L, "a", "open")).toDF("id", "v", "status"), d1)
    VersionedLake.dropColumn(s, d1, "status")
    val e1 = intercept[Exception](
      VersionedLake.appendCommit(Seq((2L, "b", "X")).toDF("id", "v", "STATUS"), d1))
    assert(e1.getMessage.contains("dropped"))
    // renaming a CHECK-constrained column would silently neutralize the
    // constraint (future batches lack the old name; NULL passes) — refuse
    val d2 = java.nio.file.Files.createTempDirectory("vlake_gchk").toString
    VersionedLake.appendCommit(Seq((1L, 5.0)).toDF("id", "amount"), d2)
    LakeConstraints.add(s, d2, "pos", "amount > 0")
    val e2 = intercept[Exception](VersionedLake.renameColumn(s, d2, "amount", "amt"))
    assert(e2.getMessage.contains("pos"))
    // ...but an unrelated column containing the name as a substring drops fine
    VersionedLake.appendCommit(Seq((2L, 6.0, "z")).toDF("id", "amount", "note"), d2)
    VersionedLake.dropColumn(s, d2, "id"): Unit // "pos" says 'amount > 0' — no 'id' token
    // a full rewrite after a drop sheds the tombstone
    val d3 = java.nio.file.Files.createTempDirectory("vlake_gopt").toString
    VersionedLake.appendCommit(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "v", "junk"), d3)
    VersionedLake.dropColumn(s, d3, "junk")
    VersionedLake.optimize(s, d3)
    val vNow = VersionedLake.currentVersion(s, d3).get
    assert(VersionedLake.versionSchema(s, d3, vNow).get.fieldNames.toSeq ===
      Seq("id", "v"),
      "optimize is a full rewrite: tombstones shed from the manifest")
    assert(VersionedLake.read(s, d3).columns.toSeq === Seq("id", "v"))
  }

  test("changeArtifact=false skips the artifact; the feed refuses that window") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_noart").toString
    VersionedLake.appendCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    VersionedLake.deleteWhere(s, dir, col("id") === 1L, changeArtifact = false)
    assert(VersionedLake.read(s, dir).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L), "the delete itself is unaffected")
    val e = intercept[IllegalStateException](
      VersionedLake.readRowChanges(s, dir, 0, 1).collect())
    assert(e.getMessage.contains("no change artifact"),
      "opting out reverts the window to the artifact-less refusal contract")
  }

  test("the CDC feed spans rename/drop commits: metadata-only, zero events, names resolve") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_ren_cdc").toString
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "payload"), dir)       // v0
    VersionedLake.renameColumn(s, dir, "payload", "body")                       // v1
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "body"), dir)          // v2
    val feed = VersionedLake.readRowChanges(s, dir, -1, 2)
    assert(feed.columns.toSeq === Seq("id", "body", "_change_type", "_commit_version"),
      "the feed reports toVersion's logical names")
    val got = feed.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got === Set((1L, "a", "insert", 0L), (2L, "b", "insert", 2L)),
      "pre-rename frames resolve through the former name; the rename emits nothing")
    VersionedLake.dropColumn(s, dir, "body")                                    // v3
    VersionedLake.appendCommit(Seq((3L)).toDF("id"), dir)                       // v4
    val feed2 = VersionedLake.readRowChanges(s, dir, 2, 4)
    assert(feed2.columns.toSeq === Seq("id", "_change_type", "_commit_version"),
      "tombstoned columns are projected out of the feed")
    assert(feed2.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((3L, "insert")))
  }

  test("SQL: ALTER TABLE DROP COLUMN through the catalog") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cat_drop").toString
    spark.conf.set("spark.sql.catalog.gdrop", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdrop.root", root)
    VersionedLake.appendCommit(
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "junk"), s"$root/dt")
    spark.sql("ALTER TABLE gdrop.dt DROP COLUMN junk")
    assert(spark.table("gdrop.dt").columns.toSeq === Seq("id", "v"))
    assert(spark.sql("SELECT id, v FROM gdrop.dt WHERE v = 'b'").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "b")))
    // a dropped-then-renamed world still refuses rebinding through SQL
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gdrop.dt ADD COLUMN junk DOUBLE"))
    assert(e.getMessage.toLowerCase.contains("dropped"))
  }

  test("SQL: ALTER TABLE RENAME COLUMN through the catalog; scans read through") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cat_ren").toString
    spark.conf.set("spark.sql.catalog.gren", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gren.root", root)
    VersionedLake.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), s"$root/rt")
    spark.sql("ALTER TABLE gren.rt RENAME COLUMN payload TO body")
    val got = spark.sql("SELECT id, body FROM gren.rt WHERE body = 'b'").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((2L, "b")),
      "catalog scans resolve the indirection and filter on the new name")
    assert(spark.sql("SELECT payload FROM gren.rt VERSION AS OF 0").collect()
      .map(_.getString(0)).toSet === Set("a", "b"),
      "time travel reads the old version under its old name")
  }
}
