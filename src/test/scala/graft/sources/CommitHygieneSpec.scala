package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}

/** Regressions from the round-12 self-review: commit-path hygiene around
  * crashed committers, CDC artifact addressing, and schema-evolution
  * guards under mixed partition specs.
  */
class CommitHygieneSpec extends SparkSpec {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("a STALE zero-length manifest (crashed committer) self-heals on the next commit") {
    val s = spark
    import s.implicits._
    val dir = tmp("heal_orphan")
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate a committer that crashed between create and close: a
    // permanent zero-length v=1.txt, stale beyond the grace window
    val f = new java.io.File(s"$dir/manifest/v=1.txt")
    assert(f.createNewFile())
    assert(f.setLastModified(
      System.currentTimeMillis() - VersionedLake.OrphanManifestGraceMs - 5000))
    // currentVersion skips it (never published)...
    assert(VersionedLake.currentVersion(s, dir).contains(0L))
    // ...and the next commit deletes the orphan and claims the slot
    // instead of conflicting forever
    VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(VersionedLake.currentVersion(s, dir).contains(1L))
    assert(VersionedLake.read(s, dir).count() === 2L)
  }

  test("post-close verification: a preempted publish surfaces as a conflict, not success") {
    val mine = "#schema...\nv=abc".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // own bytes: silent pass
    VersionedLake.assertOwnPublish("t/manifest/v=3.txt", mine, mine)
    // another committer's bytes (same length - the realistic collision:
    // two same-version manifests differ only in a fixed-width dir UUID)
    val theirs = "#schema...\nv=xyz".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    intercept[VersionedLake.CommitConflictException] {
      VersionedLake.assertOwnPublish("t/manifest/v=3.txt", mine, theirs)
    }
  }

  test("HadoopCreateCommitStore publishes succeed under post-close verification") {
    val s = spark
    import s.implicits._
    val dir = tmp("hcs_verify")
    VersionedLake.withCommitStore(new VersionedLake.HadoopCreateCommitStore) {
      VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "v"), dir)
      VersionedLake.appendCommit(Seq((2L, "b")).toDF("id", "v"), dir)
    }
    assert(VersionedLake.read(s, dir).count() === 2L)
  }

  test("a FRESH zero-length manifest (in-flight open fence) keeps its claim") {
    val s = spark
    import s.implicits._
    val dir = tmp("fence_live")
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "v"), dir)
    val f = new java.io.File(s"$dir/manifest/v=1.txt")
    assert(f.createNewFile()) // just-opened fence: mtime = now
    intercept[VersionedLake.CommitConflictException] {
      VersionedLake.publishManifest(s, dir,
        dirs = VersionedLake.manifest(s, dir, 0L),
        schema = VersionedLake.versionSchema(s, dir, 0L).get)
    }
  }

  test("CDC artifacts resolve versions under a tableDir containing a 'changes' path segment") {
    val s = spark
    import s.implicits._
    // the artifact-version join recovers _commit_version from the file
    // path; a first-occurrence '/changes/' match would extract the
    // tableDir's own segment and silently empty the feed
    val dir = tmp("chg_seg") + "/changes/orders"
    VersionedLake.appendCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    VersionedLake.upsert(s, dir, Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    VersionedLake.upsert(s, dir, Seq((2L, "b2")).toDF("id", "v"), Seq("id"))
    val chg = VersionedLake.readRowChanges(s, dir, 0L, 2L)
    val byVer = chg.groupBy("_commit_version").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each CoW upsert contributes its pre-image + post-image
    assert(byVer === Map(1L -> 2L, 2L -> 2L), s"got $byVer")
  }

  test("schema-evolution guards see partition columns of EVERY directory's spec") {
    val s = spark
    import s.implicits._
    val dir = tmp("guard_mixed")
    // dir A: hive-partitioned by bucketed column k; then evolve to flat
    VersionedLake.appendCommit(
      Seq((1, 1, "a"), (2, 2, "b")).toDF("id", "k", "v"), dir,
      parts = Seq("k"))
    VersionedLake.appendCommit(
      Seq((3, 3, "c")).toDF("id", "k", "v"), dir)
    val cur = VersionedLake.currentVersion(s, dir).get
    assert(VersionedLake.partitionColumns(s, dir, cur).isEmpty,
      "newest dir is flat (the append-alignment answer)")
    assert(VersionedLake.allPartitionColumns(s, dir, cur) === Set("k"),
      "the guard answer unions every directory's spec")
    // DROP of a partition column still refuses even though the NEWEST
    // dir is flat — dir A renders k's values into directory names
    intercept[IllegalArgumentException] {
      VersionedLake.dropColumn(s, dir, "k")
    }
    // rename and widen of a partition column are metadata-only now
    // (rendered strings re-parse exactly); PartitionRenameSpec /
    // VersionedLakeWidenSpec pin the read semantics — here just assert
    // they commit on the MIXED layout and rows survive intact
    VersionedLake.widenColumn(s, dir, "k", LongType): Unit
    VersionedLake.renameColumn(s, dir, "k", "k2"): Unit
    val got = VersionedLake.read(s, dir).select("id", "k2", "v").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((1, 1L, "a"), (2, 2L, "b"), (3, 3L, "c")))
    // a non-partition column still evolves fine on the mixed layout
    VersionedLake.widenColumn(s, dir, "id", LongType): Unit
  }

  test("DSv2 alterTable refuses one change list mixing RENAME/DROP with ADD COLUMN") {
    val s = spark
    import s.implicits._
    val root = tmp("alter_mix")
    s.conf.set("spark.sql.catalog.gmix", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gmix.root", root)
    VersionedLake.appendCommit(Seq((1L, "x")).toDF("id", "a"), s"$root/t")
    val cat = s.sessionState.catalogManager.catalog("gmix")
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array.empty[String], "t")
    // rename a->b then add a: would rebind the former name
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.renameColumn(Array("a"), "b"),
        TableChange.addColumn(Array("a"),
          org.apache.spark.sql.types.StringType))
    }
    // REFUSED UP FRONT: no half-applied ALTER — the rename never committed
    val cur = VersionedLake.currentVersion(s, s"$root/t").get
    assert(VersionedLake.versionSchema(s, s"$root/t", cur).get
      .fieldNames.toSeq === Seq("id", "a"))
    // adding a duplicate of a LIVE column also refuses
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("a"),
          org.apache.spark.sql.types.StringType))
    }
    // and duplicate adds within one list
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("c"),
          org.apache.spark.sql.types.StringType),
        TableChange.addColumn(Array("c"),
          org.apache.spark.sql.types.StringType))
    }
  }

  /** ERROR events logged by `loggerName` while `body` runs. */
  private def errorsLogged(loggerName: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "errors-logged", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.ERROR)
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger(loggerName).asInstanceOf[Logger]
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }

  test("a lake write leaves no listener behind that logs later refused statements") {
    val s = spark
    import s.implicits._
    val root = tmp("no_listener")
    spark.conf.set("spark.sql.catalog.gnl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnl.root", root)
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "v"), s"$root/t",
      statsCols = Seq("id"))
    val errors = errorsLogged("org.apache.spark.sql.util.ExecutionListenerBus") {
      intercept[Exception] {
        spark.sql("CALL gnl.system.atomic('INSERT INTO gnl.atm_no_such VALUES (1)', 't')")
          .collect()
      }
      org.apache.spark.sql.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    }
    assert(errors.isEmpty, errors.mkString("\n"))
  }
}
