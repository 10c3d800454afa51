package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

/** Optimistic concurrency contract: the version number is claimed
  * create-exclusively at publish, so of two committers based on the same
  * version exactly one wins and the loser gets a
  * [[VersionedLake.CommitConflictException]] — never last-writer-wins
  * (which would silently drop the losing commit's rows from the table,
  * the first failure any multi-writer deployment hits: two foreachBatch
  * streams, or ingest racing OPTIMIZE).
  */
class VersionedLakeConcurrencySpec extends SparkSpec {

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("createExclusive: second writer of the same manifest name conflicts") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("vlake_excl").toString
    VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "first")
    val e = intercept[VersionedLake.CommitConflictException] {
      VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "second")
    }
    assert(e.getMessage.contains("concurrent"))
    // the winner's content is untouched and complete
    val src = scala.io.Source.fromFile(s"$dir/manifest/v=0.txt")
    try assert(src.mkString === "first") finally src.close()
    // no tmp litter from either attempt
    assert(!new java.io.File(s"$dir/manifest").listFiles.exists(_.getName.endsWith(".tmp")))
  }

  test("publishManifest with expectedBase fails fast when the table moved") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_base").toString
    VersionedLake.commit(Seq((1L, "a")).toDF("id", "payload"), dir)
    val schema = VersionedLake.read(s, dir).schema
    // both "writers" read base v=0; first publishes v=1
    VersionedLake.publishManifest(s, dir, VersionedLake.manifest(s, dir, 0), schema,
      expectedBase = Some(Some(0L)))
    // second still bases on v=0 -> conflict, nothing published
    intercept[VersionedLake.CommitConflictException] {
      VersionedLake.publishManifest(s, dir, Seq("stale"), schema,
        expectedBase = Some(Some(0L)))
    }
    assert(VersionedLake.currentVersion(s, dir) === Some(1L))
  }

  /** The committer race, runnable against any [[VersionedLake.CommitStore]]. */
  private def raceAppends(tag: String): Unit = {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory(s"vlake_race_$tag").toString
    VersionedLake.commit(Seq((0L, "seed")).toDF("id", "payload"), dir)
    val n = 8
    val fs = (1 to n).map { i =>
      Future(VersionedLake.appendCommit(Seq((i.toLong, s"w$i")).toDF("id", "payload"), dir))
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.toSet.size === n, "each commit must claim a distinct version")
    assert(VersionedLake.currentVersion(s, dir) === Some(n.toLong))
    assert(ids(VersionedLake.read(s, dir)) === (0L to n.toLong).toSet,
      "a lost-update (last-writer-wins) publish would drop a committer's rows")
  }

  test("concurrent appendCommits: every committer's rows survive") {
    raceAppends("fs")
  }

  // ------------------------------------------------------------------
  // Commit-protocol contract matrix: the same races must hold on a store
  // WITHOUT an atomic-exclusive rename (the S3 shape), where exclusivity
  // comes only from a conditional-PUT claim. Passing here documents
  // exactly what an object-store deployment needs: implement the claim
  // (If-None-Match / lock table) behind CommitStore and nothing else.
  // ------------------------------------------------------------------

  test("conditional-PUT store: concurrent appendCommits survive without atomic rename") {
    VersionedLake.withCommitStore(new VersionedLake.ConditionalPutStore) {
      raceAppends("condput")
    }
  }

  test("conditional-PUT store: createExclusive conflicts come from the claim, not the FS") {
    val s = spark
    VersionedLake.withCommitStore(new VersionedLake.ConditionalPutStore) {
      val dir = java.nio.file.Files.createTempDirectory("vlake_condput_excl").toString
      VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "first")
      val e = intercept[VersionedLake.CommitConflictException] {
        VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "second")
      }
      assert(e.getMessage.contains("conditional PUT"))
      val src = scala.io.Source.fromFile(s"$dir/manifest/v=0.txt")
      try assert(src.mkString === "first") finally src.close()
    }
    // and a fresh store instance still refuses to replace a published
    // object that predates it (the exists check backs the claim table)
    VersionedLake.withCommitStore(new VersionedLake.ConditionalPutStore) {
      val dir = java.nio.file.Files.createTempDirectory("vlake_condput_pre").toString
      VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "winner")
    }
  }

  test("ingest racing OPTIMIZE: no rows lost, loser re-bases") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("vlake_opt_race").toString
    VersionedLake.commit(Seq((0L, "seed")).toDF("id", "payload"), dir)
    val ingest = Future {
      (1 to 6).foreach { i =>
        VersionedLake.appendCommit(Seq((i.toLong, s"b$i")).toDF("id", "payload"), dir)
      }
    }
    val compact = Future {
      // under sustained ingest pressure optimize's bounded retry may give
      // up — by design (the next cadence call compacts); what it must
      // NEVER do is clobber a concurrent append
      (1 to 3).foreach { _ =>
        try VersionedLake.optimize(s, dir)
        catch { case _: VersionedLake.CommitConflictException => () }
      }
    }
    Await.result(ingest.zip(compact), 180.seconds)
    assert(ids(VersionedLake.read(s, dir)) === (0L to 6L).toSet,
      "optimize must re-base onto concurrent appends, never clobber them")
  }

  test("hadoop create store: concurrent appendCommits survive on O_EXCL create") {
    VersionedLake.withCommitStore(new VersionedLake.HadoopCreateCommitStore) {
      raceAppends("hadoopcreate")
    }
  }

  test("hadoop create store: loser of the exclusive create conflicts, winner's content survives") {
    val s = spark
    VersionedLake.withCommitStore(new VersionedLake.HadoopCreateCommitStore) {
      val dir = java.nio.file.Files.createTempDirectory("vlake_hc_excl").toString
      VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "first")
      val e = intercept[VersionedLake.CommitConflictException] {
        VersionedLake.createExclusive(s, s"$dir/manifest", "v=0.txt", "second")
      }
      assert(e.getMessage.contains("concurrent committer"))
      val src = scala.io.Source.fromFile(s"$dir/manifest/v=0.txt")
      try assert(src.mkString === "first") finally src.close()
    }
  }

  test("hadoop create store: ingest racing OPTIMIZE keeps every row") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    VersionedLake.withCommitStore(new VersionedLake.HadoopCreateCommitStore) {
      val dir = java.nio.file.Files.createTempDirectory("vlake_hc_opt").toString
      VersionedLake.commit(Seq((0L, "seed")).toDF("id", "payload"), dir)
      val ingest = Future {
        (1 to 6).foreach { i =>
          VersionedLake.appendCommit(Seq((i.toLong, s"b$i")).toDF("id", "payload"), dir)
        }
      }
      val compact = Future {
        (1 to 3).foreach { _ =>
          try VersionedLake.optimize(s, dir)
          catch { case _: VersionedLake.CommitConflictException => () }
        }
      }
      Await.result(ingest.zip(compact), 180.seconds)
      assert(ids(VersionedLake.read(s, dir)) === (0L to 6L).toSet)
    }
  }

  test("optimizeClustered losing a publish race strands no snapshot copy") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_clust_race").toString
    VersionedLake.appendCommit(
      (0L to 199L).map(k => (k, k % 7, s"p$k")).toDF("id", "grp", "payload"), dir)
    // fail the FIRST manifest publish (as a concurrent committer winning
    // the version would); the retry re-stages under a fresh UUID — the
    // loser's full promoted snapshot copy must not stay behind under data/
    val failOnce = new VersionedLake.CommitStore {
      private val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def atomicWrite(sp: org.apache.spark.sql.SparkSession, d: String,
          n: String, c: String): Unit =
        VersionedLake.FsCommitStore.atomicWrite(sp, d, n, c)
      def createExclusive(sp: org.apache.spark.sql.SparkSession, d: String,
          n: String, c: String): Unit =
        if (failed.compareAndSet(false, true))
          throw new VersionedLake.CommitConflictException("injected publish race")
        else VersionedLake.FsCommitStore.createExclusive(sp, d, n, c)
    }
    VersionedLake.withCommitStore(failOnce) {
      VersionedLake.optimizeClustered(s, dir, Seq("id", "grp"), numDirs = 4): Unit
    }
    val cur = VersionedLake.currentVersion(s, dir).get
    val referenced = (0L to cur).flatMap(v => VersionedLake.manifest(s, dir, v)).toSet
    val onDisk = new java.io.File(s"$dir/data").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(onDisk.subsetOf(referenced),
      s"conflict-losing attempt stranded snapshot dirs: ${onDisk -- referenced}")
    assert(ids(VersionedLake.read(s, dir)) === (0L to 199L).toSet,
      "retry must still publish the clustered snapshot intact")
  }

  test("optimizeClustered pointer-write failure AFTER the manifest landed deletes nothing") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_clust_ptr").toString
    VersionedLake.appendCommit(
      (0L to 99L).map(k => (k, k % 7, s"p$k")).toDF("id", "grp", "payload"), dir)
    // the manifest create succeeds; the pointer hint write then fails —
    // the manifest listing is authoritative, so the new version IS
    // published and its data directories must NOT be cleaned up
    val failPointer = new VersionedLake.CommitStore {
      private val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def atomicWrite(sp: org.apache.spark.sql.SparkSession, d: String,
          n: String, c: String): Unit =
        if (failed.compareAndSet(false, true))
          throw new java.io.IOException("injected pointer-write failure")
        else VersionedLake.FsCommitStore.atomicWrite(sp, d, n, c)
      def createExclusive(sp: org.apache.spark.sql.SparkSession, d: String,
          n: String, c: String): Unit =
        VersionedLake.FsCommitStore.createExclusive(sp, d, n, c)
    }
    val e = intercept[java.io.IOException] {
      VersionedLake.withCommitStore(failPointer) {
        VersionedLake.optimizeClustered(s, dir, Seq("id", "grp"), numDirs = 2): Unit
      }
    }
    assert(e.getMessage.contains("injected"))
    // v1 is the clustered snapshot and reads intact — a cleanup here
    // would have corrupted the current version
    assert(VersionedLake.currentVersion(s, dir) === Some(1L))
    assert(ids(VersionedLake.read(s, dir)) === (0L to 99L).toSet)
  }

  test("optimize keeps manifest stats + bloom skipping layers") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vlake_opt_layers").toString
    val bloom = Some(VersionedLake.BloomConfig(Seq("payload"), bits = 1 << 12, k = 5))
    (0 until 3).foreach { i =>
      VersionedLake.appendCommit(
        Seq((i * 10L, s"k$i")).toDF("id", "payload"),
        dir, statsCols = Seq("id"), bloom = bloom)
    }
    // compaction with NO explicit stats/bloom args must recover them from
    // the manifest, not drop them
    val v = VersionedLake.optimize(s, dir)
    assert(v === 3L)
    val stats = VersionedLake.dirStats(s, dir, 3L)
    assert(stats.size === 1 && stats.values.head.contains("id"),
      "auto-compaction dropped the manifest min/max stats layer")
    assert(stats.values.head("id") === (Some("0"), Some("20")))
    val blooms = VersionedLake.dirBlooms(s, dir, 3L)
    assert(blooms.size === 1 && blooms.values.head.contains("payload"),
      "auto-compaction dropped the manifest bloom layer")
    assert(blooms.values.head("payload")._1 === (1 << 12))
    // and the recovered layers actually skip: a probe outside the id range
    // or a key no row holds plans zero directories
    assert(ManifestPruning.kept(s, dir,
      GreaterThanOrEqual("id", 1000L), LessThanOrEqual("id", 2000L)).isEmpty)
    assert(ManifestPruning.kept(s, dir, EqualTo("payload", "absent")).isEmpty)
    assert(ids(ManifestPruning.read(s, dir, col("id").between(0, 10),
      GreaterThanOrEqual("id", 0L), LessThanOrEqual("id", 10L))) === Set(0L, 10L))
    assert(ids(ManifestPruning.read(s, dir, col("payload") === "k1",
      EqualTo("payload", "k1"))) === Set(10L))
  }
}
