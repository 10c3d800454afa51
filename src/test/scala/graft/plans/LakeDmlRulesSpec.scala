package graft.plans

import graft.SparkSpec
import graft.sources.{GraftCatalog, VersionedLake}

/** SQL UPDATE / MERGE INTO on catalog tables, rewritten onto the lake's
  * minimal-rewrite machinery: updateWhere for UPDATE, upsertMor for the
  * CDC merge shape, deleteKeysMor for the delete-merge shape — with
  * out-of-shape statements left for Spark's own unsupported error.
  */
class LakeDmlRulesSpec extends SparkSpec {

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_dml").toString
    spark.conf.set("spark.sql.catalog.gdml", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdml.root", r)
    r
  }

  test("UPDATE ... SET ... WHERE rides updateWhere: pre-image semantics, minimal rewrite") {
    root
    spark.sql("CREATE TABLE gdml.upd (id BIGINT, status STRING, amt DOUBLE)")
    spark.sql("INSERT INTO gdml.upd VALUES (1, 'open', 10.0), (2, 'open', 20.0), (3, 'done', 30.0)")
    spark.sql("UPDATE gdml.upd SET status = 'done', amt = amt * 2 WHERE status = 'open'")
    val got = spark.sql("SELECT id, status, amt FROM gdml.upd ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, "done", 20.0), (2L, "done", 40.0), (3L, "done", 30.0)))
    // pre-update snapshot intact (time travel across SQL DML)
    val before = spark.sql("SELECT amt FROM gdml.upd VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getDouble(0))
    assert(before.toSeq === Seq(10.0, 20.0, 30.0))
  }

  test("UPDATE with swap assignments evaluates RHS against the pre-update row") {
    root
    spark.sql("CREATE TABLE gdml.swap (id BIGINT, a BIGINT, b BIGINT)")
    spark.sql("INSERT INTO gdml.swap VALUES (1, 10, 20)")
    spark.sql("UPDATE gdml.swap SET a = b, b = a")
    val r = spark.sql("SELECT a, b FROM gdml.swap").head()
    assert((r.getLong(0), r.getLong(1)) === ((20L, 10L)), "SET a=b, b=a must swap")
  }

  test("MERGE INTO (CDC shape) rides the keyed minimal copy-on-write upsert") {
    val s = spark
    root
    spark.sql("CREATE TABLE gdml.tgt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.tgt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW changes AS
                |SELECT * FROM VALUES (2, 'B2'), (9, 'new') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.tgt t USING changes c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // INT-typed VALUES source: resolution wraps the keys/values in casts;
    // the rule must see through them
    val got = spark.sql("SELECT k, v FROM gdml.tgt ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    val cur = VersionedLake.currentVersion(s, s"$root/tgt").get
    assert(VersionedLake.dirEqDeletes(s, s"$root/tgt", cur).isEmpty,
      "SQL MERGE takes the CoW path so the catalog scan reads clean")
    // pre-merge snapshot time-travelable across SQL MERGE
    assert(spark.sql("SELECT v FROM gdml.tgt VERSION AS OF 1 WHERE k = 2")
      .head().getString(0) === "b")
  }

  test("MERGE rewrites ONLY the directories the stats-pruned probe matches") {
    val s = spark
    root
    val tbl = s"$root/mprune"
    import s.implicits._
    // three key-range commits with o-key stats — the 100 TB layout the
    // minimal-CoW probe exists for
    VersionedLake.appendCommit(
      (0L to 99L).map(k => (k, s"v$k")).toDF("k", "v"), tbl, statsCols = Seq("k"))
    VersionedLake.appendCommit(
      (100L to 199L).map(k => (k, s"v$k")).toDF("k", "v"), tbl, statsCols = Seq("k"))
    VersionedLake.appendCommit(
      (200L to 299L).map(k => (k, s"v$k")).toDF("k", "v"), tbl, statsCols = Seq("k"))
    val before = VersionedLake.manifest(s, tbl, VersionedLake.currentVersion(s, tbl).get)
    spark.sql("""CREATE OR REPLACE TEMP VIEW mprune_changes AS
                |SELECT * FROM VALUES (CAST(150 AS BIGINT), 'upd'),
                |  (CAST(900 AS BIGINT), 'new') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.mprune t USING mprune_changes c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = VersionedLake.manifest(s, tbl, VersionedLake.currentVersion(s, tbl).get)
    // dirs 1 and 3 carry VERBATIM (stats exclude k=150/900); only dir 2
    // rewrites, plus the batch's one append
    assert(after.contains(before.head), "first range dir must carry untouched")
    assert(after.contains(before(2)), "third range dir must carry untouched")
    assert(!after.contains(before(1)), "matched dir must be rewritten")
    assert(after.size === 4,
      s"expect 2 carried + 1 rewritten + 1 appended, got ${after.size}: $after")
    assert(spark.sql("SELECT v FROM gdml.mprune WHERE k = 150").head().getString(0) === "upd")
    assert(spark.sql("SELECT v FROM gdml.mprune WHERE k = 900").head().getString(0) === "new")
    assert(spark.sql("SELECT count(*) FROM gdml.mprune").head().getLong(0) === 301L)
  }

  test("MERGE with duplicate source keys refuses (SQL unique-match rule)") {
    root
    spark.sql("CREATE TABLE gdml.dup (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.dup VALUES (1, 'a')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dup_src AS
                |SELECT * FROM VALUES (1, 'x'), (1, 'y') AS t(k, v)""".stripMargin)
    val e = intercept[Exception](
      spark.sql("""MERGE INTO gdml.dup t USING dup_src c ON t.k = c.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("multiple rows"),
      s"expected the unique-match refusal, got: ${e.getMessage}")
  }

  test("MERGE with duplicate matched keys that also violates a CHECK reports the constraint") {
    root
    spark.sql("""CREATE TABLE gdml.prec (k BIGINT, n BIGINT)
                |TBLPROPERTIES ('check.n_pos'='n > 0')""".stripMargin)
    spark.sql("INSERT INTO gdml.prec VALUES (1, 10)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW prec_src AS
                |SELECT * FROM VALUES (1, -1), (1, -2) AS t(k, n)""".stripMargin)
    val e = intercept[Exception](
      spark.sql("""MERGE INTO gdml.prec t USING prec_src c ON t.k = c.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("n_pos") && !e.getMessage.contains("multiple rows"),
      s"table constraints report before the duplicate-key refusal; got: ${e.getMessage}")
    assert(spark.sql("SELECT n FROM gdml.prec").collect().map(_.getLong(0)).toSeq === Seq(10L))
  }

  test("a MERGE failing before its gate cancels the still-running duplicate-key probe") {
    val s = spark
    root
    // keyed on k, but UNIQUE on v: the upsert refuses before its gate, on
    // manifest metadata alone, while the dup probe is still evaluating a
    // source that takes ~30 s to produce
    spark.sql("""CREATE TABLE gdml.gatecancel (k BIGINT, v BIGINT)
                |TBLPROPERTIES ('unique.v_u'='v')""".stripMargin)
    spark.sql("INSERT INTO gdml.gatecancel VALUES (1, 1)")
    spark.udf.register("slow_key", (x: Long) => { Thread.sleep(500); x })
    spark.sql("""CREATE OR REPLACE TEMP VIEW gatecancel_src AS
                |SELECT slow_key(id) AS k, id + 100 AS v FROM range(0, 60, 1, 1)""".stripMargin)
    val probeJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            String.valueOf(p.getProperty("spark.job.description")).startsWith("merge: dup probe")))
          probeJobs.put(e.jobId, String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[Exception](
        spark.sql("""MERGE INTO gdml.gatecancel t USING gatecancel_src c ON t.k = c.k
                    |WHEN MATCHED THEN UPDATE SET *
                    |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage.contains("v_u"), s"expected the UNIQUE refusal, got: ${e.getMessage}")
      assert(secs < 20.0, f"the failed MERGE waited $secs%.1f s for a probe it no longer needs")
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      import scala.jdk.CollectionConverters._
      // a cancelled job's end event reaches the status store asynchronously
      eventually(timeout(10.seconds)) {
        org.apache.spark.sql.graft.SparkInternals.drainListenerBus(s.sparkContext)
        probeJobs.asScala.foreach { case (id, group) =>
          assert(group.startsWith("merge: dup probe"), s"probe job $id ran outside its gate's group")
          val tracker = s.sparkContext.statusTracker
          assert(tracker.getJobIdsForGroup(group).toSeq.flatMap(tracker.getJobInfo(_).toList)
            .forall(_.status != org.apache.spark.JobExecutionStatus.RUNNING),
            s"the gate's group $group still has a running job")
        }
      }
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("MERGE ... WHEN MATCHED THEN DELETE rides the keyed copy-on-write delete") {
    root
    spark.sql("CREATE TABLE gdml.mdel (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.mdel VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW gone AS
                |SELECT * FROM VALUES (1, 'zz'), (3, 'zz') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.mdel t USING gone g ON t.k = g.k
                |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM gdml.mdel").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("MERGE with partial-column SET updates only assigned columns") {
    root
    spark.sql("CREATE TABLE gdml.pset (k BIGINT, status STRING, amt DOUBLE)")
    spark.sql("""INSERT INTO gdml.pset VALUES
                |(1, 'open', 10.0), (2, 'open', 20.0), (3, 'done', 30.0)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW pset_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(5.0 AS DOUBLE)),
                |  (CAST(3 AS BIGINT), CAST(7.0 AS DOUBLE)) AS t(k, delta)""".stripMargin)
    // RHS mixes target and source columns — qualified resolution must
    // survive the rewrite
    spark.sql("""MERGE INTO gdml.pset t USING pset_src c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET amt = t.amt + c.delta""".stripMargin)
    val got = spark.sql("SELECT k, status, amt FROM gdml.pset ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, "open", 15.0), (2L, "open", 20.0), (3L, "done", 37.0)),
      "unassigned columns carry; unmatched rows untouched")
  }

  test("MERGE WHEN MATCHED AND p gates the update; + INSERT * still appends new keys") {
    root
    spark.sql("CREATE TABLE gdml.cset (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.cset VALUES (1, 'keep'), (2, 'old')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW cset_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x'),
                |  (CAST(2 AS BIGINT), 'new2'), (CAST(9 AS BIGINT), 'nine')
                |AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.cset t USING cset_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'old' THEN UPDATE SET v = c.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.cset ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "keep"), (2L, "new2"), (9L, "nine")),
      "k=1 matched but failed the gate (not updated, not inserted); " +
        "k=2 updated; k=9 inserted")
  }

  test("gated MERGE is ROW-accurate: a duplicate-key row failing the gate survives") {
    val s = spark
    root
    val tbl = s"$root/gdup"
    import s.implicits._
    // duplicate target keys are legal; the gate verdict differs per row
    VersionedLake.appendCommit(
      Seq((1L, "b"), (1L, "z"), (2L, "b")).toDF("k", "v"), tbl)
    spark.sql("""CREATE OR REPLACE TEMP VIEW gdup_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'U'),
                |  (CAST(2 AS BIGINT), 'U') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.gdup t USING gdup_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'b' THEN UPDATE SET v = c.v""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.gdup ORDER BY k, v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "U"), (1L, "z"), (2L, "U")),
      "the gate-failing duplicate (1,'z') must survive the keyed rewrite")
    // same row-accuracy for the conditional DELETE
    spark.sql("""MERGE INTO gdml.gdup t USING gdup_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'z' THEN DELETE""".stripMargin)
    val got2 = spark.sql("SELECT k, v FROM gdml.gdup ORDER BY k, v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got2.toSeq === Seq((1L, "U"), (2L, "U")),
      "only the gate-passing duplicate row is deleted; its key-sibling survives")
  }

  test("a fully-gated-out MERGE is a no-op commit (no manifest growth)") {
    val s = spark
    root
    val tbl = s"$root/gnoop"
    import s.implicits._
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("k", "v"), tbl)
    val v0 = VersionedLake.currentVersion(s, tbl).get
    spark.sql("""CREATE OR REPLACE TEMP VIEW gnoop_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.gnoop t USING gnoop_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'nope' THEN UPDATE SET v = c.v""".stripMargin)
    assert(VersionedLake.currentVersion(s, tbl).get === v0,
      "nothing matched the gate: no version, no empty directory, no artifact")
  }

  test("MERGE WHEN MATCHED AND p THEN DELETE deletes only gated matches") {
    root
    spark.sql("CREATE TABLE gdml.cdel (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.cdel VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW cdel_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x'),
                |  (CAST(2 AS BIGINT), 'x') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.cdel t USING cdel_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'b' THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM gdml.cdel ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE purges rows absent from the source") {
    root
    spark.sql("CREATE TABLE gdml.sync (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.sync VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW sync_src AS
                |SELECT * FROM VALUES (CAST(2 AS BIGINT), 'x') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.sync t USING sync_src c ON t.k = c.k
                |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM gdml.sync ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(2L),
      "rows whose key the source lacks are deleted; matched rows untouched")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE AND p THEN UPDATE marks stale rows") {
    root
    spark.sql("CREATE TABLE gdml.stale (k BIGINT, status STRING)")
    spark.sql("INSERT INTO gdml.stale VALUES (1, 'live'), (2, 'live'), (3, 'gone')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW stale_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.stale t USING stale_src c ON t.k = c.k
                |WHEN NOT MATCHED BY SOURCE AND t.status = 'live'
                |THEN UPDATE SET status = 'stale'""".stripMargin)
    val got = spark.sql("SELECT k, status FROM gdml.stale ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "live"), (2L, "stale"), (3L, "gone")),
      "k=1 matched (kept); k=2 unmatched+gate (marked); k=3 unmatched but gate-failing (kept)")
  }

  test("conditional DELETE: a NULL gate means 'not satisfied' — the row survives") {
    val s = spark
    root
    val tbl = s"$root/gnull"
    import s.implicits._
    VersionedLake.appendCommit(
      Seq((1L, Some("x")), (1L, None), (2L, Some("y"))).toDF("k", "v"), tbl)
    spark.sql("""CREATE OR REPLACE TEMP VIEW gnull_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'z') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.gnull t USING gnull_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'x' THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.gnull ORDER BY k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === Seq((1L, None), (2L, Some("y"))),
      "the NULL-gate duplicate must survive (SQL: NULL condition = no action)")
  }

  test("NOT MATCHED BY SOURCE refuses target rows with NULL merge keys, loudly") {
    val s = spark
    root
    val tbl = s"$root/bsnull"
    import s.implicits._
    VersionedLake.appendCommit(
      Seq((Some(1L), "a"), (None, "ghost")).toDF("k", "v"), tbl)
    spark.sql("""CREATE OR REPLACE TEMP VIEW bsnull_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x') AS t(k, v)""".stripMargin)
    val e = intercept[Exception](
      spark.sql("""MERGE INTO gdml.bsnull t USING bsnull_src c ON t.k = c.k
                  |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    assert(e.getMessage.contains("NULL merge keys"),
      s"silently skipping a NULL-keyed unmatched row would be a wrong answer; got: ${e.getMessage}")
  }

  test("three-clause MERGE (the full mirror sync) lands in ONE commit") {
    root
    spark.sql("CREATE TABLE gdml.fsync (k BIGINT, v STRING, stale BOOLEAN)")
    spark.sql(
      "INSERT INTO gdml.fsync VALUES (1, 'a', false), (2, 'b', false), (3, 'c', false)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW fsync_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'a2', false),
                |  (CAST(9 AS BIGINT), 'new', false) AS t(k, v, stale)""".stripMargin)
    val before = VersionedLake.currentVersion(spark, s"$root/fsync").get
    spark.sql("""MERGE INTO gdml.fsync t USING fsync_src c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET v = c.v
                |WHEN NOT MATCHED THEN INSERT *
                |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.fsync ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a2"), (9L, "new")),
      "matched updated, unmatched inserted, by-source deleted")
    assert(VersionedLake.currentVersion(spark, s"$root/fsync").get === before + 1,
      "the three clauses must land as ONE atomic commit")
  }

  test("three-clause MERGE with gates: by-source UPDATE marks, matched gate filters") {
    root
    spark.sql("CREATE TABLE gdml.sync2 (k BIGINT, v STRING, stale BOOLEAN)")
    spark.sql(
      "INSERT INTO gdml.sync2 VALUES (1, 'a', false), (2, 'b', false), (3, 'keep', false)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW sync2_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'a2', false),
                |  (CAST(2 AS BIGINT), 'skip', false),
                |  (CAST(7 AS BIGINT), 'n7', false) AS t(k, v, stale)""".stripMargin)
    spark.sql("""MERGE INTO gdml.sync2 t USING sync2_src c ON t.k = c.k
                |WHEN MATCHED AND c.v <> 'skip' THEN UPDATE SET v = c.v
                |WHEN NOT MATCHED AND c.v <> 'skip' THEN INSERT *
                |WHEN NOT MATCHED BY SOURCE AND t.v = 'keep' THEN UPDATE SET stale = true""".stripMargin)
    val got = spark.sql("SELECT k, v, stale FROM gdml.sync2 ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.toSeq === Seq(
      (1L, "a2", false),   // matched, gate passed
      (2L, "b", false),    // matched, gate failed: untouched
      (3L, "keep", true),  // by-source, gate passed: marked stale
      (7L, "n7", false)))  // unmatched, insert gate passed
  }

  test("multiple matched arms: first passing gate wins, SQL clause order") {
    root
    spark.sql("CREATE TABLE gdml.arms (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.arms VALUES (1, 'del-me'), (2, 'upd-me'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW arms_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x'),
                |  (CAST(2 AS BIGINT), 'y') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.arms t USING arms_src c ON t.k = c.k
                |WHEN MATCHED AND t.v = 'del-me' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = c.v""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.arms ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((2L, "y"), (3L, "c")),
      "first arm deletes its gated row; second arm updates the rest")
  }

  test("duplicate source keys matching NO target row legally insert twice") {
    root
    spark.sql("CREATE TABLE gdml.dupok (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.dupok VALUES (1, 'a')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW dupok_src AS
                |SELECT * FROM VALUES (CAST(7 AS BIGINT), 'x'),
                |  (CAST(7 AS BIGINT), 'y') AS t(k, v)""".stripMargin)
    // unmatched duplicates are legal SQL MERGE — both rows insert; only
    // duplicates on a MATCHED key violate the unique-match rule
    spark.sql("""MERGE INTO gdml.dupok t USING dupok_src c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET v = c.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gdml.dupok WHERE k = 7").head().getLong(0) === 2L)
  }

  test("non-star INSERT arms: explicit column lists, expressions, NULL for unlisted") {
    root
    spark.sql("CREATE TABLE gdml.insarm (k BIGINT, v STRING, amt DOUBLE)")
    spark.sql("INSERT INTO gdml.insarm VALUES (1, 'a', 1.0)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW insarm_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'upd', 9.0),
                |  (CAST(7 AS BIGINT), 'big', 2.0),
                |  (CAST(8 AS BIGINT), 'small', 3.0),
                |  (CAST(9 AS BIGINT), 'none', 4.0) AS t(k, v, amt)""".stripMargin)
    val before = VersionedLake.currentVersion(spark, s"$root/insarm").get
    spark.sql("""MERGE INTO gdml.insarm t USING insarm_src c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET amt = c.amt
                |WHEN NOT MATCHED AND c.v = 'big' THEN
                |  INSERT (k, v, amt) VALUES (c.k, upper(c.v), c.amt * 10)
                |WHEN NOT MATCHED AND c.v = 'small' THEN
                |  INSERT (k, v) VALUES (c.k, c.v)""".stripMargin)
    val got = spark.sql("SELECT k, v, amt FROM gdml.insarm ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq === Seq(
      (1L, "a", Some(9.0)),      // matched: updated, never inserted
      (7L, "BIG", Some(20.0)),   // first arm: expression values
      (8L, "small", None)),      // second arm: unlisted amt inserts NULL
      "k=9 passed no insert gate and must not appear")
    assert(VersionedLake.currentVersion(spark, s"$root/insarm").get === before + 1,
      "matched update + both insert arms must land as ONE atomic commit")
  }

  test("multiple INSERT arms: first passing gate wins, SQL clause order") {
    root
    spark.sql("CREATE TABLE gdml.insord (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.insord VALUES (1, 'a')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW insord_src AS
                |SELECT * FROM VALUES (CAST(7 AS BIGINT), 'hit'),
                |  (CAST(8 AS BIGINT), 'miss') AS t(k, v)""".stripMargin)
    spark.sql("""MERGE INTO gdml.insord t USING insord_src c ON t.k = c.k
                |WHEN NOT MATCHED AND c.v = 'hit' THEN INSERT (k, v) VALUES (c.k, 'first')
                |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, 'second')""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.insord ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (7L, "first"), (8L, "second")),
      "k=7 passes both gates — the FIRST arm's values must win")
  }

  test("MERGE WITH SCHEMA EVOLUTION: new source columns add metadata-only, then merge") {
    root
    spark.sql("CREATE TABLE gdml.sevo (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.sevo VALUES (1, 'a'), (2, 'b')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW sevo_src AS
                |SELECT * FROM VALUES (CAST(2 AS BIGINT), 'b2', 'x2'),
                |  (CAST(9 AS BIGINT), 'new', 'x9') AS t(k, v, extra)""".stripMargin)
    val stmt = """MERGE WITH SCHEMA EVOLUTION INTO gdml.sevo t USING sevo_src c
                 |ON t.k = c.k
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    spark.sql(stmt)
    // re-run: the column exists now (needSchemaEvolution = false), so the
    // statement degrades to a plain aligned merge and converges
    spark.sql(stmt)
    val got = spark.sql("SELECT k, v, extra FROM gdml.sevo ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getString(2))))
    assert(got.toSeq === Seq(
      (1L, "a", None),           // pre-evolution row: extra null-backfills
      (2L, "b2", Some("x2")),    // matched: updated incl. the new column
      (9L, "new", Some("x9"))),  // inserted with the new column
      "WITH SCHEMA EVOLUTION must add 'extra' and run the aligned merge")
    // old versions time-travel with the narrow schema (metadata-only add)
    val v1 = spark.sql("SELECT * FROM gdml.sevo VERSION AS OF 1")
    assert(!v1.columns.contains("extra"),
      "pre-evolution versions must keep the pre-evolution schema")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens an INT target column to the source's BIGINT") {
    root
    spark.sql("CREATE TABLE gdml.wevo (k BIGINT, n INT)")
    spark.sql("INSERT INTO gdml.wevo VALUES (1, 10)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW wevo_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(3000000000 AS BIGINT)),
                |  (CAST(2 AS BIGINT), CAST(7 AS BIGINT)) AS t(k, n)""".stripMargin)
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO gdml.wevo t USING wevo_src c
                |ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val sch = spark.table("gdml.wevo").schema
    assert(sch("n").dataType === org.apache.spark.sql.types.LongType,
      "evolution must widen n to BIGINT (metadata-only widenColumn)")
    val got = spark.sql("SELECT k, n FROM gdml.wevo ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 3000000000L), (2L, 7L)),
      "the beyond-INT value must land exactly after the widen")
  }

  test("a gate guards its arm's throwing expression under ANSI (clause-order semantics)") {
    root
    spark.sql("CREATE TABLE gdml.ansi (k BIGINT, r DOUBLE)")
    spark.sql("INSERT INTO gdml.ansi VALUES (1, 0.5)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW ansi_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 5.0, 0.0),
                |  (CAST(7 AS BIGINT), 10.0, 0.0),
                |  (CAST(8 AS BIGINT), 9.0, 3.0) AS t(k, num, den)""".stripMargin)
    // k=1 matched with den=0, k=7 unmatched with den=0: both must take a
    // later (or no) arm WITHOUT evaluating the guarded num/den — eager
    // evaluation of every arm's values would raise DIVIDE_BY_ZERO here
    spark.sql("""MERGE INTO gdml.ansi t USING ansi_src c ON t.k = c.k
                |WHEN MATCHED AND c.den <> 0 THEN UPDATE SET r = c.num / c.den
                |WHEN NOT MATCHED AND c.den <> 0 THEN
                |  INSERT (k, r) VALUES (c.k, c.num / c.den)
                |WHEN NOT MATCHED THEN INSERT (k) VALUES (c.k)""".stripMargin)
    val got = spark.sql("SELECT k, r FROM gdml.ansi ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq === Seq(
      (1L, Some(0.5)),   // matched, gate failed: untouched, division never ran
      (7L, None),        // unmatched, first arm's gate failed: second arm, r NULL
      (8L, Some(3.0))))  // unmatched, first arm: guarded division ran where legal
  }

  test("key-reassigning UPDATE arm: delete+insert in ONE keyed-CoW commit") {
    val s = spark
    root
    spark.sql("CREATE TABLE gdml.krk (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.krk VALUES (1, 'a'), (2, 'b'), (5, 'e')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW krk_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT)) AS t(k)""".stripMargin)
    val before = VersionedLake.currentVersion(s, s"$root/krk").get
    // reassign key 1 -> 5: key 1's rows vanish, a NEW k=5 row appends,
    // and the EXISTING untouched k=5 row coexists (SQL enforces no
    // key uniqueness on UPDATE)
    spark.sql("""MERGE INTO gdml.krk t USING krk_src c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET k = t.k + 4, v = concat(t.v, '!')""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.krk ORDER BY k, v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((2L, "b"), (5L, "a!"), (5L, "e")),
      "old key gone, new-key row added, pre-existing same-key row untouched")
    assert(VersionedLake.currentVersion(s, s"$root/krk").get === before + 1,
      "the reassignment is ONE atomic commit")
    // the CDC artifact renders it honestly: old key deletes, new key inserts
    val chg = spark.sql(s"SELECT _change_type, k FROM gdml.`krk$$changes` " +
      s"WHERE _commit_version = ${before + 1}").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(chg === Set(("delete", 1L), ("insert", 5L)),
      s"key reassignment must feed CDC as delete(old)+insert(new): $chg")
  }

  test("IN (SELECT ...) matched gate plans as a real subquery, gating row-accurately") {
    root
    spark.sql("CREATE TABLE gdml.subg (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.subg VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW subg_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'A'),
                |(CAST(2 AS BIGINT), 'B'), (CAST(9 AS BIGINT), 'I') AS t(k, v)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW allow_list AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT)), (CAST(9 AS BIGINT)) AS t(id)""".stripMargin)
    // matched keys 1,2: only 1 is in the allow-list subquery; insert arm
    // gated by the same subquery admits 9
    spark.sql("""MERGE INTO gdml.subg t USING subg_src c ON t.k = c.k
                |WHEN MATCHED AND t.k IN (SELECT id FROM allow_list) THEN UPDATE SET v = c.v
                |WHEN NOT MATCHED AND c.k IN (SELECT id FROM allow_list) THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.subg ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "A"), (2L, "b"), (3L, "c"), (9L, "I")),
      "gate admits 1 (updated) and 9 (inserted); 2 matched but failed the gate")
  }

  test("scalar subquery in an assignment value (correlated and not)") {
    root
    spark.sql("CREATE TABLE gdml.subv (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gdml.subv VALUES (1, 10), (2, 20)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW subv_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)) AS t(k)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW subv_dim AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(100 AS BIGINT)),
                |(CAST(2 AS BIGINT), CAST(200 AS BIGINT)) AS t(id, bonus)""".stripMargin)
    spark.sql("""MERGE INTO gdml.subv t USING subv_src c ON t.k = c.k
                |WHEN MATCHED THEN UPDATE SET
                |  v = t.v + (SELECT bonus FROM subv_dim d WHERE d.id = t.k)
                |           + (SELECT min(bonus) FROM subv_dim)""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.subv ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 210L), (2L, 320L)),
      "correlated lookup + uncorrelated aggregate both evaluate per row")
  }

  test("NOT EXISTS gate on a by-source arm (subquery over the anti-join population)") {
    root
    spark.sql("CREATE TABLE gdml.subbs (k BIGINT, status STRING)")
    spark.sql("INSERT INTO gdml.subbs VALUES (1, 'live'), (2, 'live'), (3, 'live')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW subbs_src AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT)) AS t(k)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW keep_list AS
                |SELECT * FROM VALUES (CAST(3 AS BIGINT)) AS t(id)""".stripMargin)
    // rows 2,3 are NOT in the source; the EXISTS gate protects 3
    spark.sql("""MERGE INTO gdml.subbs t USING subbs_src c ON t.k = c.k
                |WHEN NOT MATCHED BY SOURCE AND NOT EXISTS
                |  (SELECT 1 FROM keep_list w WHERE w.id = t.k) THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k FROM gdml.subbs ORDER BY k").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 3L),
      "2 deleted (absent from source, not protected); 3 survives the EXISTS gate")
  }

  test("DELETE FROM ... WHERE k IN (SELECT ...) — the allow-list delete") {
    val s = spark
    root
    spark.sql("CREATE TABLE gdml.delsubq (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.delsubq VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW del_list AS
                |SELECT * FROM VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT)) AS t(id)""".stripMargin)
    spark.sql("DELETE FROM gdml.delsubq WHERE k IN (SELECT id FROM del_list)")
    val got = spark.sql("SELECT k FROM gdml.delsubq ORDER BY k").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 3L))
    // one commit, CoW (no pending eq-deletes), time travel intact
    val cur = VersionedLake.currentVersion(s, s"$root/delsubq").get
    assert(VersionedLake.dirEqDeletes(s, s"$root/delsubq", cur).isEmpty)
    assert(spark.sql("SELECT count(*) FROM gdml.delsubq VERSION AS OF 1")
      .head().getLong(0) === 4L)
  }

  test("UPDATE with IN-subquery predicate and scalar-subquery assignment") {
    root
    spark.sql("CREATE TABLE gdml.updsubq (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gdml.updsubq VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW upd_allow AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT)), (CAST(3 AS BIGINT)) AS t(id)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW upd_bonus AS
                |SELECT * FROM VALUES (CAST(1000 AS BIGINT)) AS t(b)""".stripMargin)
    spark.sql("""UPDATE gdml.updsubq
                |SET v = v + (SELECT min(b) FROM upd_bonus)
                |WHERE k IN (SELECT id FROM upd_allow)""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gdml.updsubq ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 1010L), (2L, 20L), (3L, 1030L)))
  }

  test("NOT IN / NOT EXISTS delete predicates (uncorrelated) work; CDC carries the delta") {
    val s = spark
    root
    spark.sql("CREATE TABLE gdml.delnot (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.delnot VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE OR REPLACE TEMP VIEW keep_ids AS
                |SELECT * FROM VALUES (CAST(2 AS BIGINT)) AS t(id)""".stripMargin)
    spark.sql("DELETE FROM gdml.delnot WHERE k NOT IN (SELECT id FROM keep_ids)")
    val got = spark.sql("SELECT k FROM gdml.delnot").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(2L))
    val cur = VersionedLake.currentVersion(s, s"$root/delnot").get
    val feed = VersionedLake.readRowChanges(s, s"$root/delnot", cur - 1, cur)
    val deleted = feed.filter(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted
    assert(deleted.toSeq === Seq(1L, 3L), "the CDC artifact carries the subquery-matched rows")
  }

  test("correlated subquery in a plain UPDATE stays refused (Spark's own error)") {
    root
    spark.sql("CREATE TABLE gdml.updcorr (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gdml.updcorr VALUES (1, 10)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW corr_dim AS
                |SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(5 AS BIGINT)) AS t(id, b)""".stripMargin)
    val e = intercept[Exception] {
      spark.sql("UPDATE gdml.updcorr SET v = (SELECT b FROM corr_dim d WHERE d.id = k)")
    }
    assert(e.getMessage != null)
    // the table is untouched
    assert(spark.sql("SELECT v FROM gdml.updcorr").head().getLong(0) === 10L)
  }
}
