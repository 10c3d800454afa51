package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL-catalog face of the versioned lake: named tables, INSERT
  * INTO/OVERWRITE through the commit log, VERSION/TIMESTAMP AS OF time
  * travel, ADD COLUMN evolution, pushdown through the delegated parquet
  * scan, and the loud refusals (MoR-pending reads, time-travel writes).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_cat").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  test("CREATE TABLE / INSERT INTO / SELECT / SHOW TABLES round-trip") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.users (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.db.users VALUES (1, 'ada'), (2, 'bob')")
    spark.sql("INSERT INTO graft.db.users VALUES (3, 'eve')")
    val got = spark.sql("SELECT id, name FROM graft.db.users ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ada"), (2L, "bob"), (3L, "eve")))
    val shown = spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).toSet
    assert(shown.contains("users"))
    // each INSERT INTO is one append commit: create=0, +2 appends
    assert(VersionedLake.currentVersion(spark, s"$root/db/users").contains(2L))
  }

  test("INSERT OVERWRITE publishes a snapshot; VERSION AS OF still reads the past") {
    root
    spark.sql("CREATE TABLE graft.ow (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.ow VALUES (1, 'old'), (2, 'old')")
    spark.sql("INSERT OVERWRITE graft.ow VALUES (9, 'new')")
    assert(spark.sql("SELECT k FROM graft.ow").collect().map(_.getLong(0)).toSeq === Seq(9L))
    val past = spark.sql("SELECT k FROM graft.ow VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(past === Seq(1L, 2L), "version 1 (the first insert) must be intact")
  }

  test("TIMESTAMP AS OF resolves the newest manifest at or before the cutoff") {
    root
    spark.sql("CREATE TABLE graft.ts_t (k BIGINT)")
    spark.sql("INSERT INTO graft.ts_t VALUES (1)")
    Thread.sleep(1200) // manifest mtime resolution
    val cutoff = System.currentTimeMillis()
    Thread.sleep(1200)
    spark.sql("INSERT INTO graft.ts_t VALUES (2)")
    val lit = java.time.Instant.ofEpochMilli(cutoff).toString.replace("T", " ").stripSuffix("Z")
    val got = spark.sql(s"SELECT k FROM graft.ts_t TIMESTAMP AS OF '$lit' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L), "the second insert is after the cutoff")
  }

  test("identity-partitioned table: layout survives inserts and pruning reaches the scan") {
    root
    spark.sql("CREATE TABLE graft.pt (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO graft.pt VALUES (1, 'd1'), (2, 'd2')")
    spark.sql("INSERT INTO graft.pt VALUES (3, 'd1')")
    val q = spark.sql("SELECT id FROM graft.pt WHERE day = 'd1'")
    assert(q.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    val plan = q.queryExecution.executedPlan.toString
    // a NON-EMPTY partition filter: "PartitionFilters: []" + the pushed
    // data filter would pass a contains-only check while the layout had
    // silently flattened (the bug this pin now catches)
    assert(plan.contains("PartitionFilters: [isnotnull(day") ||
      plan.contains("PartitionFilters: [(day"),
      s"day filter must prune hive partitions, plan was:\n$plan")
  }

  test("INSERT OVERWRITE PARTITION replaces exactly that partition, in ONE commit") {
    root
    spark.sql("CREATE TABLE graft.po (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO graft.po VALUES (1, 'd1'), (2, 'd1'), (3, 'd2')")
    val before = VersionedLake.currentVersion(spark, s"$root/po").get
    spark.sql("INSERT OVERWRITE graft.po PARTITION (day = 'd1') VALUES (9)")
    val got = spark.sql("SELECT id, day FROM graft.po ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((3L, "d2"), (9L, "d1")),
      "d1 replaced by the batch, d2 carried untouched")
    assert(VersionedLake.currentVersion(spark, s"$root/po").get === before + 1,
      "the delete and the insert must land as ONE atomic commit")
    // the pre-overwrite state time-travels
    assert(spark.sql(s"SELECT count(*) FROM graft.po VERSION AS OF $before")
      .head().getLong(0) === 3L)
  }

  test("the FIRST write on an empty PARTITIONED BY table may be a partition overwrite") {
    root
    spark.sql("CREATE TABLE graft.pfirst (id BIGINT, day STRING) PARTITIONED BY (day)")
    // no INSERT INTO first: the overwrite's appended dir must follow the
    // DECLARED layout (nothing self-describing exists yet to copy)
    spark.sql("INSERT OVERWRITE graft.pfirst PARTITION (day = 'd1') VALUES (1)")
    spark.sql("INSERT INTO graft.pfirst VALUES (2, 'd2')")
    val q = spark.sql("SELECT id FROM graft.pfirst WHERE day = 'd2'")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(2L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day") ||
      plan.contains("PartitionFilters: [(day"),
      s"the declared hive layout must survive an overwrite-first lifecycle:\n$plan")
  }

  test("SHOW PARTITIONS walks the layout; DROP PARTITION deletes minimal-CoW") {
    root
    spark.sql("CREATE TABLE graft.sp (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO graft.sp VALUES (1, 'd1'), (2, 'd2'), (3, 'd1')")
    val all = spark.sql("SHOW PARTITIONS graft.sp").collect().map(_.getString(0)).sorted
    assert(all.toSeq === Seq("day=d1", "day=d2"))
    val one = spark.sql("SHOW PARTITIONS graft.sp PARTITION (day = 'd2')")
      .collect().map(_.getString(0))
    assert(one.toSeq === Seq("day=d2"), "the partial spec filters the listing")
    val before = VersionedLake.currentVersion(spark, s"$root/sp").get
    spark.sql("ALTER TABLE graft.sp DROP PARTITION (day = 'd1')")
    assert(spark.sql("SELECT id FROM graft.sp").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(VersionedLake.currentVersion(spark, s"$root/sp").get === before + 1,
      "DROP PARTITION is one minimal-CoW commit")
    assert(spark.sql("SHOW PARTITIONS graft.sp").collect().map(_.getString(0)).toSeq
      === Seq("day=d2"), "the dropped partition leaves the listing")
  }

  test("TRUNCATE TABLE empties the snapshot; the pre-truncate version time-travels") {
    root
    spark.sql("""CREATE TABLE graft.trunc (id BIGINT, day STRING)
                |PARTITIONED BY (day) TBLPROPERTIES ('stats.cols' = 'id')""".stripMargin)
    spark.sql("INSERT INTO graft.trunc VALUES (1, 'd1'), (2, 'd2')")
    val before = VersionedLake.currentVersion(spark, s"$root/trunc").get
    spark.sql("TRUNCATE TABLE graft.trunc")
    assert(spark.sql("SELECT count(*) FROM graft.trunc").head().getLong(0) === 0L)
    assert(spark.sql(s"SELECT count(*) FROM graft.trunc VERSION AS OF $before")
      .head().getLong(0) === 2L, "truncate is a commit, not an erasure")
    // the DECLARATIONS survive the truncate: the next insert continues
    // the stats layer and the hive layout
    spark.sql("INSERT INTO graft.trunc VALUES (9, 'd9')")
    assert(spark.sql("SELECT id FROM graft.trunc").head().getLong(0) === 9L)
    val stats = VersionedLake.dirStats(spark, s"$root/trunc",
      VersionedLake.currentVersion(spark, s"$root/trunc").get)
    assert(stats.values.exists(_.contains("id")),
      "the post-truncate insert must carry the declared stats layer on")
    assert(spark.sql("SHOW PARTITIONS graft.trunc").collect().map(_.getString(0)).toSeq
      === Seq("day=d9"), "the declared hive layout must survive the truncate")
    // the truncate's flat EMPTY snapshot dir must not count as a second
    // partition spec - that would route every post-truncate read through
    // the stats-blind V1 bridge until an OPTIMIZE dropped the dir
    val cur = VersionedLake.currentVersion(spark, s"$root/trunc").get
    assert(!VersionedLake.needsPerDirRead(spark, s"$root/trunc", cur),
      "a zero-row dir cannot mix partition specs")
    val q = spark.sql("SELECT id FROM graft.trunc WHERE day = 'd9'")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(9L))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftLakeMorReadThrough"),
      s"the post-truncate read must plan the stock pruned scan:\n$plan")
  }

  test("dynamic partition overwrite replaces only the partitions the batch touches") {
    root
    spark.sql("CREATE TABLE graft.pdyn (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO graft.pdyn VALUES (1, 'd1'), (2, 'd2'), (3, 'd3')")
    val prior = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE graft.pdyn VALUES (8, 'd1'), (9, 'd2')")
      val got = spark.sql("SELECT id, day FROM graft.pdyn ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq === Seq((3L, "d3"), (8L, "d1"), (9L, "d2")),
        "d1/d2 replaced (present in the batch), d3 carried")
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("replaceWhere feeds the CDC artifact: deletes + inserts in the commit's delta") {
    val s = spark
    import s.implicits._
    root
    spark.sql("CREATE TABLE graft.prw (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.prw VALUES (1, 'a'), (2, 'b')")
    val dir = s"$root/prw"
    val base = VersionedLake.currentVersion(s, dir).get
    VersionedLake.replaceWhere(s, dir, org.apache.spark.sql.functions.col("id") === 1L,
      Seq((7L, "x")).toDF("id", "v"))
    val ev = VersionedLake.readRowChanges(s, dir, base, base + 1)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ev === Set((1L, "a", "delete"), (7L, "x", "insert")),
      "the one commit's delta is exactly the replaced rows + the batch")
  }

  test("data filters push down to the delegated parquet scan") {
    root
    spark.sql("CREATE TABLE graft.pd (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.pd SELECT id, CAST(id AS STRING) FROM range(1000)")
    val q = spark.sql("SELECT id FROM graft.pd WHERE id > 990")
    assert(q.collect().length === 9)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,990"),
      s"id predicate must reach the parquet scan, plan was:\n$plan")
  }

  test("ALTER TABLE ADD COLUMN = union-by-name evolution (old rows null-fill)") {
    root
    spark.sql("CREATE TABLE graft.ev (id BIGINT)")
    spark.sql("INSERT INTO graft.ev VALUES (1)")
    spark.sql("ALTER TABLE graft.ev ADD COLUMN note STRING")
    spark.sql("INSERT INTO graft.ev VALUES (2, 'tagged')")
    val got = spark.sql("SELECT id, note FROM graft.ev ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === Seq((1L, None), (2L, Some("tagged"))))
  }

  test("a table written through the library API is queryable by name immediately") {
    val s = spark
    import s.implicits._
    root
    VersionedLake.appendCommit(
      Seq((10L, "x"), (11L, "y")).toDF("id", "tag"), s"$root/libtbl")
    val got = spark.sql("SELECT id FROM graft.libtbl ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(10L, 11L))
  }

  test("pending merge-on-read deletes READ THROUGH the catalog scan") {
    val s = spark
    import s.implicits._
    root
    val dir = s"$root/mor_t"
    VersionedLake.appendCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    VersionedLake.deleteKeysMor(spark, dir, Seq(1L).toDF("id"), Seq("id"))
    // the deleted key is invisible BY NAME, no materialization required:
    // the scan plans the scoped anti-join VersionedLake.read uses
    assert(spark.sql("SELECT id FROM graft.mor_t").collect()
      .map(_.getLong(0)).toSeq === Seq(2L),
      "upsertMor/deleteKeysMor-maintained tables must be SELECTable by name")
    // upsertMor state reads through too, with filters applied correctly
    VersionedLake.upsertMor(s, dir, Seq((2L, "b2"), (5L, "e")).toDF("id", "v"),
      keys = Seq("id"))
    val got = spark.sql("SELECT id, v FROM graft.mor_t WHERE id >= 2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((2L, "b2"), (5L, "e")))
    // materialization folds the debt; answers unchanged, fast path returns
    VersionedLake.materializeDeletes(spark, dir)
    assert(spark.sql("SELECT id FROM graft.mor_t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 5L))
  }

  test("time-travel snapshots are read-only") {
    root
    spark.sql("CREATE TABLE graft.ro (k BIGINT)")
    spark.sql("INSERT INTO graft.ro VALUES (1)")
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.ro VERSION AS OF 0 VALUES (2)"))
    assert(e != null)
  }

  test("metadata tables: $history, $files, $constraints are plain SQL") {
    root
    spark.sql("CREATE TABLE graft.meta_t (id BIGINT, price DOUBLE)")
    spark.sql("INSERT INTO graft.meta_t VALUES (1, 10.0)")
    spark.sql("INSERT INTO graft.meta_t VALUES (2, 20.0)")
    val hist = spark.sql("SELECT version, data_dirs FROM graft.`meta_t$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(hist.toSeq === Seq((0L, 1), (1L, 2), (2L, 3)),
      "create + two inserts -> three versions with growing dir counts")
    assert(spark.sql("SELECT dir FROM graft.`meta_t$files`").count() === 3)
    // rows/bytes ride the manifest: the three single-row inserts answer
    // per-directory sizing without touching a data file
    val sizes = spark.sql("SELECT rows, bytes FROM graft.`meta_t$files`")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sizes.map(_._1).sum === 2L && sizes.forall(_._2 > 0L),
      "the create dir carries 0 rows, each insert dir 1 - all with real " +
        s"bytes: ${sizes.toSeq}")
    LakeConstraints.add(spark, s"$root/meta_t", "price_pos", "price > 0")
    val cons = spark.sql("SELECT name, check FROM graft.`meta_t$constraints`").collect()
    assert(cons.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("price_pos", "price > 0")))
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.meta_t VALUES (3, -1.0)").collect())
    assert(e.getMessage.contains("price_pos"), "catalog INSERT must ride the constraint gate")
  }

  test("metadata table $deletes surfaces pending MoR delete debt with recorded counts") {
    root
    val s = spark
    import s.implicits._
    val dir = s"$root/deb"
    VersionedLake.appendCommit((1L to 50L).map(i => (i, s"v$i")).toDF("k", "vv"), dir)
    assert(spark.sql("SELECT * FROM graft.`deb$deletes`").count() === 0L,
      "no pending debt on a clean table")
    // a position delete records its exact counts; a keyed delete doesn't
    VersionedLake.deleteWhereMor(s, dir, org.apache.spark.sql.functions.col("k") <= 10L)
    VersionedLake.deleteKeysMor(s, dir, Seq(11L, 12L).toDF("k"), Seq("k"))
    val rows = spark.sql(
      "SELECT kind, keys, scoped_dirs, deleted_rows FROM graft.`deb$deletes` ORDER BY kind")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(rows.length === 2)
    assert(rows(0) === (("equality", "k", 1, -1L)),
      s"keyed deletes carry no counts (they never read data at commit): ${rows.toSeq}")
    assert(rows(1) === (("position", "_pos_file,_pos_row", 1, 10L)),
      s"position deletes surface their exact recorded total: ${rows.toSeq}")
    // the SQL face folds the debt; the dashboard empties
    spark.sql("CALL graft.system.materialize_deletes('deb')").collect()
    assert(spark.sql("SELECT * FROM graft.`deb$deletes`").count() === 0L)
    assert(spark.sql("SELECT count(*) FROM graft.deb").head().getLong(0) === 38L,
      "50 − 10 predicate-deleted − 2 keyed-deleted")
    // idempotent no-op when nothing is pending
    spark.sql("CALL graft.system.materialize_deletes('deb')").collect()
  }

  test("catalog INSERT carries the table's declared skipping layers") {
    val s = spark
    import s.implicits._
    root
    val dir = s"$root/skip_t"
    VersionedLake.appendCommit(Seq((1L, "a")).toDF("id", "tag"), dir,
      statsCols = Seq("id"),
      bloom = Some(VersionedLake.BloomConfig(Seq("tag"), bits = 1 << 12, k = 5)))
    spark.sql("INSERT INTO graft.skip_t VALUES (2, 'b')")
    val v = VersionedLake.currentVersion(s, dir).get
    assert(v === 1L)
    val stats = VersionedLake.dirStats(s, dir, v)
    assert(stats.size === 2 && stats.values.forall(_.contains("id")),
      s"the SQL-inserted directory must declare the same stat columns, got $stats")
    val blooms = VersionedLake.dirBlooms(s, dir, v)
    assert(blooms.size === 2 && blooms.values.forall(_.contains("tag")),
      "the SQL-inserted directory must carry the bloom layer too")
  }

  test("SQL DELETE FROM rides the minimal copy-on-write path; time travel intact") {
    root
    spark.sql("CREATE TABLE graft.del_t (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO graft.del_t SELECT id, CASE WHEN id % 2 = 0 THEN 'keep' ELSE 'drop' END FROM range(100)")
    spark.sql("DELETE FROM graft.del_t WHERE grp = 'drop'")
    assert(spark.sql("SELECT count(*) FROM graft.del_t").head().getLong(0) === 50L)
    assert(spark.sql("SELECT count(*) FROM graft.del_t VERSION AS OF 1").head().getLong(0) === 100L,
      "the pre-delete snapshot must survive")
    // unconditional DELETE = truncate; the emptied table stays readable
    spark.sql("DELETE FROM graft.del_t")
    assert(spark.sql("SELECT count(*) FROM graft.del_t").head().getLong(0) === 0L)
  }

  test("CREATE TABLE AS SELECT lands as create + one append commit") {
    root
    spark.sql("CREATE TABLE graft.ctas_t AS SELECT id, id * 2 AS dbl FROM range(10)")
    assert(spark.sql("SELECT sum(dbl) FROM graft.ctas_t").head().getLong(0) === 90L)
    assert(VersionedLake.currentVersion(spark, s"$root/ctas_t").contains(1L))
  }

  test("TBLPROPERTIES declare skipping layers; INSERTs continue them") {
    val s = spark
    root
    spark.sql("""CREATE TABLE graft.props_t (id BIGINT, tag STRING)
                |TBLPROPERTIES ('stats.cols'='id', 'bloom.cols'='tag', 'bloom.bits'='4096', 'bloom.k'='5')""".stripMargin)
    spark.sql("INSERT INTO graft.props_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.props_t VALUES (3, 'c')")
    val dir = s"$root/props_t"
    val v = VersionedLake.currentVersion(s, dir).get
    val stats = VersionedLake.dirStats(s, dir, v)
    assert(stats.size === 3 && stats.values.forall(_.contains("id")),
      s"every directory (create + 2 inserts) must declare id stats, got $stats")
    val blooms = VersionedLake.dirBlooms(s, dir, v)
    assert(blooms.size === 3 && blooms.values.forall(_.get("tag").exists(_._1 === 4096)),
      "every directory must carry the 4096-bit tag bloom declared at DDL time")
    // and the layers actually prune: a point read on tag plans no
    // directory whose bloom rejects it
    assert(ManifestPruning.kept(s, dir, org.apache.spark.sql.sources.EqualTo("tag", "c")) ===
      Seq(VersionedLake.manifest(s, dir, v).last))
    assert(spark.sql("SELECT id FROM graft.props_t WHERE tag = 'c'")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("TBLPROPERTIES check.* declare CHECK constraints at CREATE time") {
    root
    spark.sql("""CREATE TABLE graft.chk_t (id BIGINT, price DOUBLE)
                |TBLPROPERTIES ('check.price_pos'='price > 0')""".stripMargin)
    val cons = spark.sql("SELECT name, check FROM graft.`chk_t$constraints`").collect()
    assert(cons.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("price_pos", "price > 0")))
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.chk_t VALUES (1, -2.0)").collect())
    assert(e.getMessage.contains("price_pos"))
    spark.sql("INSERT INTO graft.chk_t VALUES (1, 2.0)")
    assert(spark.sql("SELECT count(*) FROM graft.chk_t").head().getLong(0) === 1L)
    // SHOW TBLPROPERTIES round-trips the declaration
    val props = spark.sql("SHOW TBLPROPERTIES graft.chk_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("check.price_pos").contains("price > 0"), s"got $props")
  }

  test("ALTER TABLE SET TBLPROPERTIES retrofits constraints and skipping layers") {
    val s = spark
    root
    spark.sql("CREATE TABLE graft.alter_t (id BIGINT, price DOUBLE)")
    spark.sql("INSERT INTO graft.alter_t VALUES (1, 5.0)")
    // constraint added later: snapshot-validated, then gates writes
    spark.sql("ALTER TABLE graft.alter_t SET TBLPROPERTIES ('check.price_pos'='price > 0')")
    intercept[Exception](
      spark.sql("INSERT INTO graft.alter_t VALUES (2, -1.0)").collect())
    // skipping layers from now on: the declaring empty append + carry rule
    spark.sql("ALTER TABLE graft.alter_t SET TBLPROPERTIES ('stats.cols'='id')")
    spark.sql("INSERT INTO graft.alter_t VALUES (3, 7.0)")
    val dir = s"$root/alter_t"
    val v = VersionedLake.currentVersion(s, dir).get
    val statted = VersionedLake.dirStats(s, dir, v)
    assert(statted.values.count(_.contains("id")) >= 2,
      s"the declaring append and the later INSERT must both carry id stats, got $statted")
    // and dropping the constraint re-opens the gate
    spark.sql("ALTER TABLE graft.alter_t UNSET TBLPROPERTIES ('check.price_pos')")
    spark.sql("INSERT INTO graft.alter_t VALUES (4, -1.0)")
    assert(spark.sql("SELECT count(*) FROM graft.alter_t").head().getLong(0) === 3L)
  }

  test("nested struct and array columns round-trip through the catalog") {
    root
    spark.sql("""CREATE TABLE graft.nest_t (
                |  id BIGINT,
                |  meta STRUCT<lang: STRING, score: DOUBLE>,
                |  tags ARRAY<STRING>)""".stripMargin)
    spark.sql("""INSERT INTO graft.nest_t VALUES
                |  (1, named_struct('lang', 'en', 'score', 0.9), array('a', 'b')),
                |  (2, named_struct('lang', 'de', 'score', 0.4), array())""".stripMargin)
    val got = spark.sql(
      "SELECT id, meta.lang, size(tags) FROM graft.nest_t WHERE meta.score > 0.5").head()
    assert((got.getLong(0), got.getString(1), got.getInt(2)) === ((1L, "en", 2)))
    // evolution beside nested columns
    spark.sql("ALTER TABLE graft.nest_t ADD COLUMN note STRING")
    spark.sql("""INSERT INTO graft.nest_t VALUES
                |  (3, named_struct('lang', 'fr', 'score', 0.7), array('z'), 'tagged')""".stripMargin)
    val rows = spark.sql("SELECT id, note FROM graft.nest_t ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(rows.toSeq === Seq((1L, None), (2L, None), (3L, Some("tagged"))))
  }

  test("manifest stats/bloom prune whole directories under SQL filters") {
    val s = spark
    import s.implicits._
    root
    val dir = s"$root/prune_t"
    // three key-clustered commits with stats + an id bloom
    val bloom = Some(VersionedLake.BloomConfig(Seq("id"), bits = 1 << 12, k = 5))
    VersionedLake.appendCommit((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"), bloom = bloom)
    VersionedLake.appendCommit((100L until 200L).map(i => (i, s"r$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"), bloom = bloom)
    VersionedLake.appendCommit((200L until 300L).map(i => (i, s"r$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"), bloom = bloom)
    def kept(): Int = org.apache.spark.sql.graft.LakePruningScanBuilder.lastKept.get.size
    // point SELECT: one directory survives (stats range + bloom)
    val pt = spark.sql("SELECT v FROM graft.prune_t WHERE id = 150").collect()
    assert(pt.map(_.getString(0)).toSeq === Seq("r150"))
    assert(kept() === 1, s"id=150 lives in exactly one of three directories, kept ${kept()}")
    // range: two directories
    assert(spark.sql("SELECT count(*) FROM graft.prune_t WHERE id >= 150 AND id < 250")
      .head().getLong(0) === 100L)
    assert(kept() === 2)
    // disjunction: first and third
    assert(spark.sql("SELECT count(*) FROM graft.prune_t WHERE id = 5 OR id = 250")
      .head().getLong(0) === 2L)
    assert(kept() === 2)
    // bloom kills a range-plausible but absent point? (id=150 exists; a
    // missing id within dir-2's range should prune everything by bloom —
    // false-positive rates permitting, assert <= 1 conservatively)
    assert(spark.sql("SELECT count(*) FROM graft.prune_t WHERE id = 1000000")
      .head().getLong(0) === 0L)
    assert(kept() === 0, "out-of-every-range key must keep zero directories")
    // and an unfilterable query still reads everything
    assert(spark.sql("SELECT count(*) FROM graft.prune_t").head().getLong(0) === 300L)
  }

  test("concurrent SQL INSERTs both land (lake OCC through the catalog)") {
    root
    spark.sql("CREATE TABLE graft.conc_t (id BIGINT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(spark.sql(s"INSERT INTO graft.conc_t VALUES ($i)"))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(spark.sql("SELECT count(*) FROM graft.conc_t").head().getLong(0) === 4L,
      "every racing committer must re-base and land")
    assert(VersionedLake.currentVersion(spark, s"$root/conc_t").contains(4L))
  }

  test("t$changes: the CDC feed is plain SQL, version predicates bound the window") {
    val s = spark
    import s.implicits._
    root
    val dir = s"$root/chg_t"
    VersionedLake.appendCommit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    VersionedLake.appendCommit(Seq((3L, "c")).toDF("id", "v"), dir)
    VersionedLake.upsert(s, dir, Seq((2L, "b2"), (9L, "new")).toDF("id", "v"),
      keys = Seq("id"))
    val all = spark.sql(
      "SELECT id, v, _change_type, _commit_version FROM graft.`chg_t$changes`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(all === Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L), (3L, "c", "insert", 1L),
      (2L, "b", "update_preimage", 2L), (2L, "b2", "update_postimage", 2L),
      (9L, "new", "insert", 2L)))
    // window narrowing: version predicates prune reconstruction AND rows
    val win = spark.sql(
      """SELECT id, v, _change_type FROM graft.`chg_t$changes`
        |WHERE _commit_version > 1 AND _commit_version <= 2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(win === Set(
      (2L, "b", "update_preimage"), (2L, "b2", "update_postimage"),
      (9L, "new", "insert")))
  }

  test("DROP and RENAME") {
    root
    spark.sql("CREATE TABLE graft.tmp_a (k BIGINT)")
    spark.sql("INSERT INTO graft.tmp_a VALUES (7)")
    spark.sql("ALTER TABLE graft.tmp_a RENAME TO tmp_b")
    assert(spark.sql("SELECT k FROM graft.tmp_b").collect().head.getLong(0) === 7L)
    spark.sql("DROP TABLE graft.tmp_b")
    val e = intercept[Exception](spark.sql("SELECT * FROM graft.tmp_b").collect())
    assert(e.getMessage.toLowerCase.contains("tmp_b") || e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("metadata tables: $refs lists named refs, $partitions maps the spec landscape") {
    root
    spark.sql("CREATE TABLE graft.meta2_t (id BIGINT, band BIGINT, cell BIGINT) " +
      "PARTITIONED BY (band)")
    spark.sql("INSERT INTO graft.meta2_t VALUES (1, 0, 0), (2, 1, 1)")
    LakeRefs.tag(spark, s"$root/meta2_t", "stable", 1L)
    val refs = spark.sql("SELECT name, kind, version, op FROM graft.`meta2_t$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(refs.toSeq === Seq(("stable", "tag", 1L, "append")))
    // pre-evolution: one live spec, and it is where writes go
    val before = spark.sql(
      "SELECT spec, data_dirs, rows, writes_here FROM graft.`meta2_t$partitions`")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(before.toSeq === Seq(("band", 1, 2L, true)))
    // evolve: the declared spec appears immediately (zero dirs yet), the
    // old spec stops being the write target
    spark.sql("CALL graft.system.set_partition_spec(table => 'meta2_t', parts => 'cell')")
    val mid = spark.sql(
      "SELECT spec, data_dirs, rows, writes_here FROM graft.`meta2_t$partitions` ORDER BY spec")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(mid.toSeq === Seq(("band", 1, 2L, false), ("cell", 0, 0L, true)))
    spark.sql("INSERT INTO graft.meta2_t VALUES (3, 2, 2)")
    val after = spark.sql(
      "SELECT spec, data_dirs, rows, writes_here FROM graft.`meta2_t$partitions` ORDER BY spec")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(after.toSeq === Seq(("band", 1, 2L, false), ("cell", 1, 1L, true)),
      "the post-evolution INSERT must land under the declared spec")
    // the evolved read still answers whole
    assert(spark.sql("SELECT id FROM graft.meta2_t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("LIMIT pushdown scans a manifest prefix; pushed filters disable it") {
    val s = spark
    import s.implicits._
    val dir = s"$root/limit_t"
    VersionedLake.appendCommit((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    VersionedLake.appendCommit((100L until 200L).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    VersionedLake.appendCommit((200L until 300L).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    def kept(): Int = org.apache.spark.sql.graft.LakePruningScanBuilder.lastKept.get.size
    assert(spark.sql("SELECT id FROM graft.limit_t LIMIT 10").collect().length === 10)
    assert(kept() === 1, s"LIMIT 10 covers inside the first 100-row dir, kept ${kept()}")
    assert(spark.sql("SELECT id FROM graft.limit_t LIMIT 150").collect().length === 150)
    assert(kept() === 2, s"LIMIT 150 needs two dirs, kept ${kept()}")
    // a data filter makes raw row counts meaningless for the prefix:
    // the limit must NOT shrink the dir set (every filter is post-scan)
    assert(spark.sql("SELECT id FROM graft.limit_t WHERE id % 2 = 0 LIMIT 10")
      .collect().length === 10)
    assert(kept() === 3, s"filtered LIMIT must scan all candidate dirs, kept ${kept()}")
    assert(spark.sql("SELECT count(*) FROM graft.limit_t").head().getLong(0) === 300L,
      "the un-limited read is untouched")
  }

  test("CREATE TABLE TBLPROPERTIES declares UNIQUE and FK constraints, enforced from row one") {
    root
    spark.sql("CREATE TABLE graft.ct_parent (pid BIGINT, nm STRING, " +
      "t STRING) TBLPROPERTIES('stats.cols'='pid')")
    spark.sql("INSERT INTO graft.ct_parent VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    spark.sql("CREATE TABLE graft.ct_child (id BIGINT, pid BIGINT, v STRING) " +
      "TBLPROPERTIES('unique.pk'='id', 'fk.par'='pid REFERENCES ct_parent (pid)', " +
      "'stats.cols'='id')")
    spark.sql("INSERT INTO graft.ct_child VALUES (10, 1, 'ok')")
    // duplicate key: the unique declared at CREATE time gates the insert
    val du = intercept[Exception](
      spark.sql("INSERT INTO graft.ct_child VALUES (10, 2, 'dup')"))
    assert(du.getMessage.contains("UNIQUE"), du.getMessage)
    // orphan key: the fk declared at CREATE time gates the insert
    val fk = intercept[Exception](
      spark.sql("INSERT INTO graft.ct_child VALUES (11, 99, 'orphan')"))
    assert(fk.getMessage.contains("FOREIGN KEY"), fk.getMessage)
    assert(spark.sql("SELECT count(*) FROM graft.ct_child").head().getLong(0) === 1L)
    // UNSET through the wrong kind prefix refuses; the right one drops
    val wrong = intercept[Exception](
      spark.sql("ALTER TABLE graft.ct_child UNSET TBLPROPERTIES('fk.pk')"))
    assert(wrong.getMessage.contains("UNIQUE"), wrong.getMessage)
    spark.sql("ALTER TABLE graft.ct_child UNSET TBLPROPERTIES('unique.pk')")
    spark.sql("INSERT INTO graft.ct_child VALUES (10, 2, 'dup-now-fine')")
    assert(spark.sql("SELECT count(*) FROM graft.ct_child").head().getLong(0) === 2L)
  }
}
