package graft.sources

import graft.SparkSpec

/** The SQL maintenance surface: CALL graft.system.* drives the lake's
  * lifecycle operations by table name, returns the affected version as
  * a result set, and composes with the rest of the catalog (mirrors are
  * SELECTable, rollbacks time-travel, vacuum ends the window).
  */
class GraftProceduresSpec extends SparkSpec {

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_proc").toString
    spark.conf.set("spark.sql.catalog.gproc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gproc.root", r)
    r
  }

  test("CALL system.replicate bootstraps and syncs a SELECTable mirror") {
    root
    spark.sql("CREATE TABLE gproc.rsrc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gproc.rsrc VALUES (1, 'a'), (2, 'b')")
    val out = spark.sql(
      "CALL gproc.system.replicate(src => 'rsrc', dst => 'rdst', keys => 'k')")
    assert(out.columns.toSeq === Seq("version"),
      "the procedure returns the affected version")
    assert(spark.sql("SELECT k, v FROM gproc.rdst ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (2L, "b")))
    spark.sql("UPDATE gproc.rsrc SET v = 'a2' WHERE k = 1")
    spark.sql("DELETE FROM gproc.rsrc WHERE k = 2")
    spark.sql("CALL gproc.system.replicate('rsrc', 'rdst', 'k')")
    assert(spark.sql("SELECT k, v FROM gproc.rdst ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a2")),
      "SQL DML on the source propagates through the CDC feed")
  }

  test("CALL system.rollback republishes; system.vacuum ends the window") {
    root
    spark.sql("CREATE TABLE gproc.vt (k BIGINT)")
    spark.sql("INSERT INTO gproc.vt VALUES (1)")
    spark.sql("INSERT INTO gproc.vt VALUES (2)")
    spark.sql("CALL gproc.system.rollback('vt', 1)")
    assert(spark.sql("SELECT count(*) FROM gproc.vt").head().getLong(0) === 1L,
      "rollback to the one-row version")
    // vacuum with min_age_ms=0: no in-flight writers in this spec
    spark.sql("CALL gproc.system.vacuum('vt', 1, 0)")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM gproc.vt VERSION AS OF 0").collect())
    assert(e.getMessage.contains("v=0"),
      s"the refusal must be ABOUT the reclaimed manifest v=0: ${e.getMessage}")
    assert(spark.sql("SELECT count(*) FROM gproc.vt").head().getLong(0) === 1L,
      "the live snapshot survives vacuum")
  }

  test("CALL system.optimize compacts; clone_table branches a version") {
    root
    spark.sql("CREATE TABLE gproc.ot (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gproc.ot VALUES (1, 1.0)")
    spark.sql("INSERT INTO gproc.ot VALUES (2, 2.0)")
    spark.sql("INSERT INTO gproc.ot VALUES (3, 3.0)")
    spark.sql("CALL gproc.system.optimize('ot')")
    assert(spark.sql("SELECT count(*) FROM gproc.`ot$files`").head().getLong(0) === 1L,
      "plain optimize compacts to one directory")
    spark.sql("CALL gproc.system.clone_table('ot', 'ot_branch')")
    spark.sql("INSERT INTO gproc.ot_branch VALUES (9, 9.0)")
    assert(spark.sql("SELECT count(*) FROM gproc.ot_branch").head().getLong(0) === 4L)
    assert(spark.sql("SELECT count(*) FROM gproc.ot").head().getLong(0) === 3L,
      "the branch's writes never touch the source")
  }

  test("CALL system.tag names a version; VERSION AS OF reads it; drop_ref releases it") {
    root
    spark.sql("CREATE TABLE gproc.tg (k BIGINT)")
    spark.sql("INSERT INTO gproc.tg VALUES (1)")
    spark.sql("CALL gproc.system.tag('tg', 'v1-release')") // -1 = current
    spark.sql("INSERT OVERWRITE gproc.tg VALUES (9)")
    spark.sql("INSERT INTO gproc.tg VALUES (10)")
    assert(spark.sql("SELECT k FROM gproc.tg VERSION AS OF 'v1-release'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // the tag pins its version through vacuum
    spark.sql("CALL gproc.system.vacuum('tg', 1, 0)")
    assert(spark.sql("SELECT k FROM gproc.tg VERSION AS OF 'v1-release'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L),
      "a CALL-created tag must survive CALL-driven vacuum")
    spark.sql("CALL gproc.system.drop_ref('tg', 'v1-release')")
    intercept[Exception](
      spark.sql("SELECT k FROM gproc.tg VERSION AS OF 'v1-release'").collect())
  }

  test("create_mv/refresh_mv/drop_mv: durable auto-routed materialized view") {
    root
    val corpus = s"$root/mvsrc"
    def scannedRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toUri.getPath)
            case _ => Nil
          }
        case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          sr.relation.table match {
            case t: LakeTable => Seq(t.tableDir)
            case _            => Nil
          }
      }.flatten
    val q = "SELECT g, sum(v) AS total, CAST(count(*) AS BIGINT) AS n FROM gproc.mvsrc GROUP BY g"
    def answer(): Map[String, (Double, Long)] =
      spark.sql(q).collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    spark.sql("CREATE TABLE gproc.mvsrc (g STRING, v DOUBLE)")
    spark.sql("INSERT INTO gproc.mvsrc VALUES ('a', 1.0), ('a', 2.0), ('b', 5.0)")
    spark.sql(
      "CALL gproc.system.create_mv('mvsrc', 'mv_rollup', 'g', 'total=sum(v), n=count(*)')")
    // fresh: the rollup routes — no corpus scan at all
    assert(!scannedRoots(spark.sql(q)).exists(_.startsWith(corpus)))
    assert(answer() === Map("a" -> ((3.0, 2L)), "b" -> ((5.0, 1L))))
    // append without refresh: the STALE-COMBINE serves the new rows
    // exactly (view state + tail aggregate; never a full corpus scan)
    spark.sql("INSERT INTO gproc.mvsrc VALUES ('b', 7.0)")
    assert(answer() === Map("a" -> ((3.0, 2L)), "b" -> ((12.0, 2L))))
    assert(scannedRoots(spark.sql(q)).exists(_.startsWith(s"$corpus/data/")),
      "the stale route reads tail dirs, not the V2 corpus relation")
    // a rewrite declines until refresh_mv re-syncs
    spark.sql("UPDATE gproc.mvsrc SET v = 10.0 WHERE g = 'b' AND v = 5.0")
    assert(scannedRoots(spark.sql(q)).contains(corpus), "rewrite in window: full fall-through")
    assert(answer() === Map("a" -> ((3.0, 2L)), "b" -> ((17.0, 2L))))
    spark.sql("CALL gproc.system.refresh_mv('mvsrc')")
    assert(!scannedRoots(spark.sql(q)).exists(_.startsWith(corpus)))
    assert(answer() === Map("a" -> ((3.0, 2L)), "b" -> ((17.0, 2L))))
    // durability: a fresh session (registry wiped) rediscovers the MV
    // from the corpus props at its first table resolution
    LakeMv.clear()
    assert(!scannedRoots(spark.sql(q)).exists(_.startsWith(corpus)),
      "loadTable must re-register the persisted MV")
    // the state table is itself a SELECTable lake table
    assert(spark.sql("SELECT count(*) FROM gproc.mv_rollup").head().getLong(0) >= 2L)
    // drop: routing stops, and stays stopped across a registry wipe
    spark.sql("CALL gproc.system.drop_mv('mvsrc')")
    assert(scannedRoots(spark.sql(q)).contains(corpus))
    LakeMv.clear()
    assert(scannedRoots(spark.sql(q)).contains(corpus))
    assert(answer() === Map("a" -> ((3.0, 2L)), "b" -> ((17.0, 2L))))
  }

  test("CALL system.alter_mv: cap raise in place (watermark kept), column eviction, lowering refused") {
    root
    spark.sql("CREATE TABLE gproc.mvalt (g STRING, c BIGINT)")
    spark.sql("INSERT INTO gproc.mvalt SELECT 'a', id % 6 FROM range(0, 60)")
    spark.sql("CALL gproc.system.create_mv('mvalt', 'mv_alt', 'g', " +
      "'dset=distinct(c), n=count(c)', distinct_cap => 8)")
    // a delta of NEW values busts the MERGED per-group cap: the sync
    // fails, the view lags
    spark.sql("INSERT INTO gproc.mvalt SELECT 'a', 100 + id % 6 FROM range(0, 60)")
    intercept[Exception](spark.sql("CALL gproc.system.refresh_mv('mvalt')"))
    // recovery in place: raise the cap; refresh then succeeds and the
    // exact distinct is served again
    spark.sql("CALL gproc.system.alter_mv('mvalt', distinct_cap => 64)")
    spark.sql("CALL gproc.system.refresh_mv('mvalt')")
    val d = spark.sql(
      "SELECT CAST(count(DISTINCT c) AS BIGINT) AS d FROM gproc.mvalt").head().getLong(0)
    assert(d === 12L)
    // lowering below a group's current merged set refuses at DDL time
    val low = intercept[Exception](
      spark.sql("CALL gproc.system.alter_mv('mvalt', distinct_cap => 4)"))
    assert(low.getMessage.contains("above the requested cap"), low.getMessage)
    // eviction keeps the other column's state and the watermark
    spark.sql("CALL gproc.system.alter_mv('mvalt', drop_state_col => 'dset')")
    assert(spark.sql("SELECT count(c) AS n FROM gproc.mvalt").head().getLong(0) === 120L)
    assert(!VersionedLake.read(spark, s"$root/mv_alt").columns.contains("dset"),
      "eviction compacts the physical state column away")
    // altering with nothing to alter refuses
    intercept[Exception](spark.sql("CALL gproc.system.alter_mv('mvalt')"))
  }

  test("CALL system.atomic accepts nested CALL statements (Spark 4 parses CALL to its own plan node)") {
    root
    spark.sql("CREATE TABLE gproc.atm_c (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE gproc.atm_d (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gproc.atm_d VALUES (1, 'seed')")
    // CALL is not a Command/ParsedStatement in Spark 4 — it parses to
    // logical.Call (ExecutableDuringAnalysis); the DML gate must accept
    // it or batching maintenance with DML refuses with a misleading
    // 'bare query' error
    spark.sql(
      "CALL gproc.system.atomic(" +
        "'INSERT INTO gproc.atm_c VALUES (1, ''x''); " +
        "CALL gproc.system.analyze(''atm_d'', ''v'')', 'atm_c')").collect()
    assert(spark.sql("SELECT count(*) FROM gproc.atm_c").head().getLong(0) === 1L)
    // a bare SELECT still refuses
    val q = intercept[Exception](spark.sql(
      "CALL gproc.system.atomic('SELECT 1', 'atm_c')"))
    assert(q.getMessage.contains("DML"), q.getMessage)
  }

  test("system.atomic splitter matches the lexer under spark.sql.parser.escapedStringLiterals") {
    root
    spark.sql("CREATE TABLE gproc.atm_e (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE gproc.atm_f (k BIGINT, v STRING)")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try {
      // escapedStringLiterals changes how a literal's VALUE unescapes,
      // NOT where the lexer ends the token — so the splitter's quote
      // tracking must behave identically in both modes. Inner literals
      // are double-quoted so the OUTER single-quoted literal needs no
      // escaping at all; one carries a ';' and a backslash (kept
      // verbatim by escaped mode) that must stay inside the statement.
      spark.sql(
        "CALL gproc.system.atomic(" +
          raw"""'INSERT INTO gproc.atm_e VALUES (1, "semi ; back\slash"); """ +
          """INSERT INTO gproc.atm_f VALUES (2, "b")', 'atm_e')""").collect()
      assert(spark.sql("SELECT v FROM gproc.atm_e WHERE k = 1")
        .head().getString(0) === raw"semi ; back\slash",
        "escaped mode keeps the backslash; the ';' inside the literal must not split")
      assert(spark.sql("SELECT count(*) FROM gproc.atm_f").head().getLong(0) === 1L,
        "the ';' between the two statements must still split")
      // the refuted alternative (a conf-gated splitter) assumed `'a\'`
      // is a complete literal in escaped mode — it is unterminated SQL
      // in BOTH modes (the lexer always escape-consumes the quote after
      // a backslash), so the splitter staying in-string there mirrors a
      // statement the parser itself refuses
      intercept[Exception](
        spark.sql(raw"SELECT 'a\'").collect())
    } finally spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
  }

  test("unknown procedures and wrong namespaces refuse loudly") {
    root
    val e1 = intercept[Exception](spark.sql("CALL gproc.system.nonsense()"))
    assert(e1.getMessage.contains("nonsense"))
    // Spark wraps the namespace refusal in FAILED_TO_LOAD_ROUTINE
    val e2 = intercept[Exception](spark.sql("CALL gproc.other.vacuum('x')"))
    assert(e2.getMessage.toLowerCase.contains("failed to load routine"))
  }

  test("replicate_verify: zeros on a faithful mirror, counts divergence, ignores lag") {
    val s = spark
    root
    spark.sql("CREATE TABLE gproc.vsrc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gproc.vsrc VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("CALL gproc.system.replicate('vsrc', 'vdst', 'k')")
    def audit(): (Long, Long, Long) = {
      val r = spark.sql("CALL gproc.system.replicate_verify('vsrc', 'vdst')").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(audit()._2 === 0L)
    assert(audit()._3 === 0L)
    // source moves ahead: the audit compares at the mirror's WATERMARK,
    // so pure lag is not divergence
    spark.sql("INSERT INTO gproc.vsrc VALUES (9, 'z')")
    val lagged = audit()
    assert(lagged._2 === 0L && lagged._3 === 0L, s"lag must not read as divergence: $lagged")
    // out-of-band tampering on the mirror IS divergence
    import s.implicits._
    VersionedLake.appendCommit(Seq((77L, "phantom")).toDF("k", "v"), s"$root/vdst")
    val tampered = audit()
    assert(tampered._3 === 1L, s"the phantom row must surface as dst_only: $tampered")
    assert(tampered._2 === 0L)
  }

  test("create_text_index/text_search/refresh_text_index: SQL-native BM25 retrieval") {
    root
    spark.sql("CREATE TABLE gproc.docs (doc_id BIGINT, body STRING)")
    spark.sql("""INSERT INTO gproc.docs VALUES
                |(1, 'join scan join'), (2, 'filter only'), (3, 'nothing here')""".stripMargin)
    spark.sql("CALL gproc.system.create_text_index('docs', 'docs_idx', 'doc_id', 'body')")
    def hits(): Map[Long, Double] =
      spark.sql("CALL gproc.system.text_search('docs', 'join,scan,filter', 10)")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val first = hits()
    assert(first.keySet === Set(1L, 2L) && !first.contains(3L))
    assert(first(1L) > first(2L),
      "doc 1 holds two query terms (one twice); it must outrank doc 2")
    // the index answers exactly what a corpus scan would: spot-check via
    // the operator's own search over the registered index state
    // maintenance: update one doc, delete one, add one → refresh
    spark.sql("UPDATE gproc.docs SET body = 'nothing at all' WHERE doc_id = 1")
    spark.sql("DELETE FROM gproc.docs WHERE doc_id = 2")
    spark.sql("INSERT INTO gproc.docs VALUES (4, 'scan scan scan')")
    spark.sql("CALL gproc.system.refresh_text_index('docs')")
    val second = hits()
    assert(second.keySet === Set(4L),
      s"post-refresh: 1 updated away, 2 deleted, 4 inserted - got $second")
    // k caps the result set
    assert(spark.sql("CALL gproc.system.text_search('docs', 'scan', 1)").count() === 1L)
    // PHRASE search off the positional postings: doc 4 is 'scan scan
    // scan' → the phrase 'scan scan' occurs twice (overlapping)
    val phrase = spark.sql(
      "CALL gproc.system.text_search_phrase('docs', 'scan scan', 10)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(phrase === Map(4L -> 2L), s"overlapping phrase count: $phrase")
    assert(spark.sql(
      "CALL gproc.system.text_search_phrase('docs', 'nothing at', 10)")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // drop unregisters: search refuses loudly
    spark.sql("CALL gproc.system.drop_text_index('docs')")
    val e = intercept[Exception](hits())
    assert(e.getMessage.contains("no text index"), e.getMessage)
  }

  test("CALL system.explain_scan dry-runs the pruning: kept flags + untranslated conjuncts") {
    root
    val s = spark
    import s.implicits._
    val dir = s"$root/xscan"
    VersionedLake.appendCommit((0L until 100L).map(i => (i, s"r$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"))
    VersionedLake.appendCommit((100L until 200L).map(i => (i, s"r$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"))
    val out = spark.sql(
      "CALL gproc.system.explain_scan(table => 'xscan', predicate => 'id >= 150')")
      .collect().map(r => (r.getLong(1), r.getBoolean(3), r.getString(4)))
    assert(out.length === 2)
    assert(out.count(_._2) === 1, s"only the second dir can hold id >= 150: ${out.toSeq}")
    assert(out.forall(_._3 == null), "a plain range translates fully")
    // an untranslatable conjunct is reported, and pruning stays sound
    // (both dirs kept - the stats layer cannot reason about id % 7)
    val messy = spark.sql(
      "CALL gproc.system.explain_scan('xscan', 'id >= 150 AND id % 7 = 0')")
      .collect().map(r => (r.getBoolean(3), r.getString(4)))
    assert(messy.count(_._1) === 1, "the translatable range still prunes")
    assert(messy.forall(_._2 != null) && messy.head._2.contains("%"),
      s"the modulo conjunct must be reported untranslated: ${messy.toSeq}")
    // the claim column mirrors the plan's uniform-column decision: a
    // range on a NON-uniform column never claims (null), while a
    // uniform-column table reports exact-keep / exact-skip / residual
    assert(spark.sql("CALL gproc.system.explain_scan('xscan', 'id >= 150')")
      .collect().forall(_.getString(5) == null),
      "id is not directory-uniform: no claim")
    val cdir = s"$root/xclaim"
    Seq(10L -> 30, 20L -> 40).foreach { case (day, n) =>
      VersionedLake.appendCommit(
        (1 to n).map(i => (i.toLong, day)).toDF("k", "day"),
        cdir, statsCols = Seq("day"))
    }
    // one mixed dir → residual under the hybrid majority rule
    VersionedLake.appendCommit(
      Seq((100L, 20L), (101L, 30L)).toDF("k", "day"), cdir,
      statsCols = Seq("day"))
    val claims = spark.sql(
      "CALL gproc.system.explain_scan('xclaim', 'day = 20')")
      .collect().map(r => (r.getString(0), r.getString(5))).toMap
    assert(claims.values.toSeq.sorted === Seq("exact-keep", "exact-skip", "residual"),
      s"claim decisions must mirror the plan: $claims")
  }

  test("explain_scan and estimate_rows claim what the scan claims when zero-row dirs survive pruning") {
    root
    val s = spark
    import s.implicits._
    // live dirs: one uniform (day = 10) and two mixed; three zero-row
    // dirs, which `day != 10` does not prune. Over the live dirs the
    // uniform proof covers 1 of 3, so the scan claims nothing; counting
    // the zero-row dirs among the pruner's survivors would make it 4 of 6
    val dir = s"$root/xgate"
    VersionedLake.appendCommit((1 to 30).map(i => (i.toLong, 10L)).toDF("k", "day"), dir,
      statsCols = Seq("day"))
    (1 to 2).foreach { _ =>
      VersionedLake.appendCommit((1 to 10).map(i => (i.toLong, 20L + 10 * (i % 2))).toDF("k", "day"),
        dir, statsCols = Seq("day"))
    }
    (1 to 3).foreach(_ => VersionedLake.appendCommit(
      Seq.empty[(Long, Long)].toDF("k", "day"), dir, statsCols = Seq("day")))
    val v = VersionedLake.currentVersion(spark, dir).get
    assert(VersionedLake.dirRowCounts(spark, dir, v).values.map(_._1).toSeq.sorted ===
      Seq(0L, 0L, 0L, 10L, 10L, 30L))
    val q = spark.sql("SELECT count(*) FROM gproc.xgate WHERE day != 10")
    assert(q.head().getLong(0) === 20L)
    assert(!q.queryExecution.executedPlan.toString.contains("MetaAgg"),
      s"the scan claims no conjunct, so the count is a real scan:\n${q.queryExecution.executedPlan}")
    val claims = spark.sql("CALL gproc.system.explain_scan('xgate', 'day != 10')")
      .collect().map(r => (r.getBoolean(3), r.getString(5)))
    assert(claims.length === 6 && claims.forall(_ === ((true, null))),
      s"every dir is kept and none is claimed, as in the plan: ${claims.toSeq}")
    // the plan reads the three live dirs and filters per row; no layer
    // prices `!=`, so the scan reports their 50 rows
    assert(spark.sql("CALL gproc.system.estimate_rows('xgate', 'day != 10')")
      .head().getLong(0) === 50L)
  }

  test("CALL system.set_partition_spec + replicate: the declaration propagates to mirrors") {
    root
    spark.sql("CREATE TABLE gproc.evsrc (k BIGINT, band BIGINT, cell BIGINT) " +
      "PARTITIONED BY (band)")
    spark.sql("INSERT INTO gproc.evsrc VALUES (1, 0, 0), (2, 1, 1)")
    spark.sql("CALL gproc.system.replicate(src => 'evsrc', dst => 'evdst', keys => 'k')")
    spark.sql("CALL gproc.system.set_partition_spec(table => 'evsrc', parts => 'cell')")
    spark.sql("INSERT INTO gproc.evsrc VALUES (3, 2, 2)")
    spark.sql("CALL gproc.system.replicate('evsrc', 'evdst', 'k')")
    val dst = s"$root/evdst"
    val v = VersionedLake.currentVersion(spark, dst).get
    assert(VersionedLake.declaredSpec(spark, dst, v) === Some(Seq("cell")),
      "alignSchema must re-declare the mirror's layout")
    assert(spark.sql("SELECT k FROM gproc.evdst ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("CALL system.atomic: two INSERTs publish together or not at all") {
    root
    spark.sql("CREATE TABLE gproc.atm_a (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE gproc.atm_b (k BIGINT, v STRING)")
    val out = spark.sql(
      "CALL gproc.system.atomic(" +
        "'INSERT INTO gproc.atm_a VALUES (1, ''x;y''); " +   // quoted ';' survives
        "INSERT INTO gproc.atm_b VALUES (2, ''b'')', 'atm_a')").head().getLong(0)
    assert(out === 2L, "two staged table commits")
    assert(spark.sql("SELECT v FROM gproc.atm_a").head().getString(0) === "x;y")
    assert(spark.sql("SELECT count(*) FROM gproc.atm_b").head().getLong(0) === 1L)
    val va = VersionedLake.currentVersion(spark, s"$root/atm_a").get
    val vb = VersionedLake.currentVersion(spark, s"$root/atm_b").get
    // the second statement fails (unknown table): the first, already
    // staged, must never become visible
    intercept[Exception](spark.sql(
      "CALL gproc.system.atomic(" +
        "'INSERT INTO gproc.atm_a VALUES (3, ''dead''); " +
        "INSERT INTO gproc.no_such VALUES (1)', 'atm_a')"))
    assert(VersionedLake.currentVersion(spark, s"$root/atm_a").contains(va),
      "a failed transaction must publish nothing")
    assert(VersionedLake.currentVersion(spark, s"$root/atm_b").contains(vb))
    assert(spark.sql("SELECT count(*) FROM gproc.atm_a").head().getLong(0) === 1L)
    // constraint refusal aborts the same way (the gate runs at staging)
    spark.sql("ALTER TABLE gproc.atm_b SET TBLPROPERTIES('check.pos'='k > 0')")
    intercept[Exception](spark.sql(
      "CALL gproc.system.atomic(" +
        "'INSERT INTO gproc.atm_a VALUES (4, ''dead''); " +
        "INSERT INTO gproc.atm_b VALUES (-1, ''bad'')', 'atm_a')"))
    assert(VersionedLake.currentVersion(spark, s"$root/atm_a").contains(va),
      "a constraint refusal in statement 2 must abort statement 1's publish")
    // a bare SELECT refuses BEFORE any side effect — the batch stages
    // writes; a query would just materialize rows on the driver
    val q = intercept[Exception](spark.sql(
      "CALL gproc.system.atomic(" +
        "'SELECT * FROM gproc.atm_a; " +
        "INSERT INTO gproc.atm_a VALUES (5, ''dead'')', 'atm_a')"))
    assert(q.getMessage.contains("DML"), q.getMessage)
    assert(VersionedLake.currentVersion(spark, s"$root/atm_a").contains(va),
      "the refusal must precede every statement's execution")
    // backslash-escaped quotes inside a literal must not split the batch
    // outer literal encodes inner `it\'s; fine` (backslash-escaped quote):
    // the old quote-toggle splitter closed the inner string at \' and
    // split the batch at the ';' inside the literal
    spark.sql(
      "CALL gproc.system.atomic(" +
        raw"""'INSERT INTO gproc.atm_a VALUES (6, ''it\\''s; fine'')', """ +
        "'atm_a')").collect()
    val got = spark.sql("SELECT v FROM gproc.atm_a WHERE k = 6").head().getString(0)
    assert(got === "it's; fine" || got === raw"it\'s; fine",
      s"the escaped quote stays inside one statement, got '$got'")
  }

  test("CALL set_text_index_buckets + migrate_text_index: SQL-driven bucket evolution") {
    root
    spark.sql("CREATE TABLE gproc.evo_docs (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO gproc.evo_docs VALUES " +
      (1 to 200).map(i => s"($i, 'alpha beta w$i gamma')").mkString(", "))
    spark.sql("CALL gproc.system.create_text_index('evo_docs', 'evo_idx', 'doc_id', 'text')")
      .collect()
    val before = spark.sql(
      "CALL gproc.system.text_search('evo_docs', 'alpha,beta', 300)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    spark.sql("CALL gproc.system.set_text_index_buckets('evo_docs', 8)").collect()
    // new commits land under the declaration; probes stay exact across
    // both generations
    spark.sql("INSERT INTO gproc.evo_docs VALUES (900, 'alpha beta omega')")
    spark.sql("CALL gproc.system.refresh_text_index('evo_docs')").collect()
    val idxDir = s"$root/evo_idx"
    assert(InvertedIndexFacts.numBuckets(spark, idxDir) === 8)
    val mid = spark.sql(
      "CALL gproc.system.text_search('evo_docs', 'alpha,beta', 300)")
      .collect().map(r => r.getLong(0)).toSet
    assert(mid.contains(900L) && before.forall(b => mid.contains(b._1)),
      "mixed-generation probe finds both eras")
    // bounded drains tick down to 0; the legacy list clears
    var left = spark.sql(
      "CALL gproc.system.migrate_text_index('evo_docs', 2)").head().getLong(0)
    var guard = 0
    while (left > 0 && guard < 40) {
      left = spark.sql(
        "CALL gproc.system.migrate_text_index('evo_docs', 2)").head().getLong(0)
      guard += 1
    }
    assert(left === 0L && guard < 40)
    assert(InvertedIndexFacts.legacyBuckets(spark, idxDir).isEmpty)
    val after = spark.sql(
      "CALL gproc.system.text_search('evo_docs', 'alpha,beta', 300)")
      .collect().map(r => r.getLong(0)).toSet
    assert(after === mid, "the drain changes layout, never the answer")
    // drained-to-zero with vacuum => true: pre-migration postings
    // versions reclaim (their stale-bucket data was the only thing
    // keeping them alive), the single surviving generation still answers
    val postDir = graft.operators.InvertedIndex.postingsDir(idxDir)
    val vCur = VersionedLake.currentVersion(spark, postDir).get
    assert(vCur > 0, "migration committed new postings versions")
    spark.sql("CALL gproc.system.migrate_text_index('evo_docs', 2147483647, " +
      "true, 0)").collect()
    assert(VersionedLake.currentVersion(spark, postDir).contains(vCur),
      "a post-drain vacuum reclaims history, never the live snapshot")
    intercept[Exception](
      VersionedLake.readVersion(spark, postDir, 0).collect())
    val vacd = spark.sql(
      "CALL gproc.system.text_search('evo_docs', 'alpha,beta', 300)")
      .collect().map(r => r.getLong(0)).toSet
    assert(vacd === mid, "the vacuumed single-generation index still answers")
  }
}

/** Test-side alias: the operators package members under their public API. */
private object InvertedIndexFacts {
  def numBuckets(s: org.apache.spark.sql.SparkSession, idx: String): Int =
    graft.operators.InvertedIndex.numBuckets(s, idx)
  def legacyBuckets(s: org.apache.spark.sql.SparkSession, idx: String): Seq[Int] =
    graft.operators.InvertedIndex.legacyBuckets(s, idx)
}
