package graft.plans

import graft.SparkSpec
import graft.sources.{LakeMv, LakeView, VersionedLake}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Automatic query rewrite onto a maintained materialized view
  * ([[MvRewriteRule]] + [[graft.sources.LakeMv]]): eligible aggregates
  * over a registered corpus plan against the view's O(groups) state
  * table; everything else falls through to the corpus scan untouched.
  */
class MvRewriteSpec extends SparkSpec {

  private lazy val roots: (String, String, String) = {
    val s = spark
    import s.implicits._
    val catRoot = java.nio.file.Files.createTempDirectory("mv_cat").toString
    s.conf.set("spark.sql.catalog.mvcat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.mvcat.root", catRoot)
    val corpus = s"$catRoot/sales"
    val rows = (1 to 2000).map { i =>
      (i.toLong, s"t${i % 5}", s"r${i % 3}", (i % 97).toDouble / 4, (i % 11).toLong)
    }
    val df = rows.toDF("id", "event_type", "region", "value", "qty")
    VersionedLake.appendCommit(df.filter($"id" % 2 === 0), corpus)
    VersionedLake.appendCommit(df.filter($"id" % 2 === 1), corpus)
    val viewDir = java.nio.file.Files.createTempDirectory("mv_view").toString
    LakeView.sync(s, corpus, viewDir, stateOf)
    (catRoot, corpus, viewDir)
  }

  private def stateOf(df: DataFrame): DataFrame =
    df.groupBy("event_type", "region").agg(
      sum(col("value")).as("sum_value"),
      count(lit(1)).as("cnt"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value"),
      sum(col("qty")).as("sum_qty"),
      count(col("qty")).as("cnt_qty"))

  private def mvDef: LakeMv.MvDef = {
    val (_, corpus, viewDir) = roots
    LakeMv.MvDef(
      corpusDir = corpus,
      viewDir = viewDir,
      keys = Seq("event_type", "region"),
      aggs = Map(
        "sum_value" -> ("sum", "value"),
        "cnt" -> ("count", "*"),
        "min_value" -> ("min", "value"),
        "max_value" -> ("max", "value"),
        "sum_qty" -> ("sum", "qty"),
        "cnt_qty" -> ("count", "qty")))
  }

  private def registered[A](body: => A): A = {
    LakeMv.register(mvDef)
    try body finally LakeMv.clear()
  }

  /** The optimized plan's scan roots — exact paths, immune to the
    * treeString's path truncation: file-source relation root paths plus
    * lake-table dirs for surviving V2 relations.
    */
  private def scannedRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: graft.sources.LakeTable => Seq(t.tableDir)
          case _                          => Nil
        }
      case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        sr.relation.table match {
          case t: graft.sources.LakeTable => Seq(t.tableDir)
          case _                          => Nil
        }
    }.flatten

  private def assertRouted(df: DataFrame): Unit = {
    val (_, corpus, viewDir) = roots
    val rs = scannedRoots(df)
    assert(rs.exists(_.startsWith(viewDir)), s"expected a view scan of $viewDir in: $rs")
    assert(!rs.exists(_.startsWith(corpus)), s"expected NO corpus scan in: $rs")
  }

  private def assertNotRouted(df: DataFrame): Unit = {
    val (_, corpus, _) = roots
    assert(scannedRoots(df).exists(_.startsWith(corpus)),
      "expected the corpus scan (rewrite must decline)")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("exact-grain SQL aggregate routes to the view and answers exactly") {
    val s = spark
    roots: Unit
    val q = """SELECT event_type, region, sum(value) AS total,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM mvcat.sales GROUP BY event_type, region""".stripMargin
    val direct = sorted(s.sql(q))
    registered {
      val routed = s.sql(q)
      assertRouted(routed)
      assert(sorted(routed) === direct)
    }
  }

  test("roll-up to a key subset re-aggregates state: sum/count/min/max/avg") {
    val s = spark
    roots: Unit
    val q = """SELECT event_type, sum(value) AS total, CAST(count(*) AS BIGINT) AS n,
              |  min(value) AS lo, max(value) AS hi, avg(qty) AS mq
              |FROM mvcat.sales GROUP BY event_type""".stripMargin
    val direct = sorted(s.sql(q))
    registered {
      val routed = s.sql(q)
      assertRouted(routed)
      assert(sorted(routed) === direct)
    }
  }

  test("global aggregate (no GROUP BY) and key-only WHERE both route") {
    val s = spark
    roots: Unit
    val g = "SELECT sum(value) AS total, CAST(count(*) AS BIGINT) AS n FROM mvcat.sales"
    val w = """SELECT region, sum(value) AS total FROM mvcat.sales
              |WHERE event_type IN ('t1', 't3') GROUP BY region""".stripMargin
    val (gd, wd) = (sorted(s.sql(g)), sorted(s.sql(w)))
    registered {
      val (gr, wr) = (s.sql(g), s.sql(w))
      assertRouted(gr); assertRouted(wr)
      assert(sorted(gr) === gd)
      assert(sorted(wr) === wd)
    }
  }

  test("scalar shells over aggregates route: round(sum), quotient of calls") {
    val s = spark
    roots: Unit
    val q = """SELECT event_type, round(sum(value), 2) AS total,
              |  sum(value) / count(*) AS mean_v,
              |  max(value) - min(value) AS spread
              |FROM mvcat.sales GROUP BY event_type""".stripMargin
    val direct = sorted(s.sql(q))
    registered {
      val routed = s.sql(q)
      assertRouted(routed)
      assert(sorted(routed) === direct)
    }
  }

  test("declines: measure filter, non-key group, distinct, underivable aggregate") {
    val s = spark
    roots: Unit
    registered {
      // filter on a measure — does not commute with the aggregation
      assertNotRouted(s.sql(
        "SELECT event_type, sum(value) t FROM mvcat.sales WHERE value > 1 GROUP BY 1"))
      // grouping on a non-key column
      assertNotRouted(s.sql(
        "SELECT qty, sum(value) t FROM mvcat.sales GROUP BY qty"))
      // distinct aggregate has no stored state
      assertNotRouted(s.sql(
        "SELECT event_type, count(DISTINCT region) n FROM mvcat.sales GROUP BY 1"))
      // sum of a column the view never aggregated
      assertNotRouted(s.sql(
        "SELECT event_type, sum(id) t FROM mvcat.sales GROUP BY 1"))
    }
  }

  test("stale behind appends: view state + tail aggregate, never the full scan") {
    val s = spark
    import s.implicits._
    val (_, corpus, viewDir) = roots
    val q = "SELECT event_type, sum(value) AS total FROM mvcat.sales GROUP BY event_type"
    registered {
      assertRouted(s.sql(q))
      val synced = VersionedLake.currentVersion(s, corpus).get
      VersionedLake.appendCommit(
        Seq((9001L, "t1", "r0", 100.0, 3L)).toDF("id", "event_type", "region", "value", "qty"),
        corpus)
      val cur = VersionedLake.currentVersion(s, corpus).get
      val priorDirs = VersionedLake.manifest(s, corpus, synced)
      val tailDirs = VersionedLake.manifest(s, corpus, cur).filterNot(priorDirs.toSet)
      // the answer to compare against: the un-rewritten plan's truth
      LakeMv.clear()
      val truth = sorted(s.sql(q))
      LakeMv.register(mvDef)
      val combined = s.sql(q)
      val rs = scannedRoots(combined)
      assert(rs.exists(_.startsWith(viewDir)), s"combined plan must read the view state: $rs")
      assert(tailDirs.forall(d => rs.contains(s"$corpus/data/$d")),
        s"combined plan must read the unsynced tail directories: $rs vs $tailDirs")
      assert(priorDirs.forall(d => !rs.contains(s"$corpus/data/$d")),
        s"combined plan must NOT rescan the already-synced directories: $rs")
      assert(sorted(combined) === truth)
      // a REWRITE in the window poisons the combine: full fall-through
      VersionedLake.deleteWhere(s, corpus, col("id") === 9001L): Unit
      assertNotRouted(s.sql(q))
      // the next sync (rebuild over the rewrite) restores pure-view routing
      LakeView.sync(s, corpus, viewDir, stateOf)
      LakeMv.clear()
      val truth2 = sorted(s.sql(q))
      LakeMv.register(mvDef)
      val routed = s.sql(q)
      assertRouted(routed)
      assert(sorted(routed) === truth2)
    }
  }

  test("time travel never routes (a view reflects only the current version)") {
    val s = spark
    roots: Unit
    registered {
      assertNotRouted(s.sql(
        """SELECT event_type, sum(value) AS total
          |FROM mvcat.sales VERSION AS OF 0 GROUP BY event_type""".stripMargin))
    }
  }

  test("expression aggregates route: sum(value * qty) by analyzed equivalence") {
    val s = spark
    import org.apache.spark.sql.functions.expr
    val (_, corpus, _) = roots
    val viewDir2 = java.nio.file.Files.createTempDirectory("mv_expr_view").toString
    def stateOfX(df: DataFrame): DataFrame =
      df.groupBy("event_type").agg(
        sum(expr("value * qty")).as("rev"),
        count(expr("value * qty")).as("rev_n"),
        count(lit(1)).as("cnt"))
    LakeView.sync(s, corpus, viewDir2, stateOfX)
    val mvx = LakeMv.MvDef(corpus, viewDir2, keys = Seq("event_type"),
      aggs = Map(
        "rev" -> ("sum", "value * qty"),
        "rev_n" -> ("count", "value * qty"),
        "cnt" -> ("count", "*")))
    LakeMv.register(mvx)
    try {
      val q = "SELECT event_type, sum(value * qty) AS rev, avg(value * qty) AS a " +
        "FROM mvcat.sales GROUP BY event_type"
      // the reference bypasses the catalog (library read), so it can
      // never route — the routed answer must reproduce it exactly
      val direct = sorted(VersionedLake.read(s, corpus).groupBy("event_type")
        .agg(sum(expr("value * qty")).as("rev"), avg(expr("value * qty")).as("a")))
      val routed = s.sql(q)
      val rs = scannedRoots(routed)
      assert(rs.exists(_.startsWith(viewDir2)), s"expected the expression view: $rs")
      assert(!rs.exists(_.startsWith(corpus)), s"expected NO corpus scan: $rs")
      assert(sorted(routed) === direct,
        "coercion casts land on BOTH sides, so the routed answer is exact")
      // commuted and different expressions decline — matching is exact
      // on the analyzed tree, never a semantics guess
      assertNotRouted(s.sql(
        "SELECT event_type, sum(qty * value) FROM mvcat.sales GROUP BY 1"))
      assertNotRouted(s.sql(
        "SELECT event_type, sum(value * value) FROM mvcat.sales GROUP BY 1"))
      // an explicit narrowing cast in the query is NOT the registered
      // expression: must stay on the corpus
      assertNotRouted(s.sql(
        "SELECT event_type, sum(cast(value AS INT) * qty) FROM mvcat.sales GROUP BY 1"))
    } finally LakeMv.clear()
  }

  test("hll state: sketch-estimate distinct routes exactly; approx_count_distinct declines") {
    val s = spark
    import s.implicits._
    val (catRoot, _, _) = roots
    val corpus = s"$catRoot/hllsales"
    val rows = (1 to 3000).map { i =>
      (i.toLong, s"t${i % 4}", (i % 757).toLong) // 757 distinct custs, spread
    }
    val df = rows.toDF("id", "event_type", "cust")
    VersionedLake.appendCommit(df.filter($"id" % 2 === 0), corpus)
    VersionedLake.appendCommit(df.filter($"id" % 2 === 1), corpus)
    val viewDir = java.nio.file.Files.createTempDirectory("mv_hll").toString
    def st(d: DataFrame): DataFrame = d.groupBy("event_type").agg(
      hll_sketch_agg(col("cust")).as("hll_cust"),
      count(col("cust")).as("cnt_cust"))
    LakeView.sync(s, corpus, viewDir, st)
    val mv = LakeMv.MvDef(corpus, viewDir, Seq("event_type"),
      Map("hll_cust" -> ("hll", "cust"), "cnt_cust" -> ("count", "cust")))
    // the un-routed truth first (nothing registered)
    val sql =
      """SELECT event_type,
        |  hll_sketch_estimate(hll_sketch_agg(cust)) AS approx_d,
        |  count(cust) AS n
        |FROM mvcat.hllsales GROUP BY 1""".stripMargin
    val truth = sorted(s.sql(sql))
    val globalTruth = sorted(s.sql(
      "SELECT hll_sketch_estimate(hll_sketch_agg(cust)) AS d FROM mvcat.hllsales"))
    LakeMv.register(mv)
    try {
      val routed = s.sql(sql)
      val rs = scannedRoots(routed)
      assert(rs.exists(_.startsWith(viewDir)) && !rs.exists(_.startsWith(corpus)),
        s"sketch-estimate distinct must route to the view: $rs")
      // union of per-delta sketches == one-pass sketch: estimates EXACT
      assert(sorted(routed) === truth)
      // roll-up to the global grain re-unions the sketches
      val global = s.sql(
        "SELECT hll_sketch_estimate(hll_sketch_agg(cust)) AS d FROM mvcat.hllsales")
      assert(scannedRoots(global).exists(_.startsWith(viewDir)))
      assert(sorted(global) === globalTruth)
      // a DIFFERENT estimator must not be served from sketch state
      val acd = s.sql(
        "SELECT event_type, approx_count_distinct(cust) AS d FROM mvcat.hllsales GROUP BY 1")
      assert(scannedRoots(acd).exists(_.startsWith(corpus)),
        "approx_count_distinct must decline (HLL++ is a different estimator)")
      // non-default lgK sketches decline too
      val lgk = s.sql(
        "SELECT event_type, hll_sketch_estimate(hll_sketch_agg(cust, 14)) AS d " +
          "FROM mvcat.hllsales GROUP BY 1")
      assert(scannedRoots(lgk).exists(_.startsWith(corpus)),
        "an lgK-14 sketch cannot be served from lgK-12 state")
    } finally LakeMv.clear()
  }

  test("distinct state: exact count(DISTINCT) routes under the cap; rollup re-unions sets") {
    val s = spark
    import s.implicits._
    val (catRoot, _, _) = roots
    val corpus = s"$catRoot/dsales"
    val rows = (1 to 3000).map { i => (i.toLong, s"t${i % 4}", (i % 67).toLong) }
    val df = rows.toDF("id", "event_type", "cust")
    VersionedLake.appendCommit(df.filter($"id" % 2 === 0), corpus)
    VersionedLake.appendCommit(df.filter($"id" % 2 === 1), corpus)
    val viewDir = java.nio.file.Files.createTempDirectory("mv_dst").toString
    val mv = LakeMv.MvDef(corpus, viewDir, Seq("event_type"),
      Map("set_cust" -> ("distinct", "cust"), "cnt_cust" -> ("count", "cust")),
      distinctCap = 128)
    LakeView.syncWith(s, corpus, viewDir, mv.stateOverGuarded(s))
    val sql =
      """SELECT event_type, CAST(count(DISTINCT cust) AS BIGINT) AS d,
        |  count(cust) AS n
        |FROM mvcat.dsales GROUP BY 1""".stripMargin
    val truth = sorted(s.sql(sql))
    val globalTruth = sorted(s.sql(
      "SELECT CAST(count(DISTINCT cust) AS BIGINT) AS d FROM mvcat.dsales"))
    LakeMv.register(mv)
    try {
      val routed = s.sql(sql)
      val rs = scannedRoots(routed)
      assert(rs.exists(_.startsWith(viewDir)) && !rs.exists(_.startsWith(corpus)),
        s"exact count(DISTINCT) must route to the view's set state: $rs")
      assert(sorted(routed) === truth)
      // rollup to the global grain re-unions the per-group sets
      val global = s.sql(
        "SELECT CAST(count(DISTINCT cust) AS BIGINT) AS d FROM mvcat.dsales")
      assert(scannedRoots(global).exists(_.startsWith(viewDir)))
      assert(sorted(global) === globalTruth)
      // multi-arg count(DISTINCT a, b) has no set state: declines
      val multi = s.sql(
        "SELECT event_type, count(DISTINCT cust, id) AS d FROM mvcat.dsales GROUP BY 1")
      assert(scannedRoots(multi).exists(_.startsWith(corpus)),
        "multi-arg count(DISTINCT) must decline to the corpus scan")
    } finally LakeMv.clear()
  }

  test("distinct state: the declared cap refuses at DDL, and a cap-busting sync fails (view stays stale)") {
    val s = spark
    import s.implicits._
    val (catRoot, _, _) = roots
    val corpus = s"$catRoot/dcap"
    val rows = (1 to 2000).map { i => (i.toLong, s"t${i % 2}", (i % 500).toLong) }
    VersionedLake.appendCommit(rows.toDF("id", "event_type", "cust"), corpus)
    // DDL-time refusal: ~500 distinct per group over a cap of 100
    val viewDir = java.nio.file.Files.createTempDirectory("mv_dcap").toString
    val mvBust = LakeMv.MvDef(corpus, viewDir, Seq("event_type"),
      Map("set_cust" -> ("distinct", "cust")), distinctCap = 100)
    val e = intercept[IllegalArgumentException] {
      LakeMv.persist(s, mvBust)
    }
    assert(e.getMessage.contains("above the declared cap"))
    assert(LakeMv.forCorpus(corpus).isEmpty, "a refused DDL must not register")
    // a view synced under a sufficient cap, then outgrown by a delta:
    // the SYNC fails, the watermark stays behind, and the rewrite
    // declines by freshness — the query answers from the corpus, exactly
    val mvOk = LakeMv.MvDef(corpus, viewDir, Seq("event_type"),
      Map("set_cust" -> ("distinct", "cust")), distinctCap = 600)
    LakeView.syncWith(s, corpus, viewDir, mvOk.stateOverGuarded(s))
    val wm0 = LakeView.watermark(s, viewDir)
    VersionedLake.appendCommit(
      (1 to 2000).map(i => (i + 10000L, "t0", (i + 1000).toLong))
        .toDF("id", "event_type", "cust"), corpus)
    val boom = intercept[Exception] {
      LakeView.syncWith(s, corpus, viewDir, mvOk.stateOverGuarded(s))
    }
    assert(boom.getMessage != null)
    assert(LakeView.watermark(s, viewDir) === wm0,
      "a failed cap assertion must not advance the sync watermark")
    // the query is NEVER wrong and NEVER errors: the stale view serves
    // through the pure-append combine (exact — the tail's sets are
    // computed at query time), or falls back to the corpus; either way
    // the answer matches the source truth
    val sql2 = "SELECT event_type, CAST(count(DISTINCT cust) AS BIGINT) AS d " +
      "FROM mvcat.dcap GROUP BY 1"
    val truth2 = sorted(s.sql(sql2))
    LakeMv.register(mvOk)
    try assert(sorted(s.sql(sql2)) === truth2)
    finally LakeMv.clear()
  }

  test("distinct cap holds on the MERGED per-group set across syncs, and alter_mv raises it without losing the watermark") {
    val s = spark
    import s.implicits._
    val (catRoot, _, _) = roots
    val corpus = s"$catRoot/dmerge"
    // first batch: 60 distinct cust values for each group
    VersionedLake.appendCommit(
      (1 to 600).map(i => (i.toLong, s"t${i % 2}", ((i / 2) % 60).toLong))
        .toDF("id", "event_type", "cust"), corpus)
    val viewDir = java.nio.file.Files.createTempDirectory("mv_dmerge").toString
    val mv = LakeMv.MvDef(corpus, viewDir, Seq("event_type"),
      Map("set_cust" -> ("distinct", "cust"), "cnt_cust" -> ("count", "cust")),
      distinctCap = 100)
    LakeMv.persist(s, mv) // 60 <= 100: DDL accepts
    try {
      LakeView.syncWith(s, corpus, viewDir, mv.stateOverGuarded(s))
      val wm0 = LakeView.watermark(s, viewDir)
      // second batch: 60 NEW values per group — the DELTA alone fits the
      // cap (60 <= 100), but the merged per-group set is 120 > 100. A
      // per-delta check would pass and let the state row grow unbounded
      // across appends; the invariant is per group across the view's
      // lifetime, so this sync must FAIL.
      VersionedLake.appendCommit(
        (1 to 600).map(i => (i + 5000L, s"t${i % 2}", (100 + (i / 2) % 60).toLong))
          .toDF("id", "event_type", "cust"), corpus)
      val boom = intercept[Exception] {
        LakeView.syncWith(s, corpus, viewDir, mv.stateOverGuarded(s))
      }
      assert(boom.getMessage != null)
      assert(LakeView.watermark(s, viewDir) === wm0,
        "a merged-cap bust must not advance the watermark")
      // recovery WITHOUT drop+recreate+full re-sync: raise the cap in
      // place — the next sync succeeds and the rewrite routes again
      val altered = LakeMv.alter(s, corpus, newCap = Some(300), dropCol = None)
      assert(altered.distinctCap === 300)
      LakeView.syncWith(s, corpus, viewDir, altered.stateOverGuarded(s))
      assert(LakeView.watermark(s, viewDir) ===
        VersionedLake.currentVersion(s, corpus))
      val sql = "SELECT event_type, CAST(count(DISTINCT cust) AS BIGINT) AS d, " +
        "count(cust) AS n FROM mvcat.dmerge GROUP BY 1"
      val truth = sorted(s.sql(sql))
      LakeMv.register(altered)
      val routed = s.sql(sql)
      assert(scannedRoots(routed).exists(_.startsWith(viewDir)),
        "after alter_mv + sync the rewrite must route to the view again")
      assert(sorted(routed) === truth)
      // lowering below a group's CURRENT merged set refuses at the DDL
      // moment (O(view groups), the create-time contract)
      val low = intercept[IllegalArgumentException] {
        LakeMv.alter(s, corpus, newCap = Some(50), dropCol = None)
      }
      assert(low.getMessage.contains("above the requested cap"))
    } finally LakeMv.clear()
  }

  test("alter_mv evicts one state column: other columns' state and the watermark carry; the evicted aggregate declines") {
    val s = spark
    import s.implicits._
    val (catRoot, _, _) = roots
    val corpus = s"$catRoot/devict"
    VersionedLake.appendCommit(
      (1 to 900).map(i => (i.toLong, s"t${i % 3}", (i % 40).toLong))
        .toDF("id", "event_type", "cust"), corpus)
    val viewDir = java.nio.file.Files.createTempDirectory("mv_devict").toString
    val mv = LakeMv.MvDef(corpus, viewDir, Seq("event_type"),
      Map("set_cust" -> ("distinct", "cust"), "cnt_cust" -> ("count", "cust")),
      distinctCap = 100)
    LakeMv.persist(s, mv)
    try {
      LakeView.syncWith(s, corpus, viewDir, mv.stateOverGuarded(s))
      val wm0 = LakeView.watermark(s, viewDir)
      val cntSql = "SELECT event_type, count(cust) AS n FROM mvcat.devict GROUP BY 1"
      val dstSql = "SELECT event_type, CAST(count(DISTINCT cust) AS BIGINT) AS d " +
        "FROM mvcat.devict GROUP BY 1"
      val cntTruth = sorted(s.sql(cntSql))
      val dstTruth = sorted(s.sql(dstSql))
      val altered = LakeMv.alter(s, corpus, newCap = None, dropCol = Some("set_cust"))
      assert(altered.aggs.keySet === Set("cnt_cust"))
      assert(LakeView.watermark(s, viewDir) === wm0,
        "eviction compacts the state (watermark-carrying replace); it must not move the sync watermark")
      // the compacted state table physically dropped the column
      assert(!VersionedLake.read(s, viewDir).columns.contains("set_cust"))
      LakeMv.register(altered)
      val cnt = s.sql(cntSql)
      assert(scannedRoots(cnt).exists(_.startsWith(viewDir)),
        "the surviving state column must still route")
      assert(sorted(cnt) === cntTruth)
      val dst = s.sql(dstSql)
      assert(scannedRoots(dst).exists(_.startsWith(corpus)),
        "the evicted aggregate must decline to the corpus scan")
      assert(sorted(dst) === dstTruth)
      // evicting the LAST state column refuses (that's drop_mv's job)
      val last = intercept[IllegalArgumentException] {
        LakeMv.alter(s, corpus, newCap = None, dropCol = Some("cnt_cust"))
      }
      assert(last.getMessage.contains("last state column"))
    } finally LakeMv.clear()
  }
}
