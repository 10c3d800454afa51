package graft.sinks

import java.sql.DriverManager

import graft.SparkSpec

/** Integration spec against embedded Derby: FK-ordered load, idempotent
  * re-load, per-table failure isolation, audit log, dialect rendering.
  */
class MergeJdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:mergedb;create=true"

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def freshSchema(): Unit = withConn { c =>
    val st = c.createStatement()
    for (t <- Seq("UPDATELOG", "CUSTOMER", "NATION", "REGION"))
      try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
    st.execute("CREATE TABLE Region (r_id INT PRIMARY KEY, r_name VARCHAR(32))")
    st.execute("""CREATE TABLE Nation (n_id INT PRIMARY KEY, n_name VARCHAR(32),
                 |  n_region INT REFERENCES Region (r_id))""".stripMargin)
    st.execute("""CREATE TABLE Customer (c_id INT PRIMARY KEY, c_name VARCHAR(32),
                 |  c_nation INT REFERENCES Nation (n_id))""".stripMargin)
  }

  private def frames = {
    val s = spark
    import s.implicits._
    Map(
      "CUSTOMER" -> Seq((1, "alice", 10), (2, "bob", 11)).toDF("c_id", "c_name", "c_nation"),
      "NATION" -> Seq((10, "fr", 100), (11, "de", 100)).toDF("n_id", "n_name", "n_region"),
      "REGION" -> Seq((100, "eu")).toDF("r_id", "r_name"))
  }

  private def stagingTables(): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME"))
      .filter(_.startsWith("STG_")).toList
  }

  test("FK reflection orders referenced tables first") {
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    val order = cons.topoOrder(Seq("CUSTOMER", "NATION", "REGION"))
    assert(order.indexOf("REGION") < order.indexOf("NATION"))
    assert(order.indexOf("NATION") < order.indexOf("CUSTOMER"))
    assert(cons.primaryKeys("NATION") === Seq("N_ID"))
  }

  test("loadAll inserts in dependency order and is idempotent") {
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    val first = MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby)
    assert(first.forall(!_.failed), first.filter(_.failed).mkString("; "))
    assert(first.map(r => r.table -> r.inserted).toMap ===
      Map("REGION" -> 1L, "NATION" -> 2L, "CUSTOMER" -> 2L))

    val second = MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby)
    assert(second.forall(!_.failed))
    assert(second.forall(_.inserted === 0L), "re-load must be a no-op")

    val audits = withConn { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT TableName, Changes, ChangeType FROM UpdateLog ORDER BY UpdateDate")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2), r.getString(3))).toList
    }
    assert(audits.size === 6)
    assert(audits.count(_._2 == 0L) === 3)
  }

  test("loadAll audits every table on a database that aborts the transaction after a failed statement") {
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    val strict = AbortingDriver.url(url)
    // the first load creates UpdateLog; the second finds it already there
    Seq(5L, 0L).foreach { rows =>
      val res = MergeJdbc.loadAll(frames, cons, strict, MergeJdbc.Derby)
      assert(res.forall(!_.failed), res.filter(_.failed).mkString("; "))
      assert(res.map(_.inserted).sum === rows)
    }
    val audits = withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT TableName FROM UpdateLog")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    }
    assert(audits.sorted === Seq("CUSTOMER", "CUSTOMER", "NATION", "NATION", "REGION", "REGION"))
    assert(stagingTables() === Nil)
  }

  test("a failed UpdateLog append is the table's error; the other tables still load") {
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    AbortingDriver.refuse = _.startsWith("INSERT INTO UpdateLog")
    val res =
      try MergeJdbc.loadAll(frames, cons, AbortingDriver.url(url), MergeJdbc.Derby)
      finally AbortingDriver.refuse = _ => false
    assert(res.map(_.table) === cons.topoOrder(frames.keys.toSeq))
    assert(res.forall(_.error.exists(_.startsWith("UpdateLog append failed"))), res.mkString("; "))
    assert(res.map(r => r.table -> r.inserted).toMap ===
      Map("REGION" -> 1L, "NATION" -> 2L, "CUSTOMER" -> 2L))
  }

  test("merge tolerates pre-existing rows (partial overlap)") {
    freshSchema()
    withConn(_.createStatement().execute("INSERT INTO Region VALUES (100, 'eu')"))
    val cons = withConn(JdbcConstraints.reflect(_))
    // a present key is left as it is (insert-if-absent, never update),
    // an absent one lands
    val s = spark
    import s.implicits._
    val overlap = Map("REGION" -> Seq((100, "eu-conflicting"), (101, "na")).toDF("r_id", "r_name"))
    val res = MergeJdbc.loadAll(overlap, cons, url, MergeJdbc.Derby)
    assert(res.map(r => (r.table, r.failed, r.inserted)) === Seq(("REGION", false, 1L)))
    val regions = withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT r_id, r_name FROM Region")
      Iterator.continually(rs).takeWhile(_.next()).map(r => r.getInt(1) -> r.getString(2)).toSet
    }
    assert(regions === Set(100 -> "eu", 101 -> "na"))
  }

  test("per-table failure is isolated and reported") {
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    // Customer referencing a missing nation violates the FK at merge time
    val s = spark
    import s.implicits._
    val bad = frames.updated(
      "CUSTOMER", Seq((3, "carol", 99)).toDF("c_id", "c_name", "c_nation"))
    val res = MergeJdbc.loadAll(bad, cons, url, MergeJdbc.Derby)
    val byTable = res.map(r => r.table -> r).toMap
    assert(!byTable("REGION").failed && !byTable("NATION").failed)
    assert(byTable("CUSTOMER").failed)
    // the failed table rolled back; others landed
    withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM Customer")
      rs.next(); assert(rs.getLong(1) === 0L)
    }
    assert(stagingTables() === Nil)
  }

  test("a table that fails while staging is reported, the others land, no staging table remains") {
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    // one of CUSTOMER's rows raises while the frame is evaluated, so its
    // staging job fails, possibly after other partitions committed rows
    val bad = frames.updated("CUSTOMER", frames("CUSTOMER").repartition(2).withColumn(
      "c_name", when(col("c_id") === 2, raise_error(lit("bad customer"))).otherwise(col("c_name"))))
    val res = MergeJdbc.loadAll(bad, cons, url, MergeJdbc.Derby)
    assert(res.map(_.table) === cons.topoOrder(bad.keys.toSeq))
    val byTable = res.map(r => r.table -> r).toMap
    assert(byTable("CUSTOMER").failed)
    assert(byTable("CUSTOMER").error.exists(_.contains("bad customer")))
    assert(byTable("CUSTOMER").inserted === 0L)
    assert(byTable("REGION").inserted === 1L && !byTable("REGION").failed)
    assert(byTable("NATION").inserted === 2L && !byTable("NATION").failed)
    withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM Customer")
      rs.next(); assert(rs.getLong(1) === 0L)
    }
    assert(stagingTables() === Nil)
  }

  test("S10 overwrite sink replaces the table wholesale") {
    // the reference's Last_Modified_Date path (`parser/xml.py:82-99`,
    // if_exists='replace'): built-in df.write.mode("overwrite").jdbc.
    val s = spark
    import s.implicits._
    val props = new java.util.Properties()
    Seq((1, "old")).toDF("id", "v")
      .write.mode("overwrite").jdbc(url, "LASTMOD", props)
    Seq((2, "new"), (3, "newer")).toDF("id", "v")
      .write.mode("overwrite").jdbc(url, "LASTMOD", props)
    val rows = spark.read.jdbc(url, "LASTMOD", props)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows === Set((2, "new"), (3, "newer")), "overwrite must not append")
  }

  test("streaming foreachBatch + MERGE is an idempotent streaming upsert") {
    // the streaming face of the reference's poll-directory loop: each
    // micro-batch MERGEs into the target, so replayed/overlapping batches
    // (at-least-once delivery) land exactly once — PK-guarded idempotence
    // turns foreachBatch into an effectively-exactly-once sink.
    freshSchema()
    val cons = withConn(JdbcConstraints.reflect(_))
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Int, String)]
    val q = in.toDF().toDF("r_id", "r_name")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = MergeJdbc.loadAll(Map("REGION" -> batch), cons, url, MergeJdbc.Derby)
        assert(res.forall(!_.failed), res.mkString("; "))
        ()
      }
      .outputMode("append").start()
    try {
      in.addData((100, "eu"), (101, "na"))
      q.processAllAvailable()
      in.addData((101, "na"), (102, "apac")) // overlap: 101 replayed
      q.processAllAvailable()
      withConn { c =>
        val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM Region")
        rs.next(); assert(rs.getLong(1) === 3L)
      }
    } finally q.stop()
  }

  test("SQL Server dialect renders the reference MERGE shape") {
    val sql = MergeJdbc.SqlServer.mergeSql(
      "Plot", "STG_Plot", Seq("PlotID", "Name"), Seq("PlotID"))
    assert(sql.contains("MERGE INTO Plot t USING STG_Plot s ON (t.PlotID = s.PlotID)"))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT (PlotID, Name) VALUES (s.PlotID, s.Name)"))
    // the dialect follows the JDBC URL
    assert(MergeJdbc.Dialect.forUrl("jdbc:sqlserver://db;databaseName=ffi") === MergeJdbc.SqlServer)
    assert(MergeJdbc.Dialect.forUrl("jdbc:postgresql://db/ffi") === MergeJdbc.Postgres)
    assert(MergeJdbc.Dialect.forUrl("jdbc:derby:memory:ffi;create=true") === MergeJdbc.Derby)
  }

  test("Postgres dialect stages via ANSI CTAS and shares the standard MERGE") {
    assert(MergeJdbc.Postgres.createStagingSql("Plot", "STG_Plot") ===
      "CREATE TABLE STG_Plot AS SELECT * FROM Plot WITH NO DATA")
    val sql = MergeJdbc.Postgres.mergeSql("Plot", "STG_Plot", Seq("PlotID"), Seq("PlotID"))
    assert(sql.contains("MERGE INTO Plot t USING STG_Plot s ON (t.PlotID = s.PlotID)"))
  }

  test("connect with credential props reaches the same embedded database") {
    // Derby ignores user/password by default — what this pins is that the
    // properties path connects and operates identically to the plain form.
    val c = MergeJdbc.connect(url, Map("user" -> "app", "password" -> "pw"))
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM REGION")
      rs.next()
      assert(rs.getLong(1) >= 0L)
    } finally c.close()
  }
}
