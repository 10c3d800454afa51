package graft.sinks

import java.sql.{Connection, DriverManager}

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge

/** S8: the constraint-ordered idempotent JDBC upsert — the reference's
  * `_insert_into_db` (`/root/reference/parser/xml.py:559-707`)
  * re-engineered around bound parameters and a set-based MERGE.
  *
  * The reference renders EVERY ROW into one giant
  * `MERGE INTO t USING (VALUES ...)` SQL string on a single thread —
  * O(rows) string building, quoting-based escaping, one statement per
  * table. Here each table's write is two-phase, in one transaction, one
  * table at a time in FK dependency order via [[JdbcConstraints.topoOrder]]
  * (explicit Kahn, where the reference recursed with an unpopulated
  * visited list), all on one connection:
  *
  *   1. '''stage''' — the driver fills a staging table with the frame's rows
  *      via batched `PreparedStatement`s (parameter binding, no SQL
  *      literal rendering). A local table's rows are already on the
  *      driver and are read without a Spark job; any other frame is
  *      collected, one job;
  *   2. '''merge''' — ONE set-based `MERGE INTO target USING staging ...
  *      WHEN NOT MATCHED THEN INSERT` (dialect-rendered), then the
  *      staging table is dropped.
  *
  * Idempotence comes from the PK guard (insert-only-when-not-matched), so
  * re-loading the same file is a no-op — the reference's core operational
  * contract (`/root/reference/README.md:10`). Per-table failures roll
  * back, drop their staging table and are reported, not thrown, matching
  * the reference's `insert_failed` tracking.
  *
  * Scale note: staging runs on the driver, so a frame is bounded like the
  * export it comes from (one FFI export's tables: KB to MB); the 100 TB
  * path is many exports, one load each. The merge is one server-side set
  * operation per table, which is exactly what a warehouse wants — never
  * row-at-a-time MERGE from the driver.
  */
object MergeJdbc {

  /** Target-dialect MERGE statement from staging into target. */
  sealed trait Dialect {
    def mergeSql(target: String, staging: String, cols: Seq[String], pks: Seq[String]): String = {
      val on = pks.map(k => s"t.$k = s.$k").mkString(" AND ")
      val insertCols = cols.mkString(", ")
      val sourceCols = cols.map(c => s"s.$c").mkString(", ")
      s"""MERGE INTO $target t USING $staging s ON ($on)
         |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($sourceCols)""".stripMargin
    }
    /** ANSI CTAS `WITH NO DATA`: an empty, constraint-free copy. */
    def createStagingSql(target: String, staging: String): String =
      s"CREATE TABLE $staging AS SELECT * FROM $target WITH NO DATA"
    def dropStagingSql(staging: String): String = s"DROP TABLE $staging"
  }

  object Dialect {

    /** The dialect a JDBC URL speaks: `jdbc:sqlserver:` and
      * `jdbc:postgresql:` by prefix, anything else (the embedded Derby
      * target) the ANSI rendering.
      */
    def forUrl(url: String): Dialect =
      if (url.startsWith("jdbc:sqlserver:")) SqlServer
      else if (url.startsWith("jdbc:postgresql:")) Postgres
      else Derby
  }

  /** SQL Server (the reference's target, `parser/functions.py:7-25`). */
  case object SqlServer extends Dialect {
    override def createStagingSql(target: String, staging: String): String =
      s"SELECT * INTO $staging FROM $target WHERE 1 = 0"
  }

  /** Apache Derby (>= 10.11 supports standard MERGE) — the embedded test
    * target; doubles as the ANSI-standard rendering.
    */
  case object Derby extends Dialect

  /** PostgreSQL (>= 15 has standard MERGE; CTAS WITH NO DATA staging) —
    * the reference's other supported target (`parser/functions.py:18-19`).
    */
  case object Postgres extends Dialect

  /** JDBC connect with optional properties (credentials from
    * [[graft.engine.DbConfig]]); an empty map is identical to the
    * property-less form.
    */
  private[graft] def connect(url: String, props: Map[String, String]): Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  final case class TableResult(
      table: String,
      rowsBefore: Long,
      rowsAfter: Long,
      error: Option[String]) {
    def inserted: Long = rowsAfter - rowsBefore
    def failed: Boolean = error.isDefined
  }

  private def scalarLong(conn: Connection, sql: String): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally st.close()
  }

  private def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Drop `staging` if it exists; best effort, a missing table is fine. */
  private def dropStaging(conn: Connection, dialect: Dialect, staging: String): Unit =
    try { execute(conn, dialect.dropStagingSql(staging)); conn.commit() }
    catch { case _: java.sql.SQLException => conn.rollback() }

  /** Staged rows per `executeBatch` round trip. */
  private final val BatchSize = 500

  /** One table in one transaction: count, stage `df`'s rows (a local
    * table's without a job, any other frame's by one collect) into a fresh
    * staging table (a crashed run's leftover dropped first) by batched
    * inserts, MERGE them into `table`, drop the staging table, count. A
    * failed step rolls back, drops the staging table and reports `table`
    * failed and unchanged, so no failure leaves a staging table behind.
    */
  private def load(
      conn: Connection,
      df: DataFrame,
      table: String,
      pks: Seq[String],
      dialect: Dialect): TableResult = {
    val staging = s"STG_$table"
    val cols = df.columns.toSeq
    val count = s"SELECT COUNT(*) FROM $table"
    val before = Try(scalarLong(conn, count))
    try {
      val rowsBefore = before.get
      val rows = Bridge.localRows(df).getOrElse(df.collect().toSeq)
      dropStaging(conn, dialect, staging)
      execute(conn, dialect.createStagingSql(table, staging))
      val ps = conn.prepareStatement(
        s"INSERT INTO $staging (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})")
      try rows.grouped(BatchSize).foreach { batch =>
        batch.foreach { r =>
          cols.indices.foreach(i => ps.setObject(i + 1, r.get(i)))
          ps.addBatch()
        }
        ps.executeBatch()
      } finally ps.close()
      execute(conn, dialect.mergeSql(table, staging, cols, pks))
      execute(conn, dialect.dropStagingSql(staging))
      conn.commit()
      TableResult(table, rowsBefore, scalarLong(conn, count), None)
    } catch {
      case NonFatal(e) =>
        conn.rollback()
        dropStaging(conn, dialect, staging)
        val n = before.getOrElse(0L)
        TableResult(table, n, n, Some(e.getMessage))
    }
  }

  /** Create the UpdateLog audit table unless it exists, in its own
    * transaction. A failed CREATE (the table exists) is rolled back:
    * PostgreSQL aborts a transaction on any failed statement and refuses
    * every later one (SQLSTATE 25P02) until a rollback.
    */
  private def ensureUpdateLog(conn: Connection): Unit =
    try {
      execute(conn,
        """CREATE TABLE UpdateLog (
          |  UserName VARCHAR(128), ComputerName VARCHAR(128),
          |  TableName VARCHAR(128), Changes BIGINT,
          |  ChangeType VARCHAR(16), UpdateDate TIMESTAMP)""".stripMargin)
      conn.commit()
    } catch { case _: java.sql.SQLException => conn.rollback() }

  /** UpdateLog audit append (S9, `parser/xml.py:675-697`): one row per
    * loaded table recording who/where/what/when and the row delta, in its
    * own transaction. A failed append is rolled back and returned as the
    * table's error, so the next table still loads and the export is not
    * archived.
    */
  private def appendUpdateLog(
      conn: Connection,
      result: TableResult,
      user: String,
      host: String): TableResult =
    try {
      val ps = conn.prepareStatement(
        "INSERT INTO UpdateLog (UserName, ComputerName, TableName, Changes, ChangeType, UpdateDate) VALUES (?, ?, ?, ?, ?, ?)")
      try {
        ps.setString(1, user)
        ps.setString(2, host)
        ps.setString(3, result.table)
        ps.setLong(4, math.abs(result.inserted))
        ps.setString(5, if (result.inserted >= 0) "INSERT" else "DELETE")
        ps.setTimestamp(6, new java.sql.Timestamp(System.currentTimeMillis()))
        ps.execute()
        conn.commit()
      } finally ps.close()
      result
    } catch {
      case NonFatal(e) =>
        conn.rollback()
        result.copy(error = Some(s"UpdateLog append failed: ${e.getMessage}"))
    }

  /** Stage and MERGE one table at a time in [[JdbcConstraints.topoOrder]],
    * on one connection, so a referenced table's rows land before its
    * referrers'. A table that fails at either step is rolled back, its
    * staging table dropped, and reported in the result (reference
    * `insert_failed` semantics); the others still load. Tables absent
    * from `constraints` (no PK reflected) are skipped with an error
    * entry. UpdateLog is created at most once, before the first table,
    * and each loaded table appends its audit row. Results come back in
    * FK order.
    */
  def loadAll(
      tables: Map[String, DataFrame],
      constraints: JdbcConstraints,
      url: String,
      dialect: Dialect,
      user: String = sys.props.getOrElse("user.name", "unknown"),
      host: String = java.net.InetAddress.getLocalHost.getHostName,
      props: Map[String, String] = Map.empty): Seq[TableResult] = {
    val conn = connect(url, props)
    try {
      conn.setAutoCommit(false)
      ensureUpdateLog(conn)
      constraints.topoOrder(tables.keys.toSeq).map { t =>
        val res = constraints.primaryKeys.get(t).filter(_.nonEmpty) match {
          case Some(ks) => load(conn, tables(t), t, ks, dialect)
          case None => TableResult(t, 0, 0, Some(s"no primary key reflected for $t"))
        }
        if (res.failed) res else appendUpdateLog(conn, res, user, host)
      }
    } finally {
      // Derby refuses close() mid-transaction; a trailing read opens one
      try conn.commit() catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }
}
