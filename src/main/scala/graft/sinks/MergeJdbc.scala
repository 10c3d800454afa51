package graft.sinks

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row}

/** S8: the constraint-ordered idempotent JDBC upsert — the reference's
  * `_insert_into_db` (`/root/reference/parser/xml.py:559-707`)
  * re-engineered for a distributed writer.
  *
  * The reference renders EVERY ROW into one giant
  * `MERGE INTO t USING (VALUES ...)` SQL string on a single thread —
  * O(rows) string building, quoting-based escaping, one statement per
  * table. Here the write is two-phase:
  *
  *   1. '''stage''' — executors stream their partitions into a staging
  *      table via batched `PreparedStatement`s (parameter binding, no SQL
  *      literal rendering, one transaction per partition);
  *   2. '''merge''' — the driver issues ONE set-based
  *      `MERGE INTO target USING staging ... WHEN NOT MATCHED THEN
  *      INSERT` (dialect-rendered), commits, drops the staging table.
  *
  * Idempotence comes from the PK guard (insert-only-when-not-matched), so
  * re-loading the same file is a no-op — the reference's core operational
  * contract (`/root/reference/README.md:10`). Per-table failures roll
  * back and are reported, not thrown, matching the reference's
  * `insert_failed` tracking; tables load in FK dependency order via
  * [[JdbcConstraints.topoOrder]] (explicit Kahn, where the reference
  * recursed with an unpopulated visited list).
  *
  * At scale: the stage phase is embarrassingly parallel (per-partition
  * connections, batched inserts); the merge is one server-side set
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
    def createStagingSql(target: String, staging: String): String
    def dropStagingSql(staging: String): String = s"DROP TABLE $staging"
  }

  /** SQL Server (the reference's target, `parser/functions.py:7-25`). */
  case object SqlServer extends Dialect {
    override def createStagingSql(target: String, staging: String): String =
      s"SELECT * INTO $staging FROM $target WHERE 1 = 0"
  }

  /** Apache Derby (>= 10.11 supports standard MERGE) — the embedded test
    * target; doubles as the ANSI-standard rendering.
    */
  case object Derby extends Dialect {
    override def createStagingSql(target: String, staging: String): String =
      s"CREATE TABLE $staging AS SELECT * FROM $target WITH NO DATA"
  }

  /** PostgreSQL (>= 15 has standard MERGE; CTAS WITH NO DATA staging) —
    * the reference's other supported target (`parser/functions.py:18-19`).
    */
  case object Postgres extends Dialect {
    override def createStagingSql(target: String, staging: String): String =
      s"CREATE TABLE $staging AS SELECT * FROM $target WITH NO DATA"
  }

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

  /** Stage + merge one DataFrame into `table`. The staging table lives and
    * dies inside this call; per-partition inserts run on executors.
    */
  def mergeTable(
      df: DataFrame,
      table: String,
      pks: Seq[String],
      url: String,
      dialect: Dialect,
      batchSize: Int = 500,
      props: Map[String, String] = Map.empty): TableResult = {
    require(pks.nonEmpty, s"$table has no primary key — MERGE needs a PK guard")
    val staging = s"STG_$table"
    val cols = df.columns.toSeq
    val conn = connect(url, props)
    try {
      conn.setAutoCommit(false)
      val before = scalarLong(conn, s"SELECT COUNT(*) FROM $table")
      try {
        // fresh staging table (drop leftovers from a crashed run)
        try { execute(conn, dialect.dropStagingSql(staging)); conn.commit() }
        catch { case _: java.sql.SQLException => conn.rollback() }
        execute(conn, dialect.createStagingSql(table, staging))
        conn.commit()

        val insertSql =
          s"INSERT INTO $staging (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
        df.foreachPartition { (rows: Iterator[Row]) =>
          if (rows.nonEmpty) {
            val c = connect(url, props)
            try {
              c.setAutoCommit(false)
              val ps = c.prepareStatement(insertSql)
              var n = 0
              rows.foreach { r =>
                var i = 0
                while (i < cols.length) { ps.setObject(i + 1, r.get(i)); i += 1 }
                ps.addBatch()
                n += 1
                if (n % batchSize == 0) ps.executeBatch()
              }
              ps.executeBatch()
              c.commit()
            } finally c.close()
          }
        }

        execute(conn, dialect.mergeSql(table, staging, cols, pks))
        execute(conn, dialect.dropStagingSql(staging))
        conn.commit()
        val after = scalarLong(conn, s"SELECT COUNT(*) FROM $table")
        TableResult(table, before, after, None)
      } catch {
        case e: Exception =>
          conn.rollback()
          TableResult(table, before, before, Some(e.getMessage))
      }
    } finally {
      // Derby refuses close() mid-transaction; the trailing COUNT opened one
      try conn.commit() catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }

  /** UpdateLog audit append (S9, `parser/xml.py:675-697`): one row per
    * loaded table recording who/where/what/when and the row delta.
    */
  def appendUpdateLog(
      conn: Connection,
      result: TableResult,
      user: String,
      host: String): Unit = {
    val st = conn.createStatement()
    try {
      st.execute(
        """CREATE TABLE UpdateLog (
          |  UserName VARCHAR(128), ComputerName VARCHAR(128),
          |  TableName VARCHAR(128), Changes BIGINT,
          |  ChangeType VARCHAR(16), UpdateDate TIMESTAMP)""".stripMargin)
    } catch { case _: java.sql.SQLException => () } // exists
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
  }

  /** Load every table in FK dependency order; per-table failure rolls back
    * that table only and is reported in the result (reference
    * `insert_failed` semantics). Tables absent from `constraints`
    * (no PK reflected) are skipped with an error entry.
    */
  def loadAll(
      tables: Map[String, DataFrame],
      constraints: JdbcConstraints,
      url: String,
      dialect: Dialect,
      user: String = sys.props.getOrElse("user.name", "unknown"),
      host: String = java.net.InetAddress.getLocalHost.getHostName,
      props: Map[String, String] = Map.empty): Seq[TableResult] = {
    val order = constraints.topoOrder(tables.keys.toSeq)
    val conn = connect(url, props)
    try {
      conn.setAutoCommit(false)
      order.map { t =>
        val res = constraints.primaryKeys.get(t).filter(_.nonEmpty) match {
          case Some(pks) => mergeTable(tables(t), t, pks, url, dialect, props = props)
          case None => TableResult(t, 0, 0, Some(s"no primary key reflected for $t"))
        }
        if (!res.failed) appendUpdateLog(conn, res, user, host)
        res
      }
    } finally {
      try conn.commit() catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }

  /** Streaming MERGE sink: each micro-batch lands via [[mergeTable]] —
    * PK-guarded insert-if-absent (the reference's MERGE semantics: an
    * existing key is left untouched, never updated). Exactly-once EFFECT
    * without a transactional sink: a replayed batch (restart between sink
    * write and checkpoint commit — Structured Streaming's at-least-once
    * window) matches every PK and inserts nothing. Idempotence is the
    * standard production answer for JDBC targets; the spec replays a
    * batch explicitly to pin it, alongside the bare-foreachBatch variant
    * above it.
    */
  def streamInto(
      stream: DataFrame,
      table: String,
      pks: Seq[String],
      url: String,
      dialect: Dialect,
      checkpoint: String,
      props: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val res = mergeTable(batch, table, pks, url, dialect, props = props)
        res.error.foreach(e => throw new RuntimeException(s"stream merge into $table failed: $e"))
      }
}
