package graft.sinks

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, SQLFeatureNotSupportedException, Statement}
import java.util.Properties

/** A delegating JDBC driver over Derby with PostgreSQL's transaction
  * rule: once a statement fails inside a transaction, every later
  * statement fails with SQLSTATE 25P02 until `rollback()`, and `commit()`
  * then rolls back. Derby keeps the transaction usable after a failed
  * statement, so code that swallows an error without a rollback passes
  * against it and breaks only on PostgreSQL.
  *
  * URLs are `jdbc:aborting:` + the Derby URL without its `jdbc:`. A
  * statement whose SQL matches `refuse` fails as if the database had
  * rejected it.
  */
object AbortingDriver extends Driver {

  private val Prefix = "jdbc:aborting:"

  @volatile var refuse: String => Boolean = _ => false

  DriverManager.registerDriver(this)

  def url(derbyUrl: String): String = Prefix + derbyUrl.stripPrefix("jdbc:")

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else wrap(DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info))

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new SQLFeatureNotSupportedException()

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  private def wrap(conn: Connection): Connection = {
    var aborted = false
    def statement[T <: Statement](iface: Class[T], st: T, prepared: Option[String]): T =
      proxy(iface, (_: AnyRef, m: Method, args: Array[AnyRef]) =>
        if (!m.getName.startsWith("execute")) call(st, m, args)
        else {
          val sql = prepared.orElse(Option(args).flatMap(_.headOption).map(String.valueOf))
          if (aborted)
            throw new SQLException(
              "current transaction is aborted, commands ignored until end of transaction block",
              "25P02")
          try {
            if (sql.exists(refuse)) throw new SQLException(s"refused: ${sql.get}", "42501")
            call(st, m, args)
          } catch {
            case e: SQLException => aborted = true; throw e
          }
        })
    proxy(classOf[Connection], (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "createStatement" =>
          statement(classOf[Statement], call(conn, m, args).asInstanceOf[Statement], None)
        case "prepareStatement" =>
          statement(classOf[PreparedStatement],
            call(conn, m, args).asInstanceOf[PreparedStatement], Some(String.valueOf(args(0))))
        case "rollback" if args == null =>
          aborted = false
          call(conn, m, args)
        case "commit" if aborted =>
          aborted = false
          conn.rollback()
          null
        case _ => call(conn, m, args)
      })
  }
}
