package graft.flowbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverPropertyInfo, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** JDBC driver that delegates to Derby's embedded driver and counts, at
  * the source side, what a sync asks of the database: statements
  * executed, rows fetched, and nanoseconds spent in `ResultSet.next`
  * (the cursor's fetch work). Traced operations pass this class as the
  * JDBC `driver` option; untraced ones use Derby's driver directly.
  */
final class CountingDriver extends Driver {
  private lazy val derby: Driver = new org.apache.derby.jdbc.EmbeddedDriver()

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else CountingDriver.wrap(derby.connect(url, info), classOf[Connection])

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith("jdbc:derby:")
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    derby.getPropertyInfo(url, info)
  override def getMajorVersion: Int = derby.getMajorVersion
  override def getMinorVersion: Int = derby.getMinorVersion
  override def jdbcCompliant(): Boolean = derby.jdbcCompliant()
  override def getParentLogger: java.util.logging.Logger = derby.getParentLogger
}

object CountingDriver {
  val statements = new AtomicLong
  val rows = new AtomicLong
  val fetchNanos = new AtomicLong

  final case class Snap(statements: Long, rows: Long, fetchS: Double) {
    def -(o: Snap): Snap = Snap(statements - o.statements, rows - o.rows, fetchS - o.fetchS)
  }
  def snap(): Snap = Snap(statements.get, rows.get, fetchNanos.get / 1e9)

  private val executes = Set("executeQuery", "execute", "executeUpdate",
    "executeLargeUpdate", "executeBatch")

  private[flowbench] def wrap[T](target: AnyRef, iface: Class[T]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target)).asInstanceOf[T]

  private final class Handler(target: AnyRef) extends InvocationHandler {
    override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      val t0 = System.nanoTime()
      val out =
        try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      target match {
        case _: ResultSet if name == "next" =>
          fetchNanos.addAndGet(System.nanoTime() - t0)
          if (out == java.lang.Boolean.TRUE) rows.incrementAndGet()
        case _: Statement if executes(name) => statements.incrementAndGet()
        case _ =>
      }
      out match {
        case rs: ResultSet => wrap(rs, classOf[ResultSet])
        case st: java.sql.CallableStatement => wrap(st, classOf[java.sql.CallableStatement])
        case st: java.sql.PreparedStatement => wrap(st, classOf[java.sql.PreparedStatement])
        case st: Statement => wrap(st, classOf[Statement])
        case other => other
      }
    }
  }
}
