package syncbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.concurrent.atomic.LongAdder

/** JDBC driver that delegates to embedded Derby and counts what the sink
  * sends through it. It answers URLs starting with [[CountingDriver.Prefix]];
  * that prefix still begins with `jdbc:derby`, so Spark keeps choosing its
  * Derby dialect. Counters are process-wide; the trace recorder takes their
  * difference around each span. */
final class CountingDriver extends Driver {
  import CountingDriver._

  private def derby: Driver = DriverManager.getDriver("jdbc:derby:probe")

  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val c = derby.connect("jdbc:derby:" + url.substring(Prefix.length), info)
      connections.increment()
      wrap(c, classOf[Connection], connectionHandler(c))
    }

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(Prefix)
  override def getPropertyInfo(url: String, info: java.util.Properties)
      : Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("syncbench")
}

object CountingDriver {
  val Prefix = "jdbc:derbycounting:"

  val connections, statements, batches, rowsReexecuted, rollbacks,
      queries = new LongAdder

  def snapshot(): Map[String, Long] = Map(
    "connections" -> connections.sum(), "statements" -> statements.sum(),
    "batches" -> batches.sum(), "rows_reexecuted" -> rowsReexecuted.sum(),
    "rollbacks" -> rollbacks.sum(), "queries" -> queries.sum())

  private var registered = false
  def register(): Unit = synchronized {
    if (!registered) {
      DriverManager.registerDriver(new CountingDriver)
      registered = true
    }
  }

  private def wrap[T](target: AnyRef, iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def connectionHandler(c: Connection): InvocationHandler =
    (_: Any, m: Method, args: Array[AnyRef]) => {
      val r = invoke(c, m, args)
      m.getName match {
        case "prepareStatement" =>
          val ps = r.asInstanceOf[PreparedStatement]
          wrap(ps, classOf[PreparedStatement], statementHandler(ps))
        case "createStatement" =>
          val st = r.asInstanceOf[Statement]
          wrap(st, classOf[Statement], statementHandler(st))
        case "rollback" => rollbacks.increment(); r
        case _ => r
      }
    }

  /** `addBatch` counts a statement, `executeBatch` a batch; a lone
    * `executeUpdate` is a statement the sink re-executes row by row after
    * a failed batch (its only use of single-row execution). */
  private def statementHandler(st: Statement): InvocationHandler =
    (_: Any, m: Method, args: Array[AnyRef]) => {
      m.getName match {
        case "addBatch" => statements.increment()
        case "executeBatch" => batches.increment()
        case "executeUpdate" =>
          statements.increment(); rowsReexecuted.increment()
        case "executeQuery" => queries.increment()
        case _ =>
      }
      invoke(st, m, args)
    }
}
