package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Counters for one tagged JDBC endpoint, taken at the java.sql boundary. */
final class JdbcCounters {
  val connects, open, maxOpen = new AtomicLong()
  /** Round trips: execute, executeQuery, executeUpdate, executeBatch. */
  val calls = new AtomicLong()
  /** Rows bound for writing: one per executeUpdate or addBatch. */
  val rowsBound = new AtomicLong()
  /** Sum of the update counts the database returned. */
  val affected = new AtomicLong()
  /** Explicit commits, plus every write executed under auto-commit. */
  val commits = new AtomicLong()
  /** Statements that threw: each one is a retry or a lost row upstream. */
  val errors = new AtomicLong()
  /** Rows read through ResultSet.next. */
  val rowsRead = new AtomicLong()
  /** Nanoseconds spent inside the driver. */
  val ns = new AtomicLong()
}

/** A java.sql.Driver that forwards `jdbc:perfbench:<tag>:<inner-url>` to
  * the driver for `<inner-url>` and counts what passes through, per tag.
  * It sits outside the engine, so the counts hold whatever the engine's
  * own JDBC seam does (per-row statements, batches, transactions).
  */
final class ProbeDriver extends Driver {
  import ProbeDriver._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val rest = url.stripPrefix(Prefix)
      val tag = rest.takeWhile(_ != ':')
      val c = counters(tag)
      val inner = timed(c)(DriverManager.getConnection(rest.drop(tag.length + 1), info))
      c.connects.incrementAndGet()
      c.maxOpen.accumulateAndGet(c.open.incrementAndGet(), math.max)
      wrap(classOf[Connection], inner, new ConnHandler(inner, c))
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

object ProbeDriver {
  val Prefix = "jdbc:perfbench:"
  private val all = new ConcurrentHashMap[String, JdbcCounters]()

  def counters(tag: String): JdbcCounters = all.computeIfAbsent(tag, _ => new JdbcCounters)
  def url(tag: String, inner: String): String = s"$Prefix$tag:$inner"

  private lazy val registered: Unit = DriverManager.registerDriver(new ProbeDriver)
  def register(): Unit = registered

  private def timed[T](c: JdbcCounters)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally c.ns.addAndGet(System.nanoTime() - t0)
  }

  private def wrap[T](iface: Class[T], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private final class ConnHandler(conn: Connection, c: JdbcCounters) extends InvocationHandler {
    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "prepareStatement" | "prepareCall" | "createStatement" =>
          val st = timed(c)(ProbeDriver.invoke(conn, m, args)).asInstanceOf[Statement]
          wrap(m.getReturnType.asInstanceOf[Class[Statement]], st, new StmtHandler(conn, st, c))
        case "commit" =>
          c.commits.incrementAndGet()
          timed(c)(ProbeDriver.invoke(conn, m, args))
        case "close" =>
          if (!conn.isClosed) c.open.decrementAndGet()
          ProbeDriver.invoke(conn, m, args)
        case _ => ProbeDriver.invoke(conn, m, args)
      }
  }

  private final class StmtHandler(conn: Connection, st: Statement, c: JdbcCounters)
      extends InvocationHandler {
    private def write(n: => AnyRef): AnyRef = {
      c.calls.incrementAndGet()
      val r = try timed(c)(n) catch { case e: Throwable => c.errors.incrementAndGet(); throw e }
      if (conn.getAutoCommit) c.commits.incrementAndGet()
      r
    }
    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "executeUpdate" | "executeLargeUpdate" =>
          c.rowsBound.incrementAndGet()
          val r = write(ProbeDriver.invoke(st, m, args))
          c.affected.addAndGet(r.asInstanceOf[Number].longValue)
          r
        case "addBatch" =>
          c.rowsBound.incrementAndGet()
          ProbeDriver.invoke(st, m, args)
        case "executeBatch" =>
          val r = write(ProbeDriver.invoke(st, m, args)).asInstanceOf[Array[Int]]
          c.affected.addAndGet(r.iterator.filter(_ > 0).map(_.toLong).sum)
          r
        case "executeQuery" =>
          c.calls.incrementAndGet()
          val rs = timed(c)(ProbeDriver.invoke(st, m, args)).asInstanceOf[ResultSet]
          wrap(classOf[ResultSet], rs, new RsHandler(rs, c))
        case "execute" =>
          c.calls.incrementAndGet()
          timed(c)(ProbeDriver.invoke(st, m, args))
        case _ => ProbeDriver.invoke(st, m, args)
      }
  }

  private final class RsHandler(rs: ResultSet, c: JdbcCounters) extends InvocationHandler {
    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      if (m.getName == "next") {
        val r = timed(c)(ProbeDriver.invoke(rs, m, args))
        if (r == java.lang.Boolean.TRUE) c.rowsRead.incrementAndGet()
        r
      } else ProbeDriver.invoke(rs, m, args)
  }
}
