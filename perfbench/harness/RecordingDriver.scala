package perfbench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** The benchmark's own in-process JDBC driver for `jdbc:perfbench:` URLs.
  *
  * It models what the streaming job's sink needs from Postgres and nothing
  * more: `CREATE TABLE IF NOT EXISTS`, and `INSERT … ON CONFLICT (k)
  * DO UPDATE SET c = EXCLUDED.c` / `DO NOTHING` with transactional
  * visibility (`executeBatch` stages rows on the connection, `commit`
  * publishes them, `rollback` discards them). Any other call throws, so a
  * writer that starts relying on more of JDBC fails the run instead of
  * being measured against a model that does not hold.
  *
  * Every connect, prepare, `executeBatch`, commit and rollback is counted
  * and timed, so the sink numbers measure the writer's own work rather
  * than a database's. The committed end-state is what the stream checks
  * read.
  */
object RecordingDb {
  val UrlPrefix = "jdbc:perfbench:"

  val connects = new AtomicLong
  val prepares = new AtomicLong
  val executeBatches = new AtomicLong
  val rows = new AtomicLong
  val commits = new AtomicLong
  val rollbacks = new AtomicLong
  val ddl = new AtomicLong
  val driverNanos = new AtomicLong
  /** Driver time spent outside Spark tasks: the start-up DDL. */
  val driverSideNanos = new AtomicLong

  /** Committed rows per table: key values -> (column -> value). */
  final class Table {
    val rows = mutable.HashMap[Vector[Any], mutable.HashMap[String, Any]]()
  }
  private val tables = mutable.HashMap[String, Table]()

  def counters: Map[String, Long] = Map(
    "connects" -> connects.get, "prepares" -> prepares.get,
    "execute_batches" -> executeBatches.get, "rows" -> rows.get,
    "commits" -> commits.get, "rollbacks" -> rollbacks.get,
    "ddl" -> ddl.get, "driver_ns" -> driverNanos.get)

  def rowsOf(table: String): Vector[Map[String, Any]] = synchronized {
    tables.get(table).map(_.rows.values.map(_.toMap).toVector).getOrElse(Vector.empty)
  }

  private[perfbench] def createTable(name: String): Unit = synchronized {
    tables.getOrElseUpdate(name, new Table); ()
  }

  private[perfbench] def publish(staged: Seq[Staged]): Unit = synchronized {
    staged.foreach { s =>
      val t = tables.getOrElse(s.table,
        throw new SQLException(s"relation ${s.table} does not exist"))
      val keyIdx = s.keyCols.map(s.columns.indexOf)
      s.rows.foreach { r =>
        val key = keyIdx.map(r(_))
        t.rows.get(key) match {
          case Some(existing) if !s.doNothing =>
            s.columns.indices.foreach(i => existing(s.columns(i)) = r(i))
          case Some(_) => ()
          case None =>
            val row = mutable.HashMap[String, Any]()
            s.columns.indices.foreach(i => row(s.columns(i)) = r(i))
            t.rows(key) = row
        }
      }
    }
  }

  final case class Staged(table: String, columns: Vector[String],
      keyCols: Vector[String], doNothing: Boolean, rows: Vector[Vector[Any]])

  /** Times one driver call, counts it into the driver's busy time and
    * hands it to the trace. */
  private[perfbench] def timed[T](op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      driverNanos.addAndGet(t1 - t0)
      if (org.apache.spark.TaskContext.get() == null) driverSideNanos.addAndGet(t1 - t0)
      Trace.jdbc(op, t0, t1)
    }
  }

  private lazy val registered: Unit = DriverManager.registerDriver(new RecordingDriver)
  def register(): Unit = registered
}

final class RecordingDriver extends Driver {
  import RecordingDb._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(UrlPrefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else timed("connect") {
      connects.incrementAndGet()
      Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
        new ConnectionHandler).asInstanceOf[Connection]
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

private[perfbench] object Proxies {
  def args(raw: Array[AnyRef]): Array[AnyRef] = if (raw == null) Array.empty else raw

  /** Object methods every proxy answers; anything else is unmodelled. */
  def objectMethod(proxy: AnyRef, m: Method, args: Array[AnyRef], what: String): AnyRef =
    m.getName match {
      case "toString" => what
      case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
      case "equals"   => java.lang.Boolean.valueOf(proxy eq args(0))
      case other => throw new SQLException(s"$what.$other is not modelled by the benchmark driver")
    }
}

private[perfbench] final class ConnectionHandler extends InvocationHandler {
  import RecordingDb._
  private val staged = mutable.ArrayBuffer[Staged]()
  private var autoCommit = true
  private var closed = false

  def stage(s: Staged): Unit = synchronized {
    if (autoCommit) publish(Seq(s)) else staged += s
  }

  override def invoke(proxy: AnyRef, m: Method, raw: Array[AnyRef]): AnyRef = {
    val args = Proxies.args(raw)
    m.getName match {
      case "prepareStatement" => timed("prepare") {
        prepares.incrementAndGet()
        Prepared.make(this, args(0).asInstanceOf[String])
      }
      case "createStatement" => Ddl.make()
      case "setAutoCommit" => synchronized { autoCommit = args(0).asInstanceOf[java.lang.Boolean] }; null
      case "getAutoCommit" => java.lang.Boolean.valueOf(synchronized(autoCommit))
      case "commit" => timed("commit") {
        commits.incrementAndGet()
        val toApply = synchronized { val v = staged.toVector; staged.clear(); v }
        publish(toApply)
      }; null
      case "rollback" => timed("rollback") {
        rollbacks.incrementAndGet()
        synchronized(staged.clear())
      }; null
      case "close" => closed = true; null
      case "isClosed" => java.lang.Boolean.valueOf(closed)
      case _ => Proxies.objectMethod(proxy, m, args, "Connection")
    }
  }
}

private[perfbench] object Prepared {
  private val UpsertRe =
    """INSERT INTO (\S+) \(([^)]*)\) VALUES \([^)]*\) ON CONFLICT \(([^)]*)\) (DO NOTHING|DO UPDATE SET (.+))""".r

  def make(conn: ConnectionHandler, sql: String): PreparedStatement = {
    val (table, columns, keyCols, doNothing) = sql match {
      case UpsertRe(t, cols, keys, action, set) =>
        val cs = cols.split(",\\s*").toVector
        val ks = keys.split(",\\s*").toVector
        if (action != "DO NOTHING") {
          // only the replace-every-non-key-column form is modelled
          val expected = cs.filterNot(ks.contains).map(c => s"$c = EXCLUDED.$c").mkString(", ")
          if (set != expected) throw new SQLException(s"unmodelled SET clause: $set")
        }
        (t, cs, ks, action == "DO NOTHING")
      case _ => throw new SQLException(s"unmodelled statement: $sql")
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new Handler(conn, table, columns, keyCols, doNothing)).asInstanceOf[PreparedStatement]
  }

  final class Handler(conn: ConnectionHandler, table: String, columns: Vector[String],
      keyCols: Vector[String], doNothing: Boolean) extends InvocationHandler {
    import RecordingDb._
    private val params = new Array[Any](columns.size)
    private val batch = mutable.ArrayBuffer[Vector[Any]]()

    override def invoke(proxy: AnyRef, m: Method, raw: Array[AnyRef]): AnyRef = {
      val args = Proxies.args(raw)
      m.getName match {
        case "setNull" => params(args(0).asInstanceOf[Integer] - 1) = null; null
        case set if set.startsWith("set") && args.length == 2 =>
          params(args(0).asInstanceOf[Integer] - 1) = args(1); null
        case "addBatch" => batch += params.toVector; null
        case "clearBatch" => batch.clear(); null
        case "executeBatch" => timed("executeBatch") {
          executeBatches.incrementAndGet()
          rows.addAndGet(batch.size)
          conn.stage(Staged(table, columns, keyCols, doNothing, batch.toVector))
          val n = batch.size
          batch.clear()
          Array.fill(n)(1)
        }
        case "close" => null
        case _ => Proxies.objectMethod(proxy, m, args, s"PreparedStatement($table)")
      }
    }
  }
}

private[perfbench] object Ddl {
  private val CreateRe = """CREATE TABLE IF NOT EXISTS (\w+) .*""".r

  def make(): Statement =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Statement]),
      new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method, raw: Array[AnyRef]): AnyRef = {
          val args = Proxies.args(raw)
          m.getName match {
            case "execute" => RecordingDb.timed("ddl") {
              args(0).asInstanceOf[String] match {
                case CreateRe(t) => RecordingDb.ddl.incrementAndGet(); RecordingDb.createTable(t)
                case other => throw new SQLException(s"unmodelled DDL: $other")
              }
              java.lang.Boolean.FALSE
            }
            case "close" => null
            case _ => Proxies.objectMethod(proxy, m, args, "Statement")
          }
        }
      }).asInstanceOf[Statement]
}
