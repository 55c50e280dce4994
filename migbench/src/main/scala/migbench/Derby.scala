package migbench

import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** In-memory Derby databases standing in for SQL Server (source) and
  * PostgreSQL (target). Nothing is flushed to disk, which is the stand-in's
  * analogue of the target's `synchronous_commit=off`.
  *
  * Every Derby connection, whether Spark, the library or the benchmark
  * opens it, goes through [[CountingDriver]], which records open and peak
  * connections per database.
  */
object Derby {

  def url(db: String): String = s"jdbc:derby:memory:$db"

  /** Route `jdbc:derby:` through the counting driver. Idempotent. */
  def install(): Unit = synchronized {
    if (CountingDriver.installed) return
    val derby = DriverManager.getDriver("jdbc:derby:memory:probe")
    DriverManager.deregisterDriver(derby)
    CountingDriver.derby = derby
    DriverManager.registerDriver(new CountingDriver)
    CountingDriver.installed = true
  }

  def create(db: String): Unit = { connect(s"${url(db)};create=true").close() }

  /** Drop an in-memory database and free its memory. */
  def drop(db: String): Unit =
    try connect(s"${url(db)};drop=true").close()
    catch { case e: java.sql.SQLException if Set("08006", "XJ004")(e.getSQLState) => () }

  def connect(u: String): Connection = DriverManager.getConnection(u)

  def withConn[A](db: String)(f: Connection => A): A = {
    val c = connect(url(db))
    try f(c) finally c.close()
  }

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Quote an identifier the way Derby keeps it case-sensitive. */
  def q(s: String): String = "\"" + s + "\""

  /** Insert rows in batches of 500 under one transaction. */
  def insertRows(c: Connection, table: String, cols: Seq[String],
      rows: Iterator[Array[AnyRef]]): Int = {
    val ac = c.getAutoCommit
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})")
    var n = 0
    try {
      rows.foreach { row =>
        var i = 0
        while (i < row.length) { ps.setObject(i + 1, row(i)); i += 1 }
        ps.addBatch(); n += 1
        if (n % 500 == 0) ps.executeBatch()
      }
      ps.executeBatch(); c.commit()
    } finally { ps.close(); c.setAutoCommit(ac) }
    n
  }

  /** Row count and an order-independent digest of a table, read back
    * through plain JDBC. Each row is rendered as its columns' JDBC string
    * values and hashed; the digest is the sum of the row hashes. */
  def digest(c: Connection, table: String, cols: Seq[String]): (Long, Long) = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM $table")
      var n = 0L; var sum = 0L
      val vals = new Array[String](cols.size)
      while (rs.next()) {
        var i = 0
        while (i < vals.length) { vals(i) = rs.getString(i + 1); i += 1 }
        sum += rowHash(vals); n += 1
      }
      (n, sum)
    } finally st.close()
  }

  /** 64-bit FNV-1a over the row's values, NULL and separators included. */
  def rowHash(vals: Array[String]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(ch: Int): Unit = { h ^= ch; h *= 0x100000001b3L }
    vals.foreach { v =>
      if (v == null) mix(0x1FFFF)
      else { var i = 0; while (i < v.length) { mix(v.charAt(i)); i += 1 } }
      mix(0x2FFFF)
    }
    h
  }
}

/** Delegating JDBC driver that counts open connections per Derby database.
  * A registered instance replaces Derby's own driver in `DriverManager`, so
  * Spark's JDBC source and sink, the library's own `DriverManager` calls
  * and the benchmark all pass through it. Instances share the counters,
  * and the no-argument constructor lets Spark instantiate it by name.
  */
final class CountingDriver extends Driver {
  import CountingDriver._
  private val delegate = derby

  def connect(u: String, info: java.util.Properties): Connection = {
    if (!acceptsURL(u)) return null
    val raw = delegate.connect(u, info)
    if (raw == null) return null
    val db = dbOf(u)
    val open = counter(db)
    val now = open.incrementAndGet()
    peak(db).accumulateAndGet(now, math.max)
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), (_, m, args) => {
        if (m.getName == "close" && closed.compareAndSet(false, true))
          open.decrementAndGet()
        try m.invoke(raw, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      }).asInstanceOf[Connection]
  }

  def acceptsURL(u: String): Boolean = u != null && u.startsWith("jdbc:derby:")
  def getPropertyInfo(u: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    delegate.getPropertyInfo(u, info)
  def getMajorVersion: Int = delegate.getMajorVersion
  def getMinorVersion: Int = delegate.getMinorVersion
  def jdbcCompliant(): Boolean = delegate.jdbcCompliant()
  def getParentLogger: java.util.logging.Logger = delegate.getParentLogger
}

object CountingDriver {
  @volatile private[migbench] var installed = false
  @volatile private[migbench] var derby: Driver = _
  private val open = new ConcurrentHashMap[String, AtomicInteger]()
  private val peaks = new ConcurrentHashMap[String, AtomicInteger]()

  private def dbOf(u: String): String =
    u.stripPrefix("jdbc:derby:").stripPrefix("memory:").takeWhile(_ != ';')

  private def counter(db: String): AtomicInteger =
    open.computeIfAbsent(db, _ => new AtomicInteger())
  private def peak(db: String): AtomicInteger =
    peaks.computeIfAbsent(db, _ => new AtomicInteger())

  /** Highest number of simultaneously open connections to any one database. */
  def peakPerDatabase: Int = {
    var m = 0
    peaks.values().forEach(p => m = math.max(m, p.get))
    m
  }
}
