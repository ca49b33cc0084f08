package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.sinks.JdbcMergeWriter.ConnFactory

/** The sync workloads' store: in-memory Derby behind a connection shim.
  *
  * Flush policy: the database lives in memory (`jdbc:derby:memory:`),
  * so a commit never waits on a log write; every run sees the same
  * store cost whatever the disk does. Lock escalation is raised (JVM
  * flag `derby.locks.escalationThreshold`) so that concurrent partition
  * transactions keep row locks, as Postgres does.
  *
  * The shim wraps every connection the program opens through its
  * `ConnFactory`:
  *  - `createArrayOf` + `setArray` become one delimited VARCHAR, since
  *    Derby has no SQL arrays (`MergeSpecs.tasks` binds `comments` as
  *    an array), so the program's full task pipeline runs unchanged;
  *  - it counts connections, statements and rows, and times each JDBC
  *    execute and commit, per table.
  */
object DerbyStore {
  /** Separator of the `comments` array stored as VARCHAR. */
  val Sep = "\u001f"

  val connections = new LongAdder
  val statements = new LongAdder
  val rowsOffered = new LongAdder
  val rowsApplied = new LongAdder
  val proxiedCalls = new LongAdder
  private val nanos = new ConcurrentHashMap[String, LongAdder]()
  private val applied = new ConcurrentHashMap[String, LongAdder]()

  def appliedRows(key: String): Long =
    Option(applied.get(key)).map(_.sum).getOrElse(0L)

  private def addApplied(key: String, n: Long): Unit = {
    rowsApplied.add(n)
    applied.computeIfAbsent(key, _ => new LongAdder).add(n)
  }

  /** Metric suffix of a store table. */
  def tableKey(table: String): String = table.toLowerCase match {
    case "employees" => "employees"
    case "tasks" => "tasks"
    case "task_executors" => "bridge"
    case "task_types" => "dim"
    case "scraper_status" => "watermark"
    case other => other
  }

  def jdbcSeconds(key: String): Double =
    Option(nanos.get(key)).map(_.sum / 1e9).getOrElse(0.0)

  def reset(): Unit = {
    Seq(connections, statements, rowsOffered, rowsApplied, proxiedCalls)
      .foreach(_.reset())
    nanos.clear()
    applied.clear()
    synchronized { busyNanos = 0L }
  }

  // wall time during which at least one JDBC call is in flight
  private var active = 0
  private var busySince = 0L
  private var busyNanos = 0L

  def busySeconds: Double = synchronized(busyNanos / 1e9)

  private def timed(key: String)(body: => AnyRef): AnyRef = {
    val t0 = System.nanoTime()
    synchronized { if (active == 0) busySince = t0; active += 1 }
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized { active -= 1; if (active == 0) busyNanos += t1 - busySince }
      nanos.computeIfAbsent(key, _ => new LongAdder).add(t1 - t0)
    }
  }

  private val TableRe = "(?i)(?:UPDATE|INTO|FROM)\\s+(\\w+)".r

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try { if (args == null) m.invoke(target) else m.invoke(target, args: _*) }
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h)
      .asInstanceOf[T]

  /** A `java.sql.Array` that only carries its elements to `setArray`. */
  private def sqlArray(elems: Array[AnyRef]): java.sql.Array =
    proxy(classOf[java.sql.Array], (_: AnyRef, m: Method, _: Array[AnyRef]) =>
      m.getName match {
        case "getArray" => elems
        case "free" => null
        case other => throw new UnsupportedOperationException(other)
      })

  def wrap(conn: Connection): Connection = {
    connections.increment()
    var lastTable = "other"
    proxy(classOf[Connection], (_: AnyRef, m: Method, args: Array[AnyRef]) => {
      proxiedCalls.increment()
      m.getName match {
        case "createArrayOf" => sqlArray(args(1).asInstanceOf[Array[AnyRef]])
        case "prepareStatement" =>
          val sql = args(0).asInstanceOf[String]
          val table = TableRe.findFirstMatchIn(sql).map(t => tableKey(t.group(1)))
            .getOrElse("other")
          lastTable = table
          statements.increment()
          wrapStatement(call(conn, m, args).asInstanceOf[PreparedStatement],
            table, sql.trim.takeWhile(!_.isWhitespace).toUpperCase)
        case "commit" | "rollback" => timed(lastTable)(call(conn, m, args))
        case _ => call(conn, m, args)
      }
    })
  }

  private def wrapStatement(ps: PreparedStatement, table: String,
      verb: String): PreparedStatement =
    proxy(classOf[PreparedStatement], (_: AnyRef, m: Method, args: Array[AnyRef]) => {
      proxiedCalls.increment()
      m.getName match {
        case "setArray" =>
          val a = args(1).asInstanceOf[java.sql.Array]
          if (a == null) ps.setNull(args(0).asInstanceOf[Integer], java.sql.Types.VARCHAR)
          else ps.setString(args(0).asInstanceOf[Integer],
            a.getArray.asInstanceOf[Array[AnyRef]].mkString(Sep))
          null
        case "executeUpdate" =>
          val n = timed(table)(call(ps, m, args)).asInstanceOf[Integer].intValue
          // a merge offers each row to its UPDATE first; the INSERT
          // only runs for rows the UPDATE did not find
          if (verb == "UPDATE") rowsOffered.increment()
          if (verb != "DELETE") addApplied(table, n.toLong)
          Integer.valueOf(n)
        case "executeBatch" =>
          val counts = timed(table)(call(ps, m, args)).asInstanceOf[Array[Int]]
          val n = counts.iterator.map(_.max(0).toLong).sum
          rowsOffered.add(counts.length.toLong)
          if (verb != "DELETE") addApplied(table, n)
          counts
        case "executeQuery" | "execute" => timed(table)(call(ps, m, args))
        case _ => call(ps, m, args)
      }
    })

  /** Seconds the proxy layer adds per proxied call, measured against
    * the same call made directly.
    */
  def perCallOverheadS(url: String): Double = {
    val c = DriverManager.getConnection(url)
    try {
      val direct = c.prepareStatement("VALUES CAST(? AS BIGINT)")
      val viaShim = wrapStatement(c.prepareStatement("VALUES CAST(? AS BIGINT)"),
        "calibration", "VALUES")
      def loop(ps: PreparedStatement): Long = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < 200000) { ps.setLong(1, i.toLong); i += 1 }
        System.nanoTime() - t0
      }
      loop(direct); loop(viaShim) // warm both paths
      val saved = proxiedCalls.sum
      val d = loop(direct)
      val s = loop(viaShim)
      proxiedCalls.add(saved - proxiedCalls.sum)
      math.max(0L, s - d) / 200000.0 / 1e9
    } finally c.close()
  }

  /** One database. Each set-up gets a fresh name. */
  final class Store(val name: String) {
    val url = s"jdbc:derby:memory:$name;create=true"

    /** The factory handed to the program: every connection is shimmed. */
    val cf: ConnFactory = {
      val u = url
      () => DerbyStore.wrap(DriverManager.getConnection(u))
    }

    def raw(): Connection = DriverManager.getConnection(url)

    def exec(sqls: String*): Unit = {
      val c = raw()
      try sqls.foreach { s => val st = c.createStatement(); st.execute(s); st.close() }
      finally c.close()
    }

    def query[T](sql: String)(f: ResultSet => T): Vector[T] = {
      val c = raw()
      try {
        val rs = c.createStatement().executeQuery(sql)
        val b = Vector.newBuilder[T]
        while (rs.next()) b += f(rs)
        b.result()
      } finally c.close()
    }

    def createSchema(): Unit = exec(
      """CREATE TABLE employees (id BIGINT PRIMARY KEY, fullname VARCHAR(200),
        shortname VARCHAR(50), position VARCHAR(100), email VARCHAR(200),
        phone VARCHAR(50), updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""",
      """CREATE TABLE task_types (
        type_id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        type_name VARCHAR(100) UNIQUE)""",
      """CREATE TABLE tasks (task_id BIGINT PRIMARY KEY, task_type_id INT,
        creation_date TIMESTAMP, closing_date TIMESTAMP,
        description VARCHAR(1000), address VARCHAR(300),
        customer_name VARCHAR(200), customer_login VARCHAR(100),
        comments VARCHAR(4000), is_closed BOOLEAN,
        updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
        latitude DOUBLE, longitude DOUBLE, geocoding_attempts INT DEFAULT 0,
        geocoding_error VARCHAR(300))""",
      "CREATE TABLE task_executors (task_id BIGINT, executor_id BIGINT)",
      "CREATE INDEX task_executors_task ON task_executors (task_id)",
      """CREATE TABLE scraper_status (id INT PRIMARY KEY,
        last_processed_date TIMESTAMP,
        updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")

    def drop(): Unit =
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
      catch { case _: java.sql.SQLException => () } // a drop reports by throwing
  }
}
