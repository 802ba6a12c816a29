package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.concurrent.ConcurrentHashMap

import graft.streaming.JdbcSink
import org.apache.spark.TaskContext

/** The landing store: embedded, in-memory Derby (the jar ships with Spark).
  *
  * Derby shim. `JdbcSink` writes its lineage columns `_batch_id` and
  * `_part_id` unquoted, and Derby rejects identifiers that start with `_`
  * (`Syntax error: Encountered "_"`). [[DerbyFactory]] is the benchmark's
  * `JdbcSink.ConnectionFactory`: it quotes exactly those two identifiers in
  * every statement the sink prepares and passes everything else through.
  * The landing DDL and the lineage index are created here, because JdbcSink
  * expects the tables to exist. */
object Landing {
  val PosTable = "ship_pos_and_wx"
  val InfoTable = "ship_info_and_destination"
  val DriverClass = "org.apache.derby.jdbc.EmbeddedDriver"

  private val lineage = s""""${JdbcSink.BatchCol}" BIGINT NOT NULL, "${JdbcSink.PartCol}" INT NOT NULL"""
  private val ddl = Seq(
    s"""CREATE TABLE $PosTable (mmsi VARCHAR(16), timestamp TIMESTAMP,
       |status VARCHAR(64), heading INT, speed DOUBLE, lat DOUBLE, lon DOUBLE,
       |country VARCHAR(64), region VARCHAR(64), locale VARCHAR(64),
       |condition VARCHAR(64), temp_f DOUBLE, wind_dir VARCHAR(8),
       |wind_mph DOUBLE, $lineage)""".stripMargin,
    s"""CREATE TABLE $InfoTable (mmsi VARCHAR(16), shipname VARCHAR(64),
       |shiptype VARCHAR(64), callsign VARCHAR(16), destination VARCHAR(64),
       |timestamp TIMESTAMP, $lineage)""".stripMargin) ++
    Seq(PosTable, InfoTable).map(t =>
      s"""CREATE INDEX ${t}_lineage ON $t ("${JdbcSink.BatchCol}", "${JdbcSink.PartCol}")""")

  private val lineageIdent =
    s"""(?<!")\\b(${JdbcSink.BatchCol}|${JdbcSink.PartCol})\\b(?!")""".r

  def quoteLineage(sql: String): String = lineageIdent.replaceAllIn(sql, "\"$1\"")

  def url(db: String): String = s"jdbc:derby:memory:$db"

  /** Create a fresh landing database with both tables and their indexes. */
  def create(db: String): Unit = {
    Class.forName(DriverClass)
    val c = DriverManager.getConnection(url(db) + ";create=true")
    try {
      val s = c.createStatement()
      ddl.foreach(s.execute)
      s.close()
    } finally c.close()
  }

  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing

  /** Run a single-value query directly against the store (output checks). */
  def scalar(db: String, sql: String): Long = {
    val c = DriverManager.getConnection(url(db))
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  def sparkProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", DriverClass)
    p
  }

  /** Tables whose whole-batch delete was already seen: a second one is a
    * redelivery of that batch. */
  private val seenBatches = ConcurrentHashMap.newKeySet[String]()

  /** The benchmark's connection factory. Untraced, it only applies the
    * quoting shim. Traced, it also counts and times connects, deletes,
    * inserts and commits, and records them as spans whose request id is
    * `<table>:<batch id>`. */
  final case class DerbyFactory(db: String, traced: Boolean)
      extends JdbcSink.ConnectionFactory {
    def connect(): Connection = {
      Class.forName(DriverClass)
      if (!traced) return proxy(DriverManager.getConnection(url(db)), None)
      val t0 = Trace.now()
      val c = DriverManager.getConnection(url(db))
      val t1 = Trace.now()
      Trace.add("sink.connections", 1)
      Trace.add("sink.connect_ns", t1 - t0)
      val tc = TaskContext.get()
      if (tc == null) Trace.add("sink.upsert_calls", 1)
      else if (tc.attemptNumber() > 0) Trace.add("sink.task_retries", 1)
      val state = new ConnState(t0, t1)
      proxy(c, Some(state))
    }
  }

  /** Per-connection trace state: the batch the connection is writing. */
  private final class ConnState(val connectStart: Long, val connectEnd: Long) {
    @volatile var table = ""
    @volatile var batchId = Long.MinValue
    @volatile var connectRecorded = false
    def req: String = s"$table:$batchId"
    def recordConnect(): Unit = if (!connectRecorded) {
      connectRecorded = true
      Trace.record("sink.connect", req, 0L, connectStart, connectEnd)
    }
  }

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def timed(name: String, st: ConnState)(body: => AnyRef): AnyRef = {
    val t0 = Trace.now()
    try body
    finally {
      val t1 = Trace.now()
      Trace.add(s"$name" + "_ns", t1 - t0)
      Trace.record(name, st.req, 0L, t0, t1)
    }
  }

  private def proxy(c: Connection, st: Option[ConnState]): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          (m.getName, st) match {
            case ("prepareStatement", _) if args != null && args(0).isInstanceOf[String] =>
              val sql = quoteLineage(args(0).asInstanceOf[String])
              args(0) = sql
              val ps = Landing.invoke(c, m, args).asInstanceOf[PreparedStatement]
              st.fold(ps)(s => statement(ps, sql, s))
            case ("commit", Some(s)) => timed("sink.commit", s)(Landing.invoke(c, m, args))
            case _ => Landing.invoke(c, m, args)
          }
      }).asInstanceOf[Connection]

  private def statement(ps: PreparedStatement, sql: String,
      st: ConnState): PreparedStatement = {
    val words = sql.trim.split("\\s+")
    val isDelete = words(0).equalsIgnoreCase("DELETE")
    val wholeBatch = isDelete && !sql.contains(JdbcSink.PartCol)
    st.table = words(2) // DELETE FROM <t> ... | INSERT INTO <t> ...
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "setLong" if isDelete && args(0) == Integer.valueOf(1) =>
              st.batchId = args(1).asInstanceOf[java.lang.Long]
              st.recordConnect()
              if (wholeBatch && !seenBatches.add(st.req)) Trace.add("sink.redeliveries", 1)
              Landing.invoke(ps, m, args)
            case "executeUpdate" if isDelete =>
              timed("sink.delete", st)(Landing.invoke(ps, m, args))
            case "addBatch" if args == null =>
              Trace.add("sink.rows_inserted", 1)
              Landing.invoke(ps, m, args)
            case "executeBatch" =>
              Trace.add("sink.execute_batch_calls", 1)
              timed("sink.insert", st)(Landing.invoke(ps, m, args))
            case _ => Landing.invoke(ps, m, args)
          }
      }).asInstanceOf[PreparedStatement]
  }
}
