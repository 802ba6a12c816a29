package graft.streaming

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}
import scala.collection.mutable

/** In-memory JDBC double for the sink tests: a dynamic-proxy Connection /
  * PreparedStatement pair implementing exactly the call surface JdbcSink
  * uses (prepareStatement / set* / addBatch / executeBatch / executeUpdate /
  * commit / close), applying the SQL against a JVM-wide table store so
  * executor-side writes in local mode land where the test can see them.
  * Commit semantics are modeled: uncommitted work is buffered per connection
  * and applied atomically on commit, discarded on close-without-commit. */
object FakeJdbc {

  // table -> committed rows (insert order preserved; row = col -> value)
  private val tables =
    mutable.Map[String, Vector[Map[String, Any]]]().withDefaultValue(Vector())
  // connections opened/committed — lets tests assert one connection per
  // partition and that nothing lands without a commit
  @volatile var opened = 0
  @volatile var committed = 0

  def clear(): Unit = synchronized {
    tables.clear(); opened = 0; committed = 0
  }

  def rows(table: String): Vector[Map[String, Any]] =
    synchronized(tables(table))

  private val InsertRe =
    """(?is)INSERT INTO (\S+) \(([^)]*)\) VALUES.*""".r
  private val DeleteRe =
    """(?is)DELETE FROM (\S+) WHERE (\S+) = \? AND (\S+) = \?""".r
  private val DeleteBatchRe =
    """(?is)DELETE FROM (\S+) WHERE (\S+) = \?""".r

  def connection(): Connection = {
    synchronized { opened += 1 }
    val pending = mutable.Buffer[(String, Vector[Map[String, Any]] => Vector[Map[String, Any]])]()

    def statement(sql: String): PreparedStatement = {
      val params = mutable.Map[Int, Any]()
      val batches = mutable.Buffer[Map[Int, Any]]()
      val handler = new InvocationHandler {
        def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "setObject" | "setLong" | "setInt" | "setString" =>
              params(args(0).asInstanceOf[Int]) = args(1); null
            case "addBatch" =>
              batches += params.toMap; params.clear(); null
            case "executeBatch" =>
              sql match {
                case InsertRe(table, colList) =>
                  val cols = colList.split(',').map(_.trim).toVector
                  val newRows = batches.toVector.map(b =>
                    cols.zipWithIndex.map { case (c, i) => c -> b(i + 1) }.toMap)
                  pending += table -> ((rs: Vector[Map[String, Any]]) => rs ++ newRows)
                case other => sys.error(s"unexpected batch sql: $other")
              }
              val n = batches.size; batches.clear()
              Array.fill(n)(1)
            case "executeUpdate" =>
              sql match {
                case DeleteRe(table, c1, c2) =>
                  val (v1, v2) = (params(1), params(2))
                  pending += table -> ((rs: Vector[Map[String, Any]]) =>
                    rs.filterNot(r =>
                      r(c1).toString == v1.toString && r(c2).toString == v2.toString))
                case DeleteBatchRe(table, c1) =>
                  val v1 = params(1)
                  pending += table -> ((rs: Vector[Map[String, Any]]) =>
                    rs.filterNot(r => r(c1).toString == v1.toString))
                case other => sys.error(s"unexpected update sql: $other")
              }
              Integer.valueOf(0)
            case "close" => null
            case other => sys.error(s"unexpected PreparedStatement.$other")
          }
      }
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[PreparedStatement]), handler)
        .asInstanceOf[PreparedStatement]
    }

    val connHandler = new InvocationHandler {
      def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "prepareStatement" => statement(args(0).asInstanceOf[String])
          case "setAutoCommit" => null
          case "commit" =>
            FakeJdbc.synchronized {
              pending.foreach { case (t, f) => tables(t) = f(tables(t)) }
              pending.clear()
              committed += 1
            }
            null
          case "close" => pending.clear(); null
          case other => sys.error(s"unexpected Connection.$other")
        }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), connHandler).asInstanceOf[Connection]
  }

  /** Serializable factory handing out proxy connections — the object
    * round-trips through closure serialization as a module reference, so
    * executor-side code (same JVM in local mode) hits the same store. */
  object Factory extends JdbcSink.ConnectionFactory {
    def connect(): Connection = FakeJdbc.connection()
  }
}
