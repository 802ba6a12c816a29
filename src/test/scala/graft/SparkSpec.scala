package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (one JVM-wide session under the hood —
  * getOrCreate — so suites don't pay repeated startup), built by the same
  * [[Graft.session]] every main uses. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.session("local[4]", 4)

  def sf(dir: String): String = s"/root/testdata/$dir"
}
