package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (one JVM-wide session under the hood —
  * getOrCreate — so suites don't pay repeated startup), built by the same
  * [[Graft.session]] every main uses. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.session("local[4]", 4)

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` with the session confs set to `kv`, then restores each
    * key's previous value (or unsets it). */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with `rules` removed from the session's extra optimizer
    * rules — the rule-off reference plan — then restores the list. */
  def withoutRules[T](rules: Rule[LogicalPlan]*)(body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(rules.contains)
    try body
    finally spark.experimental.extraOptimizations = saved
  }
}
