package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites: one JVM-wide local session with
  * the engine's canonical configs (UTC, AQE, nanosAsLong, and
  * [[graft.plans.GraftExtensions]] through `spark.sql.extensions`). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` on the shared session with `rules` named in
    * `spark.sql.optimizer.excludedRules`, then restores the conf: the
    * window or fold twin of an injected rewrite. Plans are optimized
    * lazily, so `f` must plan or collect what it checks. */
  def withExcludedRules[T](rules: Rule[LogicalPlan]*)(f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, rules.map(_.ruleName).mkString(","))
    try f
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
