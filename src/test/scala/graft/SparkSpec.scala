package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local-session fixture: one SparkSession per suite, sf0.001
  * testdata as input (TESTDATA.md — driver-generated, read-only). */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val SfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Runs `body` with the optimizer rule `rule` switched off through
    * Spark's own `spark.sql.optimizer.excludedRules`, for rule-on ≡
    * rule-off comparisons; the prior setting is restored after. */
  def withoutRule[A](rule: Class[_])(body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, rule.getName)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  override def afterAll(): Unit = {
    // session is shared process-wide (getOrCreate); don't stop between suites
    super.afterAll()
  }
}

/** A [[SparkSpec]] on its own `local[4,2]` session, for suites that
  * kill tasks ([[graft.tools.Chaos.failFirstAttempt]]): plain local[N]
  * schedules with maxFailures=1 and fails the whole job on the first
  * throw, so no spec on the shared session can ever exercise a retry.
  * A master is fixed per SparkContext, so the process-wide session is
  * stopped first, and this one after the suite, so the next suite's
  * getOrCreate rebuilds the default local[4]. */
abstract class RetryingSparkSpec extends SparkSpec {
  override lazy val spark: SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    GraftSession.build("local[4,2]", 4)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark: Unit
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
