package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite via lazy val (JVM-wide getOrCreate).
  * Each test runs in its own [[graft.plans.Persists.scope]]: the caches
  * its operators register are released when the test ends. */
trait SparkSpec extends AnyFunSuite {
  override def withFixture(test: NoArgTest): Outcome =
    graft.plans.Persists.scope(super.withFixture(test))

  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // pin the AT-SCALE plan shape: Scale.fanOut is the identity when
      // the input already feeds the cluster (every real table at 100 TB),
      // and that identity shape is what the plan-health invariants assert.
      // FanOut's own conditional behavior is covered by ScaleSpec, which
      // overrides this runtime conf locally.
      .config("spark.graft.fanout.target", "1")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
