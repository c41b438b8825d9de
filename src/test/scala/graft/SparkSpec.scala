package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per suite keeps the
  * JVM warm; local[4] (which pins 4 shuffle partitions) mirrors the
  * Verify configuration at miniature scale. `Graft.session` builds it,
  * so specs run against the same engine as Verify and Bench. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session(Some(SparkSpec.Master))

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM (Test/fork=true
    // gives one JVM per run, not per suite)
    super.afterAll()
  }
}

/** SparkSpec whose session has an ISOLATED SQLConf. sbt runs suites in
  * parallel threads inside the one forked JVM, and `getOrCreate` hands
  * every suite the SAME session — so a suite that mutates session conf
  * (shuffle.partitions, AQE thresholds, codegen flags) while another
  * suite is planning a query changes THAT suite's plans mid-flight.
  * That race is exactly how the bdb model goldens flaked: a concurrent
  * conf flip changed the RandomForest input's partition layout, which
  * changes MLlib's per-partition bootstrap streams. Every conf-mutating
  * suite must extend this trait: `newSession()` shares the
  * SparkContext (warm JVM preserved) but owns its SQLConf, so the
  * builder-level defaults and the graft extensions still apply and
  * nothing leaks across suites.
  */
trait IsolatedSparkSpec extends SparkSpec {
  override lazy val spark: SparkSession =
    Graft.session(Some(SparkSpec.Master)).newSession()
}

object SparkSpec {
  /** The specs' and the goldens' master: seeded ML training is
    * deterministic only per partitioning. */
  val Master = "local[4]"
}
