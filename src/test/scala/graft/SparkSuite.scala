package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object SparkSuite {
  lazy val spark: SparkSession = {
    // the sf~1 rehearsal replays these suites against 10x data — let it
    // use the full machine (local[4] keeps the dev loop light)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_TEST_CPUS", "4").toInt
    // the same session factory as the Bench/Verify entrypoints, so the
    // plan pins and parity suites exercise the configuration Bench and Verify run
    val s = GraftSession.builder(cpus).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** Fixture dir every suite reads. SPARK_GRAFT_TEST_SF_DIR points the
    * SAME assertions at another scale — the sf~1 rehearsal replays the
    * plan pins and streaming suite against /tmp/sfscale1 this way
    * (VERDICT r13 items 4/5); unset, the default dev fixture. */
  val sf: String = sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  val sf: String = SparkSuite.sf
  def q(name: String) = SparkEntry.queries(name)(spark, sf)
}
