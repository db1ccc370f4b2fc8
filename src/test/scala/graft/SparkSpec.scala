package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs
  * run forked per build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Per-query temporaries (`Shared.temp`) end with their test, as they
  * end with their query in `Bench`, `Dev` and `Verify`: a frame left
  * cached would be substituted into any later test's equal subtree. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  override def afterEach(): Unit =
    try super.afterEach() finally graft.queries.Shared.dropTransient()
  def sf001 = "/root/testdata/sf0.001"
}
