package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The local SparkSession the suites share (getOrCreate returns one
  * session per forked JVM), with the production optimizer rules
  * installed once ([[graft.plans.GraftExtensions.install]] is
  * idempotent), so every suite plans as the CLI and catalog mains do.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.plans.GraftExtensions.install(SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  def sf(s: String): String = s"/root/testdata/sf$s"
}
