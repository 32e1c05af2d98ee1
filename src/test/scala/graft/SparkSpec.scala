package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    // the mains (Verify/Bench) build their sessions with the
    // same extensions; specs must see the same plans the driver does
    .withExtensions(new GraftExtensions())
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // AQE-sized cached-plan partitioning, as in Bench/Verify — specs
    // must exercise the same physical behavior the driver runs
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    .getOrCreate()

  val SfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.SfDir
  def table(name: String): DataFrame = sources.Tables.load(spark, sfDir, name)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }
}
