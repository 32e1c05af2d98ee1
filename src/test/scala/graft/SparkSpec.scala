package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkSpec {
  // the session the mains ship: specs see the plans the mains run
  lazy val spark: SparkSession = GraftSession.local(4)

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
