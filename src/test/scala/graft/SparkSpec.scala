package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites (sf0.001 corpus). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf: String = SparkSpec.Sf

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  val Sf: String = "/root/testdata/sf0.001"

  /** The mains' session at a fixed 4 cores, whatever the host has. */
  lazy val session: SparkSession = GraftSession(4)
}
