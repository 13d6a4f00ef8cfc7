package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites (sf0.001 corpus). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf: String = SparkSpec.Sf

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up

  /** Spark jobs `body` starts on this thread. A fresh job group tags them,
    * so jobs of other threads never count; the listener bus is drained
    * before the count is read. */
  protected def jobsStarted(s: SparkSession)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = s.sparkContext
    val group = s"jobs_started_${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListeners(sc)
      sc.removeSparkListener(counter)
    }
    n.get
  }
}

object SparkSpec {
  val Sf: String = "/root/testdata/sf0.001"

  /** The mains' session at a fixed 4 cores, whatever the host has. */
  lazy val session: SparkSession = GraftSession(4)
}
