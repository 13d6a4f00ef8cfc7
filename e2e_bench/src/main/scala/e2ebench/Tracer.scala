package e2ebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark job, stage and task counts of the traced run, attributed to the
  * phase named by the `Tracer.Key` local property at job submission.
  * Registered in the traced run only; it never edits the program.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val byTag = new ConcurrentHashMap[String, Counts]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def counts(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse(Untagged)
    counts(tag).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageTag.put(s, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    counts(stageTag.getOrDefault(e.stageInfo.stageId, Untagged)).stages.incrementAndGet(): Unit
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageTag.getOrDefault(e.stageId, Untagged))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def sum(tags: String => Boolean, f: Counts => Long): Long =
    byTag.asScala.collect { case (t, c) if tags(t) => f(c) }.sum
}

object Tracer {
  val Key = "e2ebench.phase"
  val Untagged = "-"

  final class Counts {
    val jobs, stages, tasks, inputBytes, shuffleWriteBytes, spillBytes = new AtomicLong
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Runs `body` with its Spark jobs attributed to `tag` (traced run only). */
  def phase[T](spark: SparkSession, tracer: Option[Tracer], tag: String)(body: => T): T =
    if (tracer.isEmpty) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, tag)
      try body finally sc.setLocalProperty(Key, prev)
    }
}
