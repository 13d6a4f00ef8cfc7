package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Dev tool: low-noise isolated timing for a few queries — N repetitions
  * inside ONE JVM (no per-run session/JIT variance), same session confs as
  * [[Bench]] (master/shuffle.partitions from `SPARK_GRAFT_CPUS`), optional
  * conf overrides via `SPARK_GRAFT_QTIME_CONF=k=v,k=v` for mechanism
  * diagnosis (e.g. disabling AQE coalescing to attribute a regression).
  * Reports per-query min, the Spark jobs and codegen compilations of that
  * fastest rep, and all samples. NOT the driver surface — the
  * bench contract lives in [[Bench]]; this exists so an A/B adjudication
  * doesn't ride on two samples from separate contended JVMs.
  * Run: `sbt "runMain graft.QTime <sfDir> <reps> <q1,q2,...>"`.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QTime <sfDir> <reps> <q1,q2,...>")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = queryNames(args(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
    confOverrides("SPARK_GRAFT_QTIME_CONF")
      .foreach { case (k, v) => builder.config(k, v): Unit }
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    })
    Tables.materializeDerived(spark, sfDir)
    // one untimed pass absorbs JVM/codegen/footer warmup for every query
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count(): Unit)
    /** One timed sample (construct + `count()`, the timed quantity) with
      * the jobs it started and the classes codegen compiled meanwhile; the
      * listener bus is drained outside the timed span. */
    def sample(n: String): (Double, Long, Long) = {
      GraftBridge.drainListeners(sc)
      val (j0, c0) = (jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(sc)
      (t, jobs.get - j0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val samples = Array.fill(reps)(names.map(sample))
    names.zipWithIndex.foreach { case (n, i) =>
      val ss = samples.map(_(i))
      val (best, bestJobs, bestCompiles) = ss.minBy(_._1)
      println(f"[qtime] $n min=$best%.3f jobs=$bestJobs compiles=$bestCompiles samples=" +
        ss.map(s => f"${s._1}%.3f").mkString(","))
    }
    Tables.clearDerived(spark)
    spark.stop()
  }

  /** The query names of a comma-separated list. A name that is not a
    * `SparkEntry.queries` key fails here, naming it, before any session is
    * built (as Verify checks its restriction list). */
  private[graft] def queryNames(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"no query names in '$list'")
    val unknown = (names.toSet -- SparkEntry.queries.keySet).toSeq
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.sorted.mkString(", ")}")
    names
  }

  /** The `k=v,k=v` session conf overrides in env var `envVar` (the dev
    * mains' `SPARK_GRAFT_*_CONF`); none when unset. An entry without `=`
    * or with an empty key fails naming the variable and the entry.
    */
  private[graft] def confOverrides(envVar: String,
                                   env: Map[String, String] = sys.env)
      : Seq[(String, String)] =
    env.get(envVar).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw new IllegalArgumentException(
            s"$envVar: malformed entry '$kv' (expected key=value)")
        }
      }
}
