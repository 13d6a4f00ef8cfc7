package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dev tool: low-noise isolated timing for a few queries — N repetitions
  * inside ONE JVM (no per-run session/JIT variance), on the [[GraftSession]]
  * confs with `SPARK_GRAFT_CPUS` cores, plus optional conf overrides via
  * `SPARK_GRAFT_QTIME_CONF=k=v,k=v` set on the built session for mechanism
  * diagnosis (e.g. disabling AQE coalescing to attribute a regression, or
  * `spark.sql.autoBroadcastJoinThreshold=-1` to see the join strategy a
  * query falls back to once a side outgrows the threshold).
  * Reports per-query min, the Spark jobs and codegen compilations of that
  * fastest rep, and all samples. NOT the driver surface — the
  * bench contract lives in [[Bench]]; this exists so an A/B adjudication
  * doesn't ride on two samples from separate contended JVMs.
  * With `--plans <dir>` it also writes each named query's
  * `explain("formatted")` to `<dir>/<query>.txt` once the timing is done,
  * so the plan shows the staged layouts the timed runs read (the
  * per-change plan evidence under `plans/r<N>/`).
  * Run: `sbt "runMain graft.QTime <sfDir> <reps> <q1,q2,...> [--plans <dir>]"`.
  */
object QTime {
  private val Usage = "usage: QTime <sfDir> <reps> <q1,q2,...> [--plans <dir>]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val sfDir = args(0)
    val reps = args(1).toInt
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val names = queryNames(args(2))
    val planDir = args.drop(3) match {
      case Array() => None
      case Array("--plans", dir) => Some(dir)
      case _ => throw new IllegalArgumentException(Usage)
    }
    val overrides = confOverrides("SPARK_GRAFT_QTIME_CONF")
    val spark = GraftSession(GraftSession.envCores)
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    val sc = spark.sparkContext
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
    planDir.foreach(writePlans(spark, sfDir, names, _))
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

  /** Write each query's `explain("formatted")` to `<dir>/<name>.txt`,
    * creating `dir` when missing. */
  private[graft] def writePlans(spark: SparkSession, sfDir: String,
                                names: Seq[String], dir: String): Unit = {
    val out = Files.createDirectories(Paths.get(dir))
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")).trim
      Files.writeString(out.resolve(s"$n.txt"), plan + "\n")
    }
  }

  /** The `k=v,k=v` session conf overrides in env var `envVar`
    * (`SPARK_GRAFT_QTIME_CONF`); none when unset. An entry without `=`
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
