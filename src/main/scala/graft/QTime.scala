package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: low-noise isolated timing for a few queries — N repetitions
  * inside ONE JVM (no per-run session/JIT variance), same session confs as
  * [[Bench]] (master/shuffle.partitions from `SPARK_GRAFT_CPUS`), optional
  * conf overrides via `SPARK_GRAFT_QTIME_CONF=k=v,k=v` for mechanism
  * diagnosis (e.g. disabling AQE coalescing to attribute a regression).
  * Reports per-query min and all samples. NOT the driver surface — the
  * bench contract lives in [[Bench]]; this exists so an A/B adjudication
  * doesn't ride on two samples from separate contended JVMs.
  * Run: `sbt "runMain graft.QTime <sfDir> <reps> <q1,q2,...>"`.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QTime <sfDir> <reps> <q1,q2,...>")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
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
    spark.sparkContext.setLogLevel("ERROR")
    Tables.materializeDerived(spark, sfDir)
    // one untimed pass absorbs JVM/codegen/footer warmup for every query
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count(): Unit)
    val samples = Array.fill(reps) {
      names.map { n =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
    }
    names.zipWithIndex.foreach { case (n, i) =>
      val ts = samples.map(_(i))
      println(f"[qtime] $n min=${ts.min}%.3f samples=" +
        ts.map(t => f"$t%.3f").mkString(","))
    }
    Tables.clearDerived(spark)
    spark.stop()
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
