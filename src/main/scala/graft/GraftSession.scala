package graft

import org.apache.spark.sql.SparkSession

/** The one way to build the engine's session. Every main and the test
  * suite run on the same confs, so the oracle checks the plan that is
  * timed: one shuffle partition per core, UTC, [[plans.GraftExtensions]],
  * AQE with partition coalescing, a 32 MB broadcast threshold and no UI.
  * A dev run that wants other confs sets them on the built session
  * (`spark.conf.set`), where a static conf fails loudly.
  */
object GraftSession {

  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.silenceBenignWarnings()
    spark
  }

  /** The mains' core count: `SPARK_GRAFT_CPUS`, 4 when unset. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
