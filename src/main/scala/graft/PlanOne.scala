package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `explain("formatted")` for ONE registered query (by its
  * [[SparkEntry.queries]] name) to a file — the per-change plan evidence
  * the optimization rounds commit under `plans/r<N>/<query>_{before,after}.txt`.
  * Run: `sbt "runMain graft.PlanOne <query> <outFile> [sfDir]"`.
  */
object PlanOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanOne <query> <outFile> [sfDir]")
    val name = args(0)
    val out = args(1)
    // default sf dir follows the same env contract as the other mains
    // (ADVICE r15): no machine-specific hardcode on a fresh checkout
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val builder = SparkSession.builder()
      .master("local[8]")
      .appName("graft-planone")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // optional conf overrides (dev tool only): lets a plan dump expose the
    // at-scale shape, e.g. SPARK_GRAFT_PLAN_CONF=
    // "spark.sql.autoBroadcastJoinThreshold=-1" shows the join strategy a
    // query falls back to once a side outgrows the broadcast threshold
    QTime.confOverrides("SPARK_GRAFT_PLAN_CONF")
      .foreach { case (k, v) => builder.config(k, v): Unit }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name"))
    val df = q(spark, sfDir)
    val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim
    val outPath = java.nio.file.Paths.get(out)
    // create parent dirs so `plans/r<N>/q.txt` works on a fresh checkout
    Option(outPath.getParent)
      .foreach(p => java.nio.file.Files.createDirectories(p): Unit)
    java.nio.file.Files.write(outPath, (txt + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
