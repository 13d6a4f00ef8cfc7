package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure isolation (VERDICT r6 #2, r7 #7): fixture derivation is
  * per-table try/log inside [[Tables.materializeDerived]] AND runs under
  * the same pool+timeout machinery as the query dumps (a hung — not
  * thrown — derivation must not zero the round); each query dump is
  * try/log with a per-query timeout and Spark job-group cancellation.
  * Fatal JVM conditions (OOM) are rethrown, never logged-and-continued:
  * a broken JVM must abort loudly instead of misattributing later
  * failures (ADVICE r7).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing names restrict the dump (fast dev loop via
    // tools/check.py <sf> <out> <names...>); the driver passes none.
    val only = args.drop(2).toSet
    // a typo'd restriction must abort, not silently dump nothing for the
    // misspelled query while the rest reads as success (ADVICE r9 class)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted}")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_SEC", "240").toLong
    val spark = GraftSession(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()

    var pool = Executors.newSingleThreadExecutor()
    /** Run `body` on the worker pool under a timeout + job-group so one
      * hung or thrown unit degrades only itself. Abandoned workers write
      * only to attempt-unique staging dirs (Tables.uniqueStageDir), so a
      * later rebuild can never race them.
      */
    def runIsolated(name: String, timeout: Long)(body: => Unit): Unit = {
      val task = pool.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try body finally spark.sparkContext.clearJobGroup()
        }
      })
      try { task.get(timeout, TimeUnit.SECONDS): Unit }
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          task.cancel(true): Unit
          // The interrupted worker may not unwind promptly; abandon the
          // pool so later units never queue behind a stuck one.
          pool.shutdownNow(): Unit
          pool = Executors.newSingleThreadExecutor()
          System.err.println(s"[verify] $name TIMED OUT after ${timeout}s")
        case e: ExecutionException =>
          Option(e.getCause).getOrElse(e) match {
            case fatal: VirtualMachineError => throw fatal // OOM etc: abort the round
            case NonFatal(c) =>
              System.err.println(s"[verify] $name failed: ${c.getMessage}")
            case other => throw other
          }
      }
    }

    // fixture staging shares the timeout machinery (VERDICT r7 #7); 2x the
    // per-query budget since it builds every derived fixture table at once
    runIsolated("materialize_derived", timeoutSec * 2) {
      Tables.materializeDerived(spark, sfDir)
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else runIsolated(name, timeoutSec) {
        val df = fn(spark, sfDir)
        // static determinism gate (VERDICT r8 #5): a query that rounds an
        // order-dependent float aggregate without a whitelisted proof
        // fails ITS OWN row here, loudly, instead of shipping a latent
        // scale-dependent hash-flip (the r8 xt_ewma_daily class)
        val viol = DeterminismLint.check(name, df)
        if (viol.nonEmpty)
          throw new IllegalStateException(
            s"determinism lint: $name rounds an order-dependent float " +
              s"aggregate (anchor it in decimal or whitelist with a " +
              s"proof): ${viol.mkString(" | ")}")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    pool.shutdownNow()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Tables.clearDerived(spark)
    spark.stop()
  }
}
