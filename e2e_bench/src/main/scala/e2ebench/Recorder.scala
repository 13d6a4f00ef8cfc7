package e2ebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Records every operation of a run and turns the records into the
  * metrics of `BENCHMARK.json`. Latencies are wall time around the call;
  * failed operations count as attempted but carry no latency.
  */
final class Recorder(traceRun: Boolean) {
  import Recorder._

  private val ops = ArrayBuffer.empty[Op]
  private val passes = ArrayBuffer.empty[(Boolean, Int, Double)] // (traced, ops, seconds)
  private val errors = ArrayBuffer.empty[String]
  private var warmupFailed = 0
  private var loopSeconds = 0.0
  private var stealPct = 0.0
  private val snapshots = ArrayBuffer.empty[Double]
  private var acidStats: Option[(Double, Double, Long)] = None

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def fail(msg: String): Unit = { errors += msg; () }

  def warmup(key: String, body: => Outcome): Unit =
    try body.error.foreach(e => fail(s"warm-up: $e"))
    catch { case NonFatal(e) => warmupFailed += 1; fail(s"warm-up $key: ${msg(e)}") }

  def warmupValue[T](key: String)(body: => T): T =
    try body catch { case NonFatal(e) => warmupFailed += 1; fail(s"warm-up $key: ${msg(e)}"); throw e }

  /** Times one operation. A thrown exception is recorded as a failed
    * operation and rethrown, which ends the timed loop. */
  def timed(key: String, traced: Boolean)(body: => Outcome): Unit = {
    val g0 = gcMs
    val t0 = System.nanoTime()
    val out = try body catch { case NonFatal(e) =>
      ops += Op(key, traced, ok = false, 0, 0, Outcome(Some(msg(e))))
      fail(s"$key: ${msg(e)}"); throw e
    }
    val ms = (System.nanoTime() - t0) / 1e6
    out.error.foreach(fail)
    ops += Op(key, traced, out.error.isEmpty, ms, (gcMs - g0).toDouble, out)
  }

  def timedValue[T](key: String, traced: Boolean)(body: => T): T = {
    var v: Option[T] = None
    timed(key, traced) { v = Some(body); Outcome(None) }
    v.get
  }

  /** Runs `passes` whole passes and times them. Even passes are the traced
    * ones in a traced run. */
  def timedLoop(passes: Int)(pass: Int => Unit): Unit = {
    val cpu0 = hostCpu
    val start = System.nanoTime()
    var p = 0
    try while (p < passes) {
      val n0 = ops.size
      val t0 = System.nanoTime()
      pass(p)
      this.passes += ((traceRun && p % 2 == 0, ops.size - n0, (System.nanoTime() - t0) / 1e9))
      p += 1
    } catch { case NonFatal(_) => () } // already recorded as a failed op
    loopSeconds = (System.nanoTime() - start) / 1e9
    val d = hostCpu.zip(cpu0).map { case (a, b) => a - b }
    stealPct = 100.0 * d.lift(7).getOrElse(0L) / math.max(d.sum, 1L)
  }

  def snapshotMs(ms: Double): Unit = { snapshots += ms; () }

  def acid(commitsPerCycle: Double, bytesPerCycle: Double, liveBytes: Long): Unit =
    acidStats = Some((commitsPerCycle, bytesPerCycle, liveBytes))

  def result(o: Main.Opts, setup: SetupInfo, tracer: Option[Tracer]): String = {
    val good = ops.filter(_.ok)
    val lat = good.map(_.ms).sorted.toSeq
    val failed = ops.count(!_.ok) + warmupFailed
    val (tailMs, tailPct) = tail(lat)
    val e2e = Seq(
      "ops_per_s" -> m(good.size / math.max(loopSeconds, 1e-9), "1/s"),
      "latency_p50_ms" -> m(median(lat), "ms"),
      "latency_tail_ms" -> m(tailMs, "ms"),
      "setup_s" -> m(setup.setupS, "s"),
      "peak_rss_mb" -> m(peakRssMb, "MB"))
    val metrics = if (o.trace) perLayer(setup, tracer.get) else e2e
    val detail = Seq(
      "workload" -> o.workload, "seed" -> o.seed.toString, "cores" -> o.cores.toString,
      "timed_ops" -> ops.size.toString, "passes" -> passes.size.toString,
      "timed_s" -> fmt(loopSeconds),
      "pass_s" -> passes.map(p => fmt(p._3)).mkString(" "),
      "host_steal_pct" -> fmt(stealPct),
      "tail" -> f"p$tailPct%.1f of n=${lat.size} (10 samples beyond it)",
      "drift" -> fmt(drift(good.toSeq)),
      "per_key_p50_ms" -> good.groupBy(_.key).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${fmt(median(v.map(_.ms).sorted.toSeq))}" }.mkString(" "),
    ) ++ setup.extra ++ errors.take(20).zipWithIndex.map { case (e, i) => s"error_$i" -> e }
    Json.obj(Seq(
      "correct" -> Json.raw((errors.isEmpty && failed == 0).toString),
      "attempted" -> Json.raw((ops.size + warmupFailed).toString),
      "failed" -> Json.raw(failed.toString),
      "metrics" -> Json.raw(Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.raw(Json.obj(Seq("value" -> Json.raw(num(v)), "unit" -> u)))
      })),
      "detail" -> Json.raw(Json.obj(detail))))
  }

  private def perLayer(setup: SetupInfo, t: Tracer): Seq[(String, (Double, String))] = {
    val traced = ops.filter(o => o.ok && o.traced)
    val n = math.max(traced.size, 1).toDouble
    val read = traced.filter(_.out.constructMs >= 0)
    def per(tags: String => Boolean, f: Tracer.Counts => Long): Double =
      t.sum(tags, f) / n
    val tx = (tag: String) => tag.startsWith("tx.")
    val exec = if (read.nonEmpty) (tag: String) => tag == "exec" else tx
    def txMs(name: String) = median(traced.filter(_.key == name).map(_.ms).sorted.toSeq)
    def opsPerS(tr: Boolean) = {
      val ps = passes.filter(_._1 == tr)
      ps.map(_._2).sum / math.max(ps.map(_._3).sum, 1e-9)
    }
    val (commits, bytesPerCycle, liveBytes) = acidStats.getOrElse((0.0, 0.0, 0L))
    Seq(
      "Tables.materialize_s" -> m(setup.materializeS, "s"),
      "operators.construct_ms" -> m(read.map(_.out.constructMs).sum / n, "ms"),
      "operators.construct_jobs" -> m(per(_ == "construct", _.jobs.get), "count"),
      "plans.plan_ms" -> m(read.map(_.out.planMs).sum / n, "ms"),
      "exec.exec_ms" -> m(read.map(_.out.execMs).sum / n, "ms"),
      "exec.jobs" -> m(per(exec, _.jobs.get), "count"),
      "exec.stages" -> m(per(exec, _.stages.get), "count"),
      "exec.tasks" -> m(per(exec, _.tasks.get), "count"),
      "exec.input_bytes" -> m(per(exec, _.inputBytes.get), "bytes"),
      "exec.shuffle_write_bytes" -> m(per(exec, _.shuffleWriteBytes.get), "bytes"),
      "exec.spill_bytes" -> m(per(exec, _.spillBytes.get), "bytes"),
      "TxTable.append_ms" -> m(txMs("append"), "ms"),
      "TxTable.update_ms" -> m(txMs("update"), "ms"),
      "TxTable.merge_ms" -> m(txMs("merge"), "ms"),
      "TxTable.delete_ms" -> m(txMs("delete"), "ms"),
      "TxTable.compact_ms" -> m(txMs("compact"), "ms"),
      "TxTable.vacuum_ms" -> m(txMs("vacuum"), "ms"),
      "TxTable.read_ms" -> m(txMs("read"), "ms"),
      "TxTable.snapshot_ms" -> m(median(snapshots.sorted.toSeq), "ms"),
      "TxTable.jobs_per_op" -> m(per(tx, _.jobs.get), "count"),
      "TxTable.commits_per_cycle" -> m(commits, "count"),
      "TxTable.bytes_written_per_cycle" -> m(bytesPerCycle, "bytes"),
      "TxTable.live_bytes" -> m(liveBytes.toDouble, "bytes"),
      "jvm.gc_ms" -> m(ops.filter(_.ok).map(_.gcMs).sum / math.max(ops.count(_.ok), 1), "ms"),
      "jvm.heap_peak_mb" -> m(heapPeakMb, "MB"),
      "trace.overhead_pct" -> m(100 * (1 - opsPerS(true) / math.max(opsPerS(false), 1e-9)), "%"),
    )
  }
}

object Recorder {
  /** `constructMs` < 0 marks an operation without the read-side split. */
  final case class Outcome(error: Option[String], constructMs: Double = -1,
                           planMs: Double = 0, execMs: Double = 0)
  final case class Op(key: String, traced: Boolean, ok: Boolean,
                      ms: Double, gcMs: Double, out: Outcome)

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else if (xs.size % 2 == 1) xs(xs.size / 2)
    else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2

  /** The highest percentile with at least 10 samples beyond it: the value
    * of rank n-10 in ascending order, i.e. percentile 100(n-10)/n. With
    * fewer than 11 samples this is the maximum. */
  def tail(sorted: Seq[Double]): (Double, Double) =
    if (sorted.isEmpty) (0.0, 0.0)
    else if (sorted.size < 11) (sorted.last, 100.0)
    else (sorted(sorted.size - 11), 100.0 * (sorted.size - 10) / sorted.size)

  /** Median latency of the last tenth of the timed operations over that of
    * the first tenth, each latency first divided by its key's median over
    * the run, so the mix of keys in a tenth does not move the ratio. */
  def drift(ops: Seq[Op]): Double = {
    val tenth = ops.size / 10
    if (tenth == 0) return 1.0
    val med = ops.groupBy(_.key).map { case (k, v) => k -> median(v.map(_.ms).sorted.toSeq) }
    def rel(xs: Seq[Op]) = median(xs.map(o => o.ms / med(o.key)).sorted)
    rel(ops.takeRight(tenth)) / rel(ops.take(tenth))
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Host CPU time counters (user, nice, system, idle, iowait, irq,
    * softirq, steal, ...): steal shows time a virtual machine's CPUs lost
    * to other guests, which slows a run without any change in the code. */
  private def hostCpu: Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong)
    finally src.close()
  }

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def m(v: Double, unit: String): (Double, String) = (v, unit)

  def fmt(v: Double): String = "%.4f".formatLocal(Locale.ROOT, v)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
