package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Logs, SparkEntry, Tables}
import graft.sources.TxTable

/** One benchmark run in a fresh JVM. `run.py` builds the classpath, starts
  * this main with a fixed heap, a fresh tmpdir and a fresh working
  * directory, and turns the JSON written to `--out` into the final line.
  *
  * Modes:
  *  - `run`: set up the workload, run untimed warm-up, then timed passes
  *    for `--seconds`; write metrics, checks and drift.
  *  - `oracles`: write `SparkEntry.oracleSql` for every read key of the
  *    benchmark (input of `make_expected.py`).
  */
object Main {

  final case class Opts(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, sf: String,
                        expected: String, out: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("sf", ""),
      m.getOrElse("expected", ""), m("out"), m.getOrElse("cores", "4").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.mode match {
      case "oracles" =>
        val sql = SparkEntry.oracleSql
        val keys = Workloads.MaintCatalog.sorted
        val missing = keys.filterNot(sql.contains)
        require(missing.isEmpty, s"no oracleSql for ${missing.mkString(", ")}")
        write(o.out, Json.obj(keys.map(k => k -> sql(k))))
      case "run" => run(o)
      case "classload" =>
        // one short run of each workload, so that run.py can archive the
        // classes they load (class-data sharing) at build time
        Seq("maint_catalog", "acid_cycle").foreach(w => run(o.copy(workload = w, seconds = 1)))
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** The session confs of `graft.Bench`, with the core count fixed by the
    * caller. Scratch paths come from system properties set by run.py.
    */
  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Logs.silenceBenignWarnings()
    spark
  }

  private def run(o: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (o.trace) Some(Tracer.install(spark)) else None
    val rec = new Recorder(o.trace)
    try {
      val r = o.workload match {
        case "acid_cycle" => new AcidCycle(spark, o, rec, tracer).run(jvmStartMs)
        case "maint_catalog" =>
          new CatalogPasses(spark, o, Workloads.MaintCatalog, rec, tracer).run(jvmStartMs)
        case w => sys.error(s"unknown workload $w")
      }
      tracer.foreach(t => org.apache.spark.BusDrain(spark.sparkContext))
      val setup = r.copy(extra = ("session_s" -> Recorder.fmt(sessionS)) +: r.extra)
      write(o.out, rec.result(o, setup, tracer))
    } finally {
      Tables.clearDerived(spark)
      spark.stop()
    }
  }

  private[e2ebench] def write(path: String, json: String): Unit =
    Files.write(Paths.get(path), (json + "\n").getBytes("UTF-8")): Unit
}

/** Workload-specific outcome of the set-up phase, handed to the recorder. */
final case class SetupInfo(setupS: Double, materializeS: Double,
                           extra: Seq[(String, String)] = Nil)

/** What each workload runs. The catalog keys are listed explicitly so that
  * a key added to `SparkEntry.queries` later does not silently change the
  * workload.
  */
object Workloads {

  /** Every `SparkEntry.queries` key without an `x`, `dd_`, `geo_`, `sim_`,
    * `tx_` or `md_` prefix, except `s1_registry_rows` and `c1_run_on_all`:
    * those two read the registry fixture through an absolute path into
    * the source tree (`SourcePack.FixturePath`), which a benchmark
    * checkout elsewhere does not have.
    */
  val MaintCatalog: Seq[String] = Seq(
    "a1_cluster_up", "a1_schema_complete", "a2_list_sfts", "a3_count_sfts",
    "a4_gather_compaction_ids", "c2_find_table_compactions",
    "c2_find_table_snapshots", "c3_cmd_outcomes", "c4_named_lookup",
    "c4_unknown_node", "f1_project_sfts", "f2_find_schema_tables",
    "f4_cqlsh_frame_filter", "f6_parse_totality", "f7_f8_table_existence",
    "f9_node_liveness", "j1_zip_join", "j2_missing_tables",
    "j2_present_tables", "m10_after_upsert", "m1_catalog_after_delete",
    "m2_truncated", "m3_after_drop", "m4_m5_table_properties", "m4_ttl_view",
    "m6_flush_commands", "m7_stop_commands", "m8_clear_snapshot_commands",
    "m9_repair_plan", "o1_pick_coordinator", "o2_seed_node",
    "s2_catalog_scan", "s3_cmd_results", "s4_error_log_rows", "s4_log_rows",
    "s5_parse_compactions", "s5_parse_snapshots", "st1_restart_poll",
    "st2_removal_plan")

  /** Timed work is a whole number of passes (cycles for acid_cycle), sized
    * so that a run measures about `--seconds` on a 4-core machine. Fixed
    * work keeps the sample count, and so the tail percentile, the same in
    * every run and on every commit. A traced run needs two passes: one
    * traced, one not. */
  val NominalPassS: Map[String, Double] = Map("maint_catalog" -> 9.0, "acid_cycle" -> 7.0)
  def passes(o: Main.Opts): Int =
    math.max(if (o.trace) 2 else 1, math.round(o.seconds / NominalPassS(o.workload)).toInt)

  /** Untimed warm-up, in passes over the key set (cycles for acid_cycle). */
  val WarmupPasses: Map[String, Int] =
    Map("maint_catalog" -> 1, "acid_cycle" -> 1)
}

/** `maint_catalog`. Closed loop, one client: each timed pass runs every
  * key once, in an order permuted from the seed. The count of every result
  * is checked against the DuckDB oracle count in `expected_counts.json`.
  */
final class CatalogPasses(spark: SparkSession, o: Main.Opts, keys: Seq[String],
                       rec: Recorder, tracer: Option[Tracer]) {

  private val fns = keys.map(k => k -> SparkEntry.queries.getOrElse(k,
    sys.error(s"SparkEntry.queries has no key $k"))).toMap
  private val expected: Map[String, Long] = {
    val all = Json.readCounts(o.expected)
    keys.map(k => k -> all.getOrElse(k, sys.error(s"no expected count for $k"))).toMap
  }

  def run(jvmStartMs: Long): SetupInfo = {
    val materializeS = Tracer.phase(spark, tracer, "setup") {
      val t0 = System.nanoTime()
      Tables.materializeDerived(spark, o.sf)
      (System.nanoTime() - t0) / 1e9
    }
    val rng = new Random(o.seed)
    val warmS = (1 to Workloads.WarmupPasses(o.workload)).map { _ =>
      val t0 = System.nanoTime()
      rng.shuffle(keys).foreach(k => rec.warmup(k, runOp(k, traced = false)))
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    rec.timedLoop(Workloads.passes(o)) { pass =>
      val traced = tracer.isDefined && pass % 2 == 0
      rng.shuffle(keys).foreach(k => rec.timed(k, traced)(runOp(k, traced)))
    }
    SetupInfo(setupS, materializeS, Seq("materialize_s" -> Recorder.fmt(materializeS),
      "warmup_pass_s" -> warmS.map(Recorder.fmt).mkString(" ")))
  }

  /** One operation and its check. The traced form splits `count()` into its three layers: building the DataFrame,
    * forcing `executedPlan` of the count Dataset, and collecting it.
    */
  private def runOp(k: String, traced: Boolean): Recorder.Outcome = {
    val sc = spark.sparkContext
    if (!traced) {
      val n = fns(k)(spark, o.sf).count()
      Recorder.Outcome(check(k, n))
    } else try {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, "construct")
      val df = fns(k)(spark, o.sf)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, "plan")
      val counted = df.groupBy().count()
      counted.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, "exec")
      val n = counted.collect().head.getLong(0)
      val t3 = System.nanoTime()
      Recorder.Outcome(check(k, n), (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
    } finally sc.setLocalProperty(Tracer.Key, null)
  }

  private def check(k: String, n: Long): Option[String] =
    if (n == expected(k)) None else Some(s"$k: $n rows, oracle ${expected(k)}")
}

/** Writes through `sources.TxTable` on a table set up from sf orders. Every
  * cycle appends a seeded 1,500-row batch of fresh keys, updates it,
  * merges new prices into it, compacts the table (the batch still sits in
  * its own file, so this rewrites the table into one file), deletes the
  * batch again and vacuums. One seeded key is point-read after the merge,
  * after the compaction and after the delete (where it must be gone).
  * Every cycle leaves the rows exactly as set-up left them, so the load
  * stays stationary.
  */
final class AcidCycle(spark: SparkSession, o: Main.Opts, rec: Recorder,
                      tracer: Option[Tracer]) {
  import AcidCycle._

  private val root = Paths.get("acid_orders").toAbsolutePath.toString
  private val schema = Tables.orders(spark, o.sf).schema
  private var version = -1L
  private val rng = new Random(o.seed)
  private var tracedCycles = 0
  private var listing = TxStats(Map.empty[String, Long])
  private var bytesWritten = 0L

  /** (row count, Σ o_totalprice in cents): exact, so any lost, duplicated
    * or mis-priced row shows. */
  private def fingerprint(): (Long, Long) = {
    val r = TxTable.read(spark, root)
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  def run(jvmStartMs: Long): SetupInfo = {
    val v0 = Tracer.phase(spark, tracer, "setup") {
      TxTable.append(spark, root, Tables.orders(spark, o.sf))
    }
    expectCommit(v0, "append", "rows_written" -> SetupRows)
    val base = fingerprint()
    require(base._1 == SetupRows, s"set-up table has ${base._1} rows")
    (0 until Workloads.WarmupPasses("acid_cycle")).foreach(c => cycle(c, None))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warm = Workloads.WarmupPasses("acid_cycle")
    val vBefore = version
    var cycles = 0
    rec.timedLoop(Workloads.passes(o)) { pass =>
      val traced = tracer.isDefined && pass % 2 == 0
      cycle(warm + pass, Some(traced))
      cycles += 1
    }
    val end = fingerprint()
    if (end != base)
      rec.fail(s"table after run is (rows, cents) $end, set-up left $base")
    rec.acid((version - vBefore).toDouble / cycles,
      bytesWritten.toDouble / math.max(tracedCycles, 1),
      TxStats.liveBytes(root, TxTable.snapshot(spark, root, None).liveFiles))
    SetupInfo(setupS, 0.0, Seq("acid_table_rows" -> end._1.toString))
  }

  /** One cycle. `timed` is None during warm-up, else Some(traced). */
  private def cycle(c: Int, timed: Option[Boolean]): Unit = {
    val lo = KeyBase + c.toLong * KeySpan
    val keys = rng.shuffle((0 until KeySpan).toVector).take(BatchRows).sorted.map(lo + _)
    val rows = keys.map { k =>
      Row(k, (1 + rng.nextInt(15000)).toLong, Status(rng.nextInt(Status.size)),
        (90000 + rng.nextInt(50000000)) / 100.0,
        Day0.plusDays(rng.nextInt(2400).toLong),
        Priority(rng.nextInt(Priority.size)))
    }
    val batch = spark.createDataFrame(rows.asJava, schema)
    val merged = rows.map(r => Row.fromSeq(r.toSeq.updated(3, r.getDouble(3) + 2.0)))
    val source = spark.createDataFrame(merged.asJava, schema)
    val probe = rng.nextInt(BatchRows)
    val inBatch = col("o_orderkey").between(lo, lo + KeySpan - 1)

    val traced = timed.contains(true)
    if (traced) { tracedCycles += 1; listing = TxStats(root) }
    def op[T](name: String)(body: => T): T = timed match {
      case None => rec.warmupValue(name)(body)
      case Some(false) => rec.timedValue(name, traced = false)(body)
      case Some(true) =>
        val v = rec.timedValue(name, traced = true)(Tracer.phase(spark, tracer, s"tx.$name")(body))
        // list after every operation, outside its timing, so files a later
        // operation of the cycle removes still count as written
        val now = TxStats(root)
        bytesWritten += now.bytesNewerThan(listing)
        listing = now
        v
    }

    expectCommit(op("append")(TxTable.append(spark, root, batch)), "append",
      "rows_written" -> BatchRows)
    expectCommit(op("update")(TxTable.update(spark, root, inBatch,
      Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))), "update",
      "rows_updated" -> BatchRows)
    expectCommit(op("merge")(TxTable.merge(spark, root, source, Seq("o_orderkey"),
      Seq("o_totalprice"))), "merge", "rows_updated" -> BatchRows, "rows_inserted" -> 0L)
    def pointRead(want: Seq[Double]): Unit = {
      val got = op("read") {
        TxTable.readWhere(spark, root, col("o_orderkey") === keys(probe))
          .select("o_totalprice").collect().map(_.getDouble(0)).toSeq
      }
      if (got != want) rec.fail(s"point read of ${keys(probe)} returned $got, expected $want")
    }
    val price = Seq(merged(probe).getDouble(3))
    pointRead(price)
    expectCommit(op("compact")(TxTable.compact(spark, root)), "compact",
        "rows_written" -> (SetupRows + BatchRows))
    pointRead(price)
    expectCommit(op("delete")(TxTable.delete(spark, root, inBatch)), "delete",
      "rows_deleted" -> BatchRows)
    pointRead(Nil)
    op("vacuum")(TxTable.vacuum(root, version))
    if (traced) {
      val t0 = System.nanoTime()
      TxTable.snapshot(spark, root, None)
      rec.snapshotMs((System.nanoTime() - t0) / 1e6)
    }
  }

  /** A write must commit exactly the next version, under its own op name,
    * with the row metrics the cycle implies. */
  private def expectCommit(v: Long, opName: String, metrics: (String, Long)*): Unit = {
    if (v != version + 1) rec.fail(s"$opName committed v$v, expected v${version + 1}")
    version = v
    TxTable.commits(root).find(_.version == v) match {
      case Some(cm) =>
        if (cm.op != opName) rec.fail(s"v$v is '${cm.op}', expected '$opName'")
        metrics.foreach { case (k, want) =>
          val got = cm.metrics.getOrElse(k, 0L)
          if (got != want) rec.fail(s"v$v ($opName) $k = $got, expected $want")
        }
      case None => rec.fail(s"v$v ($opName) not in the log")
    }
  }
}

object AcidCycle {
  val SetupRows = 150000L
  val BatchRows = 1500
  /** Batch keys start far above sf orders keys, one disjoint span per cycle. */
  val KeyBase = 1000000000L
  val KeySpan = 4096
  val Day0: java.time.LocalDateTime = java.time.LocalDateTime.of(1992, 1, 1, 0, 0)
  val Status: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val Priority: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}

/** Sizes of the files under a table root, for written and live bytes. */
final case class TxStats(files: Map[String, Long]) {
  def bytesNewerThan(before: TxStats): Long =
    files.collect { case (p, n) if !before.files.contains(p) => n }.sum
}

object TxStats {
  def apply(root: String): TxStats = {
    val s = Files.walk(Paths.get(root))
    try TxStats(s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap)
    finally s.close()
  }
  def liveBytes(root: String, live: Seq[String]): Long =
    live.map(f => Files.size(Paths.get(root, "data", f))).sum
}
