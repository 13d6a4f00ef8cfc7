package graft

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md) plus the
  * *derived* reference-model tables (SURVEY.md §1): a GeoMesa-style catalog,
  * a node registry, and command-result tables. The derivations are pure,
  * deterministic functions of the corpus so each is equally expressible as a
  * DuckDB CTE (see [[Oracle]]) — that's what makes every reference-parity
  * operator oracle-testable.
  *
  * Scale note: the derived fixture tables are metadata — one row per SFT,
  * index table, node or (node, table) pair, KBs at bench SF — as the
  * reference's catalog and `nodetool` reads are client-side lists. Each is
  * built once per session with narrow ops (a shuffle only where an
  * aggregation needs one) and then held on the driver ([[Local]]): queries
  * over it scan a `LocalTableScan`, and their filters and projections fold
  * at optimization time with no generated code and no job. A build past
  * [[MaxLocalRows]] throws instead of pulling a corpus into the driver.
  */
object Tables {

  /** Corpus table `name`. Its schema is resolved once per session (memo
    * `schema:<name>`, dropped by [[clearDerived]]) and handed to the
    * reader, so only the first call runs the footer-inference job. This
    * caches metadata only: every call still lists and scans the files.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = memo(spark, sfDir, s"schema:$name") {
      // `events.ts` may be TIMESTAMP(NANOS), readable only as raw long nanos
      // (see [[events]]); a session conf, so setting it here covers every
      // later read of this session
      if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Everything a session builds once and must release together: one
    * `(sfDir, name)` memo behind every derived table, staged layout,
    * trained value, registered function and corpus schema, plus the
    * release actions (DROP a bucketed table, delete an attempt dir) that
    * [[clearDerived]] runs. Keyed by the session object itself —
    * reference identity (SparkSession keeps Object's equals), never a hash,
    * so no session can share or inherit another's entries. A memo keyed to a corpus snapshot must not outlive
    * it (ADVICE r8), which is why every memo lives here and is dropped by
    * the same clear. Staged frames reference their session, so an
    * uncleared session's state lives until [[clearDerived]] — the weak key
    * only frees sessions that never staged a frame.
    */
  private final class State {
    val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), Any]()
    val releases = new java.util.concurrent.ConcurrentLinkedDeque[() => Unit]()
  }
  private val states = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, State]())

  private def state(spark: SparkSession): State =
    states.computeIfAbsent(spark, _ => new State)

  /** Release actions run newest first: a bucketed table is dropped before
    * its attempt dir is deleted. */
  private def onClear(spark: SparkSession)(release: => Unit): Unit =
    state(spark).releases.addFirst(() => release)

  /** This session's value for `(sfDir, name)`, built on first use. Builders
    * may nest memo calls. Two racing first uses (a timed-out Verify worker
    * is abandoned, not stopped) may both build; the first to finish wins,
    * and the loser's releases still run on clear.
    */
  private[graft] def memo[A](spark: SparkSession, sfDir: String, name: String)
                            (build: => A): A =
    memoized[A](spark, sfDir, name).getOrElse {
      val v = build
      Option(state(spark).memo.putIfAbsent((sfDir, name), v))
        .fold(v)(_.asInstanceOf[A])
    }

  /** This session's value for `(sfDir, name)` if one was built; never builds. */
  private[graft] def memoized[A](spark: SparkSession, sfDir: String,
                                 name: String): Option[A] =
    Option(state(spark).memo.get((sfDir, name))).map(_.asInstanceOf[A])

  /** The directory every [[stageDir]] lies under; fixed for the JVM. */
  private[graft] def stageBase: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_stage"

  /** Session staging dir for corpus-scale derived tables, keyed by sf dir so
    * concurrent runs at different SFs never collide.
    */
  private[graft] def stageDir(sfDir: String, name: String): String =
    s"$stageBase/${Integer.toHexString(sfDir.hashCode)}/$name"

  private val attemptSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A staging path no other build attempt can ever collide with. A
    * timed-out Verify worker is abandoned, not killed (thread interrupt
    * doesn't stop driver-side planning) — with a SHARED overwrite path the
    * abandoned writer and a later rebuild of the same lineage would run two
    * concurrent parquet overwrites on one directory and silently poison
    * every downstream read (ADVICE r7). Unique per-attempt dirs make the
    * abandoned writer harmless: nothing ever reads its directory, and
    * [[clearDerived]] deletes every dir this session created.
    */
  private[graft] def uniqueStageDir(spark: SparkSession, sfDir: String,
                                    name: String): String = {
    val p = stageDir(sfDir, name) +
      s"/a${ProcessHandle.current().pid()}_${attemptSeq.incrementAndGet()}"
    onClear(spark)(deleteLocal(p))
    p
  }

  /** Number of buckets for the bucketed fact-table layouts. At 100 TB this
    * is sized to executor count × a small factor (e.g. 4 × 1000); here it
    * just needs to exceed local parallelism so the co-location property —
    * not partition count — is what the plan demonstrates.
    */
  val NumBuckets = 8

  /** How [[stage]] keeps a table built once per (session, sfDir).
    *  - [[Local]]: collected once and held on the driver as a
    *    `LocalRelation`. Only for tiny tables (catalog, registry, command
    *    blobs, centroids, codebooks — KBs at bench SF) that every query
    *    would otherwise re-derive, e.g. an events scan + distinct for a
    *    25-row catalog. Filters and projections over it fold at
    *    optimization time, interpreted, so a query over it compiles no
    *    scan code and plans a `LocalTableScan`; nothing is pinned in the
    *    block store. A build with more than [[MaxLocalRows]] rows throws,
    *    naming the table: big corpus tables are the operators' real scan
    *    inputs and belong in [[Parquet]].
    *  - [[Parquet]]: written to an attempt dir and read back, optionally
    *    hive-partitioned so filters on `partitionBy` columns prune
    *    directories. Corpus-scale layouts (exploded shingles, per-vector
    *    assignments, z-keyed layouts) must NOT live in the block store for
    *    the session's lifetime: at 100 TB they don't fit, and even at bench
    *    SF the blocks crowd every later query's working set (the r2/r3
    *    bench regressions). Consumers get column pruning + min/max stats
    *    instead of pinned memory.
    *  - [[Bucketed]]: an external catalog table hash-bucketed and sorted by
    *    `key` into [[NumBuckets]] files. Joins and aggregations on `key`
    *    between tables bucketed the same way need NO exchange — the scan
    *    reports hash partitioning — which at 100 TB removes a fact⋈fact
    *    join's biggest cost (shuffling both sides every query) and lets an
    *    iterative graph query shuffle only its vertex-sized message vector.
    *    A catalog table because bucket metadata lives in the catalog, not
    *    the parquet footer.
    */
  sealed trait Layout
  case object Local extends Layout
  final case class Parquet(partitionBy: Seq[String] = Nil) extends Layout
  final case class Bucketed(key: String) extends Layout

  /** Row bound of a [[Local]] table: past it the rows are no longer
    * driver-sized metadata (sf0.1's largest, `snapshot_lines`, has ~10k). */
  val MaxLocalRows = 1 << 20

  /** The one staging primitive: `build` materialized once per (session,
    * sfDir, name) in `layout`; released by [[clearDerived]]. */
  private[graft] def stage(spark: SparkSession, sfDir: String, name: String,
                           layout: Layout)(build: => DataFrame): DataFrame =
    memo(spark, sfDir, name) {
      layout match {
        case Local =>
          val df = build
          // each partition ships at most MaxLocalRows + 1 rows, so an
          // oversized build fails here without flooding the driver
          val rows = df.queryExecution.toRdd
            .mapPartitions(_.take(MaxLocalRows + 1).map(_.copy())).collect()
          if (rows.length > MaxLocalRows) throw new IllegalStateException(
            s"Tables.stage: '$name' has more than $MaxLocalRows rows, too many " +
              "to hold on the driver; stage it as Parquet()")
          GraftBridge.localDataFrame(spark, df.schema, rows.toSeq)
        case Parquet(partitionCols) =>
          val path = uniqueStageDir(spark, sfDir, name)
          val w = build.write.mode("overwrite")
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
            .parquet(path)
          spark.read.parquet(path)
        case Bucketed(key) =>
          val path = uniqueStageDir(spark, sfDir, name)
          // catalog name carries the attempt suffix too: bucket metadata
          // lives in the catalog, and an abandoned attempt must never
          // DROP/replace a live attempt's entry
          val tbl = s"graft_${name}_" + path.substring(path.lastIndexOf('/') + 1)
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          build.write.mode("overwrite")
            .option("path", path)
            .bucketBy(NumBuckets, key).sortBy(key)
            .format("parquet").saveAsTable(tbl)
          onClear(spark)(spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit)
          spark.table(tbl)
      }
    }

  def bucketedOrders(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "bkt_orders", Bucketed("o_orderkey"))(orders(spark, sfDir))

  def bucketedLineitem(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "bkt_lineitem", Bucketed("l_orderkey"))(lineitem(spark, sfDir))

  private def deleteLocal(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete(): Unit
    }
    rec(new java.io.File(path))
  }

  /** Eagerly materialize every derived fixture table (Bench warmup /
    * Verify preamble). Each derivation is individually failure-isolated:
    * one broken lineage (e.g. a fixture-schema drift in `events`, the r6
    * incident) must degrade only the queries on that lineage — never zero
    * the whole round's correctness dump. Queries on a failed lineage still
    * throw at their own call site, where Verify/Bench record them per-query.
    */
  def materializeDerived(spark: SparkSession, sfDir: String): Unit = {
    val derivations: Seq[(String, () => Long)] = Seq(
      "catalog"            -> (() => catalog(spark, sfDir).count()),
      "registry"           -> (() => registry(spark, sfDir).count()),
      "schema_tables"      -> (() => schemaTables(spark, sfDir).count()),
      "compaction_stdout"  -> (() => compactionStdout(spark, sfDir).count()),
      "snapshot_lines"     -> (() => snapshotLines(spark, sfDir).count()),
      "describe_results"   -> (() => describeResults(spark, sfDir).count()),
      "info_results"       -> (() => infoResults(spark, sfDir).count()))
    derivations.foreach { case (name, run) =>
      // NonFatal only: an OOM or interrupt must abort the round loudly, not
      // be logged as a fixture failure while the JVM limps on (ADVICE r7)
      try { run(): Unit } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[tables] fixture derivation '$name' failed: ${e.getMessage}")
      }
    }
  }

  /** Drop this session's state: every memo (staged frames, corpus schemas)
    * goes, bucketed catalog entries are dropped, attempt dirs deleted.
    */
  def clearDerived(spark: SparkSession): Unit =
    Option(states.remove(spark)).foreach(_.releases.forEach(_()))

  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame   = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame     = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame   = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame   = table(spark, d, "region")
  /** `events.ts` has shipped under two fixture encodings: TIMESTAMP(NANOS)
    * (which Spark's vectorized reader only accepts as raw long nanos via the
    * legacy conf — floor to µs) and, since the 2026-08-13 corpus refresh,
    * plain `timestamp[us]` with no zone (read natively as TIMESTAMP_NTZ).
    * Branch on the loaded dtype so the engine is robust to either corpus
    * (FIXTURES.md caution). Both branches normalize to session-zone
    * `TimestampType` — the type every downstream op, streaming watermark,
    * and the r5-green oracle comparison were built against; with the
    * session timezone pinned to UTC the NTZ→LTZ cast is value-identity,
    * and DuckDB's naive `CAST(ts AS TIMESTAMP)` stays µs-exact on both.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val df = table(spark, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame  = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Derived `partsupp` — the corpus ships no partsupp fixture, so the TPC-H
    * Q11 shape derives one: the distinct `(l_partkey, l_suppkey)` pairs that
    * actually traded, with availqty/supplycost as deterministic integer
    * functions of the keys (exactly reproducible as a DuckDB CTE, so Q11
    * stays hash-checkable). Supply cost is kept in integer CENTS so every
    * downstream sum is exact int64 — no decimal/double portability rules
    * needed. Corpus-scale (≈ lineitem's key cardinality), so staged as
    * [[Parquet]]: one distinct shuffle once per session, then consumers get
    * a plain pruned parquet scan — at 100 TB this is a written-once
    * dimension layout, not a per-query recompute.
    */
  def partsupp(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "partsupp", Parquet()) {
      lineitem(spark, sfDir)
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .select(col("ps_partkey"), col("ps_suppkey"),
          (((col("ps_partkey") * 37 + col("ps_suppkey") * 17) % 9999) + 1)
            .as("ps_availqty"),
          (((col("ps_partkey") * 13 + col("ps_suppkey") * 7) % 100000) + 100)
            .as("ps_supplycost_cents"))
    }

  /** Portable deterministic 24-bit hash of a string column: the first 6 hex
    * digits of md5, as a long in [0, 2^24). Identical in DuckDB via strpos
    * arithmetic ([[Oracle.h24]]) — used wherever a derivation needs a
    * pseudo-random but engine-agnostic selector.
    */
  def h24(c: Column): Column = conv(substring(md5(c), 1, 6), 16, 10).cast("long")

  /** [[h24]] from an arbitrary 6-hex-digit slice of the md5: one digest
    * yields FIVE independent 24-bit draws (slices at 1,7,13,19,25), which
    * is how hash-hungry per-row derivations (the 32-replicate bootstrap)
    * amortize the digest cost 5×. `slice` ∈ [0,4].
    */
  def h24Slice(c: Column, slice: Int): Column =
    conv(substring(md5(c), 1 + 6 * slice, 6), 16, 10).cast("long")

  /** Portable deterministic 48-bit hash: the first 12 hex digits of md5 as a
    * long in [0, 2^48). The wide variant exists for signatures whose BANDS
    * must stay selective at corpus scale — a 24-bit SimHash split into 4
    * bands gives only 64 bucket values per band, so every band bucket holds
    * ~n/64 docs and the hot-bucket guard engages (observed at the 10x scale
    * point: max bucket 12.5k vs cap 1k, 152k rows excluded). 48 bits / 4
    * bands = 4096 values per band — bucket occupancy drops 64x and the
    * banding survives another ~3 orders of magnitude of corpus growth.
    * DuckDB twin: [[Oracle.h48]].
    */
  def h48(c: Column): Column = conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Index-table suffixes a GeoMesa SFT materializes in Cassandra. The
    * reference manipulates these tables by name (it reads them out of the
    * catalog's `value` column — /root/reference/geomesa_cassandra.py:48-52);
    * we derive the same shape from the corpus.
    */
  val IndexSuffixes: Seq[String] = Seq("Z3", "Z2", "ID", "ATTR")

  /** GeoMesa-style catalog table `(sft string, value string)` (SURVEY §1 #2),
    * derived deterministically from `events.event_type`. Values carry
    * whitespace + upper-case noise so the trim/lower normalization of the
    * reference (/root/reference/geomesa.py:51) is observable, plus one
    * non-prefix metadata row per SFT so the prefix filter
    * (/root/reference/geomesa_cassandra.py:52) is observable.
    *
    * DuckDB twin: [[Oracle.catalogCte]].
    *
    * SOURCE SWITCH (VERDICT r8 #6): the reference's catalog scan is a live
    * CQL query (`/root/reference/geomesa.py:36-38`); this environment has
    * no Cassandra and no connector jar, so the default is the documented
    * corpus derivation above. `spark.graft.catalog.format` selects the
    * deployment path without code changes:
    *   - `derived` (default): the corpus derivation (oracle-testable),
    *   - `parquet`: read `(sft, value)` from `spark.graft.catalog.path`
    *     (a snapshotted catalog export — unit-tested branch),
    *   - any other value is a DataSource format name, e.g.
    *     `org.apache.spark.sql.cassandra` with
    *     `spark.graft.catalog.keyspace`/`spark.graft.catalog.table` — in a
    *     live deployment with the connector jar this IS the real
    *     CQL-backed scan, predicate pushdown included.
    * The memo key carries the format AND the branch-specific confs
    * (path / keyspace+table), so switching either mid-session never
    * serves a stale snapshot (ADVICE r9: a format-only key re-served the
    * previous path's read after a `spark.graft.catalog.path` change).
    */
  /** Memo-key suffix identifying the catalog SOURCE a session is reading:
    * format plus its branch-specific confs. Every derived table downstream
    * of [[catalog]] (schema tables, per-table command fixtures) carries it
    * too, so a mid-session source switch re-derives the whole lineage
    * instead of serving any stale layer (ADVICE r9).
    */
  private def catalogBranchKey(spark: SparkSession): String = {
    val fmt = spark.conf.get("spark.graft.catalog.format", "derived")
    fmt match {
      case "derived" => fmt
      case "parquet" =>
        s"$fmt@${spark.conf.get("spark.graft.catalog.path", "")}"
      case connector =>
        s"$connector@${spark.conf.get("spark.graft.catalog.keyspace", "geomesa")}" +
          s".${spark.conf.get("spark.graft.catalog.table", "catalog")}"
    }
  }

  def catalog(spark: SparkSession, sfDir: String): DataFrame = {
    val fmt = spark.conf.get("spark.graft.catalog.format", "derived")
    val branchKey = catalogBranchKey(spark)
    stage(spark, sfDir, s"catalog@$branchKey", Local) {
      fmt match {
        case "derived" => catalogDerived(spark, sfDir)
        case "parquet" =>
          spark.read.parquet(spark.conf.get("spark.graft.catalog.path"))
            .select(col("sft").cast("string").as("sft"),
              col("value").cast("string").as("value"))
        case connector =>
          spark.read.format(connector)
            .option("keyspace",
              spark.conf.get("spark.graft.catalog.keyspace", "geomesa"))
            .option("table",
              spark.conf.get("spark.graft.catalog.table", "catalog"))
            .load()
            .select(col("sft").cast("string").as("sft"),
              col("value").cast("string").as("value"))
      }
    }
  }

  private def catalogDerived(spark: SparkSession, sfDir: String): DataFrame = {
      val sfts = events(spark, sfDir).select(col("event_type").as("sft")).distinct()
      val indexRows = sfts
        .select(col("sft"),
          explode(array(IndexSuffixes.map(lit): _*)).as("suffix"))
        .select(col("sft"),
          concat(lit("  CATALOG_"), upper(col("sft")), lit("_"), col("suffix"), lit("  "))
            .as("value"))
      val metaRows = sfts.select(col("sft"),
        concat(lit("metadata_"), col("sft")).as("value"))
      indexRows.unionAll(metaRows)
    }

  /** Node registry `(name, host, port, user, password)` (SURVEY §1 #1;
    * /root/reference/remotes.json.example), derived from `supplier`.
    * DuckDB twin: [[Oracle.registryCte]].
    */
  def registry(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "registry", Local) {
      supplier(spark, sfDir).select(
        col("s_name").as("name"),
        concat(lit("10.148.128."), (col("s_suppkey") % 250).cast("string")).as("host"),
        lit(22).as("port"),
        concat(lit("user_"), col("s_suppkey").cast("string")).as("user"),
        concat(lit("pw_"), col("s_suppkey").cast("string")).as("password"))
    }

  /** Lowercased index-table names for every SFT — what
    * `identify_schema_tables` yields (/root/reference/geomesa_cassandra.py:48-52).
    */
  def schemaTables(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, s"schema_tables@${catalogBranchKey(spark)}", Local) {
      catalog(spark, sfDir)
        .select(col("sft"), lower(trim(col("value"))).as("table_name"))
        .where(col("table_name").startsWith("catalog"))
    }

  /** Per-(node, table) `nodetool compactionstats` data lines (SURVEY §1 #5
    * fixture). A deterministic subset of node × table pairs carries a
    * compaction, formatted exactly like the output the reference's regex
    * (/root/reference/node.py:111) parses.
    */
  def compactionLines(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = registry(spark, sfDir).select(col("name").as("node"))
    val tabs = schemaTables(spark, sfDir).select(col("table_name"))
    nodes.crossJoin(tabs)
      .where((h24(col("node")) + h24(col("table_name"))) % 3 === 0)
      .select(col("node"), col("table_name"),
        concat(lit("c"), ((h24(col("node")) + h24(col("table_name"))) % 100000).cast("string"),
          lit("-id   Compaction   ks1   "), col("table_name"),
          lit("   5123456   10234567   bytes   50.05%")).as("line"))
  }

  /** Per-node `nodetool compactionstats` stdout blobs: header + sorted data
    * lines, as one `CmdResult`-shaped row per node (SURVEY §1 #4).
    */
  def compactionStdout(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, s"compaction_stdout@${catalogBranchKey(spark)}", Local) {
      compactionLines(spark, sfDir)
        .groupBy(col("node"))
        .agg(concat(lit("pending tasks: 2\n"),
          concat_ws("\n", array_sort(collect_list(col("line"))))).as("stdout"))
        .select(col("node"), lit("nodetool compactionstats").as("command"),
          col("stdout"), lit("").as("stderr"), lit(0).as("exit_status"))
    }

  /** Per-(node, table) `nodetool listsnapshots` lines, shaped for the
    * reference's snapshot regex (/root/reference/node.py:153).
    */
  def snapshotLines(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, s"snapshot_lines@${catalogBranchKey(spark)}", Local) {
      val nodes = registry(spark, sfDir).select(col("name").as("node"))
      val tabs = schemaTables(spark, sfDir).select(col("table_name"))
      nodes.crossJoin(tabs)
        .where((h24(col("node")) + h24(col("table_name"))) % 2 === 0)
        .select(col("node"), col("table_name"),
          concat(lit("snap_"), (h24(col("table_name")) % 1000).cast("string"),
            lit("   ks1   "), col("table_name"),
            lit("   12.3 MB   45.6 MB")).as("line"))
    }

  /** `DESCRIBE ks.<table>` outcomes per schema table (SURVEY §1 #8): tables
    * whose h24 % 7 == 0 are "missing" (stderr carries `not found`,
    * /root/reference/geomesa_cassandra.py:58), the rest exist (stdout carries
    * `CREATE TABLE`, /root/reference/node.py:174-180).
    */
  def describeResults(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, s"describe_results@${catalogBranchKey(spark)}", Local) {
      schemaTables(spark, sfDir).select(
      col("sft"), col("table_name"),
      when(h24(col("table_name")) % 7 === 0, lit(""))
        .otherwise(concat(lit("CREATE TABLE ks1."), col("table_name"), lit(" (...)")))
        .as("stdout"),
      when(h24(col("table_name")) % 7 === 0,
        concat(lit("'"), col("table_name"), lit("' not found in keyspace 'ks1'")))
        .otherwise(lit("")).as("stderr"))
    }

  /** Per-node `nodetool info` stdout (SURVEY §1 #7): nodes with odd suppkey
    * report all of Gossip/Thrift/Transport active (up per the liveness regex
    * /root/reference/node.py:50-53); even ones report Gossip inactive.
    */
  def infoResults(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "info_results", Local) {
      supplier(spark, sfDir).select(
        col("s_name").as("node"),
        when(col("s_suppkey") % 2 === 1, lit(
          "ID : n\nGossip active : true\nThrift active : true\nNative Transport active : true\nLoad : 1 GiB"))
          .otherwise(lit(
            "ID : n\nGossip active : false\nThrift active : true\nNative Transport active : true\nLoad : 1 GiB"))
          .as("stdout"))
    }
}
