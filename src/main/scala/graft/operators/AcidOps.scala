package graft.operators

import graft.Tables
import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** M-family mutations with a REAL write path (X-M; closes the "ACID-backed
  * MERGE/TTL" gap the read-side analogs left): a deterministic mutation
  * history executed against [[graft.sources.TxTable]] — the minimal
  * parquet+commit-log ACID format — whose every snapshot is replayable by
  * the DuckDB oracle from the raw `orders` table.
  *
  * The staged history (once per session, like every staging build):
  *   v0 `append`  orders before 1998, range-partitioned by order date so
  *                later mutations exhibit FILE-LEVEL copy-on-write;
  *   v1 `append`  the rest of orders (the incremental-load shape);
  *   v2 `delete`  TTL enforcement — rows older than [[TtlCutoff]]; only
  *                the v0 files whose date range intersects rewrite;
  *   v3 `merge`   upsert batch: price corrections (+1.5 on orderkey ≡ 3
  *                mod 10 — exact IEEE, hash-identical cross-engine) and
  *                resubmitted orders (orderkey + 10⁹, status 'R', on
  *                orderkey ≡ 0 mod 97). Corrections whose target row the
  *                TTL already deleted re-arrive as INSERTS — the upsert
  *                contract, visible in the oracle's replay.
  *
  * Registered queries read snapshots (full final state, a time-travel
  * aggregate at v2, and the commit-log history with its deterministic row
  * metrics) — so the oracle verifies not just the final data but the
  * recorded provenance of every mutation.
  */
object AcidOps {

  val InsertKeyOffset = 1000000000L
  val PriceCorrection = 1.5
  /** Matched-DELETE threshold of the generalized-merge fixture — exact in
    * IEEE double, so the clause routes identically cross-engine. */
  val MergeDeleteThreshold = 200000.0
  val TtlCutoff = "1996-01-01 00:00:00"

  /** A TxTable root built once per (session, sfDir) under its own attempt
    * dir. [[Tables.clearDerived]] deletes the dir and drops the memo
    * together, so a later snapshot read can never point at a removed root
    * (the ADVICE r8 stale-memo class; spec-pinned in AcidSpec).
    */
  private def txTable(spark: SparkSession, sfDir: String, name: String)
                     (build: String => Unit): String =
    Tables.memo(spark, sfDir, s"txtable_$name") {
      val root = Tables.uniqueStageDir(spark, sfDir, s"txtable_$name")
      build(root)
      root
    }

  /** The qualified SQL name of a fixture TxTable. Every fixture root lies
    * under [[Tables.stageBase]], so one catalog rooted there addresses them
    * all by namespace path: `graft_stage.<sf hash>.<name>.<attempt>`. Its
    * root never varies, which matters because [[graft.sources.TxCatalog]]
    * reads its root once, when a session first uses the catalog: a catalog
    * re-pointed at each build's parent dir keeps its first root, and a
    * second sf dir's fixture is then not found. */
  private[graft] def sqlName(spark: SparkSession, root: String): String =
    (StageCatalog +: stagePath(spark, root).map(p => s"`$p`")).mkString(".")

  private val StageCatalog = "graft_stage"

  /** `root`'s identifier parts in the [[StageCatalog]], registering the
    * catalog in this session. */
  private def stagePath(spark: SparkSession, root: String): Seq[String] = {
    spark.conf.set(s"spark.sql.catalog.$StageCatalog", "graft.sources.TxCatalog")
    spark.conf.set(s"spark.sql.catalog.$StageCatalog.root", Tables.stageBase)
    val base = java.nio.file.Paths.get(Tables.stageBase)
    base.relativize(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.toString).toSeq
  }

  /** Wall-clock per commit step of this (session, sfDir)'s
    * [[ordersTxTable]] build — read by Bench so `stage_detail` attributes
    * the staging cost to the individual mutation kinds (VERDICT r8 #7: a
    * regression in ONE commit kind must be visible, not smeared over the
    * 4-version history build). Empty until a build ran in this session;
    * never builds.
    */
  private[graft] def buildSteps(spark: SparkSession,
                                sfDir: String): Seq[(String, Double)] =
    Tables.memoized[Seq[(String, Double)]](spark, sfDir, "txtable_orders_steps")
      .getOrElse(Nil)

  /** Build (once per session, sfDir) and return the table root. */
  private[graft] def ordersTxTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "orders") { root =>
      val steps = Seq.newBuilder[(String, Double)]
      def step[A](name: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        steps += name -> ((System.nanoTime() - t0) / 1e9)
        r
      }
      val orders = Tables.orders(spark, sfDir)
      val cutoff = lit(TtlCutoff).cast(orders.schema("o_orderdate").dataType)
      val batchSplit = lit("1998-01-01 00:00:00")
        .cast(orders.schema("o_orderdate").dataType)
      step("append_hist") {
        TxTable.append(spark, root,
          orders.where(col("o_orderdate") < batchSplit)
            .repartitionByRange(4, col("o_orderdate")))
      }
      step("append_tail") {
        TxTable.append(spark, root,
          orders.where(col("o_orderdate") >= batchSplit)
            .repartitionByRange(4, col("o_orderdate")))
      }
      step("ttl_delete") {
        TxTable.delete(spark, root, col("o_orderdate") < cutoff)
      }
      val corrections = orders.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + lit(PriceCorrection))
      val inserts = orders.where(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(InsertKeyOffset))
        .withColumn("o_orderstatus", lit("R"))
      step("merge") {
        TxTable.merge(spark, root, corrections.unionByName(inserts),
          Seq("o_orderkey"), Seq("o_totalprice"))
      }
      Tables.memo(spark, sfDir, "txtable_orders_steps")(steps.result()): Unit
    }

  private val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Latest snapshot, full rows — every mutation's net effect hash-checked. */
  def finalState(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.read(spark, ordersTxTable(spark, sfDir))
      .select(Cols.map(col): _*)

  /** Time travel: the v2 snapshot (post-TTL, pre-merge) aggregated per
    * status — proves old versions stay exactly reconstructable after later
    * commits.
    */
  def timeTravelV2(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.read(spark, ordersTxTable(spark, sfDir), asOf = Some(2L))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))

  /** The commit log as data: version, operation, deterministic row
    * metrics. The r15 `timestamp` audit column is projected away HERE —
    * wall clock is provenance, not replayable-from-raw-tables state, so
    * it never enters the oracle-checked result. */
  def history(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.history(spark, ordersTxTable(spark, sfDir)).drop("timestamp")

  /** Exactly-once sink table over `events` (once per session): FOUR
    * at-least-once deliveries of THREE batches — batch 1 is deliberately
    * REDELIVERED, the replay every streaming source produces after a sink
    * crash — through [[TxTable.appendOnce]] with `(appId, batchId)` txn
    * identity. The duplicate delivery must leave NO trace in the data
    * (idempotent no-op), which is exactly what [[txnSinkState]]'s oracle
    * checks: per-type aggregates equal the raw events table's, where a
    * double-applied batch would double a third of every group.
    */
  private[graft] def txnSinkTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "txn_sink") { root =>
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      def batch(b: Int) = ev.where(col("event_id") % 3 === b)
      TxTable.appendOnce(spark, root, batch(0), "graft_sink", 0L): Unit
      TxTable.appendOnce(spark, root, batch(1), "graft_sink", 1L): Unit
      TxTable.appendOnce(spark, root, batch(1), "graft_sink", 1L): Unit // redelivery
      TxTable.appendOnce(spark, root, batch(2), "graft_sink", 2L): Unit
    }

  /** Final state of the exactly-once sink, per event type — integer-only
    * aggregates (count, id sum, distinct users) so the equality with the
    * raw events table is hash-exact: any double-write breaks it.
    */
  def txnSinkState(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.read(spark, txnSinkTable(spark, sfDir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        countDistinct(col("user_id")).as("n_users"))

  /** Sentinel [[schemaEvolutionState]] groups pre-evolution rows under. */
  val PreEvolution = "<pre-evolution>"

  /** Schema-EVOLUTION table (once per session): v0 appends a slim orders
    * projection; v1 (r15, VERDICT r14 #7) is a METADATA-ONLY widening —
    * SQL `ALTER TABLE ADD COLUMNS (o_orderpriority STRING)` through the
    * catalog, a `schema_evolve` commit with zero file actions; v2 appends
    * the "new pipeline" batch carrying the column. The log-recorded
    * superset schema governs reads (O(1) metadata, no footer sampling),
    * v0's files surface NULL for the column they predate, and time travel
    * to v0 still reads the ORIGINAL three-column schema (schemas version
    * with the data).
    */
  private[graft] def evoTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "evo") { root =>
      val orders = Tables.orders(spark, sfDir)
      TxTable.append(spark, root,
        orders.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
      spark.sql(s"ALTER TABLE ${sqlName(spark, root)} " +
        "ADD COLUMNS (o_orderpriority STRING)"): Unit
      TxTable.append(spark, root,
        orders.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority")))
    }

  /** Post-evolution state, grouped by the ADDED column with pre-evolution
    * rows surfacing as the [[PreEvolution]] sentinel — the oracle rebuilds
    * the split from raw `orders` by the same parity rule, so a read that
    * mis-schemas the old files (dropping them, or mis-aligning columns)
    * hash-mismatches.
    */
  def schemaEvolutionState(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.read(spark, evoTable(spark, sfDir))
      .groupBy(coalesce(col("o_orderpriority"), lit(PreEvolution)).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))

  /** CHANGE DATA FEED over the full mutation history (r12, VERDICT r11
    * #4): every row-level change the four commits produced, aggregated per
    * (version, change kind) — v0/v1 appends surface as inserts read from
    * the data files themselves (appends pay no CDF write amplification),
    * the TTL delete's change files carry the expired rows, and the merge's
    * carry update pre/post images plus the insert fan-in (resubmissions
    * AND corrections whose target the TTL already deleted). The oracle
    * replays the whole feed from the raw `orders` table by the same
    * deterministic mutation rules — so a feed that drops a change kind,
    * double-counts a batch, or mis-images an update hash-mismatches.
    */
  def changeFeed(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.readChanges(spark, ordersTxTable(spark, sfDir), fromVersion = 0L)
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_keys"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))

  /** The SAME complete feed read through the REGISTERED source's
    * `readChangeFeed` option (r14) — the SQL/connector surface for batch
    * CDC — sharing [[changeFeed]]'s oracle: the hash equality proves the
    * registered path loses/duplicates nothing vs the library path. */
  def changeFeedConnector(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-tx")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(ordersTxTable(spark, sfDir))
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_keys"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))

  /** Incremental MATERIALIZED VIEW maintained from the change feed (r12):
    * the per-status orders aggregate folded as one SIGNED aggregation over
    * the feed — insert and update_postimage rows add, delete and
    * update_preimage rows subtract — with the table itself never
    * rescanned. At 100 TB this is the MV-refresh contract CDF exists for:
    * refresh cost ∝ changes, not table. The oracle aggregates the FINAL
    * state replayed from raw mutation rules, so the hash equality is an
    * ALGEBRAIC completeness proof of the feed — a dropped change kind, a
    * double-applied batch, or a mis-imaged update breaks the fold exactly
    * (all arithmetic exact: counts/keys are longs, prices fold as
    * DECIMAL(14,2) terms).
    */
  def incrementalMv(spark: SparkSession, sfDir: String): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L) // delete, update_preimage
    TxTable.readChanges(spark, ordersTxTable(spark, sfDir), fromVersion = 0L)
      .groupBy(col("o_orderstatus"))
      .agg(sum(sign).as("n_orders"),
        sum(sign * col("o_orderkey")).as("sum_keys"),
        sum(col("o_totalprice").cast("decimal(14,2)") * sign)
          .cast("double").as("total"))
  }

  /** Merge-on-read DELETE fixture (r12): a four-file orders projection
    * takes TWO deletion-vector deletes — a key-mod sweep, then an
    * overlapping status-conditioned one (overlap forces replacement-vector
    * bitmap merges on the shared files) — with NO data file ever
    * rewritten (AcidSpec pins that physically; the commit log records
    * only `dv` actions). At 100 TB this is the shape that makes surgical
    * deletes metadata-speed: the vectors are deleted-rows/8 bits of
    * sidecar, and compaction materializes them later.
    */
  private[graft] def morTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "mor") { root =>
      val slim = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      TxTable.append(spark, root,
        slim.repartitionByRange(4, col("o_orderkey")))
      TxTable.deleteMor(spark, root, col("o_orderkey") % 7 === 0): Unit
      TxTable.deleteMor(spark, root,
        col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0): Unit
    }

  /** Final state of the MOR table — the vectors applied at scan time; the
    * oracle replays both delete predicates against raw orders, so a
    * reader that misses a vector (resurrection) or over-applies one
    * hash-mismatches.
    */
  def dvState(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.read(spark, morTable(spark, sfDir))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))

  /** Null-accounting / prefix data-skipping fixture (r12, VERDICT r11 #3):
    * a FOUR-file layout crossing priority range with null shape of an
    * optional column — `opt_clerk` is stamped only on o_orderkey ≡ 0 mod 3
    * (else NULL), and the four appends are the cells of (priority < '3' vs
    * ≥ '3') × (stamped vs unstamped). Each new prover shape then has files
    * it can PROVE empty: `LIKE '3%'` (a prefix range probe against the
    * UTF-8 string stats) skips both low-priority files, `IsNull` skips the
    * all-stamped files (footer null count 0), `IsNotNull` skips the
    * all-null files (null count = row count — those files' opt_clerk has
    * NO value range at all, the `t = "none"` stats path). AcidSpec asserts
    * the skip counts; the registered oracles assert the pruned reads are
    * lossless — the data-skipping correctness contract.
    */
  private[graft] def skipTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "skip") { root =>
      val base = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .withColumn("opt_clerk",
          when(col("o_orderkey") % 3 === 0,
            concat(lit("Clerk#"), col("o_orderkey"))))
      val lowPri = col("o_orderpriority") < "3"
      val stamped = col("o_orderkey") % 3 === 0
      Seq(lowPri && stamped, lowPri && !stamped,
          !lowPri && stamped, !lowPri && !stamped).foreach { cell =>
        TxTable.append(spark, root, base.where(cell).repartition(1)): Unit
      }
    }

  /** Registered-connector scan (r13, VERDICT r12 #3): the same skip-table
    * read through `spark.read.format("graft-tx")` — the DataSource surface
    * a SQL-only user gets — with a compound predicate whose BOTH halves
    * prune through the connector's FileIndex (prefix range + null
    * accounting): of the four files only the stamped-high-priority one is
    * opened. The oracle replays the filter from the raw stamping rule, so
    * a connector scan that mis-schemas, over-prunes, or misses the
    * snapshot hash-mismatches.
    */
  def connectorScan(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-tx").load(skipTable(spark, sfDir))
      .where(col("o_orderpriority").startsWith("3") &&
        col("opt_clerk").isNotNull)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"),
        countDistinct(col("o_custkey")).as("n_custs"))

  /** SQL-DML fixture (r13): a slim orders table mutated ENTIRELY through
    * the [[graft.sources.TxCatalog]] SQL surface — `DELETE FROM` (the CoW
    * delete path: pruning, 3VL, CDF, rebase) and `INSERT INTO` (an append
    * commit) — built once per session. */
  private[graft] def sqlDmlTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "sqldml") { root =>
      val t = sqlName(spark, root)
      // the WHOLE lifecycle is SQL (r14: CREATE TABLE became possible —
      // v0 is a `create` commit recording the schema): create, seed via
      // INSERT INTO … SELECT, mutate. SQL DELETE routes through
      // TxDmlRewrite's full-Catalyst command (arithmetic predicates
      // included); this fixture keeps the simple range predicate so the
      // oracle replay is unchanged.
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .createOrReplaceTempView("graft_sql_dml_seed")
      spark.sql(s"CREATE TABLE $t " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)"): Unit
      spark.sql(s"INSERT INTO $t SELECT * FROM graft_sql_dml_seed"): Unit
      spark.sql(s"DELETE FROM $t WHERE o_orderkey <= 2000"): Unit
      spark.sql(s"INSERT INTO $t VALUES (${2000000000L}, 42, 99.99)"): Unit
    }

  /** State after the SQL mutations, read back through the SQL surface and
    * aggregated per key-modulo bucket — the oracle replays the DELETE's
    * predicate complement plus the INSERT row from raw `orders`, so a SQL
    * statement that half-applies, double-applies, or misses the commit
    * log hash-mismatches.
    */
  def sqlDmlState(spark: SparkSession, sfDir: String): DataFrame = {
    val t = sqlName(spark, sqlDmlTable(spark, sfDir))
    spark.sql(
      s"""SELECT o_orderkey % 7 AS bucket, count(*) AS n_orders,
         |  sum(o_orderkey) AS sum_keys,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
         |FROM $t GROUP BY o_orderkey % 7""".stripMargin)
  }

  /** SQL MERGE/UPDATE fixture (r14, VERDICT r13 #1): a slim orders table
    * whose MUTATION history is driven entirely by SQL statements through
    * the catalog — v1 is a star-form `MERGE INTO` (the canonical upsert:
    * price corrections update matched rows, resubmitted orders insert),
    * v2 an arithmetic-predicate `UPDATE` (any Catalyst predicate, not a
    * V1 filter tree). Both land as the
    * format's own commits — dup-key rejection, CDF pre/post images, and
    * rebase all ride the SQL path because it IS [[TxTable.merge]] /
    * [[TxTable.update]] behind [[graft.sources.TxDmlRewrite]]. */
  private[graft] def sqlMergeTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "sqlmerge") { root =>
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      TxTable.append(spark, root, orders)
      val t = sqlName(spark, root)
      orders.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + lit(PriceCorrection))
        .unionByName(orders.where(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(InsertKeyOffset))
          .withColumn("o_orderstatus", lit("R")))
        .createOrReplaceTempView("graft_sql_merge_source")
      spark.sql(
        s"""MERGE INTO $t tgt USING graft_sql_merge_source s
           |ON tgt.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
      spark.sql(s"UPDATE $t SET o_totalprice = o_totalprice + 0.25 " +
        "WHERE o_orderkey % 20 = 7"): Unit
    }

  /** State after the SQL merge + update, read back through SQL and
    * aggregated per status — the oracle replays the star-merge's update/
    * insert rules and the update's arithmetic predicate from raw
    * `orders`, so a SQL mutation that half-applies, fans out a duplicate
    * match, or drops a set-to-value hash-mismatches. */
  def sqlMergeState(spark: SparkSession, sfDir: String): DataFrame = {
    val t = sqlName(spark, sqlMergeTable(spark, sfDir))
    spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  sum(o_orderkey) AS sum_keys,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
         |FROM $t GROUP BY o_orderstatus""".stripMargin)
  }

  /** Generalized SQL MERGE fixture (r15, VERDICT r14 #1): the FULL clause
    * surface in two statements through the catalog —
    *
    *  1. a five-clause MERGE: conditional matched DELETE (price >
    *     [[MergeDeleteThreshold]] fires FIRST), conditional matched
    *     UPDATE (even source key: price doubles via `tgt + s`, status
    *     'M'), unconditional matched UPDATE fallback (price + 0.5), and
    *     parity-routed conditional INSERTs ('I1' odd / 'I2' even) — every
    *     routing decision is first-match-wins;
    *  2. a NOT-MATCHED-BY-SOURCE statement: matched keys ≡ 0 mod 1000
    *     take status 'K'; unmatched target rows delete when key ≡ 4 mod
    *     10, take status 'U' when ≡ 7 — target-only expressions, the NMBS
    *     contract.
    *
    * Source = keys ≡ 0 mod 3 (match the seed) plus keys ≡ 0 mod 89
    * re-keyed +[[InsertKeyOffset]] (insert). Both statements land as
    * single `merge` commits of [[TxTable.mergeFull]] behind
    * [[graft.sources.TxDmlRewrite]]. */
  private[graft] def sqlMergeFullTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "sqlmfull") { root =>
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      TxTable.append(spark, root, orders)
      val t = sqlName(spark, root)
      orders.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .unionByName(orders.where(col("o_orderkey") % 89 === 0)
          .select((col("o_orderkey") + lit(InsertKeyOffset)).as("o_orderkey"),
            col("o_totalprice")))
        .createOrReplaceTempView("graft_sql_mfull_source")
      spark.sql(
        s"""MERGE INTO $t tgt USING graft_sql_mfull_source s
           |ON tgt.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND tgt.o_totalprice > $MergeDeleteThreshold THEN DELETE
           |WHEN MATCHED AND s.o_orderkey % 2 = 0 THEN
           |  UPDATE SET o_totalprice = tgt.o_totalprice + s.o_totalprice,
           |             o_orderstatus = 'M'
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 0.5
           |WHEN NOT MATCHED AND s.o_orderkey % 2 = 1 THEN
           |  INSERT (o_orderkey, o_orderstatus, o_totalprice)
           |  VALUES (s.o_orderkey, 'I1', s.o_totalprice)
           |WHEN NOT MATCHED THEN
           |  INSERT (o_orderkey, o_orderstatus, o_totalprice)
           |  VALUES (s.o_orderkey, 'I2', s.o_totalprice)""".stripMargin): Unit
      spark.sql(
        s"""MERGE INTO $t tgt USING graft_sql_mfull_source s
           |ON tgt.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND tgt.o_orderkey % 1000 = 0 THEN
           |  UPDATE SET o_orderstatus = 'K'
           |WHEN NOT MATCHED BY SOURCE AND tgt.o_orderkey % 10 = 4 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND tgt.o_orderkey % 10 = 7 THEN
           |  UPDATE SET o_orderstatus = 'U'""".stripMargin): Unit
    }

  /** Per-status aggregate of the post-merge state — the oracle replays
    * both statements' clause routing from raw `orders`, so a wrong
    * first-match-wins order, a mis-routed insert, an NMBS clause that
    * touches matched rows, or a half-applied delete all hash-mismatch. */
  def sqlMergeFullState(spark: SparkSession, sfDir: String): DataFrame = {
    val t = sqlName(spark, sqlMergeFullTable(spark, sfDir))
    spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  sum(o_orderkey) AS sum_keys,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
         |FROM $t GROUP BY o_orderstatus""".stripMargin)
  }

  /** SQL INSERT OVERWRITE fixture (r14, VERDICT r13 #4): seed via append,
    * then one `INSERT OVERWRITE … SELECT` — a SINGLE atomic commit whose
    * removes displace every live file, with the pre-overwrite snapshot
    * still time-travelable. */
  private[graft] def sqlOverwriteTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "sqlover") { root =>
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      TxTable.append(spark, root, orders.where(col("o_orderkey") % 2 === 0))
      val t = sqlName(spark, root)
      orders.where(col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .createOrReplaceTempView("graft_sql_overwrite_source")
      spark.sql(s"INSERT OVERWRITE $t " +
        "SELECT * FROM graft_sql_overwrite_source"): Unit
    }

  /** Final state AND the pre-overwrite snapshot in one result (both via
    * SQL, time travel included) — the oracle replays both sides from raw
    * `orders`, so an overwrite that leaks old rows, loses new ones, or
    * breaks time travel hash-mismatches. */
  def sqlOverwriteState(spark: SparkSession, sfDir: String): DataFrame = {
    val t = sqlName(spark, sqlOverwriteTable(spark, sfDir))
    def agg(side: String, from: String) =
      s"""SELECT '$side' AS side, count(*) AS n_orders,
         |  sum(o_orderkey) AS sum_keys,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
         |FROM $from""".stripMargin
    spark.sql(agg("final", t) + "\nUNION ALL\n" +
      agg("v0", s"$t VERSION AS OF 0"))
  }

  /** RESTORE fixture (r15): v0 appends even keys, v1 odd keys, v2 deletes
    * keys ≡ 0 mod 5, v3 RESTORES to v1 — driven through the SQL `CALL`
    * surface (`CALL <cat>.restore(...)`), so the oracle row exercises the
    * ProcedureCatalog seam end-to-end. Restore never rewrites history:
    * the deleted middle state stays time-travelable. */
  private[graft] def restoreTable(spark: SparkSession, sfDir: String): String =
    txTable(spark, sfDir, "restore") { root =>
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      TxTable.append(spark, root, orders.where(col("o_orderkey") % 2 === 0))
      TxTable.append(spark, root, orders.where(col("o_orderkey") % 2 === 1))
      TxTable.delete(spark, root, col("o_orderkey") % 5 === 0): Unit
      spark.sql(s"CALL $StageCatalog.restore(" +
        s"'${stagePath(spark, root).mkString(".")}', 1)"): Unit
    }

  /** Both sides of the restore in one result: the restored FINAL state
    * (== the full v1 table — every deleted row back) and the pre-restore
    * v2 state (the delete still visible to time travel, because restore
    * adds history rather than erasing it). The oracle replays both from
    * raw `orders`, so a restore that loses rows, resurrects the wrong
    * set, or rewrites history hash-mismatches. */
  def restoreState(spark: SparkSession, sfDir: String): DataFrame = {
    val root = restoreTable(spark, sfDir)
    val restoredV = TxTable.commits(root).last.version
    val t = sqlName(spark, root)
    def agg(side: String, from: String) =
      s"""SELECT '$side' AS side, count(*) AS n_orders,
         |  sum(o_orderkey) AS sum_keys,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
         |FROM $from""".stripMargin
    spark.sql(agg("final", t) + "\nUNION ALL\n" +
      agg("pre_restore", s"$t VERSION AS OF ${restoredV - 1}"))
  }

  /** Prefix-pruned scan: `o_orderpriority LIKE '3%'` opens only the two
    * high-priority files (the prover ranges the probe as
    * ['3', '4') against each file's UTF-8 min/max). */
  def prefixScan(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.readWhere(spark, skipTable(spark, sfDir),
        col("o_orderpriority").startsWith("3"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"),
        countDistinct(col("o_custkey")).as("n_custs"))

  /** Null-accounting scans: the same prefix probe split by IsNull /
    * IsNotNull on the optional column — each side's prover proof (null
    * count 0, resp. null count = row count) leaves exactly ONE of four
    * files open. Emitted as two labeled aggregate rows so one oracle
    * checks both pruned reads lost nothing.
    */
  def nullSkipScan(spark: SparkSession, sfDir: String): DataFrame = {
    val root = skipTable(spark, sfDir)
    def side(label: String, pred: org.apache.spark.sql.Column) =
      TxTable.readWhere(spark, root,
          pred && col("o_orderpriority").startsWith("3"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_keys"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .withColumn("side", lit(label))
    side("unstamped", col("opt_clerk").isNull)
      .unionByName(side("stamped", col("opt_clerk").isNotNull))
      .select(col("side"), col("n_orders"), col("sum_keys"), col("n_custs"))
  }
}
