package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** STREAMING CHANGE FEED over a [[TxTable]] commit log (r12) — the Delta
  * `readChangeFeed` streaming mode, re-expressed as a Structured Streaming
  * V1 `Source` (the DeltaSource/FileStreamSource shape: the commit log IS
  * the write-ahead log, so offsets are simply table VERSIONS):
  *
  * {{{
  * spark.readStream.format("graft-tx-changes")
  *   .option("root", tableRoot).option("startVersion", "0")
  *   .option("maxVersionsPerTrigger", "100") // page a long backlog
  *   .load()
  * }}}
  *
  * Each micro-batch is `readChanges(lastSeen+1, latest)` — row-level
  * changes with `_change_type` / `_commit_version` — so any Structured
  * Streaming program (windowed aggregates, `foreachBatch` into a
  * downstream index, another TxTable via the exactly-once sink) consumes
  * mutations incrementally with NO snapshot diffing and NO sink-side
  * polling loop. Offsets serialize as the version number, so checkpoint
  * recovery resumes exactly after the last committed batch; compaction
  * commits contribute empty batches (layout surgery is not a change);
  * a pre-CDF mutation in the consumed range fails loudly (readChanges'
  * contract), never silently drops a mutation.
  *
  * The batch DataFrame is computed by the ordinary batch reader and
  * wrapped streaming via `internalCreateDataFrame` — columns are aligned
  * to the source's FIXED schema (the table schema at source creation +
  * the two feed columns), with batches that predate a schema evolution
  * surfacing NULL for columns they lack.
  */
class TxChangesSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-tx-changes"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), TxChangesSource.schemaFor(ctx.sparkSession,
      TxSource.rootOf(parameters, "changes")))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new TxChangesSource(ctx.sparkSession, TxSource.rootOf(parameters, "changes"),
      parameters.get("startVersion").map(_.toLong).getOrElse(0L),
      parameters.get("maxVersionsPerTrigger").map { v =>
        val n = v.toLong
        require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
        n
      },
      Some(new TxSourceState(ctx.sparkSession, metadataPath)))
}

object TxChangesSource {
  /** The feed's fixed schema: the table schema as of source creation plus
    * `_change_type` and `_commit_version`. */
  private[sources] def schemaFor(spark: SparkSession, root: String): StructType =
    tableSchemaFor(spark, root)
      .add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)

  /** The TABLE schema half of [[schemaFor]] — also the fixed schema of
    * the r15 table stream ([[TxStreamSource]]), which carries no feed
    * columns: the latest snapshot under the schema rule
    * ([[TxTable.tableSchema]]). Both go through the PROVIDER'S session,
    * not `SparkSession.active` (ADVICE r12/r13): a checkpoint-accelerated
    * snapshot or a pre-schema footer read must land on THIS session. */
  private[sources] def tableSchemaFor(spark: SparkSession, root: String): StructType =
    TxTable.tableSchema(spark, root, TxTable.snapshot(spark, root, None))
}

/** Tiny per-source PERSISTED state (r15, closing the restart-regression
  * class a self-review surfaced): the pinned first version and the
  * highest version handed out as a batch end, stored as one small JSON
  * file under the query's source-metadata directory. Without it, a
  * restarted source re-derived both from scratch — the rate-limit base
  * regressed below the committed offset (and `MicroBatchExecution`
  * treats ANY offset change as new data, `!=` not `>`), re-serving
  * already-delivered versions as fresh batches; and the table stream's
  * initial snapshot re-pinned to the CURRENT latest version on a
  * replayed batch 0, double-emitting whatever committed in between. A
  * torn/unreadable file degrades to the old derive-from-scratch path,
  * never worse. Goes through Hadoop's FileSystem so checkpoint dirs on
  * any supported filesystem work.
  */
private[sources] final class TxSourceState(spark: SparkSession,
                                           metadataPath: String) {
  private val path = new org.apache.hadoop.fs.Path(metadataPath, "graft-source-state")
  private def fs = path.getFileSystem(spark.sessionState.newHadoopConf())

  def load(): Option[(Long, Long)] =
    try {
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        val m = txt.trim.split(",")
        Some((m(0).toLong, m(1).toLong))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def save(first: Long, handedOut: Long): Unit =
    try {
      val out = fs.create(path, true)
      try out.write(s"$first,$handedOut".getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }
}

/** Shared version-offset scaffolding of the two streaming sources (the
  * change feed and the r15 table stream): offsets ARE table versions;
  * `maxVersionsPerTrigger` pages the backlog from the persisted
  * handed-out base, so neither a late subscriber nor a restarted one
  * floods or re-serves. */
private[sources] abstract class TxVersionedSource(
    spark: SparkSession, root: String,
    state: Option[TxSourceState],
    maxVersionsPerTrigger: Option[Long]) extends Source {

  /** First version this stream serves — pinned across restarts by the
    * persisted state when present. */
  protected def firstVersion: Long

  protected def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json().toLong
  }

  /** Highest version already HANDED OUT as a batch end (advanced in
    * `getBatch`, including checkpoint-recovery replays, and persisted) —
    * the base the rate limit counts from. The DeltaSource
    * `maxFilesPerTrigger` shape (VERDICT r12 #5). */
  @volatile protected var handedOut: Long = Long.MinValue

  private def handedBase: Long =
    if (handedOut != Long.MinValue) handedOut
    else {
      handedOut = state.flatMap(_.load()).map(_._2).getOrElse(firstVersion - 1L)
      handedOut
    }

  override def getOffset: Option[Offset] = {
    val v = TxTable.snapshot(spark, root, None).version
    if (v < firstVersion) None
    else {
      // page through the backlog: at most maxVersionsPerTrigger versions
      // beyond what getBatch has already served (unbounded when unset)
      val capped = maxVersionsPerTrigger
        .fold(v)(m => math.min(v, math.max(handedBase, firstVersion - 1L) + m))
      if (capped < firstVersion) None else Some(LongOffset(capped))
    }
  }

  /** Advance + persist the rate-limit base — every getBatch calls this
    * first (normal progress AND checkpoint-recovery replays). */
  protected def handOut(to: Long): Unit =
    if (to > handedBase) {
      handedOut = to
      state.foreach(_.save(firstVersion, to))
    }

  /** The empty streaming frame / batch-wrapping tail shared by both
    * sources. */
  protected def wrap(batch: DataFrame, schema0: StructType): DataFrame =
    org.apache.spark.sql.GraftBridge.streamingDataFrame(
      spark, batch.queryExecution.toRdd, schema0)

  protected def emptyBatch(schema0: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema0)

  override def stop(): Unit = ()
}

class TxChangesSource(spark: SparkSession, root: String, startVersion: Long,
                      maxVersionsPerTrigger: Option[Long] = None,
                      state: Option[TxSourceState] = None)
    extends TxVersionedSource(spark, root, state, maxVersionsPerTrigger) {

  private val schema0 = TxChangesSource.schemaFor(spark, root)

  override def schema: StructType = schema0

  override protected def firstVersion: Long = startVersion

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver(_) + 1).getOrElse(startVersion)
    val to = ver(end)
    handOut(to)
    val batch =
      if (from > to) emptyBatch(schema0)
      else {
        val df = TxTable.readChanges(spark, root, from, Some(to))
        // a MID-STREAM schema evolution surfaces as batch columns beyond
        // the source's fixed schema: FAIL (the Delta stream-restart
        // contract) — silently projecting the new column away would feed
        // every downstream consumer a feed that never mentions it
        val extra = df.columns.toSet -- schema0.fieldNames.toSet
        if (extra.nonEmpty)
          throw new IllegalStateException(
            s"graft-tx-changes: table at $root evolved mid-stream " +
              s"(new columns ${extra.mkString(", ")}); restart the stream " +
              "to adopt the new schema")
        // align to the fixed source schema: a batch predating a schema
        // evolution lacks the later columns — surface NULL for them
        df.select(schema0.fields.map { f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      }
    wrap(batch, schema0)
  }
}
