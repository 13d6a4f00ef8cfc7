package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Offset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** STREAMING SOURCE over a [[TxTable]] ITSELF (r15 — the Delta streaming
  * source shape, completing the registered streaming story: the change
  * FEED was [[TxChangesSource]], this streams the TABLE):
  *
  * {{{
  * spark.readStream.format("graft-tx").load(tableRoot)       // snapshot + appends
  *   .option("startingVersion", "3")   // skip the snapshot: appends ≥ 3
  *   .option("maxVersionsPerTrigger", "100")  // page the version backlog
  * }}}
  *
  * The FIRST micro-batch is the full snapshot as of the stream's pinned
  * start version (one batch — the Delta initial-snapshot move), and every
  * later batch is the rows APPENDED by the commits it covers, read from
  * their data files (appends pay no change capture, so this is the
  * cheapest possible tail). Offsets are table versions, exactly like the
  * feed source; the start version and rate-limit base persist in the
  * query's source-metadata directory ([[TxSourceState]]), so checkpoint
  * recovery replays batch 0 against the SAME snapshot it originally
  * read — a re-derived "latest" would double-emit whatever committed
  * between the crash and the restart.
  *
  * CONTRACT ON MUTATIONS: a commit that REMOVES files or commits deletion
  * vectors inside the consumed range FAILS the stream loudly — an
  * append-only consumer fed from a mutating table would silently miss
  * the deletes/updates (consume `graft-tx-changes` for row-level change
  * semantics; Delta's source likewise fails without
  * ignoreChanges/ignoreDeletes). Layout-only commits (compaction,
  * `dataChange: false` — and metadata-only schema commits) contribute
  * NOTHING: re-emitting compacted files would duplicate every row. A
  * mid-stream schema evolution that ADDS columns beyond the source's
  * fixed schema fails with the restart message (the feed source's rule);
  * batches predating an evolution NULL-fill.
  */
class TxStreamSource(spark: SparkSession, root: String,
                     startingVersion: Option[Long],
                     maxVersionsPerTrigger: Option[Long],
                     stateOpt: Option[TxSourceState])
    extends TxVersionedSource(spark, root, stateOpt, maxVersionsPerTrigger) {

  /** The stream's first version, PINNED across restarts: the persisted
    * state wins (a recovered source must replay batch 0 against the same
    * snapshot), else the explicit `startingVersion`, else the latest
    * version at source creation — persisted immediately. */
  private val pinnedFirst: Long = stateOpt.flatMap(_.load()).map(_._1)
    .getOrElse {
      val f = startingVersion.getOrElse {
        val v = TxTable.snapshot(spark, root, None).version
        if (v < 0)
          throw new IllegalArgumentException(s"no tx table at $root")
        v
      }
      stateOpt.foreach(_.save(f, f - 1L))
      f
    }
  private val initialSnapshot = startingVersion.isEmpty

  override protected def firstVersion: Long = pinnedFirst

  private val schema0: StructType = TxChangesSource.tableSchemaFor(spark, root)

  override def schema: StructType = schema0

  /** Rows appended by commits in [from, to]: add-only commits read from
    * their data files; mutation commits FAIL; layout/metadata-only
    * commits contribute nothing. Range-bounded log parse — a per-trigger
    * full replay would grow with table lifetime (the r13 readChanges
    * lesson). */
  private def appendedRows(from: Long, to: Long): Option[DataFrame] = {
    if (from > to) return None
    val range = TxTable.commitsInRange(root, math.max(from, 0L), Some(to))
    // mid-stream evolution beyond the fixed schema: fail with the restart
    // contract. r16 (VERDICT r15 #7): checked on the RANGE's own recorded
    // schemas — any evolution visible at `to` must have been committed by
    // some version inside a consumed range, so per-range checking keeps the
    // same failure surface (the batch that consumes the evolving commit
    // fails) WITHOUT rebuilding a whole snapshot (checkpoint lookup + full
    // log-tail parse) on every micro-batch, which grew with table lifetime.
    range.flatMap(_.schemaJson).foreach { sj =>
      val extra =
        TxTable.schemaOf(sj).fieldNames.toSet -- schema0.fieldNames.toSet
      if (extra.nonEmpty)
        throw new IllegalStateException(
          s"graft-tx stream: table at $root evolved mid-stream (new " +
            s"columns ${extra.mkString(", ")}); restart the stream to " +
            "adopt the new schema")
    }
    range.foreach { c =>
      if (c.dataChange && (c.removes.nonEmpty || c.dvs.nonEmpty))
        throw new IllegalStateException(
          s"graft-tx stream: version ${c.version} (op ${c.op}) of $root " +
            "mutates existing rows — an append-only table stream cannot " +
            "represent it; consume format graft-tx-changes for row-level " +
            "change semantics")
    }
    val files = range.filter(_.dataChange).flatMap(_.adds)
    if (files.isEmpty) None
    else Some(TxTable.scan(spark, root, files, schema0))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = ver(end)
    handOut(to)
    val tail = start match {
      case Some(s) => appendedRows(ver(s) + 1, to)
      case None if initialSnapshot =>
        // batch 0: the snapshot AT THE PINNED VERSION (deterministic
        // under recovery replay) plus any appends up to the offset. The
        // snapshot goes through the SNAPSHOT-GOVERNED reader — a
        // merge-on-read table's deletion vectors apply; a raw file read
        // would resurrect the vector-deleted rows. (Commits ≤ pinnedFirst
        // need no evolution check: in this branch pinnedFirst is the
        // version schema0 itself was derived from.)
        val pinned = TxTable.snapshot(spark, root, Some(pinnedFirst))
        val snap =
          if (pinned.liveFiles.isEmpty) None
          else Some(TxTable.read(spark, root, Some(pinnedFirst))
            .select(schema0.fieldNames.map(col).toIndexedSeq: _*))
        val later = appendedRows(pinnedFirst + 1, to)
        (snap, later) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
      case None => appendedRows(pinnedFirst, to)
    }
    wrap(tail.getOrElse(emptyBatch(schema0)), schema0)
  }
}
