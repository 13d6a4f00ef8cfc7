package graft

import graft.sources.{TxFileIndex, TxTable}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The minimal ACID table format: snapshot isolation, copy-on-write
  * mutation granularity, optimistic-concurrency commit races, time travel,
  * and retention vacuum — each asserted against the format's contracts,
  * not just happy-path reads.
  */
class AcidSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_tx").toString

  // physical-plan search that looks inside adaptive plans
  private object Aqe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def frame(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "value")

  test("append/read roundtrip preserves every row; history records the op") {
    val root = freshRoot()
    val v = TxTable.append(spark, root, frame(1 to 100, "a"))
    assert(v == 0L)
    val back = TxTable.read(spark, root)
    assert(back.count() == 100)
    assert(back.exceptAll(frame(1 to 100, "a")).count() == 0)
    val h = TxTable.history(spark, root).collect()
    assert(h.length == 1 && h(0).getAs[String]("op") == "append" &&
      h(0).getAs[Long]("rows_written") == 100)
  }

  test("concurrent appends: the commit race serializes, neither writer's rows are lost") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 10, "base"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = Seq("left" -> (100 to 150), "right" -> (200 to 260)).map {
        case (tag, ids) =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = TxTable.append(spark, root, frame(ids, tag))
          })
      }
      val versions = tasks.map(_.get()).sorted
      assert(versions == Seq(1L, 2L), s"got $versions") // serialized, no gap
    } finally pool.shutdown()
    val back = TxTable.read(spark, root)
    assert(back.count() == 10 + 51 + 61)
    assert(back.where($"tag" === "left").count() == 51)
    assert(back.where($"tag" === "right").count() == 61)
  }

  test("delete is copy-on-write at file granularity: untouched files survive verbatim") {
    val root = freshRoot()
    // two appends -> disjoint file sets per batch
    TxTable.append(spark, root, frame(1 to 50, "old").repartition(2))
    TxTable.append(spark, root, frame(51 to 100, "new").repartition(2))
    val before = TxTable.snapshot(root)
    val v = TxTable.delete(spark, root, $"tag" === "old" && $"id" <= 25)
    assert(v == 2L)
    val commit = TxTable.commits(root).last
    // only batch-0 files contain matches: batch-1 files must NOT be removed
    val batch1Files = TxTable.commits(root)(1).adds.toSet
    assert(commit.removes.nonEmpty && commit.removes.forall(!batch1Files.contains(_)),
      s"delete rewrote unaffected files: ${commit.removes}")
    assert(commit.metrics("rows_deleted") == 25)
    val back = TxTable.read(spark, root)
    assert(back.count() == 75 && back.where($"id" <= 25).count() == 0)
    assert(before.liveFiles.toSet != TxTable.snapshot(root).liveFiles.toSet)
  }

  test("delete with no matching rows is a no-op: no commit, same version") {
    val root = freshRoot()
    val v0 = TxTable.append(spark, root, frame(1 to 20, "a"))
    val v = TxTable.delete(spark, root, $"id" > 999)
    assert(v == v0 && TxTable.commits(root).length == 1)
  }

  test("merge upserts: matched rows update in place, unmatched insert; metrics exact") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "base"))
    // updates for ids 1..10 (value *= 100), inserts for ids 101..105
    val source = (1 to 10).map(i => (i.toLong, "upd", i * 1000L))
      .toDF("id", "tag", "value")
      .unionByName((101 to 105).map(i => (i.toLong, "ins", i.toLong))
        .toDF("id", "tag", "value"))
    TxTable.merge(spark, root, source, Seq("id"), Seq("value"))
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("tag"), r.getAs[Long]("value")))
      .toMap
    assert(back.size == 35)
    (1 to 10).foreach(i => assert(back(i.toLong) == ("base", i * 1000L))) // updated value, kept tag
    (11 to 30).foreach(i => assert(back(i.toLong) == ("base", i * 10L)))  // untouched
    (101 to 105).foreach(i => assert(back(i.toLong) == ("ins", i.toLong))) // inserted whole row
    val m = TxTable.commits(root).last.metrics
    assert(m("rows_updated") == 10 && m("rows_inserted") == 5)
  }

  test("time travel reconstructs every past version after later rewrites") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a"))
    TxTable.delete(spark, root, $"id" <= 10)
    TxTable.merge(spark, root, Seq((15L, "x", 0L)).toDF("id", "tag", "value"),
      Seq("id"), Seq("value"))
    assert(TxTable.read(spark, root, asOf = Some(0L)).count() == 40)
    val v1 = TxTable.read(spark, root, asOf = Some(1L))
    assert(v1.count() == 30 && v1.where($"id" === 15 && $"value" === 150).count() == 1)
    val v2 = TxTable.read(spark, root)
    assert(v2.where($"id" === 15).head().getAs[Long]("value") == 0L)
  }

  test("vacuum reclaims only files unreferenced by retained versions") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(2))
    TxTable.delete(spark, root, $"id" <= 20)
    val removedFiles = TxTable.commits(root).last.removes.toSet
    val reclaimed = TxTable.vacuum(root, keepFromVersion = 1L)
    assert(reclaimed.toSet == removedFiles) // exactly the dead files
    // current snapshot unaffected; the pre-delete version is now gone
    assert(TxTable.read(spark, root).count() == 20)
    intercept[Exception] {
      TxTable.read(spark, root, asOf = Some(0L)).count()
    }: Unit
  }

  test("a stray temp file in the log never corrupts the commit sequence") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 5, "a"))
    // simulate a crashed writer: abandoned temp next to real commits
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_log", ".commit_crashed.tmp"),
      "{\"garbage\":".getBytes("UTF-8"))
    assert(TxTable.commits(root).length == 1)
    assert(TxTable.append(spark, root, frame(6 to 9, "b")) == 1L)
    assert(TxTable.read(spark, root).count() == 9)
  }

  test("compact: layout-only rewrite — same rows, fewer files, history records it, old files vacuumable") {
    val root = freshRoot()
    // four appends -> >= 4 small files (the log-structured decay shape)
    (0 until 4).foreach(b =>
      TxTable.append(spark, root, frame(b * 100 + 1 to b * 100 + 50, s"b$b")
        .repartition(2)))
    val before = TxTable.read(spark, root).collect().map(_.toString).sorted.toSeq
    val filesBefore = TxTable.snapshot(root).liveFiles
    assert(filesBefore.size == 8)
    val v = TxTable.compact(spark, root, targetFiles = 1, sortCols = Seq("id"))
    assert(v == 4L)
    val snap = TxTable.snapshot(root)
    assert(snap.liveFiles.size == 1)
    // pure layout surgery: bit-identical row set
    val after = TxTable.read(spark, root).collect().map(_.toString).sorted.toSeq
    assert(after == before)
    // the clustered layout is real: the single file is globally id-sorted
    val ids = spark.read.parquet(s"$root/data/${snap.liveFiles.head}")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == ids.sorted)
    // history records the op with its audit metric
    val h = TxTable.history(spark, root).collect().find(_.getLong(0) == 4L).get
    assert(h.getString(1) == "compact" && h.getAs[Long]("rows_written") == 200L)
    // time travel to a pre-compaction version still reads the OLD files...
    assert(TxTable.read(spark, root, asOf = Some(3L)).count() == 200)
    // ...until retention drops below the compaction: vacuum reclaims all 8
    assert(TxTable.vacuum(root, keepFromVersion = 0L).isEmpty)
    assert(TxTable.vacuum(root, keepFromVersion = 4L).toSet == filesBefore.toSet)
    assert(TxTable.read(spark, root).count() == 200)
    // compacting an already-compact table is a committed no-op
    assert(TxTable.compact(spark, root, targetFiles = 1) == 4L)
  }

  test("compact racing a concurrent append: both commit, no rows lost either way") {
    // compaction shares the optimistic-commit retry loop with the
    // mutations; what the race must guarantee is that whichever order the
    // two versions serialize in, the final snapshot holds EVERY row — a
    // compact that lost the race must retry against the snapshot that now
    // includes the appended file (or, winning, leave the append to land
    // on top untouched).
    val root = freshRoot()
    (0 until 3).foreach(b =>
      TxTable.append(spark, root, frame(b * 100 + 1 to b * 100 + 40, s"b$b")
        .repartition(2)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val tCompact = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); TxTable.compact(spark, root, 1) }
      })
      val tAppend = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          TxTable.append(spark, root, frame(900 to 949, "late"))
        }
      })
      gate.countDown()
      val versions = Seq(tCompact.get(), tAppend.get()).sorted
      assert(versions == Seq(3L, 4L), s"got $versions") // serialized, no gap
    } finally pool.shutdown()
    val back = TxTable.read(spark, root)
    assert(back.count() == 120 + 50)
    assert(back.where($"tag" === "late").count() == 50)
    val h = TxTable.history(spark, root).collect().map(_.getString(1)).toSeq
    assert(h.count(_ == "append") == 4 && h.count(_ == "compact") == 1)
  }

  test("merge racing delete: the loser's copy-on-write retries against the NEW snapshot") {
    // the subtle optimistic-concurrency case: both mutations stage
    // rewrites derived from the SAME base snapshot; whichever loses the
    // publish must retry its whole read-rewrite-commit cycle against the
    // winner's files, or it would resurrect deleted rows / drop updates.
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 60, "base").repartition(3))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val tDelete = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await()
          TxTable.delete(spark, root, $"id" <= 20) }
      })
      val tMerge = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await()
          // updates rows 15..25 (straddling the delete) + inserts 900..904
          TxTable.merge(spark, root,
            (15 to 25).map(i => (i.toLong, "upd", i * 1000L))
              .++((900 to 904).map(i => (i.toLong, "new", 0L)))
              .toDF("id", "tag", "value"),
            keyCols = Seq("id"), updateCols = Seq("tag", "value")) }
      })
      gate.countDown()
      assert(Seq(tDelete.get(), tMerge.get()).sorted == Seq(1L, 2L))
    } finally pool.shutdown()
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // rows 1..20 deleted; whether they are gone forever or re-inserted by
    // the merge depends on serialization order — but 15..20 may ONLY
    // exist if the merge ran second (as INSERTS of the full update row)
    val mergeRanSecond = back.contains(15L)
    if (mergeRanSecond) {
      // delete then merge: 15..20 re-arrive as inserts, 21..25 as updates
      (1 to 14).foreach(i => assert(!back.contains(i.toLong), s"row $i"))
      (15 to 25).foreach(i => assert(back(i.toLong) == (("upd", i * 1000L)), s"row $i"))
      assert(back.size == 60 - 20 + 6 + 5)
    } else {
      // merge then delete: the delete removes 1..20 INCLUDING the freshly
      // updated 15..20 — updates must not resurrect
      (1 to 20).foreach(i => assert(!back.contains(i.toLong), s"row $i"))
      (21 to 25).foreach(i => assert(back(i.toLong) == (("upd", i * 1000L)), s"row $i"))
      assert(back.size == 60 - 20 + 5)
    }
    (900 to 904).foreach(i => assert(back(i.toLong) == (("new", 0L))))
    (26 to 60).foreach(i => assert(back(i.toLong) == (("base", i * 10L))))
  }

  // ------------------------------------------------- fault injection (r10)

  test("crash between data-file write and commit publish: orphans are invisible and vacuumable") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "base").repartition(1))
    // simulate the crash: stage data files exactly the way a writer does
    // (uuid-named parts under data/), then die before tryCommit — so no
    // log entry ever names them
    val stage = java.nio.file.Paths.get(root, "crash_stage")
    frame(900 to 909, "orphan").repartition(2)
      .write.mode("overwrite").parquet(stage.toString)
    val dataDir = java.nio.file.Paths.get(root, "data")
    import scala.jdk.CollectionConverters._
    val orphans = java.nio.file.Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map { p =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        java.nio.file.Files.move(p, dataDir.resolve(name))
        name
      }.toSeq
    assert(orphans.size == 2)
    // the BROKEN-VARIANT reader (path listing instead of log replay) sees
    // the orphan rows — this is the wrong answer the log protects against
    assert(spark.read.parquet(dataDir.toString).count() == 30)
    // the log-driven reader does not
    assert(TxTable.read(spark, root).count() == 20)
    // STAGED-FILE GRACE WINDOW (ADVICE r14): a never-logged data file is
    // indistinguishable from an IN-FLIGHT writer's staging, so a vacuum
    // inside the window must NOT reclaim it — a concurrent writer's
    // about-to-commit files reclaimed here would turn its successful
    // commit into acknowledged-write data loss
    assert(TxTable.vacuum(root, keepFromVersion = 0L).isEmpty,
      "vacuum reclaimed young never-committed files inside the grace window")
    assert(orphans.forall(o => java.nio.file.Files.exists(dataDir.resolve(o))))
    // past the window the same files are true crash orphans and reclaim
    val oldGrace = TxTable.StagedGraceMs
    try {
      TxTable.StagedGraceMs = 0L
      val reclaimed = TxTable.vacuum(root, keepFromVersion = 0L)
      assert(reclaimed.toSet == orphans.toSet)
    } finally TxTable.StagedGraceMs = oldGrace
    assert(TxTable.read(spark, root).count() == 20)
    assert(spark.read.parquet(dataDir.toString).count() == 20)
    // committed-then-displaced files are NOT grace-protected: the log
    // names them, so retention alone governs — a post-delete vacuum still
    // reclaims immediately (the pre-r15 behavior, preserved)
    TxTable.delete(spark, root, $"id" <= 5)
    val displaced = TxTable.commits(root).last.removes
    assert(displaced.nonEmpty)
    val reclaimed2 = TxTable.vacuum(root, keepFromVersion = TxTable.snapshot(root).version)
    assert(displaced.forall(reclaimed2.contains),
      "freshly displaced committed files must reclaim without a grace wait")
  }

  test("vacuum vs a reader on an old snapshot: retained versions keep their files; below retention fails loudly") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(1)) // v0
    TxTable.delete(spark, root, $"id" <= 20) // v1 rewrites v0's one file
    val v0Live = TxTable.snapshot(root, Some(0L)).liveFiles.toSet
    val latestLive = TxTable.snapshot(root).liveFiles.toSet
    // the broken variant computes referenced files from the LATEST snapshot
    // only — under that rule v0's rewritten-away file is garbage, so this
    // test distinguishes the two rules before asserting anything
    assert((v0Live -- latestLive).nonEmpty)
    val reader0 = TxTable.read(spark, root, asOf = Some(0L)) // old reader in flight
    // retention keeps v0: nothing may be reclaimed...
    assert(TxTable.vacuum(root, keepFromVersion = 0L).isEmpty)
    // ...and the in-flight old-snapshot reader still materializes fully
    assert(reader0.count() == 40)
    // dropping retention below the reader reclaims exactly v0's dead file
    assert(TxTable.vacuum(root, keepFromVersion = 1L).toSet ==
      (v0Live -- latestLive))
    // time travel below retention now fails LOUDLY (missing path), never
    // returns a silently partial table
    intercept[Exception] {
      TxTable.read(spark, root, asOf = Some(0L)).count()
    }: Unit
    assert(TxTable.read(spark, root).count() == 20)
  }

  test("corrupt or truncated commit log fails loudly, never silently skips actions") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "a").repartition(1)) // v0
    TxTable.delete(spark, root, $"id" <= 10) // v1: add(survivor)+remove(v0)
    val log1 = java.nio.file.Paths.get(root, "_log", f"${1L}%020d.json")
    val intact = java.nio.file.Files.readAllBytes(log1)
    val lines = new String(intact, "UTF-8").split("\n")
    assert(lines.length == 5) // commitInfo, add, remove, cdc (r12), end marker
    // (a) truncation severing WHOLE trailing lines (cdc + end marker):
    // every surviving line still parses — the pre-r10 reader accepted this
    // silently, resurrecting the 10 deleted rows next to their rewrite.
    // Pin that the broken variant really is blind to this corruption:
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.dropRight(2).foreach(l => om.readTree(l)) // parses clean
    java.nio.file.Files.write(log1,
      lines.dropRight(2).mkString("\n").getBytes("UTF-8"))
    val eA = intercept[IllegalStateException](TxTable.commits(root))
    assert(eA.getMessage.contains("version 1") &&
      eA.getMessage.contains("end marker"), eA.getMessage)
    // (b) byte-level truncation mid-line: unparseable JSON, named version
    java.nio.file.Files.write(log1, intact.dropRight(5))
    val eB = intercept[IllegalStateException](TxTable.commits(root))
    assert(eB.getMessage.contains("version 1"), eB.getMessage)
    // (c) truncated to empty: loud, not an empty no-op commit
    java.nio.file.Files.write(log1, Array.empty[Byte])
    val eC = intercept[IllegalStateException](TxTable.commits(root))
    assert(eC.getMessage.contains("empty"), eC.getMessage)
    // reads go through commits() — the corruption can never reach a result
    intercept[IllegalStateException](TxTable.read(spark, root).count()): Unit
    // restoring the bytes restores the table verbatim
    java.nio.file.Files.write(log1, intact)
    assert(TxTable.read(spark, root).count() == 20)
  }

  test("clearDerived drops the staged-table memo: snapshots rebuild, never read a deleted root") {
    import graft.operators.AcidOps
    // populate the memo (and the staged mutation history) ...
    val before = AcidOps.finalState(spark, Sf).count()
    assert(before > 0)
    // ... then clear: attempt dirs are DELETED, so a memo surviving this
    // would hand later reads a missing directory (the ADVICE r8 stale-memo
    // class; pre-fix this second read threw FileNotFound)
    graft.Tables.clearDerived(spark)
    assert(AcidOps.finalState(spark, Sf).count() == before)
  }

  /** The attempt dir a staged parquet read scans. */
  private def attemptDir(df: org.apache.spark.sql.DataFrame): java.io.File =
    new java.io.File(new java.net.URI(df.inputFiles.head)).getParentFile

  test("session state: two sessions staging one name get separate memos and attempt dirs") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    var builds = 0
    def staged(s: org.apache.spark.sql.SparkSession) =
      Tables.stage(s, Sf, "spec_owner_pq", Tables.Parquet()) {
        builds += 1
        s.range(0, 10).toDF("id")
      }
    try {
      val (d1, d2) = (staged(s1), staged(s2))
      assert(builds == 2)
      assert((staged(s1) eq d1) && (staged(s2) eq d2) && builds == 2)
      assert(attemptDir(d1) != attemptDir(d2))
    } finally { Tables.clearDerived(s1); Tables.clearDerived(s2) }
  }

  test("session state: clearDerived on one session leaves the other's staged reads working") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    def staged(s: org.apache.spark.sql.SparkSession) =
      Tables.stage(s, Sf, "spec_owner_pq", Tables.Parquet())(s.range(0, 10).toDF("id"))
    try {
      val (d1, d2) = (staged(s1), staged(s2))
      val (dir1, dir2) = (attemptDir(d1), attemptDir(d2))
      Tables.clearDerived(s1)
      assert(!dir1.exists() && dir2.exists())
      assert(d2.count() == 10 && (staged(s2) eq d2))
      // the cleared session rebuilds into a fresh attempt dir
      val again = staged(s1)
      assert(!(again eq d1) && again.count() == 10 && attemptDir(again) != dir1)
    } finally { Tables.clearDerived(s1); Tables.clearDerived(s2) }
  }

  test("session state: clearDerived leaves none of the session's attempt dirs or graft_* tables") {
    val s = spark.newSession()
    val names = Seq("spec_owner_part", "spec_owner_bkt", "spec_owner_tx")
    def dirs: Set[String] = names.flatMap(n =>
      Option(new java.io.File(Tables.stageDir(Sf, n)).listFiles()).toSeq.flatten)
      .map(_.getPath).toSet
    def tables: Seq[String] = s.catalog.listTables().collect().toSeq
      .map(_.name).filter(_.startsWith("graft_spec_owner"))
    val before = dirs
    val part = Tables.stage(s, Sf, "spec_owner_part", Tables.Parquet(Seq("p"))) {
      s.range(0, 20).selectExpr("id", "id % 2 AS p")
    }
    val bkt = Tables.stage(s, Sf, "spec_owner_bkt", Tables.Bucketed("id")) {
      s.range(0, 20).toDF("id")
    }
    var localBuilds = 0
    def local = Tables.stage(s, Sf, "spec_owner_local", Tables.Local) {
      localBuilds += 1
      s.range(0, 5).toDF("id")
    }
    val held = local
    Tables.memo(s, Sf, "spec_owner_tx") {
      val root = Tables.uniqueStageDir(s, Sf, "spec_owner_tx")
      TxTable.append(s, root, s.range(0, 3).toDF("id"))
    }: Unit
    assert(part.count() == 20 && bkt.count() == 20 && held.count() == 5)
    assert((dirs -- before).size == 3 && tables.size == 1)
    assert((local eq held) && localBuilds == 1)
    Tables.clearDerived(s)
    assert((dirs -- before).isEmpty, dirs -- before)
    assert(tables.isEmpty, tables)
    // a Local table pins no blocks: clearing drops its memo, so the next
    // use builds it again
    assert(Tables.memoized[AnyRef](s, Sf, "spec_owner_local").isEmpty)
    assert(local.count() == 5 && localBuilds == 2)
    Tables.clearDerived(s)
  }

  test("stage Local: a build over MaxLocalRows throws, naming the table") {
    val s = spark.newSession()
    try {
      val e = intercept[IllegalStateException] {
        Tables.stage(s, Sf, "spec_local_oversized", Tables.Local) {
          s.range(0, Tables.MaxLocalRows + 1L).toDF("id")
        }
      }
      assert(e.getMessage.contains("'spec_local_oversized'"), e.getMessage)
      // nothing half-built is memoized
      assert(Tables.memoized[AnyRef](s, Sf, "spec_local_oversized").isEmpty)
      // exactly at the bound still stages
      assert(Tables.stage(s, Sf, "spec_local_at_bound", Tables.Local) {
        s.range(0, Tables.MaxLocalRows.toLong).toDF("id")
      }.count() == Tables.MaxLocalRows)
    } finally Tables.clearDerived(s)
  }

  test("data skipping: commit-logged stats prune provably irrelevant files; results identical") {
    val root = freshRoot()
    // three single-file appends with disjoint id ranges
    TxTable.append(spark, root, frame(1 to 10, "a").repartition(1))
    TxTable.append(spark, root, frame(11 to 20, "b").repartition(1))
    TxTable.append(spark, root, frame(21 to 30, "c").repartition(1))
    // range predicate: only the third file's [21,30] range can match
    val (kept, skipped) = TxTable.pruneFiles(spark, root, $"id" > 25L)
    assert(kept.size == 1 && skipped.size == 2, s"kept=$kept skipped=$skipped")
    assert(TxTable.readWhere(spark, root, $"id" > 25L)
      .collect().map(_.getLong(0)).sorted.toSeq == (26L to 30L))
    // equality on a string-stats predicate (tag ranges are per-file constants)
    val (kt, st) = TxTable.pruneFiles(spark, root, $"tag" === "b")
    assert(kt.size == 1 && st.size == 2)
    // conjunction: both conjuncts must be satisfiable in the same file
    val (kc, _) = TxTable.pruneFiles(spark, root, $"id" > 25L && $"tag" === "b")
    assert(kc.isEmpty) // id>25 lives in file c, tag=b in file b: no file fits
    // disjunction keeps the union of may-match sets
    val (kd, sd) = TxTable.pruneFiles(spark, root, $"id" <= 5L || $"tag" === "c")
    assert(kd.size == 2 && sd.size == 1)
    // all-pruned read keeps the schema and returns no rows
    val none = TxTable.readWhere(spark, root, $"id" > 1000L)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("id", "tag", "value"))
    // unsupported predicate shapes never prune (conservative prover)
    val (_, sUnknown) = TxTable.pruneFiles(spark, root, $"id" % 2 === 0)
    assert(sUnknown.isEmpty)
    // a predicate on a column without recorded stats never prunes
    val (_, sNo) = TxTable.pruneFiles(spark, root, col("nope") === 1)
    assert(sNo.isEmpty)
  }

  test("string pruning orders by UTF-8 bytes, not UTF-16 code units") {
    import spark.implicits._
    // U+1F600 (4-byte UTF-8, surrogate pair in UTF-16) sorts ABOVE U+FFFD
    // in UTF-8 byte order but BELOW it in Java's String.compareTo — a
    // UTF-16-ordered prover would prove the emoji outside [min,max] of the
    // file that contains it and WRONGLY prune it
    val emoji = new String(Character.toChars(0x1F600))
    val repl = "�"
    assert(emoji.compareTo(repl) < 0) // the UTF-16 trap is real on this JVM
    val root = freshRoot()
    TxTable.append(spark, root,
      Seq((1L, repl, 0L), (2L, emoji, 0L)).toDF("id", "tag", "value")
        .repartition(1))
    TxTable.append(spark, root,
      Seq((3L, "a", 0L), (4L, "b", 0L)).toDF("id", "tag", "value")
        .repartition(1))
    // the emoji probe must KEEP file 1 ([min,max] = [repl, emoji] in UTF-8
    // order) and may prune the ascii file
    val got = TxTable.readWhere(spark, root, $"tag" === emoji)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L), s"got $got")
    val (_, skipped) = TxTable.pruneFiles(spark, root, $"tag" === emoji)
    assert(skipped.size == 1) // the ascii file is provably irrelevant
  }

  test("double pruning: NaN probes never prune; -0.0 stats keep exact-zero probes") {
    import spark.implicits._
    val root = freshRoot()
    // file 1 carries {-0.0, NaN}; file 2 a disjoint positive range
    TxTable.append(spark, root,
      Seq((1L, -0.0), (2L, Double.NaN)).toDF("id", "v").repartition(1))
    TxTable.append(spark, root,
      Seq((3L, 5.0), (4L, 7.0)).toDF("id", "v").repartition(1))
    // Spark's EqualTo(NaN, NaN) is TRUE, but NaN is outside any [min,max]:
    // the prover must keep everything for a NaN probe
    val (_, sNaN) = TxTable.pruneFiles(spark, root, $"v" === Double.NaN)
    assert(sNaN.isEmpty)
    assert(TxTable.readWhere(spark, root, $"v" === Double.NaN)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // Spark compares -0.0 == 0.0; a 0.0 probe must keep the -0.0 file
    val zs = TxTable.readWhere(spark, root, $"v" === 0.0)
      .collect().map(_.getLong(0)).toSeq
    assert(zs == Seq(1L), s"got $zs")
  }

  test("float stats widen before stringify; multi-row-group string ranges merge in UTF-8 order") {
    // 0.1f's nearest double is 0.10000000149... — a stat recorded from
    // Float.toString ("0.1") re-parses as 0.1d and a strict probe v > 0.1
    // would PRUNE the file that holds matching rows
    val root = freshRoot()
    // one file whose WHOLE range is 0.1f: a "0.1"-stringified stat makes
    // max look equal to the probe and the strict probe prunes it
    TxTable.append(spark, root, Seq((1L, 0.1f)).toDF("id", "v").repartition(1))
    TxTable.append(spark, root, Seq((2L, 0.7f)).toDF("id", "v").repartition(1))
    val (_, sf) = TxTable.pruneFiles(spark, root, $"v" > 0.1)
    assert(sf.isEmpty, "file holding 0.1f (0.10000000149d after cast) wrongly pruned")
    assert(TxTable.readWhere(spark, root, $"v" > 0.1).count() == 2L)
    // equality at the exact cast-to-double value keeps the file too
    assert(TxTable.readWhere(spark, root, $"v" === 0.1f.toDouble).count() == 1L)
    // and the stat still prunes what it should
    val (_, s2) = TxTable.pruneFiles(spark, root, $"v" > 0.8)
    assert(s2.size == 2)

    // string merge across ROW GROUPS: U+1F600 sorts above U+FFFD in UTF-8
    // bytes but below it in UTF-16 code units — a Java-String min over the
    // per-group mins would record the emoji as the FILE min and a probe
    // for U+FFFD would prune the file that contains it
    val emoji = new String(Character.toChars(0x1F600))
    val repl = "�"
    val dir = java.nio.file.Files.createTempDirectory("graft_rg").toString + "/t"
    (1 to 4000).map(i => (i.toLong, if (i <= 2000) repl else emoji))
      .toDF("id", "tag").repartition(1).sortWithinPartitions("id")
      .write.option("parquet.block.size", "2048").parquet(dir)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var f: String = null
    while (part.hasNext) {
      val p = part.next().toString
      if (p.endsWith(".parquet")) f = p
    }
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf))
    val nGroups = reader.getFooter.getBlocks.size()
    reader.close()
    assert(nGroups > 1, s"fixture must span row groups, got $nGroups")
    val st = graft.sources.TxStats.fromFooter(conf, f)
    assert(st("tag").min == repl, "UTF-16-ordered merge recorded the wrong min")
    assert(st("tag").max == emoji, "UTF-16-ordered merge recorded the wrong max")
  }

  test("schema evolution: additive append governs reads; old files surface null; rewrites keep the column") {
    val root = freshRoot()
    TxTable.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    // additive evolution: a third column arrives with a later batch
    TxTable.append(spark, root,
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "tag", "score"))
    val df = TxTable.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "tag", "score"))
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", -1L), (2L, "b", -1L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // time travel reads the schema AS OF the version: v0 has no score
    assert(TxTable.read(spark, root, asOf = Some(0L)).columns.toSeq ==
      Seq("id", "tag"))
    // non-additive appends fail loudly, never silently lose a column
    intercept[IllegalArgumentException] {
      TxTable.append(spark, root, Seq((5L, "e")).toDF("id", "tag"))
    }
    intercept[IllegalArgumentException] {
      TxTable.append(spark, root,
        Seq((5L, "e", 1.5)).toDF("id", "tag", "score")) // long -> double
    }
    // copy-on-write rewrites run under the union schema: a compaction
    // folding old+new files must keep the evolved column and its nulls
    TxTable.compact(spark, root, targetFiles = 1)
    val after = TxTable.read(spark, root).collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(after == rows)
    // a delete touching a pre-evolution row keeps the column too
    val root2 = freshRoot()
    TxTable.append(spark, root2, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    TxTable.append(spark, root2, Seq((3L, "c", 30L)).toDF("id", "tag", "score"))
    TxTable.delete(spark, root2, $"id" === 1L)
    val d2 = TxTable.read(spark, root2)
    assert(d2.columns.toSeq == Seq("id", "tag", "score"))
    assert(d2.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // predicates on the evolved column prune conservatively (old files
    // carry no stats for it) and read correctly
    assert(TxTable.readWhere(spark, root2, $"score" === 30L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("appendOnce: concurrent replays of one batch commit exactly one copy; losers clean up") {
    val root = freshRoot()
    assert(TxTable.appendOnce(spark, root, frame(1 to 10, "a"), "app", 0L) == 0L)
    // sequential replay: idempotent no-op returning the original version
    assert(TxTable.appendOnce(spark, root, frame(1 to 10, "a"), "app", 0L) == 0L)
    // concurrent replays of the SAME batch: the txn check is atomic with
    // the one-owner-per-version commit, so exactly one applies
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val vs = (1 to 2).map(_ => Future(
      TxTable.appendOnce(spark, root, frame(11 to 20, "b"), "app", 1L)))
      .map(Await.result(_, Duration(180, "s")))
    pool.shutdown()
    assert(vs.forall(_ == 1L), s"both replays must land on v1: $vs")
    assert(TxTable.read(spark, root).count() == 20L)
    val txns = TxTable.snapshot(root).commits.filter(_.txn.contains(("app", 1L)))
    assert(txns.size == 1)
    // the losing replay deleted its staged files: data dir holds only live
    val live = TxTable.snapshot(root).liveFiles.toSet
    val onDisk = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "data")).iterator()
    val extras = scala.collection.mutable.Buffer.empty[String]
    while (onDisk.hasNext) {
      val f = onDisk.next().getFileName.toString
      if (!live.contains(f)) extras += f
    }
    assert(extras.isEmpty, s"orphaned loser files: $extras")
    // a different app's batch 1 is a DIFFERENT transaction: it appends
    assert(TxTable.appendOnce(spark, root, frame(21 to 25, "c"), "other", 1L) == 2L)
    assert(TxTable.read(spark, root).count() == 25L)
  }

  test("bloom skipping: point probes prune files whose ranges all overlap; no false negatives") {
    val root = freshRoot()
    // four files with INTERLEAVED ids (file f holds ids ≡ f mod 4), so
    // every file's [min,max] spans nearly the whole domain — range stats
    // alone cannot prune an equality probe; only the blooms can
    (0 until 4).foreach { f =>
      val rows = (0 until 100).filter(_ % 4 == f)
        .map(i => (i.toLong, s"key$i", i * 10L))
      TxTable.append(spark, root,
        rows.toDF("id", "tag", "value").repartition(1), bloomCols = Seq("id", "tag"))
    }
    val (kept, skipped) = TxTable.pruneFiles(spark, root, $"id" === 50L)
    assert(kept.size == 1 && skipped.size == 3,
      s"bloom should isolate id=50's file: kept=${kept.size}")
    // result identity on the pruned read
    assert(TxTable.readWhere(spark, root, $"id" === 50L)
      .collect().map(_.getLong(0)).toSeq == Seq(50L))
    // string-typed blooms prune too, via the identical canonical form
    val (ks, ss) = TxTable.pruneFiles(spark, root, $"tag" === "key37")
    assert(ks.size == 1 && ss.size == 3)
    // NO FALSE NEGATIVES: for every present id, the containing file is kept
    (0 until 100).foreach { i =>
      val hits = TxTable.readWhere(spark, root, $"id" === i.toLong).count()
      assert(hits == 1L, s"bloom false-negatived id=$i")
    }
    // an absent-but-in-range probe: blooms may false-positive (keep) but
    // the READ result is still exactly empty
    assert(TxTable.readWhere(spark, root, $"id" === 1000L).count() == 0L)
    // In-lists probe per value: only files holding 13 or 14 survive
    val (ki, _) = TxTable.pruneFiles(spark, root, $"id".isin(13L, 14L))
    assert(ki.size == 2)
    // a whole-valued double probe maps onto the long bloom's decimal form
    val (kw, _) = TxTable.pruneFiles(spark, root, $"id" === 50.0)
    assert(kw.size == 1)
    // range predicates ignore blooms (ranges overlap → all kept: the bloom
    // is an equality structure, never consulted for inequalities)
    val (_, sr) = TxTable.pruneFiles(spark, root, $"id" > 10L)
    assert(sr.isEmpty)
    // a rewrite WITHOUT bloomCols drops the filters: pruning degrades to
    // conservative keep-all, never to a wrong skip
    TxTable.compact(spark, root, targetFiles = 2)
    val (_, sAfter) = TxTable.pruneFiles(spark, root, $"id" === 50L)
    assert(sAfter.isEmpty, "post-compact files have no blooms: nothing may skip")
    assert(TxTable.readWhere(spark, root, $"id" === 50L).count() == 1L)
  }

  test("bloom hash-versioning: unversioned or foreign-version blooms are never probed — pruning degrades, answers never change") {
    val root = freshRoot()
    // two files with interleaved ids (ranges overlap): only blooms can prune
    (0 until 2).foreach { f =>
      val rows = (0 until 100).filter(_ % 2 == f)
        .map(i => (i.toLong, s"key$i", i * 10L))
      TxTable.append(spark, root,
        rows.toDF("id", "tag", "value").repartition(1), bloomCols = Seq("id"))
    }
    // this build stamps its hash family on every serialized bloom
    val logs = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_log"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).toSeq
    val texts = logs.map(p =>
      p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    assert(texts.forall(_._2.contains("\"h\":2")),
      "blooms must carry the hash-version marker on disk")
    val (k0, s0) = TxTable.pruneFiles(spark, root, $"id" === 50L)
    assert(k0.size == 1 && s0.size == 1)
    // strip the marker — the shape of a log written before versioning,
    // whose bits could come from EITHER hash family (undecidable): the
    // prover must fall back to ranges, not risk a wrong proof of absence
    texts.foreach { case (p, t) =>
      java.nio.file.Files.write(p,
        t.replace("\"h\":2,", "").getBytes("UTF-8")): Unit
    }
    val (k1, s1) = TxTable.pruneFiles(spark, root, $"id" === 50L)
    assert(s1.isEmpty && k1.size == 2, "unversioned blooms must not prune")
    assert(TxTable.readWhere(spark, root, $"id" === 50L).count() == 1L)
    // a FUTURE hash version is equally unprobeable: conservative keep
    texts.foreach { case (p, t) =>
      java.nio.file.Files.write(p,
        t.replace("\"h\":2,", "\"h\":9,").getBytes("UTF-8")): Unit
    }
    val (k2, s2) = TxTable.pruneFiles(spark, root, $"id" === 50L)
    assert(s2.isEmpty && k2.size == 2, "future-version blooms must not prune")
    assert(TxTable.readWhere(spark, root, $"id" === 50L).count() == 1L)
  }

  test("data skipping over the compacted index layout: a band probe skips range-disjoint files") {
    import graft.operators.DedupOps
    // the staged-index shape rebuilt deterministically: per-batch appends
    // in many small files, then the band-clustered 4-file compaction (at
    // sf0.001 the staged table itself has too few files for compact(4) to
    // rewrite, so the layout is constructed here; at sf0.01+ the staged
    // build takes the same path and xacid_pruned_scan reads it)
    val root = freshRoot()
    val bands = DedupOps.minhashBands(spark, Sf)
    TxTable.append(spark, root,
      bands.where($"doc_id" % 2 === 0).repartition(4), op = "index_batch0")
    TxTable.append(spark, root,
      bands.where($"doc_id" % 2 === 1).repartition(4), op = "index_batch1")
    TxTable.compact(spark, root, targetFiles = 4,
      sortCols = Seq("band_no", "band_key"))
    val pred = col("band_no") === DedupOps.ProbeBand
    val s = TxTable.snapshot(root)
    assert(s.commits.exists(_.op == "compact"))
    assert(s.liveFiles.size == 4) // the range-clustered layout
    // every live file carries commit-logged stats for the probe column
    assert(s.liveFiles.forall(f => s.liveStats.get(f).exists(_.contains("band_no"))))
    val (kept, skipped) = TxTable.pruneFiles(spark, root, pred)
    // band-range clustering makes most files provably irrelevant to one band
    assert(skipped.nonEmpty && kept.size < 4, s"kept=$kept skipped=$skipped")
    // pre-compaction files overlap on band ranges: time travel to v1 must
    // prune nothing for the same probe (both batches span every band)
    val (_, skippedV1) = TxTable.pruneFiles(spark, root, pred, asOf = Some(1L))
    assert(skippedV1.isEmpty)
    // the data-skipping correctness contract: pruned probe == full-scan filter
    val pruned = TxTable.readWhere(spark, root, pred)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val full = TxTable.read(spark, root).where(pred)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(pruned == full && pruned.nonEmpty)
  }

  test("compactZ: the z-order layout prunes probes on EITHER dimension; a linear sort cannot") {
    import spark.implicits._
    // a dense integer lattice: both dimensions carry real spread
    def grid() = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong * 64 + y, x.toLong, y.toLong))).toDF("id", "x", "y")
    val zRoot = freshRoot()
    TxTable.append(spark, zRoot, grid().repartition(8))
    val v = TxTable.compactZ(spark, zRoot, targetFiles = 4, "x", "y")
    assert(v == 1L && TxTable.snapshot(zRoot).commits.last.op == "compactz")
    assert(TxTable.snapshot(zRoot).liveFiles.size == 4)
    // z-order: BOTH dimensions' probes skip files
    val (_, sx) = TxTable.pruneFiles(spark, zRoot, $"x" < 16L)
    val (_, sy) = TxTable.pruneFiles(spark, zRoot, $"y" < 16L)
    assert(sx.nonEmpty, "x-probe pruned nothing on the z layout")
    assert(sy.nonEmpty, "y-probe pruned nothing on the z layout")
    // contrast: the linear x-sorted layout prunes x probes but NOT y probes
    val lRoot = freshRoot()
    TxTable.append(spark, lRoot, grid().repartition(8))
    TxTable.compact(spark, lRoot, targetFiles = 4, sortCols = Seq("x"))
    val (_, lx) = TxTable.pruneFiles(spark, lRoot, $"x" < 16L)
    val (_, ly) = TxTable.pruneFiles(spark, lRoot, $"y" < 16L)
    assert(lx.nonEmpty && ly.isEmpty,
      s"linear layout: x skips ${lx.size}, y skips ${ly.size}")
    // row set untouched, and the pruned probe is result-identical
    assert(TxTable.read(spark, zRoot).count() == 64L * 64)
    val pruned = TxTable.readWhere(spark, zRoot, $"x" < 16L && $"y" >= 48L)
      .collect().map(_.getLong(0)).sorted.toSeq
    val full = TxTable.read(spark, zRoot)
      .where($"x" < 16L && $"y" >= 48L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned == full && pruned.size == 16 * 16)

    // property sweep (seeded): for 40 random range/equality/in/compound
    // predicates, the pruned read must equal the full-scan filter EXACTLY
    // — the prover may keep too much, never too little
    val rng = new scala.util.Random(20260815L)
    def rv() = rng.nextInt(64).toLong
    def atom(): org.apache.spark.sql.Column = {
      val c = if (rng.nextBoolean()) $"x" else $"y"
      rng.nextInt(6) match {
        case 0 => c < rv()
        case 1 => c <= rv()
        case 2 => c > rv()
        case 3 => c >= rv()
        case 4 => c === rv()
        case _ => c.isin(rv(), rv(), rv())
      }
    }
    var skippedTotal = 0
    (1 to 40).foreach { i =>
      val p = rng.nextInt(3) match {
        case 0 => atom()
        case 1 => atom() && atom()
        case _ => atom() || atom()
      }
      val a = TxTable.readWhere(spark, zRoot, p)
        .collect().map(_.getLong(0)).sorted.toSeq
      val b = TxTable.read(spark, zRoot).where(p)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(a == b, s"predicate #$i ($p) diverged: ${a.size} vs ${b.size}")
      skippedTotal += TxTable.pruneFiles(spark, zRoot, p)._2.size
    }
    // the sweep exercised real pruning, not 40 vacuous keep-everything runs
    assert(skippedTotal > 0)
  }

  test("delete under three-valued logic: null-predicate rows survive in EVERY file layout") {
    val root = freshRoot()
    // file A: true matches co-located with null-predicate rows (the rewrite
    // path that destroyed them pre-r12); file B: null rows with NO true
    // match (never rewritten — the layout where they always survived).
    // Nullable ts via Option: ids 1-5 match (ts=10 < 100), 6-10 null,
    // 11-15 non-match (ts=200), 16-20 null.
    val fileA = (1 to 10).map(i =>
      (i.toLong, if (i <= 5) Some(10L) else None)).toDF("id", "ts").repartition(1)
    val fileB = (11 to 20).map(i =>
      (i.toLong, if (i <= 15) Some(200L) else None)).toDF("id", "ts").repartition(1)
    TxTable.append(spark, root, fileA)
    TxTable.append(spark, root, fileB)
    val v = TxTable.delete(spark, root, $"ts" < 100L)
    assert(v == 2L)
    val commit = TxTable.commits(root).last
    // only file A (true matches) rewrites; file B untouched
    val batchBFiles = TxTable.commits(root)(1).adds.toSet
    assert(commit.removes.forall(!batchBFiles.contains(_)),
      s"delete rewrote a file with no true-matching rows: ${commit.removes}")
    assert(commit.metrics("rows_deleted") == 5)
    val back = TxTable.read(spark, root)
    assert(back.count() == 15)
    // SQL DELETE semantics: null-evaluating rows are NOT deleted —
    // including the ones co-located with true matches in the rewritten file
    assert(back.where($"ts".isNull).count() == 10,
      "null-predicate rows were lost by the copy-on-write rewrite")
    assert(back.where($"id".between(6, 10)).count() == 5) // the co-located nulls
    assert(back.where($"id" <= 5).count() == 0)            // the true matches
  }

  test("TTL over a nullable timestamp keeps never-stamped rows (the delete 3VL production shape)") {
    val root = freshRoot()
    val rows = (1 to 30).map(i =>
      (i.toLong, if (i % 3 == 0) None else Some(i * 100L))).toDF("id", "ts")
    TxTable.append(spark, root, rows)
    // TTL horizon: everything stamped before t=1500 expires; unstamped
    // rows (ts null) are NOT expired — they have no age to measure
    TxTable.delete(spark, root, $"ts" < 1500L)
    val back = TxTable.read(spark, root)
    assert(back.where($"ts".isNull).count() == 10)
    assert(back.where($"ts".isNotNull && $"ts" < 1500L).count() == 0)
    assert(TxTable.commits(root).last.metrics("rows_deleted") ==
      (1 to 30).count(i => i % 3 != 0 && i * 100L < 1500L))
  }

  test("merge rejects duplicate source keys before any rewrite (the multiple-matches error)") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 10, "base"))
    val dupSource = Seq((1L, "x", 1L), (1L, "y", 2L), (5L, "z", 3L))
      .toDF("id", "tag", "value")
    val before = TxTable.commits(root).length
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root, dupSource, Seq("id"), Seq("value"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // failed loudly BEFORE committing anything: no new version, same rows
    assert(TxTable.commits(root).length == before)
    assert(TxTable.read(spark, root).count() == 10)
  }

  test("merge can set a column to NULL: matched rows take the source value even when null") {
    val root = freshRoot()
    val target = (1 to 10).map(i => (i.toLong, Some(i * 10L))).toDF("id", "v")
    TxTable.append(spark, root, target)
    // id=3 updates to NULL (a real clear, not a no-op); id=4 to a value
    val source = Seq((3L, None: Option[Long]), (4L, Some(999L)))
      .toDF("id", "v")
    TxTable.merge(spark, root, source, Seq("id"), Seq("v"))
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[java.lang.Long]("v"))).toMap
    assert(back(3L).isEmpty, "NULL-setting update was silently dropped (coalesce kept the old value)")
    assert(back(4L).contains(999L))
    assert(back(5L).contains(50L)) // unmatched rows untouched
    assert(back.size == 10)
  }

  test("null-count and prefix skipping: IsNull/IsNotNull/StartsWith prove absence; pre-r12 logs keep all") {
    val root = freshRoot()
    // four files crossing NAME PREFIX with NULL SHAPE of `opt`
    def cell(ids: Range, prefix: String, stamped: Boolean) =
      ids.map(i => (i.toLong,
        if (stamped) Some(s"id#$i") else None, s"$prefix$i")).toDF("id", "opt", "name")
        .repartition(1)
    TxTable.append(spark, root, cell(1 to 20, "alpha", stamped = true))    // f0
    TxTable.append(spark, root, cell(21 to 40, "alpha", stamped = false))  // f1
    TxTable.append(spark, root, cell(41 to 60, "gamma", stamped = true))   // f2
    TxTable.append(spark, root, cell(61 to 80, "gamma", stamped = false))  // f3
    def skips(p: org.apache.spark.sql.Column): Int =
      TxTable.pruneFiles(spark, root, p)._2.size
    // prefix range probe: ['g','h') excludes both alpha files
    assert(skips($"name".startsWith("g")) == 2)
    // IsNull proves absence where the footer says 0 nulls (f0, f2)
    assert(skips($"opt".isNull) == 2)
    // IsNotNull proves absence where nulls = rows (f1, f3 — those files'
    // opt has NO value range at all: the t="none" all-null stats path)
    assert(skips($"opt".isNotNull) == 2)
    // conjunction: exactly one file can hold stamped gamma rows
    assert(skips($"opt".isNotNull && $"name".startsWith("g")) == 3)
    // a prefix equal to a file's max must keep it (boundary, no off-by-one):
    // f0 (alpha1..alpha20, max = "alpha9") is the ONLY file kept — f1's
    // range (alpha21..alpha40) tops out below "alpha9" and prunes too
    assert(skips($"name".startsWith("alpha9")) == 3)
    // every pruned read is lossless vs the full-scan filter
    Seq($"name".startsWith("g"), $"opt".isNull, $"opt".isNotNull,
        $"opt".isNull && $"name".startsWith("a"),
        $"opt".isNotNull && $"name".startsWith("g")).foreach { p =>
      val pruned = TxTable.readWhere(spark, root, p).collect().map(_.getLong(0)).sorted
      val full = TxTable.read(spark, root).where(p).collect().map(_.getLong(0)).sorted
      assert(pruned.toSeq == full.toSeq, s"pruned read diverged for $p")
    }
    // pre-r12 logs carry no null accounting: strip "n"/"r" from every
    // commit line — null probes must degrade to keep-all, reads stay right
    val logDir = java.nio.file.Paths.get(root, "_log")
    java.nio.file.Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).foreach { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val stripped = txt.replaceAll(""","n":-?\d+,"r":\d+""", "")
        java.nio.file.Files.write(p, stripped.getBytes("UTF-8"))
      }
    assert(skips($"opt".isNull) == 0)
    assert(skips($"opt".isNotNull) == 0)
    assert(skips($"name".startsWith("g")) == 2) // ranges survive the strip
    assert(TxTable.readWhere(spark, root, $"opt".isNull).count() == 40)
  }

  test("prefixUpper: 0xff tails strip (conservative), all-0xff is unbounded") {
    import graft.sources.TxStats
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // plain increment
    assert(TxStats.prefixUpper(bytes('a', 'b')).get.toSeq == bytes('a', 'c').toSeq)
    // trailing 0xff strips, then increments the previous byte
    assert(TxStats.prefixUpper(bytes('a', 0xff)).get.toSeq == bytes('b').toSeq)
    assert(TxStats.prefixUpper(bytes('a', 0xff, 0xff)).get.toSeq == bytes('b').toSeq)
    // all-0xff (and empty): no finite upper bound — the probe never
    // prunes on the min side
    assert(TxStats.prefixUpper(bytes(0xff, 0xff)).isEmpty)
    assert(TxStats.prefixUpper(Array.empty[Byte]).isEmpty)
  }

  test("change data feed: inserts, deletes, update pre/post images; compaction emits none") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "a").repartition(2))   // v0
    TxTable.delete(spark, root, $"id" <= 5)                           // v1
    TxTable.merge(spark, root,                                        // v2
      Seq((6L, "x", 600L), (100L, "n", 1L)).toDF("id", "tag", "value"),
      Seq("id"), Seq("value"))
    TxTable.compact(spark, root, targetFiles = 1)                     // v3
    val ch = TxTable.readChanges(spark, root, 0L)
    assert(ch.where($"_commit_version" === 0 && $"_change_type" === "insert")
      .count() == 20)
    val dels = ch.where($"_commit_version" === 1).collect()
    assert(dels.length == 5 &&
      dels.forall(_.getAs[String]("_change_type") == "delete") &&
      dels.map(_.getAs[Long]("id")).sorted.toSeq == (1L to 5L))
    val pre = ch.where($"_commit_version" === 2 &&
      $"_change_type" === "update_preimage").collect()
    assert(pre.length == 1 && pre(0).getAs[Long]("id") == 6L &&
      pre(0).getAs[Long]("value") == 60L)
    val post = ch.where($"_commit_version" === 2 &&
      $"_change_type" === "update_postimage").collect()
    assert(post.length == 1 && post(0).getAs[Long]("value") == 600L &&
      post(0).getAs[String]("tag") == "a") // non-update cols keep target values
    val ins = ch.where($"_commit_version" === 2 && $"_change_type" === "insert")
      .collect()
    assert(ins.length == 1 && ins(0).getAs[Long]("id") == 100L)
    // compaction is layout surgery: the row set did not change
    assert(ch.where($"_commit_version" === 3).count() == 0)
  }

  test("change-feed retention: vacuum reclaims cdc files below the kept version; a pre-CDF mutation fails loudly") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "a"))                  // v0
    TxTable.delete(spark, root, $"id" <= 5)                           // v1
    TxTable.merge(spark, root, Seq((6L, "x", 0L)).toDF("id", "tag", "value"),
      Seq("id"), Seq("value"))                                        // v2
    val v1cdc = TxTable.commits(root).find(_.version == 1L).get.cdc
    assert(v1cdc.nonEmpty)
    val reclaimed = TxTable.vacuum(root, keepFromVersion = 2L)
    assert(v1cdc.forall(reclaimed.contains), "v1's change files survived retention")
    // the retained commit's feed still reads
    assert(TxTable.readChanges(spark, root, 2L, Some(2L)).count() == 2) // pre+post
    // and the reclaimed range now fails loudly (its cdc files are gone —
    // same contract as time travel below retention)
    intercept[Exception] {
      TxTable.readChanges(spark, root, 1L, Some(1L)).count()
    }: Unit
    // a PRE-CDF log (mutation without cdc actions) must refuse, not skip:
    // strip v2's cdc lines and fix the end marker to simulate an old log
    val logDir = java.nio.file.Paths.get(root, "_log")
    val v2file = logDir.resolve(f"${2L}%020d.json")
    val lines = new String(java.nio.file.Files.readAllBytes(v2file), "UTF-8")
      .split("\n").toSeq
    val kept = lines.filterNot(_.startsWith("""{"cdc""""))
    val actions = kept.count(l =>
      l.startsWith("""{"add"""") || l.startsWith("""{"remove""""))
    val fixed = kept.map(l =>
      if (l.startsWith("""{"end"""")) s"""{"end":$actions}""" else l)
    java.nio.file.Files.write(v2file, fixed.mkString("\n").getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      TxTable.readChanges(spark, root, 2L, Some(2L)).count()
    }
    assert(e.getMessage.contains("no change data"))
  }

  test("change feed spans schema evolution: pre-evolution batches surface NULL for later columns") {
    val root = freshRoot()
    TxTable.append(spark, root, Seq((1L, "a")).toDF("id", "tag"))
    TxTable.append(spark, root,
      Seq((2L, "b", Some(20L))).toDF("id", "tag", "value")) // additive evolution
    val ch = TxTable.readChanges(spark, root, 0L).collect()
    assert(ch.length == 2 && ch.forall(_.getAs[String]("_change_type") == "insert"))
    val v0 = ch.find(_.getAs[Long]("_commit_version") == 0L).get
    assert(v0.isNullAt(v0.fieldIndex("value")),
      "pre-evolution insert batch should surface NULL for the later column")
    val v1 = ch.find(_.getAs[Long]("_commit_version") == 1L).get
    assert(v1.getAs[Long]("value") == 20L)
  }

  test("change feed classifies by action shape, never op label: a relabeled rewrite fails loudly; a verified layout-only commit is changeless") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 10, "a").repartition(1))  // v0: fileA
    TxTable.append(spark, root, frame(11 to 30, "b").repartition(1)) // v1: fileB
    val logDir = java.nio.file.Paths.get(root, "_log")
    def logLines(v: Long): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        logDir.resolve(f"$v%020d.json")), "UTF-8").split("\n").toSeq
    def craft(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(logDir.resolve(f"$v%020d.json"),
        lines.mkString("\n").getBytes("UTF-8")): Unit
    val addA = logLines(0L).find(_.startsWith("""{"add"""")).get
    val fileA = TxTable.commits(root).head.adds.head
    val addB = logLines(1L).find(_.startsWith("""{"add"""")).get
    // an EXTERNAL writer commits a rewrite (removes fileA, adds nothing
    // row-equivalent) LABELED "compact" — no dataChange declaration: the
    // feed must refuse, whatever the label says
    craft(2L, Seq(
      """{"commitInfo":{"op":"compact","metrics":{}}}""",
      s"""{"remove":"$fileA"}""",
      addB, """{"end":2}"""))
    val e1 = intercept[IllegalStateException] {
      TxTable.readChanges(spark, root, 0L).count()
    }
    assert(e1.getMessage.contains("no change data"), e1.getMessage)
    // a FORGED dataChange=false on the same rewrite: the row-preservation
    // proof (10 removed vs 20 added) catches the lie
    craft(2L, Seq(
      """{"commitInfo":{"op":"compact","dataChange":false,"metrics":{}}}""",
      s"""{"remove":"$fileA"}""",
      addB, """{"end":2}"""))
    val e2 = intercept[IllegalStateException] {
      TxTable.readChanges(spark, root, 0L).count()
    }
    assert(e2.getMessage.contains("rewrites the row set"), e2.getMessage)
    // a GENUINE layout-only commit (fileA rewritten verbatim under a new
    // name, declared AND row-count-proven) is changeless — even under a
    // mutation-ish label
    val fileA2 = s"${java.util.UUID.randomUUID()}.parquet"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(root, "data", fileA),
      java.nio.file.Paths.get(root, "data", fileA2)): Unit
    craft(2L, Seq(
      """{"commitInfo":{"op":"delete","dataChange":false,"metrics":{}}}""",
      s"""{"remove":"$fileA"}""",
      addA.replace(fileA, fileA2), """{"end":2}"""))
    val ch = TxTable.readChanges(spark, root, 0L)
    assert(ch.count() == 30 &&
      ch.where($"_commit_version" === 2L).count() == 0)
    // and the library's own compaction declares itself: proven changeless
    TxTable.compact(spark, root, targetFiles = 1)
    assert(TxTable.readChanges(spark, root, 3L).count() == 0)
  }

  test("batch change feed plan size is constant in the version-range length") {
    val root = freshRoot()
    (0 until 40).foreach { i =>
      TxTable.append(spark, root,
        Seq((i.toLong, s"t$i", i * 10L)).toDF("id", "tag", "value")
          .repartition(1)): Unit
    }
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case n => n }.size
    val small = TxTable.readChanges(spark, root, 0L, Some(3L))
    val full = TxTable.readChanges(spark, root, 0L, None)
    assert(nodes(full) == nodes(small),
      s"plan must not grow with range: ${nodes(small)} vs ${nodes(full)}")
    // grouped multi-path read still attributes versions per file
    assert(full.count() == 40)
    assert(full.select("_commit_version").distinct().count() == 40)
    assert(full.where($"_commit_version" === 17L).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(17L))
  }

  test("readChanges is checkpoint-accelerated: a tail feed never parses pre-checkpoint commits") {
    val root = freshRoot()
    (0 until 5).foreach(i => TxTable.append(spark, root,
      frame(i * 10 + 1 to i * 10 + 5, s"t$i")): Unit)   // v0..v4
    TxTable.checkpoint(root): Unit                       // at v4
    TxTable.delete(spark, root, $"id" <= 3L)             // v5 (cdc)
    // corrupt a PRE-checkpoint commit: a tail feed must never parse it
    val log0 = java.nio.file.Paths.get(root, "_log", f"${0L}%020d.json")
    val intact = java.nio.file.Files.readAllBytes(log0)
    java.nio.file.Files.write(log0, "garbage".getBytes("UTF-8"))
    val ch = TxTable.readChanges(spark, root, 5L, Some(5L)).collect()
    assert(ch.length == 3 &&
      ch.forall(_.getAs[String]("_change_type") == "delete"))
    // a from-zero replay still walks raw history and fails loudly on it
    intercept[IllegalStateException] {
      TxTable.readChanges(spark, root, 0L).count()
    }: Unit
    java.nio.file.Files.write(log0, intact)
    assert(TxTable.readChanges(spark, root, 0L).count() == 25 + 3)
  }

  test("empty feed over a fully-deleted snapshot builds from the recorded schema (zero-path parquet reads would throw)") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 5, "a"))      // v0
    TxTable.delete(spark, root, $"id" >= 0L)             // v1: table now empty
    assert(TxTable.snapshot(root).liveFiles.isEmpty)
    // a no-action layout commit lands on the EMPTY table (external writer)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_log").resolve(f"${2L}%020d.json"),
      Seq("""{"commitInfo":{"op":"noop","dataChange":false,"metrics":{}}}""",
        """{"end":0}""").mkString("\n").getBytes("UTF-8")): Unit
    val feed = TxTable.readChanges(spark, root, 2L, Some(2L))
    assert(feed.count() == 0)
    assert(feed.columns.toSeq ==
      Seq("id", "tag", "value", "_change_type", "_commit_version"))
  }

  test("deletion vectors: merge-on-read delete rewrites NO file; reads, time travel, readWhere, CDF all apply them") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(2)) // v0: 2 files
    val filesBefore = TxTable.snapshot(root).liveFiles.toSet
    val v = TxTable.deleteMor(spark, root, $"id" <= 10)             // v1
    assert(v == 1L)
    val c = TxTable.commits(root).last
    assert(c.op == "delete_mor" && c.adds.isEmpty && c.removes.isEmpty &&
      c.dvs.nonEmpty && c.metrics("rows_deleted") == 10)
    // the whole point: zero data files touched
    assert(TxTable.snapshot(root).liveFiles.toSet == filesBefore)
    val back = TxTable.read(spark, root)
    assert(back.count() == 30 && back.where($"id" <= 10).count() == 0)
    // time travel to v0 sees every row (vectors version with the log)
    assert(TxTable.read(spark, root, asOf = Some(0L)).count() == 40)
    // overlapping re-delete: only LIVE matches count; replacement vector
    // carries the merged bitmap
    val v2 = TxTable.deleteMor(spark, root, $"id" <= 15)
    assert(v2 == 2L &&
      TxTable.commits(root).last.metrics("rows_deleted") == 5)
    assert(TxTable.read(spark, root).count() == 25)
    // re-deleting fully-marked rows is a version-preserving no-op
    assert(TxTable.deleteMor(spark, root, $"id" <= 15) == 2L)
    // the pruned-scan path applies vectors too
    assert(TxTable.readWhere(spark, root, $"id" <= 20).count() == 5)
    // the change feed carries exactly the marked rows
    val ch = TxTable.readChanges(spark, root, 1L, Some(2L)).collect()
    assert(ch.length == 15 &&
      ch.forall(_.getAs[String]("_change_type") == "delete") &&
      ch.map(_.getAs[Long]("id")).sorted.toSeq == (1L to 15L))
  }

  test("deletion vectors under three-valued logic: null-predicate rows stay unmarked") {
    val root = freshRoot()
    val rows = (1 to 30).map(i =>
      (i.toLong, if (i % 3 == 0) None else Some(i * 100L))).toDF("id", "ts")
    TxTable.append(spark, root, rows)
    TxTable.deleteMor(spark, root, $"ts" < 1500L)
    val back = TxTable.read(spark, root)
    assert(back.where($"ts".isNull).count() == 10)
    assert(back.where($"ts".isNotNull && $"ts" < 1500L).count() == 0)
  }

  test("compaction materializes deletion vectors; vacuum retires data files AND sidecars") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(2))
    TxTable.deleteMor(spark, root, $"id" % 4 === 0)                 // v1: 10 marked
    // a table at target file count but carrying vectors still compacts —
    // compaction IS the materialization pass
    val v = TxTable.compact(spark, root, targetFiles = 2)
    assert(v == 2L)
    val s = TxTable.snapshot(root)
    assert(s.liveDvs.isEmpty, "compaction left vectors on rewritten files")
    assert(TxTable.read(spark, root).count() == 30)
    assert(TxTable.read(spark, root).where($"id" % 4 === 0).count() == 0)
    // vacuum below the compaction: old data files and the sidecar go
    val dvFiles = TxTable.commits(root)(1).dvs.map(_._2)
    val reclaimed = TxTable.vacuum(root, keepFromVersion = 2L)
    assert(dvFiles.forall(reclaimed.contains), "replaced sidecar survived vacuum")
    intercept[Exception] {
      TxTable.read(spark, root, asOf = Some(1L)).count()
    }: Unit
  }

  test("copy-on-write mutations read THROUGH deletion vectors and retire them with the file") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "a").repartition(1))
    TxTable.deleteMor(spark, root, $"id" <= 5)
    // CoW delete on the vectored file: the rewrite must not resurrect the
    // 5 marked rows, and the rewritten file carries no vector
    TxTable.delete(spark, root, $"id" > 15)
    val s = TxTable.snapshot(root)
    assert(s.liveDvs.isEmpty)
    val back = TxTable.read(spark, root).collect().map(_.getAs[Long]("id")).sorted
    assert(back.toSeq == (6L to 15L))
    // and a merge through a vector: the marked row is NOT live, so its
    // key INSERTS as a fresh source row (upsert semantics) — the old
    // vector-deleted row must not resurrect beside it
    TxTable.deleteMor(spark, root, $"id" === 6L)
    TxTable.merge(spark, root,
      Seq((6L, "x", 999L), (7L, "x", 777L)).toDF("id", "tag", "value"),
      Seq("id"), Seq("value"))
    val after = TxTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"), r.getAs[Long]("value")))
    assert(after.count(_._1 == 6L) == 1, "vector-deleted row resurrected beside its re-insert")
    assert(after.find(_._1 == 6L).contains((6L, "x", 999L))) // inserted whole source row
    assert(after.find(_._1 == 7L).contains((7L, "a", 777L))) // updated in place, tag kept
  }

  test("log checkpoint: snapshot replays checkpoint + tail; stats, vectors, schema all survive; pre-checkpoint commits never parse") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(2))      // v0
    TxTable.delete(spark, root, $"id" > 35)                              // v1
    TxTable.deleteMor(spark, root, $"id" === 1L)                         // v2
    TxTable.append(spark, root, (41 to 50).map(i =>                      // v3 + evolution
      (i.toLong, "b", i * 10L, Some(i.toLong))).toDF("id", "tag", "value", "extra"))
    val cpV = TxTable.checkpoint(root)
    assert(cpV == 3L)
    TxTable.delete(spark, root, $"id" === 41L)                           // v4 tail
    val s = TxTable.snapshot(root)
    assert(s.version == 4L && s.commits.map(_.version) == Seq(4L),
      "checkpointed snapshot should replay only the tail")
    val back = TxTable.read(spark, root)
    assert(back.count() == 40 - 5 - 1 + 10 - 1)
    // vectors survive the checkpoint; evolved schema governs reads
    assert(back.where($"id" === 1L).count() == 0)
    assert(back.columns.contains("extra"))
    assert(back.where($"extra".isNotNull).count() == 9)
    // checkpointed per-file stats still prove: nothing can match id >= 60
    assert(TxTable.pruneFiles(spark, root, $"id" >= 60L)._1.isEmpty)
    // the checkpoint BOUNDS the read set: corrupt a PRE-checkpoint commit
    // file — latest reads never parse it; below-checkpoint time travel
    // still replays raw history and fails loudly on the corruption
    val log0 = java.nio.file.Paths.get(root, "_log", f"${0L}%020d.json")
    val intact = java.nio.file.Files.readAllBytes(log0)
    java.nio.file.Files.write(log0, "garbage".getBytes("UTF-8"))
    assert(TxTable.read(spark, root).count() == 43)
    intercept[IllegalStateException] {
      TxTable.read(spark, root, asOf = Some(1L)).count()
    }: Unit
    java.nio.file.Files.write(log0, intact)
    // time travel below the checkpoint replays raw commits (restored)
    assert(TxTable.read(spark, root, asOf = Some(0L)).count() == 40)
    // and AT a version between checkpoint and head
    assert(TxTable.read(spark, root, asOf = Some(3L)).count() == 44)
  }

  test("checkpointed bloom filters prune identically to the raw log's") {
    val root = freshRoot()
    // hash-split files: every file spans ~the full id range, so ONLY the
    // blooms can prove point absence — the exact stats class a checkpoint
    // must round-trip bit-for-bit
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(2),
      bloomCols = Seq("id"))
    def skipsPerProbe(): Seq[Int] =
      (1L to 60L).map(i => TxTable.pruneFiles(spark, root, $"id" === i)._2.size)
    val before = skipsPerProbe()
    assert(before.take(40).sum > 0, "bloom skipping never fired pre-checkpoint")
    TxTable.checkpoint(root): Unit
    assert(TxTable.snapshot(root).commits.isEmpty) // stats come FROM the checkpoint
    assert(skipsPerProbe() == before,
      "checkpointed stats/blooms prune differently from the raw log's")
  }

  test("auto-checkpoint lands on the interval; a corrupt checkpoint fails loudly, never silently degrades") {
    val root = freshRoot()
    (0 to 20).foreach(i =>
      TxTable.append(spark, root, frame(i * 10 until i * 10 + 2, s"t$i")))
    val cps = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_log"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".checkpoint.json")).toSeq
    assert(cps == Seq(f"${20L}%020d.checkpoint.json"), s"got $cps")
    assert(TxTable.read(spark, root).count() == 42)
    // a corrupt checkpoint must fail loudly: silently falling back would
    // mask storage corruption (same stance as commit files)
    val cp = java.nio.file.Paths.get(root, "_log", cps.head)
    val txt = new String(java.nio.file.Files.readAllBytes(cp), "UTF-8")
    java.nio.file.Files.write(cp,
      txt.split("\n").dropRight(1).mkString("\n").getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { TxTable.read(spark, root).count() }
    assert(e.getMessage.contains("corrupt checkpoint"), e.getMessage)
  }

  test("txn identities ride checkpoints: redelivery below the checkpoint no-ops without replaying the old log") {
    val root = freshRoot()
    (0 to 4).foreach(b => TxTable.appendOnce(spark, root,
      frame(b * 10 + 1 to b * 10 + 5, s"b$b"), "app", b.toLong): Unit)
    TxTable.checkpoint(root): Unit // v4 checkpoint carries all 5 txn ids
    TxTable.appendOnce(spark, root, frame(100 to 104, "tail"), "app", 5L): Unit
    // corrupt a PRE-checkpoint commit: the idempotence probe (and every
    // latest-read path) must never parse it once a checkpoint covers it
    val log1 = java.nio.file.Paths.get(root, "_log", f"${1L}%020d.json")
    val intact = java.nio.file.Files.readAllBytes(log1)
    java.nio.file.Files.write(log1, "garbage".getBytes("UTF-8"))
    // redelivery of a below-checkpoint batch: no-op at its recorded version
    assert(TxTable.appendOnce(spark, root,
      frame(11 to 15, "b1"), "app", 1L) == 1L)
    // redelivery of a tail batch: found by the tail parse alone
    assert(TxTable.appendOnce(spark, root,
      frame(100 to 104, "tail"), "app", 5L) == 5L)
    // a genuinely new batch still appends through the checkpointed path
    assert(TxTable.appendOnce(spark, root,
      frame(200 to 204, "new"), "app", 6L) == 6L)
    java.nio.file.Files.write(log1, intact)
    assert(TxTable.read(spark, root).count() == 25 + 5 + 5)
  }

  test("copy-on-write UPDATE: TRUE rows take assignments evaluated against the OLD row; 3VL; CDF pre/post images; untouched files survive") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 50, "a").repartitionByRange(2, $"id"))
    val v = TxTable.update(spark, root, $"id" <= 10L,
      Map("value" -> (col("value") + col("id")), "tag" -> lit("upd")))
    val c = TxTable.commits(root).last
    assert(c.op == "update" && c.metrics("rows_updated") == 10)
    assert(c.removes.size == 1, s"update rewrote ${c.removes.size} files " +
      "(only the low-range file holds TRUE rows)")
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("tag"), r.getAs[Long]("value")))).toMap
    (1 to 10).foreach(i => assert(back(i.toLong) == (("upd", i * 10L + i)),
      s"id $i: ${back(i.toLong)}")) // value + id saw the OLD value
    (11 to 50).foreach(i => assert(back(i.toLong) == (("a", i * 10L))))
    // change feed: pre/post image pairs, exact sums
    val byType = TxTable.readChanges(spark, root, v, Some(v))
      .groupBy($"_change_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byType(("update_preimage")) == ((10L, (1 to 10).map(_ * 10L).sum)))
    assert(byType(("update_postimage")) == ((10L, (1 to 10).map(i => i * 11L).sum)))
    // first CDF use upgraded the writer protocol on the update commit
    assert(TxTable.snapshot(root).protocol == ((1, 2)))
    // three-valued logic: a NULL-evaluating predicate updates NOTHING
    val root2 = freshRoot()
    TxTable.append(spark, root2,
      Seq((1L, Some(5L)), (2L, Option.empty[Long]), (3L, Some(1L)))
        .toDF("id", "opt"))
    TxTable.update(spark, root2, $"opt" > 2L, Map("id" -> (col("id") + 100L)))
    assert(TxTable.read(spark, root2).select("id").as[Long].collect()
      .sorted.toSeq == Seq(2L, 3L, 101L))
    // unknown assignment column refuses before any rewrite
    intercept[IllegalArgumentException] {
      TxTable.update(spark, root2, lit(true), Map("nope" -> lit(1)))
    }: Unit
    // no TRUE rows: no-op, no commit
    val vBefore = TxTable.snapshot(root2).version
    assert(TxTable.update(spark, root2, $"id" > 999L,
      Map("id" -> lit(0L))) == vBefore)
    // nondeterministic predicates/assignments refuse (the Delta stance):
    // the mutation re-evaluates them across matching, rewrite, change
    // capture, and retries — each pass would see a DIFFERENT row set
    intercept[IllegalArgumentException] {
      TxTable.update(spark, root2, rand() > 0.5, Map("id" -> lit(0L)))
    }: Unit
    intercept[IllegalArgumentException] {
      TxTable.update(spark, root2, $"id" > 0L, Map("id" -> (rand() * 10)))
    }: Unit
    intercept[IllegalArgumentException] {
      TxTable.delete(spark, root2, rand() > 0.5)
    }: Unit
    intercept[IllegalArgumentException] {
      TxTable.deleteMor(spark, root2, rand() > 0.5)
    }: Unit
  }

  test("atomic overwrite: ONE commit displaces every live row; time travel intact; CDF replays delete-all + insert-all") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "old").repartition(2))
    TxTable.deleteMor(spark, root, $"id" === 5L) // live DV: only LIVE rows displace
    val preLive = TxTable.snapshot(root).liveFiles.toSet
    val v = TxTable.overwrite(spark, root, frame(100 to 109, "new"))
    assert(v == 2L)
    val c = TxTable.commits(root).last
    assert(c.op == "overwrite" && c.removes.toSet == preLive)
    assert(c.metrics("rows_deleted") == 29 && c.metrics("rows_written") == 10)
    val back = TxTable.read(spark, root)
    assert(back.count() == 10 && back.where($"tag" === "old").count() == 0)
    assert(TxTable.read(spark, root, asOf = Some(1L)).count() == 29,
      "time travel to the pre-overwrite snapshot must survive")
    val byType = TxTable.readChanges(spark, root, v, Some(v))
      .groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 29L, "insert" -> 10L))
    assert(TxTable.snapshot(root).liveDvs.isEmpty,
      "vectors retire with the files they marked")
    // overwriting a fully-deleted table is a pure add (no displaced rows,
    // no change files — the adds ARE the inserts)
    TxTable.delete(spark, root, lit(true))
    val v2 = TxTable.overwrite(spark, root, frame(200 to 204, "x"))
    assert(TxTable.read(spark, root).count() == 5)
    assert(TxTable.commits(root).last.cdc.isEmpty)
    assert(TxTable.readChanges(spark, root, v2, Some(v2))
      .where($"_change_type" === "insert").count() == 5)
  }

  test("SQL MERGE INTO: full upsert semantics through the catalog — star forms, set-to-NULL, dup-key rejection, loud refusals") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "base"))
    val p = java.nio.file.Paths.get(root)
    spark.conf.set("spark.sql.catalog.graft_mi", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_mi.root", p.getParent.toString)
    val t = s"graft_mi.`${p.getFileName}`"
    Seq((1L, "upd", 1000L), (2L, null.asInstanceOf[String], 2000L),
        (101L, "ins", 5L))
      .toDF("id", "tag", "value").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET tag = s.tag, value = s.value
         |WHEN NOT MATCHED THEN INSERT (id, tag, value)
         |  VALUES (s.id, s.tag, s.value)""".stripMargin): Unit
    val c = TxTable.commits(root).last
    assert(c.op == "merge" &&
      c.metrics("rows_updated") == 2 && c.metrics("rows_inserted") == 1)
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("tag"), r.getAs[Long]("value")))).toMap
    assert(back.size == 31)
    assert(back(1L) == (("upd", 1000L)))
    assert(back(2L) == ((null, 2000L)), "set-to-NULL must land via SQL")
    assert(back(101L) == (("ins", 5L)))
    assert(back(3L) == (("base", 30L)))
    // star forms: UPDATE SET * / INSERT * — the canonical upsert
    Seq((4L, "star", 4000L), (102L, "star", 6L)).toDF("id", "tag", "value")
      .createOrReplaceTempView("merge_src2")
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src2 s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
    val back2 = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("tag"), r.getAs[Long]("value")))).toMap
    assert(back2(4L) == (("star", 4000L)) && back2(102L) == (("star", 6L)))
    // duplicate source keys refuse BEFORE any rewrite (the Scala
    // contract, arriving via SQL)
    Seq((5L, "a", 1L), (5L, "b", 2L)).toDF("id", "tag", "value")
      .createOrReplaceTempView("merge_dup")
    val eDup = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO $t tgt USING merge_dup s ON tgt.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(eDup.getMessage.contains("duplicate keys"), eDup.getMessage)
    // a computed SET may DIVERGE from the INSERT value (r15 — the
    // generalized merge evaluates SET and INSERT independently; the old
    // one-projection refusal is retired)
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src2 s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET value = s.value + 1, tag = s.tag
         |WHEN NOT MATCHED THEN INSERT (id, tag, value)
         |  VALUES (s.id, s.tag, s.value)""".stripMargin): Unit
    assert(TxTable.read(spark, root).where($"id" === 4L)
      .head().getAs[Long]("value") == 4001L)
    assert(TxTable.read(spark, root).where($"id" === 102L)
      .head().getAs[Long]("value") == 7L)
    // WHEN MATCHED THEN DELETE executes (r15) — a delete-by-join commit
    // with CDF delete rows and exact metrics
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src2 s ON tgt.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin): Unit
    assert(TxTable.read(spark, root).where($"id".isin(4L, 102L)).count() == 0)
    val cDel = TxTable.commits(root).last
    assert(cDel.op == "merge" && cDel.metrics("rows_deleted") == 2 &&
      cDel.metrics("rows_updated") == 0 && cDel.metrics("rows_inserted") == 0)
    // a duplicated assignment target would last-write-win through a map —
    // the half-apply class — so it refuses
    val eDup2 = intercept[UnsupportedOperationException] {
      spark.sql(
        s"""MERGE INTO $t tgt USING merge_src2 s ON tgt.id = s.id
           |WHEN MATCHED THEN UPDATE SET value = s.value, value = s.value
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(eDup2.getMessage.contains("more than once"), eDup2.getMessage)
    // a KEY-TRANSFORMING insert executes (r15): SQL matches on the ON
    // condition alone, and the INSERT values are free expressions — the
    // old one-projection ceiling forced a refusal here; the generalized
    // merge lands the transformed key (ids 4/102 were deleted above, so
    // both source rows are unmatched and insert at +100000)
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src2 s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET tag = s.tag, value = s.value
         |WHEN NOT MATCHED THEN INSERT (id, tag, value)
         |  VALUES (s.id + 100000, s.tag, s.value)""".stripMargin): Unit
    assert(TxTable.read(spark, root).where($"id".isin(100004L, 100102L))
      .count() == 2)
    assert(TxTable.read(spark, root).where($"id".isin(4L, 102L)).count() == 0,
      "the transformed-key insert must not resurrect the ON-key rows")
    // WITH SCHEMA EVOLUTION is supported since r15 (dedicated spec
    // below); with a source adding NO columns it degrades to a plain
    // merge — no schema_evolve commit appears
    val nBefore = TxTable.commits(root).size
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $t tgt
         |USING merge_src2 s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
    val opsAfter = TxTable.commits(root).map(_.op)
    assert(!opsAfter.contains("schema_evolve"), opsAfter.toString)
    assert(TxTable.commits(root).size == nBefore + 1, opsAfter.toString)
  }

  test("SQL MERGE generalized (r15): conditional clauses first-match-wins, matched DELETE, conditional INSERT routing, NOT MATCHED BY SOURCE") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 10, "base")) // value = id*10
    val p = java.nio.file.Paths.get(root)
    spark.conf.set("spark.sql.catalog.graft_gm", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_gm.root", p.getParent.toString)
    val t = s"graft_gm.`${p.getFileName}`"
    Seq((2L, "s", 200L), (3L, "s", 300L), (4L, "s", 400L), (5L, "s", 500L),
        (11L, "s", 1100L), (12L, "s", 1200L))
      .toDF("id", "tag", "value").createOrReplaceTempView("gm_src")
    val vFull = {
      spark.sql(
        s"""MERGE INTO $t tgt USING gm_src s ON tgt.id = s.id
           |WHEN MATCHED AND tgt.id = 2 THEN DELETE
           |WHEN MATCHED AND s.value > 350 THEN
           |  UPDATE SET value = s.value + tgt.value, tag = 'cond'
           |WHEN MATCHED THEN UPDATE SET value = s.value, tag = 'fall'
           |WHEN NOT MATCHED AND s.id % 2 = 1 THEN
           |  INSERT (id, tag, value) VALUES (s.id, 'odd', s.value)
           |WHEN NOT MATCHED THEN
           |  INSERT (id, tag, value) VALUES (s.id, 'even', s.value)""".stripMargin): Unit
      TxTable.snapshot(root).version
    }
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("tag"), r.getAs[Long]("value")))).toMap
    assert(!back.contains(2L), "matched DELETE clause must fire first for id=2")
    // first-match-wins: id=4 (400>350) and id=5 (500>350) take the
    // conditional clause, never the unconditional fallback below it
    assert(back(4L) == (("cond", 440L)) && back(5L) == (("cond", 550L)))
    assert(back(3L) == (("fall", 300L)))
    // conditional INSERT routing: first firing NOT MATCHED clause wins
    assert(back(11L) == (("odd", 1100L)) && back(12L) == (("even", 1200L)))
    // untouched rows survive verbatim
    assert(back(1L) == (("base", 10L)) && back(7L) == (("base", 70L)))
    val c = TxTable.commits(root).last
    assert(c.metrics("rows_deleted") == 1 && c.metrics("rows_updated") == 3 &&
      c.metrics("rows_inserted") == 2, c.metrics.toString)
    // the change feed replays every outcome of that one commit
    val feed = TxTable.readChanges(spark, root, vFull, Some(vFull))
      .groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("delete" -> 1L, "update_preimage" -> 3L,
      "update_postimage" -> 3L, "insert" -> 2L), feed.toString)
    // WHEN NOT MATCHED BY SOURCE: unmatched target rows take the clause
    // chain (target-only expressions), matched rows the matched chain
    spark.sql(
      s"""MERGE INTO $t tgt USING gm_src s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET tag = 'seen'
         |WHEN NOT MATCHED BY SOURCE AND tgt.id <= 6 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'""".stripMargin): Unit
    val back2 = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("tag")).toMap
    assert(Seq(3L, 4L, 5L, 11L, 12L).forall(back2(_) == "seen"))
    assert(Seq(1L, 6L).forall(!back2.contains(_)), "NMBS delete must fire for id ≤ 6")
    assert(Seq(7L, 8L, 9L, 10L).forall(back2(_) == "stale"))
    val c2 = TxTable.commits(root).last
    assert(c2.metrics("rows_updated") == 9 && c2.metrics("rows_deleted") == 2)
    // remaining refusals: a non-last unconditional clause dead-codes its
    // successors (Spark's PARSER already enforces this for SQL —
    // NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION — so our rule-level
    // assertLastUnconditional is defense-in-depth for direct-plan callers);
    // NMBS expressions cannot reference the (absent) source
    val eOrder = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(
        s"""MERGE INTO $t tgt USING gm_src s ON tgt.id = s.id
           |WHEN MATCHED THEN UPDATE SET tag = 'a'
           |WHEN MATCHED AND tgt.id = 3 THEN DELETE""".stripMargin)
    }
    assert(eOrder.getCondition == "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION",
      eOrder.getMessage)
    // Spark's analyzer resolves NMBS expressions against the target ONLY,
    // so a source reference dies in resolution (UNRESOLVED_COLUMN) before
    // our rule's refuseSourceRefs can fire — that refusal guards
    // direct-plan callers handing us a pre-resolved source attribute
    val eNmbs = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        s"""MERGE INTO $t tgt USING gm_src s ON tgt.id = s.id
           |WHEN MATCHED THEN UPDATE SET tag = 'a'
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = s.tag""".stripMargin)
    }
    assert(Option(eNmbs.getCondition).exists(_.startsWith("UNRESOLVED_COLUMN")) ||
      eNmbs.getMessage.contains("cannot reference source"), eNmbs.getMessage)
  }

  test("SQL UPDATE: arbitrary Catalyst assignments and predicate through the catalog; 3VL; CDF pre/post") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "base"))
    val p = java.nio.file.Paths.get(root)
    spark.conf.set("spark.sql.catalog.graft_squ", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_squ.root", p.getParent.toString)
    val t = s"graft_squ.`${p.getFileName}`"
    // an ARITHMETIC predicate — exactly the shape SupportsDelete's
    // V1-filter surface refuses for DELETE — runs here, because UPDATE
    // takes the full Catalyst expression path
    spark.sql(s"UPDATE $t SET value = value * 2, tag = 'x2' " +
      "WHERE id % 2 = 0"): Unit
    val c = TxTable.commits(root).last
    assert(c.op == "update" && c.metrics("rows_updated") == 10)
    val back = TxTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("tag"), r.getAs[Long]("value")))).toMap
    (1 to 20).foreach { i =>
      if (i % 2 == 0) assert(back(i.toLong) == (("x2", i * 20L)))
      else assert(back(i.toLong) == (("base", i * 10L)))
    }
    // set-to-NULL via SQL UPDATE
    spark.sql(s"UPDATE $t SET tag = NULL WHERE id = 3"): Unit
    assert(TxTable.read(spark, root).where($"id" === 3L)
      .head().getAs[String]("tag") == null)
    // WHERE-less UPDATE touches every row
    spark.sql(s"UPDATE $t SET value = 0"): Unit
    assert(TxTable.read(spark, root).agg(sum($"value")).head().getLong(0) == 0L)
    // a subquery predicate would mis-resolve through the name-based
    // rebinding (its internal attributes would be rewritten too) — refuse
    val eSub = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $t SET value = 1 " +
        s"WHERE id IN (SELECT id FROM $t WHERE tag IS NULL)")
    }
    assert(eSub.getMessage.contains("subquer"), eSub.getMessage)
    // store-assignment semantics: a widening expression casts back to the
    // column's type — the rewritten file must NOT drift to DOUBLE (the
    // recorded BIGINT schema would brick every later read of it)
    spark.sql(s"UPDATE $t SET value = (id * 3) * 1.5 WHERE id = 4"): Unit
    val v4 = TxTable.read(spark, root).where($"id" === 4L).head()
    assert(v4.schema("value").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(v4.getAs[Long]("value") == 18L) // 18.0 cast back to long
    assert(TxTable.read(spark, root).count() == 20L) // table still readable
    // current_timestamp folds to a FRESH instant per execution and the
    // mutation runs several — refuse like rand() (the TTL drift trap)
    val eNow = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE $t SET value = 1 " +
        "WHERE tag = CAST(current_timestamp() AS STRING)")
    }
    assert(eNow.getMessage.contains("deterministic"), eNow.getMessage)
    // duplicate SET targets refuse instead of last-write-winning
    val eDup = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $t SET value = 1, value = 2")
    }
    assert(eDup.getMessage.contains("more than once"), eDup.getMessage)
  }

  test("SQL INSERT OVERWRITE: one atomic commit; pre-overwrite snapshot time-travels; CDF replays delete-all + insert-all") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "old"))
    val p = java.nio.file.Paths.get(root)
    spark.conf.set("spark.sql.catalog.graft_sqo", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_sqo.root", p.getParent.toString)
    val t = s"graft_sqo.`${p.getFileName}`"
    spark.sql(s"INSERT OVERWRITE $t VALUES (500, 'new', 1), (501, 'new', 2)"): Unit
    // ONE commit — not DELETE's version plus INSERT's
    val cs = TxTable.commits(root)
    assert(cs.size == 2 && cs.last.op == "overwrite")
    assert(cs.last.metrics("rows_deleted") == 20 &&
      cs.last.metrics("rows_written") == 2)
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 0")
      .head().getLong(0) == 20L)
    val byType = TxTable.readChanges(spark, root, 1L, Some(1L))
      .groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 20L, "insert" -> 2L))
  }

  test("CREATE TABLE / CTAS: v0 is a create commit; empty-with-schema reads are well-defined everywhere; schema-less empty still refuses") {
    val base = java.nio.file.Files.createTempDirectory("graft_create").toString
    spark.conf.set("spark.sql.catalog.graft_ct", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_ct.root", base)
    spark.sql("CREATE TABLE graft_ct.default.fresh " +
      "(id BIGINT, tag STRING, value BIGINT)"): Unit
    val troot = s"$base/default/fresh"
    val c0 = TxTable.commits(troot).head
    assert(c0.op == "create" && c0.adds.isEmpty && c0.schemaJson.isDefined)
    // empty reads: SQL, Scala, connector — zero rows UNDER the schema
    assert(spark.sql("SELECT count(*) AS n FROM graft_ct.default.fresh")
      .head().getLong(0) == 0L)
    assert(TxTable.read(spark, troot).columns.toSeq ==
      Seq("id", "tag", "value"))
    assert(TxTable.readWhere(spark, troot, $"id" > 0L).count() == 0L)
    assert(spark.read.format("graft-tx").load(troot).count() == 0L)
    // mutations on the empty table no-op (and don't throw on zero paths)
    assert(TxTable.delete(spark, troot, $"id" === 1L) == 0L)
    assert(TxTable.deleteMor(spark, troot, $"id" === 1L) == 0L)
    // a MERGE into the created table inserts everything
    TxTable.merge(spark, troot,
      Seq((1L, "a", 10L)).toDF("id", "tag", "value"), Seq("id"), Seq("value"))
    assert(TxTable.read(spark, troot).count() == 1L)
    // the created schema GOVERNS: an insert changing a column's type fails
    intercept[Exception] {
      spark.sql("INSERT INTO graft_ct.default.fresh VALUES (2, 3, 'oops')")
    }: Unit
    // INSERT INTO works; re-create refuses; PARTITIONED BY refuses
    spark.sql("INSERT INTO graft_ct.default.fresh VALUES (2, 'b', 20)"): Unit
    assert(spark.sql("SELECT sum(value) AS s FROM graft_ct.default.fresh")
      .head().getLong(0) == 30L)
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_ct.default.fresh (id BIGINT)")
    }: Unit
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_ct.default.parted (id BIGINT) " +
        "PARTITIONED BY (id)")
    }: Unit
    // a FAILED CTAS leaves NOTHING behind (r15, the StagingTableCatalog
    // move): abortStagedChanges drops the staged files and the staging
    // dirs — no table, no directory, nothing for a retry to trip over
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_ct.default.ctas AS " +
        "SELECT raise_error('boom') AS id FROM graft_ct.default.fresh")
    }: Unit
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$base/default/ctas", "_log")),
      "failed CTAS left a half-created table behind")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/default/ctas")),
      "failed CTAS left its staging directory behind")
    // ... while DROP of a table WITH data history still refuses
    intercept[UnsupportedOperationException] {
      spark.sql("DROP TABLE graft_ct.default.fresh")
    }: Unit
    // CTAS: ATOMIC since r15 — ONE v0 create commit carrying schema AND
    // the query's data; there is no created-empty middle version
    spark.sql("CREATE TABLE graft_ct.default.ctas AS " +
      "SELECT id, value * 2 AS dbl FROM graft_ct.default.fresh"): Unit
    val ctasRows = spark.sql(
      "SELECT id, dbl FROM graft_ct.default.ctas ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ctasRows == Seq((1L, 20L), (2L, 40L)))
    val ctasCommits = TxTable.commits(s"$base/default/ctas")
    assert(ctasCommits.map(_.op) == Seq("create"),
      s"atomic CTAS must be one v0 commit, got ${ctasCommits.map(_.op)}")
    assert(ctasCommits.head.adds.nonEmpty &&
      ctasCommits.head.metrics("rows_written") == 2L)
    // a schema-LESS empty log still refuses (the shape is unknowable)
    val bare = freshRoot()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(bare, "_log"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bare, "_log", f"${0L}%020d.json"),
      ("""{"commitInfo":{"op":"external","metrics":{}}}""" + "\n" +
        """{"end":0}""").getBytes("UTF-8")): Unit
    val e = intercept[IllegalStateException] {
      TxTable.read(spark, bare).count()
    }
    assert(e.getMessage.contains("no recorded schema"), e.getMessage)
  }

  test("SQL DML catalog: INSERT INTO / DELETE FROM / time-travel SELECT land as ordinary commits") {
    val base = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val troot = s"$base/default/ev"
    TxTable.append(spark, troot, frame(1 to 20, "a"))
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", base)
    // SELECT plans TxTable's one scan: a FileSourceScanExec over the
    // TxFileIndex, no row-converting V1 scan
    val sel = spark.sql(
      "SELECT count(*) AS n FROM graft_cat.default.ev WHERE id > 15")
    assert(sel.head().getLong(0) == 5L)
    val selPlan = sel.queryExecution.executedPlan
    val selScans = Aqe.collect(selPlan) { case f: FileSourceScanExec => f }
    assert(selScans.size == 1 &&
      selScans.head.relation.location.isInstanceOf[TxFileIndex], s"$selPlan")
    assert(Aqe.collect(selPlan) { case r: RowDataSourceScanExec => r }.isEmpty)
    // the optimizer sizes the table by its live data bytes
    val liveBytes = TxTable.snapshot(troot).liveFiles
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(troot, "data", f))).sum
    assert(spark.table("graft_cat.default.ev").queryExecution.optimizedPlan
      .stats.sizeInBytes == BigInt(liveBytes))
    // a key the stats rule out plans the empty relation: no scan, no job
    val ruledOut = spark.sql("SELECT * FROM graft_cat.default.ev WHERE id = 5000")
      .queryExecution.optimizedPlan
    assert(ruledOut.collectLeaves().forall {
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }, s"$ruledOut")
    // INSERT INTO = an ordinary append commit (schema-validated)
    spark.sql("INSERT INTO graft_cat.default.ev VALUES (100, 'sql', 1000)")
    assert(TxTable.read(spark, troot).count() == 21)
    assert(TxTable.commits(troot).last.op == "append")
    // DELETE FROM = the full CoW delete path: metrics, change feed, 3VL
    spark.sql("DELETE FROM graft_cat.default.ev WHERE id <= 5")
    assert(TxTable.read(spark, troot).count() == 16)
    val del = TxTable.commits(troot).last
    assert(del.op == "delete" && del.metrics("rows_deleted") == 5 &&
      del.cdc.nonEmpty, s"got $del")
    assert(TxTable.readChanges(spark, troot, del.version, Some(del.version))
      .where($"_change_type" === "delete").count() == 5)
    // an ARITHMETIC predicate — beyond the V1 filter tree — deletes too
    // (r14: SQL DELETE routes through the full-Catalyst command)
    spark.sql("DELETE FROM graft_cat.default.ev WHERE id % 7 = 0")
    assert(TxTable.read(spark, troot).where($"id" % 7 === 0).count() == 0)
    assert(TxTable.commits(troot).last.metrics("rows_deleted") == 2) // 7, 14
    // time travel reads the log, not the latest state: v0's file set
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_cat.default.ev VERSION AS OF 0")
      .head().getLong(0) == 20L)
    val v0Files = spark.sql("SELECT * FROM graft_cat.default.ev VERSION AS OF 0")
      .inputFiles.map(_.split('/').last).toSet
    assert(v0Files == TxTable.snapshot(troot, Some(0L)).liveFiles.toSet &&
      v0Files != TxTable.snapshot(troot).liveFiles.toSet, s"got $v0Files")
    // projection-only and COUNT(*) shapes
    assert(spark.sql("SELECT count(*) AS n FROM graft_cat.default.ev")
      .head().getLong(0) == 14L)
    assert(spark.sql(
      "SELECT tag FROM graft_cat.default.ev WHERE id = 100").head()
      .getString(0) == "sql")
    // a join with a small filtered catalog side broadcasts it: both sides
    // carry real sizes
    TxTable.append(spark, s"$base/default/dim",
      (18 to 22).map(i => (i.toLong, "d", i * 1000L)).toDF("id", "tag", "value"))
    val joined = spark.sql(
      """SELECT e.id, d.value FROM graft_cat.default.ev e
        |JOIN graft_cat.default.dim d ON e.id = d.id WHERE d.value > 18000""".stripMargin)
    assert(joined.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, s"${joined.queryExecution.sparkPlan}")
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((19L, 19000L), (20L, 20000L)))
    // a subquery's catalog read is the same scan
    assert(spark.sql(
      """SELECT count(*) FROM graft_cat.default.ev
        |WHERE id IN (SELECT id FROM graft_cat.default.dim)""".stripMargin)
      .head().getLong(0) == 3L)
    // MERGE whose source is another catalog table
    spark.sql(
      """MERGE INTO graft_cat.default.ev t USING graft_cat.default.dim s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.value = s.value
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TxTable.commits(troot).last.op == "merge")
    assert(TxTable.read(spark, troot).where($"id" >= 18L && $"id" <= 22L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("value"))).toSet ==
      (18 to 22).map(i => (i.toLong, i * 1000L)).toSet)
    assert(TxTable.read(spark, troot).count() == 16L)
    // a mutation against a time-travel view refuses
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft_cat.default.ev VERSION AS OF 0 WHERE id = 1")
    }
    assert(e != null)
  }

  test("file-disjoint concurrent merges: the race loser rebases its staged commit; overlapping keys force the full re-run") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 50, "a").repartitionByRange(2, $"id"))
    val srcA = (1 to 5).map(i => (i.toLong, "a", 1000L + i)).toDF("id", "tag", "value")
    val srcB = (30 to 34).map(i => (i.toLong, "a", 2000L + i)).toDF("id", "tag", "value")
    val cycles0 = TxTable.rewriteCycles.get()
    val rebases0 = TxTable.rebaseCommits.get()
    // deterministic race: B fully stages against v0, then A commits first
    TxTable.raceHook = () => {
      TxTable.raceHook = () => ()
      TxTable.merge(spark, root, srcA, Seq("id"), Seq("value")): Unit
    }
    try {
      val vB = TxTable.merge(spark, root, srcB, Seq("id"), Seq("value"))
      assert(vB == 2L, s"loser should rebase onto the winner's head, got $vB")
    } finally TxTable.raceHook = () => ()
    assert(TxTable.rewriteCycles.get() - cycles0 == 2,
      "exactly ONE read-rewrite cycle per merge")
    assert(TxTable.rebaseCommits.get() - rebases0 == 1,
      "the loser must land by rebase, not by re-running")
    val back = TxTable.read(spark, root)
    assert(back.count() == 50)
    assert(back.where($"id".between(1, 5) && $"value" === $"id" + 1000L).count() == 5)
    assert(back.where($"id".between(30, 34) && $"value" === $"id" + 2000L).count() == 5)
    val cs = TxTable.commits(root).filter(_.op == "merge")
    assert(cs.size == 2 && cs.forall(_.removes.size == 1),
      "each disjoint merge rewrites exactly one file")
    // the change feed sees both mutations' staged change files
    assert(TxTable.readChanges(spark, root, 1L)
      .where($"_change_type" === "update_postimage").count() == 10)
    // OVERLAPPING keys touch the same file: a true conflict — the loser
    // re-runs on the winner's output and the updates compose serially
    val srcC = (1 to 3).map(i => (i.toLong, "a", 3000L + i)).toDF("id", "tag", "value")
    val srcD = (3 to 6).map(i => (i.toLong, "a", 4000L + i)).toDF("id", "tag", "value")
    val cycles1 = TxTable.rewriteCycles.get()
    TxTable.raceHook = () => {
      TxTable.raceHook = () => ()
      TxTable.merge(spark, root, srcC, Seq("id"), Seq("value")): Unit
    }
    try TxTable.merge(spark, root, srcD, Seq("id"), Seq("value")): Unit
    finally TxTable.raceHook = () => ()
    assert(TxTable.rewriteCycles.get() - cycles1 == 3,
      "an overlapping winner must force the full re-run")
    val after = TxTable.read(spark, root)
    assert(after.count() == 50)
    assert(after.where($"id" === 2L).head().getAs[Long]("value") == 3002L)
    assert(after.where($"id" === 3L).head().getAs[Long]("value") == 4003L)
  }

  test("delete and compaction rebase over racing pure appends; a possibly-matching append is a true conflict") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "a").repartition(3))
    // a blind append whose rows PROVABLY cannot match the delete predicate
    TxTable.raceHook = () => {
      TxTable.raceHook = () => ()
      TxTable.append(spark, root, frame(100 to 110, "late").repartition(1)): Unit
    }
    val rebases0 = TxTable.rebaseCommits.get()
    try assert(TxTable.delete(spark, root, $"id" <= 10L) == 2L)
    finally TxTable.raceHook = () => ()
    assert(TxTable.rebaseCommits.get() - rebases0 == 1)
    assert(TxTable.read(spark, root).count() == 20 + 11)
    // compaction rebases over appends too: the racer's file stays live
    // beside the compacted layout
    TxTable.raceHook = () => {
      TxTable.raceHook = () => ()
      TxTable.append(spark, root, frame(200 to 204, "tail").repartition(1)): Unit
    }
    try assert(TxTable.compact(spark, root, targetFiles = 1) == 4L)
    finally TxTable.raceHook = () => ()
    assert(TxTable.read(spark, root).count() == 36)
    assert(TxTable.snapshot(root).liveFiles.size == 2,
      "compacted file + the racing append's file")
    // an append whose rows MAY match the predicate is a true conflict:
    // the delete re-runs and catches the racer's rows (serial order)
    TxTable.raceHook = () => {
      TxTable.raceHook = () => ()
      TxTable.append(spark, root, frame(11 to 15, "racer").repartition(1)): Unit
    }
    val cycles0 = TxTable.rewriteCycles.get()
    try TxTable.delete(spark, root, $"id" <= 15L): Unit
    finally TxTable.raceHook = () => ()
    assert(TxTable.rewriteCycles.get() - cycles0 == 2,
      "a possibly-matching append must force the full re-run")
    assert(TxTable.read(spark, root).where($"id" <= 15L).count() == 0)
  }

  test("graft-tx batch connector: registered scans push filters into the skipping prover; pruned set matches readWhere's") {
    import graft.sources.TxFileIndex
    val root = freshRoot()
    // interleaved ids: ranges overlap, only blooms isolate a point probe —
    // the connector must reach the same prover readWhere uses
    (0 until 4).foreach { f =>
      val rows = (0 until 100).filter(_ % 4 == f)
        .map(i => (i.toLong, s"key$i", i * 10L))
      TxTable.append(spark, root,
        rows.toDF("id", "tag", "value").repartition(1), bloomCols = Seq("id"))
    }
    val (kept, skipped) = TxTable.pruneFiles(spark, root, $"id" === 50L)
    assert(kept.size == 1 && skipped.size == 3)
    // plan shape: the connector's scan opened exactly pruneFiles' kept set,
    // and the Scala API's readWhere plans that same scan
    Seq(spark.read.format("graft-tx").load(root).where($"id" === 50L),
        TxTable.readWhere(spark, root, $"id" === 50L)).foreach { df =>
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(50L))
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      val index = scan.relation.location.asInstanceOf[TxFileIndex]
      assert(index.lastListing.contains((1, 3)), s"got ${index.lastListing}")
      assert(scan.metrics("numFiles").value == 1,
        s"scan opened ${scan.metrics("numFiles").value} files")
    }
    // a probe the stats rule out in every file plans no scan at all
    Seq(spark.read.format("graft-tx").load(root).where($"id" === 500L),
        TxTable.readWhere(spark, root, $"id" === 500L)).foreach { df =>
      assert(df.collect().isEmpty)
      assert(!df.queryExecution.executedPlan.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]))
    }
    // SQL surface over the registered source
    spark.read.format("graft-tx").load(root).createOrReplaceTempView("tx_conn")
    assert(spark.sql("SELECT count(*) AS n FROM tx_conn WHERE id > 90")
      .head().getLong(0) == 9L)
    // time travel via option
    assert(spark.read.format("graft-tx").option("versionAsOf", "0")
      .load(root).count() == 25L)
    // schema evolution: pre-evolution files surface NULL through the scan
    TxTable.append(spark, root,
      Seq((1000L, "x", 1L, "new")).toDF("id", "tag", "value", "extra"))
    val evo = spark.read.format("graft-tx").load(root)
    assert(evo.where($"extra".isNull).count() == 100L)
    // live deletion vectors COMPOSE (r14, replacing the r13 refusal): the
    // connector must not resurrect the vector-deleted row
    TxTable.deleteMor(spark, root, $"id" === 7L)
    val afterDv = spark.read.format("graft-tx").load(root)
    assert(afterDv.where($"id" === 7L).count() == 0L)
    assert(afterDv.count() == TxTable.read(spark, root).count())
  }

  test("graft-tx connector over a merge-on-read table: row-identical to TxTable.read, still a FileSourceScanExec, clean files keep pushdown") {
    import graft.sources.{TxDvParquetFileFormat, TxFileIndex}
    val root = freshRoot()
    // 4 range-disjoint files; two overlapping MoR deletes vector TWO of
    // them (replacement-merge on the shared file), none ever rewrites
    TxTable.append(spark, root,
      frame(1 to 100, "a").repartitionByRange(4, $"id"))
    TxTable.deleteMor(spark, root, $"id" % 7 === 0L && $"id" <= 70L): Unit
    TxTable.deleteMor(spark, root, $"id" <= 30L && $"id" % 5 === 0L): Unit
    val s = TxTable.snapshot(root)
    assert(s.liveDvs.nonEmpty && s.liveDvs.size < s.liveFiles.size,
      "fixture needs vectored AND clean files")
    val conn = spark.read.format("graft-tx").load(root)
    val lib = TxTable.read(spark, root)
    def formatOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get.relation.fileFormat
    // the library's reads plan the same DV-masking format
    assert(formatOf(lib).isInstanceOf[TxDvParquetFileFormat])
    // row-identical to the library's own MoR scan
    assert(conn.count() == lib.count())
    assert(conn.exceptAll(lib).count() == 0 && lib.exceptAll(conn).count() == 0)
    // plan shape: still the FileIndex-pruned FileSourceScanExec, now over
    // the DV-filtering parquet format
    val probed = conn.where($"id" === 95L)
    assert(probed.collect().map(_.getLong(0)).toSeq == Seq(95L))
    val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.relation.fileFormat.isInstanceOf[TxDvParquetFileFormat])
    assert(scan.relation.location.asInstanceOf[TxFileIndex]
      .lastListing.exists(_._1 < s.liveFiles.size),
      "stats pruning must stay sound under DVs (vectors only remove rows)")
    // PER-FILE format selection (r15, VERDICT r14 #4): the MoR scan stays
    // COLUMNAR — clean files hand vectorized batches straight through;
    // vectored files re-pack masked survivors into batches — and the
    // query's filters are still PUSHED (clean files row-group-skip on
    // them; vectored files re-evaluate above the scan)
    assert(scan.supportsColumnar,
      "a MoR snapshot must not demote the whole relation to row scan")
    assert(scan.metadata("PushedFilters").contains("id"),
      s"filters not pushed: ${scan.metadata("PushedFilters")}")
    // DV bitmaps no longer ride the task closure (r15, VERDICT r14 #2):
    // the format ships sidecar NAMES; its serialized size is independent
    // of how many rows the vectors mark. 29 marked rows here — compare
    // against a same-shape table with ~20x the marked rows.
    def closureBytes(r: String): Int = {
      val snap = TxTable.snapshot(r)
      val fmt = new TxDvParquetFileFormat(
        graft.sources.TxDv.DvRefs(s"$r/dv", snap.liveDvs))
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(fmt)
      oos.close()
      bos.size()
    }
    val heavyRoot = freshRoot()
    TxTable.append(spark, heavyRoot,
      frame(1 to 2000, "a").repartitionByRange(4, $"id"))
    TxTable.deleteMor(spark, heavyRoot, $"id" % 3 =!= 0L): Unit // ~1333 marked
    val (lightSz, heavySz) = (closureBytes(root), closureBytes(heavyRoot))
    assert(math.abs(lightSz - heavySz) < 512,
      s"task-closure size tracks vector mass: $lightSz vs $heavySz bytes")
    assert(spark.read.format("graft-tx").load(heavyRoot).count() ==
      TxTable.read(spark, heavyRoot).count())
    // a vectored-file probe: both deletes' rows are gone (14 by the mod-7
    // sweep, 15 by the overlapping second delete), their file-mate lives
    assert(conn.where($"id".isin(14L, 15L, 16L)).collect()
      .map(_.getLong(0)).toSeq == Seq(16L))
    // zero-overhead path: compaction materializes the vectors and the
    // connector falls back to the stock vectorized format
    TxTable.compact(spark, root, targetFiles = 2): Unit
    val clean = spark.read.format("graft-tx").load(root)
    val cleanScan = clean.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(!cleanScan.relation.fileFormat.isInstanceOf[TxDvParquetFileFormat])
    assert(!formatOf(TxTable.read(spark, root)).isInstanceOf[TxDvParquetFileFormat])
    assert(clean.count() == lib.count())
  }

  test("stats-pruned discovery: update and delete never open a live file the commit-log stats rule out") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 50, "lo").repartition(1))
    TxTable.append(spark, root, frame(101 to 150, "hi").repartition(1))
    val (kept, skipped) = TxTable.pruneFiles(spark, root, $"id" > 100L)
    assert(kept.size == 1 && skipped.size == 1)
    // the ruled-out file's bytes become garbage: still live and present
    // (the scan's coverage check passes), but any attempt to open it fails
    val ruledOut = skipped.head
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "data", ruledOut),
      "not a parquet file".getBytes("UTF-8")): Unit
    TxTable.update(spark, root, $"id" > 140L, Map("value" -> lit(-1L))): Unit
    assert(TxTable.commits(root).last.metrics == Map("rows_updated" -> 10L))
    TxTable.delete(spark, root, $"id" > 145L): Unit
    assert(TxTable.commits(root).last.metrics == Map("rows_deleted" -> 5L))
    assert(TxTable.snapshot(root).liveFiles.contains(ruledOut))
    assert(TxTable.readWhere(spark, root, $"id" > 100L)
      .where($"value" === -1L).count() == 5L)
  }

  test("stats-pruned merge: merge and mergeFull never open a live file outside the source's key range") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 50, "lo").repartition(1))
    TxTable.append(spark, root, frame(101 to 150, "hi").repartition(1))
    val (_, skipped) = TxTable.pruneFiles(spark, root, $"id" > 100L)
    assert(skipped.size == 1)
    // the ruled-out file's bytes become garbage: still live and present,
    // but any attempt to open it fails
    val ruledOut = skipped.head
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "data", ruledOut),
      "not a parquet file".getBytes("UTF-8")): Unit
    // 141..150 update, 151..160 insert
    val src = (141 to 160).map(i => (i.toLong, "src", -i.toLong))
      .toDF("id", "tag", "value")
    TxTable.merge(spark, root, src, Seq("id"), Seq("value")): Unit
    assert(TxTable.commits(root).last.metrics ==
      Map("rows_updated" -> 10L, "rows_inserted" -> 10L))
    // 156..160 update, 161..165 insert
    val full = (156 to 165).map(i => (i.toLong, "full", i * 7L))
      .toDF("id", "tag", "value")
    TxTable.mergeFull(spark, root, full, Seq("id"),
      Seq(TxTable.MergeClause(None,
        TxTable.MergeUpdate(Map("value" -> col("__src_value"))))),
      Seq((None, Map("id" -> col("__src_id"), "tag" -> col("__src_tag"),
        "value" -> col("__src_value"))))): Unit
    assert(TxTable.commits(root).last.metrics ==
      Map("rows_updated" -> 5L, "rows_inserted" -> 5L, "rows_deleted" -> 0L))
    assert(TxTable.snapshot(root).liveFiles.contains(ruledOut))
    val hi = TxTable.readWhere(spark, root, $"id" > 100L).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("tag"), r.getAs[Long]("value")))
      .toMap
    assert(hi.size == 65)
    (101 to 140).foreach(i => assert(hi(i.toLong) == ("hi", i * 10L)))
    (141 to 150).foreach(i => assert(hi(i.toLong) == ("hi", -i.toLong)))
    (151 to 155).foreach(i => assert(hi(i.toLong) == ("src", -i.toLong)))
    (156 to 160).foreach(i => assert(hi(i.toLong) == ("src", i * 7L)))
    (161 to 165).foreach(i => assert(hi(i.toLong) == ("full", i * 7L)))
  }

  test("merge precondition: a source whose keys change between executions fails loudly; nothing commits") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "base"))
    val v = TxTable.snapshot(root).version
    def files(dir: String): Set[String] = {
      val d = java.nio.file.Paths.get(root, dir)
      if (!java.nio.file.Files.isDirectory(d)) Set.empty
      else java.nio.file.Files.list(d).iterator().asScala
        .map(_.getFileName.toString).toSet
    }
    val before = (files("data"), files("cdc"))
    // the key profile sees 21..40 (ten live keys, ten new); each later
    // execution of a row shifts its key by another 10^6, so the write
    // inserts keys the profile never saw. (A seeded rand() key would not
    // do: Spark replays its draws over the same partitioning.)
    DriftingKeys.evals.clear()
    val drift = udf { (id: Long) =>
      id + 1000000L * DriftingKeys.evals
        .computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger)
        .getAndIncrement()
    }.asNondeterministic()
    val src = spark.range(21, 41)
      .select(drift(col("id")).as("id"), lit("src").as("tag"), col("id").as("value"))
    val e = intercept[IllegalStateException](
      TxTable.merge(spark, root, src, Seq("id"), Seq("value")))
    assert(e.getMessage.contains("merge source changed between its passes"), e.getMessage)
    assert(TxTable.snapshot(root).version == v)
    assert((files("data"), files("cdc")) == before)
    assert(TxTable.read(spark, root).count() == 30L)
  }

  test("mutation job counts: update, delete, compact and merge take metrics from their writes, not extra jobs") {
    def twoFiles(): String = {
      val root = freshRoot()
      TxTable.append(spark, root, frame(1 to 50, "lo").repartition(1))
      TxTable.append(spark, root, frame(101 to 150, "hi").repartition(1))
      root
    }
    val root = twoFiles()
    val upsert = (141 to 150).map(i => (i.toLong, "src", -i.toLong))
      .toDF("id", "tag", "value")
    val withInserts = (146 to 155).map(i => (i.toLong, "src", i.toLong))
      .toDF("id", "tag", "value")
    val jobs = Seq(
      "update" -> jobsStarted(spark)(TxTable.update(spark, root, $"id" > 140L,
        Map("value" -> lit(-1L))): Unit),
      "merge" -> jobsStarted(spark)(
        TxTable.merge(spark, root, upsert, Seq("id"), Seq("value")): Unit),
      "merge+insert" -> jobsStarted(spark)(
        TxTable.merge(spark, root, withInserts, Seq("id"), Seq("value")): Unit),
      "delete" -> jobsStarted(spark)(TxTable.delete(spark, root, $"id" > 145L): Unit),
      "compact" -> jobsStarted(spark)(TxTable.compact(spark, root): Unit))
    // update and delete: discovery 2 + change files 1 + data 1; compact:
    // exchange 1 + write 1; merge: key profile 3 + matched-key pass 4 +
    // data and change writes 2 each, and an insert branch adds one
    // broadcast to each write
    assert(jobs == Seq("update" -> 4, "merge" -> 11, "merge+insert" -> 13,
      "delete" -> 4, "compact" -> 2))
    assert(TxTable.commits(root).map(_.metrics).drop(2) == Seq(
      Map("rows_updated" -> 10L),
      Map("rows_updated" -> 10L, "rows_inserted" -> 0L),
      Map("rows_updated" -> 5L, "rows_inserted" -> 5L),
      Map("rows_deleted" -> 10L),
      Map("rows_written" -> 95L)))
    // a delete matching every row of its file stages no zero-row file
    val all = twoFiles()
    val hiFile = TxTable.pruneFiles(spark, all, $"id" > 100L)._1
    TxTable.delete(spark, all, $"id" > 100L): Unit
    val c = TxTable.commits(all).last
    assert(c.metrics == Map("rows_deleted" -> 50L))
    assert(c.adds.isEmpty && c.removes == hiFile)
    assert(TxTable.read(spark, all).count() == 50L)
  }

  test("graft-tx readChangeFeed: the batch feed through the registered source — bounded ranges, SQL surface, loud refusals") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "a"))         // v0
    TxTable.delete(spark, root, $"id" <= 5L)                 // v1
    TxTable.merge(spark, root, Seq((6L, "m", 0L)).toDF("id", "tag", "value"),
      Seq("id"), Seq("value"))                               // v2
    def feed(opts: (String, String)*) = {
      val r = spark.read.format("graft-tx").option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(root)
    }
    // identical to the library path, _change_type/_commit_version included
    val conn = feed("startingVersion" -> "0")
    val lib = TxTable.readChanges(spark, root, 0L)
    assert(conn.count() == lib.count())
    assert(conn.exceptAll(lib).count() == 0 && lib.exceptAll(conn).count() == 0)
    // a bounded range pages like the library call
    assert(feed("startingVersion" -> "1", "endingVersion" -> "1")
      .groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("delete" -> 5L))
    // SQL over the feed
    feed("startingVersion" -> "0").createOrReplaceTempView("tx_feed")
    assert(spark.sql(
      "SELECT count(*) AS n FROM tx_feed WHERE _change_type = 'update_postimage'")
      .head().getLong(0) == 1L)
    // refusals: missing startingVersion; versionAsOf does not compose
    intercept[IllegalArgumentException] { feed().collect() }: Unit
    intercept[IllegalArgumentException] {
      feed("startingVersion" -> "0", "versionAsOf" -> "1").collect()
    }: Unit
    // the audit surface: option history=true is the commit log as data
    val hist = spark.read.format("graft-tx").option("history", "true")
      .load(root).collect().map(r =>
        (r.getAs[Long]("version"), r.getAs[String]("op")))
    assert(hist.toSeq == Seq((0L, "append"), (1L, "delete"), (2L, "merge")))
    // conflicting read modes refuse rather than silently preempting
    intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("history", "true")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(root).collect()
    }: Unit
    intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("history", "true")
        .option("versionAsOf", "1").load(root).collect()
    }: Unit
  }

  test("graft-tx connector fails loudly on a vanished live file, naming it — never a silent partial scan") {
    val root = freshRoot()
    (0 until 3).foreach { f =>
      TxTable.append(spark, root, frame(f * 10 + 1 to f * 10 + 10, s"b$f")
        .repartition(1))
    }
    // external deletion / storage loss of ONE live file (the library's own
    // vacuum respects retention and never produces this state)
    val victim = TxTable.snapshot(root).liveFiles.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "data", victim))
    val e = intercept[IllegalStateException] {
      spark.read.format("graft-tx").load(root).count()
    }
    assert(e.getMessage.contains("missing from") &&
      e.getMessage.contains(victim), e.getMessage)
    // the Scala path fails loudly on the identical state (parquet-open) —
    // the connector must not be the one reader that masks it
    intercept[Exception] { TxTable.read(spark, root).count() }: Unit
  }

  test("parquet checkpoint: a 10³-file snapshot reconstructs via a distributed read; bloom bits stay off the driver until probed") {
    val root = freshRoot()
    // ~1100 single-row files with per-file id blooms — the metadata shape
    // of a large table: stats rows are compact, blooms are the dominant
    // payload, and the old inline-JSON checkpoint would have carried every
    // filter's base64 through one driver-side parse
    val wide = (0 until 1100).map(i => (i.toLong, s"k$i", i * 10L))
      .toDF("id", "tag", "value").repartitionByRange(1100, $"id")
    TxTable.append(spark, root, wide, bloomCols = Seq("id"))          // v0
    TxTable.appendOnce(spark, root, frame(2000 to 2004, "t"), "app", 7L) // v1
    TxTable.deleteMor(spark, root, $"id" === 3L)                      // v2
    val cpV = TxTable.checkpoint(root)
    assert(cpV == 2L)
    val manifestPath =
      java.nio.file.Paths.get(root, "_log", f"$cpV%020d.checkpoint.json")
    val manifest = new String(
      java.nio.file.Files.readAllBytes(manifestPath), "UTF-8")
    assert(manifest.contains("\"format\":\"parquet\""), manifest.take(300))
    assert(!manifest.contains("bloom"), "manifest must not inline blooms")
    assert(java.nio.file.Files.size(manifestPath) < 10000,
      "parquet-form manifest must be metadata-tiny")
    val s = TxTable.snapshot(root)
    assert(s.commits.isEmpty, "checkpointed snapshot replays no raw commits")
    assert(s.liveFiles.size >= 1000, s"fixture too small: ${s.liveFiles.size}")
    val blooms = s.liveStats.values.flatMap(_.values).flatMap(_.bloom).toSeq
    assert(blooms.size >= 1000)
    assert(blooms.forall(b => b.sidecar.isDefined && !b.isLoaded),
      "checkpointed blooms must be sidecar references, unloaded until probed")
    // a point probe materializes ONLY the filters it consults (range
    // checks short-circuit the rest)
    val (kept, _) = TxTable.pruneFiles(spark, root, $"id" === 42L)
    assert(kept.size == 1, s"kept ${kept.size}")
    val loaded = blooms.count(_.isLoaded)
    assert(loaded >= 1 && loaded <= 4, s"probe materialized $loaded blooms")
    // txn identities and deletion vectors rode the parquet checkpoint
    assert(TxTable.appendOnce(spark, root,
      frame(2000 to 2004, "t"), "app", 7L) == 1L)
    assert(TxTable.read(spark, root).where($"id" === 3L).count() == 0)
    // re-checkpointing REUSES sidecars verbatim: no duplicate spill, no
    // bit load — the metadata plane cost does not grow with checkpoints
    def sidecarCount(): Long =
      java.nio.file.Files.list(java.nio.file.Paths.get(root, "_log", "blooms"))
        .count()
    val scBefore = sidecarCount()
    TxTable.append(spark, root, frame(3000 to 3004, "u"))             // v3
    assert(TxTable.checkpoint(root) == 3L)
    assert(sidecarCount() == scBefore, "re-checkpoint duplicated sidecars")
    // integrity: a vanished part-file is a row-count mismatch for a COLD
    // reader (fresh process = empty parse cache) and fails loudly
    val dirName = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_log", f"${3L}%020d.checkpoint.json")),
      "UTF-8").split("\"dir\":\"")(1).split("\"")(0)
    val part = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "_log", dirName)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    java.nio.file.Files.delete(part)
    TxTable.ckptCache.clear()
    val e = intercept[IllegalStateException] { TxTable.read(spark, root).count() }
    assert(e.getMessage.contains("corrupt checkpoint") &&
      e.getMessage.contains("end marker"), e.getMessage)
  }

  test("protocol gating: a future-versioned log refuses old readers and writers loudly instead of being misread") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 10, "a"))
    val logDir = java.nio.file.Paths.get(root, "_log")
    // the birth certificate rides commit 0
    val log0 = new String(java.nio.file.Files.readAllBytes(
      logDir.resolve(f"${0L}%020d.json")), "UTF-8")
    assert(log0.contains("\"protocol\":{\"r\":1,\"w\":1}"), log0.take(200))
    // a WRITER upgrade lands as a later commit (a future-featured writer):
    // the table stays readable, every commit path refuses
    java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"),
      ("""{"commitInfo":{"op":"upgrade","protocol":{"r":1,"w":3},"metrics":{}}}""" +
        "\n" + """{"end":0}""").getBytes("UTF-8")): Unit
    assert(TxTable.read(spark, root).count() == 10)
    val e1 = intercept[IllegalStateException] {
      TxTable.append(spark, root, frame(11 to 12, "b"))
    }
    assert(e1.getMessage.contains("writer protocol version 3"), e1.getMessage)
    intercept[IllegalStateException] {
      TxTable.delete(spark, root, $"id" === 1L)
    }: Unit
    intercept[IllegalStateException] {
      TxTable.compact(spark, root, targetFiles = 1)
    }: Unit
    // the folded protocol rides checkpoints: a checkpoint-accelerated
    // writer is gated without parsing the upgrade commit
    TxTable.checkpoint(root): Unit
    assert(TxTable.snapshot(root).commits.isEmpty)
    intercept[IllegalStateException] {
      TxTable.append(spark, root, frame(11 to 12, "b"))
    }: Unit
    assert(TxTable.read(spark, root).count() == 10)
    // a READER bump refuses every read path loudly
    val root2 = freshRoot()
    TxTable.append(spark, root2, frame(1 to 5, "a"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root2, "_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"op":"upgrade","protocol":{"r":3,"w":3},"metrics":{}}}""" +
        "\n" + """{"end":0}""").getBytes("UTF-8")): Unit
    val e2 = intercept[IllegalStateException] {
      TxTable.read(spark, root2).count()
    }
    assert(e2.getMessage.contains("reader protocol version 3"), e2.getMessage)
  }

  test("feature use upgrades the protocol: DVs demand reader+writer 2, CDF demands writer 2; a build pinned below refuses") {
    // CDF (first delete writes change files) → writer 2, reader stays 1
    val cowRoot = freshRoot()
    TxTable.append(spark, cowRoot, frame(1 to 20, "a"))
    assert(TxTable.snapshot(cowRoot).protocol == ((1, 1)))
    TxTable.delete(spark, cowRoot, $"id" <= 5L)
    assert(TxTable.snapshot(cowRoot).protocol == ((1, 2)))
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cowRoot, "_log", f"${1L}%020d.json")), "UTF-8")
    assert(log1.contains("\"protocol\":{\"r\":1,\"w\":2}"), log1.take(200))
    // DVs → reader AND writer 2, atomically on the first dv commit
    val morRoot = freshRoot()
    TxTable.append(spark, morRoot, frame(1 to 20, "a"))
    TxTable.deleteMor(spark, morRoot, $"id" <= 5L)
    assert(TxTable.snapshot(morRoot).protocol == ((2, 2)))
    // a LATER feature commit upgrades nothing further (idempotent)
    TxTable.deleteMor(spark, morRoot, $"id" === 6L)
    assert(TxTable.commits(morRoot).last.protocol.isEmpty,
      "second dv commit must not re-record the protocol")
    // the fold is MONOTONE, not last-action-wins: a rebased commit can
    // legitimately republish a LOWER upgrade computed pre-race (it jumped
    // over the dv commit) — the folded protocol must never downgrade
    // below what the live vectors demand
    val vNext = TxTable.snapshot(morRoot).version + 1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(morRoot, "_log", f"$vNext%020d.json"),
      ("""{"commitInfo":{"op":"rebased","protocol":{"r":1,"w":2},"metrics":{}}}""" +
        "\n" + """{"end":0}""").getBytes("UTF-8")): Unit
    assert(TxTable.snapshot(morRoot).protocol == ((2, 2)),
      "a lower rebased upgrade silently downgraded the folded protocol")
    try {
      // an old WRITER (this library's own pre-DV rounds) meets the table:
      // every commit path refuses; reads stay allowed on the CDF table
      TxTable.writerVersionOverride = Some(1)
      val e = intercept[IllegalStateException] {
        TxTable.append(spark, morRoot, frame(30 to 32, "b"))
      }
      assert(e.getMessage.contains("writer protocol version 2"), e.getMessage)
      intercept[IllegalStateException] {
        TxTable.append(spark, cowRoot, frame(30 to 32, "b"))
      }: Unit
      assert(TxTable.read(spark, cowRoot).count() == 15)
      // an old READER refuses the DV table at parse time (it would
      // silently resurrect vector-deleted rows) but still reads the
      // CDF-only table, whose reader demand never rose
      TxTable.readerVersionOverride = Some(1)
      val e2 = intercept[IllegalStateException] {
        TxTable.read(spark, morRoot).count()
      }
      assert(e2.getMessage.contains("reader protocol version 2"), e2.getMessage)
      assert(TxTable.read(spark, cowRoot).count() == 15)
    } finally {
      TxTable.writerVersionOverride = None
      TxTable.readerVersionOverride = None
    }
  }

  test("vacuum reclaims superseded checkpoints, their parquet dirs, and orphaned bloom sidecars; survivors still probe") {
    val root = freshRoot()
    TxTable.append(spark, root,
      frame(1 to 40, "a").repartitionByRange(2, $"id"),
      bloomCols = Seq("id"))
    // first checkpoint in the PARQUET form (forced threshold) so its data
    // dir exercises directory reclamation; spills both files' sidecars
    val oldThreshold = TxTable.ParquetCheckpointThreshold
    TxTable.ParquetCheckpointThreshold = 1
    try TxTable.checkpoint(root): Unit
    finally TxTable.ParquetCheckpointThreshold = oldThreshold
    // drop the low-id file entirely: its sidecar is referenced ONLY by
    // the v0 checkpoint after the next one lands
    TxTable.delete(spark, root, $"id" <= 20L)                        // v1
    TxTable.checkpoint(root): Unit                                   // newest (JSON form)
    val logDir = java.nio.file.Paths.get(root, "_log")
    def names(suffix: String): Seq[String] =
      java.nio.file.Files.list(logDir).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(suffix)).toSeq.sorted
    def sidecars(): Seq[String] =
      java.nio.file.Files.list(logDir.resolve("blooms")).iterator().asScala
        .map(_.getFileName.toString).toSeq
    assert(names(".checkpoint.json").size == 2)
    val ckptDirs = java.nio.file.Files.list(logDir).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("ckpt-")).toSeq
    assert(ckptDirs.size == 1, "the parquet-form checkpoint has a data dir")
    val before = sidecars()
    assert(before.size == 2)
    TxTable.ckptCache.clear() // cold reader: GC must re-derive references
    // grace window (ADVICE r13): an unreferenced sidecar younger than the
    // window may be a CONCURRENT checkpoint's in-flight spill (sidecars
    // land before their manifest publishes) — this vacuum must reclaim the
    // superseded checkpoint but leave the young orphan sidecar alone
    val graceReclaimed = TxTable.vacuum(root, keepFromVersion = 1L)
    assert(!graceReclaimed.exists(_.endsWith(".bloom")),
      s"vacuum reclaimed a sidecar inside the grace window: $graceReclaimed")
    assert(sidecars().size == 2)
    // past the window the orphan is true garbage
    val oldGrace = TxTable.SidecarGraceMs
    TxTable.SidecarGraceMs = 0L
    val reclaimed =
      try graceReclaimed ++ TxTable.vacuum(root, keepFromVersion = 1L)
      finally TxTable.SidecarGraceMs = oldGrace
    // the superseded v0 checkpoint (manifest + parquet dir) is gone
    assert(names(".checkpoint.json") == Seq(f"${1L}%020d.checkpoint.json"))
    assert(!java.nio.file.Files.exists(ckptDirs.head),
      "superseded parquet checkpoint dir survived vacuum")
    assert(reclaimed.exists(_.endsWith(".checkpoint.json")))
    // the deleted file's sidecar was referenced only by the dropped
    // checkpoint → reclaimed; the survivor's sidecar stays AND still probes
    val after = sidecars()
    assert(after.size == 1, s"$before -> $after")
    assert(TxTable.snapshot(root).commits.isEmpty) // newest checkpoint serves
    assert(TxTable.readWhere(spark, root, $"id" === 25L).count() == 1L)
    // the range stats alone can't prune an in-range absent probe; the
    // surviving sidecar bloom must still load and prove absence
    val (_, skipped) = TxTable.pruneFiles(spark, root, $"id" === 1000L)
    assert(TxTable.readWhere(spark, root, $"id" === 39L).count() == 1L)
    // below retention the raw commits still PARSE (commit files are never
    // deleted) but the data was reclaimed — time travel fails like any
    // vacuumed version, checkpoint or not
    assert(TxTable.snapshot(root, Some(0L)).version == 0L)
    intercept[Exception] {
      TxTable.read(spark, root, asOf = Some(0L)).count()
    }: Unit
  }

  test("a corrupt bloom in the log surfaces as the corrupt-commit-log diagnostic, not an AIOOBE at plan time") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 50, "a"), bloomCols = Seq("id"))
    val logDir = java.nio.file.Paths.get(root, "_log")
    val commitFile = java.nio.file.Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq.head
    // truncate the bloom's base64 payload (keep declared m/k) — the
    // hand-edited/short-copied log shape
    val txt = new String(java.nio.file.Files.readAllBytes(commitFile), "UTF-8")
    val mangled = txt.replaceAll("""("b":")[A-Za-z0-9+/=]{40}[A-Za-z0-9+/=]*(")""", "$1AAAA$2")
    assert(mangled != txt, "fixture did not contain a bloom to mangle")
    java.nio.file.Files.write(commitFile, mangled.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { TxTable.read(spark, root).count() }
    assert(e.getMessage.contains("corrupt commit log") && e.getMessage.contains("bloom"))
  }

  test("abnormal mutation exits unstage: a delete failing after staging leaves no data/cdc strays") {
    // every write, not only delete: all of them commit through one loop,
    // whose abnormal exits must unstage data, change and dv files alike
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 40, "a").repartition(2))
    // a live deletion vector, so compaction always runs and restoring v0
    // stages a fresh empty vector for the file that gained one since
    TxTable.deleteMor(spark, root, $"id" === 39L): Unit
    def staged(): Set[String] = Seq("data", "cdc", "dv").flatMap { d =>
      val dir = java.nio.file.Paths.get(root, d)
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else java.nio.file.Files.list(dir).iterator().asScala
        .map(f => s"$d/${f.getFileName}").toSeq
    }.toSet
    val before = staged()
    val src = (1 to 5).map(i => (i.toLong, "m", 7L)).toDF("id", "tag", "value")
    val writes: Seq[(String, () => Long)] = Seq(
      "evolveSchema" -> (() => TxTable.evolveSchema(spark, root,
        frame(1 to 1, "s").schema.add("extra", "string"))),
      "append" -> (() => TxTable.append(spark, root, frame(41 to 45, "b"))),
      "appendOnce" -> (() =>
        TxTable.appendOnce(spark, root, frame(41 to 45, "b"), "app", 0L)),
      "delete" -> (() => TxTable.delete(spark, root, $"id" <= 10)),
      "deleteMor" -> (() => TxTable.deleteMor(spark, root, $"id" <= 10)),
      "update" -> (() =>
        TxTable.update(spark, root, $"id" <= 10, Map("value" -> lit(0L)))),
      "merge" -> (() => TxTable.merge(spark, root, src, Seq("id"), Seq("value"))),
      "mergeFull" -> (() => TxTable.mergeFull(spark, root, src, Seq("id"),
        Seq(TxTable.MergeClause(None,
          TxTable.MergeUpdate(Map("value" -> col("__src_value"))))), Nil)),
      "overwrite" -> (() => TxTable.overwrite(spark, root, frame(50 to 60, "o"))),
      "restore" -> (() => TxTable.restore(spark, root, 0L)),
      "compact" -> (() => TxTable.compact(spark, root)),
      "compactZ" -> (() => TxTable.compactZ(spark, root, 1, "id", "value")))
    // raceHook fires AFTER an attempt staged its files and right before
    // the publish — the exact window where an abnormal exit (a failed job,
    // a protocol refusal) used to leak staged files
    TxTable.raceHook = () => throw new RuntimeException("injected failure")
    try writes.foreach { case (name, write) =>
      val e = intercept[RuntimeException](write())
      assert(e.getMessage == "injected failure", s"$name: ${e.getMessage}")
      assert(staged() == before,
        s"failed $name leaked staged files: ${staged().diff(before)}")
    } finally TxTable.raceHook = () => ()
    // the table is untouched and still mutable
    assert(TxTable.snapshot(root).version == 1L)
    assert(TxTable.read(spark, root).count() == 39)
    TxTable.delete(spark, root, $"id" <= 10)
    assert(TxTable.read(spark, root).count() == 29)
  }

  test("SQL fixtures build for two sf dirs in one session: one catalog reaches every fixture root") {
    // a second sf dir string over the same corpus; a catalog that kept the
    // first build's root would not find the second build's table
    val tmp = java.nio.file.Files.createTempDirectory("graft_sf_alias")
    val alias = java.nio.file.Files.createSymbolicLink(
      tmp.resolve("sf"), java.nio.file.Paths.get(Sf).toAbsolutePath)
    try {
      val q = SparkEntry.queries("xacid_sql_merge")
      val first = q(spark, Sf).collect().toSet
      val second = q(spark, alias.toString).collect().toSet
      assert(first.nonEmpty && second == first)
      assert(graft.operators.AcidOps.sqlMergeTable(spark, alias.toString) !=
        graft.operators.AcidOps.sqlMergeTable(spark, Sf),
        "the alias must build its own fixture root")
    } finally {
      java.nio.file.Files.delete(alias)
      java.nio.file.Files.delete(tmp)
    }
  }

  test("overwrite unstages on a mid-loop failure, not only on schema conflicts") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 30, "a").repartition(2))
    val dataDir = java.nio.file.Paths.get(root, "data")
    val live = TxTable.snapshot(root).liveFiles
    // externally delete one live file: overwrite's pre-checks pass and it
    // STAGES its replacement, then the in-loop change capture's read of
    // the displaced snapshot fails — a mid-loop abnormal exit that is
    // neither an IllegalArgumentException nor race exhaustion
    java.nio.file.Files.delete(dataDir.resolve(live.head))
    def dataFiles(): Set[String] =
      java.nio.file.Files.list(dataDir).iterator().asScala
        .map(_.getFileName.toString).toSet
    val before = dataFiles()
    intercept[Exception] {
      TxTable.overwrite(spark, root, frame(100 to 120, "b"))
    }: Unit
    assert(dataFiles() == before,
      s"failed overwrite leaked staged data files: ${dataFiles().diff(before)}")
  }

  test("commit timestamps: TIMESTAMP AS OF resolves latest-at-or-before, refuses before-first; history carries the wall clock") {
    val root = freshRoot()
    val t0 = 1700000000000L
    val clock = new java.util.concurrent.atomic.AtomicLong(t0)
    TxTable.commitClock = () => clock.get()
    try {
      TxTable.append(spark, root, frame(1 to 10, "a"))  // v0 @ t0
      clock.set(t0 + 10000)
      TxTable.append(spark, root, frame(11 to 20, "b")) // v1 @ t0+10s
      clock.set(t0 + 20000)
      TxTable.delete(spark, root, $"id" <= 5)           // v2 @ t0+20s
    } finally TxTable.commitClock = () => System.currentTimeMillis()
    // the Delta rule: latest commit whose timestamp is ≤ the instant
    assert(TxTable.versionAtTimestamp(root, t0) == 0L)
    assert(TxTable.versionAtTimestamp(root, t0 + 9999) == 0L)
    assert(TxTable.versionAtTimestamp(root, t0 + 10000) == 1L)
    assert(TxTable.versionAtTimestamp(root, t0 + 15000) == 1L)
    assert(TxTable.versionAtTimestamp(root, t0 + 999999999L) == 2L)
    // before the first commit there is no table state to serve: refuse
    val eEarly = intercept[IllegalArgumentException] {
      TxTable.versionAtTimestamp(root, t0 - 1)
    }
    assert(eEarly.getMessage.contains("before the first commit"))
    // history answers "when": the audit column carries the commit clock
    val h = TxTable.history(spark, root).collect().map(r =>
      r.getAs[Long]("version") ->
        Option(r.getAs[java.sql.Timestamp]("timestamp")).map(_.getTime)).toMap
    assert(h == Map(0L -> Some(t0), 1L -> Some(t0 + 10000), 2L -> Some(t0 + 20000)))
    // the connector spelling: timestampAsOf reads the resolved snapshot
    assert(spark.read.format("graft-tx")
      .option("timestampAsOf", (t0 + 15000).toString).load(root).count() == 20)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("timestampAsOf", (t0 + 15000).toString)
        .option("versionAsOf", "0").load(root).collect()
    }: Unit
    // SQL TIMESTAMP AS OF through the catalog (micros arrive from Spark)
    val p = java.nio.file.Paths.get(root)
    spark.conf.set("spark.sql.catalog.graft_ts", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_ts.root", p.getParent.toString)
    val t = s"graft_ts.`${p.getFileName}`"
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val litTs = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(t0 + 15000), zone)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF '$litTs'")
      .head().getLong(0) == 20L)
    // CDF timestamp bounds (r15, the Delta startingTimestamp/
    // endingTimestamp spelling): a STARTING instant between commits
    // starts at the NEXT commit ("changes since this instant" never
    // replays an earlier commit); an ENDING instant takes
    // latest-at-or-before; before-first STARTS at 0 ("everything since")
    def feedCount(opts: (String, String)*): Long = {
      val r = spark.read.format("graft-tx").option("readChangeFeed", "true")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
        .load(root).count()
    }
    // v0 inserts 10, v1 inserts 10, v2 deletes 5
    assert(feedCount("startingTimestamp" -> (t0 + 10000).toString) == 15L)
    assert(feedCount("startingTimestamp" -> (t0 + 10001).toString) == 5L)
    assert(feedCount("startingTimestamp" -> (t0 - 5000).toString) == 25L)
    assert(feedCount("startingVersion" -> "0",
      "endingTimestamp" -> (t0 + 15000).toString) == 20L)
    intercept[IllegalArgumentException] {
      feedCount("startingVersion" -> "0",
        "startingTimestamp" -> t0.toString)
    }: Unit
    intercept[IllegalArgumentException] {
      feedCount("startingTimestamp" -> t0.toString,
        "endingVersion" -> "1", "endingTimestamp" -> (t0 + 10000).toString)
    }: Unit
    // pre-timestamp commits (r14-and-older logs) resolve by commit-file
    // mtime — the Delta fallback — monotonized against their neighbors
    val v1File = java.nio.file.Paths.get(root, "_log", f"${1L}%020d.json")
    val txt = new String(java.nio.file.Files.readAllBytes(v1File), "UTF-8")
    val stripped = txt.replaceFirst(""""ts":\d+,""", "")
    assert(stripped != txt, "fixture commit carried no ts to strip")
    java.nio.file.Files.write(v1File, stripped.getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(v1File,
      java.nio.file.attribute.FileTime.fromMillis(t0 + 10000))
    assert(TxTable.versionAtTimestamp(root, t0 + 15000) == 1L)
  }

  test("SQL CREATE TABLE refuses NOT NULL columns loudly, naming them") {
    val base = freshRoot()
    spark.conf.set("spark.sql.catalog.graft_nn", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_nn.root", base)
    val e = intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE graft_nn.t_nn " +
        "(id BIGINT NOT NULL, tag STRING, value BIGINT NOT NULL)")
    }
    assert(e.getMessage.contains("id") && e.getMessage.contains("value") &&
      e.getMessage.contains("NOT NULL"), e.getMessage)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(base, "t_nn", "_log")),
      "refused CREATE TABLE must leave no table behind")
    // the constraint-free form still creates
    spark.sql("CREATE TABLE graft_nn.t_ok (id BIGINT, tag STRING)"): Unit
    assert(spark.sql("SELECT * FROM graft_nn.t_ok").count() == 0)
  }

  test("atomic CTAS (r15): a racing reader sees no table or the complete one, never a partial/empty middle; REPLACE refuses") {
    val base = java.nio.file.Files.createTempDirectory("graft_actas").toString
    spark.conf.set("spark.sql.catalog.graft_act", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_act.root", base)
    val troot = s"$base/default/slow"
    // a source whose rows take real wall-clock to produce, so the staged
    // write is racomfortably observable from the polling thread
    val slow = org.apache.spark.sql.functions.udf { (id: Long) =>
      Thread.sleep(30); id
    }
    spark.udf.register("graft_slow_id", slow)
    spark.range(0, 64, 1, 8).createOrReplaceTempView("graft_actas_src")
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var done = false
    @volatile var readerFailure: Option[String] = None
    val reader = new Thread(() => {
      while (!done) {
        try {
          if (spark.catalog.tableExists("graft_act.default.slow")) {
            val n = spark.table("graft_act.default.slow").count()
            observed.add(n): Unit
            if (n != 64L)
              readerFailure = Some(s"saw a PARTIAL table: $n of 64 rows")
          }
        } catch {
          case _: InterruptedException => ()
          case e: Exception =>
            readerFailure = Some(s"reader threw mid-race: ${e.getMessage}")
        }
        Thread.sleep(10)
      }
    })
    reader.start()
    try spark.sql("CREATE TABLE graft_act.default.slow AS " +
      "SELECT graft_slow_id(id) AS id FROM graft_actas_src"): Unit
    finally { done = true; reader.join(5000) }
    assert(readerFailure.isEmpty, readerFailure.getOrElse(""))
    // the committed table: ONE v0 commit, complete
    assert(TxTable.commits(troot).map(_.op) == Seq("create"))
    assert(TxTable.read(spark, troot).count() == 64L)
    // REPLACE TABLE refuses (displacing a commit log's history), both
    // spellings; CREATE OR REPLACE of a FRESH ident still creates
    val eRep = intercept[UnsupportedOperationException] {
      spark.sql("REPLACE TABLE graft_act.default.slow AS SELECT 1 AS one")
    }
    assert(eRep.getMessage.contains("history"), eRep.getMessage)
    intercept[UnsupportedOperationException] {
      spark.sql("CREATE OR REPLACE TABLE graft_act.default.slow " +
        "AS SELECT 1 AS one")
    }: Unit
    spark.sql("CREATE OR REPLACE TABLE graft_act.default.fresh2 " +
      "AS SELECT 7L AS id"): Unit
    assert(TxTable.read(spark, s"$base/default/fresh2").count() == 1L)
  }

  test("batch write through the registered source (r15): SaveMode semantics land as format commits") {
    val root = freshRoot()
    val df = frame(1 to 10, "a")
    // Append creates on first write
    df.write.format("graft-tx").mode("append").save(root)
    assert(TxTable.commits(root).map(_.op) == Seq("append"))
    // second Append appends
    frame(11 to 15, "b").write.format("graft-tx").mode("append").save(root)
    assert(TxTable.read(spark, root).count() == 15L)
    // Overwrite is the ATOMIC one-commit displacement (removes-all + adds)
    frame(21 to 24, "c").write.format("graft-tx").mode("overwrite").save(root)
    val ow = TxTable.commits(root).last
    assert(ow.op == "overwrite" && ow.removes.nonEmpty && ow.adds.nonEmpty)
    assert(TxTable.read(spark, root).select(sum($"id")).head().getLong(0) ==
      (21L to 24L).sum)
    // ... with the pre-overwrite snapshot still travelable
    assert(TxTable.read(spark, root, Some(ow.version - 1)).count() == 15L)
    // ErrorIfExists refuses on ANY commit; Ignore no-ops
    intercept[Exception] {
      frame(1 to 2, "x").write.format("graft-tx")
        .mode("errorifexists").save(root)
    }: Unit
    val vBefore = TxTable.commits(root).last.version
    frame(1 to 2, "x").write.format("graft-tx").mode("ignore").save(root)
    assert(TxTable.commits(root).last.version == vBefore,
      "SaveMode.Ignore must not commit against an existing table")
    // ErrorIfExists / Ignore WRITE when the table does not exist
    val root2 = freshRoot()
    frame(1 to 3, "y").write.format("graft-tx").mode("errorifexists").save(root2)
    assert(TxTable.read(spark, root2).count() == 3L)
    // partitionBy refuses like every write surface of the format
    intercept[Exception] {
      frame(1 to 2, "z").write.format("graft-tx").partitionBy("tag")
        .mode("append").save(freshRoot())
    }: Unit
  }

  test("ALTER TABLE ADD COLUMNS (r15): a metadata-only schema commit; old files NULL-fill; refusals are loud") {
    val base = java.nio.file.Files.createTempDirectory("graft_alter").toString
    spark.conf.set("spark.sql.catalog.graft_al", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_al.root", base)
    val troot = s"$base/default/ev"
    TxTable.append(spark, troot, frame(1 to 10, "a"))
    val t = "graft_al.default.ev"
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (score DOUBLE, note STRING)"): Unit
    // the commit is METADATA-ONLY: no file actions, dataChange=false,
    // and the change feed's row-accounting proof accepts it as changeless
    val c = TxTable.commits(troot).last
    assert(c.op == "schema_evolve" && c.adds.isEmpty && c.removes.isEmpty &&
      !c.dataChange && c.schemaJson.isDefined)
    assert(TxTable.readChanges(spark, troot, c.version, Some(c.version))
      .count() == 0L)
    // pre-evolution files read NULL-filled under the widened schema,
    // through the library, SQL, and connector alike
    assert(TxTable.read(spark, troot).columns.toSeq ==
      Seq("id", "tag", "value", "score", "note"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE score IS NULL")
      .head().getLong(0) == 10L)
    assert(spark.read.format("graft-tx").load(troot)
      .where($"note".isNull).count() == 10L)
    // post-evolution writes carry the new columns
    spark.sql(s"INSERT INTO $t VALUES (11, 'b', 110, 0.5, 'n')"): Unit
    assert(spark.sql(s"SELECT sum(score) AS s FROM $t").head().getDouble(0)
      == 0.5)
    // time travel BEFORE the evolution still reads the narrow schema
    assert(TxTable.read(spark, troot, Some(c.version - 1)).columns.toSeq ==
      Seq("id", "tag", "value"))
    // refusals: NOT NULL, DEFAULT, existing column, non-ADD changes
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (must BIGINT NOT NULL)")
    }: Unit
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (defd BIGINT DEFAULT 7)")
    }: Unit
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (id BIGINT)")
    }: Unit
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN tag TO label")
    }: Unit
    // the refused statements committed nothing
    assert(TxTable.commits(troot).count(_.op == "schema_evolve") == 1)
  }

  test("a failed mutation job leaves no staging residue (r15): temp dirs and staged files all unstage") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 10, "a")) // values 10..100
    def residue(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val top = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      val data = java.nio.file.Files.list(
          java.nio.file.Paths.get(root, "data"))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      (top.filter(_.startsWith(".stage")) ++ data).sorted
    }
    val before = residue()
    // the assignment throws MID-JOB on value >= 80 (assert_true), inside
    // the change-capture write — the first distributed job update runs
    intercept[Exception] {
      TxTable.update(spark, root, lit(true),
        Map("value" -> (col("value") +
          expr("assert_true(value < 80, 'boom')").cast("long"))))
    }: Unit
    assert(residue() == before,
      s"failed update left staging residue: ${residue().diff(before)}")
    // same discipline on a failed delete predicate evaluated in the
    // rewrite/count jobs
    intercept[Exception] {
      TxTable.delete(spark, root,
        coalesce(expr("assert_true(value < 80, 'boom')").cast("boolean"),
          lit(true)))
    }: Unit
    assert(residue() == before)
    assert(TxTable.read(spark, root).count() == 10L,
      "failed mutations must leave the table state untouched")
  }

  test("MERGE WITH SCHEMA EVOLUTION (r15): source columns widen the table as a schema_evolve commit; partial INSERT NULL-fills") {
    val base = java.nio.file.Files.createTempDirectory("graft_mse").toString
    val troot = s"$base/default/ev"
    TxTable.append(spark, troot, frame(1 to 6, "a"))
    spark.conf.set("spark.sql.catalog.graft_mse", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_mse.root", base)
    val t = "graft_mse.default.ev"
    Seq((2L, 20L, "n2"), (7L, 70L, "n7"))
      .toDF("id", "score", "note").createOrReplaceTempView("mse_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $t tgt USING mse_src s
         |ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET score = s.score, note = s.note
         |WHEN NOT MATCHED THEN INSERT (id, score, note)
         |  VALUES (s.id, s.score, s.note)""".stripMargin): Unit
    // the widening landed as the analyzer-driven ALTER: a metadata-only
    // schema_evolve commit, then the merge — two commits, evolution first
    val ops = TxTable.commits(troot).map(_.op)
    assert(ops == Seq("append", "schema_evolve", "merge"), ops.toString)
    val back = spark.sql(s"SELECT * FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[java.lang.Long]("score")),
        Option(r.getAs[String]("note")))).toSeq
    // matched row took the new columns; untouched rows NULL-backfill;
    // the inserted row NULL-fills the PRE-evolution columns it never named
    assert(back.find(_._1 == 2L).get == ((2L, Some(20L), Some("n2"))))
    assert(back.find(_._1 == 1L).get == ((1L, None, None)))
    assert(back.find(_._1 == 7L).get == ((7L, Some(70L), Some("n7"))))
    val ins = spark.sql(s"SELECT tag, value FROM $t WHERE id = 7").head()
    assert(ins.isNullAt(0) && ins.isNullAt(1),
      "partial INSERT must NULL-fill unassigned pre-evolution columns")
    // time travel BEFORE the evolution still reads the narrow schema
    assert(TxTable.read(spark, troot, Some(0)).columns.toSeq ==
      Seq("id", "tag", "value"))
    // a source column whose TYPE conflicts with an existing target column
    // is a non-additive change: the ALTER path refuses loudly, no commit
    Seq((1L, "oops")).toDF("id", "value").createOrReplaceTempView("mse_bad")
    val nCommits = TxTable.commits(troot).size
    intercept[Exception] {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $t tgt USING mse_bad s
           |ON tgt.id = s.id
           |WHEN MATCHED THEN UPDATE SET value = s.value""".stripMargin)
    }: Unit
    assert(TxTable.commits(troot).size == nCommits,
      "a refused evolution must commit nothing")
    // partial INSERT without evolution also NULL-fills (the Delta/Spark
    // alignment semantics); keys transform by pre-projecting the source
    spark.sql("SELECT id + 100 AS id, score FROM mse_src")
      .createOrReplaceTempView("mse_shift")
    spark.sql(
      s"""MERGE INTO $t tgt USING mse_shift s ON tgt.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, s.score)
         |""".stripMargin): Unit
    val p102 = spark.sql(s"SELECT tag, value, note FROM $t WHERE id = 102").head()
    assert(p102.isNullAt(0) && p102.isNullAt(1) && p102.isNullAt(2))
  }

  test("RESTORE (r15): a new commit reverts live set, schema, and vectors; CDF replays it; vacuumed states refuse; history survives") {
    val root = freshRoot()
    TxTable.append(spark, root, frame(1 to 20, "a")) // v0
    val v0 = TxTable.snapshot(root).version
    TxTable.delete(spark, root, $"id" <= 5L): Unit // v1: CoW rewrite
    TxTable.deleteMor(spark, root, $"id" === 10L): Unit // v2: vector on a live file
    TxTable.append(spark, root, frame(21 to 25, "b")
      .withColumn("extra", lit(1L))): Unit // v3: evolution + new file
    assert(TxTable.read(spark, root).columns.contains("extra"))
    // restore to v0: files revert, the post-v0 vector CLEARS (empty
    // replacement), the schema narrows back
    val rv = TxTable.restore(spark, root, v0)
    val back = TxTable.read(spark, root)
    assert(back.columns.toSeq == Seq("id", "tag", "value"))
    assert(back.collect().map(_.getAs[Long]("id")).sorted.toSeq ==
      (1L to 20L), "restored row set must be exactly v0's")
    val rc = TxTable.commits(root).last
    assert(rc.op == "restore" && rc.version == rv &&
      rc.metrics("restored_version") == v0)
    // restore is HISTORY-ADDITIVE: the pre-restore states still travel
    assert(TxTable.read(spark, root, Some(rv - 1)).count() == 20L - 5 - 1 + 5)
    assert(TxTable.read(spark, root, Some(rv - 1)).columns.contains("extra"))
    // CDF: the restore replays as delete-all-current + insert-all-restored
    val feed = TxTable.readChanges(spark, root, rv, Some(rv))
      .groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("delete" -> 19L, "insert" -> 20L), feed.toString)
    // restoring to the CURRENT version is a no-op (no commit)
    assert(TxTable.restore(spark, root, rv) == rv &&
      TxTable.commits(root).last.version == rv)
    // a nonexistent version refuses
    intercept[IllegalArgumentException] {
      TxTable.restore(spark, root, rv + 10)
    }: Unit
    // vacuum past a state, then try to restore INTO it: loud refusal
    // naming the reclaimed files, and NO commit happened
    val vPre = TxTable.commits(root).last.version
    TxTable.vacuum(root, vPre): Unit // reclaims v0-..-era displaced files
    val e = intercept[IllegalStateException] {
      TxTable.restore(spark, root, rv - 1)
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    assert(TxTable.commits(root).last.version == vPre,
      "failed restore must not commit")
  }

  test("CALL procedures (r15): compact / compact_zorder / vacuum / restore through SQL; unknown procedures refuse") {
    val base = java.nio.file.Files.createTempDirectory("graft_call").toString
    spark.conf.set("spark.sql.catalog.graft_pr", "graft.sources.TxCatalog")
    spark.conf.set("spark.sql.catalog.graft_pr.root", base)
    val troot = s"$base/default/ops"
    TxTable.append(spark, troot, frame(1 to 10, "a"))
    TxTable.append(spark, troot, frame(11 to 20, "b"))
    TxTable.append(spark, troot, frame(21 to 30, "c"))
    assert(TxTable.snapshot(troot).liveFiles.size > 1)
    // compact via CALL: one layout-only commit, row set untouched
    val cv = spark.sql(
      "CALL graft_pr.compact(`table` => 'default.ops', target_files => 1)")
      .head().getLong(0)
    assert(TxTable.commits(troot).last.op == "compact" &&
      TxTable.commits(troot).last.version == cv)
    assert(TxTable.snapshot(troot).liveFiles.size == 1)
    assert(TxTable.read(spark, troot).count() == 30L)
    // restore via CALL: back to the pre-compact version's state (same
    // rows — compaction is layout surgery — but the FILE SET reverts)
    val restored = spark.sql(
      s"CALL graft_pr.restore('default.ops', ${cv - 1})").head()
    assert(restored.getLong(0) == cv - 1 && restored.getLong(1) == cv + 1)
    assert(TxTable.snapshot(troot).liveFiles.size > 1)
    assert(TxTable.read(spark, troot).count() == 30L)
    // vacuum via CALL: retention from the restore commit reclaims the
    // compacted file (live only in the vacuumed-away middle state)
    val reclaimed = spark.sql(
      s"CALL graft_pr.vacuum('default.ops', keep_from_version => ${cv + 1})")
      .head().getLong(0)
    assert(reclaimed >= 1L, s"expected the compacted file reclaimed, got $reclaimed")
    assert(TxTable.read(spark, troot).count() == 30L)
    // compact_zorder via CALL
    val zv = spark.sql(
      "CALL graft_pr.compact_zorder('default.ops', 2, 'id', 'value')")
      .head().getLong(0)
    assert(TxTable.commits(troot).last.version == zv &&
      TxTable.read(spark, troot).count() == 30L)
    // refusals: unknown procedure (naming the known set), unknown table
    // history via CALL — the DESCRIBE HISTORY analog as a procedure
    val hist = spark.sql("CALL graft_pr.history('default.ops')").collect()
    assert(hist.length == TxTable.commits(troot).size)
    assert(hist.map(_.getString(1)).toSet ==
      TxTable.commits(troot).map(_.op).toSet)
    assert(hist.forall(r => r.getTimestamp(2) != null),
      "r15 commits must all carry a wall clock")
    // Spark wraps the load failure (FAILED_TO_LOAD_ROUTINE); our refusal
    // naming the known set rides the cause chain
    val eUnknown = intercept[Exception] {
      spark.sql("CALL graft_pr.frobnicate('default.ops')")
    }
    val msgs = Iterator.iterate(eUnknown: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("compact"), msgs)
    intercept[Exception] {
      spark.sql("CALL graft_pr.compact(`table` => 'default.nosuch')")
    }: Unit
  }
}

/** Per-row evaluation counts behind AcidSpec's drifting merge source:
  * a static home, so every local task sees the same counts. */
private object DriftingKeys {
  val evals = new java.util.concurrent.ConcurrentHashMap[
    java.lang.Long, java.util.concurrent.atomic.AtomicInteger]()
}
