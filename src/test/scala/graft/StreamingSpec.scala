package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

case class Ev(ts: Timestamp, event_type: String)
case class Doc(ts: Timestamp, text_hash: String)
case class UserEv(event_id: Long, user_id: Long, ts: Timestamp)
case class TypedEv(event_id: Long, user_id: Long, event_type: String)
case class OrderEv(ts: java.time.LocalDateTime, price: Double) // NTZ, like o_orderdate

class StreamingSpec extends SparkSpec {

  test("streamingTumbling over MemoryStream matches the batch window result") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val data = Tables.events(spark, Sf)
      .select(col("ts"), col("event_type")).as[Ev].collect().toSeq
    val stream = MemoryStream[Ev]
    val q = StreamingOps.streamingTumbling(stream.toDF())
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = StreamingOps.tumblingCounts(spark, Sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streamingSession over MemoryStream matches the batch session_window result") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val data = Tables.events(spark, Sf)
      .select(col("ts"), col("user_id"))
      .collect().map(r => UserEv(0L, r.getLong(1), r.getTimestamp(0))).toSeq
    val maxTs = data.map(_.ts.getTime).max
    val stream = MemoryStream[UserEv]
    val q = StreamingOps.streamingSession(stream.toDF())
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      // append mode emits a session only once the watermark passes its end;
      // the watermark advances at batch BOUNDARIES, so push it past every
      // real session with two far-future sentinel events (filtered below)
      for (h <- 1 to 2) {
        stream.addData(UserEv(0L, -1L, new Timestamp(maxTs + h * 3600 * 1000L)))
        q.processAllAvailable()
      }
      val streamed = spark.table("session_test")
        .where(col("user_id") >= 0).collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2)) -> r.getLong(3)).toMap
      val batch = StreamingOps.sessionCounts(spark, Sf)
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2)) -> r.getAs[Long]("n_events")).toMap
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streamingTumbling over a file source matches the batch window result") {
    // the production-shaped source: files land in a directory, readStream
    // picks them up per micro-batch — the X-ST twin MemoryStream can't show
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val src = Tables.events(spark, Sf).select(col("ts"), col("event_type"))
    src.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "1") // force several micro-batches
      .parquet(dir)
    val q = StreamingOps.streamingTumbling(stream)
      .writeStream.format("memory").queryName("file_tumbling_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_tumbling_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = StreamingOps.tumblingCounts(spark, Sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join pairs errors with prior-10-minute clicks") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val clicks = MemoryStream[UserEv]
    val errors = MemoryStream[UserEv]
    val q = StreamingOps.streamingClicksBeforeErrors(
        clicks.toDF().select(col("user_id"), col("ts")),
        errors.toDF())
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      clicks.addData(
        UserEv(100L, 1L, t("2024-01-01 09:49:59")), // 601s before: out of range
        UserEv(101L, 1L, t("2024-01-01 09:50:00")), // exactly -600s: in
        UserEv(102L, 1L, t("2024-01-01 09:59:59")), // -1s: in
        UserEv(103L, 1L, t("2024-01-01 10:00:00")), // same second: excluded
        UserEv(104L, 2L, t("2024-01-01 10:00:00"))) // other user
      errors.addData(
        UserEv(5L, 1L, t("2024-01-01 10:00:00")),
        UserEv(7L, 2L, t("2024-01-01 09:00:00")))
      q.processAllAvailable()
      // advance both watermarks past the join range so append rows emit
      clicks.addData(UserEv(110L, 9L, t("2024-01-01 11:00:00")))
      errors.addData(UserEv(111L, 9L, t("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val pairs = spark.table("ssj_test")
        .collect().map(r => (r.getLong(0), r.getTimestamp(3).toString)).toSet
      assert(pairs == Set(
        (5L, "2024-01-01 09:50:00.0"),
        (5L, "2024-01-01 09:59:59.0")))
    } finally q.stop()
  }

  test("stream-static enrich: broadcast dim decorates the stream, stateless") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "segment")
    val stream = MemoryStream[TypedEv]
    val q = StreamingOps.streamingEnrich(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        TypedEv(10L, 1L, "click"), TypedEv(11L, 2L, "error"),
        TypedEv(12L, 3L, "click") /* no dim row => dropped by inner join */))
      q.processAllAvailable()
      val got = spark.table("enrich_test").collect()
        .map(r => (r.getLong(0), r.getString(3))).toSet
      assert(got == Set((10L, "GOLD"), (11L, "SILVER")))
      // stateless: no aggregation/join state rows tracked for this query
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("foreachBatch sink: micro-batch parquet appends reassemble the stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_febatch_").toString
    val stream = MemoryStream[TypedEv]
    val q = StreamingOps.foreachBatchParquetSink(stream.toDF(), out)
    try {
      stream.addData(TypedEv(1L, 1L, "click"), TypedEv(2L, 1L, "error"))
      q.processAllAvailable()
      stream.addData(TypedEv(3L, 2L, "click"))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() == 3)
      // batch provenance is preserved: two distinct micro-batches landed
      assert(back.select("batch_id").distinct().count() == 2)
      assert(back.where(col("batch_id") === 1L).count() == 1)
    } finally {
      q.stop()
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(): Unit
      }
      rec(new java.io.File(out))
    }
  }

  test("streamingIncrementalMonthly: partial-merge view equals the batch aggregate") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_incmv_").toString
    val all = Tables.orders(spark, Sf)
      .select(col("o_orderdate"), col("o_totalprice"))
      .collect().map(r => OrderEv(r.getAs[java.time.LocalDateTime](0), r.getDouble(1)))
    val (b1, b2) = all.splitAt(all.length / 2)
    val stream = MemoryStream[OrderEv]
    val q = StreamingOps.streamingIncrementalMonthly(
      stream.toDF().withColumnRenamed("ts", "o_orderdate")
        .withColumnRenamed("price", "o_totalprice"), out)
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      // each micro-batch landed its own partial partition (idempotent replay unit)
      assert(spark.read.parquet(out).select("batch_id").distinct().count() == 2)
      // o_orderdate is TIMESTAMP_NTZ: month keys collect as LocalDateTime
      val view = StreamingOps.readIncrementalMonthly(spark, out)
        .collect().map(r => r.get(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = Tables.orders(spark, Sf)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("t"))
        .collect().map(r => r.get(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(view == batch && view.nonEmpty) // decimal partials merge EXACTLY
    } finally {
      q.stop()
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(): Unit
      }
      rec(new java.io.File(out))
    }
  }

  test("streamingDedup drops repeated hashes within the watermark horizon") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Doc]
    val q = StreamingOps.streamingDedup(stream.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      stream.addData(
        Doc(Timestamp.valueOf("2024-01-01 10:00:00"), "h1"),
        Doc(Timestamp.valueOf("2024-01-01 10:00:05"), "h1"), // dup, same batch
        Doc(Timestamp.valueOf("2024-01-01 10:00:10"), "h2"))
      q.processAllAvailable()
      stream.addData(
        Doc(Timestamp.valueOf("2024-01-01 10:05:00"), "h1"), // dup, later batch
        Doc(Timestamp.valueOf("2024-01-01 10:05:01"), "h3"))
      q.processAllAvailable()
      val kept = spark.table("dedup_test")
        .collect().map(_.getString(1)).sorted.toSeq
      assert(kept == Seq("h1", "h2", "h3"))
    } finally q.stop()
  }

  test("watermark drops late rows in append mode") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Ev]
    val q = StreamingOps.streamingTumbling(stream.toDF())
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      stream.addData(Ev(Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
      q.processAllAvailable()
      // advance watermark far past the first window, then send a late row
      stream.addData(Ev(Timestamp.valueOf("2024-01-02 10:00:00"), "a"))
      q.processAllAvailable()
      stream.addData(Ev(Timestamp.valueOf("2024-01-01 10:30:00"), "a")) // late
      stream.addData(Ev(Timestamp.valueOf("2024-01-02 11:30:00"), "a")) // on time
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2)))
      // the 10:00 window closed with exactly 1 row; the late 10:30 row was dropped
      assert(rows.contains(("2024-01-01 10:00:00.0", 1L)))
    } finally q.stop()
  }

  test("log sink writes full log + error split (S4 dual writer)") {
    val out = java.nio.file.Files.createTempDirectory("graft_log").toString
    val (all, errs) = StreamingOps.writeLogSink(spark, Sf, out)
    val allBack = spark.read.parquet(s"$out/log_all").count()
    val errBack = spark.read.parquet(s"$out/log_error").count()
    assert(allBack == all && errBack == errs && errs < all)
    assert(spark.read.parquet(s"$out/log_error")
      .where(col("level") =!= "ERROR").count() == 0)
  }

  test("pollUntilUp: stateful poll emits up after retries, keeps polling nodes silent (ST1)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{Probe, PollResult}
    val stream = MemoryStream[Probe]
    val q = StreamingOps.pollUntilUp(stream.toDS())
      .writeStream.format("memory").queryName("poll_test")
      .outputMode("append").start()
    try {
      // NOTE: processAllAvailable() is unusable here — once any group holds
      // a processing-time timeout, every micro-batch reports it "requires
      // another batch" for the timeout check, so the engine re-batches
      // continuously and the no-new-data condition never sticks. Poll the
      // sink with a deadline instead.
      // batch 1: both nodes down — no terminal rows, state accumulates;
      // batch 2: n1 comes up on its second probe; n2 still down.
      // attempts == 2 holds whether the engine sees one micro-batch or two.
      stream.addData(Probe("n1", is_up = false), Probe("n2", is_up = false))
      stream.addData(Probe("n1", is_up = true), Probe("n2", is_up = false))
      val deadline = System.currentTimeMillis() + 90000
      while (spark.table("poll_test").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val out = spark.table("poll_test").as[PollResult].collect()
      // n1 terminal after 2 probes; n2 (still polling, 300 s timeout) silent
      assert(out.toSeq == Seq(PollResult("n1", "up", 2)))
    } finally q.stop()
  }

  test("sessionCounts: session bounds contain their events, gap respected") {
    val sessions = StreamingOps.sessionCounts(spark, Sf)
      .where(col("user_id") === 7).orderBy(col("session_start")).collect()
    assert(sessions.nonEmpty)
    sessions.sliding(2).foreach {
      case Array(a, b) =>
        assert(!a.getTimestamp(1).after(b.getTimestamp(0))) // no overlap
      case _ =>
    }
  }
  test("streamingScd2: closed intervals match the batch SCD2 build (minus open ones)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{UserEvent, Scd2Closed}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(
      UserEvent(1L, t("2024-01-01 10:00:00"), 1L, "view"),
      UserEvent(1L, t("2024-01-01 10:05:00"), 2L, "view"),   // same state: extends
      UserEvent(2L, t("2024-01-01 10:00:00"), 3L, "signup"))
    val b2 = Seq(
      UserEvent(1L, t("2024-01-01 10:10:00"), 4L, "click"),  // closes view
      UserEvent(1L, t("2024-01-01 10:20:00"), 5L, "error"),  // closes click
      UserEvent(2L, t("2024-01-01 10:30:00"), 6L, "signup")) // same state: extends
    val stream = MemoryStream[UserEvent]
    val q = StreamingOps.streamingScd2(stream.toDS())
      .writeStream.format("memory").queryName("scd2_test")
      .outputMode("append").start()
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("scd2_test").as[Scd2Closed].collect()
        .map(c => (c.user_id, c.state, c.valid_from, c.valid_to)).toSet
      assert(got == Set(
        (1L, "view", t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00")),
        (1L, "click", t("2024-01-01 10:10:00"), t("2024-01-01 10:20:00"))))
      // user 2 and user 1's "error" stay open — in state, not in the sink
    } finally q.stop()
  }

  test("streamingScd2 drops and counts cross-batch late events instead of corrupting history") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{UserEvent, Scd2Closed}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val late = spark.sparkContext.longAccumulator("scd2_late")
    val stream = MemoryStream[UserEvent]
    val q = StreamingOps.streamingScd2(stream.toDS(), Some(late))
      .writeStream.format("memory").queryName("scd2_late_test")
      .outputMode("append").start()
    try {
      stream.addData(UserEvent(1L, t("2024-01-01 10:00:00"), 1L, "view"),
        UserEvent(1L, t("2024-01-01 10:10:00"), 2L, "click"))
      q.processAllAvailable()
      // out-of-contract: older than user 1's max applied event time —
      // would retroactively split the already-closed "view" interval
      stream.addData(UserEvent(1L, t("2024-01-01 10:05:00"), 3L, "error"),
        UserEvent(1L, t("2024-01-01 10:20:00"), 4L, "view"))
      q.processAllAvailable()
      val got = spark.table("scd2_late_test").as[Scd2Closed].collect()
        .map(c => (c.user_id, c.state, c.valid_from, c.valid_to)).toSet
      // history is exactly what the in-contract events produce
      assert(got == Set(
        (1L, "view", t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00")),
        (1L, "click", t("2024-01-01 10:10:00"), t("2024-01-01 10:20:00"))))
      assert(late.value == 1L) // and the drop is observable
    } finally q.stop()
  }
  test("streamingFunnel: hand-built batches — ordered advances only, cross-batch state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{UserEvent, FunnelAdvance}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(
      UserEvent(1L, t("2024-01-01 10:00:00"), 1L, "view"),
      UserEvent(2L, t("2024-01-01 09:00:00"), 2L, "click"), // pre-view click: no advance
      UserEvent(2L, t("2024-01-01 10:00:00"), 3L, "view"))
    val b2 = Seq(
      UserEvent(1L, t("2024-01-01 10:05:00"), 4L, "click"),    // cross-batch advance
      UserEvent(1L, t("2024-01-01 10:06:00"), 5L, "purchase"), // completes the funnel
      UserEvent(2L, t("2024-01-01 10:30:00"), 6L, "purchase")) // skipping click: no advance
    val stream = MemoryStream[UserEvent]
    val q = StreamingOps.streamingFunnel(stream.toDS())
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode("append").start()
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("funnel_test").as[FunnelAdvance].collect()
        .map(a => (a.user_id, a.stage, a.ts)).toSet
      assert(got == Set(
        (1L, "view", t("2024-01-01 10:00:00")),
        (1L, "click", t("2024-01-01 10:05:00")),
        (1L, "purchase", t("2024-01-01 10:06:00")),
        (2L, "view", t("2024-01-01 10:00:00"))))
    } finally q.stop()
  }

  test("streamingFunnel on the corpus replayed in order matches the batch funnel counts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{UserEvent, FunnelAdvance}
    // the corpus, replayed in event-time order (the per-user delivery contract)
    val all = Tables.events(spark, Sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .as[UserEvent].collect()
    val (h1, h2) = all.splitAt(all.length / 2)
    val stream = MemoryStream[UserEvent]
    val q = StreamingOps.streamingFunnel(stream.toDS())
      .writeStream.format("memory").queryName("funnel_corpus_test")
      .outputMode("append").start()
    try {
      stream.addData(h1.toSeq: _*); q.processAllAvailable()
      stream.addData(h2.toSeq: _*); q.processAllAvailable()
      val advances = spark.table("funnel_corpus_test").as[FunnelAdvance].collect()
      val byStage = advances.groupBy(_.stage).view.mapValues(_.length).toMap
      val batch = operators.TimeSeriesOps.funnelSteps(spark, Sf).collect().head
      assert(byStage.getOrElse("view", 0) == batch.getLong(1))
      assert(byStage.getOrElse("click", 0) == batch.getLong(2))
      assert(byStage.getOrElse("purchase", 0) == batch.getLong(3))
    } finally q.stop()
  }

  test("streamingClusterAssign: corpus replay matches the batch k-means assignment exactly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.SimilarityOps
    val centroids = SimilarityOps.kmeansCentroids(spark, Sf)
    val batch = SimilarityOps.kmeansAssignments(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .as[(Long, Seq[Double])].collect()
    val (h1, h2) = vecs.splitAt(vecs.length / 2)
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.streamingClusterAssign(
        stream.toDS().toDF("vec_id", "embedding"), centroids)
      .writeStream.format("memory").queryName("assign_test")
      .outputMode("append").start()
    try {
      stream.addData(h1.toSeq: _*); q.processAllAvailable()
      stream.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("assign_test").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == vecs.length)
      assert(got == batch)
    } finally q.stop()
  }

  test("streamingHeavyKeys: windowed MG candidates cover each window's true heavy keys") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    import graft.streaming.StreamingOps.UserEvent
    def ev(ts: java.sql.Timestamp, key: Long, id: Long) = UserEvent(key, ts, id, "click")
    // hour 10: key 1 dominates; hour 11: key 2 dominates; long tails differ
    val h10 = (1 to 40).map(i => ev(t("2024-01-01 10:15:00"), 1L, i.toLong)) ++
      (1 to 20).map(i => ev(t("2024-01-01 10:30:00"), 100L + i, 100L + i))
    val h11 = (1 to 30).map(i => ev(t("2024-01-01 11:10:00"), 2L, 300L + i)) ++
      (1 to 15).map(i => ev(t("2024-01-01 11:40:00"), 200L + i, 400L + i))
    // watermark-advancing tail event far past both windows
    val tail = Seq(ev(t("2024-01-01 13:00:00"), 999L, 999L))
    val stream = MemoryStream[UserEvent]
    val q = StreamingOps.streamingHeavyKeys(stream.toDS().toDF(), capacity = 8)
      .writeStream.format("memory").queryName("mg_test")
      .outputMode("append").start()
    try {
      stream.addData(h10: _*); q.processAllAvailable()
      stream.addData(h11: _*); q.processAllAvailable()
      stream.addData(tail: _*); q.processAllAvailable()
      val rows = spark.table("mg_test").collect()
        .map(r => r.getTimestamp(0) -> r.getSeq[Long](1).toSet).toMap
      // both closed windows emitted; each window's dominant key survives
      assert(rows.get(t("2024-01-01 10:00:00")).exists(_.contains(1L)))
      assert(rows.get(t("2024-01-01 11:00:00")).exists(_.contains(2L)))
      rows.values.foreach(ks => assert(ks.size <= 8))
    } finally q.stop()
  }

  test("streamingPrioritySample: admits-minus-evicts reconstructs the batch top-k per segment") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{OrderArrival, SampleChange}
    val K = 10
    val all = Tables.orders(spark, Sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .as[OrderArrival].collect()
    val (h1, h2) = all.splitAt(all.length / 2)
    val stream = MemoryStream[OrderArrival]
    val q = StreamingOps.streamingPrioritySample(stream.toDS(), K)
      .writeStream.format("memory").queryName("psample_test")
      .outputMode("append").start()
    try {
      stream.addData(h1.toSeq: _*); q.processAllAvailable()
      stream.addData(h2.toSeq: _*); q.processAllAvailable()
      val changes = spark.table("psample_test").as[SampleChange].collect()
      // (filter + keySet, NOT Map.collect returning the tuple key — that
      // resolves to the Map-building overload and keeps one key per segment)
      val finalSample = changes.groupBy(c => (c.segment, c.o_orderkey))
        .filter { case (_, cs) => cs.map(_.change).toSet == Set("admit") }
        .keySet
      // driver-side recompute: per-segment top-K by (-q, key)
      def pri(key: Long, w: Double) =
        w * 16777216.0 / (graft.functions.MinHashAgg.h24(s"ps:$key") + 1)
      val expect = all.groupBy(_.o_orderpriority).toSeq.flatMap { case (seg, os) =>
        os.toSeq.map(o => (pri(o.o_orderkey, o.o_totalprice), o.o_orderkey))
          .sortBy { case (p, k) => (-p, k) }.take(K)
          .map { case (_, k) => (seg, k) }
      }.toSet
      assert(finalSample == expect)
      // every eviction was once admitted (delta-log consistency)
      val evicted = changes.filter(_.change == "evict")
        .map(c => (c.segment, c.o_orderkey)).toSet
      val admitted = changes.filter(_.change == "admit")
        .map(c => (c.segment, c.o_orderkey)).toSet
      assert(evicted.subsetOf(admitted))
    } finally q.stop()
  }

  test("streamingEwma: in-order replay of the daily series reproduces the batch table") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.{DayRevenue, EwmaPoint}
    import org.apache.spark.sql.functions._
    val batch = graft.operators.TimeSeriesOps.ewmaDaily(spark, Sf)
      .orderBy(col("day")).collect()
      .map(r => (r.getDate(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    // replay the exact daily series in two micro-batches
    val (h1, h2) = batch.map(b => DayRevenue("orders", b._1, b._2)).splitAt(batch.length / 2)
    val stream = MemoryStream[DayRevenue]
    val q = StreamingOps.streamingEwma(stream.toDS())
      .writeStream.format("memory").queryName("ewma_test")
      .outputMode("append").start()
    try {
      stream.addData(h1: _*); q.processAllAvailable()
      stream.addData(h2: _*); q.processAllAvailable()
      val got = spark.table("ewma_test").as[EwmaPoint].collect()
        .map(p => p.day -> ((p.revenue, p.kernel_days.toLong, p.ewma))).toMap
      assert(got.size == batch.length)
      batch.foreach { case (day, rev, kd, ewma) =>
        val (gRev, gKd, gEwma) = got(day)
        assert(gRev == rev && gKd == kd, s"day $day kernel")
        // both sides are exact decimal chains over the same quantized
        // kernel (the r8 determinism fix) — bit-identical, no tolerance
        assert(gEwma == ewma, s"day $day ewma: $gEwma != $ewma")
      }
      // a late day older than the state window emits with its own partial
      // kernel but must not disturb the already-bounded state
      val lateDay = java.sql.Date.valueOf(
        batch.head._1.toLocalDate.minusDays(400))
      stream.addData(DayRevenue("orders", lateDay, 42.0)); q.processAllAvailable()
      val lateRow = spark.table("ewma_test").as[EwmaPoint].collect()
        .find(_.day == lateDay).get
      assert(lateRow.kernel_days == 1 &&
        math.abs(lateRow.ewma - BigDecimal(0.2 * 42.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    } finally q.stop()
  }

  test("streamingIncrementalDedup: corpus replay against the persisted index matches the batch run exactly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    // ground truth: the batch incremental run (odd batch vs even index)
    val batch = DedupOps.incrementalDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(batch.nonEmpty)
    // today's batch arrives as a stream, split across micro-batches
    val arriving = Tables.documents(spark, Sf)
      .where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (h1, h2) = arriving.splitAt(arriving.length / 2)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingIncrementalDedup(
      stream.toDF().toDF("doc_id", "text"), Sf)
      .writeStream.format("memory").queryName("incdedup_test")
      .outputMode("append").start()
    try {
      stream.addData(h1.toSeq: _*); q.processAllAvailable()
      stream.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("incdedup_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      // stateless per-arrival retrieval + verify reproduces the batch
      // result set EXACTLY — same pairs, same exact counts, same jaccard
      assert(got == batch,
        s"stream-only: ${(got -- batch).take(3)}; batch-only: ${(batch -- got).take(3)}")
      // and each pair emitted exactly once (the per-row array_distinct
      // stands in for the batch plan's post-band-join distinct)
      assert(spark.table("incdedup_test").count() == got.size)
    } finally q.stop()
  }

  test("exactlyOnceSink: a live stream sinks through appendOnce; redelivery no-ops") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_xonce").toString
    val stream = MemoryStream[(Long, String)]
    val sink = StreamingOps.exactlyOnceSink(root, "spec_app")
    val q = stream.toDF().toDF("id", "tag").writeStream.foreachBatch(sink).start()
    try {
      stream.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      stream.addData((3L, "c")); q.processAllAvailable()
      val before = TxTable.read(spark, root).collect()
        .map(_.toString).sorted.toSeq
      val vBefore = TxTable.snapshot(root).version
      assert(before.size == 3)
      // the crash-redelivery every at-least-once source produces: the SAME
      // batchId arrives again with the same data — row set and version
      // must be untouched
      sink(Seq((3L, "c")).toDF("id", "tag"), 1L)
      val after = TxTable.read(spark, root).collect()
        .map(_.toString).sorted.toSeq
      assert(after == before && TxTable.snapshot(root).version == vBefore)
      // a genuinely new batch id still appends
      sink(Seq((4L, "d")).toDF("id", "tag"), 2L)
      assert(TxTable.read(spark, root).count() == 4L)
      // provenance: one stream_append per DISTINCT batch, txn ids recorded
      val cs = TxTable.snapshot(root).commits
      assert(cs.map(_.op).forall(_ == "stream_append"))
      assert(cs.flatMap(_.txn).map(_._2) == Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("streamingIncrementalDedup: index compaction mid-stream cannot disturb the replay (reader isolation)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    import graft.sources.TxTable
    // a private index table: v0 = the even-doc band index in 4 small files
    // (the staged-table shape, but owned by this test so the mid-stream
    // compaction does not add versions to the shared staged history)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_idx").toString
    TxTable.append(spark, root,
      DedupOps.minhashBands(spark, Sf).where(col("doc_id") % 2 === 0)
        .repartition(4), op = "index_batch0")
    val batch = DedupOps.incrementalDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    val arriving = Tables.documents(spark, Sf)
      .where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (h1, h2) = arriving.splitAt(arriving.length / 2)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingIncrementalDedup(
      stream.toDF().toDF("doc_id", "text"), Sf, indexRoot = Some(root))
      .writeStream.format("memory").queryName("incdedup_compact_test")
      .outputMode("append").start()
    try {
      stream.addData(h1.toSeq: _*); q.processAllAvailable()
      // the daily maintenance pass lands BETWEEN micro-batches: the whole
      // layout rewrites into band-clustered files at v1 — exactly what a
      // 100-TB deployment does under live readers. v0's files stay on disk
      // (only vacuum retires them), so the stream's pinned snapshot is
      // untouched.
      val v = TxTable.compact(spark, root, targetFiles = 2,
        sortCols = Seq("band_no", "band_key"))
      assert(v == 1L && TxTable.snapshot(root).commits.last.op == "compact")
      stream.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("incdedup_compact_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(got == batch,
        s"stream-only: ${(got -- batch).take(3)}; batch-only: ${(batch -- got).take(3)}")
      // a NEW reader built after the churn sees the identical v0 snapshot
      // through the longer log — time travel is the isolation mechanism
      assert(TxTable.read(spark, root, asOf = Some(0L)).count() ==
        TxTable.read(spark, root).count())
    } finally q.stop()
  }

  test("graft-tx-changes: a streaming query consumes the commit log incrementally; versions are offsets") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_cdf_stream").toString
    def frame(ids: Range, tag: String) =
      ids.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "value")
    TxTable.append(spark, root, frame(1 to 20, "a").repartition(2)) // v0 pre-stream
    val q = StreamingOps.changeFeedStream(spark, root)
      .writeStream.format("memory").queryName("cdf_stream")
      .outputMode("append").start()
    def sink(): Set[(Long, String, Long)] =
      spark.table("cdf_stream").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"),
          r.getAs[Long]("_commit_version"))).toSet
    try {
      q.processAllAvailable()
      assert(sink().count(t => t._3 == 0L && t._2 == "insert") == 20)
      TxTable.delete(spark, root, col("id") <= 5)                   // v1
      q.processAllAvailable()
      assert(sink().filter(_._3 == 1L) ==
        (1L to 5L).map((_, "delete", 1L)).toSet)
      TxTable.merge(spark, root,                                    // v2
        Seq((6L, "x", 600L), (100L, "n", 1L)).toDF("id", "tag", "value"),
        Seq("id"), Seq("value"))
      q.processAllAvailable()
      assert(sink().filter(_._3 == 2L) == Set(
        (6L, "update_preimage", 2L), (6L, "update_postimage", 2L),
        (100L, "insert", 2L)))
      TxTable.compact(spark, root, targetFiles = 1)                 // v3: layout only
      TxTable.deleteMor(spark, root, col("id") === 7L)              // v4: vector delete
      q.processAllAvailable()
      assert(sink().filter(_._3 == 3L).isEmpty, "compaction is not a change")
      assert(sink().filter(_._3 == 4L) == Set((7L, "delete", 4L)))
      // the stream's cumulative content IS the batch feed replay
      val batch = TxTable.readChanges(spark, root, 0L).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"),
          r.getAs[Long]("_commit_version"))).toSet
      assert(sink() == batch)
    } finally q.stop()
    // startVersion skips history: a late subscriber sees only v2+
    val q2 = StreamingOps.changeFeedStream(spark, root, startVersion = 2L)
      .writeStream.format("memory").queryName("cdf_stream_late")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val late = spark.table("cdf_stream_late").collect()
        .map(_.getAs[Long]("_commit_version")).toSet
      assert(late == Set(2L, 4L)) // v3's compaction contributes nothing
    } finally q2.stop()
  }

  test("graft-tx-changes: load(root) names the table, like every graft-tx surface") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_cdf_load").toString
    TxTable.append(spark, root,
      (1 to 12).map(i => (i.toLong, i * 10L)).toDF("id", "value"))
    val q = spark.readStream.format("graft-tx-changes").load(root)
      .writeStream.format("memory").queryName("cdf_stream_load")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_stream_load").where($"_change_type" === "insert")
        .count() == 12L)
    } finally q.stop()
  }

  test("graft-tx-changes: checkpoint recovery resumes after the last committed version, no redelivery") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_cdf_ckpt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdf_ckpt_loc").toString
    TxTable.append(spark, root,
      (1 to 20).map(i => (i.toLong, i * 10L)).toDF("id", "value"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    def run(): Unit = {
      val q = StreamingOps.changeFeedStream(spark, root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          b.collect().foreach(r => seen.add((r.getAs[Long]("_commit_version"),
            r.getAs[Long]("id"), r.getAs[String]("_change_type"))): Unit)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(seen.size == 20 && seen.asScala.forall(_._1 == 0L))
    // mutations land while NO query is running; the restarted query must
    // resume from the checkpointed version offset — v0 is not redelivered
    TxTable.delete(spark, root, col("id") <= 3)
    TxTable.deleteMor(spark, root, col("id") === 10L)
    run()
    val phase2 = seen.asScala.filter(_._1 > 0L).toSet
    assert(seen.size == 24, s"redelivery or loss: ${seen.size} rows total")
    assert(phase2 == Set((1L, 1L, "delete"), (1L, 2L, "delete"),
      (1L, 3L, "delete"), (2L, 10L, "delete")))
  }

  test("graft-tx-changes: maxVersionsPerTrigger pages a long backlog; the bounded batches concatenate to the unbounded replay") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_cdf_rate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdf_rate_ckpt").toString
    (0 until 7).foreach { v =>
      TxTable.append(spark, root,
        Seq((v.toLong, s"t$v")).toDF("id", "tag").repartition(1)): Unit
    }
    // (batchId, version) pairs per delivered row
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def run(): Unit = {
      val q = StreamingOps.changeFeedStream(spark, root,
          maxVersionsPerTrigger = Some(2L))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         id: Long) =>
          b.collect().foreach(r =>
            seen.add((id, r.getAs[Long]("_commit_version"))): Unit)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val byBatch = seen.asScala.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(byBatch.size >= 4,
      s"a 7-version backlog at 2/trigger must page: ${byBatch.size} batches")
    assert(byBatch.values.forall(_.size <= 2),
      s"a batch exceeded the trigger bound: $byBatch")
    // the paged union is exactly the unbounded replay
    assert(seen.asScala.map(_._2).toSeq.sorted == (0L to 6L),
      s"paging lost or duplicated versions: ${seen.asScala.toSeq.sorted}")
    // composes with checkpoint recovery: the restarted stream pages ONWARD
    (7 until 10).foreach { v =>
      TxTable.append(spark, root,
        Seq((v.toLong, s"t$v")).toDF("id", "tag").repartition(1)): Unit
    }
    run()
    assert(seen.asScala.map(_._2).toSeq.sorted == (0L to 9L),
      "recovery must resume paging after the committed offset")
  }

  test("graft-tx-changes: a mid-stream schema evolution fails the stream loudly, never silently drops the column") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_cdf_evo").toString
    TxTable.append(spark, root, Seq((1L, "a")).toDF("id", "tag"))
    val q = StreamingOps.changeFeedStream(spark, root)
      .writeStream.format("memory").queryName("cdf_evo_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // additive evolution lands while the stream is up
      TxTable.append(spark, root,
        Seq((2L, "b", Some(9L))).toDF("id", "tag", "value"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getCause != null &&
        String.valueOf(e.getCause.getMessage).contains("evolved mid-stream"),
        s"wrong failure: ${e.getCause}")
    } finally q.stop()
    // a RESTARTED stream adopts the evolved schema and NULL-fills old batches
    val q2 = StreamingOps.changeFeedStream(spark, root)
      .writeStream.format("memory").queryName("cdf_evo_stream2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("cdf_evo_stream2").collect()
        .map(r => (r.getAs[Long]("id"), Option(r.getAs[java.lang.Long]("value")))).toMap
      assert(rows == Map(1L -> None, 2L -> Some(9L)))
    } finally q2.stop()
  }

  test("change feed chained into the exactly-once sink: an incremental table-to-table mirror") {
    import spark.implicits._
    import graft.sources.TxTable
    val src = java.nio.file.Files.createTempDirectory("graft_cdf_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_cdf_dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdf_mirror_ckpt").toString
    def frame(ids: Range, tag: String) =
      ids.map(i => (i.toLong, tag)).toDF("id", "tag")
    TxTable.append(spark, src, frame(1 to 10, "a"))
    // the CDC loop end-to-end through BOTH registered halves (r14): the
    // graft-tx-changes SOURCE feeds the graft-tx SINK — versions in,
    // txn-idempotent appends out, no foreachBatch glue
    val q = StreamingOps.changeFeedStream(spark, src)
      .where(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version")
      .writeStream.format("graft-tx")
      .option("path", dst).option("txnAppId", "mirror")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      TxTable.append(spark, src, frame(11 to 25, "b"))
      q.processAllAvailable()
      val mirrored = TxTable.read(spark, dst)
      assert(mirrored.count() == 25)
      assert(mirrored.exceptAll(TxTable.read(spark, src)).count() == 0)
      // provenance: every mirror commit is a distinct-batch stream append
      val cs = TxTable.snapshot(dst).commits.filter(_.metrics.getOrElse("rows_written", 0L) > 0)
      assert(cs.forall(_.op == "stream_append"))
      assert(cs.flatMap(_.txn).map(_._2).distinct.size == cs.size)
    } finally q.stop()
  }

  test("registered graft-tx sink: exactly-once stream_appends; a FORCED checkpoint redelivery no-ops; bad options refuse at start") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_regsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_regsink_ckpt").toString
    val stream = MemoryStream[(Long, String)]
    def start() = stream.toDF().toDF("id", "tag").writeStream
      .format("graft-tx").option("path", root)
      .option("txnAppId", "reg_sink")
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      stream.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      stream.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.read(spark, root).count() == 3)
    val vBefore = TxTable.snapshot(root).version
    // FORCE the redelivery every at-least-once pipeline produces: drop the
    // sink-side commit record of the last batch, so the restarted query
    // re-runs batch 1 against the sink — whose (appId, batchId) probe must
    // no-op instead of double-writing
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc")): Unit
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(TxTable.read(spark, root).count() == 3, "redelivery double-wrote")
      assert(TxTable.snapshot(root).version == vBefore)
      // a genuinely new batch still appends through the same query
      stream.addData((4L, "d")); q2.processAllAvailable()
    } finally q2.stop()
    assert(TxTable.read(spark, root).count() == 4)
    val cs = TxTable.snapshot(root).commits
    assert(cs.map(_.op).forall(_ == "stream_append"))
    assert(cs.flatMap(_.txn).map(_._2).sorted == Seq(0L, 1L, 2L))
    // contract refusals, all at start(): a missing txnAppId would break
    // restart dedup silently, partitioning and non-append modes lie about
    // what the commit log records
    intercept[IllegalArgumentException] {
      stream.toDF().toDF("id", "tag").writeStream.format("graft-tx")
        .option("path", root)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_rs2").toString)
        .start()
    }: Unit
    intercept[IllegalArgumentException] {
      stream.toDF().toDF("id", "tag").writeStream.format("graft-tx")
        .option("path", root).option("txnAppId", "x")
        .partitionBy("tag")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_rs3").toString)
        .start()
    }: Unit
  }

  test("a change-feed consumer tails the commit log: each poll applies only NEW versions and tracks every snapshot") {
    import spark.implicits._
    import graft.sources.TxTable
    // the CDF consumer loop (r12): a downstream keyed MV applies
    // readChanges(lastSeen+1, latest) per poll — row-level replay, never a
    // snapshot diff. At 100 TB the poll reads a day's changes, not the
    // table; this is the consumer shape the feed exists for.
    val root = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    val mv = scala.collection.mutable.Map.empty[Long, (String, Long)]
    var lastSeen = -1L
    def poll(): Unit = {
      val latest = TxTable.snapshot(root).version
      if (latest > lastSeen) {
        val ch = TxTable.readChanges(spark, root, lastSeen + 1, Some(latest))
          .collect().sortBy(_.getAs[Long]("_commit_version"))
        ch.foreach { r =>
          val id = r.getAs[Long]("id")
          r.getAs[String]("_change_type") match {
            case "insert" | "update_postimage" =>
              mv(id) = (r.getAs[String]("tag"), r.getAs[Long]("value"))
            case "delete" => mv.remove(id): Unit
            case "update_preimage" => () // informational; postimage lands the row
          }
        }
        lastSeen = latest
      }
    }
    def snapshotMap(): Map[Long, (String, Long)] =
      TxTable.read(spark, root).collect()
        .map(r => r.getAs[Long]("id") ->
          (r.getAs[String]("tag"), r.getAs[Long]("value"))).toMap
    def frame(ids: Range, tag: String) =
      ids.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "value")
    TxTable.append(spark, root, frame(1 to 30, "a").repartition(2))
    poll(); assert(mv.toMap == snapshotMap())
    TxTable.merge(spark, root,
      frame(21 to 40, "b").withColumn("value", col("id") * 100L),
      Seq("id"), Seq("value"))
    TxTable.delete(spark, root, col("id") <= 10)
    poll() // ONE poll catches up on BOTH pending versions, in order
    assert(mv.toMap == snapshotMap())
    assert(mv(25L) == ("a", 2500L)) // updated in place, tag kept
    assert(!mv.contains(5L))
    // layout churn is invisible to the consumer
    TxTable.compact(spark, root, targetFiles = 1)
    val before = mv.toMap
    poll()
    assert(mv.toMap == before && mv.toMap == snapshotMap())
    // an idle poll (no new versions) is a no-op, not a re-apply
    poll()
    assert(mv.toMap == before)
  }

  test("graft-tx table stream (r15): opening snapshot then appends; compaction contributes nothing; a mutation fails loudly") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_stream").toString
    def frame(ids: Range, tag: String) =
      ids.map(i => (i.toLong, tag, i * 10L)).toDF("id", "tag", "value")
    TxTable.append(spark, root, frame(1 to 20, "a").repartition(2)) // v0
    TxTable.delete(spark, root, col("id") > 18L)                    // v1 (pre-stream)
    val q = spark.readStream.format("graft-tx").load(root)
      .writeStream.format("memory").queryName("tbl_stream")
      .outputMode("append").start()
    def sink(): Seq[Long] =
      spark.table("tbl_stream").collect().map(_.getAs[Long]("id")).toSeq.sorted
    try {
      // first batch: the OPENING snapshot (the pre-stream delete applied)
      q.processAllAvailable()
      assert(sink() == (1L to 18L))
      // appends stream as they commit
      TxTable.append(spark, root, frame(21 to 25, "b"))             // v2
      q.processAllAvailable()
      assert(sink() == ((1L to 18L) ++ (21L to 25L)))
      // compaction (dataChange=false) re-emits NOTHING — re-reading the
      // compacted files would duplicate every row
      TxTable.compact(spark, root, targetFiles = 1)                 // v3
      q.processAllAvailable()
      assert(sink() == ((1L to 18L) ++ (21L to 25L)))
      // appends after a compaction keep streaming
      TxTable.append(spark, root, frame(26 to 26, "c"))             // v4
      q.processAllAvailable()
      assert(sink().contains(26L))
    } finally q.stop()
    // a MUTATING commit in range fails the stream loudly: restart the
    // stream over a table that then deletes — the next batch must throw
    val q2 = spark.readStream.format("graft-tx")
      .option("startingVersion", (TxTable.snapshot(root).version + 1).toString)
      .load(root)
      .writeStream.format("memory").queryName("tbl_stream2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      TxTable.delete(spark, root, col("id") === 3L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("append-only table stream"), msgs)
    } finally q2.stop()
    // CHECKPOINT RECOVERY under the rate limit (the r15 self-review
    // scenario): the handed-out base and pinned start version persist in
    // the source-metadata dir, so a restarted stream serves ONLY what
    // committed while it was down — an in-memory-only base would regress
    // below the committed offset and re-serve already-delivered versions
    // (MicroBatchExecution treats ANY offset change as new data)
    val rootR = java.nio.file.Files.createTempDirectory("graft_tbl_rec").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tbl_ckpt").toString
    TxTable.append(spark, rootR, frame(1 to 10, "a")) // v0
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def startRec() = spark.readStream.format("graft-tx")
      .option("maxVersionsPerTrigger", "1").load(rootR)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => delivered.add(r.getAs[Long]("id")): Unit)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val qr = startRec()
    try {
      qr.processAllAvailable()
      TxTable.append(spark, rootR, frame(11 to 12, "b")) // v1
      TxTable.append(spark, rootR, frame(13 to 14, "b")) // v2
      qr.processAllAvailable()
      assert(delivered.size == 14)
    } finally qr.stop()
    TxTable.append(spark, rootR, frame(15 to 16, "c")) // v3, while DOWN
    delivered.clear()
    val qr2 = startRec()
    try {
      qr2.processAllAvailable()
      // a correct recovery delivers EXACTLY the offline append — a
      // regressed rate-limit base would re-serve v1/v2's rows here
      val ids = {
        import scala.jdk.CollectionConverters._
        delivered.iterator().asScala.toSeq.sorted
      }
      assert(ids == Seq(15L, 16L),
        s"recovery must deliver only the offline append, got $ids")
    } finally qr2.stop()
    // startingVersion mode: appends from that version on, no snapshot
    val root2 = java.nio.file.Files.createTempDirectory("graft_tbl_sv").toString
    TxTable.append(spark, root2, frame(1 to 10, "a"))  // v0 — skipped
    TxTable.append(spark, root2, frame(11 to 15, "b")) // v1 — streamed
    val q3 = spark.readStream.format("graft-tx")
      .option("startingVersion", "1").load(root2)
      .writeStream.format("memory").queryName("tbl_stream3")
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("tbl_stream3").collect()
        .map(_.getAs[Long]("id")).toSeq.sorted == (11L to 15L))
    } finally q3.stop()
  }
}
