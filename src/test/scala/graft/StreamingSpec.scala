package graft

import java.sql.Timestamp
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Golden tests for the streaming operators Q38–Q39 (engine-verified: no
  * DuckDB analog for watermark/state semantics). Scripted MemoryStream
  * batches with controlled event times assert:
  *  - Q38: a row later than watermark = max(ts) − 10 min is dropped; windows
  *    finalize exactly once in append mode.
  *  - Q39: duplicate event_ids within the watermark are suppressed, first
  *    arrival wins.
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  case class Ev(event_id: Long, ts: Timestamp, value: Double)

  test("Q38: late rows beyond the watermark are dropped from the aggregate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = Streams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("q38_golden")
      .outputMode("append").start()
    try {
      // batch 1: events inside hour 0 and hour 1; watermark advances to 1:30
      input.addData(Ev(1, ts(5), 1.0), Ev(2, ts(30), 2.0), Ev(3, ts(90), 4.0))
      query.processAllAvailable()
      // batch 2: a late event at 0:10 — watermark is 1:20 (> 1:00), so the
      // hour-0 window is already finalized and the row must be dropped.
      input.addData(Ev(4, ts(10), 100.0))
      query.processAllAvailable()
      // batch 3: advance event time far enough to close every open window
      input.addData(Ev(5, ts(300), 8.0))
      query.processAllAvailable()
      val rows = spark.table("q38_golden")
        .select(col("win_start"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      // hour 0 closed with exactly the 2 on-time rows; the late 100.0 never lands
      assert(rows.contains(("2024-01-01 00:00:00.0", 2L, 3.0)),
        s"hour-0 window wrong: ${rows.mkString(", ")}")
      assert(!rows.exists(_._3 == 103.0), "late row leaked into a finalized window")
      assert(rows.contains(("2024-01-01 01:00:00.0", 1L, 4.0)))
    } finally query.stop()
  }

  test("stream-static enrichment: dims attach map-side, unmatched survive") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Long, Double)]
    val enriched = Streams.enrichWithDim(
      input.toDF().toDF("event_id", "user_id", "value"), dim, "user_id")
    val query = enriched.writeStream.format("memory")
      .queryName("enrich_golden").outputMode("append").start()
    try {
      input.addData((100L, 1L, 5.0), (101L, 2L, 6.0), (102L, 9L, 7.0))
      query.processAllAvailable()
      val rows = spark.table("enrich_golden")
        .select(col("event_id"), col("tier"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(100L -> Some("gold"), 101L -> Some("basic"),
        102L -> None), s"got $rows")
    } finally query.stop()
  }

  test("observeQuality counters surface per micro-batch on a streaming query") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val (instrumented, _) = graft.api.Graft.observeQuality(
      input.toDF().toDF("k", "body"), "stream_stage", col("body"))
    val query = instrumented
      .writeStream.format("memory").queryName("obs_golden")
      .outputMode("append").start()
    try {
      input.addData((1L, "abc"), (2L, ""), (3L, "de"))
      query.processAllAvailable()
      // streaming surfaces observed metrics per batch via progress events,
      // not Observation.get (which requires batch queries)
      val m = query.lastProgress.observedMetrics.get("stream_stage")
      assert(m.getAs[Long]("rows") == 3L)
      assert(m.getAs[Long]("empty_docs") == 1L)
      assert(m.getAs[Long]("total_chars") == 5L)
    } finally query.stop()
  }

  test("Q39: dropDuplicatesWithinWatermark keeps first arrival per event_id") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = Streams.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("q39_golden")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts(5), 1.0), Ev(2, ts(6), 2.0))
      query.processAllAvailable()
      // same event_id re-arrives within the watermark: suppressed
      input.addData(Ev(1, ts(7), 999.0), Ev(3, ts(8), 3.0))
      query.processAllAvailable()
      val rows = spark.table("q39_golden").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
        .sortBy(_._1)
      assert(rows.toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        s"dedup output wrong: ${rows.mkString(", ")}")
    } finally query.stop()
  }

  case class UEv(event_id: Long, user_id: Long, ts: Timestamp, value: Double)

  test("session windows close on gap > 30 min and emit once the watermark passes") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[UEv]
    val query = Streams.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("sess_golden")
      .outputMode("append").start()
    try {
      // user 1: events at 0:00 and 0:20 (same session, gap 20 < 30), then
      // 1:10 (new session, gap 50 > 30)
      input.addData(UEv(1, 1, ts(0), 1.0), UEv(2, 1, ts(20), 2.0),
        UEv(3, 1, ts(70), 4.0))
      query.processAllAvailable()
      // push the watermark far past every open session so all finalize
      input.addData(UEv(9, 2, ts(600), 0.0))
      query.processAllAvailable()
      val rows = spark.table("sess_golden")
        .filter(col("user_id") === 1)
        .select("sess_start", "n_events", "sum_value")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(
        ("2024-01-01 00:00:00.0", 2L, 3.0),
        ("2024-01-01 01:10:00.0", 1L, 4.0)),
        s"session output wrong: ${rows.mkString(", ")}")
    } finally query.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases only") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[UEv]
    val purchases = MemoryStream[UEv]
    val query = Streams.purchaseAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssj_golden")
      .outputMode("append").start()
    try {
      // user 7: purchase at 0:30, clicks at 0:50 (within 1h lookback) and
      // at 2:30 (beyond lookback). user 8: purchase AFTER its click.
      purchases.addData(UEv(100, 7, ts(30), 9.99), UEv(200, 8, ts(60), 5.0))
      clicks.addData(UEv(1, 7, ts(50), 0.0), UEv(2, 7, ts(150), 0.0),
        UEv(3, 8, ts(40), 0.0))
      query.processAllAvailable()
      val rows = spark.table("ssj_golden")
        .select("click_id", "purchase_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 100L, 9.99)),
        s"interval join wrong: ${rows.mkString(", ")}")
    } finally query.stop()
  }

  test("left-outer attribution emits unmatched clicks once watermark proves it") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[UEv]
    val purchases = MemoryStream[UEv]
    val query = Streams.purchaseAttribution(clicks.toDF(), purchases.toDF(),
        joinType = "leftOuter")
      .writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    try {
      clicks.addData(UEv(1, 9, ts(50), 0.0), UEv(2, 10, ts(55), 0.0))
      purchases.addData(UEv(100, 9, ts(45), 3.0)) // matches click 1 only
      query.processAllAvailable()
      // push BOTH watermarks (join watermark is their min) far past
      // click_ts + lookback + delay so the no-match verdict is final
      clicks.addData(UEv(3, 11, ts(400), 0.0))
      purchases.addData(UEv(300, 12, ts(400), 1.0))
      query.processAllAvailable()
      clicks.addData(UEv(4, 11, ts(401), 0.0))
      purchases.addData(UEv(301, 12, ts(401), 1.0))
      query.processAllAvailable()
      val rows = spark.table("ssj_outer").select("click_id", "purchase_id")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(rows.contains((1L, 100L)), s"matched row missing: $rows")
      assert(rows.contains((2L, -1L)),
        s"unmatched click must surface with null purchase: $rows")
    } finally query.stop()
  }

  test("versioned upsert sink: each batch commits once; replays no-op") {
    import graft.sources.VersionedTable
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-vsink").toString
    val table = s"$dir/t"
    // live wiring: a real streaming query drives batches through the sink
    val input = MemoryStream[(Long, String)]
    val query = Streams.startVersionedUpsertSink(
      input.toDF().toDF("k", "v"), table, "k",
      s"$dir/_ckpt", "vsink_golden")
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      input.addData((2L, "b2"), (3L, "c"))
      query.processAllAvailable()
    } finally query.stop()
    assert(VersionedTable.versions(spark, table) == Seq(1L, 2L))
    assert(VersionedTable.readLatest(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // time travel reaches the pre-merge snapshot — every batch is a version
    assert(VersionedTable.readVersion(spark, table, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    // at-least-once replay of the LAST batch (crash between commit and
    // checkpoint): the pinned batch token turns it into a no-op
    val replay = Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
    assert(VersionedTable.mergeBatchIfNew(spark, table, replay, "k",
      batchId = 1L).isEmpty, "replayed batch must not commit")
    assert(VersionedTable.versions(spark, table) == Seq(1L, 2L))
    // the next NEW batch commits (conditional delete exercised)
    assert(VersionedTable.mergeBatchIfNew(spark, table,
      Seq((1L, "drop"), (4L, "d")).toDF("k", "v"), "k", batchId = 2L,
      deleteWhen = col("v") === "drop").contains(3L))
    assert(VersionedTable.readLatest(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("versioned upsert sink: restart from checkpoint resumes without dupes") {
    import graft.sources.VersionedTable
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-vsink2").toString
    val table = s"$dir/t"
    val ckpt = s"$dir/_ckpt"
    val input = MemoryStream[(Long, String)]
    val q1 = Streams.startVersionedUpsertSink(
      input.toDF().toDF("k", "v"), table, "k", ckpt, "vsink_restart_a")
    try {
      input.addData((1L, "a"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(VersionedTable.versions(spark, table) == Seq(1L))
    // data arriving while the query is DOWN is delivered after restart
    // from the same checkpoint — offsets resume, batch ids advance, and
    // nothing already committed is re-applied
    input.addData((2L, "b"))
    val q2 = Streams.startVersionedUpsertSink(
      input.toDF().toDF("k", "v"), table, "k", ckpt, "vsink_restart_b")
    try {
      q2.processAllAvailable()
      input.addData((1L, "a2"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(VersionedTable.readLatest(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a2"), (2L, "b")))
    // every state along the way is a committed version, none duplicated
    val vs = VersionedTable.versions(spark, table)
    assert(vs.size == vs.toSet.size && vs.last == vs.size,
      s"contiguous version chain expected: $vs")
  }

  test("stream -> policied table -> incremental rollup composes end-to-end") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-vsink3").toString
    val table = s"$dir/t"
    val roll = s"$dir/roll"
    // policy set BEFORE any data: every streamed batch must keep the index
    VersionedTable.setSkippingPolicy(spark, table, statsCols = Seq("id"))
    val input = MemoryStream[(Long, String, Long)]
    val q = Streams.startVersionedUpsertSink(
      input.toDF().toDF("id", "k", "v"), table, "id",
      s"$dir/_ckpt", "vsink_rollup")
    def rollupCurrent(): Unit = {
      val got = VersionedTable.readLatest(spark, roll)
      val want = VersionedTable.readLatest(spark, table)
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"rollup stale: ${got.collect().toSeq} vs ${want.collect().toSeq}")
    }
    try {
      input.addData((1L, "a", 10L), (2L, "b", 5L))
      q.processAllAvailable()
      // first refresh: full aggregate (snapshot batch has no feed)
      assert(VersionedTable.refreshRollup(spark, table, roll,
        Seq("k"), Seq("v")).contains(1L))
      rollupCurrent()
      input.addData((3L, "a", 7L))
      q.processAllAvailable()
      // second refresh rides the merge batch's change feed incrementally
      assert(VersionedTable.refreshRollup(spark, table, roll,
        Seq("k"), Seq("v")).contains(2L))
      rollupCurrent()
    } finally q.stop()
    // the streamed merge batch obeyed the skipping policy: the latest
    // version carries a sidecar a pruned read can use
    val latest = VersionedTable.latestVersion(spark, table).get
    assert(VersionedTable.pruneSelection(spark, table, latest,
      VersionedTable.readVersion(spark, table, latest).schema,
      Seq(ColumnBounds("id", Some(1L), Some(1L)))).isDefined,
      "streamed commit lost the skipping sidecar")
  }

  test("versioned append sink: O(batch) inserts, replay no-op, optimize compacts") {
    import graft.sources.VersionedTable
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-asink").toString
    val table = s"$dir/t"
    val input = MemoryStream[(Long, String)]
    val query = Streams.startVersionedAppendSink(
      input.toDF().toDF("k", "v"), table, s"$dir/_ckpt", "asink_golden")
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      input.addData((3L, "c"))
      query.processAllAvailable()
      input.addData((4L, "d"))
      query.processAllAvailable()
    } finally query.stop()
    assert(VersionedTable.versions(spark, table) == Seq(1L, 2L, 3L))
    assert(VersionedTable.readLatest(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // O(batch), not O(table): v1's dir is REFERENCED by v3, not copied —
    // each append version adds exactly one dir to the chain
    val hist = VersionedTable.history(spark, table).orderBy("version")
      .collect()
    assert(hist.map(_.getString(1).split(";").length).toSeq == Seq(1, 2, 3),
      "each streamed batch must add exactly one dir")
    assert(hist.map(_.getString(4)).toSeq == Seq("stream", "insert", "insert"))
    // time travel reaches each batch boundary
    assert(VersionedTable.readVersion(spark, table, 2L).count() == 3L)
    // at-least-once replay of the LAST batch no-ops via the batch token
    assert(VersionedTable.appendBatchIfNew(spark, table,
      Seq((4L, "d")).toDF("k", "v"), batchId = 2L).isEmpty,
      "replayed append batch must not commit")
    assert(VersionedTable.versions(spark, table) == Seq(1L, 2L, 3L))
    // a NEW batch commits; OPTIMIZE then compacts the dir chain to one
    assert(VersionedTable.appendBatchIfNew(spark, table,
      Seq((5L, "e")).toDF("k", "v"), batchId = 3L).contains(4L))
    val v5 = VersionedTable.optimize(spark, table, targetFileBytes = 1L << 30)
    assert(VersionedTable.history(spark, table)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .head().getString(1).split(";").length == 1,
      "optimize must compact the multi-dir chain")
    assert(VersionedTable.readVersion(spark, table, v5).count() == 5L)
  }

  // The reference's timer wheel (hive-task src/timers.lisp:11–32) maps to
  // Structured Streaming's trigger clock (SURVEY §2A.3); these two goldens
  // exercise the mapping explicitly instead of only driving micro-batches
  // by hand via processAllAvailable.

  test("Trigger.AvailableNow drains the backlog, finalizes, and self-stops") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val input = MemoryStream[Ev]
    // backlog exists BEFORE start: the batch-like "process what's there
    // and terminate" contract (the scheduled-ingest trigger)
    input.addData(Ev(1, ts(5), 1.0), Ev(2, ts(30), 2.0))
    input.addData(Ev(3, ts(90), 4.0))
    val query = Streams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("trigger_availablenow")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(query.awaitTermination(120000),
        "AvailableNow query must terminate on its own")
      val rows = spark.table("trigger_availablenow")
        .select(col("win_start"), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      // the minute-90 event advanced the watermark past hour 0, so that
      // window finalized within the drain; hour 1 is still open at
      // termination and must NOT have emitted (append-mode semantics
      // hold under the explicit trigger too)
      assert(rows.toSeq == Seq(("2024-01-01 00:00:00.0", 2L, 3.0)),
        s"AvailableNow drain emitted: ${rows.mkString(", ")}")
    } finally query.stop()
  }

  test("Trigger.ProcessingTime paces micro-batches on the wall clock") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("id", "v")
      .writeStream.format("memory").queryName("trigger_ptime")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      assert(spark.table("trigger_ptime").count() == 2L)
      // a second batch lands on a later tick of the same clock
      input.addData((3L, "c"))
      query.processAllAvailable()
      assert(spark.table("trigger_ptime").orderBy("id").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(query.isActive, "interval-triggered query keeps running")
    } finally query.stop()
  }

  test("change feed streams: merges arrive as micro-batches, resume is exact") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    val table = s"$dir/t"
    val out = s"$dir/out"
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    assert(VersionedTable.enableChangeFeed(spark, table).isEmpty)
    // two merges auto-mirror their committed batches into _cdf/
    VersionedTable.mergeInto(spark, table,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), key = "k")
    VersionedTable.mergeInto(spark, table,
      Seq((1L, "gone")).toDF("k", "v"), key = "k",
      deleteWhen = col("v") === "gone")
    // subscribe: the backlog drains as checkpointed micro-batches
    val q1 = Streams.changeFeedStream(spark, table)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q1.awaitTermination(120000)) finally q1.stop()
    val drained = spark.read.parquet(out)
    assert(drained.columns.contains("_commit_version"))
    assert(drained.select(col("k"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 2L), (3L, 2L), (1L, 3L)),
      "feed must carry exactly the two committed merge batches")
    // a third merge after the drain; resuming from the SAME checkpoint
    // delivers ONLY the new batch (no re-delivery of mirrored history)
    VersionedTable.mergeInto(spark, table,
      Seq((4L, "d")).toDF("k", "v"), key = "k")
    val q2 = Streams.changeFeedStream(spark, table)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q2.awaitTermination(120000)) finally q2.stop()
    assert(spark.read.parquet(out).select(col("k"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 2L), (3L, 2L), (1L, 3L), (4L, 4L)),
      "resume must append exactly the post-drain merge")
    // self-heal: wipe a mirror dir (simulating a crash between publish
    // and mirror), then mirrorChangeFeed reconstructs it from _changes
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$table/_cdf/v00000003"), true)
    assert(VersionedTable.mirrorChangeFeed(spark, table) == Seq(3L))
    // mirroring is idempotent; a feed-disabled table fails typed
    assert(VersionedTable.mirrorChangeFeed(spark, table).isEmpty)
    val bare = s"$dir/bare"
    VersionedTable.commit(spark, Seq((1L, "x")).toDF("k", "v"), bare)
    intercept[IllegalArgumentException](
      VersionedTable.mirrorChangeFeed(spark, bare))
  }

  test("mid-chain subscriber: changeFeedStream(startingVersion = n)") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf-mid").toString
    val table = s"$dir/t"
    val out = s"$dir/out"
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "v"), table)
    VersionedTable.enableChangeFeed(spark, table)
    VersionedTable.mergeInto(spark, table,
      Seq((2L, "b")).toDF("k", "v"), key = "k") // v2
    VersionedTable.mergeInto(spark, table,
      Seq((3L, "c")).toDF("k", "v"), key = "k") // v3
    VersionedTable.mergeInto(spark, table,
      Seq((4L, "d")).toDF("k", "v"), key = "k") // v4
    // a subscriber joining at version 4 must see ONLY v4's batch — the
    // bounded-read dual of VersionedTable.readChanges(from, to)
    val q = Streams.changeFeedStream(spark, table, startingVersion = Some(4L))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    assert(spark.read.parquet(out).select(col("k"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((4L, 4L)),
      "a mid-chain subscriber must start exactly at its version")
  }

  test("CDC replication: feed stream + replica sink keep a replica converged") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-repl").toString
    val bronze = s"$dir/bronze"
    val silver = s"$dir/silver"
    // bronze: a merged-into table with its feed enabled. THREE upstream
    // versions churn the SAME keys (2 updated twice; 3 inserted, updated,
    // then deleted) BEFORE the first replication run, so the backlog
    // arrives as one multi-version micro-batch — the case that forces
    // versioned apply (an unordered upsert would pick arbitrary winners
    // and cannot express the delete)
    VersionedTable.commit(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), bronze)
    VersionedTable.enableChangeFeed(spark, bronze)
    VersionedTable.mergeInto(spark, bronze,
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), key = "k")
    VersionedTable.mergeInto(spark, bronze,
      Seq((2L, 22L), (3L, 31L)).toDF("k", "v"), key = "k")
    VersionedTable.mergeInto(spark, bronze,
      Seq((3L, -1L)).toDF("k", "v"), key = "k",
      deleteWhen = col("v") < 0L)
    def replicate(): Unit = {
      val q = Streams.startVersionedReplicaSink(
        Streams.changeFeedStream(spark, bronze)
          .select(col("k"), col("v"), col("_commit_version"), col("__op")),
        silver, "k", s"$dir/_ckpt", "cdc_replica")
      try q.processAllAvailable() finally q.stop()
    }
    replicate()
    // highest _commit_version won per key; 3's delete landed even though
    // its insert+update arrived in the same micro-batch (bootstrap path).
    // The replica missed the pre-feed seed — replicas start at enable
    // time; backfill via CLONE or an overwrite if full state is needed
    assert(VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 22L)))
    // more bronze churn (update + a delete of key 2), then a SECOND run
    // from the same checkpoint: only the new batches apply, versioned —
    // this time through the merge path on a non-empty replica
    VersionedTable.mergeInto(spark, bronze,
      Seq((1L, 11L)).toDF("k", "v"), key = "k")
    VersionedTable.mergeInto(spark, bronze,
      Seq((1L, 12L), (2L, -1L)).toDF("k", "v"), key = "k",
      deleteWhen = col("v") < 0L)
    replicate()
    assert(VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 12L)))
    // replication is idempotent: a third run with nothing new commits
    // no version on the replica
    val before = VersionedTable.versions(spark, silver)
    replicate()
    assert(VersionedTable.versions(spark, silver) == before)
    // a DEFERRED delete upstream flows through the feed too: its rows
    // are synthesized (not persisted — the verb is O(metadata)), the
    // mirror publishes them, and the replica converges across the mixed
    // merge + lazy-delete backlog in one drain
    VersionedTable.mergeInto(spark, bronze,
      Seq((4L, 40L), (5L, 50L)).toDF("k", "v"), key = "k")
    VersionedTable.deleteWhereLazy(spark, bronze, "v >= 50")
    replicate()
    val bronzeState = VersionedTable.readLatest(spark, bronze)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bronzeState == Set((1L, 12L), (4L, 40L)), bronzeState)
    assert(VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == bronzeState)
    // an upstream APPEND flows too: the new dir mirrors as upsert rows,
    // so insert-only drip ingest keeps the replica converged without a
    // single diff
    VersionedTable.append(spark, bronze, Seq((6L, 60L)).toDF("k", "v"))
    replicate()
    assert(VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 12L), (4L, 40L), (6L, 60L)))
  }

  test("CDC replication loop runs end-to-end BY NAME (r16)") {
    import graft.sources.{GraftCatalog, VersionedTable}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-repl-nm").toString
    val bronze = s"$dir/bronze"
    val silver = s"$dir/silver"
    VersionedTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), bronze)
    VersionedTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), silver)
    GraftCatalog.create(spark, "gstream.bronze", bronze)
    GraftCatalog.create(spark, "gstream.silver", silver)
    VersionedTable.enableChangeFeed(spark, bronze)
    graft.sources.GraftSql.sql(spark,
      "INSERT INTO gstream.bronze VALUES (2, 20)")
    VersionedTable.mergeInto(spark, bronze,
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), key = "k")
    // the WHOLE loop by name: the feed source resolves gstream.bronze,
    // the replica sink resolves gstream.silver — zero paths after CREATE
    val q = Streams.startVersionedReplicaSink(
      Streams.changeFeedStream(spark, "gstream.bronze")
        .select(col("k"), col("v"), col("_commit_version"), col("__op")),
      "gstream.silver", "k", s"$dir/_ckpt", "cdc_replica_by_name")
    try q.processAllAvailable() finally q.stop()
    assert(VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 30L)))
    // the upsert + append sinks take names too (per-batch re-resolution)
    Streams.versionedUpsertBatch("gstream.silver", "k")(
      Seq((3L, 31L)).toDF("k", "v"), batchId = 999L)
    Streams.versionedAppendBatch("gstream.silver")(
      Seq((9L, 90L)).toDF("k", "v"), batchId = 1000L)
    assert(VersionedTable.readLatest(spark, silver)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 31L), (9L, 90L)))
    GraftCatalog.drop(spark, "gstream.bronze")
    GraftCatalog.drop(spark, "gstream.silver")
  }

  test("change feed rides through a schema-evolution version") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-replevo")
      .toString
    val bronze = s"$dir/bronze"
    val silver = s"$dir/silver"
    // merge -> ALTER ADD COLUMN -> merge: the schema version itself is a
    // zero-row metadata change (it mirrors nothing and readChanges
    // returns an empty batch), so the feed must carry BOTH merges —
    // the pre-evolution one null-filling the new column via the
    // mergeSchema union — and the replica must converge across the
    // widened backlog in one drain
    VersionedTable.commit(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      bronze)
    VersionedTable.enableChangeFeed(spark, bronze)
    VersionedTable.mergeInto(spark, bronze,
      Seq((2L, 21L)).toDF("k", "v"), key = "k")
    VersionedTable.addColumn(spark, bronze, "tier", "INT", Some("7"))
    VersionedTable.mergeInto(spark, bronze,
      Seq((3L, 30L, 9)).toDF("k", "v", "tier"), key = "k")
    val q = Streams.startVersionedReplicaSink(
      Streams.changeFeedStream(spark, bronze)
        .select(col("k"), col("v"), col("tier"),
          col("_commit_version"), col("__op")),
      silver, "k", s"$dir/_ckpt", "cdc_replica_evo")
    try q.processAllAvailable() finally q.stop()
    val got = VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v"), col("tier")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    // the pre-ALTER merge row rides with a NULL tier (the feed cannot
    // retroactively know the default; the replica's own ALTER would) —
    // the post-ALTER row carries its stored 9
    assert(got == Set((2L, 21L, -1), (3L, 30L, 9)), got.toString)
  }

  test("change feed rides through a WIDEN version at the wide type") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-replwiden")
      .toString
    val bronze = s"$dir/bronze"
    val silver = s"$dir/silver"
    // merge (v INT) -> ALTER COLUMN v TYPE BIGINT -> merge a value that
    // only FITS the wide type: the narrow-vintage mirror batch and the
    // wide one must unify under one feed schema (the widened one) and
    // the replica must land both rows
    VersionedTable.commit(spark, Seq((1L, 10), (2L, 20)).toDF("k", "v"),
      bronze)
    VersionedTable.enableChangeFeed(spark, bronze)
    VersionedTable.mergeInto(spark, bronze,
      Seq((2L, 21)).toDF("k", "v"), key = "k")
    VersionedTable.widenColumn(spark, bronze, "v", "BIGINT")
    VersionedTable.mergeInto(spark, bronze,
      Seq((3L, 9000000000L)).toDF("k", "v"), key = "k")
    val q = Streams.startVersionedReplicaSink(
      Streams.changeFeedStream(spark, bronze)
        .select(col("k"), col("v"), col("_commit_version"), col("__op")),
      silver, "k", s"$dir/_ckpt", "cdc_replica_widen")
    try q.processAllAvailable() finally q.stop()
    val got = VersionedTable.readLatest(spark, silver)
      .select(col("k"), col("v").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 21L), (3L, 9000000000L)), got.toString)
  }
}
