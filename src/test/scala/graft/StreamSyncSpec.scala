package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

import graft.streaming.StreamSync

class StreamSyncSpec extends AnyFunSuite with SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming SCD2 maintenance equals the batch rebuild across micro-batch boundaries") {
    import spark.implicits._
    import graft.operators.ChangeLog
    val l = Seq(
      (Some(1L), 10L, "a", "insert", ts("2024-01-01 00:00:01")),
      (Some(1L), 12L, "b", "update_postimage", ts("2024-01-01 00:00:02")),
      (Some(1L), 13L, "b", "delete", ts("2024-01-01 00:00:03")),
      (Some(1L), 14L, "c", "insert", ts("2024-01-01 00:00:04")),
      (Some(2L), 20L, "x", "insert", ts("2024-01-01 00:00:01")),
      (None, 30L, "n", "insert", ts("2024-01-01 00:00:01")),
      (None, 31L, "n", "update_postimage", ts("2024-01-01 00:00:05")))
      .toDF("k", "seq", "v", ChangeLog.ChangeType, ChangeLog.CommitTs)
    val full = ChangeLog.scd2History(l, Seq("k"), "seq", Seq("v"))
      .select("k", "seq", "v", "valid_to_ms", "version", "is_current")
      .as[(Option[Long], Long, String, Option[Long], Long, Int)].collect().toSet
    for (nBatches <- Seq(1, 3, 7)) { // 7 > rows: some batches re-split
      val streamed = StreamSync.replayScd2(l, "k", "seq", "v", nBatches)
        .select("k", "seq", "v", "valid_to_ms", "version", "is_current")
        .as[(Option[Long], Long, String, Option[Long], Long, Int)].collect().toSet
      assert(streamed == full, s"nBatches=$nBatches diverged from batch rebuild")
    }
  }

  test("stream-static enrich equals the batch join, dim columns prefixed, key not duplicated") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 00:00:01"), 10L),
      (2L, ts("2024-01-01 00:00:02"), 11L),
      (9L, ts("2024-01-01 00:00:03"), 12L), // no dim match → dropped (inner)
      (1L, ts("2024-01-01 00:00:04"), 13L))
      .toDF("user_id", "ts", "event_id")
    val dim = Seq((1L, "alice", "A"), (2L, "bob", "B"), (3L, "carol", "C"))
      .toDF("c_custkey", "c_name", "c_seg")
    val out = StreamSync.replayEnrich(events, dim, "user_id", "ts", "event_id", "c_custkey")
    assert(out.columns.toSeq ==
      Seq("user_id", "ts", "event_id", "dim_c_name", "dim_c_seg"))
    val got = out.select("event_id", "dim_c_name").as[(Long, String)].collect().toSet
    assert(got == Set((10L, "alice"), (11L, "bob"), (13L, "alice")))
  }

  test("windowed change counts aggregate by tumbling window and change type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val log = input.toDF().toDF("event_id", "_change_type", "_commit_timestamp")
    val q = StreamSync.windowedChangeCounts(log, "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("wcc").outputMode("complete").start()
    try {
      input.addData(
        (1L, "insert", ts("2024-01-01 00:00:10")),
        (2L, "insert", ts("2024-01-01 00:00:20")),
        (3L, "delete", ts("2024-01-01 00:00:30")),
        (4L, "insert", ts("2024-01-01 00:01:10")))
      q.processAllAvailable()
      val rows = spark.table("wcc")
        .select("window_start", "_change_type", "n_changes")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows == Set(
        (ts("2024-01-01 00:00:00"), "insert", 2L),
        (ts("2024-01-01 00:00:00"), "delete", 1L),
        (ts("2024-01-01 00:01:00"), "insert", 1L)))
    } finally q.stop()
  }

  test("streamingDedup drops in-watermark duplicates, keeps distinct keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val log = input.toDF().toDF("event_id", "_commit_timestamp")
    val q = StreamSync.streamingDedup(log, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("sdd").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:01")),
        (1L, ts("2024-01-01 00:00:02")),  // dup within watermark → dropped
        (2L, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 00:00:04"))) // still within watermark
      q.processAllAvailable()
      import org.apache.spark.sql.functions.col
      val ids = spark.table("sdd").select(col("event_id")).as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streamingLatestByKey keeps the newest row per key across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val log = input.toDF().toDF("user_id", "_commit_timestamp", "payload")
    val q = StreamSync.streamingLatestByKey(log, "user_id", stateTtl = None)
      .writeStream.format("memory").queryName("slk").outputMode("update").start()
    try {
      input.addData((7L, ts("2024-01-01 00:00:01"), "a"))
      q.processAllAvailable()
      input.addData(
        (7L, ts("2024-01-01 00:00:05"), "b"),  // newer → replaces
        (9L, ts("2024-01-01 00:00:02"), "c"))
      q.processAllAvailable()
      input.addData((7L, ts("2024-01-01 00:00:03"), "stale")) // older → kept b
      q.processAllAvailable()
      import org.apache.spark.sql.functions.{col, get_json_object}
      val latest = spark.table("slk")
        .groupBy(col("key"))
        .agg(org.apache.spark.sql.functions.max_by(col("json"), col("commitUs")).as("json"))
        .select(col("key"), get_json_object(col("json"), "$.payload").as("p"))
        .as[(Long, String)].collect().toMap
      assert(latest == Map(7L -> "b", 9L -> "c"))
    } finally q.stop()
  }

  test("streamingLatestByKey orders by sub-second commit time (µs precision)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val log = input.toDF().toDF("user_id", "_commit_timestamp", "payload")
    val q = StreamSync.streamingLatestByKey(log, "user_id", stateTtl = None)
      .writeStream.format("memory").queryName("slkus").outputMode("update").start()
    try {
      // same second, different milliseconds — "a" is newer despite a
      // smaller JSON rendering
      input.addData((1L, Timestamp.valueOf("2024-01-01 00:00:01.9"), "a"))
      q.processAllAvailable()
      input.addData((1L, Timestamp.valueOf("2024-01-01 00:00:01.1"), "b"))
      q.processAllAvailable()
      import org.apache.spark.sql.functions.{col, get_json_object}
      val latest = spark.table("slkus")
        .groupBy(col("key"))
        .agg(org.apache.spark.sql.functions.max_by(col("json"), col("commitUs")).as("json"))
        .select(get_json_object(col("json"), "$.payload").as("p"))
        .as[String].collect().toSeq
      assert(latest == Seq("a"))
    } finally q.stop()
  }

  test("streamingSessions closes gap-based sessions once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val q = StreamSync.streamingSessions(events, "ts", "user_id",
      watermarkDelay = "10 seconds", gap = "1 minute")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: two events 30 s apart (one session), then a 5-minute gap
      // (second session); user 2: one event.
      input.addData(
        (1L, ts("2024-01-01 00:00:00")),
        (1L, ts("2024-01-01 00:00:30")),
        (2L, ts("2024-01-01 00:00:40")),
        (1L, ts("2024-01-01 00:06:00")))
      q.processAllAvailable()
      // Advance the watermark far past every session end to flush them.
      input.addData((99L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      input.addData((99L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .filter(col("user_id") < 99)
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(rows == Set(
        (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:30"), 2L),
        (2L, ts("2024-01-01 00:00:40"), ts("2024-01-01 00:01:40"), 1L),
        (1L, ts("2024-01-01 00:06:00"), ts("2024-01-01 00:07:00"), 1L)))
    } finally q.stop()
  }

  test("startParquetSink runs the stream into parquet files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    val input = MemoryStream[(Long, Timestamp)]
    val log = input.toDF().toDF("event_id", "_commit_timestamp")
    val q = StreamSync.startParquetSink(log,
      dir.resolve("out").toString, dir.resolve("ckpt").toString)
    try {
      input.addData((1L, ts("2024-01-01 00:00:01")), (2L, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      val back = spark.read.parquet(dir.resolve("out").toString)
      assert(back.count() == 2)
    } finally q.stop()
  }

  test("corpus quality filters compose unchanged into a streaming pipeline") {
    // The curation columns are pure (stateless) Column functions, so the
    // SAME expressions run in a readStream plan with no modification —
    // streaming ingest can score/filter documents before they land.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{QualityFilters, TextAnalysis}
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
      .withColumn("_w", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        QualityFilters.uniqWordRatioOf(col("_w")).as("uniq"),
        QualityFilters.keepOf(col("_w")).as("keep"))
    val q = docs.writeStream.format("memory").queryName("qf")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "spam spam spam spam"))
      q.processAllAvailable()
      val rows = spark.table("qf").select("doc_id", "keep")
        .as[(Long, Long)].collect().toMap
      assert(rows == Map(1L -> 1L, 2L -> 0L))
    } finally q.stop()
  }

  test("maintenance resources stay bounded: state scales with keys not batches, staging cleaned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.ChangeLog
    import java.nio.file.{Files, Paths}

    def dataFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    def gone(p: String) = !Files.exists(Paths.get(p))

    // --- aggregate maintenance: 6 micro-batches over the SAME 3 keys.
    // The state is a per-key (count, Σ) row — after ANY number of
    // batches it must hold exactly |keys| rows, the staged .__next/
    // .__old dirs must be gone, and because each batch REWRITES the
    // state dir (never appends), file count and bytes must not grow
    // with batch count.
    val aggRoot = Files.createTempDirectory("graft-bound-agg")
    val aggState = aggRoot.resolve("state").toString
    val aggCkpt = aggRoot.resolve("ckpt").toString
    val aggIn = MemoryStream[(Long, Double, String, Timestamp)]
    val aggQ = StreamSync.startAggMaintenance(
      aggIn.toDF().toDF("k", "v", ChangeLog.ChangeType, ChangeLog.CommitTs),
      Seq("k"), "v", aggState, aggCkpt)
    try {
      var filesAfterFirst = -1
      var bytesAfterFirst = -1L
      for (b <- 1 to 6) {
        aggIn.addData((1 to 3).map(k =>
          (k.toLong, 1.0, "insert", ts(f"2024-01-01 00:00:$b%02d"))): _*)
        aggQ.processAllAvailable()
        assert(gone(aggState + ".__next") && gone(aggState + ".__old"),
          s"staging residue after batch $b")
        assert(spark.read.parquet(aggState).count() == 3L,
          s"state rows must equal key count after batch $b, not grow with batches")
        val fs = dataFiles(aggState)
        if (b == 1) { filesAfterFirst = fs.size; bytesAfterFirst = fs.map(_.length).sum }
        assert(fs.size <= filesAfterFirst + 4,
          s"state file count grew with batches: ${fs.size} after $b")
        assert(fs.map(_.length).sum <= 3 * bytesAfterFirst,
          s"state bytes grew with batches after $b")
      }
      // and the state is right: 6 inserts of 1.0 per key
      val st = ChangeLog.aggPresent(spark.read.parquet(aggState))
        .as[(Long, Long, Long)].collect().toSet
      assert(st == Set((1L, 6L, 6000000L), (2L, 6L, 6000000L), (3L, 6L, 6000000L)))
    } finally aggQ.stop()

    // --- SCD2 maintenance: versions accumulate with EVENTS (that is
    // the operator's semantics), never with batch count, and the
    // two-rename swap leaves no staging residue.
    val scdRoot = Files.createTempDirectory("graft-bound-scd2")
    val scdState = scdRoot.resolve("state").toString
    val scdCkpt = scdRoot.resolve("ckpt").toString
    val scdIn = MemoryStream[(Long, Long, String, String, Timestamp)]
    val scdQ = StreamSync.startScd2Maintenance(
      scdIn.toDF().toDF("k", "seq", "v", ChangeLog.ChangeType, ChangeLog.CommitTs),
      Seq("k"), "seq", Seq("v"), scdState, scdCkpt)
    try {
      for (b <- 1 to 4) {
        // one update per key per batch → exactly 2 new versions/batch
        scdIn.addData(
          (1L, b.toLong, s"v$b", if (b == 1) "insert" else "update_postimage",
            ts(f"2024-01-01 00:00:$b%02d")),
          (2L, 100L + b, s"w$b", if (b == 1) "insert" else "update_postimage",
            ts(f"2024-01-01 00:00:$b%02d")))
        scdQ.processAllAvailable()
        assert(gone(scdState + ".__next") && gone(scdState + ".__old"),
          s"scd2 staging residue after batch $b")
        assert(spark.read.parquet(scdState).count() == 2L * b,
          s"scd2 state must hold one version per event (${2 * b}), batch $b")
      }
    } finally scdQ.stop()
  }

  test("streamingIntervalJoin enriches facts with in-window dims only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val factIn = MemoryStream[(Long, Timestamp, String)]
    val dimIn = MemoryStream[(Long, Timestamp, String)]
    val facts = factIn.toDF().toDF("user_id", "ts", "action")
    val dims = dimIn.toDF().toDF("user_id", "ts", "segment")
    val q = StreamSync.streamingIntervalJoin(
        facts, "ts", dims, "ts", "user_id",
        watermarkDelay = "10 seconds", joinWindowSeconds = 300L)
      .select(col("user_id"), col("action"), col("dim_segment"))
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      dimIn.addData(
        (1L, ts("2024-01-01 00:00:00"), "gold"),     // 2 min before fact → joins
        (1L, ts("2023-12-31 23:00:00"), "stale"),    // 1 h before → outside window
        (2L, ts("2024-01-01 00:03:00"), "late"))     // AFTER the fact → excluded
      factIn.addData(
        (1L, ts("2024-01-01 00:02:00"), "click"),
        (2L, ts("2024-01-01 00:02:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .as[(Long, String, String)].collect().toSet
      assert(rows == Set((1L, "click", "gold")))
    } finally q.stop()
  }

  test("streaming distinct registers: batch-count invariant, exact twin counts window overlap once") {
    import spark.implicits._
    def t(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // day1: u1..u30 (u1 twice — distinct once); day2: u21..u40
    val rows = ((1 to 30).map(u => (t(1, 1), u.toLong)) :+ ((t(1, 5), 1L))) ++
      (21 to 40).map(u => (t(2, 3), u.toLong))
    val df = rows.toDF("ts", "user_id")
    def run(n: Int) = StreamSync.replayDistinctCounts(df, "ts", "user_id",
        windowLength = "1 day", nBatches = n)
      .collect().map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val one = run(1)
    assert(one.keySet == Set("2024-01-01 00:00:00.0", "2024-01-02 00:00:00.0"))
    assert(one("2024-01-01 00:00:00.0")._1 == 30L)
    assert(one("2024-01-02 00:00:00.0")._1 == 20L)
    one.values.foreach { case (exact, est) =>
      assert(math.abs(est - exact) <= math.max(2.0, 0.4 * exact)) }
    assert(run(3) == one) // micro-batch boundaries invisible in registers
  }

  test("streaming cms cells: estimate >= exact per window term, batch boundaries invisible") {
    import spark.implicits._
    def t(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val rows = (1 to 50).map(_ => (t(1, 1), "hot")) ++
      (1 to 5).map(i => (t(1, 2), s"rare$i")) ++
      (1 to 20).map(_ => (t(2, 1), "hot"))
    val df = rows.toDF("ts", "term")
    def run(n: Int) = StreamSync.replayCmsCounts(df, "ts", "term",
        windowLength = "1 day", terms = Seq("hot"), nBatches = n)
      .collect().map(r => r.getTimestamp(0).toString -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val one = run(1)
    assert(one("2024-01-01 00:00:00.0")._1 == 50L)
    assert(one("2024-01-02 00:00:00.0")._1 == 20L)
    one.values.foreach { case (exact, est) =>
      assert(est >= exact, s"cms $est < exact $exact") }
    assert(run(3) == one)
  }

  test("streaming aggregate maintenance: cross-batch retraction converges to the full-log aggregate") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // key 10 is inserted early and deleted two batches later — the
    // retraction must find and fold the persisted state row, not a
    // batch-local one; key 20 accumulates across batches.
    val log = Seq(
      (Some(10L), Some(2.0), "insert", t("2024-01-01 00:00:01")),
      (Some(20L), Some(1.5), "insert", t("2024-01-01 00:00:02")),
      (Some(20L), Some(2.5), "insert", t("2024-01-01 00:00:03")),
      (Some(20L), Some(1.5), "update_preimage", t("2024-01-01 00:00:04")),
      (Some(20L), Some(4.0), "update_postimage", t("2024-01-01 00:00:04")),
      (Some(10L), Some(2.0), "delete", t("2024-01-01 00:00:05")))
      .toDF("user_id", "value", graft.operators.ChangeLog.ChangeType,
        graft.operators.ChangeLog.CommitTs)
    for (nBatches <- Seq(1, 3, 6)) {
      val got = StreamSync.replayAgg(log, "user_id", "value", nBatches)
        .as[(Option[Long], Long, Long)].collect().toSet
      assert(got == Set((Some(20L), 2L, 6500000L)),
        s"nBatches=$nBatches diverged: $got")
    }
  }

  test("file-source replay: windowed counts match the MemoryStream replay (transport-invisible)") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (t("2024-01-01 00:00:10"), "insert"),
      (t("2024-01-01 00:20:20"), "insert"),
      (t("2024-01-01 00:40:30"), "delete"),
      (t("2024-01-01 01:10:10"), "insert"),
      (t("2024-01-01 02:05:00"), "update_postimage"))
      .toDF("_commit_timestamp", "_change_type")
    val viaFiles = StreamSync.replayFileCounts(log, "1 hour", nChunks = 2)
      .as[(Timestamp, String, Long)].collect().toSet
    val viaMemory = StreamSync.replayChangeCounts(log, "1 hour")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(viaFiles == viaMemory)
    assert(viaFiles == Set(
      (t("2024-01-01 00:00:00"), "insert", 2L),
      (t("2024-01-01 00:00:00"), "delete", 1L),
      (t("2024-01-01 01:00:00"), "insert", 1L),
      (t("2024-01-01 02:00:00"), "update_postimage", 1L)))
  }

  test("file-source replay: maintained aggregate matches the MemoryStream replay across chunkings") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (Some(10L), Some(2.0), "insert", t("2024-01-01 00:00:01")),
      (Some(20L), Some(1.5), "insert", t("2024-01-01 00:00:02")),
      (Some(20L), Some(2.5), "insert", t("2024-01-01 00:00:03")),
      (Some(20L), Some(1.5), "update_preimage", t("2024-01-01 00:00:04")),
      (Some(20L), Some(4.0), "update_postimage", t("2024-01-01 00:00:04")),
      (Some(10L), Some(2.0), "delete", t("2024-01-01 00:00:05")))
      .toDF("user_id", "value", graft.operators.ChangeLog.ChangeType,
        graft.operators.ChangeLog.CommitTs)
    for (nChunks <- Seq(1, 3)) {
      val got = StreamSync.replayFileAgg(log, "user_id", "value", nChunks)
        .as[(Option[Long], Long, Long)].collect().toSet
      assert(got == Set((Some(20L), 2L, 6500000L)),
        s"nChunks=$nChunks diverged: $got")
    }
  }

  test("adaptive replay partitions: 2/4/16 across the measured tiers") {
    // The tiers follow the measured regimes: r17's sf0.1 A/B below 1M
    // staged rows, r13's ~1M-row winner in the middle, r15's sf10
    // winner above 4M.
    assert(StreamSync.replayPartitions(0L) == 2)
    assert(StreamSync.replayPartitions(999999L) == 2)
    assert(StreamSync.replayPartitions(1000000L) == 4)
    assert(StreamSync.replayPartitions(3999999L) == 4)
    assert(StreamSync.replayPartitions(4000000L) == 16)
    assert(StreamSync.replayPartitions(100000000L) == 16)
  }
}
