package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.operators.ChangeLog

/** Millisecond fidelity of the CDC emulation (export.py:91–92, 115–127):
  * Delta CDF bounds `table_changes` at ms ISO timestamps and the watermark
  * protocol's `+1 ms` exclusive start is vacuous at second granularity.
  * These cases fail under second-truncated commit bounds.
  */
class ChangeLogSpec extends AnyFunSuite with SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def log() = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 00:00:00.100"), "insert"),
      (2L, ts("2024-01-01 00:00:00.500"), "insert"), // sub-second, same second as watermark
      (3L, ts("2024-01-01 00:00:01.250"), "insert"))
      .toDF("id", ChangeLog.CommitTs, "v")
      .withColumn(ChangeLog.ChangeType, org.apache.spark.sql.functions.col("v"))
      .drop("v")
  }

  test("scd2: deletes close intervals without opening; re-insert reopens; preimages inert") {
    import spark.implicits._
    val l = Seq(
      // key 1: insert → update (preimage+postimage) → delete → re-insert
      (1L, 10L, ts("2024-01-01 00:00:01.000"), "insert"),
      (1L, 11L, ts("2024-01-01 00:00:02.000"), "update_preimage"),
      (1L, 12L, ts("2024-01-01 00:00:02.000"), "update_postimage"),
      (1L, 13L, ts("2024-01-01 00:00:03.000"), "delete"),
      (1L, 14L, ts("2024-01-01 00:00:04.000"), "insert"),
      // key 2: single insert, stays current
      (2L, 20L, ts("2024-01-01 00:00:01.000"), "insert"),
      // key 3: insert then delete — no current row
      (3L, 30L, ts("2024-01-01 00:00:01.000"), "insert"),
      (3L, 31L, ts("2024-01-01 00:00:02.000"), "delete"))
      .toDF("k", "seq", ChangeLog.CommitTs, ChangeLog.ChangeType)
    val out = ChangeLog.scd2History(l, Seq("k"), "seq", Seq.empty)
      .select("k", "seq", "valid_to_ms", "version", "is_current")
      .as[(Long, Long, Option[Long], Long, Int)].collect().toSet
    def ms(s: String) = ts(s).getTime
    assert(out == Set(
      (1L, 10L, Some(ms("2024-01-01 00:00:02.000")), 1L, 0),
      (1L, 12L, Some(ms("2024-01-01 00:00:03.000")), 2L, 0), // closed by the DELETE
      (1L, 14L, None, 4L, 1),                                // reopened; v3 was the delete
      (2L, 20L, None, 1L, 1),
      (3L, 30L, Some(ms("2024-01-01 00:00:02.000")), 1L, 0)  // deleted key: no current
    ))
  }

  test("scd2Apply: incremental maintenance equals the full rebuild across any split, including delete/reopen") {
    import spark.implicits._
    val l = Seq(
      (1L, 10L, ts("2024-01-01 00:00:01.000"), "insert"),
      (1L, 11L, ts("2024-01-01 00:00:02.000"), "update_preimage"),
      (1L, 12L, ts("2024-01-01 00:00:02.000"), "update_postimage"),
      (1L, 13L, ts("2024-01-01 00:00:03.000"), "delete"),
      (1L, 14L, ts("2024-01-01 00:00:04.000"), "insert"),
      (2L, 20L, ts("2024-01-01 00:00:01.000"), "insert"),
      (3L, 30L, ts("2024-01-01 00:00:01.000"), "insert"),
      (3L, 31L, ts("2024-01-01 00:00:02.000"), "delete"))
      .toDF("k", "seq", ChangeLog.CommitTs, ChangeLog.ChangeType)
    val full = ChangeLog.scd2History(l, Seq("k"), "seq", Seq.empty)
      .select("k", "seq", "valid_to_ms", "version", "is_current")
      .as[(Long, Long, Option[Long], Long, Int)].collect().toSet
    // Every split point — batch boundaries must never matter. The splits
    // cut THROUGH the delete/reopen chain and strand key 2 fully in one
    // side, covering tombstone replay and untouched pass-through.
    for (splitMs <- Seq("2024-01-01 00:00:01.500", "2024-01-01 00:00:02.500",
                        "2024-01-01 00:00:03.500")) {
      val cut = ts(splitMs).getTime
      def ms(df: org.apache.spark.sql.DataFrame) = df.withColumn("_m",
        org.apache.spark.sql.functions.expr(
          s"unix_micros(`${ChangeLog.CommitTs}`) div 1000"))
      val state = ChangeLog.scd2State(
        ms(l).filter(org.apache.spark.sql.functions.col("_m") <= cut).drop("_m"),
        Seq("k"), "seq", Seq.empty)
      val applied = ChangeLog.scd2Apply(state,
        ms(l).filter(org.apache.spark.sql.functions.col("_m") > cut).drop("_m"),
        Seq("k"), "seq", Seq.empty)
      val inc = ChangeLog.scd2Present(applied)
        .select("k", "seq", "valid_to_ms", "version", "is_current")
        .as[(Long, Long, Option[Long], Long, Int)].collect().toSet
      assert(inc == full, s"split at $splitMs diverged from the full rebuild")
    }
    // Chained batches: apply twice (three-way split) — state stays a
    // fixed point of further maintenance.
    def msCol = org.apache.spark.sql.functions.expr(
      s"unix_micros(`${ChangeLog.CommitTs}`) div 1000")
    val c1 = ts("2024-01-01 00:00:01.500").getTime
    val c2 = ts("2024-01-01 00:00:03.500").getTime
    val s0 = ChangeLog.scd2State(l.filter(msCol <= c1), Seq("k"), "seq", Seq.empty)
    val s1 = ChangeLog.scd2Apply(s0, l.filter(msCol > c1 && msCol <= c2), Seq("k"), "seq", Seq.empty)
    val s2 = ChangeLog.scd2Apply(s1, l.filter(msCol > c2), Seq("k"), "seq", Seq.empty)
    val chained = ChangeLog.scd2Present(s2)
      .select("k", "seq", "valid_to_ms", "version", "is_current")
      .as[(Long, Long, Option[Long], Long, Int)].collect().toSet
    assert(chained == full)
  }

  test("cdcMergeApply: incremental merge equals full fold for every split; deletes shadow; null keys merge") {
    import spark.implicits._
    val l = Seq(
      (Some(1L), 10L, "a", ts("2024-01-01 00:00:01.000"), "insert"),
      (Some(1L), 12L, "b", ts("2024-01-01 00:00:02.000"), "update_postimage"),
      (Some(1L), 11L, "a", ts("2024-01-01 00:00:02.000"), "update_preimage"), // inert
      (Some(2L), 20L, "x", ts("2024-01-01 00:00:01.000"), "insert"),
      (Some(2L), 21L, "x", ts("2024-01-01 00:00:03.000"), "delete"), // key 2 gone
      (Some(3L), 30L, "t1", ts("2024-01-01 00:00:02.000"), "insert"),
      (Some(3L), 31L, "t2", ts("2024-01-01 00:00:02.000"), "update_postimage"), // same-ms tie → event_id wins
      (None, 40L, "n", ts("2024-01-01 00:00:01.000"), "insert"),
      (None, 41L, "n2", ts("2024-01-01 00:00:04.000"), "update_postimage"))
      .toDF("k", "seq", "v", ChangeLog.CommitTs, ChangeLog.ChangeType)
    def present(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "seq", "v").as[(Option[Long], Long, String)].collect().toSet
    val full = present(ChangeLog.cdcMergePresent(
      ChangeLog.cdcMergeState(l, Seq("k"), "seq")))
    assert(full == Set((Some(1L), 12L, "b"), (Some(3L), 31L, "t2"), (None, 41L, "n2")))
    def msCol = org.apache.spark.sql.functions.expr(
      s"unix_micros(`${ChangeLog.CommitTs}`) div 1000")
    for (splitMs <- Seq("2024-01-01 00:00:01.500", "2024-01-01 00:00:02.500",
                        "2024-01-01 00:00:03.500")) {
      val cut = ts(splitMs).getTime
      val state = ChangeLog.cdcMergeState(l.filter(msCol <= cut), Seq("k"), "seq")
      val inc = present(ChangeLog.cdcMergePresent(
        ChangeLog.cdcMergeApply(state, l.filter(msCol > cut), Seq("k"), "seq")))
      assert(inc == full, s"split at $splitMs diverged from the full fold")
    }
  }

  test("aggMaintainApply: incremental aggregate equals the full rebuild for every split; fully-retracted keys leave the view") {
    import spark.implicits._
    val l = Seq(
      // key 1: insert 2.5, then an update 2.5 → 4.0 (preimage retracts)
      (Some(1L), Some(2.5), ts("2024-01-01 00:00:01.000"), "insert"),
      (Some(1L), Some(2.5), ts("2024-01-01 00:00:02.000"), "update_preimage"),
      (Some(1L), Some(4.0), ts("2024-01-01 00:00:02.000"), "update_postimage"),
      // key 2: inserted then deleted → count 0 → absent from the view
      (Some(2L), Some(1.0), ts("2024-01-01 00:00:01.000"), "insert"),
      (Some(2L), Some(1.0), ts("2024-01-01 00:00:03.000"), "delete"),
      // key 3: one insert with a null value (counts, contributes 0 sum)
      (Some(3L), None, ts("2024-01-01 00:00:02.000"), "insert"),
      // null key: a real group for the view, like any SQL GROUP BY
      (None, Some(1.25), ts("2024-01-01 00:00:01.000"), "insert"))
      .toDF("k", "v", ChangeLog.CommitTs, ChangeLog.ChangeType)
    def view(df: org.apache.spark.sql.DataFrame) =
      df.as[(Option[Long], Long, Long)].collect().toSet
    val full = view(ChangeLog.aggPresent(
      ChangeLog.aggMaintainState(l, Seq("k"), "v")))
    assert(full == Set(
      (Some(1L), 1L, 4000000L), (Some(3L), 1L, 0L), (None, 1L, 1250000L)))
    def msCol = org.apache.spark.sql.functions.expr(
      s"unix_micros(`${ChangeLog.CommitTs}`) div 1000")
    for (splitMs <- Seq("2024-01-01 00:00:01.500", "2024-01-01 00:00:02.500")) {
      val cut = ts(splitMs).getTime
      val state = ChangeLog.aggMaintainState(l.filter(msCol <= cut), Seq("k"), "v")
      val inc = view(ChangeLog.aggPresent(ChangeLog.aggMaintainApply(
        state, l.filter(msCol > cut), Seq("k"), "v")))
      assert(inc == full, s"split at $splitMs diverged from the full rebuild")
    }
  }

  test("scd2Lookup: boundary facts take the new version, deleted gaps and pre-history match nothing") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "v1", ts("2024-01-01 00:00:01.000"), "insert"),
      (1L, 11L, "v2", ts("2024-01-01 00:00:03.000"), "update_postimage"),
      (1L, 12L, "v2", ts("2024-01-01 00:00:05.000"), "delete"),
      (1L, 13L, "v3", ts("2024-01-01 00:00:07.000"), "insert"))
      .toDF("k", "seq", "state", ChangeLog.CommitTs, ChangeLog.ChangeType)
    val hist = ChangeLog.scd2History(log, Seq("k"), "seq", Seq("state"))
    val facts = Seq(
      (100L, 1L, ts("2024-01-01 00:00:00.500")), // before any version → drop
      (101L, 1L, ts("2024-01-01 00:00:01.000")), // exactly at v1 open → v1
      (102L, 1L, ts("2024-01-01 00:00:03.000")), // exactly at the v1→v2 flip → v2
      (103L, 1L, ts("2024-01-01 00:00:04.500")), // inside v2
      (104L, 1L, ts("2024-01-01 00:00:06.000")), // deleted gap → drop
      (105L, 1L, ts("2024-01-01 00:00:09.000")), // reopened current → v3
      (106L, 2L, ts("2024-01-01 00:00:04.000"))) // unknown key → drop
      .toDF("fact_id", "k", "ts")
    val got = ChangeLog.scd2Lookup(facts, hist, Seq("k"), "ts", Seq("state"))
      .select("fact_id", "dim_version", "dim_state")
      .as[(Long, Long, String)].collect().toSet
    // version numbers count the tombstone too (it consumes a slot in
    // the maintained state), so the reopened row is version 4
    assert(got == Set(
      (101L, 1L, "v1"), (102L, 2L, "v2"), (103L, 2L, "v2"), (105L, 4L, "v3")))
  }

  test("latestCommitMs is millisecond-precise (not floor-to-second)") {
    assert(ChangeLog.latestCommitMs(log()) == ts("2024-01-01 00:00:01.250").getTime)
  }

  test("watermark round-trip: a commit 300ms after the cutoff, same second, is NOT skipped") {
    val cutoffMs = ts("2024-01-01 00:00:00.200").getTime
    val endMs = ts("2024-01-01 00:00:02.000").getTime
    // Exclusive-start protocol: next incremental reads (cutoff, end].
    val ids = ChangeLog.tableChanges(log(), cutoffMs + 1, endMs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 3L)) // floor-to-second would drop id=2
  }

  test("watermark round-trip: two syncs partition the log with no gap and no overlap") {
    val l = log()
    val w1 = ts("2024-01-01 00:00:00.500").getTime // watermark after sync 1
    val end = ChangeLog.latestCommitMs(l)
    val first = ChangeLog.tableChanges(l, 0L, w1)
      .select("id").collect().map(_.getLong(0)).toSet
    val second = ChangeLog.tableChanges(l, w1 + 1, end)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(first == Set(1L, 2L))
    assert(second == Set(3L))
  }

  test("tableChanges: implied raw-column bounds skip row groups of a TIMESTAMP_MICROS log and drop no row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    // Windows in ms: before 1970, across the epoch, after it.
    val windows = Seq((-5000L, -2000L), (-3L, 2L), (1700000000000L, 1700000000007L))
    val offsets = Seq(-1000L, -999L, -998L, -1L, 0L, 1L, 998L, 999L, 1000L, 1001L)
    val micros = windows.flatMap { case (s, e) =>
      offsets.flatMap(o => Seq(1000L * s + o, 1000L * e + o)) }.distinct.sorted
    // One row per file, so a row group's statistics are that row's value.
    def write(tsType: String): org.apache.spark.sql.DataFrame = {
      val session = spark.newSession()
      session.conf.set("spark.sql.parquet.outputTimestampType", tsType)
      val dir = Files.createTempDirectory("graft-cl-prune").resolve("log").toString
      session.createDataFrame(micros.zipWithIndex.map { case (u, i) => (i.toLong, u) })
        .toDF("id", "u")
        .select(col("id"), lit("insert").as(ChangeLog.ChangeType),
          timestamp_micros(col("u")).as(ChangeLog.CommitTs), col("id").as("part"))
        .write.partitionBy("part").parquet(dir)
      spark.read.parquet(dir).drop("part")
    }
    def recordsRead(body: => Unit): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong()
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead))
      }
      ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; ListenerBusAccess.drain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val idOf = micros.zipWithIndex.map { case (u, i) => u -> i.toLong }.toMap
    val stats = write("TIMESTAMP_MICROS")
    val int96 = write("INT96")
    for ((s, e) <- windows) {
      // Scala's `/` truncates toward zero, as Spark's `div`.
      val want = micros.filter(u => u / 1000 >= s && u / 1000 <= e).map(idOf).toSet
      for ((log, name) <- Seq((stats, "TIMESTAMP_MICROS"), (int96, "INT96"))) {
        val win = ChangeLog.tableChanges(log, s, e)
        val pushed = win.queryExecution.executedPlan.collectFirst {
          case f: FileSourceScanExec => f.metadata("PushedFilters") }.getOrElse("")
        assert(pushed.contains(s"GreaterThanOrEqual(${ChangeLog.CommitTs}") &&
          pushed.contains(s"LessThanOrEqual(${ChangeLog.CommitTs}"), s"$name: bounds not pushed: $pushed")
        var got = Set.empty[Long]
        val read = recordsRead { got = win.select("id").as[Long].collect().toSet }
        assert(got == want, s"$name ($s, $e): rows differ from the ms predicate")
        if (name == "INT96") assert(read == micros.size, s"INT96 ($s, $e): read $read")
        else assert(read < micros.size / 2 && read >= want.size, s"MICROS ($s, $e): read $read")
      }
    }
  }

  test("inferChanges classifies insert/delete/update and is null-safe on data columns") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option("c")),
      (4L, None: Option[String]), (5L, Option("e")))
      .toDF("k", "v")
    val newSnap = Seq(
      (1L, Option("a")),                    // unchanged → nothing
      (2L, Option("B")),                    // changed → pre + post
      // 3 absent → delete
      (4L, None: Option[String]),           // NULL == NULL → unchanged
      (5L, None: Option[String]),           // e → NULL is a change
      (6L, Option("f")))                    // new → insert
      .toDF("k", "v")
    val got = ChangeLog.inferChanges(oldSnap, newSnap, Seq("k"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (3L, "c", "delete"),
      (5L, "e", "update_preimage"), (5L, null, "update_postimage"),
      (6L, "f", "insert")))
    // round-trip: applying the inferred feed to the old snapshot via the
    // merge fold reproduces the new snapshot (the point of the op)
    val feed = ChangeLog.inferChanges(oldSnap, newSnap, Seq("k"))
      .withColumn(ChangeLog.CommitTs, org.apache.spark.sql.functions.lit(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val merged = ChangeLog.cdcMergePresent(
      ChangeLog.cdcMergeApply(
        oldSnap.withColumn("_change_type",
            org.apache.spark.sql.functions.lit("insert"))
          .withColumn(ChangeLog.CommitTs, org.apache.spark.sql.functions.lit(
            java.sql.Timestamp.valueOf("2023-01-01 00:00:00")))
          .transform(df => ChangeLog.cdcMergeState(df, Seq("k"), "k")),
        feed, Seq("k"), "k"))
      .select("k", "v")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toSet
    val want = newSnap.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(merged == want)
  }
}
