package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

import graft.operators.ChangeLog

/** End-to-end CLI flow (export.py:235–337): guard → build → hash → sink
  * → orchestrator JSON, per sync type, against the fixture parquet.
  */
class MainSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-main").toString

  private def runMain(args: String*): String =
    Main.run(spark, Main.parseArgs(args.toArray))

  test("flagship entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("full sync: JSON sink + result payload with the reference's query string") {
    val out = tmp()
    val json = runMain(
      "--sync_type", "full", "--catalog", sf, "--schema_name", "s",
      "--table", "nation", "--non_nullable_columns", "n_name",
      "--export_format", "json", "--bucket", s"file:$out", "--prefix", "exp",
      "--computed_hash_column", "computed_hash",
      "--computed_hash_ignore_columns", "n_comment")
    assert(json.contains(
      "\"query\": \"SELECT * FROM nation WHERE n_name IS NOT NULL AND n_name != ''\""))
    assert(json.contains("\"change_capture_sync_last_commit_ms\": 0"))
    val back = spark.read.json(s"file:$out/exp")
    assert(back.count() == 25)
    assert(back.columns.contains("computed_hash"))
  }

  test("scd-latest sync executes the golden SQL") {
    val json = runMain(
      "--sync_type", "scd-latest", "--catalog", sf, "--schema_name", "s",
      "--table", "orders", "--group_id_column", "o_custkey",
      "--scd_time_column", "o_orderdate")
    assert(json.contains("ROW_NUMBER() OVER (PARTITION BY o_custkey"))
  }

  test("time-based sync bounds both sides") {
    val json = runMain(
      "--sync_type", "time-based", "--catalog", sf, "--schema_name", "s",
      "--table", "orders", "--updated_time_column", "o_orderdate",
      "--time_cutoff_ms", "788918400000", "--delay_ms", "86400000",
      "--now_ms", "1009843200000")
    assert(json.contains("unix_timestamp(o_orderdate)*1000 >= 788918400000"))
    assert(json.contains("unix_timestamp(o_orderdate)*1000 <= 1009756800000"))
  }

  test("hash-ignore list splits on comma AND whitespace; membership is exact-name") {
    def hashes(ignore: String): Map[Long, String] = {
      val out = tmp()
      runMain(
        "--sync_type", "full", "--catalog", sf, "--schema_name", "s",
        "--table", "nation",
        "--export_format", "json", "--bucket", s"file:$out", "--prefix", "exp",
        "--computed_hash_column", "computed_hash",
        "--computed_hash_ignore_columns", ignore)
      spark.read.json(s"file:$out/exp")
        .selectExpr("n_nationkey", "computed_hash")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val comma = hashes("n_name,n_comment")
    val ws = hashes("n_name n_comment")
    assert(comma == ws, "comma and whitespace separators must be equivalent")
    // Exact-name membership: listing the SUBSTRING "comment" ignores
    // nothing — the reference's substring-`in` bug (which would drop
    // n_comment, like ignoring `id` when `pid` is listed) is not
    // reproduced (SURVEY §2.3).
    val substr = hashes("comment")
    assert(substr == hashes(""), "substring of a column name must ignore nothing")
    assert(substr != comma)
  }

  test("row-count guard fails the job before export") {
    val e = intercept[RuntimeException] {
      runMain("--sync_type", "full", "--catalog", sf, "--schema_name", "s",
        "--table", "orders", "--validate_row_count", "3")
    }
    assert(e.getMessage.contains("exceeds limit"))
  }

  test("cdc first sync then incremental: watermark round-trips through the payload") {
    // Synthesize a change log table in a scratch "catalog" directory.
    val cat = tmp()
    val events = Tables.load(spark, sf, "events")
    ChangeLog.synthesize(events, "event_id", "ts")
      .write.mode("overwrite").parquet(s"$cat/clicks_log.parquet")

    val first = runMain(
      "--sync_type", "cdc", "--catalog", cat, "--schema_name", "s",
      "--table", "clicks_log", "--cdc_key_columns", "event_id",
      "--time_cutoff_ms", "0")
    val log = Tables.load(spark, cat, "clicks_log")
    val expectEnd = ChangeLog.latestCommitMs(log)
    assert(first.contains(s""""change_capture_sync_last_commit_ms": $expectEnd"""))
    assert(first.contains("TIMESTAMP AS OF"))

    // Incremental run from that watermark: empty change window, but the
    // payload must anchor to the supplied now and render table_changes.
    val nowMs = expectEnd + 60000
    val second = runMain(
      "--sync_type", "cdc", "--catalog", cat, "--schema_name", "s",
      "--table", "clicks_log", "--time_cutoff_ms", expectEnd.toString,
      "--now_ms", nowMs.toString)
    assert(second.contains(s""""change_capture_sync_last_commit_ms": $nowMs"""))
    assert(second.contains("table_changes"))
  }

  test("cdc --use_custom_sql: initial file on the first sync, recurring file after, params bound") {
    // The catalog holds every fixture table (the custom SQL reads them by
    // name) and the change log whose latest commit anchors a first sync.
    val cat = Files.createTempDirectory("graft-csql-cat")
    Tables.All.foreach(n => Files.createSymbolicLink(cat.resolve(s"$n.parquet"),
      java.nio.file.Paths.get(sf, s"$n.parquet").toAbsolutePath))
    val events = Tables.load(spark, sf, "events")
    ChangeLog.synthesize(events, "event_id", "ts").write.parquet(s"$cat/clicks_log.parquet")
    val base = tmp()
    val initP = sources.SqlSource.queryPath(base, "p", "c", "s", "clicks_log", 0)
    val recP = sources.SqlSource.queryPath(base, "p", "c", "s", "clicks_log", 1)
    Files.createDirectories(initP.getParent)
    // Bounds in whole ms, as the commit times are.
    Files.writeString(initP,
      "SELECT * FROM events WHERE ts < CAST(:end_timestamp AS TIMESTAMP) + INTERVAL 1 MILLISECOND")
    Files.writeString(recP,
      """SELECT * FROM events
        |WHERE ts >= CAST(:start_timestamp AS TIMESTAMP)
        |  AND ts < CAST(:end_timestamp AS TIMESTAMP) + INTERVAL 1 MILLISECOND""".stripMargin)
    // The payload, and the rows the run wrote to its sink.
    def sync(cutoff: Long, more: String*): (String, Long) = {
      val out = tmp()
      val payload = runMain(Seq("--sync_type", "cdc", "--use_custom_sql",
        "--catalog", cat.toString, "--catalog_name", "c", "--schema_name", "s",
        "--mixpanel_project_id", "p", "--queries_base_dir", base, "--table", "clicks_log",
        "--time_cutoff_ms", cutoff.toString, "--export_format", "json",
        "--bucket", s"file:$out", "--prefix", "cdc") ++ more: _*)
      (payload, spark.read.schema(events.schema).json(s"file:$out/cdc").count())
    }
    def bound(ms: Long) = s"CAST('${sources.SqlSource.msToIso(ms)}' AS TIMESTAMP)"
    val (first, firstRows) = sync(0L)
    val endMs = """"change_capture_sync_last_commit_ms": (\d+)""".r
      .findFirstMatchIn(first).get.group(1).toLong
    assert(endMs == ChangeLog.latestCommitMs(Tables.load(spark, cat.toString, "clicks_log")))
    assert(first.contains(s"ts < ${bound(endMs)}"), first)
    assert(firstRows == events.count())
    val nowMs = endMs + 86400000L
    val (rec, recRows) = sync(endMs, "--now_ms", nowMs.toString)
    assert(rec.contains(s""""change_capture_sync_last_commit_ms": $nowMs"""))
    assert(rec.contains(s"ts >= ${bound(endMs + 1)}") && rec.contains(s"ts < ${bound(nowMs)}"), rec)
    assert(recRows == 0L) // nothing after the watermark
  }

  test("Engine.session wires reliable checkpoints for the CC loop (100 TB posture)") {
    import spark.implicits._
    // Engine.session (the Main path's session factory) must leave the
    // context with a checkpoint dir, so connectedComponents takes the
    // reliable-checkpoint branch — localCheckpoint state dies with any
    // executor on a real cluster. (getOrCreate returns the shared test
    // session; the posture is applied to it, which is exactly the
    // assertable surface.)
    val s = Engine.session()
    assert(s.sparkContext.getCheckpointDir.isDefined)
    // A negative ceiling pins the DISTRIBUTED tier — the reliable-
    // checkpoint posture under test is that tier's property (the r17
    // driver-local tier returns a LocalRelation and never checkpoints).
    val labels = operators.DriverRows.ceilingsAt(-1L)(operators.Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")))
    val rdd = labels.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.get
    // Reliable (file-backed) checkpoint, not a block-manager-local one.
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.isDefined,
      s"labels RDD not reliably checkpointed: ${rdd.toDebugString}")
    assert(labels.as[(Long, Long)].collect().toSet ==
      Set((2L, 1L), (3L, 1L), (1L, 1L), (11L, 10L), (10L, 10L)))
  }

  test("cdc incremental exports exactly the post-watermark changes") {
    val cat = tmp()
    val out = tmp()
    val events = Tables.load(spark, sf, "events")
    ChangeLog.synthesize(events, "event_id", "ts")
      .write.mode("overwrite").parquet(s"$cat/clicks_log.parquet")
    val log = Tables.load(spark, cat, "clicks_log")
    // Cut the log in half by commit time.
    val cutoff = ChangeLog.latestCommitMs(
      log.limit(0).union(log.orderBy(col(ChangeLog.CommitTs)).limit(log.count().toInt / 2)))
    val end = ChangeLog.latestCommitMs(log)
    runMain(
      "--sync_type", "cdc", "--catalog", cat, "--schema_name", "s",
      "--table", "clicks_log", "--time_cutoff_ms", cutoff.toString,
      "--now_ms", end.toString,
      "--export_format", "json", "--bucket", s"file:$out", "--prefix", "cdc")
    val expect = ChangeLog.tableChanges(log, cutoff + 1, end).count()
    assert(spark.read.json(s"file:$out/cdc").count() == expect)
  }
}
