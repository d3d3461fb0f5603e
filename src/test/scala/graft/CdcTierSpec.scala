package graft

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeLog, DriverRows}
import graft.sinks.SinkSpec
import graft.sources.ParquetChangeLog

/** The two tiers of an incremental CDC cycle: `Engine.runCdc` holding
  * its window on the driver (and `ChangeLog.cdcMergeApply` merging that
  * window in one job) against the lazy plan over the log files.
  */
class CdcTierSpec extends AnyFunSuite with SparkTestBase {

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val Hash = Some(HashSpec("row_hash"))

  private val logSchema = StructType(Seq(
    StructField("k", LongType), StructField("k2", StringType),
    StructField("seq", LongType), StructField("v", StringType),
    StructField(ChangeLog.ChangeType, StringType),
    StructField(ChangeLog.CommitTs, TimestampType)))

  /** (key, second key, seq, value, change type, commit ms after T0) */
  private type Ev = (Option[Long], Option[String], Long, String, String, Long)

  private def tmp(name: String): Path = Files.createTempDirectory(name)

  /** `evs` written as a parquet change log of three files, read back. */
  private def parquetLog(evs: Seq[Ev]): DataFrame = {
    val rows = evs.map { case (k, k2, seq, v, ct, ms) =>
      Row(k.map(Long.box).orNull, k2.orNull, seq, v, ct, new Timestamp(T0 + ms))
    }
    val dir = tmp("graft-cdc-log").resolve("log").toString
    spark.createDataFrame(rows.asJava, logSchema).repartition(3).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def sinkLines(dir: Path): Seq[String] = {
    val parts = Files.list(dir).iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".gz"))
    parts.flatMap { p =>
      val in = new BufferedReader(new InputStreamReader(new GZIPInputStream(Files.newInputStream(p)), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList finally in.close()
    }.sorted
  }

  private def dataFiles(dir: Path): Int =
    Files.list(dir).iterator().asScala.count(_.getFileName.toString.startsWith("part-"))

  /** One tier's cycle: the window `Engine.runCdc` returned, its sink and
    * the state the window merges into.
    */
  private final case class Cycle(window: SyncResult, sink: Path, merged: DataFrame)

  private def cycle(log: DataFrame, keys: Seq[String], cutoffMs: Long, nowMs: Long): Cycle = {
    val sink = tmp("graft-cdc-sink").resolve("out")
    val r = Engine.runCdc(ParquetChangeLog(log, keys), cutoffMs, nowMs, Hash,
      Some(SinkSpec("json", sink.toString)))
    val state = ChangeLog.cdcMergeState(
      log.filter(expr(s"unix_micros(`${ChangeLog.CommitTs}`) div 1000") <= cutoffMs), keys, "seq")
    Cycle(r, sink, ChangeLog.cdcMergeApply(state,
      r.df.drop(ChangeLog.MpChangeType, "row_hash"), keys, "seq"))
  }

  private def scans(df: DataFrame) = df.queryExecution.executedPlan.toString.contains("FileScan parquet")

  private def assertSame(name: String, held: Cycle, plan: Cycle): Unit = {
    TierLaws.broken(held.window.df, plan.window.df).foreach(m => fail(s"$name: $m"))
    assert(!scans(held.window.df) && scans(plan.window.df), s"$name: scans")
    assert(sinkLines(held.sink) == sinkLines(plan.sink), s"$name: sink rows differ")
    assert(held.window.newWatermarkMs == plan.window.newWatermarkMs, name)
    assert(TierLaws.rows(held.merged) == TierLaws.rows(plan.merged), s"$name: merge states differ")
    assert(held.merged.schema == plan.merged.schema, s"$name: merge schemas differ")
    assert(dataFiles(held.sink) <= 1, s"$name: the held window wrote ${dataFiles(held.sink)} files")
  }

  private val base: Seq[Ev] = Seq(
    (Some(1L), Some("a"), 10L, "a0", "insert", 1000L),
    (Some(2L), Some("a"), 20L, "b0", "insert", 1000L),
    (Some(3L), None, 30L, "c0", "insert", 1500L),
    (None, Some("b"), 40L, "n0", "insert", 2000L),
    (Some(1L), Some("a"), 11L, "a0", "update_preimage", 5000L),
    (Some(1L), Some("a"), 12L, "a1", "update_postimage", 5000L),
    (Some(2L), Some("a"), 21L, "b0", "delete", 6000L),
    (None, Some("b"), 41L, "n1", "update_postimage", 7000L),
    (Some(3L), None, 31L, "c1", "update_postimage", 7500L),
    (Some(4L), Some("c"), 50L, "d0", "insert", 8000L),
    // same-ms commits on one key: the tie-break decides
    (Some(5L), Some("c"), 61L, "e-late", "update_postimage", 9000L),
    (Some(5L), Some("c"), 60L, "e-early", "insert", 9000L))

  test("held and lazy tiers give the same sink, rows, schema, watermark and merge state") {
    val log = parquetLog(base)
    val cases = Seq(
      ("an empty window", Seq("k"), T0 + 20000L, T0 + 30000L),
      ("a null key", Seq("k"), T0 + 3000L, T0 + 7000L),
      ("a two-column key with a null component", Seq("k", "k2"), T0 + 3000L, T0 + 9000L),
      ("same-ms commits broken by the tie-break", Seq("k"), T0 + 8500L, T0 + 9000L))
    for ((name, keys, cutoff, now) <- cases) {
      val (held, plan) = TierLaws.tiers(cycle(log, keys, cutoff, now))
      assertSame(name, held, plan)
      assert(held.window.df.isEmpty == (name == "an empty window"), name)
    }
  }

  test("a window one row over the ceiling takes the lazy plan with a file scan") {
    val log = parquetLog(base)
    val (cutoff, now) = (T0 + 3000L, T0 + 9000L)
    val n = ChangeLog.tableChanges(log, cutoff + 1, now).count()
    assert(n == 8)
    assertSame("over the ceiling",
      DriverRows.ceilingsAt(n)(cycle(log, Seq("k"), cutoff, now)),
      DriverRows.ceilingsAt(n - 1)(cycle(log, Seq("k"), cutoff, now)))
  }

  test("a driver-local batch over the ceiling, or keyed by a double, merges through the broadcast plan") {
    val state = ChangeLog.cdcMergeState(parquetLog(base), Seq("k"), "seq")
    def bhj(batch: DataFrame, keys: Seq[String], st: DataFrame = state) = {
      assert(DriverRows.local(batch).isDefined)
      ChangeLog.cdcMergeApply(st, batch, keys, "seq").queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
    }
    def events(n: Long) = spark.createDataFrame((0L until n).map(i =>
      Row(i % 7, "a", 100L + i, "v", "insert", new Timestamp(T0 + 50000L))).asJava, logSchema)
    val cap = ChangeLog.MaxDriverBatchRows
    assert(!bhj(events(cap), Seq("k")) && bhj(events(cap + 1), Seq("k")))
    val dk = events(3).withColumn("k", col("k").cast("double"))
    assert(bhj(dk, Seq("k"), state.withColumn("k", col("k").cast("double"))))
  }

  test("the window collect is one job tagged graft:cdc:collect_window; the merge is one job") {
    val log = parquetLog(base)
    val stateDir = tmp("graft-cdc-state").resolve("s").toString
    ChangeLog.cdcMergeState(log.filter(col("seq") < 20L), Seq("k"), "seq").write.parquet(stateDir)
    val stateSchema = spark.read.parquet(stateDir).schema
    val sink = Some(SinkSpec("json", tmp("graft-cdc-sink").resolve("out").toString))
    val (window, sync) = jobsOf(Engine.runCdc(log, CdcSpec(Seq("k"), T0 + 3000L, T0 + 9000L), Hash, sink).df)
    assert(sync.size == 2, s"$sync")
    assert(sync.count(_._1.contains("graft:cdc:collect_window")) == 1, s"$sync")
    assert(sync.forall(_._2 == SparkTestBase.CallerStep), s"$sync")
    // A state read with its schema starts no inference job, so the
    // merge is exactly its one write job.
    val (_, merge) = jobsOf {
      ChangeLog.cdcMergeApply(spark.read.schema(stateSchema).parquet(stateDir),
        window.drop(ChangeLog.MpChangeType, "row_hash"), Seq("k"), "seq")
        .write.parquet(tmp("graft-cdc-merged").resolve("m").toString)
    }
    assert(merge.size == 1, s"$merge")
    // With no sink nothing runs.
    assert(jobsOf(Engine.runCdc(log, CdcSpec(Seq("k"), T0 + 3000L, T0 + 9000L), Hash))._2.isEmpty)
  }
}
