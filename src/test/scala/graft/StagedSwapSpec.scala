package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ChangeLog
import graft.sinks.FileSink
import graft.streaming.StreamSync

/** Staged directory swaps under crashes and replays: `FileSink.compact`
  * and the streaming aggregate / SCD2 maintenance loops. A crash is a
  * [[FaultFileSystem]] that fails its N-th rename or delete and every
  * one after it; for every N one run reaches, a fault-free rerun must
  * succeed and find the state from before or after the interrupted
  * swap.
  */
class StagedSwapSpec extends AnyFunSuite with SparkTestBase {

  /** A session that resolves `faulty://` and writes one file per job. */
  private lazy val fspark: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.faulty.impl", classOf[FaultFileSystem].getName)
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }

  private def faulty(p: Path): String = s"faulty://t$p"

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
  }

  private def names(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  private def parquetFiles(dir: Path): Int = names(dir).count(_.endsWith(".parquet"))

  private def ts(s: String) = Timestamp.valueOf(s)

  private val logSchema = new StructType()
    .add("k", "long").add("seq", "long").add("v", "double")
    .add(ChangeLog.ChangeType, "string").add(ChangeLog.CommitTs, "timestamp")

  private def log(s: SparkSession, rows: (Long, Long, Double, String, String)*): DataFrame =
    s.createDataFrame(rows.map { case (k, q, v, c, t) => Row(k, q, v, c, ts(t)) }.asJava, logSchema)

  private def batch0(s: SparkSession) = log(s,
    (1L, 10L, 1.5, "insert", "2024-01-01 00:00:01"),
    (2L, 20L, 2.0, "insert", "2024-01-01 00:00:02"),
    (3L, 30L, 4.25, "insert", "2024-01-01 00:00:03"))
  private def batch1(s: SparkSession) = log(s,
    (1L, 11L, 3.0, "update_postimage", "2024-01-01 00:00:04"),
    (2L, 21L, 2.0, "delete", "2024-01-01 00:00:05"),
    (4L, 40L, 7.0, "insert", "2024-01-01 00:00:06"))
  private def batch2(s: SparkSession) = log(s,
    (3L, 31L, 1.0, "update_postimage", "2024-01-01 00:00:07"),
    (5L, 50L, 0.5, "insert", "2024-01-01 00:00:08"))

  private def aggRows(s: SparkSession, state: String): Set[Row] =
    ChangeLog.aggPresent(s.read.parquet(state)).collect().toSet

  private def aggOracle(full: DataFrame): Set[Row] =
    ChangeLog.aggPresent(ChangeLog.aggMaintainState(full, Seq("k"), "v")).collect().toSet

  /** SCD2 versions as a sorted multiset, so a duplicated version shows. */
  private def scd2Rows(state: DataFrame): Seq[String] =
    state.select("k", "seq", "v", ChangeLog.ChangeType, "valid_from_ms")
      .collect().map(_.toString).toSeq.sorted

  /** One parquet file per batch in `watch`, modification times in batch order. */
  private def stageBatches(watch: Path, batches: DataFrame*): Unit = {
    Files.createDirectories(watch)
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = watch.resolveSibling(s"${watch.getFileName}-stage$i")
      b.coalesce(1).write.parquet(tmp.toString)
      val part = names(tmp).find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
      val dest = watch.resolve(f"batch-$i%04d.parquet")
      Files.move(tmp.resolve(part), dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 2000L))
    }
  }

  private def source(s: SparkSession, watch: Path): DataFrame =
    s.readStream.schema(logSchema).option("maxFilesPerTrigger", 1).parquet(watch.toString)

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  test("compact: after a crash at any rename or delete, a rerun finds the old or compacted table") {
    val root = Files.createTempDirectory("graft-crash-compact")
    val template = root.resolve("template")
    spark.range(0, 2000).select(col("id"), (col("id") * 3).as("v"))
      .write.option("maxRecordsPerFile", "250").parquet(template.toString)
    val expected = (0L until 2000L).map(i => (i, i * 3)).toSet
    val before = parquetFiles(template)
    def fresh(name: String): Path = {
      val d = Files.createDirectories(root.resolve(name)).resolve("t")
      copyTree(template, d); d
    }
    FaultFileSystem.disarm()
    val (_, after) = FileSink.compact(fspark, faulty(fresh("probe")))
    val calls = FaultFileSystem.count
    assert(after < before && calls >= 5, s"files $before -> $after over $calls calls")
    for (n <- 1L to calls) {
      val dir = fresh(s"run$n")
      FaultFileSystem.arm(n)
      val crashed =
        try { FileSink.compact(fspark, faulty(dir)); false }
        catch { case _: Exception => true }
        finally FaultFileSystem.disarm()
      assert(crashed, s"call $n of $calls did not fail the compaction")
      // The rerun's filesBefore shows which state the crash left.
      val (seen, out) = FileSink.compact(fspark, faulty(dir))
      assert(seen == before || seen == after, s"crash at call $n left $seen files")
      assert(out == after && parquetFiles(dir) == after)
      import spark.implicits._
      assert(spark.read.parquet(dir.toString).as[(Long, Long)].collect().toSet == expected,
        s"rows changed by a crash at call $n")
      assert(names(dir.getParent) == Set("t"), s"staging left after call $n: ${names(dir.getParent)}")
    }
  }

  test("aggregate maintenance: after a crash at any rename or delete of a batch, a restart gives the full-log state") {
    val root = Files.createTempDirectory("graft-crash-agg")
    val template = root.resolve("template")
    ChangeLog.aggMaintainState(batch0(spark), Seq("k"), "v").write.parquet(template.toString)
    val watch = root.resolve("watch")
    stageBatches(watch, batch1(spark))
    val pre = aggRows(spark, template.toString)
    val post = aggOracle(batch0(spark).unionByName(batch1(spark)))
    assert(pre != post)
    def fresh(name: String): Path = {
      val d = Files.createDirectories(root.resolve(name)).resolve("state")
      copyTree(template, d); d
    }
    def run(state: Path, ckpt: Path): Unit = drain(StreamSync.startAggMaintenance(
      source(fspark, watch), Seq("k"), "v", faulty(state), ckpt.toString))
    FaultFileSystem.disarm()
    val probe = fresh("probe")
    run(probe, root.resolve("probe-ckpt"))
    val calls = FaultFileSystem.count
    assert(aggRows(spark, probe.toString) == post && calls >= 5, s"$calls calls")
    for (n <- 1L to calls) {
      val state = fresh(s"run$n")
      val ckpt = root.resolve(s"ckpt$n")
      FaultFileSystem.arm(n)
      val crashed =
        try { run(state, ckpt); false }
        catch { case _: Exception => true }
        finally FaultFileSystem.disarm()
      assert(crashed, s"call $n of $calls did not fail the batch")
      run(state, ckpt) // the restart re-runs the uncommitted batch
      assert(aggRows(spark, state.toString) == post, s"crash at call $n")
      assert(names(state.getParent) == Set("state"),
        s"staging left after call $n: ${names(state.getParent)}")
    }
  }

  test("a replayed batch is applied once: aggregate and SCD2 state after a lost commit") {
    val root = Files.createTempDirectory("graft-replay")
    val watch = root.resolve("watch")
    stageBatches(watch, batch0(spark), batch1(spark))
    val full = batch0(spark).unionByName(batch1(spark))
    val aggState = root.resolve("agg").toString
    val aggCkpt = root.resolve("agg-ckpt")
    val scdState = root.resolve("scd2").toString
    val scdCkpt = root.resolve("scd2-ckpt")
    def runAgg(): Unit = drain(StreamSync.startAggMaintenance(
      source(spark, watch), Seq("k"), "v", aggState, aggCkpt.toString))
    def runScd2(): Unit = drain(StreamSync.startScd2Maintenance(
      source(spark, watch), Seq("k"), "seq", Seq("v"), scdState, scdCkpt.toString))
    runAgg(); runScd2()
    val aggOnce = aggRows(spark, aggState)
    val scdOnce = scd2Rows(spark.read.parquet(scdState))
    assert(aggOnce == aggOracle(full))
    assert(scdOnce == scd2Rows(ChangeLog.scd2State(full, Seq("k"), "seq", Seq("v"))))
    // Losing batch 1's commit makes the restart run batch 1 again.
    for (c <- Seq(aggCkpt, scdCkpt); f <- Seq("1", ".1.crc"))
      Files.deleteIfExists(c.resolve("commits").resolve(f))
    runAgg(); runScd2()
    assert(aggRows(spark, aggState) == aggOnce, "replayed batch 1 was added twice")
    assert(scd2Rows(spark.read.parquet(scdState)) == scdOnce, "replayed batch 1 duplicated versions")
  }

  test("a fresh checkpoint over existing state applies its batch 0") {
    val root = Files.createTempDirectory("graft-fresh-ckpt")
    val watch = root.resolve("watch")
    stageBatches(watch, batch0(spark), batch1(spark))
    val state = root.resolve("agg").toString
    drain(StreamSync.startAggMaintenance(
      source(spark, watch), Seq("k"), "v", state, root.resolve("ckpt-a").toString))
    val more = root.resolve("more")
    stageBatches(more, batch2(spark))
    drain(StreamSync.startAggMaintenance(
      source(spark, more), Seq("k"), "v", state, root.resolve("ckpt-b").toString))
    assert(aggRows(spark, state) ==
      aggOracle(batch0(spark).unionByName(batch1(spark)).unionByName(batch2(spark))))
  }
}
