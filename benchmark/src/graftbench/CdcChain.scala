package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import graft.{CdcSpec, Engine, HashSpec, Tables}
import graft.operators.{ChangeLog, RowHash}
import graft.sinks.{FileSink, SinkSpec}
import graft.sources.ParquetChangeLog

/** The watermark protocol as an orchestrator runs it, one closed-loop
  * client waiting on each sync. A pass is one chain: the first sync
  * (cutoff 0: latest commit, then the snapshot fold) plus `Cycles`
  * (`WarmCycles` in the warm-up) incremental syncs, each feeding the
  * previous watermark back as the cutoff over a one-hour window, writing
  * a gzip JSON sink, and merging the window into a materialized state
  * read from and written back to parquet. Each cycle moves little data,
  * so planning, scheduling and file commits dominate.
  */
final class CdcChain extends Workload("cdc_chain") {
  import CdcChain._

  def generate(spark: SparkSession, in: Inputs, dir: String): Unit = {
    // A CDF-style log carries session-zone commit timestamps.
    val events = in.events(spark, EventRows, Users).withColumn("ts", col("ts").cast("timestamp"))
    // Commit order, one file per day: the layout an append-only change
    // feed has, which lets a window scan skip files by their statistics.
    Inputs.write(ChangeLog.synthesize(events, "event_id", "ts")
      .repartitionByRange(30, col(ChangeLog.CommitTs))
      .sortWithinPartitions(ChangeLog.CommitTs), dir, "changelog")
  }

  private def commitMs = expr(s"unix_micros(`${ChangeLog.CommitTs}`) div 1000")

  private var lastWatermarks = Seq.empty[Long]

  def pass(spark: SparkSession, dir: String, out: String, ops: Ops, sp: Spans,
           warmUp: Boolean): Long = {
    val hash = Some(HashSpec(HashCol))
    val cycles = if (warmUp) WarmCycles else Cycles
    val marks = mutable.ArrayBuffer[Long]()
    var rows = 0L
    // The table as the first sync found it: commits up to FirstSyncMs.
    val firstLog = Tables.load(spark, dir, "changelog").filter(commitMs <= FirstSyncMs)
    val first = ops.op("first_sync") {
      val sink = Some(SinkSpec("json", s"$out/snapshot"))
      val wm =
        if (sp eq NoSpans)
          Engine.runCdc(firstLog, CdcSpec(Keys, 0L, 0L), hash, sink).newWatermarkMs
        else {
          val src = ParquetChangeLog(firstLog, Keys)
          val end = sp.span("changelog", "latest_commit")(src.latestCommitMs())
          val snap = sp.span("changelog", "snapshot_fold")(src.snapshotAsOf(end))
          val hashed = sp.span("rowhash", "hash:snapshot")(RowHash.withHashColumn(snap, HashCol))
          sp.span("sinks", "write:snapshot")(FileSink.write(hashed, sink.get))
          end
        }
      sp.span("changelog", "merge_state") {
        ChangeLog.cdcMergeState(firstLog.filter(commitMs <= wm), Keys, TieBreak)
          .write.mode("overwrite").parquet(statePath(out, 0))
      }
      wm
    }
    first.foreach { wm0 =>
      marks += wm0
      rows += EventRows * (FirstSyncMs - Inputs.EventsStartMs) / Inputs.EventsSpanMs
      var wm = wm0
      var i = 1
      while (i <= cycles) {
        val now = wm + WindowMs
        val sink = Some(SinkSpec("json", s"$out/cycles/c$i"))
        val ok = ops.op(s"cycle_$i") {
          val log = Tables.load(spark, dir, "changelog")
          val window =
            if (sp eq NoSpans) Engine.runCdc(log, CdcSpec(Keys, wm, now), hash, sink).df
            else {
              val src = ParquetChangeLog(log, Keys)
              val changes = sp.span("changelog", "table_changes")(src.tableChanges(wm + 1, now))
              val hashed = sp.span("rowhash", s"hash:c$i")(RowHash.withHashColumn(changes, HashCol))
              sp.span("sinks", s"write:c$i")(FileSink.write(hashed, sink.get))
              hashed
            }
          sp.span("changelog", "merge_apply") {
            val state = spark.read.parquet(statePath(out, i - 1))
            ChangeLog.cdcMergeApply(state,
                window.drop(ChangeLog.MpChangeType, HashCol), Keys, TieBreak)
              .write.mode("overwrite").parquet(statePath(out, i))
          }
        }
        if (ok.isEmpty) i = cycles + 1
        else {
          wm = now; marks += wm
          rows += EventRows * WindowMs / Inputs.EventsSpanMs
          i += 1
        }
      }
    }
    lastWatermarks = marks.toSeq
    rows
  }

  /** State directories alternate so a cycle never overwrites the state
    * it is reading.
    */
  private def statePath(out: String, cycle: Int): String = s"$out/state_${cycle % 2}"

  def probes(spark: SparkSession, dir: String, out: String, t: Tracer,
             m: mutable.Map[String, Double]): Unit = {
    val log = Tables.load(spark, dir, "changelog").filter(commitMs <= FirstSyncMs)
    val src = ParquetChangeLog(log, Keys)
    val end = src.latestCommitMs()
    val t0 = System.nanoTime()
    t.span("sources", "probe:noop_scan")(noop(log))
    val t1 = System.nanoTime()
    t.span("changelog", "probe:noop_fold")(noop(src.snapshotAsOf(end)))
    val t2 = System.nanoTime()
    m("sources.scan_s") = (t1 - t0) / 1e9
    m("changelog.snapshot_fold_s") = ((t2 - t1) - (t1 - t0)) / 1e9
    val real = t.allSpans.filterNot(_.name.startsWith("probe:"))
    def sumSelf(name: String) = real.filter(_.name == name).map(_.selfS).sum
    m("changelog.latest_commit_s") = sumSelf("latest_commit")
    m("changelog.merge_apply_s") = sumSelf("merge_apply")
    val cycleWrites = real.filter(_.name.matches("write:c[0-9]+")).flatMap(_.actions)
    m("changelog.window_rows") = cycleWrites.map(_.writeRows).sum.toDouble
    m("changelog.state_rows") = real.filter(_.name == "merge_apply").lastOption
      .map(_.actions.map(_.writeRows).sum.toDouble).getOrElse(0.0)
    m("rowhash.rows") = real.filter(_.name.matches("write:(snapshot|c[0-9]+)"))
      .flatMap(_.actions).map(_.writeRows).sum.toDouble
  }

  def manifest(dir: String, out: String): Map[String, Any] = Map(
    "hash_col" -> HashCol, "first_sync_ms" -> FirstSyncMs,
    "watermarks" -> lastWatermarks,
    "snapshot" -> s"$out/snapshot",
    "cycles" -> lastWatermarks.indices.drop(1).map(i => s"$out/cycles/c$i"),
    "state" -> statePath(out, lastWatermarks.size - 1))
}

object CdcChain {
  val EventRows = 60000L
  val Users = 2000L
  val Keys = Seq("user_id")
  val TieBreak = "event_id"
  val HashCol = "row_hash"
  val FirstSyncMs: Long = Inputs.EventsStartMs + 10 * 86400000L
  val WindowMs = 3600000L
  val Cycles = 12
  val WarmCycles = 2
}
