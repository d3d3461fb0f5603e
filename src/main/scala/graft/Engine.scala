package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{ChangeLog, DriverRows, RowHash, Sync, SyncMode}
import graft.sinks.{FileSink, SinkSpec}

/** End-to-end export pipeline façade — the Scala shape of the reference's
  * `__main__` flow (export.py:325–337): row-count guard → plan → hash
  * column → sink → watermark out.
  *
  * The watermark protocol (SURVEY §2.9) is explicit: callers persist
  * `SyncResult.newWatermarkMs` and pass it back as the next run's
  * `timeCutoffMs`. Only CDC produces a non-zero watermark
  * (export.py:158 vs 167/173/188).
  */
final case class HashSpec(column: String, ignoreColumns: Set[String] = Set.empty)

final case class ExportSpec(
    mode: SyncMode,
    nonNullableCols: Seq[String] = Nil,
    hash: Option[HashSpec] = None,
    sink: Option[SinkSpec] = None,
    rowCountLimit: Long = 0L)

final case class SyncResult(df: DataFrame, newWatermarkMs: Long)

/** CDC-specific spec: reads a change log rather than a snapshot table.
  * First sync (`timeCutoffMs == 0`) folds the log to a snapshot as-of the
  * latest commit (CDF retention fallback, export.py:112–114) and anchors
  * the new watermark to that commit; incremental reads changes in
  * `(cutoff, now]` and anchors to `nowMs` (export.py:139–158).
  */
final case class CdcSpec(keyCols: Seq[String], timeCutoffMs: Long, nowMs: Long)

object Engine {

  def plan(df: DataFrame, spec: ExportSpec): DataFrame = {
    val planned = Sync.plan(df, spec.mode, spec.nonNullableCols)
    spec.hash.fold(planned)(h => RowHash.withHashColumn(planned, h.column, h.ignoreColumns))
  }

  /** Batch export run: guard, plan, write (if a sink is configured). */
  def run(df: DataFrame, spec: ExportSpec): SyncResult = {
    FileSink.validateRowCount(df, spec.rowCountLimit)
    val out = plan(df, spec)
    spec.sink.foreach(FileSink.write(out, _))
    SyncResult(out, 0L)
  }

  /** CDC export over a parquet change log (S2–S4 emulated, SURVEY
    * §7.4) — the emulation-backed convenience shape of the pluggable
    * [[runCdc(src:graft\.sources\.ChangeSource*]] below.
    */
  def runCdc(log: DataFrame, spec: CdcSpec,
             hash: Option[HashSpec] = None,
             sink: Option[SinkSpec] = None): SyncResult =
    runCdc(sources.ParquetChangeLog(log, spec.keyCols),
      spec.timeCutoffMs, spec.nowMs, hash, sink)

  /** CDC export over ANY [[graft.sources.ChangeSource]] — the sync-mode
    * protocol (export.py:139–158) separated from the storage layer:
    * first sync (`timeCutoffMs == 0`) reads the snapshot as-of the
    * source's latest commit and anchors the watermark there (CDF
    * retention fallback, export.py:112–114, 141–142); incremental reads
    * changes in `(cutoff, now]` (`+1 ms` exclusive start, export.py:92,
    * 115–116) and anchors to `nowMs` (export.py:143–144). A real Delta
    * source drops in here unchanged when a delta jar is available; the
    * parquet emulation is just one implementation.
    *
    * Two tiers for an incremental window, with the same sink rows,
    * returned rows, schema and watermark:
    *  - Held window: with a sink configured and at most
    *    [[graft.operators.ChangeLog.MaxDriverBatchRows]] rows, the window
    *    is collected once ([[graft.operators.DriverRows.collect]], one
    *    job tagged `graft:cdc:collect_window`), the sink is written from
    *    the held rows, hashed in the write, as one file
    *    (`maxRecordsPerFile` still splits it), and `SyncResult.df` is a
    *    driver-local frame over those rows, so a caller's
    *    [[graft.operators.ChangeLog.cdcMergeApply]] reads no log and
    *    merges in one job.
    *  - Lazy plan, everything else: no sink (no job runs at all), a
    *    window over the ceiling (the collect stops at `ceiling + 1` rows
    *    and the sink is written from the plan, one file per non-empty
    *    scan partition; that collect is the cost a window over the
    *    ceiling pays), and the first sync, whose snapshot fold a probe
    *    could only size by running its whole aggregation.
    */
  def runCdc(src: sources.ChangeSource, timeCutoffMs: Long, nowMs: Long,
             hash: Option[HashSpec], sink: Option[SinkSpec]): SyncResult = {
    val (df0, watermark) =
      if (timeCutoffMs == 0) {
        val endMs = src.latestCommitMs()
        (src.snapshotAsOf(endMs), endMs)
      } else {
        (src.tableChanges(timeCutoffMs + 1, nowMs), nowMs)
      }
    def hashed(df: DataFrame) =
      hash.fold(df)(h => RowHash.withHashColumn(df, h.column, h.ignoreColumns))
    // The hash is computed over the held rows, not collected with them:
    // the sink write keeps the row hash in its own plan (above the
    // coalesce, which the optimizer does not fold into the relation).
    val held = sink.filter(_ => timeCutoffMs != 0).flatMap(_ =>
      DriverRows.hold(df0, "cdc", "collect_window", ChangeLog.MaxDriverBatchRows))
    sink.foreach(FileSink.write(hashed(held.fold(df0)(_.coalesce(1))), _))
    SyncResult(hashed(held.getOrElse(df0)), watermark)
  }

  /** Chunked historical BACKFILL: partition `[startMs, endMs)` into
    * `chunkMs` ranges and plan one time-based sync per chunk — the
    * orchestration a first export of a years-deep table needs (one
    * giant range is one giant task set with no retry granularity; per-
    * chunk syncs checkpoint progress, bound failure blast radius, and
    * let the sink roll files per range).
    *
    * Exactness: the sync predicate is second-precision
    * (`unix_timestamp(c)*1000`, F2 parity), so every value is a
    * multiple of 1000 and the chunk upper bound `<= b − 1000` (via
    * `delayMs = 1000, nowMs = b`) is EXACTLY `< b` — adjacent chunks
    * partition the range with no gap and no overlap, which the
    * q_backfill gate proves by unioning every chunk against the
    * single-range oracle. Bounds must be second-aligned for that
    * equivalence; enforced here rather than documented.
    *
    * Returns (chunkStartMs, chunkEndMs, plan) per chunk; callers sink
    * each plan (`FileSink.write`) or union them.
    */
  def backfill(df: DataFrame, updatedCol: String, startMs: Long, endMs: Long,
               chunkMs: Long,
               nonNullableCols: Seq[String] = Nil): Seq[(Long, Long, DataFrame)] = {
    require(chunkMs > 0 && chunkMs % 1000 == 0,
      s"chunkMs must be a positive whole-second multiple, got $chunkMs")
    require(startMs % 1000 == 0 && endMs % 1000 == 0,
      s"bounds must be second-aligned (predicate is second-precision), got [$startMs, $endMs)")
    require(endMs > startMs, s"empty backfill range [$startMs, $endMs)")
    (startMs until endMs by chunkMs).map { a =>
      val b = math.min(a + chunkMs, endMs)
      (a, b, Sync.plan(df,
        SyncMode.TimeBased(updatedCol, cutoffMs = a, delayMs = 1000L, nowMs = b),
        nonNullableCols))
    }
  }

  /** Local-mode session with the layout this engine assumes: UTC, AQE on,
    * shuffle parallelism sized to the cores (not the 200 default).
    *
    * A checkpoint dir is always wired (SPARK_GRAFT_CHECKPOINT_DIR, else a
    * scratch dir) so a reliable [[Jobs.pin]] (README "Eager jobs") takes
    * the RELIABLE `checkpoint()` branch:
    * `localCheckpoint` stores iteration state only in executor block
    * managers, so on a real cluster one lost executor kills the job with
    * an unrecoverable missing-block error mid-loop — at 100 TB the
    * checkpoint dir must be durable storage (HDFS/object store), which is
    * exactly what this env var is for. `cleanCheckpoints=true` lets the
    * ContextCleaner delete superseded round files instead of leaking one
    * directory per CC round for the life of the session.
    */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").getOrElse {
          // Scratch fallback: best-effort delete at JVM exit so repeated
          // local runs don't accumulate checkpoint trees in /tmp. (The
          // cleanCheckpoints conf above handles in-session cleanup, but
          // only when THIS builder created the context — builder configs
          // are no-ops on an already-running SparkContext.)
          val dir = java.nio.file.Files.createTempDirectory("graft-checkpoint")
          sys.addShutdownHook {
            import java.nio.file.{Files, Path}
            import scala.util.Try
            Try(Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
              .forEach(p => Try(Files.deleteIfExists(p))))
          }
          dir.toString
        })
    spark
  }
}
