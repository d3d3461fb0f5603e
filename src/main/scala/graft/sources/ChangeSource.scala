package graft.sources

import org.apache.spark.sql.DataFrame

import graft.operators.ChangeLog

/** Pluggable CDC source — the three Delta facilities the reference's
  * `cdc` sync type consumes, abstracted so the storage layer is a
  * drop-in choice rather than a hardwired emulation:
  *
  *   - [[snapshotAsOf]]   ≡ `SELECT 'INSERT' AS _mp_change_type, *
  *                           FROM t TIMESTAMP AS OF <ts>` (export.py:112–114)
  *   - [[tableChanges]]   ≡ `SELECT CASE … AS _mp_change_type, *
  *                           FROM table_changes(t, start, end)` (export.py:115–128)
  *   - [[latestCommitMs]] ≡ `DESCRIBE HISTORY t LIMIT 1` → commit ts
  *                           in ms epoch (export.py:49–60)
  *
  * Contract (what [[graft.Engine.runCdc]] relies on, independent of the
  * implementation):
  *   - both scans RETURN `_mp_change_type` as the FIRST column followed
  *     by the table's data columns — the reference's projection shape;
  *   - `tableChanges` bounds are INCLUSIVE ms epoch; the caller passes
  *     `start = cutoff + 1` for the exclusive-start watermark protocol
  *     (export.py:92, 115–116), and an out-of-range window yields zero
  *     rows rather than throwing (the behavior the reference opts into
  *     via the `timestampOutOfRange.enabled` conf, export.py:196);
  *   - `latestCommitMs` is 0 for a table with no commits.
  *
  * Implementations:
  *   - [[ParquetChangeLog]] — the jar-less emulation over the parquet
  *     change-log convention (SURVEY §7.4), the one this sandbox runs.
  *   - A real Delta source is the intended production drop-in when a
  *     delta-spark jar is on the classpath; it cannot compile here, but
  *     the method bodies are one-liners against public Delta APIs:
  *     `spark.read.format("delta").option("timestampAsOf", iso(tsMs))
  *     .table(ref)` plus the `'INSERT'` literal for snapshotAsOf;
  *     `spark.read.format("delta").option("readChangeFeed", "true")
  *     .option("startingTimestamp", iso(startMs))
  *     .option("endingTimestamp", iso(endMs)).table(ref)` plus
  *     [[ChangeLog.mpChangeType]] for tableChanges; and
  *     `spark.sql(s"DESCRIBE HISTORY $ref LIMIT 1")` first-row
  *     timestamp for latestCommitMs.
  */
trait ChangeSource {

  /** S2 — full table state as of `tsMs` (ms epoch), every row tagged
    * `_mp_change_type = 'INSERT'` (the reference's first-sync snapshot,
    * export.py:112–114).
    */
  def snapshotAsOf(tsMs: Long): DataFrame

  /** S3 + F4 + P3 — committed changes with `startMs <= commit_ms <=
    * endMs`, projected as `(_mp_change_type, <log columns>)` with the
    * reference's CASE mapping (export.py:115–128).
    */
  def tableChanges(startMs: Long, endMs: Long): DataFrame

  /** S4 — latest commit timestamp in ms epoch; 0 when the table has no
    * commits (export.py:49–60).
    */
  def latestCommitMs(): Long
}

/** The parquet change-log emulation (SURVEY §7.4) as a [[ChangeSource]]:
  * a plain DataFrame carrying the data columns plus `_change_type` /
  * `_commit_timestamp` (the exact Delta CDF vocabulary), with
  * `keyCols` naming the primary key Delta would track internally —
  * a parquet log needs row identity explicit to fold snapshots.
  *
  * All three operations delegate to [[graft.operators.ChangeLog]]; the
  * scale shapes (narrow range filters, one `max_by` hash-aggregate
  * snapshot fold) are documented there. The range filter carries raw
  * `_commit_timestamp` bounds, so parquet skips row groups only when
  * the log stores that column with statistics (`TIMESTAMP_MICROS` or
  * `TIMESTAMP_MILLIS`); an INT96 log, Spark's default, is read in full.
  */
final case class ParquetChangeLog(log: DataFrame, keyCols: Seq[String])
    extends ChangeSource {

  override def snapshotAsOf(tsMs: Long): DataFrame =
    ChangeLog.snapshotAsOf(log, keyCols, tsMs)

  override def tableChanges(startMs: Long, endMs: Long): DataFrame =
    ChangeLog.tableChanges(log, startMs, endMs)

  override def latestCommitMs(): Long =
    ChangeLog.latestCommitMs(log)
}
