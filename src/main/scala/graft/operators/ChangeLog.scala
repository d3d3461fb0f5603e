package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Emulation of the Delta facilities the reference's `cdc` sync type uses —
  * time travel (`TIMESTAMP AS OF`, export.py:114), the `table_changes` TVF
  * (export.py:127), and `DESCRIBE HISTORY` (export.py:56) — over a plain
  * parquet **change-log convention**, since no Delta jar ships with the
  * local Spark (SURVEY §7.4).
  *
  * A change log is any DataFrame carrying the data columns plus:
  *   - `_change_type`      ∈ {insert, update_preimage, update_postimage, delete}
  *   - `_commit_timestamp` TIMESTAMP of the commit that produced the row
  *
  * — the exact column vocabulary Delta CDF exposes and the reference's CASE
  * mapping consumes (export.py:121–126).
  *
  * Scale notes: every operator here is a scan + narrow filter/projection
  * (plus one hash aggregate for the snapshot fold), and the snapshot fold
  * uses `max_by` partial aggregation rather than a windowed sort (one row
  * per key per mapper on the shuffle). [[tableChanges]] adds raw-column
  * bounds on `_commit_timestamp`, so a log whose commit column carries
  * parquet statistics (written as `TIMESTAMP_MICROS` or
  * `TIMESTAMP_MILLIS`) skips the row groups outside the window. An INT96
  * column (Spark's default `outputTimestampType`) has no statistics, so
  * such a log is read in full.
  */
object ChangeLog {
  val ChangeType = "_change_type"
  val CommitTs = "_commit_timestamp"
  val MpChangeType = "_mp_change_type"

  /** Most rows of a CDC batch held on the driver: the incremental window
    * [[graft.Engine.runCdc]] collects when it writes a sink, and the
    * driver-local batch [[cdcMergeApply]], [[scd2Apply]] and
    * [[aggMaintainApply]] merge in one partition. Set below where
    * holding stops paying: the held tier scans the log in one task,
    * writes the sink in one task and folds the merge in one task. Cycle
    * p50 held against lazy, 4-vCPU host, `local[4]`, the benchmark's log
    * shape: at 60 k log rows, ~2 k-row windows 0.75 s against 0.97 s and
    * ~6 k-row windows 1.05 s against 1.04 s; at 600 k log rows, ~2.5 k-row
    * windows 0.98 s against 1.06 s, ~5.5 k-row windows 0.98 s against
    * 1.03 s and ~20 k-row windows 1.66 s against 1.23 s.
    */
  val MaxDriverBatchRows: Long = 1L << 12

  /** Commit timestamp at MILLISECOND precision (ms epoch). Delta CDF bounds
    * `table_changes` at millisecond ISO timestamps (export.py:115–127) and
    * the watermark protocol's `+1 ms` exclusive start (export.py:91–92)
    * requires ms fidelity: a second-truncated bound would silently skip a
    * commit at `…00.500` when the watermark is `…00.200`. `unix_micros`
    * keeps the arithmetic integral (`div`, not `/` — no double rounding).
    */
  private def commitMs: Column = expr(s"unix_micros(`$CommitTs`) div 1000")

  /** S4 — `DESCRIBE HISTORY t LIMIT 1` → latest commit timestamp in ms
    * (export.py:49–60). History newest-first + LIMIT 1 ≡ max commit ts.
    * Returns 0 for an empty log.
    */
  def latestCommitMs(log: DataFrame): Long = {
    val row = log.agg(max(commitMs)).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** P3 (export.py:121–126): Delta change types → Mixpanel change types.
    * `update_postimage`/`insert` → INSERT, everything else → DELETE.
    */
  def mpChangeType(changeType: Column): Column =
    when(changeType === "update_postimage", "INSERT")
      .when(changeType === "update_preimage", "DELETE")
      .when(changeType === "insert", "INSERT")
      .otherwise("DELETE")

  /** S3 + F4 + P3 — `table_changes(t, start, end)` with the reference's
    * CASE projection (export.py:115–128). Bounds are inclusive ms-epoch;
    * the caller passes `start = cutoff + 1` for the exclusive-start
    * watermark protocol (export.py:92, 115–116). Column order matches the
    * reference's `SELECT CASE … as _mp_change_type, *`.
    *
    * The reference also sets
    * `spark.databricks.delta.changeDataFeed.timestampOutOfRange.enabled`
    * (export.py:196) so Delta tolerates bounds past the latest commit.
    * This emulation needs no analogue: the bounds here are plain filter
    * predicates, so an out-of-range window simply yields zero rows
    * instead of throwing — the behavior that flag opts into.
    *
    * The exact predicate is on the ms projection, an expression no
    * source can push down. Beside it sit the raw-column bounds it
    * implies, `_commit_timestamp` in
    * `[timestamp_micros(1000·start − 999), timestamp_micros(1000·end + 999)]`:
    * `div` truncates toward zero, so a row within the ms bounds is
    * within these for either sign of the epoch, and no row is dropped.
    * Parquet skips row groups on them when the column has statistics
    * (see the object doc); a bound whose micros would overflow a long
    * is left out.
    */
  def tableChanges(log: DataFrame, startMs: Long, endMs: Long): DataFrame = {
    def micros(ms: Long, off: Long) =
      scala.util.Try(Math.addExact(Math.multiplyExact(ms, 1000L), off)).toOption
        .map(us => timestamp_micros(lit(us)))
    val raw = micros(startMs, -999L).map(col(CommitTs) >= _).toSeq ++
      micros(endMs, 999L).map(col(CommitTs) <= _)
    log.filter((raw :+ (commitMs >= startMs && commitMs <= endMs)).reduce(_ && _))
      .select(mpChangeType(col(ChangeType)).as(MpChangeType) +: log.columns.map(col): _*)
  }

  /** S2 — `SELECT 'INSERT' as _mp_change_type, * FROM t TIMESTAMP AS OF ts`
    * (export.py:112–114): reconstruct the table state at `tsMs` by folding
    * the change log per key — latest change at-or-before `tsMs` wins, and a
    * final `delete` means the row is absent. All surviving rows are tagged
    * `'INSERT'` exactly as the reference's first-sync snapshot does.
    *
    * `keyCols` is the table's primary key (Delta tracks row identity
    * internally; a parquet log needs it explicit).
    */
  def snapshotAsOf(log: DataFrame, keyCols: Seq[String], tsMs: Long): DataFrame = {
    val dataCols = log.columns.filterNot(c => c == ChangeType || c == CommitTs)
    // update_preimage rows describe the pre-state of an update, never a
    // resulting state — drop them before folding.
    val states = log
      .filter(commitMs <= tsMs && col(ChangeType) =!= "update_preimage")
    val latest = states
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(col(ChangeType) +: dataCols.map(col): _*), col(CommitTs)).as("__s"))
      .filter(col(s"__s.$ChangeType") =!= "delete")
    latest.select(lit("INSERT").as(MpChangeType) +: dataCols.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Materialized-SNAPSHOT maintenance state (the MERGE INTO side of
    * [[scd2State]]): per key, the single LATEST event — including delete
    * TOMBSTONES, which must shadow older events arriving in later
    * batches — with its commit ms retained for the merge comparator.
    * `tieBreakCol` makes same-ms commits deterministic (the comparator
    * is lexicographic (commit ms, tie-break), so state and full rebuild
    * agree for ANY batch split). Schema: keyCols, the remaining data
    * columns, `_change_type`, `_merge_ms`.
    */
  def cdcMergeState(log: DataFrame, keyCols: Seq[String],
                    tieBreakCol: String): DataFrame =
    foldMergeEvents(projectMergeEvents(log), keyCols, tieBreakCol)

  /** SNAPSHOT DIFF — infer a change feed from two table states when no
    * CDC log exists (the complement of the change-log emulation above:
    * sources without CDF are synced by diffing consecutive snapshots,
    * and the output speaks the same `_change_type` vocabulary Delta CDF
    * does, so everything downstream — the reference's CASE mapping,
    * [[scd2History]], the merge/apply family — consumes it unchanged).
    *
    * Classification per key (null-safe on every compared column):
    * new-only → `insert`; old-only → `delete`; both present with any
    * data column differing → `update_preimage` (old row) +
    * `update_postimage` (new row); identical rows emit nothing.
    *
    * Scale shape: ONE full-outer key join of the two snapshots — the
    * minimal possible plan for a diff — followed by a narrow
    * array-explode that emits 0/1/2 rows per key in the same pass (no
    * second scan per change class). Snapshots bucketed on the key make
    * the join co-located at 100 TB.
    *
    * NULL keys: standard SQL join semantics — a null-keyed row never
    * matches, so it diffs as a delete + insert rather than an update.
    * That is the honest posture for a diff (a null key is not an
    * identity); sources with nullable keys should surrogate them first.
    */
  def inferChanges(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    val dataCols = newSnap.columns.filterNot(keyCols.contains).toSeq
    require(oldSnap.columns.sorted.sameElements(newSnap.columns.sorted),
      "inferChanges: snapshots must share a schema")
    val o = oldSnap.select(
      keyCols.map(col) ++ Seq(lit(true).as("_ino")) ++
        dataCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = newSnap.select(
      keyCols.map(col) ++ Seq(lit(true).as("_inn")) ++
        dataCols.map(c => col(c).as(s"_n_$c")): _*)
    val j = o.join(n, keyCols, "full_outer")
    val changed = dataCols
      .map(c => !(col(s"_o_$c") <=> col(s"_n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def rowOf(side: String, ct: String) =
      struct(dataCols.map(c => col(s"_${side}_$c").as(c)) :+
        lit(ct).as(ChangeType): _*)
    val emitted =
      when(col("_inn").isNull, array(rowOf("o", "delete")))
        .when(col("_ino").isNull, array(rowOf("n", "insert")))
        .when(changed, array(rowOf("o", "update_preimage"),
          rowOf("n", "update_postimage")))
        // unchanged: an empty array of the same struct type (filter
        // keeps the element type without hand-building DDL)
        .otherwise(filter(array(rowOf("o", "delete")), _ => lit(false)))
    j.select(keyCols.map(col) :+ explode(emitted).as("_r"): _*)
      .select(keyCols.map(col) ++ dataCols.map(c => col(s"_r.$c")) :+
        col(s"_r.$ChangeType"): _*)
  }

  /** INCREMENTAL snapshot maintenance — Delta `MERGE INTO` semantics
    * over the change-log convention: splice a change batch into an
    * existing [[cdcMergeState]] by re-folding ONLY the touched keys
    * (null-safe key match, like [[scd2Apply]]); untouched rows pass
    * through. Cost scales with the batch, not the dimension. Equality
    * contract (gate + spec): `cdcMergeApply(cdcMergeState(log ≤ T),
    * changes > T)` equals `cdcMergeState(full log)` for any split — the
    * fold is associative and commutative under the (ms, tie-break)
    * comparator — and applying the same batch twice leaves the state
    * as one application does.
    *
    * Two plans, with the same rows ([[splitTouched]]):
    *  - Driver-local batch (a `LocalRelation`, e.g. the window
    *    [[graft.Engine.runCdc]] holds when it writes a sink): the touched
    *    keys are read from the batch's plan, with no job, into a
    *    null-safe `IN` literal predicate; `state` is filtered twice by it
    *    and the touched rows fold with the batch in one partition, so
    *    the merge plans no exchange and is the caller's one write job.
    *  - Any other batch (a file scan, a streaming micro-batch, a batch
    *    over [[MaxDriverBatchRows]] rows, a key of a type outside the
    *    literal set): the touched keys are broadcast to a
    *    left-anti and a left-semi join on the state, and the fold is a
    *    hash aggregate over the key exchange.
    */
  def cdcMergeApply(state: DataFrame, changes: DataFrame,
                    keyCols: Seq[String], tieBreakCol: String): DataFrame = {
    val newEvents = projectMergeEvents(changes)
    val s = splitTouched(state, newEvents, keyCols)
    s.untouched.unionByName(
      foldMergeEvents(s.fold(s.touched.unionByName(newEvents)), keyCols, tieBreakCol))
  }

  /** The state of a maintenance fold split by a change batch's keys:
    * `touched` holds the state rows whose key appears in the batch
    * (null-safe, as `<=>`), `untouched` the rest. `fold` wraps the input
    * of the per-key re-fold: one partition when the batch is
    * driver-local, so the fold plans no exchange.
    */
  private final case class Split(untouched: DataFrame, touched: DataFrame, local: Boolean) {
    def fold(input: DataFrame): DataFrame = if (local) input.coalesce(1) else input
  }

  /** The touched/untouched split [[cdcMergeApply]], [[scd2Apply]] and
    * [[aggMaintainApply]] share. `batch` is any frame holding `keyCols`.
    *
    * When `batch` is driver-local, of at most [[MaxDriverBatchRows]]
    * rows, and every key column has a type whose literal equality is
    * `<=>` (integers, booleans, dates, timestamps, strings of the
    * default binary collation), the distinct key tuples are read from
    * its plan (no job) into a literal predicate: `k IN (…)` with the
    * null key matched by `IS NULL` for one column, a struct `IN` for
    * several (struct fields compare null-equal). The predicate is never
    * null, so `untouched` is exactly its negation. Otherwise the key set
    * is broadcast: the planner cannot size a distinct() over an arbitrary
    * plan and would otherwise sort-merge the dimension twice (measured
    * 14× slower at a 20 M-row state, BASELINE.md round-9 CDC
    * rehearsal); with the hint both probes are map-side hash lookups on
    * the state scan. The match is null-safe in both plans: a null key is
    * a real version chain, and a plain equi-join would neither replay
    * it (semi misses) nor retire it (anti keeps).
    */
  private def splitTouched(state: DataFrame, batch: DataFrame, keyCols: Seq[String]): Split = {
    val keys = batch.select(keyCols.map(col): _*)
    val types = keys.schema.map(_.dataType)
    val literal = types == state.select(keyCols.map(col): _*).schema.map(_.dataType) &&
      types.forall {
        case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
             TimestampType | TimestampNTZType | StringType => true
        case _ => false
      }
    val held =
      if (literal && DriverRows.local(keys).isDefined)
        DriverRows.collect(keys, "cdc_merge", "touched_keys", MaxDriverBatchRows)
      else None
    held match {
      case Some(rows) =>
        val touched = keyIn(keyCols, types, rows.distinct.toSeq)
        Split(state.filter(!touched), state.filter(touched), local = true)
      case None =>
        val t = broadcast(keys.distinct())
        val matchCond = keyCols.map(k => state(k) <=> t(k)).reduce(_ && _)
        Split(state.join(t, matchCond, "left_anti"), state.join(t, matchCond, "left_semi"),
          local = false)
    }
  }

  /** Null-safe, never-null membership of the key tuple in `keys`. */
  private def keyIn(keyCols: Seq[String], types: Seq[DataType], keys: Seq[Row]): Column =
    keyCols match {
      case Seq(k) =>
        val (nulls, vals) = keys.map(_.get(0)).partition(_ == null)
        val in = col(k).isin(vals: _*)
        if (nulls.isEmpty) col(k).isNotNull && in else col(k).isNull || in
      case _ =>
        struct(keyCols.map(col): _*).isin(keys.map(r => struct(keyCols.indices.map(i =>
          lit(r.get(i)).cast(types(i)).as(keyCols(i))): _*)): _*)
    }

  /** User-facing view of a [[cdcMergeState]]: tombstones out, merge
    * bookkeeping dropped, rows tagged `'INSERT'` — the same shape
    * [[snapshotAsOf]] presents for a first sync.
    */
  def cdcMergePresent(state: DataFrame): DataFrame = {
    val dataCols = state.columns.filterNot(c => c == ChangeType || c == "_merge_ms")
    state.filter(col(ChangeType) =!= "delete")
      .select(lit("INSERT").as(MpChangeType) +: dataCols.map(col): _*)
  }

  /** Strip a change-log frame to merge events: data columns (original
    * order), `_change_type`, and the ms commit projection. Preimages are
    * descriptive, never state-bearing.
    */
  private def projectMergeEvents(log: DataFrame): DataFrame = {
    val dataCols = log.columns.filterNot(c => c == ChangeType || c == CommitTs)
    log.filter(col(ChangeType) =!= "update_preimage")
      .select(dataCols.map(col) :+ col(ChangeType) :+ commitMs.as("_merge_ms"): _*)
  }

  /** One hash-aggregate fold to the per-key (ms, tie-break)-max event —
    * `max_by` with a struct comparator, partial-aggregated map-side (one
    * row per key per mapper on the shuffle, the [[snapshotAsOf]] scale
    * shape).
    */
  private def foldMergeEvents(events: DataFrame, keyCols: Seq[String],
                              tieBreakCol: String): DataFrame = {
    val others = events.columns.filterNot(keyCols.contains)
    events.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(col("_merge_ms"), col(tieBreakCol))).as("__e"))
      .select(keyCols.map(col) ++ others.map(c => col(s"__e.`$c`").as(c)): _*)
  }

  /** SCD Type-2 history build: fold a change log into per-key VERSION
    * INTERVALS — (valid_from_ms, valid_to_ms] with `valid_to_ms` NULL on
    * the open (current) version — the warehouse-dimension shape one step
    * past the reference's SCD-latest (W1+F5 keeps only the newest row;
    * this keeps the full lineage queryable by as-of predicates).
    *
    * Semantics: preimage rows are descriptive, not state-bearing — drop
    * them first. Every remaining change (insert / update_postimage /
    * delete) CLOSES the previous version's interval at its commit ts;
    * delete rows close an interval without opening one, so a deleted key
    * has no current row until a later insert reopens it.
    *
    * Scale shape: ONE exchange on the key for the lead/row_number window
    * (version chains need every version, so the `max_by` collapse of
    * [[snapshotAsOf]] does not apply — the window IS the minimal plan).
    * `tieBreakCol` makes same-ms commits deterministic.
    */
  def scd2History(log: DataFrame, keyCols: Seq[String], tieBreakCol: String,
                  dataCols: Seq[String]): DataFrame =
    scd2Present(scd2State(log, keyCols, tieBreakCol, dataCols))

  /** The SCD2 MAINTENANCE STATE: [[scd2History]] with delete TOMBSTONES
    * retained and the original `_change_type` kept per row — everything
    * [[scd2Apply]] needs to splice a change batch in without replaying
    * the full log (deletes consume version slots and close intervals, so
    * dropping them — as the user-facing view does — would make the
    * history non-incrementable). This is the standard warehouse posture:
    * the stored dimension keeps tombstones, readers see
    * [[scd2Present]].
    */
  def scd2State(log: DataFrame, keyCols: Seq[String], tieBreakCol: String,
                dataCols: Seq[String]): DataFrame =
    scd2Windowize(
      // Ordering by the ms projection (not the raw ts) is safe: unix ms
      // is a monotone transform, and it lets the window run after the
      // narrow select below has already dropped the raw commit column.
      log.filter(col(ChangeType) =!= "update_preimage")
        .select((keyCols ++ Seq(tieBreakCol) ++ dataCols).distinct.map(col)
          :+ col(ChangeType) :+ commitMs.as("valid_from_ms"): _*),
      keyCols, tieBreakCol)

  /** The user-facing view of an SCD2 state: tombstones out, change type
    * dropped — exactly [[scd2History]]'s output.
    */
  def scd2Present(state: DataFrame): DataFrame =
    state.filter(col(ChangeType) =!= "delete").drop(ChangeType)

  /** INCREMENTAL SCD2 maintenance: splice a new change batch into an
    * existing [[scd2State]] WITHOUT replaying the full log — the
    * production shape at 100 TB, where the log tail is GBs against a
    * dimension of TBs. Only keys touched by the batch are rewritten:
    *
    *   1. `touched` = distinct keys in the batch (delta-sized);
    *   2. untouched state rows pass through ([[splitTouched]]: a literal
    *      key predicate for a driver-local batch, else a broadcast LEFT
    *      ANTI join);
    *   3. touched keys' existing rows are stripped back to their events
    *      (key, tie-break, data, change type, valid_from_ms — all
    *      retained in the state), unioned with the batch's events, and
    *      re-windowed per key.
    *
    * Cost scales with (touched history + batch), never with the full
    * dimension. Equality contract (spec + oracle gate):
    * `scd2Apply(scd2State(log ≤ T), changes > T) == scd2State(full log)`
    * for ANY split — the window recomputation sees the identical per-key
    * event multiset, so even out-of-order batch boundaries hold. Not
    * idempotent: a batch applied twice adds its versions twice, so a
    * rerun must be skipped by the caller (`StreamSync`'s batch mark).
    * The key match is null-safe: a window's null partition is a real
    * version chain, and matching it by `=` would split it into two
    * version-1 "current" rows when a null-key change arrives.
    */
  def scd2Apply(state: DataFrame, changes: DataFrame, keyCols: Seq[String],
                tieBreakCol: String, dataCols: Seq[String]): DataFrame = {
    val eventCols = (keyCols ++ Seq(tieBreakCol) ++ dataCols).distinct.map(col) :+
      col(ChangeType) :+ col("valid_from_ms")
    val newEvents = changes.filter(col(ChangeType) =!= "update_preimage")
      .select((keyCols ++ Seq(tieBreakCol) ++ dataCols).distinct.map(col)
        :+ col(ChangeType) :+ commitMs.as("valid_from_ms"): _*)
    val s = splitTouched(state, newEvents, keyCols)
    s.untouched.unionByName(scd2Windowize(
      s.fold(s.touched.select(eventCols: _*).unionByName(newEvents)), keyCols, tieBreakCol))
  }

  /** POINT-IN-TIME dimension lookup over an SCD2 history — join each
    * fact to the dimension VERSION that was valid when the fact
    * happened (`valid_from_ms ≤ fact_ms < valid_to_ms`, half-open like
    * the history itself), the query SCD2 exists to answer. Facts inside
    * a deleted gap (interval closed by a tombstone, nothing reopened
    * yet) match no version and drop out — the dimension row genuinely
    * did not exist at that time.
    *
    * Scale shape: an EQUI-join on the key with the interval test as a
    * residual filter — per-key version counts are small, so this is one
    * key exchange (or a broadcast when the dimension is), never an
    * interval/theta join. Dimension columns come back prefixed `dim_`,
    * the version as `dim_version`.
    */
  def scd2Lookup(facts: DataFrame, history: DataFrame, keyCols: Seq[String],
                 tsCol: String, dimCols: Seq[String]): DataFrame = {
    val h = history.select(
      keyCols.map(col) ++
        Seq(col("valid_from_ms"), col("valid_to_ms"),
          col("version").as("dim_version")) ++
        dimCols.map(c => col(c).as(s"dim_$c")): _*)
    val f = facts.withColumn("_fact_ms", expr(s"unix_micros(`$tsCol`) div 1000"))
    f.join(h, keyCols)
      .filter(col("_fact_ms") >= col("valid_from_ms") &&
        (col("valid_to_ms").isNull || col("_fact_ms") < col("valid_to_ms")))
      .select(facts.columns.map(col) ++
        Seq(col("dim_version")) ++ dimCols.map(c => col(s"dim_$c")): _*)
  }

  /** Shared interval math over SCD2 event rows
    * (…, `_change_type`, valid_from_ms): one key-partitioned window
    * assigns closing bounds, version numbers, and currency.
    */
  private def scd2Windowize(events: DataFrame, keyCols: Seq[String],
                            tieBreakCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("valid_from_ms").asc, col(tieBreakCol).asc)
    events
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("valid_to_ms").isNull.cast("int"))
  }

  /** 6-dp value quantum for the aggregate-maintenance state: each value
    * is quantized ONCE to BIGINT and every downstream sum is integer
    * arithmetic — split-invariant and engine-exact (the [[Drift]]
    * posture). |v| ≤ 9.2e12 fits the quantum inside Long.
    */
  val AggQuantum: Long = 1000000L

  /** +1 for state-bearing changes, −1 for retractions — the standard
    * delta-processing signs of incremental view maintenance: an update's
    * preimage retracts the old row, its postimage asserts the new one.
    */
  private def aggSign: Column =
    when(col(ChangeType).isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))

  /** Signed per-key aggregate delta of a change batch: Δcount and
    * Δsum(value) (6-dp-quantized BIGINT). The building block of
    * [[aggMaintainApply]]; over a full log it IS the maintained state.
    */
  def aggDelta(changes: DataFrame, keyCols: Seq[String],
               valueCol: String): DataFrame =
    changes
      .select(keyCols.map(col) :+ aggSign.as("_sgn") :+
        coalesce(floor(col(valueCol).cast("double") * AggQuantum + lit(0.5))
          .cast("long"), lit(0L)).as("_q"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_sgn")).as("n_rows"),
        sum(col("_sgn") * col("_q")).as("sum_value_q6"))

  /** INCREMENTAL AGGREGATE maintenance — a materialized per-key
    * (count, sum) view kept current from the change feed alone, the IVM
    * (incremental view maintenance) complement of [[cdcMergeApply]]'s
    * row-level MERGE: at 100 TB the base table is never rescanned to
    * refresh an aggregate; each sync folds the batch-sized delta in.
    * Only ADDITIVE aggregates maintain this way (count/sum and anything
    * derived from them — avg, variance via Σx/Σx²); min/max/distinct
    * need the [[Sketches]] mergeable-sketch route instead.
    *
    * Equality contract (gate + spec): for ANY split of the log,
    * `aggMaintainApply(aggMaintainState(log ≤ T), changes > T)` equals
    * `aggMaintainState(full log)` — integer sums are associative and
    * commutative, so even out-of-order batches converge.
    */
  def aggMaintainState(log: DataFrame, keyCols: Seq[String],
                       valueCol: String): DataFrame =
    aggDelta(log, keyCols, valueCol)

  /** Splice a change batch into an existing [[aggMaintainState]]. The
    * delta aggregate is batch-sized and only the state rows of the
    * batch's keys are re-summed ([[splitTouched]]) — cost scales with
    * the batch, never the state. Zero rows are NOT retired here (a
    * (0, 0) key row is algebraically identical to an absent one under
    * this merge); [[aggPresent]] hides them from readers. Not
    * idempotent: a batch applied twice counts twice, so a rerun must be
    * skipped by the caller (`StreamSync`'s batch mark).
    */
  def aggMaintainApply(state: DataFrame, changes: DataFrame,
                       keyCols: Seq[String], valueCol: String): DataFrame = {
    val s = splitTouched(state, changes, keyCols)
    s.untouched.unionByName(
      s.fold(s.touched.unionByName(aggDelta(s.fold(changes), keyCols, valueCol)))
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("sum_value_q6")).as("sum_value_q6")))
  }

  /** Reader view of an aggregate-maintenance state: keys whose row count
    * has gone to zero (fully retracted) are absent, like any other view
    * over a table with no rows for that key.
    */
  def aggPresent(state: DataFrame): DataFrame =
    state.filter(col("n_rows") =!= 0L)

  /** Synthesize a change log from any table for tests/demo pipelines: a
    * deterministic `_change_type` derived from a key column and a
    * `_commit_timestamp` taken from an existing timestamp column. Mirrors
    * the shape Delta CDF would emit without requiring Delta.
    */
  def synthesize(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.withColumn(ChangeType,
        when(pmod(col(keyCol), lit(10)) < 6, "insert")
          .when(pmod(col(keyCol), lit(10)) < 8, "update_postimage")
          .when(pmod(col(keyCol), lit(10)) < 9, "update_preimage")
          .otherwise("delete"))
      .withColumn(CommitTs, col(tsCol))
}
