package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Structured Streaming face of the sync engine (SURVEY §2.9 notes the
  * reference is watermark-batch; this is the `readStream` extension for
  * continuous ingest of the same change-log convention).
  *
  * Design: the batch engine's change-log tables (`_change_type`,
  * `_commit_timestamp` columns appended to the source schema,
  * [[graft.operators.ChangeLog]]) are exactly a streamable CDC feed —
  * `readStream` over the log directory + event-time watermark on
  * `_commit_timestamp` gives the incremental scan with late-data
  * handling that the batch path implements manually via `delay_ms`
  * (export.py:164–166).
  *
  * Scale notes: windowed counts are partial-aggregated per trigger
  * (shuffle carries one row per (key, window) per microbatch);
  * latest-per-key state is bounded by the key cardinality and evicted
  * by processing-time timeout.
  */
object StreamSync {

  /** Open the change-log directory as a stream. `schema` must be the
    * log's schema (streaming file sources require one — obtain it from
    * a one-off batch read of the same path).
    */
  def readChangeLog(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Event-time windowed change counts per change type: watermark +
    * tumbling window aggregation — the streaming analogue of the
    * per-sync row accounting the batch orchestrator does between runs.
    */
  def windowedChangeCounts(log: DataFrame, watermarkDelay: String,
                           windowLength: String): DataFrame =
    log.withWatermark("_commit_timestamp", watermarkDelay)
      .groupBy(window(col("_commit_timestamp"), windowLength), col("_change_type"))
      .agg(count(lit(1)).as("n_changes"))
      .select(col("window.start").as("window_start"),
        col("_change_type"), col("n_changes"))

  /** Latest-row-per-key state record: commit time in µs (TimestampType's
    * full precision — `unix_timestamp` would truncate to seconds and let
    * the JSON tie-break decide sub-second order) + the row's JSON
    * rendering (schema-agnostic, like the reference's `SELECT *` shape).
    */
  final case class KeyedLatest(key: Long, commitUs: Long, json: String)

  private def latestEncoder: Encoder[KeyedLatest] = Encoders.product[KeyedLatest]

  /** Continuously maintained scd-latest: for each key, keep the row with
    * the greatest `_commit_timestamp` seen so far — the streaming
    * equivalent of the batch `ScdLatest` window (W1) running
    * incrementally via `mapGroupsWithState`.
    *
    * Emits the current latest row for every key updated in the trigger
    * and nothing on state eviction (`flatMapGroupsWithState` — a timeout
    * must not re-emit an unchanged row to update-mode consumers). State
    * per key is one (commitUs, json) pair. `stateTtl` (processing time)
    * evicts idle keys so state stays bounded on 100 TB key spaces; note
    * that pending timers make the engine schedule no-data batches, so
    * `processAllAvailable()` (a test/dev API) never settles with a TTL —
    * pass `None` in harness code.
    */
  def streamingLatestByKey(log: DataFrame, keyCol: String,
                           stateTtl: Option[String] = Some("1 hour")): Dataset[KeyedLatest] = {
    implicit val enc: Encoder[KeyedLatest] = latestEncoder
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val projected = log.select(
      col(keyCol).cast("long").as("key"),
      unix_micros(col("_commit_timestamp")).as("commitUs"),
      to_json(struct(log.columns.map(col): _*)).as("json"))
      .as[KeyedLatest]

    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    projected.groupByKey(_.key)
      .flatMapGroupsWithState[KeyedLatest, KeyedLatest](
        OutputMode.Update(), timeoutConf) {
        (key: Long, rows: Iterator[KeyedLatest], state: GroupState[KeyedLatest]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ord = Ordering.Tuple2[Long, String]
            val incoming = rows.maxBy(r => (r.commitUs, r.json))(ord)
            val best = state.getOption
              .filter(s => ord.gteq((s.commitUs, s.json), (incoming.commitUs, incoming.json)))
              .getOrElse(incoming)
            state.update(best)
            stateTtl.foreach(state.setTimeoutDuration)
            Iterator.single(best)
          }
      }
  }

  /** Streaming exact dedup — the streaming face of
    * [[graft.operators.Dedup.exact]]: drop repeats of `keyCols` where the
    * duplicate arrives within the event-time watermark of the original.
    * State is evicted once the watermark passes, so memory stays bounded
    * by (arrival rate × delay), not by stream history — the only
    * formulation that survives an unbounded 100 TB/day feed.
    */
  def streamingDedup(log: DataFrame, keyCols: Seq[String],
                     watermarkDelay: String): DataFrame =
    log.withWatermark("_commit_timestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming sessionization — the streaming face of
    * [[graft.operators.Sessionize]]: gap-based event-time sessions via
    * the built-in `session_window`, which merges rows less than `gap`
    * apart per key and closes (emits, in Append mode) a session once the
    * watermark passes its end. State per key is the open session only —
    * bounded by key cardinality, not stream history.
    */
  def streamingSessions(events: DataFrame, tsCol: String, keyCol: String,
                        watermarkDelay: String, gap: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  private val ReplaySeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Materialize a replay result into the CALLER's session and release
    * the replay harness's resources: the memory-sink temp table is
    * dropped from the replay session's catalog and any temp
    * state/checkpoint dirs are deleted — so repeated replays in a
    * long-lived session (a bench loop) accumulate nothing. Replay
    * results are bounded by construction (the emitted windows/sessions
    * of a bounded fixture), so the local materialization is
    * metadata-scale — the same non-production harness boundary as the
    * `collect` on the input side of every replay.
    */
  private def handoff(out: DataFrame, caller: SparkSession,
                      replay: SparkSession, sinkTable: Option[String],
                      tempDirs: Seq[String] = Nil): DataFrame = {
    val rows = out.collect()
    val schema = out.schema
    sinkTable.foreach(t => replay.catalog.dropTempView(t))
    tempDirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(replay.sessionState.newHadoopConf()).delete(p, true)
    }
    caller.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Key value reserved for the watermark-advancing sentinel rows of
    * [[replaySessions]]; input keys must differ from it.
    */
  val SentinelKey: Long = Long.MinValue

  /** Exact staged row count from the chunk files' parquet FOOTERS —
    * driver-side metadata reads over a handful of local files, no
    * Spark job (the FixtureProbe.rowCount pattern). The staging write
    * has just produced these files, so the count is free and exact.
    */
  private def stagedRowCount(conf: org.apache.hadoop.conf.Configuration,
                             watchDirs: Seq[String]): Long =
    watchDirs.map { dir =>
      val files = {
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .iterator().asScala.toVector
        finally ls.close()
      }
      files.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    }.sum

  /** State/shuffle parallelism for one bounded replay — ADAPTIVE from
    * the staged row count (r16, VERDICT r15 #5), because the binding
    * constraint was MEASURED to flip with state size:
    *
    *   - small replays (r13 A/B at sf1.0, ~1 M rows): per-partition
    *     state-store commit/maintenance dominates, and 4 partitions
    *     beat 31 on every stateful gate (dedup addBatch 8.5 s vs
    *     15.9–41 s, sessions 7.0 s vs 13.8 s, change_counts 5.8 s vs
    *     21.1 s — BASELINE.md round 13);
    *   - large replays (r15 A/B at sf10, ~10 M state rows): per-
    *     partition state SIZE dominates (heap state store GC 28–42 s
    *     at 4 partitions, old-gen 5–6 GB) and 16 partitions won
    *     (sessions 167 s → 119 s).
    *
    * The flip sits between the two measured points; 4 M rows is their
    * geometric midpoint (sqrt(1M × 10M) ≈ 3.2 M, rounded to a round
    * number). Both regimes keep their measured winners; the fixture
    * sizes near the threshold are the flat part of both curves, so the
    * cost of landing on the wrong side there is small by construction.
    *
    * r17 adds a SMALL tier below the r13 measurement point: at sf0.1
    * (~100–200 k staged rows) a matched-window A/B over all 13 replay
    * gates measured 2 partitions at 0.71× of 4 (72.9 → 51.7 s family
    * total, canary 0.407 vs 0.400; 1 partition ≈ 2 after window
    * normalization) — per-partition state-store commit overhead
    * dominates harder the smaller the replay. The r13-measured ~1 M-row
    * regime keeps its winner (4).
    */
  private[graft] def replayPartitions(stagedRows: Long): Int =
    if (stagedRows >= 4000000L) 16
    else if (stagedRows >= 1000000L) 4
    else 2

  /** Dedicated session for one replay: isolated conf (shared
    * SparkContext) pinned at the [[replayPartitions]] parallelism
    * chosen from the just-staged input's footer row count, so the
    * caller's shuffle settings are untouched. The state store is the
    * session's default provider (the HEAP store; BASELINE.md r15/r16
    * record where RocksDB overtakes it, ~10 M state rows).
    */
  private def replaySession(caller: SparkSession,
                            watchDirs: String*): SparkSession = {
    val spark = caller.newSession()
    val rows = stagedRowCount(caller.sessionState.newHadoopConf(), watchDirs)
    val parts = replayPartitions(rows)
    if (parts != 4)
      System.err.println(s"[stream] replay partitions=$parts (staged rows=$rows)")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark
  }

  /** Per-batch timing telemetry (VERDICT r12 #6): after a replay
    * drains, print each micro-batch's trigger wall and operator
    * (addBatch) time to stderr. The gap between a gate's wall clock
    * and Σ addBatch is the FEEDER's cost (staging writes, file
    * listing, scheduling) — the evidence separating "the streaming
    * operator scales" from "the replay harness scales".
    */
  private def logBatchTimings(q: StreamingQuery, label: String): Unit = {
    val prog = q.recentProgress
    if (prog.nonEmpty) {
      val per = prog.map { p =>
        val add = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        s"${p.batchId}:${trig}ms(op ${add}ms,${p.numInputRows}r)"
      }.mkString(" ")
      System.err.println(s"[stream] $label batches: $per")
    }
  }

  /** Distributed twin of [[stageChunkedLog]] (r13): stage the bounded
    * log WITHOUT a driver collect. `df` is range-partitioned on
    * `orderCol` into `nChunks` slices (partition i's range precedes
    * partition i+1's, so chunk order IS event-time order — exactly the
    * sort + grouped slicing the collect path did) and written by the
    * executors in one job; the part files (part-NNNNN naming follows
    * partition id) are then renamed to chunk-%04d with strictly
    * monotone modification times for the file source's modTime
    * listing. At 10× data the collect + per-slice coalesce(1) driver
    * write dominated the file-source stream gates (BASELINE r12: the
    * 5–8× scaling was the feeder, not the operator); this staging
    * scales like any other distributed write. Sentinel rows (tiny by
    * contract) still stage driver-side as trailing chunks.
    */
  private def stageChunkedLogDistributed(df: DataFrame, orderCol: String,
                                         nChunks: Int,
                                         sentinels: Seq[org.apache.spark.sql.Row] = Nil)
      : (String, Seq[String]) = {
    require(nChunks >= 1, s"nChunks must be >= 1, got $nChunks")
    val spark = df.sparkSession
    val schema = df.schema
    val root = java.nio.file.Files.createTempDirectory("graft_file_replay")
    val watch = root.resolve("log")
    java.nio.file.Files.createDirectories(watch)
    val sdir = root.resolve("staged")
    // OVERLAP the independent staging jobs (r17, guide §2.6): the main
    // range-partitioned write and each single-row sentinel write touch
    // disjoint temp dirs, so they run as concurrent driver-submitted
    // jobs; only the (fast, order-sensitive) renames below stay
    // sequential so chunk numbering and modtime order are unchanged.
    graft.Jobs.overlap(spark, "replay", "stage")(
      (() => df.repartitionByRange(nChunks, col(orderCol))
        .write.parquet(sdir.toString)) +:
      sentinels.zipWithIndex.map { case (row, j) => () =>
        spark.createDataFrame(java.util.Arrays.asList(row), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(root.resolve(s"sentinel$j").toString)
      }: _*)
    val parts = {
      val ls = java.nio.file.Files.list(sdir)
      try ls.filter(p => p.getFileName.toString.startsWith("part-"))
        .sorted().iterator().asScala.toVector
      finally ls.close()
    }
    val base = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (part, i) =>
      val dest = watch.resolve(f"chunk-$i%04d.parquet")
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
    }
    sentinels.zipWithIndex.foreach { case (_, j) =>
      val i = parts.size + j
      val tmp = root.resolve(s"sentinel$j")
      val part = {
        val ls = java.nio.file.Files.list(tmp)
        try ls.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow()
        finally ls.close()
      }
      val dest = watch.resolve(f"chunk-$i%04d.parquet")
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
    }
    (watch.toString, Seq(root.toString))
  }

  /** FILE-SOURCE streaming e2e: [[readChangeLog]] over a staged
    * change-log parquet DIRECTORY → [[windowedChangeCounts]] — the
    * PRODUCTION ingest path (readStream file discovery, explicit
    * schema, per-file micro-batches), closing the gap between the
    * MemoryStream replay gates and the documented `readChangeLog`
    * posture. Chunks are time-ordered slices so the 0-delay watermark
    * late-drops nothing; two far-future sentinel FILES advance the
    * watermark past every real window, exactly the
    * [[replayChangeCounts]] protocol but driven by real file-source
    * listing order (q_stream_file_counts; same batch oracle as
    * q_stream_counts — the transport must be invisible).
    */
  def replayFileCounts(log: DataFrame, windowLength: String,
                       nChunks: Int = 3): DataFrame = {
    val caller = log.sparkSession
    val input = log.filter(col("_commit_timestamp").isNotNull)
      .select(col("_commit_timestamp").cast("timestamp"),
        col("_change_type").cast("string"))
    require(input.filter(col("_change_type") === SentinelChangeType)
      .limit(1).isEmpty,
      s"change type $SentinelChangeType is reserved")
    val schema = new StructType()
      .add("_commit_timestamp", "timestamp").add("_change_type", "string")
    val sentinels = Seq(
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), SentinelChangeType),
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2101-01-01 00:00:00"), SentinelChangeType))
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, "_commit_timestamp", nChunks, sentinels)
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_filecounts_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = windowedChangeCounts(src, watermarkDelay = "0 seconds",
        windowLength = windowLength)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "file_counts") }
    finally q.stop()
    handoff(spark.table(name).filter(col("_change_type") =!= SentinelChangeType),
      caller, spark, Some(name), tempRoots)
  }

  /** FILE-SOURCE streaming e2e for the maintained aggregate:
    * [[readChangeLog]] over a staged change-log directory →
    * [[startAggMaintenance]] (foreachBatch incremental fold into the
    * persisted state) — the production maintenance loop driven by real
    * file-source micro-batches. No sentinels needed: the signed
    * integer-exact fold is commutative, so batch boundaries (and file
    * order) are invisible by construction (q_stream_file_agg; same
    * oracle as q_stream_agg).
    */
  def replayFileAgg(log: DataFrame, keyCol: String, valueCol: String,
                    nChunks: Int = 3): DataFrame = {
    val caller = log.sparkSession
    val input = log.select(col(keyCol).cast("long"), col(valueCol).cast("double"),
      col(graft.operators.ChangeLog.ChangeType).cast("string"),
      col(graft.operators.ChangeLog.CommitTs).cast("timestamp"))
    val schema = new StructType()
      .add(keyCol, "long").add(valueCol, "double")
      .add(graft.operators.ChangeLog.ChangeType, "string")
      .add(graft.operators.ChangeLog.CommitTs, "timestamp")
    val (watchDir, tempRoots) = stageChunkedLogDistributed(
      input, graft.operators.ChangeLog.CommitTs, nChunks)
    val spark = replaySession(caller, watchDir)
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_file_agg_state")
    val stateDir = stateRoot.resolve("state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_file_agg_ckpt").toString
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = startAggMaintenance(src, Seq(keyCol), valueCol, stateDir, ckpt)
    try { q.processAllAvailable(); logBatchTimings(q, "file_agg") }
    finally q.stop()
    handoff(graft.operators.ChangeLog.aggPresent(spark.read.parquet(stateDir)),
      caller, spark, None, tempRoots ++ Seq(stateRoot.toString, ckpt))
  }

  /** Drive [[streamingSessions]] over a BOUNDED (key, ts) set and return
    * the completed sessions as a batch DataFrame — the harness that lets
    * a batch oracle prove the streaming operator (q_stream_sessions).
    *
    * DISTRIBUTED feeder (r15, VERDICT r14 #1): the input stages through
    * [[stageChunkedLogDistributed]] — time-range-ordered chunks written
    * by the executors, streamed as per-file micro-batches — never a
    * driver collect (the class that cost q_stream_distinct 236 s at
    * sf10 before the r14 transport swap). Chunk order IS event-time
    * order, so the 0-delay watermark late-drops nothing, and a session
    * is only ever CLOSED correctly across chunk boundaries: a session
    * closes when the watermark (= max ts of the previous batch) passes
    * its end = last_event + gap, and every later chunk's rows sit at
    * ts ≥ that watermark > last_event + gap — i.e. genuinely outside
    * the gap, a new session. Two far-future sentinel FILES then advance
    * the watermark past every real session end so Append mode emits
    * them all before `processAllAvailable` returns (no reliance on
    * no-data micro-batch scheduling); sentinel sessions filter back out
    * by their reserved key.
    */
  def replaySessions(events: DataFrame, keyCol: String, tsCol: String,
                     gap: String, nChunks: Int = 3): DataFrame = {
    val caller = events.sparkSession
    // Null keys/timestamps are excluded (an open session needs both);
    // gate oracles must filter the same way.
    val input = events.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("long").as(keyCol),
        col(tsCol).cast("timestamp").as(tsCol))
    require(input.filter(col(keyCol) === SentinelKey).limit(1).isEmpty,
      s"key $SentinelKey is reserved")
    val schema = new StructType().add(keyCol, "long").add(tsCol, "timestamp")
    val sentinels = Seq(
      org.apache.spark.sql.Row(
        SentinelKey, java.sql.Timestamp.valueOf("2100-01-01 00:00:00")),
      org.apache.spark.sql.Row(
        SentinelKey, java.sql.Timestamp.valueOf("2101-01-01 00:00:00")))
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, tsCol, nChunks, sentinels)
    // Dedicated session: stateful streaming cost scales with the state
    // store's partition count (one store instance committed per shuffle
    // partition per micro-batch), so replays run at the adaptive
    // [[replayPartitions]] count chosen from the staged row size.
    // newSession shares the SparkContext but isolates the conf, so the
    // caller's shuffle parallelism is untouched.
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_sessions_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = streamingSessions(src, tsCol, keyCol,
        watermarkDelay = "0 seconds", gap = gap)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "sessions") }
    finally q.stop()
    handoff(spark.table(name).filter(col(keyCol) =!= SentinelKey),
      caller, spark, Some(name), tempRoots)
  }

  /** Drive [[streamingDedup]] over a BOUNDED (id, ts) set with every row
    * injected TWICE into one micro-batch, returning the kept rows as a
    * batch DataFrame (the q_stream_dedup driver gate). If in-watermark
    * duplicate dropping ever regressed, the output row count would
    * double and the gate turns red; the kept row is deterministic
    * because the two copies are identical.
    * `dropDuplicatesWithinWatermark` emits kept rows in their arrival
    * batch, so no sentinel watermark advancement is needed.
    */
  def replayDedup(events: DataFrame, idCol: String, tsCol: String,
                  watermarkDelay: String, nChunks: Int = 3): DataFrame = {
    val caller = events.sparkSession
    // Null ids/timestamps excluded, mirroring replaySessions.
    val input = events.filter(col(idCol).isNotNull && col(tsCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        col(tsCol).cast("timestamp").as("_commit_timestamp"))
    // The gate's oracle keeps every non-null (id, ts) row, while the
    // stream dedups on idCol alone — equivalent ONLY when ids are
    // unique in the fixture (the kept row among same-id-different-ts
    // rows would be arrival-order nondeterministic). Enforce that
    // precondition loudly (one small distributed aggregate, never a
    // collect) so a fixture change turns the gate red here, not flakily
    // downstream.
    require(input.groupBy(col(idCol)).count()
      .filter(col("count") > 1L).limit(1).isEmpty,
      s"replayDedup fixture must have unique $idCol values: dedup on " +
        s"$idCol alone is only oracle-equivalent for unique ids")
    // DISTRIBUTED feeder (r15, VERDICT r14 #1): both copies of every row
    // stage through [[stageChunkedLogDistributed]] in one executor-side
    // write — the doubled input is range-partitioned on the timestamp,
    // and range partitioning puts EQUAL keys in the SAME partition, so
    // the two identical copies of a row always land in the same chunk =
    // same micro-batch, exactly the old one-batch injection protocol
    // per row. Cross-chunk is covered too: chunks are time-ordered, so
    // no input row ever arrives below the watermark (nothing late-drops)
    // and a same-ts duplicate is by construction within the watermark of
    // its original. Kept rows emit in their arrival batch — no sentinels.
    val (watchDir, tempRoots) = stageChunkedLogDistributed(
      input.union(input), "_commit_timestamp", nChunks)
    val schema = new StructType()
      .add(idCol, "long").add("_commit_timestamp", "timestamp")
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_dedup_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = streamingDedup(src, Seq(idCol), watermarkDelay)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "dedup") }
    finally q.stop()
    handoff(spark.table(name).withColumnRenamed("_commit_timestamp", tsCol),
      caller, spark, Some(name), tempRoots)
  }

  /** Drive [[streamingLatestByKey]] over a BOUNDED event set and return
    * the final latest-per-key rows as a batch DataFrame, json-decoded
    * back to typed columns (the q_stream_latest driver gate — the
    * streaming face of batch ScdLatest proved by the same oracle
    * shape). `stateTtl = None` because pending processing-time timers
    * never let `processAllAvailable` settle. The round trip exercises
    * the full state machinery: projection → to_json state → maxBy
    * fold → emission → from_json decode.
    *
    * DISTRIBUTED feeder (r15, VERDICT r14 #1): time-range-ordered
    * chunks staged by the executors and streamed per-file — no driver
    * collect. Update mode emits each touched key once PER TRIGGER, so
    * the memory sink accumulates one row per (key, touching batch); the
    * per-key emission sequence is monotone non-decreasing in
    * (commitUs, json) by the operator's own fold, so the FINAL state is
    * exactly the per-key max(struct(commitUs, json)) over the sink —
    * the standard "read the latest update" consumer of an update-mode
    * feed, not a re-implementation of the operator (the json payload
    * only ever comes out of the state machinery). No sentinels:
    * flatMapGroupsWithState carries no watermark here.
    */
  def replayLatest(events: DataFrame, keyCol: String, tsCol: String,
                   typeCol: String, valueCol: String,
                   nChunks: Int = 3): DataFrame = {
    val caller = events.sparkSession
    val input = events.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("long").as(keyCol),
        col(tsCol).cast("timestamp").as("_commit_timestamp"),
        col(typeCol).cast("string").as(typeCol),
        col(valueCol).cast("double").as(valueCol))
    val srcSchema = new StructType()
      .add(keyCol, "long").add("_commit_timestamp", "timestamp")
      .add(typeCol, "string").add(valueCol, "double")
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, "_commit_timestamp", nChunks)
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_latest_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = streamingLatestByKey(src, keyCol, stateTtl = None)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "latest") }
    finally q.stop()
    // Final state per key = max emission (struct comparison is
    // field-lexicographic: commitUs then json — the operator's own
    // tie-break order). ts comes from the state's µs-exact commitUs —
    // to_json renders timestamps at ms precision, so decoding it from
    // the json would silently truncate the microseconds the CDC
    // contract preserves.
    val schema = new StructType()
      .add(keyCol, "long").add("_commit_timestamp", "timestamp")
      .add(typeCol, "string").add(valueCol, "double")
    handoff(spark.table(name)
      .groupBy(col("key"))
      .agg(max(struct(col("commitUs"), col("json"))).as("_m"))
      .select(col("key"), col("_m.commitUs").as("commitUs"),
        from_json(col("_m.json"), schema).as("_r"))
      .select(col("key").as(keyCol),
        timestamp_micros(col("commitUs")).as(tsCol),
        col(s"_r.$typeCol").as(typeCol),
        col(s"_r.$valueCol").as(valueCol)),
      caller, spark, Some(name), tempRoots)
  }

  /** Stream-stream interval join: enrich a fact stream with ALL
    * dim-stream rows whose event time falls within `joinWindowSeconds`
    * BEFORE the fact (inclusive) — the canonical watermarked
    * stream-stream join (late enrichment, clickstream ⋈ impression
    * attribution, CDC ⋈ CDC). A fact with k in-window dim rows emits
    * k output rows; pick-latest is a downstream aggregation choice,
    * not this operator's.
    *
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance, so each side's buffered state is evicted
    * once the watermark passes `joinWindow + watermarkDelay` — bounded
    * by rate × horizon, never by stream history. Dim columns arrive
    * prefixed `dim_` to keep the output schema collision-free.
    * The window is a typed duration (seconds), not a SQL fragment —
    * nothing caller-supplied is spliced into an expression.
    */
  def streamingIntervalJoin(facts: DataFrame, factTsCol: String,
                            dims: DataFrame, dimTsCol: String,
                            keyCol: String, watermarkDelay: String,
                            joinWindowSeconds: Long): DataFrame = {
    require(joinWindowSeconds >= 0, s"joinWindowSeconds must be >= 0, got $joinWindowSeconds")
    val f = facts.withWatermark(factTsCol, watermarkDelay)
    val d = dims
      .select(dims.columns.map(c => col(c).as(s"dim_$c")): _*)
      .withWatermark(s"dim_$dimTsCol", watermarkDelay)
    val window = expr("INTERVAL 1 SECOND") * lit(joinWindowSeconds)
    f.join(d,
      col(keyCol) === col(s"dim_$keyCol") &&
        col(s"dim_$dimTsCol") >= col(factTsCol) - window &&
        col(s"dim_$dimTsCol") <= col(factTsCol))
  }

  /** Change-type value reserved for [[replayChangeCounts]]' sentinel
    * rows; input change types must differ from it.
    */
  val SentinelChangeType: String = "__graft_sentinel__"

  /** Drive [[windowedChangeCounts]] over a BOUNDED change log and
    * return the closed windows as a batch DataFrame (the
    * q_stream_counts driver gate; DuckDB twin = the epoch-aligned
    * tumbling-window GROUP BY). Same replay protocol as
    * [[replaySessions]]: real rows in micro-batch 1 (watermark still
    * epoch-0, nothing late-dropped), then two far-future sentinel rows
    * advance the watermark past every real window end so Append mode
    * deterministically emits them all; sentinel windows are filtered
    * back out by their reserved change type.
    */
  def replayChangeCounts(log: DataFrame, windowLength: String): DataFrame = {
    // DISTRIBUTED feeder (r15, VERDICT r14 #1) that KEEPS the one-batch
    // protocol this gate exists to prove: the real rows stage as ONE
    // chunk file (nChunks = 1 — repartitionByRange(1) writes through an
    // executor task, never a driver collect) so micro-batch 1 carries
    // the whole unordered log under the still-epoch-0 watermark, and the
    // two sentinel FILES advance the watermark as batches 2 and 3. The
    // multi-chunk per-file transport over the SAME operator and oracle
    // is q_stream_file_counts ([[replayFileCounts]]) — the two gates
    // differ exactly in batch granularity (protocol vs scale transport).
    val caller = log.sparkSession
    val input = log.filter(col("_commit_timestamp").isNotNull)
      .select(col("_commit_timestamp").cast("timestamp"),
        col("_change_type").cast("string"))
    require(input.filter(col("_change_type") === SentinelChangeType)
      .limit(1).isEmpty,
      s"change type $SentinelChangeType is reserved")
    val schema = new StructType()
      .add("_commit_timestamp", "timestamp").add("_change_type", "string")
    val sentinels = Seq(
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), SentinelChangeType),
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2101-01-01 00:00:00"), SentinelChangeType))
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, "_commit_timestamp", 1, sentinels)
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_counts_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = windowedChangeCounts(src, watermarkDelay = "0 seconds",
        windowLength = windowLength)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "change_counts") }
    finally q.stop()
    handoff(spark.table(name).filter(col("_change_type") =!= SentinelChangeType),
      caller, spark, Some(name), tempRoots)
  }

  /** Drive [[streamingIntervalJoin]] over BOUNDED fact/dim sets and
    * return the joined rows as a batch DataFrame (the q_stream_join
    * driver gate; DuckDB twin = a plain inequality join). Both sides
    * arrive as one micro-batch each — stream-stream INNER joins emit a
    * match in the trigger where both sides are present (the watermark
    * only drives state eviction and outer-side emission), so no
    * sentinel watermark advancement is needed, mirroring
    * [[replayDedup]]'s arrival-batch emission.
    *
    * Both inputs must carry (`keyCol`, `tsCol`, `idCol`); `idCol` rides
    * along so the gate's output rows are individually identifiable
    * (fact_id, dim_id) rather than hash-colliding on repeated
    * (key, ts) pairs.
    */
  def replayIntervalJoin(facts: DataFrame, dims: DataFrame, keyCol: String,
                         tsCol: String, idCol: String, watermarkDelay: String,
                         joinWindowSeconds: Long, nChunks: Int = 2): DataFrame = {
    // DISTRIBUTED feeder (r15, VERDICT r14 #1): BOTH sides stage as
    // time-range-ordered chunk directories written by the executors and
    // stream as per-file micro-batches (one file per side per trigger) —
    // no driver collect. Inner-join completeness across chunks holds by
    // the watermark contract: the global watermark is the MIN over both
    // sides' (previous-batch max − delay), every later chunk's rows sit
    // at or above it (ordered chunks = zero lateness), and eviction can
    // never race a future match — a buffered fact f is evicted only when
    // the watermark passes f.ts, after which every arriving dim has
    // dim_ts > f.ts (outside the [f.ts − window, f.ts] condition); a
    // buffered dim d only when the watermark passes d.ts + window, after
    // which every arriving fact has fact_ts − window > d.ts.
    val caller = facts.sparkSession
    val schema = new StructType()
      .add(keyCol, "long").add(tsCol, "timestamp").add(idCol, "long")
    def stage(df: DataFrame): (String, Seq[String]) =
      stageChunkedLogDistributed(
        // Null keys/timestamps/ids excluded, mirroring replaySessions.
        df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
            col(idCol).isNotNull)
          .select(col(keyCol).cast("long").as(keyCol),
            col(tsCol).cast("timestamp").as(tsCol),
            col(idCol).cast("long").as(idCol)),
        tsCol, nChunks)
    // The two sides' staging writes are independent — overlap them
    // (guide §2.6), same as the writes inside each stager.
    val Seq((fDir, fRoots), (dDir, dRoots)) =
      graft.Jobs.overlap(caller, "interval_join", "stage_sides")(
        () => stage(facts), () => stage(dims))
    val spark = replaySession(caller, fDir, dDir)
    val name = s"graft_replay_ijoin_${ReplaySeq.incrementAndGet()}"
    def src(dir: String): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = streamingIntervalJoin(
        src(fDir), tsCol, src(dDir), tsCol,
        keyCol, watermarkDelay, joinWindowSeconds)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "interval_join") }
    finally q.stop()
    handoff(spark.table(name).select(
      col(keyCol),
      col(tsCol).as("fact_ts"), col(idCol).as("fact_id"),
      col(s"dim_$tsCol").as("dim_ts"), col(s"dim_$idCol").as("dim_id")),
      caller, spark, Some(name), fRoots ++ dRoots)
  }

  /** Stream-STATIC dimension enrichment — the fourth streaming join
    * shape next to stream-stream interval join: each micro-batch of the
    * stream equi-joins a static (batch) dimension table. Stateless by
    * construction (Spark re-plans the static side per trigger; no
    * watermark, no join state store), so at 100 TB/day ingest rates the
    * cost model is simply "one broadcast-hash probe per event": the
    * dimension is hinted broadcast — the standard small-dim posture —
    * and nothing accumulates across triggers. Dim columns arrive
    * prefixed `dim_` (minus the join key, which would duplicate the
    * stream's), keeping the output schema collision-free like
    * [[streamingIntervalJoin]].
    */
  def streamingEnrich(stream: DataFrame, dim: DataFrame,
                      streamKey: String, dimKey: String): DataFrame = {
    val d = dim.select(dim.columns.map(c => col(c).as(s"dim_$c")): _*)
    stream.join(broadcast(d), col(streamKey) === col(s"dim_$dimKey"))
      .drop(s"dim_$dimKey")
  }

  /** Drive [[streamingEnrich]] over a BOUNDED event set against a real
    * static dimension frame and return the enriched rows as a batch
    * DataFrame (the q_stream_enrich driver gate; DuckDB twin = a plain
    * equi-join). One micro-batch, Append mode, no sentinel needed —
    * stateless joins emit in the arrival trigger. The dim side is NOT
    * replayed through a MemoryStream: being static is the semantics
    * under test.
    */
  def replayEnrich(events: DataFrame, dim: DataFrame, keyCol: String,
                   tsCol: String, idCol: String, dimKey: String,
                   nChunks: Int = 2): DataFrame = {
    // DISTRIBUTED feeder (r15, VERDICT r14 #1 class): the stream side
    // stages through [[stageChunkedLogDistributed]] (stateless join —
    // every micro-batch enriches independently, so chunking is trivially
    // invisible); the STATIC side must live in the replay session (a
    // DataFrame is bound to the SparkSession that resolved it; mixing
    // sessions in one plan breaks analysis) and crosses over as a temp
    // parquet written and re-read by the executors — never a driver
    // collect of the dimension.
    val caller = events.sparkSession
    val input = events
      // Null keys/timestamps/ids excluded, mirroring replaySessions.
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol).cast("long").as(keyCol),
        col(tsCol).cast("timestamp").as(tsCol),
        col(idCol).cast("long").as(idCol))
    val schema = new StructType()
      .add(keyCol, "long").add(tsCol, "timestamp").add(idCol, "long")
    val (watchDir, tempRoots) = stageChunkedLogDistributed(input, tsCol, nChunks)
    val dimRoot = java.nio.file.Files.createTempDirectory("graft_enrich_dim")
    val dimDir = dimRoot.resolve("dim").toString
    dim.write.parquet(dimDir)
    val spark = replaySession(caller, watchDir)
    val dimLocal = spark.read.schema(dim.schema).parquet(dimDir)
    val name = s"graft_replay_enrich_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = streamingEnrich(src, dimLocal, keyCol, dimKey)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "enrich") }
    finally q.stop()
    handoff(spark.table(name), caller, spark, Some(name),
      tempRoots :+ dimRoot.toString)
  }

  /** STREAMING SCD2 dimension maintenance: every micro-batch of change
    * rows is spliced into the parquet state directory with
    * [[graft.operators.ChangeLog.scd2Apply]] — only the batch's touched
    * keys are rewritten, so per-trigger cost scales with the batch, not
    * the dimension. Each batch replaces the state through
    * [[maintainState]]: a [[graft.sinks.StagedSwap]] that leaves the
    * prior or the next state after any failure, and a batch mark that
    * makes a replayed batch a no-op, so a restart cannot duplicate
    * versions.
    *
    * Scale note: the COMPUTE is delta-proportional (scd2Apply rewrites
    * touched keys only), but this plain-parquet state dir is REWRITTEN
    * whole each batch. At a TB-scale dimension the state would be
    * key-partitioned (or a table format with row-level rewrite) so the
    * swap touches only partitions holding touched keys — the apply plan
    * already isolates exactly those rows; the sink is the integration
    * point.
    */
  def startScd2Maintenance(changes: DataFrame, keyCols: Seq[String],
                           tieBreakCol: String, dataCols: Seq[String],
                           stateDir: String, checkpointDir: String): StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        maintainState(batch, batchId, stateDir) {
          case Some(state) =>
            graft.operators.ChangeLog.scd2Apply(state, batch, keyCols, tieBreakCol, dataCols)
          case None =>
            graft.operators.ChangeLog.scd2State(batch, keyCols, tieBreakCol, dataCols)
        }
      }
      .start()

  /** One foreachBatch step over a parquet state directory: swap in
    * `next(current state)` (None before the first batch) through a
    * [[graft.sinks.StagedSwap]] marked with the streaming query id and
    * the batch id, unless the state already carries that mark. Spark
    * re-runs the last batch when a restart finds it uncommitted; the
    * mark turns that replay into a no-op. The query id is stable across
    * restarts from one checkpoint, so a fresh checkpoint over existing
    * state still applies its batches.
    */
  private def maintainState(batch: Dataset[Row], batchId: Long, stateDir: String)
                           (next: Option[DataFrame] => DataFrame): Unit = {
    val spark = batch.sparkSession
    val swap = graft.sinks.StagedSwap(spark, stateDir)
    // StreamExecution.QUERY_ID_KEY: set on the thread running the batch.
    val mark = Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .map(q => s"$q $batchId")
    if (mark.isEmpty || swap.mark != mark) {
      val state = if (swap.exists) Some(spark.read.parquet(stateDir)) else None
      swap.replace(mark)(next(state).write.parquet(_))
    }
  }

  /** Drive [[startScd2Maintenance]] over a BOUNDED change log streamed in
    * `nBatches` chronological micro-batches and return the PRESENTED
    * history (the q_stream_scd2 driver gate; DuckDB twin = the full-log
    * rebuild — batch boundaries must be invisible in the result). Key is
    * nullable (Option-encoded): null keys form their own version chain,
    * matching the window's null partition in the batch build.
    */
  def replayScd2(log: DataFrame, keyCol: String, tieBreakCol: String,
                 dataCol: String, nBatches: Int = 2): DataFrame = {
    // DISTRIBUTED feeder (r15, VERDICT r14 #1): the change log stages as
    // commit-time-range-ordered chunks written by the executors and
    // streams per-file into the foreachBatch maintenance loop — no
    // driver collect. Chronology holds chunk-to-chunk (range partitions
    // are ordered; equal commit timestamps never straddle a boundary),
    // and WITHIN a batch order is irrelevant by scd2Apply's own equality
    // contract ("even out-of-order batch boundaries hold" — the window
    // recomputation sees the per-key event multiset). Null keys ride
    // through parquet natively (the old encoder needed Option for them).
    require(nBatches >= 1, s"nBatches must be >= 1, got $nBatches")
    val caller = log.sparkSession
    val input = log.select(col(keyCol).cast("long").as(keyCol),
      col(tieBreakCol).cast("long").as(tieBreakCol),
      col(dataCol).cast("string").as(dataCol),
      col(graft.operators.ChangeLog.ChangeType),
      col(graft.operators.ChangeLog.CommitTs))
    val schema = new StructType()
      .add(keyCol, "long").add(tieBreakCol, "long").add(dataCol, "string")
      .add(graft.operators.ChangeLog.ChangeType, "string")
      .add(graft.operators.ChangeLog.CommitTs, "timestamp")
    val (watchDir, tempRoots) = stageChunkedLogDistributed(
      input, graft.operators.ChangeLog.CommitTs, nBatches)
    val spark = replaySession(caller, watchDir)
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_scd2_state")
    val stateDir = stateRoot.resolve("state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2_ckpt").toString
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = startScd2Maintenance(src, Seq(keyCol), tieBreakCol, Seq(dataCol),
      stateDir, ckpt)
    try { q.processAllAvailable(); logBatchTimings(q, "scd2") }
    finally q.stop()
    handoff(graft.operators.ChangeLog.scd2Present(spark.read.parquet(stateDir)),
      caller, spark, None, tempRoots ++ Seq(stateRoot.toString, ckpt))
  }

  /** STREAMING windowed DISTINCT-COUNT registers: per tumbling
    * event-time window, the 64 HLL registers maintained as a real
    * watermarked streaming aggregate — `max(rho)` per (window, bucket)
    * is mergeable monotone state, exactly what Structured Streaming
    * aggregates want (bounded per-window state, map-side combine per
    * trigger, Append emission when the watermark closes the window).
    *
    * The stream publishes REGISTERS, not estimates, and that is the
    * production posture, not a workaround: chained streaming
    * aggregations are unsupported in Append mode, and the register
    * table is the shippable, further-mergeable artifact (union across
    * shards/streams by `max` again) — readers run the estimator over
    * whatever window slice they need, as [[replayDistinctCounts]]
    * does. The batch twin is [[graft.operators.Sketches.rollingDistinct]].
    * Output (streaming): (window_start, bucket, mrho).
    */
  def streamingDistinctRegisters(events: DataFrame, tsCol: String,
                                 valueCol: String, watermarkDelay: String,
                                 windowLength: String): DataFrame = {
    val h = graft.functions.TextAnalysis.fingerprint(col(valueCol).cast("string"))
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength),
        pmod(h, lit(graft.operators.Sketches.HllM.toLong)).as("bucket"))
      .agg(max(graft.operators.Sketches.rhoOf(h)).as("mrho"))
      .select(col("window.start").as("window_start"), col("bucket"), col("mrho"))
  }

  /** Sentinel value for [[replayDistinctCounts]]'s watermark flush —
    * its far-future rows land in their own windows and are dropped.
    */
  private val SentinelDistinctValue = "__graft_distinct_sentinel__"

  /** STREAMING windowed COUNT-MIN cells: per tumbling event-time
    * window, the depth×width CMS cell counts as a watermarked
    * streaming aggregate — counts are additive, so the cells are the
    * mergeable artifact exactly like [[streamingDistinctRegisters]]'
    * HLL registers (union across shards by +). Readers answer "how
    * often did X occur in window W" by the min-over-depth point lookup
    * without the stream ever tracking the full key vocabulary.
    * Output (streaming): (window_start, h_row, bucket, cell_n).
    */
  def streamingCmsCells(events: DataFrame, tsCol: String, termCol: String,
                        watermarkDelay: String, windowLength: String): DataFrame = {
    val buckets = (0 until graft.operators.Sketches.CmsDepth)
      .map(i => graft.operators.Sketches.cmsBucket(col(termCol).cast("string"), i))
    events
      .select(col(tsCol), posexplode(array(buckets: _*)).as(Seq("h_row", "bucket")))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength), col("h_row"), col("bucket"))
      .agg(count(lit(1)).as("cell_n"))
      .select(col("window.start").as("window_start"), col("h_row"),
        col("bucket"), col("cell_n"))
  }

  /** Drive [[streamingCmsCells]] over a BOUNDED event set and answer
    * point estimates for `terms` per window, next to the exact counts
    * (the q_stream_cms gate; estimate ≥ exact always).
    * Output: (window_start, term, n_exact, cms_estimate).
    */
  def replayCmsCounts(events: DataFrame, tsCol: String, termCol: String,
                      windowLength: String, terms: Seq[String],
                      nBatches: Int = 2): DataFrame = {
    // Distributed feeder + distributed exact twin (r14) — the same
    // transport swap as [[replayDistinctCounts]]; CMS cells are
    // additive, so batch boundaries and the transport are invisible to
    // the oracle.
    val caller = events.sparkSession
    val input = events.filter(col(tsCol).isNotNull)
      .select(col(tsCol).cast("timestamp").as(tsCol),
        col(termCol).cast("string").as(termCol))
    require(input.filter(col(termCol) === SentinelDistinctValue)
      .limit(1).isEmpty,
      s"value $SentinelDistinctValue is reserved")
    val schema = new StructType()
      .add(tsCol, "timestamp").add(termCol, "string")
    val sentinels = Seq(
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), SentinelDistinctValue),
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2101-01-01 00:00:00"), SentinelDistinctValue))
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, tsCol, nBatches, sentinels)
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_cms_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = streamingCmsCells(src, tsCol, termCol,
        watermarkDelay = "0 seconds", windowLength)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "cms_counts") }
    finally q.stop()
    val cells = spark.table(name)
      .filter(col("window_start") < lit(java.sql.Timestamp.valueOf("2099-01-01 00:00:00")))
    val probesLocal = terms.flatMap { t =>
      (0 until graft.operators.Sketches.CmsDepth).map(i => (t, i))
    }
    val probes = {
      import spark.implicits._
      probesLocal.toDF("term", "h_row")
        .withColumn("bucket",
          graft.operators.Sketches.cmsBucketDyn(col("term"), col("h_row")))
    }
    val est = cells.join(broadcast(probes), Seq("h_row", "bucket"))
      .groupBy(col("window_start"), col("term"))
      .agg(min(col("cell_n")).as("cms_estimate"))
    // Hand the (windows × terms)-sized estimates back to the caller,
    // then join the exact twin there as a distributed aggregate.
    val estBack = handoff(est, caller, spark, Some(name), tempRoots)
    val exact = events.filter(col(tsCol).isNotNull)
      .select(col(tsCol).cast("timestamp").as(tsCol),
        col(termCol).cast("string").as(termCol))
      .filter(col(termCol).isin(terms: _*))
      .groupBy(window(col(tsCol), windowLength), col(termCol).as("term"))
      .agg(count(lit(1)).as("n_exact"))
      .select(col("window.start").as("window_start"), col("term"), col("n_exact"))
    estBack.join(exact, Seq("window_start", "term"))
      .select(col("window_start"), col("term"), col("n_exact"),
        col("cms_estimate"))
  }

  /** Drive [[streamingDistinctRegisters]] over a BOUNDED event set in
    * chronological micro-batches, then run the HLL estimator over the
    * emitted register table and join the batch-exact count per window
    * (the q_stream_distinct driver gate; the oracle mirrors registers,
    * estimator, and exact twin — batch boundaries and the streaming
    * engine itself must be invisible in the registers).
    * Output: (window_start, n_exact, hll_estimate).
    */
  def replayDistinctCounts(events: DataFrame, tsCol: String, valueCol: String,
                           windowLength: String, nBatches: Int = 2): DataFrame = {
    // DISTRIBUTED feeder (r14): the MemoryStream variant collected and
    // driver-encoded the whole event set per replay — at sf10 that
    // single-threaded 10 M-row encode dominated the gate (236 s); the
    // chunked file-source staging (the q_stream_file_counts transport)
    // writes the time-ordered chunks with the executors and streams
    // them as per-file micro-batches. Registers are max-merged, so the
    // transport and batch boundaries stay invisible to the oracle.
    val caller = events.sparkSession
    val input = events.filter(col(tsCol).isNotNull)
      .select(col(tsCol).cast("timestamp").as(tsCol),
        col(valueCol).cast("string").as(valueCol))
    require(input.filter(col(valueCol) === SentinelDistinctValue)
      .limit(1).isEmpty,
      s"value $SentinelDistinctValue is reserved")
    val schema = new StructType()
      .add(tsCol, "timestamp").add(valueCol, "string")
    val sentinels = Seq(
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), SentinelDistinctValue),
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2101-01-01 00:00:00"), SentinelDistinctValue))
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, tsCol, nBatches, sentinels)
    val spark = replaySession(caller, watchDir)
    val name = s"graft_replay_distinct_${ReplaySeq.incrementAndGet()}"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = streamingDistinctRegisters(src, tsCol, valueCol,
        watermarkDelay = "0 seconds", windowLength)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try { q.processAllAvailable(); logBatchTimings(q, "distinct_counts") }
    finally q.stop()
    val regs = spark.table(name)
      .filter(col("window_start") < lit(java.sql.Timestamp.valueOf("2099-01-01 00:00:00")))
    val sketch = regs.groupBy(col("window_start")).agg(
      count(lit(1)).as("_nb"),
      sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), CAST(mrho AS INT))")
        .cast("double")).as("_dpres"))
    // Hand the windows-sized sketch back to the CALLER's session first
    // (a frame must not join across sessions), then join the
    // batch-exact twin there — the exact side stays a distributed
    // aggregate over the caller's events, never a driver collect.
    val sketchBack = handoff(sketch, caller, spark, Some(name), tempRoots)
    val exact = events.filter(col(tsCol).isNotNull)
      .select(col(tsCol).cast("timestamp").as(tsCol),
        col(valueCol).cast("string").as(valueCol))
      .groupBy(window(col(tsCol), windowLength))
      .agg(countDistinct(col(valueCol)).as("n_exact"))
      .select(col("window.start").as("window_start"), col("n_exact"))
    sketchBack.join(exact, "window_start")
      .select(col("window_start"), col("n_exact"),
        round(graft.operators.Sketches.hllEstimate, 6).as("hll_estimate"))
  }

  /** STREAMING incremental-aggregate maintenance: each micro-batch of
    * the change feed folds into the persisted per-key (count, Σvalue)
    * view via [[graft.operators.ChangeLog.aggMaintainApply]] through the
    * same [[maintainState]] step as [[startScd2Maintenance]] — the
    * continuously-current materialized aggregate, never a base rescan.
    * Integer-exact state makes batch boundaries invisible by
    * construction (sums are associative/commutative); the batch mark
    * keeps a replayed batch from adding its deltas twice.
    */
  def startAggMaintenance(changes: DataFrame, keyCols: Seq[String],
                          valueCol: String, stateDir: String,
                          checkpointDir: String): StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        maintainState(batch, batchId, stateDir) {
          case Some(state) =>
            graft.operators.ChangeLog.aggMaintainApply(state, batch, keyCols, valueCol)
          case None =>
            graft.operators.ChangeLog.aggMaintainState(batch, keyCols, valueCol)
        }
      }
      .start()

  /** Drive [[startAggMaintenance]] over a BOUNDED change log in
    * `nBatches` chronological micro-batches and return the presented
    * view (the q_stream_agg driver gate; DuckDB twin = the full-log
    * signed aggregate — batch boundaries must be invisible).
    */
  def replayAgg(log: DataFrame, keyCol: String, valueCol: String,
                nBatches: Int = 3): DataFrame = {
    // Distributed feeder (r14, the replayDistinctCounts transport): the
    // maintained state's sums are µ-quantized integers (sum_value_q6),
    // so batch boundaries — and therefore the chunking/transport — are
    // invisible by construction; no sentinels needed (foreachBatch has
    // no watermark). At sf10 the prior 10 M-row driver collect +
    // MemoryStream encode dominated the gate (70 s).
    require(nBatches >= 1, s"nBatches must be >= 1, got $nBatches")
    val caller = log.sparkSession
    val input = log.select(col(keyCol).cast("long").as(keyCol),
      col(valueCol).cast("double").as(valueCol),
      col(graft.operators.ChangeLog.ChangeType),
      col(graft.operators.ChangeLog.CommitTs))
    val schema = new StructType()
      .add(keyCol, "long").add(valueCol, "double")
      .add(graft.operators.ChangeLog.ChangeType, "string")
      .add(graft.operators.ChangeLog.CommitTs, "timestamp")
    val (watchDir, tempRoots) = stageChunkedLogDistributed(
      input, graft.operators.ChangeLog.CommitTs, nBatches)
    val spark = replaySession(caller, watchDir)
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_agg_state")
    val stateDir = stateRoot.resolve("state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_agg_ckpt").toString
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = startAggMaintenance(src, Seq(keyCol), valueCol, stateDir, ckpt)
    try { q.processAllAvailable(); logBatchTimings(q, "agg") }
    finally q.stop()
    handoff(graft.operators.ChangeLog.aggPresent(spark.read.parquet(stateDir)),
      caller, spark, None,
      tempRoots ++ Seq(stateRoot.toString, ckpt))
  }

  /** FILE-SOURCE → parquet FILE-SINK e2e: a staged change-log directory
    * streamed per-file into [[startParquetSink]] (checkpointed append —
    * the exactly-once contract the production ingest relies on), then
    * the SINK DIRECTORY read back as the result. This is the missing
    * sink half of the file-source gates: q_stream_file_counts proves
    * readStream-in, this proves writeStream-out — a replayed or
    * double-committed micro-batch would surface as duplicate event_ids
    * and fail the row-identity oracle.
    *
    * Scale shape: the sink is a pass-through append (no state, no
    * watermark); exactly-once comes from the checkpoint's batch-id
    * manifest tracked by the parquet sink's transaction log.
    */
  def replayFileSink(log: DataFrame, nChunks: Int = 3): DataFrame = {
    val caller = log.sparkSession
    val input = log.select(col("event_id").cast("long"),
      col("_change_type").cast("string"))
    val schema = new StructType()
      .add("event_id", "long").add("_change_type", "string")
    val (watchDir, tempRoots) =
      stageChunkedLogDistributed(input, "event_id", nChunks)
    val spark = replaySession(caller, watchDir)
    val outRoot = java.nio.file.Files.createTempDirectory("graft_file_sink")
    val outDir = outRoot.resolve("out").toString
    val ckpt = outRoot.resolve("ckpt").toString
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watchDir)
    val q = startParquetSink(src, outDir, ckpt)
    try { q.processAllAvailable(); logBatchTimings(q, "file_sink") }
    finally q.stop()
    handoff(spark.read.parquet(outDir), caller, spark, None,
      tempRoots :+ outRoot.toString)
  }

  /** Start a parquet sink with a checkpoint — the streaming version of
    * [[graft.sinks.FileSink]]. Returns the running query (stop it or
    * `awaitTermination` on the caller side).
    */
  def startParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
                       outputMode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
}
