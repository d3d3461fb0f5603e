package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

import graft.operators.{ChangeLog, SyncMode}
import graft.sinks.{FileSink, GcsAuth, SinkSpec, StagedSwap}

class FileSinkSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(name)
    p.toFile.deleteOnExit()
    p.resolve("out").toString
  }

  test("gs:// sink branch EXECUTES: auth confs applied, bytes round-trip through the gs scheme") {
    import spark.implicits._
    // Register the mock gs filesystem through the SESSION conf — the
    // same SQLConf→Hadoop-conf propagation path the fs.gs.* auth keys
    // from configureGcs travel (SessionState.newHadoopConf copies SQL
    // conf entries verbatim), so a typo'd conf KEY would break this
    // test the same way it would break a real connector.
    spark.conf.set("fs.gs.impl", classOf[GsMockFileSystem].getName)
    try {
      val local = tmpDir("graft-gs-sink")
      val uri = s"gs://test-bucket$local"
      val df = spark.range(0, 1000)
        .select(col("id"), concat(lit("row-"), col("id")).as("tag"))
      val auth = GcsAuth("proj-1", "svc@example.test", "-----KEY-----", "kid-9")
      FileSink.write(df, SinkSpec("json", uri,
        maxRecordsPerFile = Some(250L), gcsAuth = Some(auth)))
      // configureGcs ran (the gs:// branch guard): every fs.gs.* auth
      // conf is present in the session conf the write job read.
      assert(spark.conf.get("fs.gs.project.id") == "proj-1")
      assert(spark.conf.get("fs.gs.auth.service.account.email") == "svc@example.test")
      assert(spark.conf.get("fs.gs.auth.service.account.private.key.id") == "kid-9")
      assert(spark.conf.get("google.cloud.auth.service.account.enable") == "true")
      // Bytes LANDED (not just plan-checked): the mock maps
      // gs://bucket/<path> to local <path>, so the gzip json part files
      // must exist on local disk with real content...
      val partFiles = Paths.get(local).toFile.listFiles
        .filter(f => f.isFile && f.getName.endsWith(".json.gz"))
      assert(partFiles.length >= 4,
        s"maxRecordsPerFile=250 over 1000 rows should yield >=4 gz parts, got ${partFiles.map(_.getName).mkString(", ")}")
      assert(partFiles.forall(_.length > 0))
      // ...and round-trip bit-exactly when read back THROUGH the gs URI.
      val back = spark.read.json(uri).select(col("id"), col("tag"))
      assert(back.as[(Long, String)].collect().toSet ==
        (0L until 1000L).map(i => (i, s"row-$i")).toSet)
      // The CSV branch (coalesce(1) + header + gzip) through the same scheme.
      val csvLocal = tmpDir("graft-gs-sink-csv")
      FileSink.write(df, SinkSpec("csv", s"gs://test-bucket$csvLocal",
        gcsAuth = Some(auth)))
      val csvParts = Paths.get(csvLocal).toFile.listFiles
        .filter(f => f.isFile && f.getName.endsWith(".csv.gz"))
      assert(csvParts.length == 1, "single-file CSV contract must hold on gs too")
      val csvBack = spark.read.option("header", "true").csv(s"gs://test-bucket$csvLocal")
      assert(csvBack.count() == 1000 && csvBack.columns.toSeq == Seq("id", "tag"))
    } finally {
      Seq("fs.gs.impl", "fs.gs.project.id", "fs.gs.auth.service.account.email",
        "fs.gs.auth.service.account.private.key",
        "fs.gs.auth.service.account.private.key.id",
        "google.cloud.auth.service.account.enable").foreach(spark.conf.unset)
    }
  }

  test("compact collapses a many-small-file directory losslessly and atomically") {
    import spark.implicits._
    val dir = tmpDir("graft-compact")
    val df = spark.range(0, 20000).select(col("id"), (col("id") * 7).as("v"))
    df.write.option("maxRecordsPerFile", "500").parquet(dir)
    def parts = Paths.get(dir).toFile.listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = parts
    assert(before >= 10, s"fixture should start fragmented, had $before files")
    val (nBefore, nAfter) = FileSink.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(nBefore == before && nAfter < before)
    assert(parts == nAfter)
    // Lossless: same rows, and no stray staging dirs left behind.
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet ==
      (0L until 20000L).map(i => (i, i * 7)).toSet)
    val parent = Paths.get(dir).getParent.toFile.listFiles.map(_.getName).toSet
    assert(!parent.exists(n => n.endsWith(StagedSwap.NextSuffix) || n.endsWith(StagedSwap.OldSuffix)),
      s"staging left behind: $parent")
  }

  test("partitioned compact collapses every leaf in place; pruning layout and rows survive") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-part")
    val df = spark.range(0, 9000).select(col("id"),
      (col("id") % 3).cast("int").as("part"))
    df.write.option("maxRecordsPerFile", "300").partitionBy("part").parquet(dir)
    val results = FileSink.compactPartitioned(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(results.size == 3 && results.forall { case (rel, b, a) =>
      rel.startsWith("part=") && b >= 5 && a < b })
    // Layout intact: the partition column still reads back from dir names
    // and prunes; rows are lossless.
    val back = spark.read.parquet(dir)
    assert(back.count() == 9000)
    assert(back.filter(col("part") === 1).select("id").as[Long].collect().toSet ==
      (0L until 9000L).filter(_ % 3 == 1).toSet)
    val pruned = back.filter(col("part") === 2).queryExecution.executedPlan.toString()
    assert(pruned.contains("PartitionFilters: [isnotnull(part"), pruned.take(800))
  }

  test("partitioned compact: a corrupt leaf fails the run, and every leaf is left whole with no staging") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-corrupt")
    spark.range(0, 6000).select(col("id"), (col("id") % 6).cast("int").as("part"))
      .write.option("maxRecordsPerFile", "200").partitionBy("part").parquet(dir)
    def leaf(p: Int) = Paths.get(dir, s"part=$p")
    def contents(p: Int): Set[Long] = spark.read.parquet(leaf(p).toString).as[Long].collect().toSet
    val rows = (0 until 6).map(p => p -> contents(p)).toMap
    Files.write(leaf(3).resolve("part-99999-corrupt.parquet"), "not a parquet file".getBytes)
    intercept[Exception](FileSink.compactPartitioned(spark, dir, targetFileBytes = 64L * 1024 * 1024))
    val names = Paths.get(dir).toFile.list().toSeq
    assert(!names.exists(n => n.endsWith(StagedSwap.NextSuffix) || n.endsWith(StagedSwap.OldSuffix)),
      s"staging left behind: $names")
    for (p <- (0 until 6) if p != 3)
      assert(contents(p) == rows(p), s"leaf part=$p lost rows")
    assert(leaf(3).toFile.list().count(_.endsWith(".parquet")) > 1, "the corrupt leaf was rewritten")
    // A crash between a leaf's two renames leaves only <leaf>.__old; the
    // next run finds that leaf, restores it and compacts it.
    Files.delete(leaf(3).resolve("part-99999-corrupt.parquet"))
    Files.move(leaf(0), Paths.get(dir, s"part=0${StagedSwap.OldSuffix}"))
    val results = FileSink.compactPartitioned(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(results.map(_._1).toSet == (0 until 6).map(p => s"part=$p").toSet)
    assert((0 until 6).forall(p => contents(p) == rows(p)))
    assert(Paths.get(dir).toFile.list().filterNot(_.startsWith(".")).toSet ==
      (0 until 6).map(p => s"part=$p").toSet + "_SUCCESS")
  }

  test("compact on an empty directory is a no-op, not a schema-inference crash") {
    val dir = tmpDir("graft-compact-empty")
    Files.createDirectories(Paths.get(dir))
    assert(FileSink.compact(spark, dir) == (0, 0))
  }

  test("json sink writes gzip part files that read back identically") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "v")
    val out = tmpDir("graft-json")
    FileSink.write(df, SinkSpec("json", out))
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".json.gz"))
    assert(parts.nonEmpty, "expected gzip json part files")
    val back = spark.read.json(out).select("id", "v").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, null)))
  }

  test("csv sink: single gzip file with header (reference coalesce(1) semantics)") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val out = tmpDir("graft-csv")
    FileSink.write(df, SinkSpec("csv", out))
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv.gz"))
    assert(parts.length == 1, s"coalesce(1) must produce exactly one part, got $parts")
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.count() == 2)
  }

  test("maxRecordsPerFile bounds json part size") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
    val out = tmpDir("graft-mrpf")
    FileSink.write(df, SinkSpec("json", out, maxRecordsPerFile = Some(30L)))
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".json.gz"))
    assert(parts.length == 4, s"100 rows / 30 per file → 4 parts, got ${parts.length}")
  }

  test("writeRangeSorted: output files cover disjoint key ranges") {
    import spark.implicits._
    // Deliberately shuffled input: ids interleaved across 4 partitions.
    val df = spark.range(0, 1000).select((col("id") * 7919 % 1000).as("k"))
      .repartition(4)
    val out = tmpDir("graft-range")
    FileSink.writeRangeSorted(df, out, Seq("k"), numFiles = 4)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .as[(String, Long, Long)].collect()
    assert(perFile.length == 4)
    val ranges = perFile.map(r => (r._2, r._3)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: hi=$hi lo=$lo")
      case _ =>
    }
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("writeZOrdered: a narrow slice on EITHER column prunes most files") {
    import spark.implicits._
    // 64×64 grid, shuffled: a row-major or single-column layout keeps
    // tight file ranges only on its leading column.
    val df = spark.range(0, 4096)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      .repartition(8)
    val out = tmpDir("graft-zorder")
    FileSink.writeZOrdered(df, out, "x", "y", numFiles = 16)
    val boxes = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("xlo"), max("x").as("xhi"),
        min("y").as("ylo"), max("y").as("yhi"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(boxes.length == 16)
    // A width-8 slice (1/8 of the domain) on each dimension: the Morton
    // layout tiles the plane, so it must intersect at most half of the
    // file boxes — a single-column sort leaves the OTHER dimension's
    // ranges full-width (all 16 files intersect).
    val xTouched = boxes.count(b => b._2 <= 7 && b._3 >= 0)
    val yTouched = boxes.count(b => b._4 <= 7 && b._5 >= 0)
    assert(xTouched <= 8, s"x-slice touches $xTouched/16 files")
    assert(yTouched <= 8, s"y-slice touches $yTouched/16 files")
    assert(spark.read.parquet(out).count() == 4096)
    // Sanity: the same slice against a writeRangeSorted(x) layout
    // cannot prune on y at all.
    val outX = tmpDir("graft-zorder-xsort")
    FileSink.writeRangeSorted(df, outX, Seq("x"), numFiles = 16)
    val yFullWidth = spark.read.parquet(outX)
      .groupBy(input_file_name()).agg(min("y").as("ylo"), max("y").as("yhi"))
      .as[(String, Long, Long)].collect()
      .count(b => b._2 <= 7 && b._3 >= 0)
    assert(yFullWidth == 16, s"x-sorted layout unexpectedly pruned y: $yFullWidth")
  }

  test("scale writers honor maxRecordsPerFile and compression (K3 parity)") {
    import spark.implicits._
    val df = spark.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("v"))
    // Range-sorted: 2 range partitions × (50 rows / 30 per file) → 4 files.
    val outR = tmpDir("graft-range-k3")
    FileSink.writeRangeSorted(df, outR, Seq("k"), numFiles = 2,
      maxRecordsPerFile = Some(30L), compression = Some("gzip"))
    val partsR = Files.list(Paths.get(outR)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(partsR.length == 4, s"2 ranges × ceil(50/30) → 4 parts, got ${partsR.length}")
    assert(partsR.forall(_.endsWith(".gz.parquet")),
      s"expected gzip parquet parts, got ${partsR.mkString(", ")}")
    assert(spark.read.parquet(outR).count() == 100)
    // Z-ordered: same option plumbing through the Morton path.
    val outZ = tmpDir("graft-zorder-k3")
    FileSink.writeZOrdered(df, outZ, "k", "v", numFiles = 2,
      maxRecordsPerFile = Some(30L), compression = Some("gzip"))
    val partsZ = Files.list(Paths.get(outZ)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(partsZ.length == 4 && partsZ.forall(_.endsWith(".gz.parquet")),
      s"zordered parts: ${partsZ.mkString(", ")}")
    // Bucketed: files split within buckets, codec in the part names.
    FileSink.writeBucketed(df, "bkt_k3", "k", nBuckets = 4,
      maxRecordsPerFile = Some(10L), compression = Some("gzip"))
    try {
      val loc = spark.sql("DESCRIBE TABLE EXTENDED bkt_k3")
        .filter(col("col_name") === "Location").select("data_type").as[String].head()
      val partsB = Files.list(Paths.get(new java.net.URI(loc))).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      assert(partsB.length >= 12, // 4 buckets × ceil(25/10) files
        s"expected >= 12 bucket files at 10 records/file, got ${partsB.length}")
      assert(partsB.forall(_.endsWith(".gz.parquet")),
        s"bucket parts: ${partsB.mkString(", ")}")
      assert(spark.table("bkt_k3").count() == 100)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_k3")
  }

  test("writeZOrdered degrades to a plain write on empty or all-NULL cluster columns") {
    import spark.implicits._
    // Empty input: no bounds row values → must still write (and read
    // back empty), not NPE on the null min/max.
    val empty = spark.range(0, 0).select(col("id").as("x"), col("id").as("y"))
    val outE = tmpDir("graft-zorder-empty")
    FileSink.writeZOrdered(empty, outE, "x", "y", numFiles = 4)
    assert(spark.read.schema(empty.schema).parquet(outE).count() == 0)
    // All-NULL cluster columns: same degrade, rows preserved.
    val nulls = spark.range(0, 3)
      .select(lit(null).cast("long").as("x"), lit(null).cast("long").as("y"),
        col("id").as("v"))
    val outN = tmpDir("graft-zorder-null")
    FileSink.writeZOrdered(nulls, outN, "x", "y", numFiles = 4)
    assert(spark.read.parquet(outN).select("v").as[Long].collect().toSet == Set(0L, 1L, 2L))
  }

  test("hive-partitioned writeRangeSorted: selective reads prune to matching directories") {
    val docs = Tables.load(spark, sf, "documents")
    val out = tmpDir("graft-hivepart")
    FileSink.writeRangeSorted(docs, out, sortCols = Seq("doc_id"), numFiles = 2,
      hivePartitionCols = Seq("lang"),
      maxRecordsPerFile = Some(10000L), compression = Some("snappy"))
    val back = spark.read.parquet(out)
    val langs = docs.select("lang").distinct().count()
    assert(langs > 1, "fixture must have several languages for pruning to mean anything")
    val en = back.filter(col("lang") === "en")
    // The partition predicate must reach the scan as a PartitionFilter
    // (directory pruning), not a post-scan Filter.
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang filter did not become a partition filter:\n$plan")
    // And the files actually touched are only the lang=en directory's.
    val files = en.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")),
      s"read outside lang=en: ${files.filterNot(_.contains("lang=en")).take(3).mkString(", ")}")
    assert(en.count() == docs.filter(col("lang") === "en").count())
  }

  test("writeBucketed: same-bucketing join plans with no shuffle exchange") {
    import spark.implicits._
    val a = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("va"))
    val b = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("vb"))
    FileSink.writeBucketed(a, "bkt_a", "k", nBuckets = 8)
    FileSink.writeBucketed(b, "bkt_b", "k", nBuckets = 8)
    try {
      // Force a non-broadcast join so the exchange question is real.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be shuffle-free, plan was:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("row-count guard: passes under limit, fails over, disabled at 0") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    FileSink.validateRowCount(df, 0)   // disabled
    FileSink.validateRowCount(df, 3)   // at the limit → ok
    val e = intercept[RuntimeException](FileSink.validateRowCount(df, 2))
    assert(e.getMessage.contains("exceeds limit"))
  }

  test("Engine.run composes guard, plan, hash, sink; Engine.runCdc round-trips the watermark") {
    import spark.implicits._
    val events = Tables.load(spark, sf, "events")
    val out = tmpDir("graft-e2e")
    val res = Engine.run(events, ExportSpec(
      mode = SyncMode.ScdLatest("user_id", "ts", keepRank = false, tieBreakers = Seq("event_id")),
      nonNullableCols = Seq("event_type"),
      hash = Some(HashSpec("row_hash")),
      sink = Some(SinkSpec("json", out)),
      rowCountLimit = 1000000L))
    assert(res.newWatermarkMs == 0L) // only CDC carries a watermark
    val back = spark.read.json(out)
    assert(back.columns.contains("row_hash"))
    assert(back.count() == res.df.count())

    // CDC first sync: watermark anchored to the latest commit; second
    // sync from that watermark sees no further changes.
    val log = ChangeLog.synthesize(events, "event_id", "ts")
    val first = Engine.runCdc(log, CdcSpec(Seq("event_id"), timeCutoffMs = 0L, nowMs = 0L))
    assert(first.newWatermarkMs == ChangeLog.latestCommitMs(log))
    assert(first.df.count() > 0)
    val futureNow = first.newWatermarkMs + 1000L
    val second = Engine.runCdc(log, CdcSpec(Seq("event_id"), first.newWatermarkMs, futureNow))
    assert(second.newWatermarkMs == futureNow)
    assert(second.df.count() == 0L) // nothing after the watermark
  }

  test("runCdc is pluggable over ChangeSource: the emulation is one implementation, the protocol is the trait's") {
    val events = Tables.load(spark, sf, "events")
    val log = ChangeLog.synthesize(events, "event_id", "ts")
    val emu = graft.sources.ParquetChangeLog(log, Seq("event_id"))

    // The trait path and the legacy change-log path are the same plan:
    // identical watermark and identical rows for both sync phases.
    val legacyFirst = Engine.runCdc(log, CdcSpec(Seq("event_id"), 0L, 0L))
    val traitFirst = Engine.runCdc(emu, timeCutoffMs = 0L, nowMs = 0L,
      hash = None, sink = None)
    assert(traitFirst.newWatermarkMs == legacyFirst.newWatermarkMs)
    assert(traitFirst.df.exceptAll(legacyFirst.df).isEmpty &&
      legacyFirst.df.exceptAll(traitFirst.df).isEmpty)

    // A NON-emulation source drives the same protocol: the dispatch
    // (first sync → snapshotAsOf(latestCommit); incremental →
    // tableChanges(cutoff+1, now)) is observable through a recording
    // stub — the seam a real Delta implementation drops into.
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val stub = new graft.sources.ChangeSource {
      override def snapshotAsOf(tsMs: Long) = {
        calls += s"snap:$tsMs"; legacyFirst.df
      }
      override def tableChanges(startMs: Long, endMs: Long) = {
        calls += s"changes:$startMs:$endMs"; legacyFirst.df.limit(0)
      }
      override def latestCommitMs(): Long = { calls += "latest"; 42L }
    }
    val s1 = Engine.runCdc(stub, timeCutoffMs = 0L, nowMs = 999L,
      hash = None, sink = None)
    assert(s1.newWatermarkMs == 42L && calls.toList == List("latest", "snap:42"))
    calls.clear()
    val s2 = Engine.runCdc(stub, timeCutoffMs = 42L, nowMs = 100L,
      hash = None, sink = None)
    assert(s2.newWatermarkMs == 100L && calls.toList == List("changes:43:100"))
  }

  test("expirePartitions drops days below the bound by directory delete only") {
    import spark.implicits._
    val dir = tmpDir("graft-expire")
    Seq((1L, "2024-01-10"), (2L, "2024-01-14"), (3L, "2024-01-15"),
        (4L, "2024-01-20"), (5L, "2024-01-20"))
      .toDF("id", "day").write.partitionBy("day").parquet(dir)
    val (dropped, kept) = FileSink.expirePartitions(spark, dir, "day", "2024-01-15")
    assert(dropped == Seq("day=2024-01-10", "day=2024-01-14"))
    assert(kept == Seq("day=2024-01-15", "day=2024-01-20"))
    val back = spark.read.parquet(dir).select(col("id")).as[Long].collect().toSet
    assert(back == Set(3L, 4L, 5L))
    // survivors' data files are untouched (no rewrite happened):
    // partition dirs still exist under their original names
    assert(Paths.get(dir, "day=2024-01-20").toFile.isDirectory)
    // idempotent: a second expiry with the same bound drops nothing
    val (again, _) = FileSink.expirePartitions(spark, dir, "day", "2024-01-15")
    assert(again.isEmpty)
    // a directory with no matching partitions is a no-op
    val flat = tmpDir("graft-expire-flat")
    Seq((1L, "x")).toDF("id", "v").write.parquet(flat)
    val (d2, k2) = FileSink.expirePartitions(spark, flat, "day", "2024-01-15")
    assert(d2.isEmpty && k2.isEmpty)
    assert(spark.read.parquet(flat).count() == 1L)
  }

  test("schema-evolution read aligns old files to the declared schema with NULLs") {
    import spark.implicits._
    val dir = tmpDir("graft-evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30.5), (4L, "d", 40.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val got = graft.sources.SchemaEvolution.readMerged(spark, dir,
      Seq("id" -> "bigint", "name" -> "string", "score" -> "double"))
    assert(got.schema.map(f => f.name -> f.dataType.sql).toSeq ==
      Seq("id" -> "BIGINT", "name" -> "STRING", "score" -> "DOUBLE"))
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30.5)), (4L, "d", Some(40.5))))
    // a column in the declared schema that NO file carries yet: all-NULL
    val wide = graft.sources.SchemaEvolution.readMerged(spark, dir,
      Seq("id" -> "bigint", "added_later" -> "string"))
    assert(wide.filter(col("added_later").isNotNull).count() == 0L)
  }
}
