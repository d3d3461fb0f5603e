package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.{ChangeLog, RowHash}

/** Read-path posture for the fixture's `events.ts` encodings (VERDICT r8
  * #6): the engine consumes session-UTC TimestampType no matter which
  * physical encoding the fixture regen chose, and the downstream
  * contracts — the RowHash JSON render and the CDC `+1 ms` exclusive
  * boundary — are encoding-invariant.
  */
class TablesReadPathSpec extends AnyFunSuite with SparkTestBase {

  /** Write an events-shaped frame to `<tmp>/events.parquet` and load it
    * back through the catalog's adaptive reader.
    */
  private def roundTrip(df: DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory("readpath").toString
    df.write.parquet(s"$tmp/events.parquet")
    Tables.load(spark, tmp, "events")
  }

  test("NTZ parquet (timestamp[us], the round-8+ fixture) loads as session-UTC instants") {
    import spark.implicits._
    // Spark writes TIMESTAMP_NTZ as parquet timestamp[us] isAdjustedToUTC=false —
    // byte-identical encoding to the regenerated fixture.
    val written = Seq("2024-01-01 00:00:00.000500", "2024-06-30 23:59:59.999999")
      .toDF("s").select(col("s").cast("timestamp_ntz").as("ts"))
    val loaded = roundTrip(written)
    assert(loaded.schema("ts").dataType == TimestampType)
    // Session TZ is UTC: the NTZ wall-clock values ARE the UTC instants.
    val micros = loaded.select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(micros.sameElements(Array(1704067200000500L, 1719791999999999L)))
  }

  test("ns-epoch long parquet (NANOS-era encoding) truncates to µs via integer div") {
    import spark.implicits._
    // 123 trailing ns must truncate, not round, and must not detour
    // through double (which loses 1 µs on ns-epoch magnitudes).
    val written = Seq(1704067200000500123L, 1719791999999999999L).toDF("ts")
    val micros = roundTrip(written).select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(micros.sameElements(Array(1704067200000500L, 1719791999999999L)))
  }

  test("RowHash render is identical for NTZ-parquet-loaded and in-memory LTZ timestamps") {
    import spark.implicits._
    val inMemory = Seq((1L, Timestamp.valueOf("2024-03-15 12:34:56.789")))
      .toDF("id", "ts")
    val loaded = roundTrip(
      Seq((1L, "2024-03-15 12:34:56.789")).toDF("id", "s")
        .select(col("id"), col("s").cast("timestamp_ntz").as("ts")))
    val h1 = RowHash.withHashColumn(inMemory, "h").select("h").as[String].head()
    val h2 = RowHash.withHashColumn(loaded, "h").select("h").as[String].head()
    assert(h1 == h2)
  }

  test("CDC +1 ms exclusive boundary holds through the NTZ read path") {
    import spark.implicits._
    val written = Seq(
      (1L, "2024-01-01 00:00:00.100"),
      (2L, "2024-01-01 00:00:00.500"),
      (3L, "2024-01-01 00:00:01.250"))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp_ntz").as("ts"))
    val log = roundTrip(written)
      .withColumnRenamed("ts", ChangeLog.CommitTs)
      .withColumn(ChangeLog.ChangeType, lit("insert"))
    assert(ChangeLog.latestCommitMs(log) ==
      Timestamp.valueOf("2024-01-01 00:00:01.250").getTime)
    val cutoffMs = Timestamp.valueOf("2024-01-01 00:00:00.100").getTime
    val ids = ChangeLog.tableChanges(log, cutoffMs + 1, ChangeLog.latestCommitMs(log))
      .select("id").as[Long].collect().toSet
    // id=1 sits exactly AT the cutoff → excluded; id=2 is 400 ms later,
    // same second → a floor-to-second boundary would wrongly drop it.
    assert(ids == Set(2L, 3L))
  }

  test("Tables.read takes the schema from one footer: inference's schema, and no job") {
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    for (name <- Tables.All) {
      val path = s"$sf001/$name.parquet"
      assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, name)
      val (_, jobs) = jobsOf(Tables.load(spark, sf001, name))
      assert(jobs.isEmpty, s"$name: $jobs")
    }
    // A directory of part files with an INT96 timestamp (Spark's default
    // encoding), plus the _SUCCESS and .crc files a write leaves.
    import spark.implicits._
    val log = Files.createTempDirectory("readpath-int96").resolve("changelog.parquet").toString
    (0 until 40).map(i => (i.toLong, s"2024-01-01 00:00:${i % 60}"))
      .toDF("id", "s").select(col("id"), col("s").cast("timestamp").as("_commit_ts"))
      .repartition(3).write.parquet(log)
    val (read, jobs) = jobsOf(Tables.read(spark, log))
    assert(jobs.isEmpty, s"$jobs")
    assert(read.schema == spark.read.parquet(log).schema && read.count() == 40)
  }

  test("a TIMESTAMP(NANOS) events file still takes loadEvents' nanosAsLong fallback") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val dir = Files.createTempDirectory("readpath-nanos").toString
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try writer.write(groups.newGroup().append("id", 1L).append("ts", 1704067200000500123L))
    finally writer.close()
    val session = spark.newSession()
    val loaded = Tables.load(session, dir, "events")
    assert(session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(loaded.schema("ts").dataType == TimestampType)
    assert(loaded.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq ==
      Seq(1704067200000500L))
  }
}
