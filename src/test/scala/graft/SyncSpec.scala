package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sync, SyncMode}

class SyncSpec extends AnyFunSuite with SparkTestBase {

  test("backfill chunks partition the range exactly: boundary rows land in one chunk, none dropped") {
    import spark.implicits._
    // Rows AT chunk boundaries (10s, 20s) are the hazard: an inclusive
    // upper bound would double-count them, an exclusive lower would drop
    // them. Also a row at the very end of the range.
    val rows = Seq("00:00:01", "00:00:10", "00:00:15", "00:00:20", "00:00:29")
      .zipWithIndex.map { case (t, i) =>
        (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 $t")) }
    val df = rows.toDF("id", "ts")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val chunks = Engine.backfill(df, "ts", base, base + 30000, chunkMs = 10000)
    assert(chunks.map(c => (c._1, c._2)) ==
      Seq((base, base + 10000), (base + 10000, base + 20000), (base + 20000, base + 30000)))
    val perChunk = chunks.map(_._3.select("id").as[Long].collect().toSet)
    assert(perChunk == Seq(Set(0L), Set(1L, 2L), Set(3L, 4L)))
    // Union == whole range, each row exactly once.
    assert(perChunk.map(_.size).sum == rows.size)
    intercept[IllegalArgumentException] {
      Engine.backfill(df, "ts", base + 1, base + 30000, 10000) // unaligned start
    }
  }

  test("backfill property: random ranges and chunk sizes tile the range; the chunks' union is the single-range plan") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // Event offsets from base in ms: whole seconds (chunk boundaries),
    // sub-second values, nulls, and values outside the range.
    val offset: Gen[Option[Long]] = Gen.frequency(
      3 -> Gen.choose(-2L, 45L).map(s => Some(s * 1000L)),
      3 -> Gen.choose(-2000L, 45000L).map(Some(_)),
      1 -> Gen.const(None))
    val gen = for {
      startS <- Gen.choose(0L, 20L)
      lenS <- Gen.choose(1L, 20L)
      chunkS <- Gen.choose(1L, 25L)
      events <- Gen.listOf(offset).map(_.take(30))
    } yield (base + startS * 1000L, base + (startS + lenS) * 1000L, chunkS * 1000L, events)
    val prop = Prop.forAll(gen) { case (start, end, chunkMs, events) =>
      val df = events.zipWithIndex
        .map { case (o, i) => (i.toLong, o.map(ms => new java.sql.Timestamp(base + ms))) }
        .toDF("id", "ts")
      val chunks = Engine.backfill(df, "ts", start, end, chunkMs)
      val bounds = chunks.map(c => (c._1, c._2))
      val tiled = bounds.head._1 == start && bounds.last._2 == end &&
        bounds.zip(bounds.tail).forall { case (a, b) => a._2 == b._1 } &&
        bounds.forall { case (a, b) => a < b && b - a <= chunkMs }
      val union = chunks.map(_._3).reduce(_ union _).select("id").as[Long].collect().sorted.toSeq
      val single = Sync.plan(df, SyncMode.TimeBased("ts", start, delayMs = 1000L, nowMs = end))
        .select("id").as[Long].collect().sorted.toSeq
      Prop(tiled) :| s"chunks $bounds" && Prop(union == single) :| s"union $union vs $single"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(60)
      .withInitialSeed(Seed(20261021L)).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }

  test("nonNullableFilter: empty list means no filter") {
    assert(Sync.nonNullableFilter(Nil).isEmpty)
    assert(Sync.nonNullableFilter(Seq("")).isEmpty)
  }

  test("full sync with non-nullable filter drops null/empty rows") {
    import spark.implicits._
    val df = Seq(("a", "x"), (null, "y"), ("", "z"), ("b", null))
      .toDF("k", "v")
    val out = Sync.plan(df, SyncMode.Full, Seq("k"))
    assert(out.select("k").as[String].collect().sorted.toSeq == Seq("a", "b"))
    // both columns non-nullable: row with v=null goes too
    val out2 = Sync.plan(df, SyncMode.Full, Seq("k", "v"))
    assert(out2.count() == 1)
  }

  test("time-based sync applies second-precision watermark bounds") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00.400")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    ).toDF("id", "updated_at")
    val cutoff = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    // unix_timestamp floors to the second: the .400 row still passes a
    // cutoff at exactly the second boundary
    val out = Sync.plan(df, SyncMode.TimeBased("updated_at", cutoff))
    assert(out.count() == 3)
    // upper bound now-delay = end of Jan 2: excludes Jan 3
    val now = java.time.Instant.parse("2024-01-03T00:00:00Z").toEpochMilli
    val day = 24L * 3600 * 1000
    val out2 = Sync.plan(df, SyncMode.TimeBased("updated_at", cutoff, delayMs = day, nowMs = now))
    assert(out2.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // delay without now (or vice versa) leaves the upper bound off
    assert(Sync.plan(df, SyncMode.TimeBased("updated_at", cutoff, delayMs = day)).count() == 3)
  }

  test("scd-latest keeps one row per group, row_num retained by default") {
    val orders = Tables.load(spark, sf, "orders")
    val out = Sync.plan(orders, SyncMode.ScdLatest("o_custkey", "o_orderdate",
      tieBreakers = Seq("o_orderkey")))
    assert(out.columns.contains("row_num"))
    assert(out.select("row_num").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(out.count() == orders.select("o_custkey").distinct().count())
  }

  test("scd-latest window and max_by rewrite agree") {
    val orders = Tables.load(spark, sf, "orders")
    val viaWindow = Sync.plan(orders, SyncMode.ScdLatest("o_custkey", "o_orderdate",
      keepRank = false, tieBreakers = Seq("o_orderkey")))
    val viaMaxBy = Sync.latestByGroup(orders, "o_custkey",
      struct(col("o_orderdate"), col("o_orderkey")))
    assert(viaWindow.exceptAll(viaMaxBy).isEmpty && viaMaxBy.exceptAll(viaWindow).isEmpty)
  }
}
