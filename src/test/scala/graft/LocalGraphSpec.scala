package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DriverRows, KCore, LabelProp, LocalGraph, PageRank}

/** The driver-local graph tier's one gate ([[LocalGraph.collect]]) and
  * the jobs of the loops that call it.
  */
class LocalGraphSpec extends AnyFunSuite with SparkTestBase {

  test("gate: rows only for all-long, null-free input within the ceiling") {
    import spark.implicits._
    val longs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val withInt = Seq((1L, 2), (2L, 3)).toDF("a", "b")
    val nullA = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("a", "b")
    val nullB = Seq((Some(1L), Some(2L)), (Some(2L), None)).toDF("a", "b")
    val nullW = Seq((1L, 2L, Option(5L)), (2L, 3L, None)).toDF("a", "b", "w")
    val empty = longs.limit(0)
    // (case, input, ceiling, count the caller holds, rows expected)
    val cases = Seq(
      ("within the ceiling", longs, 3L, None, Some(3)),
      ("within, count held", longs, 3L, Some(3L), Some(3)),
      ("over the ceiling", longs, 2L, None, None),
      ("over, count held", longs, 2L, Some(3L), None),
      ("unbounded ceiling", longs, Long.MaxValue, None, Some(3)),
      ("empty at ceiling 0", empty, 0L, None, Some(0)),
      ("non-long column", withInt, 10L, None, None),
      ("null in the first column", nullA, 10L, None, None),
      ("null in the second column", nullB, 10L, None, None),
      ("null in a third column", nullW, 10L, None, None))
    for ((name, df, ceiling, known, want) <- cases) {
      val got = DriverRows.ceilingsAt(ceiling)(LocalGraph.collect(df, "test", known))
      assert(got.map(_.length) == want, s"$name: got ${got.map(_.toSeq)}")
    }
    assert(LocalGraph.collect(longs, "test").get.map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("gate: without a held count, one job decides and collects") {
    val df = spark.range(0, 1000, 1, 8)
      .select(col("id"), (col("id") + 1).as("next")).localCheckpoint()
    def collect(ceiling: Long, known: Option[Long] = None) =
      jobsOf(DriverRows.ceilingsAt(ceiling)(LocalGraph.collect(df, "test", known)))
    val (under, underJobs) = collect(5000L)
    assert(under.map(_.length).contains(1000) && underJobs.size == 1,
      s"under the ceiling: ${under.map(_.length)} rows in $underJobs")
    val (over, overJobs) = collect(100L)
    assert(over.isEmpty && overJobs.size == 1, s"over the ceiling: $overJobs")
    val (_, heldJobs) = collect(100L, Some(1000L))
    assert(heldJobs.isEmpty, s"a held count over the ceiling ran $heldJobs")
  }

  test("each graph loop's bounded collect is one job tagged graft:<op>:hold") {
    import spark.implicits._
    // Checkpointed, so each collect is a job; and nullable, where the
    // operator specs' edges are not, so the tiers' schemas are checked
    // on both kinds of input.
    val edges = spark.createDataFrame(
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
        .map { case (a, b) => Row(a, b) }.asJava,
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))).localCheckpoint()
    val loops: Seq[(String, () => DataFrame)] = Seq(
      "connected_components" -> (() => Dedup.connectedComponents(
        edges.select(col("src").as("id_a"), col("dst").as("id_b")))),
      "kcore" -> (() => KCore.coreMembers(edges, "src", "dst", k = 2, iters = 3)),
      "pagerank" -> (() => PageRank.ranks(edges, "src", "dst", 3)),
      "personalized_pagerank" -> (() =>
        PageRank.personalized(edges, "src", "dst", Seq(1L).toDF("node"), "node", 3)),
      "label_prop" -> (() => LabelProp.communities(
        edges.withColumn("w", lit(1L)), "src", "dst", "w", 3)))
    for ((op, call) <- loops) {
      val (out, jobs) = jobsOf(call())
      assert(DriverRows.local(out).isDefined, s"$op did not take the driver tier")
      assert(jobs.exists(_._1.contains(s"graft:$op:hold")), s"$op: $jobs")
      TierLaws.holds(op)(call())
    }
  }

  test("resolvePairs: the local components tier runs at most 8 jobs") {
    // 300 disjoint pairs over 1000 docs: every pair drops its larger id.
    val docs = spark.range(0, 1000, 1, 4).select(col("id").as("doc_id"))
    val pairs = spark.range(0, 300, 1, 4).select((col("id") * 3).as("id_a"),
      (col("id") * 3 + 1 + col("id") % 2).as("id_b"))
    val (kept, jobs) = jobsOf(Dedup.resolvePairs(docs, pairs, "doc_id").count())
    assert(kept == 700L)
    // 8 jobs, counted the same way before the tier's gate was shared.
    assert(jobs.size <= 8, s"resolvePairs ran ${jobs.size} jobs")
  }

  test("PageRank on an empty edge list gives no rows on either tier") {
    import spark.implicits._
    val none = Seq((1L, 2L)).toDF("src", "dst").limit(0)
    val (driver, dist) = TierLaws.tiers(PageRank.ranks(none, "src", "dst", 3))
    assert(driver.collect().isEmpty && dist.collect().isEmpty)
  }

  test("personalized PageRank: seeds over the ceiling take the distributed loop") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L), (1L, 3L),
      (3L, 4L), (5L, 1L)).toDF("src", "dst")
    def ppr(seeds: Seq[Long]) =
      PageRank.personalized(edges, "src", "dst", seeds.toDF("node"), "node", 4)
    def ranks(df: DataFrame) = df.as[(Long, Double)].collect().toMap
    // 7 edges fit a ceiling of 8; 12 distinct seeds (most outside the
    // graph, duplicates included) do not.
    val manySeeds = (Seq(2L, 2L, 4L) ++ (100L to 109L)).reverse
    val over = DriverRows.ceilingsAt(8L)(ppr(manySeeds))
    assert(DriverRows.local(over).isEmpty,
      s"seeds over the ceiling took the local tier:\n${over.queryExecution.analyzed}")
    val (unbounded, _) = TierLaws.holds("many seeds")(ppr(manySeeds))
    assert(ranks(over) == ranks(unbounded))
    // A small seed set at the same ceiling stays local and agrees with
    // the distributed loop.
    val small = DriverRows.ceilingsAt(8L)(ppr(Seq(2L, 4L)))
    TierLaws.broken(small, DriverRows.ceilingsAt(-1L)(ppr(Seq(2L, 4L)))).foreach(m => fail(m))
    assert(ranks(small) == ranks(over), "seeds outside the graph changed the ranks")
  }
}
