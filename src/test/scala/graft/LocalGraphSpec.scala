package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, LocalGraph, PageRank}

/** The driver-local graph tier's one gate ([[LocalGraph.collect]]) and
  * the job counts of the loops that call it.
  */
class LocalGraphSpec extends AnyFunSuite with SparkTestBase {

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"local-graph-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def hasNode(df: DataFrame, p: PartialFunction[Any, Unit]): Boolean =
    df.queryExecution.analyzed.find(p.isDefinedAt).isDefined

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
      val got = LocalGraph.collect(df, ceiling, known)
      assert(got.map(_.length) == want, s"$name: got ${got.map(_.toSeq)}")
    }
    assert(LocalGraph.collect(longs, 3L).get.map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("gate: without a held count, one job decides and collects") {
    val df = spark.range(0, 1000, 1, 8)
      .select(col("id"), (col("id") + 1).as("next")).localCheckpoint()
    val (under, underJobs) = jobsOf(LocalGraph.collect(df, 5000L))
    assert(under.map(_.length).contains(1000) && underJobs == 1,
      s"under the ceiling: ${under.map(_.length)} rows in $underJobs jobs")
    val (over, overJobs) = jobsOf(LocalGraph.collect(df, 100L))
    assert(over.isEmpty && overJobs == 1, s"over the ceiling: $overJobs jobs")
    val (_, heldJobs) = jobsOf(LocalGraph.collect(df, 100L, Some(1000L)))
    assert(heldJobs == 0, s"a held count over the ceiling ran $heldJobs jobs")
  }

  test("resolvePairs: the local components tier runs at most 8 jobs") {
    // 300 disjoint pairs over 1000 docs: every pair drops its larger id.
    val docs = spark.range(0, 1000, 1, 4).select(col("id").as("doc_id"))
    val pairs = spark.range(0, 300, 1, 4).select((col("id") * 3).as("id_a"),
      (col("id") * 3 + 1 + col("id") % 2).as("id_b"))
    val (kept, jobs) = jobsOf(Dedup.resolvePairs(docs, pairs, "doc_id").count())
    assert(kept == 700L)
    // 8 jobs, counted the same way before the tier's gate was shared.
    assert(jobs <= 8, s"resolvePairs ran $jobs jobs")
  }

  test("PageRank on an empty edge list gives no rows on either tier") {
    import spark.implicits._
    val none = Seq((1L, 2L)).toDF("src", "dst").limit(0)
    for (ceiling <- Seq(LocalGraph.MaxEdges, 0L))
      assert(PageRank.ranksWith(none, "src", "dst", 3, 85L, PageRank.DefaultScale,
        ceiling).collect().isEmpty, s"ceiling $ceiling")
  }

  test("personalized PageRank: seeds over the ceiling take the distributed loop") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L), (1L, 3L),
      (3L, 4L), (5L, 1L)).toDF("src", "dst")
    def ppr(seeds: Seq[Long], ceiling: Long) = PageRank.personalizedWith(
      edges, "src", "dst", seeds.toDF("node"), "node", 4, 85L,
      PageRank.DefaultScale, ceiling)
    def ranks(df: DataFrame) = df.as[(Long, Double)].collect().toMap
    val isLocal: PartialFunction[Any, Unit] = { case _: LocalRelation => }
    val isJoin: PartialFunction[Any, Unit] = { case _: Join => }
    // 7 edges fit a ceiling of 8; 12 distinct seeds (most outside the
    // graph, duplicates included) do not.
    val manySeeds = (Seq(2L, 2L, 4L) ++ (100L to 109L)).reverse
    val over = ppr(manySeeds, 8L)
    assert(hasNode(over, isJoin) && !hasNode(over, isLocal),
      s"seeds over the ceiling took the local tier:\n${over.queryExecution.analyzed}")
    val unbounded = ppr(manySeeds, Long.MaxValue)
    assert(hasNode(unbounded, isLocal) && !hasNode(unbounded, isJoin))
    assert(ranks(over) == ranks(unbounded))
    // A small seed set at the same ceiling stays local and agrees with
    // the distributed loop.
    val small = ppr(Seq(2L, 4L), 8L)
    assert(hasNode(small, isLocal))
    assert(ranks(small) == ranks(ppr(Seq(2L, 4L), 0L)))
    assert(ranks(small) == ranks(over), "seeds outside the graph changed the ranks")
  }
}
