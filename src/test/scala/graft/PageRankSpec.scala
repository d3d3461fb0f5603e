package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

class PageRankSpec extends AnyFunSuite with SparkTestBase {

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    import spark.implicits._
    PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Double)].collect().toMap
  }

  test("symmetric two-node graph stays uniform at every iteration") {
    for (it <- Seq(0, 1, 5)) {
      val r = ranksOf(Seq((1L, 2L), (2L, 1L)), it)
      assert(r == Map(1L -> 0.5, 2L -> 0.5), s"iters=$it")
    }
  }

  test("a sink hub accumulates rank above its spokes") {
    // Star: 1,2,3 all link to 4; 4 links back to 1 only.
    val r = ranksOf(Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 1L)), 5)
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    assert(r(4L) > r(1L) && r(1L) > r(2L))
    assert(r(2L) == r(3L)) // symmetric spokes tie exactly (integer arithmetic)
  }

  test("fixed-point iteration matches a double-precision reference within quantization") {
    // Undirected triangle + pendant: 1-2, 2-3, 3-1, 3-4.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val edges = und ++ und.map(e => (e._2, e._1))
    val got = ranksOf(edges, 8)
    // Same synchronous updates in plain doubles.
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(n => n -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 8) {
      val in = edges.groupBy(_._2).view
        .mapValues(_.map(e => r(e._1) / out(e._1)).sum).toMap
      r = nodes.map(n => n -> (0.15 / nodes.size + 0.85 * in.getOrElse(n, 0.0))).toMap
    }
    for (n <- nodes)
      assert(math.abs(got(n) - r(n)) < 1e-5, s"node $n: ${got(n)} vs ${r(n)}")
    // mass conservation to quantization error
    assert(math.abs(got.values.sum - 1.0) < 1e-4)
  }

  test("personalized: teleport mass restarts at the seed only; non-seeds start cold") {
    import spark.implicits._
    // Star 1↔2, 1↔3; seed {2}. r0: all mass on 2. One iteration:
    // node 1 receives 0.85·(2's mass); 2 keeps only its 0.15 teleport;
    // 3 got nothing yet (its only in-edge is from cold node 1).
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(2L).toDF("node")
    val got = graft.operators.PageRank
      .personalized(edges, "src", "dst", seeds, "node", iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.85, 2L -> 0.15, 3L -> 0.0))
    // Seeds outside the graph are ignored (never divide the teleport).
    val gotGhost = graft.operators.PageRank
      .personalized(edges, "src", "dst", Seq(2L, 99L).toDF("node"), "node",
        iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(gotGhost == Map(1L -> 0.85, 2L -> 0.15, 3L -> 0.0))
  }

  test("local integer tier and distributed loop rank identically (ranks + personalized)") {
    import spark.implicits._
    // Asymmetric graph with a sink hub, a cycle, and a dangling source;
    // iters chosen small so partial convergence must also agree.
    val el = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L), (1L, 3L),
      (3L, 4L), (5L, 1L))
    val edges = el.toDF("src", "dst")
    for (it <- Seq(0, 1, 5))
      TierLaws.holds(s"iters=$it")(PageRank.ranks(edges, "src", "dst", it))
    val seeds = Seq(2L, 99L).toDF("node") // 99 is outside the graph
    TierLaws.holds("personalized")(PageRank.personalized(edges, "src", "dst", seeds, "node", 4))
  }
}
