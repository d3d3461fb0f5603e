package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LabelProp

class LabelPropSpec extends AnyFunSuite with SparkTestBase {

  test("communities: two triangles joined by a weak bridge separate; no-inbound node keeps its label") {
    import spark.implicits._
    // Triangle {1,2,3} and triangle {4,5,6}, intra-weight 2, one
    // weight-1 bridge 3–4 — LPA must NOT merge them (connected
    // components would). Node 7 only SENDS (7→1): never receives a
    // label, so it keeps its seed through the coalesce path.
    val undirected = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L),
      (3L, 4L, 1L))
    val edges = (undirected ++ undirected.map(e => (e._2, e._1, e._3)) ++
      Seq((7L, 1L, 1L))).toDF("src", "dst", "w")
    val out = LabelProp.communities(edges, "src", "dst", "w", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
  }

  test("communities: zero iterations return the seed labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val out = LabelProp.communities(edges, "src", "dst", "w", iters = 0)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L))
  }

  test("local LPA tier and distributed LPA label identically (weights, ties, no-inbound)") {
    import spark.implicits._
    val undirected = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L),
      (3L, 4L, 1L))
    val edges = (undirected ++ undirected.map(e => (e._2, e._1, e._3)) ++
      Seq((7L, 1L, 1L), (8L, 7L, 1L), (7L, 8L, 1L))).toDF("src", "dst", "w")
    for (it <- Seq(0, 1, 3))
      TierLaws.holds(s"iters=$it")(LabelProp.communities(edges, "src", "dst", "w", iters = it))
  }
}
