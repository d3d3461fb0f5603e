package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.KCore

class KCoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("coreMembers: pendant chain peels off, the clique survives with core degrees") {
    // 4-clique {1,2,3,4} + chain 4–5–6. k=3: 5 and 6 drop in round 1,
    // node 4's degree falls back to 3 and the clique is stable.
    val edges = sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val core = KCore.coreMembers(edges, "src", "dst", k = 3, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("coreMembers: peeling cascades — a path dissolves round by round at k=2") {
    val path = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // Round 1 drops the endpoints; the output's own ≥ k filter then
    // hides the now-deficient 2 and 4 (it reports CURRENT core
    // candidates, matching the oracle's final HAVING) — only 3 shows.
    val r1 = KCore.coreMembers(path, "src", "dst", k = 2, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(3L -> 2L))
    // By round 3 the cascade has consumed everything: a plain degree
    // filter would wrongly keep {2,3,4}.
    assert(KCore.coreMembers(path, "src", "dst", k = 2, iters = 3).count() == 0)
  }

  test("coreMembers: early exit on a stable round equals the full unroll") {
    // Clique + pendant chain stabilizes after 2 peel rounds; a large
    // `iters` must produce the identical core via the stable-count exit
    // (the r16 optimization) — extra rounds are no-ops by monotonicity.
    val edges = sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val full = KCore.coreMembers(edges, "src", "dst", k = 3, iters = 3)
      .as[(Long, Long)].collect().toMap
    val long = KCore.coreMembers(edges, "src", "dst", k = 3, iters = 40)
      .as[(Long, Long)].collect().toMap
    assert(long == full && full.nonEmpty)
  }

  test("coreMembers: self-loops and duplicate edges don't inflate degrees") {
    val edges = sym((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L))
      .union(Seq((1L, 1L)).toDF("src", "dst"))
    val core = KCore.coreMembers(edges, "src", "dst", k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("local peel tier and distributed peel label identically (incl. partial peel)") {
    // Clique {1..4} + pendant chain 4-5-6: full peel and a deliberately
    // PARTIAL peel (iters=1, chain only half-removed) must agree across
    // tiers -- the local tier replicates the synchronous rounds, not
    // just the fixpoint.
    val edges = sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    for (it <- Seq(1, 3))
      TierLaws.holds(s"iters=$it")(KCore.coreMembers(edges, "src", "dst", k = 2, iters = it))
  }
}
