package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Jobs

/** k-core decomposition (fixed-round peeling) — the graph-density
  * member of the graph family next to [[Triangles]] and [[LabelProp]]:
  * the k-core is the maximal subgraph where every node keeps degree
  * ≥ k, the standard "dense cohesive region" extraction (spam rings,
  * power-user cliques, co-purchase cores) that percolates OUT low-
  * engagement periphery a plain degree filter would keep (dropping a
  * node can drag its neighbors below k — peeling is inherently
  * iterative).
  *
  * Fixed `iters` peel rounds (the [[LabelProp.communities]] posture:
  * data-independent round count so the oracle can unroll the exact
  * same computation): each round computes surviving degrees and
  * semi-join-filters both edge endpoints against the ≥ k survivors.
  * Peeling is monotone — once stable, further rounds are no-ops — so
  * `iters` only needs to cover the peel DEPTH (longest chain of
  * cascading removals), not the node count.
  *
  * Input edges must be SYMMETRIC (both directions present, the
  * [[PageRank.ranks]] convention); self-loops and duplicate edges are
  * dropped. Scale shape per round: one map-side-combinable degree
  * aggregate + two semi joins against the (node-sized, typically
  * broadcastable) survivor set; each round is pinned and frees the
  * round before it (README "Eager jobs").
  *
  * Output: (node, degree) for k-core members, degree = within-core
  * degree after `iters` rounds.
  */
object KCore {

  /** See object doc. At most [[LocalGraph.MaxEdges]] edges peel on the
    * driver (README "Driver tiers").
    */
  def coreMembers(edges: DataFrame, srcCol: String, dstCol: String,
                  k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"kCore: bad k=$k")
    require(iters >= 1, s"kCore: bad iters=$iters")
    val spark = edges.sparkSession
    var e = Jobs.pin(edges
      .select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .filter(col("_s") =!= col("_d"))
      .distinct(), "kcore", "edges")
    // Early exit on a STABLE round (r16 optimization): each round's edge
    // set is a subset of the previous one, so an unchanged count means an
    // unchanged set — degrees, the survivor set, and every later round
    // are then bit-identical no-ops and can be skipped. Peel depth, not
    // `iters`, becomes the executed round count (the oracle still unrolls
    // all `iters` rounds; no-op rounds compute the identical relation, so
    // results are unchanged by construction). The count is a cheap job
    // over the just-materialized checkpoint blocks.
    var nEdges = Jobs.labelled(spark, "kcore", "edges")(e.count())
    // DRIVER-LOCAL TIER ([[LocalGraph]], reusing the count above): the
    // local peel is the IDENTICAL synchronous computation (all deg<k
    // nodes removed simultaneously per round, early exit on a stable
    // round), so the surviving (node, degree) set is bit-identical to the
    // distributed loop's by construction.
    val local = LocalGraph.collect(e, "kcore", Some(nEdges))
    if (local.isDefined) {
      Jobs.release(e) // the frame below reads only e's schema
      var el = local.get.map(r => (r.getLong(0), r.getLong(1)))
      var stable = false
      for (_ <- 1 to iters if !stable) {
        val deg = new java.util.HashMap[Long, Long]()
        el.foreach(t => deg.merge(t._1, 1L, _ + _))
        val next = el.filter(t =>
          deg.getOrDefault(t._1, 0L) >= k && deg.getOrDefault(t._2, 0L) >= k)
        stable = next.length == el.length
        el = next
      }
      val outDeg = new java.util.HashMap[Long, Long]()
      el.foreach(t => outDeg.merge(t._1, 1L, _ + _))
      import scala.jdk.CollectionConverters._
      return LocalGraph.frame(e.sparkSession,
        outDeg.asScala.toSeq.filter(_._2 >= k), "node", "degree",
        aNullable = e.schema("_s").nullable, bNullable = false)
    }
    var stable = false
    for (_ <- 1 to iters if !stable) {
      val keep = e.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k)
        .select(col("_s").as("_keep"))
      val next = Jobs.pin(e
        .join(keep.select(col("_keep").as("_s")), Seq("_s"), "left_semi")
        .join(keep.select(col("_keep").as("_d")), Seq("_d"), "left_semi"), "kcore", "peel")
      Jobs.release(e)
      e = next
      val n = Jobs.labelled(spark, "kcore", "peel")(e.count())
      stable = n == nEdges
      nEdges = n
    }
    e.groupBy(col("_s").as("node")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  /** DuckDB CTE chain for [[coreMembers]] (the [[PageRank.duckRankCtes]]
    * convention: caller embeds it in a WITH and appends
    * [[duckCoreSelect]]): the identical peel unrolled as `iters` CTE
    * rounds over `edgesRel` (columns `src`, `dst`, symmetric).
    */
  def duckCoreCtes(edgesRel: String, k: Int, iters: Int): String = {
    // AS MATERIALIZED: every round references the previous one three
    // times (degree count + both endpoint joins) — inlined, the
    // expansion is 3^iters re-reads of the base scan and DuckDB runs
    // out of file handles before it runs out of patience.
    val e0 =
      s"""ke0 AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM $edgesRel WHERE src <> dst)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""kk$i AS MATERIALIZED (
         |  SELECT src FROM ke${i - 1} GROUP BY src HAVING count(*) >= $k),
         |ke$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM ke${i - 1} e
         |  JOIN kk$i a ON e.src = a.src
         |  JOIN kk$i b ON e.dst = b.src)""".stripMargin
    }
    (e0 +: rounds).mkString(",\n")
  }

  /** Final SELECT over [[duckCoreCtes]]'s last round. */
  def duckCoreSelect(k: Int, iters: Int): String =
    s"""SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM ke$iters GROUP BY 1 HAVING count(*) >= $k""".stripMargin
}
