package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Jobs

/** Fixed-iteration synchronous LABEL PROPAGATION over a weighted edge
  * list — community detection for the co-occurrence graph: each node
  * repeatedly adopts the label carrying the MAXIMUM total edge weight
  * among its neighbors. Communities are denser than connected
  * components ([[Dedup]]'s resolution): a bridge edge joins two
  * components but rarely flips a whole community's weight majority.
  *
  * Determinism (classic LPA is run-order randomized — useless for an
  * oracle-gated engine): synchronous updates (all nodes flip on the
  * previous round's labels), integer weights, and ties broken toward
  * the SMALLEST label. Every step is integer arithmetic + total-order
  * tie-breaks, so the result is bit-reproducible and cross-engine
  * exact at any partitioning.
  *
  * Scale shape per iteration: one src-keyed join (labels ⋈ edges), one
  * (dst, label)-keyed partial aggregate (map-side combinable integer
  * sums), one per-node top-1 window over the neighbor-LABEL table
  * (bounded by the edge list, shrinking as communities coalesce), and a
  * coalesce join back to the node list so isolated nodes keep their
  * labels. Inputs and rounds are pinned (README "Eager jobs") so the
  * fixed chain never recomputes the edge subtree.
  *
  * Directed semantics: labels flow src → dst; undirected graphs pass
  * both orientations. Output: (node, community) — community is the
  * propagated label id (seeded with each node's own id).
  */
object LabelProp {

  /** See object doc. At most [[LocalGraph.MaxEdges]] edges propagate on
    * the driver (README "Driver tiers").
    */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, iters: Int): DataFrame = {
    require(iters >= 0, s"labelProp: bad iters=$iters")
    val e = Jobs.pin(edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"),
      col(weightCol).cast("long").as("_w")), "label_prop", "edges")
    // DRIVER-LOCAL TIER ([[LocalGraph]]): the local rounds replicate the
    // EXACT update rule — integer weight sums over the previous round's
    // labels, argmax with the smallest-label tie-break, no-in-neighbor
    // nodes keep their label — so the final (node, community) set is
    // bit-identical by construction (integer arithmetic, total order).
    val local = LocalGraph.collect(e, "label_prop")
    if (local.isDefined) {
      Jobs.release(e) // the frame below reads only e's schema
      val el = local.get.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodesL = (el.map(_._1) ++ el.map(_._2)).distinct.sorted
      var lbl = nodesL.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        val sums = new java.util.HashMap[(Long, Long), Long]()
        el.foreach { case (s, d, w) => sums.merge((d, lbl(s)), w, _ + _) }
        import scala.jdk.CollectionConverters._
        val winners = sums.asScala.toSeq
          .map { case ((d, l), w) => (d, l, w) }
          .groupBy(_._1)
          .map { case (d, cands) =>
            d -> cands.minBy { case (_, l, w) => (-w, l) }._2
          }
        lbl = nodesL.map(n => n -> winners.getOrElse(n, lbl(n))).toMap
      }
      // A label is some node's id, so it is nullable where a node is.
      val nullable = e.schema("_src").nullable || e.schema("_dst").nullable
      return LocalGraph.frame(e.sparkSession,
        nodesL.map(n => (n, lbl(n))).toSeq, "node", "community", nullable, nullable)
    }
    val nodes = Jobs.pin(e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct(), "label_prop", "nodes")
    var labels = nodes.select(col("node"), col("node").as("label"))
    val top = Window.partitionBy(col("_dst"))
      .orderBy(col("w").desc, col("label").asc)
    for (i <- 1 to iters) {
      val scored = e.join(labels, e("_src") === labels("node"))
        .groupBy(col("_dst"), col("label"))
        .agg(sum(col("_w")).as("w"))
      val winners = scored
        .withColumn("_rn", row_number().over(top))
        .filter(col("_rn") === 1)
        .select(col("_dst").as("node"), col("label").as("_new"))
      val next = Jobs.pin(nodes.join(winners, Seq("node"), "left")
        .join(labels, Seq("node"))
        .select(col("node"), coalesce(col("_new"), col("label")).as("label")),
        "label_prop", "round")
      if (i > 1) Jobs.release(labels)
      labels = next
    }
    // The result reads the last round's pin, or the nodes when no round ran.
    Jobs.release(e)
    if (iters > 0) Jobs.release(nodes)
    labels.select(col("node"), col("label").as("community"))
  }

  /** DuckDB oracle CTE chain for [[communities]]: declares `${p}lp0` …
    * `${p}lp<iters>` given edge CTE `${p}edges(src, dst, w)`; the final
    * labels are `${p}lp<iters>(node, label)`.
    */
  def duckCommunityCtes(iters: Int, p: String = ""): String = {
    val nodes =
      s"""${p}nodes AS (SELECT src AS node FROM ${p}edges
         |  UNION SELECT dst FROM ${p}edges)""".stripMargin
    val init = s"${p}lp0 AS (SELECT node, node AS label FROM ${p}nodes)"
    val steps = (1 to iters).map { i =>
      s"""${p}lp$i AS (
         |  SELECT n.node, coalesce(w.label, prev.label) AS label
         |  FROM ${p}nodes n
         |  JOIN ${p}lp${i - 1} prev ON prev.node = n.node
         |  LEFT JOIN (
         |    SELECT dst AS node, label FROM (
         |      SELECT e.dst, l.label, sum(e.w) AS w,
         |             row_number() OVER (PARTITION BY e.dst
         |               ORDER BY sum(e.w) DESC, l.label ASC) AS rn
         |      FROM ${p}edges e JOIN ${p}lp${i - 1} l ON l.node = e.src
         |      GROUP BY e.dst, l.label)
         |    WHERE rn = 1) w ON w.node = n.node)""".stripMargin
    }
    (Seq(nodes, init) ++ steps).mkString(",\n")
  }
}
