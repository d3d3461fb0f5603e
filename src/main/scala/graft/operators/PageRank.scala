package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Jobs

/** Fixed-iteration PageRank over an edge list — item centrality for the
  * co-occurrence graph ([[MarketBasket.coPairs]]), source authority for
  * link graphs, influence for user-interaction graphs.
  *
  * FIXED-POINT INTEGER arithmetic end to end: ranks are BIGINT
  * micro-units (`scale` = 1 rank unit), every per-edge contribution is
  * an integer division `r div outdeg`, and the damping mix is
  * `(damp·Σ) div 100`. Integer sums commute, so the iteration is
  * bit-reproducible regardless of partial-aggregation order and
  * oracle-hash-exact cross-engine — double-precision PageRank cannot
  * promise either (fp sums are order-dependent). Quantization: each
  * division floors, losing < 1 micro-unit per term; with scale = 1e12
  * the cumulative error after `iters` rounds is ≲ iters·deg/1e12 of a
  * unit — far below the 6-dp output rounding. (The total mass therefore
  * drifts marginally below 1; PageRank ORDERING, the thing consumers
  * use, is unaffected at these magnitudes.)
  *
  * Scale shape per iteration: one src-keyed broadcast-or-shuffle join
  * (ranks ⋈ edges, both partitioned by src), one dst-keyed partial
  * aggregate (map-side combinable — integer sums), one left join back
  * to the node list for isolated-receiver base mass. No windows, no
  * global sorts, no driver-side state beyond the scalar node count
  * (kept plan-side as a broadcast 1-row aggregate). At 100 TB the
  * per-iteration lineage should be pinned with a reliable checkpoint
  * every few rounds (the connected-components posture,
  * Dedup.resolvePairs); at fixed small `iters` the plain chain is fine.
  *
  * Directed semantics: an edge (src → dst) sends mass src → dst;
  * undirected graphs pass both orientations. Nodes = endpoints of the
  * edge list; every node here has outdeg ≥ 1 when edges are symmetric,
  * so no dangling-mass redistribution term is needed for the undirected
  * case (dangling nodes in directed graphs simply leak their mass —
  * callers wanting the redistribution variant should densify first).
  */
object PageRank {

  val DefaultScale = 1000000000000L // 1e12 micro-units per rank unit

  /** PageRank after `iters` synchronous iterations. `dampPct` is the
    * damping factor in integer percent (85 = the canonical 0.85).
    * Output: (node, rank) with rank in units (double, rounded 6 dp).
    * At most [[LocalGraph.MaxEdges]] edges iterate on the driver (README
    * "Driver tiers").
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
            dampPct: Long = 85L, scale: Long = DefaultScale): DataFrame = {
    require(iters >= 0 && dampPct >= 0 && dampPct <= 100,
      s"pageRank: bad iters=$iters / dampPct=$dampPct")
    // The edge list and its two derived tables are referenced 2–3× per
    // iteration; pin each ONCE (README "Eager jobs") so the iteration
    // plan is pure join/agg over pinned inputs instead of iters×
    // recomputations of whatever subtree produced the edges.
    val e = Jobs.pin(edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst")),
      "pagerank", "edges")
    // DRIVER-LOCAL TIER ([[LocalGraph]]): the integer iteration
    // replicates exactly — `div` on non-negative longs is the same
    // truncation, integer sums are order-free — and the one float step
    // (round(r/scale, 6)) still runs as the SAME Spark expression over
    // the locally-computed integer ranks, so the output is bit-identical
    // to the distributed loop's by construction (PageRankSpec
    // equivalence case). An empty edge list has no node to divide the
    // start mass over; the distributed loop returns it as no rows.
    val local = LocalGraph.collect(e, "pagerank")
    if (local.exists(_.nonEmpty)) {
      Jobs.release(e) // the frame below reads only e's schema
      val el = local.get.map(r => (r.getLong(0), r.getLong(1)))
      val nodesL = (el.map(_._1) ++ el.map(_._2)).distinct.sorted
      val n = nodesL.length.toLong
      val outdeg = new java.util.HashMap[Long, Long]()
      el.foreach(t => outdeg.merge(t._1, 1L, _ + _))
      val base = ((scale * (100L - dampPct)) / 100L) / n
      var r = new java.util.HashMap[Long, Long]()
      nodesL.foreach(nd => r.put(nd, scale / n))
      for (_ <- 1 to iters) {
        val in = new java.util.HashMap[Long, Long]()
        el.foreach { case (s, d) =>
          in.merge(d, r.get(s) / outdeg.get(s), _ + _)
        }
        val next = new java.util.HashMap[Long, Long]()
        nodesL.foreach(nd =>
          next.put(nd, base + (dampPct * in.getOrDefault(nd, 0L)) / 100L))
        r = next
      }
      return localRankFrame(e, nodesL.map(nd => (nd, r.get(nd))), scale)
    }
    val nodes = Jobs.pin(e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct(), "pagerank", "nodes")
    // Out-degree attached to the edge list ONCE (r16 optimization): the
    // iteration used to pay a second src-keyed join (ranks ⋈ e ⋈ outdeg)
    // every round for a value that never changes between rounds. One
    // pre-joined pinned table halves the per-iteration join count; the
    // summed per-edge contributions are unchanged integers.
    val ec = Jobs.pin(e
      .join(e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg")), "_src"),
      "pagerank", "out_degree")
    Jobs.release(e) // read only through nodes and ec from here on
    val nn = nodes.agg(count(lit(1)).as("_n"))
    // Base (teleport) mass per node, and the uniform start rank.
    val base = expr(s"(($scale * ${100 - dampPct}) div 100) div _n")
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr(s"$scale div _n").as("_r"))
    for (_ <- 1 to iters) {
      val contrib = ec
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        .groupBy(col("_dst").as("node"))
        .agg(sum(expr("_r div _outdeg")).as("_in"))
      ranks = nodes.crossJoin(broadcast(nn))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (base + expr(s"($dampPct * coalesce(_in, 0L)) div 100"))
            .as("_r"))
    }
    ranks.select(col("node"),
      round(col("_r").cast("double") / lit(scale.toDouble), 6).as("rank"))
  }

  /** Integer ranks → the gate's output frame, with the one float step
    * (round(r/scale, 6)) evaluated by the SAME Spark expression the
    * distributed loop ends with — local-tier float formatting can never
    * drift a bit from the engine's. `node` is nullable where an endpoint
    * column of the edge list `e` is.
    */
  private def localRankFrame(e: DataFrame, ranks: Seq[(Long, Long)], scale: Long): DataFrame = {
    LocalGraph.frame(e.sparkSession, ranks, "node", "_r",
      aNullable = e.schema("_src").nullable || e.schema("_dst").nullable, bNullable = true)
      .select(col("node"),
        round(col("_r").cast("double") / lit(scale.toDouble), 6).as("rank"))
  }

  /** PERSONALIZED PageRank: teleport mass restarts at the `seeds` set
    * instead of uniformly — rank becomes "relatedness to the seeds"
    * (random walk with restart), the item-to-item recommendation
    * primitive ("customers who bought X…") next to [[ranks]]' global
    * centrality. Same fixed-point integer arithmetic, same
    * per-iteration join/agg shape; the only changes are the start
    * vector (scale div |seeds| on seeds, 0 elsewhere) and the teleport
    * term (seeds only). Seeds outside the graph are ignored; the seed
    * count enters the plan as a broadcast 1-row aggregate, never
    * driver-side.
    *
    * Output: (node, rank) over ALL graph nodes (unreached nodes rank
    * 0 — the caller top-k's per use case). At most
    * [[LocalGraph.MaxEdges]] edges and distinct seeds iterate on the
    * driver (README "Driver tiers").
    */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String, iters: Int,
                   dampPct: Long = 85L, scale: Long = DefaultScale): DataFrame = {
    require(iters >= 0 && dampPct >= 0 && dampPct <= 100,
      s"personalized: bad iters=$iters / dampPct=$dampPct")
    val e = Jobs.pin(edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst")),
      "personalized_pagerank", "edges")
    // DRIVER-LOCAL TIER — the [[ranks]] replica with the seeded
    // teleport: tele(mass) = mass div |seeds∩nodes| on seeds, 0
    // elsewhere; identical integer chain, same Spark round at the end.
    // The distinct seeds pass the same gate as the edges, so a seed set
    // over the ceiling takes the distributed loop.
    val local = for {
      rows <- LocalGraph.collect(e, "personalized_pagerank")
      seedRows <- LocalGraph.collect(seeds.select(col(seedCol)).distinct(),
        "personalized_pagerank")
    } yield (rows, seedRows)
    if (local.isDefined) {
      Jobs.release(e) // the frame below reads only e's schema
      val (rows, seedRows) = local.get
      val el = rows.map(r => (r.getLong(0), r.getLong(1)))
      val nodesL = (el.map(_._1) ++ el.map(_._2)).distinct.sorted
      val nodeSet = nodesL.toSet
      val seedSet = seedRows.map(_.getLong(0)).toSet.intersect(nodeSet)
      val ns = math.max(seedSet.size.toLong, 1L) // |seeds|=0 ⇒ all-zero ranks either way
      val outdeg = new java.util.HashMap[Long, Long]()
      el.foreach(t => outdeg.merge(t._1, 1L, _ + _))
      def tele(nd: Long, mass: Long): Long =
        if (seedSet.contains(nd)) mass / ns else 0L
      var r = new java.util.HashMap[Long, Long]()
      nodesL.foreach(nd => r.put(nd, tele(nd, scale)))
      val dampedBase = (scale * (100L - dampPct)) / 100L
      for (_ <- 1 to iters) {
        val in = new java.util.HashMap[Long, Long]()
        el.foreach { case (s, d) =>
          in.merge(d, r.get(s) / outdeg.get(s), _ + _)
        }
        val next = new java.util.HashMap[Long, Long]()
        nodesL.foreach(nd => next.put(nd,
          tele(nd, dampedBase) + (dampPct * in.getOrDefault(nd, 0L)) / 100L))
        r = next
      }
      return localRankFrame(e, nodesL.map(nd => (nd, r.get(nd))), scale)
    }
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
    val seed = Jobs.pin(seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi"), "personalized_pagerank", "seeds")
    val flagged = Jobs.pin(nodes
      .join(seed.withColumn("_s", lit(1)), Seq("node"), "left")
      .select(col("node"), col("_s").isNotNull.as("_isSeed")),
      "personalized_pagerank", "flagged")
    // Out-degree pre-joined onto the pinned edge list, as in [[ranks]].
    val ec = Jobs.pin(e
      .join(e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg")), "_src"),
      "personalized_pagerank", "out_degree")
    Jobs.release(e) // read only through seed, flagged and ec from here on
    val ns = seed.agg(count(lit(1)).as("_ns"))
    def teleport(mass: String) =
      when(col("_isSeed"), expr(s"($mass) div _ns")).otherwise(lit(0L))
    var ranks = flagged.crossJoin(broadcast(ns))
      .select(col("node"), teleport(s"$scale").as("_r"))
    for (_ <- 1 to iters) {
      val contrib = ec
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        .groupBy(col("_dst").as("node"))
        .agg(sum(expr("_r div _outdeg")).as("_in"))
      ranks = flagged.crossJoin(broadcast(ns))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (teleport(s"($scale * ${100 - dampPct}) div 100")
            + expr(s"($dampPct * coalesce(_in, 0L)) div 100")).as("_r"))
    }
    ranks.select(col("node"),
      round(col("_r").cast("double") / lit(scale.toDouble), 6).as("rank"))
  }

  /** DuckDB CTE chain for [[personalized]] (the [[duckRankCtes]]
    * convention): `seedsRel` exposes a `node` column; declares
    * `${p}pnodes`, `${p}pseed`, `${p}pdeg`, `${p}pns`,
    * `${p}pr0` … `${p}pr{iters}`.
    */
  def duckPersonalizedCtes(edgesRel: String, srcCol: String, dstCol: String,
                           seedsRel: String, iters: Int,
                           dampPct: Long = 85L, scale: Long = DefaultScale,
                           p: String = ""): String = {
    val tele = s"(($scale * ${100 - dampPct}) // 100) // ns.n"
    val iterCtes = (1 to iters).map { k =>
      s"""${p}pr$k AS MATERIALIZED (
         |  SELECT n.node,
         |         CASE WHEN n.isseed THEN $tele ELSE 0 END
         |         + CAST(($dampPct * COALESCE(s.i, 0)) // 100 AS BIGINT) AS r
         |  FROM ${p}pnodes n CROSS JOIN ${p}pns ns
         |  LEFT JOIN (SELECT e.$dstCol AS node, sum(r.r // d.outdeg) AS i
         |             FROM $edgesRel e
         |               JOIN ${p}pr${k - 1} r ON r.node = e.$srcCol
         |               JOIN ${p}pdeg d ON d.node = e.$srcCol
         |             GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }
    (Seq(
      s"""${p}pseed AS MATERIALIZED (
         |  SELECT DISTINCT s.node FROM ($seedsRel) s
         |  WHERE s.node IN (SELECT $srcCol FROM $edgesRel
         |                   UNION SELECT $dstCol FROM $edgesRel))""".stripMargin,
      s"""${p}pnodes AS MATERIALIZED (
         |  SELECT node, node IN (SELECT node FROM ${p}pseed) AS isseed FROM
         |  (SELECT DISTINCT $srcCol AS node FROM $edgesRel
         |   UNION SELECT DISTINCT $dstCol FROM $edgesRel))""".stripMargin,
      s"""${p}pdeg AS MATERIALIZED (
         |  SELECT $srcCol AS node, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM $edgesRel GROUP BY 1)""".stripMargin,
      s"${p}pns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ${p}pseed)",
      s"""${p}pr0 AS (
         |  SELECT node, CASE WHEN isseed THEN $scale // ns.n ELSE 0 END AS r
         |  FROM ${p}pnodes CROSS JOIN ${p}pns ns)""".stripMargin
    ) ++ iterCtes).mkString(",\n")
  }

  /** DuckDB CTE chain for [[ranks]] over an edge relation (must expose
    * `srcCol`, `dstCol`): declares `${p}nodes`, `${p}deg`, `${p}nn`,
    * `${p}r0` … `${p}r{iters}` — read
    * `SELECT node, round(CAST(r AS DOUBLE) / scale, 6) FROM ${p}r{iters}`.
    */
  def duckRankCtes(edgesRel: String, srcCol: String, dstCol: String,
                   iters: Int, dampPct: Long = 85L,
                   scale: Long = DefaultScale, p: String = ""): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""${p}r$k AS (
         |  SELECT n.node,
         |         ((($scale * ${100 - dampPct}) // 100) // nn.n)
         |         + CAST(($dampPct * COALESCE(s.i, 0)) // 100 AS BIGINT) AS r
         |  FROM ${p}nodes n CROSS JOIN ${p}nn nn
         |  LEFT JOIN (SELECT e.$dstCol AS node, sum(r.r // d.outdeg) AS i
         |             FROM $edgesRel e
         |               JOIN ${p}r${k - 1} r ON r.node = e.$srcCol
         |               JOIN ${p}deg d ON d.node = e.$srcCol
         |             GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }
    (Seq(
      s"""${p}nodes AS (SELECT DISTINCT node FROM
         |  (SELECT $srcCol AS node FROM $edgesRel
         |   UNION SELECT $dstCol FROM $edgesRel))""".stripMargin,
      s"""${p}deg AS (SELECT $srcCol AS node, CAST(count(*) AS BIGINT) AS outdeg
         |           FROM $edgesRel GROUP BY 1)""".stripMargin,
      s"${p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ${p}nodes)",
      s"""${p}r0 AS (SELECT node, $scale // nn.n AS r
         |           FROM ${p}nodes CROSS JOIN ${p}nn nn)""".stripMargin
    ) ++ iterCtes).mkString(",\n")
  }
}
