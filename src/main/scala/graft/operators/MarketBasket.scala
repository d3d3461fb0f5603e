package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence analysis: which item pairs appear in the
  * same basket more often than chance (lift) — the association-rule
  * companion to the order/lineitem exports, and (over document sources
  * or tag sets) a curation signal for corpus composition.
  *
  * Scale shape:
  *   - the basket×item incidence is deduped in ONE (basket,item)
  *     exchange before anything quadratic happens;
  *   - pair generation is an equi-join on the basket key, so the work
  *     is Σ|basket|² — bounded by the largest basket, not the corpus
  *     (baskets are short in practice; a cap-guard belongs upstream if
  *     a domain has degenerate mega-baskets);
  *   - per-item frequencies are a broadcast dim (item cardinality ≪
  *     fact rows), so lift attachment adds no exchange;
  *   - top-k is `orderBy().limit()` → TakeOrdered, never a full sort.
  */
object MarketBasket {

  /** Pairwise lift: for item pairs co-occurring in ≥ `minPairs` baskets,
    * lift = P(a,b) / (P(a)·P(b)) = pair_count · n_baskets /
    * (count_a · count_b), computed in exact BIGINTs with ONE final
    * double division (bit-identical cross-engine, so top-k ordering by
    * lift is deterministic; ties break on the item ids).
    *
    * Output: top `topK` rows of (item_a, item_b, pair_count, lift),
    * item_a < item_b.
    */
  def pairLift(df: DataFrame, basketCol: String, itemCol: String,
               minPairs: Long, topK: Int): DataFrame = {
    val items = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val nb = items.agg(count_distinct(col("_b")).as("_n"))
    val itemCounts = items.groupBy(col("_i")).agg(count(lit(1)).as("_cnt"))
    val pairs = coPairsOf(items, minPairs)
    pairs
      .join(broadcast(itemCounts.select(col("_i").as("item_a"), col("_cnt").as("_ca"))), "item_a")
      .join(broadcast(itemCounts.select(col("_i").as("item_b"), col("_cnt").as("_cb"))), "item_b")
      .crossJoin(broadcast(nb))
      .withColumn("_lift", (col("pair_count") * col("_n")).cast("double")
        / (col("_ca") * col("_cb")).cast("double"))
      .orderBy(col("_lift").desc, col("item_a").asc, col("item_b").asc)
      .limit(topK)
      .select(col("item_a"), col("item_b"), col("pair_count"),
        round(col("_lift"), 6).as("lift"))
  }

  /** Co-occurrence pairs: (item_a, item_b, pair_count), item_a < item_b,
    * over the deduped basket×item incidence — the shared substrate of
    * [[pairLift]] and the co-occurrence graph fed to
    * [[PageRank.ranks]].
    */
  def coPairs(df: DataFrame, basketCol: String, itemCol: String,
              minPairs: Long): DataFrame =
    coPairsOf(df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct(), minPairs)


  private def coPairsOf(items: DataFrame, minPairs: Long): DataFrame =
    graft.Jobs.pin(items.as("x").join(items.as("y"),
        col("x._b") === col("y._b") && col("x._i") < col("y._i"))
      .groupBy(col("x._i").as("item_a"), col("y._i").as("item_b"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minPairs),
      // PIN the pair table (r16 optimization): every graph gate built on
      // it references `pairs` 2–16× (both union orientations, degree
      // tables, adjacency, wedge self-joins), and exchange reuse only
      // dedupes IDENTICAL subtrees — a differently-pruned reference
      // replays the whole incidence self-join from the scan (the
      // q_two_hop_hll_capped initial plan carried 478 Exchange nodes
      // before this pin). Materializing once collapses every consumer
      // plan to joins over a pinned, pair-set-sized RDD scan: smaller
      // plans, one codegen unit per stage instead of per reference, and
      // the self-join runs exactly once (README "Eager jobs").
      "co_pairs", "pairs")

  /** DuckDB CTEs for [[coPairs]]: declares `${p}items` and `${p}pairs`. */
  def duckCoPairCtes(rel: String, basketCol: String, itemCol: String,
                     minPairs: Long, p: String = ""): String =
    // AS MATERIALIZED (r14): DuckDB 1.0 INLINES every CTE reference —
    // a consumer chain that touches `pairs` several times re-ran the
    // full basket scan + wedge aggregate per reference (16 inlined
    // 60 M-row scans in the q_two_hop_hll_capped oracle at sf10, which
    // then spilled past the host's disk running them concurrently;
    // measured 3.6 s materialized). A pure execution hint — results
    // are unchanged and every small-SF gate re-verified.
    s"""${p}items AS MATERIALIZED (SELECT DISTINCT $basketCol AS b, $itemCol AS i FROM $rel),
       |${p}pairs AS MATERIALIZED (SELECT x.i AS item_a, y.i AS item_b,
       |               CAST(count(*) AS BIGINT) AS pair_count
       |             FROM ${p}items x JOIN ${p}items y ON x.b = y.b AND x.i < y.i
       |             GROUP BY 1, 2
       |             HAVING count(*) >= $minPairs)""".stripMargin

  /** ITEM-ITEM NEIGHBORHOOD SIMILARITY ("users also bought"): Jaccard
    * overlap of two items' basket sets, computed by POSTINGS
    * INTERSECTION — the item-item collaborative-filtering kernel.
    * |A∩B| comes from the same basket-key equi-join as [[coPairs]]
    * (only co-occurring pairs ever materialize — exactly the
    * similarity > 0 pairs); |A∪B| = cnt_a + cnt_b − inter rides along
    * from the broadcast item-frequency dim. Exact integers, ONE double
    * division, then per-item top-k neighbors via a window over the
    * co-occurrence pair set (pair-set-sized, not corpus-sized).
    *
    * Output: (item, neighbor, inter, jaccard, rank), rank ≤ `topK` per
    * item, both orientations emitted (each item gets its own neighbor
    * list).
    */
  def itemNeighbors(df: DataFrame, basketCol: String, itemCol: String,
                    minPairs: Long, topK: Int): DataFrame = {
    val items = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val itemCounts = items.groupBy(col("_i")).agg(count(lit(1)).as("_cnt"))
    val pairs = coPairsOf(items, minPairs)
    val sym = pairs.select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("pair_count"))
      .union(pairs.select(col("item_b"), col("item_a"), col("pair_count")))
    val scored = sym
      .join(broadcast(itemCounts.select(col("_i").as("item"), col("_cnt").as("_ca"))), "item")
      .join(broadcast(itemCounts.select(col("_i").as("neighbor"), col("_cnt").as("_cb"))), "neighbor")
      .withColumn("_j", col("pair_count").cast("double")
        / (col("_ca") + col("_cb") - col("pair_count")).cast("double"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
      .orderBy(col("_j").desc, col("neighbor").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("item"), col("neighbor"), col("pair_count").as("inter"),
        round(col("_j"), 6).as("jaccard"), col("rank"))
  }

  /** DuckDB oracle twin of [[itemNeighbors]]. */
  def duckItemNeighbors(rel: String, basketCol: String, itemCol: String,
                        minPairs: Long, topK: Int): String =
    s"""WITH ${duckCoPairCtes(rel, basketCol, itemCol, minPairs)},
       |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
       |sym AS (SELECT item_a AS item, item_b AS neighbor, pair_count FROM pairs
       |        UNION ALL
       |        SELECT item_b, item_a, pair_count FROM pairs),
       |sc AS (SELECT s.item, s.neighbor, s.pair_count,
       |              CAST(s.pair_count AS DOUBLE)
       |              / CAST(ca.cnt + cb.cnt - s.pair_count AS DOUBLE) AS j
       |       FROM sym s JOIN ic ca ON ca.i = s.item
       |                  JOIN ic cb ON cb.i = s.neighbor),
       |r AS (SELECT item, neighbor, pair_count, j,
       |        ROW_NUMBER() OVER (PARTITION BY item
       |          ORDER BY j DESC, neighbor ASC) AS rank FROM sc)
       |SELECT item, neighbor, pair_count AS inter, round(j, 6) AS jaccard, rank
       |FROM r WHERE rank <= $topK""".stripMargin

  /** DIRECTIONAL association rules from the co-occurrence pairs: each
    * qualifying pair emits both X→Y and Y→X with
    *
    *   support    = pair/n_baskets,  confidence = pair/count(X),
    *   lift       = pair·n_baskets / (count(X)·count(Y))
    *
    * — [[pairLift]] measures symmetric affinity; rules add the
    * DIRECTION a merchandiser acts on ("X buyers also buy Y" is
    * worthless when Y is in every basket, which is exactly what a high
    * confidence with lift ≈ 1 says). Kept at `minConfPct`% confidence,
    * top-k by (confidence, lift) with id tie-breaks; exact integers
    * until one double division per measure.
    *
    * Scale shape: the [[coPairs]] basket self-join (the family's one
    * exchange), two broadcast item-frequency joins, TakeOrdered top-k.
    * Output: (antecedent, consequent, pair_count, support, confidence,
    * lift).
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minPairs: Long, minConfPct: Int, topK: Int): DataFrame = {
    require(minConfPct >= 0 && minConfPct <= 100,
      s"associationRules: bad minConfPct=$minConfPct")
    val items = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val nb = items.agg(count_distinct(col("_b")).as("_n"))
    val itemCounts = items.groupBy(col("_i")).agg(count(lit(1)).as("_cnt"))
    val pairs = coPairsOf(items, minPairs)
    val rules = pairs.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("pair_count"))
      .union(pairs.select(col("item_b"), col("item_a"), col("pair_count")))
    rules
      .join(broadcast(itemCounts.select(col("_i").as("antecedent"),
        col("_cnt").as("_ca"))), "antecedent")
      .join(broadcast(itemCounts.select(col("_i").as("consequent"),
        col("_cnt").as("_cb"))), "consequent")
      .crossJoin(broadcast(nb))
      // integer confidence gate: pair·100 ≥ minConf·count(X) — no float
      // threshold roulette at the cut
      .filter(col("pair_count") * 100 >= lit(minConfPct.toLong) * col("_ca"))
      .withColumn("_conf", col("pair_count").cast("double") / col("_ca").cast("double"))
      .withColumn("_lift", (col("pair_count") * col("_n")).cast("double")
        / (col("_ca") * col("_cb")).cast("double"))
      .orderBy(col("_conf").desc, col("_lift").desc,
        col("antecedent").asc, col("consequent").asc)
      .limit(topK)
      .select(col("antecedent"), col("consequent"), col("pair_count"),
        round(col("pair_count").cast("double") / col("_n").cast("double"), 6)
          .as("support"),
        round(col("_conf"), 6).as("confidence"),
        round(col("_lift"), 6).as("lift"))
  }

  /** DuckDB oracle twin of [[associationRules]]. */
  def duckAssociationRules(rel: String, basketCol: String, itemCol: String,
                           minPairs: Long, minConfPct: Int, topK: Int): String =
    s"""WITH ${duckCoPairCtes(rel, basketCol, itemCol, minPairs)},
       |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items),
       |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
       |rules AS (SELECT item_a AS antecedent, item_b AS consequent, pair_count
       |          FROM pairs
       |          UNION ALL
       |          SELECT item_b, item_a, pair_count FROM pairs),
       |sc AS (SELECT r.antecedent, r.consequent, r.pair_count, nb.n,
       |              ca.cnt AS cca, cb.cnt AS ccb,
       |              CAST(r.pair_count AS DOUBLE) / CAST(ca.cnt AS DOUBLE) AS conf,
       |              CAST(r.pair_count * nb.n AS DOUBLE)
       |              / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
       |       FROM rules r JOIN ic ca ON ca.i = r.antecedent
       |                    JOIN ic cb ON cb.i = r.consequent
       |                    CROSS JOIN nb
       |       WHERE r.pair_count * 100 >= $minConfPct * ca.cnt)
       |SELECT antecedent, consequent, pair_count,
       |       round(CAST(pair_count AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
       |       round(conf, 6) AS confidence, round(lift, 6) AS lift
       |FROM sc
       |ORDER BY conf DESC, lift DESC, antecedent ASC, consequent ASC
       |LIMIT $topK""".stripMargin

  /** DuckDB oracle twin of [[pairLift]] — same exact-integer moments,
    * one double division, identical ordering.
    */
  def duckPairLift(rel: String, basketCol: String, itemCol: String,
                   minPairs: Long, topK: Int): String =
    s"""WITH items AS (SELECT DISTINCT $basketCol AS b, $itemCol AS i FROM $rel),
       |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items),
       |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
       |p AS (SELECT x.i AS item_a, y.i AS item_b,
       |             CAST(count(*) AS BIGINT) AS pair_count
       |      FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
       |      GROUP BY 1, 2
       |      HAVING count(*) >= $minPairs)
       |SELECT item_a, item_b, pair_count,
       |       round(CAST(pair_count * n AS DOUBLE)
       |             / CAST(ca.cnt * cb.cnt AS DOUBLE), 6) AS lift
       |FROM p JOIN ic ca ON ca.i = p.item_a
       |       JOIN ic cb ON cb.i = p.item_b, nb
       |ORDER BY CAST(pair_count * n AS DOUBLE)
       |         / CAST(ca.cnt * cb.cnt AS DOUBLE) DESC, item_a, item_b
       |LIMIT $topK""".stripMargin

  /** Frequent TRIPLE itemsets — one Apriori level above [[pairLift]]:
    * candidate (a < b < c) triples are generated ONLY where all three
    * sub-pairs are already frequent (the Apriori downward-closure
    * prune), then counted against the basket incidence.
    *
    * Scale shape: the wedge join (a,b)×(b,c) runs on the FREQUENT-PAIR
    * table, not the incidence — candidate volume is bounded by
    * frequent wedges, and the third-pair prune is an equi-join back to
    * the same pair table before any basket data is touched. Support
    * counting then joins the pruned candidates to per-basket
    * incidence on (basket, item) equi-keys. Each stage is a shuffle
    * equi-join; nothing is cubic in the incidence. Top-k is a
    * TakeOrdered (count DESC, items ASC), never a global sort.
    *
    * Output: top `topK` rows of (item_a, item_b, item_c, triple_count),
    * all triple_count ≥ minCount.
    */
  def tripleCounts(df: DataFrame, basketCol: String, itemCol: String,
                   minCount: Long, topK: Int): DataFrame = {
    val items = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val fp = coPairsOf(items, minCount)
      .select(col("item_a"), col("item_b"))
    // Apriori candidates: (a,b) ∧ (b,c) frequent wedge + (a,c) frequent.
    val cand = fp.as("p1").join(fp.as("p2"),
        col("p1.item_b") === col("p2.item_a"))
      .select(col("p1.item_a").as("a"), col("p1.item_b").as("b"),
        col("p2.item_b").as("c"))
      .join(fp.select(col("item_a").as("a"), col("item_b").as("c")),
        Seq("a", "c"))
    val inBasket = cand
      .join(items.select(col("_b"), col("_i").as("a")), Seq("a"))
      .join(items.select(col("_b"), col("_i").as("b")), Seq("_b", "b"))
      .join(items.select(col("_b"), col("_i").as("c")), Seq("_b", "c"))
    inBasket.groupBy(col("a").as("item_a"), col("b").as("item_b"),
        col("c").as("item_c"))
      .agg(count(lit(1)).as("triple_count"))
      .filter(col("triple_count") >= minCount)
      .orderBy(col("triple_count").desc, col("item_a").asc,
        col("item_b").asc, col("item_c").asc)
      .limit(topK)
  }

  /** DuckDB oracle twin of [[tripleCounts]] — the strategy-free
    * spelling (triple self-join of the incidence + HAVING); Apriori
    * pruning is an execution strategy, not a semantics.
    */
  def duckTripleCounts(rel: String, basketCol: String, itemCol: String,
                       minCount: Long, topK: Int): String =
    s"""WITH items AS (SELECT DISTINCT $basketCol AS b, $itemCol AS i FROM $rel)
       |SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
       |       CAST(count(*) AS BIGINT) AS triple_count
       |FROM items x
       |  JOIN items y ON y.b = x.b AND y.i > x.i
       |  JOIN items z ON z.b = y.b AND z.i > y.i
       |GROUP BY 1, 2, 3
       |HAVING count(*) >= $minCount
       |ORDER BY triple_count DESC, item_a, item_b, item_c
       |LIMIT $topK""".stripMargin
}
