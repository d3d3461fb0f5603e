package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding
  * column (`array<float>`), SURVEY §7.5.
  *
  * Scale design:
  *   - the query set is always the small side → `broadcast()` it; the
  *     corpus scan stays shuffle-free and the per-partition work is a
  *     narrow map (dot products) + per-query top-k;
  *   - top-k uses a window only over (queries × candidates), never a
  *     global sort of the corpus;
  *   - the IVF variant prunes the corpus to the `nProbe` partitions whose
  *     centroid is closest to the query — at 1000 executors that is a
  *     partition-pruned scan, not a full pass;
  *   - the sign-LSH variant buckets vectors by hyperplane sign bits so
  *     near-dup candidate generation is an equi-join on bucket keys.
  *
  * Dot products run as double left-folds over `zip_with` — bitwise equal
  * to DuckDB's `list_dot_product` (verified empirically), which makes the
  * brute-force results oracle-checkable including scores.
  */
object Similarity {

  /** Double-precision dot product of two numeric-array columns — the
    * native codegen expression
    * ([[org.apache.spark.sql.graft.DotProduct]]): one fused loop inside
    * whole-stage codegen. Same left-fold accumulation as [[dotHof]] and
    * DuckDB's `list_dot_product`.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DotProduct(a, b)

  /** Built-in-only formulation of [[dot]] (`zip_with` multiply +
    * left-fold sum). Kept as the portable reference implementation; the
    * interpreted HOF path costs ~10× on the similarity hot loops.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors by dot product (vectors are pre-normalized ⇒ cosine).
    * Self-matches (same id) are excluded. Output:
    * (query_id, vec_id, rank, score).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val scored = Dedup.rebalance(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("_cv"))
      .join(q, col("vec_id") =!= col("query_id"))
      .withColumn("_score", dot(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
        round(col("_score"), 6).as("score"))
  }

  /** DuckDB oracle for [[bruteForceTopK]] with queries = `idCol < maxQueryId`. */
  def duckBruteForceTopK(tbl: String, vecCol: String, idCol: String,
                         k: Int, maxQueryId: Long): String =
    s"""WITH q AS (SELECT $idCol AS query_id, CAST($vecCol AS DOUBLE[]) AS qv
       |           FROM $tbl WHERE $idCol < $maxQueryId),
       |s AS (SELECT q.query_id, c.$idCol AS vec_id,
       |             list_dot_product(q.qv, CAST(c.$vecCol AS DOUBLE[])) AS score,
       |             ROW_NUMBER() OVER (PARTITION BY q.query_id
       |               ORDER BY list_dot_product(q.qv, CAST(c.$vecCol AS DOUBLE[])) DESC,
       |                        c.$idCol ASC) AS rank
       |      FROM q, $tbl c WHERE c.$idCol <> q.query_id)
       |SELECT query_id, vec_id, rank, round(score, 6) AS score
       |FROM s WHERE rank <= $k""".stripMargin

  /** [[bruteForceTopK]] through the BOUNDED-HEAP aggregate instead of a
    * window (SURVEY §7.5's per-partition priority queue,
    * [[graft.functions.TopK]]): identical output, different physical
    * shape — the window form must shuffle every scored (query,
    * candidate) pair to rank them, while the typed aggregate
    * partial-collapses map-side so the exchange carries at most
    * k·queries·partitions rows, independent of corpus size. That is the
    * difference between shipping the scored corpus and shipping
    * kilobytes at 100 TB; plan-gated (ObjectHashAggregate with a
    * partial pass, no Window, no global Sort).
    */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame,
                        vecCol: String, idCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredId])
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val scored = Dedup.rebalance(corpus)
      .select(col(idCol).as("vec_id"), col(vecCol).as("_cv"))
      .join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot(col("_qv"), col("_cv")).as("_score"))
    scored.groupBy(col("query_id"))
      .agg(topk(col("vec_id"), col("_score")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_r", "_e")))
      .select(col("query_id"), col("_e.id").as("vec_id"),
        (col("_r") + 1).cast("long").as("rank"),
        round(col("_e.score"), 6).as("score"))
  }

  /** RECALL@k audit of the IVF index against the exact search — THE
    * number an ANN deployment reports, as a first-class query instead
    * of a spec assertion: per query, the fraction of the true top-k
    * the index actually returned. Run on a sample of queries per
    * release; both constituents are this module's existing operators,
    * so the audit costs one brute-force pass over the SAMPLE's
    * candidates only.
    * Output: (query_id, n_hits, recall).
    */
  def recallAtK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                idCol: String, cellCol: String, k: Int, nProbe: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, vecCol, idCol, k)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfTopK(corpus, queries, vecCol, idCol, cellCol, k, nProbe)
      .select(col("query_id"), col("vec_id"), lit(1L).as("_hit"))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
  }

  /** DuckDB oracle twin of [[recallAtK]] — both constituent mirrors
    * joined.
    */
  def duckRecallAtK(tbl: String, vecCol: String, idCol: String,
                    cellCol: String, dim: Int, k: Int, nProbe: Int,
                    maxQueryId: Long): String =
    s"""SELECT e.query_id,
       |       CAST(coalesce(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hits,
       |       round(CAST(coalesce(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 END), 0) AS DOUBLE) / $k, 6) AS recall
       |FROM (${duckBruteForceTopK(tbl, vecCol, idCol, k, maxQueryId)}) e
       |LEFT JOIN (${duckIvfTopK(tbl, vecCol, idCol, cellCol, dim, k, nProbe, maxQueryId)}) a
       |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |GROUP BY e.query_id""".stripMargin

  /** Contrastive hard-negative mining: for each anchor, the `k`
    * most-similar corpus vectors whose cosine stays BELOW `posCeiling` —
    * self-matches and near-duplicates above the ceiling are positives
    * (or leakage), not negatives, so they are excluded BEFORE ranking.
    * The standard retrieval/embedding-training prep step: anchors keep
    * their semantically-closest non-duplicates as hard negatives.
    *
    * Same exchange-bounded physical shape as [[bruteForceTopKAgg]]: the
    * ceiling filter is a narrow post-scoring predicate (cuts the scored
    * stream map-side), and the bounded-heap aggregate partial-collapses
    * to ≤ k rows per anchor per partition — corpus-sized data never
    * shuffles. Output: (anchor_id, neg_id, rank, score).
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, vecCol: String,
                    idCol: String, k: Int, posCeiling: Double): DataFrame = {
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredId])
    val q = broadcast(anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("_qv")))
    val scored = Dedup.rebalance(corpus)
      .select(col(idCol).as("neg_id"), col(vecCol).as("_cv"))
      .join(q, col("neg_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("neg_id"),
        dot(col("_qv"), col("_cv")).as("_score"))
      .filter(col("_score") < posCeiling)
    scored.groupBy(col("anchor_id"))
      .agg(topk(col("neg_id"), col("_score")).as("_top"))
      .select(col("anchor_id"), posexplode(col("_top")).as(Seq("_r", "_e")))
      .select(col("anchor_id"), col("_e.id").as("neg_id"),
        (col("_r") + 1).cast("long").as("rank"),
        round(col("_e.score"), 6).as("score"))
  }

  /** DuckDB oracle for [[hardNegatives]] with anchors = `idCol < maxAnchorId`. */
  def duckHardNegatives(tbl: String, vecCol: String, idCol: String,
                        k: Int, posCeiling: Double, maxAnchorId: Long): String =
    s"""WITH q AS (SELECT $idCol AS anchor_id, CAST($vecCol AS DOUBLE[]) AS qv
       |           FROM $tbl WHERE $idCol < $maxAnchorId),
       |s AS (SELECT q.anchor_id, c.$idCol AS neg_id,
       |             list_dot_product(q.qv, CAST(c.$vecCol AS DOUBLE[])) AS score
       |      FROM q, $tbl c WHERE c.$idCol <> q.anchor_id),
       |f AS (SELECT anchor_id, neg_id, score,
       |             ROW_NUMBER() OVER (PARTITION BY anchor_id
       |               ORDER BY score DESC, neg_id ASC) AS rank
       |      FROM s WHERE score < $posCeiling)
       |SELECT anchor_id, neg_id, rank, round(score, 6) AS score
       |FROM f WHERE rank <= $k""".stripMargin

  /** Per-cell mean centroids of an assigned corpus: mean per component
    * via posexplode + hash agg (one shuffle over (cell, component) —
    * scales linearly, no collect). Output: (cell, centroid).
    */
  def centroidsOf(assigned: DataFrame, vecCol: String, cellCol: String): DataFrame =
    assigned
      .select(col(cellCol).as("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(avg("v").as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** Lloyd k-means over pre-normalized vectors (cosine = dot), fully
    * distributed and DETERMINISTIC so an oracle can mirror it:
    * initial centroids are the k vectors with the smallest ids, each
    * assignment picks the max-dot centroid with min-cell tie-break, and
    * each update is the per-cell component mean ([[centroidsOf]]).
    * Fixed `iters` iterations (no data-dependent stopping).
    *
    * The assignment step is a pure NARROW projection: the k centroids
    * (k·dim doubles — driver-trivial) are collected and inlined as
    * literals, and the argmax is a fold over per-cell dot products under
    * whole-stage codegen — no exchange touches the corpus between the
    * scan and the cell label. Per iteration the only shuffle is the
    * (cell, component) centroid-update aggregate, whose partial-agg
    * output is k·dim rows per partition. (The previous shape —
    * cross-join with broadcast centroids + row_number window — hashed
    * the k×-fanned corpus every iteration; at 100 TB that is iters full
    * shuffles of 8× the data for a computation that needs none.)
    * Driver-side collect of k rows is metadata, not data — the same
    * k-sized table every engine's k-means keeps on the coordinator.
    * Codegen bounds this to moderate k (≤ ~1k cells, the IVF coarse-
    * quantizer regime); beyond that the fold should move into a native
    * expression over a broadcast centroid matrix.
    *
    * Returns the final assignment (`idCol`, cell).
    */
  def kmeansCells(df: DataFrame, vecCol: String, idCol: String,
                  k: Int, iters: Int): DataFrame =
    graft.Jobs.cached(
      Dedup.rebalance(df).select(col(idCol).as("id"), col(vecCol).as("_v"))) { vecs =>
    // (cell, centroid) rows → ascending-cell literal list. `array_max`
    // compares the structs lexicographically (score first, then -cell),
    // so the winner has the highest score and, on score ties, the
    // LOWEST cell — mirroring the oracle's ORDER BY score DESC, cell
    // ASC. The expression is linear in k; a when/otherwise fold here
    // duplicates the accumulated CASE twice per step (condition + else
    // branch), i.e. a 2^k expression tree that stalls analysis/codegen.
    def assign(cents: Array[(Long, Seq[Double])]): DataFrame = {
      require(cents.nonEmpty,
        s"kmeansCells: no centroids (need rows with $idCol < $k)")
      val scored = cents.sortBy(_._1).map { case (cell, c) =>
        struct(dot(col("_v"), typedlit(c)).as("score"), lit(-cell).as("negcell"))
      }
      val best = array_max(array(scored: _*))
      vecs.select(col("id"), col("_v"), (-best.getField("negcell")).as("cell"))
    }
    def collectCents(centroids: DataFrame): Array[(Long, Seq[Double])] =
      centroids.collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1))
    val init = vecs.filter(col("id") < k)
      .select(col("id").as("cell"),
        transform(col("_v"), x => x.cast("double")).as("centroid"))
    var assigned = assign(collectCents(init))
    for (_ <- 1 until iters)
      assigned = assign(collectCents(centroidsOf(assigned, "_v", "cell")))
    // The iteration cache is dropped on return: the final assignment is
    // one narrow pass over the source, and leaving blocks pinned across
    // unrelated queries is the round-2 warm-bench leak all over again.
    assigned.select(col("id").as(idCol), col("cell"))
  }

  /** DuckDB oracle twin of [[kmeansCells]] as a parenthesized relation:
    * `tbl`'s rows plus the learned `cell` column. Iterations are
    * unrolled CTEs mirroring init/assign/update exactly.
    */
  def duckKmeansRel(tbl: String, vecCol: String, idCol: String,
                    k: Int, iters: Int, dim: Int): String = {
    def assignCte(name: String, centRel: String): String =
      s"""$name AS (
         |  SELECT vid, emb, cell FROM (
         |    SELECT v.vid, v.emb, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY v.vid
         |             ORDER BY list_dot_product(v.emb, c.centroid) DESC, c.cell ASC) AS rn
         |    FROM v, $centRel c) x WHERE rn = 1)""".stripMargin
    def centCte(name: String, assignRel: String): String =
      s"""$name AS (
         |  SELECT cell, list(m ORDER BY pos) AS centroid FROM (
         |    SELECT cell, pos, avg(emb[pos]) AS m
         |    FROM $assignRel, range(1, ${dim + 1}) t(pos)
         |    GROUP BY cell, pos) y
         |  GROUP BY cell)""".stripMargin
    val iterCtes = (2 to iters).flatMap { i =>
      Seq(centCte(s"c${i - 1}", s"a${i - 1}"), assignCte(s"a$i", s"c${i - 1}"))
    }
    val ctes = Seq(
      s"v AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS emb FROM $tbl)",
      s"c0 AS (SELECT $idCol AS cell, CAST($vecCol AS DOUBLE[]) AS centroid FROM $tbl WHERE $idCol < $k)",
      assignCte("a1", "c0")) ++ iterCtes
    s"""(WITH ${ctes.mkString(",\n")}
       |SELECT t.*, a$iters.cell AS cell FROM $tbl t JOIN a$iters ON t.$idCol = a$iters.vid)""".stripMargin
  }

  /** IVF-style ANN (the scale path): coarse-quantize the corpus into
    * `cellCol`-keyed partitions (a pre-existing label or a
    * [[kmeansCells]] assignment — centroids are the per-cell mean
    * vector), then for each query probe only the `nProbe` nearest cells
    * and run exact top-k inside them.
    *
    * At scale the corpus is stored partitioned by cell id, so the probe
    * is partition pruning; the centroid table is tiny and broadcast.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, cellCol: String, k: Int, nProbe: Int): DataFrame =
    ivfTopKWith(corpus, queries, centroidsOf(corpus, vecCol, cellCol),
      vecCol, idCol, cellCol, k, nProbe)

  /** [[ivfTopK]] with an EXPLICIT centroid table — the incremental-
    * maintenance entry point: after [[ivfAppend]], probing keeps using
    * the FROZEN training-time centroids (recomputing them from the
    * grown corpus would silently re-tune the index every batch and
    * desynchronize it from any persisted codebook metadata).
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  centroids: DataFrame, vecCol: String, idCol: String,
                  cellCol: String, k: Int, nProbe: Int): DataFrame = {
    // Probe assignment: nProbe nearest centroids per query.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_cscore").desc, col("cell").asc)
    val probes = q.join(broadcast(centroids), expr("true"))
      .withColumn("_cscore", dot(col("_qv"), col("centroid")))
      .withColumn("_crank", row_number().over(probeW))
      .filter(col("_crank") <= nProbe)
      .select(col("query_id"), col("_qv"), col("cell"))
    // Exact search inside probed cells only.
    val scored = corpus.select(col(cellCol).as("cell"), col(idCol).as("vec_id"),
        col(vecCol).as("_cv"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("_score", dot(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
        round(col("_score"), 6).as("score"))
  }

  /** DuckDB oracle for [[ivfTopK]] with queries = `idCol < maxQueryId`:
    * mirrors the IVF computation itself (per-cell mean centroids →
    * `nProbe` nearest cells per query → exact top-k within probed cells).
    * Centroid means are fp-order-dependent in the last bits, but they
    * only pick WHICH cells are probed (margins on real data dwarf the
    * noise); the emitted scores are exact dot products on raw vectors,
    * bitwise equal between engines.
    */
  def duckIvfTopK(tbl: String, vecCol: String, idCol: String, cellCol: String,
                  dim: Int, k: Int, nProbe: Int, maxQueryId: Long): String =
    s"""WITH q AS (SELECT $idCol AS query_id, CAST($vecCol AS DOUBLE[]) AS qv
       |           FROM $tbl WHERE $idCol < $maxQueryId),
       |cent AS (
       |  SELECT cell, list(m ORDER BY i) AS centroid FROM (
       |    SELECT $cellCol AS cell, i, avg(CAST($vecCol AS DOUBLE[])[i]) AS m
       |    FROM $tbl, range(1, ${dim + 1}) t(i)
       |    GROUP BY $cellCol, i)
       |  GROUP BY cell),
       |probes AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.query_id, q.qv, c.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY list_dot_product(q.qv, c.centroid) DESC, c.cell ASC) AS crank
       |    FROM q, cent c) x
       |  WHERE crank <= $nProbe),
       |s AS (
       |  SELECT p.query_id, t.$idCol AS vec_id,
       |         list_dot_product(p.qv, CAST(t.$vecCol AS DOUBLE[])) AS score
       |  FROM probes p JOIN $tbl t ON t.$cellCol = p.cell
       |  WHERE t.$idCol <> p.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, vec_id ASC) AS rank FROM s)
       |SELECT query_id, vec_id, rank, round(score, 6) AS score
       |FROM r WHERE rank <= $k""".stripMargin

  /** NEAREST-CENTROID CLASSIFIER AUDIT: how linearly separable are the
    * labels in embedding space? Train per-label mean centroids (one
    * (label, component) exchange), re-assign every vector to its
    * nearest centroid (the [[assignCells]] narrow fold — no exchange),
    * report per-label accuracy. The embedding-quality smoke test run
    * before anything expensive is built on top of a vector column —
    * centroid accuracy near chance means the labels are not in the
    * geometry and ANN/semdedup results over it will be noise.
    *
    * Same fp posture as IVF: centroid means pick the ARGMAX only
    * (margins dwarf last-bit noise); counts are exact integers.
    * Output: (label, n, n_correct, accuracy).
    */
  def centroidClassify(df: DataFrame, vecCol: String, idCol: String,
                       labelCol: String): DataFrame = {
    val labeled = df.select(col(idCol).as("id"), col(vecCol).as("_v"),
      col(labelCol).cast("long").as("label"))
    val cents = collectCentroids(centroidsOf(labeled, "_v", "label"))
    labeled.join(assignCells(labeled, "_v", "id", cents), "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cell") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 6)
          .as("accuracy"))
  }

  /** DuckDB oracle twin of [[centroidClassify]]. */
  def duckCentroidClassify(tbl: String, vecCol: String, idCol: String,
                           labelCol: String, dim: Int): String =
    s"""WITH v AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS emb,
       |                  CAST($labelCol AS BIGINT) AS label FROM $tbl),
       |cent AS (
       |  SELECT label, list(m ORDER BY i) AS centroid FROM (
       |    SELECT label, i, avg(emb[i]) AS m
       |    FROM v, range(1, ${dim + 1}) t(i)
       |    GROUP BY label, i)
       |  GROUP BY label),
       |a AS (SELECT id, label, cell FROM (
       |    SELECT v.id, v.label, c.label AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY v.id
       |             ORDER BY list_dot_product(v.emb, c.centroid) DESC,
       |                      c.label ASC) AS rn
       |    FROM v, cent c) x WHERE rn = 1)
       |SELECT label, CAST(count(*) AS BIGINT) AS n,
       |       CAST(count(*) FILTER (WHERE cell = label) AS BIGINT) AS n_correct,
       |       round(CAST(count(*) FILTER (WHERE cell = label) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS accuracy
       |FROM a GROUP BY 1""".stripMargin

  /** DuckDB oracle for the incremental-IVF flow (train on `idCol <
    * splitId`, [[ivfAppend]] the rest onto frozen centroids, query via
    * [[ivfTopKWith]] on the union with those same centroids): unrolls
    * the base k-means, the frozen per-cell means, the batch max-dot
    * assignment, and the probe + in-cell top-k. Same fp posture as
    * [[duckIvfTopK]]: means only pick cells, emitted scores are exact.
    */
  def duckIvfIncrTopK(tbl: String, vecCol: String, idCol: String,
                      dim: Int, kCells: Int, iters: Int, splitId: Long,
                      k: Int, nProbe: Int, maxQueryId: Long): String = {
    val baseRel = s"(SELECT * FROM $tbl WHERE $idCol < $splitId)"
    val kmeansRel = duckKmeansRel(baseRel, vecCol, idCol, kCells, iters, dim)
    s"""WITH bi AS (SELECT $idCol AS vec_id, CAST($vecCol AS DOUBLE[]) AS emb, cell
       |            FROM $kmeansRel),
       |cent AS (
       |  SELECT cell, list(m ORDER BY i) AS centroid FROM (
       |    SELECT cell, i, avg(emb[i]) AS m
       |    FROM bi, range(1, ${dim + 1}) t(i)
       |    GROUP BY cell, i)
       |  GROUP BY cell),
       |ba AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT b.$idCol AS vec_id, CAST(b.$vecCol AS DOUBLE[]) AS emb, c.cell,
       |           ROW_NUMBER() OVER (PARTITION BY b.$idCol
       |             ORDER BY list_dot_product(CAST(b.$vecCol AS DOUBLE[]), c.centroid) DESC,
       |                      c.cell ASC) AS rn
       |    FROM $tbl b, cent c WHERE b.$idCol >= $splitId) x
       |  WHERE rn = 1),
       |u AS (SELECT vec_id, emb, cell FROM bi
       |      UNION ALL SELECT vec_id, emb, cell FROM ba),
       |q AS (SELECT vec_id AS query_id, emb AS qv FROM u WHERE vec_id < $maxQueryId),
       |probes AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.query_id, q.qv, c.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY list_dot_product(q.qv, c.centroid) DESC, c.cell ASC) AS crank
       |    FROM q, cent c) x
       |  WHERE crank <= $nProbe),
       |s AS (
       |  SELECT p.query_id, u.vec_id,
       |         list_dot_product(p.qv, u.emb) AS score
       |  FROM probes p JOIN u ON u.cell = p.cell
       |  WHERE u.vec_id <> p.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, vec_id ASC) AS rank FROM s)
       |SELECT query_id, vec_id, rank, round(score, 6) AS score
       |FROM r WHERE rank <= $k""".stripMargin
  }

  /** Sign-LSH bucket key: `nBits` hyperplane sign bits packed into a
    * long. Hyperplanes are pseudo-random unit-ish vectors derived
    * deterministically from `xxhash64(bit, component)` — no data needed,
    * same planes on every executor, no broadcast of plane matrices.
    *
    * Built-in-only formulation, kept as the portable reference; the hot
    * path uses the native [[org.apache.spark.sql.graft.SignLshKeys]]
    * (identical keys, one fused codegen loop for all tables).
    */
  def signLshKey(vecCol: Column, dim: Int, nBits: Int, seed: Int): Column = {
    val bits = (0 until nBits).map { b =>
      val proj = aggregate(
        zip_with(vecCol, sequence(lit(0), lit(dim - 1)), (x, i) =>
          x.cast("double") *
            // hash-derived pseudo-random coefficient in [-1, 1)
            (pmod(xxhash64(lit(seed), lit(b), i), lit(2000001L)).cast("double") / 1000000.0 - 1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Collect a (cell, centroid) frame to driver metadata — k·dim
    * doubles, the same coordinator-sized state every ANN engine keeps.
    */
  def collectCentroids(centroids: DataFrame): Array[(Long, Seq[Double])] =
    centroids.collect().map(r => r.getLong(0) -> r.getSeq[Double](1))

  /** Assign every row to its nearest FROZEN centroid (max dot, min-cell
    * tie-break — the same deterministic rule as [[kmeansCells]]'s
    * assignment step, and the same literal-inlined fold: a pure narrow
    * projection under whole-stage codegen, no exchange). Output:
    * (`idCol`, cell).
    */
  def assignCells(df: DataFrame, vecCol: String, idCol: String,
                  cents: Array[(Long, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "assignCells: empty centroid set")
    val scored = cents.sortBy(_._1).map { case (cell, c) =>
      struct(dot(col(vecCol), typedlit(c)).as("score"),
        lit(-cell).as("negcell"))
    }
    val best = array_max(array(scored: _*))
    df.select(col(idCol), (-best.getField("negcell")).as("cell"))
  }

  /** INCREMENTAL IVF maintenance: assign a new vector batch to the
    * index's frozen centroids (no retraining — O(batch) work, zero
    * passes over the indexed corpus). Returns the batch's (`idCol`,
    * cell) rows; callers union them with the existing assignment and
    * keep probing via [[ivfTopKWith]] on the SAME centroids. Retraining
    * is a deliberate, separate decision driven by a drift monitor
    * (cell-size skew / centroid drift), not something the append path
    * does implicitly.
    */
  def ivfAppend(baseAssigned: DataFrame, batch: DataFrame, vecCol: String,
                idCol: String, cellCol: String): DataFrame =
    assignCells(batch, vecCol, idCol,
      collectCentroids(centroidsOf(baseAssigned, vecCol, cellCol)))

  /** Embedding near-dup candidates via sign-LSH bucketing (scale path for
    * [[Dedup.embeddingNearDupPairs]]): bucket on the key, pair within
    * buckets, verify exact cosine ≥ threshold. Multi-probe via `nTables`
    * independent bit sets raises recall.
    */
  def lshNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                      dim: Int, nBits: Int, nTables: Int,
                      threshold: Double,
                      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    // All table keys in ONE native projection + posexplode — a single
    // scan and one fused codegen loop, not an nTables-way union of
    // interpreted per-table folds.
    val keyed = Dedup.rebalance(df).select(col(idCol).as("id"), col(vecCol).as("_v"))
    val tabled = keyed.select(col("id"), col("_v"),
        posexplode(org.apache.spark.sql.graft.SignLshKeys(col("_v"), dim, nBits, nTables)))
      .toDF("id", "_v", "tbl", "bkey")
    val capped = Dedup.capBuckets(tabled, Seq("tbl", "bkey"), maxBucketSize)
    val cand = capped.as("x").join(capped.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x._v").as("_va"), col("y._v").as("_vb"))
      .distinct()
    cand.withColumn("cosine", round(dot(col("_va"), col("_vb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Simplified (centroid-based) SILHOUETTE per cluster — the quality
    * audit for any assignment this engine produces ([[kmeansCells]],
    * [[SemDedup]] cells, a stored label): for each point, a = squared
    * distance to its OWN cluster centroid, b = the nearest OTHER
    * centroid, s = (b − a)/max(a, b) ∈ [−1, 1]. Negative mean ⇒ the
    * cluster's points mostly sit closer to someone else's centroid
    * (a mis-clustered or collapsed cell).
    *
    * Fully deterministic (unlike textbook silhouette over float
    * means): vectors are micro-quantized to BIGINTs, each centroid
    * component is the FLOOR-DIVIDED integer mean (the `(s − pmod)/n`
    * spelling is an exact multiple of n, so truncating and flooring
    * engines agree), distances are exact integer sums (envelope:
    * dim·(2·scale·max|x|)² ≪ 2⁶³ — 64-dim unit vectors at scale 10⁶
    * use 2.6·10¹⁴), and the per-point scores are micro-quantized
    * before the per-cluster mean so the float sum never crosses rows.
    *
    * Scale shape: one (cell × component) aggregate for centroids
    * (map-side combinable), centroids collected as k·dim driver
    * METADATA and inlined as literals, then ONE narrow codegen pass
    * scores every point (k-fold distance expression — no k× corpus
    * fan-out join, no window), one final cell-cardinality aggregate.
    *
    * Output: (label, n, mean_silhouette), one row per cluster.
    */
  def silhouette(df: DataFrame, vecCol: String, labelCol: String,
                 scale: Long = 1000000L): DataFrame =
    graft.Jobs.cached(Dedup.rebalance(df).select(
      col(labelCol).cast("long").as("cell"),
      transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
        .as("_q"))) { q =>
    val cents = q
      .select(col("cell"), posexplode(col("_q")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("m",
        ((col("s") - pmod(col("s"), col("n"))) / col("n")).cast("long"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    require(cents.length >= 2, "silhouette: need at least two clusters")
    val dists = cents.map { case (c, cq) =>
      struct(lit(c).as("cell"),
        aggregate(
          zip_with(col("_q"), typedlit(cq), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d2"))
    }
    val arr = array(dists: _*)
    val a = element_at(
      filter(arr, s => s.getField("cell") === col("cell")), 1).getField("d2")
    val b = array_min(transform(
      filter(arr, s => s.getField("cell") =!= col("cell")),
      s => s.getField("d2")))
    val scored = q.select(col("cell"),
      when(greatest(a, b) > 0,
        round(lit(1000000.0) * (b - a).cast("double")
          / greatest(a, b).cast("double")).cast("long"))
        .otherwise(lit(0L)).as("_s"))
    scored.groupBy(col("cell").as("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("_s")).cast("double") / 1000000.0
          / count(lit(1)).cast("double"), 6).as("mean_silhouette"))
  }

  /** DuckDB oracle twin of [[silhouette]] — identical quantization,
    * floor-divided centroid means, and micro-quantized scores; the
    * points × centroids pairing is the oracle's readable spelling of
    * the engine's inlined k-fold.
    */
  def duckSilhouette(tbl: String, vecCol: String, idCol: String,
                     labelCol: String, dim: Int,
                     scale: Long = 1000000L): String =
    s"""WITH v AS (
       |  SELECT $idCol AS id, CAST($labelCol AS BIGINT) AS cell,
       |         list_transform(CAST($vecCol AS DOUBLE[]),
       |           x -> CAST(round(x * $scale) AS BIGINT)) AS q
       |  FROM $tbl),
       |cent AS MATERIALIZED (
       |  SELECT cell, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cq
       |  FROM (
       |    SELECT cell, i, CAST(sum(q[i]) AS BIGINT) AS s,
       |           CAST(count(*) AS BIGINT) AS n
       |    FROM v, range(1, ${dim + 1}) t(i)
       |    GROUP BY 1, 2)
       |  GROUP BY cell),
       |d AS (
       |  SELECT v.id, v.cell AS own, c.cell AS cc,
       |         CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |           i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i])))
       |           AS BIGINT) AS d2
       |  FROM v, cent c),
       |ab AS (
       |  SELECT id, own,
       |         min(CASE WHEN cc = own THEN d2 END) AS a,
       |         min(CASE WHEN cc <> own THEN d2 END) AS b
       |  FROM d GROUP BY 1, 2),
       |sm AS (
       |  SELECT own,
       |         CASE WHEN greatest(a, b) > 0
       |              THEN CAST(round(1000000.0 * CAST(b - a AS DOUBLE)
       |                              / CAST(greatest(a, b) AS DOUBLE))
       |                   AS BIGINT)
       |              ELSE 0 END AS s
       |  FROM ab)
       |SELECT own AS label, CAST(count(*) AS BIGINT) AS n,
       |       round(CAST(sum(s) AS DOUBLE) / 1000000.0
       |             / CAST(count(*) AS DOUBLE), 6) AS mean_silhouette
       |FROM sm GROUP BY 1""".stripMargin

  /** Fisher class-separability of a labeled embedding table — the
    * supervised embedding-quality diagnostic next to [[silhouette]]'s
    * unsupervised one: the trace ratio
    *
    *   fisher = Σ_dims between_j / Σ_dims within_j,
    *   between_j = Σ_c S_cj²/n_c − S_j²/N,   within_j = Q_j − Σ_c S_cj²/n_c
    *
    * (between/within sum-of-squares of the class means vs the residual
    * spread). High ratio ⇒ labels are linearly separable in this
    * embedding space — the screening check before training a probe on
    * it.
    *
    * Exactness: µ-quantized vectors, exact DECIMAL (sum, sumsq) per
    * (class, dim); each S²/n and Q term converts to value² as one
    * double and µ-requantizes before any cross-class/cross-dim total —
    * and within/between REUSE the same quantized Σ S²/n, so the
    * decomposition between + within = total holds exactly in the
    * quantized space.
    *
    * Scale shape: ONE (class·dim)-cardinality map-side exchange;
    * everything downstream runs on that table.
    *
    * Output (one row): (n, n_classes, dim, between_ss, within_ss,
    * fisher_ratio) — SS in value² units, ratio NULL when within = 0.
    */
  def classSeparability(df: DataFrame, vecCol: String, labelCol: String,
                        scale: Long = 1000000L): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val q = Dedup.rebalance(df).select(
      col(labelCol).cast("long").as("_c"),
      transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
        .as("_q"))
    // class·dim rows; three consumers below
    val grouped = graft.Jobs.pin(q
      .select(col("_c"), posexplode(col("_q")).as(Seq("_pos", "_v")))
      .groupBy(col("_c"), col("_pos"))
      .agg(count(lit(1)).as("_n"), sum(d38(col("_v"))).as("_s"),
        sum(col("_v").cast("decimal(19,0)") * col("_v").cast("decimal(19,0)"))
          .as("_qq")), "class_separability", "moments")
    val sc = lit(scale.toDouble) * lit(scale.toDouble)
    def micro(c: Column) = round(c * lit(1000000.0)).cast("long")
    // per-(class,dim) S²/n in value², µ-requantized — shared by both SS
    val perCell = grouped.select(col("_c"), col("_pos"), col("_n"),
      col("_s"), col("_qq"),
      micro(col("_s").cast("double") * col("_s").cast("double")
        / col("_n").cast("double") / sc).as("_s2nm"))
    val perDim = perCell.groupBy(col("_pos"))
      .agg(sum(col("_n")).as("_nj"), sum(col("_s")).as("_sj"),
        sum(col("_qq")).as("_qj"), sum(col("_s2nm")).as("_cellm"))
      .select(col("_pos"), col("_nj"), col("_cellm"),
        micro(col("_sj").cast("double") * col("_sj").cast("double")
          / col("_nj").cast("double") / sc).as("_gm"),
        micro(col("_qj").cast("double") / sc).as("_qm"))
    val nClasses = grouped.select(col("_c")).distinct()
      .agg(count(lit(1)).as("n_classes"))
    val tot = perDim.agg(
      max(col("_nj")).as("n"), count(lit(1)).as("dim"),
      sum(col("_cellm") - col("_gm")).as("_bm"),
      sum(col("_qm") - col("_cellm")).as("_wm"))
    tot.crossJoin(broadcast(nClasses)).select(
      col("n"), col("n_classes"), col("dim"),
      round(col("_bm").cast("double") / 1.0e6, 6).as("between_ss"),
      round(col("_wm").cast("double") / 1.0e6, 6).as("within_ss"),
      when(col("_wm") > 0,
        round(col("_bm").cast("double") / col("_wm").cast("double"), 6))
        .as("fisher_ratio"))
  }

  /** DuckDB oracle twin of [[classSeparability]]. */
  def duckClassSeparability(rel: String, vecCol: String, labelCol: String,
                            scale: Long = 1000000L): String = {
    val sc = s"(${scale}.0 * ${scale}.0)"
    s"""WITH v AS (
       |  SELECT CAST($labelCol AS BIGINT) AS c,
       |         generate_subscripts($vecCol, 1) AS pos,
       |         CAST(round(CAST(unnest($vecCol) AS DOUBLE) * $scale)
       |              AS BIGINT) AS q
       |  FROM $rel),
       |g AS (
       |  SELECT c, pos, CAST(count(*) AS BIGINT) AS n,
       |         sum(CAST(q AS HUGEINT)) AS s,
       |         sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS qq
       |  FROM v GROUP BY 1, 2),
       |cell AS (
       |  SELECT c, pos, n, s, qq,
       |         CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |                    / CAST(n AS DOUBLE) / $sc * 1000000.0)
       |              AS BIGINT) AS s2nm
       |  FROM g),
       |dims AS (
       |  SELECT pos, CAST(sum(n) AS BIGINT) AS nj,
       |         CAST(sum(s2nm) AS BIGINT) AS cellm,
       |         CAST(round(CAST(sum(s) AS DOUBLE) * CAST(sum(s) AS DOUBLE)
       |                    / CAST(sum(n) AS DOUBLE) / $sc * 1000000.0)
       |              AS BIGINT) AS gm,
       |         CAST(round(CAST(sum(qq) AS DOUBLE) / $sc * 1000000.0)
       |              AS BIGINT) AS qm
       |  FROM cell GROUP BY 1),
       |nc AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n_classes FROM g),
       |tot AS (
       |  SELECT CAST(max(nj) AS BIGINT) AS n,
       |         CAST(count(*) AS BIGINT) AS dim,
       |         CAST(sum(cellm - gm) AS BIGINT) AS bm,
       |         CAST(sum(qm - cellm) AS BIGINT) AS wm
       |  FROM dims)
       |SELECT n, n_classes, dim,
       |       round(CAST(bm AS DOUBLE) / 1.0e6, 6) AS between_ss,
       |       round(CAST(wm AS DOUBLE) / 1.0e6, 6) AS within_ss,
       |       CASE WHEN wm > 0 THEN
       |         round(CAST(bm AS DOUBLE) / CAST(wm AS DOUBLE), 6)
       |       END AS fisher_ratio
       |FROM tot CROSS JOIN nc""".stripMargin
  }
}
