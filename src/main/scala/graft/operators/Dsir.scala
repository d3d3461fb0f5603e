package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** DSIR-style data selection via hashed n-gram importance weights
  * (Xie et al., "Data Selection for Language Models via Importance
  * Resampling", 2023): score every raw document by how much more likely
  * its hashed n-gram features are under a TARGET slice of the corpus
  * (the high-quality distribution you want more of) than under the raw
  * corpus itself,
  *
  *   logw(d) = Σ_{f ∈ feats(d)} [ ln p_target(f) − ln p_raw(f) ]
  *   p(f)    = (c(f) + 1) / (N + B)          (add-one over B buckets)
  *
  * with feats(d) = unigram + adjacent-bigram occurrences hashed into B
  * fixed buckets. High-logw documents look like the target; resampling
  * by logw is the DSIR recipe for building a quality-targeted corpus.
  * The reference engine exports tables verbatim; this is a scale
  * extension over the same `documents` fixture.
  *
  * Scale shape — THE point of feature hashing: both count tables are
  * FIXED SIZE (B rows) no matter the corpus size, built by one
  * map-side-combined aggregate each, and the per-document scoring join
  * is feature-stream ⋈ BROADCAST(B-row weight table) — hot buckets
  * ("the", stop-bigrams) only ever hit the probe side of a broadcast
  * hash join and the partial-combining count aggregates, never a
  * shuffle-by-feature. One doc-keyed exchange (the per-doc sum) is the
  * only corpus-sized shuffle.
  *
  * Engine parity: counts are integral; each bucket's log-ratio is one
  * fixed expression over exactly-representable integer-valued doubles;
  * the per-doc sum is a SORTED left fold (by bucket, then weight), so
  * partial-agg order cannot perturb low bits; one `round(…, 6)`.
  */
object Dsir {

  /** Default bucket count — 2^12 keeps the weight table broadcast-tiny
    * while leaving hashed-feature collisions rare at fixture vocabulary
    * sizes (DSIR itself uses 10^4-ish buckets).
    */
  val DefaultBuckets = 4096

  private def bucketOf(c: org.apache.spark.sql.Column, buckets: Int) =
    pmod(TextAnalysis.fingerprint(c), lit(buckets.toLong))

  /** (idCol, bucket) feature-occurrence stream: unigrams + adjacent
    * bigrams (joined by one space) hashed into `buckets`.
    */
  private def features(docs: DataFrame, textCol: String, idCol: String,
                       buckets: Int,
                       extraCols: Seq[String] = Nil): DataFrame = {
    val carry = extraCols.map(col)
    val base = docs.select(
      col(idCol) +: carry :+ TextAnalysis.tokens(col(textCol)).as("_w"): _*)
    val uni = base.select(col(idCol) +: carry :+ explode(col("_w")).as("_f"): _*)
    // Docs with <2 tokens contribute no bigrams (descending `sequence`
    // guard — the Perplexity.docScores lesson).
    val bi = base.filter(size(col("_w")) >= 2)
      .select(col(idCol) +: carry :+ explode(expr(
        "transform(sequence(1, size(_w) - 1), i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1)))"))
        .as("_f"): _*)
    uni.unionByName(bi).select(
      col(idCol) +: carry :+ bucketOf(col("_f"), buckets).as("bucket"): _*)
  }

  /** Per-document DSIR log-importance-weights against the target slice
    * `targetPred` (a SQL predicate over the document columns, e.g.
    * `"lang = 'en'"` — passed as text so the DuckDB twin stays
    * literally identical).
    * Output: (idCol, n_feats, logw).
    */
  def importanceWeights(docs: DataFrame, textCol: String, idCol: String,
                        targetPred: String,
                        buckets: Int = DefaultBuckets): DataFrame = {
    val d = Dedup.rebalance(docs)
    val raw = features(d, textCol, idCol, buckets)
    // ONE flagged feature pass builds BOTH bucket-count tables (r17):
    // the target slice is a subset of the corpus, so `ct` is a
    // conditional count over the same feature stream — the separate
    // tokenize+explode of the filtered corpus (a second full pass over
    // the target slice, and a second B-row exchange) is gone. The
    // combined table is materialized ONCE (≤ B rows — the barrier costs
    // kilobytes) and the feature totals DERIVE from it: nr = Σ cr,
    // nt = Σ ct by definition. The per-doc rollup below still re-scans
    // features once — that second pass is the deliberate alternative to
    // materializing the exploded relation, which is ~10× the corpus on
    // disk. A doc whose target predicate is NULL counts as non-target,
    // exactly as the filter dropped it before.
    val isTgt = expr(targetPred)
    val cnt = graft.Jobs.pin(features(
        d.withColumn("_is_t", coalesce(isTgt, lit(false))),
        textCol, idCol, buckets, extraCols = Seq("_is_t"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("_is_t"), 1L).otherwise(0L)).as("ct")), "importance_weights", "buckets")
    val rawTot = cnt.select(coalesce(sum(col("cr")), lit(0L)).as("nr"))
    val tgtTot = cnt.select(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    // Every bucket a document can produce exists in `cnt` by definition
    // (cr counts the whole corpus), so the weight table is total; the
    // totals are 1-row broadcasts.
    val weights = cnt
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("bucket"),
        (log((col("ct") + 1).cast("double")
            / (col("nt") + buckets).cast("double"))
          - log((col("cr") + 1).cast("double")
            / (col("nr") + buckets).cast("double"))).as("_lnw"))
    raw
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sort_array(collect_list(struct(col("bucket"), col("_lnw")))).as("_t"))
      .select(col(idCol), col("n_feats"),
        // Native ordered fold (r14): same left-to-right IEEE adds as
        // the aggregate() HOF it replaces (NativeExprSpec parity).
        round(org.apache.spark.sql.graft.OrderedStructFieldSum(col("_t"), 1), 6)
          .as("logw"))
  }

  /** Gumbel-top-k importance RESAMPLING — the second half of the DSIR
    * recipe: draw `k` documents with probability ∝ exp(logw) WITHOUT a
    * normalization pass, by perturbing each weight with deterministic
    * Gumbel noise and keeping the top k (Kool et al., "Stochastic Beams
    * and Where to Find Them", 2019: argtop-k(logw + Gumbel) is an exact
    * weighted sample without replacement). The noise is a pure function
    * of the document id (fingerprint-derived uniform), so the sample is
    * reproducible and oracle-checkable.
    *
    * Scale shape: [[importanceWeights]]'s passes plus ONE distributed
    * top-k — `orderBy(...).limit(k)` plans as TakeOrderedAndProject
    * (per-partition heaps, no global sort). Ties on the rounded score
    * are broken by id, so a last-ulp `ln` divergence cannot reorder the
    * output.
    * Output: (idCol, n_feats, logw, score), the k sampled rows.
    */
  def gumbelResample(docs: DataFrame, textCol: String, idCol: String,
                     targetPred: String, k: Int,
                     buckets: Int = DefaultBuckets): DataFrame = {
    val w = importanceWeights(docs, textCol, idCol, targetPred, buckets)
    // u ∈ (0,1) strictly: (h % 10^6 + 1) / (10^6 + 1) — both bounds
    // excluded, so the double ln(-ln(u)) is always finite.
    val u = (pmod(TextAnalysis.fingerprint(
        concat(col(idCol).cast("string"), lit("|gumbel"))), lit(1000000L)) + 1)
      .cast("double") / lit(1000001.0)
    w.withColumn("score", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB oracle twin of [[gumbelResample]]. */
  def duckGumbelResample(tbl: String, textCol: String, idCol: String,
                         targetPred: String, k: Int,
                         buckets: Int = DefaultBuckets): String = {
    val fp = TextAnalysis.duckFingerprint(s"CAST($idCol AS VARCHAR) || '|gumbel'")
    s"""SELECT $idCol, n_feats, logw,
       |       round(logw - ln(-ln(
       |         CAST(($fp) % 1000000 + 1 AS DOUBLE) / 1000001.0)), 6) AS score
       |FROM (${duckImportanceWeights(tbl, textCol, idCol, targetPred, buckets)}) iw
       |ORDER BY score DESC, $idCol LIMIT $k""".stripMargin
  }

  /** DuckDB oracle twin of [[importanceWeights]] — identical hashing,
    * smoothing, and sorted fold.
    */
  def duckImportanceWeights(tbl: String, textCol: String, idCol: String,
                            targetPred: String,
                            buckets: Int = DefaultBuckets): String = {
    def featCte(name: String, rel: String): String =
      s"""${name}0 AS (SELECT $idCol, ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $rel),
         |$name AS (
         |  SELECT $idCol, ((${TextAnalysis.duckFingerprint("f")}) % $buckets + $buckets) % $buckets AS bucket
         |  FROM (
         |    SELECT $idCol, unnest(w) AS f FROM ${name}0
         |    UNION ALL
         |    SELECT $idCol, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS f
         |    FROM ${name}0, LATERAL (SELECT unnest(range(1, len(w))) AS i)))""".stripMargin
    s"""WITH ${featCte("raw", tbl)},
       |${featCte("tgt", s"(SELECT * FROM $tbl WHERE $targetPred)")},
       |rc AS (SELECT bucket, count(*) AS cr FROM raw GROUP BY 1),
       |tc AS (SELECT bucket, count(*) AS ct FROM tgt GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM raw) AS nr,
       |               (SELECT count(*) FROM tgt) AS nt),
       |wt AS (SELECT rc.bucket,
       |              ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE)
       |                 / CAST(nt + $buckets AS DOUBLE))
       |              - ln(CAST(rc.cr + 1 AS DOUBLE)
       |                   / CAST(nr + $buckets AS DOUBLE)) AS lnw
       |       FROM rc LEFT JOIN tc USING (bucket), tot)
       |SELECT raw.$idCol, count(*) AS n_feats,
       |       round(list_reduce(list_prepend(0.0, list(lnw ORDER BY bucket, lnw)),
       |                         (acc, x) -> acc + x), 6) AS logw
       |FROM raw JOIN wt USING (bucket)
       |GROUP BY raw.$idCol""".stripMargin
  }

  /** Effective sample size of an importance-weighted corpus — the
    * degeneracy audit for [[importanceWeights]]: resampling by weights
    * whose mass concentrates on a few documents silently shrinks the
    * corpus to those few;
    *
    *   ESS = (Σw)² / Σw²  ∈ [1, n]
    *
    * (Kish). ESS/n ≈ 1 means weighting is mild; ESS/n → 0 means the
    * target distribution is effectively a handful of documents and the
    * DSIR cut needs loosening. Weights are exp(logw − max logw) —
    * max-normalized so the exponent is ∈ (−∞, 0] and never overflows —
    * and µ-quantize per doc before the exact DECIMAL sums (zero-weight
    * docs after quantization contribute nothing, correctly).
    *
    * Scale shape: one 1-row max aggregate broadcast back, one map-side
    * 2-sum aggregate. Output (one row): (n, ess, ess_ratio).
    */
  def effectiveSampleSize(weights: DataFrame, logwCol: String): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = weights.agg(max(col(logwCol)).as("_m"))
    val wq = weights.crossJoin(broadcast(m))
      .select(round(exp(col(logwCol) - col("_m")) * lit(1000000.0))
        .cast("long").as("_w"))
    wq.agg(count(lit(1)).as("n"),
        sum(d38(col("_w"))).as("_s"),
        sum(col("_w").cast("decimal(19,0)") * col("_w").cast("decimal(19,0)"))
          .as("_s2"))
      .select(col("n"),
        when(col("_s2") > 0,
          round(col("_s").cast("double") * col("_s").cast("double")
            / col("_s2").cast("double"), 6)).as("ess"),
        when(col("_s2") > 0,
          round(col("_s").cast("double") * col("_s").cast("double")
            / col("_s2").cast("double") / col("n").cast("double"), 6))
          .as("ess_ratio"))
  }

  /** DuckDB oracle twin of [[effectiveSampleSize]]. */
  def duckEffectiveSampleSize(innerSql: String, logwCol: String): String =
    s"""WITH w AS (
       |  SELECT CAST(round(exp($logwCol - (SELECT max($logwCol)
       |                                    FROM ($innerSql)))
       |                    * 1000000.0) AS BIGINT) AS wq
       |  FROM ($innerSql)),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             sum(CAST(wq AS HUGEINT)) AS s,
       |             sum(CAST(wq AS HUGEINT) * CAST(wq AS HUGEINT)) AS s2
       |      FROM w)
       |SELECT n,
       |       CASE WHEN s2 > 0 THEN
       |         round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |               / CAST(s2 AS DOUBLE), 6) END AS ess,
       |       CASE WHEN s2 > 0 THEN
       |         round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |               / CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |       END AS ess_ratio
       |FROM s""".stripMargin
}
