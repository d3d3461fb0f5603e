package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier evaluation over a (score, 0/1 label) frame — the model-ops
  * side of the quality-classifier pipeline: before a scored corpus drives
  * sampling or filtering decisions, measure how well the score separates
  * (AUC) and how honest its probabilities are (calibration).
  *
  * Both operators assume the score column is already 6 dp-rounded (the
  * repo-wide classifier contract, [[graft.functions.QualityFilters]]), so
  * micro-quantization `round(score·10⁶)` recovers an EXACT integer and
  * every aggregate below is integer arithmetic until one final division.
  */
object Eval {

  /** AUC by exact rank-sum (Mann–Whitney U with tie correction), computed
    * from score-GROUPED counts — never a per-row global rank:
    *
    *   2U = Σ_s p_s · (2·(negatives strictly below s) + n_s)
    *   AUC = 2U / (2·P·N)
    *
    * (each positive at score s beats every negative below it and half of
    * the negatives tied with it — the n_s/2 tie term is why everything
    * is doubled).
    *
    * Scale shape: one map-side-combinable groupBy collapses the corpus
    * to DISTINCT SCORES (≤ 10⁶+1 rows at 6 dp quantization — metadata
    * scale, by construction, regardless of corpus size); the cumulative
    * window and final sum run on that tiny table only. 2U can reach
    * 2·P·N ≈ n²/2, far past BIGINT at corpus scale, so the per-score
    * products accumulate in DECIMAL(38,0) (oracle: HUGEINT) and convert
    * to double exactly once.
    *
    * Output (one row): (n_pos, n_neg, auc) — auc NULL when either class
    * is empty.
    */
  def aucRankSum(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val byScore = scored.groupBy(col(scoreCol).as("s")).agg(
      count(when(col(labelCol) === 1, lit(1))).as("p"),
      count(when(col(labelCol) === 0, lit(1))).as("n"))
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val terms = byScore
      .withColumn("cum_n", coalesce(sum(col("n")).over(below), lit(0L)))
    terms.agg(
      sum(col("p")).as("n_pos"),
      sum(col("n")).as("n_neg"),
      sum(d38(col("p")) * (lit(2) * d38(col("cum_n")) + d38(col("n"))))
        .as("_u2"))
      .select(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("_u2").cast("double")
            / (lit(2.0) * col("n_pos").cast("double")
               * col("n_neg").cast("double")), 6)).as("auc"))
  }

  /** DuckDB oracle twin of [[aucRankSum]]. `innerSql` must select the
    * same (scoreCol, labelCol) frame the engine scored.
    */
  def duckAucRankSum(innerSql: String, scoreCol: String,
                     labelCol: String): String =
    s"""WITH by_score AS (
       |  SELECT $scoreCol AS s,
       |         CAST(count(*) FILTER (WHERE $labelCol = 1) AS BIGINT) AS p,
       |         CAST(count(*) FILTER (WHERE $labelCol = 0) AS BIGINT) AS n
       |  FROM ($innerSql) GROUP BY 1),
       |terms AS (
       |  SELECT p, n,
       |         coalesce(sum(n) OVER (ORDER BY s
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0) AS cum_n
       |  FROM by_score)
       |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
       |       CAST(sum(n) AS BIGINT) AS n_neg,
       |       CASE WHEN sum(p) > 0 AND sum(n) > 0 THEN
       |         round(CAST(sum(CAST(p AS HUGEINT)
       |                        * (2 * CAST(cum_n AS HUGEINT)
       |                           + CAST(n AS HUGEINT))) AS DOUBLE)
       |               / (2.0 * CAST(sum(p) AS DOUBLE)
       |                  * CAST(sum(n) AS DOUBLE)), 6)
       |       END AS auc
       |FROM terms""".stripMargin

  /** Micro-quantized DCG discount table: disc(i) = round(10⁶ / log₂(i+1))
    * for 1-based ranks, and its prefix sums (the IDCG of j all-relevant
    * positions). Precomputed HERE, as plain integers, and inlined into
    * BOTH engines — cross-rank float sums never happen at query time.
    */
  def discountMicros(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1000000.0 / (math.log(i + 1.0) / math.log(2.0))))
  def idcgMicros(k: Int): Seq[Long] = discountMicros(k).scanLeft(0L)(_ + _).tail

  /** nDCG@k of a scored ranking against a binary-relevance truth set —
    * the ranking-quality member of the eval family ([[aucRankSum]]
    * measures separation, this measures ORDER quality with graded
    * position discounts):
    *
    *   nDCG@k = Σ_{hits at rank i ≤ k} disc(i)  /  Σ_{i ≤ min(R,k)} disc(i)
    *
    * Ranks are assigned by (score DESC, id ASC) — the caller must
    * 6 dp-round the score so both engines order identical values (raw
    * engine doubles may differ in final bits and flip near-ties).
    *
    * Scale shape: top-k is TakeOrdered (never a global sort); the rank
    * window runs on the k-row result only; the truth side enters as a
    * broadcastable id set; DCG/IDCG are integer lookups into the
    * inlined [[discountMicros]] tables with ONE final division.
    * Output (one row): (k, n_rel, ndcg) — NULL when the truth set is
    * empty.
    */
  def ndcgAtK(scored: DataFrame, idCol: String, scoreCol: String,
              truth: DataFrame, truthIdCol: String, k: Int): DataFrame = {
    val byRank = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
    val ranked = scored.orderBy(col(scoreCol).desc, col(idCol).asc).limit(k)
      .withColumn("_rank", row_number().over(byRank))
    val disc = typedlit(discountMicros(k))
    val hits = ranked
      .join(truth.select(col(truthIdCol).as(idCol)), Seq(idCol), "left_semi")
    val dcg = hits.agg(
      coalesce(sum(element_at(disc, col("_rank").cast("int"))), lit(0L))
        .as("_dcg"))
    val nRel = truth.agg(count(lit(1)).as("n_rel"))
    val idcg = typedlit(idcgMicros(k))
    dcg.crossJoin(nRel).select(
      lit(k).as("k"), col("n_rel"),
      when(col("n_rel") > 0,
        round(col("_dcg").cast("double")
          / element_at(idcg, least(col("n_rel"), lit(k.toLong)).cast("int"))
              .cast("double"), 6)).as("ndcg"))
  }

  /** DuckDB oracle twin of [[ndcgAtK]]: `scoredSql` selects (id, score)
    * (score 6 dp-rounded), `truthSql` selects the relevant ids.
    */
  def duckNdcgAtK(scoredSql: String, idCol: String, scoreCol: String,
                  truthSql: String, truthIdCol: String, k: Int): String = {
    val disc = discountMicros(k).mkString("[", ", ", "]")
    val idcg = idcgMicros(k).mkString("[", ", ", "]")
    s"""WITH ranked AS (
       |  SELECT $idCol AS id,
       |         row_number() OVER (ORDER BY $scoreCol DESC, $idCol ASC) AS rank
       |  FROM ($scoredSql)
       |  ORDER BY $scoreCol DESC, $idCol ASC LIMIT $k),
       |truth AS (SELECT $truthIdCol AS id FROM ($truthSql)),
       |dcg AS (
       |  SELECT CAST(coalesce(sum(($disc)[rank]), 0) AS BIGINT) AS dcg
       |  FROM ranked WHERE id IN (SELECT id FROM truth)),
       |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM truth)
       |SELECT $k AS k, n_rel,
       |       CASE WHEN n_rel > 0 THEN
       |         round(CAST(dcg AS DOUBLE)
       |               / CAST(($idcg)[CAST(least(n_rel, $k) AS INTEGER)]
       |                      AS DOUBLE), 6)
       |       END AS ndcg
       |FROM dcg, nr""".stripMargin
  }

  /** Calibration (reliability) bins: equal-width score bins, each
    * reporting its mean predicted score against its observed positive
    * rate — a well-calibrated classifier puts the two on the diagonal.
    *
    * Bin membership is decided in INTEGER space — `(micro·nBins) div
    * 10⁶`, capped at nBins−1 — so a score sitting on a bin edge lands
    * identically in both engines (no float-boundary roulette). Score
    * sums accumulate micro-integers in DECIMAL(38,0)/HUGEINT (10⁶ ×
    * corpus rows overflows BIGINT at scale); each output is one final
    * double division.
    *
    * Scale shape: one map-side-combinable groupBy at nBins cardinality.
    * Output: (bin, n, avg_score, pos_rate) — bin ∈ [0, nBins).
    */
  def calibrationBins(scored: DataFrame, scoreCol: String, labelCol: String,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "calibrationBins: need at least two bins")
    val micro = round(col(scoreCol) * lit(1000000.0)).cast("long")
    // micro·nBins ≤ 10⁷ — exact in double, so floor-division here is
    // bit-identical to the oracle's integer `//` (scores are ≥ 0).
    val bin = least(
      floor((micro * lit(nBins.toLong)).cast("double") / 1000000.0).cast("long"),
      lit(nBins - 1L))
    scored
      .withColumn("_micro", micro).withColumn("_bin", bin)
      .groupBy(col("_bin").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("_micro").cast("decimal(38,0)")).cast("double")
          / 1000000.0 / count(lit(1)).cast("double"), 6).as("avg_score"),
        round(sum(col(labelCol)).cast("double")
          / count(lit(1)).cast("double"), 6).as("pos_rate"))
  }

  /** Best-F1 operating point — the threshold sweep that turns a scored
    * classifier into a DECISION rule: at every distinct score s
    * (predict positive when score ≥ s), precision/recall/F1 from the
    * descending cumulative counts; report the maximizing threshold.
    *
    *   F1 = 2·cumP / (cumP + cumN + n_pos)
    *
    * (algebraically 2PR/(P+R) collapsed to one integer fraction); the
    * argmax compares the µ-QUANTIZED ratio — both engines quantize the
    * same exact-integer fraction identically — with equal-F1 ties
    * breaking to the HIGHER threshold, the stricter rule.
    *
    * Scale shape: the [[aucRankSum]] discipline — one score-grouped
    * aggregate, cumulative window on the distinct-score table, one
    * max_by.
    *
    * Output (one row): (n_pos, n_neg, threshold, precision, recall,
    * f1) — NULL row values when there are no positives.
    */
  def bestF1(scored: DataFrame, scoreCol: String,
             labelCol: String): DataFrame = {
    val byScore = scored.groupBy(col(scoreCol).as("s")).agg(
      count(when(col(labelCol) === 1, lit(1))).as("p"),
      count(when(col(labelCol) === 0, lit(1))).as("n"))
    val upTo = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val cum = byScore
      .withColumn("_cp", sum(col("p")).over(upTo))
      .withColumn("_cn", sum(col("n")).over(upTo))
      .withColumn("_np", sum(col("p")).over(whole))
      .withColumn("_nn", sum(col("n")).over(whole))
    def d38(c: Column) = c.cast("decimal(38,0)")
    def d(c: Column) = c.cast("double")
    // exact-fraction argmax: maximize cumP/(cumP+cumN+nPos) — compare
    // via the µ-quantized ratio (monotone, 6-dp-stable) with the
    // threshold itself as the tie-break (encoded in the ordered struct)
    val f1m = round(d(lit(2) * col("_cp"))
      / d(col("_cp") + col("_cn") + col("_np")) * lit(1000000.0))
      .cast("long")
    val best = cum
      .select(col("s"), col("_cp"), col("_cn"), col("_np"), col("_nn"),
        f1m.as("_f1m"))
      .groupBy()
      .agg(max(struct(col("_f1m"), col("s").as("_s"), col("_cp").as("_bcp"),
        col("_cn").as("_bcn"), col("_np").as("_bnp"), col("_nn").as("_bnn")))
        .as("_b"))
    best.select(
      col("_b._bnp").as("n_pos"), col("_b._bnn").as("n_neg"),
      when(col("_b._bnp") > 0, col("_b._s")).as("threshold"),
      when(col("_b._bnp") > 0,
        round(d38(col("_b._bcp")).cast("double")
          / d38(col("_b._bcp") + col("_b._bcn")).cast("double"), 6))
        .as("precision"),
      when(col("_b._bnp") > 0,
        round(d38(col("_b._bcp")).cast("double")
          / d38(col("_b._bnp")).cast("double"), 6)).as("recall"),
      when(col("_b._bnp") > 0,
        round(col("_b._f1m").cast("double") / lit(1000000.0), 6)).as("f1"))
  }

  /** DuckDB oracle twin of [[bestF1]]. */
  def duckBestF1(innerSql: String, scoreCol: String,
                 labelCol: String): String =
    s"""WITH by_score AS (
       |  SELECT $scoreCol AS s,
       |         CAST(count(*) FILTER (WHERE $labelCol = 1) AS BIGINT) AS p,
       |         CAST(count(*) FILTER (WHERE $labelCol = 0) AS BIGINT) AS n
       |  FROM ($innerSql) GROUP BY 1),
       |cum AS (
       |  SELECT s,
       |         sum(p) OVER (ORDER BY s DESC) AS cp,
       |         sum(n) OVER (ORDER BY s DESC) AS cn,
       |         sum(p) OVER () AS np, sum(n) OVER () AS nn
       |  FROM by_score),
       |f AS (
       |  SELECT s, cp, cn, np, nn,
       |         CAST(round(CAST(2 * cp AS DOUBLE)
       |                    / CAST(cp + cn + np AS DOUBLE) * 1000000.0)
       |              AS BIGINT) AS f1m
       |  FROM cum),
       |b AS (
       |  SELECT * FROM f ORDER BY f1m DESC, s DESC LIMIT 1)
       |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |       CASE WHEN np > 0 THEN s END AS threshold,
       |       CASE WHEN np > 0 THEN
       |         round(CAST(cp AS DOUBLE) / CAST(cp + cn AS DOUBLE), 6)
       |       END AS precision,
       |       CASE WHEN np > 0 THEN
       |         round(CAST(cp AS DOUBLE) / CAST(np AS DOUBLE), 6)
       |       END AS recall,
       |       CASE WHEN np > 0 THEN
       |         round(CAST(f1m AS DOUBLE) / 1000000.0, 6) END AS f1
       |FROM b""".stripMargin

  /** Average precision (PR-AUC) — the imbalanced-class companion of
    * [[aucRankSum]]: ROC-AUC stays optimistic when positives are rare
    * (a quality classifier passing 2% of a crawl), the
    * precision-recall view does not. Threshold-step formulation
    * (scikit's convention, no interpolation):
    *
    *   AP = Σ_thresholds (R_i − R_{i−1}) · P_i
    *
    * descending over DISTINCT scores, P = cumP/(cumP+cumN),
    * R = cumP/n_pos — ties collapse into one threshold step, so the
    * result is tie-stable by construction.
    *
    * Scale shape: the [[aucRankSum]] discipline — one map-side
    * score-grouped aggregate, cumulative windows on the distinct-score
    * table only. Per-threshold terms are exact-integer ratios combined
    * in ONE double expression and µ-requantized before the cross-step
    * sum (order-independent).
    *
    * Output (one row): (n_pos, n_neg, pr_auc) — NULL when either class
    * is empty.
    */
  def averagePrecision(scored: DataFrame, scoreCol: String,
                       labelCol: String): DataFrame = {
    val byScore = scored.groupBy(col(scoreCol).as("s")).agg(
      count(when(col(labelCol) === 1, lit(1))).as("p"),
      count(when(col(labelCol) === 0, lit(1))).as("n"))
    val upTo = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val cum = byScore
      .withColumn("_cp", sum(col("p")).over(upTo))
      .withColumn("_cn", sum(col("n")).over(upTo))
      .withColumn("_np", sum(col("p")).over(whole))
      .withColumn("_nn", sum(col("n")).over(whole))
    def d(c: Column) = c.cast("double")
    // ΔR·P per threshold: p_i/n_pos · cumP/(cumP+cumN) — zero-Δ steps
    // contribute zero; µ-quantize (1e9 — AP sums ≤ 1, so nano-units
    // keep 9 digits) then integer-sum.
    val term = (d(col("p")) / d(col("_np"))
      * (d(col("_cp")) / (d(col("_cp")) + d(col("_cn")))))
    cum
      .select(col("_np").as("n_pos"), col("_nn").as("n_neg"),
        round(term * lit(1.0e9)).cast("long").as("_tm"))
      .groupBy(col("n_pos"), col("n_neg"))
      .agg(sum(col("_tm")).as("_apm"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(dbl2(col("_apm")) / lit(1.0e9), 6)).as("pr_auc"))
  }

  private def dbl2(c: Column) = c.cast("double")

  /** DuckDB oracle twin of [[averagePrecision]]. */
  def duckAveragePrecision(innerSql: String, scoreCol: String,
                           labelCol: String): String =
    s"""WITH by_score AS (
       |  SELECT $scoreCol AS s,
       |         CAST(count(*) FILTER (WHERE $labelCol = 1) AS BIGINT) AS p,
       |         CAST(count(*) FILTER (WHERE $labelCol = 0) AS BIGINT) AS n
       |  FROM ($innerSql) GROUP BY 1),
       |cum AS (
       |  SELECT p,
       |         sum(p) OVER (ORDER BY s DESC) AS cp,
       |         sum(n) OVER (ORDER BY s DESC) AS cn,
       |         sum(p) OVER () AS np, sum(n) OVER () AS nn
       |  FROM by_score),
       |terms AS (
       |  SELECT CAST(max(np) AS BIGINT) AS n_pos,
       |         CAST(max(nn) AS BIGINT) AS n_neg,
       |         CAST(sum(CAST(round(
       |           CAST(p AS DOUBLE) / CAST(np AS DOUBLE)
       |           * (CAST(cp AS DOUBLE)
       |              / (CAST(cp AS DOUBLE) + CAST(cn AS DOUBLE)))
       |           * 1.0e9) AS BIGINT)) AS BIGINT) AS apm
       |  FROM cum)
       |SELECT n_pos, n_neg,
       |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |         round(CAST(apm AS DOUBLE) / 1.0e9, 6) END AS pr_auc
       |FROM terms""".stripMargin

  /** Paired-rater agreement: Cohen's κ and McNemar's test between two
    * binary verdict columns over the same rows — the "do my two
    * labelers / filter versions actually agree, and is their
    * disagreement symmetric?" audit that precedes swapping one quality
    * filter for another:
    *
    *   κ = (p_o − p_e)/(1 − p_e)  (chance-corrected agreement)
    *   McNemar χ² = (b − c)²/(b + c)  over the discordant cells
    *     (significant ⇒ the two raters' MARGINAL rates differ — one
    *     filter is systematically stricter, not just noisier).
    *
    * Pure contingency counts from ONE map-side aggregate; κ and χ² are
    * each one closed-form double expression from the four exact cells.
    *
    * Output (one row): (n, both_pos, both_neg, only_a, only_b, kappa,
    * mcnemar_chi2) — κ NULL when p_e = 1 (degenerate margins), χ²
    * NULL when there are no discordant pairs.
    */
  def agreementStats(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("long"); val b = col(bCol).cast("long")
    val cells = df.agg(
      count(lit(1)).as("n"),
      count(when(a === 1 && b === 1, lit(1))).as("both_pos"),
      count(when(a === 0 && b === 0, lit(1))).as("both_neg"),
      count(when(a === 1 && b === 0, lit(1))).as("only_a"),
      count(when(a === 0 && b === 1, lit(1))).as("only_b"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    val po = (d(col("both_pos")) + d(col("both_neg"))) / nd
    // marginal positive rates of each rater
    val pa = (d(col("both_pos")) + d(col("only_a"))) / nd
    val pb = (d(col("both_pos")) + d(col("only_b"))) / nd
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    val disc = col("only_a") + col("only_b")
    cells.select(
      col("n"), col("both_pos"), col("both_neg"), col("only_a"), col("only_b"),
      when(col("n") > 0 && pe =!= 1.0,
        round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"),
      when(disc > 0,
        round(d(col("only_a") - col("only_b"))
          * d(col("only_a") - col("only_b")) / d(disc), 6)).as("mcnemar_chi2"))
  }

  /** DuckDB oracle twin of [[agreementStats]]. */
  def duckAgreementStats(innerSql: String, aCol: String,
                         bCol: String): String =
    s"""WITH cells AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(count(*) FILTER (WHERE $aCol = 1 AND $bCol = 1) AS BIGINT) AS both_pos,
       |         CAST(count(*) FILTER (WHERE $aCol = 0 AND $bCol = 0) AS BIGINT) AS both_neg,
       |         CAST(count(*) FILTER (WHERE $aCol = 1 AND $bCol = 0) AS BIGINT) AS only_a,
       |         CAST(count(*) FILTER (WHERE $aCol = 0 AND $bCol = 1) AS BIGINT) AS only_b
       |  FROM ($innerSql)),
       |f AS (
       |  SELECT *,
       |         (CAST(both_pos AS DOUBLE) + CAST(both_neg AS DOUBLE))
       |           / CAST(n AS DOUBLE) AS po,
       |         (CAST(both_pos AS DOUBLE) + CAST(only_a AS DOUBLE))
       |           / CAST(n AS DOUBLE) AS pa,
       |         (CAST(both_pos AS DOUBLE) + CAST(only_b AS DOUBLE))
       |           / CAST(n AS DOUBLE) AS pb
       |  FROM cells)
       |SELECT n, both_pos, both_neg, only_a, only_b,
       |       CASE WHEN n > 0
       |             AND pa * pb + (1.0 - pa) * (1.0 - pb) <> 1.0 THEN
       |         round((po - (pa * pb + (1.0 - pa) * (1.0 - pb)))
       |               / (1.0 - (pa * pb + (1.0 - pa) * (1.0 - pb))), 6)
       |       END AS kappa,
       |       CASE WHEN only_a + only_b > 0 THEN
       |         round(CAST(only_a - only_b AS DOUBLE)
       |               * CAST(only_a - only_b AS DOUBLE)
       |               / CAST(only_a + only_b AS DOUBLE), 6)
       |       END AS mcnemar_chi2
       |FROM f""".stripMargin

  /** Brier score with Murphy's three-part decomposition — the PROPER
    * scoring rule next to [[aucRankSum]] (rank quality) and
    * [[calibrationBins]] (the reliability diagram): over the same
    * integer-edged bins,
    *
    *   brier       = Σ(p−y)²/N
    *   reliability = Σ_k n_k(p̄_k − ȳ_k)²/N   (miscalibration — lower better)
    *   resolution  = Σ_k n_k(ȳ_k − ȳ)²/N     (discrimination — higher better)
    *   uncertainty = ȳ(1−ȳ)
    *
    * with brier ≈ reliability − resolution + uncertainty (exact when
    * scores are constant within bins).
    *
    * Exactness: the raw Brier sum is exact DECIMAL micro² arithmetic;
    * the per-bin decomposition terms are one double expression from
    * exact per-bin sums, µ-requantized before the cross-bin total so
    * the sum is order-independent (the chiSquared discipline).
    *
    * Scale shape: ONE map-side-combinable nBins-cardinality aggregate;
    * everything downstream runs on the bins table.
    *
    * Output (one row): (n, brier, reliability, resolution, uncertainty).
    */
  def brierDecomposition(scored: DataFrame, scoreCol: String,
                         labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "brierDecomposition: need at least two bins")
    def d38(c: Column) = c.cast("decimal(38,0)")
    val micro = round(col(scoreCol) * lit(1000000.0)).cast("long")
    val bin = least(
      floor((micro * lit(nBins.toLong)).cast("double") / 1000000.0).cast("long"),
      lit(nBins - 1L))
    // nBins rows; totals + per-bin terms both read it
    val bins = graft.Jobs.pin(scored
      .select(micro.as("_p"), col(labelCol).cast("long").as("_y"), bin.as("_b"))
      .groupBy(col("_b"))
      .agg(count(lit(1)).as("_n"),
        sum(d38(col("_p"))).as("_sp"),
        sum(col("_y")).as("_sy"),
        sum((col("_p") - col("_y") * lit(1000000L)).cast("decimal(19,0)")
          * (col("_p") - col("_y") * lit(1000000L)).cast("decimal(19,0)"))
          .as("_sq")), "brier_decomposition", "bins")
    val tot = bins.agg(sum(col("_n")).as("n"), sum(col("_sy")).as("_ty"),
      sum(col("_sq")).as("_tsq"))
    val nd = col("n").cast("double")
    val ybar = col("_ty").cast("double") / nd
    val withTot = bins.crossJoin(broadcast(tot))
    val pk = col("_sp").cast("double") / col("_n").cast("double") / lit(1000000.0)
    val yk = col("_sy").cast("double") / col("_n").cast("double")
    val contrib = (m: Column) =>
      round(col("_n").cast("double") * m * m / nd * lit(1000000.0)).cast("long")
    val terms = withTot
      .select(col("n"), col("_ty"), col("_tsq"),
        contrib(pk - yk).as("_relm"), contrib(yk - ybar).as("_resm"))
      .groupBy(col("n"), col("_ty"), col("_tsq"))
      .agg(sum(col("_relm")).as("_rel"), sum(col("_resm")).as("_res"))
    terms.select(
      col("n"),
      round(col("_tsq").cast("double") / nd / lit(1.0e12), 6).as("brier"),
      round(col("_rel").cast("double") / lit(1.0e6), 6).as("reliability"),
      round(col("_res").cast("double") / lit(1.0e6), 6).as("resolution"),
      round(ybar * (lit(1.0) - ybar), 6).as("uncertainty"))
  }

  /** DuckDB oracle twin of [[brierDecomposition]]. */
  def duckBrierDecomposition(innerSql: String, scoreCol: String,
                             labelCol: String, nBins: Int = 10): String =
    s"""WITH rows_ AS (
       |  SELECT CAST(round($scoreCol * 1000000.0) AS BIGINT) AS p,
       |         CAST($labelCol AS BIGINT) AS y
       |  FROM ($innerSql)),
       |bins AS (
       |  SELECT least((p * $nBins) // 1000000, ${nBins - 1}) AS b,
       |         CAST(count(*) AS BIGINT) AS nk,
       |         sum(CAST(p AS HUGEINT)) AS sp,
       |         CAST(sum(y) AS BIGINT) AS sy,
       |         sum(CAST(p - y * 1000000 AS HUGEINT)
       |             * CAST(p - y * 1000000 AS HUGEINT)) AS sq
       |  FROM rows_ GROUP BY 1),
       |tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
       |               CAST(sum(sy) AS BIGINT) AS ty,
       |               sum(sq) AS tsq
       |        FROM bins),
       |terms AS (
       |  SELECT n, ty, tsq,
       |    CAST(round(CAST(nk AS DOUBLE)
       |      * (CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE) / 1000000.0
       |         - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
       |      * (CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE) / 1000000.0
       |         - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
       |      / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS relm,
       |    CAST(round(CAST(nk AS DOUBLE)
       |      * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
       |         - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
       |         - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
       |      / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS resm
       |  FROM bins CROSS JOIN tot),
       |agg AS (SELECT n, ty, tsq,
       |               CAST(sum(relm) AS BIGINT) AS rel,
       |               CAST(sum(resm) AS BIGINT) AS res
       |        FROM terms GROUP BY 1, 2, 3)
       |SELECT n,
       |       round(CAST(tsq AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e12, 6) AS brier,
       |       round(CAST(rel AS DOUBLE) / 1.0e6, 6) AS reliability,
       |       round(CAST(res AS DOUBLE) / 1.0e6, 6) AS resolution,
       |       round((CAST(ty AS DOUBLE) / CAST(n AS DOUBLE))
       |             * (1.0 - CAST(ty AS DOUBLE) / CAST(n AS DOUBLE)), 6)
       |         AS uncertainty
       |FROM agg""".stripMargin

  /** Split-conformal interval calibration and its coverage audit — the
    * uncertainty-quantification member of the eval family: on a
    * deterministic hash-split calibration set, fit each group's
    * constant predictor (its calibration mean) and take
    *
    *   q̂ = the ⌈(n_cal+1)·(1−α)⌉-th smallest |residual|,
    *
    * then report what fraction of the held-out rows fall within ±q̂ —
    * split conformal's guarantee is coverage ≥ 1−α regardless of the
    * predictor, and THIS operator is the audit that checks it on real
    * data.
    *
    * Exactness: predictions are one double expression from exact
    * per-group DECIMAL sums; residuals micro-requantize to integers, so
    * the order statistic is an exact integer-rank lookup (no float
    * percentile interpolation) and coverage is a count ratio. The rank
    * clamps to n_cal when ⌈(n+1)(1−α)⌉ exceeds it (tiny calibration
    * sets — the textbook case yields q̂ = ∞; the clamp keeps the audit
    * finite and is reported as-is).
    *
    * Scale shape: one group-cardinality aggregate for the predictor
    * (broadcast back), then ONE corpus exchange to the distinct-
    * residual table — the quantile window and the coverage sum both
    * run there (the [[aucRankSum]] discipline).
    *
    * Output (one row): (n_cal, n_eval, rank_k, q_hat, coverage).
    */
  def conformalCoverage(df: DataFrame, idCol: String, groupCol: String,
                        valueCol: String, calPct: Int,
                        alphaPct: Int): DataFrame = {
    require(calPct > 0 && calPct < 100, s"conformalCoverage: calPct=$calPct")
    require(alphaPct > 0 && alphaPct < 100, s"conformalCoverage: alphaPct=$alphaPct")
    val micro = round(col(valueCol) * lit(1000000.0)).cast("long")
    val base = df.select(col(idCol).as("_id"), col(groupCol).as("_g"),
      micro.as("_m"),
      (Splits.bucketOf(col(idCol), 100) < calPct).as("_cal"))
    val pred = base.filter(col("_cal"))
      .groupBy(col("_g"))
      .agg(sum(col("_m").cast("decimal(38,0)")).as("_s"),
        count(lit(1)).as("_n"))
      .select(col("_g"),
        (col("_s").cast("double") / col("_n").cast("double")).as("_p"))
    val resid = graft.Jobs.pin(base.join(broadcast(pred), Seq("_g"))
      .select(col("_cal"),
        round(abs(col("_m").cast("double") - col("_p"))).cast("long")
          .as("_r"))
      .groupBy(col("_r"))
      .agg(count(when(col("_cal"), lit(1))).as("_cc"),
        count(when(!col("_cal"), lit(1))).as("_ce")),
      // Barrier: the q̂ lookup and the coverage sum both derive from
      // this distinct-residual table — pin it (it is residual-
      // cardinality-sized) so the corpus join runs once.
      "conformal_coverage", "residuals")
    val upTo = Window.orderBy(col("_r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val cum = resid
      .withColumn("_cum", sum(col("_cc")).over(upTo))
      .withColumn("_ncal", sum(col("_cc")).over(whole))
      .withColumn("_neval", sum(col("_ce")).over(whole))
      .withColumn("_k",
        least(expr(s"((_ncal + 1) * ${100 - alphaPct} + 99) div 100"),
          col("_ncal")))
    val qhat = cum.filter(col("_cum") >= col("_k"))
      .agg(min(col("_r")).as("_q"),
        max(col("_ncal")).as("n_cal"), max(col("_neval")).as("n_eval"),
        max(col("_k")).as("rank_k"))
    val cov = cum.crossJoin(broadcast(qhat.select(col("_q"))))
      .agg(sum(when(col("_r") <= col("_q"), col("_ce"))
        .otherwise(lit(0L))).as("_cov"))
    qhat.crossJoin(cov).select(
      col("n_cal"), col("n_eval"), col("rank_k"),
      round(col("_q").cast("double") / 1e6, 6).as("q_hat"),
      when(col("n_eval") > 0,
        round(col("_cov").cast("double") / col("n_eval").cast("double"), 6))
        .as("coverage"))
  }

  /** DuckDB oracle twin of [[conformalCoverage]]. */
  def duckConformalCoverage(rel: String, idCol: String, groupCol: String,
                            valueCol: String, calPct: Int,
                            alphaPct: Int): String =
    s"""WITH base AS (
       |  SELECT $groupCol AS g,
       |         CAST(round($valueCol * 1000000.0) AS BIGINT) AS m,
       |         (${Splits.duckBucket(idCol, 100)}) < $calPct AS cal
       |  FROM $rel),
       |pred AS (
       |  SELECT g, CAST(sum(CAST(m AS HUGEINT)) AS DOUBLE)
       |            / CAST(count(*) AS DOUBLE) AS p
       |  FROM base WHERE cal GROUP BY 1),
       |resid AS (
       |  SELECT CAST(round(abs(CAST(m AS DOUBLE) - p)) AS BIGINT) AS r,
       |         CAST(count(*) FILTER (WHERE cal) AS BIGINT) AS cc,
       |         CAST(count(*) FILTER (WHERE NOT cal) AS BIGINT) AS ce
       |  FROM base JOIN pred USING (g) GROUP BY 1),
       |cum AS (
       |  SELECT r, ce,
       |         sum(cc) OVER (ORDER BY r) AS cum,
       |         sum(cc) OVER () AS ncal, sum(ce) OVER () AS neval
       |  FROM resid),
       |k AS (
       |  SELECT *, least(((ncal + 1) * ${100 - alphaPct} + 99) // 100, ncal)
       |            AS rk
       |  FROM cum),
       |qhat AS (
       |  SELECT min(r) AS q, CAST(max(ncal) AS BIGINT) AS n_cal,
       |         CAST(max(neval) AS BIGINT) AS n_eval,
       |         CAST(max(rk) AS BIGINT) AS rank_k
       |  FROM k WHERE cum >= rk),
       |cov AS (
       |  SELECT CAST(sum(CASE WHEN k.r <= qhat.q THEN k.ce ELSE 0 END)
       |              AS BIGINT) AS c
       |  FROM k CROSS JOIN qhat)
       |SELECT n_cal, n_eval, rank_k,
       |       round(CAST(q AS DOUBLE) / 1e6, 6) AS q_hat,
       |       CASE WHEN n_eval > 0 THEN
       |         round(CAST(c AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
       |       END AS coverage
       |FROM qhat CROSS JOIN cov""".stripMargin

  /** DuckDB oracle twin of [[calibrationBins]]. */
  def duckCalibrationBins(innerSql: String, scoreCol: String,
                          labelCol: String, nBins: Int = 10): String =
    s"""SELECT least((micro * $nBins) // 1000000, ${nBins - 1}) AS bin,
       |       CAST(count(*) AS BIGINT) AS n,
       |       round(CAST(sum(CAST(micro AS HUGEINT)) AS DOUBLE)
       |             / 1000000.0 / CAST(count(*) AS DOUBLE), 6) AS avg_score,
       |       round(CAST(sum($labelCol) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS pos_rate
       |FROM (SELECT CAST(round($scoreCol * 1000000.0) AS BIGINT) AS micro,
       |             $labelCol
       |      FROM ($innerSql))
       |GROUP BY 1""".stripMargin

  /** Isotonic (monotone) calibration of a score against a binary
    * outcome — the PAV-fit answer to "what keep-probability does a raw
    * classifier score s actually correspond to": unlike the per-bin
    * empirical rates of [[calibrationBins]], the isotonic fit is the
    * least-squares MONOTONE curve, so downstream thresholding inherits
    * a guarantee (higher score never maps to lower calibrated
    * probability) and noisy neighboring bins stop flapping.
    *
    * Computed on a fixed `grid` of score buckets via the minimax
    * characterization of isotonic regression (Robertson–Wright–Dykstra):
    *
    *   iso_i = max_{j ≤ i} min_{k ≥ i} avg(y over buckets j..k)
    *
    * — no sequential pool-adjacent-violators loop, so it's expressible
    * as joins/aggregates in BOTH engines identically. Interval averages
    * come from exact integer prefix sums and are µ-quantized ONCE; the
    * max-min runs over those integers, so the fit is bit-deterministic.
    *
    * Scale shape: ONE corpus pass collapses everything to ≤ grid
    * buckets; the prefix window, the O(grid²) interval table, and the
    * O(grid³) max-min joins are all metadata-sized (grid=100 →
    * ~1.7e5 joined rows) and independent of corpus size. The interval
    * self-join is non-equi by construction — bounded, deliberate, and
    * the reason the grid is fixed.
    *
    * Output per non-empty bucket: (bucket, n, pos_rate, iso_rate),
    * iso_rate monotone non-decreasing in bucket.
    */
  def isotonicCalibration(scored: DataFrame, scoreCol: String,
                          labelCol: String, grid: Int = 100): DataFrame = {
    require(grid >= 2 && grid <= 1000, s"isotonicCalibration: grid=$grid")
    val bucket = least(
      expr(s"(CAST(round($scoreCol * 1000000.0) AS BIGINT) * $grid) DIV 1000000"),
      lit((grid - 1).toLong))
    val cells = scored
      .select(bucket.as("bucket"), col(labelCol).cast("long").as("_y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1L)).as("_w"), sum(col("_y")).as("_p"))
    val ord = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("_cw", sum(col("_w")).over(ord))
      .withColumn("_cp", sum(col("_p")).over(ord))
    val lo = ranked.select(col("bucket").as("_j"),
      (col("_cw") - col("_w")).as("_wj"), (col("_cp") - col("_p")).as("_pj"))
    val hi = ranked.select(col("bucket").as("_k"),
      col("_cw").as("_wk"), col("_cp").as("_pk"))
    val ivals = lo.join(hi, col("_j") <= col("_k"))
      .select(col("_j"), col("_k"),
        round((col("_pk") - col("_pj")).cast("double")
          / (col("_wk") - col("_wj")).cast("double") * 1e6)
          .cast("long").as("_a"))
    ranked.select(col("bucket"), col("_w"), col("_p"))
      .join(ivals, col("_j") <= col("bucket") && col("bucket") <= col("_k"))
      .groupBy(col("bucket"), col("_w"), col("_p"), col("_j"))
      .agg(min(col("_a")).as("_mn"))
      .groupBy(col("bucket"), col("_w"), col("_p"))
      .agg(max(col("_mn")).as("_iso"))
      .select(col("bucket"), col("_w").as("n"),
        round(col("_p").cast("double") / col("_w").cast("double"), 6)
          .as("pos_rate"),
        round(col("_iso").cast("double") / 1e6, 6).as("iso_rate"))
  }

  /** DuckDB oracle twin of [[isotonicCalibration]] — same buckets,
    * same prefix sums, same µ-quantized interval averages, same
    * max-min.
    */
  def duckIsotonicCalibration(innerSql: String, scoreCol: String,
                              labelCol: String, grid: Int = 100): String =
    s"""WITH cells AS (
       |  SELECT least((CAST(round($scoreCol * 1000000.0) AS BIGINT)
       |                * $grid) // 1000000, ${grid - 1}) AS bucket,
       |         CAST(count(*) AS BIGINT) AS w,
       |         CAST(sum($labelCol) AS BIGINT) AS p
       |  FROM ($innerSql) GROUP BY 1),
       |ranked AS (
       |  SELECT bucket, w, p,
       |         sum(w) OVER (ORDER BY bucket ASC
       |                      ROWS UNBOUNDED PRECEDING) AS cw,
       |         sum(p) OVER (ORDER BY bucket ASC
       |                      ROWS UNBOUNDED PRECEDING) AS cp
       |  FROM cells),
       |iv AS (
       |  SELECT l.bucket AS j, h.bucket AS k,
       |         CAST(round(CAST(h.cp - (l.cp - l.p) AS DOUBLE)
       |                    / CAST(h.cw - (l.cw - l.w) AS DOUBLE)
       |                    * 1000000.0) AS BIGINT) AS a
       |  FROM ranked l JOIN ranked h ON l.bucket <= h.bucket),
       |mn AS (
       |  SELECT r.bucket, r.w, r.p, iv.j, min(iv.a) AS mn
       |  FROM ranked r JOIN iv ON iv.j <= r.bucket AND r.bucket <= iv.k
       |  GROUP BY r.bucket, r.w, r.p, iv.j)
       |SELECT bucket, w AS n,
       |       round(CAST(p AS DOUBLE) / CAST(w AS DOUBLE), 6) AS pos_rate,
       |       round(CAST(max(mn) AS DOUBLE) / 1e6, 6) AS iso_rate
       |FROM mn GROUP BY bucket, w, p""".stripMargin

  /** Confident-joint label-noise estimation (confident learning,
    * Northcutt et al. 2021) — "how much of my labeled data is
    * mislabeled": rows whose score clears the CLASS-CONDITIONAL
    * confidence threshold (t_j = mean score among rows labeled j) get
    * a confident prediction, and the off-diagonal of the (label,
    * confident prediction) joint counts the suspected noise — the
    * quantitative tier above [[agreementStats]]' rater-vs-rater view.
    * Binary rule: confidently positive iff q ≥ t₁, confidently negative
    * iff q ≤ t₀; scores strictly between the thresholds stay
    * unassigned (reported, never guessed).
    *
    * Exactness: thresholds are exact rationals (Σqµ / n per class)
    * compared in cross-multiplied integer space — qµ·n_j vs Σqµ —
    * so threshold membership is bit-deterministic with NO float mean;
    * every output is an exact count except the one final noise-share
    * division.
    *
    * Scale shape: one class aggregate (2 rows) broadcast back, one
    * counting pass — two scans, no shuffle beyond the 2-row aggregate.
    *
    * Output 1 row: (n, t1, t0, c_y1_p1, c_y1_p0, c_y0_p1, c_y0_p0,
    * n_unassigned, noise_frac) — noise_frac = off-diagonal share of
    * assigned rows. An absent label class has no threshold: its
    * confident sets stay empty and its t is NULL (rows remain counted
    * in n). When the thresholds overlap (t₀ ≥ t₁, possible under heavy
    * noise) a doubly-qualified score counts as confidently POSITIVE —
    * fixed precedence, mirrored in the oracle.
    */
  def confidentJoint(scored: DataFrame, scoreCol: String,
                     labelCol: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    def d(c: Column) = c.cast("double")
    val rows = scored.select(
      round(col(scoreCol) * 1e6).cast("long").as("_q"),
      col(labelCol).cast("long").as("_y"))
    // BOTH class thresholds from ONE ungrouped aggregate → ONE 1-row
    // broadcast: a per-class frame filtered twice would re-run the
    // (expensive) upstream scoring once per broadcast subtree — the
    // scored corpus must be computed exactly twice (thresholds pass +
    // counting pass), never four times.
    val thRow = rows.agg(
      sum(when(col("_y") === 1L, d38(col("_q")))).as("_s1"),
      count(when(col("_y") === 1L, lit(1L))).as("_n1"),
      sum(when(col("_y") === 0L, d38(col("_q")))).as("_s0"),
      count(when(col("_y") === 0L, lit(1L))).as("_n0"))
    // q ≥ t₁ ⇔ qµ·n₁ ≥ Σqµ(1);  q ≤ t₀ ⇔ qµ·n₀ ≤ Σqµ(0) — integer space
    val joined = rows.crossJoin(broadcast(thRow))
    val confPos = d38(col("_q")) * d38(col("_n1")) >= col("_s1")
    val confNeg = d38(col("_q")) * d38(col("_n0")) <= col("_s0")
    joined.agg(
        count(lit(1L)).as("n"),
        min(col("_s1")).as("_ts1"), min(col("_n1")).as("_tn1"),
        min(col("_s0")).as("_ts0"), min(col("_n0")).as("_tn0"),
        count(when(col("_y") === 1L && confPos, lit(1))).as("c_y1_p1"),
        count(when(col("_y") === 1L && !confPos && confNeg, lit(1))).as("c_y1_p0"),
        count(when(col("_y") === 0L && confPos, lit(1))).as("c_y0_p1"),
        count(when(col("_y") === 0L && !confPos && confNeg, lit(1))).as("c_y0_p0"))
      .select(col("n"),
        round(d(col("_ts1")) / d(col("_tn1")) / 1e6, 6).as("t1"),
        round(d(col("_ts0")) / d(col("_tn0")) / 1e6, 6).as("t0"),
        col("c_y1_p1"), col("c_y1_p0"), col("c_y0_p1"), col("c_y0_p0"),
        (col("n") - col("c_y1_p1") - col("c_y1_p0") - col("c_y0_p1")
          - col("c_y0_p0")).as("n_unassigned"),
        when(col("c_y1_p1") + col("c_y1_p0") + col("c_y0_p1")
          + col("c_y0_p0") === 0L, lit(null).cast("double"))
          .otherwise(round(d(col("c_y1_p0") + col("c_y0_p1"))
            / d(col("c_y1_p1") + col("c_y1_p0") + col("c_y0_p1")
              + col("c_y0_p0")), 6)).as("noise_frac"))
  }

  /** DuckDB oracle twin of [[confidentJoint]] — same integer-space
    * threshold tests, same counts.
    */
  def duckConfidentJoint(innerSql: String, scoreCol: String,
                         labelCol: String): String =
    s"""WITH rows_ AS (
       |  SELECT CAST(round($scoreCol * 1000000.0) AS BIGINT) AS q,
       |         CAST($labelCol AS BIGINT) AS y
       |  FROM ($innerSql)),
       |th AS (SELECT sum(CAST(q AS HUGEINT)) FILTER (WHERE y = 1) AS s1,
       |              CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS n1,
       |              sum(CAST(q AS HUGEINT)) FILTER (WHERE y = 0) AS s0,
       |              CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS n0
       |       FROM rows_),
       |j AS (SELECT r.q, r.y,
       |             CAST(r.q AS HUGEINT) * th.n1 >= th.s1 AS cp,
       |             CAST(r.q AS HUGEINT) * th.n0 <= th.s0 AS cn,
       |             th.s1 AS s1, th.n1 AS n1, th.s0 AS s0, th.n0 AS n0
       |      FROM rows_ r CROSS JOIN th),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         min(s1) AS s1, min(n1) AS n1, min(s0) AS s0, min(n0) AS n0,
       |         CAST(count(*) FILTER (WHERE y = 1 AND cp) AS BIGINT) AS c_y1_p1,
       |         CAST(count(*) FILTER (WHERE y = 1 AND NOT cp AND cn) AS BIGINT) AS c_y1_p0,
       |         CAST(count(*) FILTER (WHERE y = 0 AND cp) AS BIGINT) AS c_y0_p1,
       |         CAST(count(*) FILTER (WHERE y = 0 AND NOT cp AND cn) AS BIGINT) AS c_y0_p0
       |  FROM j)
       |SELECT n,
       |       round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1e6, 6) AS t1,
       |       round(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1e6, 6) AS t0,
       |       c_y1_p1, c_y1_p0, c_y0_p1, c_y0_p0,
       |       n - c_y1_p1 - c_y1_p0 - c_y0_p1 - c_y0_p0 AS n_unassigned,
       |       CASE WHEN c_y1_p1 + c_y1_p0 + c_y0_p1 + c_y0_p0 <> 0 THEN
       |         round(CAST(c_y1_p0 + c_y0_p1 AS DOUBLE)
       |               / CAST(c_y1_p1 + c_y1_p0 + c_y0_p1 + c_y0_p0 AS DOUBLE), 6)
       |       END AS noise_frac
       |FROM a""".stripMargin

  /** Regression-evaluation metrics (RMSE / MAE / R²) for the
    * per-category conditional-mean predictor — the regression twin of
    * the classifier gates above, and the in-sample fit audit of
    * [[Features.targetEncodeLoo]]'s encoder: "how much of the target's
    * variance does this categorical feature explain" (this R² is
    * exactly one-way-ANOVA η²).
    *
    * Exactness discipline: the target is µ-quantized once
    * (vµ = round(v·10⁶), an exact BIGINT), and everything summed
    * ACROSS ROWS is an exact DECIMAL integer — per-category
    * n_g, Σvµ, Σvµ², and the MAE numerator Σ|n_g·vµ − Σvµ| (the
    * residual |v − mean_g| scaled by n_g, so it needs no float mean) —
    * making every partial-agg order irrelevant. Only the final
    * per-category terms (SSE_g = Σvµ² − (Σvµ)²/n_g, MAE_g = aµ_g/n_g)
    * are doubles, reduced with the repo's category-sorted left fold so
    * both engines add the handful of group terms in the same order.
    *
    * Scale shape: one category-keyed exchange for the moments, the
    * tiny stats table broadcast back for the MAE pass, then one
    * category-keyed re-aggregation — category cardinality (event
    * types, languages, domains-after-bucketing) is bounded, so the
    * fold list is metadata-sized. Output 1 row:
    * (n, n_groups, mean, rmse, mae, r2).
    */
  def regressionMetrics(df: DataFrame, catCol: String,
                        valCol: String): DataFrame = {
    val vmu = round(col(valCol) * 1e6).cast("decimal(38,0)")
    val rows = df.select(col(catCol).as("_g"), vmu.as("_v"))
    val stats = rows.groupBy(col("_g")).agg(
      count(lit(1L)).as("_ng"),
      sum(col("_v")).as("_sg"),
      sum(col("_v") * col("_v")).as("_qg"))
    val perGroup = rows
      .join(broadcast(stats), "_g")
      .groupBy(col("_g")).agg(
        first(col("_ng")).as("_ng"),
        first(col("_sg")).as("_sg"),
        first(col("_qg")).as("_qg"),
        sum(abs(col("_v") * col("_ng").cast("decimal(38,0)") - col("_sg")))
          .as("_ag"))
    def fold(l: Column, f: Column => Column): Column =
      aggregate(l, lit(0.0), (acc, s) => acc + f(s))
    def d(c: Column) = c.cast("double")
    val folded = perGroup
      .agg(sort_array(collect_list(struct(col("_g"), col("_ng"), col("_sg"),
        col("_qg"), col("_ag")))).as("_l"),
        count(lit(1L)).as("n_groups"),
        sum(col("_ng")).as("n"),
        sum(col("_sg")).as("_s"),
        sum(col("_qg")).as("_q"))
      .withColumn("_sse", fold(col("_l"), s =>
        d(s.getField("_qg")) -
          d(s.getField("_sg")) * d(s.getField("_sg")) / d(s.getField("_ng"))))
      .withColumn("_mae", fold(col("_l"), s =>
        d(s.getField("_ag")) / d(s.getField("_ng"))))
    val nD = d(col("n"))
    val sst = d(col("_q")) - d(col("_s")) * d(col("_s")) / nD
    folded.select(
      col("n"), col("n_groups"),
      round(d(col("_s")) / nD / 1e6, 6).as("mean"),
      round(sqrt(col("_sse") / nD) / 1e6, 6).as("rmse"),
      round(col("_mae") / nD / 1e6, 6).as("mae"),
      // degenerate-denominator gate (the repo convention — see fano /
      // gini / alignment): SST = 0 means every target value is
      // identical, so "fraction of variance explained" is undefined —
      // NULL on both engines, never NaN from 0/0
      when(sst === lit(0.0), lit(null).cast("double"))
        .otherwise(round(lit(1.0) - col("_sse") / sst, 6)).as("r2"))
  }

  /** DuckDB oracle twin of [[regressionMetrics]] — same µ-quantized
    * exact moments, same category-sorted left folds, same final
    * arithmetic.
    */
  def duckRegressionMetrics(rel: String, catCol: String,
                            valCol: String): String = {
    def fold(expr: String): String =
      s"""list_reduce(list_prepend(0.0, list($expr ORDER BY g)),
         |            (acc, x) -> acc + x)""".stripMargin
    s"""WITH rows_q AS (
       |  SELECT $catCol AS g,
       |         CAST(round($valCol * 1000000.0) AS HUGEINT) AS v
       |  FROM $rel),
       |st AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
       |         sum(v) AS sg, sum(v * v) AS qg
       |  FROM rows_q GROUP BY g),
       |pg AS (
       |  SELECT r.g, any_value(st.ng) AS ng, any_value(st.sg) AS sg,
       |         any_value(st.qg) AS qg,
       |         sum(abs(r.v * st.ng - st.sg)) AS ag
       |  FROM rows_q r JOIN st ON r.g = st.g GROUP BY r.g),
       |f AS (
       |  SELECT count(*) AS n_groups,
       |         CAST(sum(ng) AS BIGINT) AS n,
       |         sum(sg) AS s, sum(qg) AS q,
       |         ${fold("CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)")} AS sse,
       |         ${fold("CAST(ag AS DOUBLE) / CAST(ng AS DOUBLE)")} AS mae_s
       |  FROM pg),
       |g AS (
       |  SELECT *, CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |              / CAST(n AS DOUBLE) AS sst
       |  FROM f)
       |SELECT n, CAST(n_groups AS BIGINT) AS n_groups,
       |       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS mean,
       |       round(sqrt(sse / CAST(n AS DOUBLE)) / 1e6, 6) AS rmse,
       |       round(mae_s / CAST(n AS DOUBLE) / 1e6, 6) AS mae,
       |       CASE WHEN sst <> 0.0 THEN round(1.0 - sse / sst, 6) END AS r2
       |FROM g""".stripMargin
  }
}
