package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{QualityFilters, TextAnalysis}

/** Curriculum / data-selection binning: rank every document by the
  * model-based quality score WITHIN its language and cut the ranking
  * into `nBins` equal-depth bins — the standard quality-curriculum
  * machinery (train on high bins first, anneal in lower bins, or weight
  * sampling by bin) and the quality-pruning audit ("what fraction of
  * each language sits in the bottom decile").
  *
  * Determinism: the ntile order is (score DESC, id ASC) — the explicit
  * id tie-break makes bin membership a pure function of the corpus, so
  * the same doc lands in the same bin on every engine and every run
  * (the convention all ranking gates in this repo follow).
  *
  * Scale shape: one narrow scoring projection (the classifier features
  * are codegen'd HOFs over a single token-split binding), then ONE
  * language-keyed exchange for the ntile window — no join, no second
  * pass. Language cardinality is small, so the window's per-partition
  * sort is the only real work; at 100 TB with few languages, salt the
  * window key by a hash bucket and ntile within (lang, salt) instead —
  * equal-depth within salt buckets composes to equal-depth overall.
  */
object Curriculum {

  /** Per-language equal-depth quality bins. Output: (idCol, langCol,
    * q_score, bin) with bin ∈ [1, nBins].
    */
  def qualityBins(docs: DataFrame, textCol: String, idCol: String,
                  langCol: String, nBins: Int): DataFrame = {
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("q_score").desc, col(idCol).asc)
    docs
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), col(langCol),
        QualityFilters.classifierScoreOf(col("_w")).as("q_score"))
      .withColumn("bin", ntile(nBins).over(w))
  }

  /** DuckDB oracle for [[qualityBins]] — same score, same tie-broken
    * NTILE.
    */
  def duckQualityBins(tbl: String, textCol: String, idCol: String,
                      langCol: String, nBins: Int): String =
    s"""WITH d AS (SELECT $idCol, $langCol,
       |                  ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl)
       |SELECT $idCol, $langCol,
       |       ${QualityFilters.duckClassifierScore} AS q_score,
       |       CAST(NTILE($nBins) OVER (PARTITION BY $langCol
       |         ORDER BY ${QualityFilters.duckClassifierScore} DESC, $idCol ASC) AS INTEGER) AS bin
       |FROM d""".stripMargin

  /** Per-domain quality quota: keep at most `cap` documents per domain
    * (source/host), choosing the best by the model-based quality score
    * with the usual (score DESC, id ASC) deterministic tie-break — the
    * web-crawl curation rule that stops a single giant domain from
    * dominating the corpus while keeping its best pages (per-host caps
    * as used by the large crawl-curation pipelines).
    *
    * Scale shape: same single-exchange ranking window as
    * [[qualityBins]], keyed by domain instead of language — scoring is
    * a narrow codegen projection, then ONE domain-keyed exchange and a
    * rank filter; no join. Domain cardinality is huge on a real crawl
    * (good — the window key is high-cardinality, so no salting needed);
    * a pathological mega-domain's partition is bounded by that domain's
    * own row count, and the rank filter discards all but `cap` of it in
    * the same pass.
    *
    * Output: (idCol, domainCol, q_score, d_rank) for kept rows,
    * d_rank ∈ [1, cap].
    */
  def domainCap(docs: DataFrame, textCol: String, idCol: String,
                domainCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("q_score").desc, col(idCol).asc)
    docs
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), col(domainCol),
        QualityFilters.classifierScoreOf(col("_w")).as("q_score"))
      .withColumn("d_rank", row_number().over(w).cast("long"))
      .filter(col("d_rank") <= cap)
  }

  /** Score-bucket grid for [[tokenBudgetSelect]]: scores live in (0,1),
    * so floor(score·1000) yields ≤ 1001 buckets regardless of corpus
    * size — the running-total table is metadata-scale by construction.
    */
  val BudgetGrid = 1000

  /** Last scored frame persisted by [[tokenBudgetSelect]] — held so a
    * repeat invocation (or an explicit [[releaseBudgetCache]]) can drop
    * the cached blocks instead of leaving them to LRU eviction.
    */
  private val lastBudgetCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Drop the cached scoring frame of the most recent
    * [[tokenBudgetSelect]] call (no-op if none). Non-blocking.
    */
  def releaseBudgetCache(): Unit = {
    val prev = lastBudgetCache.getAndSet(null)
    if (prev != null) graft.Jobs.release(prev)
  }

  /** TOKEN-BUDGET data selection: keep the highest-quality documents
    * whose cumulative token count fits a training budget — "give me the
    * best B tokens" (the DCLM/FineWeb-style selection step after
    * scoring). Semantically: docs in (q_score DESC, id ASC) order, kept
    * while the INCLUSIVE running token total stays ≤ `budget`.
    *
    * Scale shape — the naive plan is a GLOBAL sort + running-total
    * window over the corpus; this one never sorts the corpus. Instead:
    * (1) one narrow scoring projection; (2) a per-score-BUCKET token
    * total (≤ [[BudgetGrid]]+1 rows — one map-side-combinable
    * exchange); (3) running totals + the budget threshold on that tiny
    * table (single-partition window over ≤ 1001 rows, deliberately);
    * (4) a broadcast join tags each doc's bucket `all` / `edge` /
    * `none` — only the ONE boundary bucket's docs pay a per-doc
    * running-total window, and that window is bucket-local, not
    * corpus-global. PlanAuditSpec pins the no-global-sort shape.
    *
    * Determinism: scores are 6 dp-rounded, bucketing is integer floor,
    * and the boundary window uses the (score DESC, id ASC) tie-break —
    * selection is a pure function of the corpus on any engine.
    *
    * Output: (idCol, q_score, n_tokens) for kept documents.
    *
    * CACHING SIDE EFFECT: the scored frame is persisted
    * (MEMORY_AND_DISK) as the barrier described below and stays cached
    * after the result is consumed (Spark has no consumption callback).
    * Each new call releases the previous call's cache, so a long-lived
    * session holds at most ONE scored frame; call
    * [[releaseBudgetCache]] to drop the last one eagerly.
    */
  def tokenBudgetSelect(docs: DataFrame, textCol: String, idCol: String,
                        budget: Long): DataFrame = {
    // COLUMNAR-CACHE barrier after scoring: the scored frame feeds the
    // bucket totals, the join key, and BOTH output branches, and every
    // weaker barrier measurably fails here (100× rehearsal, 500 k
    // docs): no barrier → CollapseProject inlines the token split into
    // every classifier feature reference in every consumer (~100×
    // re-tokenize, 20.3 s at sf0.1); localCheckpoint → 13 s of
    // row-serialization for a 2.6 s scoring pass; a repartition(_b)
    // exchange → column pruning forks a second scoring exchange for
    // the bucket stats AND the join's isnotnull(_b) constraint
    // propagates below it as a per-row full-classifier filter OUTSIDE
    // codegen (80 s). The columnar cache computes scoring once, every
    // consumer — including the broadcast's constraint filter — reads
    // the cached column.
    // Release the PREVIOUS call's cache BEFORE persisting the new frame
    // (r13 fix). A repeat invocation on the same inputs builds an
    // IDENTICAL canonicalized plan, and Spark's CacheManager keys cache
    // entries by that plan — so the old persist-then-release order made
    // the new persist a no-op re-registration and the release then
    // dropped the shared entry, leaving every pass after the first
    // UNCACHED: each consumer re-ran the full scoring (the exact
    // no-barrier failure mode documented below — measured 4.0 s pass 1
    // → 19–21 s every later pass at sf0.1, reproducible, and masked by
    // the bench's min-of-2 protocol until the per-pass trace existed).
    releaseBudgetCache()
    val scored = graft.Jobs.cache(docs
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        QualityFilters.classifierScoreOf(col("_w")).as("q_score"),
        TextAnalysis.tokenCountOf(col("_w")).as("n_tokens"))
      .withColumn("_b", floor(col("q_score") * BudgetGrid).cast("long")))
    lastBudgetCache.set(scored)
    val bw = Window.orderBy(col("_b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bstats = scored.groupBy(col("_b")).agg(sum(col("n_tokens")).as("_bt"))
      .withColumn("_cum", sum(col("_bt")).over(bw))
      .withColumn("_before", col("_cum") - col("_bt"))
      .select(col("_b"), col("_before"),
        when(col("_cum") <= budget, "all")
          .when(col("_before") <= budget, "edge")
          .otherwise("none").as("_cls"))
    val tagged = scored.join(broadcast(bstats), Seq("_b"))
    val ww = Window.partitionBy(col("_b"))
      .orderBy(col("q_score").desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.filter(col("_cls") === "all")
      .select(col(idCol), col("q_score"), col("n_tokens"))
      .unionByName(
        tagged.filter(col("_cls") === "edge")
          .withColumn("_wcum", sum(col("n_tokens")).over(ww))
          .filter(col("_before") + col("_wcum") <= budget)
          .select(col(idCol), col("q_score"), col("n_tokens")))
  }

  /** DuckDB oracle for [[tokenBudgetSelect]] — the DIRECT statement of
    * the semantics (global running-total prefix), which the bucketed
    * plan must equal exactly.
    */
  def duckTokenBudgetSelect(tbl: String, textCol: String, idCol: String,
                            budget: Long): String =
    s"""WITH d AS (SELECT $idCol, ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl),
       |s AS (SELECT $idCol, ${QualityFilters.duckClassifierScore} AS q_score,
       |             ${TextAnalysis.duckTokenCount} AS n_tokens
       |      FROM d),
       |c AS (SELECT *, sum(n_tokens) OVER (ORDER BY q_score DESC, $idCol ASC
       |                  ROWS UNBOUNDED PRECEDING) AS cum FROM s)
       |SELECT $idCol, q_score, n_tokens FROM c WHERE cum <= $budget""".stripMargin

  /** PERCENT-RANK score normalization within a group — the continuous
    * complement of [[qualityBins]]' deciles: maps each document's
    * classifier score to its within-language quantile position
    * ∈ [0, 1], making scores comparable ACROSS languages (raw
    * classifier scores are not — each language has its own score
    * distribution; curricula and mixture policies want "top 10% of
    * German", not "score > 0.7"). Deterministic: the rank order is
    * (score ASC, id ASC), so `pct_rank` is a pure corpus function;
    * percent_rank = (rank − 1)/(n − 1) with a single-row group pinned
    * to 0 — identical definitions on both engines, one division,
    * round(6).
    *
    * Scale shape: one language-keyed window exchange, exactly
    * [[qualityBins]] (same salting note applies at few-language 100 TB).
    * Output: (idCol, langCol, q_score, pct_rank).
    */
  def scoreNormalize(docs: DataFrame, textCol: String, idCol: String,
                     langCol: String): DataFrame = {
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("q_score").asc, col(idCol).asc)
    docs
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), col(langCol),
        QualityFilters.classifierScoreOf(col("_w")).as("q_score"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
  }

  /** DuckDB oracle for [[scoreNormalize]]. */
  def duckScoreNormalize(tbl: String, textCol: String, idCol: String,
                         langCol: String): String =
    s"""WITH d AS (SELECT $idCol, $langCol,
       |                  ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl)
       |SELECT $idCol, $langCol,
       |       ${QualityFilters.duckClassifierScore} AS q_score,
       |       round(percent_rank() OVER (PARTITION BY $langCol
       |         ORDER BY ${QualityFilters.duckClassifierScore} ASC, $idCol ASC), 6) AS pct_rank
       |FROM d""".stripMargin

  /** DuckDB oracle for [[domainCap]] — same score, same tie-broken rank
    * and cap.
    */
  def duckDomainCap(tbl: String, textCol: String, idCol: String,
                    domainCol: String, cap: Int): String =
    s"""WITH d AS (SELECT $idCol, $domainCol,
       |                  ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl)
       |SELECT * FROM (
       |  SELECT $idCol, $domainCol,
       |         ${QualityFilters.duckClassifierScore} AS q_score,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY $domainCol
       |           ORDER BY ${QualityFilters.duckClassifierScore} DESC, $idCol ASC) AS BIGINT) AS d_rank
       |  FROM d) r
       |WHERE d_rank <= $cap""".stripMargin

  /** Dynamic per-domain quality threshold: keep the TOP `pct`% of each
    * domain's documents by the model-based quality score — the
    * proportional twin of [[domainCap]] (a fixed quota starves big
    * domains and barely trims small ones; a global score threshold
    * lets one high-scoring domain dominate). Keeping a fixed fraction
    * per domain is the crawl-curation rule the quality-classifier
    * pipelines apply ("keep the best X% of every host").
    *
    * The cut is an exact integer rank test — rank ≤ ceil(pct·n/100)
    * with the usual (score DESC, id ASC) tie-break — not a float
    * percentile threshold, so membership is bit-deterministic and the
    * boundary document is unambiguous. Both the rank and the domain
    * size come from the SAME domain-keyed window, so the whole
    * operator is one narrow scoring projection + ONE exchange; at
    * crawl scale the window key (host) is high-cardinality and a
    * mega-domain's partition holds only its own rows.
    *
    * Output: (idCol, domainCol, q_score, d_rank, d_n) for kept rows.
    */
  def qualityTopPercent(docs: DataFrame, textCol: String, idCol: String,
                        domainCol: String, pct: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("q_score").desc, col(idCol).asc)
    val wAll = Window.partitionBy(col(domainCol))
    docs
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), col(domainCol),
        QualityFilters.classifierScoreOf(col("_w")).as("q_score"))
      .withColumn("d_rank", row_number().over(w).cast("long"))
      .withColumn("d_n", count(lit(1L)).over(wAll))
      // rank ≤ ceil(pct·n/100), all-integer: 100·rank ≤ pct·n + 99
      .filter(col("d_rank") * 100L <= col("d_n") * pct + 99L)
  }

  /** DuckDB oracle for [[qualityTopPercent]] — same score, same
    * integer-rank cut.
    */
  def duckQualityTopPercent(tbl: String, textCol: String, idCol: String,
                            domainCol: String, pct: Int): String =
    s"""WITH d AS (SELECT $idCol, $domainCol,
       |                  ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl)
       |SELECT * FROM (
       |  SELECT $idCol, $domainCol,
       |         ${QualityFilters.duckClassifierScore} AS q_score,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY $domainCol
       |           ORDER BY ${QualityFilters.duckClassifierScore} DESC, $idCol ASC) AS BIGINT) AS d_rank,
       |         CAST(COUNT(*) OVER (PARTITION BY $domainCol) AS BIGINT) AS d_n
       |  FROM d) r
       |WHERE d_rank * 100 <= d_n * $pct + 99""".stripMargin
}
