package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Jobs
import graft.functions.{QualityFilters, TextAnalysis}

/** The composed training-data preparation pipeline — the end-to-end flow a
  * user would actually run over a raw 100 TB document corpus:
  *
  *   1. score: language-ID + quality + token count (narrow projection);
  *   2. filter: keep the target language above a quality floor
  *      (predicates evaluate next to the scan — no shuffle yet);
  *   3. exact dedup: one hash partial-agg on md5(text)
  *      ([[Dedup.exact]]);
  *   4. near-dup dedup: MinHash+LSH candidate pairs
  *      ([[Dedup.minhashLshPairs]], banded equi-join — never all-pairs)
  *      resolved to clusters ([[Dedup.resolvePairs]],
  *      large-star/small-star, O(log n) rounds), keeping each cluster's
  *      min-id representative. A deduped corpus of at most
  *      [[Dedup.MaxDriverDocs]] rows runs this stage on the driver
  *      instead, with the same result.
  *
  * Output is the training manifest: surviving doc ids with their language,
  * quality, and token-count metadata. Every stage is an operator gated
  * elsewhere on its own; this composition is itself oracle-checked
  * end-to-end (the DuckDB twin mirrors stages 1–3 directly and replaces
  * the LSH pair search with the exact pairwise ground truth, so the gate
  * re-proves 100% LSH recall *through the whole pipeline*).
  */
object Pipeline {

  /** See object doc. `docs` is the raw corpus; the result keeps one row
    * per surviving document with columns `(idCol, lang_pred, quality,
    * n_tokens)`.
    *
    * Its eager jobs are tagged `graft:prep_corpus:<step>`: the score
    * barrier, the exact-dedup barrier, and a bounded read of at most
    * [[Dedup.MaxDriverDocs]] deduped rows back to the driver. A corpus
    * that fits is held there, so the near-dup stage runs on the driver
    * ([[Dedup.minhashLshPairs]]' driver tier, then
    * [[Dedup.connectedComponents]]' union-find) and starts no job; the
    * caller's action runs the anti-join of the barrier against the local
    * losers. A larger corpus takes the distributed LSH plan and the
    * checkpointed component loop (step `near_dup`) over the barrier.
    */
  def prepCorpus(docs: DataFrame, textCol: String, idCol: String,
                 lang: String, minQuality: Double,
                 n: Int = 3, bands: Int = 42, rowsPerBand: Int = 3,
                 threshold: Double = 0.5): DataFrame = {
    // Score, BARRIER, then filter: pushing the lang/quality predicate
    // past the projection substitutes langIdOf's ~24-reference CASE
    // chain (token split inlined per reference) into the filter and
    // computes the scoring stage twice — the curateCorpus keptIds note,
    // measured again on curateSplits at 4.7× the stage cost.
    val scored = Jobs.pin(Dedup.rebalance(docs)
      .withColumn("_w", TextAnalysis.tokens(col(textCol))) // bind the split once
      .withColumn("lang_pred", TextAnalysis.langIdOf(col("_w")))
      .withColumn("quality", TextAnalysis.qualityScoreOf(col(textCol), col("_w")))
      .withColumn("n_tokens", TextAnalysis.tokenCountOf(col("_w")))
      .drop("_w"), "prep_corpus", "score")
      .filter(col("lang_pred") === lang && col("quality") >= minQuality)
    // Materialize the filtered+exact-deduped corpus BEFORE the near-dup
    // stage: the distributed LSH plan reads its input three times
    // (signature branch + both sides of the exact-Jaccard verification
    // join), and resolvePairs reads it again — without the barrier the
    // scoring projection and the dedup exchange re-execute per consumer
    // (measured: the pair stage alone was 3× its standalone cost; README
    // "Eager jobs"). The hold reads the materialized blocks, so a corpus
    // over the ceiling costs one bounded read, not a recompute.
    val exact = Jobs.pin(Dedup.exact(scored, textCol, idCol), "prep_corpus", "exact")
    val held = DriverRows.hold(exact, "prep_corpus", "hold", Dedup.MaxDriverDocs)
    // The survivors are read from the barrier, not from the held rows: a
    // local relation would spread the caller's write over one file per
    // core, where the barrier keeps its own partitioning.
    Jobs.labelled(docs.sparkSession, "prep_corpus", "near_dup") {
      val pairs = Dedup.minhashLshPairs(held.getOrElse(exact), textCol, idCol, n, bands,
        rowsPerBand, threshold)
      Dedup.resolvePairs(exact, pairs, idCol)
    }.select(col(idCol), col("lang_pred"), col("quality"), col("n_tokens"))
  }

  /** The round-3 composed CURATION pipeline — the filter/scrub/split/pack
    * stages around dedup, composed end-to-end:
    *
    *   1. Gopher quality filter ([[QualityFilters.keepOf]], narrow) and
    *      eval-set exclusion;
    *   2. benchmark decontamination ([[Decontaminate.overlap]] anti-join
    *      — eval grams broadcast, corpus side narrow);
    *   3. sub-document chunk-dedup gate ([[ChunkDedup.stats]]: drop docs
    *      whose kept-chunk ratio falls below `minKeptRatio`);
    *   4. deterministic train/val/test split ([[Splits.splitOf]], pure
    *      function of the id);
    *   5. sequence packing per split ([[Packing.assign]]).
    *
    * Output manifest: (idCol, split, n_tokens, pack_id, pack_offset,
    * n_spans) — what a training loader consumes. Every stage is gated
    * on its own elsewhere; the DuckDB twin composes the same stage
    * oracles, so the whole flow is hash-checked end-to-end.
    */
  def curateCorpus(docs: DataFrame, textCol: String, idCol: String,
                   evalPred: Column, nGram: Int = 3, chunkTokens: Int = 8,
                   minKeptRatio: Double = 0.9, ctxLen: Int = 512,
                   trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    // Gate lists are tiny (doc ids) but sit on top of expensive
    // subtrees, so each is pinned ONCE (README "Eager jobs") and the
    // corpus joins against the pinned list. Two reasons:
    //   1. `clean` has several downstream consumers — without the
    //      barrier every consumer re-runs decontamination's explode
    //      +join and the quality filter;
    //   2. filtering directly on keepOf(...) lets PushDownPredicate
    //      substitute the token-split into EVERY stat reference inside
    //      the predicate (~10 re-splits per row, interpreted HOFs —
    //      measured 3× the whole pipeline). Projecting the verdict
    //      first and filtering AFTER the checkpoint barrier keeps the
    //      split bound once.
    val keptIds = Jobs.pin(Dedup.rebalance(docs)
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), QualityFilters.keepOf(col("_w")).as("_keep"),
        evalPred.as("_ev")), "curate_corpus", "kept")
      .filter(col("_keep") === 1L && !col("_ev"))
      .select(col(idCol))
    val contaminated = Jobs.pin(Decontaminate
      .overlap(docs, textCol, idCol, evalPred, nGram)
      .select(col(idCol)), "curate_corpus", "contaminated")
    val clean = docs.join(keptIds, Seq(idCol), "left_semi")
      .join(contaminated, Seq(idCol), "left_anti")
    // NOTE: documents whose text yields zero chunks (empty/whitespace
    // text) have no ChunkDedup.stats row, so the inner join below drops
    // them — the chunk-dedup gate excludes empty docs by construction
    // (the oracle mirrors this; Packing's empty-doc spans-1 convention
    // applies only to docs that reach the packing stage).
    val lowDup = Jobs.pin(ChunkDedup.stats(clean, textCol, idCol, chunkTokens)
      .filter(col("kept_ratio") >= minKeptRatio)
      .select(col(idCol)), "curate_corpus", "low_dup")
    val survivors = clean.join(lowDup, Seq(idCol))
    Packing.assign(
      survivors.withColumn("split", Splits.splitOf(col(idCol), trainPct, valPct)),
      textCol, idCol, "split", ctxLen)
  }

  /** DuckDB oracle for [[curateCorpus]]: the stage oracles composed as
    * derived tables (each `duck*` builder is a self-contained
    * `WITH … SELECT`, legal in a parenthesized subquery).
    */
  def duckCurateCorpus(tbl: String, textCol: String, idCol: String,
                       evalPredSql: String, nGram: Int = 3,
                       chunkTokens: Int = 8, minKeptRatio: Double = 0.9,
                       ctxLen: Int = 512, trainPct: Int = 80,
                       valPct: Int = 10): String =
    s"""WITH kept AS (
       |  SELECT $idCol, $textCol
       |  FROM (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $tbl) d
       |  WHERE ${QualityFilters.duckKeep} = 1 AND NOT ($evalPredSql)),
       |clean AS (
       |  SELECT * FROM kept WHERE $idCol NOT IN (
       |    SELECT $idCol FROM (${Decontaminate.duckOverlap(tbl, textCol, idCol, evalPredSql, nGram)}) o)),
       |surv AS (
       |  SELECT clean.* FROM clean
       |  JOIN (SELECT $idCol FROM (${ChunkDedup.duckStats("clean", textCol, idCol, chunkTokens)}) c
       |        WHERE kept_ratio >= $minKeptRatio) lowdup USING ($idCol)),
       |sp AS (SELECT *, ${Splits.duckSplit(idCol, trainPct, valPct)} AS split FROM surv)
       |SELECT * FROM (${Packing.duckAssign("sp", textCol, idCol, "split", ctxLen)}) packed""".stripMargin

  /** DuckDB oracle for [[prepCorpus]]: stages 1–3 mirrored directly, the
    * LSH pair search replaced by the exact pairwise ground truth
    * ([[Dedup.duckPairCtes]]), clusters closed by a recursive CTE.
    */
  def duckPrepCorpus(tbl: String, textCol: String, idCol: String,
                     lang: String, minQuality: Double,
                     n: Int, threshold: Double): String =
    s"""WITH scored AS (
       |  SELECT $idCol, $textCol,
       |         ${TextAnalysis.duckLangId} AS lang_pred,
       |         ${TextAnalysis.duckQualityScore(textCol)} AS quality,
       |         ${TextAnalysis.duckTokenCount} AS n_tokens
       |  FROM (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $tbl) d),
       |filt AS (
       |  SELECT * FROM scored WHERE lang_pred = '$lang' AND quality >= $minQuality),
       |ded AS (
       |  SELECT * FROM filt
       |  WHERE $idCol IN (SELECT min($idCol) FROM filt GROUP BY $textCol)),
       |${Dedup.duckPairCtes("ded", textCol, idCol, n, "TRUE")},
       |np AS (SELECT id_a, id_b FROM p WHERE jaccard >= $threshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM np
       |      UNION SELECT id_b, id_a FROM np),
       |cc AS (
       |  WITH RECURSIVE reach(id, lbl) AS (
       |    SELECT src, src FROM e
       |    UNION
       |    SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.id)
       |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
       |SELECT $idCol, lang_pred, quality, n_tokens FROM ded
       |WHERE $idCol NOT IN (SELECT id FROM cc WHERE id <> lbl)""".stripMargin

  /** The span-level curation pipeline — the round-7 rewrite family
    * composed end-to-end the way a cleaning pass would actually run:
    *
    *   1. corpus-boilerplate chunk removal
    *      ([[ChunkDedup.stripBoilerplate]], C4's repeated-line rule);
    *   2. verbatim duplicated-span cutting on the CLEANED text
    *      ([[DupSpan.strip]], the ExactSubstr rewrite — stage order
    *      matters: boilerplate is removed corpus-wide first so it
    *      cannot masquerade as a document-pair shared span);
    *   3. model-based quality floor on the final text
    *      ([[graft.functions.QualityFilters.classifierScoreOf]]).
    *
    * Output: (idCol, n_tokens, n_cut_spans, q_score) for surviving
    * documents. Each stage is oracle-gated alone; this gate re-proves
    * them composed, with the DuckDB twin nesting the same three
    * mirrors.
    */
  def curateSpans(docs: DataFrame, textCol: String, idCol: String,
                  chunkTokens: Int, minDocs: Int,
                  k: Int, minRun: Int, minScore: Double): DataFrame = {
    // Materialize the cleaned corpus ONCE before the span pass:
    // DupSpan.strip scans its input twice (the interval subtree and the
    // join-back side), and stage 1 is a corpus-wide chunk-key exchange —
    // without the barrier the boilerplate strip re-executes per consumer
    // (measured ~2 s of the composed query's 5.7 s at sf0.1; at 100 TB
    // it is a full extra pass over the corpus; README "Eager jobs").
    val s1 = Jobs.pin(ChunkDedup.stripBoilerplate(docs, textCol, idCol, chunkTokens, minDocs)
      .select(col(idCol), col("clean_text").as(textCol)), "curate_spans", "clean")
    val s2 = DupSpan.strip(s1, textCol, idCol, k, minRun)
    // Score, BARRIER, then floor: letting the q_score filter push past
    // the projection substitutes the whole classifier (token split
    // inlined per reference) into the predicate and computes the stage
    // twice — see the curateSplits note; same measured pathology.
    Jobs.pin(s2.withColumn("_w", TextAnalysis.tokens(col("clean_text")))
      .select(col(idCol),
        size(col("_w")).cast("long").as("n_tokens"),
        col("n_cut").as("n_cut_spans"),
        QualityFilters.classifierScoreOf(col("_w")).as("q_score")), "curate_spans", "score")
      .filter(col("q_score") >= minScore)
  }

  /** The late-round-9 composed recipe: canonical-form exact dedup
    * (CCNet/Dolma fuzzy-exact tier) → classifier quality floor →
    * LEAKAGE-FREE cluster-aware split ([[Splits.clusterSplit]] — near
    * dups can never straddle train/test) → per-split manifest
    * (documents, tokens). The kept corpus is checkpointed once before
    * the pair stage (the [[curateSpans]] barrier argument: three
    * consumers, and the pair search is the expensive stage).
    */
  def curateSplits(docs: DataFrame, textCol: String, idCol: String,
                   minScore: Double, trainPct: Int, valPct: Int,
                   pairMaxDocId: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_cfp"))
    val canon = docs.select(col(idCol), col(textCol))
      .withColumn("_cfp", TextAnalysis.fingerprint(
        TextAnalysis.canonicalText(col(textCol))))
    val dedup = canon
      .withColumn("_min", min(col(idCol)).over(w))
      .filter(col(idCol) === col("_min"))
    // Checkpoint BEFORE the floor, not after: PushDownPredicates
    // substitutes the filter's `_q` alias with the full classifier
    // expression — inlining the token split into its ~10 references —
    // and the floor then recomputes everything the projection also
    // computes (measured 7.9 s vs 1.7 s for this stage at sf0.1). The
    // barrier keeps the score computed ONCE; the floor is then a
    // trivial predicate over materialized columns.
    val kept = Jobs.pin(dedup
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .withColumn("_q", QualityFilters.classifierScoreOf(col("_w")))
      .select(col(idCol), col(textCol), col("_q"),
        size(col("_w")).cast("long").as("_nt")), "curate_splits", "kept")
      .filter(col("_q") >= minScore)
      .drop("_q")
    val pairs = Dedup.ngramJaccardPairs(kept, textCol, idCol,
      n = 3, threshold = 0.5, maxDocId = pairMaxDocId)
    Splits.clusterSplit(kept.select(col(idCol)), pairs, idCol, trainPct, valPct)
      .join(kept, idCol)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
  }

  /** DuckDB oracle for [[curateSplits]] — canonical dedup, classifier
    * floor, and the cluster-split mirror nested as a CTE.
    */
  def duckCurateSplits(tbl: String, textCol: String, idCol: String,
                       minScore: Double, trainPct: Int, valPct: Int,
                       pairMaxDocId: Long): String = {
    val canon = TextAnalysis.duckFingerprint(TextAnalysis.duckCanonicalText(textCol))
    val lab = Splits.duckClusterSplitNgram("kept", textCol, idCol,
      n = 3, threshold = 0.5, maxDocId = pairMaxDocId,
      trainPct = trainPct, valPct = valPct)
    s"""WITH c0 AS (SELECT $idCol, $textCol, $canon AS cfp FROM $tbl),
       |dd AS (SELECT $idCol, $textCol FROM c0
       |       WHERE $idCol IN (SELECT min($idCol) FROM c0 GROUP BY cfp)),
       |kept AS (
       |  SELECT $idCol, $textCol, CAST(len(w) AS BIGINT) AS nt
       |  FROM (SELECT $idCol, $textCol,
       |               ${TextAnalysis.duckTokensBind(textCol)} AS w FROM dd) x
       |  WHERE ${QualityFilters.duckClassifierScore} >= $minScore),
       |lab AS ($lab)
       |SELECT l.split, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(k.nt) AS BIGINT) AS n_tokens
       |FROM lab l JOIN kept k USING ($idCol)
       |GROUP BY l.split""".stripMargin
  }

  /** DuckDB oracle for [[curateSpans]] — the three stage mirrors nested
    * verbatim (each keeps its own WITH scope inside a subquery).
    */
  def duckCurateSpans(tbl: String, textCol: String, idCol: String,
                      chunkTokens: Int, minDocs: Int,
                      k: Int, minRun: Int, minScore: Double): String = {
    val s1 = s"(SELECT $idCol, clean_text AS $textCol FROM (" +
      ChunkDedup.duckStripBoilerplate(tbl, textCol, idCol, chunkTokens, minDocs) +
      ") s1_out)"
    val s2 = "(" + DupSpan.duckStrip(s1, textCol, idCol, k, minRun) + ")"
    s"""WITH b AS (SELECT $idCol, n_cut,
       |                  ${TextAnalysis.duckTokensBind("clean_text")} AS w
       |           FROM $s2 s2_out)
       |SELECT $idCol,
       |       CAST(len(w) AS BIGINT) AS n_tokens,
       |       n_cut AS n_cut_spans,
       |       ${QualityFilters.duckClassifierScore} AS q_score
       |FROM b
       |WHERE ${QualityFilters.duckClassifierScore} >= $minScore""".stripMargin
  }

  /** COMPOSED CORPUS HEALTH REPORT — the monitoring dashboard a data
    * team runs per snapshot, assembled from this library's own
    * diagnostics into one (metric, value) frame: volume (docs,
    * tokens), phrase diversity ([[Novelty.distinctNgramRatio]] at
    * corpus level — synthetic-collapse canary), the Zipf exponent
    * ([[Zipf.fit]] — natural-language shape), mean per-doc unigram
    * entropy ([[Entropy.docEntropy]] — information density), and the
    * language-mix entropy (mixture balance). Every constituent keeps
    * its own scale shape; the report adds only 1-row unions.
    *
    * Float parity: means and mixture entropies are quantized-integer
    * sums ([[Drift.Quantum]] / 1e6 patterns) — aggregation order never
    * moves a bit.
    * Output: (metric, value) — 6 rows, all DOUBLE.
    */
  def healthReport(docs: DataFrame, textCol: String, idCol: String,
                   langCol: String): DataFrame = {
    val totals = docs.withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .agg(count(lit(1)).as("_n"), sum(size(col("_w")).cast("long")).as("_t"))
    val m1 = totals.select(lit("n_docs").as("metric"),
      col("_n").cast("double").as("value"))
    val m2 = totals.select(lit("n_tokens").as("metric"),
      col("_t").cast("double").as("value"))
    val m3 = Novelty.distinctNgramRatio(
        docs.withColumn("_all", lit("all")), textCol, "_all", 3)
      .select(lit("distinct_3gram_ratio").as("metric"), col("ratio").as("value"))
    val m4 = Zipf.fit(docs, textCol, topN = 100)
      .select(lit("zipf_alpha").as("metric"), col("alpha").as("value"))
    val m5 = Entropy.docEntropy(docs, textCol, idCol)
      .agg(sum(floor(col("entropy") * 1000000.0 + 0.5).cast("long")).as("_sq"),
        count(lit(1)).as("_nd"))
      .select(lit("mean_entropy").as("metric"),
        round(col("_sq").cast("double")
          / (col("_nd").cast("double") * 1000000.0), 6).as("value"))
    val lc = docs.groupBy(col(langCol)).agg(count(lit(1)).as("_c"))
    val m6 = lc.crossJoin(broadcast(lc.agg(sum(col("_c")).as("_nn"))))
      .select(floor(
        (-(col("_c").cast("double") / col("_nn").cast("double"))
          * log(col("_c").cast("double") / col("_nn").cast("double")))
          * lit(Drift.Quantum) + 0.5).cast("long").as("_tq"))
      .agg(sum(col("_tq")).as("_q"))
      .select(lit("lang_entropy").as("metric"),
        round(col("_q").cast("double") / Drift.Quantum, 6).as("value"))
    m1.unionByName(m2).unionByName(m3).unionByName(m4)
      .unionByName(m5).unionByName(m6)
  }

  /** CAP-DROP accounting — the recall cost of every skew-guard cap as
    * queryable (metric, value) rows, unioned into the health report by
    * the q_health_report gate. Each capped operator family contributes
    * its census at the production/gate default parameters:
    *
    *   - `sharedsub_prefix_cap_*`: suffix rows in prefix buckets above
    *     the [[SharedSubstrings.topShared]] cap;
    *   - `semdedup_cell_cap_*`: rows in k-means cells above
    *     [[SemDedup.MaxCellSize]];
    *   - `lsh_bucket_cap_*`: band-bucket rows above
    *     [[Dedup.DefaultMaxBucketSize]].
    *
    * Per family: `_drop_rows` (absolute) and `_drop_rate`
    * (rows dropped / rows bucketed, 0.0 on an empty census) — so a
    * monitoring consumer sees the caps' data loss next to the corpus
    * health metrics instead of digging through `observe` listeners and
    * stderr notes.
    */
  def capDropReport(docs: DataFrame, textCol: String, idCol: String,
                    emb: DataFrame, vecCol: String, embIdCol: String): DataFrame = {
    def rows(census: DataFrame, family: String): DataFrame = {
      val rate = when(col("total_rows") === 0L, lit(0.0))
        .otherwise(round(col("dropped_rows").cast("double")
          / col("total_rows").cast("double"), 6))
      census.select(
        explode(array(
          struct(lit(s"${family}_drop_rows").as("metric"),
            col("dropped_rows").cast("double").as("value")),
          struct(lit(s"${family}_drop_rate").as("metric"),
            rate.as("value")))).as("_m"))
        .select(col("_m.metric").as("metric"), col("_m.value").as("value"))
    }
    rows(SharedSubstrings.capDropCount(docs, textCol, idCol),
        "sharedsub_prefix_cap")
      .unionByName(rows(SemDedup.cellCapDropCount(emb, vecCol, embIdCol,
        k = 8, iters = 2), "semdedup_cell_cap"))
      .unionByName(rows(Dedup.lshCapDropCount(docs, textCol, idCol,
        n = 3, bands = 42, rowsPerBand = 3), "lsh_bucket_cap"))
  }

  /** DuckDB twin of [[capDropReport]]. The sharedsub and semdedup
    * censuses mirror exactly; the LSH bucket keys are xxhash64-chained
    * MinHash slices DuckDB cannot express, so its rows pin the ZERO
    * the cap provably drops at fixture scale — a fixture change that
    * trips the cap turns the gate red loudly instead of silently
    * shifting recall.
    */
  def duckCapDropReport(tbl: String, textCol: String, idCol: String,
                        embTbl: String, vecCol: String, embIdCol: String,
                        dim: Int): String = {
    def rows(censusSql: String, family: String): String =
      s"""SELECT '${family}_drop_rows' AS metric,
         |       CAST(dropped_rows AS DOUBLE) AS value
         |FROM ($censusSql)
         |UNION ALL
         |SELECT '${family}_drop_rate',
         |       CASE WHEN total_rows = 0 THEN 0.0
         |            ELSE round(CAST(dropped_rows AS DOUBLE)
         |                       / CAST(total_rows AS DOUBLE), 6) END
         |FROM ($censusSql)""".stripMargin
    s"""${rows(SharedSubstrings.duckCapDropCount(tbl, textCol, idCol),
          "sharedsub_prefix_cap")}
       |UNION ALL
       |${rows(SemDedup.duckCellCapDropCount(embTbl, vecCol, embIdCol,
          k = 8, iters = 2, dim = dim), "semdedup_cell_cap")}
       |UNION ALL
       |SELECT 'lsh_bucket_cap_drop_rows', 0.0
       |UNION ALL
       |SELECT 'lsh_bucket_cap_drop_rate', 0.0""".stripMargin
  }

  /** DuckDB oracle twin of [[healthReport]] — every constituent's
    * mirror unioned.
    */
  def duckHealthReport(tbl: String, textCol: String, idCol: String,
                       langCol: String): String = {
    val q = Drift.Quantum
    s"""SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM $tbl
       |UNION ALL
       |SELECT 'n_tokens', CAST(sum(len(w)) AS DOUBLE)
       |FROM (SELECT ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $tbl)
       |UNION ALL
       |SELECT 'distinct_3gram_ratio', ratio
       |FROM (${Novelty.duckDistinctNgramRatio(tbl, textCol, "'all'", 3)})
       |UNION ALL
       |SELECT 'zipf_alpha', alpha FROM (${Zipf.duckFit(tbl, textCol, 100)})
       |UNION ALL
       |SELECT 'mean_entropy',
       |       round(CAST(sum(CAST(floor(entropy * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |             / (CAST(count(*) AS DOUBLE) * 1000000.0), 6)
       |FROM (${Entropy.duckDocEntropy(tbl, textCol, idCol)})
       |UNION ALL
       |SELECT 'lang_entropy',
       |       round(CAST(sum(CAST(floor(
       |         (-(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
       |          * ln(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))) * $q + 0.5)
       |         AS BIGINT)) AS DOUBLE) / $q, 6)
       |FROM (SELECT $langCol, count(*) AS c FROM $tbl GROUP BY 1),
       |     (SELECT count(*) AS nn FROM $tbl)""".stripMargin
  }
}
