package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Zipf-law fit of the corpus term distribution — the corpus-profiling
  * diagnostic (a healthy natural-language corpus has log(freq) ≈
  * c − α·log(rank) with α ≈ 1; a bot-generated or template-heavy crawl
  * shows up as a visibly different exponent or a poor fit).
  *
  * OLS of y = ln(freq) on x = ln(rank) over the TOP `topN` terms:
  *   slope = (N·Σxy − Σx·Σy) / (N·Σxx − Σx²),  α = −slope,
  *   c = (Σy − slope·Σx) / N.
  *
  * Determinism across engines: ranks are (count DESC, term ASC)
  * tie-broken, and every fp sum is a LEFT FOLD over the rank-sorted
  * list (the [[Idf]] convention) — so both engines add identical IEEE
  * doubles in identical order and the 6 dp outputs match exactly.
  *
  * Scale shape: one token-key exchange to term counts (vocab-sized
  * output), a TakeOrdered top-N (per-partition heaps — never a global
  * sort of the vocabulary), then all remaining work happens on ≤ topN
  * rows collapsed to ONE list row. The head of the distribution is
  * statistically where a Zipf fit is meaningful anyway — the tail is
  * dominated by hapax noise.
  */
object Zipf {

  /** One-row fit: (n_terms, alpha, intercept). */
  def fit(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val counts = Dedup.rebalance(docs)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_n"))
    val top = counts.orderBy(col("_n").desc, col("_t").asc).limit(topN)
    // topN rows: the rank window is over the already-bounded head.
    val ranked = top.withColumn("_r",
      row_number().over(Window.orderBy(col("_n").desc, col("_t").asc)))
    def fold(l: Column, f: Column => Column): Column =
      aggregate(l, lit(0.0), (acc, s) => acc + f(s))
    ranked
      .agg(sort_array(collect_list(struct(col("_r"), col("_n")))).as("_l"),
        count(lit(1)).as("n_terms"))
      .select(col("n_terms"), col("_l"))
      .withColumn("_sx", fold(col("_l"), s => log(s.getField("_r").cast("double"))))
      .withColumn("_sy", fold(col("_l"), s => log(s.getField("_n").cast("double"))))
      .withColumn("_sxx", fold(col("_l"),
        s => log(s.getField("_r").cast("double")) * log(s.getField("_r").cast("double"))))
      .withColumn("_sxy", fold(col("_l"),
        s => log(s.getField("_r").cast("double")) * log(s.getField("_n").cast("double"))))
      .withColumn("_nd", col("n_terms").cast("double"))
      .withColumn("_slope",
        (col("_nd") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_nd") * col("_sxx") - col("_sx") * col("_sx")))
      .select(col("n_terms"),
        round(-col("_slope"), 6).as("alpha"),
        round((col("_sy") - col("_slope") * col("_sx")) / col("_nd"), 6)
          .as("intercept"))
  }

  /** DuckDB oracle for [[fit]] — same ranks, same rank-sorted left
    * folds, same final arithmetic.
    */
  def duckFit(tbl: String, textCol: String, topN: Int): String = {
    def fold(expr: String): String =
      s"""list_reduce(list_prepend(0.0, list($expr ORDER BY r)),
         |            (acc, x) -> acc + x)""".stripMargin
    s"""WITH d AS (SELECT ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $tbl),
       |c AS (SELECT t, count(*) AS n
       |      FROM (SELECT unnest(w) AS t FROM d) GROUP BY t
       |      ORDER BY n DESC, t ASC LIMIT $topN),
       |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, t ASC) AS r FROM c),
       |s AS (SELECT count(*) AS n_terms,
       |             ${fold("ln(CAST(r AS DOUBLE))")} AS sx,
       |             ${fold("ln(CAST(n AS DOUBLE))")} AS sy,
       |             ${fold("ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))")} AS sxx,
       |             ${fold("ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE))")} AS sxy
       |      FROM r)
       |SELECT n_terms,
       |       round(-((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |               / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)), 6) AS alpha,
       |       round((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |                    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
       |             / CAST(n_terms AS DOUBLE), 6) AS intercept
       |FROM s""".stripMargin
  }

  /** Heaps'-law fit of vocabulary growth — the other vocabulary scaling
    * diagnostic next to [[fit]]: V(N) ≈ K·N^β (β ≈ 0.4–0.6 for natural
    * language; template spam flattens β, random noise pushes it to 1).
    * Answers "how much NEW vocabulary does the next 10 TB of crawl
    * buy?" — the marginal-value curve of more data.
    *
    * The growth curve is measured over `nBuckets` id-range prefixes of
    * the corpus WITHOUT any sequential scan: a token first appears in
    * prefix k iff its MINIMUM bucket is k (bucket is monotonic in id),
    * so one token-keyed `min` aggregate replaces the inherently
    * sequential "scan docs in order, count new words" loop — the
    * cumulative vocabulary is then a prefix sum over the nBuckets-row
    * first-bucket histogram. Bucket membership is integer arithmetic
    * (`((id−lo)·B) div (hi−lo+1)`, capped) — no float boundaries.
    *
    * OLS of ln V on ln N over the (≤ nBuckets) cumulative points uses
    * the same rank-sorted LEFT-FOLD fp sums as [[fit]], so both engines
    * add identical doubles in identical order. Buckets holding no
    * documents are absent from the output (and from both engines'
    * fits); points with zero cumulative tokens are excluded from the
    * regression.
    *
    * Scale shape: one doc-scan for per-bucket token sums, one
    * token-keyed exchange for first-buckets (vocab-sized output, map-
    * side combinable `min`), then everything runs on ≤ nBuckets rows.
    *
    * Output (one row per non-empty bucket): (bucket, cum_tokens,
    * cum_vocab, beta, log_k) — beta/log_k repeated on every row, NULL
    * when fewer than two distinct fit points exist.
    */
  def heapsFit(docs: DataFrame, textCol: String, idCol: String,
               nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "heapsFit: need at least two prefix buckets")
    val base = Dedup.rebalance(docs).select(
      col(idCol).cast("long").as("_id"),
      TextAnalysis.tokens(col(textCol)).as("_w"))
    val bounds = base.agg(min(col("_id")).as("_lo"), max(col("_id")).as("_hi"))
    val withB = base.crossJoin(bounds).withColumn("_b",
      least(lit(nBuckets - 1L),
        expr(s"((_id - _lo) * $nBuckets) div (_hi - _lo + 1)")))
    // ONE corpus scan: the (bucket, token) count table serves both the
    // per-bucket token sums and the first-bucket vocabulary histogram —
    // its cardinality is ≤ vocab·nBuckets (vocab-sized), so the stage
    // barrier is cheap and stops the token+size branches from each
    // re-reading the corpus (the chiSquared/Pipeline barrier pattern).
    // Docs whose token list is empty contribute no rows, so a bucket
    // holding only empty docs is absent — mirrored in the oracle.
    val grouped = graft.Jobs.pin(withB.select(col("_b"), explode(col("_w")).as("_t"))
      .groupBy(col("_b"), col("_t")).agg(count(lit(1)).as("_c")), "heaps_fit", "counts")
    val toks = grouped.groupBy(col("_b")).agg(sum(col("_c")).as("_toks"))
    val voc = grouped.groupBy(col("_t")).agg(min(col("_b")).as("_fb"))
      .groupBy(col("_fb").as("_b")).agg(count(lit(1)).as("_voc"))
    val upTo = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = toks.join(voc, Seq("_b"), "full_outer")
      .select(col("_b"),
        coalesce(col("_toks"), lit(0L)).as("_tk"),
        coalesce(col("_voc"), lit(0L)).as("_vc"))
      .withColumn("cum_tokens", sum(col("_tk")).over(upTo))
      .withColumn("cum_vocab", sum(col("_vc")).over(upTo))
    def fold(l: Column, f: Column => Column): Column =
      aggregate(l, lit(0.0), (acc, s) => acc + f(s))
    def lnN(s: Column) = log(s.getField("_n").cast("double"))
    def lnV(s: Column) = log(s.getField("_v").cast("double"))
    val fitRow = cum.filter(col("cum_tokens") > 0)
      .agg(sort_array(collect_list(struct(col("_b"),
        col("cum_tokens").as("_n"), col("cum_vocab").as("_v")))).as("_l"),
        count(lit(1)).as("_np"))
      .withColumn("_sx", fold(col("_l"), lnN))
      .withColumn("_sy", fold(col("_l"), lnV))
      .withColumn("_sxx", fold(col("_l"), s => lnN(s) * lnN(s)))
      .withColumn("_sxy", fold(col("_l"), s => lnN(s) * lnV(s)))
      .withColumn("_nd", col("_np").cast("double"))
      .withColumn("_den",
        col("_nd") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("_slope", // ANSI: divide only when the guard holds
        when(col("_den") =!= 0.0,
          (col("_nd") * col("_sxy") - col("_sx") * col("_sy")) / col("_den")))
      .select(
        when(col("_np") >= 2 && col("_den") =!= 0.0,
          round(col("_slope"), 6)).as("beta"),
        when(col("_np") >= 2 && col("_den") =!= 0.0,
          round((col("_sy") - col("_slope") * col("_sx")) / col("_nd"), 6))
          .as("log_k"))
    cum.select(col("_b").as("bucket"), col("cum_tokens"), col("cum_vocab"))
      .crossJoin(fitRow)
  }

  /** DuckDB oracle twin of [[heapsFit]]. */
  def duckHeapsFit(tbl: String, textCol: String, idCol: String,
                   nBuckets: Int = 10): String = {
    def fold(expr: String): String =
      s"""list_reduce(list_prepend(0.0, list($expr ORDER BY b)),
         |            (acc, x) -> acc + x)""".stripMargin
    s"""WITH d AS (SELECT CAST($idCol AS BIGINT) AS id,
       |                  ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl),
       |bounds AS (SELECT min(id) AS lo, max(id) AS hi FROM d),
       |wb AS (SELECT least(${nBuckets - 1},
       |                    ((id - lo) * $nBuckets) // (hi - lo + 1)) AS b, w
       |       FROM d, bounds),
       |grouped AS (SELECT b, t, count(*) AS c
       |            FROM (SELECT b, unnest(w) AS t FROM wb) GROUP BY 1, 2),
       |toks AS (SELECT b, CAST(sum(c) AS BIGINT) AS tk
       |         FROM grouped GROUP BY 1),
       |firstb AS (SELECT t, min(b) AS fb FROM grouped GROUP BY t),
       |voc AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS vc
       |        FROM firstb GROUP BY 1),
       |spine AS (SELECT coalesce(toks.b, voc.b) AS b,
       |                 coalesce(tk, 0) AS tk, coalesce(vc, 0) AS vc
       |          FROM toks FULL JOIN voc ON toks.b = voc.b),
       |cum AS (SELECT b,
       |               CAST(sum(tk) OVER (ORDER BY b) AS BIGINT) AS cum_tokens,
       |               CAST(sum(vc) OVER (ORDER BY b) AS BIGINT) AS cum_vocab
       |        FROM spine),
       |pts AS (SELECT * FROM cum WHERE cum_tokens > 0),
       |s AS (SELECT count(*) AS np,
       |             ${fold("ln(CAST(cum_tokens AS DOUBLE))")} AS sx,
       |             ${fold("ln(CAST(cum_vocab AS DOUBLE))")} AS sy,
       |             ${fold("ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_tokens AS DOUBLE))")} AS sxx,
       |             ${fold("ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_vocab AS DOUBLE))")} AS sxy
       |      FROM pts),
       |f AS (SELECT np, sx, sy,
       |             CAST(np AS DOUBLE) * sxx - sx * sx AS den,
       |             (CAST(np AS DOUBLE) * sxy - sx * sy)
       |               / (CAST(np AS DOUBLE) * sxx - sx * sx) AS slope
       |      FROM s)
       |SELECT b AS bucket, cum_tokens, cum_vocab,
       |       CASE WHEN np >= 2 AND den <> 0.0 THEN round(slope, 6)
       |       END AS beta,
       |       CASE WHEN np >= 2 AND den <> 0.0 THEN
       |         round((sy - slope * sx) / CAST(np AS DOUBLE), 6)
       |       END AS log_k
       |FROM cum, f""".stripMargin
  }
}
