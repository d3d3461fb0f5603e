package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Single-pass data profiling and expectation checking — the quality gate
  * a training-data pipeline runs before committing a corpus snapshot
  * ("row count sane? key unique? null fractions in bounds? value ranges
  * unchanged?"), in the spirit of Deequ/Great-Expectations but as plain
  * Catalyst aggregates.
  *
  * Scale shape: ONE aggregate pass computes every metric for every
  * profiled column (Spark plans the multi-column exact distincts as a
  * single Expand + two-stage aggregate — one scan of the data, rows
  * multiplied by #distinct-columns+1 map-side, all partials combinable).
  * The per-column report rows come from `stack` over the single result
  * row — driver-side state is one row regardless of input size. No
  * per-column scans, no collect of data-scale rows.
  *
  * Engine parity: counts are exact BIGINTs (null counts via
  * `count(*) - count(col)`, never SUM(CASE) — DuckDB's integer SUM
  * returns HUGEINT and would break schema parity); min/max/mean are cast
  * to DOUBLE with the one mean division rounded to 6 decimals (long sums
  * are exact, so partial-agg order cannot perturb the quotient).
  */
object Profile {

  /** Pairwise Pearson CORRELATION MATRIX over numeric columns — the
    * redundancy screen of the column profiler (|r| ≈ 1 columns are
    * derivable from each other; near-0 ones are independent signals).
    *
    * Determinism: doubles are QUANTIZED to fixed-point integers
    * (floor(x·scale) — same floor both engines) so every moment (Σx,
    * Σy, Σxy, Σx², Σy²) is an exact BIGINT accumulated order-
    * independently; r is one √-quotient at the end (the
    * [[EventStats.dailyAcf]] arithmetic). Each column carries its own
    * quantization `scale` (units per 1.0): pick it so
    * rows · (max|x|·scale)² stays under 2⁶³ — ANSI mode throws loudly
    * on a bad pick rather than wrapping silently. Quantization bias on
    * r is O(1/(scale·σ)) — far below the 6-dp output rounding for sane
    * picks, and Pearson r is scale-invariant so the per-column scales
    * introduce no bias beyond granularity.
    *
    * Scale shape: ONE full-scan aggregate computes all k·(k−1)/2 pair
    * moments map-side combinably — never k² passes. NULL rows are
    * excluded PER PAIR (pairwise-complete semantics).
    *
    * Output: (col_a, col_b, n, corr) for each unordered pair, NULL on
    * zero variance.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Long)]): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    val scaleOf = cols.toMap
    def q(c: String) =
      floor(col(c).cast("double") * scaleOf(c).toDouble).cast("long")
    val pairs = cols.map(_._1).combinations(2)
      .map { case Seq(a, b) => (a, b) }.toSeq
    val aggs = pairs.flatMap { case (a, b) =>
      val p = s"${a}__$b"
      val both = col(a).isNotNull && col(b).isNotNull
      val (x, y) = (when(both, q(a)), when(both, q(b)))
      Seq(
        count(when(both, lit(1))).as(s"n__$p"),
        coalesce(sum(x), lit(0L)).as(s"sx__$p"),
        coalesce(sum(y), lit(0L)).as(s"sy__$p"),
        coalesce(sum(x * y), lit(0L)).as(s"sxy__$p"),
        coalesce(sum(x * x), lit(0L)).as(s"sxx__$p"),
        coalesce(sum(y * y), lit(0L)).as(s"syy__$p"))
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    // Moment combination in DECIMAL(38,0) (DuckDB mirror: HUGEINT):
    // n·Σx² can overflow BIGINT even when every raw moment fits — the
    // 128-bit stage keeps the combination EXACT, and the final
    // double conversion of identical exact integers is identical.
    def d38(c: Column) = c.cast("decimal(38,0)")
    val rows = pairs.map { case (a, b) =>
      val p = s"${a}__$b"
      val (n, sx, sy) = (col(s"n__$p"), col(s"sx__$p"), col(s"sy__$p"))
      val (sxy, sxx, syy) = (col(s"sxy__$p"), col(s"sxx__$p"), col(s"syy__$p"))
      val dx = d38(n) * d38(sxx) - d38(sx) * d38(sx)
      val dy = d38(n) * d38(syy) - d38(sy) * d38(sy)
      val num = d38(n) * d38(sxy) - d38(sx) * d38(sy)
      struct(lit(a).as("col_a"), lit(b).as("col_b"), n.as("n"),
        when(dx > lit(0) && dy > lit(0),
          round(num.cast("double")
            / sqrt(dx.cast("double") * dy.cast("double")), 6)).as("corr"))
    }
    m.select(explode(array(rows: _*)).as("_r"))
      .select(col("_r.col_a"), col("_r.col_b"), col("_r.n"), col("_r.corr"))
  }

  /** DuckDB oracle twin of [[corrMatrix]]. */
  def duckCorrMatrix(rel: String, cols: Seq[(String, Long)]): String = {
    val scaleOf = cols.toMap
    val pairs = cols.map(_._1).combinations(2)
      .map { case Seq(a, b) => (a, b) }.toSeq
    val selects = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |       CASE WHEN (hn * hsxx - hsx * hsx) > 0 AND (hn * hsyy - hsy * hsy) > 0
         |            THEN round(CAST(hn * hsxy - hsx * hsy AS DOUBLE)
         |                       / sqrt(CAST(hn * hsxx - hsx * hsx AS DOUBLE)
         |                              * CAST(hn * hsyy - hsy * hsy AS DOUBLE)), 6)
         |            END AS corr
         |FROM (SELECT n, CAST(n AS HUGEINT) AS hn,
         |             CAST(sx AS HUGEINT) AS hsx, CAST(sy AS HUGEINT) AS hsy,
         |             CAST(sxy AS HUGEINT) AS hsxy, CAST(sxx AS HUGEINT) AS hsxx,
         |             CAST(syy AS HUGEINT) AS hsyy FROM (
         |      SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(coalesce(sum(x), 0) AS BIGINT) AS sx,
         |             CAST(coalesce(sum(y), 0) AS BIGINT) AS sy,
         |             CAST(coalesce(sum(x * y), 0) AS BIGINT) AS sxy,
         |             CAST(coalesce(sum(x * x), 0) AS BIGINT) AS sxx,
         |             CAST(coalesce(sum(y * y), 0) AS BIGINT) AS syy
         |      FROM (SELECT CAST(floor(CAST($a AS DOUBLE) * ${scaleOf(a)}.0) AS BIGINT) AS x,
         |                   CAST(floor(CAST($b AS DOUBLE) * ${scaleOf(b)}.0) AS BIGINT) AS y
         |            FROM $rel WHERE $a IS NOT NULL AND $b IS NOT NULL)))""".stripMargin
    }
    selects.mkString("\nUNION ALL\n")
  }

  /** Micro-quantized Benford expectations round(10⁶·log₁₀(1 + 1/d)) —
    * precomputed integers inlined into BOTH engines so no runtime
    * log10 has to agree across libms.
    */
  val BenfordMicros: Seq[Long] =
    (1 to 9).map(d => math.round(1000000.0 * math.log10(1.0 + 1.0 / d)))

  /** BENFORD first-digit audit over a monetary/measure column — the
    * classic fabricated-data screen: organically grown magnitudes put
    * ~30.1% of leading digits at 1 and only 4.6% at 9; uniform or
    * hand-typed values don't. Reports the observed digit distribution
    * against Benford expectation plus the χ² statistic.
    *
    * Determinism: values become integer CENTS (floor(|x|·100) — same
    * IEEE multiply both engines), the leading digit comes from the
    * INTEGER's decimal rendering (no float log10 at digit
    * boundaries), expected probabilities are the inlined
    * [[BenfordMicros]] integers, and the 9 χ² terms are µ-quantized
    * before the cross-digit window sum. Zero-valued cents are excluded
    * (no leading digit).
    *
    * Scale shape: one map-side-combinable 9-group aggregate; the
    * digit-domain completion join and the χ² window run on 9 rows.
    * Output: (digit, n_obs, p_obs, p_exp, chi2) — chi2 repeated per
    * row; p_obs/chi2 NULL on an empty input.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val counts = df
      .select(floor(abs(col(valueCol).cast("double")) * 100.0).cast("long")
        .as("_cents"))
      .filter(col("_cents") >= 1)
      .select(substring(col("_cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val domain = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        element_at(typedlit(BenfordMicros), col("id").cast("int"))
          .as("_pmic"))
    val full = domain.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("_pmic"))
    val w = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val withN = full.withColumn("_N", sum(col("n_obs")).over(w))
    val e = (col("_N") * col("_pmic")).cast("double") / 1000000.0
    val term = (col("n_obs").cast("double") - e) * (col("n_obs").cast("double") - e) / e
    withN
      .withColumn("_tmic",
        when(col("_N") > 0, round(lit(1000000.0) * term).cast("long")))
      .select(col("digit"), col("n_obs"),
        when(col("_N") > 0,
          round(col("n_obs").cast("double") / col("_N").cast("double"), 6))
          .as("p_obs"),
        round(col("_pmic").cast("double") / 1000000.0, 6).as("p_exp"),
        when(col("_N") > 0,
          round(sum(col("_tmic")).over(w).cast("double") / 1000000.0, 6))
          .as("chi2"))
  }

  /** DuckDB oracle twin of [[benford]]. */
  def duckBenford(rel: String, valueCol: String): String = {
    val pm = BenfordMicros.mkString("[", ", ", "]")
    s"""WITH counts AS (
       |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
       |           AS digit,
       |         CAST(count(*) AS BIGINT) AS n_obs
       |  FROM (SELECT CAST(floor(abs(CAST($valueCol AS DOUBLE)) * 100.0)
       |               AS BIGINT) AS cents FROM $rel)
       |  WHERE cents >= 1 GROUP BY 1),
       |full_d AS (
       |  SELECT CAST(d.digit AS INTEGER) AS digit,
       |         coalesce(c.n_obs, 0) AS n_obs,
       |         ($pm)[d.digit] AS pmic
       |  FROM (SELECT unnest(range(1, 10)) AS digit) d
       |  LEFT JOIN counts c ON c.digit = d.digit),
       |wn AS (
       |  SELECT digit, n_obs, pmic,
       |         CAST(sum(n_obs) OVER () AS BIGINT) AS N
       |  FROM full_d),
       |tm AS (
       |  SELECT digit, n_obs, pmic, N,
       |         CASE WHEN N > 0 THEN CAST(round(1000000.0 *
       |           ((CAST(n_obs AS DOUBLE)
       |             - CAST(N * pmic AS DOUBLE) / 1000000.0)
       |            * (CAST(n_obs AS DOUBLE)
       |               - CAST(N * pmic AS DOUBLE) / 1000000.0)
       |            / (CAST(N * pmic AS DOUBLE) / 1000000.0)))
       |           AS BIGINT) END AS tmic
       |  FROM wn)
       |SELECT digit, n_obs,
       |       CASE WHEN N > 0
       |            THEN round(CAST(n_obs AS DOUBLE) / CAST(N AS DOUBLE), 6)
       |       END AS p_obs,
       |       round(CAST(pmic AS DOUBLE) / 1000000.0, 6) AS p_exp,
       |       CASE WHEN N > 0
       |            THEN round(CAST(CAST(sum(tmic) OVER () AS BIGINT)
       |                   AS DOUBLE) / 1000000.0, 6) END AS chi2
       |FROM tm""".stripMargin
  }

  /** Pairwise MUTUAL INFORMATION over categorical columns — the
    * dependence screen for discrete features ([[corrMatrix]] covers the
    * numeric ones): MI(X;Y) = Σ_cells (c/N)·ln(c·N / (c_x·c_y)) in
    * nats; 0 ⇔ independent, min(H(X),H(Y)) at full dependence.
    *
    * Scale shape: ONE corpus scan groups to the FULL JOINT table over
    * all k columns (cardinality = product of category cardinalities —
    * the caller's contract that these are category-like columns);
    * every pair's cells and marginals re-aggregate from that tiny
    * table (localCheckpoint-pinned so the corpus is not rescanned per
    * pair). Marginals come from windows over the cells table —
    * metadata scale by construction.
    *
    * Determinism: the cross-cell sum is over DOUBLES (ln has no exact
    * form), so each cell's contribution is quantized to micro-nat
    * BIGINTs first — identical per-cell doubles → identical integers →
    * an order-independent integer sum; the quantization bias is
    * ≤ cells/2·10⁻⁶ nats, below the 6-dp output rounding for sane
    * cardinalities. NULL is its own category (group-by semantics).
    *
    * Output: (col_a, col_b, n_cells, mi_nats) per unordered pair.
    */
  def featureMi(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "featureMi: need at least two columns")
    val base = graft.Jobs.pin(df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("_cnt")), "feature_mi", "cells")
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    def d(c: Column) = c.cast("double")
    val perPair = pairs.map { case (a, b) =>
      val cells = base.groupBy(col(a), col(b)).agg(sum(col("_cnt")).as("c"))
      val wa = Window.partitionBy(col(a))
      val wb = Window.partitionBy(col(b))
      val wn = Window.rowsBetween(Long.MinValue, Long.MaxValue)
      cells
        .withColumn("cx", sum(col("c")).over(wa))
        .withColumn("cy", sum(col("c")).over(wb))
        .withColumn("N", sum(col("c")).over(wn))
        .withColumn("_mic",
          round(lit(1000000.0) * (d(col("c")) / d(col("N"))) *
            log(d(col("c")) * d(col("N")) / (d(col("cx")) * d(col("cy")))), 0)
            .cast("long"))
        .agg(count(lit(1)).as("n_cells"), sum(col("_mic")).as("_sm"))
        .select(lit(a).as("col_a"), lit(b).as("col_b"), col("n_cells"),
          round(d(col("_sm")) / 1000000.0, 6).as("mi_nats"))
    }
    perPair.reduceLeft(_ unionByName _)
  }

  /** DuckDB oracle twin of [[featureMi]]. */
  def duckFeatureMi(rel: String, cols: Seq[String]): String = {
    val groupCols = cols.mkString(", ")
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val branches = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |       CAST(count(*) AS BIGINT) AS n_cells,
         |       round(CAST(CAST(sum(mic) AS HUGEINT) AS DOUBLE) / 1000000.0, 6)
         |         AS mi_nats
         |FROM (
         |  SELECT CAST(round(1000000.0 * (CAST(c AS DOUBLE) / CAST(N AS DOUBLE))
         |           * ln(CAST(c AS DOUBLE) * CAST(N AS DOUBLE)
         |                / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))))
         |         AS BIGINT) AS mic
         |  FROM (
         |    SELECT c,
         |           sum(c) OVER (PARTITION BY $a) AS cx,
         |           sum(c) OVER (PARTITION BY $b) AS cy,
         |           sum(c) OVER () AS N
         |    FROM (SELECT $a, $b, CAST(sum(_cnt) AS BIGINT) AS c
         |          FROM base GROUP BY 1, 2)))""".stripMargin
    }
    s"""WITH base AS MATERIALIZED (
       |  SELECT $groupCols, CAST(count(*) AS BIGINT) AS _cnt
       |  FROM $rel GROUP BY $groupCols)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** K-ANONYMITY profile over a set of quasi-identifier expressions —
    * the privacy posture check a pipeline runs before releasing a
    * dataset: every row whose QI equivalence class has size k is
    * re-identifiable among only k candidates, so the class-size
    * distribution IS the risk report (k=1 rows are unique, k<5 rows are
    * conventionally "at risk").
    *
    * `qiExprs` are SQL expression strings (generalizations like
    * `floor(c_acctbal / 1000)` welcome) so the engine and the DuckDB
    * oracle share one spelling.
    *
    * Scale shape: one shuffle keyed on the QI tuple (map-side partial
    * counts), then a histogram aggregate over the class table. The
    * final percent-of-rows window runs on the HISTOGRAM (≤ distinct
    * class sizes rows — metadata scale), never the corpus, so its
    * single-partition frame is free. NULL QI values form their own
    * class (group-by semantics), matching the re-identification model:
    * a shared missing value is still a linkable signature.
    *
    * Output: (k, n_classes, n_rows, pct_rows) — one row per observed
    * class size.
    */
  def kAnonymity(df: DataFrame, qiExprs: Seq[String]): DataFrame = {
    require(qiExprs.nonEmpty, "kAnonymity: need at least one quasi-identifier")
    val classes = df.groupBy(qiExprs.map(expr): _*)
      .agg(count(lit(1)).as("k"))
    val hist = classes.groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"))
      .withColumn("n_rows", col("k") * col("n_classes"))
    val w = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    hist.withColumn("pct_rows",
      round(col("n_rows").cast("double") / sum("n_rows").over(w), 6))
  }

  /** DuckDB oracle twin of [[kAnonymity]]. */
  def duckKAnonymity(rel: String, qiExprs: Seq[String]): String = {
    val qi = qiExprs.mkString(", ")
    s"""SELECT k, n_classes, k * n_classes AS n_rows,
       |       round(CAST(k * n_classes AS DOUBLE)
       |             / sum(k * n_classes) OVER (), 6) AS pct_rows
       |FROM (SELECT k, CAST(count(*) AS BIGINT) AS n_classes
       |      FROM (SELECT CAST(count(*) AS BIGINT) AS k
       |            FROM $rel GROUP BY $qi)
       |      GROUP BY k)""".stripMargin
  }

  /** Distinct-l-diversity next to [[kAnonymity]]: a k-anonymous class
    * is still attack-open when everyone in it SHARES the sensitive
    * value (homogeneity attack — "all 7 people in this class have the
    * same diagnosis"), so the release gate also needs, per QI
    * equivalence class, how many DISTINCT sensitive values it holds.
    * Reported as the l-histogram: classes and rows per diversity level
    * (l=1 classes are fully homogeneous — the risk mass).
    *
    * Scale shape: one (QI, sensitive) map-side exchange collapses the
    * corpus, a second (QI) aggregate derives per-class (size, l), then
    * the histogram and its percent window run on l-cardinality rows.
    *
    * Output: (l, n_classes, n_rows, pct_rows) per observed diversity.
    */
  def lDiversity(df: DataFrame, qiExprs: Seq[String],
                 sensitiveExpr: String): DataFrame = {
    require(qiExprs.nonEmpty, "lDiversity: need at least one quasi-identifier")
    // Alias the QI expressions at the FIRST grouping: the second stage
    // groups the aggregated frame, where the base columns behind a
    // generalization like floor(c_acctbal/1000) no longer exist.
    val qiCols = qiExprs.zipWithIndex.map { case (e, i) => expr(e).as(s"_qi$i") }
    val pairs = df.groupBy(qiCols :+ expr(sensitiveExpr).as("_sv"): _*)
      .agg(count(lit(1)).as("_c"))
    val classes = pairs
      .groupBy(qiExprs.indices.map(i => col(s"_qi$i")): _*)
      .agg(count(lit(1)).as("l"), sum(col("_c")).as("_rows"))
    val hist = classes.groupBy(col("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("_rows")).as("n_rows"))
    val w = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    hist.withColumn("pct_rows",
      round(col("n_rows").cast("double") / sum("n_rows").over(w), 6))
  }

  /** DuckDB oracle twin of [[lDiversity]] (QI expressions aliased at
    * the first grouping, same reason as the engine side).
    */
  def duckLDiversity(rel: String, qiExprs: Seq[String],
                     sensitiveExpr: String): String = {
    val aliased = qiExprs.zipWithIndex
      .map { case (e, i) => s"$e AS _qi$i" }.mkString(", ")
    val names = qiExprs.indices.map(i => s"_qi$i").mkString(", ")
    s"""SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
       |       CAST(sum(rows) AS BIGINT) AS n_rows,
       |       round(CAST(sum(rows) AS DOUBLE)
       |             / sum(sum(rows)) OVER (), 6) AS pct_rows
       |FROM (SELECT CAST(count(*) AS BIGINT) AS l,
       |             CAST(sum(c) AS BIGINT) AS rows
       |      FROM (SELECT $aliased, $sensitiveExpr AS _sv,
       |                   CAST(count(*) AS BIGINT) AS c
       |            FROM $rel GROUP BY $names, _sv)
       |      GROUP BY $names)
       |GROUP BY l""".stripMargin
  }

  /** Per-column profile: numeric columns report value stats, string
    * columns report length stats. Output (one row per column):
    * (col_name, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val).
    */
  def profile(df: DataFrame, numCols: Seq[String], strCols: Seq[String]): DataFrame = {
    def statsOf(c: String, v: Column): Seq[Column] = Seq(
      (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      min(v).cast("double").as(s"${c}__min"),
      max(v).cast("double").as(s"${c}__max"),
      round(avg(v), 6).as(s"${c}__mean"))

    val aggs = numCols.flatMap(c => statsOf(c, col(c))) ++
      strCols.flatMap(c => statsOf(c, length(col(c))))
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)

    val stackArgs = (numCols ++ strCols).map { c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max, ${c}__mean"
    }.mkString(", ")
    val n = numCols.size + strCols.size
    one.select(
      expr(s"stack($n, $stackArgs) AS (col_name, n_nulls, n_distinct, min_val, max_val, mean_val)"),
      col("n_rows"))
  }

  /** DuckDB oracle twin of [[profile]]: one UNION ALL branch per column
    * (the readable spelling — the Spark side exists precisely because N
    * scans is the wrong plan at scale).
    */
  def duckProfile(tbl: String, numCols: Seq[String], strCols: Seq[String]): String = {
    def branch(c: String, v: String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |       count(*) - count($c) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($v) AS DOUBLE) AS min_val,
         |       CAST(max($v) AS DOUBLE) AS max_val,
         |       round(CAST(avg($v) AS DOUBLE), 6) AS mean_val
         |FROM $tbl""".stripMargin
    (numCols.map(c => branch(c, c)) ++
      strCols.map(c => branch(c, s"length($c)"))).mkString("\nUNION ALL\n")
  }

  /** Expectation checks: fixed contract of the three audits every corpus
    * snapshot needs — minimum row count, primary-key uniqueness, and a
    * per-column null-fraction ceiling. Output (one row per check):
    * (check_name, actual, bound, passed ∈ {0,1}).
    *
    * Same single-aggregate shape as [[profile]]; `passed` is an INT so
    * both engines agree on the parquet type.
    */
  def expectations(df: DataFrame, keyCol: String, nullBoundedCols: Seq[String],
                   minRows: Long, maxNullFraction: Double): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("__n"),
      countDistinct(col(keyCol)).as("__nk")) ++
      nullBoundedCols.map(c => (count(lit(1)) - count(col(c))).as(s"__nulls_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)

    val rowsChecks = Seq(
      s"'row_count_min', CAST(__n AS DOUBLE), CAST(${minRows}L AS DOUBLE), " +
        s"CAST(CASE WHEN __n >= ${minRows}L THEN 1 ELSE 0 END AS INT)",
      s"'pk_unique:$keyCol', CAST(__nk AS DOUBLE), CAST(__n AS DOUBLE), " +
        s"CAST(CASE WHEN __nk = __n THEN 1 ELSE 0 END AS INT)") ++
      nullBoundedCols.map { c =>
        s"'null_fraction_max:$c', round(CAST(__nulls_$c AS DOUBLE) / CAST(__n AS DOUBLE), 6), " +
          s"CAST($maxNullFraction AS DOUBLE), " +
          s"CAST(CASE WHEN CAST(__nulls_$c AS DOUBLE) / CAST(__n AS DOUBLE) <= $maxNullFraction THEN 1 ELSE 0 END AS INT)"
      }
    val n = rowsChecks.size
    one.select(expr(
      s"stack($n, ${rowsChecks.mkString(", ")}) AS (check_name, actual, bound, passed)"))
  }

  /** DuckDB oracle twin of [[expectations]]. */
  def duckExpectations(tbl: String, keyCol: String, nullBoundedCols: Seq[String],
                       minRows: Long, maxNullFraction: Double): String = {
    val nullBranches = nullBoundedCols.map { c =>
      s"""SELECT 'null_fraction_max:$c' AS check_name,
         |       round(CAST(count(*) - count($c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS actual,
         |       CAST($maxNullFraction AS DOUBLE) AS bound,
         |       CAST(CASE WHEN CAST(count(*) - count($c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |                      <= $maxNullFraction THEN 1 ELSE 0 END AS INT) AS passed
         |FROM $tbl""".stripMargin
    }
    (Seq(
      s"""SELECT 'row_count_min' AS check_name, CAST(count(*) AS DOUBLE) AS actual,
         |       CAST($minRows AS DOUBLE) AS bound,
         |       CAST(CASE WHEN count(*) >= $minRows THEN 1 ELSE 0 END AS INT) AS passed
         |FROM $tbl""".stripMargin,
      s"""SELECT 'pk_unique:$keyCol' AS check_name,
         |       CAST(count(DISTINCT $keyCol) AS DOUBLE) AS actual,
         |       CAST(count(*) AS DOUBLE) AS bound,
         |       CAST(CASE WHEN count(DISTINCT $keyCol) = count(*) THEN 1 ELSE 0 END AS INT) AS passed
         |FROM $tbl""".stripMargin) ++ nullBranches).mkString("\nUNION ALL\n")
  }

  /** Equi-width HISTOGRAM of a numeric column — the distribution view
    * the scalar [[profile]] metrics flatten away (length profiles,
    * score distributions, skew shoulders). Two passes: a 2-value
    * bounds aggregate broadcast back, then ONE map-side-combined
    * bucket count — never a sort, never a per-value exchange.
    *
    * Float parity: bucket = floor((x − min)/width) with width =
    * (max − min)/k rendered identically on both engines (IEEE ops on
    * the same inputs), max clamped into the last bucket, NULLs
    * excluded, degenerate min = max collapsing to bucket 0.
    * Output: (bucket, lo, hi, n).
    */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    val b = df.agg(min(col(valueCol).cast("double")).as("_mn"),
      max(col(valueCol).cast("double")).as("_mx"))
    val w = (col("_mx") - col("_mn")) / nBuckets
    df.select(col(valueCol).cast("double").as("_x"))
      .filter(col("_x").isNotNull)
      .crossJoin(broadcast(b))
      .select(
        when(col("_mx") > col("_mn"),
          least(floor((col("_x") - col("_mn")) / w), lit((nBuckets - 1).toLong)))
          .otherwise(lit(0L)).cast("long").as("bucket"),
        col("_mn"), col("_mx"))
      .groupBy(col("bucket"), col("_mn"), col("_mx"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        round(col("_mn") + col("bucket") * w, 6).as("lo"),
        round(col("_mn") + (col("bucket") + 1) * w, 6).as("hi"),
        col("n"))
  }

  /** DuckDB oracle twin of [[histogram]]. */
  def duckHistogram(tbl: String, valueCol: String, nBuckets: Int): String =
    s"""WITH b AS (SELECT CAST(min($valueCol) AS DOUBLE) AS mn,
       |                  CAST(max($valueCol) AS DOUBLE) AS mx FROM $tbl),
       |g AS (SELECT CASE WHEN mx > mn
       |               THEN CAST(least(floor((CAST($valueCol AS DOUBLE) - mn)
       |                                     / ((mx - mn) / $nBuckets)),
       |                          ${nBuckets - 1}) AS BIGINT)
       |               ELSE 0 END AS bucket, mn, mx
       |      FROM $tbl, b WHERE $valueCol IS NOT NULL)
       |SELECT bucket,
       |       round(mn + bucket * ((mx - mn) / $nBuckets), 6) AS lo,
       |       round(mn + (bucket + 1) * ((mx - mn) / $nBuckets), 6) AS hi,
       |       count(*) AS n
       |FROM g GROUP BY bucket, mn, mx""".stripMargin

  /** REFERENTIAL-INTEGRITY expectation — the foreign-key face of
    * [[expectations]]: how many child rows reference a parent key that
    * does not exist. NULL foreign keys are not orphans (SQL's absent
    * reference), but they are reported via `n_nonnull` so a "all rows
    * must reference" policy can gate on both numbers.
    *
    * Scale shape: ONE left-anti join (broadcast when the parent's key
    * set fits — hinted here; at larger parents the [[BloomPrune]]
    * bitset is the pre-filter) plus two 1-row aggregates.
    * Output: one row (n_child, n_nonnull, n_orphans, passed).
    */
  def fkCheck(child: DataFrame, fkCol: String,
              parent: DataFrame, pkCol: String): DataFrame = {
    val orphans = child.filter(col(fkCol).isNotNull)
      .join(broadcast(parent.select(col(pkCol).as(fkCol))), Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    child
      .agg(count(lit(1)).as("n_child"), count(col(fkCol)).as("n_nonnull"))
      .crossJoin(broadcast(orphans))
      .select(col("n_child"), col("n_nonnull"), col("n_orphans"),
        (col("n_orphans") === 0L).cast("int").as("passed"))
  }

  /** DuckDB oracle twin of [[fkCheck]]. */
  def duckFkCheck(childTbl: String, fkCol: String,
                  parentTbl: String, pkCol: String): String =
    s"""SELECT CAST((SELECT count(*) FROM $childTbl) AS BIGINT) AS n_child,
       |       CAST((SELECT count($fkCol) FROM $childTbl) AS BIGINT) AS n_nonnull,
       |       CAST((SELECT count(*) FROM $childTbl ch
       |             WHERE ch.$fkCol IS NOT NULL
       |               AND NOT EXISTS (SELECT 1 FROM $parentTbl p
       |                               WHERE p.$pkCol = ch.$fkCol)) AS BIGINT) AS n_orphans,
       |       CAST(CASE WHEN (SELECT count(*) FROM $childTbl ch
       |                       WHERE ch.$fkCol IS NOT NULL
       |                         AND NOT EXISTS (SELECT 1 FROM $parentTbl p
       |                                         WHERE p.$pkCol = ch.$fkCol)) = 0
       |            THEN 1 ELSE 0 END AS INT) AS passed""".stripMargin

  /** FUNCTIONAL-DEPENDENCY check — "does column A determine column B"
    * (A → B), the schema-discovery profiler behind normalization,
    * key inference, and dimension extraction: if A → B holds, B
    * belongs in a dimension keyed by A, not on the fact. Null-safe:
    * NULL is one B-value like any other (count(DISTINCT) ignores
    * nulls, so presence of nulls is tracked separately per group via
    * a max-null flag folded into the distinct count).
    *
    * Scale shape: ONE map-side-combinable aggregate on A (the
    * per-group distinct over B is bounded by B's per-group fan-out)
    * collapsed to a 1-row summary.
    * Output: one row (n_groups, n_violating, holds).
    */
  def fdCheck(df: DataFrame, lhsCol: String, rhsCol: String): DataFrame =
    df.groupBy(col(lhsCol))
      .agg((countDistinct(col(rhsCol)) +
        max(col(rhsCol).isNull.cast("int")).cast("long")).as("_nv"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("_nv") > 1L, 1L).otherwise(0L)).as("n_violating"))
      .select(col("n_groups"), col("n_violating"),
        (col("n_violating") === 0L).cast("int").as("holds"))

  /** DuckDB oracle twin of [[fdCheck]]. */
  def duckFdCheck(tbl: String, lhsCol: String, rhsCol: String): String =
    s"""WITH g AS (SELECT $lhsCol,
       |                  count(DISTINCT $rhsCol)
       |                    + CAST(max(CASE WHEN $rhsCol IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv
       |           FROM $tbl GROUP BY $lhsCol)
       |SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |       CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       |       CAST(CASE WHEN sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0
       |            THEN 1 ELSE 0 END AS INT) AS holds
       |FROM g""".stripMargin

  /** KEY-SKEW report — the "will this key salt/broadcast decision bite"
    * planner aid that pairs with [[Sketches.cmsJoinCardinality]]: the
    * key's cardinality, the heaviest key's share of all rows, and the
    * Gini coefficient of the per-key count distribution (0 = perfectly
    * uniform, → 1 = one key owns everything).
    *
    * Scale shape: the row stream collapses map-side to per-key counts
    * (ONE exchange at key cardinality); the Gini rank window runs over
    * that count table — vocabulary-scale, not corpus-scale (same
    * posture as [[Drift]]'s vocab aggregates). NULL keys count as a
    * real group, exactly as they would skew a join's null partition.
    *
    * Float parity: with counts c_(1) ≤ … ≤ c_(k) ranked ascending,
    * Gini = (2·Σ i·c_(i) − (k+1)·Σc) / (k·Σc) — all integer until ONE
    * division (tie order within equal counts cannot change the sum);
    * max_share is one more division; round(6) on both.
    * Output: (n_rows, n_keys, max_share, gini).
    */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val cnt = df.groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("_c"))
    // deterministic ascending rank; the window is over the per-key
    // count table (key-cardinality-sized, documented above)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_c").asc, col("_k").asc)
    cnt
      .withColumn("_i", row_number().over(w).cast("long"))
      .agg(sum(col("_c")).as("_n"), count(lit(1)).as("n_keys"),
        max(col("_c")).as("_mx"), sum(col("_i") * col("_c")).as("_sic"))
      .select(
        col("_n").as("n_rows"), col("n_keys"),
        round(col("_mx").cast("double") / col("_n").cast("double"), 6)
          .as("max_share"),
        round((lit(2L) * col("_sic") - (col("n_keys") + lit(1L)) * col("_n"))
          .cast("double")
          / (col("n_keys") * col("_n")).cast("double"), 6).as("gini"))
  }

  /** DuckDB oracle twin of [[keySkew]]. */
  def duckKeySkew(tbl: String, keyCol: String): String =
    s"""WITH c AS (SELECT $keyCol AS k, count(*) AS c FROM $tbl GROUP BY 1),
       |r AS (SELECT c, k, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM c)
       |SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
       |       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS max_share,
       |       round(CAST(2 * sum(i * c) - (count(*) + 1) * sum(c) AS DOUBLE)
       |             / CAST(count(*) * sum(c) AS DOUBLE), 6) AS gini
       |FROM r""".stripMargin

  /** VOCABULARY COVERAGE / OOV-rate report — the tokenizer-coverage
    * question ("how much of each document falls outside the top-V
    * vocabulary"): corpus-frequency top-V word list (count DESC, word
    * ASC — a total order, so the cut is deterministic), then per
    * document the fraction of token OCCURRENCES outside it. High OOV
    * docs are the ones a fixed vocabulary tokenizes badly.
    *
    * Scale shape: one word-count aggregate (vocabulary-sized output),
    * the top-V cut on that table, then ONE narrow corpus explode
    * probing the BROADCAST vocabulary with a left-anti join + a
    * doc-keyed count. The corpus never shuffles by word; empty docs
    * report (0, 0, 0.0) rather than disappearing.
    *
    * Output: (idCol, n_tokens, n_oov, oov_rate).
    */
  /** Vocabulary coverage curve: what fraction of the corpus's token
    * MASS the top-k most frequent terms cover, for each k in `ks` —
    * the tokenizer-budget planning view next to [[oovRate]]'s single
    * cut ("how big must the vocab be before OOV is negligible"; the
    * knee of this curve IS the budget answer).
    *
    * Deterministic ranks: (count DESC, term ASC) — the [[oovRate]]
    * vocabulary order. Exact integers until the one division per
    * point; cumulative sums run on the vocab-sized rank table (the
    * global sort of the VOCABULARY is the accepted posture here, never
    * of the corpus).
    *
    * Output: one row per k — (k, vocab_size, covered_tokens,
    * total_tokens, coverage); k larger than the vocabulary covers
    * everything.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, idCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"vocabCoverage: bad ks=$ks")
    val counts = Dedup.rebalance(docs)
      .select(explode(graft.functions.TextAnalysis.tokens(col(textCol)))
        .as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
    val byRank = Window.orderBy(col("_c").desc, col("_w").asc)
    val upTo = byRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val ranked = counts
      .withColumn("_rk", row_number().over(byRank).cast("long"))
      .withColumn("_cum", sum(col("_c")).over(upTo))
      .withColumn("_tot", sum(col("_c")).over(whole))
      .withColumn("_v", count(lit(1)).over(whole))
    val kRows = ks.distinct.sorted.map { k =>
      ranked.filter(col("_rk") <= k)
        .groupBy()
        .agg(max(col("_cum")).as("covered_tokens"),
          max(col("_tot")).as("total_tokens"), max(col("_v")).as("vocab_size"))
        .select(lit(k.toLong).as("k"), col("vocab_size"),
          col("covered_tokens"), col("total_tokens"),
          round(col("covered_tokens").cast("double")
            / col("total_tokens").cast("double"), 6).as("coverage"))
    }
    kRows.reduce(_.unionAll(_))
  }

  /** DuckDB oracle twin of [[vocabCoverage]]. */
  def duckVocabCoverage(tbl: String, textCol: String, idCol: String,
                        ks: Seq[Int]): String = {
    val kList = ks.distinct.sorted.mkString(", ")
    s"""WITH d AS (SELECT ${graft.functions.TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl),
       |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c
       |      FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1),
       |r AS (SELECT c,
       |             row_number() OVER (ORDER BY c DESC, t ASC) AS rk,
       |             sum(c) OVER (ORDER BY c DESC, t ASC) AS cum,
       |             sum(c) OVER () AS tot, count(*) OVER () AS v
       |      FROM c)
       |SELECT CAST(k AS BIGINT) AS k,
       |       CAST(max(v) AS BIGINT) AS vocab_size,
       |       CAST(max(cum) AS BIGINT) AS covered_tokens,
       |       CAST(max(tot) AS BIGINT) AS total_tokens,
       |       round(CAST(max(cum) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
       |         AS coverage
       |FROM r CROSS JOIN (SELECT unnest([$kList]) AS k) ks
       |WHERE rk <= k GROUP BY k""".stripMargin
  }

  def oovRate(docs: DataFrame, textCol: String, idCol: String,
              topV: Int): DataFrame = {
    val words = Dedup.rebalance(docs).select(col(idCol),
      explode(graft.functions.TextAnalysis.tokens(col(textCol))).as("_w"))
    val vocab = words.groupBy(col("_w")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w").asc)
      .limit(topV)
      .select(col("_w"))
    val oov = words.join(broadcast(vocab), Seq("_w"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_oov"))
    docs.select(col(idCol),
        graft.functions.TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .join(oov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("_oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(round(coalesce(col("_oov"), lit(0L)).cast("double")
            / col("n_tokens").cast("double"), 6)).as("oov_rate"))
  }

  /** DuckDB twin of [[oovRate]]. */
  def duckOovRate(tbl: String, textCol: String, idCol: String,
                  topV: Int): String =
    s"""WITH d AS (SELECT $idCol,
       |                  ${graft.functions.TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl),
       |tok AS (SELECT $idCol, unnest(w) AS t FROM d),
       |v AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t)
       |      ORDER BY c DESC, t ASC LIMIT $topV),
       |o AS (SELECT $idCol, count(*) AS n_oov FROM tok
       |      WHERE t NOT IN (SELECT t FROM v) GROUP BY 1)
       |SELECT d.$idCol, CAST(len(d.w) AS BIGINT) AS n_tokens,
       |       coalesce(o.n_oov, 0) AS n_oov,
       |       CASE WHEN len(d.w) = 0 THEN 0.0
       |            ELSE round(CAST(coalesce(o.n_oov, 0) AS DOUBLE)
       |                       / CAST(len(d.w) AS DOUBLE), 6) END AS oov_rate
       |FROM d LEFT JOIN o ON d.$idCol = o.$idCol""".stripMargin

  /** PER-SOURCE REDUNDANCY report — the mixture-weighting diagnostic:
    * for each source, how many of its documents are byte-identical
    * (md5 of the text) to an EARLIER document anywhere in the corpus.
    * A source whose dup_rate is high mostly re-serves content the
    * corpus already has; its mixture weight should discount it.
    *
    * Scale shape: one narrow md5 projection, one hash-keyed window
    * for the first-occurrence id (the same exchange exact dedup
    * pays — the md5 key keeps full text off the wire), then a
    * source-sized aggregate. "Earlier" = smaller idCol, the corpus-
    * global first-keeper convention of [[Dedup]].
    *
    * Output: (srcCol, n_docs, n_dup, dup_rate).
    */
  def sourceRedundancy(docs: DataFrame, textCol: String, idCol: String,
                       srcCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    Dedup.rebalance(docs)
      .select(col(idCol), col(srcCol), md5(col(textCol)).as("_h"))
      .withColumn("_first", min(col(idCol)).over(w))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col(idCol) > col("_first"), 1)).as("n_dup"))
      .select(col(srcCol), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
  }

  /** DuckDB twin of [[sourceRedundancy]]. */
  def duckSourceRedundancy(tbl: String, textCol: String, idCol: String,
                           srcCol: String): String =
    s"""WITH h AS (SELECT $idCol, $srcCol, md5($textCol) AS h FROM $tbl),
       |f AS (SELECT *, min($idCol) OVER (PARTITION BY h) AS first_id FROM h)
       |SELECT $srcCol, count(*) AS n_docs,
       |       CAST(count(CASE WHEN $idCol > first_id THEN 1 END) AS BIGINT) AS n_dup,
       |       round(CAST(count(CASE WHEN $idCol > first_id THEN 1 END) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
       |FROM f GROUP BY $srcCol""".stripMargin

  /** TOKEN-weighted quality quantiles per group — "what quality is the
    * median TOKEN trained on", not the median document: doc-weighted
    * quantiles mislead exactly when length and quality correlate (one
    * 50k-token boilerplate dump outweighs a hundred clean paragraphs in
    * the loss, but counts once in a per-doc histogram). Each document
    * contributes its token count as weight; the weighted quantile is
    * the smallest score whose cumulative token mass reaches q·total.
    *
    * Exactness: scores are µ-quantized integers (the 6-dp classifier
    * contract), weights are exact token counts, and the quantile rule
    * is all-integer (4·cum ≥ tot / 2·cum ≥ tot / 4·cum ≥ 3·tot for
    * p25/p50/p75) over a fully tie-broken (score, id) cumulative order
    * — no float rank interpolation anywhere.
    *
    * Scale shape: one narrow scoring projection, ONE group-keyed window
    * exchange (cumulative weight), one aggregate on the same partition
    * — the q_quality_bins discipline. For UNGROUPED corpus-wide
    * quantiles at 100 TB prefer the GK sketch ([[Sketches]], gated by
    * q_quantile_sketch); the windowed exact form is for per-group
    * reporting where the group key carries the parallelism.
    *
    * Output per group: (groupCol, n_docs, total_tokens, p25, p50, p75).
    */
  def tokenWeightedQuantiles(docs: DataFrame, textCol: String,
                             idCol: String, groupCol: String): DataFrame = {
    import graft.functions.QualityFilters
    val scored = docs
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .select(col(groupCol), col(idCol).as("_id"),
        round(QualityFilters.classifierScoreOf(col("_w")) * 1e6)
          .cast("long").as("_v"),
        size(col("_w")).cast("long").as("_tw"))
    val cumW = Window.partitionBy(col(groupCol))
      .orderBy(col("_v").asc, col("_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = scored.withColumn("_cw", sum(col("_tw")).over(cumW))
      .withColumn("_tot",
        sum(col("_tw")).over(Window.partitionBy(col(groupCol))))
    def q(numer: Int, denom: Int) =
      min(when(col("_cw") * denom >= col("_tot") * numer, col("_v")))
    cum.groupBy(col(groupCol))
      .agg(count(lit(1L)).as("n_docs"),
        sum(col("_tw")).as("total_tokens"),
        round(q(1, 4).cast("double") / 1e6, 6).as("p25"),
        round(q(1, 2).cast("double") / 1e6, 6).as("p50"),
        round(q(3, 4).cast("double") / 1e6, 6).as("p75"))
  }

  /** DuckDB oracle twin of [[tokenWeightedQuantiles]]. */
  def duckTokenWeightedQuantiles(tbl: String, textCol: String,
                                 idCol: String, groupCol: String): String = {
    import graft.functions.QualityFilters
    def q(numer: Int, denom: Int) =
      s"min(CASE WHEN cw * $denom >= tot * $numer THEN v END)"
    s"""WITH d AS (SELECT $groupCol, $idCol AS id,
       |                  ${TextAnalysis.duckTokensBind(textCol)} AS w
       |           FROM $tbl),
       |sc AS (SELECT $groupCol, id,
       |              CAST(round(${QualityFilters.duckClassifierScore}
       |                         * 1000000.0) AS BIGINT) AS v,
       |              CAST(len(w) AS BIGINT) AS tw
       |       FROM d),
       |cum AS (SELECT $groupCol, v, tw,
       |               sum(tw) OVER (PARTITION BY $groupCol
       |                             ORDER BY v ASC, id ASC
       |                             ROWS UNBOUNDED PRECEDING) AS cw,
       |               sum(tw) OVER (PARTITION BY $groupCol) AS tot
       |        FROM sc)
       |SELECT $groupCol, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(tw) AS BIGINT) AS total_tokens,
       |       round(CAST(${q(1, 4)} AS DOUBLE) / 1e6, 6) AS p25,
       |       round(CAST(${q(1, 2)} AS DOUBLE) / 1e6, 6) AS p50,
       |       round(CAST(${q(3, 4)} AS DOUBLE) / 1e6, 6) AS p75
       |FROM cum GROUP BY $groupCol""".stripMargin
  }

  /** GINI concentration of group sizes — the corpus-inequality number
    * next to [[graft.operators.Entropy]]'s diversity view: how unequal
    * the per-source (per-domain, per-shard) row mass is, on the
    * familiar 0 (uniform) ‥ 1 (one group owns everything) scale. The
    * single-number answer to "is this corpus ten sources or one source
    * wearing ten names", and the skew early-warning for any plan that
    * partitions by the group key.
    *
    * Fully exact: with sizes x ranked ascending,
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) — three exact DECIMAL sums and
    * ONE double division. Tied sizes are order-invariant (a tied
    * block's rank coefficients sum identically however it's ordered).
    * One corpus exchange to group counts; the rank window runs on the
    * group-cardinality table.
    *
    * Output 1 row: (n_groups, n_rows, gini, top_share).
    */
  def giniConcentration(df: DataFrame, groupExpr: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val counts = df.groupBy(expr(groupExpr).as("_g"))
      .agg(count(lit(1L)).as("_x"))
    val w = Window.orderBy(col("_x").asc, col("_g").asc)
    counts.withColumn("_r", row_number().over(w).cast("long"))
      .agg(count(lit(1L)).as("n_groups"), sum(col("_x")).as("n_rows"),
        sum(d38(col("_r")) * d38(col("_x"))).as("_six"),
        max(col("_x")).as("_mx"))
      .select(col("n_groups"), col("n_rows"),
        when(col("n_rows") === 0L, lit(null).cast("double"))
          .otherwise(round(
            (lit(2L).cast("decimal(38,0)") * col("_six")
              - d38(col("n_groups") + 1L) * d38(col("n_rows"))).cast("double")
              / (d38(col("n_groups")) * d38(col("n_rows"))).cast("double"), 6))
          .as("gini"),
        when(col("n_rows") === 0L, lit(null).cast("double"))
          .otherwise(round(col("_mx").cast("double")
            / col("n_rows").cast("double"), 6)).as("top_share"))
  }

  /** DuckDB oracle twin of [[giniConcentration]]. */
  def duckGiniConcentration(rel: String, groupExpr: String): String =
    s"""WITH c AS (SELECT $groupExpr AS g, CAST(count(*) AS BIGINT) AS x
       |           FROM $rel GROUP BY 1),
       |r AS (SELECT x, g,
       |             CAST(row_number() OVER (ORDER BY x ASC, g ASC) AS BIGINT) AS rk
       |      FROM c),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |             CAST(sum(x) AS BIGINT) AS n_rows,
       |             sum(CAST(rk AS HUGEINT) * CAST(x AS HUGEINT)) AS six,
       |             CAST(max(x) AS BIGINT) AS mx
       |      FROM r)
       |SELECT n_groups, n_rows,
       |       CASE WHEN n_rows <> 0 THEN
       |         round(CAST(2 * six - CAST(n_groups + 1 AS HUGEINT)
       |                        * CAST(n_rows AS HUGEINT) AS DOUBLE)
       |               / CAST(CAST(n_groups AS HUGEINT)
       |                      * CAST(n_rows AS HUGEINT) AS DOUBLE), 6) END AS gini,
       |       CASE WHEN n_rows <> 0 THEN
       |         round(CAST(mx AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) END
       |         AS top_share
       |FROM a""".stripMargin

  /** Laplace(1/ε)-noised released counts — the publication side of the
    * privacy family ([[kAnonymity]]/[[lDiversity]] measure
    * re-identification risk; this masks it): per-key counts with
    * inverse-CDF Laplace noise, the standard ε-DP mechanism for count
    * queries (sensitivity 1 — each row contributes to exactly one key).
    *
    * The noise draw is a deterministic function of (saltKey, key) via
    * [[TextAnalysis.mixedUniform]] (the avalanche-mixed cross-engine
    * uniform; the raw rolling fingerprint clusters for similar keys,
    * which would bias every draw to the same side):
    *   u ∈ (0,1),  noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|)
    *
    * PRIVACY CONTRACT — explicit, because determinism cuts both ways:
    * the release masks the true counts ONLY while `saltKey` stays
    * secret. Anyone who knows the salt can recompute the noise and
    * subtract it exactly. Hence two entry points, one per posture:
    *
    *   - [[dpNoisedCounts]] — the PUBLICATION path. Takes the secret
    *     salt as a REQUIRED parameter (no default — a hardcoded or
    *     defaulted salt is public by definition) and the caller owns
    *     keeping it secret. mixedUniform keyed by a secret salt is a
    *     (non-cryptographic) keyed PRF; a hostile-auditor release
    *     would upgrade it to HMAC, same shape, same plan.
    *   - [[dpShapedCountsReplay]] — the REPLAY path: DP-*shaped*
    *     (same mechanism, clamp, plan) but NOT private, because the
    *     salt is published so a second engine can re-derive the same
    *     release bit-exactly (the repo-wide determinism convention,
    *     [[Splits.bucketOf]]). This is what the `q_dp_counts` oracle
    *     gate runs; it verifies the mechanism, not a privacy claim.
    *
    * Scale shape: ONE map-side-combined key aggregate, then the noise
    * is a narrow per-group projection — no second exchange, no state.
    * Released counts are clamped at 0 and the true count is NOT in the
    * output.
    *
    * Output: (key, released_n) — released_n = max(0, n + round(noise)).
    */
  def dpNoisedCounts(df: DataFrame, keyExpr: String, epsilon: Double,
                     secretSalt: String): DataFrame = {
    require(secretSalt.nonEmpty,
      "dpNoisedCounts: a secret salt is required — with a known salt the " +
        "noise is recomputable and the release provides no privacy; for " +
        "the deterministic-replay (non-private) shape use dpShapedCountsReplay")
    noisedCounts(df, keyExpr, epsilon, secretSalt)
  }

  /** Deterministic-replay twin of [[dpNoisedCounts]] — same mechanism
    * over a PUBLISHED salt, so it is reproducible across engines and
    * NOT a privacy release (see the contract on [[dpNoisedCounts]]).
    */
  def dpShapedCountsReplay(df: DataFrame, keyExpr: String, epsilon: Double,
                           publicSalt: String = "dp"): DataFrame =
    noisedCounts(df, keyExpr, epsilon, publicSalt)

  private def noisedCounts(df: DataFrame, keyExpr: String, epsilon: Double,
                           salt: String): DataFrame = {
    val u = TextAnalysis.mixedUniform(
      concat_ws(":", lit(salt), col("_k").cast("string")))
    val centered = u - lit(0.5)
    val noise = -(lit(1.0) / epsilon) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    df.select(expr(keyExpr).as("_k"))
      .groupBy(col("_k")).agg(count(lit(1L)).as("_n"))
      .select(col("_k").as("key"),
        greatest(lit(0L), col("_n") + round(noise).cast("long"))
          .as("released_n"))
  }

  /** DuckDB oracle twin of [[dpShapedCountsReplay]] — same fingerprint
    * uniform, same inverse-CDF Laplace, same clamp, same published
    * salt (an oracle can only exist for the replay shape: a private
    * release is exactly the one a second engine must NOT be able to
    * reproduce).
    */
  def duckDpNoisedCounts(rel: String, keyExpr: String, epsilon: Double,
                         salt: String = "dp"): String = {
    val uExpr = TextAnalysis.duckMixedUniform(s"'$salt:' || CAST(k AS VARCHAR)")
    s"""WITH c AS (SELECT $keyExpr AS k, CAST(count(*) AS BIGINT) AS n
       |           FROM $rel GROUP BY 1),
       |u AS (SELECT k, n, $uExpr - 0.5 AS cu
       |      FROM c)
       |SELECT k AS key,
       |       greatest(CAST(0 AS BIGINT),
       |                n + CAST(round(-(1.0 / $epsilon) * sign(cu)
       |                                * ln(1.0 - 2.0 * abs(cu)))
       |                         AS BIGINT)) AS released_n
       |FROM u""".stripMargin
  }
}
