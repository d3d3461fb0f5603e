package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-sample hypothesis tests over a (value, group) frame — the
  * experiment-analysis side of the analytics surface: a data pipeline
  * that ships A/B variants (or compares two crawl sources, two model
  * checkpoints' scores, two time windows) needs the decision statistics
  * next to the descriptive ones ([[EventStats]], [[Profile]]).
  *
  * Cross-engine determinism (the [[Eval]] posture, repo-wide): values
  * micro-quantize to integers (`round(v·10⁶)`), every SUM runs exact
  * (DECIMAL(38,0) / HUGEINT — value sums and sums-of-squares overflow
  * BIGINT long before corpus scale), and doubles appear only in one
  * final closed-form expression written in the SAME operation order in
  * both engines — IEEE round-to-nearest then makes the bits identical.
  *
  * Scale shape, all three tests: ONE map-side-combinable aggregate at
  * group (t-test), cell (chi-squared), or distinct-micro-value (KS)
  * cardinality; nothing downstream touches corpus-sized data. The KS
  * cumulative window runs on the distinct-value table only — the same
  * "group first, window the group table" discipline as
  * [[Eval.aucRankSum]].
  */
object Hypothesis {

  private def d38(c: Column) = c.cast("decimal(38,0)")
  private def dbl(c: Column) = c.cast("double")

  /** Welch's unequal-variance two-sample t-test on `valueCol` between
    * `groupCol` = `a` and `groupCol` = `b`:
    *
    *   t  = (m_a − m_b) / √(v_a/n_a + v_b/n_b)
    *   df = (v_a/n_a + v_b/n_b)² /
    *        ((v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1))   (Welch 1947)
    *
    * with v the n−1 sample variance. Means and variances derive from
    * exact micro-unit sums (S₁ = Σx, S₂ = Σx²): the micro scale cancels
    * inside t and df, so 10⁶ appears only in the reported means.
    *
    * Output (one row): (n_a, n_b, mean_a, mean_b, t_stat, df_welch) —
    * t/df NULL when either side has < 2 rows or both variances are 0.
    */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
                 a: String, b: String): DataFrame = {
    val micro = round(col(valueCol) * lit(1000000.0)).cast("long")
    val sums = df
      .filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("_g"), micro.as("_m"))
      .groupBy()
      .agg(
        count(when(col("_g") === a, lit(1))).as("n_a"),
        count(when(col("_g") === b, lit(1))).as("n_b"),
        sum(when(col("_g") === a, d38(col("_m")))).as("_s1a"),
        sum(when(col("_g") === b, d38(col("_m")))).as("_s1b"),
        sum(when(col("_g") === a,
          col("_m").cast("decimal(19,0)") * col("_m").cast("decimal(19,0)")))
          .as("_s2a"),
        sum(when(col("_g") === b,
          col("_m").cast("decimal(19,0)") * col("_m").cast("decimal(19,0)")))
          .as("_s2b"))
    // One closed form over six exact sums; identical op order in the
    // oracle ⇒ identical doubles.
    val na = dbl(col("n_a")); val nb = dbl(col("n_b"))
    val s1a = dbl(col("_s1a")); val s1b = dbl(col("_s1b"))
    val va = (dbl(col("_s2a")) - s1a * s1a / na) / (na - lit(1.0))
    val vb = (dbl(col("_s2b")) - s1b * s1b / nb) / (nb - lit(1.0))
    val sea = va / na; val seb = vb / nb
    val se2 = sea + seb
    val ok = col("n_a") >= 2 && col("n_b") >= 2
    sums.select(
      col("n_a"), col("n_b"),
      round(s1a / na / lit(1000000.0), 6).as("mean_a"),
      round(s1b / nb / lit(1000000.0), 6).as("mean_b"),
      when(ok && se2 > 0,
        round((s1a / na - s1b / nb) / sqrt(se2), 6)).as("t_stat"),
      when(ok && se2 > 0,
        round(se2 * se2
          / (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0))), 6))
        .as("df_welch"))
  }

  /** DuckDB oracle twin of [[welchTTest]]. `rel` is the relation (table
    * or parenthesised subquery) carrying (valueCol, groupCol).
    */
  def duckWelchTTest(rel: String, valueCol: String, groupCol: String,
                     a: String, b: String): String =
    s"""WITH sums AS (
       |  SELECT CAST(count(*) FILTER (WHERE g = '$a') AS BIGINT) AS n_a,
       |         CAST(count(*) FILTER (WHERE g = '$b') AS BIGINT) AS n_b,
       |         sum(CAST(m AS HUGEINT)) FILTER (WHERE g = '$a') AS s1a,
       |         sum(CAST(m AS HUGEINT)) FILTER (WHERE g = '$b') AS s1b,
       |         sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |           FILTER (WHERE g = '$a') AS s2a,
       |         sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT))
       |           FILTER (WHERE g = '$b') AS s2b
       |  FROM (SELECT $groupCol AS g,
       |               CAST(round($valueCol * 1000000.0) AS BIGINT) AS m
       |        FROM $rel WHERE $groupCol IN ('$a', '$b'))),
       |f AS (
       |  SELECT n_a, n_b,
       |         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
       |         CAST(s1a AS DOUBLE) AS d1a, CAST(s1b AS DOUBLE) AS d1b,
       |         CAST(s2a AS DOUBLE) AS d2a, CAST(s2b AS DOUBLE) AS d2b
       |  FROM sums),
       |v AS (
       |  SELECT *,
       |         ((d2a - d1a * d1a / na) / (na - 1.0)) / na AS sea,
       |         ((d2b - d1b * d1b / nb) / (nb - 1.0)) / nb AS seb
       |  FROM f)
       |SELECT n_a, n_b,
       |       round(d1a / na / 1000000.0, 6) AS mean_a,
       |       round(d1b / nb / 1000000.0, 6) AS mean_b,
       |       CASE WHEN n_a >= 2 AND n_b >= 2 AND sea + seb > 0 THEN
       |         round((d1a / na - d1b / nb) / sqrt(sea + seb), 6)
       |       END AS t_stat,
       |       CASE WHEN n_a >= 2 AND n_b >= 2 AND sea + seb > 0 THEN
       |         round((sea + seb) * (sea + seb)
       |               / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6)
       |       END AS df_welch
       |FROM v""".stripMargin

  /** Pearson chi-squared test of independence between two categorical
    * columns, with Cramér's V effect size:
    *
    *   χ² = Σ_cells (o − e)²/e,   e = rT·cT/N
    *      = Σ_cells (o·N − rT·cT)² / (N·rT·cT)
    *
    * The ABSENT cells of the contingency table contribute rT·cT/N each
    * and are materialised by crossing the distinct row/column keys —
    * both sides are group-by results (dimension-sized), so the cross is
    * metadata scale. o·N − rT·cT is formed in DECIMAL(38,0)/HUGEINT
    * (o·N reaches N² — past BIGINT long before 100 TB); its square
    * would overflow even 38 digits, so each cell's contribution
    * converts the exact difference to double ONCE, and the cell
    * contributions re-quantize to micro-integers before the final sum —
    * making the cross-cell total order-independent (float sums are not).
    *
    * Output (one row): (n, n_rows, n_cols, dof, chi2, cramers_v) —
    * chi2/V NULL when the table is degenerate (single row or column).
    */
  def chiSquared(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    // Stage barrier: four downstream consumers (row totals, column
    // totals, grand total, the cell join) would otherwise re-derive the
    // corpus aggregate per branch where exchange reuse misses — the
    // observed table is R×C-sized, so materializing it is free and
    // pins the plan at ONE corpus scan (the Pipeline barrier pattern).
    val obs = graft.Jobs.pin(df.groupBy(col(rowCol).as("_r"), col(colCol).as("_c"))
      .agg(count(lit(1)).as("_o")), "chi_squared", "observed")
    val rt = obs.groupBy(col("_r")).agg(sum(col("_o")).as("_rt"))
    val ct = obs.groupBy(col("_c")).agg(sum(col("_o")).as("_ct"))
    val tot = obs.agg(sum(col("_o")).as("_n"),
      count_distinct(col("_r")).as("n_rows"),
      count_distinct(col("_c")).as("n_cols"))
    val cells = rt.crossJoin(ct)
      .join(obs, Seq("_r", "_c"), "left")
      .select(col("_rt"), col("_ct"), coalesce(col("_o"), lit(0L)).as("_o"))
      .crossJoin(tot)
    val diff = dbl(d38(col("_o")) * d38(col("_n")) - d38(col("_rt")) * d38(col("_ct")))
    val contrib = diff * diff / (dbl(col("_n")) * dbl(col("_rt")) * dbl(col("_ct")))
    val chi2 = cells
      .select(col("_n"), col("n_rows"), col("n_cols"),
        round(contrib * lit(1000000.0)).cast("long").as("_cm"))
      .groupBy(col("_n"), col("n_rows"), col("n_cols"))
      .agg(sum(col("_cm")).as("_chi2m"))
    val c2 = dbl(col("_chi2m")) / lit(1000000.0)
    val minDim = dbl(least(col("n_rows"), col("n_cols")) - lit(1L))
    val ok = col("n_rows") >= 2 && col("n_cols") >= 2
    chi2.select(
      col("_n").cast("long").as("n"), col("n_rows"), col("n_cols"),
      ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
      when(ok, round(c2, 6)).as("chi2"),
      when(ok, round(sqrt(c2 / (dbl(col("_n")) * minDim)), 6)).as("cramers_v"))
  }

  /** DuckDB oracle twin of [[chiSquared]]. */
  def duckChiSquared(rel: String, rowCol: String, colCol: String): String =
    s"""WITH obs AS (
       |  SELECT $rowCol AS r, $colCol AS c, CAST(count(*) AS BIGINT) AS o
       |  FROM $rel GROUP BY 1, 2),
       |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rtot FROM obs GROUP BY 1),
       |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ctot FROM obs GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |               CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
       |               CAST(count(DISTINCT c) AS BIGINT) AS n_cols
       |        FROM obs),
       |cells AS (
       |  SELECT rt.rtot, ct.ctot, coalesce(obs.o, 0) AS o, tot.n,
       |         tot.n_rows, tot.n_cols
       |  FROM rt CROSS JOIN ct
       |  LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c
       |  CROSS JOIN tot),
       |cm AS (
       |  SELECT n, n_rows, n_cols,
       |         CAST(round(
       |           CAST(CAST(o AS HUGEINT) * CAST(n AS HUGEINT)
       |                - CAST(rtot AS HUGEINT) * CAST(ctot AS HUGEINT) AS DOUBLE)
       |           * CAST(CAST(o AS HUGEINT) * CAST(n AS HUGEINT)
       |                - CAST(rtot AS HUGEINT) * CAST(ctot AS HUGEINT) AS DOUBLE)
       |           / (CAST(n AS DOUBLE) * CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS cmicro
       |  FROM cells),
       |agg AS (
       |  SELECT n, n_rows, n_cols, CAST(sum(cmicro) AS BIGINT) AS chi2m
       |  FROM cm GROUP BY 1, 2, 3)
       |SELECT n, n_rows, n_cols,
       |       (n_rows - 1) * (n_cols - 1) AS dof,
       |       CASE WHEN n_rows >= 2 AND n_cols >= 2 THEN
       |         round(CAST(chi2m AS DOUBLE) / 1000000.0, 6) END AS chi2,
       |       CASE WHEN n_rows >= 2 AND n_cols >= 2 THEN
       |         round(sqrt(CAST(chi2m AS DOUBLE) / 1000000.0
       |               / (CAST(n AS DOUBLE)
       |                  * CAST(least(n_rows, n_cols) - 1 AS DOUBLE))), 6)
       |       END AS cramers_v
       |FROM agg""".stripMargin

  /** Two-sample Kolmogorov–Smirnov test on `valueCol` between
    * `groupCol` = `a` and `groupCol` = `b`:
    *
    *   D = max_v |F_a(v) − F_b(v)|
    *
    * computed ENTIRELY in integers: group to distinct micro values,
    * cumulative counts over the value order, and the max of
    * |cumA·n_b − cumB·n_a| (exact DECIMAL products — cum·n reaches N²)
    * with ONE final division by n_a·n_b. The normalized statistic
    * √(n_a·n_b/(n_a+n_b))·D follows for asymptotic p-value lookup.
    *
    * Output (one row): (n_a, n_b, d_stat, ks_stat) — NULL when either
    * side is empty.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             a: String, b: String): DataFrame = {
    val micro = round(col(valueCol) * lit(1000000.0)).cast("long")
    val byVal = df
      .filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("_g"), micro.as("_m"))
      .groupBy(col("_m"))
      .agg(
        count(when(col("_g") === a, lit(1))).as("_ca"),
        count(when(col("_g") === b, lit(1))).as("_cb"))
    val upTo = Window.orderBy(col("_m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val cum = byVal
      .withColumn("_cuma", sum(col("_ca")).over(upTo))
      .withColumn("_cumb", sum(col("_cb")).over(upTo))
      .withColumn("_na", sum(col("_ca")).over(whole))
      .withColumn("_nb", sum(col("_cb")).over(whole))
    cum.agg(
      max(col("_na")).as("n_a"),
      max(col("_nb")).as("n_b"),
      max(abs(d38(col("_cuma")) * d38(col("_nb"))
        - d38(col("_cumb")) * d38(col("_na"))))
        .as("_dnum"))
      .select(
        col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(dbl(col("_dnum")) / (dbl(col("n_a")) * dbl(col("n_b"))), 6))
          .as("d_stat"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(dbl(col("_dnum")) / (dbl(col("n_a")) * dbl(col("n_b")))
            * sqrt(dbl(col("n_a")) * dbl(col("n_b"))
                   / (dbl(col("n_a")) + dbl(col("n_b")))), 6))
          .as("ks_stat"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust each unit's
    * experiment metric `y` by its PRE-period covariate `x`,
    * ŷ = y − θ·(x − x̄) with θ = cov(x,y)/var(x), and report how much
    * metric variance the adjustment removes — the standard lever for
    * shrinking A/B confidence intervals without more traffic. At the
    * optimal θ, var(ŷ) = var(y) − cov²/var(x).
    *
    * Units are `unitCol` groups (users); x = Σ value before `splitMs`,
    * y = Σ value at/after it, both exact micro-integer sums. The five
    * cross-moments (Σx, Σy, Σx², Σxy, Σy²) accumulate in
    * DECIMAL(38,0)/HUGEINT, and θ / variances are one closed-form
    * double expression mirrored op-for-op (variances in value² units).
    *
    * Scale shape: one unit-keyed map-side-combinable aggregate to
    * per-unit (x, y), then ONE 6-sum global aggregate — nothing
    * downstream of the unit table.
    *
    * Output (one row): (n_units, theta, var_y, var_adj,
    * var_reduction) — NULL stats when n < 2 or var(x) = 0.
    */
  def cuped(df: DataFrame, unitCol: String, tsCol: String,
            valueCol: String, splitMs: Long): DataFrame = {
    val micro = round(col(valueCol) * lit(1000000.0)).cast("long")
    val pre = unix_micros(col(tsCol)) < splitMs * 1000L
    val units = df
      .filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol))
      .agg(
        coalesce(sum(when(pre, micro)), lit(0L)).as("_x"),
        coalesce(sum(when(!pre, micro)), lit(0L)).as("_y"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val sums = units.agg(
      count(lit(1)).as("n_units"),
      sum(d38(col("_x"))).as("_sx"),
      sum(d38(col("_y"))).as("_sy"),
      sum(d19(col("_x")) * d19(col("_x"))).as("_sxx"),
      sum(d19(col("_x")) * d19(col("_y"))).as("_sxy"),
      sum(d19(col("_y")) * d19(col("_y"))).as("_syy"))
    val n = dbl(col("n_units"))
    val sx = dbl(col("_sx")); val sy = dbl(col("_sy"))
    val covN = dbl(col("_sxy")) - sx * sy / n     // (n−1)·cov, micro²
    val varxN = dbl(col("_sxx")) - sx * sx / n    // (n−1)·var(x)
    val varyN = dbl(col("_syy")) - sy * sy / n    // (n−1)·var(y)
    val ok = col("n_units") >= 2 && varxN > 0
    val varY = varyN / (n - lit(1.0)) / lit(1.0e12)
    val varAdj = (varyN - covN * covN / varxN) / (n - lit(1.0)) / lit(1.0e12)
    sums.select(
      col("n_units"),
      when(ok, round(covN / varxN, 6)).as("theta"),
      when(col("n_units") >= 2, round(varY, 6)).as("var_y"),
      when(ok, round(varAdj, 6)).as("var_adj"),
      when(ok && varyN > 0,
        round((covN * covN / varxN) / varyN, 6)).as("var_reduction"))
  }

  /** DuckDB oracle twin of [[cuped]]. `rel` carries
    * (unitCol, tsCol, valueCol); `splitMs` in epoch millis.
    */
  def duckCuped(rel: String, unitCol: String, tsCol: String,
                valueCol: String, splitMs: Long): String =
    s"""WITH units AS (
       |  SELECT $unitCol,
       |         coalesce(sum(m) FILTER (WHERE pre), 0) AS x,
       |         coalesce(sum(m) FILTER (WHERE NOT pre), 0) AS y
       |  FROM (SELECT $unitCol,
       |               CAST(round($valueCol * 1000000.0) AS BIGINT) AS m,
       |               epoch_us($tsCol) < ${splitMs}000 AS pre
       |        FROM $rel WHERE $unitCol IS NOT NULL)
       |  GROUP BY 1),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_units,
       |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
       |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
       |  FROM units),
       |f AS (
       |  SELECT n_units, CAST(n_units AS DOUBLE) AS n,
       |         CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
       |         CAST(sxx AS DOUBLE) AS dxx, CAST(sxy AS DOUBLE) AS dxy,
       |         CAST(syy AS DOUBLE) AS dyy
       |  FROM sums),
       |v AS (
       |  SELECT n_units, n,
       |         dxy - dx * dy / n AS covn,
       |         dxx - dx * dx / n AS varxn,
       |         dyy - dy * dy / n AS varyn
       |  FROM f)
       |SELECT n_units,
       |       CASE WHEN n_units >= 2 AND varxn > 0 THEN
       |         round(covn / varxn, 6) END AS theta,
       |       CASE WHEN n_units >= 2 THEN
       |         round(varyn / (n - 1.0) / 1.0e12, 6) END AS var_y,
       |       CASE WHEN n_units >= 2 AND varxn > 0 THEN
       |         round((varyn - covn * covn / varxn) / (n - 1.0) / 1.0e12, 6)
       |       END AS var_adj,
       |       CASE WHEN n_units >= 2 AND varxn > 0 AND varyn > 0 THEN
       |         round((covn * covn / varxn) / varyn, 6) END AS var_reduction
       |FROM v""".stripMargin

  /** Difference-in-differences over a deterministic 50/50 unit split:
    * the causal-inference counterpart of [[welchTTest]] when treatment
    * rolls out at `splitMs` — the estimate is the post−pre change of
    * the treated group NET of the control group's change,
    *
    *   DiD = (m_treat_post − m_treat_pre) − (m_ctrl_post − m_ctrl_pre),
    *
    * which cancels shared time trends a naive pre/post diff absorbs.
    * Group assignment is [[Splits.bucketOf]](unit, 2) — the repo's
    * cross-engine deterministic hash split — so both engines agree on
    * membership without a stored assignment table.
    *
    * ONE ungrouped aggregate: 4 cell counts + 4 exact DECIMAL µ-sums;
    * the four means and the DiD are one mirrored closed form.
    *
    * Output (one row): (n_treat_pre, n_treat_post, n_ctrl_pre,
    * n_ctrl_post, mean_treat_pre, mean_treat_post, mean_ctrl_pre,
    * mean_ctrl_post, did) — did NULL when any cell is empty.
    */
  def diffInDiff(df: DataFrame, unitCol: String, tsCol: String,
                 valueCol: String, splitMs: Long): DataFrame = {
    val micro = round(col(valueCol) * lit(1000000.0)).cast("long")
    val treat = Splits.bucketOf(col(unitCol), 2) === 0
    val pre = unix_micros(col(tsCol)) < splitMs * 1000L
    def cell(c: Column) = (count(when(c, lit(1))), sum(when(c, d38(micro))))
    val (ntp, stp) = cell(treat && pre)
    val (nto, sto) = cell(treat && !pre)
    val (ncp, scp) = cell(!treat && pre)
    val (nco, sco) = cell(!treat && !pre)
    val sums = df.filter(col(unitCol).isNotNull).agg(
      ntp.as("n_treat_pre"), nto.as("n_treat_post"),
      ncp.as("n_ctrl_pre"), nco.as("n_ctrl_post"),
      stp.as("_stp"), sto.as("_sto"), scp.as("_scp"), sco.as("_sco"))
    def mean(s: String, n: String) =
      dbl(col(s)) / dbl(col(n)) / lit(1000000.0)
    val allCells = col("n_treat_pre") > 0 && col("n_treat_post") > 0 &&
      col("n_ctrl_pre") > 0 && col("n_ctrl_post") > 0
    sums.select(
      col("n_treat_pre"), col("n_treat_post"),
      col("n_ctrl_pre"), col("n_ctrl_post"),
      when(col("n_treat_pre") > 0,
        round(mean("_stp", "n_treat_pre"), 6)).as("mean_treat_pre"),
      when(col("n_treat_post") > 0,
        round(mean("_sto", "n_treat_post"), 6)).as("mean_treat_post"),
      when(col("n_ctrl_pre") > 0,
        round(mean("_scp", "n_ctrl_pre"), 6)).as("mean_ctrl_pre"),
      when(col("n_ctrl_post") > 0,
        round(mean("_sco", "n_ctrl_post"), 6)).as("mean_ctrl_post"),
      when(allCells,
        round((mean("_sto", "n_treat_post") - mean("_stp", "n_treat_pre"))
          - (mean("_sco", "n_ctrl_post") - mean("_scp", "n_ctrl_pre")), 6))
        .as("did"))
  }

  /** DuckDB oracle twin of [[diffInDiff]]. */
  def duckDiffInDiff(rel: String, unitCol: String, tsCol: String,
                     valueCol: String, splitMs: Long): String = {
    val treat = s"(${Splits.duckBucket(unitCol, 2)}) = 0"
    s"""WITH b AS (
       |  SELECT CAST(round($valueCol * 1000000.0) AS BIGINT) AS m,
       |         $treat AS treat,
       |         epoch_us($tsCol) < ${splitMs}000 AS pre
       |  FROM $rel WHERE $unitCol IS NOT NULL),
       |sums AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE treat AND pre) AS BIGINT) AS n_treat_pre,
       |    CAST(count(*) FILTER (WHERE treat AND NOT pre) AS BIGINT) AS n_treat_post,
       |    CAST(count(*) FILTER (WHERE NOT treat AND pre) AS BIGINT) AS n_ctrl_pre,
       |    CAST(count(*) FILTER (WHERE NOT treat AND NOT pre) AS BIGINT) AS n_ctrl_post,
       |    sum(CAST(m AS HUGEINT)) FILTER (WHERE treat AND pre) AS stp,
       |    sum(CAST(m AS HUGEINT)) FILTER (WHERE treat AND NOT pre) AS sto,
       |    sum(CAST(m AS HUGEINT)) FILTER (WHERE NOT treat AND pre) AS scp,
       |    sum(CAST(m AS HUGEINT)) FILTER (WHERE NOT treat AND NOT pre) AS sco
       |  FROM b)
       |SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
       |  CASE WHEN n_treat_pre > 0 THEN round(CAST(stp AS DOUBLE)
       |    / CAST(n_treat_pre AS DOUBLE) / 1000000.0, 6) END AS mean_treat_pre,
       |  CASE WHEN n_treat_post > 0 THEN round(CAST(sto AS DOUBLE)
       |    / CAST(n_treat_post AS DOUBLE) / 1000000.0, 6) END AS mean_treat_post,
       |  CASE WHEN n_ctrl_pre > 0 THEN round(CAST(scp AS DOUBLE)
       |    / CAST(n_ctrl_pre AS DOUBLE) / 1000000.0, 6) END AS mean_ctrl_pre,
       |  CASE WHEN n_ctrl_post > 0 THEN round(CAST(sco AS DOUBLE)
       |    / CAST(n_ctrl_post AS DOUBLE) / 1000000.0, 6) END AS mean_ctrl_post,
       |  CASE WHEN n_treat_pre > 0 AND n_treat_post > 0
       |        AND n_ctrl_pre > 0 AND n_ctrl_post > 0 THEN
       |    round((CAST(sto AS DOUBLE) / CAST(n_treat_post AS DOUBLE) / 1000000.0
       |           - CAST(stp AS DOUBLE) / CAST(n_treat_pre AS DOUBLE) / 1000000.0)
       |          - (CAST(sco AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE) / 1000000.0
       |             - CAST(scp AS DOUBLE) / CAST(n_ctrl_pre AS DOUBLE) / 1000000.0), 6)
       |  END AS did
       |FROM sums""".stripMargin
  }

  /** Stratified average-treatment-effect-on-the-treated (ATT) — the
    * observational-matching member of the causal family ([[diffInDiff]]
    * nets out time trends, [[cuped]] shrinks variance, THIS one nets
    * out selection on an observed confounder): units stratify by their
    * PRE-period activity (⌊log₂(1+count)⌋ — integer buckets, no
    * quantile estimation), and within each stratum the treated/control
    * post-period means are compared; the ATT weights each stratum's
    * difference by its share of the TREATED population,
    *
    *   ATT = Σ_k (n_treat,k / n_treat,cs) · (ȳ_treat,k − ȳ_ctrl,k),
    *
    * over common-support strata only (both arms present); off-support
    * treated units are counted and reported, not silently absorbed.
    *
    * Exactness: per-(stratum, arm) exact DECIMAL µ-sums; each
    * stratum's weighted difference µ-requantizes before the
    * cross-stratum total (the [[chiSquared]] order-independence
    * discipline).
    *
    * Scale shape: one unit-keyed aggregate (pre-count + post-sum per
    * unit), one stratum-cardinality aggregate, everything downstream on
    * ≤ ~40 stratum rows.
    *
    * Output (one row): (n_treat, n_ctrl, n_strata, n_common,
    * treat_off_support, att) — att NULL when no common-support stratum
    * exists.
    */
  def stratifiedAtt(df: DataFrame, unitCol: String, tsCol: String,
                    valueCol: String, splitMs: Long): DataFrame = {
    val micro = round(col(valueCol) * lit(1000000.0)).cast("long")
    val pre = unix_micros(col(tsCol)) < splitMs * 1000L
    val units = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol))
      .agg(count(when(pre, lit(1))).as("_npre"),
        coalesce(sum(when(!pre, micro)), lit(0L)).as("_y"))
      .select(
        (Splits.bucketOf(col(unitCol), 2) === 0).as("_treat"),
        floor(log2(col("_npre").cast("double") + lit(1.0))).cast("long")
          .as("_k"),
        col("_y"))
    // stratum-cardinality; three consumers below
    val strata = graft.Jobs.pin(units.groupBy(col("_k"))
      .agg(
        count(when(col("_treat"), lit(1))).as("_nt"),
        count(when(!col("_treat"), lit(1))).as("_nc"),
        sum(when(col("_treat"), d38(col("_y")))).as("_st"),
        sum(when(!col("_treat"), d38(col("_y")))).as("_sc")), "stratified_att", "strata")
    val tot = strata.agg(
      sum(col("_nt")).as("n_treat"), sum(col("_nc")).as("n_ctrl"),
      count(lit(1)).as("n_strata"),
      count(when(col("_nt") > 0 && col("_nc") > 0, lit(1))).as("n_common"),
      sum(when(col("_nc") === 0, col("_nt")).otherwise(lit(0L)))
        .as("treat_off_support"),
      sum(when(col("_nt") > 0 && col("_nc") > 0, col("_nt"))
        .otherwise(lit(0L))).as("_ntcs"))
    val diff = (dbl(col("_st")) / dbl(col("_nt")) / lit(1000000.0)
      - dbl(col("_sc")) / dbl(col("_nc")) / lit(1000000.0))
    val terms = strata.crossJoin(broadcast(tot))
      .filter(col("_nt") > 0 && col("_nc") > 0)
      .select(round(dbl(col("_nt")) / dbl(col("_ntcs")) * diff
        * lit(1000000.0)).cast("long").as("_am"))
      .agg(sum(col("_am")).as("_attm"))
    tot.crossJoin(terms).select(
      col("n_treat"), col("n_ctrl"), col("n_strata"), col("n_common"),
      col("treat_off_support"),
      when(col("n_common") > 0,
        round(dbl(col("_attm")) / lit(1000000.0), 6)).as("att"))
  }

  /** DuckDB oracle twin of [[stratifiedAtt]]. */
  def duckStratifiedAtt(rel: String, unitCol: String, tsCol: String,
                        valueCol: String, splitMs: Long): String =
    s"""WITH units AS (
       |  SELECT $unitCol AS u,
       |         CAST(count(*) FILTER (WHERE epoch_us($tsCol) < ${splitMs}000)
       |              AS BIGINT) AS npre,
       |         coalesce(sum(CAST(round($valueCol * 1000000.0) AS BIGINT))
       |           FILTER (WHERE NOT epoch_us($tsCol) < ${splitMs}000), 0) AS y
       |  FROM $rel WHERE $unitCol IS NOT NULL GROUP BY 1),
       |lab AS (
       |  SELECT (${Splits.duckBucket("u", 2)}) = 0 AS treat,
       |         CAST(floor(log2(CAST(npre AS DOUBLE) + 1.0)) AS BIGINT) AS k,
       |         y
       |  FROM units),
       |strata AS (
       |  SELECT k,
       |         CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nt,
       |         CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS nc,
       |         sum(CAST(y AS HUGEINT)) FILTER (WHERE treat) AS st,
       |         sum(CAST(y AS HUGEINT)) FILTER (WHERE NOT treat) AS sc
       |  FROM lab GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(nt) AS BIGINT) AS n_treat,
       |         CAST(sum(nc) AS BIGINT) AS n_ctrl,
       |         CAST(count(*) AS BIGINT) AS n_strata,
       |         CAST(count(*) FILTER (WHERE nt > 0 AND nc > 0) AS BIGINT)
       |           AS n_common,
       |         CAST(coalesce(sum(nt) FILTER (WHERE nc = 0), 0) AS BIGINT)
       |           AS treat_off_support,
       |         CAST(coalesce(sum(nt) FILTER (WHERE nt > 0 AND nc > 0), 0)
       |              AS BIGINT) AS ntcs
       |  FROM strata),
       |terms AS (
       |  SELECT CAST(sum(CAST(round(
       |    CAST(nt AS DOUBLE) / CAST(ntcs AS DOUBLE)
       |    * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0
       |       - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) / 1000000.0)
       |    * 1000000.0) AS BIGINT)) AS BIGINT) AS attm
       |  FROM strata CROSS JOIN tot WHERE nt > 0 AND nc > 0)
       |SELECT n_treat, n_ctrl, n_strata, n_common, treat_off_support,
       |       CASE WHEN n_common > 0 THEN
       |         round(CAST(attm AS DOUBLE) / 1000000.0, 6) END AS att
       |FROM tot CROSS JOIN terms""".stripMargin

  /** Sample-ratio-mismatch (SRM) check — the experiment-health gate
    * every A/B platform runs before reading results: distinct UNITS per
    * assignment bucket vs the uniform expectation n/k, goodness-of-fit
    *
    *   χ² = Σ_{b=0..k−1} (o_b − n/k)²/(n/k) = Σ (o_b·k − n)² / (n·k),
    *
    * flagged when χ² exceeds the caller's critical value (pass the
    * χ²_{k−1} quantile for the chosen α — e.g. 10.828 at α=0.001,
    * k=2). A fired SRM means the assignment/logging pipeline is biased
    * and every downstream metric is suspect. All k buckets contribute,
    * absent ones at o=0 (the [[chiSquared]] spine discipline); per-
    * bucket terms µ-requantize so the sum is order-independent.
    *
    * Scale shape: one unit-distinct aggregate (map-side combinable) to
    * k rows, then a k-row spine join.
    *
    * Output (one row): (n_units, n_buckets, dof, chi2, srm).
    */
  def srmCheck(df: DataFrame, unitCol: String, nBuckets: Int,
               crit: Double): DataFrame = {
    require(nBuckets >= 2, "srmCheck: need at least two buckets")
    // Barrier: the bucket table (nBuckets rows) feeds both the spine
    // join and the grand total — pin it so the corpus distinct runs
    // once (the chiSquared pattern).
    val byB = graft.Jobs.pin(df.filter(col(unitCol).isNotNull)
      .select(col(unitCol)).distinct()
      .groupBy(Splits.bucketOf(col(unitCol), nBuckets).as("_b"))
      .agg(count(lit(1)).as("_o")), "srm_check", "buckets")
    val spine = df.sparkSession.range(nBuckets).select(col("id").as("_b"))
    val cells = spine.join(byB, Seq("_b"), "left")
      .select(coalesce(col("_o"), lit(0L)).as("_o"))
      .crossJoin(byB.agg(sum(col("_o")).as("_n")))
    val diff = dbl(d38(col("_o")) * lit(nBuckets.toLong) - d38(col("_n")))
    val contrib = diff * diff / (dbl(col("_n")) * lit(nBuckets.toDouble))
    cells
      .select(col("_n"),
        round(contrib * lit(1000000.0)).cast("long").as("_cm"))
      .groupBy(col("_n"))
      .agg(sum(col("_cm")).as("_chi2m"))
      .select(
        col("_n").as("n_units"),
        lit(nBuckets.toLong).as("n_buckets"),
        lit(nBuckets - 1L).as("dof"),
        round(dbl(col("_chi2m")) / lit(1000000.0), 6).as("chi2"),
        (dbl(col("_chi2m")) / lit(1000000.0) > crit).as("srm"))
  }

  /** DuckDB oracle twin of [[srmCheck]]. */
  def duckSrmCheck(rel: String, unitCol: String, nBuckets: Int,
                   crit: Double): String =
    s"""WITH u AS (SELECT DISTINCT $unitCol AS uid FROM $rel
       |           WHERE $unitCol IS NOT NULL),
       |byb AS (SELECT ${Splits.duckBucket("uid", nBuckets)} AS b,
       |               CAST(count(*) AS BIGINT) AS o
       |        FROM u GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM byb),
       |cells AS (
       |  SELECT coalesce(byb.o, 0) AS o, tot.n
       |  FROM range(0, $nBuckets) r(b) LEFT JOIN byb ON byb.b = r.b
       |  CROSS JOIN tot),
       |cm AS (
       |  SELECT n, CAST(round(
       |    CAST(CAST(o AS HUGEINT) * $nBuckets - CAST(n AS HUGEINT) AS DOUBLE)
       |    * CAST(CAST(o AS HUGEINT) * $nBuckets - CAST(n AS HUGEINT) AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * ${nBuckets.toDouble})
       |    * 1000000.0) AS BIGINT) AS cmicro
       |  FROM cells),
       |agg AS (SELECT n, CAST(sum(cmicro) AS BIGINT) AS chi2m FROM cm GROUP BY 1)
       |SELECT n AS n_units,
       |       CAST($nBuckets AS BIGINT) AS n_buckets,
       |       CAST(${nBuckets - 1} AS BIGINT) AS dof,
       |       round(CAST(chi2m AS DOUBLE) / 1000000.0, 6) AS chi2,
       |       CAST(chi2m AS DOUBLE) / 1000000.0 > $crit AS srm
       |FROM agg""".stripMargin

  /** DuckDB oracle twin of [[ksTest]]. */
  def duckKsTest(rel: String, valueCol: String, groupCol: String,
                 a: String, b: String): String =
    s"""WITH byval AS (
       |  SELECT m,
       |         CAST(count(*) FILTER (WHERE g = '$a') AS BIGINT) AS ca,
       |         CAST(count(*) FILTER (WHERE g = '$b') AS BIGINT) AS cb
       |  FROM (SELECT $groupCol AS g,
       |               CAST(round($valueCol * 1000000.0) AS BIGINT) AS m
       |        FROM $rel WHERE $groupCol IN ('$a', '$b'))
       |  GROUP BY 1),
       |cum AS (
       |  SELECT sum(ca) OVER (ORDER BY m) AS cuma,
       |         sum(cb) OVER (ORDER BY m) AS cumb,
       |         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
       |  FROM byval),
       |agg AS (
       |  SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       |         max(abs(CAST(cuma AS HUGEINT) * CAST(nb AS HUGEINT)
       |                 - CAST(cumb AS HUGEINT) * CAST(na AS HUGEINT))) AS dnum
       |  FROM cum)
       |SELECT n_a, n_b,
       |       CASE WHEN n_a > 0 AND n_b > 0 THEN
       |         round(CAST(dnum AS DOUBLE)
       |               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
       |       END AS d_stat,
       |       CASE WHEN n_a > 0 AND n_b > 0 THEN
       |         round(CAST(dnum AS DOUBLE)
       |               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
       |               * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
       |                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6)
       |       END AS ks_stat
       |FROM agg""".stripMargin

  /** Simpson's-paradox audit: the pooled association between a binary
    * exposure and a binary outcome vs the SAME association within each
    * stratum — the aggregation-bias alarm every observational corpus
    * comparison needs ("source A keeps more docs than B overall, but
    * loses to B inside every language" means the pooled number is
    * composition, not quality). Reports the pooled rate difference,
    * the stratum-size-weighted mean of within-stratum differences (the
    * crude standardized estimate), the extreme stratum differences,
    * and how many strata DISAGREE in sign with the pooled difference —
    * paradox = pooled and weighted estimates on opposite sides of 0,
    * or a majority of flipped strata.
    *
    * Exactness: everything is exact integer 2×2×S cell counts from ONE
    * map-side stratum aggregate; each difference is µ-quantized from
    * one mirrored double expression; the weighted mean's numerator is
    * an exact Σ n_s·diffµ_s integer. Strata where either arm is empty
    * carry no within-stratum difference (excluded from the weighted
    * mean and flip counts, reported in n_undefined).
    *
    * Output 1 row: (n, n_strata, n_undefined, pooled_diff,
    * weighted_diff, min_stratum_diff, max_stratum_diff, n_sign_flips).
    */
  def simpsonAudit(df: DataFrame, strataCol: String, exposedPred: String,
                   outcomePred: String): DataFrame = {
    val e = expr(exposedPred)
    val y = expr(outcomePred)
    // ONE corpus pass to the stratum table; the pooled totals ride a
    // partition-less window over those ≤|strata| rows, so the flip
    // census sees the pooled sign without a second corpus aggregate.
    val cells = df.groupBy(col(strataCol).as("_s")).agg(
      count(when(e, lit(1))).as("_na"),
      count(when(e && y, lit(1))).as("_pa"),
      count(when(!e, lit(1))).as("_nb"),
      count(when(!e && y, lit(1))).as("_pb"))
    val defined = col("_na") > 0L && col("_nb") > 0L
    val diffMu = round((dbl(col("_pa")) / dbl(col("_na"))
      - dbl(col("_pb")) / dbl(col("_nb"))) * 1e6).cast("long")
    val w = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val withTot = cells
      .withColumn("_d", when(defined, diffMu))
      .withColumn("_tna", sum(col("_na")).over(w))
      .withColumn("_tpa", sum(col("_pa")).over(w))
      .withColumn("_tnb", sum(col("_nb")).over(w))
      .withColumn("_tpb", sum(col("_pb")).over(w))
      .withColumn("_pool", when(col("_tna") > 0L && col("_tnb") > 0L,
        round((dbl(col("_tpa")) / dbl(col("_tna"))
          - dbl(col("_tpb")) / dbl(col("_tnb"))) * 1e6).cast("long")))
    withTot.agg(
        sum(col("_na") + col("_nb")).as("n"),
        count(lit(1L)).as("n_strata"),
        count(when(col("_d").isNull, lit(1))).as("n_undefined"),
        min(col("_pool")).as("_pl"),
        sum(when(col("_d").isNotNull, col("_na") + col("_nb"))).as("_wn"),
        sum(col("_d") * (col("_na") + col("_nb"))).as("_wd"),
        min(col("_d")).as("_mn"), max(col("_d")).as("_mx"),
        count(when(col("_d").isNotNull && col("_pool").isNotNull &&
          ((col("_d") > 0L && col("_pool") < 0L) ||
            (col("_d") < 0L && col("_pool") > 0L)), lit(1)))
          .as("n_sign_flips"))
      .select(col("n"), col("n_strata"), col("n_undefined"),
        round(dbl(col("_pl")) / 1e6, 6).as("pooled_diff"),
        when(col("_wn") > 0L,
          round(dbl(col("_wd")) / dbl(col("_wn")) / 1e6, 6))
          .as("weighted_diff"),
        round(dbl(col("_mn")) / 1e6, 6).as("min_stratum_diff"),
        round(dbl(col("_mx")) / 1e6, 6).as("max_stratum_diff"),
        col("n_sign_flips"))
  }

  /** DuckDB oracle twin of [[simpsonAudit]]. */
  def duckSimpsonAudit(rel: String, strataCol: String, exposedPred: String,
                       outcomePred: String): String =
    s"""WITH cells AS (
       |  SELECT $strataCol AS s,
       |         CAST(count(*) FILTER (WHERE $exposedPred) AS BIGINT) AS na,
       |         CAST(count(*) FILTER (WHERE ($exposedPred) AND ($outcomePred)) AS BIGINT) AS pa,
       |         CAST(count(*) FILTER (WHERE NOT ($exposedPred)) AS BIGINT) AS nb,
       |         CAST(count(*) FILTER (WHERE NOT ($exposedPred) AND ($outcomePred)) AS BIGINT) AS pb
       |  FROM $rel GROUP BY 1),
       |d AS (
       |  SELECT *, CASE WHEN na > 0 AND nb > 0 THEN
       |    CAST(round((CAST(pa AS DOUBLE) / CAST(na AS DOUBLE)
       |                - CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE))
       |               * 1000000.0) AS BIGINT) END AS dm
       |  FROM cells),
       |a AS (
       |  SELECT CAST(sum(na + nb) AS BIGINT) AS n,
       |         CAST(count(*) AS BIGINT) AS n_strata,
       |         CAST(count(*) FILTER (WHERE dm IS NULL) AS BIGINT) AS n_undefined,
       |         sum(na) AS tna, sum(pa) AS tpa, sum(nb) AS tnb, sum(pb) AS tpb,
       |         CAST(sum(na + nb) FILTER (WHERE dm IS NOT NULL) AS BIGINT) AS wn,
       |         sum(dm * (na + nb)) AS wd,
       |         min(dm) AS mn, max(dm) AS mx
       |  FROM d),
       |p AS (
       |  SELECT a.*, CASE WHEN tna > 0 AND tnb > 0 THEN
       |    CAST(round((CAST(tpa AS DOUBLE) / CAST(tna AS DOUBLE)
       |                - CAST(tpb AS DOUBLE) / CAST(tnb AS DOUBLE))
       |               * 1000000.0) AS BIGINT) END AS pool
       |  FROM a),
       |fl AS (
       |  SELECT CAST(count(*) FILTER (WHERE dm IS NOT NULL AND pool IS NOT NULL
       |           AND ((dm > 0 AND pool < 0) OR (dm < 0 AND pool > 0)))
       |         AS BIGINT) AS n_sign_flips
       |  FROM d CROSS JOIN p)
       |SELECT n, n_strata, n_undefined,
       |       round(CAST(pool AS DOUBLE) / 1e6, 6) AS pooled_diff,
       |       CASE WHEN wn > 0 THEN
       |         round(CAST(wd AS DOUBLE) / CAST(wn AS DOUBLE) / 1e6, 6)
       |       END AS weighted_diff,
       |       round(CAST(mn AS DOUBLE) / 1e6, 6) AS min_stratum_diff,
       |       round(CAST(mx AS DOUBLE) / 1e6, 6) AS max_stratum_diff,
       |       n_sign_flips
       |FROM p CROSS JOIN fl""".stripMargin

  /** Cumulative Poisson(1) CDF thresholds (e⁻¹·Σ 1/k!), shared by both
    * engines: a uniform u maps to the smallest k with u < P(≤k), capped
    * at 7 (P > 7 ≈ 1e-5 — one resample weight in ~10⁵ truncated by at
    * most its tail excess).
    */
  private val PoissonCdf: Seq[(Double, Int)] = {
    val e1 = math.exp(-1.0)
    Seq(1.0, 2.0, 2.5, 8.0 / 3, 65.0 / 24, 163.0 / 60, 1957.0 / 720)
      .map(_ * e1).zipWithIndex
  }

  /** Poisson bootstrap confidence interval for the mean of `valCol` —
    * the uncertainty quantification that actually distributes: the
    * classical bootstrap draws n-out-of-n WITH replacement, which
    * requires global coordination, but Poisson(1) per-row weights
    * approximate the same resample independently per row (the standard
    * large-scale trick), so all `reps` replicates come from ONE
    * map-side-combinable pass with 2·reps running sums and nothing
    * else — no row duplication, no shuffle of the corpus, no state.
    *
    * The weights are DETERMINISTIC (the repo-wide replayable-sampling
    * convention, [[Splits.bucketOf]]): ONE fingerprint per row
    * (h = fp(salt:id)), then replicate b draws
    * u_b = [[graft.functions.TextAnalysis.mixToUniform]]((h + b·MixStep)
    * mod FpMod) → inverse-CDF Poisson(1) — B cheap quadratic remixes
    * per row instead of B string folds, and the released interval stays
    * a pure function of the data and the salt, reproducible across
    * engines. (The avalanche mix matters twice here: the raw rolling
    * fingerprint clusters for consecutive inputs — it starved every
    * replicate to weight 0 — and a LINEAR remix would leave replicates
    * b and b+1 rank-correlated.)
    *
    * Determinism discipline: per-replicate weighted sums are exact
    * DECIMAL micro-integers; each replicate mean is µ-quantized to a
    * BIGINT; the CI bounds are exact order statistics of those
    * integers at ranks ⌈B·α/200⌉ and ⌈B·(1−α/200)⌉; the bootstrap SE
    * folds the (m_b − m_full) deltas in b-order (identical fold order
    * both engines). A replicate that drew zero total weight (possible
    * only for tiny n) contributes the full-sample mean — deterministic
    * and information-free, keeping the order-statistic ranks fixed.
    *
    * Output 1 row: (n, reps, mean, se_boot, ci_lo, ci_hi).
    */
  def poissonBootstrap(df: DataFrame, idCol: String, valCol: String,
                       reps: Int = 40, alphaPct: Int = 5,
                       salt: String = "boot"): DataFrame = {
    require(reps >= 4 && reps <= 256, s"poissonBootstrap: reps=$reps")
    require(alphaPct >= 1 && alphaPct < 100, s"poissonBootstrap: alphaPct=$alphaPct")
    import graft.functions.TextAnalysis
    val vmu = round(dbl(col(valCol)) * 1e6).cast("decimal(38,0)")
    // ONE string fingerprint per row; each replicate re-mixes it with a
    // prime step through the quadratic scrambler — B cheap integer
    // rounds instead of B string folds per row (and B× smaller codegen)
    val base = df.select(col(idCol).cast("long").as("_id"), vmu.as("_v"))
      .withColumn("_h", TextAnalysis.fingerprint(
        concat_ws(":", lit(salt), col("_id").cast("string"))))
    def cOf(b: Int): Column = {
      val u = TextAnalysis.mixToUniform(
        (col("_h") + lit(b * TextAnalysis.MixStep)) % TextAnalysis.FpMod)
      PoissonCdf.foldRight(lit(7L)) { case ((t, k), els) =>
        when(u < t, lit(k.toLong)).otherwise(els)
      }
    }
    val allAggs = Seq(count(lit(1L)).as("n"), sum(col("_v")).as("_tot")) ++
      (0 until reps).flatMap { b =>
        Seq(sum(d38(cOf(b)) * col("_v")).as(s"_s$b"),
          sum(cOf(b)).as(s"_c$b"))
      }
    val agged = base.agg(allAggs.head, allAggs.tail: _*)
    val mFull = round(dbl(col("_tot")) / dbl(col("n"))).cast("long")
    val ms = array((0 until reps).map { b =>
      when(col(s"_c$b") === 0L, col("_mf"))
        .otherwise(round(dbl(col(s"_s$b")) / dbl(col(s"_c$b"))).cast("long"))
    }: _*)
    def fold(l: Column, f: Column => Column): Column =
      aggregate(l, lit(0.0), (acc, x) => acc + f(x))
    val loRank = math.max(1, math.ceil(reps * alphaPct / 200.0).toInt)
    val hiRank = math.min(reps, math.ceil(reps * (1.0 - alphaPct / 200.0)).toInt)
    val bD = reps.toDouble
    agged
      .withColumn("_mf", mFull)
      .withColumn("_ms", ms)
      .withColumn("_sd", fold(col("_ms"), m => dbl(m - col("_mf"))))
      .withColumn("_sd2", fold(col("_ms"),
        m => dbl(m - col("_mf")) * dbl(m - col("_mf"))))
      .select(col("n"), lit(reps.toLong).as("reps"),
        round(dbl(col("_tot")) / dbl(col("n")) / 1e6, 6).as("mean"),
        round(sqrt((lit(bD) * col("_sd2") - col("_sd") * col("_sd"))
          / lit(bD * (bD - 1.0))) / 1e6, 6).as("se_boot"),
        round(dbl(element_at(sort_array(col("_ms")), loRank)) / 1e6, 6)
          .as("ci_lo"),
        round(dbl(element_at(sort_array(col("_ms")), hiRank)) / 1e6, 6)
          .as("ci_hi"))
  }

  /** DuckDB oracle twin of [[poissonBootstrap]] — same fingerprint
    * uniforms, same CDF thresholds, same µ-integer replicate means,
    * same ranks and b-ordered folds. The oracle materializes the
    * n×reps draw table (fine at gate scale) where the engine keeps it
    * as running sums.
    */
  def duckPoissonBootstrap(rel: String, idCol: String, valCol: String,
                           reps: Int = 40, alphaPct: Int = 5,
                           salt: String = "boot"): String = {
    import graft.functions.TextAnalysis
    val cdfCase = PoissonCdf.map { case (t, k) =>
      s"WHEN u < $t THEN $k" }.mkString(" ")
    val uExpr = TextAnalysis.duckMixToUniform(
      s"(h + b * ${TextAnalysis.MixStep}) % ${TextAnalysis.FpMod}")
    val loRank = math.max(1, math.ceil(reps * alphaPct / 200.0).toInt)
    val hiRank = math.min(reps, math.ceil(reps * (1.0 - alphaPct / 200.0)).toInt)
    def foldDm(expr: String): String =
      s"""list_reduce(list_prepend(0.0, list($expr ORDER BY b)),
         |            (acc, x) -> acc + x)""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST($idCol AS BIGINT) AS id,
       |         CAST(round(CAST($valCol AS DOUBLE) * 1000000.0) AS HUGEINT) AS v,
       |         ${TextAnalysis.duckFingerprint(
                    s"'$salt:' || CAST(CAST($idCol AS BIGINT) AS VARCHAR)")} AS h
       |  FROM $rel),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s FROM base),
       |mf AS (SELECT CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |              AS BIGINT) AS mf FROM tot),
       |draws AS (
       |  SELECT b, v,
       |         CASE $cdfCase ELSE 7 END AS c
       |  FROM (SELECT b, v, $uExpr AS u
       |        FROM (SELECT v, h FROM base)
       |        CROSS JOIN (SELECT range AS b FROM range(0, $reps)))),
       |rm AS (SELECT b, sum(c * v) AS s, CAST(sum(c) AS BIGINT) AS c
       |       FROM draws GROUP BY b),
       |m AS (SELECT b,
       |             CASE WHEN c = 0 THEN (SELECT mf FROM mf)
       |                  ELSE CAST(round(CAST(s AS DOUBLE) / CAST(c AS DOUBLE))
       |                            AS BIGINT) END AS m
       |      FROM rm),
       |f AS (SELECT ${foldDm("CAST(m - (SELECT mf FROM mf) AS DOUBLE)")} AS sd,
       |             ${foldDm("CAST(m - (SELECT mf FROM mf) AS DOUBLE) * CAST(m - (SELECT mf FROM mf) AS DOUBLE)")} AS sd2
       |      FROM m),
       |ci AS (SELECT
       |        (SELECT m FROM m ORDER BY m LIMIT 1 OFFSET ${loRank - 1}) AS lo,
       |        (SELECT m FROM m ORDER BY m LIMIT 1 OFFSET ${hiRank - 1}) AS hi)
       |SELECT n, CAST($reps AS BIGINT) AS reps,
       |       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS mean,
       |       round(sqrt(($reps.0 * sd2 - sd * sd)
       |             / (${reps}.0 * ${(reps - 1)}.0)) / 1e6, 6) AS se_boot,
       |       round(CAST(lo AS DOUBLE) / 1e6, 6) AS ci_lo,
       |       round(CAST(hi AS DOUBLE) / 1e6, 6) AS ci_hi
       |FROM tot CROSS JOIN f CROSS JOIN ci""".stripMargin
  }
}
