package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Shared

/** Closed-form causal estimators over observational tables — the
  * difference-in-differences and post-stratification estimates an
  * experimentation platform computes when it cannot randomize. Both are
  * ONE-scan compositions of exact sufficient statistics (the agg_cuped /
  * agg_ab_welch discipline): counts stay integers, outcome mass rides
  * DECIMAL(38,0) until the edge, and the only IEEE operations are final
  * divisions and a stratum-ordered fold — so any engine reproduces the
  * estimates bit-identically.
  */
object Causal {

  /** 2×2 difference-in-differences: `treat` and `post` are boolean
    * columns, `outcome` an integer-exact numeric (e.g. cents). One scan
    * produces the four cell means (exact DECIMAL sums / integer counts —
    * four correctly-rounded divisions) and
    * did = (m_t1 − m_t0) − (m_c1 − m_c0), a fixed IEEE tree. Empty cells
    * yield NULL means (NULLIF guards the ANSI division). Output: one row
    * (n + mean per cell, did).
    */
  def diffInDiff(df: DataFrame, treat: Column, post: Column,
                 outcome: Column): DataFrame = {
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(treat === t && post === p, lit(1L)).otherwise(lit(0L)))
        .as(s"n_$suffix"),
      sum(when(treat === t && post === p, outcome.cast("decimal(38,0)"))
        .otherwise(lit(0L).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as(s"__s_$suffix"))
    val cells =
      cell(true, false, "t0") ++ cell(true, true, "t1") ++
        cell(false, false, "c0") ++ cell(false, true, "c1")
    df.agg(cells.head, cells.tail: _*)
      .selectExpr(
        "CAST(n_t0 AS BIGINT) AS n_t0", "CAST(n_t1 AS BIGINT) AS n_t1",
        "CAST(n_c0 AS BIGINT) AS n_c0", "CAST(n_c1 AS BIGINT) AS n_c1",
        "CAST(ROUND(CAST(__s_t0 AS DOUBLE) / NULLIF(n_t0, 0), 6) AS DOUBLE) AS mean_t0",
        "CAST(ROUND(CAST(__s_t1 AS DOUBLE) / NULLIF(n_t1, 0), 6) AS DOUBLE) AS mean_t1",
        "CAST(ROUND(CAST(__s_c0 AS DOUBLE) / NULLIF(n_c0, 0), 6) AS DOUBLE) AS mean_c0",
        "CAST(ROUND(CAST(__s_c1 AS DOUBLE) / NULLIF(n_c1, 0), 6) AS DOUBLE) AS mean_c1",
        """CAST(ROUND(
          |  (CAST(__s_t1 AS DOUBLE) / NULLIF(n_t1, 0)
          |     - CAST(__s_t0 AS DOUBLE) / NULLIF(n_t0, 0))
          |  - (CAST(__s_c1 AS DOUBLE) / NULLIF(n_c1, 0)
          |     - CAST(__s_c0 AS DOUBLE) / NULLIF(n_c0, 0)),
          |  6) AS DOUBLE) AS did""".stripMargin)
  }

  /** Raking (iterative proportional fitting) — survey-calibration
    * weighting: alternately scale cell weights so the row margin (`pri`)
    * and column margin (`st`) hit the caller's targets, for a FIXED
    * `iters` rounds (the kCore/lloydLoop replay discipline — the oracle
    * chains the identical rounds as CTEs). `cells` must carry
    * (pri, st, n BIGINT, w DOUBLE) and be SMALL (it is a margin-cell
    * table — metadata scale by construction; the corpus scan that
    * builds it happens before this call). Each step localCheckpoints so
    * the step graph stays linear — a naive chained-CTE formulation
    * doubles the upstream plan per step (2^(2·iters) scan copies,
    * measured 3.1 s for 15 cells at sf0.1). Margin sums fold in key
    * order — never a bare double SUM — so each scaling is a fixed IEEE
    * tree shared across engines.
    */
  def rake(cells: DataFrame, targetRow: Double, targetCol: Double,
           iters: Int = 3): DataFrame = {
    def fold(k: String, w: String): String =
      s"aggregate(transform(array_sort(collect_list(struct($k AS k, $w AS v))), " +
        s"x -> x.v), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    var cur = Shared.cut(cells)
    for (_ <- 1 to iters) {
      val rowM = cur.groupBy("pri").agg(expr(fold("st", "w")).as("ms"))
      cur = Shared.cut(cur.join(rowM, "pri")
        .withColumn("w", expr(s"w * CAST($targetRow AS DOUBLE) / ms"))
        .drop("ms"))
      val colM = cur.groupBy("st").agg(expr(fold("pri", "w")).as("ms"))
      cur = Shared.cut(cur.join(colM, "st")
        .withColumn("w", expr(s"w * CAST($targetCol AS DOUBLE) / ms"))
        .drop("ms"))
    }
    cur.select(col("pri"), col("st"), col("n"),
      expr("CAST(ROUND(w, 6) AS DOUBLE)").as("weight"))
  }

  /** Post-stratification ATE with the Neyman variance: within each
    * stratum, treated/control means come from exact DECIMAL sums; the
    * stratum variance uses the overflow-safe exact form
    * (n·Σy² − (Σy)²) / (n·(n−1)) on DECIMAL(38,0) products (the
    * agg_ab_welch idiom — y·y stays a BIGINT cents² product, summed as
    * DECIMAL); the overall ATE = Σ_s (n_s/N)·(ȳ₁ₛ − ȳ₀ₛ) and
    * SE² = Σ_s (n_s/N)²·(v₁ₛ/n₁ₛ + v₀ₛ/n₀ₛ) fold in STRATUM ORDER over
    * the collected per-stratum rows (strata-count-bounded — metadata
    * scale), so the double additions are a fixed tree. Strata with an
    * arm under 2 rows are excluded from the estimate and counted in
    * `n_strata_skipped`.
    *
    * `df` must carry `strat`, integer-exact `y` and boolean `treated`.
    * Output: one row (n_total, n_strata, n_strata_skipped, ate, se_ate).
    */
  def stratifiedAte(df: DataFrame): DataFrame = {
    val per = df.groupBy(col("strat")).agg(
      expr("SUM(CASE WHEN treated THEN 1 ELSE 0 END)").as("n1"),
      expr("SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END)").as("n0"),
      expr("CAST(SUM(CASE WHEN treated THEN CAST(y AS DECIMAL(38,0)) " +
        "ELSE 0 END) AS DECIMAL(38,0))").as("s1"),
      expr("CAST(SUM(CASE WHEN NOT treated THEN CAST(y AS DECIMAL(38,0)) " +
        "ELSE 0 END) AS DECIMAL(38,0))").as("s0"),
      expr("CAST(SUM(CASE WHEN treated THEN CAST(y * y AS DECIMAL(38,0)) " +
        "ELSE 0 END) AS DECIMAL(38,0))").as("q1"),
      expr("CAST(SUM(CASE WHEN NOT treated THEN CAST(y * y AS DECIMAL(38,0)) " +
        "ELSE 0 END) AS DECIMAL(38,0))").as("q0"))
    per
      .agg(
        expr("array_sort(collect_list(struct(strat, n1, n0, s1, s0, q1, q0)))")
          .as("xs"),
        sum(col("n1") + col("n0")).as("n_total"),
        count(lit(1)).as("n_strata"),
        sum(when(col("n1") < 2 || col("n0") < 2, 1L).otherwise(0L))
          .as("n_strata_skipped"))
      .selectExpr(
        "CAST(n_total AS BIGINT) AS n_total",
        "CAST(n_strata AS BIGINT) AS n_strata",
        "CAST(n_strata_skipped AS BIGINT) AS n_strata_skipped",
        """CAST(ROUND(aggregate(
          |  filter(xs, x -> x.n1 >= 2 AND x.n0 >= 2),
          |  CAST(0.0 AS DOUBLE),
          |  (acc, x) -> acc + (CAST(x.n1 + x.n0 AS DOUBLE) / n_total)
          |    * (CAST(x.s1 AS DOUBLE) / x.n1 - CAST(x.s0 AS DOUBLE) / x.n0)),
          |  6) AS DOUBLE) AS ate""".stripMargin,
        """CAST(ROUND(SQRT(aggregate(
          |  filter(xs, x -> x.n1 >= 2 AND x.n0 >= 2),
          |  CAST(0.0 AS DOUBLE),
          |  (acc, x) -> acc
          |    + (CAST(x.n1 + x.n0 AS DOUBLE) / n_total)
          |      * (CAST(x.n1 + x.n0 AS DOUBLE) / n_total)
          |      * (CAST(CAST(x.n1 AS DECIMAL(38,0)) * x.q1 - x.s1 * x.s1 AS DOUBLE)
          |           / CAST(x.n1 AS DOUBLE) / CAST(x.n1 - 1 AS DOUBLE) / CAST(x.n1 AS DOUBLE)
          |         + CAST(CAST(x.n0 AS DECIMAL(38,0)) * x.q0 - x.s0 * x.s0 AS DOUBLE)
          |           / CAST(x.n0 AS DOUBLE) / CAST(x.n0 - 1 AS DOUBLE) / CAST(x.n0 AS DOUBLE)))),
          |  6) AS DOUBLE) AS se_ate""".stripMargin)
  }
}
