package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Post-stratified average treatment effect — the observational-data
  * companion to [[AbTest]]'s randomized readouts and the MEANS
  * counterpart of [[Epi.mantelHaenszel]]'s odds pooling: when
  * treatment assignment correlates with a confounder (heavy users got
  * the feature first), the naive mean difference is biased; stratify
  * on the confounder, take the within-stratum difference, and pool
  * weighted by stratum size — the classic adjustment, and the same
  * Simpson's-reversal guard as L339 for a CONTINUOUS outcome.
  *
  * Per stratum the effect is the exact fraction
  *   diff_num = sum_t·n_c − sum_c·n_t,  diff_den = n_t·n_c
  * (mean_t − mean_c cross-multiplied — canonical DECIMAL strings, the
  * GroupedTrend convention) with one declared truncating `ate_q6`
  * division; the POOLED effect weights each stratum by its size:
  * ate_pooled_q6 = Σ ⌊10⁶·n_s·diff_s⌋ / N as two published integers
  * (per-term-floored numerator, exact N — the L306/L308 device).
  * Strata missing a side publish NULL effect and are EXCLUDED from
  * the pool with their dropped row count published beside it
  * (silently pooling a one-armed stratum would corrupt the estimate —
  * the honest-coverage convention).
  *
  * Treatment must be STRICT 0/1 (raise in-plan); outcomes integral
  * (scale to cents upstream); NULL outcome/treatment rows drop; NULL
  * strata are real. One partial-agg'd (stratum, arm) moment pass.
  */
object StratifiedAte {

  val Scale = 1000000L

  /** Per stratum: (strataCol, n_treat, n_ctrl, sum_treat, sum_ctrl,
    * diff_num, diff_den, ate_q6) — NULL effect when a side is empty.
    */
  def byStratum(df: DataFrame, strataCol: String, treatCol: String,
                outcomeCol: String): DataFrame =
    cells(df, strataCol, treatCol, outcomeCol)
      .select(col(strataCol), col("n_t").as("n_treat"),
        col("n_c").as("n_ctrl"), col("s_t").as("sum_treat"),
        col("s_c").as("sum_ctrl"),
        diffNum.cast("string").as("diff_num"),
        diffDen.cast("string").as("diff_den"),
        when(col("n_t") > 0L && col("n_c") > 0L,
          quot(diffNum, diffDen, Scale)).as("ate_q6"))

  /** One pooled row: (n_strata_pooled, n_strata_dropped, n_rows_pooled,
    * pool_num_q6, pool_den) — the reader divides.
    */
  def pooled(df: DataFrame, strataCol: String, treatCol: String,
             outcomeCol: String): DataFrame = {
    val c = cells(df, strataCol, treatCol, outcomeCol)
    val both = col("n_t") > 0L && col("n_c") > 0L
    val ns = (col("n_t") + col("n_c")).cast(Dec)
    c.select(both.as("__ok"), (col("n_t") + col("n_c")).as("__n"),
        when(both, quot(ns * diffNum, diffDen, Scale))
          .as("__term"))
      .agg(
        // coalesce: a fully-filtered input leaves zero cell rows and
        // NULL sums — the honest pooled counts are 0 (r10 review fix)
        coalesce(sum(when(col("__ok"), 1L).otherwise(0L)), lit(0L))
          .as("n_strata_pooled"),
        coalesce(sum(when(col("__ok"), 0L).otherwise(1L)), lit(0L))
          .as("n_strata_dropped"),
        coalesce(sum(when(col("__ok"), col("__n")).otherwise(0L)), lit(0L))
          .as("n_rows_pooled"),
        sum(when(col("__ok"), col("__term"))).as("pool_num_q6"))
      .withColumn("pool_den", col("n_rows_pooled"))
  }

  private val Dec = "decimal(38,0)"

  private def diffNum =
    col("s_t").cast(Dec) * col("n_c").cast(Dec) -
      col("s_c").cast(Dec) * col("n_t").cast(Dec)

  private def diffDen = col("n_t").cast(Dec) * col("n_c").cast(Dec)

  private def cells(df: DataFrame, strataCol: String, treatCol: String,
                    outcomeCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, treatCol, "stratifiedAte")
    graft.Guards.requireIntegral(df, outcomeCol, "stratifiedAte")
    val t = when(col(treatCol).cast("long").isin(0L, 1L),
        col(treatCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("stratifiedAte: treatment must be 0/1, got "),
        col(treatCol).cast("string"))))
    df.where(col(treatCol).isNotNull && col(outcomeCol).isNotNull)
      .select(col(strataCol), t.as("__t"),
        col(outcomeCol).cast("long").as("__y"))
      .groupBy(col(strataCol))
      .agg(sum(col("__t")).as("n_t"),
        sum(lit(1L) - col("__t")).as("n_c"),
        sum(when(col("__t") === 1L, col("__y")).otherwise(0L)).as("s_t"),
        sum(when(col("__t") === 0L, col("__y")).otherwise(0L)).as("s_c"))
  }

  /** DuckDB replay of [[byStratum]]; `rowsSql` yields (grp, t, y). */
  def byStratumOracle(rowsSql: String, strataName: String): String =
    s"""WITH c AS (${cellsSql(rowsSql)})
SELECT grp AS $strataName, CAST(n_t AS BIGINT) AS n_treat,
  CAST(n_c AS BIGINT) AS n_ctrl, CAST(s_t AS BIGINT) AS sum_treat,
  CAST(s_c AS BIGINT) AS sum_ctrl,
  CAST(s_t * n_c - s_c * n_t AS VARCHAR) AS diff_num,
  CAST(n_t * n_c AS VARCHAR) AS diff_den,
  CASE WHEN n_t > 0 AND n_c > 0
    THEN ${quotSql("s_t * n_c - s_c * n_t", "n_t * n_c", Scale)} END AS ate_q6
FROM c ORDER BY grp"""

  def pooledOracle(rowsSql: String): String =
    s"""WITH c AS (${cellsSql(rowsSql)}),
terms AS (SELECT n_t > 0 AND n_c > 0 AS ok, n_t + n_c AS n,
    ${quotSql("(n_t + n_c) * (s_t * n_c - s_c * n_t)", "n_t * n_c", Scale)} AS term
  FROM c)
SELECT CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_strata_pooled,
  CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_strata_dropped,
  CAST(coalesce(sum(n) FILTER (WHERE ok), 0) AS BIGINT) AS n_rows_pooled,
  CAST(sum(term) FILTER (WHERE ok) AS BIGINT) AS pool_num_q6,
  CAST(coalesce(sum(n) FILTER (WHERE ok), 0) AS BIGINT) AS pool_den
FROM terms"""

  private def cellsSql(rowsSql: String): String =
    s"""SELECT grp, CAST(sum(t) AS HUGEINT) AS n_t,
    CAST(sum(1 - t) AS HUGEINT) AS n_c,
    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS HUGEINT) AS s_t,
    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS HUGEINT) AS s_c
  FROM ($rowsSql) WHERE t IS NOT NULL AND y IS NOT NULL GROUP BY grp"""
}
