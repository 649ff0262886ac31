package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Difference-in-differences — the quasi-experimental readout when there
  * was no randomized assignment: compare the treated group's pre→post
  * change against the control group's over the same window, so any
  * common trend (seasonality, market-wide shift) cancels and what
  * remains estimates the treatment effect under the parallel-trends
  * assumption. The observational sibling of [[AbTest]]'s randomized
  * readouts ([[AbTest.cupedCompare]] reduces variance WITHIN a
  * randomized experiment; DiD substitutes for the randomization).
  *
  *   did = (m_tp − m_t0) − (m_cp − m_c0)
  *
  * with each arm's pre→post delta published as an EXACT integer
  * rational: cross-multiplied over that arm's two cell counts and
  * divided to micro-units (1e−6 of the value's unit), truncated toward
  * zero by [[graft.ExactDiv]], so the readout hashes cross-engine.
  * `did_micro` is BY CONTRACT the difference of the two
  * independently-truncated arm deltas — each is within 1 micro-unit of
  * its exact value, so did is within 2 micro-units; that bounded truncation is the price of
  * keeping magnitudes at cell-sum × one-cell-count × 1e6 (fits
  * DECIMAL(38,0)/HUGEINT past 10¹⁰ rows per cell of cents, where the
  * single-fraction form's n⁴ common denominator overflows around 10⁶).
  *
  * Scale shape: ONE grand aggregate of eight conditional partials
  * (count + sum per cell) — map-side collapse whatever the row count;
  * the estimator is a 1-row projection. The [[GroupedTrend]]
  * decomposable-aggregate posture.
  *
  * Contracts: `treatCol`/`postCol` are non-null booleans and `valueCol`
  * integral; rows NULL in any of the three drop. All four cells must be
  * populated — DiD over an empty cell is undefined and fails loudly
  * rather than emitting a NULL estimate someone averages later.
  */
object DiffInDiff {

  private val Dec = "decimal(38,0)"

  /** One row: cell counts, per-arm pre→post deltas, and the DiD estimate
    * in micro-units.
    */
  def did(df: DataFrame, treatCol: String, postCol: String,
          valueCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "did")
    val v = col(valueCol).cast("long").cast(Dec)
    def cell(t: Boolean, p: Boolean) =
      col(treatCol) === lit(t) && col(postCol) === lit(p)
    def n(t: Boolean, p: Boolean) =
      sum(when(cell(t, p), lit(1)).otherwise(lit(0)).cast(Dec))
    def s(t: Boolean, p: Boolean) =
      sum(when(cell(t, p), v).otherwise(lit(0).cast(Dec)))
    val cells = df
      .where(col(treatCol).isNotNull && col(postCol).isNotNull &&
        col(valueCol).isNotNull)
      .agg(
        n(true, true).as("__n_tp"), n(true, false).as("__n_t0"),
        n(false, true).as("__n_cp"), n(false, false).as("__n_c0"),
        s(true, true).as("__s_tp"), s(true, false).as("__s_t0"),
        s(false, true).as("__s_cp"), s(false, false).as("__s_c0"))
    // micro-unit truncating division, guarded: an empty cell makes
    // the estimator undefined — the guard rides INSIDE each estimate
    // column (a standalone dropped guard column would be pruned away)
    val emptyCell = expr(
      "__n_tp = 0 OR __n_t0 = 0 OR __n_cp = 0 OR __n_c0 = 0")
    def delta(post: String, pre: String) = {
      val (sp, s0, np, n0) = (col(s"__s_$post"), col(s"__s_$pre"),
        col(s"__n_$post"), col(s"__n_$pre"))
      when(emptyCell, raise_error(lit(
        "diff-in-diff needs all four (arm × period) cells populated")))
        .otherwise(quot(sp * n0 - s0 * np, np * n0, 1000000))
    }
    cells
      .select(
        col("__n_tp").cast("long").as("n_treat_post"),
        col("__n_t0").cast("long").as("n_treat_pre"),
        col("__n_cp").cast("long").as("n_ctrl_post"),
        col("__n_c0").cast("long").as("n_ctrl_pre"),
        delta("tp", "t0").as("delta_treat_micro"),
        delta("cp", "c0").as("delta_ctrl_micro"))
      // the contract form: difference of the two truncated arm deltas —
      // bounded 2-micro-unit truncation instead of an n⁴ denominator
      .withColumn("did_micro",
        col("delta_treat_micro") - col("delta_ctrl_micro"))
  }

  /** DuckDB replay of [[did]] — same conditional cells, HUGEINT
    * magnitudes, same truncating micro division.
    */
  def oracleSql(table: String, treatSql: String, postSql: String,
                valueSql: String): String = {
    def micro(num: String, den: String) = quotSql(num, den, 1000000)
    s"""WITH b AS (
  SELECT CAST($treatSql AS BOOLEAN) AS t, CAST($postSql AS BOOLEAN) AS p,
    CAST($valueSql AS HUGEINT) AS v
  FROM $table
  WHERE ($treatSql) IS NOT NULL AND ($postSql) IS NOT NULL
    AND ($valueSql) IS NOT NULL),
c AS (
  SELECT
    CAST(count(*) FILTER (WHERE t AND p) AS HUGEINT) AS n_tp,
    CAST(count(*) FILTER (WHERE t AND NOT p) AS HUGEINT) AS n_t0,
    CAST(count(*) FILTER (WHERE NOT t AND p) AS HUGEINT) AS n_cp,
    CAST(count(*) FILTER (WHERE NOT t AND NOT p) AS HUGEINT) AS n_c0,
    coalesce(sum(v) FILTER (WHERE t AND p), 0) AS s_tp,
    coalesce(sum(v) FILTER (WHERE t AND NOT p), 0) AS s_t0,
    coalesce(sum(v) FILTER (WHERE NOT t AND p), 0) AS s_cp,
    coalesce(sum(v) FILTER (WHERE NOT t AND NOT p), 0) AS s_c0
  FROM b)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post, CAST(n_t0 AS BIGINT) AS n_treat_pre,
  CAST(n_cp AS BIGINT) AS n_ctrl_post, CAST(n_c0 AS BIGINT) AS n_ctrl_pre,
  ${micro("s_tp * n_t0 - s_t0 * n_tp", "n_tp * n_t0")} AS delta_treat_micro,
  ${micro("s_cp * n_c0 - s_c0 * n_cp", "n_cp * n_c0")} AS delta_ctrl_micro,
  ${micro("s_tp * n_t0 - s_t0 * n_tp", "n_tp * n_t0")} -
  ${micro("s_cp * n_c0 - s_c0 * n_cp", "n_cp * n_c0")} AS did_micro
FROM c""".stripMargin
  }
}
