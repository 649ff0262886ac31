package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leave-one-group-out ablation — "what happens to the metric if we
  * drop this source": for any RATIO metric Σnum/Σden (mean quality,
  * dedup rate, tokens-per-doc, revenue-per-order), the
  * leave-one-out value is pure algebra on the group totals —
  * (N−n_g)/(D−d_g) — so the whole ablation table costs ONE partial-
  * agg'd pass, no per-group re-scans, no model retraining: the
  * data-valuation readout a corpus-mixing decision actually uses
  * ("dropping source X raises mean quality by 40 milli-units").
  *
  * Published quantized: the global metric, each group's LOO metric
  * (both 10⁶·num/den truncated toward zero — numerators may be
  * negative), and
  * their difference (a difference of the two already-quantized values:
  * declared semantics, each floor independent). A group carrying ALL
  * the denominator mass reports NULL LOO (no corpus left to measure).
  * Denominators must be non-negative per row (a ratio metric's mass;
  * raises in-plan riding the outputs); NULL num/den rows drop; NULL
  * groups are a real stratum.
  */
object Ablation {

  val Scale = 1000000L

  /** (groupCol, n_rows, metric_q6, loo_q6, delta_q6). */
  def leaveOneOut(df: DataFrame, groupCol: String, numCol: String,
                  denCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, numCol, "leaveOneOut")
    graft.Guards.requireIntegral(df, denCol, "leaveOneOut")
    val dec = "decimal(38,0)"
    val guardedDen = when(col(denCol) < 0,
      raise_error(concat(lit("leaveOneOut: negative denominator "),
        col(denCol).cast("string"),
        lit(" — ratio-metric mass must be non-negative"))))
      .otherwise(col(denCol).cast("long"))
    val perGroup = df
      .where(col(numCol).isNotNull && col(denCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(numCol).cast("long").cast(dec)).as("__n"),
        sum(guardedDen.cast(dec)).as("__d"))
    val totals = perGroup.agg(
      coalesce(sum(col("__n")), lit(0).cast(dec)).as("__tn"),
      coalesce(sum(col("__d")), lit(0).cast(dec)).as("__td"))
    def q6(num: org.apache.spark.sql.Column,
           den: org.apache.spark.sql.Column) =
      when(den <= lit(0).cast(dec), lit(null).cast("long"))
        .otherwise(graft.ExactDiv.quot(num, den, Scale))
    perGroup.crossJoin(broadcast(totals))
      .withColumn("metric_q6", q6(col("__tn"), col("__td")))
      .withColumn("loo_q6",
        q6(col("__tn") - col("__n"), col("__td") - col("__d")))
      .select(col(groupCol), col("n_rows"), col("metric_q6"), col("loo_q6"),
        (col("loo_q6") - col("metric_q6")).as("delta_q6"))
  }

  /** DuckDB replay of [[leaveOneOut]] — HUGEINT totals, same truncating
    * divisions.
    */
  def oracleSql(table: String, groupCol: String, numSql: String,
                denSql: String): String = {
    def q6(num: String, den: String) =
      s"CASE WHEN $den <= 0 THEN NULL " +
        s"ELSE ${graft.ExactDiv.quotSql(num, den, Scale)} END"
    s"""WITH g AS (
  SELECT $groupCol, CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CAST($numSql AS BIGINT)) AS HUGEINT) AS n,
    CAST(sum(CAST($denSql AS BIGINT)) AS HUGEINT) AS d
  FROM $table
  WHERE ($numSql) IS NOT NULL AND ($denSql) IS NOT NULL
  GROUP BY $groupCol),
t AS (SELECT CAST(coalesce(sum(n), 0) AS HUGEINT) AS tn,
    CAST(coalesce(sum(d), 0) AS HUGEINT) AS td FROM g)
SELECT $groupCol, n_rows,
  ${q6("tn", "td")} AS metric_q6,
  ${q6("tn - n", "td - d")} AS loo_q6,
  ${q6("tn - n", "td - d")} - ${q6("tn", "td")} AS delta_q6
FROM g, t ORDER BY $groupCol"""
  }
}
