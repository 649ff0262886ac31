package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic interval proration — split an interval-scoped amount
  * across the integer periods it spans (revenue recognition of a
  * subscription across its days, budget spread across a campaign's
  * weeks, cost allocation across a job's hours): per period,
  * `share = v div n` plus one extra unit on the FIRST `v mod n`
  * periods — the front-loaded largest-remainder-free rule, declared —
  * so `Σ shares ≡ v` EXACTLY (the invariant an accounting pipeline
  * actually audits; any rounding rule that loses units fails
  * reconciliation). Negative amounts mirror it: `v div n` truncates
  * toward zero and the first `|v mod n|` periods carry one extra unit of
  * v's sign, so refunds reconcile identically.
  *
  * Scale shape: one scan-stage `sequence` explode per interval — output
  * is span-bounded (the [[Resample]] spine posture), no shuffle at all;
  * a `maxSpan` guard raises IN-PLAN before a corrupt interval (end =
  * year 9999) can explode a partition. Contracts: `end` is EXCLUSIVE;
  * `end ≤ start` raises (an empty or negative span has no periods to
  * carry the amount — dropping it would silently lose money); NULL
  * start/end/value rows drop.
  */
object Prorate {

  /** Input columns preserved + (period, share). */
  def daily(df: DataFrame, startCol: String, endCol: String,
            valueCol: String, maxSpan: Long = 100000L): DataFrame = {
    require(maxSpan >= 1, s"maxSpan must be >= 1, got $maxSpan")
    Seq(startCol, endCol, valueCol).foreach(c =>
      graft.Guards.requireIntegral(df, c, "prorate"))
    val rows = df
      .where(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(valueCol).isNotNull)
      .withColumn("__s", col(startCol).cast("long"))
      .withColumn("__e", col(endCol).cast("long"))
      .withColumn("__v", col(valueCol).cast("long"))
    val n = col("__e") - col("__s")
    val guardedN = when(n <= 0, raise_error(concat(
        lit("prorate: empty/negative span ["), col("__s").cast("string"),
        lit(", "), col("__e").cast("string"),
        lit(") — an amount with no periods would silently vanish"))))
      .when(n > maxSpan, raise_error(concat(
        lit("prorate: span "), n.cast("string"),
        lit(s" exceeds maxSpan $maxSpan — corrupt interval? raise maxSpan"))))
      .otherwise(n)
    val base = graft.ExactDiv.quot(col("__v"), guardedN)
    val rem = abs(col("__v") % guardedN)
    rows
      .withColumn("__off", explode(sequence(lit(0L), guardedN - 1)))
      .select(df.columns.map(col) :+
        (col("__s") + col("__off")).as("period") :+
        (base + when(col("__off") < rem, signum(col("__v")).cast("long"))
          .otherwise(lit(0L))).as("share"): _*)
  }

  /** DuckDB replay — the same front-loaded rule over generate_series.
    * `rowsSql` yields the id/start/end/value columns; `keepCols` are
    * echoed.
    */
  def oracleSql(rowsSql: String, startE: String, endE: String,
                valueE: String, keepCols: Seq[String]): String = {
    val keep = keepCols.mkString(", ")
    s"""WITH r AS (SELECT *, CAST($startE AS BIGINT) AS s_, CAST($endE AS BIGINT) AS e_,
    CAST($valueE AS BIGINT) AS v_ FROM ($rowsSql)
  WHERE ($startE) IS NOT NULL AND ($endE) IS NOT NULL AND ($valueE) IS NOT NULL),
x AS (SELECT *, unnest(generate_series(0, e_ - s_ - 1)) AS off_ FROM r)
SELECT $keep, s_ + off_ AS period,
  ${graft.ExactDiv.quotSql("v_", "e_ - s_")} +
    CASE WHEN off_ < abs(v_ % (e_ - s_)) THEN sign(v_) ELSE 0 END AS share
FROM x ORDER BY $keep, period"""
  }
}
