package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Day-over-day / week-over-week deltas — the comparison row every
  * metrics dashboard renders next to a number: computed over the DENSE
  * calendar spine ([[DenseSeries.denseDaily]]), not the sparse aggregate,
  * because `lag(7)` over sparse rows means "7 PRESENT days ago" —
  * a gap silently turns week-over-week into
  * whatever-rows-happened-to-exist, the classic dashboard lie. On the
  * dense spine lag(1)/lag(7) are calendar-exact by construction, and a
  * zero-filled outage day shows a −100% drop instead of no row.
  *
  * Percent changes are integer basis points, `Δ·10⁴ div |prev|`
  * truncated toward zero ([[graft.ExactDiv]]), NULL when the baseline is
  * 0 or missing — a change from zero has no percentage.
  *
  * Scale shape: denseDaily's posture (output-sized spine) plus one
  * per-group rank window over DAYS (day-cardinality, not row-cardinality).
  */
object Deltas {

  /** (groupCol, day, n_rows, sum_value, dod_bp, wow_bp): day-over-day and
    * week-over-week percent change of `sum_value` in basis points over
    * the dense daily spine.
    */
  def dayOverDay(df: DataFrame, groupCol: String, dateCol: String,
                 valueCol: String): DataFrame = {
    val dense = DenseSeries.denseDaily(df, groupCol, dateCol, valueCol)
    val ord = Window.partitionBy(col(groupCol)).orderBy(col("day"))
    val withLags = dense
      .withColumn("__p1", lag(col("sum_value"), 1).over(ord).cast("decimal(38,0)"))
      .withColumn("__p7", lag(col("sum_value"), 7).over(ord).cast("decimal(38,0)"))
    def bp(prevCol: String): org.apache.spark.sql.Column =
      when(col(prevCol).isNotNull && col(prevCol) =!= 0,
        graft.ExactDiv.quot(col("sum_value").cast("decimal(38,0)") - col(prevCol),
          abs(col(prevCol)), 10000))
    withLags
      .select(col(groupCol), col("day"), col("n_rows"), col("sum_value"),
        bp("__p1").as("dod_bp"), bp("__p7").as("wow_bp"))
  }

  /** DuckDB replay of [[dayOverDay]] — the dense-spine CTE plus the same
    * lag and truncating division.
    */
  def oracleSql(table: String, groupCol: String, dateCol: String,
                valueSql: String): String = {
    val dense = DenseSeries.denseDailyOracleBody(table, groupCol, dateCol, valueSql)
    def bp(n: Int) =
      s"""CASE WHEN lag(sum_value, $n) OVER w IS NOT NULL
       AND lag(sum_value, $n) OVER w <> 0
  THEN ${graft.ExactDiv.quotSql(
        s"CAST(sum_value AS DECIMAL(38,0)) - lag(sum_value, $n) OVER w",
        s"abs(lag(sum_value, $n) OVER w)", 10000)} END"""
    s"""WITH dense AS ($dense)
SELECT $groupCol, day, n_rows, sum_value,
  ${bp(1)} AS dod_bp,
  ${bp(7)} AS wow_bp
FROM dense
WINDOW w AS (PARTITION BY $groupCol ORDER BY day)
ORDER BY $groupCol, day""".stripMargin
  }
}
