package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Time-weighted mean over irregularly-sampled series — the correct
  * "average level" for metrics that HOLD between samples (queue depth,
  * price, concurrency, battery %): a plain AVG over samples overweights
  * the bursty periods that produce many samples; the step-interpolated
  * integral `Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_N − t₀)` weights each observation by
  * how long it was the current value. The last sample of a series carries
  * no duration (nothing holds after it) — the standard left-step
  * convention.
  *
  * Exactness: timestamps become microseconds, values are integral (the
  * Drift rule), v·dur products and their sums ride DECIMAL(38,0), and the
  * final mean is ONE truncating division ([[graft.ExactDiv]]), emitted
  * as BIGINT in the value's own units.
  *
  * Scale shape: one per-group rank window for the `lead` durations (the
  * rank-normalize wall-clock posture — spill-backed sort, no frame
  * buffer), then one partial-agg'd group reduction. Ordering is the
  * (ts, id) total order, so duplicate timestamps contribute zero-duration
  * segments deterministically. Rows with a NULL ts/value/id drop;
  * single-sample groups — and groups whose samples ALL share one
  * timestamp (zero total duration) — have no interval to average over
  * and drop.
  */
object TimeWeighted {

  /** (groupCol, n_segments, duration_us, twa) per group. */
  def timeWeightedMean(df: DataFrame, groupCol: String, tsCol: String,
                       valueCol: String, idCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, valueCol, "timeWeightedMean")
    val t = unix_micros(col(tsCol).cast("timestamp"))
    val rows = df
      .where(col(tsCol).isNotNull && col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol), t.as("__t"), col(idCol).as("__id"),
        col(valueCol).cast(LongType).as("__v"))
    val ord = Window.partitionBy(col(groupCol)).orderBy(col("__t"), col("__id"))
    rows
      .withColumn("__dur", lead(col("__t"), 1).over(ord) - col("__t"))
      .where(col("__dur").isNotNull)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("__dur").cast("decimal(38,0)")).as("__total"),
        sum(col("__v").cast("decimal(38,0)") * col("__dur")).as("__ws"))
      // a group whose samples ALL share one timestamp has segments but a
      // zero total duration — no time span to average over; it drops like
      // the single-sample group (and ANSI division by zero must not fire)
      .where(col("__total") > 0)
      .select(col(groupCol), col("n_segments"),
        col("__total").cast(LongType).as("duration_us"),
        graft.ExactDiv.quot(col("__ws"), col("__total")).as("twa"))
  }

  /** DuckDB replay of [[timeWeightedMean]] — same (ts, id) order, same
    * decimal integral, same truncating division.
    */
  def oracleSql(table: String, groupCol: String, tsCol: String,
                valueSql: String, idCol: String): String =
    s"""WITH r AS (SELECT $groupCol, epoch_us(CAST($tsCol AS TIMESTAMP)) AS t,
    $idCol AS id, CAST($valueSql AS BIGINT) AS v
  FROM $table
  WHERE $tsCol IS NOT NULL AND ($valueSql) IS NOT NULL AND $idCol IS NOT NULL),
d AS (SELECT $groupCol, v,
    lead(t) OVER (PARTITION BY $groupCol ORDER BY t, id) - t AS dur
  FROM r)
SELECT $groupCol, count(*) AS n_segments,
  CAST(sum(CAST(dur AS DECIMAL(38,0))) AS BIGINT) AS duration_us,
  ${graft.ExactDiv.quotSql("sum(CAST(v AS DECIMAL(38,0)) * dur)",
    "sum(CAST(dur AS DECIMAL(38,0)))")} AS twa
FROM d WHERE dur IS NOT NULL GROUP BY $groupCol
HAVING sum(CAST(dur AS DECIMAL(38,0))) > 0
ORDER BY $groupCol""".stripMargin
}
