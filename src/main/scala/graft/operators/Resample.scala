package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series resampling with gap fill — regularize an irregular event
  * stream onto a fixed grid (per key: one row per interval between its
  * first and last observation, missing intervals forward-filled). The
  * sensor/metrics-preparation step feeding sequence models and the as-of
  * family's fixed-grid sibling ([[graft.llm.AsOf]] aligns to ANOTHER
  * stream's timestamps; this aligns to the clock).
  *
  * Exactness: buckets are Spark's epoch-aligned tumbling `window()` starts
  * (DuckDB `time_bucket` floors identically — the L29 parity), the spine
  * is integer `sequence` arithmetic on those starts, and the per-bucket
  * reducer is `max` (order-independent, no float summation), so the whole
  * result is engine-replayable bit-identically. Each key's spine starts at
  * its own first observed bucket, so forward fill leaves no leading nulls
  * and the fill semantics have no engine-specific null edge.
  *
  * Scale shape: one partial-agg'd shuffle keyed (key, bucket) collapses
  * events to observations; the spine explodes a per-key `sequence` whose
  * length is span/interval — bounded by the retention window, NOT by event
  * count (a whale key with 10⁸ events still yields span/interval spine
  * rows); the fill is one window per key ordered by bucket. No cartesian,
  * nothing driver-side.
  */
object Resample {

  /** (keyCol, bucket, value, observed) per `interval` grid cell between
    * each key's first and last event; `value` is the per-bucket `max` of
    * `valueCol`, forward-filled across unobserved cells.
    */
  def gapFillFfill(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, interval: String = "1 hour"): DataFrame = {
    val observed = events
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), window(col(tsCol), interval)("start").as("__b"))
      .agg(max(col(valueCol)).as("__v"))
    val spine = observed
      .groupBy(col(keyCol)).agg(min("__b").as("__lo"), max("__b").as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"), expr(s"interval $interval")))
          .as("__b"))
    val w = Window.partitionBy(keyCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(observed, Seq(keyCol, "__b"), "left")
      .select(col(keyCol), col("__b").as("bucket"),
        last(col("__v"), ignoreNulls = true).over(w).as("value"),
        col("__v").isNotNull.as("observed"))
  }

  /** Linear-interpolation gap fill — the other classical fill beside
    * [[gapFillFfill]]'s step function: each unobserved grid cell takes
    * the EXACT rational interpolation between its surrounding observed
    * cells, `value_q6 = y₀·10⁶ + quot((y₁−y₀)·d·10⁶, D)` with d =
    * cells since the previous observation and D = cells between the two
    * observations (integer row positions along the spine — no timestamp
    * arithmetic enters the division). Observed cells publish y·10⁶
    * exactly. The spine runs first→last observation per key, so every
    * unobserved cell provably has BOTH neighbors — the interpolation is
    * total, no leading/trailing edge cases. `valueCol` must be integral
    * (cents-style); products ride DECIMAL(38,0) so Δy·d·10⁶ cannot
    * overflow.
    *
    * Same scale shape as [[gapFillFfill]] plus one backward window per
    * key (spine-bounded, never event-bounded).
    */
  def gapFillLinear(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, interval: String = "1 hour"): DataFrame = {
    graft.Guards.requireIntegral(events, valueCol, "gapFillLinear")
    val dec = "decimal(38,0)"
    val observed = events
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(keyCol), window(col(tsCol), interval)("start").as("__b"))
      .agg(max(col(valueCol).cast("long")).as("__v"))
    val spine = observed
      .groupBy(col(keyCol)).agg(min("__b").as("__lo"), max("__b").as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"), expr(s"interval $interval")))
          .as("__b"))
    val ord = Window.partitionBy(keyCol).orderBy("__b")
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val joined = spine.join(observed, Seq(keyCol, "__b"), "left")
      .withColumn("__rn", row_number().over(ord))
    val marked = joined
      .withColumn("__y0", last(col("__v"), ignoreNulls = true).over(back))
      .withColumn("__r0",
        last(when(col("__v").isNotNull, col("__rn")), ignoreNulls = true).over(back))
      .withColumn("__y1", first(col("__v"), ignoreNulls = true).over(fwd))
      .withColumn("__r1",
        first(when(col("__v").isNotNull, col("__rn")), ignoreNulls = true).over(fwd))
    val num = (col("__y1") - col("__y0")).cast(dec) *
      (col("__rn") - col("__r0")).cast(dec)
    val den = (col("__r1") - col("__r0")).cast(dec)
    val interp = col("__y0").cast(dec) * lit(1000000L).cast(dec) +
      graft.ExactDiv.quot(num, den, 1000000L)
    marked.select(col(keyCol), col("__b").as("bucket"),
      when(col("__v").isNotNull, col("__v") * lit(1000000L))
        .otherwise(interp.cast("long")).as("value_q6"),
      col("__v").isNotNull.as("observed"))
  }

  /** DuckDB replay of [[gapFillLinear]] — the same spine, row positions,
    * and truncating HUGEINT division.
    */
  def gapFillLinearOracle(table: String, keyCol: String, tsCol: String,
                          valueE: String,
                          intervalSql: String = "INTERVAL 1 HOUR"): String =
    s"""WITH obs AS (
  SELECT $keyCol, time_bucket($intervalSql, $tsCol) AS b,
    max(CAST($valueE AS BIGINT)) AS v
  FROM $table WHERE $keyCol IS NOT NULL AND $tsCol IS NOT NULL
    AND ($valueE) IS NOT NULL GROUP BY 1, 2),
spine AS (
  SELECT $keyCol, unnest(generate_series(min(b), max(b), $intervalSql)) AS b
  FROM obs GROUP BY $keyCol),
j AS (
  SELECT s.$keyCol, s.b, o.v,
    row_number() OVER (PARTITION BY s.$keyCol ORDER BY s.b) AS rn
  FROM spine s LEFT JOIN obs o ON s.$keyCol = o.$keyCol AND s.b = o.b),
m AS (
  SELECT $keyCol, b, v, rn,
    last_value(v IGNORE NULLS) OVER (PARTITION BY $keyCol ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
      OVER (PARTITION BY $keyCol ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r0,
    first_value(v IGNORE NULLS) OVER (PARTITION BY $keyCol ORDER BY rn
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS y1,
    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
      OVER (PARTITION BY $keyCol ORDER BY rn
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS r1
  FROM j)
SELECT $keyCol, b AS bucket,
  CAST(CASE WHEN v IS NOT NULL THEN CAST(v AS HUGEINT) * 1000000
    ELSE CAST(y0 AS HUGEINT) * 1000000 +
      ${graft.ExactDiv.quotSql("CAST(y1 - y0 AS HUGEINT) * (rn - r0)", "r1 - r0", 1000000)}
    END AS BIGINT) AS value_q6,
  v IS NOT NULL AS observed
FROM m ORDER BY 1, 2"""

  /** DuckDB replay of [[gapFillFfill]]: `time_bucket` floors,
    * `generate_series` spine, `IGNORE NULLS` forward fill.
    */
  def gapFillOracle(table: String, keyCol: String, tsCol: String,
                    valueCol: String, intervalSql: String = "INTERVAL 1 HOUR"): String =
    s"""WITH obs AS (
  SELECT $keyCol, time_bucket($intervalSql, $tsCol) AS b, max($valueCol) AS v
  FROM $table WHERE $keyCol IS NOT NULL AND $tsCol IS NOT NULL GROUP BY 1, 2),
spine AS (
  SELECT $keyCol, unnest(generate_series(min(b), max(b), $intervalSql)) AS b
  FROM obs GROUP BY $keyCol)
SELECT s.$keyCol, s.b AS bucket,
  last_value(o.v IGNORE NULLS) OVER (PARTITION BY s.$keyCol ORDER BY s.b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
  o.v IS NOT NULL AS observed
FROM spine s LEFT JOIN obs o ON s.$keyCol = o.$keyCol AND s.b = o.b
ORDER BY 1, 2"""
}
