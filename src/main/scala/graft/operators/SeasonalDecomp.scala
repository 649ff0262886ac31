package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Classical additive seasonal decomposition — x = trend + seasonal +
  * remainder over an integer-indexed series (feed the [[DenseSeries]]
  * daily spine): the baseline-vs-seasonality split behind
  * seasonally-adjusted anomaly screens (alert on the REMAINDER, not the
  * raw metric, or every Sunday pages) and honest week-over-week
  * reporting.
  *
  * Exact semantics, declared rather than float-fit:
  *  - trend: centered moving average over the RANGE frame
  *    [idx−k, idx+k], quantized ⌊10⁶·Σx/cnt⌋ truncated — partial edge
  *    windows use whatever the range holds (replayable, no NULL edges);
  *  - detrended: x·10⁶ − trend_q6 (exact integers from here on);
  *  - seasonal: per (group, idx mod period) mean of detrended,
  *    ⌊Σdet/cnt⌋ truncated (pmod both engines, negative-idx safe);
  *  - remainder: detrended − seasonal. The additive identity
  *    x·10⁶ = trend + seasonal + remainder holds EXACTLY by
  *    construction.
  *
  * Scale shape: one RANGE window per group over the calendar-bounded
  * spine (the dense-series posture — thousands of rows, never raw
  * events), one partial-agg'd (group, season) aggregate (period-sized
  * output) joined back on the period-sized key. Sums ride
  * DECIMAL(38,0). Duplicate indexes raise in-plan (a RANGE frame over
  * duplicate x-positions double-counts silently otherwise); NULL
  * idx/value rows drop; NULL groups are a real stratum.
  */
object SeasonalDecomp {

  val Scale = 1000000L

  /** (groupCol, idx, season, trend_q6, seasonal_q6, remainder_q6). */
  def decompose(df: DataFrame, groupCol: String, idxCol: String,
                valueCol: String, period: Int, halfWindow: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(halfWindow >= 1, s"halfWindow must be >= 1, got $halfWindow")
    graft.Guards.requireIntegral(df, idxCol, "seasonal")
    graft.Guards.requireIntegral(df, valueCol, "seasonal")
    val dec = "decimal(38,0)"
    val rows = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast("long").as("idx"),
        col(valueCol).cast("long").as("__x"))
    val rng = Window.partitionBy(col(groupCol)).orderBy(col("idx"))
      .rangeBetween(-halfWindow, halfWindow)
    val dupW = Window.partitionBy(col(groupCol), col("idx"))
    val trended = rows
      .withColumn("__dup", count(lit(1)).over(dupW) > 1)
      .withColumn("__ws", sum(col("__x")).over(rng).cast(dec))
      .withColumn("__wc", count(lit(1)).over(rng).cast(dec))
      .withColumn("__tq", quot(col("__ws"), col("__wc"), Scale))
      .withColumn("__det", col("__x") * lit(Scale) - col("__tq"))
      .withColumn("__season", ((col("idx") % period) + period) % period)
    val seasonal = trended
      .groupBy(col(groupCol).as("__sg"), col("__season").as("__ss"))
      .agg(quot(sum(col("__det")).cast(dec), count(lit(1)).cast(dec)).as("__sq"))
    // the guard rides EVERY published column (the holt discipline) — a
    // caller projecting only remainder_q6 (the q_seasonal_anomaly shape)
    // must still hit the raise (caught in r10 review)
    def guarded(out: org.apache.spark.sql.Column) =
      when(col("__dup"), raise_error(concat(
        lit("seasonal: duplicate idx within group '"),
        col(groupCol).cast("string"),
        lit("' — pre-aggregate to one row per (group, idx)")))
          .cast("long"))
        .otherwise(out)
    trended
      .join(seasonal,
        col(groupCol) <=> col("__sg") && col("__season") === col("__ss"))
      .select(col(groupCol), col("idx"), col("__season").as("season"),
        guarded(col("__tq")).as("trend_q6"),
        guarded(col("__sq")).as("seasonal_q6"),
        guarded(col("__det") - col("__sq")).as("remainder_q6"))
  }

  /** DuckDB replay — the same RANGE frame, pmod season, HUGEINT sums,
    * truncating divisions. `seriesSql` must yield (grp, i, x) with one
    * row per (grp, i).
    */
  def oracleSql(seriesSql: String, groupName: String, period: Int,
                halfWindow: Int): String =
    s"""WITH s AS (SELECT grp, i, x FROM ($seriesSql)
  WHERE i IS NOT NULL AND x IS NOT NULL),
t AS (SELECT grp, i, x,
    CAST(sum(x) OVER w AS HUGEINT) AS ws,
    CAST(count(*) OVER w AS HUGEINT) AS wc
  FROM s WINDOW w AS (PARTITION BY grp ORDER BY i
    RANGE BETWEEN $halfWindow PRECEDING AND $halfWindow FOLLOWING)),
d AS (SELECT grp, i, ((i % $period) + $period) % $period AS season,
    ${quotSql("ws", "wc", Scale)} AS tq,
    CAST(x AS HUGEINT) * $Scale - ${quotSql("ws", "wc", Scale)} AS det
  FROM t),
seas AS (SELECT grp, season,
    ${quotSql("sum(det)", "count(*)")} AS sq
  FROM d GROUP BY 1, 2)
SELECT d.grp AS $groupName, d.i AS idx, CAST(d.season AS BIGINT) AS season,
  CAST(d.tq AS BIGINT) AS trend_q6, CAST(seas.sq AS BIGINT) AS seasonal_q6,
  CAST(d.det - seas.sq AS BIGINT) AS remainder_q6
FROM d JOIN seas ON seas.grp IS NOT DISTINCT FROM d.grp
  AND seas.season = d.season
ORDER BY $groupName, idx"""
}
