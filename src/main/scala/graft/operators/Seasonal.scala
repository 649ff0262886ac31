package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seasonal indexes — per (group, period position) the ratio of the
  * position's mean to the group's grand mean, the classical
  * multiplicative decomposition readout ("Mondays run at 1.4× the
  * weekly average"): what [[Backtest]]'s seasonal-naive MASE consumes
  * implicitly and [[Deltas]]' week-over-week differences measure
  * around, made explicit so a forecast or staffing model can USE the
  * profile. Deseasonalizing is then a join + one division by the
  * caller.
  *
  * The index is exact, cross-multiplied — mean_pos/mean_group =
  * sum_pos·N / (n_pos·S) — published as a truncating
  * division in 1e−6 units over DECIMAL(38,0) magnitudes (sums can be
  * negative under refunds/chargebacks; 10⁶ = exactly at the mean).
  * A group whose TOTAL is ≤ 0 reports NULL indexes for all its
  * positions: a ratio to a non-positive base is not a seasonal index,
  * and faking one would flip signs meaninglessly.
  *
  * Scale shape: ONE partial-agg'd (group, position) aggregate — a
  * whale position collapses map-side; group totals re-aggregate the
  * cell table (positions-sized, never corpus-sized) and broadcast
  * back. NULL position/value rows drop; NULL groups are a real
  * stratum.
  */
object Seasonal {

  val Scale = 1000000L

  /** (groupCols*, pos, n_pos, sum_pos, idx_q6). */
  def indexes(df: DataFrame, groupCols: Seq[String], posCol: String,
              valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    val dec = "decimal(38,0)"
    val g = groupCols.map(col)
    val cells = df
      .where(col(posCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(g :+ col(posCol).as("pos"): _*)
      .agg(count(lit(1)).as("n_pos"),
        sum(col(valueCol).cast("long")).as("sum_pos"))
      .localCheckpoint(true)
    val totals = cells
      .groupBy(groupCols.map(c => col(c).as(s"__t_$c")): _*)
      .agg(sum(col("n_pos")).as("__N"), sum(col("sum_pos")).as("__S"))
    val joinCond = groupCols
      .map(c => col(c) <=> col(s"__t_$c"))
      .reduce(_ && _)
    val num = col("sum_pos").cast(dec) * col("__N").cast(dec)
    val den = col("n_pos").cast(dec) * col("__S").cast(dec)
    cells.join(broadcast(totals), joinCond)
      .select(g ++ Seq(col("pos"), col("n_pos"), col("sum_pos"),
        when(col("__S") <= 0L, lit(null).cast("long"))
          .otherwise(graft.ExactDiv.quot(num, den, Scale))
          .as("idx_q6")): _*)
  }

  /** DuckDB replay of [[indexes]] — HUGEINT magnitudes, the same
    * truncating division.
    */
  def oracleSql(table: String, groupCols: Seq[String], posSql: String,
                valueSql: String): String = {
    val g = groupCols.mkString(", ")
    s"""WITH cells AS (
  SELECT $g, $posSql AS pos, CAST(count(*) AS BIGINT) AS n_pos,
    CAST(sum(CAST($valueSql AS BIGINT)) AS BIGINT) AS sum_pos
  FROM $table
  WHERE ($posSql) IS NOT NULL AND ($valueSql) IS NOT NULL
  GROUP BY $g, pos),
tot AS (
  SELECT $g, CAST(sum(n_pos) AS HUGEINT) AS nn,
    CAST(sum(sum_pos) AS HUGEINT) AS ss
  FROM cells GROUP BY $g)
SELECT c.*,
  CASE WHEN ss <= 0 THEN NULL
       ELSE ${graft.ExactDiv.quotSql("CAST(sum_pos AS HUGEINT) * nn",
         "CAST(n_pos AS HUGEINT) * ss", Scale)} END AS idx_q6
FROM cells c JOIN tot t
  ON ${groupCols.map(c => s"c.$c IS NOT DISTINCT FROM t.$c")
    .mkString(" AND ")}
ORDER BY ${groupCols.map(c => s"c.$c").mkString(", ")}, pos"""
  }
}
