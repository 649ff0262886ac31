package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Qini curve — does the UPLIFT model rank the right people: [[AbTest]]
  * measures an experiment's average effect, [[Calibration.liftTable]] a
  * response model's sort; the Qini curve evaluates a model that claims
  * to know WHO is persuadable, by targeting depth: bucket the combined
  * population by score (exact NTILEs), then cumulative from the TOP —
  * at each depth the incremental conversions the treatment earned over
  * the control baseline scaled to the treated count,
  *
  *   qini(d) = C_t(d) − C_c(d)·N_t(d)/N_c(d)
  *
  * published exactly as the cross-multiplied numerator and the
  * truncated 10⁶·(C_t·N_c − C_c·N_t)/N_c (micro-conversions; a good
  * uplift model front-loads it, a useless one grows it linearly, a
  * backfiring one goes negative — all real findings). A depth prefix
  * with no control rows yet reports NULL (no baseline to scale).
  *
  * Contracts: conversion flags are 0/1 (in-plan raise); arms other
  * than the two named drop (the [[LogRank]] pairwise discipline); NULL
  * score/id/arm/flag rows drop. Scale: the bucketing is
  * [[QuantileBuckets.ntileExact]]'s range exchange; everything after
  * is a k-row frame.
  */
object Qini {

  val Scale = 1000000L

  /** (bucket k..1 read as depth, n_treat, n_ctrl, conv_treat, conv_ctrl
    * — all cumulative from the top bucket — and qini_q6).
    */
  def curve(df: DataFrame, scoreCol: String, idCol: String, armCol: String,
            convCol: String, treatArm: String, ctrlArm: String,
            k: Int = 10): DataFrame = {
    require(treatArm != ctrlArm, s"arms must differ, got '$treatArm' twice")
    require(k >= 2, s"k must be >= 2, got $k")
    graft.Guards.requireIntegral(df, convCol, "curve")
    val dec = "decimal(38,0)"
    val ev = col(convCol).cast(LongType)
    val guardedEv = when(ev === 0L || ev === 1L, ev)
      .otherwise(raise_error(concat(
        lit("qini: conversion flag must be 0/1, got "), ev.cast("string"))))
    val rows = df
      .where(col(scoreCol).isNotNull && col(idCol).isNotNull &&
        col(armCol).isNotNull && col(convCol).isNotNull &&
        col(armCol).isin(treatArm, ctrlArm))
      .select(col(idCol), col(scoreCol),
        (col(armCol) === treatArm).as("__t"), guardedEv.as("__y"))
    val bucketed = QuantileBuckets.ntileExact(rows, scoreCol, idCol, k)
    val perBucket = bucketed.groupBy(col("bucket")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
      sum(when(col("__t"), col("__y")).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), col("__y")).otherwise(0L)).as("__cc"))
    val top = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perBucket
      .withColumn("n_treat", sum(col("__nt")).over(top))
      .withColumn("n_ctrl", sum(col("__nc")).over(top))
      .withColumn("conv_treat", sum(col("__ct")).over(top))
      .withColumn("conv_ctrl", sum(col("__cc")).over(top))
    val num = cum.col("conv_treat").cast(dec) * cum.col("n_ctrl").cast(dec) -
      cum.col("conv_ctrl").cast(dec) * cum.col("n_treat").cast(dec)
    cum.select(col("bucket"), col("n_treat"), col("n_ctrl"),
      col("conv_treat"), col("conv_ctrl"),
      when(col("n_ctrl") === 0L, lit(null).cast("long"))
        .otherwise(graft.ExactDiv.quot(num, col("n_ctrl").cast(dec), Scale))
        .as("qini_q6"))
  }

  /** DuckDB replay of [[curve]] — the ntile parity (window NTILE over
    * the same (score, id) order), same top-down cumulative and
    * truncating division. `rowsSql` must yield (score, id, arm, conv).
    */
  def oracleSql(rowsSql: String, treatArm: String, ctrlArm: String,
                k: Int = 10): String =
    s"""WITH r AS (
  SELECT score, id, arm = '$treatArm' AS t, CAST(conv AS BIGINT) AS y
  FROM ($rowsSql)
  WHERE score IS NOT NULL AND id IS NOT NULL AND arm IS NOT NULL
    AND conv IS NOT NULL AND arm IN ('$treatArm', '$ctrlArm')),
b AS (SELECT ntile($k) OVER (ORDER BY score, id) AS bucket, t, y FROM r),
pb AS (SELECT bucket,
    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS nc,
    CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS ct,
    CAST(sum(CASE WHEN t THEN 0 ELSE y END) AS BIGINT) AS cc
  FROM b GROUP BY bucket),
c AS (SELECT bucket,
    sum(nt) OVER win AS n_treat, sum(nc) OVER win AS n_ctrl,
    sum(ct) OVER win AS conv_treat, sum(cc) OVER win AS conv_ctrl
  FROM pb
  WINDOW win AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING))
SELECT bucket, CAST(n_treat AS BIGINT) AS n_treat,
  CAST(n_ctrl AS BIGINT) AS n_ctrl,
  CAST(conv_treat AS BIGINT) AS conv_treat,
  CAST(conv_ctrl AS BIGINT) AS conv_ctrl,
  CASE WHEN n_ctrl = 0 THEN NULL
       ELSE ${graft.ExactDiv.quotSql(
         "CAST(conv_treat AS HUGEINT) * n_ctrl - CAST(conv_ctrl AS HUGEINT) * n_treat",
         "n_ctrl", Scale)} END AS qini_q6
FROM c ORDER BY bucket"""
}
