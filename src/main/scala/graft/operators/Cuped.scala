package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Per-STRATUM CUPED — [[AbTest.cupedCompare]] runs the Deng et al.
  * 2013 variance reduction once, globally, across named arms; this is
  * its heterogeneous-effects twin: one independent CUPED readout PER
  * SEGMENT (platform, region, tenure band — "did the feature help
  * everywhere, or only where the covariate says the users were already
  * heavy"), each stratum estimating its own θ = cov(x,y)/var(x) pooled
  * over its two arms (per-arm θ reintroduces bias) and publishing the
  * raw moment FRACTIONS beside the quantized readout — the audit trail
  * the global compare compresses away.
  *
  * Exactness ladder (each step ONE declared truncating
  * division, composed — the repo's quantization-ladder convention):
  *
  *   theta_q6 = quot(10⁶·[nΣxy − ΣxΣy], nΣxx − (Σx)²)
  *   ydiff_q6 / xdiff_q6 = quot(10⁶·[s_t·n_c − s_c·n_t], n_t·n_c)
  *   adj_q6   = ydiff_q6 − quot(theta_q6 · xdiff_q6, 10⁶)
  *
  * with the per-row products computed in LONG arithmetic (documented
  * bound: |x·y| and x² must fit 2⁶³ per ROW — ANSI raises loudly past
  * it; scale quantized units accordingly) and the cross-group moment
  * combinations in DECIMAL(38,0). The
  * raw fractions publish beside as canonical strings. A constant
  * covariate (zero variance) publishes NULL θ and NULL adjusted
  * effect — the unadjusted ydiff still reads. Treatment is STRICT
  * 0/1 (raise); one-armed groups publish NULL diffs; NULL x/y/t rows
  * drop; NULL groups are real strata. One partial-agg'd six-sum
  * moment pass per group.
  */
object Cuped {

  val Scale = 1000000L
  private val Dec = "decimal(38,0)"

  /** Per group: (groupCol, n_treat, n_ctrl, cov_num, var_num,
    * theta_q6, ydiff_q6, xdiff_q6, adj_q6).
    */
  def adjustedEffect(df: DataFrame, groupCol: String, treatCol: String,
                     covariateCol: String, outcomeCol: String): DataFrame = {
    graft.Guards.requireIntegral(df, treatCol, "cuped")
    graft.Guards.requireIntegral(df, covariateCol, "cuped")
    graft.Guards.requireIntegral(df, outcomeCol, "cuped")
    val t = when(col(treatCol).cast("long").isin(0L, 1L),
        col(treatCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("cuped: treatment must be 0/1, got "),
        col(treatCol).cast("string"))))
    val agg = df
      .where(col(treatCol).isNotNull && col(covariateCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(groupCol), t.as("__t"),
        col(covariateCol).cast("long").as("__x"),
        col(outcomeCol).cast("long").as("__y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(col("__t")).as("__nt"),
        // limb sums + exact LONG products (ANSI raises loudly past 2^63 —
        // the quantized-units contract; same posture as GroupedTrend)
        graft.ExactSum.sumLong(col("__x")).as("__sx"),
        graft.ExactSum.sumLong(col("__y")).as("__sy"),
        graft.ExactSum.sumLong(col("__x") * col("__y")).as("__sxy"),
        graft.ExactSum.sumLong(col("__x") * col("__x")).as("__sxx"),
        sum(when(col("__t") === 1L, col("__y")).otherwise(0L)).as("__syt"),
        sum(when(col("__t") === 0L, col("__y")).otherwise(0L)).as("__syc"),
        sum(when(col("__t") === 1L, col("__x")).otherwise(0L)).as("__sxt"),
        sum(when(col("__t") === 0L, col("__x")).otherwise(0L)).as("__sxc"))
    val n = col("__n").cast(Dec)
    val covNum = n * col("__sxy") - col("__sx") * col("__sy")
    val varNum = n * col("__sxx") - col("__sx") * col("__sx")
    val nt = col("__nt").cast(Dec)
    val nc = (col("__n") - col("__nt")).cast(Dec)
    val armDen = nt * nc
    def armDiff(st: org.apache.spark.sql.Column,
                sc: org.apache.spark.sql.Column) =
      st.cast(Dec) * nc - sc.cast(Dec) * nt
    val bothArms = col("__nt") > 0L && col("__n") - col("__nt") > 0L
    val thetaQ = when(varNum > 0, quot(covNum, varNum, Scale))
    val ydiffQ = when(bothArms,
      quot(armDiff(col("__syt"), col("__syc")), armDen, Scale))
    val xdiffQ = when(bothArms,
      quot(armDiff(col("__sxt"), col("__sxc")), armDen, Scale))
    agg.select(col(groupCol),
      col("__nt").as("n_treat"),
      (col("__n") - col("__nt")).as("n_ctrl"),
      covNum.cast("string").as("cov_num"),
      varNum.cast("string").as("var_num"),
      thetaQ.as("theta_q6"), ydiffQ.as("ydiff_q6"), xdiffQ.as("xdiff_q6"),
      (ydiffQ - quot(thetaQ.cast(Dec) * xdiffQ.cast(Dec), lit(Scale)))
        .as("adj_q6"))
  }

  /** DuckDB replay; `rowsSql` yields (grp, t, x, y). */
  def oracleSql(rowsSql: String, groupName: String): String = {
    val covNum = "(n * sxy - sx * sy)"
    val varNum = "(n * sxx - sx * sx)"
    val yNum = "(syt * nc - syc * nt)"
    val xNum = "(sxt * nc - sxc * nt)"
    val theta = quotSql(covNum, varNum, Scale)
    val ydiff = quotSql(yNum, "nt * nc", Scale)
    val xdiff = quotSql(xNum, "nt * nc", Scale)
    s"""WITH a AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n,
    CAST(sum(t) AS HUGEINT) AS nt,
    CAST(count(*) - sum(t) AS HUGEINT) AS nc,
    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS HUGEINT) AS syt,
    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS HUGEINT) AS syc,
    CAST(sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS HUGEINT) AS sxt,
    CAST(sum(CASE WHEN t = 0 THEN x ELSE 0 END) AS HUGEINT) AS sxc
  FROM ($rowsSql) WHERE t IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL
  GROUP BY grp)
SELECT grp AS $groupName, CAST(nt AS BIGINT) AS n_treat,
  CAST(nc AS BIGINT) AS n_ctrl,
  CAST($covNum AS VARCHAR) AS cov_num, CAST($varNum AS VARCHAR) AS var_num,
  CASE WHEN $varNum > 0 THEN $theta END AS theta_q6,
  CASE WHEN nt > 0 AND nc > 0 THEN $ydiff END AS ydiff_q6,
  CASE WHEN nt > 0 AND nc > 0 THEN $xdiff END AS xdiff_q6,
  CASE WHEN $varNum > 0 AND nt > 0 AND nc > 0
       THEN $ydiff - ${quotSql(s"CAST($theta AS HUGEINT) * $xdiff", Scale.toString)}
  END AS adj_q6
FROM a ORDER BY grp"""
  }
}
