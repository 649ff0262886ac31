package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ExactDiv.{quot, quotSql}

/** Partial autocorrelation at lags 1..3 — the AR-order readout [[Autocorr]]
  * can't give: ACF at lag 2 is high whenever lag 1 is (persistence echoes),
  * while PACF(2) asks what lag 2 explains AFTER regressing lag 1 out — the
  * classical Box–Jenkins "which AR order" screen (PACF cuts off at p for an
  * AR(p)), run before fitting [[ExpSmooth]]/[[GroupedTrend]] members to a
  * series family.
  *
  * Exactness is a two-stage declaration (nothing floats):
  *
  *  1. Autocovariance numerators are EXACT integers: with S = Σx, n the
  *     series length and y_t = n·x_t − S (the mean-centering cross-multiply),
  *     C_k = Σ_t y_t·y_{t+k} over exact index-matched pairs (the
  *     [[Autocorr]] gap honesty: missing t+k contributes no pair), C_0 > 0
  *     required (constant series publish NULL — no correlation structure).
  *  2. The ACF is quantized ONCE — r_k = 10⁶·C_k/C_0 truncated toward
  *     zero — and PACF is DEFINED on the quantized values via the exact Toeplitz
  *     determinant ratios (Durbin–Levinson in closed form, r_0 = 10⁶):
  *       φ₁ = r₁
  *       φ₂ = ⌊10⁶·(r₀r₂ − r₁²) / (r₀² − r₁²)⌋
  *       φ₃ = ⌊10⁶·det P₃* / det P₃⌋,
  *     det P₃ = r₀³ − 2r₀r₁² − r₀r₂² + 2r₁²r₂ and P₃* the last-column
  *     replacement — all INTEGER arithmetic on |r| ≤ 10⁶ magnitudes
  *     (DECIMAL(38,0) for the 10⁶-rescaled ratio), bit-replayable by the
  *     DuckDB HUGEINT oracle. Degenerate denominators (≤ 0 after
  *     truncation: |r₁| = r₀, non-positive-definite quantized structure)
  *     publish NULL, never divide.
  *
  * Lags stop at 3 because the k = 4 determinant pushes past the exact
  * windows both engines share; longer PACF wants the float Levinson
  * recursion, a different (declared-double) operator.
  *
  * Scale shape: one (n, S) partial agg, one self-equi-join on (group, t)
  * restricted to gap ∈ [1, 3] (8-byte keys, AQE-planned), one partial-agg'd
  * (group, lag) collapse, group-sized algebra after — whale groups cost
  * map-side accumulation, never a window. NULL idx/value rows drop; NULL
  * groups are a real stratum; duplicate (group, idx) cross-pairs (same
  * contract as [[Autocorr]] — pre-aggregate for one row per index).
  */
object Pacf {

  val Scale = 1000000L

  /** One row per (group, lag ∈ 1..3): (groupCol, lag, n, acf_q6, pacf_q6).
    * acf/pacf NULL when the lag has no pairs or the structure degenerates.
    */
  def pacf(df: DataFrame, groupCol: String, idxCol: String,
           valueCol: String): DataFrame = {
    Seq(idxCol, valueCol).foreach(c =>
      graft.Guards.requireIntegral(df, c, "pacf"))
    val dec = "decimal(38,0)"
    val rows = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast("long").as("__t"),
        col(valueCol).cast("long").as("__x"))
      .localCheckpoint(true)
    val stats = rows.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
    val withStats = rows
      .join(stats.select(col(groupCol).as("__g"), col("__n"), col("__s")),
        col(groupCol) <=> col("__g"))
      .select(col(groupCol), col("__t"), col("__n"), col("__s"),
        (col("__n").cast(dec) * col("__x") - col("__s")).as("__y"))
    val c0 = withStats.groupBy(col(groupCol))
      .agg(max(col("__n")).as("n"), sum(col("__y") * col("__y")).as("__c0"))
    val lagged = withStats.select(col(groupCol).as("__g2"),
      col("__t").as("__t2"), col("__y").as("__y2"))
    val ck = withStats
      .join(lagged, col(groupCol) <=> col("__g2") &&
        col("__t2") > col("__t") && col("__t2") <= col("__t") + 3)
      .select(col(groupCol), (col("__t2") - col("__t")).as("__lag"),
        (col("__y") * col("__y2")).as("__p"))
      .groupBy(col(groupCol), col("__lag"))
      .agg(sum(col("__p")).as("__ck"))
    // wide: one row per group with c1..c3 (absent lag -> NULL)
    val wide = c0.join(
      {
        val cks = (1 to 3).map(k =>
          max(when(col("__lag") === k, col("__ck"))).as(s"__c$k"))
        ck.groupBy(col(groupCol).as("__g3")).agg(cks.head, cks.tail: _*)
      },
      col(groupCol) <=> col("__g3"), "left")
    // r_k = 1e6 * C_k / C_0 truncated; NULL when no pairs or C_0 <= 0
    def r(k: Int): Column =
      when(col("__c0") > 0 && col(s"__c$k").isNotNull,
        quot(col(s"__c$k").cast(dec), col("__c0").cast(dec), Scale))
    val r0 = lit(Scale).cast(dec)
    val quant = wide.select(col(groupCol), col("n"),
      r(1).as("__r1"), r(2).as("__r2"), r(3).as("__r3"))
    val r1 = col("__r1").cast(dec); val r2 = col("__r2").cast(dec)
    val r3 = col("__r3").cast(dec)
    val den2 = r0 * r0 - r1 * r1
    val num2 = r0 * r2 - r1 * r1
    val p2 = when(den2 > 0, quot(num2, den2, Scale))
    val det3 = r0 * r0 * r0 - lit(2) * r0 * r1 * r1 - r0 * r2 * r2 +
      lit(2) * r1 * r1 * r2
    val det3s = r0 * (r0 * r3 - r2 * r1) - r1 * (r1 * r3 - r2 * r2) +
      r1 * (r1 * r1 - r0 * r2)
    val p3 = when(det3 > 0, quot(det3s, det3, Scale))
    quant.select(col(groupCol), col("n"),
      explode(array(
        struct(lit(1).as("lag"), col("__r1").as("acf_q6"),
          col("__r1").as("pacf_q6")),
        struct(lit(2).as("lag"), col("__r2").as("acf_q6"),
          when(col("__r2").isNotNull, p2).as("pacf_q6")),
        struct(lit(3).as("lag"), col("__r3").as("acf_q6"),
          when(col("__r3").isNotNull, p3).as("pacf_q6")))).as("__e"))
      .select(col(groupCol), col("__e.lag").as("lag"), col("n"),
        col("__e.acf_q6").as("acf_q6"), col("__e.pacf_q6").as("pacf_q6"))
  }

  /** DuckDB replay of [[pacf]]; `seriesSql` yields (grp, t, x). */
  def oracleSql(seriesSql: String, groupName: String): String = {
    val r1 = "CAST(r1 AS HUGEINT)"; val r2 = "CAST(r2 AS HUGEINT)"
    val r3 = "CAST(r3 AS HUGEINT)"
    val r0 = s"CAST(${Scale} AS HUGEINT)"
    val den2 = s"($r0*$r0 - $r1*$r1)"
    val num2 = s"($r0*$r2 - $r1*$r1)"
    val det3 = s"($r0*$r0*$r0 - 2*$r0*$r1*$r1 - $r0*$r2*$r2 + 2*$r1*$r1*$r2)"
    val det3s = s"($r0*($r0*$r3 - $r2*$r1) - $r1*($r1*$r3 - $r2*$r2) + " +
      s"$r1*($r1*$r1 - $r0*$r2))"
    s"""WITH rows_ AS (
  SELECT grp, t, x FROM ($seriesSql) WHERE t IS NOT NULL AND x IS NOT NULL),
st AS (
  SELECT grp, count(*) AS n, sum(x) AS s FROM rows_ GROUP BY grp),
y AS (
  SELECT r.grp, r.t, st.n,
    CAST(st.n AS HUGEINT) * r.x - st.s AS yv
  FROM rows_ r JOIN st ON r.grp IS NOT DISTINCT FROM st.grp),
c0 AS (
  SELECT grp, max(n) AS n, sum(yv * yv) AS c0 FROM y GROUP BY grp),
ck AS (
  SELECT a.grp, b.t - a.t AS lag, sum(a.yv * b.yv) AS ck
  FROM y a JOIN y b ON a.grp IS NOT DISTINCT FROM b.grp
    AND b.t > a.t AND b.t <= a.t + 3
  GROUP BY a.grp, b.t - a.t),
wide AS (
  SELECT c0.grp, c0.n, c0.c0,
    max(CASE WHEN ck.lag = 1 THEN ck.ck END) AS c1,
    max(CASE WHEN ck.lag = 2 THEN ck.ck END) AS c2,
    max(CASE WHEN ck.lag = 3 THEN ck.ck END) AS c3
  FROM c0 LEFT JOIN ck ON c0.grp IS NOT DISTINCT FROM ck.grp
  GROUP BY c0.grp, c0.n, c0.c0),
quant AS (
  SELECT grp, n,
    CASE WHEN c0 > 0 AND c1 IS NOT NULL
      THEN ${quotSql("c1", "c0", Scale)} END AS r1,
    CASE WHEN c0 > 0 AND c2 IS NOT NULL
      THEN ${quotSql("c2", "c0", Scale)} END AS r2,
    CASE WHEN c0 > 0 AND c3 IS NOT NULL
      THEN ${quotSql("c3", "c0", Scale)} END AS r3
  FROM wide),
lags AS (
  SELECT grp, n, 1 AS lag, CAST(r1 AS BIGINT) AS acf_q6,
    CAST(r1 AS BIGINT) AS pacf_q6 FROM quant
  UNION ALL
  SELECT grp, n, 2, CAST(r2 AS BIGINT),
    CASE WHEN r2 IS NOT NULL AND $den2 > 0
      THEN ${quotSql(num2, den2, Scale)} END
  FROM quant
  UNION ALL
  SELECT grp, n, 3, CAST(r3 AS BIGINT),
    CASE WHEN r3 IS NOT NULL AND $det3 > 0
      THEN ${quotSql(det3s, det3, Scale)} END
  FROM quant)
SELECT grp AS $groupName, lag, CAST(n AS BIGINT) AS n, acf_q6, pacf_q6
FROM lags ORDER BY $groupName, lag"""
  }
}
