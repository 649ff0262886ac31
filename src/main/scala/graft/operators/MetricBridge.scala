package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mix-vs-rate bridge — WHY a ratio metric moved: a period-over-period
  * change in M = Σ share_i·rate_i decomposes per segment into "the mix
  * shifted toward this segment" and "this segment's own rate moved" —
  * the decomposition behind every honest metrics review ("average
  * price fell 4%: 3% is mix shift to the cheap tier, 1% is real
  * pricing"). [[ShareOfParent]] reads ONE period's composition;
  * [[Deltas]] the raw movement; this explains the movement.
  *
  * Per segment, with s = d/D (share of denominator mass) and r = n/d
  * (segment rate):
  *
  *   contrib_i = s₂r₂ − s₁r₁ = (s₂−s₁)·r₁ + s₂·(r₂−r₁)
  *               \_________mix________/   \______rate______/
  *
  * both terms are exact rationals — mix = (d₂D₁−d₁D₂)·n₁/(D₁D₂d₁),
  * rate = (n₂d₁−n₁d₂)/(D₂d₁) — each published as ONE truncating
  * 10⁶·… division (contrib_q6 = their sum: two independent floors,
  * declared; the pre-quantization identity is exact). Entering
  * segments (d₁ = 0) are ALL mix — ⌊10⁶·n₂/D₂⌋ with rate 0; exiting
  * segments need no case at all (the general mix formula collapses to
  * −n₁/D₁ and the rate numerator to 0). Empty periods raise loudly. Magnitude bound: d·D² ≤ 10³⁸ (ANSI-loud past ~10¹²-mass
  * periods — pre-scale the denominator units). NULL num/den rows drop;
  * denominators must be non-negative (in-plan raise); rows outside the
  * two named periods drop.
  */
object MetricBridge {

  val Scale = 1000000L

  /** (segmentCol, n_a, d_a, n_b, d_b, mix_q6, rate_q6, contrib_q6). */
  def mixRateBridge(df: DataFrame, periodCol: String, segmentCol: String,
                    numCol: String, denCol: String,
                    periodA: String, periodB: String): DataFrame = {
    require(periodA != periodB, s"periods must differ, got '$periodA' twice")
    graft.Guards.requireIntegral(df, numCol, "mixRateBridge")
    graft.Guards.requireIntegral(df, denCol, "mixRateBridge")
    val dec = "decimal(38,0)"
    val guardedDen = when(col(denCol) < 0,
      raise_error(concat(lit("mixRateBridge: negative denominator "),
        col(denCol).cast("string")))).otherwise(col(denCol).cast("long"))
    val cells = df
      .where(col(periodCol).isNotNull && col(numCol).isNotNull &&
        col(denCol).isNotNull && col(periodCol).isin(periodA, periodB))
      .groupBy(col(segmentCol),
        (col(periodCol) === periodA).as("__isA"))
      .agg(sum(col(numCol).cast("long").cast(dec)).as("__n"),
        sum(guardedDen.cast(dec)).as("__d"))
    val z = lit(0).cast(dec)
    val wide = cells.groupBy(col(segmentCol)).agg(
      coalesce(sum(when(col("__isA"), col("__n"))), z).as("__na"),
      coalesce(sum(when(col("__isA"), col("__d"))), z).as("__da"),
      coalesce(sum(when(!col("__isA"), col("__n"))), z).as("__nb"),
      coalesce(sum(when(!col("__isA"), col("__d"))), z).as("__db"))
    val totals = wide.agg(sum(col("__da")).as("__tda"),
      sum(col("__db")).as("__tdb"))
    def q6(num: org.apache.spark.sql.Column,
           den: org.apache.spark.sql.Column) = graft.ExactDiv.quot(num, den, Scale)
    val withT = wide.crossJoin(broadcast(totals))
      .withColumn("__chk",
        when(col("__tda") === z || col("__tdb") === z,
          raise_error(lit("mixRateBridge: a period carries zero " +
            "denominator mass — nothing to bridge"))).otherwise(lit(0L)))
    val mix =
      when(col("__da") > z,
        q6((col("__db") * col("__tda") - col("__da") * col("__tdb"))
          * col("__na"),
          col("__tda") * col("__tdb") * col("__da")))
        .otherwise(q6(col("__nb"), col("__tdb")))
    // exits (d₂ = 0) need no special case: the general mix formula
    // collapses to −n₁/D₁ and the rate numerator n₂d₁ − n₁d₂ to 0
    val rate =
      when(col("__da") > z,
        q6(col("__nb") * col("__da") - col("__na") * col("__db"),
          col("__tdb") * col("__da")))
        .otherwise(lit(0L))
    withT.select(col(segmentCol),
      col("__na").cast("long").as("n_a"),
      (col("__da").cast("long") + col("__chk")).as("d_a"),
      col("__nb").cast("long").as("n_b"),
      col("__db").cast("long").as("d_b"),
      mix.cast("long").as("mix_q6"),
      rate.cast("long").as("rate_q6"),
      (mix + rate).cast("long").as("contrib_q6"))
  }

  /** DuckDB replay of [[mixRateBridge]]. `cellsSql` must yield
    * (period, seg, num, den).
    */
  def oracleSql(cellsSql: String, segName: String, periodA: String,
                periodB: String): String = {
    def q6(num: String, den: String) = graft.ExactDiv.quotSql(num, den, Scale)
    val mix = s"""CASE WHEN da > 0
      THEN ${q6("(db * tda - da * tdb) * na", "tda * tdb * da")}
      ELSE ${q6("nb", "tdb")} END"""
    val rate = s"""CASE WHEN da > 0
      THEN ${q6("nb * da - na * db", "tdb * da")}
      ELSE 0 END"""
    s"""WITH w AS (
  SELECT seg AS $segName,
    CAST(coalesce(sum(CASE WHEN period = '$periodA' THEN num END), 0)
      AS HUGEINT) AS na,
    CAST(coalesce(sum(CASE WHEN period = '$periodA' THEN den END), 0)
      AS HUGEINT) AS da,
    CAST(coalesce(sum(CASE WHEN period = '$periodB' THEN num END), 0)
      AS HUGEINT) AS nb,
    CAST(coalesce(sum(CASE WHEN period = '$periodB' THEN den END), 0)
      AS HUGEINT) AS db
  FROM ($cellsSql)
  WHERE period IN ('$periodA', '$periodB') AND num IS NOT NULL
    AND den IS NOT NULL
  GROUP BY seg),
t AS (SELECT sum(da) AS tda, sum(db) AS tdb FROM w)
SELECT $segName, CAST(na AS BIGINT) AS n_a, CAST(da AS BIGINT) AS d_a,
  CAST(nb AS BIGINT) AS n_b, CAST(db AS BIGINT) AS d_b,
  CAST($mix AS BIGINT) AS mix_q6,
  CAST($rate AS BIGINT) AS rate_q6,
  CAST(($mix) + ($rate) AS BIGINT) AS contrib_q6
FROM w, t ORDER BY $segName"""
  }
}
