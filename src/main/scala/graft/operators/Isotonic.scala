package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group isotonic regression — the monotone least-squares fit, the
  * shape-constrained smoother behind monotone calibration curves
  * (score → outcome rate must not decrease), dose-response fits, and
  * "enforce monotonicity" cleanup of noisy cumulative metrics. Sits
  * beside [[Calibration]]'s bucketed view: this fits the MONOTONE curve
  * itself, exactly.
  *
  * The fit is the classical Pool-Adjacent-Violators solution — unique,
  * and equal to the minimax characterization
  * fit(i) = max_{j≤i} min_{k≥i} avg(x[j..k]) — computed per group by
  * the native [[graft.functions.IsotonicPav]] expression over the
  * collected series (the ExpSmooth fold posture: a stack algorithm has
  * no window/prefix decomposition, so it is one task's O(n) array
  * surgery; feed calendar-bounded series. The `maxPoints` guard raises
  * IN-PLAN on contract overruns — but the size check runs AFTER
  * collect_list buffers the group, so it is the backstop against
  * moderate overruns, not a shield for raw-event groups too large to
  * collect at all; pre-aggregate onto a spine upstream — r10 review
  * scoping). Published as
  * `fit_q6` = truncating ⌊10⁶·blockAvg⌋ — trunc is
  * monotone, so it commutes with the max-min and the DuckDB oracle can
  * replay the identity over identically-quantized candidate averages.
  *
  * Contracts (the ExpSmooth family's): duplicate indexes raise in-plan
  * (fit order would be data-dependent); groups above `maxPoints` raise
  * in-plan; NULL idx/value rows drop; NULL groups are a real stratum;
  * |block sum|·10⁶ must fit a Long (loud multiplyExact, never wraps).
  */
object Isotonic {

  /** (groupCol, idx, fit_q6) — the monotone fit in 10⁻⁶ units. */
  def fit(df: DataFrame, groupCol: String, idxCol: String,
          valueCol: String, maxPoints: Long = 100000L): DataFrame = {
    require(maxPoints >= 1, s"maxPoints must be >= 1, got $maxPoints")
    graft.Guards.requireIntegral(df, idxCol, "isotonic")
    graft.Guards.requireIntegral(df, valueCol, "isotonic")
    val collected = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        col(idxCol).cast("long").as("i"),
        col(valueCol).cast("long").as("x")))).as("__arr"))
    val guarded = collected.select(col(groupCol),
      (size(col("__arr")) =!=
        size(array_distinct(transform(col("__arr"), e => e.getField("i")))))
        .as("__dup"),
      (size(col("__arr")) > maxPoints).as("__over"),
      graft.functions.IsotonicPav(col("__arr")).as("__out"))
    guarded.select(col(groupCol), col("__dup"), col("__over"),
        explode(col("__out")).as("__e"))
      .select(col(groupCol), col("__e.i").as("idx"),
        when(col("__over"), raise_error(concat(
          lit("isotonic: group '"), col(groupCol).cast("string"),
          lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints")))
            .cast("long"))
          .when(col("__dup"), raise_error(concat(
            lit("isotonic: duplicate idx within group '"),
            col(groupCol).cast("string"),
            lit("' — pre-aggregate to one row per (group, idx)")))
            .cast("long"))
          .otherwise(col("__e.fit_q6")).as("fit_q6"))
  }

  /** DuckDB replay via the minimax identity with identical truncating
    * quantization applied per CANDIDATE average — legal
    * because trunc is monotone and commutes with max/min. O(n³) per
    * group: an oracle for calendar-scale gate series, not a production
    * path. `seriesSql` must yield (grp, i, x) with one row per (grp, i).
    */
  def oracleSql(seriesSql: String, groupName: String): String =
    s"""WITH s AS (SELECT grp, i, x FROM ($seriesSql)
  WHERE i IS NOT NULL AND x IS NOT NULL),
o AS (SELECT grp, i, x, row_number() OVER (PARTITION BY grp ORDER BY i) AS r
  FROM s),
p AS (SELECT grp, i, x, r,
    sum(x) OVER (PARTITION BY grp ORDER BY r ROWS UNBOUNDED PRECEDING) AS cp
  FROM o),
cand AS (
  SELECT a.grp, a.r AS ri, a.i AS idx, j.r AS rj,
    min(${graft.ExactDiv.quotSql("k.cp - j.cp + j.x", "k.r - j.r + 1", 1000000)}) AS mn
  FROM p a
  JOIN p j ON j.grp IS NOT DISTINCT FROM a.grp AND j.r <= a.r
  JOIN p k ON k.grp IS NOT DISTINCT FROM a.grp AND k.r >= a.r
  GROUP BY 1, 2, 3, 4)
SELECT grp AS $groupName, idx, CAST(max(mn) AS BIGINT) AS fit_q6
FROM cand GROUP BY 1, 2
ORDER BY $groupName, idx"""
}
