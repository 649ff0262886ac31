package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ExactDiv.quotSql

/** Integer exponential smoothing — the recursive half of the smoothing
  * family ([[DecayScore]] decays each event independently and SUMS;
  * this carries level state forward: s_t = α·x_t + (1−α)·s_{t−1}, the
  * classical EWMA a forecast/alerting baseline wants). Float EWMA never
  * replays cross-engine (the accumulation chain compounds rounding), so
  * the recurrence here is DECLARED in integers: α = p/q exact rational,
  * values scaled by 10³, each step one truncating division —
  *
  *   s_1 = x_1·1000;   s_t = sgn(n_t)·(|n_t| div q),
  *   n_t = p·x_t·1000 + (q−p)·s_{t−1}
  *
  * — bit-replayable by DuckDB's `list_reduce` over the same pre-sorted
  * per-group array. Per-step truncation bias is ≤ 1 milli-unit and the
  * contraction (q−p)/q keeps the accumulated drift bounded by q/p
  * milli-units — declared semantics, not an approximation of the float
  * EWMA.
  *
  * A recurrence with a nonlinear step (the truncation) is inherently
  * sequential per group — no window/prefix decomposition exists — so
  * the fold runs over each group's collected series array (the BpeTrain
  * fold posture): ONE aggregate collects calendar-sized arrays (feed
  * the [[DenseSeries]] daily spine, thousands of entries, never raw
  * events), and the per-group fold is the NATIVE codegen'd
  * [[graft.functions.EwmaFold]] / [[graft.functions.HoltFold]] /
  * [[graft.functions.HoltWintersFold]] — one static primitive-long loop
  * per group (the r10 interpreted `aggregate()` HOF boxed every element
  * and re-concatenated the output array per step).
  * Contracts: duplicate indexes raise loudly inside the plan (the
  * recurrence order would be data-dependent); groups above `maxPoints`
  * raise loudly inside the plan BEFORE the array buffers
  * ([[FoldGuard.preBound]] — a spillable window count ahead of the
  * collect, opt-out via `preCheck = false`, post-collect backstop
  * retained); NULL idx/value rows drop;
  * NULL groups are a real stratum; |x|·1000·p must fit a long —
  * `Math.multiplyExact` throws loudly past ~9·10¹²·(1000/p).
  */
object ExpSmooth {

  /** Smoothed values are in 10⁻³ units of the input. */
  val Scale = 1000L

  /** (groupCol, idx, s_q3) — s_q3 the smoothed level in milli-units.
    * Groups longer than `maxPoints` raise loudly INSIDE the plan (the
    * TheilSen discipline): the raise converts a contract overrun into a
    * named violation the caller fixes by pre-aggregating onto a calendar
    * spine or raising the bound deliberately. The bound is enforced
    * BEFORE the collect buffers ([[FoldGuard.preBound]]); `preCheck =
    * false` opts out for inputs bounded upstream, leaving the
    * post-collect backstop.
    */
  def smooth(df: DataFrame, groupCol: String, idxCol: String,
             valueCol: String, alphaNum: Long, alphaDen: Long,
             maxPoints: Long = 100000L, preCheck: Boolean = true): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must lie in (0, 1)")
    require(maxPoints >= 1, s"maxPoints must be >= 1, got $maxPoints")
    graft.Guards.requireIntegral(df, idxCol, "smooth")
    graft.Guards.requireIntegral(df, valueCol, "smooth")
    val overMsg = concat(
      lit("expSmooth: group '"), col(groupCol).cast("string"),
      lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints"))
    val rows0 = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast("long").as("__i"),
        col(valueCol).cast("long").as("__x"))
    val rows =
      if (preCheck) FoldGuard.preBound(rows0, groupCol, "__x", maxPoints, overMsg)
      else rows0
    val collected = rows
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        col("__i").as("i"), col("__x").as("x")))).as("__arr"))
    val folded = collected.select(col(groupCol),
      (size(col("__arr")) =!=
        size(array_distinct(transform(col("__arr"), e => e.getField("i")))))
        .as("__dup"),
      (size(col("__arr")) > maxPoints).as("__over"),
      graft.functions.EwmaFold(col("__arr"), alphaNum, alphaDen, Scale)
        .as("__out"))
    // the dup guard rides INSIDE the output column (a dropped guard
    // column is optimizer-pruned dead code — the DiffInDiff pattern)
    folded.select(col(groupCol), col("__dup"), col("__over"),
        explode(col("__out")).as("__e"))
      .select(col(groupCol), col("__e.i").as("idx"),
        when(col("__over"), raise_error(concat(
          lit("expSmooth: group '"), col(groupCol).cast("string"),
          lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints")))
            .cast("long"))
          .when(col("__dup"), raise_error(concat(
          lit("expSmooth: duplicate idx within group '"),
          col(groupCol).cast("string"),
          lit("' — pre-aggregate to one row per (group, idx)")))
            .cast("long"))
          .otherwise(col("__e.s")).as("s_q3"))
  }

  /** Holt double smoothing — [[smooth]] plus a trend state, the member
    * that FORECASTS (ŷ_{t+h} = l_t + h·b_t is one scan-stage multiply
    * for the caller): with α = p/q and β = r/w exact rationals,
    *
    *   l_1 = x_1·1000, b_1 = 0;
    *   l_t = quot(p·x_t·1000 + (q−p)·(l_{t−1} + b_{t−1}), q),
    *   b_t = quot(r·(l_t − l_{t−1}) + (w−r)·b_{t−1}, w)
    *
    * — two truncating divisions per step, same fold posture, same
    * contracts as [[smooth]]. Returns (groupCol, idx, level_q3,
    * trend_q3).
    */
  def holt(df: DataFrame, groupCol: String, idxCol: String,
           valueCol: String, alphaNum: Long, alphaDen: Long,
           betaNum: Long, betaDen: Long,
           maxPoints: Long = 100000L, preCheck: Boolean = true): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must lie in (0, 1)")
    require(betaNum > 0 && betaNum < betaDen,
      s"beta = $betaNum/$betaDen must lie in (0, 1)")
    require(maxPoints >= 1, s"maxPoints must be >= 1, got $maxPoints")
    graft.Guards.requireIntegral(df, idxCol, "holt")
    graft.Guards.requireIntegral(df, valueCol, "holt")
    val overMsg = concat(
      lit("holt: group '"), col(groupCol).cast("string"),
      lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints"))
    val rows0 = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast("long").as("__i"),
        col(valueCol).cast("long").as("__x"))
    val rows =
      if (preCheck) FoldGuard.preBound(rows0, groupCol, "__x", maxPoints, overMsg)
      else rows0
    val collected = rows
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        col("__i").as("i"), col("__x").as("x")))).as("__arr"))
    val folded = collected.select(col(groupCol),
      (size(col("__arr")) =!=
        size(array_distinct(transform(col("__arr"), e => e.getField("i")))))
        .as("__dup"),
      (size(col("__arr")) > maxPoints).as("__over"),
      graft.functions.HoltFold(col("__arr"), alphaNum, alphaDen,
        betaNum, betaDen, Scale).as("__out"))
    // the guard rides BOTH output columns — a caller projecting only
    // trend_q3 would otherwise prune the level-side raise away
    def guarded(out: org.apache.spark.sql.Column) =
      when(col("__over"), raise_error(concat(
        lit("holt: group '"), col(groupCol).cast("string"),
        lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints")))
          .cast("long"))
        .when(col("__dup"), raise_error(concat(
        lit("holt: duplicate idx within group '"),
        col(groupCol).cast("string"),
        lit("' — pre-aggregate to one row per (group, idx)")))
          .cast("long"))
        .otherwise(out)
    folded.select(col(groupCol), col("__dup"), col("__over"),
        explode(col("__out")).as("__e"))
      .select(col(groupCol), col("__e.i").as("idx"),
        guarded(col("__e.l")).as("level_q3"),
        guarded(col("__e.b")).as("trend_q3"))
  }

  /** DuckDB replay of [[holt]] — the [[oracleSql]] flat-list device
    * with {i, l, b} entries.
    */
  def holtOracleSql(seriesSql: String, groupName: String,
                    alphaNum: Long, alphaDen: Long,
                    betaNum: Long, betaDen: Long): String = {
    val p = alphaNum; val qmp = alphaDen - alphaNum
    val r = betaNum; val wmr = betaDen - betaNum
    val last = "acc[len(acc)]"
    // e[1].l is x_t·Scale (the pre-mapped singleton), so p·x·Scale = p·e[1].l
    val lNum = s"($p * e[1].l + $qmp * ($last.l + $last.b))"
    val lStep = quotSql(lNum, alphaDen.toString)
    val bNum = s"($r * (($lStep) - $last.l) + $wmr * $last.b)"
    val bStep = quotSql(bNum, betaDen.toString)
    s"""WITH arr AS (
  SELECT grp, list({'i': i, 'x': x} ORDER BY i, x) AS a
  FROM ($seriesSql) WHERE i IS NOT NULL AND x IS NOT NULL GROUP BY grp),
pre AS (
  SELECT grp, list_transform(a,
    e -> [{'i': e.i, 'l': e.x * $Scale, 'b': CAST(0 AS BIGINT)}]) AS a
  FROM arr),
f AS (
  SELECT grp, list_reduce(a,
    (acc, e) -> list_append(acc, {'i': e[1].i, 'l': $lStep, 'b': $bStep})) AS r
  FROM pre)
SELECT grp AS $groupName, u.i AS idx, CAST(u.l AS BIGINT) AS level_q3,
  CAST(u.b AS BIGINT) AS trend_q3
FROM (SELECT grp, unnest(r) AS u FROM f)
ORDER BY $groupName, idx"""
  }

  /** DuckDB replay of [[smooth]]: the same pre-sorted array folded with
    * `list_reduce` (no initial value in DuckDB reduce, so elements are
    * pre-mapped to singleton result lists and the first element IS s_1;
    * the accumulator is a FLAT list whose last entry carries the running
    * level — DuckDB 1.0 truncates list fields nested in struct
    * accumulators, scalar fields accumulate fine — a verified quirk).
    * `seriesSql` must yield (grp, i, x) with one row per (grp, i).
    */
  def oracleSql(seriesSql: String, groupName: String,
                alphaNum: Long, alphaDen: Long): String = {
    val p = alphaNum
    val qmp = alphaDen - alphaNum
    // e[1].s is x·Scale, so p·x·Scale = p·e[1].s
    val num = s"($p * e[1].s + $qmp * acc[len(acc)].s)"
    val step = quotSql(num, alphaDen.toString)
    s"""WITH arr AS (
  SELECT grp, list({'i': i, 'x': x} ORDER BY i, x) AS a
  FROM ($seriesSql) WHERE i IS NOT NULL AND x IS NOT NULL GROUP BY grp),
pre AS (
  SELECT grp, list_transform(a, e -> [{'i': e.i, 's': e.x * $Scale}]) AS a
  FROM arr),
f AS (
  SELECT grp, list_reduce(a,
    (acc, e) -> list_append(acc, {'i': e[1].i, 's': $step})) AS r
  FROM pre)
SELECT grp AS $groupName, u.i AS idx, CAST(u.s AS BIGINT) AS s_q3
FROM (SELECT grp, unnest(r) AS u FROM f)
ORDER BY $groupName, idx"""
  }

  /** Holt–Winters additive triple smoothing — [[holt]] plus a seasonal
    * state of declared period `m`, completing the smoothing family (the
    * seasonal-index readout is [[Seasonal.indexes]]; the decomposition
    * is [[SeasonalDecomp.decompose]]; this is the RECURSIVE tracker a
    * live forecast wants: ŷ_{t+h} = l_t + h·b_t + s_{t−m+((h−1) mod m)+1}
    * is scan-stage algebra for the caller). With α = p/q, β = r/w,
    * γ = g/v exact rationals and s̃ the seasonal m steps back (DECLARED
    * 0 for the first season — the graceful-degrade init: the first
    * season runs plain Holt and seasonals accumulate from observation):
    *
    *   l_1 = x_1·1000, b_1 = 0, s_1 = 0;
    *   l_t = quot(p·(x_t·1000 − s̃) + (q−p)·(l_{t−1} + b_{t−1}), q)
    *   b_t = quot(r·(l_t − l_{t−1}) + (w−r)·b_{t−1}, w)
    *   s_t = quot(g·(x_t·1000 − l_t) + (v−g)·s̃, v)
    *
    * — three truncating divisions per step, same fold posture and
    * contracts as [[holt]]. Returns (groupCol, idx, level_q3, trend_q3,
    * seasonal_q3).
    */
  def holtWinters(df: DataFrame, groupCol: String, idxCol: String,
                  valueCol: String, period: Int,
                  alphaNum: Long, alphaDen: Long,
                  betaNum: Long, betaDen: Long,
                  gammaNum: Long, gammaDen: Long,
                  maxPoints: Long = 100000L, preCheck: Boolean = true): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must lie in (0, 1)")
    require(betaNum > 0 && betaNum < betaDen,
      s"beta = $betaNum/$betaDen must lie in (0, 1)")
    require(gammaNum > 0 && gammaNum < gammaDen,
      s"gamma = $gammaNum/$gammaDen must lie in (0, 1)")
    require(maxPoints >= 1, s"maxPoints must be >= 1, got $maxPoints")
    graft.Guards.requireIntegral(df, idxCol, "holtWinters")
    graft.Guards.requireIntegral(df, valueCol, "holtWinters")
    val overMsg = concat(
      lit("holtWinters: group '"), col(groupCol).cast("string"),
      lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints"))
    val rows0 = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast("long").as("__i"),
        col(valueCol).cast("long").as("__x"))
    val rows =
      if (preCheck) FoldGuard.preBound(rows0, groupCol, "__x", maxPoints, overMsg)
      else rows0
    val collected = rows
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        col("__i").as("i"), col("__x").as("x")))).as("__arr"))
    val folded = collected.select(col(groupCol),
      (size(col("__arr")) =!=
        size(array_distinct(transform(col("__arr"), e => e.getField("i")))))
        .as("__dup"),
      (size(col("__arr")) > maxPoints).as("__over"),
      graft.functions.HoltWintersFold(col("__arr"), period, alphaNum,
        alphaDen, betaNum, betaDen, gammaNum, gammaDen, Scale).as("__out"))
    // the guard rides ALL THREE output columns (the holt discipline)
    def guarded(out: org.apache.spark.sql.Column) =
      when(col("__over"), raise_error(concat(
        lit("holtWinters: group '"), col(groupCol).cast("string"),
        lit(s"' exceeds $maxPoints points — feed a calendar spine or raise maxPoints")))
          .cast("long"))
        .when(col("__dup"), raise_error(concat(
        lit("holtWinters: duplicate idx within group '"),
        col(groupCol).cast("string"),
        lit("' — pre-aggregate to one row per (group, idx)")))
          .cast("long"))
        .otherwise(out)
    folded.select(col(groupCol), col("__dup"), col("__over"),
        explode(col("__out")).as("__e"))
      .select(col(groupCol), col("__e.i").as("idx"),
        guarded(col("__e.l")).as("level_q3"),
        guarded(col("__e.b")).as("trend_q3"),
        guarded(col("__e.s")).as("seasonal_q3"))
  }

  /** DuckDB replay of [[holtWinters]] — the flat-list device with
    * {i, l, b, s} entries and the same seasonal back-reference.
    */
  def holtWintersOracleSql(seriesSql: String, groupName: String, period: Int,
                           alphaNum: Long, alphaDen: Long,
                           betaNum: Long, betaDen: Long,
                           gammaNum: Long, gammaDen: Long): String = {
    val p = alphaNum; val qmp = alphaDen - alphaNum
    val r = betaNum; val wmr = betaDen - betaNum
    val g = gammaNum; val vmg = gammaDen - gammaNum
    val last = "acc[len(acc)]"
    val sm = s"(CASE WHEN len(acc) >= $period " +
      s"THEN acc[len(acc) - ${period - 1}].s ELSE 0 END)"
    // e[1].l is x_t·Scale (the pre-mapped singleton)
    val lNum = s"($p * (e[1].l - $sm) + $qmp * ($last.l + $last.b))"
    val lStep = quotSql(lNum, alphaDen.toString)
    val bNum = s"($r * (($lStep) - $last.l) + $wmr * $last.b)"
    val bStep = quotSql(bNum, betaDen.toString)
    val sNum = s"($g * (e[1].l - ($lStep)) + $vmg * $sm)"
    val sStep = quotSql(sNum, gammaDen.toString)
    s"""WITH arr AS (
  SELECT grp, list({'i': i, 'x': x} ORDER BY i, x) AS a
  FROM ($seriesSql) WHERE i IS NOT NULL AND x IS NOT NULL GROUP BY grp),
pre AS (
  SELECT grp, list_transform(a,
    e -> [{'i': e.i, 'l': e.x * $Scale, 'b': CAST(0 AS BIGINT),
           's': CAST(0 AS BIGINT)}]) AS a
  FROM arr),
f AS (
  SELECT grp, list_reduce(a,
    (acc, e) -> list_append(acc,
      {'i': e[1].i, 'l': $lStep, 'b': $bStep, 's': $sStep})) AS r
  FROM pre)
SELECT grp AS $groupName, u.i AS idx, CAST(u.l AS BIGINT) AS level_q3,
  CAST(u.b AS BIGINT) AS trend_q3, CAST(u.s AS BIGINT) AS seasonal_q3
FROM (SELECT grp, unnest(r) AS u FROM f)
ORDER BY $groupName, idx"""
  }
}
