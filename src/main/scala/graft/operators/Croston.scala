package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Croston's method — the forecasting member for INTERMITTENT demand
  * (spare parts, long-tail SKUs, rare purchases), where plain EWMA
  * ([[ExpSmooth]]) is biased toward zero by the empty periods: two
  * coupled EWMAs updated ONLY at demand points — z tracks the demand
  * SIZE, p tracks the inter-arrival GAP — and the caller's forecast per
  * period is the ratio z/p (published as the two exact integers; the
  * division is the reader's, the repo's float convention).
  *
  * Declared integer recurrence (α = a/d exact rational, milli-units,
  * each step one truncating division — the [[ExpSmooth]]
  * ladder):
  *
  *   z_1 = x_1·1000,  p_1 = (i_1 − startIdx)·1000,  g_1 = i_1 − startIdx;
  *   g_t = i_t − i_{t−1},
  *   z_t = quot(a·x_t·1000 + (d−a)·z_{t−1}, d),
  *   p_t = quot(a·g_t·1000 + (d−a)·p_{t−1}, d)
  *
  * Zero-demand rows are FILTERED, not folded — gaps come from index
  * differences, so the operator consumes the sparse demand rows
  * directly (no dense spine needed: an advantage over the smoothing
  * family, and why its collected arrays stay demand-sized). Negative
  * demand raises in-plan (a return stream is a different operator);
  * `startIdx` is the DECLARED virtual origin for the first gap (the
  * day before the observation window). Same fold posture and contracts
  * as [[ExpSmooth.smooth]]: duplicate idx and over-`maxPoints` raise
  * in-plan riding every published column, NULL idx/value drop, NULL
  * groups are real strata.
  */
object Croston {

  val Scale = 1000L

  /** One row per demand point: (groupCol, idx, gap, z_q3, p_q3). */
  def method(df: DataFrame, groupCol: String, idxCol: String,
             valueCol: String, alphaNum: Long, alphaDen: Long,
             startIdx: Long, maxPoints: Long = 100000L,
             preCheck: Boolean = true): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must lie in (0, 1)")
    require(maxPoints >= 1, s"maxPoints must be >= 1, got $maxPoints")
    graft.Guards.requireIntegral(df, idxCol, "croston")
    graft.Guards.requireIntegral(df, valueCol, "croston")
    val rows0 = df
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol).cast("long") =!= 0L)
      .select(col(groupCol),
        when(col(idxCol).cast("long") <= startIdx,
          raise_error(concat(
            lit(s"croston: idx must exceed startIdx=$startIdx, got "),
            col(idxCol).cast("string"))).cast("long"))
          .otherwise(col(idxCol).cast("long")).as("__i"),
        when(col(valueCol).cast("long") < 0L,
          raise_error(concat(lit("croston: negative demand "),
            col(valueCol).cast("string"),
            lit(" — returns are a different operator"))).cast("long"))
          .otherwise(col(valueCol).cast("long")).as("__x"))
    val overMsg = concat(
      lit("croston: group '"), col(groupCol).cast("string"),
      lit(s"' exceeds $maxPoints demand points — raise maxPoints deliberately"))
    val rows =
      if (preCheck) FoldGuard.preBound(rows0, groupCol, "__x", maxPoints, overMsg)
      else rows0
    val collected = rows.groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("__i").as("i"),
        col("__x").as("x")))).as("__arr"))
    val folded = collected.select(col(groupCol),
      (size(col("__arr")) =!=
        size(array_distinct(transform(col("__arr"), e => e.getField("i")))))
        .as("__dup"),
      (size(col("__arr")) > maxPoints).as("__over"),
      graft.functions.CrostonFold(col("__arr"), alphaNum, alphaDen,
        startIdx, Scale).as("__out"))
    def guarded(out: org.apache.spark.sql.Column) =
      when(col("__over"), raise_error(concat(
        lit("croston: group '"), col(groupCol).cast("string"),
        lit(s"' exceeds $maxPoints demand points — raise maxPoints " +
          "deliberately"))).cast("long"))
        .when(col("__dup"), raise_error(concat(
          lit("croston: duplicate idx within group '"),
          col(groupCol).cast("string"),
          lit("' — pre-aggregate to one demand row per (group, idx)")))
          .cast("long"))
        .otherwise(out)
    folded.select(col(groupCol), col("__dup"), col("__over"),
        explode(col("__out")).as("__e"))
      .select(col(groupCol), col("__e.i").as("idx"),
        guarded(col("__e.g")).as("gap"),
        guarded(col("__e.z")).as("z_q3"),
        guarded(col("__e.p")).as("p_q3"))
  }

  /** DuckDB replay — the [[ExpSmooth.oracleSql]] list_reduce device
    * with a two-state accumulator; `seriesSql` yields (grp, i, x) with
    * x > 0 one row per (grp, i).
    */
  def oracleSql(seriesSql: String, groupName: String, alphaNum: Long,
                alphaDen: Long, startIdx: Long): String = {
    val a = alphaNum
    val dma = alphaDen - alphaNum
    def step(num: String) = graft.ExactDiv.quotSql(num, alphaDen.toString)
    val g = s"(e[1].i - acc[len(acc)].i)"
    val zNum = s"($a * e[1].xs + $dma * acc[len(acc)].z)"
    val pNum = s"($a * $g * $Scale + $dma * acc[len(acc)].p)"
    s"""WITH arr AS (
  SELECT grp, list({'i': i, 'x': x} ORDER BY i, x) AS a
  FROM ($seriesSql) WHERE i IS NOT NULL AND x IS NOT NULL AND x <> 0
  GROUP BY grp),
pre AS (
  SELECT grp, list_transform(a, e -> [{'i': e.i,
    'g': e.i - $startIdx, 'xs': e.x * $Scale,
    'z': e.x * $Scale, 'p': (e.i - $startIdx) * $Scale}]) AS a
  FROM arr),
f AS (
  SELECT grp, list_reduce(a, (acc, e) -> list_append(acc, {
    'i': e[1].i, 'g': $g, 'xs': e[1].xs,
    'z': ${step(zNum)}, 'p': ${step(pNum)}})) AS r
  FROM pre)
SELECT grp AS $groupName, u.i AS idx, CAST(u.g AS BIGINT) AS gap,
  CAST(u.z AS BIGINT) AS z_q3, CAST(u.p AS BIGINT) AS p_q3
FROM (SELECT grp, unnest(r) AS u FROM f)
ORDER BY $groupName, idx"""
  }
}
