package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.ExactDiv.{quot, quotSql}

/** A/B experiment comparison — per-arm moments and Welch's t against a
  * control arm, the readout step after [[graft.text.CorpusFilters]]-style
  * treatment splits (`trainValTestSplit` assigns arms; this scores them).
  *
  * The exact-integer discipline of [[GroupedTrend]]: per-arm n, Σx, Σx²
  * accumulate in DECIMAL(38,0) (order-independent, engine-replayable),
  * the variance numerator n·Σx² − (Σx)² is the shared cross-moment, and
  * the mean difference is emitted as an EXACT milli-quantized integer
  * (⌊1000·(Σx_t·n_c − Σx_c·n_t)/(n_t·n_c)⌋ — cross-multiplied, no
  * intermediate float). Welch's t rides along as the one double chain
  * (two divisions + an IEEE sqrt — deterministic given exact inputs);
  * the gate checks the integers, the spec checks t.
  *
  * Scale shape: ONE shuffle (the arm groupBy, three decimal partials per
  * (arm, partition) — whale arms are map-side accumulation), then the
  * control row broadcasts onto the arms-sized frame. `valueCol` must be
  * integral (the Drift rule — scale to cents/millis upstream).
  */
object AbTest {

  private val Dec = "decimal(38,0)"

  /** Shared integral-column guard (the Drift rule) — one definition for
    * every entry point, so the contract cannot drift.
    */
  private def requireIntegral(df: DataFrame, c: String, fn: String): Unit =
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"$fn needs an integral column (scale to integer units first); " +
          s"$c is ${other.catalogString}")
    }

  /** The shared moment pipeline: NULL-filter, decimal projection, keyed
    * groupBy of (n, Σx, Σx²), variance numerator — one definition for the
    * global and segmented readouts.
    */
  private def moments(df: DataFrame, keyCols: Seq[(String, String)],
                      valueCol: String): DataFrame = {
    val x = col(valueCol).cast(LongType).cast(Dec)
    val outKeys = keyCols.map { case (src, out) => col(src).as(out) }
    val keyNames = keyCols.map(_._2)
    df.where(keyCols.map(k => col(k._1).isNotNull)
        .reduce(_ && _) && col(valueCol).isNotNull)
      .select(outKeys :+ x.as("__x") :+ (x * x).cast(Dec).as("__xx"): _*)
      .groupBy(keyNames.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum("__x").as("sum_v"), sum("__xx").as("sumsq_v"))
      .withColumn("var_num",
        (col("n").cast(Dec) * col("sumsq_v") - col("sum_v") * col("sum_v")).cast(Dec))
  }

  /** The shared diff/Welch readout over a stats frame already joined with
    * its control columns (n_c, sum_c, var_num_c): appends
    * `mean_diff_milli` (exact truncated integer) and `welch_t` (the one
    * double chain; NULL on degenerate arms) after the given lead columns.
    */
  private def readout(joined: DataFrame, leadCols: Seq[Column]): DataFrame = {
    val diffNum = (col("sum_v") * col("n_c").cast(Dec) -
      col("sum_c") * col("n").cast(Dec)).cast(Dec)
    val diffDen = (col("n").cast(Dec) * col("n_c").cast(Dec)).cast(Dec)
    val varT = col("var_num").cast("double") /
      (col("n").cast("double") * (col("n") - 1).cast("double"))
    val varC = col("var_num_c").cast("double") /
      (col("n_c").cast("double") * (col("n_c") - 1).cast("double"))
    val se = sqrt(varT / col("n").cast("double") + varC / col("n_c").cast("double"))
    joined
      .withColumn("__dn", diffNum)
      .withColumn("__dd", diffDen)
      .select(leadCols ++ Seq(
        col("n").as("n_arm"), col("n_c"),
        quot(col("__dn"), col("__dd"), 1000).as("mean_diff_milli"),
        when(col("n") >= 2 && col("n_c") >= 2 && se > 0.0,
          (col("__dn").cast("double") / col("__dd").cast("double")) / se)
          .as("welch_t")): _*)
  }

  /** Materialize the control arm's single stats row as a broadcastable
    * 1-row frame, raising LOUDLY when the arm is absent — a typo'd label
    * or broken assignment must never read as a silently empty readout.
    */
  private def controlFrame(stats: DataFrame, controlArm: String,
                           renames: Seq[(String, String)]): DataFrame = {
    val cRows = stats.where(col("arm") === controlArm).collect()
    require(cRows.nonEmpty,
      s"control arm '$controlArm' has no observations — check the arm label")
    val c = cRows.head
    broadcast(stats.sparkSession.createDataFrame(java.util.List.of(c), c.schema)
      .select(renames.map { case (src, out) => col(src).as(out) }: _*))
  }

  /** Per-arm exact moments: (arm, n, sum_v, sumsq_v, var_num) where
    * var_num = n·Σx² − (Σx)² (sample variance = var_num / (n·(n−1))).
    * NULL arms and NULL values are excluded.
    */
  def armStats(df: DataFrame, armCol: String, valueCol: String): DataFrame = {
    requireIntegral(df, valueCol, "armStats")
    moments(df, Seq(armCol -> "arm"), valueCol)
  }

  /** Every treatment arm vs `controlArm`: exact integer mean difference in
    * milli-units plus Welch's t (NULL when either arm has n < 2 or zero
    * variance denominators degenerate). Raises when the control arm has
    * no observations.
    */
  def compareToControl(df: DataFrame, armCol: String, valueCol: String,
                       controlArm: String): DataFrame = {
    // persisted: the control lookup and the readout both read the
    // arms-sized frame — one corpus aggregation (ContextCleaner reclaims)
    val stats = armStats(df, armCol, valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val control = controlFrame(stats, controlArm,
      Seq("n" -> "n_c", "sum_v" -> "sum_c", "var_num" -> "var_num_c"))
    readout(stats.where(col("arm") =!= controlArm).crossJoin(control),
      Seq(col("arm")))
  }

  /** Heterogeneous treatment effects: [[compareToControl]] within every
    * `segmentCol` value independently — "the lift is +2% overall but
    * −5% on mobile". Same exact arithmetic; the control join is keyed by
    * segment (broadcastable — the frame is segments×arms-sized), so
    * nothing beyond the one (segment, arm) groupBy shuffles. Segments
    * whose control arm is absent drop out (no baseline to compare).
    */
  def compareToControlBySegment(df: DataFrame, segmentCol: String,
                                armCol: String, valueCol: String,
                                controlArm: String): DataFrame = {
    requireIntegral(df, valueCol, "compareToControlBySegment")
    val stats = moments(df, Seq(segmentCol -> "segment", armCol -> "arm"), valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val control = stats.where(col("arm") === controlArm)
      .select(col("segment"), col("n").as("n_c"), col("sum_v").as("sum_c"),
        col("var_num").as("var_num_c"))
    readout(
      stats.where(col("arm") =!= controlArm).join(broadcast(control), Seq("segment")),
      Seq(col("segment"), col("arm")))
  }

  /** CUPED variance reduction — adjust the metric by a pre-experiment
    * covariate before comparing: Y′ = Y − θ(X − X̄) with θ = cov(X,Y)/
    * var(X) pooled, so covariate imbalance between arms (the thing that
    * makes small effects unreadable) cancels instead of masquerading as
    * an effect. All arithmetic stays engine-exact: per-arm moments (n,
    * ΣX, ΣY, ΣXY, ΣXX) from ONE corpus pass, global moments DERIVED as
    * sums of the arms-sized frame (no second scan), θ quantized to
    * micro units by truncating division ([[graft.ExactDiv]]), and the adjusted
    * difference ⌊dY − θ·dX⌋ composed from cross-multiplied integer
    * milli diffs. Emits raw and adjusted diffs side by side — the spec's
    * imbalanced-covariate case shows the raw diff misleading and the
    * adjusted one recovering the true effect. Raises when the control
    * arm has no observations.
    */
  def cupedCompare(df: DataFrame, armCol: String, yCol: String, xCol: String,
                   controlArm: String): DataFrame = {
    Seq(yCol, xCol).foreach(requireIntegral(df, _, "cupedCompare"))
    val x = col(xCol).cast(LongType).cast(Dec)
    val y = col(yCol).cast(LongType).cast(Dec)
    val arms = df
      .where(col(armCol).isNotNull && col(yCol).isNotNull && col(xCol).isNotNull)
      .select(col(armCol).as("arm"), x.as("__x"), y.as("__y"),
        (x * y).cast(Dec).as("__xy"), (x * x).cast(Dec).as("__xx"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("__x").as("sx"), sum("__y").as("sy"),
        sum("__xy").as("sxy"), sum("__xx").as("sxx"))
      // persisted: the θ aggregate, the control lookup, and the readout
      // all read this arms-sized frame — one corpus pass total
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pooled θ from the arms-sized frame — globals are sums of per-arm sums
    val g = broadcast(arms.agg(
      sum("n").as("gn"), sum("sx").as("gsx"), sum("sy").as("gsy"),
      sum("sxy").as("gsxy"), sum("sxx").as("gsxx"))
      .withColumn("__cov",
        (col("gn").cast(Dec) * col("gsxy") - col("gsx") * col("gsy")).cast(Dec))
      .withColumn("__var",
        (col("gn").cast(Dec) * col("gsxx") - col("gsx") * col("gsx")).cast(Dec))
      .select(when(col("__var") > lit(0).cast(Dec),
        quot(col("__cov"), col("__var"), 1000000)).as("theta_micro")))
    val control = controlFrame(arms, controlArm,
      Seq("n" -> "n_c", "sx" -> "sx_c", "sy" -> "sy_c"))
    val dyN = (col("sy") * col("n_c").cast(Dec) - col("sy_c") * col("n").cast(Dec)).cast(Dec)
    val dxN = (col("sx") * col("n_c").cast(Dec) - col("sx_c") * col("n").cast(Dec)).cast(Dec)
    val dd = (col("n").cast(Dec) * col("n_c").cast(Dec)).cast(Dec)
    arms.where(col("arm") =!= controlArm)
      .crossJoin(control).crossJoin(g)
      .withColumn("__dy", dyN).withColumn("__dx", dxN).withColumn("__dd", dd)
      .withColumn("dy_milli", quot(col("__dy"), col("__dd"), 1000))
      .withColumn("dx_milli", quot(col("__dx"), col("__dd"), 1000))
      // θ·dX in milli: the product is taken in DECIMAL(38,0) — a
      // long×long product here overflows (ANSI raise) at |θ·dX| > 2⁶³
      // while the HUGEINT oracle sails on
      .withColumn("__adjterm", quot(
        col("theta_micro").cast(Dec) * col("dx_milli").cast(Dec), lit(1000000L)))
      .select(col("arm"), col("n").as("n_arm"), col("n_c"),
        col("theta_micro"), col("dy_milli").as("mean_diff_milli"),
        (col("dy_milli") - col("__adjterm")).as("adj_diff_milli"))
  }

  /** DuckDB replay of [[cupedCompare]] — same moment algebra, same
    * truncating divisions.
    */
  def cupedOracleSql(table: String, armSql: String, ySql: String, xSql: String,
                     controlArm: String): String =
    s"""WITH s AS (SELECT $armSql AS arm, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST($xSql AS HUGEINT)) AS sx, sum(CAST($ySql AS HUGEINT)) AS sy,
       |    sum(CAST($xSql AS HUGEINT) * CAST($ySql AS HUGEINT)) AS sxy,
       |    sum(CAST($xSql AS HUGEINT) * CAST($xSql AS HUGEINT)) AS sxx
       |  FROM $table WHERE ($armSql) IS NOT NULL AND ($ySql) IS NOT NULL
       |    AND ($xSql) IS NOT NULL GROUP BY 1),
       |g AS (SELECT sum(n) AS gn, sum(sx) AS gsx, sum(sy) AS gsy,
       |    sum(sxy) AS gsxy, sum(sxx) AS gsxx FROM s),
       |th AS (SELECT CASE WHEN gn * gsxx - gsx * gsx > 0 THEN
       |    ${quotSql("gn * gsxy - gsx * gsy", "gn * gsxx - gsx * gsx", 1000000)}
       |    END AS theta_micro FROM g),
       |c AS (SELECT n AS n_c, sx AS sx_c, sy AS sy_c FROM s WHERE arm = '$controlArm'),
       |d AS (SELECT s.arm, s.n AS n_arm, c.n_c, th.theta_micro,
       |    s.sy * c.n_c - c.sy_c * s.n AS dyn,
       |    s.sx * c.n_c - c.sx_c * s.n AS dxn,
       |    CAST(s.n AS HUGEINT) * c.n_c AS dd
       |  FROM s CROSS JOIN c CROSS JOIN th WHERE s.arm <> '$controlArm'),
       |m AS (SELECT arm, n_arm, n_c, theta_micro,
       |    ${quotSql("dyn", "dd", 1000)} AS dy_milli,
       |    ${quotSql("dxn", "dd", 1000)} AS dx_milli
       |  FROM d)
       |SELECT arm, n_arm, n_c, theta_micro, dy_milli AS mean_diff_milli,
       |  dy_milli - ${quotSql("CAST(theta_micro AS HUGEINT) * dx_milli", "1000000")}
       |    AS adj_diff_milli
       |FROM m ORDER BY arm""".stripMargin

  /** Sample-ratio-mismatch check — the validity gate run BEFORE reading
    * any effect: do the observed arm counts match the intended split?
    * (A biased assignment silently invalidates every downstream
    * comparison; SRM is the standard tripwire.) Per-arm chi-square
    * contribution (nᵢ − eᵢ)²/eᵢ with eᵢ = N·wᵢ/W, computed as the exact
    * cross-multiplied integer ⌊10⁶·(nᵢ·W − N·wᵢ)² / (N·wᵢ·W)⌋ — no
    * float expected counts, so the statistic hashes cross-engine
    * (compare Σ against the χ²(arms−1) critical value downstream).
    * Arms observed but not in `weights` get NULL contributions (an
    * unexpected arm IS the mismatch — surface it, don't fold it in);
    * weighted arms with zero observations still appear with their full
    * deficit. One partial-agg'd count + an arms-sized join.
    */
  def sampleRatioCheck(df: DataFrame, armCol: String,
                       weights: Map[String, Long]): DataFrame =
    sampleRatioFromCounts(
      df.where(col(armCol).isNotNull)
        .groupBy(col(armCol).as("arm")).agg(count(lit(1)).as("n_obs")),
      weights)

  /** [[sampleRatioCheck]] over a pre-counted (arm, n_obs) frame — e.g. an
    * [[IncrementalAgg]]-maintained per-arm count store, so the SRM
    * tripwire runs CONTINUOUSLY against live assignment counts (fold the
    * stream via [[graft.streaming.MetricsIngest]] grouped by arm, read
    * the store, check each batch) without re-scanning assignment history.
    */
  def sampleRatioFromCounts(observed: DataFrame,
                            weights: Map[String, Long]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val spark = observed.sparkSession
    import spark.implicits._
    val w = weights.values.sum
    // a store fed by IncrementalAgg keeps NULL group keys; exclude them
    // here so the store path matches sampleRatioCheck's raw-row filter
    // (a NULL-arm row would otherwise inflate N for every arm)
    val obs = observed.where(col("arm").isNotNull)
    val expected = weights.toSeq.sortBy(_._1).toDF("arm", "weight")
    // persisted: the total and the readout both read this arms-sized
    // frame — one corpus aggregation
    val joined = obs.join(expected, Seq("arm"), "full_outer")
      .select(col("arm"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("weight"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = broadcast(joined.agg(
      coalesce(sum("n_obs"), lit(0L)).as("__N")))
    val dn = (col("n_obs").cast(Dec) * lit(w).cast(Dec) -
      col("__N").cast(Dec) * col("weight").cast(Dec)).cast(Dec)
    val den = (col("__N").cast(Dec) * col("weight").cast(Dec) * lit(w).cast(Dec)).cast(Dec)
    joined.crossJoin(total)
      .withColumn("__dn", dn)
      .withColumn("__dd", den)
      .select(col("arm"), col("n_obs"), col("weight"),
        when(col("weight").isNotNull && col("__dd") > lit(0).cast(Dec),
          expr("CAST((__dn * __dn * 1000000) div __dd AS BIGINT)"))
          .as("chisq_q"))
  }

  /** DuckDB replay of [[sampleRatioCheck]]. */
  def srmOracleSql(table: String, armSql: String,
                   weights: Map[String, Long]): String = {
    val w = weights.values.sum
    val ws = weights.toSeq.sortBy(_._1)
    val values = ws.map { case (a, wt) =>
      s"('${a.replace("'", "''")}', CAST($wt AS BIGINT))"
    }.mkString(", ")
    s"""WITH obs AS (SELECT $armSql AS arm, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM $table WHERE ($armSql) IS NOT NULL GROUP BY 1),
       |exp AS (SELECT * FROM (VALUES $values) v(arm, weight)),
       |j AS (SELECT coalesce(obs.arm, exp.arm) AS arm,
       |    coalesce(obs.n_obs, 0) AS n_obs, exp.weight
       |  FROM obs FULL OUTER JOIN exp ON obs.arm = exp.arm),
       |t AS (SELECT CAST(coalesce(sum(n_obs), 0) AS HUGEINT) AS N FROM j)
       |SELECT j.arm, j.n_obs, j.weight,
       |  CASE WHEN j.weight IS NOT NULL AND t.N * j.weight * $w > 0 THEN
       |    CAST(((CAST(j.n_obs AS HUGEINT) * $w - t.N * j.weight)
       |      * (CAST(j.n_obs AS HUGEINT) * $w - t.N * j.weight) * 1000000)
       |      // (t.N * j.weight * $w) AS BIGINT)
       |  END AS chisq_q
       |FROM j CROSS JOIN t
       |ORDER BY j.arm""".stripMargin
  }

  /** DuckDB replay of [[compareToControlBySegment]]'s integer surface. */
  def segmentedOracleSql(table: String, segmentSql: String, armSql: String,
                         valueSql: String, controlArm: String): String =
    s"""WITH s AS (SELECT $segmentSql AS segment, $armSql AS arm,
       |    CAST(count(*) AS BIGINT) AS n, sum(CAST($valueSql AS HUGEINT)) AS sum_v
       |  FROM $table WHERE ($segmentSql) IS NOT NULL AND ($armSql) IS NOT NULL
       |    AND ($valueSql) IS NOT NULL
       |  GROUP BY 1, 2),
       |c AS (SELECT segment, n AS n_c, sum_v AS sum_c FROM s WHERE arm = '$controlArm')
       |SELECT s.segment, s.arm, s.n AS n_arm, c.n_c,
       |  ${quotSql("s.sum_v * c.n_c - c.sum_c * s.n", "s.n * c.n_c", 1000)}
       |    AS mean_diff_milli
       |FROM s JOIN c USING (segment) WHERE s.arm <> '$controlArm'
       |ORDER BY s.segment, s.arm""".stripMargin

  /** DuckDB replay of [[compareToControl]]'s integer surface (t is
    * spec-checked, not gated — the gate drops it).
    */
  def oracleSql(table: String, armSql: String, valueSql: String,
                controlArm: String): String =
    s"""WITH s AS (SELECT $armSql AS arm, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST($valueSql AS HUGEINT)) AS sum_v
       |  FROM $table WHERE ($armSql) IS NOT NULL AND ($valueSql) IS NOT NULL
       |  GROUP BY 1),
       |c AS (SELECT n AS n_c, sum_v AS sum_c FROM s WHERE arm = '$controlArm')
       |SELECT s.arm, s.n AS n_arm, c.n_c,
       |  ${quotSql("s.sum_v * c.n_c - c.sum_c * s.n", "s.n * c.n_c", 1000)}
       |    AS mean_diff_milli
       |FROM s CROSS JOIN c WHERE s.arm <> '$controlArm'
       |ORDER BY s.arm""".stripMargin

  /** The BINARY-metric readout — conversion experiments, where the value
    * is a yes/no instead of a magnitude ([[compareToControl]] reads
    * continuous values; forcing 0/1 through it works but buries the
    * rates): per non-control arm, exact per-arm rates and the
    * rate difference vs control in micro-units, cross-multiplied
    * (`(c_a·n_ctrl − c_ctrl·n_a)·10⁶ div (n_a·n_ctrl)`, truncated).
    * `convCol` must be a non-null boolean per row (a NULL conversion is
    * an unsettled outcome — resolve it upstream; silently treating it
    * as "no" biases every rate). One partial-agg'd groupBy; the control
    * row rides a 1-row broadcast. Raises when the control arm is empty.
    */
  def conversionCompare(df: DataFrame, armCol: String, convCol: String,
                        controlArm: String): DataFrame = {
    val arms = df
      .where(col(armCol).isNotNull && col(convCol).isNotNull)
      .groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).cast(Dec).as("__n"),
        sum(when(col(convCol), 1L).otherwise(0L)).cast(Dec).as("__c"))
      .localCheckpoint(true)
    val ctrl = arms.where(col("arm") === controlArm)
      .select(col("__n").as("__nc"), col("__c").as("__cc"))
    require(ctrl.limit(1).count() > 0,
      s"conversionCompare: control arm '$controlArm' has no observations")
    arms.where(col("arm") =!= controlArm)
      .crossJoin(broadcast(ctrl))
      .select(col("arm"),
        col("__n").cast("long").as("n"),
        col("__c").cast("long").as("conversions"),
        expr("CAST((__c * 1000000) div __n AS BIGINT)").as("rate_micro"),
        expr("CAST((__cc * 1000000) div __nc AS BIGINT)")
          .as("ctrl_rate_micro"),
        quot(col("__c") * col("__nc") - col("__cc") * col("__n"),
          col("__n") * col("__nc"), 1000000).as("rate_diff_micro"))
  }

  /** DuckDB replay of [[conversionCompare]]. */
  def conversionOracle(table: String, armSql: String, convSql: String,
                       controlArm: String): String =
    s"""WITH s AS (
  SELECT $armSql AS arm, CAST(count(*) AS HUGEINT) AS n,
    CAST(count(*) FILTER (WHERE $convSql) AS HUGEINT) AS c
  FROM $table WHERE ($armSql) IS NOT NULL AND ($convSql) IS NOT NULL
  GROUP BY 1),
ct AS (SELECT n AS nc, c AS cc FROM s WHERE arm = '$controlArm')
SELECT s.arm, CAST(s.n AS BIGINT) AS n, CAST(s.c AS BIGINT) AS conversions,
  CAST((s.c * 1000000) // s.n AS BIGINT) AS rate_micro,
  CAST((ct.cc * 1000000) // ct.nc AS BIGINT) AS ctrl_rate_micro,
  ${quotSql("s.c * ct.nc - ct.cc * s.n", "s.n * ct.nc", 1000000)} AS rate_diff_micro
FROM s CROSS JOIN ct WHERE s.arm <> '$controlArm'
ORDER BY s.arm""".stripMargin
}
