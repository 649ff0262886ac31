package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-time windowed aggregation over the `events` table — the batch form
  * of the windowing the streaming path uses (same `window()` expression, so
  * batch and stream share semantics; see [[graft.streaming.StreamingWindows]]).
  *
  * Determinism at scale: the value sum is computed in Decimal(18,6) and cast
  * back to double, so the result is bit-identical regardless of partitioning
  * or aggregation order (double accumulation is order-dependent; a
  * 1000-executor run must not change the answer).
  */
object EventWindows {

  /** Tumbling-window count + sum per (window, event_type). */
  def tumbling(events: DataFrame, tsCol: String = "ts", duration: String = "1 hour",
               typeCol: String = "event_type", valueCol: String = "value"): DataFrame =
    events
      .groupBy(window(col(tsCol), duration).as("w"), col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("w_start"), col(typeCol), col("n_events"), col("sum_value"))

  /** DuckDB oracle: time_bucket's 1-hour buckets are epoch-aligned exactly
    * like Spark's `window()` tumbling windows.
    */
  def tumblingOracle(table: String, tsCol: String = "ts",
                     typeCol: String = "event_type", valueCol: String = "value"): String =
    s"SELECT time_bucket(INTERVAL 1 HOUR, $tsCol) AS w_start, $typeCol, " +
      s"count(*) AS n_events, CAST(sum(CAST($valueCol AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
      s"FROM $table GROUP BY 1, 2 ORDER BY 1, 2"

  /** Hopping (sliding) windows: count + sum per (window, event_type) where
    * windows of `size` start at every multiple of `slide` (epoch-aligned,
    * like Spark's `window()` contract) — each event lands in size/slide
    * overlapping windows. The smoothing form of [[tumbling]]: hourly-slid
    * 2-hour buckets give trend curves without bucket-boundary cliffs.
    *
    * Scale shape: the overlap factor is a scan-stage Expand (size/slide
    * rows per event — a constant, chosen small), then the identical ONE
    * partial-agg'd shuffle as tumbling; no self-join, no window function.
    * Exactness: decimal accumulation, integer window arithmetic.
    */
  def hopping(events: DataFrame, tsCol: String = "ts", size: String = "2 hours",
              slide: String = "1 hour", typeCol: String = "event_type",
              valueCol: String = "value"): DataFrame =
    events
      .groupBy(window(col(tsCol), size, slide).as("w"), col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("w_start"), col(typeCol), col("n_events"), col("sum_value"))

  /** DuckDB replay of [[hopping]] for size = k × slide: each event's k
    * covering window starts are its slide-bucket minus 0..k−1 slides —
    * a constant-factor unnest, then the same grouped aggregate.
    */
  def hoppingOracle(table: String, tsCol: String = "ts", slideSql: String = "INTERVAL 1 HOUR",
                    hops: Int = 2, typeCol: String = "event_type",
                    valueCol: String = "value"): String =
    s"""WITH h AS (SELECT unnest(range($hops)) AS k),
e AS (SELECT time_bucket($slideSql, $tsCol) - k * $slideSql AS w_start, $typeCol, $valueCol
  FROM $table CROSS JOIN h)
SELECT w_start, $typeCol, count(*) AS n_events,
  CAST(sum(CAST($valueCol AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user sessionization with Spark's built-in `session_window` (gap
    * windows, batch mode — the same expression works unchanged under
    * `readStream`, which is why it beats a hand-rolled gaps-and-islands
    * window here). Session = maximal run of events where each consecutive
    * gap is < `gap`; window start = first ts, end = last ts + gap.
    *
    * Scale: one hash shuffle on the session key (user), in-partition
    * merge — the same exchange profile as any keyed aggregation; no
    * all-pairs, no second shuffle (`user_id` partitioning satisfies the
    * (user_id, window) clustering).
    */
  def sessionized(events: DataFrame, gap: String = "2 hours", keyCol: String = "user_id",
                  tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    events
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** DuckDB oracle for [[sessionized]]: classic gaps-and-islands — a new
    * session starts when the gap to the previous event is >= the threshold
    * (mirrors session_window's "merge while ts < previous end" rule);
    * session_end = max(ts) + gap.
    */
  def sessionizedOracle(table: String, gapSql: String = "INTERVAL 2 HOUR",
                        keyCol: String = "user_id", tsCol: String = "ts",
                        valueCol: String = "value"): String =
    s"""WITH marked AS (
       |  SELECT $keyCol, $tsCol, $valueCol,
       |    CASE WHEN lag($tsCol) OVER (PARTITION BY $keyCol ORDER BY $tsCol) IS NULL
       |           OR $tsCol - lag($tsCol) OVER (PARTITION BY $keyCol ORDER BY $tsCol) >= $gapSql
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM $table),
       |numbered AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY $keyCol ORDER BY $tsCol ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked)
       |SELECT $keyCol, min($tsCol) AS session_start, max($tsCol) + $gapSql AS session_end,
       |  count(*) AS n_events,
       |  CAST(sum(CAST($valueCol AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM numbered GROUP BY $keyCol, sid
       |ORDER BY $keyCol, session_start""".stripMargin

  /** Split-and-stitch sessionization — [[sessionized]]'s answer to the
    * whale-KEY wall-clock posture: plain session_window hashes on the user
    * alone, so one bot/SDK-misfire user with 10⁹ events serializes its
    * whole history onto ONE task (memory-safe — the merge spills — but a
    * single-task straggler). Here events first sessionize within
    * (key, coarse time bucket) — the shuffle key carries the bucket, so a
    * whale user's year of traffic fans out across buckets/tasks — and the
    * resulting PARTIAL sessions (one interval row each, data ~sessions not
    * ~events) are then stitched per key: a partial session merges into its
    * predecessor exactly when its first event falls before the running
    * `max(end)` (end = last ts + gap — the same rule session_window
    * applies per event), a classic interval union over the running-max
    * window. Output ≡ [[sessionized]] row-for-row: within-bucket sessions
    * were separated by ≥ gap (never merge), boundary sessions merge iff
    * the boundary gap < gap, and decimal value sums re-aggregate exactly.
    *
    * Pick `bucket` ≫ gap (default 1 day vs 2 h) so few sessions straddle
    * boundaries; the stitch window sorts per-key SESSION COUNTS, not
    * events — the whale key costs its session count in one task, which is
    * the irreducible output size. Rows with a NULL ts are dropped (they
    * have no bucket and no session — document the contract rather than
    * emit a null-windowed row).
    */
  def sessionizedSplit(events: DataFrame, gap: String = "2 hours",
                       keyCol: String = "user_id", tsCol: String = "ts",
                       valueCol: String = "value",
                       bucket: String = "1 day"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val biv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(bucket))
    require(biv != null && biv.months == 0,
      s"split bucket must be a fixed-length interval (no months): '$bucket'")
    val bucketMicros = biv.days * 86400000000L + biv.microseconds
    require(bucketMicros > 0, s"split bucket must be positive: '$bucket'")
    val partial = events
      .where(col(tsCol).isNotNull)
      .withColumn("__bkt",
        expr(s"unix_micros(CAST(`$tsCol` AS TIMESTAMP)) div ${bucketMicros}L"))
      .groupBy(col(keyCol), col("__bkt"), session_window(col(tsCol), gap).as("w"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col(valueCol).cast(DecimalType(18, 6))).as("__sv"))
      .select(col(keyCol), col("w.start").as("__s"), col("w.end").as("__e"),
        col("__n"), col("__sv"))
    val prevMax = Window.partitionBy(col(keyCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy(col(keyCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    partial
      .withColumn("__pmax", max(col("__e")).over(prevMax))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") >= col("__pmax"), 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(upTo))
      .groupBy(col(keyCol), col("__sid"))
      .agg(
        min(col("__s")).as("session_start"), max(col("__e")).as("session_end"),
        sum(col("__n")).as("n_events"),
        sum(col("__sv")).cast(DoubleType).as("sum_value"))
      .select(col(keyCol), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** Per-user session statistics — the engagement summary sessionization
    * exists to feed: session count, bounce count/rate (single-event
    * sessions), total events, and total ENGAGED time (first→last event
    * per session — the `gap` padding session_window adds to `end` is
    * subtracted back out; the micros are PARSED from `gap` itself, so
    * the two can never drift). Rides [[sessionized]] (same exchange
    * profile) plus one user-keyed partial-agg'd rollup of the
    * session-sized frame; bounce rate is the exact quantized ratio.
    */
  def sessionStats(events: DataFrame, gap: String = "2 hours",
                   keyCol: String = "user_id",
                   tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv != null && iv.months == 0,
      s"session gap must be a fixed-length interval (no months): '$gap'")
    val gapMicros = iv.days * 86400000000L + iv.microseconds
    require(gapMicros > 0, s"session gap must be positive: '$gap'")
    sessionized(events, gap, keyCol, tsCol, valueCol)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("n_events")).as("total_events"),
        sum(unix_micros(col("session_end").cast("timestamp"))
          - unix_micros(col("session_start").cast("timestamp"))
          - gapMicros).as("engaged_us"))
      .withColumn("bounce_scaled",
        expr("(n_bounces * 1000000) div n_sessions"))
  }

  /** DuckDB replay of [[sessionStats]] over the shared gaps-and-islands
    * session CTE.
    */
  def sessionStatsOracle(table: String, gapSql: String = "INTERVAL 2 HOUR",
                         gapMicros: Long = 7200000000L, keyCol: String = "user_id",
                         tsCol: String = "ts", valueCol: String = "value"): String =
    s"""WITH s AS (${sessionizedOracle(table, gapSql, keyCol, tsCol, valueCol)})
SELECT $keyCol, CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
  CAST(sum(n_events) AS BIGINT) AS total_events,
  CAST(sum(epoch_us(session_end) - epoch_us(session_start) - $gapMicros) AS BIGINT)
    AS engaged_us,
  CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
    AS bounce_scaled
FROM s GROUP BY $keyCol ORDER BY $keyCol""".stripMargin

  /** Per-user action sequences for behavioral sequence modeling: the first
    * `maxEvents` event types per user in strict (ts, event id) order —
    * tie-broken total order, so the assembled string is engine- and
    * partitioning-independent — joined into one training-ready token
    * string. One shuffle (the user groupBy); ordering happens inside the
    * bounded aggregation buffer, not a window sort over the raw stream.
    *
    * Bounded-state contract: the cut happens INSIDE the aggregate
    * ([[graft.functions.FirstK]], the payload variant of the bounded-buffer
    * family) — each (user, partition) buffer holds ≤ `maxEvents` (ts, id,
    * type) entries and map-side partial aggregation ships ≤ `maxEvents`
    * entries per user per partition into the exchange. A whale user (bot,
    * SDK misfire) with 10⁸ events costs one comparison per event locally
    * and bounded memory everywhere, where a `collect_list` + `slice`
    * formulation would buffer the whole history in one task.
    *
    * Non-null contract: rows with a NULL ts or event id are unrankable and
    * dropped before aggregation (same contract as
    * [[graft.functions.TopK.perGroup]]); the oracle encodes the same filter.
    */
  def actionSequences(events: DataFrame, maxEvents: Int,
                      userCol: String = "user_id", tsCol: String = "ts",
                      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame = {
    // filter on the CAST values, not the raw columns: a non-castable ts or
    // id is just as unrankable as a NULL one (and the aggregate's Long
    // fields cannot hold the null a failed cast produces)
    val t = unix_micros(col(tsCol).cast("timestamp"))
    val i = col(idCol).cast("long")
    events.where(t.isNotNull && i.isNotNull)
      .groupBy(col(userCol))
      .agg(graft.functions.FirstK(maxEvents)(t, i, col(typeCol)).as("__seq"))
      .select(col(userCol),
        size(col("__seq")).cast("long").as("n_events"),
        concat_ws(" ", transform(col("__seq"), s => s.getField("_3"))).as("sequence"))
  }

  /** Oracle for [[actionSequences]] — the window-rank formulation. The IS
    * NOT NULL filter encodes the drop-unrankable-rows contract.
    */
  def actionSequencesOracle(table: String, maxEvents: Int,
                            userCol: String = "user_id", tsCol: String = "ts",
                            typeCol: String = "event_type", idCol: String = "event_id"): String =
    s"""WITH e AS (SELECT $userCol, $typeCol,
  row_number() OVER (PARTITION BY $userCol ORDER BY $tsCol, $idCol) AS rn FROM $table
  WHERE $tsCol IS NOT NULL AND $idCol IS NOT NULL)
SELECT $userCol, CAST(count(*) AS BIGINT) AS n_events,
  string_agg($typeCol, ' ' ORDER BY rn) AS sequence
FROM e WHERE rn <= $maxEvents GROUP BY $userCol ORDER BY $userCol""".stripMargin

  /** Event-type transition matrix — counts of consecutive (from → to)
    * event types per user stream, in strict (ts, event id) order: the
    * Markov-chain estimation step behind behavioral modeling, anomaly
    * scoring (improbable transitions), and session simulation. Pure
    * integer counts — bit-identical on any engine.
    *
    * Scale shape: with `maxEvents > 0` (the default posture for behavioral
    * modeling, where a bounded per-user prefix is the estimand anyway),
    * the per-user stream rides the BOUNDED [[graft.functions.FirstK]]
    * aggregate — ≤maxEvents (ts, id, type) triples per (user, partition)
    * map-side, so a whale user costs each task a k-bounded insert, never a
    * single-task sort of its whole stream — and consecutive pairs are
    * scan-stage array surgery over the per-user prefix. With
    * `maxEvents = 0` (unbounded, the exact full-stream matrix) the lead
    * window is used: hash by user, spill-backed per-user sort — the same
    * intrinsic cost and whale caveat as [[sessionized]].
    */
  def eventTransitions(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts", typeCol: String = "event_type",
                       idCol: String = "event_id", maxEvents: Int = 0): DataFrame = {
    require(maxEvents >= 0, s"maxEvents must be >= 0 (0 = unbounded), got $maxEvents")
    if (maxEvents == 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
      events
        .where(col(tsCol).isNotNull && col(idCol).isNotNull)
        .select(col(typeCol).as("from_type"),
          lead(col(typeCol), 1).over(w).as("to_type"))
        .where(col("to_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
    } else {
      // same rankability contract as actionSequences: a ts/id that cannot
      // cast is as unrankable as a NULL one
      val t = unix_micros(col(tsCol).cast("timestamp"))
      val i = col(idCol).cast("long")
      events.where(t.isNotNull && i.isNotNull)
        .groupBy(col(userCol))
        .agg(graft.functions.FirstK(maxEvents)(t, i, col(typeCol)).as("__seq"))
        // materialize the type array as an attribute BEFORE slicing: HOF
        // lambdas re-evaluate expression (non-attribute) inputs per element
        .select(transform(col("__seq"), s => s.getField("_3")).as("__types"))
        .select(
          slice(col("__types"), lit(1), size(col("__types")) - 1).as("from_arr"),
          slice(col("__types"), lit(2), size(col("__types")) - 1).as("to_arr"))
        .select(explode(arrays_zip(col("from_arr"), col("to_arr"))).as("__p"))
        .select(col("__p.from_arr").as("from_type"), col("__p.to_arr").as("to_type"))
        // same NULL contract as the unbounded path (and the oracle):
        // pairs ENDING in a NULL type drop, NULL from_type groups survive
        .where(col("to_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
    }
  }

  /** [[eventTransitions]] normalized to a quantized Markov row-stochastic
    * matrix: `p_scaled = ⌊SCALE·n/Σ_from⌋` per (from, to) — the estimated
    * next-event distribution behind anomaly scoring ("this transition has
    * probability 3e-5") and session simulation, integer-exact so it
    * hashes cross-engine. The per-from totals come from re-aggregating
    * the |types|²-bounded matrix (never a second corpus pass) and ride a
    * broadcast join back.
    */
  def transitionProbs(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts", typeCol: String = "event_type",
                      idCol: String = "event_id", maxEvents: Int = 0,
                      scale: Long = 1000000L): DataFrame = {
    val m = eventTransitions(events, userCol, tsCol, typeCol, idCol, maxEvents)
      .localCheckpoint(false)
    val totals = m.groupBy(col("from_type").as("__ft"))
      .agg(sum(col("n")).as("__tot"))
    m.join(broadcast(totals), col("from_type") <=> col("__ft"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr(s"(n * $scale) div __tot").as("p_scaled"))
  }

  /** DuckDB replay of [[transitionProbs]]. */
  def transitionProbsOracle(table: String, userCol: String = "user_id",
                            tsCol: String = "ts", typeCol: String = "event_type",
                            idCol: String = "event_id", maxEvents: Int = 0,
                            scale: Long = 1000000L): String =
    s"""WITH m AS (${eventTransitionsOracle(table, userCol, tsCol, typeCol, idCol, maxEvents)}),
t AS (SELECT from_type AS ft, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY 1)
SELECT m.from_type, m.to_type, m.n,
  CAST((m.n * $scale) // t.tot AS BIGINT) AS p_scaled
FROM m JOIN t ON m.from_type IS NOT DISTINCT FROM t.ft
ORDER BY m.from_type, m.to_type""".stripMargin

  /** DuckDB replay of [[eventTransitions]] — same total order, same null
    * contracts; `maxEvents > 0` replays the bounded-prefix rule as a
    * row_number cut before the lead.
    */
  def eventTransitionsOracle(table: String, userCol: String = "user_id",
                             tsCol: String = "ts", typeCol: String = "event_type",
                             idCol: String = "event_id", maxEvents: Int = 0): String =
    if (maxEvents == 0)
      s"""WITH o AS (SELECT $typeCol AS from_type,
  lead($typeCol) OVER (PARTITION BY $userCol ORDER BY $tsCol, $idCol) AS to_type
  FROM $table WHERE $tsCol IS NOT NULL AND $idCol IS NOT NULL)
SELECT from_type, to_type, count(*) AS n
FROM o WHERE to_type IS NOT NULL GROUP BY from_type, to_type"""
    else
      s"""WITH e AS (SELECT $userCol, $typeCol,
  row_number() OVER (PARTITION BY $userCol ORDER BY $tsCol, $idCol) AS rn
  FROM $table WHERE $tsCol IS NOT NULL AND $idCol IS NOT NULL),
o AS (SELECT $typeCol AS from_type,
  lead($typeCol) OVER (PARTITION BY $userCol ORDER BY rn) AS to_type
  FROM e WHERE rn <= $maxEvents)
SELECT from_type, to_type, count(*) AS n
FROM o WHERE to_type IS NOT NULL GROUP BY from_type, to_type"""

  /** Per-user inter-arrival statistics — the burstiness fingerprint that
    * separates humans from SDK metronomes and bot floods (a user whose
    * gap VARIANCE is tiny relative to the mean fires on a timer; one
    * whose minimum gap is microseconds is a replay): exact microsecond
    * gaps from a per-user lag over the (ts, event_id) total order, then
    * n/Σ/Σ²/min/max in DECIMAL(38,0) — the [[graft.operators.GroupedTrend]]
    * moment discipline, so `var_num = n·Σg² − (Σg)²` is an exact integer
    * and the whole fingerprint hashes cross-engine (derive CV² =
    * var_num/(Σg)² downstream).
    *
    * Scale: one user shuffle; the lag and the moments both ride it
    * (spill-backed per-user sort, running sums — whale users cost
    * wall-clock, never buffer growth).
    */
  def interArrivalStats(events: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val gap = (unix_micros(col(tsCol).cast("timestamp")) -
      unix_micros(lag(col(tsCol), 1).over(w).cast("timestamp"))).cast(dec)
    events
      .where(col(tsCol).isNotNull && col(idCol).isNotNull)
      .withColumn("__gap", gap)
      .where(col("__gap").isNotNull)
      .groupBy(col(userCol))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("__gap")).cast(dec).as("sum_gap_us"),
        sum((col("__gap") * col("__gap")).cast(dec)).cast(dec).as("__sumsq"),
        min(col("__gap")).cast("long").as("min_gap_us"),
        max(col("__gap")).cast("long").as("max_gap_us"))
      .withColumn("var_num",
        (col("n_gaps").cast(dec) * col("__sumsq") -
          col("sum_gap_us") * col("sum_gap_us")).cast(dec))
      .select(col(userCol), col("n_gaps"),
        // per-user Σgap = last−first ts ≤ the corpus span in µs — provably
        // long-range, so emit BIGINT (hashable by any engine)
        col("sum_gap_us").cast("long").as("sum_gap_us"),
        col("min_gap_us"), col("max_gap_us"), col("var_num"))
  }

  /** DuckDB replay of [[interArrivalStats]] — same lag order, same
    * HUGEINT moments. `var_num` is projected as its canonical decimal
    * string (gap² sums genuinely exceed 64-bit range, and 128-bit
    * integers hash differently across engines — the string is the
    * portable exact form; the gate casts the Spark side to match).
    */
  def interArrivalOracle(table: String, userCol: String = "user_id",
                         tsCol: String = "ts", idCol: String = "event_id"): String =
    s"""WITH g AS (SELECT $userCol,
       |    CAST(epoch_us($tsCol) - epoch_us(lag($tsCol) OVER
       |      (PARTITION BY $userCol ORDER BY $tsCol, $idCol)) AS HUGEINT) AS gap
       |  FROM $table WHERE $tsCol IS NOT NULL AND $idCol IS NOT NULL),
       |s AS (SELECT $userCol, CAST(count(*) AS BIGINT) AS n_gaps,
       |    sum(gap) AS sg, sum(gap * gap) AS sgg,
       |    CAST(min(gap) AS BIGINT) AS min_gap_us,
       |    CAST(max(gap) AS BIGINT) AS max_gap_us
       |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
       |SELECT $userCol, n_gaps,
       |  CAST(sg AS BIGINT) AS sum_gap_us, min_gap_us, max_gap_us,
       |  CAST(n_gaps * sgg - sg * sg AS VARCHAR) AS var_num
       |FROM s ORDER BY $userCol""".stripMargin
}
