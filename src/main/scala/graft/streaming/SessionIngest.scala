package graft.streaming

import graft.sources.AtomicStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained sessionization — the gaps-and-islands
  * session builder ([[graft.llm.EventWindows.sessionized]]) kept live
  * under ingest: the ONLY state a session builder needs is each key's
  * OPEN session (start, last event, counters) — closed sessions are
  * immutable the moment the gap passes, so they append to a lake and
  * never return. Each batch sessionizes ITS OWN rows (one windowed
  * pass over batch data), merges its first session into the stored
  * open one when the gap bridges, emits everything now provably
  * closed, and stores the new tail — so N micro-batches emit
  * bit-for-bit the sessions of one batch pass over the concatenation
  * ([[AlarmIngest]]'s sealed-prefix protocol; `flush` closes the
  * remaining opens at end-of-stream, and the gate hash-matches the
  * one-shot oracle).
  *
  * Contract: batches arrive in event-time order per key (an event at
  * or before the stored last event raises in-plan riding the output —
  * sessionizing out of order splits sessions wrongly); values are
  * integral (the hash-exact convention; sum published as BIGINT);
  * same at-least-once / checkpoint posture as the rest of the ingest
  * family. Timestamps are epoch MICROS end-to-end; session_end is
  * last event + gap (the session_window convention).
  *
  * Scale: per batch one window pass over BATCH rows + a store-sized
  * merge; the store holds ONE open-session row per key.
  */
object SessionIngest {

  def start(stream: DataFrame, storeDir: String, lakeDir: String,
            keyCol: String, tsCol: String, valueCol: String,
            gapMicros: Long, checkpointDir: String): StreamingQuery =
    stream.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, storeDir, lakeDir, keyCol, tsCol, valueCol,
          gapMicros)
      }
      .start()

  private def openSchema(like: DataFrame, keyCol: String): DataFrame =
    like.select(col(keyCol)).limit(0)
      .select(col(keyCol), lit(null).cast("long").as("open_start"),
        lit(null).cast("long").as("open_last"),
        lit(null).cast("long").as("open_n"),
        lit(null).cast("long").as("open_sum"))

  /** One fold step over a ts-ordered chunk. */
  def ingestBatch(batch: DataFrame, storeDir: String, lakeDir: String,
                  keyCol: String, tsCol: String, valueCol: String,
                  gapMicros: Long): Unit = {
    require(gapMicros > 0, s"gapMicros must be positive, got $gapMicros")
    graft.Guards.requireIntegral(batch, valueCol, "sessionIngest")
    val spark = batch.sparkSession
    val rows = batch
      .where(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol),
        unix_micros(col(tsCol).cast("timestamp")).as("__t"),
        col(valueCol).cast("long").as("__v"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__t"))
    val sess = rows
      .withColumn("__new",
        when(lag(col("__t"), 1).over(w).isNull ||
          col("__t") - lag(col("__t"), 1).over(w) >= gapMicros, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(w))
      .groupBy(col(keyCol), col("__sid"))
      .agg(min(col("__t")).as("s"), max(col("__t")).as("l"),
        count(lit(1)).as("n"), sum(col("__v")).as("v"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__sid"), col("s"),
        col("l"), col("n"), col("v")))).as("__arr"))
    val prev: DataFrame =
      AtomicStore.current(spark, storeDir).getOrElse(openSchema(rows, keyCol))
    val prevR = prev.select(col(keyCol).as("__g"), col("open_start"),
      col("open_last"), col("open_n"), col("open_sum"))
    val j = sess.join(prevR, col(keyCol) <=> col("__g"), "left")
    val first = element_at(col("__arr"), 1)
    val hasState = col("open_last").isNotNull
    // order guard value: the batch's earliest event per key
    val orderOk = !hasState || first.getField("s") > col("open_last")
    val bridges = hasState &&
      first.getField("s") < col("open_last") + gapMicros
    val mergedFirst = struct(lit(0L).as("__sid"),
      when(bridges, col("open_start")).otherwise(first.getField("s")).as("s"),
      first.getField("l").as("l"),
      (first.getField("n") +
        when(bridges, col("open_n")).otherwise(lit(0L))).as("n"),
      (first.getField("v") +
        when(bridges, col("open_sum")).otherwise(lit(0L))).as("v"))
    // a stored open that does NOT bridge is provably closed now
    val closedState = struct(lit(-1L).as("__sid"),
      col("open_start").as("s"), col("open_last").as("l"),
      col("open_n").as("n"), col("open_sum").as("v"))
    val emptySess = array().cast(
      "array<struct<__sid:bigint,s:bigint,l:bigint,n:bigint,v:bigint>>")
    val all = concat(
      when(hasState && !bridges, array(closedState)).otherwise(emptySess),
      array(mergedFirst),
      slice(col("__arr"), lit(2), greatest(size(col("__arr")) - 1, lit(0))))
    // lazy checkpoint: one pinned snapshot for the two consumers (closed-
    // session append + new-opens store swap); materialization rides the
    // append job instead of a blocking extra job per micro-batch
    val withAll = j.withColumn("__ok", orderOk).withColumn("__all", all)
      .localCheckpoint(false)
    def guarded(out: Column) =
      when(!col("__ok"), raise_error(concat(
        lit("SessionIngest: batch event at or before the stored open "),
        lit("session's last event for key '"), col(keyCol).cast("string"),
        lit("' — batches must arrive in event-time order per key")))
        .cast("long")).otherwise(out)
    val closedGuarded = withAll
      .select(col(keyCol), col("__ok"),
        explode(slice(col("__all"), lit(1), size(col("__all")) - 1)).as("__e"))
      .select(col(keyCol), guarded(col("__e.s")).as("session_start"),
        guarded(col("__e.l") + gapMicros).as("session_end"),
        guarded(col("__e.n")).as("n_events"),
        guarded(col("__e.v")).as("sum_v"))
    closedGuarded.write.mode("append").parquet(lakeDir)
    val newOpens = withAll.select(col(keyCol), col("__ok"),
        element_at(col("__all"), -1).as("__o"))
      .select(col(keyCol), guarded(col("__o.s")).as("open_start"),
        guarded(col("__o.l")).as("open_last"),
        guarded(col("__o.n")).as("open_n"),
        guarded(col("__o.v")).as("open_sum"))
    val carried = prev.join(
        sess.select(col(keyCol).as("__nk")),
        col(keyCol) <=> col("__nk"), "left_anti")
      .select(col(keyCol), col("open_start"), col("open_last"),
        col("open_n"), col("open_sum"))
    val newStore = newOpens.unionByName(carried)
    AtomicStore.publish(spark, storeDir, newStore, coalesceTo = 1)
  }

  /** End-of-stream flush: every stored open session closes at
    * last + gap and appends to the lake; the store empties.
    */
  def flush(spark: SparkSession, storeDir: String, lakeDir: String,
            keyCol: String, gapMicros: Long): Unit = {
    AtomicStore.current(spark, storeDir).foreach { opens =>
      opens.select(col(keyCol), col("open_start").as("session_start"),
          (col("open_last") + gapMicros).as("session_end"),
          col("open_n").as("n_events"), col("open_sum").as("sum_v"))
        .write.mode("append").parquet(lakeDir)
      AtomicStore.publish(spark, storeDir, openSchema(opens, keyCol), coalesceTo = 1)
    }
  }

  /** One-shot DuckDB oracle: classic gaps-and-islands with integer
    * micros; `eventsSql` yields (k, t_us, v).
    */
  def oracleSql(eventsSql: String, keyName: String, gapMicros: Long): String =
    s"""WITH marked AS (
  SELECT k, t_us, v,
    CASE WHEN lag(t_us) OVER (PARTITION BY k ORDER BY t_us) IS NULL
           OR t_us - lag(t_us) OVER (PARTITION BY k ORDER BY t_us)
             >= $gapMicros
         THEN 1 ELSE 0 END AS new_s
  FROM ($eventsSql) WHERE t_us IS NOT NULL AND v IS NOT NULL),
numbered AS (SELECT *, sum(new_s) OVER (PARTITION BY k ORDER BY t_us
    ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
SELECT k AS $keyName, min(t_us) AS session_start,
  max(t_us) + $gapMicros AS session_end,
  CAST(count(*) AS BIGINT) AS n_events, CAST(sum(v) AS BIGINT) AS sum_v
FROM numbered GROUP BY k, sid ORDER BY k, session_start"""
}
