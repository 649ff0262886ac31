package graft.streaming

import graft.sources.AtomicStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** Continuously-maintained CUSUM alarms — [[graft.operators.Cusum]] kept
  * live under streaming ingest: the monitor's whole state is (running
  * sum P, running min M) per side per group, and BOTH fold exactly
  * across batches (P' = P + Σbatch; M' = min(M, P + min batch prefix)),
  * so N micro-batches emit bit-for-bit the alarms of one batch pass over
  * the concatenated series — the [[MetricsIngest]] pattern with window
  * state instead of algebraic aggregates, and the streaming member of
  * the L273 family.
  *
  * Contract: batches must arrive in index order per group — every batch
  * index must EXCEED the stored high-water `last_idx` (a CUSUM folded
  * out of order is a different statistic; the violation raises inside
  * the plan, riding the output column). Same at-least-once /
  * checkpoint-required delivery posture as [[MetricsIngest]] (a fold
  * replay double-counts); alarms append to a lake dir, tail state swaps
  * through [[AtomicStore]].
  *
  * Scale: per batch one group-partitioned window pass over BATCH rows +
  * a store-sized merge; alarm history accumulates in the lake, the
  * store stays one row per (group).
  */
object AlarmIngest {

  def start(stream: DataFrame, storeDir: String, alarmDir: String,
            groupCol: String, idxCol: String, valueCol: String,
            k: Long, h: Long, checkpointDir: String): StreamingQuery =
    stream.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, storeDir, alarmDir, groupCol, idxCol, valueCol,
          k, h)
      }
      .start()

  /** One fold step — N calls over ordered chunks ≡ one
    * [[graft.operators.Cusum.twoSided]] pass over the concatenation
    * (spec-pinned; the gate hash-matches the one-shot oracle).
    */
  def ingestBatch(batch: DataFrame, storeDir: String, alarmDir: String,
                  groupCol: String, idxCol: String, valueCol: String,
                  k: Long, h: Long): Unit = {
    require(h > 0, s"threshold h must be > 0, got $h")
    val spark = batch.sparkSession
    val rows = batch
      .where(col(idxCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol), col(idxCol).cast(LongType).as("idx"),
        col(valueCol).cast(LongType).as("__x"))
    val run = Window.partitionBy(col(groupCol))
      .orderBy(col("idx").asc, col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // lazy checkpoint: still pins one snapshot for the two consumers
    // (alarm write + tail fold), but materialization rides the alarm
    // write's own job instead of a blocking extra job per micro-batch
    val pre = rows
      .withColumn("__bp", sum(col("__x") - lit(k)).over(run))
      .withColumn("__bq", sum(lit(k) - col("__x")).over(run))
      .localCheckpoint(false)
    val prev = AtomicStore.current(spark, storeDir).getOrElse(
      pre.select(col(groupCol)).limit(0)
        .select(col(groupCol), lit(0L).as("cum_p"), lit(0L).as("min_p"),
          lit(0L).as("cum_q"), lit(0L).as("min_q"),
          lit(Long.MinValue).as("last_idx")))
    val prevR = prev.select(col(groupCol).as("__g"), col("cum_p"),
      col("min_p"), col("cum_q"), col("min_q"), col("last_idx"))
    val joined = pre.join(prevR, col(groupCol) <=> col("__g"), "left")
      .select(col(groupCol), col("idx"), col("__x"), col("__bp"),
        col("__bq"),
        coalesce(col("cum_p"), lit(0L)).as("__cp"),
        coalesce(col("min_p"), lit(0L)).as("__mp"),
        coalesce(col("cum_q"), lit(0L)).as("__cq"),
        coalesce(col("min_q"), lit(0L)).as("__mq"),
        coalesce(col("last_idx"), lit(Long.MinValue)).as("__li"))
    // the order guard rides INSIDE s_pos (a dropped guard column is
    // optimizer-pruned dead code)
    val guardedP = when(col("idx") <= col("__li"),
      raise_error(concat(lit("AlarmIngest: batch idx "),
        col("idx").cast("string"), lit(" at or below the stored "),
        lit("high-water "), col("__li").cast("string"),
        lit(" — batches must arrive in index order per group"))))
      .otherwise(col("__cp") + col("__bp"))
    val out = joined
      .withColumn("__gp", guardedP)
      .withColumn("s_pos",
        col("__gp") - least(col("__mp"), min(col("__cp") + col("__bp")).over(run)))
      .withColumn("s_neg",
        (col("__cq") + col("__bq")) -
          least(col("__mq"), min(col("__cq") + col("__bq")).over(run)))
      .select(col(groupCol), col("idx"), col("s_pos"), col("s_neg"),
        (col("s_pos") >= h).as("alarm_up"), (col("s_neg") >= h).as("alarm_dn"))
    out.write.mode("append").parquet(alarmDir)
    // __cp/__mp/__cq/__mq are constant per group (min = the value);
    // the batch totals fold the state exactly
    val newTail = joined.groupBy(col(groupCol)).agg(
      (min(col("__cp")) + sum(col("__x") - lit(k))).as("cum_p"),
      least(min(col("__mp")),
        min(col("__cp")) + min(col("__bp"))).as("min_p"),
      (min(col("__cq")) + sum(lit(k) - col("__x"))).as("cum_q"),
      least(min(col("__mq")),
        min(col("__cq")) + min(col("__bq"))).as("min_q"),
      max(col("idx")).as("last_idx"))
    // null-safe anti-join: a NULL group is a real stratum (an equality
    // anti-join would keep its stale state row forever, duplicating it
    // into every later fold)
    val untouched = prev.join(
      rows.select(col(groupCol).as("__bg")).distinct(),
      col(groupCol) <=> col("__bg"), "left_anti")
    val newStore = untouched.unionByName(newTail)
    AtomicStore.publish(spark, storeDir, newStore, coalesceTo = 1)
  }
}
