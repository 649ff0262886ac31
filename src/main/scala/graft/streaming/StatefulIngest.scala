package graft.streaming

import graft.sources.AtomicStore
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** [[StatefulOps]] driver-faced — per-key lifetime counters maintained
  * across ordered batch chunks through the SAME `mapGroupsWithState`
  * transition the streaming query runs, seeded per chunk with the stored
  * state via the initial-state overload. N chunk folds emit bit-for-bit
  * the state of ONE batch aggregate over the concatenation (the
  * [[AlarmIngest]] replay device applied to custom keyed state): counts
  * and exact micro-sums are commutative Long algebra, so the composition
  * is exact regardless of how events split into chunks.
  *
  * State is O(live keys) — one fixed-width row per key, no history —
  * swapped through [[AtomicStore]]. Delivery posture matches the other
  * ingest folds: at-least-once replay of a chunk double-counts, so run
  * under a checkpointed source (or idempotent chunk cuts, as the gate
  * does).
  */
object StatefulIngest {

  import StatefulOps.AggState

  /** Store row: lifetime event count + exact value sum in micros. */
  final case class LifetimeRow(key: Long, n_events: Long, sum_micros: Long)

  /** One fold step: chunk events through the keyed-state transition with
    * the store as initial state; the emitted per-key snapshots (plus the
    * untouched store rows) become the new store. NULL key/value rows
    * drop — they carry no lifetime identity.
    */
  def ingestBatch(batch: DataFrame, storeDir: String,
                  keyCol: String, valueCol: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val typed = batch
      .where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
    val prior: Dataset[LifetimeRow] = AtomicStore.current(spark, storeDir)
      .map(_.as[LifetimeRow]).getOrElse(spark.emptyDataset[LifetimeRow])
    val init = prior.groupByKey(_.key)
      .mapValues(r => AggState(r.n_events, r.sum_micros))
    val out: Dataset[LifetimeRow] =
      typed.mapGroupsWithState[AggState, LifetimeRow](
        GroupStateTimeout.NoTimeout, init) {
        (key: Long, rows: Iterator[(Long, Double)], state: GroupState[AggState]) =>
          var s = state.getOption.getOrElse(AggState(0L, 0L))
          rows.foreach { case (_, v) => s = StatefulOps.step(s, v) }
          state.update(s)
          LifetimeRow(key, s.n, s.sumMicros)
      }
    // Batch execution MAY invoke the function for initial-state-only keys
    // (empty row iterator, state passes through unchanged) — don't rely
    // on either contract: union back any store row whose key the output
    // lacks, so the store stays total under both behaviors.
    val untouched = prior
      .join(out.select(col("key").as("__k")).distinct(),
        col("key") === col("__k"), "left_anti")
      .select(col("key"), col("n_events"), col("sum_micros"))
    val newStore = out.toDF().unionByName(untouched)
    AtomicStore.publish(spark, storeDir, newStore, coalesceTo = 1)
  }

  /** Current lifetime snapshot — the gate readout. */
  def snapshot(spark: org.apache.spark.sql.SparkSession,
               storeDir: String): DataFrame =
    AtomicStore.read(spark, storeDir)

  /** One-shot DuckDB replay: the batch aggregate over the whole event
    * set with the identical per-event quantization.
    */
  def oracleSql(table: String, keyCol: String, valueCol: String): String =
    s"""SELECT $keyCol AS key, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(floor($valueCol * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micros
FROM $table WHERE $keyCol IS NOT NULL AND $valueCol IS NOT NULL
GROUP BY 1 ORDER BY 1"""
}
