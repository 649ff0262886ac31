package graft.streaming

import graft.sources.AtomicStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuously-maintained distinct counts — [[graft.operators.HllDistinct]]
  * kept live under streaming ingest (the [[MetricsIngest]] pattern applied
  * to a SKETCH state): the store holds the per-(group, bucket) register
  * maxima, each batch's registers merge in by `max(m_j)`, and the HLL
  * closure property (max-merge of registers ≡ registers of the
  * concatenation) makes N batch folds emit bit-for-bit the one-shot
  * estimate over everything ingested so far — which is what the gate
  * hash-pins against the one-shot DuckDB replay.
  *
  * State is ≤1024 register rows per group FOREVER — the whole point of
  * sketching the stream: a 10¹² -event history and a 10³-event history
  * cost the same bytes. Unlike the algebraic folds ([[MetricsIngest]]),
  * replaying a batch is IDEMPOTENT here (max-merge absorbs duplicates),
  * so at-least-once delivery needs no checkpoint discipline — a rare
  * free lunch, worth naming.
  */
object HllIngest {

  /** One fold step: merge the batch's registers into the store. */
  def ingestBatch(batch: DataFrame, storeDir: String,
                  groupCols: Seq[String], valueCol: String): Unit = {
    val spark = batch.sparkSession
    val newRegs = graft.operators.HllDistinct.registers(batch, groupCols, valueCol)
    val store = AtomicStore.current(spark, storeDir).getOrElse(newRegs.limit(0))
    val merged = store.unionByName(newRegs)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("m_j")).as("m_j"))
    AtomicStore.publish(spark, storeDir, merged, coalesceTo = 1)
  }

  /** Current estimate from the store — the gate readout; identical to a
    * one-shot [[graft.operators.HllDistinct.estimate]] over every row
    * ingested so far.
    */
  def estimate(spark: SparkSession, storeDir: String,
               groupCols: Seq[String]): DataFrame = {
    graft.operators.HllDistinct.estimateFromRegisters(
      AtomicStore.read(spark, storeDir), groupCols)
  }
}
