package graft.streaming

import graft.operators.IncrementalAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained metrics: a stream folded into the
  * [[graft.operators.IncrementalAgg]] per-group aggregate store, one fold
  * per micro-batch behind a `foreachBatch` sink — the running
  * tokens-per-domain / rows-per-source dashboards a 100 TB ingest keeps
  * live without ever re-scanning history (the streaming composition of
  * the batch operator that defines the semantics, same pattern as
  * [[DedupIngest]] / [[LakeIngest]]).
  *
  * Delivery: `foreachBatch` is at-least-once, and a FOLD REPLAY IS NOT a
  * no-op (counts would double). `checkpointDir` is therefore REQUIRED —
  * a restart resumes from the recorded source offsets, so the only
  * replayable batch is the one whose fold succeeded but whose checkpoint
  * commit did not (without a durable checkpoint a restart would re-fold
  * the ENTIRE source into the surviving store). The store swap itself is
  * crash-safe (AtomicStore commit protocol: a killed fold leaves the old
  * store or the new one, never a mix). The residual one-batch
  * double-count window is acceptable for monitoring metrics (the
  * documented contract); where exactness across restarts is required,
  * land batches to the lake (L76) and derive metrics from it.
  *
  * Scale: per micro-batch cost = one partial aggregate of the batch (map-
  * side combine) + a store-sized merge; see IncrementalAgg for the
  * giant-group-space upgrade path.
  */
object MetricsIngest {

  def start(stream: DataFrame, storeDir: String, groupCols: Seq[String],
            specs: Seq[IncrementalAgg.AggSpec], checkpointDir: String): StreamingQuery =
    stream.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, storeDir, groupCols, specs)
      }
      .start()

  /** One ingest step — also the batch-land fold step, so N micro-batches
    * through [[start]] equal folding the batches by hand (spec-pinned).
    */
  def ingestBatch(batch: DataFrame, storeDir: String, groupCols: Seq[String],
                  specs: Seq[IncrementalAgg.AggSpec]): Unit =
    IncrementalAgg.update(batch.sparkSession, storeDir, batch, groupCols, specs)
}
