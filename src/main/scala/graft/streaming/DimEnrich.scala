package graft.streaming

import graft.operators.Scd2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming fact enrichment against a maintained SCD2 dimension: each
  * micro-batch of facts is temporally joined ([[Scd2.asOfDimension]] —
  * hash equi-join on the key, interval containment as residual) to the
  * dimension store AS OF THE BATCH'S FOLD TIME, and the enriched rows
  * append to an output lake (the streaming composition of the batch
  * operator that defines the semantics, same pattern as [[DedupIngest]] /
  * [[LakeIngest]] / [[MetricsIngest]]).
  *
  * Reading the store per batch (not once at query start) is the point:
  * Spark's native stream-static join snapshots a static DataFrame's plan,
  * but a dimension maintained by concurrent [[Scd2.update]] folds swaps
  * the store directory between batches — `foreachBatch` + [[Scd2.read]]
  * (replaying a committed fold) picks up each fold, so a fact arriving after its
  * key's dimension change joins the NEW version while late facts still
  * land on the historical interval their timestamp selects. That
  * interval semantics — not "latest value wins" — is what makes the
  * enrichment replay-stable under event-time skew.
  *
  * Delivery: `foreachBatch` is at-least-once; an append replay would
  * duplicate enriched rows, so `checkpointDir` is REQUIRED (restart
  * resumes from recorded offsets; the residual window is the single
  * sink-succeeded/checkpoint-lost batch). Downstream exactness, where
  * needed, routes through keyed dedup (L44) on (fact id) — enrichment is
  * deterministic given the store state, so replayed rows are exact
  * duplicates.
  *
  * Scale: per batch ONE hash join sized by (batch × touched dimension
  * keys); the dimension's per-key version lists are one row per real
  * change by SCD2 construction, so the join fan-out is bounded.
  */
object DimEnrich {

  def start(facts: DataFrame, dimStoreDir: String, keyCol: String, tsCol: String,
            outDir: String, checkpointDir: String): StreamingQuery = {
    require(checkpointDir.nonEmpty,
      "DimEnrich requires a durable checkpoint: an append replay duplicates rows")
    facts.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        enrichBatch(batch, dimStoreDir, keyCol, tsCol, outDir)
      }
      .start()
  }

  /** One enrichment step — also the batch-land step, so N micro-batches
    * through [[start]] equal enriching the batches by hand (spec-pinned).
    */
  def enrichBatch(batch: DataFrame, dimStoreDir: String, keyCol: String,
                  tsCol: String, outDir: String): Unit = {
    val dim = Scd2.read(batch.sparkSession, dimStoreDir)
    Scd2.asOfDimension(batch, dim, keyCol, tsCol)
      .write.mode("append").parquet(outDir)
  }
}
