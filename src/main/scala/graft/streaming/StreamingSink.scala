package graft.streaming

import graft.sources.{ParquetStore, SaveStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Stream → table-store sink via `foreachBatch`, running the reference's
  * chunked-ingest save-strategy state machine (xl_db.rs:217-239: first chunk
  * creates under the declared strategy, later chunks append/upsert) against
  * a continuous source instead of Excel chunks.
  *
  * Delivery: foreachBatch is at-least-once — on recovery the last batch may
  * re-run. `Upsert` is idempotent under replay (same ids overwrite);
  * `Replace→Append` can duplicate the replayed batch, the same contract as
  * the reference's chunked Append (and the JDBC appendInto note). Use
  * Upsert when the stream carries a key.
  */
object StreamingSink {

  /** Start writing `stream` into `store.table` under `strategy`.
    * Replace/FailIfExists apply to the FIRST batch only (table creation);
    * every later batch appends — or re-upserts when `strategy` is Upsert.
    *
    * FailIfExists is checked ONCE, here at start time: inside foreachBatch
    * it would also fire on an at-least-once REPLAY of batch 0 (create
    * succeeded, offset commit didn't), wedging the stream unrecoverably on
    * every restart. So the existence check is driver-side and the batch-0
    * write itself runs as Replace — a replayed create is the create's retry.
    */
  def toStore(stream: DataFrame, store: ParquetStore, table: String,
              strategy: SaveStrategy): StreamingQuery = {
    if (strategy == SaveStrategy.FailIfExists && store.exists(table))
      throw new IllegalStateException(s"table $table already exists")
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val effective =
          if (batchId > 0) strategy.laterChunk
          else if (strategy == SaveStrategy.FailIfExists) SaveStrategy.Replace
          else strategy
        store.write(batch, table, effective)
      }
      .start()
  }
}
