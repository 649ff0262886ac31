package graft.streaming

import graft.sources.LakeMerge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-merging lake ingest: a CDC-shaped stream of keyed upserts
  * folded into a hive-partitioned parquet lake, one
  * [[graft.sources.LakeMerge.merge]] per micro-batch behind a
  * `foreachBatch` sink — the streaming composition of the batch operator
  * that already defines the semantics (same pattern as [[DedupIngest]]).
  *
  * Each micro-batch is first collapsed to ONE row per key — highest
  * `precedenceCol` wins, ties broken by the greatest remaining row (a
  * struct-max aggregate, so the winner is total and deterministic) — then
  * merged. Without the collapse, two updates to one key in one batch would
  * both land and leave duplicate keys in the lake.
  *
  * Delivery: `foreachBatch` is at-least-once, but merge REPLAY IS
  * IDEMPOTENT — upserting the same collapsed batch twice converges to the
  * same lake — so the pipeline is effectively exactly-once for
  * deterministic batches, stronger than the Append sinks' duplicate-on-
  * replay contract. A crash inside a merge is covered by the
  * [[graft.sources.AtomicStore]] protocol: every merge first replays a
  * committed stage and deletes an uncommitted one.
  *
  * Scale: per micro-batch cost is the touched partitions' rewrite, not the
  * lake (see LakeMerge); the collapse is one partial-aggregated shuffle of
  * the batch only. Partition the lake on the stream's locality key (date
  * for append-mostly feeds) so steady-state batches touch few partitions.
  */
object LakeIngest {

  def start(stream: DataFrame, lakeDir: String, keyCols: Seq[String],
            partitionCols: Seq[String], precedenceCol: String): StreamingQuery =
    stream.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, lakeDir, keyCols, partitionCols, precedenceCol)
      }
      .start()

  /** One ingest step — also the batch-land fold step, so N micro-batches
    * through [[start]] land exactly the state of folding batches through
    * this by hand (LakeIngestSpec pins the equivalence).
    */
  def ingestBatch(batch: DataFrame, lakeDir: String, keyCols: Seq[String],
                  partitionCols: Seq[String], precedenceCol: String): Unit = {
    val spark = batch.sparkSession
    LakeMerge.merge(spark, lakeDir, collapse(batch, keyCols, precedenceCol),
      keyCols, partitionCols)
  }

  /** One row per key: max (precedence, remaining columns) struct — the
    * last-writer-wins rule with a deterministic total tiebreak.
    */
  def collapse(batch: DataFrame, keyCols: Seq[String], precedenceCol: String): DataFrame = {
    val rest = batch.columns.filterNot(keyCols.contains).toSeq
    require(rest.contains(precedenceCol),
      s"precedence column $precedenceCol must be a non-key column of the batch")
    val ordered = precedenceCol +: rest.filterNot(_ == precedenceCol)
    batch.groupBy(keyCols.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__w"))
      .select(keyCols.map(col) ++ rest.map(c => col(s"__w.$c").as(c)): _*)
  }
}
