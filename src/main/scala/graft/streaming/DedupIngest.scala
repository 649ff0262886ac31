package graft.streaming

import graft.llm.Dedup
import graft.sources.AtomicStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously near-dup-deduplicating ingest: the streaming composition of
  * the batch pieces that already define the semantics —
  * [[graft.llm.Dedup.dedupMinhashIncremental]] (reject batch rows that
  * near-duplicate accepted history) + [[graft.llm.Dedup.bandStore]] (persist
  * accepted docs' band keys and shingle sets so history is NEVER re-banded)
  * — behind a `foreachBatch` sink like [[StreamingSink]].
  *
  * Per micro-batch: (1) drop rows whose id is already in the band store
  * (replay guard), (2) reject near-dups of the store via the banded
  * equi-join (`storeBanded = true` — the store frame is read back as
  * parquet band entries, O(bucket collisions) per batch, history never
  * re-shingled), (3) append survivors to the corpus sink and their band
  * entries to the store. In-batch near-dups are NOT collapsed, matching the
  * batch operator's contract (cluster with [[graft.llm.DedupClusters]] when
  * needed).
  *
  * Delivery: `foreachBatch` is at-least-once. The exact-id guard makes a
  * replayed batch a no-op once its band entries landed; a crash BETWEEN the
  * corpus append and the store append can duplicate that one batch's corpus
  * rows on replay (corpus is written first — at-least-once duplicates,
  * never loses). Same contract as [[StreamingSink]]'s Append.
  */
object DedupIngest {

  def start(stream: DataFrame, corpusDir: String, bandStoreDir: String,
            textCol: String = "text", idCol: String = "doc_id",
            shingleN: Int = 3,
            bands: Int = Dedup.DefaultBands,
            rowsPerBand: Int = Dedup.DefaultRowsPerBand,
            minJaccard: Double = 0.5): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, corpusDir, bandStoreDir, textCol, idCol,
          shingleN, bands, rowsPerBand, minJaccard)
      }
      .start()

  /** One ingest step — also the batch-land fold step, so N micro-batches
    * through [[start]] land exactly the state of folding files through this
    * by hand (DedupIngestSpec pins that equivalence against the raw batch
    * operators).
    */
  def ingestBatch(batch: DataFrame, corpusDir: String, bandStoreDir: String,
                  textCol: String, idCol: String,
                  shingleN: Int, bands: Int, rowsPerBand: Int,
                  minJaccard: Double): Unit = {
    val spark = batch.sparkSession
    // the batch is shingled+minhashed exactly ONCE: this band frame serves
    // both the vs-store candidate join and the store append for survivors
    def banded(df: DataFrame) =
      Dedup.bandStore(df, textCol, idCol, shingleN, bands, rowsPerBand)
    val (accepted, acceptedBands) = AtomicStore.current(spark, bandStoreDir) match {
      case None => (batch.localCheckpoint(true), banded(batch))
      case Some(store) =>
        // exact-id replay guard first: a re-delivered batch whose band
        // entries already landed is dropped here, so replay is a no-op (the
        // near-dup join alone would re-ACCEPT replayed rows — a row's match
        // against itself is excluded by id)
        val unseen = batch.join(store.select(col(idCol)), Seq(idCol), "left_anti")
        val pb = banded(unseen)
        val dupIds = Dedup.minhashPairsAgainstStore(pb, store, textCol, idCol,
            shingleN, bands, rowsPerBand, minJaccard,
            storeBanded = true, batchBanded = true)
          .select(col("batch_id").as(idCol)).distinct().localCheckpoint(true)
        // eager materialization: survivors feed TWO writes, which must see
        // the same rows exactly once
        (unseen.join(dupIds, Seq(idCol), "left_anti").localCheckpoint(true),
          pb.join(dupIds, Seq(idCol), "left_anti"))
    }
    accepted.write.mode("append").parquet(corpusDir)
    acceptedBands.write.mode("append").parquet(bandStoreDir)
  }

  /** Compact an ingest store: every micro-batch appends its own parquet
    * files, so a long-running ingest accumulates thousands of small files —
    * the classic small-files problem (per-file open cost starts to dominate
    * the vs-store read at 100× batch counts). Rewrites the store to
    * `targetPartitions` files and swaps it in (write to a sibling temp
    * dir, rename old → trash, temp → store, delete trash). A crash between
    * the two renames leaves the store briefly missing with the only copy
    * at the trash path — the NEXT compactStore call detects that and
    * restores it before anything else runs, so no state is ever lost; run
    * compaction (or at least a compactStore call, which recovers and
    * early-returns) before trusting an ingest that may have raced a crash.
    * Run between batches (the ingest reads the store at batch start, so
    * compaction concurrent with a RUNNING batch races the swap — pause the
    * stream or schedule compaction on the foreachBatch thread).
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                   targetPartitions: Int): Unit = {
    require(targetPartitions > 0, "targetPartitions must be positive")
    // recovery: a crash between the swap renames leaves the store missing
    // and the only copy in the stash — reading the current store restores
    // it, so neither this call nor an ingest step (which reads the same
    // way) can bootstrap a fresh store while history sits in the stash.
    // coalesce, not repartition: merging small files needs no exchange —
    // a narrow merge of input splits per output file (size balance across
    // the target files is not a goal here)
    AtomicStore.current(spark, storeDir).foreach(store =>
      AtomicStore.publish(spark, storeDir, store, coalesceTo = targetPartitions))
  }

  /** EXACT-dedup ingest: the same foreachBatch composition over the
    * fingerprint store ([[graft.llm.Dedup.dedupIncremental]] /
    * [[graft.llm.Dedup.dedupIncrementalBloom]]) — per micro-batch, drop
    * rows whose content fingerprint is already in the store (which also
    * makes replay a natural no-op: a replayed row's fingerprint landed with
    * its first delivery), collapse in-batch duplicates to the lowest id,
    * append survivors to the corpus and their fingerprints to the store.
    * `expectedStoreItems > 0` routes through the bloom prefilter — the
    * steady-state shape where nearly the whole batch bypasses the store
    * join's shuffle.
    */
  def startExact(stream: DataFrame, corpusDir: String, fpStoreDir: String,
                 textCol: String = "text", idCol: String = "doc_id",
                 expectedStoreItems: Long = 0L): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatchExact(batch, corpusDir, fpStoreDir, textCol, idCol, expectedStoreItems)
      }
      .start()

  /** One exact-dedup ingest step (see [[startExact]]). */
  def ingestBatchExact(batch: DataFrame, corpusDir: String, fpStoreDir: String,
                       textCol: String, idCol: String,
                       expectedStoreItems: Long): Unit = {
    import graft.text.TextFunctions.fingerprint
    val spark = batch.sparkSession
    val fresh = AtomicStore.current(spark, fpStoreDir) match {
      case None => Dedup.dedupExact(batch, textCol, idCol)
      case Some(store) =>
        if (expectedStoreItems > 0)
          Dedup.dedupIncrementalBloom(batch, store, textCol, idCol, expectedStoreItems)
        else Dedup.dedupIncremental(batch, store, textCol, idCol)
    }
    // lazy: the corpus append materializes the snapshot, the fingerprint
    // append reads the pinned blocks — one job fewer per batch
    val accepted = fresh.localCheckpoint(false)
    accepted.write.mode("append").parquet(corpusDir)
    accepted.select(fingerprint(col(textCol)).as("fp"))
      .write.mode("append").parquet(fpStoreDir)
  }
}
