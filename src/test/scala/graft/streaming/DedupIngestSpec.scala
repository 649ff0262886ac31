package graft.streaming

import graft.SparkSpec
import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The streaming near-dup ingest lands exactly the state of folding the
  * same files through the batch operators (dedupMinhashIncremental +
  * bandStore) by hand — the L63/L64 oracles define the per-step semantics;
  * this pins the composition.
  */
class DedupIngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Stage each split as one parquet file with strictly increasing mtimes,
    * so `maxFilesPerTrigger = 1` replays them as micro-batches in split
    * order (FileStreamSource orders by modification time).
    */
  private def stage(dir: String, splits: Seq[DataFrame]): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    splits.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$dir/_stage_$i"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/batch_$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 600000L))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  private def wipe(dirs: String*): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  test("N micro-batches equal the batch incremental fold over the same files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val splits = (0 until 3).map(i => docs.where(pmod(col("doc_id"), lit(3)) === i))
    val src = "/tmp/graft_dedup_ingest_src"
    stage(src, splits)

    val (sCorpus, sStore) = ("/tmp/graft_di_stream_corpus", "/tmp/graft_di_stream_store")
    wipe(sCorpus, sStore)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = DedupIngest.start(stream, sCorpus, sStore)
    try q.processAllAvailable() finally q.stop()

    // hand-fold the BATCH operators over the same splits in the same order
    var corpusIds = Set.empty[Long]
    var store: Option[DataFrame] = None
    splits.foreach { b =>
      val accepted = store match {
        case None => b
        case Some(s) =>
          Dedup.dedupMinhashIncremental(
            b.join(s.select("doc_id"), Seq("doc_id"), "left_anti"), s,
            "text", "doc_id", storeBanded = true)
      }
      val acc = accepted.localCheckpoint(true)
      corpusIds ++= acc.select("doc_id").collect().map(_.getLong(0))
      val banded = Dedup.bandStore(acc, "text", "doc_id")
      store = Some(store.map(_.unionByName(banded)).getOrElse(banded).localCheckpoint(true))
    }

    val streamed = spark.read.parquet(sCorpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === corpusIds)
    assert(streamed.size < docs.count(), "ingest rejected nothing — vacuous")
    // the band store holds exactly the accepted docs' band entries
    val storeIds = spark.read.parquet(sStore).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(storeIds === corpusIds)

    // replaying an already-ingested batch is a no-op (at-least-once guard)
    DedupIngest.ingestBatch(splits.head, sCorpus, sStore,
      "text", "doc_id", 3, Dedup.DefaultBands, Dedup.DefaultRowsPerBand, 0.5)
    assert(spark.read.parquet(sCorpus).count() === streamed.size.toLong)
  }

  test("exact ingest: micro-batches equal the incremental fold; bloom path identical; replay no-op") {
    import graft.text.TextFunctions.fingerprint
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // the corpus has near-dups but no byte-identical text — inject exact
    // duplicates of batch-0 content into later batches (fresh ids), the
    // case this ingest exists to reject
    val base = (0 until 3).map(i => docs.where(pmod(col("doc_id"), lit(3)) === i))
    val replayedContent = (i: Int) => base.head.orderBy("doc_id").limit(5)
      .select((col("doc_id") + lit(1000000 * i)).as("doc_id"), col("text"))
    val splits = base.head +: base.tail.zipWithIndex.map {
      case (b, i) => b.unionByName(replayedContent(i + 1))
    }
    val src = "/tmp/graft_dedup_ingest_exact_src"
    stage(src, splits)

    val (sCorpus, sStore) = ("/tmp/graft_die_corpus", "/tmp/graft_die_store")
    wipe(sCorpus)
    graft.sources.AtomicStore.drop(spark, sStore)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = DedupIngest.startExact(stream, sCorpus, sStore)
    try q.processAllAvailable() finally q.stop()

    // fold the batch operators by hand over the same splits in order
    var corpusIds = Set.empty[Long]
    var store: Option[org.apache.spark.sql.DataFrame] = None
    splits.foreach { b =>
      val accepted = (store match {
        case None => Dedup.dedupExact(b, "text", "doc_id")
        case Some(s) => Dedup.dedupIncremental(b, s, "text", "doc_id")
      }).localCheckpoint(true)
      corpusIds ++= accepted.select("doc_id").collect().map(_.getLong(0))
      val fps = accepted.select(fingerprint(col("text")).as("fp"))
      store = Some(store.map(_.unionByName(fps)).getOrElse(fps).localCheckpoint(true))
    }
    val streamed = spark.read.parquet(sCorpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === corpusIds)
    assert(streamed.size.toLong < splits.map(_.count()).sum, "nothing deduped — vacuous")

    // bloom-routed ingest over the same files lands the identical corpus
    val (bCorpus, bStore) = ("/tmp/graft_die_bcorpus", "/tmp/graft_die_bstore")
    wipe(bCorpus, bStore)
    splits.foreach(b => DedupIngest.ingestBatchExact(
      b, bCorpus, bStore, "text", "doc_id", expectedStoreItems = 4096))
    assert(spark.read.parquet(bCorpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet === streamed)

    // replay is a no-op: the replayed rows' fingerprints are in the store
    DedupIngest.ingestBatchExact(splits.head, sCorpus, sStore, "text", "doc_id", 0L)
    assert(spark.read.parquet(sCorpus).count() === streamed.size.toLong)

    // compaction: same content, fewer files, ingest keeps working after
    def fpSet() = spark.read.parquet(sStore).select("fp")
      .collect().map(_.getLong(0)).toSet
    def partFiles() = new java.io.File(sStore).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = fpSet()
    assert(partFiles() > 1, "append stream produced a single file — compaction vacuous")
    DedupIngest.compactStore(spark, sStore, targetPartitions = 1)
    assert(fpSet() === before)
    assert(partFiles() === 1)
    DedupIngest.ingestBatchExact(splits.head, sCorpus, sStore, "text", "doc_id", 0L)
    assert(spark.read.parquet(sCorpus).count() === streamed.size.toLong)

    // a compaction crashed after its commit, between the store's delete and
    // the rename of the compacted files over it: the next INGEST step must
    // replay it — not bootstrap a fresh store — so the replayed batch still
    // dedups against pre-crash history
    def siblings() = new java.io.File(sStore).getParentFile.list()
      .filter(_.startsWith(new java.io.File(sStore).getName + "__")).toSeq
    graft.sources.Crash.at(2)(DedupIngest.compactStore(spark, sStore, targetPartitions = 1))
    assert(!new java.io.File(sStore).exists() && siblings().nonEmpty)
    DedupIngest.ingestBatchExact(splits.head, sCorpus, sStore, "text", "doc_id", 0L)
    assert(siblings().isEmpty, "ingest must replay the commit before reading the store")
    assert(fpSet() === before, "replayed history must be intact")
    assert(spark.read.parquet(sCorpus).count() === streamed.size.toLong,
      "replayed batch must still no-op against the replayed history")
    // a compactStore call recovers the same way
    graft.sources.Crash.at(2)(DedupIngest.compactStore(spark, sStore, targetPartitions = 1))
    DedupIngest.compactStore(spark, sStore, targetPartitions = 1)
    assert(fpSet() === before, "compact recovery must replay the committed compaction")
    assert(partFiles() === 1)
    assert(siblings().isEmpty)
  }
}
