package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col

/** Copy-on-write MERGE (upsert by key) into a hive-partitioned parquet lake
  * — the Delta/Hudi CoW primitive on plain files: rewrite ONLY the
  * partitions the batch touches, leave every other partition's files in
  * place.
  *
  * Touched = partitions the batch lands in ∪ partitions holding OLD
  * versions of batch keys. The second set is what makes partition-MOVING
  * updates correct: when a row's partition value changes, its old partition
  * must be rewritten to drop the stale copy — a merge that only rewrites
  * the batch's own partitions leaves a duplicate behind (the classic CoW
  * bug; spec-pinned).
  *
  * Scale shape: the rewrite cost is proportional to the touched partitions'
  * data, not the lake — `kept` is a null-SAFE semi-join on the partition
  * key (null-safe so the `__HIVE_DEFAULT_PARTITION__` rows survive; the
  * touched side stays a broadcastable few-row frame) then an anti-join on
  * the batch keys (batch side small by contract, broadcastable). Nothing
  * about the lake's untouched partitions is read back, rewritten, or
  * shuffled beyond that scan.
  *
  * Crash safety (same stash discipline as
  * [[graft.streaming.DedupIngest.compactStore]]): the merged result is
  * staged to a sibling `<lake>__merge_tmp` dir first; only a COMPLETE stage
  * is then applied to the lake by RENAMING each staged partition directory
  * over its lake counterpart (delete old dir, rename staged dir in — the
  * same whole-directory replacement dynamic partition overwrite performs,
  * minus re-reading and re-writing every staged byte: apply is O(touched
  * partitions) metadata ops, not a second write of the batch). Stage
  * completeness is marked by our own `_graft_commit` file — written AFTER
  * both the staged parquet and the emptied-partitions marker, so a stage
  * can never be replayed with its evacuation list missing (parquet's own
  * `_SUCCESS` lands before the marker and must not define "complete"). A
  * crash anywhere before the commit marker leaves the lake untouched (the
  * uncommitted stage is cleared as debris on the next merge); a crash
  * after it leaves a committed stage behind, and the next [[merge]] (or an
  * explicit [[recover]]) REPLAYS the apply — the rename loop iterates the
  * directories still IN the stage (an already-moved one is gone from it,
  * and its lake copy stays), so replay always converges to the committed
  * merge.
  *
  * Reference anchor: the lake-side analog of the reference's SQL
  * `SaveStrategy::Upsert` (fabrix-sql executor) — same upsert semantics,
  * expressed as partition-scoped file rewrite instead of row DML.
  */
object LakeMerge {

  /** Upsert `batch` into the partitioned lake at `lakeDir` by `keyCols`.
    * Batch rows replace lake rows with equal keys; new keys append. The
    * batch must carry the lake's full schema (including `partitionCols`).
    * Bootstraps the lake (plain partitioned write) when it doesn't exist.
    */
  def merge(spark: SparkSession, lakeDir: String, batch: DataFrame,
            keyCols: Seq[String], partitionCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(partitionCols.nonEmpty, "merge targets a partitioned lake")
    require(keyCols.intersect(partitionCols).isEmpty,
      s"key columns $keyCols must be disjoint from partition columns $partitionCols")
    val lake = new Path(lakeDir)
    val fs = lake.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = stagePath(lake)

    // a complete stage from a crashed apply phase must land before anything
    // reads the lake — the lake may hold a half-applied mix
    replayIfStaged(spark, lake)

    if (!hasData(spark, fs, lake)) {
      fs.delete(stage, true)
      batch.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(lakeDir)
      return
    }
    fs.delete(stage, true) // incomplete debris from a crashed staging run

    val base = spark.read.parquet(lakeDir)
    val cols = base.columns.toSeq
    // the batch plan feeds several jobs below (touched-set collect, staged
    // write) — cache it so an expensive batch source evaluates once
    val aligned = batch.select(cols.map(col): _*).persist()
    try {
      val keys = aligned.select(keyCols.map(col): _*).distinct()
      // old homes of updated keys ∪ new homes: the full touched set —
      // COLLECTED once (≤ partition count by the hive-layout contract):
      // the few rows drive the kept-side semi join as a local relation,
      // the evacuation diff as a driver-side set difference against the
      // staged directory listing, and the empty-batch early-out, so the
      // whole merge schedules exactly TWO jobs (touched scan + staged
      // write) instead of isEmpty + stage + except + overwrite
      val (touched, touchedPaths) = collectTouched(spark, base, partitionCols,
        base.join(keys, keyCols, "left_semi")
          .select(partitionCols.map(col): _*)
          .union(aligned.select(partitionCols.map(col): _*)))
      if (touchedPaths.isEmpty) return // an empty batch touches nothing
      // null-SAFE partition match: a null partition value is in-contract
      // (__HIVE_DEFAULT_PARTITION__), and a null-unsafe equi-join would
      // silently drop the default partition's kept rows from the stage
      val touchedT = touched.toDF(partitionCols.map("__t_" + _): _*)
      val kept = base.join(touchedT,
          partitionCols.map(c => col(c) <=> col("__t_" + c)).reduce(_ && _),
          "left_semi")
        .join(keys, keyCols, "left_anti")
      val merged = kept.unionByName(aligned)

      // stage the touched partitions' new contents, then apply. REBALANCE
      // by the partition key before the write: without it every write task
      // leaves a file in every partition it touches, and because apply now
      // RENAMES staged dirs (no longer re-reads and re-writes them, which
      // incidentally re-compacted), fragmentation would compound across
      // merges and tax every later base scan. The AQE rebalance clusters
      // rows by partition value, splits oversized groups, and coalesces
      // small ones to advisory size — right-sized files at any scale for
      // ONE exchange of the touched partitions' bytes, strictly cheaper
      // than the full second write the old apply paid.
      merged.hint("rebalance", partitionCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage.toString)
      // partitions evacuated by partition-moving updates have no rows in
      // the stage, so apply won't rename anything over them — record them
      // in the stage so apply (and any replay) deletes their stale dirs.
      // The diff is driver-side: touched paths minus the stage's actual
      // directory names (the same hive encoding both ways)
      writeEmptied(fs, stage, touchedPaths, stagedPartitionDirs(fs, stage).toSet)
      // the commit point: only now is the stage complete enough to replay
      fs.create(new Path(stage, CommitMarker), true).close()
      applyStage(spark, fs, lake)
    } finally aligned.unpersist()
  }

  /** Copy-on-write DELETE by key — the right-to-be-forgotten / retention
    * primitive on the same machinery as [[merge]]: every lake row whose
    * `keyCols` tuple appears in `keys` is removed, rewriting ONLY the
    * partitions that held such rows. A partition deleted down to zero
    * rows is evacuated through the same emptied-partitions marker (its
    * directory is dropped, not left as an empty husk), and the stage /
    * commit-marker / replay discipline is identical — a crash leaves the
    * lake either untouched or convergent on replay, never missing a
    * partition it should have kept.
    *
    * Scale shape: the touched set is a semi-join of the lake on the
    * (small, broadcastable) key frame projected to partition values;
    * only touched partitions' rows are read back and anti-joined. A
    * deletion key that matches nothing touches nothing.
    */
  def delete(spark: SparkSession, lakeDir: String, keys0: DataFrame,
             keyCols: Seq[String], partitionCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "delete needs at least one key column")
    require(partitionCols.nonEmpty, "delete targets a partitioned lake")
    val lake = new Path(lakeDir)
    val fs = lake.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = stagePath(lake)
    replayIfStaged(spark, lake)
    if (!hasData(spark, fs, lake)) return // nothing to delete from
    fs.delete(stage, true)
    val base = spark.read.parquet(lakeDir)
    val keys = keys0.select(keyCols.map(col): _*).distinct().persist()
    try {
      // collected once, like merge: drives the kept-side semi join as a
      // local relation, the empty early-out, and the driver-side
      // evacuation diff (a delete can empty EVERY touched partition — the
      // stage then has no data dirs and all touched paths land emptied)
      val (touched, touchedPaths) = collectTouched(spark, base, partitionCols,
        base.join(keys, keyCols, "left_semi").select(partitionCols.map(col): _*))
      if (touchedPaths.isEmpty) return
      val touchedT = touched.toDF(partitionCols.map("__t_" + _): _*)
      val kept = base.join(touchedT,
          partitionCols.map(c => col(c) <=> col("__t_" + c)).reduce(_ && _),
          "left_semi")
        .join(keys, keyCols, "left_anti")
      kept.hint("rebalance", partitionCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage.toString)
      writeEmptied(fs, stage, touchedPaths, stagedPartitionDirs(fs, stage).toSet)
      fs.create(new Path(stage, CommitMarker), true).close()
      applyStage(spark, fs, lake)
    } finally keys.unpersist()
  }

  /** Replay a crashed merge's apply phase, if a complete stage exists. Safe
    * (and a no-op) any other time.
    */
  def recover(spark: SparkSession, lakeDir: String): Unit =
    replayIfStaged(spark, new Path(lakeDir))

  // ----------------------------------------------------------- internals --

  private[sources] def stagePath(lake: Path): Path =
    new Path(lake.getParent, lake.getName + "__merge_tmp")

  /** Rename each staged partition directory over its lake counterpart —
    * the whole-directory replacement dynamic partition overwrite performs,
    * without re-reading and re-writing the staged bytes (apply is
    * O(touched partitions) metadata ops, not a second write of the batch)
    * — then drop partition dirs the stage marked emptied, then clear the
    * stage. Only called with a committed (`_graft_commit`-marked) stage;
    * idempotent: a replay iterates the directories still IN the stage (an
    * already-moved one is gone from it, and its lake copy stays), and a
    * crash between a per-directory delete and its rename just re-runs
    * that pair.
    *
    * Filesystem contract: a directory rename is atomic — a staged
    * partition is either still wholly in the stage or wholly in the lake,
    * as on HDFS and local filesystems; replay relies on it. On object
    * stores (S3A, GCS, ABFS without hierarchical namespace) rename
    * degrades to copy-then-delete. That costs a copy of every staged byte
    * instead of O(1) metadata per partition, and it is not atomic: a crash
    * during the copy is replayed correctly (the partial lake dir is
    * deleted and the full staged dir copied again), but a crash partway
    * through deleting the staged source leaves a partial staged dir that
    * replay would copy over the complete lake one. Such a lake needs a
    * filesystem or committer with atomic directory rename.
    */
  private[sources] def applyStage(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                                  lake: Path): Unit = {
    val stage = stagePath(lake)
    val staged = stagedPartitionDirs(fs, stage)
    // an unpartitioned stage (data files at the root, no hive dirs) cannot
    // be applied per-partition — refuse rather than drop the batch. A
    // stage with NO data dirs at all (a delete that evacuated every
    // touched partition) is legal: only emptied dirs to drop.
    require(staged.nonEmpty || !hasData(spark, fs, stage),
      s"stage $stage has data files but no hive partition layout")
    staged.foreach { rel =>
      val dest = new Path(lake, rel)
      fs.delete(dest, true)
      val parent = dest.getParent
      if (!fs.exists(parent)) fs.mkdirs(parent)
      if (!fs.rename(new Path(stage, rel), dest))
        throw new java.io.IOException(s"apply: cannot move staged $rel into $lake")
    }
    readEmptied(fs, stage).foreach { rel => fs.delete(new Path(lake, rel), true) }
    fs.delete(stage, true)
  }

  /** The stage's leaf partition directories as relative hive paths
    * (`a=v/b=w`), discovered from the directory layout: walk `name=value`
    * directories down; a hive dir with no hive subdirs is a leaf only if it
    * holds data files. An apply that renamed every leaf under `a=1` away
    * leaves `a=1` behind empty — replaying it as a leaf would delete the
    * lake's `a=1`, data just applied included, and rename nothing over it.
    */
  private[sources] def stagedPartitionDirs(fs: org.apache.hadoop.fs.FileSystem,
                                           stage: Path): Seq[String] = {
    if (!fs.exists(stage)) return Nil
    def walk(p: Path, rel: List[String]): Seq[String] = {
      val (dirs, files) = fs.listStatus(p).partition(_.isDirectory)
      val subs = dirs.filter(_.getPath.getName.contains("="))
      if (subs.nonEmpty) subs.toSeq.flatMap(st => walk(st.getPath, st.getPath.getName :: rel))
      else if (rel.nonEmpty && files.exists(st => visible(st.getPath.getName)))
        Seq(rel.reverse.mkString("/"))
      else Nil
    }
    walk(stage, Nil)
  }

  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private val EmptiedMarker = "_graft_emptied_partitions"
  private[sources] val CommitMarker = "_graft_commit"

  /** Collect the distinct touched partition values (one job) as a local
    * relation typed like `base`, with the hive path of each partition as
    * Spark's writer names it. The writer formats a value with its cast to
    * string under the session time zone — for a timestamp that is not the
    * value's `toString` — so the same cast rides the collect.
    */
  private def collectTouched(spark: SparkSession, base: DataFrame, partitionCols: Seq[String],
                             touched: DataFrame): (DataFrame, Seq[String]) = {
    val n = partitionCols.size
    val rows = touched.distinct()
      .select(partitionCols.map(col) ++ partitionCols.map(c => col(c).cast("string")): _*)
      .collect().toSeq
    val typed = rows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.take(n)))
    val local = spark.createDataFrame(java.util.Arrays.asList(typed: _*),
      org.apache.spark.sql.types.StructType(partitionCols.map(c => base.schema(c))))
    val paths = rows.map(r => partitionCols.zipWithIndex.map { case (c, i) =>
      ExternalCatalogUtils.getPartitionPathString(c, r.getString(n + i))
    }.mkString("/"))
    (local, paths)
  }

  /** Record evacuated partitions as relative dir paths, one per line, in a
    * marker file INSIDE the stage — written before apply starts, so a
    * replayed apply deletes them too. Evacuated = touched partitions the
    * stage did not reproduce as a directory: touched paths carry the
    * writer's hive encoding ([[collectTouched]]), so the diff is a
    * driver-side string set difference (no Spark job).
    */
  private[sources] def writeEmptied(fs: org.apache.hadoop.fs.FileSystem, stage: Path,
                                    touchedPaths: Seq[String], stagedDirs: Set[String]): Unit =
    writeEmptiedLines(fs, stage, touchedPaths.filterNot(stagedDirs.contains))

  /** Raw-relative-path form of the emptied marker — for callers that know
    * the exact directory names to evacuate (e.g. compaction's
    * non-canonical alias dirs), bypassing value re-encoding.
    */
  private[sources] def writeEmptiedLines(fs: org.apache.hadoop.fs.FileSystem,
                                         stage: Path, lines: Seq[String]): Unit = {
    val out = fs.create(new Path(stage, EmptiedMarker), true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private def readEmptied(fs: org.apache.hadoop.fs.FileSystem, stage: Path): Seq[String] = {
    val p = new Path(stage, EmptiedMarker)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** A stage with the `_graft_commit` marker is a committed merge whose
    * apply may not have finished — replay it. A stage without one is debris
    * from a crash mid-staging (even if the staged parquet's own `_SUCCESS`
    * landed, the evacuation list may be missing): the lake was never
    * touched, so just drop it.
    */
  private[sources] def replayIfStaged(spark: SparkSession, lake: Path): Unit = {
    val fs = lake.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = stagePath(lake)
    if (!fs.exists(stage)) return
    if (fs.exists(new Path(stage, CommitMarker))) applyStage(spark, fs, lake)
    else fs.delete(stage, true)
  }

  /** Data-file presence check (debris-only dirs count as absent), same
    * contract as the ingest stores'.
    */
  private[sources] def hasData(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                               dir: Path): Boolean =
    fs.exists(dir) && {
      def any(p: Path): Boolean = fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        visible(n) && (!st.isDirectory || any(st.getPath))
      }
      any(dir)
    }
}
