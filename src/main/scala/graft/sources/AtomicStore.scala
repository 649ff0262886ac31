package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe copy-on-write store on plain files — the one implementation
  * of the store protocol behind every fold store (the ingest folds,
  * DistinctStore, Scd2, IncrementalAgg, QuantileStore, TopKStore) and
  * [[ParquetStore]]. Callers see three entry points:
  *
  *  - read current: [[exists]] (no Spark job) and [[current]] / [[read]]
  *    restore a mid-swap stash first, then treat a missing or debris-only
  *    directory as no store;
  *  - publish next: [[publish]] restores, then bootstraps the store or
  *    swaps the new frame in;
  *  - [[drop]]: deletes the store with its tmp and stash siblings, so a
  *    stale stash cannot bring a dropped store back.
  *
  * Protocol: write the replacement to a sibling `__compact_tmp` dir, rename
  * the live store aside to `__compact_old` (the stash), rename tmp into
  * place, delete the stash. The only vulnerable instant is between the two
  * renames, when the live path is briefly absent and the ONLY copy sits in
  * the stash — every entry point restores the stash before it looks at
  * the store, so no code path can treat a mid-swap store as missing (and
  * bootstrap an empty one over live history).
  *
  * Scale note: renames are O(1) metadata ops on HDFS-like stores; on
  * object stores without atomic rename the same protocol holds with a
  * manifest-pointer swap instead (the [[LakeMerge]] commit-marker shape).
  */
object AtomicStore {

  /** The sibling paths of the protocol; public so specs can fabricate
    * crash states. */
  def tmpPath(p: Path): Path = new Path(p.getParent, p.getName + "__compact_tmp")
  def stashPath(p: Path): Path = new Path(p.getParent, p.getName + "__compact_old")

  /** Is there a store at `dir`? Submits no Spark job. A store that is
    * missing or debris-only while a stash exists was caught between the
    * swap's two renames, and the stash is the only copy: it is restored
    * here, before anything reads — or bootstraps over — the store.
    */
  def exists(spark: SparkSession, dir: String): Boolean = hasData(spark, dir) || {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    val stash = stashPath(p)
    fs.exists(stash) && {
      fs.delete(p, true) // debris-only dir, if any
      if (!fs.rename(stash, p))
        throw new java.io.IOException(s"swap recovery: cannot restore $stash to $p")
      hasData(spark, dir)
    }
  }

  /** The stored frame, or `None` when there is no store at `dir`. */
  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** The stored frame; fails when there is no store at `dir`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    current(spark, dir).getOrElse(throw new IllegalStateException(s"no store at $dir"))

  /** Make `next` the store at `dir`, crash-safely: bootstrap it when there
    * is no store, else swap it in. `next` MAY read from the store itself
    * (the tmp write materializes it before any rename). `coalesceTo > 0`
    * narrows the output to that many files (a no-shuffle merge — the
    * compaction use). `beforeSwap` runs after the staged tmp write but
    * before any rename — a validation hook (e.g. an observed metric
    * collected by the tmp write itself): if it throws, the staged tmp is
    * deleted and the store is left as it was, so a failed validation is
    * externally identical to never having called publish.
    */
  def publish(spark: SparkSession, dir: String, next: DataFrame, coalesceTo: Int = 0,
              beforeSwap: () => Unit = () => ()): Unit = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    val tmp = tmpPath(p)
    val stash = stashPath(p)
    val swap = exists(spark, dir)
    // tmp/stash dirs surviving here are debris from a COMPLETED or
    // abandoned run (a live stash was just restored) — clear before staging
    fs.delete(tmp, true); fs.delete(stash, true)
    val out = if (coalesceTo > 0) next.coalesce(coalesceTo) else next
    out.write.mode("overwrite").parquet(tmp.toString)
    try beforeSwap()
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (swap) {
      if (!fs.rename(p, stash)) throw new java.io.IOException(s"swap: cannot move $p aside")
      if (!fs.rename(tmp, p)) { // restore on failure so the store survives
        fs.rename(stash, p)
        throw new java.io.IOException(s"swap: cannot move $tmp into place")
      }
      fs.delete(stash, true)
    } else {
      // bootstrap: the live path never holds a partial write — a crash
      // here leaves only tmp debris, so an at-least-once replay
      // bootstraps cleanly instead of folding onto a partial remnant
      fs.delete(p, true) // debris-only dir, if any
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"bootstrap: cannot move $tmp to $p")
    }
  }

  /** Delete the store at `dir` together with its tmp and stash siblings. */
  def drop(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    Seq(p, tmpPath(p), stashPath(p)).foreach(fs.delete(_, true))
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Does the directory hold actual data files? A bare `exists` check
    * wedges after a crash mid-first-write: the dir exists (with only
    * `_temporary`/`_SUCCESS` debris) but `read.parquet` throws on every
    * subsequent use. Debris-only directories count as "no store".
    */
  private def hasData(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
