package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one copy-on-write commit protocol on plain files: how a rewrite of
  * a store or of a hive-partitioned lake becomes visible, and how a crash
  * recovers. Every fold store (the ingest folds, DistinctStore, Scd2,
  * IncrementalAgg, QuantileStore, TopKStore), [[ParquetStore]],
  * [[LakeMerge]] and [[LakeCompact]] write through it.
  *
  *  1. stage: the new contents go to the sibling `<dir>__cow_stage`;
  *  1. commit: a marker `<dir>__cow_commit` records what apply will do —
  *     the staged leaves to rename and the partition dirs to drop. It is
  *     written inside the stage (never creating it) and renamed out, so it
  *     appears whole, and only once every planned leaf is staged;
  *  1. apply: each staged leaf replaces its target (delete the target,
  *     rename the leaf over it), the drops are deleted, then the stage and
  *     the marker. A whole-store rewrite is the single root leaf `""`;
  *  1. replay: every entry point first replays a committed stage. Only a
  *     write deletes an uncommitted stage (an abandoned write's, before it
  *     stages its own), so a read never removes a stage a live write is
  *     still filling.
  *
  * A crash before the commit leaves the target as it was; a crash after it
  * reads, once replayed, as the completed write. Replay is idempotent: a
  * leaf already renamed is gone from the stage and is skipped. Writes to
  * one dir are serialized by the caller; within one JVM the commit, the
  * apply and every replay of a dir hold one lock, so a read that replays
  * never interleaves its apply steps with a live write's.
  *
  * Filesystem contract: a directory rename is atomic, as on HDFS and local
  * filesystems. Where rename is copy-then-delete (S3A, GCS, ABFS without
  * hierarchical namespace) a crash partway through deleting a staged
  * source leaves a partial leaf that replay would rename over the complete
  * target; such a store needs a filesystem or committer with atomic rename.
  */
object AtomicStore {

  /** Is there a store at `dir`? Submits no Spark job. Replays a committed
    * stage first, so a store caught mid-apply never reads as missing; a
    * missing or debris-only directory is no store. An uncommitted stage is
    * left to the next write.
    */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = resolve(spark, dir)
    replay(fs, p)
    hasData(fs, p)
  }

  /** The stored frame, or `None` when there is no store at `dir`. */
  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** The stored frame; fails when there is no store at `dir`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    current(spark, dir).getOrElse(throw new IllegalStateException(s"no store at $dir"))

  /** Make `next` the whole store at `dir`. `next` MAY read from the store
    * itself (the stage write materializes it before apply). `coalesceTo > 0`
    * narrows the output to that many files (a no-shuffle merge — the
    * compaction use). `beforeSwap` runs after the stage write, before the
    * commit — a validation hook (e.g. an observed metric collected by the
    * stage write): if it throws, the stage is deleted and the store is
    * left as it was.
    */
  def publish(spark: SparkSession, dir: String, next: DataFrame, coalesceTo: Int = 0,
              beforeSwap: () => Unit = () => ()): Unit = {
    val out = if (coalesceTo > 0) next.coalesce(coalesceTo) else next
    rewrite(spark, dir) { stage =>
      out.write.mode("overwrite").parquet(stage.toString)
      beforeSwap()
      (Plan.Whole, ())
    }
  }

  /** Delete the store or lake at `dir` with its stage and commit marker,
    * so no leftover can replay into a later store at the same path. */
  def drop(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = resolve(spark, dir)
    locked(fs, p)(Seq(p, stagePath(p), markerPath(p)).foreach(fs.delete(_, true)))
  }

  // -------------------------------------------------- the protocol itself --

  /** What apply does: rename each staged leaf (a hive path relative to the
    * stage, `""` for the whole dir) over its target, then delete `drops`. */
  private[sources] final case class Plan(leaves: Seq[String], drops: Seq[String] = Nil)

  private[sources] object Plan {
    val Whole: Plan = Plan(Seq(""))
  }

  /** A leaf partition dir of a hive layout: its path relative to the root
    * (`a=v/b=w`, `""` for a flat dir), data-file count and data bytes. */
  private[sources] final case class Leaf(rel: String, files: Long, bytes: Long)

  /** Test seam: a write calls it at each protocol instant it reaches — 0
    * when the stage is written, 1 when it is committed, 1 + n after n apply
    * steps. A spec throws from it to leave the files as a crash there would.
    */
  private[graft] val instant = new scala.util.DynamicVariable[Int => Unit](_ => ())

  /** Replay, drop an abandoned stage, then stage with `write` (which
    * returns the plan and a result), commit, apply and return the result.
    * If `write` or the commit throws, the stage is deleted and `dir` is
    * untouched.
    */
  private[sources] def rewrite[A](spark: SparkSession, dir: String)(write: Path => (Plan, A)): A = {
    val (fs, p) = resolve(spark, dir)
    val stage = stagePath(p)
    locked(fs, p) { replay(fs, p); fs.delete(stage, true) }
    val (plan, result) = try write(stage) catch { case e: Throwable => fs.delete(stage, true); throw e }
    instant.value(0)
    locked(fs, p) {
      try commit(fs, p, plan) catch { case e: Throwable => fs.delete(stage, true); throw e }
      instant.value(1)
      applyPlan(fs, p, plan)
    }
    result
  }

  /** Replay a committed stage, if any. An uncommitted stage is left alone:
    * it may belong to a write that is still staging. */
  private def replay(fs: FileSystem, p: Path): Unit = locked(fs, p) {
    if (fs.exists(markerPath(p))) applyPlan(fs, p, decode(fs, markerPath(p)))
  }

  /** Write the plan inside the stage and rename it out as the marker. The
    * plan file never creates the stage, and every planned leaf must be
    * staged, so a stage removed under the write fails the commit instead of
    * committing an empty stage over the store.
    */
  private def commit(fs: FileSystem, p: Path, plan: Plan): Unit = {
    val stage = stagePath(p)
    val pending = new Path(stage, "_cow_plan")
    val out = fs.createFile(pending).build() // not recursive: fails without the stage
    try out.write(encode(plan).getBytes("UTF-8")) finally out.close()
    plan.leaves.find(rel => !fs.exists(under(stage, rel))).foreach { rel =>
      throw new java.io.IOException(s"commit: staged leaf '$rel' of $stage is missing")
    }
    if (!fs.rename(pending, markerPath(p)))
      throw new java.io.IOException(s"commit: cannot move $pending to ${markerPath(p)}")
  }

  /** One monitor per qualified dir: the commit, apply and replay of a dir
    * run one at a time within this JVM. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]()

  private def locked[A](fs: FileSystem, p: Path)(body: => A): A =
    locks.computeIfAbsent(fs.makeQualified(p), _ => new AnyRef).synchronized(body)

  /** The leaf partition dirs under `root`, lazily and in path order:
    * `name=value` dirs are walked down; a dir without such subdirs is a
    * leaf if it holds data files. A flat store is the single leaf `""`; a
    * debris-only dir (`_temporary`, `_SUCCESS`) has none.
    */
  private[sources] def leaves(fs: FileSystem, root: Path): Iterator[Leaf] = {
    def walk(p: Path, rel: String): Iterator[Leaf] = {
      val (dirs, files) = fs.listStatus(p).partition(_.isDirectory)
      val hive = dirs.filter(_.getPath.getName.contains("=")).sortBy(_.getPath.getName)
      if (hive.nonEmpty)
        hive.iterator.flatMap(st => walk(st.getPath, under(rel, st.getPath.getName)))
      else {
        val data = files.filter(isDataFile)
        if (data.isEmpty) Iterator.empty
        else Iterator(Leaf(rel, data.length.toLong, data.map(_.getLen).sum))
      }
    }
    if (fs.exists(root)) walk(root, "") else Iterator.empty
  }

  private[sources] def resolve(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Does `dir` hold data? Stops at the first leaf. */
  private def hasData(fs: FileSystem, dir: Path): Boolean = leaves(fs, dir).hasNext

  private def stagePath(p: Path): Path = new Path(p.getParent, p.getName + "__cow_stage")
  private def markerPath(p: Path): Path = new Path(p.getParent, p.getName + "__cow_commit")

  private def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  private def under(rel: String, name: String): String = if (rel.isEmpty) name else s"$rel/$name"
  private def under(p: Path, rel: String): Path = if (rel.isEmpty) p else new Path(p, rel)

  private def applyPlan(fs: FileSystem, p: Path, plan: Plan): Unit = {
    val stage = stagePath(p)
    var step = 1
    def stepped(): Unit = { step += 1; instant.value(step) }
    plan.leaves.foreach { rel =>
      val (from, to) = (under(stage, rel), under(p, rel))
      if (fs.exists(from)) {
        fs.delete(to, true); stepped()
        fs.mkdirs(to.getParent)
        if (!fs.rename(from, to)) throw new java.io.IOException(s"apply: cannot move $from to $to")
        stepped()
      }
    }
    plan.drops.foreach { rel => fs.delete(under(p, rel), true); stepped() }
    fs.delete(stage, true); stepped()
    fs.delete(markerPath(p), false)
  }

  // one line per step: "+<leaf>" renames, "-<dir>" drops
  private def encode(plan: Plan): String =
    (plan.leaves.map("+" + _) ++ plan.drops.map("-" + _)).mkString("\n")

  private def decode(fs: FileSystem, marker: Path): Plan = {
    val in = fs.open(marker)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    Plan(lines.collect { case l if l.startsWith("+") => l.drop(1) },
      lines.collect { case l if l.startsWith("-") => l.drop(1) })
  }
}
