package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** The crash-state table of the copy-on-write protocol, for a whole-store
  * publish and for a two-level lake merge, delete and compaction. Each
  * write is crashed at every instant it reaches in a clean run: the
  * uncommitted stage (instant 0) must read as the before state, survive
  * the read and be dropped by the next write; a committed stage must read
  * as the after state at every apply step — before any step, after a
  * target delete, after some and after all leaf renames, after the drops.
  * Reading replays; a second replay must change no file, and no protocol
  * sibling may be left.
  */
class CrashStatesSpec extends SparkSpec {

  import CrashStatesSpec.Write
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(dir: String): Seq[String] =
    AtomicStore.read(spark, dir).collect().map(_.toString).sorted.toSeq

  private def lakeRows(dir: String): Seq[String] =
    AtomicStore.read(spark, dir).select("k", "v", "p", "q").collect().map(_.toString).sorted.toSeq

  private def baseLake(dir: String): Unit = LakeMerge.merge(spark, dir,
    Seq((1L, 10L, "a", "x"), (2L, 20L, "a", "y"), (3L, 30L, "b", "x"), (4L, 40L, "b", "x"),
      (5L, 50L, "c", "y")).toDF("k", "v", "p", "q"), Seq("k"), Seq("p", "q"))

  private val writes = Seq(
    Write("whole-store publish",
      dir => AtomicStore.publish(spark, dir, Seq(1L, 2L, 3L).toDF("id")),
      dir => AtomicStore.publish(spark, dir,
        AtomicStore.read(spark, dir).where(col("id") =!= 1L).union(Seq(4L).toDF("id"))),
      rows),
    // k=1 updated in place, k=2 moves a/y -> b/y (a/y evacuated), k=6 opens d/z
    Write("two-level lake merge", baseLake,
      dir => LakeMerge.merge(spark, dir, Seq((1L, 11L, "a", "x"), (2L, 21L, "b", "y"),
        (6L, 60L, "d", "z")).toDF("k", "v", "p", "q"), Seq("k"), Seq("p", "q")),
      lakeRows),
    // b/x keeps k=4, a/y is deleted down to nothing
    Write("two-level lake delete", baseLake,
      dir => LakeMerge.delete(spark, dir, Seq(2L, 3L).toDF("k"), Seq("k"), Seq("p", "q")),
      lakeRows),
    // content is unchanged by design, so the state carries the layout too
    Write("two-level lake compaction",
      dir => (1L to 40L).map(i => (i, i * 7, if (i % 2 == 0) "a" else "b", if (i % 3 == 0) "x" else "y"))
        .toDF("k", "v", "p", "q").repartition(4).write.partitionBy("p", "q").parquet(dir),
      dir => LakeCompact.compact(spark, dir, Seq("p", "q"), targetBytes = 10L * 1024 * 1024),
      dir => (lakeRows(dir), AtomicStore.leaves(fs, new Path(dir)).map(l => l.rel -> l.files).toList)))

  /** Every file under the write's own parent dir, with size and mtime. */
  private def snapshot(dir: String): Set[(String, Long, Long)] = {
    val it = fs.listFiles(new Path(dir).getParent, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
  }

  private def siblings(dir: String): Seq[String] = {
    val p = new Path(dir)
    fs.listStatus(p.getParent).map(_.getPath.getName)
      .filterNot(n => n == p.getName || n.startsWith(".")).toSeq
  }

  for (w <- writes)
    test(s"${w.name}: every crash instant reads as before or after; replay is idempotent") {
      val dir = s"/tmp/graft_crashstates_spec/${w.name.replace(' ', '_')}/t"
      def reset(): Unit = { fs.delete(new Path(dir).getParent, true); w.setup(dir) }
      reset()
      val before = w.state(dir)
      val last = Crash.lastInstant(w.op(dir))
      val after = w.state(dir)
      assert(before != after)
      assert(last >= 4, s"${w.name} reached only instant $last")
      for (k <- 0 to last) {
        reset()
        Crash.at(k)(w.op(dir))
        val want = if (k == 0) before else after
        assert(w.state(dir) == want, s"${w.name}, instant $k")
        if (k == 0) {
          // a read leaves the uncommitted stage alone; the next write drops it
          assert(siblings(dir).size == 1, s"${w.name}: ${siblings(dir)}")
          w.op(dir)
          assert(w.state(dir) == after, s"${w.name}, a write after an instant-0 crash")
        }
        assert(siblings(dir).isEmpty, s"${w.name}, instant $k: ${siblings(dir)}")
        val files = snapshot(dir)
        assert(AtomicStore.exists(spark, dir))
        assert(snapshot(dir) == files, s"${w.name}, instant $k: a second replay changed files")
      }
    }
}

object CrashStatesSpec {
  private final case class Write(name: String, setup: String => Unit, op: String => Unit,
                                 state: String => Any)
}
