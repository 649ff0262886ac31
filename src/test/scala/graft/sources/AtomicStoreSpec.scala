package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The store protocol through its three entry points: bootstrap then swap,
  * debris-only dirs as no store, replay of a committed stage by read and by
  * publish, reads that leave a live write's stage alone, a commit that
  * refuses a removed stage, an aborted swap leaving the store as it was,
  * `coalesceTo`, and drop. [[CrashStatesSpec]] crashes a publish at every protocol instant.
  */
class AtomicStoreSpec extends SparkSpec {

  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshDir(name: String): String = {
    val d = s"/tmp/graft_atomicstore_spec/$name"
    AtomicStore.drop(spark, d)
    d
  }

  private def ids(rows: Long*) = rows.toDF("id")

  private def stored(dir: String): Seq[Long] =
    AtomicStore.read(spark, dir).as[Long].collect().sorted.toSeq

  private def dataFiles(dir: String): Int =
    fs.listStatus(new Path(dir)).count(_.getPath.getName.endsWith(".parquet"))

  /** The protocol's siblings of `dir` on disk (a stage, a commit marker). */
  private def siblings(dir: String): Seq[String] = {
    val p = new Path(dir)
    fs.listStatus(p.getParent).map(_.getPath.getName).filter(_.startsWith(p.getName + "__")).toSeq
  }

  test("the first publish creates the store, the second swaps it; no sibling is left") {
    val dir = freshDir("create_swap")
    assert(!AtomicStore.exists(spark, dir) && AtomicStore.current(spark, dir).isEmpty)
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    assert(stored(dir) == Seq(1L, 2L))
    assert(siblings(dir).isEmpty)
    // the next frame may read the store itself
    AtomicStore.publish(spark, dir, AtomicStore.read(spark, dir).union(ids(3L)))
    assert(stored(dir) == Seq(1L, 2L, 3L))
    assert(siblings(dir).isEmpty)
  }

  test("a debris-only dir reads as no store, and publish bootstraps over it") {
    val dir = freshDir("debris")
    fs.mkdirs(new Path(dir, "_temporary/0"))
    fs.create(new Path(dir, "_SUCCESS"), true).close()
    assert(!AtomicStore.exists(spark, dir))
    assert(AtomicStore.current(spark, dir).isEmpty)
    intercept[IllegalStateException](AtomicStore.read(spark, dir))
    AtomicStore.publish(spark, dir, ids(7L))
    assert(stored(dir) == Seq(7L))
  }

  test("a committed stage caught after the store delete is replayed by read") {
    val dir = freshDir("replay_read")
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    // instant 2: committed, the old store deleted, the stage not renamed yet
    Crash.at(2)(AtomicStore.publish(spark, dir, ids(9L)))
    assert(!fs.exists(new Path(dir)) && siblings(dir).nonEmpty)
    assert(stored(dir) == Seq(9L))
    assert(siblings(dir).isEmpty)
  }

  test("publish replays a committed stage and drops an uncommitted one") {
    val dir = freshDir("replay_publish")
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    Crash.at(2)(AtomicStore.publish(spark, dir, ids(5L)))
    intercept[IllegalStateException](AtomicStore.publish(spark, dir, ids(6L),
      beforeSwap = () => throw new IllegalStateException("abort")))
    assert(stored(dir) == Seq(5L))
    Crash.at(0)(AtomicStore.publish(spark, dir, ids(7L)))
    AtomicStore.publish(spark, dir, AtomicStore.read(spark, dir).union(ids(8L)))
    assert(stored(dir) == Seq(5L, 8L))
    assert(siblings(dir).isEmpty)
  }

  test("a read while a write stages keeps the stage; a stage removed under the write fails it") {
    val dir = freshDir("stage_race")
    val p = new Path(dir)
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    def publishStaged(next: Long)(atStaged: => Unit): Unit =
      AtomicStore.instant.withValue(i => if (i == 0) atStaged)(AtomicStore.publish(spark, dir, ids(next)))
    // reads between the stage write and the commit see the old store and
    // leave the stage to its write
    publishStaged(3L) {
      assert(AtomicStore.exists(spark, dir) && stored(dir) == Seq(1L, 2L))
      assert(siblings(dir).size == 1)
    }
    assert(stored(dir) == Seq(3L) && siblings(dir).isEmpty)
    // a stage deleted before the commit: the commit refuses, the store stays
    intercept[java.io.IOException](publishStaged(4L) {
      siblings(dir).foreach(s => fs.delete(new Path(p.getParent, s), true))
      assert(AtomicStore.exists(spark, dir))
    })
    assert(stored(dir) == Seq(3L) && siblings(dir).isEmpty)
  }

  test("a throwing beforeSwap leaves the store and its tmp sibling as they were") {
    val dir = freshDir("abort")
    def abort(): Unit = intercept[IllegalArgumentException](AtomicStore.publish(spark, dir,
      ids(9L), beforeSwap = () => throw new IllegalArgumentException("late rows")))
    abort() // no store yet: still none
    assert(!AtomicStore.exists(spark, dir) && siblings(dir).isEmpty)
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    abort()
    assert(stored(dir) == Seq(1L, 2L) && siblings(dir).isEmpty)
  }

  test("coalesceTo narrows the output on both the bootstrap and the swap") {
    val dir = freshDir("coalesce")
    val wide = spark.range(0, 100, 1, 4).toDF("id")
    AtomicStore.publish(spark, dir, wide)
    assert(dataFiles(dir) == 4)
    AtomicStore.drop(spark, dir)
    AtomicStore.publish(spark, dir, wide, coalesceTo = 1)
    assert(dataFiles(dir) == 1)
    AtomicStore.publish(spark, dir, wide.union(wide), coalesceTo = 2)
    assert(dataFiles(dir) == 2)
    assert(AtomicStore.read(spark, dir).count() == 200)
  }

  test("drop removes the store with its stage and marker: nothing replays") {
    val dir = freshDir("drop")
    val p = new Path(dir)
    AtomicStore.publish(spark, dir, ids(1L))
    Crash.at(1)(AtomicStore.publish(spark, dir, ids(2L)))
    assert(siblings(dir).nonEmpty)
    AtomicStore.drop(spark, dir)
    assert(siblings(dir).isEmpty)
    assert(!AtomicStore.exists(spark, dir) && !fs.exists(p))
  }
}
