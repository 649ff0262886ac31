package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The store protocol through its three entry points: bootstrap then swap,
  * debris-only dirs as no store, stash recovery by read and by publish, an
  * aborted swap leaving the store as it was, `coalesceTo`, and drop.
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

  private def siblings(dir: String): Seq[Boolean] = {
    val p = new Path(dir)
    Seq(fs.exists(AtomicStore.tmpPath(p)), fs.exists(AtomicStore.stashPath(p)))
  }

  test("the first publish creates the store, the second swaps it; no sibling is left") {
    val dir = freshDir("create_swap")
    assert(!AtomicStore.exists(spark, dir) && AtomicStore.current(spark, dir).isEmpty)
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    assert(stored(dir) == Seq(1L, 2L))
    assert(siblings(dir) == Seq(false, false))
    // the next frame may read the store itself
    AtomicStore.publish(spark, dir, AtomicStore.read(spark, dir).union(ids(3L)))
    assert(stored(dir) == Seq(1L, 2L, 3L))
    assert(siblings(dir) == Seq(false, false))
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

  test("a stash left between the swap's two renames is restored by read") {
    val dir = freshDir("stash_read")
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    val p = new Path(dir)
    AtomicStore.publish(spark, AtomicStore.tmpPath(p).toString, ids(9L))
    assert(fs.rename(p, AtomicStore.stashPath(p)))
    assert(stored(dir) == Seq(1L, 2L))
    assert(!fs.exists(AtomicStore.stashPath(p)))
  }

  test("a stash is restored by publish: the swap replaces the old rows, an abort keeps them") {
    val dir = freshDir("stash_publish")
    val p = new Path(dir)
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    assert(fs.rename(p, AtomicStore.stashPath(p)))
    intercept[IllegalStateException](AtomicStore.publish(spark, dir, ids(5L),
      beforeSwap = () => throw new IllegalStateException("abort")))
    assert(stored(dir) == Seq(1L, 2L))
    assert(fs.rename(p, AtomicStore.stashPath(p)))
    AtomicStore.publish(spark, dir, ids(5L))
    assert(stored(dir) == Seq(5L))
    assert(siblings(dir) == Seq(false, false))
  }

  test("a throwing beforeSwap leaves the store and its tmp sibling as they were") {
    val dir = freshDir("abort")
    def abort(): Unit = intercept[IllegalArgumentException](AtomicStore.publish(spark, dir,
      ids(9L), beforeSwap = () => throw new IllegalArgumentException("late rows")))
    abort() // no store yet: still none
    assert(!AtomicStore.exists(spark, dir) && siblings(dir) == Seq(false, false))
    AtomicStore.publish(spark, dir, ids(1L, 2L))
    abort()
    assert(stored(dir) == Seq(1L, 2L) && siblings(dir) == Seq(false, false))
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

  test("drop removes the store with both siblings: a stale stash cannot revive it") {
    val dir = freshDir("drop")
    val p = new Path(dir)
    AtomicStore.publish(spark, dir, ids(1L))
    AtomicStore.publish(spark, AtomicStore.stashPath(p).toString, ids(2L))
    AtomicStore.publish(spark, AtomicStore.tmpPath(p).toString, ids(3L))
    AtomicStore.drop(spark, dir)
    assert(siblings(dir) == Seq(false, false))
    assert(!AtomicStore.exists(spark, dir) && !fs.exists(p))
  }
}
