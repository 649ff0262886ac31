package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Copy-on-write merge contracts: upsert semantics, the partition-moving
  * stale-copy pin, untouched partitions' files left physically in place,
  * crash replay, and the bootstrap / empty-batch edges.
  */
class LakeMergeSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"/tmp/graft_lakemerge_spec/$name"
    AtomicStore.drop(spark, d)
    d
  }

  private def baseRows = Seq(
    (1L, 10.0, "a"), (2L, 20.0, "a"),
    (3L, 30.0, "b"), (4L, 40.0, "b"),
    (5L, 50.0, "c")).toDF("k", "v", "p")

  private def readLake(dir: String): Map[Long, (Double, String)] =
    spark.read.parquet(dir).select("k", "v", "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("bootstrap + upsert: updates replace, inserts append, others persist") {
    val lake = freshDir("upsert")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    val batch = Seq((2L, 21.0, "a"), (6L, 60.0, "c")).toDF("k", "v", "p")
    LakeMerge.merge(spark, lake, batch, Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(
      1L -> (10.0, "a"), 2L -> (21.0, "a"), 3L -> (30.0, "b"),
      4L -> (40.0, "b"), 5L -> (50.0, "c"), 6L -> (60.0, "c")))
  }

  test("partition-moving update leaves no stale copy in the old partition") {
    val lake = freshDir("move")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    // k=3 moves b → a; k=5 moves c → a, evacuating partition c entirely
    val batch = Seq((3L, 31.0, "a"), (5L, 51.0, "a")).toDF("k", "v", "p")
    LakeMerge.merge(spark, lake, batch, Seq("k"), Seq("p"))
    val got = readLake(lake)
    assert(got == Map(
      1L -> (10.0, "a"), 2L -> (20.0, "a"), 3L -> (31.0, "a"),
      4L -> (40.0, "b"), 5L -> (51.0, "a")))
    // the evacuated partition's directory is gone, not just empty
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(lake, "p=c")))
  }

  test("untouched partitions' files are not rewritten") {
    val lake = freshDir("untouched")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(part: String): Map[String, Long] =
      fs.listStatus(new Path(lake, part)).filterNot(_.getPath.getName.startsWith("_"))
        .map(st => st.getPath.toString -> st.getModificationTime).toMap
    val before = filesOf("p=b")
    LakeMerge.merge(spark, lake,
      Seq((1L, 11.0, "a")).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    assert(filesOf("p=b") == before, "partition b had no touched rows")
    assert(readLake(lake)(1L) == (11.0, "a"))
  }

  test("a committed crash stage is replayed by the next merge; an uncommitted one is dropped") {
    val lake = freshDir("replay")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    // committed, nothing applied yet: the next merge replays it first
    Crash.at(1)(LakeMerge.merge(spark, lake, Seq((2L, 22.0, "a")).toDF("k", "v", "p"),
      Seq("k"), Seq("p")))
    LakeMerge.merge(spark, lake, Seq((4L, 41.0, "b")).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(1L -> (10.0, "a"), 2L -> (22.0, "a"), 3L -> (30.0, "b"),
      4L -> (41.0, "b"), 5L -> (50.0, "c")))
    // staged but never committed: debris, dropped by the next merge
    Crash.at(0)(LakeMerge.merge(spark, lake, Seq((2L, 99.0, "a")).toDF("k", "v", "p"),
      Seq("k"), Seq("p")))
    LakeMerge.merge(spark, lake, Seq((5L, 51.0, "c")).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(1L -> (10.0, "a"), 2L -> (22.0, "a"), 3L -> (30.0, "b"),
      4L -> (41.0, "b"), 5L -> (51.0, "c")))
  }

  test("a staged leaf removed before the commit fails the merge and keeps the lake") {
    val lake = freshDir("stage_leaf_gone")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    val before = readLake(lake)
    val p = new Path(lake)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def protocolSiblings = fs.listStatus(p.getParent).map(_.getPath)
      .filter(_.getName.startsWith(p.getName + "__")).toSeq
    // the merge stages p=a and p=b; p=b vanishes before the commit
    intercept[java.io.IOException](AtomicStore.instant.withValue { i =>
      if (i == 0) protocolSiblings.foreach(stage => assert(fs.delete(new Path(stage, "p=b"), true)))
    }(LakeMerge.merge(spark, lake, Seq((1L, 11.0, "a"), (3L, 33.0, "b")).toDF("k", "v", "p"),
      Seq("k"), Seq("p"))))
    assert(readLake(lake) == before)
    assert(protocolSiblings.isEmpty)
  }

  test("two-level partitions: replay after a partial apply keeps the applied and untouched leaves") {
    val lake = freshDir("replay_two_level")
    def lakeRows = spark.read.parquet(lake).select("k", "v", "p", "q").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2), r.getString(3))).toMap
    LakeMerge.merge(spark, lake, Seq((1L, 10.0, "a", "x"), (2L, 20.0, "a", "y"),
      (3L, 30.0, "b", "x")).toDF("k", "v", "p", "q"), Seq("k"), Seq("p", "q"))

    // a merge updating k=1 (p=a/q=x) and k=3 (p=b/q=x), crashed at instant 3:
    // the only leaf under p=a has been renamed into the lake, p=b/q=x not yet
    Crash.at(3)(LakeMerge.merge(spark, lake,
      Seq((1L, 11.0, "a", "x"), (3L, 33.0, "b", "x")).toDF("k", "v", "p", "q"),
      Seq("k"), Seq("p", "q")))
    assert(AtomicStore.exists(spark, lake))
    assert(lakeRows == Map(1L -> (11.0, "a", "x"), 2L -> (20.0, "a", "y"),
      3L -> (33.0, "b", "x")))

    // an ordinary two-level merge after the replay, moving k=2 across p
    LakeMerge.merge(spark, lake, Seq((2L, 22.0, "b", "y")).toDF("k", "v", "p", "q"),
      Seq("k"), Seq("p", "q"))
    assert(lakeRows == Map(1L -> (11.0, "a", "x"), 2L -> (22.0, "b", "y"),
      3L -> (33.0, "b", "x")))
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(lake, "p=a/q=y")), "evacuated leaf must be dropped")
  }

  test("rows in a NULL-valued partition survive a merge touching that partition") {
    val lake = freshDir("nullpart")
    val base = Seq((1L, 10.0, Option("a")), (2L, 20.0, Option.empty[String]),
      (3L, 30.0, Option.empty[String])).toDF("k", "v", "p")
    LakeMerge.merge(spark, lake, base, Seq("k"), Seq("p"))
    // k=4 inserts into the default partition; k=2,k=3 must be kept through
    // the rewrite (a null-unsafe partition semi-join would drop them)
    val batch = Seq((4L, 40.0, Option.empty[String])).toDF("k", "v", "p")
    LakeMerge.merge(spark, lake, batch, Seq("k"), Seq("p"))
    val got = spark.read.parquet(lake).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("empty batch is a no-op") {
    val lake = freshDir("empty")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    val before = readLake(lake)
    LakeMerge.merge(spark, lake, baseRows.limit(0), Seq("k"), Seq("p"))
    assert(readLake(lake) == before)
  }

  test("delete removes exactly the keyed rows, rewriting only touched partitions") {
    val lake = freshDir("delete")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(part: String) =
      fs.listStatus(new Path(s"$lake/p=$part")).map(st => st.getPath.getName -> st.getModificationTime).toMap
    val beforeB = filesOf("b")
    LakeMerge.delete(spark, lake, Seq(Tuple1(1L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(
      2L -> (20.0, "a"), 3L -> (30.0, "b"), 4L -> (40.0, "b"), 5L -> (50.0, "c")))
    assert(filesOf("b") == beforeB, "untouched partition was rewritten")
  }

  test("delete evacuates a partition deleted down to zero rows") {
    val lake = freshDir("delete_evac")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(Tuple1(5L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(
      1L -> (10.0, "a"), 2L -> (20.0, "a"), 3L -> (30.0, "b"), 4L -> (40.0, "b")))
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$lake/p=c")), "emptied partition dir must be dropped")
  }

  test("delete with keys matching nothing is a no-op; repeat delete idempotent") {
    val lake = freshDir("delete_noop")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(Tuple1(99L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake).size == 5)
    LakeMerge.delete(spark, lake, Seq(Tuple1(3L)).toDF("k"), Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(Tuple1(3L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake).keySet == Set(1L, 2L, 4L, 5L))
  }

  test("delete spanning several partitions, including a multi-key frame") {
    val lake = freshDir("delete_multi")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(1L, 3L, 5L).map(Tuple1(_)).toDF("k"),
      Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(2L -> (20.0, "a"), 4L -> (40.0, "b")))
  }

  for (tsType <- Seq("timestamp_ntz", "timestamp"))
    test(s"$tsType partitions: delete and merge evacuate by the writer's path encoding") {
      val lake = freshDir(s"ts_part_$tsType")
      def rows(rs: (Long, Double, String)*) = rs.toDF("k", "v", "d")
        .withColumn("d", col("d").cast(tsType))
      LakeMerge.merge(spark, lake, rows((1L, 10.0, "2024-01-01 00:00:00"),
        (2L, 20.0, "2024-01-02 00:00:00"), (3L, 30.0, "2024-01-03 12:30:00"),
        (4L, 40.0, "2024-01-04 00:00:00")), Seq("k"), Seq("d"))
      def lakeKeys(): Seq[Long] =
        spark.read.parquet(lake).select("k").as[Long].collect().sorted.toSeq
      val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def partDirs(): Set[String] = fs.listStatus(new Path(lake))
        .map(_.getPath.getName).filter(_.startsWith("d=")).toSet
      assert(partDirs().size == 4)
      // delete empties the 2024-01-03 12:30 partition
      LakeMerge.delete(spark, lake, Seq(Tuple1(3L)).toDF("k"), Seq("k"), Seq("d"))
      assert(lakeKeys() == Seq(1L, 2L, 4L))
      assert(partDirs().size == 3)
      // a partition-moving update rewrites 2024-01-01 and empties 2024-01-04
      LakeMerge.merge(spark, lake, rows((4L, 41.0, "2024-01-01 00:00:00")), Seq("k"), Seq("d"))
      assert(lakeKeys() == Seq(1L, 2L, 4L))
      assert(partDirs().size == 2)
    }

  test("key and partition columns must be disjoint") {
    val lake = freshDir("disjoint")
    intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, lake, baseRows, Seq("k", "p"), Seq("p"))
    }
  }
}
