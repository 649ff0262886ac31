package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Copy-on-write merge contracts: upsert semantics, the partition-moving
  * stale-copy pin, untouched partitions' files left physically in place,
  * crash-stage replay, and the bootstrap / empty-batch edges.
  */
class LakeMergeSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"/tmp/graft_lakemerge_spec/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
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
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"${lake}__merge_tmp")

    // fabricate the stage a crashed apply would leave: the merged contents
    // of partition a with k=2 updated, plus the _graft_commit marker
    Seq((1L, 10.0, "a"), (2L, 22.0, "a")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(stage.toString)
    fs.create(new Path(stage, "_graft_commit"), true).close()
    LakeMerge.recover(spark, lake)
    assert(readLake(lake)(2L) == (22.0, "a") && !fs.exists(stage))

    // the crash WINDOW pin: a stage whose parquet finished (_SUCCESS
    // present) but that never reached the commit marker must be treated as
    // debris — the evacuation list may be missing, so replaying it could
    // leave stale copies of moved keys
    Seq((2L, 99.0, "a")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(stage.toString)
    assert(fs.exists(new Path(stage, "_SUCCESS")))
    LakeMerge.recover(spark, lake)
    assert(readLake(lake)(2L) == (22.0, "a") && !fs.exists(stage))
  }

  test("two-level partitions: replay after a partial apply keeps the applied and untouched leaves") {
    val lake = freshDirWithStage("replay_two_level")
    def lakeRows = spark.read.parquet(lake).select("k", "v", "p", "q").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2), r.getString(3))).toMap
    LakeMerge.merge(spark, lake, Seq((1L, 10.0, "a", "x"), (2L, 20.0, "a", "y"),
      (3L, 30.0, "b", "x")).toDF("k", "v", "p", "q"), Seq("k"), Seq("p", "q"))
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = LakeMerge.stagePath(new Path(lake))

    // the committed stage of a merge updating k=1 (p=a/q=x) and k=3 (p=b/q=x)
    Seq((1L, 11.0, "a", "x"), (3L, 33.0, "b", "x")).toDF("k", "v", "p", "q")
      .write.partitionBy("p", "q").parquet(stage.toString)
    fs.create(new Path(stage, LakeMerge.CommitMarker), true).close()
    // crash after apply moved the only leaf under p=a: the stage keeps an
    // empty p=a dir, which is not a partition to apply
    fs.delete(new Path(lake, "p=a/q=x"), true)
    assert(fs.rename(new Path(stage, "p=a/q=x"), new Path(lake, "p=a/q=x")))
    assert(fs.listStatus(new Path(stage, "p=a")).isEmpty)

    LakeMerge.recover(spark, lake)
    assert(!fs.exists(stage))
    assert(lakeRows == Map(1L -> (11.0, "a", "x"), 2L -> (20.0, "a", "y"),
      3L -> (33.0, "b", "x")))

    // an ordinary two-level merge after the replay, moving k=2 across p
    LakeMerge.merge(spark, lake, Seq((2L, 22.0, "b", "y")).toDF("k", "v", "p", "q"),
      Seq("k"), Seq("p", "q"))
    assert(lakeRows == Map(1L -> (11.0, "a", "x"), 2L -> (22.0, "b", "y"),
      3L -> (33.0, "b", "x")))
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

  private def freshDirWithStage(name: String): String = {
    val d = freshDir(name)
    val st = new Path(d + "__merge_tmp")
    st.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(st, true)
    d
  }

  test("delete removes exactly the keyed rows, rewriting only touched partitions") {
    val lake = freshDirWithStage("delete")
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
    val lake = freshDirWithStage("delete_evac")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(Tuple1(5L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(
      1L -> (10.0, "a"), 2L -> (20.0, "a"), 3L -> (30.0, "b"), 4L -> (40.0, "b")))
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$lake/p=c")), "emptied partition dir must be dropped")
  }

  test("delete with keys matching nothing is a no-op; repeat delete idempotent") {
    val lake = freshDirWithStage("delete_noop")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(Tuple1(99L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake).size == 5)
    LakeMerge.delete(spark, lake, Seq(Tuple1(3L)).toDF("k"), Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(Tuple1(3L)).toDF("k"), Seq("k"), Seq("p"))
    assert(readLake(lake).keySet == Set(1L, 2L, 4L, 5L))
  }

  test("delete spanning several partitions, including a multi-key frame") {
    val lake = freshDirWithStage("delete_multi")
    LakeMerge.merge(spark, lake, baseRows, Seq("k"), Seq("p"))
    LakeMerge.delete(spark, lake, Seq(1L, 3L, 5L).map(Tuple1(_)).toDF("k"),
      Seq("k"), Seq("p"))
    assert(readLake(lake) == Map(2L -> (20.0, "a"), 4L -> (40.0, "b")))
  }

  for (tsType <- Seq("timestamp_ntz", "timestamp"))
    test(s"$tsType partitions: delete and merge evacuate by the writer's path encoding") {
      val lake = freshDirWithStage(s"ts_part_$tsType")
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
