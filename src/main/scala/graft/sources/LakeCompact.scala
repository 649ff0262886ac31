package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for a hive-partitioned parquet lake — the
  * maintenance pass every CoW lake needs: continuous [[LakeMerge]] /
  * streaming ingest leaves partitions fragmented into many small files,
  * and small files tax every subsequent scan (task-per-file scheduling,
  * footer reads, no intra-file parallelism to lose anyway). Compaction
  * rewrites ONLY fragmented partitions — a partition qualifies when it
  * holds more than one data file AND its total bytes fit under
  * `targetBytes` (so the rewrite yields one right-sized file; partitions
  * already larger than the target are a splitting problem, not a
  * small-file problem, and are left alone). Row content is bit-identical
  * before and after — compaction is a physical re-layout, never a
  * semantic operation (the gate hashes content identity).
  *
  * Crash safety: the rewrite goes through [[AtomicStore]]'s stage → commit
  * → apply → replay protocol, the same one [[LakeMerge]] uses — a crash
  * leaves the lake as it was or the apply replays, never a torn partition.
  *
  * Candidate rows are read PER DIRECTORY (with `basePath` so partition
  * values resolve), not by value filter — so a lake written externally
  * with non-canonical directory names (`p=01` aliasing `p=1` under a
  * numeric partition column) compacts correctly: the rows land under the
  * canonical directory and every candidate directory the stage did not
  * reproduce by name is dropped at apply (alias husks are never
  * double-counted). When a staged canonical name collides with an existing
  * lake directory that was NOT in the candidate set (alias `p=01`
  * fragmented, canonical `p=1` a single healthy file), the colliding
  * directory is pulled into the read set and the stage is rebuilt — apply
  * replaces whole directories, so overwriting a never-read directory would
  * delete its rows. Canonical names are a fixpoint of the stage write, so
  * the expansion converges in one extra pass; a pulled-in directory may
  * push the rewrite past `targetBytes`, which is accepted (correctness
  * over the size heuristic).
  *
  * Scale shape: the candidate scan is a driver-side directory listing
  * (bounded by the lake's partition/file COUNT, not its bytes — the
  * hive-layout contract that partitions are few); the rewrite reads only
  * qualifying directories and shuffles them once (`repartition` on the
  * partition key) so each compacted partition lands as one file.
  */
object LakeCompact {

  /** One row per fragmented partition: (partition_values, n_files,
    * total_bytes). Driver-side listing, partition-count-sized.
    */
  def fragmented(spark: SparkSession, lakeDir: String, targetBytes: Long): DataFrame = {
    import spark.implicits._
    candidates(spark, lakeDir, targetBytes)._2
      .map(l => (stripValues(l.rel), l.files, l.bytes))
      .toDF("partition_values", "n_files", "total_bytes")
  }

  /** Compact every qualifying partition to a single file. Returns the
    * number of partition directories rewritten (0 = nothing fragmented;
    * the lake is untouched).
    */
  def compact(spark: SparkSession, lakeDir: String,
              partitionCols: Seq[String], targetBytes: Long): Int = {
    require(partitionCols.nonEmpty, "compaction targets a partitioned lake")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    if (!AtomicStore.exists(spark, lakeDir)) return 0
    val (all, fragments) = candidates(spark, lakeDir, targetBytes)
    if (fragments.isEmpty) return 0
    val (fs, _) = AtomicStore.resolve(spark, lakeDir)

    // read the candidate DIRECTORIES (not a value filter): exactly their
    // rows, once each, with partition values resolved via basePath. If the
    // stage produces a canonical name that collides with a lake dir we did
    // NOT read (alias candidate + healthy canonical sibling), pull that dir
    // in and restage. Staged names are canonical: ≤1 extra pass. Returns
    // the dirs read and the leaves staged.
    @annotation.tailrec def restage(stage: Path, readSet: Set[String],
                                    pass: Int): (Set[String], Set[String]) = {
      require(pass <= 4, s"compaction stage did not converge after $pass passes")
      val dirs = readSet.toSeq.sorted
      spark.read.option("basePath", lakeDir)
        .parquet(dirs.map(rel => s"$lakeDir/$rel"): _*)
        // one task per partition value -> one file per compacted partition
        .repartition(dirs.length, partitionCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage.toString)
      val staged = AtomicStore.leaves(fs, stage).map(_.rel).toSet
      val collisions = (staged -- readSet).intersect(all)
      if (collisions.isEmpty) (readSet, staged) else restage(stage, readSet ++ collisions, pass + 1)
    }
    AtomicStore.rewrite(spark, lakeDir) { stage =>
      val (readSet, staged) = restage(stage, fragments.map(_.rel).toSet, 1)
      // a read dir the stage did not reproduce BY NAME is a non-canonical
      // alias whose rows now live under the canonical dir: drop the husk
      (AtomicStore.Plan(staged.toSeq.sorted, readSet.filterNot(staged).toSeq.sorted), readSet.size)
    }
  }

  /** Every leaf partition dir of the lake, and those that qualify. */
  private def candidates(spark: SparkSession, lakeDir: String,
                         targetBytes: Long): (Set[String], Seq[AtomicStore.Leaf]) = {
    val (fs, lake) = AtomicStore.resolve(spark, lakeDir)
    val all = AtomicStore.leaves(fs, lake).toSeq
    (all.map(_.rel).toSet, all.filter(l => l.files > 1 && l.bytes <= targetBytes))
  }

  /** `a=v/b=w` → `v/w` (the report's human-readable partition id). */
  private def stripValues(rel: String): String =
    rel.split('/').map(_.dropWhile(_ != '=').drop(1)).mkString("/")
}
