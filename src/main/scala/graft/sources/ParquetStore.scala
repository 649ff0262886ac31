package graft.sources

import graft.core.Fabrix
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Path-backed table store with the reference's write-conflict semantics
  * (SaveStrategy, fabrix-sql/src/executor/ec.rs:476-540): the lake-table
  * stand-in for the reference's DB tables when no external DB is reachable.
  *
  * Replace is transactional the way the reference's drop+create+insert is
  * (ec.rs:602-651): every table is an [[AtomicStore]], so a write stages
  * the new rows beside the table and commits them before it replaces the
  * table by rename — readers never observe a half-written table, a failed
  * job leaves the old data intact, and a crash after the commit is
  * replayed by the next access instead of reading as a missing table.
  *
  * Upsert follows the reference's split-on-existing-ids plan (ec.rs:518-538)
  * re-expressed distributed: anti-join the EXISTING rows against incoming
  * ids (keep unmatched old rows), union incoming (new + updated), swap.
  * One shuffle on the index column; Spark broadcasts the small side
  * automatically.
  */
final class ParquetStore(root: String) {

  private def tablePath(name: String): String = new Path(root, s"$name.parquet").toString

  /** The session for the DDL calls that take none. */
  private def active: SparkSession = SparkSession.active

  def exists(name: String): Boolean = AtomicStore.exists(active, tablePath(name))

  def listTables(): Seq[String] = {
    val (fs, p) = AtomicStore.resolve(active, root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
  }

  def read(spark: SparkSession, name: String): DataFrame =
    AtomicStore.read(spark, tablePath(name))

  /** DDL-ish surface (reference S14): drop / truncate / rename. */
  def drop(name: String): Unit = AtomicStore.drop(active, tablePath(name))

  def rename(oldName: String, newName: String): Unit = {
    val (fs, from) = AtomicStore.resolve(active, tablePath(oldName))
    val to = new Path(tablePath(newName))
    require(exists(oldName), s"table $oldName does not exist")
    require(!fs.exists(to), s"table $newName already exists")
    if (!fs.rename(from, to)) throw new java.io.IOException(s"cannot rename $from to $to")
    drop(oldName) // leftover siblings must not revive the old name
  }

  def truncate(spark: SparkSession, name: String): Unit = {
    val schema = read(spark, name).schema
    write(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      name, SaveStrategy.Replace)
  }

  def write(df: DataFrame, name: String, strategy: SaveStrategy): Unit = {
    val spark = df.sparkSession
    val path = tablePath(name)
    strategy match {
      case SaveStrategy.FailIfExists =>
        if (AtomicStore.exists(spark, path))
          throw new IllegalStateException(s"table $name already exists")
        AtomicStore.publish(spark, path, df)

      case SaveStrategy.Replace =>
        AtomicStore.publish(spark, path, df)

      case SaveStrategy.Append =>
        if (!AtomicStore.exists(spark, path)) AtomicStore.publish(spark, path, df)
        else df.write.mode("append").parquet(path)

      case SaveStrategy.Upsert(indexCol) =>
        val next = AtomicStore.current(spark, path).fold(df) { stored =>
          val (_, keep) = Fabrix(stored, indexCol)
            .popupRowsByFrame(Fabrix(df, indexCol)) // anti: not being updated
          keep.df.unionByName(df)
        }
        AtomicStore.publish(spark, path, next)
    }
  }
}
