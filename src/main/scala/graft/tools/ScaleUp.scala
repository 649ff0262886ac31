package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Timing-only synthetic scale-up of the TPC-H-shaped test tables:
  * union k copies with per-copy shifts on the PRIMARY key columns
  * (orderkey/custkey/doc_id...), so row counts, group counts and join
  * cardinalities grow LINEARLY in k — the shape needed to measure
  * whether a gate's plan actually parallelizes once compute dominates
  * per-task constants (SCALING.md). NOT for correctness runs: gates
  * whose work is pair-quadratic in duplicated content (text similarity,
  * co-purchase graphs keyed on unshifted partkey) are excluded from the
  * scaling gate list for exactly that reason.
  *
  * `runMain graft.tools.ScaleUp <inDir> <outDir> [k] [filesPerTable]`
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val files = if (args.length > 3) args(3).toInt else 32
    val spark = graft.Harness.session("graft-scaleup")
    val Shift = 1000000000000L // far above any key at these SFs
    // per-table key columns to shift per copy (keeps keys globally
    // distinct across copies -> linear growth everywhere)
    val shiftCols: Map[String, Seq[String]] = Map(
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"),
      "customer" -> Seq("c_custkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"))
    def copyOf(df: DataFrame, table: String, i: Int): DataFrame =
      shiftCols.getOrElse(table, Nil).foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d.withColumn(c, col(c) + lit(i.toLong * Shift))
        else d
      }
    Seq("orders", "lineitem").foreach { t =>
      val in = spark.read.parquet(s"$inDir/$t.parquet")
      val out = (0 until k).map(copyOf(in, t, _)).reduce(_ unionByName _)
      out.repartition(files).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      graft.Tables.requireDeclared(spark, outDir, t)
      println(s"[scaleup] $t x$k -> $outDir/$t.parquet")
    }
    // pass the remaining tables through unchanged so Tables.resolve works;
    // every written table must keep its declared schema
    val done = Set("orders", "lineitem")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(in).filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
      val name = st.getPath.getName.stripSuffix(".parquet")
      if (!done.contains(name)) {
        spark.read.parquet(st.getPath.toString)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        graft.Tables.requireDeclared(spark, outDir, name)
        println(s"[scaleup] $name passthrough")
      }
    }
    spark.stop()
  }
}
