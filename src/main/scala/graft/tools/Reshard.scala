package graft.tools

/** Re-shard a test dataset directory so scans can parallelize: every
  * `<table>.parquet` input is rewritten as a DIRECTORY of `n` part files
  * under the output dir (same name, so `Tables.resolve` /
  * `spark.read.parquet` pick it up unchanged). Each rewritten table must
  * keep its declared `Tables` schema, or the tool fails.
  *
  * Why: the generated sf inputs are ONE file with ONE row group each, so
  * every scan stage is a single task at ANY core count — the 8-vs-32-core
  * bench ratios come out ≈1 for map-heavy gates not because the plans are
  * serial but because the INPUT is unsplittable (guide §2.5). Benching
  * against a resharded copy separates genuinely parallel plans from
  * overhead-bound ones (SCALING.md records the result).
  *
  * Usage: `runMain graft.tools.Reshard <inDir> <outDir> [filesPerTable]`
  */
object Reshard {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 8
    val spark = graft.Harness.session("graft-reshard")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(in).filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
      val name = st.getPath.getName
      spark.read.parquet(st.getPath.toString)
        .repartition(n)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      graft.Tables.requireDeclared(spark, outDir, name.stripSuffix(".parquet"))
      println(s"[reshard] $name -> $outDir/$name ($n files)")
    }
    spark.stop()
  }
}
