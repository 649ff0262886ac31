package graft.sources

import graft.SparkSpec
import graft.pipeline.Pipeline
import java.nio.file.Files

class FileSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-src").toString

  test("csv roundtrip with options: header, delimiter, schema") {
    val dir = tmp() + "/t"
    val df = Seq((1L, "a;x", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Csv.write(df, dir, CsvWriteOptions(delimiter = '|'))
    val back = Csv.read(spark, dir, CsvReadOptions(delimiter = '|', schema = Some(df.schema)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("csv skipRows + skipRowsAfterHeader + comment") {
    val f = Files.createTempDirectory("graft-csv").resolve("x.csv")
    Files.writeString(f,
      """garbage line
        |# a comment
        |id,name
        |0,skipme
        |1,aa
        |2,bb
        |""".stripMargin)
    val got = Csv.read(spark, f.toString,
      CsvReadOptions(skipRows = 2, skipRowsAfterHeader = 1))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "aa"), (2, "bb")))
  }

  test("csv projection by index, nRows, rowCountCol") {
    val dir = tmp() + "/t"
    val df = Seq((1, "a", 9.0), (2, "b", 8.0), (3, "c", 7.0)).toDF("id", "s", "v")
    Csv.write(df, dir)
    val got = Csv.read(spark, dir.toString,
      CsvReadOptions(projection = Some(Seq(0, 2)), rowCountCol = Some("rn")))
    assert(got.columns.toSeq == Seq("rn", "id", "v"))
    assert(got.count() == 3)
    assert(got.select("rn").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    val limited = Csv.read(spark, dir.toString, CsvReadOptions(nRows = Some(2)))
    assert(limited.count() == 2)
  }

  test("orc roundtrip with read options and partition pruning") {
    val dir = tmp() + "/orc"
    val df = Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "y"))
      .toDF("k", "v", "part")
    Orc.write(df, dir, OrcWriteOptions(partitionBy = Seq("part"), sortBy = Seq("k")))
    val back = Orc.read(spark, dir)
    assert(back.count() == 4)
    assert(back.select("k", "v", "part").orderBy("k").collect().map(_.toSeq).toSeq ==
      df.orderBy("k").collect().map(_.toSeq).toSeq)
    // column/limit options flow through the shared reader plumbing
    val lim = Orc.read(spark, dir, OrcReadOptions(columns = Some(Seq("k")), nRows = Some(2)))
    assert(lim.columns.toSeq == Seq("k") && lim.count() == 2)
    // partition filter prunes directories at planning time
    val pruned = Orc.read(spark, dir).where($"part" === "x")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("part"), scan)
  }

  test("json lines + json array roundtrip") {
    val dir1 = tmp() + "/jl"
    val dir2 = tmp() + "/ja"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    Json.write(df, dir1)
    assert(Json.read(spark, dir1).orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    Json.write(df, dir2, JsonWriteOptions(JsonFormat.Json))
    val back = Json.read(spark, dir2, JsonReadOptions(JsonFormat.Json))
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("parquet read options: columns, nRows") {
    val dir = tmp() + "/p"
    Parquet.write(Seq((1, "x"), (2, "y")).toDF("id", "s"), dir)
    val got = Parquet.read(spark, dir, ParquetReadOptions(columns = Some(Seq("s")), nRows = Some(1)))
    assert(got.columns.toSeq == Seq("s") && got.count() == 1)
  }

  test("ParquetStore save strategies") {
    val store = new ParquetStore(tmp())
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    store.write(df, "t", SaveStrategy.FailIfExists)
    intercept[IllegalStateException] { store.write(df, "t", SaveStrategy.FailIfExists) }
    store.write(df, "t", SaveStrategy.Append)
    assert(store.read(spark, "t").count() == 4)
    store.write(df, "t", SaveStrategy.Replace)
    assert(store.read(spark, "t").count() == 2)
    // upsert: update id=2, insert id=3
    val up = Seq((2L, "B"), (3L, "c")).toDF("id", "s")
    store.write(up, "t", SaveStrategy.Upsert("id"))
    val got = store.read(spark, "t").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // DDL surface
    assert(store.listTables() == Seq("t"))
    store.rename("t", "t2")
    assert(store.exists("t2") && !store.exists("t"))
    store.truncate(spark, "t2")
    assert(store.read(spark, "t2").count() == 0)
    store.drop("t2")
    assert(store.listTables().isEmpty)
  }

  test("ParquetStore: a crash between the swap's two renames loses no rows") {
    val root = tmp()
    val store = new ParquetStore(root)
    def rows(name: String) =
      store.read(spark, name).orderBy("id").as[(Long, String)].collect().toSeq
    // a crash after the commit (the first rename), between the table's
    // delete and the rename of the staged rows over it: the next access
    // replays the write
    store.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "t", SaveStrategy.Replace)
    Crash.at(2)(store.write(Seq((9L, "z")).toDF("id", "s"), "t", SaveStrategy.Replace))
    assert(rows("t") == Seq((9L, "z")))
    Crash.at(2)(store.write(Seq((2L, "B"), (3L, "c")).toDF("id", "s"), "t",
      SaveStrategy.Upsert("id")))
    store.write(Seq((1L, "a")).toDF("id", "s"), "t", SaveStrategy.Upsert("id"))
    assert(rows("t") == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    // a crash before the commit leaves the table as it was
    Crash.at(0)(store.write(Seq((7L, "q")).toDF("id", "s"), "t", SaveStrategy.Replace))
    assert(rows("t") == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    assert(store.listTables() == Seq("t"))
  }

  test("ParquetStore lists the tables of a file:// root") {
    val store = new ParquetStore("file://" + tmp())
    store.write(Seq((1L, "a")).toDF("id", "s"), "t", SaveStrategy.Replace)
    store.write(Seq((2L, "b")).toDF("id", "s"), "u", SaveStrategy.Replace)
    assert(store.listTables() == Seq("t", "u"))
    store.drop("t")
    assert(store.listTables() == Seq("u"))
  }

  test("partitioned parquet write prunes partitions at scan time") {
    val dir = tmp() + "/part"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Parquet.write(docs, dir, ParquetWriteOptions(partitionBy = Seq("lang"), sortBy = Seq("doc_id")))
    // layout: one dir per lang
    val langDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("lang=")))
    // a lang filter must become a PartitionFilter (directory pruning), not a data filter
    val q = Parquet.read(spark, dir).where($"lang" === "en").select("doc_id")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("lang"),
      s"lang filter not pushed to partition pruning:\n$scan")
    // and the result matches the unpartitioned read
    val expect = docs.where($"lang" === "en").select("doc_id")
    assert(q.except(expect).isEmpty && expect.except(q).isEmpty)
  }

  test("pipeline: csv → transform → parquet store") {
    val dir = tmp()
    val src = dir + "/in"
    Csv.write(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "v"), src)
    val store = new ParquetStore(dir)
    Pipeline.fromCsv(src, CsvReadOptions(schema = Some(
        org.apache.spark.sql.types.StructType.fromDDL("id INT, v DOUBLE"))))
      .transform(_.filter($"v" > 15.0))
      .transform(_.withColumn("v2", $"v" * 2))
      .write(spark)(df => store.write(df, "out", SaveStrategy.Replace))
    val got = store.read(spark, "out").orderBy("id").collect().map(r => (r.getInt(0), r.getDouble(2)))
    assert(got.toSeq == Seq((2, 40.0), (3, 60.0)))
  }

  test("readWithProvenance: file basename + stable in-file row positions") {
    val dir = tmp()
    Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val rows = Parquet.readWithProvenance(spark, dir)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(rows.map(_._3).toSeq === Seq(0L, 1L, 2L)) // file order, 0-based
    assert(rows.forall(_._2.endsWith(".parquet")))
    // stable under re-read with different parallelism (it IS the layout)
    val again = Parquet.readWithProvenance(spark, dir)
      .repartition(4).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(again.toSeq === rows.map(t => (t._1, t._3)).toSeq)
  }
}
