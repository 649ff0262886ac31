package graft

/** The declared table schemas against the parquet footers of every scale
  * factor, and the job budget they buy: resolving a table, and building the
  * plan of a table-reading gate, submit no Spark job. Store-backed gates
  * are pinned to their exact job count, so a change to the store protocol
  * cannot add jobs unnoticed.
  */
class TablesSpec extends SparkSpec {

  private lazy val scaleFactors =
    Seq("sf0.001", "sf0.01", "sf0.1").map(n => s"${new java.io.File(sf).getParent}/$n")

  test("the declared schema of every table equals what parquet inference yields, on every SF") {
    for (dir <- scaleFactors; t <- Tables.all) {
      Tables.requireDeclared(spark, dir, t)
      assert(Tables.resolve(spark, dir)(t).schema == Tables.schema(t), s"$dir/$t")
    }
  }

  test("a derived copy whose schema drifted is rejected") {
    val dir = "/tmp/graft_tables_spec"
    // instant-typed order dates: a declared TIMESTAMP_NTZ read would not
    // match what the file holds
    Tables.resolve(spark, sf)("orders")
      .withColumn("o_orderdate", org.apache.spark.sql.functions.col("o_orderdate").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalArgumentException](Tables.requireDeclared(spark, dir, "orders"))
    assert(e.getMessage.contains("o_orderdate"))
  }

  test("resolving a table submits no Spark job") {
    for (t <- Tables.all)
      assert(jobsOf(Tables.resolve(spark, sf)(t)) == 0, t)
  }

  test("an unknown table name fails fast instead of inferring a schema") {
    val e = intercept[IllegalArgumentException](Tables.resolve(spark, sf)("partsupp"))
    assert(e.getMessage.contains("partsupp"))
  }

  test("building q1_agg, q_tpch_q2 and q_tpch_q21 submits no Spark job") {
    val queries = SparkEntry.queries
    for (name <- Seq("q1_agg", "q_tpch_q2", "q_tpch_q21"))
      assert(jobsOf(queries(name)(spark, sf)) == 0, name)
  }

  test("store-backed gates run their exact job budget at sf0.001") {
    val queries = SparkEntry.queries
    val budget = Map("q_upsert_store" -> 8, "q_agg_incremental" -> 14,
      "q_session_ingest" -> 25, "q_stream_windows" -> 14)
    val ran = budget.keys.map(n => n -> jobsOf(queries(n)(spark, sf).collect())).toMap
    assert(ran == budget)
  }
}
