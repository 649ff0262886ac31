package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Resolver from logical table name to DataFrame over the driver-generated
  * parquet test tables (TESTDATA.md). In production the same resolver shape
  * points at catalog tables / lake paths; everything downstream (ADT
  * translator, pipelines, extension ops) only sees `String => DataFrame`.
  *
  * Every table is read against its declared schema, as a catalog-backed
  * reader would: parquet schema inference costs one footer-reading Spark
  * job per read, which at these sizes is a large share of a gate's wall.
  * The declarations are exactly what inference yields on the test tables
  * (TablesSpec pins them against every scale factor's footers) — a
  * declared column the file lacks would read as silent nulls.
  */
object Tables {
  private val declared: Seq[(String, StructType)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  private val schemas: Map[String, StructType] = declared.toMap

  val all: Seq[String] = declared.map(_._1)

  /** The declared schema of table `name`; an unknown name fails fast. */
  def schema(name: String): StructType = schemas.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown table '$name' (declared: ${all.mkString(", ")})"))

  def resolve(spark: SparkSession, dir: String): String => DataFrame =
    name => spark.read.schema(schema(name)).parquet(s"$dir/$name.parquet")

  /** Fails unless the footers of `<dir>/<name>.parquet` carry exactly the
    * declared schema of `name`: a tool that derives a dataset calls it
    * after each write, so drift fails there, not later as a column of
    * nulls in a gate. Costs the one inference job that [[resolve]] skips.
    */
  def requireDeclared(spark: SparkSession, dir: String, name: String): Unit = {
    val found = spark.read.parquet(s"$dir/$name.parquet").schema
    require(found == schema(name),
      s"$dir/$name.parquet does not match the declared schema of $name:\n" +
        s"declared ${schema(name).treeString}found ${found.treeString}")
  }
}
