package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the TPC-H-shaped tables the gates read, with the
  * column names, types and value domains of the engine's test tables.
  * Every value is a hash of (row id, seed, column salt), so one seed gives
  * the same bytes whatever the partitioning.
  *
  * `copies > 1` is the key-shifted scale-up: copy `i` adds `i * shift` to
  * every order key and customer key, in `orders`, `lineitem` and
  * `customer` alike, so each order keeps its customer and every join grows
  * linearly with the copy count. Dimension tables (part, supplier, nation,
  * region) and `events` are shared by all copies.
  */
object Gen {
  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  /** Row counts at scale factor `sf`, as TPC-H scales them. */
  final case class Sizes(sf: Double) {
    private def n(perSf1: Long): Long = math.max(1L, math.round(perSf1 * sf))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitem: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
  }

  /** Writes each of `tables` as `<dir>/<name>.parquet` with `files` files
    * (one for the two tiny tables).
    */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double, files: Int,
            copies: Int = 1, shift: Long = 0L, tables: Seq[String] = tables): Unit = {
    val g = new Gen(spark, seed, Sizes(sf), files)
    val scaled = Map(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"))
    tables.foreach { t =>
      val base = g.table(t)
      val df = scaled.get(t).filter(_ => copies > 1).fold(base) { keys =>
        val cp = spark.range(copies).withColumnRenamed("id", "__copy")
        keys.foldLeft(base.crossJoin(cp)) { (d, k) =>
          d.withColumn(k, col(k) + col("__copy") * lit(shift))
        }.drop("__copy")
      }
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }
}

private final class Gen(spark: SparkSession, seed: Long, n: Gen.Sizes, files: Int) {
  private def rows(count: Long, parts: Int = files): DataFrame =
    spark.range(0L, count, 1L, math.max(1, math.min(parts.toLong, count).toInt)).toDF()

  /** Uniform draw in [0, m) for column salt `salt`. */
  private def u(salt: Int, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  private def pick(salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (u(salt, xs.size.toLong) + 1).cast("int"))

  private def cents(salt: Int, lo: Long, span: Long): Column =
    (u(salt, span) + lit(lo)) / lit(100.0)

  private def day(from: String, salt: Int, span: Long): Column =
    date_add(lit(from).cast("date"), u(salt, span).cast("int")).cast("timestamp_ntz")

  def table(name: String): DataFrame = name match {
    case "region" =>
      rows(5, 1).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name"))
    case "nation" =>
      rows(25, 1).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
    case "customer" =>
      rows(n.customer).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast("int").as("c_nationkey"),
        cents(2, -100000L, 1100000L).as("c_acctbal"),
        pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))
    case "supplier" =>
      rows(n.supplier).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(1, 25).cast("int").as("s_nationkey"),
        cents(2, -100000L, 1100000L).as("s_acctbal"))
    case "part" =>
      rows(n.part).select(col("id").as("p_partkey"),
        concat(pick(1, "blue", "red", "small", "new", "hot", "green", "big", "old"), lit(" "),
          pick(2, "anvil", "widget", "bolt", "ring", "rod", "plate", "gear", "nut")).as("p_name"),
        concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
        pick(4, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
        (u(5, 50) + 1).cast("int").as("p_size"),
        ((u(6, 1000) + 9000) / lit(10.0)).as("p_retailprice"))
    case "orders" =>
      rows(n.orders).select(col("id").as("o_orderkey"),
        u(1, n.customer).as("o_custkey"),
        pick(2, "F", "O", "P").as("o_orderstatus"),
        cents(3, 100000L, 49900000L).as("o_totalprice"),
        day("1995-01-01", 4, 2404).as("o_orderdate"),
        pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
    case "lineitem" =>
      rows(n.lineitem).select(u(1, n.orders).as("l_orderkey"),
        u(2, n.part).as("l_partkey"),
        u(3, n.supplier).as("l_suppkey"),
        (u(4, 7) + 1).cast("int").as("l_linenumber"),
        (u(5, 50) + 1).cast("double").as("l_quantity"),
        cents(6, 90000L, 10500000L).as("l_extendedprice"),
        (u(7, 11) / lit(100.0)).as("l_discount"),
        (u(8, 9) / lit(100.0)).as("l_tax"),
        pick(9, "A", "N", "R").as("l_returnflag"),
        pick(10, "F", "O").as("l_linestatus"),
        day("1995-01-02", 11, 2499).as("l_shipdate"))
    case "events" =>
      // strictly increasing timestamps over January 2024, like an event log
      val step = 30L * 86400L * 1000000L / n.events
      rows(n.events).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * lit(step) + u(1, step))
          .cast("timestamp_ntz").as("ts"),
        u(2, n.users).as("user_id"),
        pick(3, "click", "error", "purchase", "signup", "view").as("event_type"),
        ((u(4, 49001) + 1) / lit(100.0)).as("value"),
        concat(lit("{\"k\": "), u(5, 100), lit("}")).as("props"))
  }
}
