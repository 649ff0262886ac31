package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

/** Each shared Registry helper against its oracle-SQL twin, the twin run
  * through Spark SQL over the same tables: a gate that uses one side of a
  * pair is only hash-checked against the other, so the pair must agree.
  */
class RegistryKitSpec extends SparkSpec {

  private def withViews[T](tables: String*)(body: => T): T = {
    tables.foreach(t => Tables.resolve(spark, sf)(t).createOrReplaceTempView(t))
    try body finally tables.foreach(spark.catalog.dropTempView)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  test("cents and centsSql agree, negative balances included") {
    withViews("orders", "lineitem", "customer") {
      for ((table, key, money) <- Seq(
          ("orders", "o_orderkey", "o_totalprice"),
          ("lineitem", "l_orderkey, l_linenumber", "l_extendedprice"),
          ("customer", "c_custkey", "c_acctbal"))) {
        val keys = key.split(", ").toSeq
        val native = Tables.resolve(spark, sf)(table)
          .select(keys.map(col) :+ Registry.cents(money).as("c"): _*)
        val sql = spark.sql(s"SELECT $key, ${Registry.centsSql(money)} AS c FROM $table")
        assert(native.schema == sql.schema, money)
        val got = rows(native)
        assert(got.nonEmpty, money)
        assert(got == rows(sql), money)
      }
      assert(Tables.resolve(spark, sf)("customer")
        .select(Registry.cents("c_acctbal")).collect().exists(_.getLong(0) < 0))
    }
  }

  test("coPurchaseEdges matches both SQL layouts at minQty 30 and 45") {
    withViews("lineitem") {
      val li = Tables.resolve(spark, sf)("lineitem")
      for (q <- Seq(30, 45)) {
        val native = rows(Registry.coPurchaseEdges(li, q))
        assert(native.nonEmpty, q)
        assert(native == rows(spark.sql(Registry.coPurchaseEdgesSql(q))), q)
        assert(native == rows(spark.sql(Registry.coPurchaseEdgesPrefilteredSql(q))), q)
      }
      val w = "(a.l_partkey + b.l_partkey) % 7 + 1"
      assert(rows(Registry.coPurchaseEdges(li, 45, expr(w).as("w"))) ==
        rows(spark.sql(Registry.coPurchaseEdgesSql(45, s"$w AS w"))))
    }
  }

  test("memoPrecondition computes once per (key, dir) and again for a new dir") {
    var calls = 0
    def check(key: String, dir: String): Long =
      Registry.memoPrecondition(key, dir) { calls += 1; 100L + calls }
    assert(check("kit_spec", "dir_a") == 101L)
    assert(check("kit_spec", "dir_a") == 101L)
    assert(calls == 1)
    assert(check("kit_spec", "dir_b") == 102L)
    assert(check("kit_spec_other", "dir_a") == 103L)
    assert(check("kit_spec", "dir_b") == 102L)
    assert(calls == 3)
  }
}
