package graft

import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[ExactDiv.quot]] (Spark) and [[ExactDiv.quotSql]] (DuckDB, through
  * JDBC) against a `BigInt` reference over a grid of numerators (both
  * signs, 0, ±1, near ±2⁶² and the LONG ends), denominators (±1, ±7,
  * large) and scales (1, 10³, 10⁶), with the numerator in LONG and in
  * DECIMAL(38,0). Where the quotient leaves LONG both twins must raise.
  */
class ExactDivSpec extends SparkSpec {

  private val Dec = "decimal(38,0)"
  private val Near62 = 1L << 62
  private val Nums = Seq(0L, 1L, -1L, 7L, -7L, 123456789L, -123456789L,
    Near62 - 1, Near62 + 12345, -(Near62 + 12345), -Near62 + 1,
    Long.MaxValue, Long.MinValue + 1)
  private val Dens = Seq(1L, -1L, 7L, -7L, (1L << 40) + 3, -((1L << 40) + 3),
    Long.MaxValue)
  private val Scales = Seq(1L, 1000L, 1000000L)

  /** BigInt `/` truncates toward zero — the contract. */
  private def ref(n: Long, d: Long, s: Long): BigInt = BigInt(n) * s / d
  private def inLong(b: BigInt) = b.isValidLong

  private val Grid = for (n <- Nums; d <- Dens) yield (n, d)

  /** quot over (n, d) rows typed `numType`/`denType`, in row order;
    * the repartition keeps the projection out of local-relation folding. */
  private def sparkQuot(rows: Seq[(Long, Long)], numType: String,
                        denType: String, s: Long): Seq[Option[Long]] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case ((n, d), i) => Row(i, n, d) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("n", LongType),
        StructField("d", LongType))))
      .repartition(3)
    df.select(col("id"),
        ExactDiv.quot(col("n").cast(numType), col("d").cast(denType), s).as("q"))
      .orderBy("id").collect().toSeq
      .map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  private def duck[T](body: java.sql.Statement => T): T = {
    val conn = DriverManager.getConnection("jdbc:duckdb:")
    try body(conn.createStatement()) finally conn.close()
  }

  private def duckQuot(rows: Seq[(Long, Long)], numType: String,
                       denType: String, s: Long): Seq[Option[Long]] = duck { st =>
    val values = rows.zipWithIndex.map { case ((n, d), i) =>
      s"($i, CAST($n AS $numType), CAST($d AS $denType))" }.mkString(", ")
    val rs = st.executeQuery(s"SELECT id, ${ExactDiv.quotSql("n", "d", s)} " +
      s"FROM (VALUES $values) t(id, n, d) ORDER BY id")
    val out = Seq.newBuilder[Option[Long]]
    while (rs.next()) {
      val v = rs.getLong(2)
      out += (if (rs.wasNull()) None else Some(v))
    }
    out.result()
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** (numerator type, denominator type) in Spark and DuckDB spelling. */
  private val Typings = Seq(
    ("bigint", "bigint", "BIGINT", "BIGINT"),
    (Dec, "bigint", "DECIMAL(38,0)", "BIGINT"),
    (Dec, Dec, "DECIMAL(38,0)", "DECIMAL(38,0)"))

  for (s <- Scales; (sn, sd, dn, dd) <- Typings) {
    test(s"quot and quotSql agree with BigInt truncation: num $sn, den $sd, scale $s") {
      // a LONG numerator multiplies in LONG, so its product must fit too
      val ok = Grid.filter { case (n, d) =>
        inLong(ref(n, d, s)) && (sn != "bigint" || inLong(BigInt(n) * s))
      }
      assert(ok.size >= 30, s"grid too thin: ${ok.size}")
      val want = ok.map { case (n, d) => Some(ref(n, d, s).toLong) }
      assert(sparkQuot(ok, sn, sd, s) == want)
      assert(duckQuot(ok, dn, dd, s) == want)
    }
  }

  test("a quotient outside LONG raises in both engines instead of wrapping") {
    val over = Grid.filter { case (n, d) => !inLong(ref(n, d, 1000000L)) }
    assert(over.size >= 8)
    over.foreach { case (n, d) =>
      val e = intercept[Exception](sparkQuot(Seq((n, d)), Dec, "bigint", 1000000L))
      assert(messages(e).contains("quotient outside LONG"), s"$n/$d: ${messages(e)}")
      intercept[SQLException](duckQuot(Seq((n, d)), "DECIMAL(38,0)", "BIGINT", 1000000L))
    }
  }

  test("the wrapping DECIMAL div literal: raw div wraps, quot raises") {
    val n = "CAST(-700000000000000000000 AS DECIMAL(38,0))"
    val d = "CAST(3 AS DECIMAL(38,0))"
    val one = spark.range(1).repartition(1)
    // the measured Spark behaviour quot guards against
    assert(one.select(expr(s"$n div $d")).head().getLong(0) == 6474339624890837675L)
    val e = intercept[Exception](one.select(ExactDiv.quot(expr(n), expr(d))).collect())
    assert(messages(e).contains("quotient outside LONG"))
    intercept[SQLException](duck(_.executeQuery(s"SELECT ${ExactDiv.quotSql(n, d)}")))
  }

  test("a LONG numerator whose scaled product overflows raises (ANSI)") {
    intercept[Exception](sparkQuot(Seq((Near62 + 12345, 7L)), "bigint", "bigint", 1000L))
  }

  test("NULL in, NULL out") {
    val df = spark.sql("SELECT CAST(NULL AS BIGINT) AS n, CAST(7 AS BIGINT) AS d " +
      "UNION ALL SELECT CAST(7 AS BIGINT), CAST(NULL AS BIGINT)").repartition(2)
    assert(df.select(ExactDiv.quot(col("n").cast(Dec), col("d"), 1000L)).collect()
      .forall(_.isNullAt(0)))
    assert(df.select(ExactDiv.quot(col("n"), col("d"))).collect().forall(_.isNullAt(0)))
    duck { st =>
      val rs = st.executeQuery(s"SELECT ${ExactDiv.quotSql("NULL", "7")}, " +
        s"${ExactDiv.quotSql("7", "NULL")}")
      rs.next()
      assert(rs.getObject(1) == null && rs.getObject(2) == null)
    }
  }
}
