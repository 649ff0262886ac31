package graft.sources

import graft.SparkSpec
import graft.adt._
import java.nio.file.Files

/** JDBC layer integration against embedded Derby (the offline-available DB,
  * standing in for the reference's MySQL/PG/SQLite docker targets —
  * fabrix-sql/tests/sql_executor_test.rs lifecycle).
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dbDir = Files.createTempDirectory("graft-derby").toString + "/db"
  private lazy val ex = new JdbcExecutor(s"jdbc:derby:$dbDir;create=true")

  private def df = Seq((1L, "a", 10.5), (2L, "b", 20.5), (3L, "c", 30.5)).toDF("id", "s", "v")

  test("save strategies lifecycle: FailIfExists / Append / Replace / Upsert") {
    ex.write(df, "t1", SaveStrategy.FailIfExists)
    intercept[IllegalStateException] { ex.write(df, "t1", SaveStrategy.FailIfExists) }
    assert(ex.readTable(spark, "t1").count() == 3)

    ex.write(df, "t1", SaveStrategy.Append)
    assert(ex.readTable(spark, "t1").count() == 6)

    ex.write(df, "t1", SaveStrategy.Replace)
    assert(ex.readTable(spark, "t1").count() == 3)

    // upsert on fresh table creates with PK, then update id=2 / insert id=4
    ex.write(df, "t2", SaveStrategy.Upsert("id"))
    assert(ex.primaryKey("t2").map(_.toLowerCase).contains("id"))
    val up = Seq((2L, "B", 99.0), (4L, "d", 40.5)).toDF("id", "s", "v")
    ex.write(up, "t2", SaveStrategy.Upsert("id"))
    val got = ex.readTable(spark, "t2").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.5), (2L, "B", 99.0), (3L, "c", 30.5), (4L, "d", 40.5)))
  }

  test("split-path upsert UPDATEs only the keys that already existed") {
    // Derby has no native upsert: the write splits into an UPDATE batch for
    // existing keys and an INSERT batch for new ones. A row trigger logs
    // every UPDATEd id, so a new key that is inserted and then UPDATEd
    // again shows up in the log.
    ex.write(df, "t8", SaveStrategy.Upsert("id"))
    ex.execute("CREATE TABLE \"t8_log\" (\"id\" BIGINT)")
    ex.execute("CREATE TRIGGER \"t8_upd\" AFTER UPDATE ON \"t8\" REFERENCING NEW AS N " +
      "FOR EACH ROW INSERT INTO \"t8_log\" VALUES (N.\"id\")")
    val up = Seq((2L, "B", 99.0), (4L, "d", 40.5), (5L, "e", 50.5)).toDF("id", "s", "v")
    ex.write(up, "t8", SaveStrategy.Upsert("id"))
    val logged = ex.fetchAllCustom("SELECT \"id\" FROM \"t8_log\" ORDER BY 1")(_.getLong(1))
    assert(logged == Vector(2L))
    val got = ex.fetchAllCustom("SELECT \"id\", \"s\", \"v\" FROM \"t8\" ORDER BY 1")(
      rs => (rs.getLong(1), rs.getString(2), rs.getDouble(3)))
    assert(got == Vector((1L, "a", 10.5), (2L, "B", 99.0), (3L, "c", 30.5),
      (4L, "d", 40.5), (5L, "e", 50.5)))
  }

  test("native ON CONFLICT upsert through the Postgres dialect on DuckDB") {
    val duck = new JdbcExecutor(
      s"jdbc:duckdb:${Files.createTempDirectory("graft-duck")}/db", Dialect.Postgres)
    duck.write(df, "u1", SaveStrategy.Upsert("id")) // creates with PK
    assert(duck.tableExists("u1") && duck.listTables() == Seq("u1"))
    assert(duck.primaryKey("u1").contains("id"))
    duck.write(Seq((2L, "B", 99.0), (4L, "d", 40.5)).toDF("id", "s", "v"), "u1",
      SaveStrategy.Upsert("id"))
    val got = duck.fetchAllCustom("SELECT \"id\", \"s\", \"v\" FROM \"u1\" ORDER BY 1")(
      rs => (rs.getLong(1), rs.getString(2), rs.getDouble(3)))
    assert(got == Vector((1L, "a", 10.5), (2L, "B", 99.0), (3L, "c", 30.5), (4L, "d", 40.5)))
  }

  test("select pushdown: filter + agg rendered to the DB") {
    ex.write(df, "t3", SaveStrategy.Replace)
    val sel = Select(
      table = "t3",
      columns = Seq(Col("s"), Col("v")),
      filter = Some(Cond(Col("v"), CondOp.Greater(V.f64(15.0)))),
      orderBy = Seq(Order.asc("s")))
    val got = ex.select(spark, sel).collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("b", 20.5), ("c", 30.5)))

    val agg = Select("t3", Seq(
      Agg(AggFn.Count, Col("id")).as("n"),
      Agg(AggFn.Sum, Col("v")).as("sv")))
    val r = ex.select(spark, agg).head
    assert(r.getAs[Number](0).longValue == 3 && math.abs(r.getAs[Number](1).doubleValue - 61.5) < 1e-9)
  }

  test("select pushdown: CASE, HAVING, and string fns render on Derby") {
    ex.write(df, "t3b", SaveStrategy.Replace)
    // CASE projection + string fns through the pushdown renderer
    val sel = Select(
      table = "t3b",
      columns = Seq(
        Col("id"),
        CaseWhen(
          Seq((Cond(Col("v"), CondOp.Less(V.f64(15.0))), Lit(V.str("low")))),
          default = Some(Lit(V.str("high")))).as("band"),
        Fn(ScalarFn.Upper, Seq(Fn(ScalarFn.Trim, Seq(Col("s"))))).as("su")),
      orderBy = Seq(Order.asc("id")))
    // Derby types CASE string literals as CHAR(max-branch-length) and
    // blank-pads shorter branches — compare trimmed (dialect display quirk,
    // not a semantics divergence)
    val got = ex.select(spark, sel).collect()
      .map(r => (r.getAs[Number]("id").longValue, r.getString(1).trim, r.getString(2)))
    assert(got.toSeq == Seq((1L, "low", "A"), (2L, "high", "B"), (3L, "high", "C")))

    // HAVING with alias substitution (Derby has no lateral aliases at all)
    val hav = Select(
      table = "t3b",
      columns = Seq(Col("s"), Agg(AggFn.Count, Col("id")).as("n")),
      groupBy = Seq(Col("s")),
      having = Some(Cond(Col("n"), CondOp.GreaterEqual(V.i64(1)))),
      orderBy = Seq(Order.asc("s")))
    assert(ex.select(spark, hav).count() == 3)
  }

  test("pushdown delete") {
    ex.write(df, "t4", SaveStrategy.Replace)
    val n = ex.delete(Delete("t4", Some(Cond(Col("v"), CondOp.Greater(V.f64(15.0))))))
    assert(n == 2)
    assert(ex.readTable(spark, "t4").count() == 1)
  }

  test("introspection: tables, schema, primary key") {
    ex.write(df, "t5", SaveStrategy.Replace)
    assert(ex.tableExists("t5") && !ex.tableExists("nope"))
    assert(ex.listTables().exists(_.equalsIgnoreCase("t5")))
    val sch = ex.tableSchema("t5").map { case (n, t) => (n.toLowerCase, t) }
    assert(sch.map(_._1) == Seq("id", "s", "v"))
    assert(ex.primaryKey("t5").isEmpty)
  }

  test("ALTER TABLE: add / modify / drop column") {
    import org.apache.spark.sql.types._
    ex.write(df, "t6", SaveStrategy.Replace)
    ex.addColumn("t6", "extra", IntegerType)
    assert(ex.tableSchema("t6").map(_._1.toLowerCase) == Seq("id", "s", "v", "extra"))
    // Derby allows widening VARCHAR via SET DATA TYPE; exercise the rendered verb
    ex.modifyColumn("t6", "s", StringType) // VARCHAR(4096), a widen from itself
    ex.dropColumn("t6", "extra")
    assert(ex.tableSchema("t6").map(_._1.toLowerCase) == Seq("id", "s", "v"))
    // existing data survives the alters
    assert(ex.readTable(spark, "t6").count() == 3)
  }

  test("foreign keys: enforcement and cascade delete") {
    import org.apache.spark.sql.types._
    ex.createTable("parent", StructType.fromDDL("pid BIGINT, name STRING"), pk = Some("pid"))
    ex.createTable("child", StructType.fromDDL("cid BIGINT, pid BIGINT"), pk = Some("cid"))
    ex.addForeignKey("child", "fk_child_parent", "pid", "parent", "pid",
      onDelete = Some(FkAction.Cascade))
    ex.write(Seq((1L, "p1"), (2L, "p2")).toDF("pid", "name"), "parent", SaveStrategy.Append)
    ex.write(Seq((10L, 1L), (11L, 2L)).toDF("cid", "pid"), "child", SaveStrategy.Append)
    // violating insert is rejected by the constraint
    intercept[Exception] {
      ex.write(Seq((12L, 99L)).toDF("cid", "pid"), "child", SaveStrategy.Append)
    }
    // cascade: deleting parent 1 removes child 10
    ex.delete(graft.adt.Delete("parent", Some(Cond(Col("pid"), CondOp.Equal(V.i64(1))))))
    assert(ex.readTable(spark, "child").count() == 1)
    ex.dropForeignKey("child", "fk_child_parent")
    // constraint gone: the formerly-violating insert now succeeds
    ex.write(Seq((12L, 99L)).toDF("cid", "pid"), "child", SaveStrategy.Append)
    ex.dropTable("child"); ex.dropTable("parent")
  }

  test("readTable partitions on the introspected PK") {
    val many = spark.range(1, 101).toDF("id")
      .withColumn("v", org.apache.spark.sql.functions.col("id") * 2)
    ex.write(many, "t7", SaveStrategy.Upsert("id")) // creates with PK
    val got = ex.readTable(spark, "t7", numPartitions = 4)
    assert(got.rdd.getNumPartitions == 4)
    assert(got.count() == 100)
    // explicit partition column works too; non-numeric/absent falls back to 1
    val single = ex.readTable(spark, "t7", partitionColumn = Some("nope"))
    assert(single.rdd.getNumPartitions == 1)
  }

  test("DDL: create/rename/truncate/drop, index") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING")
    ex.createTable("d1", schema, pk = Some("k"))
    assert(ex.tableExists("d1"))
    ex.createIndex("d1", "s", "d1_s_idx")
    ex.dropIndex("d1_s_idx")
    ex.renameTable("d1", "d2")
    assert(!ex.tableExists("d1") && ex.tableExists("d2"))
    ex.write(Seq((1L, "x")).toDF("k", "s"), "d2", SaveStrategy.Append)
    ex.truncate("d2")
    assert(ex.readTable(spark, "d2").count() == 0)
    ex.dropTable("d2")
    assert(!ex.tableExists("d2"))
  }
}
