package perfbench

import graft.adt.{Col, Select}
import graft.core.Fabrix
import graft.pipeline.Pipeline
import graft.sources._
import graft.wire.JsonWire
import graft.xl.{XlIngest, XlsxReader, XlsxWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import scala.util.Random

/** Order-insensitive content digest of a frame: row count and the sum of
  * per-row hashes modulo a prime. Columns are taken in name order, so a
  * read-back whose sink reorders columns (partition columns move last)
  * still compares equal.
  */
final case class Digest(rows: Long, hash: Long)

object Digest {
  private val P = 1000000007L

  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.zipWithIndex.sortBy { case (c, i) => (c.toLowerCase, i) }
      .map { case (_, i) => df.col(df.columns(i)) }
    val named = df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
    named.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(named.columns.map(col): _*), lit(P))), lit(0L)))
  }

  def read(r: Row): Digest = Digest(r.getLong(0), r.getLong(1))
  def of(df: DataFrame): Digest = read(frame(df).head())
}

/** An operation's output did not match its reference. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** One timed operation. `run` returns the rows it delivered to its sink and
  * throws when it fails or its output is wrong.
  */
final case class Op(name: String, run: Trace => Long)

/** A gate whose warm-up output the oracle must confirm. */
final case class OracleCheck(gate: String, out: String, sql: String)

trait Workload {
  /** Generates the inputs and stages every store; repeatable. */
  def stage(): Unit
  /** The untimed first pass; fixes reference outputs. Returns failures by op name. */
  def warmUp(): Seq[(String, String)]
  /** The operations of timed pass `pass`, in that pass's order. */
  def pass(pass: Int): Seq[Op]
  /** Tables the oracle reads, by name. */
  def inputs: Map[String, String] = Map.empty
  def oracle: Seq[OracleCheck] = Nil
}

object Workload {
  /** Seed of the generated table values. The workload seed picks only the
    * key shift, the ETL upsert batch and the operation order, so every seed
    * runs the same plans over the same value distribution.
    */
  val DataSeed = 42L

  /** Key shift between scale-up copies, drawn from the seed; far above any base key. */
  def shift(seed: Long): Long = (1L + new Random(seed).nextInt(1000)) * 1000000000L

  def apply(name: String, spark: SparkSession, work: String, seed: Long, cores: Int): Workload =
    name match {
      case "gates" =>
        new Gates(spark, work, seed, cores, sf = 0.002, copies = 10,
          Seq("q1_agg", "q_tpch_q2", "q_tpch_q21", "q_pagerank"))
      case "etl_sinks" => new Etl(spark, work, seed, cores, sf = 0.01)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Registered gates over generated tables. An operation is one gate: its
  * `RegisteredQuery.run` (construction) and then its measured action, a
  * digest of the whole result.
  */
final class Gates(spark: SparkSession, work: String, seed: Long, cores: Int,
                  sf: Double, copies: Int, gates: Seq[String]) extends Workload {
  private val dir = s"$work/data"
  private val queries = graft.SparkEntry.queries
  private val oracleSql = graft.SparkEntry.oracleSql
  private val refs = scala.collection.mutable.Map[String, Digest]()

  override def inputs: Map[String, String] = Gen.tables.map(t => t -> s"$dir/$t.parquet").toMap

  def stage(): Unit = Gen.write(spark, dir, Workload.DataSeed, sf, cores, copies, Workload.shift(seed))

  private def out(g: String) = s"$work/out/$g"

  def warmUp(): Seq[(String, String)] = gates.flatMap { g =>
    Main.log(s"warm-up $g")
    try {
      queries(g)(spark, dir).write.mode("overwrite").parquet(out(g))
      refs(g) = Digest.of(spark.read.parquet(out(g)))
      None
    } catch { case e: Exception => Some(g -> Main.describe(e)) }
  }

  override def oracle: Seq[OracleCheck] =
    gates.filter(g => refs.contains(g) && oracleSql.contains(g)).map(g => OracleCheck(g, out(g), oracleSql(g)))

  def pass(pass: Int): Seq[Op] = new Random(seed * 7919 + pass).shuffle(gates).map { g =>
    Op(g, t => {
      val df = t.construct(queries(g)(spark, dir))
      val got = Digest.read(t.action(Digest.frame(df)).head)
      val want = refs.getOrElse(g, throw new WrongOutput("no reference output from warm-up"))
      if (got != want) throw new WrongOutput(s"digest $got differs from warm-up $want")
      got.rows
    })
  }
}

/** What the ETL chains start from, with the digests their read-backs must match. */
private final case class Staged(srcBytes: Long, batchBytes: Long, src: Digest, batch: Digest,
                                upserted: Digest, customer: Digest, customerAsXl: Digest)

/** Dispatcher-shaped read -> write chains at scale factor `sf`. Every write
  * step delivers a whole frame to its sink; every read-back compares the
  * sink's content with a digest of the frame that should be there.
  */
final class Etl(spark: SparkSession, work: String, seed: Long, cores: Int, sf: Double)
    extends Workload {
  private val dir = s"$work/data"
  private val etl = s"$work/etl"
  private val src = s"$etl/src.parquet"
  private val batch = s"$etl/batch.parquet"
  private val jdbc = new JdbcExecutor(s"jdbc:derby:memory:perfbench_$seed;create=true")
  private val store = new ParquetStore(s"$etl/store")
  private val lake = s"$etl/lake"
  private val csv = s"$etl/orders.csv"
  private val xlsx = s"$etl/customer.xlsx"
  private val key = "o_orderkey"

  private var s: Staged = _

  private def bytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  private def customer: DataFrame = spark.read.parquet(s"$dir/customer.parquet")

  def stage(): Unit = {
    Gen.write(spark, dir, Workload.DataSeed, sf, cores, tables = Seq("customer", "orders"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    // the upsert batch: a seeded tenth of the keys repriced, plus a fiftieth new keys
    val h = pmod(xxhash64(col(key), lit(seed)), lit(50))
    val updates = orders.where(h < 5).withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    val inserts = orders.where(h === 5).withColumn(key, col(key) + lit(Gen.Sizes(sf).orders))
    orders.write.mode("overwrite").parquet(src)
    updates.unionByName(inserts).write.mode("overwrite").parquet(batch)
    val b = spark.read.parquet(batch)
    val upserted = orders.join(b.select(key), Seq(key), "left_anti").unionByName(b)
    val c = customer
    val asXl = c.select(c.schema.fields.toSeq.map(f => f.dataType match {
      case _: NumericType => col(f.name).cast("double").as(f.name) // spreadsheet numbers are doubles
      case _ => col(f.name)
    }): _*)
    s = Staged(bytes(src), bytes(batch), Digest.of(orders), Digest.of(b), Digest.of(upserted),
      Digest.of(c), Digest.of(asXl))
    Seq("etl_orders", "etl_customer").filter(jdbc.tableExists).foreach(jdbc.dropTable)
  }

  private def read(path: String) = spark.read.parquet(path)

  private def check(what: String, got: Digest, want: Digest): Long =
    if (got == want) 0L else throw new WrongOutput(s"$what read back $got, expected $want")

  /** A file-sink write step: `bytes` is its incoming batch on disk, for write amplification. */
  private def fileWrite(t: Trace, name: String, bytes: Long, rows: Long)(body: => Unit): Long = {
    t.incoming(bytes)
    t.span(name)(body)
    rows
  }

  private def chains: Seq[Seq[Op]] = Seq(
    Seq(
      Op("pipeline.csv_replace", t => {
        t.incoming(s.srcBytes)
        t.span("pipeline.write")(Pipeline.fromParquet(src).write(spark)(df =>
          t.span("sources.csv.write")(Csv.write(df, csv))))
        s.src.rows
      }),
      Op("csv.read", t => check("csv", t.span("sources.csv.read")(
        Digest.of(Csv.read(spark, csv, CsvReadOptions(schema = Some(read(src).schema))))), s.src))),
    Seq(
      Op("parquet_store.replace", t => fileWrite(t, "sources.parquet_store.replace", s.srcBytes, s.src.rows)(
        store.write(read(src), "orders", SaveStrategy.Replace))),
      Op("parquet_store.upsert", t => fileWrite(t, "sources.parquet_store.upsert", s.batchBytes, s.batch.rows)(
        store.write(read(batch), "orders", SaveStrategy.Upsert(key)))),
      Op("parquet_store.read", _ => check("parquet store", Digest.of(store.read(spark, "orders")), s.upserted))),
    Seq(
      Op("lake_merge.bootstrap", t => {
        val p = new org.apache.hadoop.fs.Path(lake)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        fileWrite(t, "sources.lake_merge.merge", s.srcBytes, s.src.rows)(
          LakeMerge.merge(spark, lake, read(src), Seq(key), Seq("o_orderpriority")))
      }),
      Op("lake_merge.merge", t => fileWrite(t, "sources.lake_merge.merge", s.batchBytes, s.batch.rows)(
        LakeMerge.merge(spark, lake, read(batch), Seq(key), Seq("o_orderpriority")))),
      Op("lake_merge.read", _ => check("lake", Digest.of(spark.read.parquet(lake)), s.upserted))),
    Seq(
      Op("jdbc.replace", t => {
        t.span("sources.jdbc.replace")(jdbc.write(read(src), "etl_orders", SaveStrategy.Replace))
        // a replaced table has no key index; upserts look rows up by key
        jdbc.createIndex("etl_orders", key, "etl_orders_key")
        s.src.rows
      }),
      Op("jdbc.upsert", t => {
        t.span("sources.jdbc.upsert")(jdbc.write(read(batch), "etl_orders", SaveStrategy.Upsert(key)))
        s.batch.rows
      }),
      Op("jdbc.select", t => check("jdbc", t.span("sources.jdbc.select")(Digest.of(
        jdbc.select(spark, Select("etl_orders", read(src).columns.toSeq.map(c => Col(c)))))), s.upserted))),
    Seq(
      Op("xl.write", t => { t.span("xl.write")(XlsxWriter.writeDataFrame(xlsx, customer)); s.customer.rows }),
      Op("xl.ingest", t => {
        val reader = new XlsxReader(xlsx)
        try t.span("xl.ingest")(XlIngest.run(spark, reader, "data", SaveStrategy.Replace,
          (df, strategy) => { t.count("xl.batches", 1); jdbc.write(df, "etl_customer", strategy) },
          batchSize = 500))
        finally reader.close()
      }),
      Op("xl.read", _ => check("xlsx ingest", Digest.of(jdbc.readTable(spark, "etl_customer")), s.customerAsXl))),
    Seq(
      Op("wire.roundtrip", t => {
        val json = t.span("wire.encode")(JsonWire.toJson(Fabrix(customer), JsonWire.WireType.Dataset))
        val back = t.span("wire.decode")(JsonWire.fromJson(spark, json, JsonWire.WireType.Dataset))
        check("json wire", Digest.of(back.df), s.customer)
        s.customer.rows
      })))

  def warmUp(): Seq[(String, String)] = chains.flatten.flatMap { op =>
    Main.log(s"warm-up ${op.name}")
    try { op.run(Trace.untraced); None }
    catch { case e: Exception => Some(op.name -> Main.describe(e)) }
  }

  /** Chains keep their inner order (a read-back follows its writes); the
    * chain order is drawn per pass from the seed.
    */
  def pass(pass: Int): Seq[Op] = new Random(seed * 7919 + pass).shuffle(chains).flatten
}
