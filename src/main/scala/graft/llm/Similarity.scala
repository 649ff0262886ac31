package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Similarity search over an embedding column (`Array[Float]`) — brute-force
  * top-k as the baseline, sign-bit LSH bucketing as the scale path.
  *
  * Two score functions:
  *  - [[cosine]]: double-precision cosine, the production scorer.
  *  - [[dotQuantized]]: integer dot product over `floor(x * 10000)` — exact
  *    integer arithmetic, bit-identical on every engine (float sums are
  *    order-dependent; a differential gate needs exact scores). `x * 10000`
  *    is exact in double for float inputs (24-bit mantissa * 14 bits fits
  *    53), so `floor` has no representation ties. Monotonic in cosine for
  *    unit-norm embeddings up to quantization error.
  *
  * Scale design: brute-force broadcasts only the (small) query set and
  * streams the corpus — no shuffle of the big side at all; the LSH variant
  * self-joins on a compact Long bucket key so comparisons are O(sum b_i^2),
  * never the n^2 cartesian. The reference has no similarity operators; this
  * is the LLM-pipeline extension surface (SURVEY §7 M7).
  */
object Similarity {

  /** Quantization scale for the exact-integer score. */
  val QuantScale = 10000

  /** Double-precision cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column = {
    def d(c: Column): Column = transform(c, x => x.cast(DoubleType))
    val dot = aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(d(a), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(d(b), lit(0.0), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** Exact-integer quantized vector: floor(x * QuantScale) as Long.
    * Portable reference form; the operators below use the fused native
    * [[graft.functions.QuantizedDot]] instead (same integers, one codegen'd
    * loop over the raw vectors, half the shuffle payload).
    */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast(DoubleType) * QuantScale).cast(LongType))

  /** Integer dot product of two quantized vectors (exact on every engine).
    * Interpreted HOF reference form of [[graft.functions.QuantizedDot]].
    */
  def dotQuantized(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Fused quantize+dot over RAW vectors — the hot-loop scorer. */
  def quantizedDot(a: Column, b: Column): Column =
    graft.functions.QuantizedDot(a, b)

  /** Brute-force top-k: score every (query, corpus) pair, keep the k best per
    * query. The query side is broadcast (small by contract); the corpus is
    * streamed through a BroadcastNestedLoopJoin — the corpus never shuffles.
    * Ranks are ties-broken by neighbor id, so output is total-ordered.
    */
  def bruteForceKnn(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val src = graft.Guards.fanOut(corpus)
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = src.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedDot(col("qv"), col("cv")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }

  /** Sign-bit LSH bucket: one bit per chosen dimension (1-based), packed into
    * a Long. Coordinate-sign hyperplanes are a valid random-hyperplane LSH
    * family for cosine; the dims are fixed so both engines bucket alike.
    */
  def signBucket(vec: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, i) =>
      when(element_at(vec, d) > 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  val DefaultLshDims: Seq[Int] = Seq(1, 17, 33, 49)

  /** Approximate top-k: join within sign-LSH buckets only. The self-join is
    * an equi-join on the Long bucket key — shuffle bounded by bucket sizes.
    */
  def lshKnn(
      corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Seq[Int] = DefaultLshDims): DataFrame = {
    val src = graft.Guards.fanOut(corpus)
    val b = src.select(
      col(idCol), signBucket(col(vecCol), dims).as("bucket"), col(vecCol).as("qv"))
    val scored = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("query_id"), col(s"b.$idCol").as("neighbor_id"),
        quantizedDot(col("a.qv"), col("b.qv")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed self-join (a < b),
    * keep pairs whose exact-integer quantized dot clears `minScore`
    * (≈ cosine × QuantScale² for unit-norm embeddings). Same
    * never-all-pairs shape as [[lshKnn]]; the threshold replaces the top-k
    * window, so no per-query state at all — a pure filter after the
    * bucket join.
    */
  def cosineDupPairs(
      corpus: DataFrame, minScore: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Seq[Int] = DefaultLshDims): DataFrame = {
    val src = graft.Guards.fanOut(corpus)
    val b = src.select(
      col(idCol), signBucket(col(vecCol), dims).as("bucket"), col(vecCol).as("qv"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"),
        quantizedDot(col("a.qv"), col("b.qv")).as("score"))
      .where(col("score") >= minScore)
  }

  def cosineDupOracle(table: String, idCol: String, vecCol: String, minScore: Long,
                      dim: Int, dims: Seq[Int] = DefaultLshDims): String = {
    val bucket = dims.zipWithIndex
      .map { case (d, i) => s"${1L << i}*(CASE WHEN $vecCol[$d] > 0 THEN 1 ELSE 0 END)" }
      .mkString(" + ")
    s"""WITH b AS (SELECT $idCol, $bucket AS bucket, ${quantSql(vecCol)} AS qv FROM $table)
SELECT a.$idCol AS left_id, b2.$idCol AS right_id, ${dotSql("a.qv", "b2.qv", dim)} AS score
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.$idCol < b2.$idCol
WHERE ${dotSql("a.qv", "b2.qv", dim)} >= $minScore ORDER BY left_id, right_id""".stripMargin
  }

  // ------------------------------------------------- DuckDB oracle SQL ----

  private[llm] def quantSql(e: String): String =
    s"list_transform($e, x -> CAST(floor(CAST(x AS DOUBLE)*$QuantScale) AS BIGINT))"

  private[llm] def dotSql(a: String, b: String, dim: Int): String =
    s"CAST(list_sum(list_transform(generate_series(1,$dim), i -> $a[i]*$b[i])) AS BIGINT)"

  def knnOracle(table: String, idCol: String, vecCol: String, queryPred: String,
                k: Int, dim: Int): String =
    s"""WITH qv AS (SELECT $idCol AS query_id, ${quantSql(vecCol)} AS q FROM $table WHERE $queryPred),
cv AS (SELECT $idCol AS neighbor_id, ${quantSql(vecCol)} AS c FROM $table),
s AS (SELECT query_id, neighbor_id, ${dotSql("q", "c", dim)} AS score FROM qv, cv WHERE query_id != neighbor_id),
r AS (SELECT query_id, neighbor_id, score, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def lshOracle(table: String, idCol: String, vecCol: String, k: Int, dim: Int,
                dims: Seq[Int] = DefaultLshDims): String = {
    val bucket = dims.zipWithIndex
      .map { case (d, i) => s"${1L << i}*(CASE WHEN $vecCol[$d] > 0 THEN 1 ELSE 0 END)" }
      .mkString(" + ")
    s"""WITH b AS (SELECT $idCol, $bucket AS bucket, ${quantSql(vecCol)} AS qv FROM $table),
s AS (SELECT a.$idCol AS query_id, b2.$idCol AS neighbor_id, ${dotSql("a.qv", "b2.qv", dim)} AS score
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.$idCol != b2.$idCol),
r AS (SELECT query_id, neighbor_id, score, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
