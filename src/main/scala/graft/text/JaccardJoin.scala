package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exact n-gram Jaccard similarity self-join — all document pairs whose
  * token-shingle sets overlap at Jaccard ≥ τ, with NO approximation: the
  * deterministic complement of the MinHash LSH path
  * ([[graft.llm.Dedup.dedupMinhashPairs]]), for when recall must be 1.0
  * (contamination audits, eval-set isolation, dedup ground truth).
  *
  * Candidate generation is AllPairs/PPJoin PREFIX FILTERING (Bayardo et
  * al., WWW'07; Xiao et al., WWW'08): order every document's shingles by a
  * single global total order — document frequency ascending, hash as the
  * tie-break — and index only each document's first
  * `|S| − ⌈τ·|S|⌉ + 1` shingles (its prefix). Lossless: if
  * Jaccard(A,B) ≥ τ then `|A∩B| ≥ ⌈τ·|A|⌉`, and a prefix of A that avoided
  * A∩B entirely would leave all `≥ ⌈τ·|A|⌉` shared shingles inside a
  * suffix of length `⌈τ·|A|⌉ − 1` — impossible; the standard argument
  * extends to BOTH prefixes sharing an element under any common total
  * order. Every qualifying pair therefore collides on a prefix shingle,
  * and the exact `array_intersect` verify removes every false candidate.
  *
  * The threshold is INTEGERIZED (`τ = minNum/minDen`, kept as
  * `inter·minDen ≥ minNum·union` — cross-multiplied, no float ratio), so
  * the qualifying set is bit-identical on any engine.
  *
  * Scale shape (100 TB corpus): df-ascending ordering puts the RAREST
  * shingles in prefixes, so stopword-like shingles (the ones a naive
  * inverted-index join fans out quadratically on) never enter the
  * candidate join; candidate cost is Σ over prefix shingles of df², not
  * Σ over all shingles. Shingles ship as 60-bit fingerprints (8-byte
  * shuffle keys — a collision only widens a candidate list the verifier
  * then rejects); the per-document rank window partitions by document (a
  * bounded key); the verify join touches candidates only. Nothing is ever
  * all-pairs in corpus size.
  *
  * Reference scope note: fabrix has no similarity operators — extension
  * surface beside [[graft.llm.Dedup]] (MinHash/SimHash) and
  * [[EdJoin]] (edit distance).
  */
object JaccardJoin {

  /** (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ minNum/minDen,
    * over distinct n-token shingle sets of `textCol`.
    */
  def selfJoin(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3, minNum: Long = 1, minDen: Long = 2): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(minDen > 0 && minNum > 0 && minNum <= minDen,
      s"threshold $minNum/$minDen must be a fraction in (0, 1]")
    // shingle sets are consumed three times (df counting, prefix ranking,
    // both sides of the verify join) — materialize once, blocks owned by
    // the ContextCleaner (see Dedup.prepareBands for the discipline)
    val src = graft.Guards.fanOut(docs)
    val base = src
      .select(col(idCol).cast("long").as("__id"),
        TextFunctions.shingleSet(col(textCol), n).as("__s"))
      .localCheckpoint(true)

    val ex = base.select(col("__id"), size(col("__s")).as("__sz"),
      explode(col("__s")).as("__sh"))
      .select(col("__id"), col("__sz"), TextFunctions.hash60(col("__sh")).as("__h"))
    val dfreq = ex.groupBy("__h").agg(count(lit(1)).as("__df"))
    // prefix length |S| − ⌈τ|S|⌉ + 1 with ⌈num·sz/den⌉ in integers
    val need = expr(s"($minNum * __sz + ${minDen - 1}) div $minDen")
    val prefix = ex.join(dfreq, "__h")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__h"))))
      .where(col("__rn") <= col("__sz") - need + lit(1))
      .select(col("__h"), col("__id"), col("__sz"), col("__rn"))

    // candidate pruning BEFORE the exact verify (both filters lossless,
    // standard AllPairs/PPJoin theory — they only reject pairs the verify
    // would reject, so the qualifying set is unchanged):
    //  - length filter: Jaccard ≥ τ forces τ·|B| ≤ |A| (and symmetrically),
    //    so wildly mismatched sizes never reach the intersect;
    //  - position filter: a collision at prefix positions (i, j) bounds the
    //    overlap by 1 + min(|A|−i, |B|−j), and Jaccard ≥ τ needs overlap
    //    ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉ — cross-multiplied to stay integer-exact.
    // The verify stage's cost is one array_intersect per CANDIDATE, so
    // pruning here is what keeps the tail stage off the bench profile.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id") &&
          col("b.__sz") * minNum <= col("a.__sz") * minDen &&
          col("a.__sz") * minNum <= col("b.__sz") * minDen &&
          (lit(1) + least(col("a.__sz") - col("a.__rn"), col("b.__sz") - col("b.__rn"))) *
            (minNum + minDen) >= lit(minNum) * (col("a.__sz") + col("b.__sz")))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()

    val inter = size(array_intersect(col("sa.__s"), col("sb.__s"))).cast("long")
    val union = size(col("sa.__s")).cast("long") + size(col("sb.__s")).cast("long") - inter
    cand
      .join(base.as("sa"), col("id_a") === col("sa.__id"))
      .join(base.as("sb"), col("id_b") === col("sb.__id"))
      .where(inter * minDen >= lit(minNum) * union)
      .select(col("id_a"), col("id_b"),
        (inter.cast(DoubleType) / union).as("jaccard"))
  }

  /** DuckDB replay: the naive quadratic join with the same shingle sets
    * (CTE shared with the MinHash oracle so the shingle SQL cannot drift)
    * and the same cross-multiplied threshold.
    */
  def oracleSql(table: String, idCol: String, textCol: String,
                n: Int = 3, minNum: Long = 1, minDen: Long = 2): String =
    s"""WITH ${graft.llm.Dedup.shingleCtes(table, idCol, textCol, n)},
sz AS (SELECT doc_id_, s, len(s) AS sz FROM sh)
SELECT a.doc_id_ AS id_a, b.doc_id_ AS id_b,
  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
    / (a.sz + b.sz - len(list_intersect(a.s, b.s))) AS jaccard
FROM sz a JOIN sz b ON a.doc_id_ < b.doc_id_
WHERE len(list_intersect(a.s, b.s)) * $minDen
  >= $minNum * (a.sz + b.sz - len(list_intersect(a.s, b.s)))
ORDER BY 1, 2"""
}
