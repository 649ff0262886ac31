package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

/** Exact shingle-set CONTAINMENT self-join — pairs where the smaller
  * document's shingle set is mostly inside the larger one's:
  * `|A∩B| / min(|A|,|B|) ≥ τ`. The asymmetric complement of
  * [[JaccardJoin]]: a 200-token quote embedded in a 20k-token page has
  * near-zero Jaccard (so MinHash LSH and the Jaccard join both miss it)
  * but containment ≈ 1 — this is the quotation / wholesale-inclusion
  * detector behind L45-style contamination audits (benchmark questions
  * pasted inside crawl pages) and subset dedup.
  *
  * Candidate generation is prefix filtering on the SMALLER side only
  * (the containment-join adaptation of AllPairs: `|A∩B| ≥ ⌈τ·|A|⌉` for
  * the smaller set A, so a df-ascending prefix of A of length
  * `|A| − ⌈τ·|A|⌉ + 1` must hit the intersection — the larger side gets
  * no lossless prefix because its required overlap FRACTION can be
  * arbitrarily small, so it contributes its FULL shingle list to the
  * index side). Exact verify on candidates; cross-multiplied integer
  * threshold — bit-identical qualification on any engine. (The prefix
  * cut is itself the probe-side position filter — see the candidate
  * join note.)
  *
  * Scale shape: candidate cost is Σ over PROBE prefix entries of
  * df(shingle) — the probe side carries only rarest-first prefixes, so a
  * stopword shingle enters the probe only for documents where nothing
  * rarer exists; shingles ship as 60-bit fingerprints; the verify join
  * touches candidates only. A corpus-frequent shingle inflates the index
  * side of its own key only — `maxDf` cuts it from BOTH candidate sides:
  * the prefix is then computed over the KEPT (df ≤ maxDf) shingles with
  * the pigeonhole arithmetic adjusted for the worst case that every
  * dropped shingle is shared (required kept-hits = need − dropped, so the
  * prefix length formula sz − need + 1 is unchanged, just applied to the
  * kept list). The cut is LOSSLESS for every document whose dropped
  * count stays under `need` (verify is always exact on full sets); a
  * document with dropped ≥ need could qualify purely on ubiquitous
  * shingles, so its pairs AS THE SMALLER SIDE may be missed — audit
  * those with [[prefixOverflow]] before trusting a capped run (the
  * [[graft.llm.Dedup.lshBucketOverflow]] discipline). Default
  * `Long.MaxValue` = exact (uncapped).
  */
object ContainmentJoin {

  /** The id rides `cast("long")` through every internal key — a
    * non-integral id would cast to NULL for every row, the joins would
    * produce no candidates, and [[dropContained]] would silently keep
    * everything (the [[graft.llm.Dedup.dedupMinhashPairs]] maxBucket
    * guard discipline: fail loudly instead).
    */
  private def requireIntegralId(df: DataFrame, idCol: String, fn: String): Unit =
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"$fn needs an integral id column (map string ids to longs first); " +
          s"$idCol is ${other.catalogString}")
    }

  /** (id_a, id_b, n_inter, n_small, containment) with id_a < id_b and
    * `n_inter·minDen ≥ minNum·n_small`, where n_small = min(|A|,|B|) over
    * distinct n-token shingle sets.
    */
  /** The shared shingle prep: checkpointed (id, fingerprint-set) `base`,
    * its exploded (id, sz, h) form `ex`, and per-shingle document
    * frequencies `dfreq` — one definition feeding [[selfJoin]] and
    * [[prefixOverflow]] so the audit can never drift from the audited
    * pipeline. The 60-bit shingle FINGERPRINT set is the working
    * representation end-to-end (the dedup-family hash-membership
    * contract): the verify intersects long arrays — ~5× less shuffle
    * than shingle strings and far cheaper set probes.
    */
  private def prep(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): (DataFrame, DataFrame, DataFrame) = {
    val src = graft.Guards.fanOut(docs)
    val base = src
      .select(col(idCol).cast("long").as("__id"),
        array_distinct(transform(
          TextFunctions.shingleSet(col(textCol), n),
          s => TextFunctions.hash60(s))).as("__s"))
      .localCheckpoint(true)
    val ex = base.select(col("__id"), size(col("__s")).as("__sz"),
      explode(col("__s")).as("__h"))
    val dfreq = ex.groupBy("__h").agg(count(lit(1)).as("__df"))
    (base, ex, dfreq)
  }

  def selfJoin(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3, minNum: Long = 9, minDen: Long = 10,
               maxDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(minDen > 0 && minNum > 0 && minNum <= minDen,
      s"threshold $minNum/$minDen must be a fraction in (0, 1]")
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    requireIntegralId(docs, idCol, "selfJoin")
    val (base, ex, dfreq) = prep(docs, idCol, textCol, n)
    val need = expr(s"($minNum * __sz + ${minDen - 1}) div $minDen")
    // the maxDf cut applies to CANDIDATE GENERATION only (both sides);
    // verify below intersects the FULL fingerprint sets, so a surviving
    // candidate's containment is always exact
    val kept = ex.join(dfreq, "__h").where(col("__df") <= maxDf)
    // probe = rarest-first prefix of every doc's KEPT shingles
    // (smaller-side filter); index = every doc's kept shingle list
    val prefix = kept
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__h"))))
      .where(col("__rn") <= col("__sz") - need + lit(1))
      .select(col("__h").as("__ph"), col("__id").as("__pid"),
        col("__sz").as("__psz"), col("__rn").as("__prn"))

    // direction: the PROBE must be the smaller set ((sz, id) total order).
    // No extra position predicate: the prefix cut (rn ≤ sz − ⌈τ·sz⌉ + 1)
    // already IS the probe-side position bound — "a hit at position i
    // caps overlap at 1 + (sz − i) ≥ ⌈τ·sz⌉" rearranges to exactly that
    // cut, so a further filter would never prune a surviving row (a real
    // ppjoin-style tightening would need the INDEX side's position too,
    // which full lists don't carry)
    val cand = prefix.join(kept,
        col("__ph") === col("__h") && (
          col("__psz") < col("__sz") ||
            (col("__psz") === col("__sz") && col("__pid") =!= col("__id"))))
      .select(least(col("__pid"), col("__id")).as("id_a"),
        greatest(col("__pid"), col("__id")).as("id_b"))
      .distinct()

    val inter = size(array_intersect(col("sa.__s"), col("sb.__s"))).cast("long")
    val small = least(size(col("sa.__s")), size(col("sb.__s"))).cast("long")
    cand
      .join(base.as("sa"), col("id_a") === col("sa.__id"))
      .join(base.as("sb"), col("id_b") === col("sb.__id"))
      .where(inter * minDen >= lit(minNum) * small)
      .select(col("id_a"), col("id_b"), inter.as("n_inter"), small.as("n_small"),
        (inter.cast(DoubleType) / small.cast(DoubleType)).as("containment"),
        // which side is the CONTAINED (smaller) document — ties to id_a,
        // so the subset-dedup policy below is a total, deterministic rule
        when(size(col("sa.__s")) <= size(col("sb.__s")), col("id_a"))
          .otherwise(col("id_b")).as("contained_id"))
  }

  /** Subset dedup: drop every document that appears as the CONTAINED side
    * of a qualifying pair — the cleanup policy [[selfJoin]] exists to
    * feed. The drop list is pair-sized (anti-join — NULL ids survive,
    * the equi-join contract). One-pass policy caveat at τ < 1: in a
    * chain where A is τ-contained in B and B in C, BOTH A and B drop
    * even though (A, C) itself may fall below τ — the dropped doc's
    * guaranteed survivor is its own container, not a transitive one;
    * run at τ = 1 — or [[dropContainedIterate]] — when strict survivor
    * coverage matters.
    */
  def dropContained(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, minNum: Long = 9, minDen: Long = 10): DataFrame = {
    val contained = selfJoin(docs, idCol, textCol, n, minNum, minDen)
      .select(col("contained_id").as("__cid")).distinct()
    docs.join(contained, col(idCol) === col("__cid"), "left_anti")
  }

  /** Audit twin for a `maxDf`-capped [[selfJoin]] — one row per document
    * whose prefix guarantee the cut broke: dropped ≥ need means the doc
    * could be τ-contained in another purely via df-over-cap shingles, so
    * its pairs AS THE SMALLER SIDE may be missed. Empty result = the
    * capped run was lossless. Columns: (id, n_shingles, n_kept,
    * n_dropped, need).
    */
  def prefixOverflow(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, minNum: Long = 9, minDen: Long = 10,
                     maxDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    requireIntegralId(docs, idCol, "prefixOverflow")
    val (_, ex, dfreq) = prep(docs, idCol, textCol, n)
    ex.join(dfreq, "__h")
      .withColumnRenamed("__id", "id")
      .groupBy("id").agg(
        max(col("__sz")).cast("long").as("n_shingles"),
        sum(when(col("__df") <= maxDf, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__df") > maxDf, 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("need",
        expr(s"($minNum * n_shingles + ${minDen - 1}) div $minDen").cast("long"))
      .where(col("n_dropped") >= col("need"))
      .select(col("id"), col("n_shingles"), col("n_kept"),
        col("n_dropped"), col("need"))
  }

  /** Fixpoint subset dedup — closes [[dropContained]]'s one-pass chain
    * caveat. Each pass drops only contained documents whose CONTAINER is
    * not itself contained (maximal containers survive), then re-runs the
    * join on the survivors: in an A τ⊂ B τ⊂ C chain, pass 1 drops B
    * (container C survives) but keeps A (its container B died), and pass
    * 2 re-tests A against C directly — every dropped document is
    * guaranteed a SURVIVING τ-container, the strict survivor-coverage
    * contract. A cyclic containment cluster at τ < 1 (A⊂B⊂C⊂A as
    * separate pairs) has no maximal element; its members all survive
    * (documented, not silent: the loop stops when no safe drop exists).
    * Passes are bounded by `maxIters` (chains longer than that survive
    * partially); each survivor set is checkpointed so lineage stays flat.
    */
  def dropContainedIterate(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, minNum: Long = 9, minDen: Long = 10,
                           maxIters: Int = 10,
                           maxDf: Long = Long.MaxValue): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    requireIntegralId(docs, idCol, "dropContainedIterate")
    var current = docs.localCheckpoint(true)
    var iter = 0
    var progress = true
    while (progress && iter < maxIters) {
      iter += 1
      val pairs = selfJoin(current, idCol, textCol, n, minNum, minDen, maxDf)
        .select(col("contained_id"),
          when(col("contained_id") === col("id_a"), col("id_b"))
            .otherwise(col("id_a")).as("__container"))
        .localCheckpoint(true)
      val containedIds = pairs.select(col("contained_id").as("__cid")).distinct()
      // safe drop = some container of mine survives this pass
      val droppable = pairs
        .join(containedIds, col("__container") === col("__cid"), "left_anti")
        .select(col("contained_id").as("__drop")).distinct()
      if (droppable.isEmpty) progress = false
      else current = current
        .join(droppable, col(idCol) === col("__drop"), "left_anti")
        .localCheckpoint(true)
    }
    current
  }

  /** DuckDB replay: the naive quadratic join over the same 60-bit
    * fingerprint sets (shared shingle CTEs, then hashed + re-distincted —
    * the hash-membership contract) and the same cross-multiplied
    * threshold.
    */
  def oracleSql(table: String, idCol: String, textCol: String,
                n: Int = 3, minNum: Long = 9, minDen: Long = 10): String =
    s"""WITH ${graft.llm.Dedup.shingleCtes(table, idCol, textCol, n)},
hs AS (SELECT doc_id_, list_distinct(list_transform(s,
    x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT))) AS s FROM sh),
sz AS (SELECT doc_id_, s, len(s) AS sz FROM hs)
SELECT a.doc_id_ AS id_a, b.doc_id_ AS id_b,
  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
  CAST(least(a.sz, b.sz) AS BIGINT) AS n_small,
  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / least(a.sz, b.sz) AS containment,
  CASE WHEN a.sz <= b.sz THEN a.doc_id_ ELSE b.doc_id_ END AS contained_id
FROM sz a JOIN sz b ON a.doc_id_ < b.doc_id_
WHERE len(list_intersect(a.s, b.s)) * $minDen >= $minNum * least(a.sz, b.sz)
ORDER BY 1, 2"""

  /** DuckDB replay of [[dropContained]] — keep rows whose id never
    * appears as a contained side.
    */
  def dropContainedOracle(table: String, idCol: String, textCol: String,
                          keepCols: Seq[String],
                          n: Int = 3, minNum: Long = 9, minDen: Long = 10): String =
    s"""WITH pairs AS (${oracleSql(table, idCol, textCol, n, minNum, minDen)})
SELECT ${keepCols.mkString(", ")} FROM $table t
WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.contained_id = t.$idCol)
ORDER BY $idCol"""
}
