package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join over SHORT strings (names, titles,
  * SKUs, user handles) — all pairs within Levenshtein distance ≤ k; entity
  * resolution / catalog dedup, the string-level complement of the
  * shingle-based document near-dup family ([[graft.llm.Dedup]]: MinHash for
  * document-scale text, this for key-length strings where edit distance is
  * the right metric).
  *
  * Candidate generation is DELETION-NEIGHBORHOOD blocking (FastSS, Bocek
  * et al. 2007; the SymSpell indexing scheme): every string emits the
  * variants reachable by deleting ≤ k characters, and
  * `ed(a,b) ≤ k ⇒ dels≤k(a) ∩ dels≤k(b) ≠ ∅` — within ≤ k edits both
  * strings delete down to a common subsequence of the optimal alignment,
  * so sharing a variant is a LOSSLESS candidate condition (never drops a
  * true pair; exact `levenshtein` verifies survivors). Chosen over q-gram
  * prefix filtering (ED-Join) deliberately: on low-entropy key spaces
  * (zero-padded ids, constant prefixes — exactly what catalogs hold) gram
  * buckets collapse onto a few hundred distinct tokens and the candidate
  * join goes quadratic (measured: 10M candidates for 262k true pairs at
  * q=3, worse at q=4), while deletion variants stay near-unique — the
  * bucket IS the near-match set.
  *
  * Scale shape (100 TB catalog): per string O(len) variants at k=1,
  * O(len²) at k=2 — the short-string contract bounds this (a 64-char key
  * at k=2 is ~2k variants; document-length text belongs to MinHash).
  * Variants ship as 60-bit md5 fingerprints ([[TextFunctions.hash60]]),
  * so the one wide shuffle carries 8-byte keys + the short payload, never
  * concatenated variant text; a fingerprint collision only ever ADDS a
  * candidate for the verifier to reject. Join buckets are variant-keyed:
  * their size is the local near-match density, not corpus size — nothing
  * is quadratic in the corpus anywhere. The verify stage touches
  * candidates only.
  *
  * Reference scope note: fabrix has no similarity operators — extension
  * surface beside L45's MinHash family.
  */
object EdJoin {

  /** All pairs (`id_a` < `id_b`, `dist`) of `df`'s `strCol` values within
    * edit distance ≤ `k` (k = 1 or 2 — the deletion-blocking domain; larger
    * radii on short strings mean the metric, not the threshold, is wrong).
    * Null strings never pair.
    *
    * `maxBucket` bounds the DEGENERATE variant bucket (the
    * [[graft.llm.Dedup.dedupMinhashPairs]] cap applied to deletion
    * blocking): a near-identical key corpus concentrates one variant
    * bucket — the bucket IS the true near-match set, so candidate volume
    * n² is output-shaped but may still be more than a capped pipeline
    * wants. With a cap, each bucket's left side is its `maxBucket`
    * lowest-id REPRESENTATIVES (a partial-agg'd bounded BottomK — a whale
    * bucket collapses map-side, never a window sort) and every member
    * still pairs against them, so the capped output is ⊆ the exact pairs
    * with every overflow-bucket member reachable from the representative
    * set (connected-component resolution keeps the cluster whole).
    * Honest, not silent: pairs between two non-representatives of an
    * overflowing bucket are only found via another shared variant — audit
    * with [[bucketOverflow]] before trusting a capped run. Default
    * `Int.MaxValue` = exact (uncapped).
    */
  def selfJoin(df: DataFrame, idCol: String, strCol: String, k: Int,
               maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k == 1 || k == 2,
      s"deletion blocking covers k in {1, 2}, got $k (for coarser matching use minhash)")
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val toks = variantHashes(df, idCol, strCol, k)

    // capped: the a-side shrinks to ≤maxBucket lowest-id reps per variant
    // hash; payload (len, s) rejoins by 8-byte id against the rep sliver
    val a =
      if (maxBucket == Int.MaxValue)
        toks.select(col("h"), col("id").as("id_a"), col("len").as("len_a"),
          col("s").as("s_a"))
      else
        toks.groupBy(col("h"))
          .agg(graft.functions.BottomK(maxBucket)(col("id")).as("__reps"))
          .select(col("h"), explode(col("__reps")).as("id_a"))
          .join(df.select(col(idCol).cast("long").as("id_a"),
              col(strCol).as("s_a"))
            .where(col("s_a").isNotNull)
            .withColumn("len_a", length(col("s_a"))), Seq("id_a"))
    val b = toks.select(col("h"), col("id").as("id_b"), col("len").as("len_b"), col("s").as("s_b"))
    a.join(b, Seq("h"))
      .where(col("id_a") < col("id_b") && abs(col("len_a") - col("len_b")) <= k)
      .select("id_a", "s_a", "id_b", "s_b").distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .where(col("dist") <= k)
      .select("id_a", "id_b", "dist")
  }

  /** Audit for a capped [[selfJoin]] run: the (variant hash, n_members)
    * buckets whose population exceeds `maxBucket` — exactly the buckets
    * where the cap approximates (pairs between two non-representatives
    * may be missed). Empty result ⇒ the capped run was exact. One
    * partial-agg'd count shuffle; output is overflow-sized (degenerate
    * key corpora only). Same variant generation as [[selfJoin]], shared
    * by construction.
    */
  def bucketOverflow(df: DataFrame, idCol: String, strCol: String, k: Int,
                     maxBucket: Int): DataFrame = {
    require(k == 1 || k == 2,
      s"deletion blocking covers k in {1, 2}, got $k")
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    variantHashes(df, idCol, strCol, k)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)
  }

  /** (id, len, s, h) — one row per deletion variant; the single variant
    * definition [[selfJoin]] and [[bucketOverflow]] share.
    */
  private def variantHashes(df: DataFrame, idCol: String, strCol: String,
                            k: Int): DataFrame = {
    // variant generation is the CPU-heavy stage (O(len·k) string surgery
    // per row in the scan); a small parquet file arrives as ONE partition,
    // which would serialize it — spread the input first
    val src = graft.Guards.fanOut(df)
    val base = src.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .where(col("s").isNotNull)
      .withColumn("len", length(col("s")))
    val del1 = "transform(sequence(0, len - 1), i -> concat(substring(s, 1, i), substring(s, i + 2)))"
    val del2 = """flatten(transform(sequence(0, len - 2), i ->
        transform(sequence(i + 1, len - 1), j ->
          concat(substring(s, 1, i), substring(s, i + 2, j - i - 1), substring(s, j + 2)))))"""
    val variants =
      if (k == 1) s"array_distinct(concat(array(s), $del1))"
      else s"array_distinct(concat(array(s), $del1, $del2))"
    // guard: sequence(0, -1) errors rather than returning empty — route
    // len<=k strings through array(s) alone; deletion variants use 0-based
    // delete positions rendered with 1-based SQL substring
    base.select(col("id"), col("len"), col("s"),
      explode(expr(s"""CASE WHEN len = 0 THEN array(s)
                            WHEN len = 1 THEN array(s, '')
                            ELSE $variants END""")).as("v"))
      .select(col("id"), col("len"), col("s"), TextFunctions.hash60(col("v")).as("h"))
  }

  /** DuckDB replay: the naive quadratic join (the semantics, minus the
    * blocking — sound because deletion-variant candidate generation is
    * lossless).
    */
  def oracleSql(table: String, idE: String, strE: String, k: Int): String =
    s"""SELECT a.$idE AS id_a, b.$idE AS id_b,
CAST(levenshtein(a.$strE, b.$strE) AS BIGINT) AS dist
FROM $table a JOIN $table b ON a.$idE < b.$idE
WHERE a.$strE IS NOT NULL AND b.$strE IS NOT NULL
  AND abs(length(a.$strE) - length(b.$strE)) <= $k
  AND levenshtein(a.$strE, b.$strE) <= $k
ORDER BY id_a, id_b"""
}
