package graft.llm

import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deduplication operators for training-data pipelines — exact (fingerprint)
  * and near-dup (banded MinHash + LSH bucket join). Design target is 100 TB:
  *
  *  - Exact dedup is ONE shuffle: a window partitioned by the 8-byte
  *    fingerprint (never by the multi-KB text itself).
  *  - Near-dup never goes all-pairs: candidate pairs come from an equi-join
  *    on (band index, band key) — the shuffle is bounded by bucket sizes,
  *    O(sum b_i^2) comparisons instead of O(n^2). Exact Jaccard is computed
  *    only for candidates.
  *  - All hashing is md5-based Column arithmetic (codegen'd, no UDFs) and
  *    engine-portable, so a DuckDB oracle replays bit-identical results.
  *
  * Reference scope note: the fabrix reference has no dedup operators — this
  * is the LLM-pipeline extension surface (SURVEY §7 M7) built on the
  * [[graft.text.TextFunctions]] primitives.
  */
object Dedup {

  /** Default MinHash geometry: k = bands * rowsPerBand hash functions. */
  val DefaultBands = 4
  val DefaultRowsPerBand = 2

  /** Affine hash-family coefficients h_i(x) = (a_i*x + b_i) mod P, chosen
    * deterministic and small so a_i*x + b_i stays well inside Long range
    * (x < M ~ 1e9, a_i <= 2k-1).
    */
  def hashA(i: Int): Long = 2L * i + 1
  def hashB(i: Int): Long = (7919L * i + 12345L) % P

  /** Exact dedup: keep the lowest-id row per identical `textCol`. Single
    * shuffle on the 60-bit fingerprint; survivors keep all columns.
    *
    * Mass-duplication-safe by construction: the keeper is a PARTIAL-AGG'D
    * `min(struct(id, rest…))` per fingerprint — a 10⁶×-duplicated
    * fingerprint collapses to one candidate row per input partition
    * map-side, so no task ever buffers (or sorts) the whole duplicate
    * group the way a `min().over(partitionBy(fp))` window would. Struct
    * ordering is field-by-field with `idCol` leading, so with unique ids
    * the survivor is exactly the lowest-id row. Falls back to the
    * group-then-semi-join form (two shuffles, same answer) when a column
    * type is not orderable (maps), since structs containing one can't be
    * `min`'d.
    */
  def dedupExact(df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NULL-id rows are unrankable and drop (both code paths — and the old
    // keep-min-window form — agree; without this filter the struct-min
    // path would ELECT a null-id row, since nulls sort first in structs)
    val df = df0.where(col(idCol).isNotNull)
    val cols = df.columns.toIndexedSeq
    val ordered = (idCol +: cols.filterNot(_ == idCol)).map(col)
    val orderable = df.schema.fields.forall(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
    if (orderable)
      df.withColumn("__fp", fingerprint(col(textCol)))
        .groupBy(col("__fp"))
        .agg(min(struct(ordered: _*)).as("__row"))
        .select(cols.map(c => col(s"__row.`$c`").as(c)): _*)
    else {
      val withFp = df.withColumn("__fp", fingerprint(col(textCol)))
      val keep = withFp.groupBy(col("__fp")).agg(min(col(idCol)).as("__kid"))
        .withColumnRenamed("__fp", "__kfp")
      withFp.join(keep,
          col("__fp") <=> col("__kfp") && col(idCol) === col("__kid"),
          "left_semi")
        .drop("__fp")
    }
  }

  /** Incremental exact dedup: dedup a NEW batch against an existing corpus
    * represented only by its fingerprint set (`storeFps`, one `fp` Long
    * column) — the steady-state shape of a continuously-ingesting pipeline,
    * where re-fingerprinting the historical 100 TB per batch is a
    * non-starter. Known duplicates are anti-joined out FIRST (fp-keyed,
    * 8-byte — broadcast when the store side is small, shuffle otherwise),
    * so they never enter the in-batch keep-min shuffle; then the surviving
    * batch dedups internally via [[dedupExact]]. Append the survivors'
    * [[graft.text.TextFunctions.fingerprint]]s to the store to advance it.
    */
  def dedupIncremental(
      batch: DataFrame, storeFps: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val fresh = batch
      .withColumn("__fp", fingerprint(col(textCol)))
      .join(storeFps.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")
    dedupExact(fresh, textCol, idCol)
  }

  /** [[dedupIncremental]] with a bloom prefilter on the store — the shape
    * for when the store is too big to broadcast: a bloom of the store's
    * fingerprints (MBs for billions of keys, built once per batch, shipped
    * to every task as a plan object) splits the batch in the scan stage.
    * Bloom-NEGATIVE rows are definitely fresh (no false negatives) and
    * bypass the store join entirely — in steady state that is almost the
    * whole batch, so the anti-join shuffle carries only the bloom-positive
    * sliver (true duplicates + `fpp` of the fresh rows). Positives are
    * verified with the exact anti-join, so false positives cost a shuffled
    * row, never a wrongly dropped one: the result is EXACTLY
    * [[dedupIncremental]]'s, which is what keeps this oracle-checkable.
    *
    * The batch is scanned twice (once per branch) — a deliberate trade:
    * map-side scans are cheap next to the corpus-wide join shuffle the
    * negative branch skips.
    */
  def dedupIncrementalBloom(
      batch: DataFrame, storeFps: DataFrame,
      textCol: String, idCol: String,
      expectedStoreItems: Long, fpp: Double = 0.03): DataFrame = {
    // explicit treeAggregate rather than stat.bloomFilter: identical build
    // shape (per-partition filters OR-merged up a tree) but total on an
    // empty store, where the stat helper NPEs on its null aggregate buffer
    val bloom = storeFps.select(col("fp").cast("long")).rdd
      .treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(math.max(expectedStoreItems, 1L), fpp))(
        (f, row) => { if (!row.isNullAt(0)) f.putLong(row.getLong(0)); f },
        (a, b) => { a.mergeInPlace(b); a })
    val withFp = batch.withColumn("__fp", fingerprint(col(textCol)))
    val cand = graft.functions.BloomMightContain(col("__fp"), bloom)
    // NULL text → NULL fingerprint → NULL probe: route to the fresh branch
    // (a NULL join key can never match the store in the anti-join either),
    // keeping the bloom path row-for-row identical to dedupIncremental
    val definitelyFresh = withFp.where(cand.isNull || !cand)
    val verified = withFp.where(cand)
      .join(storeFps.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .select(definitelyFresh.columns.map(col).toIndexedSeq: _*)
    dedupExact(definitelyFresh.unionByName(verified).drop("__fp"), textCol, idCol)
  }

  /** Oracle for [[dedupIncremental]] with the store defined as the
    * fingerprints of a filtered subset of the same table.
    */
  def incrementalOracle(
      table: String, idCol: String, textCol: String,
      storeWhereSql: String, keepCols: Seq[String]): String = {
    val fp = s"CAST(('0x'||substr(md5($textCol),1,15)) AS BIGINT)"
    s"""WITH store AS (SELECT DISTINCT $fp AS fp FROM $table WHERE $storeWhereSql),
b AS (SELECT *, $fp AS fp FROM $table),
f AS (SELECT * FROM b WHERE fp NOT IN (SELECT fp FROM store)),
k AS (SELECT *, min($idCol) OVER (PARTITION BY fp) AS keep FROM f)
SELECT ${keepCols.mkString(", ")} FROM k WHERE $idCol = keep ORDER BY $idCol""".stripMargin
  }

  /** Exact SUBSTRING dedup — the corpus-REWRITE form of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better"): instead
    * of dropping whole documents, remove repeated spans from inside them.
    * Documents are cut into consecutive non-overlapping `n`-token blocks; a
    * block whose text occurs `minCount`+ times corpus-wide is removed
    * everywhere EXCEPT its first occurrence (lowest (id, position) — so
    * exactly one copy of every boilerplate span survives, like C4's
    * repeated-span rule); documents are reassembled from their surviving
    * blocks in order. Whitespace is single-space-normalized by the
    * tokenize→reassemble round trip; a fully-boilerplate document stays in
    * the output with empty text (row count is preserved).
    *
    * Scale shape: blocking is scan-stage array surgery (no shuffle); the
    * occurrence rule is a PARTIAL-AGG'D per-fingerprint aggregate
    * (`count` + `min(struct(id, pos))` — a 10⁶×-duplicated boilerplate
    * span collapses to one partial row per input partition map-side,
    * never a single-task window sort of the whole duplicate group),
    * filtered to the repeated spans only (`cnt ≥ minCount` — the
    * boilerplate sliver, tiny next to the corpus) and equi-joined back on
    * the 60-bit fingerprint (8 bytes — never the block text; AQE
    * broadcasts the rule side when it fits); reassembly is one
    * groupBy(id) whose per-doc buffer is the document's own blocks — the
    * same bounded per-doc state as chunkDocs.
    */
  def dedupSpans(df: DataFrame, n: Int, minCount: Long,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n > 0, s"block size must be positive, got $n")
    require(minCount >= 2, s"minCount < 2 would remove every non-first block, got $minCount")
    val words = split(col(textCol), " ")
    // ceil(size/n) in exact double arithmetic (sizes ≪ 2^52); split never
    // yields an empty array, so nb >= 1 and sequence() never descends
    val nb = floor((size(words).cast(DoubleType) + (n - 1)) / n).cast("int")
    val blocks = transform(sequence(lit(0), nb - 1),
      i => array_join(slice(words, i * n + 1, lit(n)), " "))
    val ex = df.select(col(idCol), posexplode(blocks).as(Seq("pos", "btext")))
      .withColumn("__bh", hash60(col("btext")))
    // drop-rules: one row per REPEATED span fingerprint, carrying its
    // first occurrence (min (id, pos) — the surviving copy)
    val rules = ex.groupBy(col("__bh").as("__rh"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol).as("__fid"), col("pos").as("__fpos"))).as("__first"))
      .where(col("__cnt") >= minCount)
      .select(col("__rh"), col("__first.__fid").as("__fid"),
        col("__first.__fpos").as("__fpos"))
    val kept = ex.join(rules, col("__bh") === col("__rh"), "left")
      .where(col("__rh").isNull ||
        (col(idCol) === col("__fid") && col("pos") === col("__fpos")))
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("btext")))),
          x => x.getField("btext")), " ").as(textCol))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** DuckDB oracle for [[dedupSpans]]: same blocking (1-based list slices),
    * same md5-60 fingerprint, same (id, pos) first-occurrence rule, same
    * left-join-back empty-text contract. Parallel equal-length unnests zip
    * positions with blocks.
    */
  def spansOracle(table: String, idCol: String, textCol: String,
                  n: Int, minCount: Long): String = {
    val bh = "CAST(('0x'||substr(md5(btext),1,15)) AS BIGINT)"
    s"""WITH t AS (SELECT $idCol, string_split($textCol, ' ') AS w FROM $table),
b AS (SELECT $idCol, list_transform(range((len(w) + ${n - 1}) // $n),
  i -> array_to_string(w[i*$n+1 : i*$n+$n], ' ')) AS blocks FROM t),
e AS (SELECT $idCol, unnest(range(len(blocks))) AS pos, unnest(blocks) AS btext FROM b),
r AS (SELECT $idCol, pos, btext,
  row_number() OVER (PARTITION BY $bh ORDER BY $idCol, pos) AS occ,
  count(*) OVER (PARTITION BY $bh) AS cnt FROM e),
k AS (SELECT $idCol, string_agg(btext, ' ' ORDER BY pos) AS $textCol
  FROM r WHERE cnt < $minCount OR occ = 1 GROUP BY $idCol)
SELECT d.$idCol, coalesce(k.$textCol, '') AS $textCol
FROM $table d LEFT JOIN k ON d.$idCol = k.$idCol ORDER BY d.$idCol""".stripMargin
  }

  /** Exact dedup keeping the BEST row per duplicate group instead of the
    * lowest id — `score` ranks the candidates. The score must come from a
    * NON-text column (version, recency, source rank): rows in an
    * exact-duplicate group have identical text, so any text-derived metric
    * is constant within the group and degenerates to the id tiebreak.
    * Ties fall to lowest id so the winner is total. Same single fingerprint
    * shuffle as [[dedupExact]]. (For near-duplicate groups, where texts DO
    * differ, rank the clusters from [[dedupMinhashPairs]] by a
    * [[graft.text.TextFunctions]] quality metric instead.)
    *
    * Mass-duplication-safe like [[dedupExact]]: with numeric score and id
    * the keeper is a PARTIAL-AGG'D `max(struct(score, −id, row…))` per
    * fingerprint — highest score wins, score ties fall to the lowest id
    * (negated so `max` elects it), and a NULL score sorts first in struct
    * comparison so `max` treats it as worst, exactly the window form's
    * `desc` NULLS LAST. A 10⁶×-duplicated fingerprint collapses to one
    * candidate per input partition map-side; no task buffers the group.
    * NULL-id rows are unrankable and drop (the [[dedupExact]] contract).
    * Falls back to the per-fingerprint window (same answer, whale-exposed)
    * only for non-numeric score/id or non-orderable payload columns.
    * (Numeric-id edge: `−id` overflows ANSI on Long.MinValue — re-key
    * before ranking if ids can sit at the very bottom of the long range.)
    *
    * CONTRACT: `idCol` must uniquely identify rows (it is the total
    * tiebreak). If two rows share (score, id) within a fingerprint group,
    * the fast path's struct comparison falls through to the payload
    * columns while the window fallback and [[keepBestOracle]] leave the
    * winner engine-arbitrary — duplicate-id inputs can therefore differ
    * between the two paths (and flake a cross-engine gate). Re-key with a
    * genuinely unique id before calling if yours can repeat.
    */
  def dedupKeepBest(df0: DataFrame, textCol: String, idCol: String, score: Column): DataFrame = {
    val df = df0.where(col(idCol).isNotNull)
    val cols = df.columns.toIndexedSeq
    import org.apache.spark.sql.types.NumericType
    val scoreType = df.select(score.as("__sc")).schema.head.dataType
    val fast = scoreType.isInstanceOf[NumericType] &&
      df.schema(idCol).dataType.isInstanceOf[NumericType] &&
      df.schema.fields.forall(f =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
    if (fast)
      df.withColumn("__fp", fingerprint(col(textCol)))
        .groupBy(col("__fp"))
        .agg(max(struct(
          (score.as("__sc") +: negate(col(idCol)).as("__nid") +:
            cols.map(c => col(c).as(c))): _*)).as("__row"))
        .select(cols.map(c => col(s"__row.`$c`").as(c)): _*)
    else {
      val w = Window.partitionBy(fingerprint(col(textCol)))
        .orderBy(score.desc, col(idCol).asc)
      df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    }
  }

  def keepBestOracle(table: String, idCol: String, textCol: String,
                     scoreSql: String, keepCols: Seq[String]): String =
    // the IS NOT NULL mirrors the operator's drop-NULL-id contract — the
    // window would otherwise elect a null-id row per group (NULLS LAST
    // still ranks them when the group holds nothing else)
    s"SELECT ${keepCols.mkString(", ")} FROM $table WHERE $idCol IS NOT NULL " +
      s"QUALIFY row_number() OVER " +
      s"(PARTITION BY CAST(('0x'||substr(md5($textCol),1,15)) AS BIGINT) " +
      s"ORDER BY $scoreSql DESC, $idCol ASC) = 1 ORDER BY $idCol"

  /** Affine update of a running k-wide minimum with one shingle hash `hv`:
    * acc'[i] = min(acc[i], (a_i*hv + b_i) mod P). `i` and `hv` are lambda
    * variables (cheap); a_i/b_i are inlined arithmetic on `i`, matching
    * [[hashA]]/[[hashB]] exactly (b_i < P for k <= 16, so the outer mod in
    * hashB is a no-op).
    */
  private def minhashMerge(acc: Column, hv: Column, k: Int): Column = {
    require(k <= 16, "inline b_i formula assumes 7919*k + 12345 < P")
    zip_with(
      acc,
      transform(sequence(lit(0), lit(k - 1)),
        i => (hv * (i * 2 + 1) + (i * 7919 + 12345)) % P),
      (a, b) => least(a, b))
  }

  /** k MinHash values over a document's distinct shingle set — the native
    * [[graft.functions.MinHashK]] expression: one codegen'd Java loop per
    * document (hash each shingle once, k affine mins in registers).
    */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column =
    graft.functions.MinHashK(shingleSet(text, shingleN), k)

  /** Interpreted-HOF reference form of [[minhashSignature]] (spec
    * differential only). One `aggregate` pass: HOFs have no codegen and no
    * subexpression elimination, so even this best HOF formulation walks a
    * boxed expression tree k times per shingle.
    */
  def minhashSignatureHof(text: Column, shingleN: Int, k: Int): Column =
    aggregate(
      transform(shingleSet(text, shingleN), s => hashM(s)),
      array_repeat(lit(P), k),
      (acc, hv) => minhashMerge(acc, hv, k))

  /** Band keys over the native signature. The signature subtree appears
    * once per packed minhash lane, but via a static `array(…)` of ordinary
    * codegen'd expressions — whole-stage codegen's subexpression
    * elimination evaluates [[graft.functions.MinHashK]] ONCE per row (an
    * interpreted `transform` lambda would re-run it per band; that is why
    * this is not a HOF). rowsPerBand consecutive minhashes pack into one
    * Long per band (each < P = 2^31-1, two fit in < 2^62).
    */
  def bandKeys(text: Column, shingleN: Int, bands: Int, rowsPerBand: Int): Column = {
    require(rowsPerBand <= 2, "band key packing supports rowsPerBand <= 2")
    val sig = minhashSignature(text, shingleN, bands * rowsPerBand)
    array((0 until bands).map { j =>
      (0 until rowsPerBand)
        .map(r => element_at(sig, j * rowsPerBand + r + 1))
        .reduceLeft((a, m) => a * P + m)
    }: _*)
  }

  /** Near-duplicate pairs via banded MinHash LSH.
    *
    * Plan shape (the part that must survive 100×): explode each doc into
    * `bands` (band, key, id) rows, self-equi-join on (band, key) — a hash
    * join on a compact Long key, never a cartesian — distinct the candidate
    * pairs, then join text back by id to verify exact Jaccard over shingle
    * sets. Returns (leftIdCol, rightIdCol, jaccard) with jaccard >= minJaccard.
    *
    * `maxBucket` bounds the DEGENERATE bucket: candidate generation is
    * O(Σ bucket²), so a near-identical corpus (one bucket holding ~all N
    * docs) goes quadratic. With a cap, each bucket's left side is its
    * `maxBucket` lowest-id REPRESENTATIVES and every member still pairs
    * against them — per-bucket candidates fall from n² to n·cap, and every
    * member of an overflowing bucket stays reachable from the
    * representative set (connected-component dedup over the pairs keeps
    * the whole bucket in one cluster when members truly match the reps).
    * The approximation is honest, not silent: pairs BETWEEN two
    * non-representatives of an overflowing bucket are only found if a
    * second band re-buckets them — audit with [[lshBucketOverflow]] before
    * trusting a capped run. Default `Int.MaxValue` = exact (uncapped).
    */
  def dedupMinhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand,
      minJaccard: Double = 0.5,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    if (maxBucket != Int.MaxValue) {
      // the representative cut rides the BottomK(Long) aggregate
      val t = df.schema(idCol).dataType
      require(Seq("bigint", "int", "smallint", "tinyint").contains(t.simpleString),
        s"maxBucket needs an integral id column (BottomK buffers longs); " +
          s"$idCol is ${t.catalogString} — run uncapped or map ids to longs first")
    }
    // single-file inputs arrive as one partition; the signature computation
    // is the expensive part, so spread it across the cluster first
    val src = graft.Guards.fanOut(df)
    // band keys + shingle sets are consumed FOUR times downstream (both
    // sides of the candidate self-join, both sides of the verify join);
    // without materialization each consumer re-runs the whole tokenize →
    // shingle → md5 → minhash pipeline. Eager localCheckpoint, not persist:
    // the blocks live in the block manager (memory, spills to disk) but are
    // owned by the ContextCleaner — freed when the plan is GC'd — so
    // repeated invocations can't accumulate CacheManager entries the caller
    // was never in a position to unpersist.
    // Signature lands in its OWN projection before the packing one: the
    // packing references it bands×rowsPerBand times, and CollapseProject
    // refuses to inline a non-cheap multi-referenced expression — a
    // STRUCTURAL once-per-row guarantee that doesn't lean on codegen CSE.
    val prepared = prepareBands(src, textCol, idCol, shingleN, bands, rowsPerBand)
    val banded = prepared.select(col(idCol), posexplode(col("__bkeys")).as(Seq("band", "bkey")))
    // capped: the left side shrinks to ≤maxBucket lowest-id reps per bucket
    // via a partial-agg'd bounded BottomK (a whale bucket collapses to
    // maxBucket ids per input partition map-side, never a window sort)
    val leftSide =
      if (maxBucket == Int.MaxValue) banded
      else banded.groupBy(col("band"), col("bkey"))
        .agg(graft.functions.BottomK(maxBucket)(col(idCol)).as("__reps"))
        .select(col("band"), col("bkey"), explode(col("__reps")).as(idCol))
    val a = leftSide.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col(s"a.band") === col(s"b.band") && col(s"a.bkey") === col(s"b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"))
      .distinct()
    val sets = prepared.select(col(idCol), col("__s").as("s"))
    val jac = size(array_intersect(col("sa.s"), col("sb.s"))).cast(DoubleType) /
      size(array_union(col("sa.s"), col("sb.s")))
    cand
      .join(sets.as("sa"), col("left_id") === col(s"sa.$idCol"))
      .join(sets.as("sb"), col("right_id") === col(s"sb.$idCol"))
      .select(col("left_id"), col("right_id"), jac.as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Band a frame for the vs-store near-dup paths: (id, `__bkeys` band-key
    * array, `__s` shingle set). A steady-state ingest PERSISTS this for
    * accepted docs (parquet beside the corpus) and passes it back with
    * `storeBanded = true` — that is what makes "history is never re-banded"
    * true in practice; calling the pair ops with a raw-text store re-bands
    * it on every batch.
    */
  def bandStore(df: DataFrame, textCol: String, idCol: String,
                shingleN: Int = 3,
                bands: Int = DefaultBands,
                rowsPerBand: Int = DefaultRowsPerBand): DataFrame = {
    val src = graft.Guards.fanOut(df)
    prepareBands(src, textCol, idCol, shingleN, bands, rowsPerBand)
  }

  /** Audit for a capped [[dedupMinhashPairs]] run: the (band, bkey,
    * n_members) buckets whose population exceeds `maxBucket` — exactly the
    * buckets where the cap approximates (non-representative pairs may be
    * missed). Empty result ⇒ the capped run was exact. One partial-agg'd
    * count shuffle; output is overflow-sized (degenerate corpora only).
    */
  def lshBucketOverflow(
      df: DataFrame, textCol: String, idCol: String, maxBucket: Int,
      shingleN: Int = 3,
      bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    df.select(posexplode(bandKeys(col(textCol), shingleN, bands, rowsPerBand))
        .as(Seq("band", "bkey")))
      // NULL band keys (NULL text) never equi-join in the pair path, so
      // they were never at risk — counting them would be a false alarm
      .where(col("bkey").isNotNull)
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)
  }

  /** (id, band keys, shingle set), eagerly checkpointed — the shared prep
    * of every banded-LSH path; see the plan notes in [[dedupMinhashPairs]].
    */
  private def prepareBands(src: DataFrame, textCol: String, idCol: String,
                           shingleN: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    // same bound bandKeys enforces: packing 3+ minhashes (< P = 2^31 each)
    // into one Long overflows — and under ANSI mode would throw mid-job
    require(rowsPerBand <= 2, "band key packing supports rowsPerBand <= 2")
    val k = bands * rowsPerBand
    src.select(
        col(idCol),
        minhashSignature(col(textCol), shingleN, k).as("__sig"),
        shingleSet(col(textCol), shingleN).as("__s"))
      .select(
        col(idCol),
        array((0 until bands).map { j =>
          (0 until rowsPerBand)
            .map(r => element_at(col("__sig"), j * rowsPerBand + r + 1))
            .reduceLeft((a, m) => a * P + m)
        }: _*).as("__bkeys"),
        col("__s"))
      .localCheckpoint(true)
  }

  /** Near-duplicate pairs of a NEW batch against an existing STORE — the
    * steady-state shape of continuous near-dup ingestion, where re-banding
    * the historical corpus per batch is a non-starter: persist
    * [[bandStore]]'s (id, band keys, shingle set) frame when accepting
    * docs (at 100 TB that store is parquet) and pass it here with
    * `storeBanded = true`; the raw-text default re-bands the store and is
    * only right for one-off runs. Candidates come from a band-key
    * equi-join of the batch's exploded bands against the store's —
    * O(bucket collisions), never batch × store — and survive on exact
    * shingle-set Jaccard, verified against the store's kept sets.
    *
    * Returns (batch_id, store_id, jaccard ≥ minJaccard): the batch rows to
    * REJECT (or cluster) against their store near-duplicates. Both frames
    * must share the banding parameters.
    */
  def minhashPairsAgainstStore(
      batch: DataFrame, store: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3,
      bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand,
      minJaccard: Double = 0.5,
      storeBanded: Boolean = false,
      batchBanded: Boolean = false): DataFrame = {
    // batchBanded lets a caller that needs the batch's band frame for its
    // own purposes (the streaming ingest persists accepted docs' bands)
    // compute it ONCE and pass it here, instead of shingling+minhashing
    // the batch a second time
    val pb =
      if (batchBanded) batch
      else bandStore(batch, textCol, idCol, shingleN, bands, rowsPerBand)
    val ps =
      if (storeBanded) store  // a persisted [[bandStore]] frame
      else bandStore(store, textCol, idCol, shingleN, bands, rowsPerBand)
    def explodeBands(p: DataFrame, as: String) = p
      .select(col(idCol).as(as), posexplode(col("__bkeys")).as(Seq("band", "bkey")))
    val cand = explodeBands(pb, "batch_id")
      .join(explodeBands(ps, "store_id"), Seq("band", "bkey"))
      .where(col("batch_id") =!= col("store_id"))
      .select(col("batch_id"), col("store_id"))
      .distinct()
    val jac = size(array_intersect(col("sa.s"), col("sb.s"))).cast(DoubleType) /
      size(array_union(col("sa.s"), col("sb.s")))
    cand
      .join(pb.select(col(idCol), col("__s").as("s")).as("sa"), col("batch_id") === col(s"sa.$idCol"))
      .join(ps.select(col(idCol), col("__s").as("s")).as("sb"), col("store_id") === col(s"sb.$idCol"))
      .select(col("batch_id"), col("store_id"), jac.as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** The filter form of [[minhashPairsAgainstStore]]: the batch with every
    * row that near-duplicates ANY store doc removed — what a steady-state
    * ingest actually applies, mirroring how [[dedupIncremental]] is the
    * filter form of exact store dedup. One extra anti-join on the (small)
    * matched-id set; in-batch near-dups are NOT collapsed here (cluster
    * them with [[DedupClusters]] if needed — a different, heavier
    * operation than rejecting known-seen content).
    */
  def dedupMinhashIncremental(
      batch: DataFrame, store: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3,
      bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand,
      minJaccard: Double = 0.5,
      storeBanded: Boolean = false): DataFrame = {
    val dupIds = minhashPairsAgainstStore(batch, store, textCol, idCol,
        shingleN, bands, rowsPerBand, minJaccard, storeBanded)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Oracle for [[minhashPairsAgainstStore]] with batch and store defined
    * as filtered subsets of one table — same CTE constants as
    * [[minhashPairCtes]] so the pair SQL cannot drift from the self-join
    * gate's.
    */
  def minhashIncrementalOracle(
      table: String, idCol: String, textCol: String,
      batchWhereSql: String, storeWhereSql: String,
      shingleN: Int = 3, bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand,
      minJaccard: Double = 0.5): String = {
    val ctes = minhashPairCtes(table, idCol, textCol, shingleN, bands, rowsPerBand)
    // the shared CTEs' cand/verified relations are self-join-shaped
    // (doc_id_ <), so rebuild the cross-frame candidate set from `bands`
    // with the batch/store membership predicates instead
    s"""WITH $ctes,
xcand AS (SELECT DISTINCT a.doc_id_ AS batch_id, b.doc_id_ AS store_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id_ IN (SELECT $idCol FROM $table WHERE $batchWhereSql)
    AND b.doc_id_ IN (SELECT $idCol FROM $table WHERE $storeWhereSql)
    AND a.doc_id_ != b.doc_id_),
xver AS (SELECT c.batch_id, c.store_id,
  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
  FROM xcand c JOIN sh sa ON sa.doc_id_ = c.batch_id JOIN sh sb ON sb.doc_id_ = c.store_id)
SELECT batch_id, store_id, jaccard FROM xver
WHERE jaccard >= $minJaccard ORDER BY batch_id, store_id""".stripMargin
  }

  // ------------------------------------------------------------ SimHash ----

  /** SimHash bit width — the full 64-bit md5 prefix (production width; the
    * compact 16-bit variant survives as [[graft.functions.SimHash16]]).
    */
  val SimHashBits = 64

  /** SimHash over the distinct shingle set: for each bit position, count
    * +1/-1 votes from every shingle hash, emit the bit when the vote sum is
    * positive. Near-identical documents differ in few shingles, so their
    * vote sums — hence fingerprints — usually coincide; grouping by the
    * fingerprint buckets near-dups with zero joins. Same single-aggregate
    * shape as [[minhashSignature]]: every stage evaluates once per row.
    * 64-bit fingerprints: bit 63 set ⇒ negative Long — downstream hamming /
    * banding math is sign-agnostic (xor, bit_count, mask-after-shift).
    */
  def simhash(text: Column, shingleN: Int = 3): Column =
    graft.functions.SimHash64(shingleSet(text, shingleN))

  /** Interpreted-HOF reference form of [[simhash]] (spec differential only —
    * 64 `when` votes + a zip_with accumulator PER SHINGLE, all outside
    * codegen; the native expression runs the same vote table in one loop).
    * The 64-bit hash is read as two 32-bit md5-hex halves so every
    * intermediate stays a non-negative built-in-function value; bit 63
    * assembles via Long.MinValue addition (two's complement).
    */
  def simhashHof(text: Column, shingleN: Int = 3): Column = {
    val halves = transform(shingleSet(text, shingleN), s => struct(
      conv(substring(md5(s), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(s), 9, 8), 16, 10).cast("long").as("lo")))
    def vote(h: Column, b: Int): Column = {
      val bit =
        if (b < 32) shiftright(h.getField("lo"), b)
        else shiftright(h.getField("hi"), b - 32)
      when(bit.bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
    }
    aggregate(
      halves,
      array_repeat(lit(0L), SimHashBits),
      (acc, h) => zip_with(acc, array((0 until SimHashBits).map(b => vote(h, b)): _*),
        (a, x) => a + x),
      sums => (0 until 63)
        .map(b => when(element_at(sums, b + 1) > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _) +
        when(element_at(sums, 64) > 0, lit(Long.MinValue)).otherwise(lit(0L)))
  }

  /** The fingerprint CTE chain shared by [[simhashOracle]] and
    * [[simhashPairsOracle]] — ends in `fp(doc_id_, simhash)`. The 64-bit
    * hash is replayed as two BIGINT-safe 32-bit halves (hex chars 1..8 =
    * bits 32..63, chars 9..16 = bits 0..31); bit 63 joins the assembly as
    * `-9223372036854775807 - 1` because `1<<63` overflows DuckDB's signed
    * left shift.
    */
  private def simhashCtes(table: String, idCol: String, textCol: String, shingleN: Int): String = {
    val n = shingleN
    val shingleExpr = (0 until n).map(j => s"t[i+$j]").mkString("||' '||")
    val sums = (0 until SimHashBits).map { b =>
      val bitExpr = if (b < 32) s"(lo >> $b) & 1" else s"(hi >> ${b - 32}) & 1"
      s"sum(CASE WHEN ($bitExpr) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val assemble = (0 until 63).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ") +
      " + CASE WHEN b63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END"
    s"""toks AS (SELECT $idCol AS doc_id_, string_split($textCol, ' ') AS t FROM $table),
sh AS (SELECT doc_id_, list_distinct(CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
  ELSE list_transform(generate_series(1, len(t)-${n - 1}), i -> $shingleExpr) END) AS s FROM toks),
hx AS (SELECT doc_id_, unnest(list_transform(s, x -> md5(x))) AS mh FROM sh),
hb AS (SELECT doc_id_, CAST(('0x'||substr(mh,1,8)) AS BIGINT) AS hi,
  CAST(('0x'||substr(mh,9,8)) AS BIGINT) AS lo FROM hx),
sums AS (SELECT doc_id_, $sums FROM hb GROUP BY doc_id_),
fp AS (SELECT doc_id_, CAST($assemble AS BIGINT) AS simhash FROM sums)"""
  }

  def simhashOracle(table: String, idCol: String, textCol: String, shingleN: Int = 3): String =
    s"""WITH ${simhashCtes(table, idCol, textCol, shingleN)}
SELECT doc_id_ AS doc_id, simhash FROM fp ORDER BY doc_id_""".stripMargin

  /** Hamming-radius SimHash self-join — every pair of documents whose
    * fingerprints differ in at most `maxHamming` bits, via PIGEONHOLE
    * blocking: split the [[SimHashBits]] fingerprint into `maxHamming+1`
    * disjoint bit bands; two fingerprints within the radius must agree
    * EXACTLY on at least one band (at most `maxHamming` bits differ, so
    * one of the `maxHamming+1` bands holds none of them), making a
    * per-band equi-join on the band value a complete candidate generator
    * — never an all-pairs comparison. Candidates verify with
    * `bit_count(xor)`, so the output is exact.
    *
    * Scale shape: the join is hash-partitioned on (band, band value);
    * candidate volume is Σ bucket² over band buckets — the LSH posture
    * (size the fingerprint so buckets stay small: at the 64-bit default
    * with radius 2 the band keys are 21–22 bits, ~4M-value key spaces, so
    * a 10⁹-doc corpus averages ~250 docs/bucket per band — tractable
    * Σ bucket², unlike 16-bit's 5–6-bit bands). A near-identical corpus
    * concentrates one bucket
    * (the bucket IS the true near-match set — output-sized, irreducible,
    * same as EdJoin's contract). Output: (left_id, right_id, hamming)
    * with left < right.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 2, shingleN: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming must be in [0, $SimHashBits), got $maxHamming")
    val src = graft.Guards.fanOut(df)
    val fps = src
      .select(col(idCol), simhash(col(textCol), shingleN).as("__fp"))
      .localCheckpoint(true)
    val nBands = maxHamming + 1
    val base = SimHashBits / nBands
    val extra = SimHashBits % nBands
    // band b: width base+1 for the first `extra` bands, base after;
    // offsets partition [0, SimHashBits) exactly
    val widths = (0 until nBands).map(b => if (b < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__fp"), offsets(b)).bitwiseAND(lit(bandMask(widths(b))))
          .as("bkey"))
    }
    val banded = fps.select(col(idCol), col("__fp"),
      explode(array(bandCols: _*)).as("__b"))
      .select(col(idCol), col("__fp"), col("__b.band").as("band"),
        col("__b.bkey").as("bkey"))
    val a = banded.as("a"); val b = banded.as("b")
    val ham = expr("CAST(bit_count(__fa ^ __fb) AS BIGINT)")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"),
        col("a.__fp").as("__fa"), col("b.__fp").as("__fb"))
      .distinct()
      .withColumn("hamming", ham)
      .where(col("hamming") <= maxHamming)
      .select(col("left_id"), col("right_id"), col("hamming"))
  }

  /** DuckDB replay of [[simhashPairs]]: the naive quadratic join over the
    * same fingerprints with the same xor/bit_count verify.
    */
  def simhashPairsOracle(table: String, idCol: String, textCol: String,
                         maxHamming: Int = 2, shingleN: Int = 3): String =
    s"""WITH ${simhashCtes(table, idCol, textCol, shingleN)}
SELECT a.doc_id_ AS left_id, b.doc_id_ AS right_id,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id_ < b.doc_id_
WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
ORDER BY 1, 2""".stripMargin

  /** The pigeonhole band layout shared by [[simhashPairs]],
    * [[simhashQuality]] and the quality oracle: `maxHamming + 1`
    * disjoint (offset, width) bit bands partitioning [0, SimHashBits).
    */
  /** All-ones mask of `width` bits — `(1L << 64) - 1` is 0 under
    * Scala's mod-64 shift, so the full-width band (maxHamming = 0 at 64
    * bits) needs the explicit -1 (caught in r10 review: the broken mask
    * bucketed every fingerprint at key 0, degenerating the blocking to
    * all-pairs).
    */
  private[graft] def bandMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1

  private[graft] def simhashBandLayout(maxHamming: Int): Seq[(Int, Int)] = {
    val nBands = maxHamming + 1
    val base = SimHashBits / nBands
    val extra = SimHashBits % nBands
    val widths = (0 until nBands).map(b => if (b < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Estimator-quality audit for the SimHash fingerprint ON THIS CORPUS
    * — the [[minhashQuality]] discipline applied to the hamming family:
    * per banded candidate pair (the SAME pigeonhole banding as
    * [[simhashPairs]], including candidates the radius verify would
    * reject), the exact fingerprint hamming distance — the estimator's
    * decision variable — NEXT TO the exact shingle-set counts
    * (n_inter, n_union). All integers, so the gate pins fingerprinting
    * + banding + the estimator-vs-truth relationship end-to-end, and a
    * caller can judge whether [[SimHashBits]] bits at their radius
    * separate true near-dups from hash collisions on their corpus
    * before trusting a radius cut. Candidate-sized output.
    */
  def simhashQuality(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 2, shingleN: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming must be in [0, $SimHashBits), got $maxHamming")
    val src = graft.Guards.fanOut(df)
    val fps = src
      .select(col(idCol), simhash(col(textCol), shingleN).as("__fp"),
        shingleSet(col(textCol), shingleN).as("__s"))
      .localCheckpoint(true)
    val bandCols = simhashBandLayout(maxHamming).zipWithIndex.map {
      case ((offset, width), b) =>
        struct(lit(b).as("band"),
          shiftright(col("__fp"), offset).bitwiseAND(lit(bandMask(width)))
            .as("bkey"))
    }
    val banded = fps.select(col(idCol),
        explode(array(bandCols: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"),
        col("__b.bkey").as("bkey"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"))
      .distinct()
    val sides = fps.select(col(idCol), col("__fp"), col("__s"))
    cand
      .join(sides.as("pa"), col("left_id") === col(s"pa.$idCol"))
      .join(sides.as("pb"), col("right_id") === col(s"pb.$idCol"))
      .select(col("left_id"), col("right_id"),
        col("pa.__fp").as("__fa"), col("pb.__fp").as("__fb"),
        size(array_intersect(col("pa.__s"), col("pb.__s"))).cast("long")
          .as("n_inter"),
        size(array_union(col("pa.__s"), col("pb.__s"))).cast("long")
          .as("n_union"))
      .select(col("left_id"), col("right_id"),
        expr("CAST(bit_count(__fa ^ __fb) AS BIGINT)").as("hamming"),
        col("n_inter"), col("n_union"))
  }

  /** DuckDB replay of [[simhashQuality]] — the fingerprint CTEs of
    * [[simhashCtes]] (which already carry the shingle sets), candidates
    * regenerated from the SAME band layout as per-band equi-joins.
    */
  def simhashQualityOracle(table: String, idCol: String, textCol: String,
                           maxHamming: Int = 2, shingleN: Int = 3): String = {
    val bandJoins = simhashBandLayout(maxHamming).map { case (offset, width) =>
      s"""SELECT a.doc_id_ AS left_id, b.doc_id_ AS right_id
  FROM fp a JOIN fp b
    ON ((a.simhash >> $offset) & ${bandMask(width)}) =
       ((b.simhash >> $offset) & ${bandMask(width)})
   AND a.doc_id_ < b.doc_id_"""
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${simhashCtes(table, idCol, textCol, shingleN)},
cand AS (SELECT DISTINCT left_id, right_id FROM (
$bandJoins))
SELECT c.left_id, c.right_id,
  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming,
  CAST(len(list_intersect(ga.s, gb.s)) AS BIGINT) AS n_inter,
  CAST(len(list_distinct(list_concat(ga.s, gb.s))) AS BIGINT) AS n_union
FROM cand c
JOIN fp fa ON fa.doc_id_ = c.left_id
JOIN fp fb ON fb.doc_id_ = c.right_id
JOIN sh ga ON ga.doc_id_ = c.left_id
JOIN sh gb ON gb.doc_id_ = c.right_id
ORDER BY c.left_id, c.right_id""".stripMargin
  }

  // ------------------------------------------------- DuckDB oracle SQL ----
  // Generated from the same constants as the Column code above so the two
  // sides cannot drift. hash60 ⇔ CAST('0x'||substr(md5(x),1,15) AS BIGINT).

  def exactOracle(table: String, idCol: String, textCol: String, keepCols: Seq[String]): String = {
    val cols = keepCols.mkString(", ")
    s"SELECT $cols FROM (SELECT *, min($idCol) OVER (PARTITION BY " +
      s"CAST(('0x'||substr(md5($textCol),1,15)) AS BIGINT)) AS keep FROM $table) " +
      s"WHERE $idCol = keep ORDER BY $idCol"
  }

  /** CTE body (everything after `WITH `) ending in a `verified` relation of
    * (left_id, right_id, jaccard) — shared by [[minhashOracle]] and the
    * connected-components oracle in [[DedupClusters]] so the pair-generation
    * SQL cannot drift between the two gates.
    */
  /** CTEs `toks` + `sh` yielding each row's distinct shingle set as
    * `sh(doc_id_, s)` — the SQL mirror of [[TextFunctions.shingleSet]],
    * shared by the MinHash and exact-Jaccard oracles so the shingle SQL
    * cannot drift between gates.
    */
  private[graft] def shingleCtes(table: String, idCol: String, textCol: String,
                                 n: Int): String = {
    val shingleExpr = (0 until n).map(j => s"t[i+$j]").mkString("||' '||")
    s"""toks AS (SELECT $idCol AS doc_id_, string_split($textCol, ' ') AS t FROM $table),
sh AS (SELECT doc_id_, list_distinct(CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
  ELSE list_transform(generate_series(1, len(t)-${n - 1}), i -> $shingleExpr) END) AS s FROM toks)"""
  }

  def minhashPairCtes(
      table: String, idCol: String, textCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int): String = {
    val k = bands * rowsPerBand
    val n = shingleN
    val sigTerms = (0 until k).map(i =>
      s"list_min(list_transform(h, x -> (${hashA(i)}*x+${hashB(i)}) % $P)) AS m$i").mkString(", ")
    val bandTerms = (0 until bands).map { j =>
      val key = (0 until rowsPerBand).map(r => s"m${j * rowsPerBand + r}")
        .reduceLeft((acc, m) => s"($acc*$P+$m)")
      s"SELECT doc_id_, $j AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""${shingleCtes(table, idCol, textCol, n)},
hm AS (SELECT doc_id_, list_transform(s, x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % $M) AS h FROM sh),
sig AS (SELECT doc_id_, $sigTerms FROM hm),
bands AS ($bandTerms),
cand AS (SELECT DISTINCT a.doc_id_ AS left_id, b.doc_id_ AS right_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id_ < b.doc_id_),
verified AS (SELECT c.left_id, c.right_id,
  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
  FROM cand c JOIN sh sa ON sa.doc_id_ = c.left_id JOIN sh sb ON sb.doc_id_ = c.right_id)"""
  }

  def minhashOracle(
      table: String, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand,
      minJaccard: Double = 0.5): String =
    s"""WITH ${minhashPairCtes(table, idCol, textCol, shingleN, bands, rowsPerBand)}
SELECT left_id, right_id, jaccard FROM verified WHERE jaccard >= $minJaccard ORDER BY left_id, right_id""".stripMargin

  /** Estimator-quality audit for the MinHash sketch ON THIS CORPUS — the
    * [[graft.llm.AnnRecall]] discipline applied to near-dup candidates:
    * per banded candidate pair, the signature agreement count
    * `est_matches = Σᵢ [sigᵢ(a) = sigᵢ(b)]` (the integer numerator of the
    * k-hash similarity estimate, E[est/k] = Jaccard) NEXT TO the exact
    * set counts (n_inter, n_union) — all integers, so the gate pins the
    * whole estimator end-to-end and a caller can decide whether k is big
    * enough for their threshold before trusting a capped LSH run.
    * Candidates come from the SAME banding as [[dedupMinhashPairs]];
    * the audit is candidate-sized.
    */
  def minhashQuality(df: DataFrame, textCol: String, idCol: String,
                     shingleN: Int = 3, bands: Int = DefaultBands,
                     rowsPerBand: Int = DefaultRowsPerBand): DataFrame = {
    require(rowsPerBand <= 2, "band key packing supports rowsPerBand <= 2")
    val src = graft.Guards.fanOut(df)
    val k = bands * rowsPerBand
    val prepared = src.select(
        col(idCol),
        minhashSignature(col(textCol), shingleN, k).as("__sig"),
        shingleSet(col(textCol), shingleN).as("__s"))
      .select(col(idCol), col("__sig"),
        array((0 until bands).map { j =>
          (0 until rowsPerBand)
            .map(r => element_at(col("__sig"), j * rowsPerBand + r + 1))
            .reduceLeft((a, m) => a * P + m)
        }: _*).as("__bkeys"),
        col("__s"))
      .localCheckpoint(true)
    val banded = prepared.select(col(idCol),
      posexplode(col("__bkeys")).as(Seq("band", "bkey")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"))
      .distinct()
    val sides = prepared.select(col(idCol), col("__sig"), col("__s"))
    cand
      .join(sides.as("pa"), col("left_id") === col(s"pa.$idCol"))
      .join(sides.as("pb"), col("right_id") === col(s"pb.$idCol"))
      .select(col("left_id"), col("right_id"),
        aggregate(
          zip_with(col("pa.__sig"), col("pb.__sig"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("est_matches"),
        size(array_intersect(col("pa.__s"), col("pb.__s"))).cast("long")
          .as("n_inter"),
        size(array_union(col("pa.__s"), col("pb.__s"))).cast("long")
          .as("n_union"))
  }

  /** DuckDB replay of [[minhashQuality]] — the signature CTEs of
    * [[minhashPairCtes]] with the agreement sum in place of the verify.
    */
  def minhashQualityOracle(table: String, idCol: String, textCol: String,
                           shingleN: Int = 3, bands: Int = DefaultBands,
                           rowsPerBand: Int = DefaultRowsPerBand): String = {
    val k = bands * rowsPerBand
    val est = (0 until k)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${minhashPairCtes(table, idCol, textCol, shingleN, bands, rowsPerBand)}
SELECT c.left_id, c.right_id, CAST($est AS BIGINT) AS est_matches,
  CAST(len(list_intersect(ga.s, gb.s)) AS BIGINT) AS n_inter,
  CAST(len(list_distinct(list_concat(ga.s, gb.s))) AS BIGINT) AS n_union
FROM cand c
JOIN sig sa ON sa.doc_id_ = c.left_id
JOIN sig sb ON sb.doc_id_ = c.right_id
JOIN sh ga ON ga.doc_id_ = c.left_id
JOIN sh gb ON gb.doc_id_ = c.right_id
ORDER BY c.left_id, c.right_id""".stripMargin
  }
}
