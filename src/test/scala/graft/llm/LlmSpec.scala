package graft.llm

import graft.SparkSpec
import graft.text.TextFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Unit coverage for the LLM-pipeline extension operators over tiny inline
  * frames (the gate covers the sf-scale differential check; these pin the
  * local semantics: shingles, quality math, dedup clustering, knn ranking).
  */
class LlmSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en"),
      (1L, "the quick brown fox jumps over the lazy cat", "en"),  // near-dup of 0
      (2L, "der hund ist nicht zu haus und die katze auch nicht", "de"),
      (3L, "completely different words entirely here folks", "en"),
      (4L, "the quick brown fox jumps over the lazy dog", "en")   // exact dup of 0
    ).toDF("doc_id", "text", "lang")
  }

  test("tokens / shingles semantics") {
    val r = docs.where(col("doc_id") === 0)
      .select(TextFunctions.nTokens(col("text")), TextFunctions.shingleSet(col("text"), 3))
      .head()
    assert(r.getInt(0) == 9)
    val sh = r.getSeq[String](1)
    assert(sh.contains("the quick brown") && sh.contains("over the lazy"))
    assert(sh.length == 7) // 9 tokens -> 7 shingles, all distinct
  }

  test("short document yields whole text as single shingle") {
    import spark.implicits._
    val one = Seq("just two").toDF("text")
      .select(TextFunctions.shingleSet(col("text"), 3)).head().getSeq[String](0)
    assert(one == Seq("just two"))
  }

  test("quality metrics: stopword ratio and mean token length") {
    val r = docs.where(col("doc_id") === 0).select(
      TextFunctions.stopwordRatio(col("text")),
      TextFunctions.meanTokenLen(col("text"))).head()
    // "the" twice among 9 tokens; 35 non-space chars / 9 tokens
    assert(math.abs(r.getDouble(0) - 2.0 / 9) < 1e-12)
    assert(math.abs(r.getDouble(1) - 35.0 / 9) < 1e-12)
  }

  test("langId picks the marker-dominant language, und when unmatched") {
    val r = docs.select(col("doc_id"), TextFunctions.langId(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(0) == "en" && r(2) == "de" && r(3) == "und")
  }

  test("langIdMargin: confident docs score high, ties and markerless score 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "the the the of and"), // en markers only → margin = en count
      (2L, "the der"),            // one en vs one de marker → tie, margin 0
      (3L, "zzz qqq")             // no markers anywhere → margin 0
    ).toDF("doc_id", "text")
    val m = d.select(col("doc_id"), TextFunctions.langIdMargin(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === 5L)
    assert(m(2L) === 0L)
    assert(m(3L) === 0L)
  }

  test("charClassCounts: hand-checked composition, classes partition the text") {
    import spark.implicits._
    val d = Seq((1L, "ab1 ?€x"), (2L, "")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextFunctions.charClassCounts(col("text")).as("c"))
      .select("doc_id", "c.n_chars", "c.n_alpha", "c.n_digit", "c.n_space", "c.n_other")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r(0) === ((1L, 7L, 3L, 1L, 1L, 2L))) // a,b,x | 1 | ' ' | ?,€
    assert(r(1) === ((2L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("charClassCounts: tabs and newlines are whitespace, not encoding noise") {
    import spark.implicits._
    val d = Seq((1L, "ab\tcd\nef\r")).toDF("doc_id", "text")
    val r = d.select(TextFunctions.charClassCounts(col("text")).as("c"))
      .select("c.n_chars", "c.n_alpha", "c.n_space", "c.n_other")
      .as[(Long, Long, Long, Long)].collect().head
    assert(r === ((9L, 6L, 3L, 0L)))
  }

  test("dedupExact keeps the lowest id per identical text") {
    val kept = Dedup.dedupExact(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 3L)) // 4 dropped (dup of 0)
  }

  test("dedupExact drops NULL-id rows (never elects one as survivor)") {
    import spark.implicits._
    val df = Seq((Some(5L), "same"), (None, "same"), (Some(7L), "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupExact(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 7L))
  }

  test("dedupExact is partial-agg'd (no window) and survives a whale fingerprint") {
    import spark.implicits._
    val whale = (1L to 20000L).map(i => (i, s"same text", s"s${i % 7}")) :+
      ((30000L, "unique", "s0"))
    val df = whale.toDF("doc_id", "text", "src").repartition(4)
    val q = Dedup.dedupExact(df, "text", "doc_id")
    val plan = q.queryExecution.executedPlan.toString
    // mass-duplication posture: the keeper is a map-side-combined
    // min(struct(id,…)) per fingerprint — never min().over(partitionBy(fp))
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("WindowExec"), plan)
    val kept = q.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(kept == Map(1L -> "s1", 30000L -> "s0")) // lowest id keeps ITS OWN row
  }

  test("dedupKeepBest: highest score wins, ties to lowest id, null score is worst") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text", Some(10L)),
      (2L, "same text", Some(30L)),  // winner: best score
      (3L, "same text", Some(30L)),  // score tie loses to lower id 2
      (4L, "same text", None),       // null score = worst
      (5L, "other", None)            // sole member: survives with null score
    ).toDF("doc_id", "text", "quality")
    val kept = Dedup.dedupKeepBest(df, "text", "doc_id", col("quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 5L))
  }

  test("dedupKeepBest is partial-agg'd (no window) and survives a whale fingerprint") {
    import spark.implicits._
    val whale = (1L to 20000L).map(i => (i, "same text", i % 97)) :+
      ((30000L, "unique", 5L))
    val df = whale.toDF("doc_id", "text", "quality").repartition(4)
    val q = Dedup.dedupKeepBest(df, "text", "doc_id", col("quality"))
    val plan = q.queryExecution.executedPlan.toString
    // mass-duplication posture mirrors dedupExact: map-side-combined
    // max(struct(score, −id, …)) per fingerprint, never a window
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("WindowExec"), plan)
    val kept = q.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // quality 96 is the max of i % 97; lowest id achieving it is 96
    assert(kept == Map(96L -> 96L, 30000L -> 5L))
  }

  test("dedupKeepBest drops NULL-id rows and falls back to a window for string ids") {
    import spark.implicits._
    val df = Seq(
      (Some(7L), "same text", 1L), (None, "same text", 99L),
      (Some(9L), "same text", 1L)).toDF("doc_id", "text", "quality")
    val kept = Dedup.dedupKeepBest(df, "text", "doc_id", col("quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(7L), "null-id row must never be elected")
    // string ids: window fallback, same keep-best answer
    val sdf = Seq(("a", "same text", 1L), ("b", "same text", 5L))
      .toDF("doc_id", "text", "quality")
    val skept = Dedup.dedupKeepBest(sdf, "text", "doc_id", col("quality"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(skept == Set("b"))
  }

  test("simhashPairs: pigeonhole blocking ≡ brute force; identical docs at hamming 0") {
    val docsDf = docs
    val got = Dedup.simhashPairs(docsDf, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // local brute force over the same fingerprints
    val fps = docsDf.select(col("doc_id"),
        Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expected = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    assert(got == expected, s"got $got expected $expected")
    // exact duplicates (docs 0 and 4 share text) sit at hamming 0
    assert(got.get((0L, 4L)).contains(0L))
  }

  test("simhashPairs at radius 0 pairs exactly the equal fingerprints; plan has no cartesian") {
    // radius 0 at 64 bits is the full-width single band — bandMask(64)
    // must be the all-ones mask, not (1L << 64) - 1 == 0 (r10 review
    // fix: the broken mask bucketed EVERY doc at key 0, silently
    // degenerating the blocking to all-pairs)
    assert(Dedup.bandMask(64) == -1L)
    assert(Dedup.bandMask(22) == (1L << 22) - 1)
    val q = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 0)
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(_._3 == 0L))
    // completeness AND minimality vs brute force over the fingerprints
    val fps = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib && fa == fb
    } yield (ia, ib, 0L)).toSet
    assert(got.toSet == want)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedupMinhashPairs finds near + exact dup pairs, never unrelated ones") {
    val pairs = Dedup.dedupMinhashPairs(docs, "text", "doc_id", minJaccard = 0.4)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 4L))) // near-dups
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc never pairs
  }

  test("capped LSH bucket: one-text corpus stays n·cap, clusters stay connected") {
    import spark.implicits._
    val n = 100
    val docs = (1L to n.toLong).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.dedupMinhashPairs(docs, "text", "doc_id", maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every band buckets ALL docs together; reps = lowest-2 ids {1, 2}, so
    // candidates are (1, m) + (2, m) — n·cap-ish, never the n²/2 = 4950
    val expected = ((2L to n.toLong).map(m => (1L, m)) ++
      (3L to n.toLong).map(m => (2L, m))).toSet
    assert(pairs == expected)
    // every non-rep member is reachable from a representative: one cluster
    assert((3L to n.toLong).forall(m => pairs.contains((1L, m))))
    // the audit names the overflowing buckets (one per band)
    val over = Dedup.lshBucketOverflow(docs, "text", "doc_id", maxBucket = 2)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(over.length == Dedup.DefaultBands && over.forall(_._2 == n.toLong))
  }

  test("capped LSH with a roomy cap equals the uncapped pairs") {
    val uncapped = Dedup.dedupMinhashPairs(docs, "text", "doc_id", minJaccard = 0.4)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.dedupMinhashPairs(docs, "text", "doc_id", minJaccard = 0.4,
        maxBucket = 1000)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("minhash signature is k values, invariant across partitioning") {
    val sig1 = docs.repartition(1).select(Dedup.minhashSignature(col("text"), 3, 8))
      .collect().map(_.getSeq[Long](0))
    val sig4 = docs.repartition(4).sort("doc_id").select(Dedup.minhashSignature(col("text"), 3, 8))
      .collect().map(_.getSeq[Long](0))
    assert(sig1.head.length == 8)
    assert(sig1.toSet == sig4.toSet)
  }

  private lazy val vecs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.1f))
    ).toDF("vec_id", "embedding")
  }

  test("cosine is 1 for identical directions, ~0 for orthogonal") {
    val r = vecs.as("a").join(vecs.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(r((0L, 0L)) - 1.0) < 1e-9)
    assert(math.abs(r((0L, 2L))) < 1e-9)
    assert(r((0L, 1L)) > 0.9 && r((0L, 3L)) < -0.9)
  }

  test("bruteForceKnn ranks by score with id tiebreak and excludes self") {
    val knn = Similarity.bruteForceKnn(vecs, vecs.where(col("vec_id") === 0), k = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    assert(knn.length == 3)
    assert(knn.map(_._1).toSeq == Seq(1L, 2L, 3L)) // by descending dot product
    assert(!knn.map(_._1).contains(0L))
  }

  test("signBucket packs sign bits deterministically") {
    val b = vecs.select(col("vec_id"), Similarity.signBucket(col("embedding"), Seq(1, 2)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == 1L) // +,0 -> bit0 only
    assert(b(1L) == 3L) // +,+
    assert(b(2L) == 2L) // 0,+ -> bit1
    assert(b(3L) == 0L) // -,0
  }

  test("simhash: identical docs equal, near-dups equal, unrelated differ") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(4L))            // exact dup
    assert(h(0L) != h(3L))            // unrelated doc
  }

  test("multimodal: codec plumbing, frame sampling, payload metrics") {
    import Multimodal._
    import spark.implicits._
    val media = Seq((1L, "hello world".getBytes("UTF-8")),
                    (2L, Array.tabulate(256)(_.toByte))).toDF("id", "payload")
    // partition-batched decode with the deterministic fake codec
    val feats = decodeFeatures(media, "id", "payload", new ByteHistogramCodec)
    val m = feats.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(m(1L).length == 16 && math.abs(m(1L).sum - 1f) < 1e-5)
    assert(m(2L).forall(v => math.abs(v - 1f / 16) < 1e-5)) // uniform bytes → uniform histogram
    // column metrics
    val r = media.where(col("id") === 1).select(
      nBytes(col("payload")), contentHash(col("payload")), b64Head(col("payload"), 8)).head()
    assert(r.getLong(0) == 11L)
    assert(r.getString(1) == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    // frame sampling: 2 frames of 4 bytes at strided offsets
    val frames = media.where(col("id") === 2)
      .select(frameSample(col("payload"), 2, 4)).head().getSeq[Array[Byte]](0)
    assert(frames.length == 2 && frames(0).length == 4)
    assert(frames(0).toSeq == Seq[Byte](0, 1, 2, 3))
    assert(frames(1).toSeq == Seq[Byte](-128, -127, -126, -125)) // starts at byte 128
  }

  test("multimodal: magic-byte sniffing and PNG IHDR dimension parsing") {
    import Multimodal._
    import spark.implicits._
    // a minimal real PNG header: magic, IHDR length+type, width=640, height=480
    val png = ("89504E470D0A1A0A" + "0000000D49484452" + "00000280" + "000001E0")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 1, 2)
    val wav = ("52494646" + "08000000" + "57415645").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val txt = "plain text".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, jpeg), (3L, wav), (4L, txt)).toDF("id", "p")
    val got = df.select(col("id"), sniffMime(col("p")), mediaKind(col("p")),
        pngWidth(col("p")), pngHeight(col("p")))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3),
         if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(got(1L) == ("image/png", "image", 640L, 480L))
    assert(got(2L) == ("image/jpeg", "image", -1L, -1L))
    assert(got(3L) == ("audio/wav", "audio", -1L, -1L))
    assert(got(4L) == ("application/octet-stream", "binary", -1L, -1L))
  }

  test("events tumbling window matches a manual hour-truncation groupBy") {
    val events = graft.Tables.resolve(spark, sf)("events")
    val viaWindow = EventWindows.tumbling(events)
      .orderBy("w_start", "event_type").collect()
    val manual = events
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("w_start", "event_type").collect()
    assert(viaWindow.length == manual.length)
    viaWindow.zip(manual).foreach { case (w, m) =>
      assert(w.getAs[Any]("w_start") == m.getAs[Any]("w_start"))
      assert(w.getAs[Long]("n_events") == m.getAs[Long]("n_events"))
    }
  }

  test("prepare pipeline plan: one corpus-width shuffle, gram sides broadcast") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plan = CorpusPipeline.prepare(d, d.where(pmod(col("doc_id"), lit(50)) === 0))
      .queryExecution.executedPlan.toString
    // shuffle exchanges: dedup keeper groupBy (corpus-width) + matched-gram
    // count + benchmark gram distinct — nothing else; gram matching itself
    // broadcasts
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 3, s"unexpected extra shuffles ($shuffles):\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).length >= 2, plan)
    // dedup is the partial-agg'd min(struct) form — no corpus window at all
    assert(!plan.contains("WindowExec"), plan)
  }

  test("prepare end-to-end semantics: contaminated group removed, clean dup group keeps one") {
    import spark.implicits._
    // en texts passing the 20-token gate
    val dirty = "the cat and the dog and a fish for it is a good day to be in the park now"
    val cleanT = "the bird and the bee and a tree for it is a fine day to see the stars up above"
    val docs = Seq(
      (1L, dirty, "en", 1L), (2L, dirty, "en", 1L),   // contaminated dup group
      (4L, cleanT, "en", 1L), (5L, cleanT, "en", 1L), // clean dup group
      (6L, "too short", "en", 1L)                     // fails the token gate
    ).toDF("doc_id", "text", "lang", "n_chars")
    val bench = Seq((99L, dirty)).toDF("doc_id", "text")
    val out = CorpusPipeline.prepare(docs, bench, rates = Seq("en" -> 100), defaultPct = 100)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(4L))
  }

  test("dedupIncremental: store dups dropped, in-batch dups keep min id") {
    import spark.implicits._
    import graft.text.TextFunctions.fingerprint
    import org.apache.spark.sql.functions.col
    val batch = Seq(
      (1L, "seen before text"),
      (2L, "brand new text"),
      (3L, "brand new text"),   // in-batch dup of 2
      (4L, "also fresh here")
    ).toDF("doc_id", "text")
    val store = Seq("seen before text").toDF("text")
      .select(fingerprint(col("text")).as("fp"))
    val got = Dedup.dedupIncremental(batch, store, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(2L, 4L))
  }

  test("actionSequences: tie-broken order, truncation, partitioning independence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // same-ts ties resolve by event_id; maxEvents cuts AFTER the sort
    val ev = Seq(
      (3L, 100L, 1L, "c"), (1L, 100L, 1L, "a"), (2L, 100L, 1L, "b"),
      (4L, 200L, 1L, "d"),
      (5L, 50L, 2L, "x")
    ).toDF("event_id", "t_us", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_micros(t_us)").as("ts"),
        col("user_id"), col("event_type"))
    def run(df: org.apache.spark.sql.DataFrame) =
      EventWindows.actionSequences(df, maxEvents = 3)
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val expected = Seq((1L, 3L, "a b c"), (2L, 1L, "x"))
    assert(run(ev) === expected)
    assert(run(ev.repartition(7)) === expected)
  }

  test("actionSequences: whale user stays bounded (partial agg, ≤maxEvents buffer)") {
    import org.apache.spark.sql.functions.{col, concat, expr, lit}
    // one user with 200k events across many partitions — the collect_list
    // formulation would buffer all 200k structs in one task; the bounded
    // aggregate keeps ≤maxEvents per (user, partition) and the result is
    // exactly the first maxEvents in (ts, id) order
    val whale = spark.range(0, 200000)
      .select(lit(1L).as("user_id"),
        expr("timestamp_micros(cast((id * 2654435761) % 100000000 AS BIGINT))").as("ts"),
        concat(lit("e"), col("id") % 13).as("event_type"), col("id").as("event_id"))
    val df = EventWindows.actionSequences(whale, maxEvents = 4)
    // plan pin: the cut is a map-side partial aggregate, not collect_list
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_firstkbykey"), s"expected partial_firstkbykey in:\n$plan")
    assert(!plan.contains("collect_list"), s"unexpected collect_list in:\n$plan")
    val got = df.collect()
    assert(got.length === 1)
    assert(got.head.getLong(1) === 4L)
    // cross-check against the window formulation on the same data
    val win = whale
      .select(col("event_type"),
        expr("row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)").as("rn"))
      .where(col("rn") <= 4).orderBy("rn")
      .select("event_type").collect().map(_.getString(0)).mkString(" ")
    assert(got.head.getString(2) === win)
  }

  test("sessionizedSplit ≡ sessionized: boundary stitching, whale user fans out") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hand case: one run straddles the 1-day bucket boundary (23:30 →
    // 00:30 next day, gaps < 2h) and MUST stitch; a second run on day 2
    // is > 2h away and must stay separate; plus a multi-bucket chain
    val hand = Seq(
      (1L, ts("2024-01-01 22:00:00"), 1.5),
      (1L, ts("2024-01-01 23:30:00"), 2.0),
      (1L, ts("2024-01-02 00:30:00"), 0.25), // stitches across midnight
      (1L, ts("2024-01-02 08:00:00"), 1.0),  // new session (gap 7.5h)
      (2L, ts("2024-01-01 23:59:00"), 4.0),
      (2L, ts("2024-01-02 01:58:00"), 8.0),  // 1h59m gap: same session
      (2L, ts("2024-01-02 03:57:00"), 16.0)  // chain keeps merging
    ).toDF("user_id", "ts", "value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString,
          r.getLong(3), r.getDouble(4))).toSet
    assert(canon(EventWindows.sessionizedSplit(hand)) ==
      canon(EventWindows.sessionized(hand)))
    // whale user: 5k events over 20 days in ONE key; split must fan the
    // first aggregation across (user, bucket) and still agree exactly
    val whale = (0L until 5000L).map { i =>
      (99L, new java.sql.Timestamp(
        ts("2024-02-01 00:00:00").getTime + i * 347 * 1000L), (i % 11).toDouble)
    }.toDF("user_id", "ts", "value").repartition(8)
    assert(canon(EventWindows.sessionizedSplit(whale, gap = "10 minutes")) ==
      canon(EventWindows.sessionized(whale, gap = "10 minutes")))
    // real gate data: full equivalence on the events table
    val ev = graft.Tables.resolve(spark, sf)("events")
    assert(canon(EventWindows.sessionizedSplit(ev)) == canon(EventWindows.sessionized(ev)))
    // plan pin: the event-level shuffle carries the BUCKET alongside the
    // key — the whale key's history fans out across tasks
    val plan = EventWindows.sessionizedSplit(ev).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(user_id") && plan.contains("__bkt"),
      s"expected (user_id, __bkt) hash exchange in:\n$plan")
  }

  test("sessionized plan: spill-backed per-partition sort + merging sessions, no window sort") {
    // pins the SCALING.md posture: session_window is an AGGREGATE — hash
    // exchange on user, per-partition (non-global) external sort, streaming
    // session merge — so a whale user costs wall-clock, not task memory
    val ev = graft.Tables.resolve(spark, sf)("events")
    val plan = EventWindows.sessionized(ev).queryExecution.executedPlan.toString
    assert(plan.contains("MergingSessions"), s"expected MergingSessions in:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(user_id"), s"expected user hash exchange in:\n$plan")
    // the sort is per-partition: SortExec prints `global=false` as ", false,"
    val sortLine = plan.linesIterator.find(_.trim.startsWith("+- Sort [user_id")).getOrElse("")
    assert(sortLine.contains("], false, "), s"expected non-global sort, got: $sortLine")
    assert(!plan.contains("WindowExec"), s"unexpected window in:\n$plan")
  }

  test("minhashPairsAgainstStore equals the self-join pairs restricted to the split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batch = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val store = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val got = Dedup.minhashPairsAgainstStore(batch, store, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the full self-join's pairs, keeping only (batch, store) members —
    // ordered (left < right) there, unordered across frames here
    val full = Dedup.dedupMinhashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.flatMap { case (l, r, j) =>
      Seq((l, r, j), (r, l, j))
    }.filter { case (b, s, _) => b % 7 != 0 && s % 7 == 0 }.toSet
    assert(got === expected)
    assert(got.nonEmpty, "split produced no cross pairs — gate would be vacuous")
    // the filter form drops exactly the batch side of those pairs
    val kept = Dedup.dedupMinhashIncremental(batch, store, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    assert(kept === batchIds -- got.map(_._1))
    // a pre-banded store (the steady-state path: history banded once,
    // persisted, never recomputed) gives identical pairs
    val banded = Dedup.bandStore(store, "text", "doc_id")
    val gotBanded = Dedup.minhashPairsAgainstStore(batch, banded, "text", "doc_id",
        storeBanded = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotBanded === got)
  }

  test("dedupIncrementalBloom: exact semantics, equal to the plain anti-join path") {
    import spark.implicits._
    import graft.text.TextFunctions.fingerprint
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val store = docs.where(pmod(col("doc_id"), lit(7)) === 0)
      .select(fingerprint(col("text")).as("fp")).distinct()
    val plain = Dedup.dedupIncremental(docs, store, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // a coarse fpp forces real false positives through the verify join —
    // the result must not change (bloom is a routing layer, not semantics)
    val bloom = Dedup.dedupIncrementalBloom(docs, store, "text", "doc_id",
      expectedStoreItems = 16, fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(bloom === plain)
    // empty store: everything passes the bloom-negative branch, in-batch
    // dedup still applies
    val emptyStore = store.where(lit(false))
    val noStore = Dedup.dedupIncrementalBloom(docs, emptyStore, "text", "doc_id",
      expectedStoreItems = 1)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val exact = Dedup.dedupExact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(noStore === exact)
  }
}
