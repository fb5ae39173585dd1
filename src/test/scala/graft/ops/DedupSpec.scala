package graft.ops

import graft.SparkSpec
import graft.ops.PairSpec._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox jumps over a lazy dog"),     // near dup (1 token)
    (3L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id and counts copies") {
    val out = Dedup.exact(docs).orderBy("keep_doc_id").collect()
    assert(out.length === 3)
    assert(out.head.getAs[Long]("keep_doc_id") === 0L)
    assert(out.head.getAs[Long]("n_copies") === 2L)
  }

  test("digest-first exact dedup ≡ direct exact dedup (incl. multi-copy buckets)") {
    val byText = Dedup.exact(docs)
      .orderBy("keep_doc_id").collect().map(_.toSeq)
    val byDigest = Dedup.exactByDigest(docs)
      .orderBy("keep_doc_id").collect().map(_.toSeq)
    assert(byDigest.toSeq === byText.toSeq)
  }

  test("decontaminate flags benchmark-overlapping docs with the overlap count") {
    // benchmark doc 0 shares its full 9-token text with corpus doc 10 (5
    // distinct 5-gram shingles) and a 5-token prefix with doc 11 (1
    // shingle); doc 12 shares nothing
    val bench = Seq((0L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps far away from here"),
      (12L, "completely different words entirely here now again today ok")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"))).toMap
    assert(out === Map(10L -> 5L, 11L -> 1L))
    // raising the overlap floor drops the single-shingle hit
    val strict = Dedup.decontaminate(corpus, bench, minOverlap = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(strict === Set(10L))
  }

  test("contaminationScore covers the whole corpus: full copy 1e6 ppm, partial fractional, clean 0") {
    val bench = Seq((0L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // 5/5 shingles hit
      (11L, "the quick brown fox jumps far away from here"), // 1/5
      (12L, "completely different words entirely here now again today ok"), // 0/5
      (13L, "too short to shingle") // 4 tokens: no shingles, absent
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationScore(corpus, bench)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("contamination_ppm")))).toMap
    assert(out === Map(
      10L -> ((5L, 5L, 1000000L)),
      11L -> ((5L, 1L, 200000L)),
      12L -> ((5L, 0L, 0L))))
  }

  test("benchmarkShingleIds fails fast on an oversized frame, naming the contract") {
    // round-11 verdict nit: the collect is eval-suite-sized by contract but
    // had no guard — a corpus-sized caller mistake OOMed the driver with no
    // earlier diagnostic. The limit probe must reject BEFORE collecting.
    val big = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.benchmarkShingleIds(big, maxIds = 1)
    }
    assert(e.getMessage.contains("eval-suite-sized contract"),
      s"diagnostic must name the contract, got: ${e.getMessage}")
    assert(e.getMessage.contains("materializedShingleIndex"),
      "diagnostic must name the corpus-scale alternative")
    // ...and an in-contract frame still collects (hashes unchanged)
    assert(Dedup.benchmarkShingleIds(big).nonEmpty)
  }

  test("stateless decontamination screens a stream identically to the batch op") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((0L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps far away from here"),
      (12L, "completely different words entirely here now again today ok"))
    val benchIds = Dedup.benchmarkShingleIds(bench)
    val batch = Dedup.decontaminateStateless(corpus.toDF("doc_id", "text"), benchIds)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"))).toMap
    // same verdicts as the aggregating batch op (10: full overlap, 11: one
    // shingle, 12: clean -> n_hits 0, a row the join form never emits)
    assert(batch === Map(10L -> 5L, 11L -> 1L, 12L -> 0L))
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = Dedup.decontaminateStateless(
      ms.toDF().toDF("doc_id", "ts", "text"), benchIds)
      .select("doc_id", "n_hits")
      .writeStream.format("memory").queryName("sdecon")
      .outputMode(OutputMode.Append).start()
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    corpus.zipWithIndex.foreach { case ((id, text), i) =>
      ms.addData((id, Timestamp.from(t0.plusSeconds(i.toLong)), text))
    }
    q.drainGuarded(); assertStreamClean("dedup_stream", q); q.stop()
    val streamed = spark.table("sdecon").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"))).toMap
    assert(streamed === batch)
  }

  test("curation: dedup representative + quality gate compose") {
    import org.apache.spark.sql.functions._
    val longText = ("the quick brown fox jumps over a lazy dog and " * 4).trim
    val corpus = Seq(
      (0L, longText),        // rep, passes quality (40 tokens, stopwords)
      (1L, longText),        // exact dup of 0: dropped (not the rep)
      (2L, "tiny doc"),      // rep but fails quality (too short)
      (3L, ("z " * 40).trim) // 40 tokens but zero stopwords: fails
    ).toDF("doc_id", "text")
    val out = TextOps.curate(corpus).select(col("doc_id")).collect().map(_.getLong(0))
    assert(out.toSeq === Seq(0L))
  }

  test("streaming exact dedup keeps first arrival, bounded by watermark") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = Dedup.streamingExact(
      ms.toDF().toDF("doc_id", "ts", "text"), "ts", "10 seconds")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    ms.addData(
      (0L, Timestamp.valueOf("2024-01-01 10:00:00"), "same text"),
      (1L, Timestamp.valueOf("2024-01-01 10:00:01"), "same text"),   // dup: dropped
      (2L, Timestamp.valueOf("2024-01-01 10:00:02"), "other text"))
    q.drainGuarded()
    ms.addData((3L, Timestamp.valueOf("2024-01-01 10:00:03"), "same text")) // still in horizon
    q.drainGuarded()
    assertStreamClean("dedup_stream", q); q.stop()
    val kept = spark.table("sdedup").collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq === Seq(0L, 2L))
  }

  test("streaming near-dup ≡ batch keep-first over an id-ordered feed (b14 pattern)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus: Seq[(Long, String)] = Seq(
      0L -> base,
      1L -> base,                                     // exact dup: every band collides
      2L -> base.replace("dog", "cat"),               // near dup: most sigs shared
      3L -> "completely different words entirely in this other document here",
      4L -> "hi",                                     // too short to shingle: bypass, kept
      5L -> base.replace("quick", "slow"),            // near dup of 0 (or of 2)
      6L -> null                                      // null text: bypass, kept (not dropped)
    )
    // the executable contract: streaming first-arrival == batch smaller-id
    val expected = Dedup.nearDupKeepFirst(corpus.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(expected.contains(0L) && expected.contains(3L) && expected.contains(4L))
    assert(expected.contains(6L)) // null text: no signature, no evidence, kept
    assert(!expected.contains(1L))
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = Dedup.streamingNearDup(
      ms.toDF().toDF("doc_id", "ts", "text"), "ts", delay = "5 seconds",
      windowDur = "10 seconds")
      .writeStream.format("memory").queryName("sneardup")
      .outputMode(OutputMode.Append).start()
    // one micro-batch per doc, doc_id order == arrival order (the batch
    // twin's premise); 1 s apart so all land in one 10 s window
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    corpus.zipWithIndex.foreach { case ((id, text), i) =>
      ms.addData((id, Timestamp.from(t0.plusSeconds(i.toLong)), text))
      q.drainGuarded()
    }
    // sentinel far past the window + watermark: closes every window so the
    // band-path aggregation emits (the sentinel itself stays open → absent)
    ms.addData((99L, Timestamp.from(t0.plusSeconds(3600L)), base * 2))
    q.drainGuarded()
    assertStreamClean("dedup_stream", q); q.stop()
    val streamed = spark.table("sneardup").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamed === expected)
  }

  test("streaming near-dup: a doc behind the watermark is dropped, not emitted") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again today"
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = Dedup.streamingNearDup(
      ms.toDF().toDF("doc_id", "ts", "text"), "ts", delay = "5 seconds",
      windowDur = "10 seconds")
      .writeStream.format("memory").queryName("sneardup_late")
      .outputMode(OutputMode.Append).start()
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    ms.addData((0L, Timestamp.from(t0), text))
    q.drainGuarded()
    // advance the watermark far ahead, then send a LATE unique doc behind
    // it (≥ k tokens so it takes the stateful band path, not the stateless
    // short-doc bypass, which by design never drops late rows)
    ms.addData((1L, Timestamp.from(t0.plusSeconds(5000L)),
      "zebra xylophone quantum meridian ballast crescent harbor tonight"))
    q.drainGuarded()
    ms.addData((2L, Timestamp.from(t0.plusSeconds(1L)),
      "glacier penumbra saffron oblique tandem verdict morning"))
    q.drainGuarded()
    // flush every window
    ms.addData((9L, Timestamp.from(t0.plusSeconds(99999L)), text * 2))
    q.drainGuarded()
    assertStreamClean("dedup_stream", q); q.stop()
    val kept = spark.table("sneardup_late").collect().map(_.getAs[Long]("doc_id")).toSet
    // 0 and 1 emit when their windows close; late doc 2 (behind the
    // watermark) is dropped by the aggregation even though it's unique —
    // reference W2 late-data semantics, not silent acceptance
    assert(kept === Set(0L, 1L))
  }

  test("shingles: document shorter than k yields no shingles") {
    val short = Seq((9L, "a b")).toDF("doc_id", "text")
    assert(Dedup.shingles(short, k = 5).count() === 0L)
  }

  test("jaccard pairs find exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.pairs(docs, PairSpec(Words(2), verify = Jaccard(0.5)))
      .orderBy("doc_a", "doc_b").collect()
    val keys = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(keys.contains((0L, 1L)))
    val j01 = pairs.find(r => r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L).get
    assert(j01.getAs[Double]("jaccard") === 1.0)
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(!keys.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("string-shingle and id-shingle jaccard agree (collision-free corpus)") {
    val byString = Dedup.pairs(docs, PairSpec(Words(2), verify = Jaccard(0.3)))
      .select("doc_a", "doc_b", "n_common", "jaccard")
      .orderBy("doc_a", "doc_b").collect()
    val ids = Vocab.hashTokenIdArrays(docs)
    val byId = Dedup.pairs(ids, PairSpec(Grams(2), verify = Jaccard(0.3)))
      .select("doc_a", "doc_b", "n_common", "jaccard")
      .orderBy("doc_a", "doc_b").collect()
    assert(byString.toSeq === byId.toSeq)
  }

  test("dedup groups: empty pair set (clean corpus) yields empty groups, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupGroups(empty).count() === 0L)
    assert(Dedup.dedupGroupsStar(empty).count() === 0L)
  }

  test("dedup groups: full-range doc ids don't overflow the convergence check") {
    val big = Seq(
      (Long.MaxValue - 5, Long.MaxValue - 1),
      (Long.MaxValue - 1, Long.MaxValue - 3)
    ).toDF("doc_a", "doc_b")
    val g = Dedup.dedupGroups(big).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g.values.toSet === Set(Long.MaxValue - 5))
    assert(g.size === 3)
  }

  test("dedup groups: transitive chains merge into one component, keep-min id") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),  // a 4-chain: one component, min 1
      (7L, 9L),                      // isolated pair
      (11L, 12L), (11L, 13L)         // star
    ).toDF("doc_a", "doc_b")
    val groups = Dedup.dedupGroups(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    assert(groups === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L,
      11L -> 11L, 12L -> 11L, 13L -> 11L))
  }

  test("df-capped jaccard: hot shingles never generate candidates, scores stay exact") {
    // shingle table: docs 1,2 are near-dups sharing rare shingles 100,101
    // plus the hot shingle 7; docs 3,4,5,6 share ONLY the hot shingle 7
    val sh = Seq(
      (1L, 100L), (1L, 101L), (1L, 7L),
      (2L, 100L), (2L, 101L), (2L, 7L),
      (3L, 7L), (3L, 300L),
      (4L, 7L), (4L, 400L),
      (5L, 7L), (5L, 500L),
      (6L, 7L), (6L, 600L)
    ).toDF("doc_id", "shingle_id")
    val out = Dedup.pairs(sh, PairSpec(candidates = Candidates(Some(3L)), verify = Jaccard(0.5)))
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard")))).toMap
    // (1,2): candidates via rare 100/101; intersection counts the hot
    // shingle too → n_common = 3 of 3 (exact score, not the capped one)
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === ((3L, 1.0)))
    // sanity: under the DEFAULT cap (20) shingle 7's df of 6 is still
    // rare enough to generate candidates — only above-cap features are
    // excluded from pair enumeration
    val defaultCap = Dedup.pairs(sh, PairSpec(verify = Jaccard(0.0)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(defaultCap.contains((3L, 4L)))
  }

  test("containment pairs: an excerpt scores 1.0 where jaccard stays low") {
    import org.apache.spark.sql.functions.col
    // doc 2 = the first 8 tokens of doc 1 → every shingle of 2 is in 1
    val corpus = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally different content in this unrelated document right here")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleIdsFromArrays(Vocab.hashTokenIdArrays(corpus), 5)
    val cont = Dedup.pairs(sh, PairSpec(verify = Containment(0.8)))
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("containment"))).toMap
    assert(cont.keySet === Set((1L, 2L)))
    assert(cont((1L, 2L)) === 1.0) // full containment
    // the symmetric jaccard on the same pair is well under the threshold
    val jac = Dedup.pairs(sh, PairSpec(verify = Jaccard(0.0)))
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .collect().head.getAs[Double]("jaccard")
    assert(jac < 0.8, s"jaccard $jac unexpectedly high")
  }

  test("hot-key bound: a 10k-doc boilerplate shingle yields O(f) index rows, zero pairs") {
    import org.apache.spark.sql.functions._
    // every doc shares boilerplate shingle 999 (df = 10 000) and carries one
    // unique shingle — the adversarial corpus where an uncapped inverted
    // index would enumerate Θ(f²) ≈ 5·10⁷ candidate rows in ONE join key
    val f = 10000L
    val hot = spark.range(f).select(col("id").as("doc_id"), lit(999L).as("shingle_id"))
    val uniq = spark.range(f).select(col("id").as("doc_id"), (col("id") + 100000L).as("shingle_id"))
    val sh = hot.union(uniq)
    // the df-capped index drops the hot shingle (df > cap) and every
    // singleton: index rows are 0 ≤ O(f), never pair-quadratic
    assert(Dedup.dfCappedIndex(sh, Dedup.defaultMaxDf).count() === 0L)
    // and the full operator completes with no candidates at all — no pair
    // shares a sub-cap shingle (threshold 0 would keep anything generated)
    assert(Dedup.pairs(sh, PairSpec(verify = Jaccard(0.0))).count() === 0L)
  }

  test("band-key cap: a clone cluster wider than the cap is excluded from pair output") {
    import org.apache.spark.sql.functions._
    // 30 shingle-identical docs (equal signatures: every band key claimed
    // 30× > cap 20) plus one genuine near-dup pair on its own keys
    val wide = spark.range(30).select(col("id").as("doc_id"), lit(1L).as("shingle_id"))
    val pair = Seq(100L, 101L).toDF("doc_id").select(col("doc_id"), lit(50L).as("shingle_id"))
    def bandPairs(cap: Option[Long]) = Dedup.pairs(wide.union(pair),
      PairSpec(sign = MinHash(4), candidates = Candidates(cap), verify = Keys))
    val out = bandPairs(Some(Dedup.defaultMaxDf))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // uncapped this would be C(30,2) + 1 = 436 pairs; capped: just the pair
    assert(out === Set((100L, 101L)))
    // the wide cluster belongs to the O(m) keep-first screen instead, which
    // has no cap and keeps exactly one representative of the 30
    assert(bandPairs(Some(1000L)).count() === 30L * 29L / 2L + 1L)
    assert(bandPairs(None).count() === 30L * 29L / 2L + 1L)
  }

  test("auto CC: tight clusters stay on min-label; a long chain triggers the star fallback") {
    // 80-node path: diameter 79 ≫ switchAfter, so min-label alone would run
    // ~40 job rounds; the auto form bails after `switchAfter` and the star
    // contraction finishes in O(log² n)
    val chain = (0L until 79L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val auto = Dedup.dedupGroupsAuto(chain, switchAfter = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id"))
    assert(auto.length === 80)
    assert(auto.forall(_._2 === 0L)) // one component rooted at the minimum
    // the common case is untouched: auto ≡ plain min-label on cluster graphs
    val clusters = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val a = Dedup.dedupGroupsAuto(clusters).collect().map(_.toSeq).toSet
    val m = Dedup.dedupGroups(clusters).collect().map(_.toSeq).toSet
    assert(a === m)
  }

  test("cross-source dup matrix: canonical source pairs, counts per pair") {
    val corpus = Seq(
      (0L, "t", "srcA"), (1L, "t", "srcB"), (2L, "t", "srcB"),
      (3L, "u", "srcC"), (4L, "u", "srcC")
    ).toDF("doc_id", "text", "source")
    // any pair frame works; here: hand-built duplicate pairs
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.crossSourceDupMatrix(pairs, corpus)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs")).toMap
    assert(out === Map(("srcA", "srcB") -> 2L, ("srcB", "srcB") -> 1L, ("srcC", "srcC") -> 1L))
  }

  test("block dedup: global keep-first on blocks, docs reassemble in order") {
    val corpus = Seq(
      (0L, "a b c x y z"),   // blocks (k=3): [a b c][x y z]
      (1L, "a b c q r s"),   // [a b c] already claimed by doc 0 → drops it
      (2L, "m m m m m m"),   // within-doc duplicate block → second drops
      (3L, "p q")            // short doc: one 2-token block, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(corpus, blockTokens = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"))))
      .toMap
    assert(out(0L) === (("a b c x y z", 2L, 2L))) // first owner keeps everything
    assert(out(1L) === (("q r s", 2L, 1L)))       // boilerplate scrubbed
    assert(out(2L) === (("m m m", 2L, 1L)))       // intra-doc dup collapsed
    assert(out(3L) === (("p q", 1L, 1L)))
  }

  test("block dedup: NULL text has NULL n_blocks with ANSI off, where size(NULL) = -1") {
    import java.sql.Timestamp
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    val corpus = Seq((0L, "a b c x y z"), (1L, null)).toDF("doc_id", "text")
    def batch() = Dedup.blockDedup(corpus, blockTokens = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("clean_text"),
        Option(r.getAs[java.lang.Long]("n_blocks")).map(_.longValue), r.getAs[Long]("n_kept"))))
      .toMap
    try {
      spark.conf.set(key, "true")
      val ansiOn = batch()
      assert(ansiOn === Map(0L -> (("a b c x y z", Some(2L), 2L)), 1L -> (("", None, 0L))))
      spark.conf.set(key, "false")
      assert(spark.sql("SELECT size(CAST(NULL AS ARRAY<INT>))").head().getInt(0) === -1)
      assert(batch() === ansiOn)
      // the streaming twin: a NULL text emits no phantom block row
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[(Long, Timestamp, String)]
      val q = Dedup.streamingBlockDedup(ms.toDF().toDF("doc_id", "ts", "text"), "ts",
        delay = "5 seconds", blockTokens = 3, windowDur = "10 seconds")
        .writeStream.format("memory").queryName("sblockdedup_null")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
      ms.addData((0L, Timestamp.from(t0), "a b c x y z"), (1L, Timestamp.from(t0), null))
      q.drainGuarded()
      // sentinel far past window + watermark closes the reassembly window
      ms.addData((99L, Timestamp.from(t0.plusSeconds(3600L)), "zz zz zz"))
      q.drainGuarded()
      assertStreamClean("dedup_stream_null", q); q.stop()
      val streamed = spark.table("sblockdedup_null").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_blocks")).toMap
      assert(streamed === Map(0L -> 2L))
    } finally spark.conf.set(key, prev)
  }

  test("streaming block dedup ≡ batch over an id-ordered feed") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val corpus: Seq[(Long, String)] = Seq(
      0L -> "a b c x y z",
      1L -> "a b c q r s",   // loses the boilerplate block to doc 0
      2L -> "a b c x y z",   // every block already claimed → emits nothing
      3L -> "m m m m m m")   // intra-doc duplicate block
    val expected = Dedup.blockDedup(corpus.toDF("doc_id", "text"), blockTokens = 3)
      .filter(org.apache.spark.sql.functions.col("n_kept") > 0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"))).toSet
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = Dedup.streamingBlockDedup(
      ms.toDF().toDF("doc_id", "ts", "text"), "ts", delay = "5 seconds",
      blockTokens = 3, windowDur = "10 seconds")
      .writeStream.format("memory").queryName("sblockdedup")
      .outputMode(OutputMode.Append).start()
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    corpus.zipWithIndex.foreach { case ((id, text), i) =>
      ms.addData((id, Timestamp.from(t0.plusSeconds(i.toLong)), text))
      q.drainGuarded()
    }
    // sentinel far past window + watermark closes the reassembly window
    ms.addData((99L, Timestamp.from(t0.plusSeconds(3600L)), "zz zz zz"))
    q.drainGuarded()
    assertStreamClean("dedup_stream", q); q.stop()
    val streamed = spark.table("sblockdedup")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"))).toSet
    assert(streamed === expected)
    // the all-blocks-claimed doc is absent from the stream, present (empty)
    // in the batch frame — the documented delta
    assert(!streamed.exists(_._1 == 2L))
  }

  test("keep-best: longest doc represents each group, singletons kept as-is") {
    val corpus = Seq(
      (0L, "short version of the text"),
      (1L, "a much longer version of the text with extra trailing context"),
      (2L, "an unrelated singleton document"),
      (3L, "tied length aa"),
      (4L, "tied length bb")
    ).toDF("doc_id", "text")
    val groups = Seq((0L, 0L), (1L, 0L), (3L, 3L), (4L, 3L)).toDF("doc_id", "group_id")
    val kept = Dedup.keepBest(corpus, groups).collect().map(_.getLong(0)).toSet
    // group 0: doc 1 is longer; group 3: equal lengths → smaller id (3);
    // doc 2 is ungrouped → kept
    assert(kept === Set(1L, 2L, 3L))
  }

  test("incremental dedup: exact and near verdicts against a fixed corpus") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "unrelated corpus content with different words here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // verbatim in corpus
      (11L, "the quick brown fox jumps over a lazy dog"),   // near (1 token off)
      (12L, "completely fresh new document nothing shared at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dup_exact"), r.getAs[Long]("dup_near")))).toMap
    // every batch doc gets a row; the verbatim copy trips both screens
    assert(out.keySet === Set(10L, 11L, 12L))
    assert(out(10L) === ((1L, 1L)))
    // the near-dup is not an exact dup; the fresh doc trips neither
    assert(out(11L)._1 === 0L)
    assert(out(12L) === ((0L, 0L)))
  }

  test("streaming incremental dedup ≡ batch against the same static corpus") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "unrelated corpus content with different words here")
    ).toDF("doc_id", "text")
    val batch: Seq[(Long, String)] = Seq(
      10L -> "the quick brown fox jumps over the lazy dog", // verbatim
      11L -> "the quick brown fox jumps over a lazy dog",   // near
      12L -> "completely fresh new document nothing shared at all",
      13L -> "hi")                                          // too short to shingle
    val expected = Dedup.incrementalDedup(batch.toDF("doc_id", "text"), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = Dedup.streamingIncrementalDedup(
      ms.toDF().toDF("doc_id", "ts", "text"), corpus, "ts", delay = "5 seconds",
      windowDur = "10 seconds")
      .writeStream.format("memory").queryName("sincdedup")
      .outputMode(OutputMode.Append).start()
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    batch.zipWithIndex.foreach { case ((id, text), i) =>
      ms.addData((id, Timestamp.from(t0.plusSeconds(i.toLong)), text))
      q.drainGuarded()
    }
    ms.addData((99L, Timestamp.from(t0.plusSeconds(3600L)), "zz zz"))
    q.drainGuarded()
    assertStreamClean("dedup_stream", q); q.stop()
    val streamed = spark.table("sincdedup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === expected)
  }

  test("minhash: identical docs have identical signatures and become a candidate pair") {
    // token-set MinHash: the distinct token ids are the given features
    val tid = Vocab.tokenIds(docs).select($"doc_id", $"token_id".as("shingle_id")).distinct()
    val sigs = Dedup.minhashSignaturesFromShingles(tid).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 8).map(i => r.getAs[Long](s"sig_$i")))
      .toMap
    assert(sigs(0L) === sigs(1L))
    val pairs = Dedup.pairs(tid, PairSpec(sign = MinHash(4), verify = Keys))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("boilerplate ratio: cross-doc shared blocks counted, intra-doc repeats are not shared") {
    // 20-token docs = 2 blocks of 16 and 4; A and B share their first block
    // (boilerplate header), C is unique, D repeats ITS OWN block twice
    val header = (1 to 16).map(i => s"h$i").mkString(" ")
    val docs = Seq(
      (0L, header + " a1 a2 a3 a4"),
      (1L, header + " b1 b2 b3 b4"),
      (2L, (1 to 20).map(i => s"c$i").mkString(" ")),
      (3L, ((1 to 16).map(i => s"d$i") ++ (1 to 16).map(i => s"d$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateRatio(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_shared")))).toMap
    assert(got(0L) === ((2L, 1L))) // header shared with doc 1
    assert(got(1L) === ((2L, 1L)))
    assert(got(2L) === ((2L, 0L))) // unique content
    assert(got(3L) === ((2L, 0L))) // intra-doc repeat: same doc min=max
  }

  test("ngram novelty: first claimant novel, verbatim copy zero, short docs absent") {
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, base),            // everything first-seen here
      (1L, base),            // verbatim copy → novelty 0
      (2L, (1 to 12).map(i => s"z$i").mkString(" ")), // all fresh
      (3L, "a b")            // too short to shingle at k=5
    ).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))).toMap
    assert(got(0L)._2 === 1.0)
    assert(got(1L) === ((0L, 0.0)))
    assert(got(2L)._2 === 1.0)
    assert(!got.contains(3L))
  }

  test("pairs: given shingle rows ≡ the Grams stage over id arrays") {
    val ids = graft.ops.Vocab.hashTokenIdArrays(docs)
    val given = Dedup.pairs(Dedup.shingleIdsFromArrays(ids, 5), PairSpec())
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq)
    val grams = Dedup.pairs(ids, PairSpec(Grams(5)))
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq)
    assert(given.toSeq === grams.toSeq)
    assert(given.nonEmpty)
  }

  test("minhash estimate: identical docs score 1.0, pairs match the candidate set") {
    val ids = graft.ops.Vocab.hashTokenIdArrays(docs)
    val est = Dedup.pairs(ids, PairSpec(Grams(5), MinHash(4), verify = Estimate))
    val rows = est.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    // the estimator scores exactly the LSH candidate pairs, nothing else
    val cand = Dedup.pairs(ids, PairSpec(Grams(5), MinHash(4), verify = Keys)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(rows.keySet === cand)
    // identical docs: every signature slot matches → estimate exactly 1.0
    assert(rows((0L, 1L)) === 1.0)
    // estimates are k-slot fractions in [0, 1]
    rows.values.foreach { e =>
      assert(e >= 0.0 && e <= 1.0)
      assert((e * Dedup.minhashCoeffs.size) == math.round(e * Dedup.minhashCoeffs.size).toDouble)
    }
    // the near-dup pair (0,2) must score strictly below the exact dup pair
    rows.get((0L, 2L)).foreach(e => assert(e < 1.0))
  }

  test("simhash pairs: exact dups at hamming 0, all pairs within the bound, unrelated absent") {
    val tid = graft.ops.Vocab.hashTokenIds(docs)
    val out = Dedup.pairs(graft.ops.Vocab.hashTokenIdArrays(docs),
        PairSpec(Ids, SimHash(60, 4), verify = Hamming(3))).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    // identical docs: identical 60-bit fingerprints → distance 0
    assert(out((0L, 1L)) === 0L)
    // the verify stage is exact: nothing beyond the bound leaks through
    out.values.foreach(h => assert(h >= 0L && h <= 3L))
    // doc 3 shares no tokens with 0/1/2 — its fingerprint is far from all
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // band-derived candidates never skip a qualifying pair: every pair of
    // fingerprints within the bound appears (pigeonhole over 4 bands)
    val fps = Dedup.simhash(tid, bits = 60).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val want = (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(out.keySet === want)
  }

  test("winnow overlap: a copied passage is found; boilerplate past the df cap never scores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val words = (0 until 1200).map(i => s"w$i")
    def text(ws: Seq[String]) = ws.mkString(" ")
    // a 12-token passage (≥ w+k−1 = 8, so it must share fingerprints)
    // copied from doc 0 into doc 1; docs 2+ are pairwise-DISJOINT filler
    val passage = words.slice(0, 12)
    val docs = (
      Seq(0L -> text(passage ++ words.slice(100, 140)),
          1L -> text(words.slice(200, 230) ++ passage)) ++
      (2L until 30L).map(i => i -> text(words.slice(240 + i.toInt * 30, 270 + i.toInt * 30)))
    ).toDF("doc_id", "text")
    def overlap(d: org.apache.spark.sql.DataFrame) = Dedup.pairs(
      graft.ops.Vocab.hashTokenIdArrays(d), PairSpec(Winnow(5, 4), verify = Shared(1L)))
    val pairs = overlap(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("n_shared"))
      .toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) >= 1L)
    // a boilerplate sentence present in EVERY doc (df = 30 > cap = 20)
    // contributes no evidence: the filler docs still produce no pairs
    val boiler = " standard legal disclaimer appended to every document x y z"
    val withBoiler = docs.select(col("doc_id"),
      concat(col("text"), lit(boiler)).as("text"))
    val bp = overlap(withBoiler).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(bp.contains((0L, 1L)))
    assert(!bp.exists { case (a, b) => a >= 2L && b >= 2L })
  }

  test("keepBestScored: score argmax with smaller-id ties; ungrouped docs always kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(0L, 1L, 2L, 3L, 4L).map(i => (i, s"doc $i text"))
      .toDF("doc_id", "text")
    val groups = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)).toDF("doc_id", "group_id")
    val scored = Seq((0L, 5L), (1L, 9L), (2L, 7L), (3L, 7L)).toDF("doc_id", "score")
    val kept = Dedup.keepBestScored(corpus, groups, scored)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // group 0: higher score wins (1); group 2: tie → smaller id (2);
    // doc 4 is in no group → kept unconditionally
    assert(kept === Set(1L, 2L, 4L))
  }

  test("idfCosinePairs: identical docs score 1.0; rare-term twins outscore hot-term pairs; no rare shared term → absent") {
    // terms: 100 is hot (df=4, sub-cap), 7/8 rare (df=2); docs 1,2 are
    // identical; docs 3,4 share only the hot term
    val tid = Seq(
      (1L, 100L), (1L, 7L), (1L, 8L),
      (2L, 100L), (2L, 7L), (2L, 8L),
      (3L, 100L), (3L, 55L),
      (4L, 100L), (4L, 66L)
    ).toDF("doc_id", "shingle_id")
    val rows = Dedup.pairs(tid, PairSpec(verify = IdfCosine(0.0)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("cos_ppm")).toMap
    // identical vectors: cosine exactly 1.0 → 1_000_000 ppm
    assert(rows((1L, 2L)) === 1000000L)
    // 3↔4 share only the hot term; it IS under the df cap here, so the
    // pair appears, but its cosine is far below the identical pair's
    assert(rows.contains((3L, 4L)) && rows((3L, 4L)) < rows((1L, 2L)))
    // 1↔3: shared terms = hot only → rare-term index still admits it via
    // token 100 (df=4 ≤ cap) but score stays low
    assert(rows.getOrElse((1L, 3L), 0L) < 500000L)
  }

  test("sketchConfusion: tp/fp/fn partition the union; ppm ratios floor-truncate") {
    val truth = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val cand = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L)).toDF("doc_a", "doc_b")
    val r = Dedup.sketchConfusion(truth, cand).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("true_pos") === 2L)
    assert(row.getAs[Long]("false_pos") === 2L)
    assert(row.getAs[Long]("false_neg") === 1L)
    assert(row.getAs[Long]("precision_ppm") === 500000L)     // 2/4
    assert(row.getAs[Long]("recall_ppm") === 666666L)        // floor(2/3 · 1e6)
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val tid = Vocab.tokenIds(docs)
    val sh = Dedup.simhash(tid).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0L) === sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming <= 4, s"near-dup hamming distance was $hamming")
  }

  test("dupSpans: a planted shared passage yields one exact span; unique docs emit nothing") {
    // 12 tokens of unique prefix/suffix around a shared 8-token passage:
    // duplicated 5-grams are exactly the 4 starting inside the passage, so
    // the merged span covers its 8 tokens and nothing else
    val passage = "the quick brown fox jumps over lazy dogs"
    def uniq(seed: Int, n: Int) = (0 until n).map(i => s"u${seed}_$i").mkString(" ")
    val spanDocs = Seq(
      (0L, s"${uniq(0, 6)} $passage ${uniq(1, 6)}"),
      (1L, s"${uniq(2, 6)} $passage ${uniq(3, 6)}"),
      (2L, uniq(4, 20))).toDF("doc_id", "text")
    val out = Dedup.dupSpans(spanDocs, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("max_span_tokens"),
          r.getAs[Long]("dup_token_ppm"))).toMap
    assert(out.keySet === Set(0L, 1L))
    // 20 tokens per doc, span = 8 tokens → ppm = floor(8e6/20) = 400000
    assert(out(0L) === ((1L, 8L, 400000L)))
    assert(out(1L) === ((1L, 8L, 400000L)))

    // adjacent-but-disjoint duplicated runs separated by ≥1 unique token
    // stay two spans; coverage never double-counts overlapping grams
    val two = Seq(
      (0L, s"$passage ${uniq(9, 4)} $passage"),
      (1L, s"${uniq(8, 5)} $passage ${uniq(7, 7)}")).toDF("doc_id", "text")
    val r0 = Dedup.dupSpans(two, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("max_span_tokens"))).toMap
    assert(r0(0L)._1 === 2L)
    assert(r0(0L)._2 === 8L)
  }

  test("incrementalExactBloom ≡ the join-only exact screen; tiny bitmaps stay exact") {
    val batch = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon"), (2L, "unique one"),
      (3L, "another unique")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma"), (11L, "delta epsilon"), (12L, "corpus only"))
      .toDF("doc_id", "text")
    def run(bits: Int) = Dedup.incrementalExactBloom(batch, corpus, numBits = bits)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_exact")).toMap
    val expected = Map(0L -> 1L, 1L -> 1L, 2L -> 0L, 3L -> 0L)
    assert(run(1 << 17) === expected)
    // a deliberately tiny bitmap (64 bits, heavy FP rate): the exact
    // confirm kills every false positive — the verdict never changes
    assert(run(64) === expected)
  }

  test("excisedCorpus: spans cut in order, untouched docs verbatim, exact copies come back empty") {
    val passage = "the quick brown fox jumps over lazy dogs"
    def uniq(seed: Int, n: Int) = (0 until n).map(i => s"u${seed}_$i").mkString(" ")
    val pre0 = uniq(0, 6); val post0 = uniq(1, 6)
    val pre1 = uniq(2, 6); val post1 = uniq(3, 6)
    val clone = s"${uniq(5, 3)} ${uniq(6, 3)}"
    val corpus = Seq(
      (0L, s"$pre0 $passage $post0"),
      (1L, s"$pre1 $passage $post1"),
      (2L, uniq(4, 20)),   // untouched
      (3L, clone),         // exact copy of 4 → fully covered... but only 6
      (4L, clone)          // tokens (< k=5+? 6 ≥ 5: one dup 5-gram run)
    ).toDF("doc_id", "text")
    val out = Dedup.excisedCorpus(corpus, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens_kept"))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(out(0L) === ((s"$pre0 $post0", 12L)))
    assert(out(1L) === ((s"$pre1 $post1", 12L)))
    assert(out(2L) === ((uniq(4, 20), 20L)))   // verbatim, full token count
    assert(out(3L) === (("", 0L)))             // whole doc duplicated
    assert(out(4L) === (("", 0L)))
  }

  test("sourceOverlapMatrix: exact per-source shingle Jaccard, no zero-overlap rows") {
    // s1: {abcde, bcdef} (doc 1 re-serves abcde — distinct per source);
    // s2: {abcde, bcdex}; s3: {pqrst} disjoint → only the (s1, s2) row,
    // n_common 1, J = 1/3
    val corpus = Seq(
      (0L, "a b c d e f", "s1"),
      (1L, "a b c d e", "s1"),
      (2L, "a b c d e x", "s2"),
      (3L, "p q r s t", "s3")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlapMatrix(corpus).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("source_a") === "s1")
    assert(r.getAs[String]("source_b") === "s2")
    assert(r.getAs[Long]("n_a") === 2L)
    assert(r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("n_common") === 1L)
    assert(r.getAs[Long]("jaccard_ppm") === 333333L)
  }

  test("similarDocsTopK: exact ppm scores, id-asc tie-break, unrelated docs absent") {
    import org.apache.spark.sql.functions._
    // doc 10's 5-gram shingles: abcde bcdef cdefg defgh (4); docs 20/50
    // share 3 of them (J = 3/5), doc 30 shares 1 (J = 1/7), doc 40 none
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (20L, "a b c d e f g x"),
      (50L, "a b c d e f g x"),
      (30L, "a b c d e z1 z2 z3"),
      (40L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleIdsFromArrays(Vocab.hashTokenIdArrays(corpus), 5)
    def similar(pred: org.apache.spark.sql.Column) = Dedup.pairs(sh,
      PairSpec(candidates = Candidates(queries = Some(pred)), verify = TopK(3)))
    val out = similar(col("doc_id") === 10L)
      .collect().map(r => (r.getAs[Long]("rank"),
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("n_common"),
          r.getAs[Long]("sim_ppm")))).toMap
    // identical scores for 20 and 50 → neighbor_id ascending breaks the tie
    assert(out === Map(
      1L -> ((20L, 3L, 600000L)),
      2L -> ((50L, 3L, 600000L)),
      3L -> ((30L, 1L, 142857L))))
    // only the query doc's rows come back — corpus docs are not queries
    val all = similar(col("doc_id") === 10L)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(all === Set(10L))
  }
  test("similarDocsTopKFromIndex: served from the persisted shingle index ≡ recompute") {
    import org.apache.spark.sql.functions.col
    // the x67 truth-side contract: identical df-capped candidates, exact
    // scoring from the persisted full sets + sizes ledger, identical
    // integer ranking — every column must match the recompute form
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = "shingle_index_spec_check"
    Seq(t, t + "_sh", t + "_sizes").foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    Dedup.materializedShingleIndex(docs, t)
    val pred = col("doc_id") % 31 === 0
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("n_common"), r.getAs[Long]("sim_ppm"), r.getAs[Long]("rank"))).toSet
    val served = rows(Dedup.similarDocsTopKFromIndex(spark, t, pred, k = 3))
    val direct = rows(Dedup.pairs(graft.ops.Vocab.hashTokenIdArrays(docs),
      PairSpec(Grams(5), candidates = Candidates(queries = Some(pred)), verify = TopK(3))))
    assert(served.nonEmpty)
    assert(served === direct)
  }
  test("shingleIndexStaleness: totals partition, flip count global, internal cache released") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = "shingle_staleness_spec"
    Seq(t, t + "_sh", t + "_sizes").foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    Dedup.materializedShingleIndex(docs, t)
    val cur = docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("text"), col("source")))
    spark.sqlContext.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rep = Dedup.shingleIndexStaleness(cur, t)
    val rows = rep.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_indexed") + r.getAs[Long]("n_missing")
        === r.getAs[Long]("n_docs"))
    }
    // the delta docs (and only index-absent docs) are missing somewhere
    assert(rows.map(_.getAs[Long]("n_missing")).sum > 0L)
    // n_flip_shingles is the one global number, repeated per row
    assert(rows.map(_.getAs[Long]("n_flip_shingles")).toSet.size === 1)
    // the round-8 leak: `missing` stayed persisted after the report — now
    // the report materializes eagerly and the only persistent blocks left
    // are the returned checkpoint's own (released below, restoring the
    // pre-call set exactly)
    graft.plans.PlanGuard.CheckpointChain.release(rep)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"shingleIndexStaleness left persistent RDDs ${after -- before}")
  }
}
