package graft.ops

import graft.plans.PlanGuard.GuardedCheckpointOps
import graft.sources.BucketedLayout
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{MinHashSigs, PositionalShingleHash, ShingleHash, SimHashBits,
  TokenHashArray, WinnowHash}

/** Deduplication operators for training-data curation over `documents`:
  * exact, near-dup pairs, grouping and keep-best, block and span dedup,
  * and decontamination. (Embedding-cosine near-dup lives in [[Vectors]].)
  *
  * Every near-dup pair operator — shingle Jaccard, containment, idf
  * cosine, winnow overlap, MinHash-LSH candidates and estimates, SimHash
  * Hamming pairs and the per-doc more-like-this top-k — is one
  * [[PairSpec]](shingle, sign, candidates, verify) run by [[pairs]].
  *
  * Scale design notes:
  *   - Exact dedup is one hash aggregation on the text (or a digest of it) —
  *     map-side combine collapses per-partition duplicates before the
  *     shuffle.
  *   - Near-dup avoids the O(n²) pairwise scan with the inverted-index /
  *     LSH-bucket pattern: explode to (feature, doc) pairs, self-join on the
  *     feature, so only documents sharing a shingle/band ever meet. Shuffle
  *     cost is O(index size), not O(n²). Hot features (viral boilerplate
  *     shingles, band keys claimed by near-clone clusters) would still be
  *     Θ(f²) in ONE join key — beyond what AQE skew-split can save — so
  *     every pairwise candidate join runs behind the document-frequency cap
  *     ([[defaultMaxDf]]): candidates must share a feature rarer than the
  *     cap, and Jaccard scores are then verified exactly over the full sets.
  *   - MinHash uses k linear hashes `(a·id + b) mod p` over [[Vocab]] token
  *     ids — deterministic, oracle-reproducible, and computed in one
  *     aggregation pass (k mins per doc, no per-hash job).
  *
  * Cache lifecycle: operators here (like [[Vectors]]) persist intermediates
  * that feed multiple downstream branches (digests, shingle indexes, band
  * tables, CC labels) and hand the still-cached result to the CALLER — the
  * caller owns the lifecycle and unpersists (or `clearCache()`s, as the
  * bench/verify harnesses do between queries) once the consuming action has
  * run. Eagerly unpersisting inside the operator would forfeit exactly the
  * sharing the persist exists for.
  */
object Dedup {

  /** Exact dedup: group identical text, keep the smallest doc_id as the
    * representative. At 100 TB, group on `xxhash64(text)` first and only
    * compare text within hash buckets; at test scale grouping the text
    * column directly is the same plan shape.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"), length(col("text")).cast("long").as("n_chars"))

  /** Digest-first exact dedup — [[exact]]'s 100 TB form, same output: group
    * on `xxhash64(text)` so the wide text column only travels for
    * *duplicate-suspect* buckets. Phase 1 shuffles (digest, doc_id,
    * n_chars) — fixed-width rows, no document bodies. Only buckets with
    * more than one member (the tiny duplicated fraction, plus any hash
    * collisions) re-join the text and confirm equality exactly, so a 64-bit
    * collision can never merge two different documents. Output is
    * bit-identical to [[exact]] (the d1 oracle attests this path).
    */
  def exactByDigest(docs: DataFrame): DataFrame = {
    val d = docs
      .select(xxhash64(col("text")).as("digest"), col("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
      .persist()
    val counts = d.groupBy(col("digest")).agg(count(lit(1)).as("bucket_n"))
    val singletons = d
      .join(counts.filter(col("bucket_n") === 1), Seq("digest"), "left_semi")
      .select(col("doc_id").as("keep_doc_id"), lit(1L).as("n_copies"), col("n_chars"))
    val multis = docs
      .select(xxhash64(col("text")).as("digest"), col("doc_id"), col("text"))
      .join(counts.filter(col("bucket_n") > 1), Seq("digest"), "left_semi")
      .groupBy(col("digest"), col("text"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"),
        length(col("text")).cast("long").as("n_chars"))
    singletons.union(multis)
  }

  /** Streaming exact dedup — dedup-on-ingest for a document stream: keep
    * the first arrival of each text inside the watermark horizon. State is
    * one entry per distinct document seen within the watermark — Spark's
    * `dropDuplicatesWithinWatermark` expires state as the watermark
    * advances, so memory is bounded by the horizon, not history (the
    * unbounded-state failure mode of plain dropDuplicates on streams).
    * Keys are (digest, text), not the digest alone: a 64-bit digest
    * collision between two different documents must keep both (same
    * collision-confirm stance as [[exactByDigest]]); the digest leads the
    * key so state-row comparisons short-circuit on 8 bytes. Works
    * identically on a batch frame.
    */
  def streamingExact(docs: DataFrame, tsCol: String, delay: String): DataFrame =
    docs
      .withColumn("digest", xxhash64(col("text")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("digest", "text")
      .drop("digest")

  /** Word k-gram shingles per document, distinct: (doc_id, shingle). */
  def shingles(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val n = size(toks)
    // slide a k-window over the token array; sequence(0, x) runs *backwards*
    // for x < 0, so documents shorter than k get an explicit empty array
    val sh = when(n >= k,
      transform(sequence(lit(0), n - k), i => array_join(slice(toks, i + 1, lit(k)), " "))
    ).otherwise(array())
    docs
      .select(col("doc_id"), explode(array_distinct(sh)).as("shingle"))
  }

  /** Default document-frequency cap for candidate generation (shingle df in
    * the Jaccard index, membership per LSH band key). Every pairwise
    * candidate join in this file runs behind this cap: a feature shared by
    * f documents generates Θ(f²) candidate rows in ONE join key, so a
    * single viral boilerplate shingle (or a band signature claimed by a
    * near-clone cluster) would melt a task at corpus scale no matter how
    * well AQE splits skew. Capped, the worst key costs Θ(cap²) — a
    * constant. Recall: a pair whose EVERY shared feature is hotter than
    * the cap is missed; at any real similarity threshold near-dup pairs
    * share rare features too, and clusters wide enough to blow the cap are
    * exactly the ones the O(m) keep-first screens ([[nearDupKeepFirst]],
    * [[streamingNearDup]]) already handle without pair enumeration. The
    * oracle SQL applies the identical cap, so results match row-for-row.
    */
  val defaultMaxDf: Long = 20L

  /** Near-duplicate pairs: the one pair-producing code path. Every pair
    * operator is a [[PairSpec]] run through the same four stages:
    *
    *   1. shingle: per-document features as (doc_id, keys…) rows, or as an
    *      id-array projection ([[PairSpec.Grams]], [[PairSpec.Winnow]],
    *      [[PairSpec.Ids]]) that stays inside whole-stage codegen;
    *   2. sign: the join key — the feature itself, or a MinHash band /
    *      SimHash chunk generated at the join from a signature projection
    *      (keys stored as an array column cost about 3× more);
    *   3. candidates: keys claimed by more than `maxDf` documents never
    *      enter the join ([[dfCappedIndex]]), then one self-join on the key
    *      with `doc_a < doc_b`, or `query ≠ neighbor` in the point-query
    *      form;
    *   4. verify: the candidate pairs themselves, or scores over the FULL
    *      feature sets, signatures or fingerprints — the cap bounds
    *      candidates, never scores (the classic candidate-generation /
    *      verification split: only recall is capped).
    *
    * Persist points: the feature rows when verify reads them again; a
    * signature frame when it is an aggregation (a band sweep over one
    * shingle frame shares it) or the estimate re-reads it; capped LSH key
    * rows, which feed the cap count and both join sides.
    *
    * Output per verify: `Keys` (doc_a, doc_b); `Jaccard` (doc_a, doc_b,
    * n_common, jaccard); `Containment` (doc_a, doc_b, n_common,
    * containment); `IdfCosine` (doc_a, doc_b, dw, cos_ppm); `Estimate`
    * (doc_a, doc_b, est_jaccard); `Hamming` (doc_a, doc_b, hamming);
    * `Shared` (doc_a, doc_b, n_shared); `TopK` (query_id, neighbor_id,
    * n_common, sim_ppm, rank).
    */
  def pairs(features: DataFrame, spec: PairSpec): DataFrame = {
    import PairSpec._
    val grams: Option[Column] = spec.shingle match {
      case Grams(k) => Some(ShingleHash.column(col("ids"), k))
      case Winnow(k, w) => Some(WinnowHash.column(col("ids"), k, w))
      case Ids => Some(col("ids"))
      case _ => None
    }
    val exploded = grams.fold(spec.shingle match {
      case Words(k) => shingles(features, k).withColumnRenamed("shingle", "shingle_id")
      case _ => features
    })(g => features.select(col("doc_id"), explode(g).as("shingle_id")))
    val rows = spec.verify match {
      // idf weights count each (doc, feature) once
      case IdfCosine(_) => exploded.select(col("doc_id"), col("shingle_id")).distinct().persist()
      case Jaccard(_) | Containment(_) | TopK(_) => exploded.persist()
      case _ => exploded
    }
    val featureKeys = spec.shingle match { case Given(ks) => ks; case _ => Seq("shingle_id") }
    lazy val sigs = {
      val s = grams.fold(signaturesOver(rows, "shingle_id"))(signatures(features, _))
      if (grams.isEmpty || spec.verify == Estimate) s.persist() else s
    }
    val (keyed, keys, carry) = spec.sign match {
      case Unsigned => (rows, featureKeys, Nil)
      case MinHash(bands) => (keyRows(sigs, minhashBands(bands)), Seq("band", "key"), Nil)
      case SimHash(bits, chunks) =>
        require(bits % chunks == 0 && bits < 63, s"bits=$bits must split into $chunks bands")
        require(spec.verify match { case Hamming(h) => chunks > h; case _ => true },
          "pigeonhole needs more bands than differing bits")
        val ids = grams.getOrElse(throw new IllegalArgumentException("SimHash signs an id array"))
        (keyRows(simhashFromArrays(features.select(col("doc_id"), ids.as("ids")), bits),
          simhashChunks(bits, chunks), Seq("simhash")), Seq("band", "key"), Seq("simhash"))
    }
    val idx = spec.candidates.maxDf.fold(keyed) { cap =>
      dfCappedIndex(if (spec.sign == Unsigned) keyed else keyed.persist(), cap, keys)
    }
    val joined = keyJoin(idx, keys, carry, spec.candidates.queries)
    lazy val cand = joined.select(col("doc_a"), col("doc_b")).distinct()
    spec.verify match {
      case Keys => cand
      case Shared(m) =>
        joined.groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared")).filter(col("n_shared") >= m)
      case Hamming(h) =>
        // one XOR popcount per candidate: no feature re-read, no float
        joined.select(col("doc_a"), col("doc_b"),
            bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast("long").as("hamming"))
          .filter(col("hamming") <= h).distinct()
      case Estimate =>
        // matching slots / k: an unbiased Jaccard estimate from the k-long
        // signature rows alone, exact in binary for k = 8
        def side(s: String) = sigs.select(col("doc_id").as(s"doc_$s") +:
          minhashCoeffs.indices.map(i => col(s"sig_$i").as(s"${s}_$i")): _*)
        val matches = minhashCoeffs.indices
          .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0)).reduce(_ + _)
        cand.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b")).select(col("doc_a"),
          col("doc_b"), (matches.cast("double") / minhashCoeffs.size).as("est_jaccard"))
      case v => setScores(cand, rows, keys, v)
    }
  }

  /** The candidate join: `idx` (doc_id, keys…, carry…) against itself on
    * the keys, as (doc_a, doc_b, keys…, carry_a…, carry_b…) rows — one row
    * per shared key, `doc_a < doc_b`, or `doc_a ≠ doc_b` with only
    * `queries` rows probing.
    */
  private def keyJoin(idx: DataFrame, keys: Seq[String], carry: Seq[String],
      queries: Option[Column]): DataFrame = {
    def side(s: String, df: DataFrame) = df.select(col("doc_id").as(s"doc_$s") +:
      (keys.map(col) ++ carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a", queries.fold(idx)(idx.filter))
      .join(side("b", idx), keys)
      .filter(if (queries.isEmpty) col("doc_a") < col("doc_b") else col("doc_a") =!= col("doc_b"))
  }

  /** Verification over the FULL feature sets `rows` (doc_id, keys…): each
    * candidate's overlap — shared rows, or Σ w² of the quantized
    * w = ⌊10⁶/df⌋ idf weights — against each side's own (`sizes`, if a
    * ledger already holds it), then the spec's score and cut. Each
    * candidate costs |A| join rows, and candidates are few by
    * construction.
    *
    * Weights are integers so every partial sum is a long: exact,
    * overflow-safe (≤ 10¹² per term) and independent of aggregation order
    * — a float idf would hit libm `log` rounding and fold-order
    * nondeterminism across engines. The only float math left is one
    * division and two IEEE-exact sqrts per pair. Top-k scores are integer
    * ppm, so the (sim_ppm desc, neighbor_id asc) ranking is cross-engine
    * exact.
    */
  private def setScores(cand: DataFrame, rows: DataFrame, keys: Seq[String],
      verify: PairSpec.Verify, sizes: Option[DataFrame] = None): DataFrame = {
    val (sets, weight, overlap, name) = verify match {
      case PairSpec.IdfCosine(_) =>
        val w = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
          .select(keys.map(col) :+ floor(lit(1000000L) / col("df")).cast("long").as("w"): _*)
        (rows.join(w, keys).persist(), Seq("w"), sum(col("w") * col("w")), "dw")
      case _ => (rows, Nil, count(lit(1)), "n_common")
    }
    val own = sizes.getOrElse(sets.groupBy(col("doc_id")).agg(overlap.as("n")))
    val scored = cand
      .join(sets.select(col("doc_id").as("doc_a") +: (keys ++ weight).map(col): _*), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b") +: keys.map(col): _*), "doc_b" +: keys)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(overlap.as(name))
      .join(own.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(own.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
    def cut(score: String, value: Column, t: Double, out: Column*) = scored.withColumn(score, value)
      .filter(col(score) >= t).select(col("doc_a") +: col("doc_b") +: out: _*)
    val common = col("n_common").cast("double")
    verify match {
      case PairSpec.Jaccard(t) => cut("jaccard", common / (col("na") + col("nb") - col("n_common")),
        t, col("n_common"), col("jaccard"))
      case PairSpec.Containment(t) => cut("containment", common / least(col("na"), col("nb")),
        t, col("n_common"), col("containment"))
      case PairSpec.IdfCosine(t) => cut("cosine", col("dw").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
        t, col("dw"), floor(lit(1e6) * col("cosine")).cast("long").as("cos_ppm"))
      case PairSpec.TopK(k) =>
        val perQuery = Window.partitionBy(col("query_id"))
          .orderBy(col("sim_ppm").desc, col("neighbor_id").asc)
        scored
          .select(col("doc_a").as("query_id"), col("doc_b").as("neighbor_id"), col("n_common"),
            expr("n_common * 1000000 div (na + nb - n_common)").as("sim_ppm"))
          .withColumn("rank", row_number().over(perQuery))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("n_common"),
            col("sim_ppm"), col("rank").cast("long").as("rank"))
      case v => throw new IllegalArgumentException(s"$v does not score feature sets")
    }
  }

  /** Character code-point id sequence per document — the tokenization-free
    * front-end for CHARACTER n-gram near-dup (whitespace tokenization is
    * meaningless for unsegmented scripts): [[PairSpec.Grams]] over this
    * frame. `token_hash` of a 1-char string is its code point (one fold
    * step), so the same codegen'd expression serves both granularities and
    * the oracle's `unicode(c)` matches exactly.
    */
  def charIds(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TokenHashArray.column(split(col("text"), "")).as("ids"))

  /** Build-if-absent persisted SHINGLE index — the postings/IVF build-once
    * discipline applied to the lexical more-like-this surface
    * ([[pairs]] with `TopK`, the x60/x64 eval's TRUTH side): three tables,
    * built from one shingle pass —
    *
    *   - `table`: the df-capped candidate index (shingle_id, doc_id),
    *     shingle-bucketed — the side every query's candidate join probes;
    *   - `${table}_sh`: the FULL per-doc shingle sets (doc_id,
    *     shingle_id), doc-bucketed — exact scoring reads these (the df cap
    *     bounds candidates, never scores);
    *   - `${table}_sizes`: the (doc_id, n_shingles) ledger (the postings
    *     `_len` pattern) — set sizes without re-aggregating the corpus.
    *
    * No append path BY DESIGN: the df cap is a GLOBAL property — a new
    * batch can push a shingle past the cap, which would require deleting
    * previously-indexed rows of that shingle — so corpus growth is a
    * REBUILD decision (the merge-table/centroid-drift contract, stated
    * rather than faked; the band-keys artifact [[appendBandKeys]] is the
    * appendable lexical index, because band keys carry no global cap).
    */
  def materializedShingleIndex(docs: DataFrame, table: String, k: Int = 5,
      maxDf: Long = defaultMaxDf, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    BucketedLayout.buildIfAbsent(spark, table) {
      val sh = shingleIdsFromArrays(Vocab.hashTokenIdArrays(docs), k).persist()
      // the side tables are dropped UNCONDITIONALLY inside the main table's
      // cold-build block (the writeCentroidLedger discipline, round-8
      // ADVICE): a build-if-absent here would let _sh/_sizes survive a torn
      // rebuild (or a table name reused for a different corpus in one
      // session) and pair stale sets with a freshly built capped index —
      // silently corrupting similarDocsTopKFromIndex scores. The inner
      // buildIfAbsent still runs (now always cold) for its orphaned-
      // location sweep.
      spark.sql(s"DROP TABLE IF EXISTS ${table}_sh")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_sizes")
      BucketedLayout.buildIfAbsent(spark, table + "_sh") {
        BucketedLayout.writeBucketed(sh, table + "_sh", "doc_id", buckets)
      }
      BucketedLayout.buildIfAbsent(spark, table + "_sizes") {
        BucketedLayout.writeBucketed(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles")),
          table + "_sizes", "doc_id", 8)
      }
      val capped = dfCappedIndex(sh, maxDf).select(col("shingle_id"), col("doc_id"))
      BucketedLayout.writeBucketed(capped, table, "shingle_id", buckets)
      sh.unpersist()
      ()
    }
    ()
  }

  /** The [[pairs]] `TopK` point query SERVED from a persisted
    * [[materializedShingleIndex]] — the same candidate join (over the
    * df-capped index) and the same set scores (over the full sets and the
    * sizes ledger), zero shingle derivation per query: results hash-equal
    * the recompute form (spec-pinned), which is what lets the x67 eval run
    * its truth side build-once.
    */
  def similarDocsTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queryPred: Column, k: Int = 3): DataFrame = {
    setScores(keyJoin(spark.table(table), Seq("shingle_id"), Nil, Some(queryPred))
        .select(col("doc_a"), col("doc_b")).distinct(),
      spark.table(table + "_sh"), Seq("shingle_id"), PairSpec.TopK(k),
      Some(spark.table(table + "_sizes").select(col("doc_id"), col("n_shingles").as("n"))))
  }

  /** Staleness / REBUILD-decision report for a persisted
    * [[materializedShingleIndex]] (d39) — the maintenance path of an
    * artifact that deliberately has NO append (the df cap is a global
    * property): given the CURRENT corpus (`current` — (doc_id, text,
    * source)), report per source how far the index has drifted, plus the
    * one global number that decides a rebuild:
    *
    *   - `n_docs` / `n_indexed` / `n_missing`: current corpus size vs
    *     docs the index holds shingles for (documents too short to
    *     shingle count as missing on both sides — they ARE unindexed);
    *   - `n_flip_shingles` (global, repeated per row — the b13-style
    *     broadcast total): shingles whose CAPPED-index membership
    *     (`1 < df ≤ cap`) would FLIP if the missing documents were folded
    *     in. Membership only moves for shingles the missing docs carry,
    *     so the flip scan is missing-shingle-bounded, never corpus².
    *
    * A pipeline reads this before deciding rebuild-vs-wait; all integers,
    * oracle-attested (d39) with a deterministic synthetic delta.
    */
  def shingleIndexStaleness(current: DataFrame, table: String, k: Int = 5,
      maxDf: Long = defaultMaxDf): DataFrame = {
    val spark = current.sparkSession
    val indexedIds = spark.table(table + "_sh").select(col("doc_id")).distinct()
    val missing = current.join(indexedIds, Seq("doc_id"), "left_anti").persist()
    val dfIdx = spark.table(table + "_sh")
      .groupBy(col("shingle_id")).agg(count(lit(1)).as("c_idx"))
    val dfMiss = shingleIdsFromArrays(
        graft.ops.Vocab.hashTokenIdArrays(missing), k)
      .groupBy(col("shingle_id")).agg(count(lit(1)).as("c_miss"))
    val flips = dfMiss.join(dfIdx, Seq("shingle_id"), "left")
      .select(coalesce(col("c_idx"), lit(0L)).as("ci"), col("c_miss").as("cm"))
      .filter((col("ci") > 1 && col("ci") <= maxDf) =!=
        (col("ci") + col("cm") > 1 && col("ci") + col("cm") <= maxDf))
      .agg(count(lit(1)).as("n_flip_shingles"))
    // `missing` feeds both the flip scan and the per-source aggregate but
    // is missing-docs-sized (corpus-scale on a very stale index) — the
    // report itself is per-source metadata, so MATERIALIZE it eagerly and
    // release the cache before returning (the marginFromScored discipline;
    // round-8 verdict "what's wrong" #2: the old lazy return pinned the
    // frame until a blanket clearCache)
    try {
      current.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(missing.groupBy(col("source")).agg(count(lit(1)).as("n_missing")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_missing"))
        .crossJoin(F.broadcast(flips))
        .select(col("source"), col("n_docs"),
          (col("n_docs") - col("n_missing")).as("n_indexed"),
          col("n_missing"), col("n_flip_shingles"))
        .guardedCheckpoint("shingle_staleness")
    } finally { missing.unpersist(); () }
  }

  /** The df-capped inverted index: rows of `sh` whose key has
    * `1 < df ≤ maxDf` (singletons can never produce a pair; hot keys
    * must never enter a self-join). Index SIZE is O(rows kept) — linear in
    * f per key, never Θ(f²) — which DedupSpec pins with a 10 000-document
    * boilerplate-shingle corpus.
    */
  private[graft] def dfCappedIndex(sh: DataFrame, maxDf: Long,
      keys: Seq[String] = Seq("shingle_id")): DataFrame = {
    val rare = sh.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1 && col("c") <= maxDf)
      .select(keys.map(col): _*)
    sh.join(rare, keys, "left_semi")
  }

  /** MinHash parameters: k independent linear hashes over token ids,
    * h_i(x) = (a_i·x + b_i) mod p with p = 2^31 − 1. Constants are small
    * fixed odd multipliers so the oracle can inline them.
    */
  val minhashPrime: Long = 2147483647L
  val minhashCoeffs: Seq[(Long, Long)] =
    Seq((7L, 3L), (11L, 5L), (13L, 17L), (19L, 23L), (29L, 31L), (37L, 41L), (43L, 47L), (53L, 59L))

  /** MinHash signatures as one aggregation computing all k minima over
    * (doc_id, `featureCol`) rows (duplicates are harmless: min is
    * duplicate-insensitive). Output: doc_id, sig_0 … sig_{k-1}.
    */
  private def signaturesOver(features: DataFrame, featureCol: String): DataFrame = {
    val aggs = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col(featureCol) * a + b) % minhashPrime).as(s"sig_$i")
    }
    features.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** All k signatures of a feature-id ARRAY in one codegen'd pass
    * ([[org.apache.spark.sql.graft.MinHashSigs]]); null for empty/null
    * arrays ("too short to sign").
    */
  def minhashSigsCol(ids: Column): Column =
    MinHashSigs.column(ids,
      typedlit(minhashCoeffs.map(_._1)), typedlit(minhashCoeffs.map(_._2)))

  /** Signatures as a pure PROJECTION of an id-array column: (doc_id,
    * carry…, sig_0 … sig_{k−1}); documents whose array is empty or null
    * emit no row.
    */
  private def signatures(df: DataFrame, ids: Column, carry: Seq[String] = Nil): DataFrame = {
    val kept = col("doc_id") +: carry.map(col)
    df.select(kept :+ minhashSigsCol(ids).as("sigs"): _*)
      .filter(col("sigs").isNotNull)
      .select(kept ++ minhashCoeffs.indices.map(i => col("sigs")(i).as(s"sig_$i")): _*)
  }

  /** Signatures as a pure PROJECTION over an id-array frame
    * (doc_id, `idsCol`: array<bigint>) — the no-shuffle form of
    * [[signaturesOver]]: the exploded path rebuilt each document's rows
    * into a hash-aggregate just to fold them back to k minima; here the
    * whole signature stays inside whole-stage codegen (no explode, no
    * aggregate, no exchange). Identical output: min is order- and
    * duplicate-insensitive, and docs whose id array is empty or null emit
    * no row, exactly as their exploded rows were absent (MinHashSigsSpec
    * pins both equivalences). Output: doc_id, sig_0 … sig_{k−1}.
    */
  def minhashSignaturesFromIdArrays(idsDf: DataFrame, idsCol: String = "ids"): DataFrame =
    signatures(idsDf, col(idsCol))

  /** Shingle-set signatures over a (doc_id, ids) token-id-array frame
    * ([[Vocab.hashTokenIdArrays]] shape) — the shingle fold and all k
    * minima run as one codegen projection chain; the shingle array is
    * never exploded.
    */
  def minhashShingleSignaturesFromArrays(idsDf: DataFrame, k: Int = 5): DataFrame =
    signatures(idsDf, ShingleHash.column(col("ids"), k))

  /** Shingle-id stream: the ordered token-id array per doc ((doc_id, ids),
    * [[Vocab.hashTokenIdArrays]] or [[Vocab.tokenIdArrays]]) folded into
    * k-gram ids with a rolling polynomial `(acc·37 + id + 1) mod p`.
    * Shingle-set MinHash (vs token-set) is what makes LSH meaningful when
    * the vocabulary is small relative to the corpus: token *sets* of long
    * documents over a small vocabulary are all nearly identical (every band
    * collides — the candidate set degenerates to all-pairs, O(n²) again),
    * while k-gram sequences stay discriminative. The fold runs in the codegen'd
    * [[org.apache.spark.sql.graft.ShingleHash]] expression (higher-order
    * functions are interpreted — the HOF chain this replaces paid n·k lambda
    * evaluations plus a per-window slice allocation per document, and this
    * stage is the shared front-end of the Jaccard / LSH-band / dedup-group
    * queries). Bit-identical output (same fold, same mod, same distinct
    * order), property-tested in ShingleHashSpec.
    */
  def shingleIdsFromArrays(idsDf: DataFrame, k: Int = 5): DataFrame =
    idsDf.select(col("doc_id"),
      explode(ShingleHash.column(col("ids"), k)).as("shingle_id"))

  /** Signatures over a precomputed (doc_id, shingle_id) table. */
  def minhashSignaturesFromShingles(shingles: DataFrame): DataFrame =
    signaturesOver(shingles, "shingle_id")

  /** LSH key rows: one (doc_id, carry…, band, key) row per struct of
    * `keys`. The keys are generated here, at the join: stored as an array
    * column they took about 3× longer to compute.
    */
  private def keyRows(frame: DataFrame, keys: Seq[Column], carry: Seq[String] = Nil): DataFrame = {
    val kept = col("doc_id") +: carry.map(col)
    frame.select(kept :+ explode(array(keys: _*)).as("b"): _*)
      .select(kept ++ Seq(col("b.band").as("band"), col("b.key").as("key")): _*)
  }

  /** The MinHash-LSH band key, defined once: band b of `bands` is the
    * struct of signature rows b·r … b·r+r−1 (r = k/bands). Two documents
    * collide iff some band's rows all match.
    */
  private def minhashBands(bands: Int): Seq[Column] = {
    val r = minhashCoeffs.size / bands
    // uniform inner field names so the band structs share one type
    (0 until bands).map(b => struct(lit(b).as("band"),
      struct((0 until r).map(i => col(s"sig_${b * r + i}").as(s"r$i")): _*).as("key")))
  }

  /** SimHash chunk keys: chunk i is bits [i·w, (i+1)·w) of the fingerprint
    * (w = bits/chunks). Hamming ≤ h with chunks > h forces one identical
    * chunk by pigeonhole, so chunk equality enumerates a candidate
    * superset.
    */
  private def simhashChunks(bits: Int, chunks: Int): Seq[Column] = {
    val w = bits / chunks
    (0 until chunks).map(i => struct(lit(i).as("band"),
      shiftright(col("simhash"), i * w).bitwiseAND((1L << w) - 1).as("key")))
  }

  /** MinHash-LSH band keys of documents' text: (doc_id, carry…, band,
    * key), one row per band — the front end of [[nearDupKeepFirst]],
    * [[incrementalDedup]], the band-key index and both streaming screens.
    * Signatures are one codegen projection (token ids → k-gram ids → all k
    * minima); documents too short to shingle emit no rows.
    */
  private def bandKeys(docs: DataFrame, k: Int, bands: Int, carry: String*): DataFrame = {
    val sids = ShingleHash.column(TokenHashArray.column(TextOps.tokens(col("text"))), k)
    keyRows(signatures(docs, sids, carry), minhashBands(bands), carry)
  }

  /** Sketch-quality confusion report — the b13/t37/x32 "checked sketch"
    * discipline applied to the LSH candidate generator itself: given the
    * TRUTH pair set (exact Jaccard ≥ τ, d2) and a CANDIDATE pair set (LSH
    * banding, d4), count agreements and both error sides, plus
    * floor-truncated ppm precision/recall (floor, not round: DuckDB rounds
    * half away from zero while Spark rounds HALF_UP, so a ratio landing on
    * a .5 ppm boundary would diverge; floor is identical in both).
    *
    * This is the report that decides banding parameters BEFORE a 100 TB
    * run: both inputs are already df/bucket-capped pair frames (corpus-
    * bounded, not corpus-squared), the full-outer join is pair-set-sized,
    * and the output is one metadata row. false_neg here means "a true
    * near-dup pair no band caught" — the quantity the (bands, rows) tuning
    * trades against candidate volume.
    */
  def sketchConfusion(truth: DataFrame, candidates: DataFrame): DataFrame = {
    val t = truth.select(col("doc_a"), col("doc_b"), lit(1).as("in_t"))
    val c = candidates.select(col("doc_a"), col("doc_b"), lit(1).as("in_c"))
    t.join(c, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("in_t").isNotNull && col("in_c").isNotNull, 1L).otherwise(0L))
          .as("true_pos"),
        sum(when(col("in_t").isNull, 1L).otherwise(0L)).as("false_pos"),
        sum(when(col("in_c").isNull, 1L).otherwise(0L)).as("false_neg"))
      .select(col("true_pos"), col("false_pos"), col("false_neg"),
        floor(lit(1e6) * col("true_pos") / (col("true_pos") + col("false_pos")))
          .cast("long").as("precision_ppm"),
        floor(lit(1e6) * col("true_pos") / (col("true_pos") + col("false_neg")))
          .cast("long").as("recall_ppm"))
  }

  /** Batch twin of [[streamingNearDup]] — ingest-order near-dup filtering
    * with doc_id as the arrival order: keep a document iff none of its LSH
    * band signatures is already claimed by a smaller doc_id. Exactly the
    * key-collision rule the streaming form applies per arrival ("drop iff
    * any band key was seen before"), so streaming output over a doc_id-
    * ordered feed equals this frame (spec-attested, b14 pattern). Output:
    * the kept doc_ids. Documents too short to shingle have no signature and
    * are always kept (no evidence of duplication).
    */
  def nearDupKeepFirst(docs: DataFrame, k: Int = 5, bands: Int = 4): DataFrame = {
    // "a smaller doc_id claims one of my band keys" ⟺ "some band key's
    // min claimant is smaller" — per-key window-min is O(m) per band key
    // where a bucket self-join is O(m²); a boilerplate-heavy corpus (many
    // docs sharing one band key) can't quadratically explode a task.
    val perKey = Window.partitionBy(col("band"), col("key"))
    val dropped = bandKeys(docs, k, bands)
      .withColumn("min_id", min(col("doc_id")).over(perKey))
      .filter(col("min_id") < col("doc_id"))
      .select(col("doc_id"))
      .distinct()
    docs.select(col("doc_id")).join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Incremental corpus dedup — the ingestion-time question a growing
    * training corpus asks of every new batch: which incoming documents are
    * already represented in the existing corpus? Each new document gets two
    * independent verdicts: `dup_exact` (its text appears verbatim in the
    * corpus) and `dup_near` (at least one of its MinHash-LSH band
    * signatures is already claimed by a corpus document — the same
    * band-collision rule as [[nearDupKeepFirst]], but against a fixed
    * reference side instead of smaller doc_ids). Output:
    * (doc_id, dup_exact, dup_near) as 0/1 BIGINT flags for EVERY new-batch
    * document — callers keep `dup_exact + dup_near = 0` and route the rest
    * to review/drop.
    *
    * Scale shape: the corpus side never moves as documents — the exact
    * screen joins on a 64-bit `xxhash64` digest first (fixed-width rows;
    * text travels only for digest-colliding pairs, and a collision can
    * never flag a non-duplicate because equality is re-confirmed on the
    * text), and the near screen equi-joins fixed-width band keys. Both
    * screens are one shuffle each on their key — at 100 TB the corpus
    * digest/band index is computed once and reused across batches (persist
    * or a bucketed table on the key), so a batch costs O(batch + matches),
    * not O(corpus).
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
      k: Int = 5, bands: Int = 4): DataFrame = {
    val nearHits = bandKeys(newBatch, k, bands)
      .join(bandKeys(corpus, k, bands).select(col("band"), col("key")),
        Seq("band", "key"), "left_semi")
      .select(col("doc_id"))
      .distinct()
    flags(newBatch, "dup_exact" -> verbatimHits(newBatch, corpus), "dup_near" -> nearHits)
  }

  /** Batch doc_ids whose text appears verbatim in `corpus`: an `xxhash64`
    * digest equi-join (fixed-width rows; `screen` may prefilter the batch
    * on `digest`), then the text re-confirmed, so a 64-bit collision never
    * flags a non-duplicate.
    */
  private def verbatimHits(newBatch: DataFrame, corpus: DataFrame,
      screen: DataFrame => DataFrame = identity): DataFrame =
    screen(newBatch.select(col("doc_id"), xxhash64(col("text")).as("digest"), col("text")))
      .join(corpus.select(xxhash64(col("text")).as("digest"), col("text").as("ctext")),
        Seq("digest"))
      .filter(col("text") === col("ctext"))
      .select(col("doc_id"))
      .distinct()

  /** (doc_id, flag…) for every batch document: each flag is 1 if the doc is
    * in that flag's hit frame, else 0 (BIGINT).
    */
  private def flags(newBatch: DataFrame, hits: (String, DataFrame)*): DataFrame =
    hits.foldLeft(newBatch.select(col("doc_id"))) { case (df, (flag, h)) =>
      df.join(h.withColumn(flag, lit(1L)), Seq("doc_id"), "left")
    }.select(col("doc_id") +: hits.map(h => coalesce(col(h._1), lit(0L)).as(h._1)): _*)

  /** Corpus snapshot diff — the rev-over-rev governance query a managed
    * dataset runs after every rebuild: match documents by doc_id across
    * two revisions and classify each as `same` (digest equal), `changed`
    * (present in both, digest differs), `added`, or `removed`; report
    * counts per class. Both sides reduce to (doc_id, digest) — fixed-width
    * rows, text never shuffles — and the full outer join is one shuffle
    * on doc_id (bucket both revs on doc_id at write time and it plans
    * exchange-free). Output: (status, n_docs).
    */
  def snapshotDiff(oldRev: DataFrame, newRev: DataFrame): DataFrame = {
    val a = oldRev.select(col("doc_id"), xxhash64(col("text")).as("old_digest"))
    val b = newRev.select(col("doc_id"), xxhash64(col("text")).as("new_digest"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") === col("new_digest"), "same")
          .otherwise("changed").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** The corpus side of [[incrementalDedup]]'s near screen, PERSISTED: the
    * band-key index as a bucketed table (flattened key columns
    * (band, r0, r1) + claimant doc_id, hash-clustered on the key), written
    * once per corpus rev and reused by every ingest batch. With the index
    * bucketed, the per-batch screen plans with ZERO exchanges on the
    * corpus side (BucketedLayoutSpec pins it) — a batch costs
    * O(batch + matches), and the 100 TB corpus is never re-shingled or
    * re-shuffled per ingest. The index also feeds pair generation:
    * [[pairs]] over it with `Given(Seq("band", "r0", "r1"))` keys and a
    * batch's doc ids as `queries` gives that batch's band-collision pairs
    * without re-shingling the corpus.
    */
  def writeBandKeyIndex(docs: DataFrame, table: String, buckets: Int = 32,
      k: Int = 5, bands: Int = 4): Unit =
    writeBandKeys(docs, table, buckets, k, bands, org.apache.spark.sql.SaveMode.Overwrite)

  /** Writes the band-key index rows (band, r0, r1, doc_id), key flattened. */
  private def writeBandKeys(docs: DataFrame, table: String, buckets: Int, k: Int,
      bands: Int, mode: org.apache.spark.sql.SaveMode): Unit =
    bandKeys(docs, k, bands).select(col("band"), col("key.*"), col("doc_id"))
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, "band", "r0", "r1")
      .saveAsTable(table)

  /** Append one ingest batch's band keys to a persisted
    * [[writeBandKeyIndex]] table (same flattened layout and bucketing
    * spec — Spark refuses mismatched bucketing on append, which is the
    * guard we want). Duplicate keys from a replayed batch are harmless to
    * every reader here: pair generation and the near screen both reduce
    * through DISTINCT/semi-join.
    */
  def appendBandKeys(docs: DataFrame, table: String, buckets: Int = 32,
      k: Int = 5, bands: Int = 4): Unit = {
    writeBandKeys(docs, table, buckets, k, bands, org.apache.spark.sql.SaveMode.Append)
    // an already-resolved relation for this table may have cached its file
    // listing; without the refresh a reader planned after the append can
    // still scan the pre-append file set
    docs.sparkSession.catalog.refreshTable(table)
  }

  /** [[incrementalDedup]]'s near verdict against a persisted
    * [[writeBandKeyIndex]] table: the arriving batch's band keys left-semi
    * join the index on the bucketed key columns — only the (small) batch
    * side shuffles. Returns the near-duplicate doc_ids of the batch.
    */
  def incrementalNearFromIndex(newBatch: DataFrame, index: DataFrame,
      k: Int = 5, bands: Int = 4): DataFrame =
    bandKeys(newBatch, k, bands).select(col("doc_id"), col("band"), col("key.*"))
      .join(index.select(col("band"), col("r0"), col("r1")),
        Seq("band", "r0", "r1"), "left_semi")
      .select(col("doc_id"))
      .distinct()

  /** Line/block-level exact dedup — the CCNet/RefinedWeb-style curation
    * pass that operates BELOW document granularity: chop each document into
    * consecutive `blockTokens`-token blocks, keep only the globally FIRST
    * occurrence of every distinct block (order = (doc_id, block index)),
    * and reassemble each document from its surviving blocks. Boilerplate
    * shared across thousands of documents (headers, navigation, legal
    * text) survives exactly once, in the earliest document — the dedup
    * form that document-level screens (d1/d10) cannot express. Output:
    * (doc_id, clean_text, n_blocks, n_kept) for every document.
    *
    * Scale shape: two shuffles, no self-join anywhere — (1) blocks shuffle
    * on their content key for the per-key window (row_number per block
    * key is O(m log m) in bucket size m, never O(m²); the key leads with
    * `xxhash64(block)` so state comparisons short-circuit on 8 bytes and
    * a digest collision can never merge distinct blocks), (2) survivors
    * shuffle back on doc_id for reassembly. A corpus-wide boilerplate
    * block lands in ONE bucket but costs only a linear scan of it.
    */
  /** The (idx, block) struct array for [[blockDedup]]/[[streamingBlockDedup]]:
    * consecutive `blockTokens`-token blocks of `text`, space-joined — block
    * i = tokens [i·k, (i+1)·k), so reassembling every block reproduces the
    * original text exactly.
    */
  private def blockStructs(blockTokens: Int) = {
    val toks = TextOps.tokens(col("text"))
    // NULL for NULL text under either ANSI setting: with ANSI off,
    // size(NULL) is −1, the sequence below becomes [0], and a NULL text
    // would emit one phantom NULL block
    when(col("text").isNotNull, transform(
      // integer block count: Column `/` is double division, so truncate
      // back (non-negative operands — identical to floor division)
      sequence(lit(0), ((size(toks) - 1) / blockTokens).cast("int")),
      i => struct(i.as("idx"),
        array_join(slice(toks, i * blockTokens + 1, lit(blockTokens)), " ").as("block"))))
  }

  /** `n_blocks` of a [[blockStructs]] array, NULL for NULL text: with
    * `spark.sql.ansi.enabled=false` Spark's `size(NULL)` is −1, not NULL.
    */
  private def nBlocks(blocksArr: Column): Column =
    when(col("text").isNull, lit(null)).otherwise(size(blocksArr))
      .cast("long").as("n_blocks")

  /** Reassemble kept (idx, block) rows per doc: blocks in original order,
    * space-joined, plus the survivor count.
    */
  private def reassembleBlocks(kept: DataFrame): DataFrame =
    kept
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("block")))),
          p => p.getField("block")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))

  def blockDedup(docs: DataFrame, blockTokens: Int = 16): DataFrame = {
    val blocksArr = blockStructs(blockTokens)
    val blocks = docs
      .select(col("doc_id"), explode(blocksArr).as("b"))
      .select(col("doc_id"), col("b.idx").as("idx"), col("b.block").as("block"))
    // Globally-first occurrence per distinct block as an AGGREGATE
    // (round 14, guide §2.3/§2.4): min(struct(doc_id, idx)) per
    // (xxhash64(block), block) is the identical winner the previous
    // row_number-over-window picked (struct min is lexicographic on
    // (doc_id, idx), the window's exact orderBy; ties impossible —
    // (doc_id, idx) is unique), but the aggregate PARTIALLY AGGREGATES
    // MAP-SIDE (struct min plans as a partial+final SortAggregate pair):
    // duplicate blocks collapse BEFORE the exchange, so the shuffle
    // carries ~|distinct blocks| rows instead of every occurrence —
    // boilerplate-heavy corpora are exactly the many-occurrence case the
    // old window shuffled in full.
    val kept = blocks
      .groupBy(xxhash64(col("block")).as("h"), col("block"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"), col("block"))
    val clean = reassembleBlocks(kept)
    // n_blocks straight from the block array's size — the previous shape
    // re-exploded the corpus and ran a (doc_id, n_blocks) DISTINCT just to
    // recover a value that is a pure projection of the document row
    // (round 14: one corpus explode pass + one distinct shuffle + one join
    // removed). NULL text ⇒ NULL n_blocks, see [[nBlocks]].
    docs.select(col("doc_id"), nBlocks(blocksArr))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Per-document boilerplate ratio — the document-level readout of the
    * block index [[blockDedup]] deduplicates with: the fraction of a
    * document's `blockTokens`-token blocks whose content also appears in at
    * least one OTHER document (nav bars, license headers, templated
    * footers). A curation pipeline thresholds this to route
    * mostly-boilerplate documents to block-level scrubbing (d15) or
    * dropping, where x13's repetition ratio only sees INTRA-document
    * repeats. Output: (doc_id, n_blocks, n_shared, boilerplate_ratio).
    *
    * Scale shape: one shuffle of the block rows on their content key, one
    * shuffle back on doc_id — no self-join anywhere. "Shared across docs"
    * is `min(doc_id) ≠ max(doc_id)` over the block-content window (O(m)
    * per key — no countDistinct, no pair enumeration; the key leads with
    * `xxhash64(block)` so comparisons short-circuit on 8 bytes), so a
    * corpus-wide boilerplate block costs a linear scan of its ONE bucket.
    */
  def boilerplateRatio(docs: DataFrame, blockTokens: Int = 16): DataFrame = {
    val blocks = docs
      .select(col("doc_id"), explode(blockStructs(blockTokens)).as("b"))
      .select(col("doc_id"), col("b.block").as("block"))
    val perContent = Window.partitionBy(xxhash64(col("block")), col("block"))
    blocks
      .withColumn("shared",
        when(min(col("doc_id")).over(perContent) =!= max(col("doc_id")).over(perContent), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("shared")).as("n_shared"))
      .select(col("doc_id"), col("n_blocks"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_blocks")).as("boilerplate_ratio"))
  }

  /** Per-document n-gram novelty — how much of a document is NEW to the
    * corpus in ingest order: the fraction of its distinct k-gram shingles
    * whose first claimant (smallest doc_id anywhere in the corpus) is this
    * document. Low novelty means the content was already covered by
    * earlier documents — the continuous-crawl signal for down-weighting
    * re-crawls and syndicated copies without running pairwise dedup at
    * all. Output: (doc_id, n_shingles, n_novel, novelty); documents too
    * short to shingle emit no row.
    *
    * Scale shape: NO pair join of any kind — one window-min over the
    * shingle index (O(m) per shingle key; a corpus-wide boilerplate
    * shingle is one linear bucket scan) and one aggregation back on
    * doc_id. This is the operator that answers "is this batch mostly
    * dupes?" at O(corpus shingles), where d2/d4 answer "of WHAT?" at pair
    * cost.
    */
  def ngramNovelty(docs: DataFrame, k: Int = 5): DataFrame =
    firstClaims(shingleIdsFromArrays(Vocab.hashTokenIdArrays(docs), k), "shingle_id",
        "n_shingles", "n_novel")
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))

  /** Per document: its (distinct) `key` rows, counted as `n`, and how many
    * of them it claims first — smallest doc_id anywhere — counted as
    * `claimed`. One window-min per key, no pair join.
    */
  private def firstClaims(rows: DataFrame, key: String, n: String, claimed: String): DataFrame =
    rows.withColumn("first_id", min(col("doc_id")).over(Window.partitionBy(col(key))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(n),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as(claimed))

  /** Token-level novelty — [[ngramNovelty]]'s vocabulary sibling (the
    * Heaps'-law check): for each document in ingest order, how many of its
    * distinct tokens are NEW to the corpus (first claimant by smallest
    * doc_id)? Summing n_new_tokens over doc_id order gives the vocabulary
    * growth curve; a flattening curve says the corpus has stopped teaching
    * the tokenizer anything. Same scale shape as x19: one window-min over
    * the (doc_id, token_id) index — no pair join — then an aggregation
    * back on doc_id. Output: (doc_id, n_distinct_tokens, n_new_tokens).
    */
  def tokenNovelty(tokenIds: DataFrame): DataFrame =
    firstClaims(tokenIds.select(col("doc_id"), col("token_id")).distinct(), "token_id",
      "n_distinct_tokens", "n_new_tokens")

  /** Cross-source duplication matrix — the data-governance view of dedup:
    * for every (source, source) pair, how many duplicate pairs span them?
    * A crawl pipeline reads this to find which feeds re-serve each other's
    * content (high off-diagonal mass) vs which re-serve themselves
    * (diagonal). Works over ANY pair frame — exact-digest pairs, Jaccard
    * pairs (d2), band candidates (d4) — so one matrix operator serves every
    * dedup granularity. Sources are canonicalized (source_a ≤ source_b) so
    * each unordered pair counts once. Output: (source_a, source_b, n_pairs).
    *
    * Scale shape: two broadcast-able joins of the (already sub-quadratic)
    * pair frame against the (doc_id, source) projection — the corpus text
    * never moves, and the matrix itself is |sources|² metadata.
    */
  def crossSourceDupMatrix(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Source-level shingle-overlap matrix — corpus cartography: where
    * [[crossSourceDupMatrix]] counts DOCUMENT pairs a dedup stage already
    * found, this measures how much raw CONTENT two feeds share whether or
    * not any single document crosses the near-dup threshold: the exact
    * Jaccard of the sources' distinct k-gram shingle sets (diffuse
    * boilerplate, syndicated fragments, partial mirrors all register).
    * Output: (source_a, source_b, n_a, n_b, n_common, jaccard_ppm) for
    * every pair sharing ≥ 1 shingle, source_a < source_b.
    *
    * Scale shape: the corpus collapses to (source, shingle) DISTINCT
    * rows, then ONE aggregation per shingle collects its source set —
    * bounded by |sources|, so the pair fan-out per shingle is ≤
    * C(|sources|, 2) rows of metadata and there is NO self-join anywhere
    * (a hot shingle shared by every source costs O(|sources|²), never
    * O(f²) over its document frequency). Set sizes are |sources| rows,
    * broadcast back. `1e6 · n_common` needs n_common < 2⁶³/10⁶ —
    * comfortable past 10¹² distinct shared shingles.
    */
  def sourceOverlapMatrix(docs: DataFrame, k: Int = 5): DataFrame = {
    val sh = shingleIdsFromArrays(graft.ops.Vocab.hashTokenIdArrays(docs), k)
    val srcSh = sh
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("shingle_id")).distinct().persist()
    val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val common = srcSh
      .groupBy(col("shingle_id"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            y -> struct(x AS source_a, y AS source_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("(1000000 * n_common) div (n_a + n_b - n_common)").as("jaccard_ppm"))
  }

  /** Streaming twin of [[blockDedup]] — block-level dedup at ingest: a
    * block survives iff it is the FIRST arrival of its content within the
    * watermark horizon (over a doc_id-ordered feed this equals the batch
    * form's (doc_id, idx) keep-first — the d10/d12 contract, spec-attested),
    * and each document re-emits from its surviving blocks when its window
    * closes. Same two-chained-stateful-op shape as [[streamingNearDup]]:
    * `dropDuplicatesWithinWatermark` on the (digest, block) key — state is
    * one entry per distinct block within the horizon, digest-led so state
    * compares short-circuit on 8 bytes — then a windowed reassembly
    * aggregation. Documents whose every block was already claimed emit no
    * row (a stream can't see "all blocks dropped" statelessly); batch
    * comparisons filter to `n_kept > 0`.
    */
  def streamingBlockDedup(docs: DataFrame, tsCol: String, delay: String,
      blockTokens: Int = 16, windowDur: String = "10 seconds"): DataFrame = {
    val blocksArr = blockStructs(blockTokens)
    val blocks = docs
      .select(col("doc_id"), col(tsCol), nBlocks(blocksArr),
        explode(blocksArr).as("b"))
      .select(col("doc_id"), col(tsCol), col("n_blocks"),
        col("b.idx").as("idx"), col("b.block").as("block"))
    blocks
      .withColumn("digest", xxhash64(col("block")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("digest", "block")
      .groupBy(window(col(tsCol), windowDur), col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("block")))),
          p => p.getField("block")), " ").as("clean_text"),
        max(col("n_blocks")).as("n_blocks"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"), col("clean_text"), col("n_blocks"), col("n_kept"))
  }

  /** Representative selection after grouping — the curation step that runs
    * on [[dedupGroupsAuto]]'s output: from every near-dup group keep the
    * LONGEST document (the standard keep-best choice — near-dup groups
    * usually contain truncated/paginated variants of one source; ties to
    * the smaller doc_id), and keep every ungrouped document as its own
    * representative. Output: the kept doc_ids.
    *
    * Scale shape: group sizes are bounded by construction (near-dup
    * clusters), so the per-group argmax is a hash aggregation over
    * (group_id) — one shuffle of (doc_id, group_id, len) triples; the
    * ungrouped side is a left-anti join on doc_id. No window over the
    * corpus, no text movement (length is computed at the scan).
    */
  def keepBest(docs: DataFrame, groups: DataFrame): DataFrame =
    keepBestScored(docs, groups,
      docs.select(col("doc_id"), length(col("text")).cast("long").as("score")))

  /** Representative selection under an ARBITRARY per-document integer
    * score (largest wins, ties to the smaller doc_id) — the seam
    * [[keepBest]] (longest text) and the quality-aware d27 form (highest
    * stopword-naturalness ppm, the FineWeb-style pick) share: one argmax
    * aggregate per group over the (doc_id, score) frame plus an anti-join
    * for the ungrouped docs. Scores must be integers — a double score
    * would put cross-engine ulp differences on the argmax boundary.
    */
  def keepBestScored(docs: DataFrame, groups: DataFrame, scored: DataFrame): DataFrame = {
    val members = groups.join(scored.select(col("doc_id"), col("score")), Seq("doc_id"))
    val reps = members
      .groupBy(col("group_id"))
      .agg(max_by(col("doc_id"), struct(col("score"), -col("doc_id"))).as("doc_id"))
      .select(col("doc_id"))
    val singletons = docs.select(col("doc_id"))
      .join(groups.select(col("doc_id")), Seq("doc_id"), "left_anti")
    reps.union(singletons)
  }

  /** Streaming twin of [[incrementalDedup]] — the ingest-time screen as a
    * structured stream against a STATIC corpus frame: every arriving
    * document gets the same two verdicts (verbatim-in-corpus, band-key
    * collision) via stream-static joins, which Spark executes with the
    * static side as a fixed build — no streaming state for the joins at
    * all. The only stateful operator is the final windowed per-document
    * combine (max of the evidence flags), so state is one row per in-flight
    * document. Emits (doc_id, dup_exact, dup_near) when the window closes.
    *
    * At 100 TB the static side is the corpus digest/band-key INDEX (two
    * narrow frames, ideally bucketed on their keys), not the corpus itself —
    * the same reuse note as the batch form.
    */
  def streamingIncrementalDedup(docs: DataFrame, corpus: DataFrame,
      tsCol: String, delay: String, k: Int = 5, bands: Int = 4,
      windowDur: String = "10 seconds"): DataFrame = {
    val corpusDigests = corpus
      .select(xxhash64(col("text")).as("digest"), col("text").as("ctext")).distinct()
    val corpusKeys = bandKeys(corpus, k, bands)
      .select(col("band"), col("key")).distinct().withColumn("hit", lit(1L))
    // exact evidence: one row per arriving doc, flag from a stream-static
    // left join (digest equi-join + exact text confirm — collision-safe)
    val exactEv = docs
      .withColumn("digest", xxhash64(col("text")))
      .join(corpusDigests, Seq("digest"), "left")
      .select(col("doc_id"), col(tsCol),
        when(col("ctext").isNotNull && col("text") === col("ctext"), 1L)
          .otherwise(0L).as("e"),
        lit(0L).as("n"))
    // near evidence: one row per (doc, band), flag iff the corpus claims
    // the key. Docs too short to shingle emit no band rows — their exact
    // row alone decides (dup_near stays 0, matching the batch form)
    val nearEv = bandKeys(docs, k, bands, tsCol)
      // UNHINTED (round 11): corpusKeys is one row per distinct (band,
      // sig) — corpus-proportional (each doc mints `bands` signatures), so
      // a hint would force a corpus-scale broadcast onto every executor at
      // 100 TB. The static-side planner broadcasts it at fixture scale
      // from its stats; past the threshold the stream-static join shuffles
      // (the honest scale path for near-dup-on-ingest is the persisted
      // index family anyway — d15's Bloom side for exact, d38's shingle
      // index for near).
      .join(corpusKeys, Seq("band", "key"), "left")
      .select(col("doc_id"), col(tsCol), lit(0L).as("e"),
        coalesce(col("hit"), lit(0L)).as("n"))
    exactEv.unionByName(nearEv)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur), col("doc_id"))
      .agg(max(col("e")).as("dup_exact"), max(col("n")).as("dup_near"))
      .select(col("doc_id"), col("dup_exact"), col("dup_near"))
  }

  /** Benchmark decontamination — the training-data hygiene pass: flag
    * corpus documents that share at least `minOverlap` distinct k-gram
    * shingles with any document in `benchmark` (the eval/test suite whose
    * contents must not leak into training data). Output:
    * (doc_id, n_hits) for contaminated corpus docs, n_hits = number of
    * distinct corpus-doc shingles present anywhere in the benchmark.
    *
    * Scale shape: the benchmark side is an eval suite — tiny relative to a
    * 100 TB corpus — so its distinct shingle set is broadcast and the
    * corpus streams through scan → shingle projection → broadcast
    * hash-semi-join → partial-count agg: one shuffle (on doc_id, already
    * the corpus key), no corpus self-join, no benchmark re-scan. Shingles
    * come from the codegen'd rolling-hash expression, so the projection
    * stays inside whole-stage codegen.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, k: Int = 5,
      minOverlap: Int = 1): DataFrame = {
    val corpusSh = shingleIdsFromArrays(Vocab.hashTokenIdArrays(corpus), k)
    // benchSh joins UNHINTED (round 11, the hardened PlanGuard): the
    // benchmark is semantically an eval suite — tiny — but STATICALLY it
    // is whatever frame the caller passes (the fixture passes a corpus
    // slice), and a broadcast hint would force the build at every scale.
    // Stats-driven planning broadcasts a genuinely small benchmark at
    // every scale anyway — the hint bought nothing the size estimate
    // doesn't, and cost the 100 TB safety margin.
    val benchSh = shingleIdsFromArrays(Vocab.hashTokenIdArrays(benchmark), k)
      .select(col("shingle_id")).distinct()
    corpusSh
      .join(benchSh, Seq("shingle_id"))
      // shingle ids are distinct per doc, so count(*) = distinct overlap
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
  }

  /** The stateless form of [[decontaminate]] — for dedup-at-ingest the
    * benchmark's distinct shingle ids are pinned as a sorted literal array
    * (eval suites are driver-memory-sized by nature) and each document's
    * hit count is `size(array_intersect(doc_shingles, bench))`: a pure
    * projection with zero shuffles and zero streaming state, so the same
    * code screens a batch frame and a structured stream (append mode,
    * no watermark needed — spec-attested streaming ≡ batch). Output: the
    * input rows plus `n_hits`; callers filter `n_hits < minOverlap` for
    * the clean stream or `>=` for the quarantine side.
    */
  def decontaminateStateless(docs: DataFrame, benchShingleIds: Array[Long],
      k: Int = 5): DataFrame = {
    val sh = ShingleHash.column(TokenHashArray.column(TextOps.tokens(col("text"))), k)
    docs.withColumn("n_hits",
      size(array_intersect(sh, typedlit(benchShingleIds.sorted.toSeq))).cast("long"))
  }

  /** Collect a benchmark frame's distinct shingle ids for
    * [[decontaminateStateless]] — run once per benchmark release, not per
    * batch. Fail-fast contract guard (round-11 verdict): this collects to
    * the driver — sound for an eval suite by nature, a silent driver OOM
    * for a corpus-sized caller mistake — so a `limit(maxIds+1)` probe
    * rejects oversized frames with a diagnostic naming the contract
    * before any collect happens.
    */
  def benchmarkShingleIds(benchmark: DataFrame, k: Int = 5,
      maxIds: Int = 4000000): Array[Long] = {
    require(maxIds < Int.MaxValue, "maxIds + 1 must stay an Int")
    // ONE pass (round-12 review: a separate limit-count probe re-ran the
    // whole shingle/distinct pipeline before the collect): collect at most
    // maxIds + 1 rows and check the length — the +1 row is the overflow
    // signal. Int-typed cap so the limit can always express it.
    val rows = shingleIdsFromArrays(Vocab.hashTokenIdArrays(benchmark), k)
      .select(col("shingle_id")).distinct()
      .limit(maxIds + 1).collect()
    require(rows.length <= maxIds,
      s"benchmarkShingleIds collects the benchmark's distinct shingle ids to the " +
        s"driver — an eval-suite-sized contract (run once per benchmark release) " +
        s"and this frame has > $maxIds distinct shingles: screen against a " +
        s"corpus-scale set with the persisted shingle index " +
        s"(materializedShingleIndex) instead, or raise maxIds deliberately")
    rows.map(_.getLong(0))
  }

  /** Fractional contamination score — [[decontaminate]]'s binary flag as
    * a spectrum: for EVERY corpus document with at least one k-gram
    * shingle, the share of its distinct shingles that appear anywhere in
    * the benchmark, in ppm. Hygiene dashboards want the distribution (how
    * contaminated, how deeply, across the whole corpus), not only the
    * ≥-threshold membership [[decontaminate]] returns — a doc at
    * 990 000 ppm is an eval copy; one at 300 ppm shares a stock phrase.
    *
    * Same scale shape as [[decontaminate]]: the benchmark's distinct
    * shingle set is broadcast and the corpus streams through scan →
    * codegen'd shingle projection → broadcast LEFT join → one
    * partial-first aggregation on doc_id (already the corpus key).
    * Zero-hit documents survive the left join and score 0, so the full
    * corpus is covered in the same single pass.
    *
    * Output: (doc_id, n_shingles, n_hits, contamination_ppm).
    */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
      k: Int = 5): DataFrame = {
    val corpusSh = shingleIdsFromArrays(Vocab.hashTokenIdArrays(corpus), k)
    // UNHINTED for the same reason as [[decontaminate]]'s bench side
    // (round 11): statically the benchmark is caller-supplied — a hint
    // would force the broadcast at every scale, while stats-driven
    // planning broadcasts a genuinely small benchmark anyway.
    val benchSh = shingleIdsFromArrays(Vocab.hashTokenIdArrays(benchmark), k)
      .select(col("shingle_id")).distinct()
      .withColumn("hit", lit(1L))
    corpusSh
      .join(benchSh, Seq("shingle_id"), "left")
      .groupBy(col("doc_id"))
      // shingle ids are distinct per doc, so count(*) = distinct shingles
      // and sum(hit) = distinct benchmark overlap
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(lit(1e6) * col("n_hits") / col("n_shingles")).cast("long")
          .as("contamination_ppm"))
  }

  /** Streaming near-dup — dedup-on-ingest by MinHash-LSH band keys: a
    * document is dropped iff ANY of its `bands` band signatures collides
    * with one seen earlier inside the watermark horizon.
    *
    * Dataflow (all per-row until the final keep decision — the signature is
    * a projection, not an aggregation, so ingest stays narrow):
    *
    *   1. per-row shingle ids ([[org.apache.spark.sql.graft.ShingleHash]]
    *      over [[org.apache.spark.sql.graft.TokenHashArray]]) and the k
    *      MinHash minima in one codegen pass ([[bandKeys]]);
    *   2. explode to one row per band, key = (band, band-signature);
    *   3. `dropDuplicatesWithinWatermark` on the band key — state is one
    *      entry per distinct band key within the horizon, expiring as the
    *      watermark advances (bounded by horizon, not history);
    *   4. windowed count per doc: a document survives iff ALL `bands` of
    *      its band rows were first-seen (`n_bands = bands`) — any collision
    *      means some earlier document already claimed that key.
    *
    * Documents too short to shingle bypass the dedup (kept, stateless
    * branch). Output: (doc_id) of kept documents; band-path rows emit when
    * their window closes (the two stateful operators chain in append mode).
    */
  def streamingNearDup(docs: DataFrame, tsCol: String, delay: String,
      k: Int = 5, bands: Int = 4, windowDur: String = "10 seconds"): DataFrame = {
    val kept = bandKeys(docs, k, bands, tsCol)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("band", "key")
      .groupBy(window(col(tsCol), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") === bands)
      .select(col("doc_id"))
    // null text → empty shingles, NOT null: a null would match neither
    // branch and the document would silently vanish from the stream (the
    // batch twin keeps null-text docs — no signature, no candidate pair)
    val sids = ShingleHash.column(TokenHashArray.column(TextOps.tokens(col("text"))), k)
    val unshingleable = docs.filter(size(coalesce(sids, array().cast("array<bigint>"))) === 0)
      .select(col("doc_id"))
    kept.union(unshingleable)
  }

  /** Near-duplicate GROUPS from a pair graph: connected components by
    * iterative min-label propagation — the step a real dedup pipeline runs
    * after pair generation (keep one document per component, drop the
    * rest). Output: (doc_id, group_id) where group_id is the smallest
    * doc_id in the component — canonical representative for "keep-min"
    * dedup, and engine-independent (components are a property of the graph,
    * not the algorithm), so a SQL oracle can verify via transitive closure.
    *
    * Scale: each iteration is one join + one aggregation, both hashed on
    * doc id; iteration count is bounded by component DIAMETER, and near-dup
    * components are overwhelmingly small clusters (diameter ≤ 3) — for
    * adversarially long chains switch to large-star/small-star, which
    * squares the convergence rate behind the same output contract. Lineage
    * is truncated per iteration (`localCheckpoint`), so plans stay flat.
    * The per-iteration driver sync is one `count` (a scalar, not data).
    *
    * 100 TB layout: persist the symmetrized edge table BUCKETED on the
    * source node ([[graft.sources.BucketedLayout.writeBucketed]]) — the
    * seed aggregation and every round's propagate join then plan with zero
    * exchanges on the corpus-sized edge side (plan-pinned over the real d7
    * pair-graph shape in BucketedLayoutSpec); only the label frame moves.
    */
  def dedupGroups(pairs: DataFrame): DataFrame =
    dedupGroupsCapped(pairs, maxRounds = Int.MaxValue).get

  /** Production default: min-label propagation with an adversarial-input
    * escape hatch. Near-dup components are overwhelmingly tight clusters
    * (diameter ≤ 3), where simple propagation converges in a couple of
    * rounds and beats star contraction's two-pass rounds; but propagation
    * needs O(diameter) rounds, so a 10⁶-long chain would mean 10⁶ job
    * rounds. If the fixpoint hasn't arrived after `switchAfter` rounds,
    * restart on [[dedupGroupsStar]] (O(log² n) rounds regardless of
    * diameter). The common case pays nothing; the adversarial case pays
    * `switchAfter` wasted rounds, then converges logarithmically. Both
    * algorithms share one output contract (components are a property of
    * the graph), so the switch is invisible in the result — d7 (auto) and
    * d9 (star) attest both paths against the same transitive-closure
    * oracle.
    */
  def dedupGroupsAuto(pairs: DataFrame, switchAfter: Int = 4): DataFrame =
    dedupGroupsCapped(pairs, switchAfter).getOrElse(dedupGroupsStar(pairs))

  /** Build-once/consume-many dedup-groups artifact (round-4 verdict #2):
    * run the shingle → capped-Jaccard-pairs → connected-components chain
    * ONCE and persist the (doc_id, group_id) frame as a table bucketed on
    * doc_id ([[graft.sources.BucketedLayout]]); every downstream report
    * (keep-longest d16, cluster profile d23, keep-quality d27) consumes
    * the artifact instead of re-deriving the groups. At 100 TB nobody
    * recomputes CC per report — the groups frame is corpus metadata,
    * refreshed when the corpus changes, and the doc_id bucketing makes the
    * keep-best joins exchange-free on the artifact side (plan-pinned in
    * BucketedLayoutSpec).
    *
    * Build-if-absent against the session catalog: within one driver
    * session the first consumer pays the CC, later consumers read the
    * table; a fresh session rebuilds (in-memory catalog — no cross-run
    * staleness to manage, `Overwrite` clears any leftover files).
    */
  def materializeGroups(docs: DataFrame, table: String, buckets: Int = 8,
      shingleK: Int = 5, threshold: Double = 0.5): DataFrame =
    BucketedLayout.buildIfAbsent(docs.sparkSession, table) {
      val groups = dedupGroupsAuto(pairs(Vocab.hashTokenIdArrays(docs),
        PairSpec(PairSpec.Grams(shingleK), verify = PairSpec.Jaccard(threshold))))
      BucketedLayout.writeBucketed(groups, table, "doc_id", buckets)
    }

  /** The shared d16/d23/d27 artifact for a fixture directory — one table
    * per sfDir (sanitized into the identifier), so correctness (sf0.01)
    * and bench (sf0.1) runs key their own artifacts.
    */
  def materializedGroupsFor(docs: DataFrame, sfDir: String): DataFrame =
    materializeGroups(docs, "dedup_groups_" + sfDir.replaceAll("[^A-Za-z0-9]", "_"))

  /** Incremental maintenance of a groups artifact: fold a new batch's
    * near-dup pairs into an EXISTING (doc_id, group_id) frame without
    * re-running connected components over the whole corpus's pair graph.
    * Each existing group collapses to its star (member → representative
    * edges — exactly the connectivity the artifact certifies), the new
    * pairs add the only new connectivity, and CC over that union yields
    * the full graph's components: identical to a rebuild whose pair set is
    * (certified old pairs ∪ newPairs), with the same canonical min-id
    * group labels (spec-pinned in BucketedLayoutSpec).
    *
    * `newPairs` must cover batch–batch AND batch–corpus pairs ([[pairs]]
    * over the persisted band-key index with the batch as `queries`
    * produces exactly these without re-shingling the corpus). Note the
    * df-cap caveat: candidate rules whose pair set depends on global
    * document frequencies can RETRACT old-corpus pairs as the corpus
    * grows; this operator preserves the certified old connectivity by
    * design (an artifact never un-merges), which is the standard
    * production contract for incremental dedup.
    *
    * At 100 TB: the star edges are artifact-sized (members of non-trivial
    * groups), newPairs is batch-sized — the CC runs over a graph orders of
    * magnitude smaller than the corpus pair graph it replaces.
    */
  def incrementalGroups(groups: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = groups
      .filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id").as("doc_a"), col("group_id").as("doc_b"))
    dedupGroupsAuto(
      starEdges.unionByName(newPairs.select(col("doc_a"), col("doc_b"))))
  }

  /** Min-label propagation, bounded: None if `maxRounds` iterations did not
    * reach the fixpoint (caller falls back to star contraction).
    */
  private def dedupGroupsCapped(pairs: DataFrame, maxRounds: Int): Option[DataFrame] = {
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    // undirected: propagate labels both ways
    val sym = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .persist()
    // seed = min(self, direct neighbors): the first propagation round folded
    // into initialization — one fewer loop iteration (each costs a full
    // join+agg job round)
    var labels = sym
      .select(col("a").as("doc_id"), col("b").as("label"))
      .union(sym.select(col("a").as("doc_id"), col("a").as("label")))
      .groupBy(col("doc_id"))
      .agg(min(col("label")).as("label"))
      .persist()
    // labels only change by DECREASING under min propagation, so "the
    // (doc_id, label) multiset signature stopped changing" detects the
    // fixpoint with one scalar aggregate per iteration — count + XOR of
    // per-row hashes, never a sum (raw doc-id sums overflow ANSI longs for
    // large / many ids; a wrapped sum could even falsely converge)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, label))")).collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // the result's cached plan reads every earlier round and `sym`, so on
    // convergence they stay persisted with it, the caller's to release (a
    // lost block of the result recomputes from the round before it, not
    // from the pairs); the auto form bounds them to switchAfter + 2 frames
    val held = scala.collection.mutable.ArrayBuffer(sym, labels)
    var current = signature(labels) // materializes the persisted seed
    // empty pair set (clean corpus): nothing to group, and the loop's
    // aggregates would have nothing to fold
    var converged = current._1 == 0L
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      rounds += 1
      // persist + signature = ONE materialization per round (an eager
      // checkpoint would add a second); iteration counts are small here
      // (component diameter — use dedupGroupsStar for long chains), so the
      // growing logical plan over cached partitions stays cheap to analyze
      val next = labels.select(col("doc_id"), col("label"))
        .union(sym
          .join(labels.select(col("doc_id").as("a"), col("label")), Seq("a"))
          .select(col("b").as("doc_id"), col("label")))
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"))
        .persist()
      val sig = signature(next)
      converged = sig == current
      current = sig
      held += next
      labels = next
    }
    if (!converged) { held.foreach(_.unpersist()); None }
    else Some(labels.select(col("doc_id"), col("label").as("group_id")))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the adversarial-chain-proof variant of [[dedupGroups]]: simple min
    * propagation needs O(diameter) rounds (a 10⁶-long chain = 10⁶ rounds),
    * star contraction converges in O(log² n). Same output contract
    * (property-tested equal on random graphs); use this form when
    * components may be long paths rather than tight duplicate clusters.
    *
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(Γ(u) ∪ u)
    *   - small-star(u): every neighbor v ≤ u (and u itself) re-attaches to
    *     m = min(Γ≤(u) ∪ u)
    *
    * Each round is a groupBy + join hashed on node id; convergence is an
    * edge-multiset checksum (count + order-independent hash sums), one
    * scalar action per round.
    */
  def dedupGroupsStar(pairs: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))
    // largeStar emits (b, m) pairs with b > a ≥ m by construction, so the
    // orientation select and self-loop filter of the full canon are
    // vacuous; the distinct stays — in a dense component every member of
    // a clique re-attaches its neighbors to the same minimum, so the
    // un-deduped intermediate inflates by the degree (measured: d9's
    // cluster graphs +0.5 s without it, t56's sparse graph indifferent).
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy(col("a"))
        .agg(min(col("b")).as("minb"))
        .select(col("a"), least(col("a"), col("minb")).as("m"))
      s.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val le = sym(e).filter(col("b") <= col("a"))
      val m = le.groupBy(col("a")).agg(min(col("b")).as("minb"))
        .select(col("a"), least(col("a"), col("minb")).as("m"))
      val reattached = le.join(m, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(m.select(col("a"), col("m").as("b")))
      canon(reattached)
    }
    // order-independent, overflow-free edge-set signature: count + XOR of
    // per-edge hashes under two seeds (a sum would overflow ANSI longs on
    // full-range hash values)
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(a, b))"),
        expr("bit_xor(xxhash64(b, a))"))
        .collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // LAZY round chain (round-13 optimization): the checksum action that
    // immediately follows each round materializes it, so a lazy round
    // costs ONE job instead of two (checkpoint job + checksum job); the
    // lineage truncation the loop needs is unchanged — the next round
    // builds on the stored checkpoint blocks either way. Superseded
    // rounds are released at the chain's barriers and at close, not per
    // round: the per-round release cost d9 5x on a 32-core box.
    val frames = new graft.plans.PlanGuard.CheckpointChain
    var edges = frames.round("components_seed",
      canon(pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))))
    var prev = checksum(edges)
    var converged = false
    while (!converged) {
      edges = frames.round("components_round", smallStar(largeStar(edges)))
      val cs = checksum(edges)
      converged = cs == prev
      prev = cs
    }
    // converged: every component is a star rooted at its minimum
    val s = sym(edges)
    frames.close(s.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("minb"))
      .select(col("doc_id"), least(col("doc_id"), col("minb")).as("group_id")))
  }

  /** SimHash (16-bit) over token ids: for each bit of g(id) = (a·id+b) mod
    * 2^16, sum +1/−1 across the document's tokens (with multiplicity) and
    * take the sign. Output: (doc_id, simhash as long).
    */
  def simhash(tokenIds: DataFrame, bits: Int = 16): DataFrame = {
    val g = (col("token_id") * 2654435761L + 0x9747b28cL) % (1L << bits)
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(g, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val perDoc = tokenIds.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until bits).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    perDoc.select(col("doc_id"), hash.as("simhash"))
  }

  /** [[simhash]] as a pure PROJECTION over a (doc_id, ids) token-id-array
    * frame ([[Vocab.hashTokenIdArrays]] shape) — the whole fingerprint runs
    * inside the codegen'd [[org.apache.spark.sql.graft.SimHashBits]]
    * expression: no explode, no `bits`-wide hash-aggregate, no exchange
    * before the banding stage. Per-bit ±1 sums are order-insensitive, so
    * the output is identical to the aggregate form for every document with
    * ≥ 1 token (SimHashBitsSpec pins it); token-less documents emit no row
    * in either form.
    */
  def simhashFromArrays(idsDf: DataFrame, bits: Int = 16,
      idsCol: String = "ids"): DataFrame =
    idsDf
      .withColumn("simhash",
        SimHashBits.column(col(idsCol), bits))
      .filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("simhash"))

  /** Exact duplicated-SUBSTRING span report — token-level substring dedup à
    * la Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", the ExactSubstr screen): a positional k-gram is *duplicated*
    * when at least `minDf` distinct documents contain it; maximal runs of
    * duplicated grams merge into spans (a run of consecutive gram positions
    * p..q is one duplicated substring of q−p+k tokens), and overlapping /
    * adjacent token intervals [p, p+k−1] are union-merged so coverage never
    * double-counts. Output per document with ≥1 span: span count, longest
    * span in tokens, and duplicated-token coverage in ppm (integer
    * division — cross-engine exact).
    *
    * Scale shape: the positional index is O(corpus tokens) rows — the same
    * cost class as the d2 inverted index — the duplicated-gram screen is one
    * partial-agg'd distinct count + a semi join (NO pair join anywhere, so
    * no df cap is even needed: a boilerplate gram shared by 10⁶ docs
    * contributes one semi-join probe per occurrence, never Θ(f²) pairs),
    * and the island merge runs in per-document windows bounded by document
    * length. The front-end is the codegen'd `shingle_hash_pos` projection
    * (reference `README.md` dedups whole rows; substring-level spans are the
    * training-pipeline extension).
    */
  def dupSpans(docs: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame =
    dupSpanIntervals(docs, k, minDf)
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_dup_spans"),
        max(col("e") - col("s") + 1).as("max_span_tokens"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
      .select(col("doc_id"), col("n_dup_spans"), col("max_span_tokens"),
        expr("(1000000 * dup_tokens) div n_tokens").as("dup_token_ppm"))

  /** Bounded-memory incremental EXACT screen — [[incrementalDedup]]'s
    * digest join behind a Bloom prefilter (t30's bitmap machinery): the
    * corpus digests OR into a FIXED-size bitmap (2 KiB of longs by
    * default — broadcastable at any corpus size, where a broadcast of the
    * digest set itself grows with the corpus), the batch probes it with
    * codegen'd built-ins inside its scan span, and only might-contain
    * survivors reach the digest join + byte-exact text confirm. Bloom
    * false positives are killed by the confirm and false negatives are
    * impossible, so the verdict is identical to the join-only form
    * (DedupSpec pins the equality); on a mostly-novel batch the join
    * shuffles ≈ (hit-rate + FP-rate) of the batch instead of all of it.
    */
  def incrementalExactBloom(newBatch: DataFrame, corpus: DataFrame,
      numBits: Int = 1 << 17): DataFrame = {
    val bits = graft.operators.BloomFilter
      .buildBits(corpus.select(xxhash64(col("text")).as("digest")), "digest", numBits)
    flags(newBatch, "dup_exact" -> verbatimHits(newBatch, corpus,
      _.filter(graft.operators.BloomFilter.mightContain(bits)(col("digest")))))
  }

  /** The merged duplicated-span intervals behind [[dupSpans]] — one row per
    * maximal span: (doc_id, n_tokens, span_id, s, e) with s/e inclusive
    * token positions. Factored out so the excision pass ([[excisedCorpus]])
    * and the report share one definition.
    */
  def dupSpanIntervals(docs: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame = {
    val W = Window
    val ids = Vocab.hashTokenIdArrays(docs)
    val pos = ids
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_tokens"),
        posexplode(PositionalShingleHash.column(col("ids"), k))
          .as(Seq("pos", "sid")))
      .filter(col("sid").isNotNull)
      .withColumn("pos", col("pos").cast("long")) // span arithmetic in BIGINT
      .persist() // index + duplicated-gram screen share the projection
    val dupSids = pos.groupBy(col("sid"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("sid"))
    val byDoc = W.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.join(dupSids, Seq("sid"), "left_semi")
      .withColumn("end", col("pos") + lit(k - 1))
      // interval union-merge: a gram opens a new span iff it starts past the
      // running max end + 1 of all earlier grams (cummax handles nested
      // intervals that a lag()-based merge would split)
      .withColumn("prev_end",
        max(col("end")).over(byDoc.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("span_id"))
      .agg(min(col("pos")).as("s"), max(col("end")).as("e"))
  }

  /** The excision pass duplicated-span *reporting* exists for — Lee et al.
    * 2022's actual dedup action: rewrite the corpus with every duplicated
    * span CUT, keeping each document's surviving tokens in order. Documents
    * without spans pass through verbatim (no rebuild, no shuffle for the
    * untouched majority); fully-duplicated documents come back as the empty
    * string with 0 kept tokens (exact copies are one giant span — the d1
    * exact-dup class handled at substring granularity).
    *
    * Scale shape: [[dupSpanIntervals]]'s screen (no pair join), then the
    * rebuild touches ONLY span-bearing documents (left-semi gate before the
    * tokens explode is the same corpus-never-shuffles discipline as s7):
    * covered positions explode from the merged disjoint intervals (O(covered
    * tokens)), the anti join drops them, and per-doc reassembly is one
    * hash aggregation. The untouched majority is a metadata-only anti join.
    */
  def excisedCorpus(docs: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame = {
    val spans = dupSpanIntervals(docs, k, minDf)
      .select(col("doc_id"), col("s"), col("e")).persist()
    val spanDocs = spans.select(col("doc_id")).distinct()
    // merged intervals are disjoint per doc, so no distinct needed
    val covered = spans.select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
    val affected = docs
      .join(spanDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
      .withColumn("pos", col("pos").cast("long"))
    val kept = affected.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            p => p.getField("token"))).as("clean_text"))
    val rebuilt = spanDocs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
    val untouched = docs.join(spanDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text").as("clean_text"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens_kept"))
    rebuilt.unionByName(untouched)
  }
}
