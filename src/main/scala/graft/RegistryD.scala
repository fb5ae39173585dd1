package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import graft.binlog.{BinlogEvents, DailyCounts, Ingest, TransactionStats}
import graft.ops.{Dedup, PairSpec, TextOps, Vectors, Vocab}
import graft.ops.PairSpec._

import RegistryLib._

/** The deduplication surface over the documents table — one slice of the
  * [[SparkEntry]] registry (round-7 verdict #7: the single-file registry
  * split by query-name prefix). Names, query semantics, and oracle
  * strings are verbatim from the pre-split registry; [[SparkEntry]]
  * merges the per-domain maps, so the driver contract is unchanged.
  */
private[graft] object RegistryD {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d31_cdc_dedup" -> ((s, dir) =>
      // what chunk-level dedup buys per source: x37's digests rolled up to
      // (chunks, distinct chunks, chars before/after, saved ppm) — two
      // metadata-collapsing aggs, chunk text never shuffles
      TextOps.cdcDedupReport(Tables.documents(s, dir))),
    "d32_dup_spans" -> ((s, dir) =>
      // exact duplicated-substring spans (Lee et al. 2022 ExactSubstr):
      // positional 5-grams shared by ≥2 docs, merged into maximal spans —
      // WHERE the duplication sits, not just that docs are similar; no
      // pair join anywhere (semi-join screen + per-doc windows)
      Dedup.dupSpans(Tables.documents(s, dir))),
    "d33_span_excision" -> ((s, dir) =>
      // the excision the span report exists for: corpus rewritten with
      // every duplicated span cut; untouched docs pass through verbatim,
      // exact copies come back empty (one giant span)
      Dedup.excisedCorpus(Tables.documents(s, dir))),
    // ---- dedup surface ----
    "d1_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "d8_dedup_exact_digest" -> ((s, dir) =>
      // digest-first form: same output as d1 (shared oracle), but only
      // duplicate-suspect buckets ever shuffle the document text
      Dedup.exactByDigest(Tables.documents(s, dir))),
    "d2_jaccard_pairs" -> ((s, dir) => {
      // hash token ids are a pure projection (no vocabulary build / join),
      // then the inverted shingle-id index
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)), PairSpec(Grams(5)))
    }),
    "d7_dedup_groups" -> ((s, dir) => {
      // the step after pair generation: connected components over the
      // near-dup graph (keep-min canonical representative per group).
      // Auto form: min-label rounds for the tight-cluster common case,
      // star-contraction fallback if a long chain keeps it from converging
      Dedup.dedupGroupsAuto(
        Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)), PairSpec(Grams(5))))
    }),
    "d23_dup_cluster_profile" -> ((s, dir) => {
      // the governance histogram over d7's components: how many duplicate
      // clusters of each size, how many docs (and how many deletable) they
      // bind — the "how much would dedup save?" report; both aggs after
      // the CC are cluster- then size-count-sized (metadata). Reads the
      // MATERIALIZED groups artifact (round-5): the CC chain runs once per
      // corpus and d16/d23/d27 share it instead of re-deriving it 3×
      Dedup.materializedGroupsFor(Tables.documents(s, dir), dir)
        .groupBy(col("group_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("cluster_size")).as("n_docs"),
          (count(lit(1)) * (col("cluster_size") - 1)).as("n_deletable"))
    }),
    "d9_dedup_groups_star" -> ((s, dir) => {
      // same pair graph as d7, grouped by the O(log² n) large-star /
      // small-star contraction — the variant adversarially long chains need
      // (min-label propagation is diameter-bound); same output contract,
      // same recursive-CTE oracle
      Dedup.dedupGroupsStar(
        Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)), PairSpec(Grams(5))))
    }),
    "d3_minhash_sigs" -> ((s, dir) =>
      // all k signatures as ONE codegen projection over the token-id array
      // (no explode, no aggregate, no exchange — min is duplicate-
      // insensitive, so the exploded+distinct form it replaced is identical)
      Dedup.minhashSignaturesFromIdArrays(
        Vocab.hashTokenIdArrays(Tables.documents(s, dir)))),
    "d4_minhash_pairs" -> ((s, dir) =>
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Grams(5), MinHash(4), verify = Keys))),
    "d26_winnow_overlap" -> ((s, dir) =>
      // plagiarism-style overlap: pairs sharing >= 3 winnowed fingerprints
      // under the df cap — the sparse-index pair join winnowing exists for
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Winnow(5, 4), verify = Shared(3L)))),
    "d25_snapshot_diff" -> ((s, dir) => {
      // rev-over-rev governance: docs <400 play the old rev, docs ≥100
      // the new (every-7th modified) — added/removed/changed/same counts
      // from fixed-width digest rows, text never shuffles
      val docs = Tables.documents(s, dir)
      Dedup.snapshotDiff(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 100)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text"))))
    }),
    "d24_threshold_sweep" -> ((s, dir) => {
      // the threshold-tuning report: every capped candidate pair scored
      // once (threshold 0), histogrammed by score decile — one pass
      // answers "what would each cutoff keep?" instead of re-running d2
      // per candidate threshold
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
          PairSpec(Grams(5), verify = Jaccard(0.0)))
        .groupBy(floor(col("jaccard") * 10).cast("long").as("score_band"))
        .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
    }),
    "d21_minhash_estimate" -> ((s, dir) =>
      // the LSH candidates scored by the signature-slot-match estimator
      // itself (no shingle re-read per pair — candidate scoring touches
      // only k-long signature rows, metadata-sized at any document length)
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Grams(5), MinHash(4), verify = Estimate))),
    "d30_idf_cosine" -> ((s, dir) =>
      // IR-weighted near-dup scoring: sparse cosine over 5-gram shingle
      // features with quantized ⌊10⁶/df⌋ weights — rare shared shingles
      // dominate the score (weighted resemblance), where d2's Jaccard
      // counts all shingles equally. Integer partial sums keep norms/dots
      // exact and aggregation-order-free; candidates from the df-capped
      // rare-feature index, verified over full feature sets. Unigram
      // features would be vacuous here: the corpus has 31 distinct tokens,
      // every one hot — shingles are where rarity lives (as d2 relies on)
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Grams(5), verify = IdfCosine(0.5)))),
    "d36_band_sweep" -> ((s, dir) => {
      // d29 swept across configurations: precision/recall of 2/4/8-band
      // LSH vs the same exact-Jaccard truth — the (bands, rows) tuning
      // table read BEFORE committing a 100 TB banding pass. One shared
      // signature table (the aggregated signature frame `pairs` persists);
      // each config adds only its band-key join
      val ids = Vocab.hashTokenIdArrays(Tables.documents(s, dir)).persist()
      val sh = Dedup.shingleIdsFromArrays(ids, 5)
      val truth = Dedup.pairs(sh, PairSpec()).persist()
      Seq(2, 4, 8).map { b =>
        Dedup.sketchConfusion(truth, Dedup.pairs(sh, PairSpec(sign = MinHash(b), verify = Keys)))
          .withColumn("bands", lit(b.toLong))
      }.reduce(_ unionByName _)
    }),
    "d29_lsh_confusion" -> ((s, dir) => {
      // the checked-sketch report for the banding itself: exact-Jaccard
      // truth (d2) vs LSH candidates (d4) → tp/fp/fn + ppm precision and
      // recall in one metadata row — the numbers that tune (bands, rows)
      // before a 100 TB pass. One shared token front-end; both pair sets
      // are df/bucket-capped, the outer join is pair-set-sized
      val ids = Vocab.hashTokenIdArrays(Tables.documents(s, dir)).persist()
      Dedup.sketchConfusion(
        Dedup.pairs(ids, PairSpec(Grams(5))),
        Dedup.pairs(ids, PairSpec(Grams(5), MinHash(4), verify = Keys)))
    }),
    "d5_simhash" -> ((s, dir) =>
      // the codegen projection form — identical to the ±1-sum aggregation
      // for every document with ≥ 1 token (SimHashBitsSpec)
      Dedup.simhashFromArrays(Vocab.hashTokenIdArrays(Tables.documents(s, dir)))),
    "d22_simhash_pairs" -> ((s, dir) =>
      // the fingerprints put to their dedup use: 60-bit simhash (one
      // codegen projection pass — no explode, no 60-wide agg), 4×15-bit
      // band keys (pigeonhole covers hamming ≤ 3), df-capped buckets, one
      // XOR popcount per candidate — no shingle re-read, no float
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Ids, SimHash(60, 4), verify = Hamming(3)))),
    "d10_neardup_keep_first" -> ((s, dir) =>
      // ingest-order near-dup filter (batch twin of streamingNearDup):
      // keep a doc iff no smaller doc_id claims any of its band signatures
      Dedup.nearDupKeepFirst(Tables.documents(s, dir))),
    "d12_vector_keep_first" -> ((s, dir) =>
      // ingest-order embedding dedup (batch twin of streamingLshNearDup):
      // keep a vector iff no smaller vec_id claims any of its 4 sign-hash
      // buckets — the dedup-at-ingest screen for an embedding stream
      Vectors.lshKeepFirst(Tables.embeddings(s, dir))),
    "d11_char_ngram_jaccard" -> ((s, dir) =>
      // character 3-gram Jaccard (tokenization-free near-dup) with the
      // df-capped index: hot trigrams never enter the candidate self-join;
      // verification recomputes exact intersections over the full sets
      Dedup.pairs(Dedup.charIds(Tables.documents(s, dir)),
        PairSpec(Grams(3), candidates = Candidates(Some(20L)), verify = Jaccard(0.5)))),
    "d14_incremental_dedup" -> ((s, dir) => {
      // ingestion-time screen for a growing corpus: which docs of the
      // incoming batch (src0/src1 play the new arrivals) are already
      // represented — verbatim (digest-join + exact confirm) or as a
      // near-dup (MinHash-LSH band-key collision against the corpus index)
      val docs = Tables.documents(s, dir)
      val isNew = col("source").isin("src0", "src1")
      Dedup.incrementalDedup(docs.filter(isNew), docs.filter(!isNew))
    }),
    "d35_bloom_incremental" -> ((s, dir) => {
      // d14's exact screen with the corpus digest set compressed into a
      // FIXED 2 KiB Bloom bitmap: batch probes in-scan, only survivors
      // join — the bounded-memory ingest screen; verdict ≡ the join form
      val docs = Tables.documents(s, dir)
      val isNew = col("source").isin("src0", "src1")
      Dedup.incrementalExactBloom(docs.filter(isNew), docs.filter(!isNew))
    }),
    "d16_dedup_keep_longest" -> ((s, dir) => {
      // the step after grouping: keep the LONGEST doc per near-dup group
      // (ties to the smaller id) + every ungrouped doc — the keep set a
      // curation pipeline actually materializes. Groups come from the
      // shared materialized artifact (one CC run per corpus, round-5)
      val docs = Tables.documents(s, dir)
      Dedup.keepBest(docs, Dedup.materializedGroupsFor(docs, dir))
    }),
    "d27_dedup_keep_quality" -> ((s, dir) => {
      // quality-aware representative: per near-dup group keep the doc with
      // the highest stopword-naturalness ppm (ties → smaller id), not the
      // longest — the FineWeb-style pick; same groups (the shared
      // materialized artifact), different argmax
      val docs = Tables.documents(s, dir)
      val groups = Dedup.materializedGroupsFor(docs, dir)
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks).cast("long")
      val nStop = size(filter(toks, t =>
        array_contains(typedlit(TextOps.stopwords), t))).cast("long")
      val scored = docs.select(col("doc_id"),
        round(lit(1e6) * nStop / nTok).cast("long").as("score"))
      Dedup.keepBestScored(docs, groups, scored)
    }),
    "d15_block_dedup" -> ((s, dir) =>
      // sub-document (line/block) exact dedup: 16-token blocks, global
      // keep-first, documents reassembled from surviving blocks — the
      // CCNet-style boilerplate scrub document-level screens can't express
      Dedup.blockDedup(Tables.documents(s, dir))),
    "d20_boilerplate_ratio" -> ((s, dir) =>
      // document-level readout of the d15 block index: fraction of each
      // doc's 16-token blocks shared with ANY other document — the routing
      // signal for block-scrub vs keep (window-min/max per block content,
      // no self-join)
      Dedup.boilerplateRatio(Tables.documents(s, dir))),
    "d13_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: src0 plays the eval suite; corpus docs
      // sharing any 5-gram shingle with it are flagged (broadcast bench set)
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    "d6_cosine_neardup" -> ((s, dir) => {
      // ⌈√N⌉ spaced centroids: pair work stays O(N^1.5) and bucket
      // parallelism grows with the corpus (count() is metadata, not data)
      val emb = Tables.embeddings(s, dir)
      Vectors.cosineNearDupPairs(emb, Vectors.spacedCentroidIds(emb.count()), threshold = 0.4)
    }),
    "d28_semantic_dedup" -> ((s, dir) =>
      // SemDeDup end-to-end (pipeline + rationale in
      // Vectors.semanticDedupKeep's scaladoc): bucketed cosine pairs →
      // star-contraction CC → least-centroid-similar exemplar per group
      Vectors.semanticDedupKeep(Tables.embeddings(s, dir))),
    "d19_cross_source_dups" -> ((s, dir) => {
      // governance view: which source pairs re-serve each other's content —
      // the d2 near-dup pair graph rolled up to canonical source pairs
      val docs = Tables.documents(s, dir)
      Dedup.crossSourceDupMatrix(
        Dedup.pairs(Vocab.hashTokenIdArrays(docs), PairSpec(Grams(5))), docs)
    }),
    "d37_source_overlap" -> ((s, dir) =>
      // corpus cartography: exact shingle-set Jaccard between every source
      // pair — content-level overlap whether or not any document pair
      // crosses the near-dup threshold; no self-join (per-shingle source
      // sets are |sources|-bounded)
      Dedup.sourceOverlapMatrix(Tables.documents(s, dir))),
    "d38_similar_docs" -> ((s, dir) => {
      // lexical more-like-this: for each query doc (doc_id % 7 = 0), the
      // top-3 most-Jaccard-similar corpus docs through the df-capped
      // index — the point-query twin of d2's all-pairs sweep (and of the
      // ANN point lookups s1/s22 on the vector side). Integer-ppm scores
      // keep the per-query ranking cross-engine exact
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Grams(5), candidates = Candidates(queries = Some(col("doc_id") % 7 === 0)),
          verify = TopK(3)))
    }),
    "d39_index_staleness" -> ((s, dir) => {
      // the shingle index's maintenance path is a REBUILD DECISION, not
      // an append (the df cap is global) — d39 is the report that
      // decision reads: build the index on the corpus, present a drifted
      // corpus (every doc_id % 7 = 0 doc re-ingested under a new id — a
      // deterministic synthetic delta the oracle reproduces from
      // `documents` alone), and report per-source index coverage plus the
      // count of shingles whose capped-index membership would FLIP on
      // rebuild — the drift signal that an append, had one existed, would
      // have silently gotten wrong
      val base = Tables.documents(s, dir)
      val t = "shingles_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.materializedShingleIndex(base, t)
      val cur = base.select(col("doc_id"), col("text"), col("source"))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + org.apache.spark.sql.functions.lit(10000000L))
            .as("doc_id"), col("text"), col("source")))
      Dedup.shingleIndexStaleness(cur, t)
    }),
    "d18_containment_pairs" -> ((s, dir) => {
      // asymmetric near-dup: excerpt/quote detection — containment
      // |∩|/min(|A|,|B|) catches a short doc embedded in a long one where
      // Jaccard ≈ |A|/|B| stays under any threshold
      Dedup.pairs(Vocab.hashTokenIdArrays(Tables.documents(s, dir)),
        PairSpec(Grams(5), verify = Containment(0.8)))
    }),
    "d17_incremental_vector_dedup" -> ((s, dir) => {
      // d14's embedding analog: new vectors (vec_id % 10 < 2 plays the
      // incoming batch) flagged iff any sign-hash bucket is already
      // claimed by the corpus side
      val emb = Tables.embeddings(s, dir)
      Vectors.incrementalLshDedup(
        emb.filter(col("vec_id") % 10 < 2), emb.filter(col("vec_id") % 10 >= 2))
    })
  )

  val oracles: Map[String, String] = Map(
    "d31_cdc_dedup" ->
      // same chunk frame, rolled up per source; same-digest chunks have
      // equal length, so max(chunk_len) per digest is exact
      s"""WITH c AS (SELECT * FROM ($oracleCdcChunksSql)),
         |j AS (SELECT c.chunk_md5, c.chunk_len, d.source
         |      FROM c JOIN documents d USING (doc_id)),
         |pd AS (SELECT source, chunk_md5, count(*) AS n_copies,
         |              max(chunk_len) AS chunk_len
         |       FROM j GROUP BY 1, 2)
         |SELECT source,
         |       CAST(sum(n_copies) AS BIGINT) AS n_chunks,
         |       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         |       CAST(sum(chunk_len * n_copies) AS BIGINT) AS chars_total,
         |       CAST(sum(chunk_len) AS BIGINT) AS chars_distinct,
         |       CAST(round(1e6 * (sum(chunk_len * n_copies) - sum(chunk_len))
         |                  / sum(chunk_len * n_copies)) AS BIGINT) AS saved_ppm
         |FROM pd GROUP BY 1""".stripMargin,
    "d32_dup_spans" ->
      // same positional 5-gram fold as d26's psh CTE; duplicated = ≥2
      // distinct docs; islands via cummax interval merge (identical window
      // semantics both engines); ppm by integer division
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |psh AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens, i - 1 AS p,
         |               list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                           (a, t) -> (a * 37 + t + 1) % 2147483647) AS sid
         |        FROM ids, UNNEST(range(1, len(ids) - 3)) AS r(i)
         |        WHERE len(ids) >= 5),
         |dup AS (SELECT sid FROM psh GROUP BY sid HAVING count(DISTINCT doc_id) >= 2),
         |hit AS (SELECT doc_id, n_tokens, p, p + 4 AS e FROM psh
         |        WHERE sid IN (SELECT sid FROM dup)),
         |fl AS (SELECT doc_id, n_tokens, p, e,
         |              max(e) OVER (PARTITION BY doc_id ORDER BY p
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
         |       FROM hit),
         |sp AS (SELECT doc_id, n_tokens, p, e,
         |              sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
         |                OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS span_id
         |       FROM fl),
         |spans AS (SELECT doc_id, n_tokens, span_id, min(p) AS s, max(e) AS e
         |          FROM sp GROUP BY doc_id, n_tokens, span_id)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
         |       CAST(max(e - s + 1) AS BIGINT) AS max_span_tokens,
         |       CAST((1000000 * sum(e - s + 1)) // n_tokens AS BIGINT) AS dup_token_ppm
         |FROM spans GROUP BY doc_id, n_tokens""".stripMargin,
    "d33_span_excision" ->
      // same span derivation as d32, then: covered positions unnest from
      // the disjoint merged intervals, kept tokens reassemble in order,
      // span-free docs pass through verbatim, fully-covered docs → ''
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |psh AS (SELECT doc_id, i - 1 AS p,
         |               list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                           (a, t) -> (a * 37 + t + 1) % 2147483647) AS sid
         |        FROM ids, UNNEST(range(1, len(ids) - 3)) AS r(i)
         |        WHERE len(ids) >= 5),
         |dup AS (SELECT sid FROM psh GROUP BY sid HAVING count(DISTINCT doc_id) >= 2),
         |hit AS (SELECT doc_id, p, p + 4 AS e FROM psh
         |        WHERE sid IN (SELECT sid FROM dup)),
         |fl AS (SELECT doc_id, p, e,
         |              max(e) OVER (PARTITION BY doc_id ORDER BY p
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
         |       FROM hit),
         |sp AS (SELECT doc_id, p, e,
         |              sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
         |                OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS span_id
         |       FROM fl),
         |spans AS (SELECT doc_id, span_id, min(p) AS s, max(e) AS e
         |          FROM sp GROUP BY doc_id, span_id),
         |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans),
         |sdocs AS (SELECT DISTINCT doc_id FROM spans),
         |kept AS (SELECT t.doc_id, t.pos, t.token FROM tok t
         |         JOIN sdocs USING (doc_id)
         |         WHERE NOT EXISTS (SELECT 1 FROM cov c
         |                           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |reb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
         |               CAST(count(*) AS BIGINT) AS n_tokens_kept
         |        FROM kept GROUP BY doc_id)
         |SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
         |       CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept
         |FROM sdocs s LEFT JOIN reb r USING (doc_id)
         |UNION ALL
         |SELECT d.doc_id, d.text AS clean_text,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens_kept
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM sdocs)""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents GROUP BY text""".stripMargin,
    // d8 is the digest-first rendering of the SAME semantics — one oracle
    "d8_dedup_exact_digest" ->
      """SELECT min(doc_id) AS keep_doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents GROUP BY text""".stripMargin,
    "d2_jaccard_pairs" -> oracleJaccardPairs,
    "d7_dedup_groups" -> oracleDedupGroups,
    "d23_dup_cluster_profile" ->
      s"""WITH RECURSIVE $oracleJaccardCtes,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |walk AS (SELECT DISTINCT a AS doc_id, a AS reach FROM edges
         |         UNION
         |         SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
         |g AS (SELECT doc_id, min(reach) AS group_id FROM walk GROUP BY doc_id),
         |cl AS (SELECT group_id, CAST(count(*) AS BIGINT) AS cluster_size FROM g GROUP BY 1)
         |SELECT cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
         |       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_deletable
         |FROM cl GROUP BY cluster_size""".stripMargin,
    // components are a property of the graph, not the algorithm: the star
    // contraction shares d7's transitive-closure oracle
    "d9_dedup_groups_star" -> oracleDedupGroups,
    "d3_minhash_sigs" -> oracleMinhashSigs,
    "d4_minhash_pairs" -> oracleMinhashPairs,
    "d26_winnow_overlap" ->
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |psh AS (SELECT doc_id, i - 1 AS p, len(ids) - 4 AS m,
         |               list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                           (a, t) -> (a * 37 + t + 1) % 2147483647) AS sid
         |        FROM ids, UNNEST(range(1, len(ids) - 3)) AS r(i)
         |        WHERE len(ids) >= 5),
         |wmin AS (SELECT doc_id, p, m,
         |                min(sid) OVER (PARTITION BY doc_id ORDER BY p
         |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |         FROM psh),
         |sel AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE p <= m - 4),
         |rare AS (SELECT fp FROM sel GROUP BY fp
         |         HAVING count(*) > 1 AND count(*) <= ${graft.ops.Dedup.defaultMaxDf}),
         |idx AS (SELECT sel.* FROM sel JOIN rare USING (fp))
         |SELECT doc_a, doc_b, n_shared FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |WHERE n_shared >= 3""".stripMargin,
    "d25_snapshot_diff" ->
      // the oracle classifies on text equality; Spark on xxhash64 digests —
      // identical up to a 2⁻⁶⁴ collision (the d8/d14 digest contract)
      """WITH oldr AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |newr AS (SELECT doc_id,
        |                CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |         FROM documents WHERE doc_id >= 100),
        |j AS (SELECT o.text AS ot, n.text AS nt
        |      FROM oldr o FULL OUTER JOIN newr n ON o.doc_id = n.doc_id)
        |SELECT CASE WHEN ot IS NULL THEN 'added' WHEN nt IS NULL THEN 'removed'
        |            WHEN ot = nt THEN 'same' ELSE 'changed' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM j GROUP BY 1""".stripMargin,
    "d24_threshold_sweep" ->
      s"""WITH ${oracleJaccardCtesAt(0.0)}
         |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS score_band,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       max(jaccard) AS max_jaccard
         |FROM jpairs GROUP BY 1""".stripMargin,
    "d21_minhash_estimate" -> {
      val cap = graft.ops.Dedup.defaultMaxDf
      val k = graft.ops.Dedup.minhashCoeffs.size
      val matchSum = (0 until k)
        .map(i => s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $oracleSigCtes,
         |bnd AS (
         |  $oracleBandRows),
         |cool AS (SELECT band, r0, r1 FROM (SELECT band, r0, r1, count(*) AS c
         |                                   FROM bnd GROUP BY 1, 2, 3)
         |         WHERE c <= $cap),
         |bok AS (SELECT bnd.* FROM bnd JOIN cool USING (band, r0, r1)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bok x JOIN bok y
         |         ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1 AND x.doc_id < y.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST($matchSum AS DOUBLE) / $k AS est_jaccard
         |FROM cand c
         |JOIN sigs sa ON sa.doc_id = c.doc_a
         |JOIN sigs sb ON sb.doc_id = c.doc_b""".stripMargin
    },
    "d30_idf_cosine" -> {
      val cap = graft.ops.Dedup.defaultMaxDf
      s"""WITH $oracleSigCtes,
         |terms AS (SELECT doc_id, shingle_id AS token_id FROM sids),
         |w AS (SELECT token_id, CAST(floor(1000000 / count(*)) AS BIGINT) AS w
         |      FROM terms GROUP BY token_id),
         |tw AS (SELECT t.doc_id, t.token_id, w.w FROM terms t JOIN w USING (token_id)),
         |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nsq FROM tw GROUP BY doc_id),
         |idx AS (SELECT doc_id, token_id FROM terms
         |        JOIN (SELECT token_id FROM terms GROUP BY token_id
         |              HAVING count(*) > 1 AND count(*) <= $cap) USING (token_id)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM idx x JOIN idx y
         |           ON x.token_id = y.token_id AND x.doc_id < y.doc_id),
         |dots AS (SELECT c.doc_a, c.doc_b, CAST(sum(a.w * a.w) AS BIGINT) AS dw
         |         FROM cand c
         |         JOIN tw a ON a.doc_id = c.doc_a
         |         JOIN tw b ON b.doc_id = c.doc_b AND b.token_id = a.token_id
         |         GROUP BY c.doc_a, c.doc_b),
         |scored AS (SELECT d.doc_a, d.doc_b, d.dw,
         |                  CAST(d.dw AS DOUBLE) /
         |                    (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cosine
         |           FROM dots d
         |           JOIN norms na ON na.doc_id = d.doc_a
         |           JOIN norms nb ON nb.doc_id = d.doc_b)
         |SELECT doc_a, doc_b, dw,
         |       CAST(floor(1e6 * cosine) AS BIGINT) AS cos_ppm
         |FROM scored WHERE cosine >= 0.5""".stripMargin
    },
    "d36_band_sweep" -> {
      def confSel(b: Int): String =
        s"""SELECT CAST($b AS BIGINT) AS bands, true_pos, false_pos, false_neg,
           |       CAST(floor(1e6 * true_pos / (true_pos + false_pos)) AS BIGINT) AS precision_ppm,
           |       CAST(floor(1e6 * true_pos / (true_pos + false_neg)) AS BIGINT) AS recall_ppm
           |FROM (SELECT
           |  CAST(sum(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
           |  CAST(sum(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
           |  CAST(sum(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_neg
           |  FROM (SELECT t.doc_a AS ta, c.doc_a AS ca
           |        FROM tru t FULL OUTER JOIN c$b c
           |          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b))""".stripMargin
      s"""WITH tru AS (SELECT doc_a, doc_b FROM ($oracleJaccardPairs)),
         |c2 AS (SELECT doc_a, doc_b FROM (${oracleMinhashPairsFor(2)})),
         |c4 AS (SELECT doc_a, doc_b FROM (${oracleMinhashPairsFor(4)})),
         |c8 AS (SELECT doc_a, doc_b FROM (${oracleMinhashPairsFor(8)}))
         |${confSel(2)}
         |UNION ALL
         |${confSel(4)}
         |UNION ALL
         |${confSel(8)}""".stripMargin
    },
    "d29_lsh_confusion" ->
      // truth (d2's exact capped Jaccard) vs candidates (d4's capped
      // banding), each as its own scoped WITH subquery; ppm ratios use
      // floor (round() ties break differently across engines)
      s"""WITH tru AS (SELECT doc_a, doc_b FROM ($oracleJaccardPairs)),
         |cnd AS (SELECT doc_a, doc_b FROM ($oracleMinhashPairs)),
         |j AS (SELECT t.doc_a AS ta, c.doc_a AS ca
         |      FROM tru t FULL OUTER JOIN cnd c
         |        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |k AS (SELECT
         |  CAST(sum(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
         |  CAST(sum(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
         |  CAST(sum(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_neg
         |  FROM j)
         |SELECT true_pos, false_pos, false_neg,
         |       CAST(floor(1e6 * true_pos / (true_pos + false_pos)) AS BIGINT) AS precision_ppm,
         |       CAST(floor(1e6 * true_pos / (true_pos + false_neg)) AS BIGINT) AS recall_ppm
         |FROM k""".stripMargin,
    "d5_simhash" -> oracleSimhash,
    "d22_simhash_pairs" -> {
      val bits = 60; val chunks = 4; val cw = bits / chunks
      val cap = graft.ops.Dedup.defaultMaxDf
      val g = s"((token_id * 2654435761 + 2538058380) % ${1L << bits})"
      val sums = (0 until bits)
        .map(b => s"sum(CASE WHEN ($g >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
        .mkString(",\n       ")
      val hash = (0 until bits)
        .map(b => s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      s"""WITH $oracleTokCtes,
         |sums AS (SELECT doc_id,
         |       $sums
         |FROM tid GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM sums),
         |ck AS (SELECT doc_id, simhash, t.band,
         |         (simhash >> (t.band * $cw)) & ${(1L << cw) - 1} AS key
         |       FROM sh, range(0, $chunks) t(band)),
         |cool AS (SELECT band, key FROM (SELECT band, key, count(*) AS c
         |                                FROM ck GROUP BY 1, 2) WHERE c <= $cap),
         |ok AS (SELECT ck.* FROM ck JOIN cool USING (band, key)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                x.simhash AS ha, y.simhash AS hb
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin
    },
    "d10_neardup_keep_first" -> oracleNearDupKeepFirst,
    "d12_vector_keep_first" -> oracleVectorKeepFirst,
    "d19_cross_source_dups" ->
      s"""WITH $oracleJaccardCtes,
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |       greatest(sa.source, sb.source) AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM jpairs
         |JOIN src sa ON sa.doc_id = doc_a
         |JOIN src sb ON sb.doc_id = doc_b
         |GROUP BY 1, 2""".stripMargin,
    "d38_similar_docs" ->
      // same sh/sizes/idx chain as d2; per-query top-3 by the identical
      // integer-ppm score, ties to the smaller neighbor_id
      s"""WITH $oracleJaccardCtes,
         |qi AS (SELECT doc_id AS query_id, shingle_id FROM idx WHERE doc_id % 7 = 0),
         |dcand AS (SELECT DISTINCT qi.query_id, idx.doc_id AS neighbor_id
         |          FROM qi JOIN idx ON idx.shingle_id = qi.shingle_id
         |           AND idx.doc_id <> qi.query_id),
         |dint AS (SELECT query_id, neighbor_id, CAST(count(*) AS BIGINT) AS n_common
         |         FROM dcand
         |         JOIN sh a ON a.doc_id = query_id
         |         JOIN sh b ON b.doc_id = neighbor_id AND b.shingle_id = a.shingle_id
         |         GROUP BY 1, 2),
         |dsc AS (SELECT query_id, neighbor_id, n_common,
         |               CAST((n_common * 1000000) // (sa.n + sb.n - n_common) AS BIGINT) AS sim_ppm
         |        FROM dint JOIN sizes sa ON sa.doc_id = query_id
         |                  JOIN sizes sb ON sb.doc_id = neighbor_id)
         |SELECT query_id, neighbor_id, n_common, sim_ppm, CAST(rn AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim_ppm DESC, neighbor_id ASC) AS rn FROM dsc)
         |WHERE rn <= 3""".stripMargin,
    "d39_index_staleness" ->
      // the delta docs carry the SAME text as their %7 originals, so
      // their shingle sets equal the originals' — the oracle reads the
      // missing docs' shingle dfs straight off the base sh chain
      s"""WITH $oracleJaccardCtes,
         |indexed AS (SELECT DISTINCT doc_id FROM sh),
         |delta AS (SELECT doc_id + 10000000 AS doc_id, source
         |          FROM documents WHERE doc_id % 7 = 0),
         |cur AS (SELECT doc_id, source FROM documents
         |        UNION ALL SELECT doc_id, source FROM delta),
         |miss AS (SELECT c.doc_id FROM cur c
         |         LEFT JOIN indexed i ON i.doc_id = c.doc_id
         |         WHERE i.doc_id IS NULL),
         |mdf AS (SELECT shingle_id, CAST(count(*) AS BIGINT) AS cm
         |        FROM sh WHERE doc_id % 7 = 0 GROUP BY 1),
         |idf AS (SELECT shingle_id, CAST(count(*) AS BIGINT) AS ci
         |        FROM sh GROUP BY 1),
         |flips AS (SELECT CAST(count(*) AS BIGINT) AS n_flip_shingles
         |          FROM mdf m LEFT JOIN idf i USING (shingle_id)
         |          WHERE ((coalesce(i.ci, 0) > 1 AND coalesce(i.ci, 0) <= ${Dedup.defaultMaxDf})
         |                 <> (coalesce(i.ci, 0) + m.cm > 1
         |                     AND coalesce(i.ci, 0) + m.cm <= ${Dedup.defaultMaxDf})))
         |SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(*) - count(m.doc_id) AS BIGINT) AS n_indexed,
         |       CAST(count(m.doc_id) AS BIGINT) AS n_missing,
         |       f.n_flip_shingles
         |FROM cur c
         |LEFT JOIN miss m ON m.doc_id = c.doc_id
         |CROSS JOIN flips f
         |GROUP BY c.source, f.n_flip_shingles""".stripMargin,
    "d37_source_overlap" ->
      s"""WITH $oracleJaccardCtes,
         |ss AS (SELECT DISTINCT d.source, s.shingle_id
         |       FROM sh s JOIN documents d USING (doc_id)),
         |szs AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
         |com AS (SELECT a.source AS source_a, b.source AS source_b,
         |               CAST(count(*) AS BIGINT) AS n_common
         |        FROM ss a JOIN ss b
         |          ON a.shingle_id = b.shingle_id AND a.source < b.source
         |        GROUP BY 1, 2)
         |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |       (1000000 * n_common) // (sa.n + sb.n - n_common) AS jaccard_ppm
         |FROM com
         |JOIN szs sa ON sa.source = source_a
         |JOIN szs sb ON sb.source = source_b""".stripMargin,
    "d18_containment_pairs" -> {
      val p = graft.ops.Dedup.minhashPrime
      val cap = graft.ops.Dedup.defaultMaxDf
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |sh AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
         |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                                     (a, t) -> (a * 37 + t + 1) % $p)
         |                         for i in range(1, len(ids) - 3)]) AS sid
         |  FROM ids)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |rare AS (SELECT shingle_id FROM (SELECT shingle_id, count(*) AS c FROM sh GROUP BY 1)
         |         WHERE c > 1 AND c <= $cap),
         |idx AS (SELECT sh.* FROM sh JOIN rare USING (shingle_id)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM idx x JOIN idx y ON x.shingle_id = y.shingle_id AND x.doc_id < y.doc_id),
         |inter AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common
         |          FROM cand
         |          JOIN sh a ON a.doc_id = doc_a
         |          JOIN sh b ON b.doc_id = doc_b AND b.shingle_id = a.shingle_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       CAST(n_common AS DOUBLE) / least(sa.n, sb.n) AS containment
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.8""".stripMargin
    },
    "d17_incremental_vector_dedup" -> {
      val anyMatch = (0 until 4).map(t => s"c.b$t = n.b$t").mkString(" OR ")
      s"""WITH $oracleEmbCte,
         |bt AS (SELECT vec_id, ${oracleLshTableCols(4)} FROM e),
         |n AS (SELECT * FROM bt WHERE vec_id % 10 < 2),
         |c AS (SELECT * FROM bt WHERE vec_id % 10 >= 2)
         |SELECT n.vec_id,
         |       CAST(CASE WHEN EXISTS (SELECT 1 FROM c WHERE $anyMatch)
         |            THEN 1 ELSE 0 END AS BIGINT) AS dup_near
         |FROM n""".stripMargin
    },
    "d13_decontaminate" -> {
      val p = graft.ops.Dedup.minhashPrime
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |sh AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
         |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                                     (a, t) -> (a * 37 + t + 1) % $p)
         |                         for i in range(1, len(ids) - 3)]) AS sid
         |  FROM ids)),
         |src AS (SELECT doc_id, source FROM documents),
         |bench AS (SELECT DISTINCT shingle_id FROM sh JOIN src USING (doc_id)
         |          WHERE source = 'src0')
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM sh s JOIN src USING (doc_id) JOIN bench USING (shingle_id)
         |WHERE source <> 'src0'
         |GROUP BY 1
         |HAVING count(*) >= 1""".stripMargin
    },
    "d16_dedup_keep_longest" ->
      // groups via the same transitive-closure walk as d7/d9, then one
      // longest-doc representative per group + all ungrouped docs
      s"""WITH RECURSIVE $oracleJaccardCtes,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |walk AS (SELECT DISTINCT a AS doc_id, a AS reach FROM edges
         |         UNION
         |         SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
         |grp AS (SELECT doc_id, min(reach) AS group_id FROM walk GROUP BY doc_id),
         |reps AS (SELECT doc_id FROM (
         |           SELECT g.doc_id,
         |                  row_number() OVER (PARTITION BY g.group_id
         |                    ORDER BY length(d.text) DESC, g.doc_id ASC) AS rn
         |           FROM grp g JOIN documents d ON d.doc_id = g.doc_id)
         |         WHERE rn = 1)
         |SELECT doc_id FROM reps
         |UNION ALL
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM grp)""".stripMargin,
    "d27_dedup_keep_quality" ->
      // d16's walk with the quality argmax: stopword ppm DESC, doc_id ASC
      s"""WITH RECURSIVE $oracleJaccardCtes,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |walk AS (SELECT DISTINCT a AS doc_id, a AS reach FROM edges
         |         UNION
         |         SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
         |grp AS (SELECT doc_id, min(reach) AS group_id FROM walk GROUP BY doc_id),
         |q AS (SELECT doc_id,
         |             CAST(round(1e6 * CAST(len(list_filter(string_split(text, ' '),
         |                    s -> list_contains(['the','a','of','and','to','in'], s))) AS BIGINT)
         |                  / len(string_split(text, ' '))) AS BIGINT) AS score
         |      FROM documents),
         |reps AS (SELECT doc_id FROM (
         |           SELECT g.doc_id,
         |                  row_number() OVER (PARTITION BY g.group_id
         |                    ORDER BY q.score DESC, g.doc_id ASC) AS rn
         |           FROM grp g JOIN q ON q.doc_id = g.doc_id)
         |         WHERE rn = 1)
         |SELECT doc_id FROM reps
         |UNION ALL
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM grp)""".stripMargin,
    "d15_block_dedup" ->
      """WITH tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS token
        |             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
        |             UNNEST(range(1, len(toks) + 1)) AS r(i)),
        |blk AS (SELECT doc_id, pos // 16 AS idx, string_agg(token, ' ' ORDER BY pos) AS block
        |        FROM tok GROUP BY doc_id, pos // 16),
        |keep AS (SELECT doc_id, idx, block,
        |                row_number() OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn
        |         FROM blk),
        |cln AS (SELECT doc_id, string_agg(block, ' ' ORDER BY idx) AS clean_text,
        |               CAST(count(*) AS BIGINT) AS n_kept
        |        FROM keep WHERE rn = 1 GROUP BY doc_id),
        |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks FROM blk GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(cln.clean_text, '') AS clean_text,
        |       nb.n_blocks, coalesce(cln.n_kept, CAST(0 AS BIGINT)) AS n_kept
        |FROM documents d
        |LEFT JOIN nb ON nb.doc_id = d.doc_id
        |LEFT JOIN cln ON cln.doc_id = d.doc_id""".stripMargin,
    "d20_boilerplate_ratio" ->
      // shared ⟺ the block content's claimant set spans ≥2 docs ⟺
      // min ≠ max over the content partition (same screen as the Spark side)
      """WITH tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS token
        |             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
        |             UNNEST(range(1, len(toks) + 1)) AS r(i)),
        |blk AS (SELECT doc_id, pos // 16 AS idx, string_agg(token, ' ' ORDER BY pos) AS block
        |        FROM tok GROUP BY doc_id, pos // 16),
        |sh AS (SELECT doc_id,
        |              CASE WHEN min(doc_id) OVER (PARTITION BY block)
        |                        <> max(doc_id) OVER (PARTITION BY block)
        |                   THEN 1 ELSE 0 END AS shared
        |       FROM blk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(sum(shared) AS BIGINT) AS n_shared,
        |       CAST(sum(shared) AS DOUBLE) / count(*) AS boilerplate_ratio
        |FROM sh GROUP BY doc_id""".stripMargin,
    "d14_incremental_dedup" -> {
      // exact screen: the digest equi-join reduces to text equality in SQL
      // (the digest is an implementation detail — collisions are re-confirmed
      // on the text, so digest-join ≡ text-join semantically); near screen:
      // band-key semi-join of new-batch band rows against corpus band rows
      s"""WITH $oracleSigCtes,
         |src AS (SELECT doc_id, source FROM documents),
         |nb AS (SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')),
         |corp AS (SELECT text FROM documents WHERE source NOT IN ('src0', 'src1')),
         |ex AS (SELECT DISTINCT nb.doc_id FROM nb JOIN corp ON nb.text = corp.text),
         |bnd AS (
         |  $oracleBandRows),
         |nbb AS (SELECT bnd.* FROM bnd JOIN src USING (doc_id)
         |        WHERE source IN ('src0', 'src1')),
         |cb AS (SELECT DISTINCT band, r0, r1 FROM bnd JOIN src USING (doc_id)
         |       WHERE source NOT IN ('src0', 'src1')),
         |nr AS (SELECT DISTINCT nbb.doc_id FROM nbb JOIN cb USING (band, r0, r1))
         |SELECT nb.doc_id,
         |       CAST(CASE WHEN ex.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dup_exact,
         |       CAST(CASE WHEN nr.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dup_near
         |FROM nb
         |LEFT JOIN ex ON ex.doc_id = nb.doc_id
         |LEFT JOIN nr ON nr.doc_id = nb.doc_id""".stripMargin
    },
    "d35_bloom_incremental" ->
      // the Bloom bitmap is an implementation detail (prefilter + exact
      // confirm ≡ the exact join): the oracle is d14's exact screen alone
      """WITH nb AS (SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')),
        |corp AS (SELECT text FROM documents WHERE source NOT IN ('src0', 'src1')),
        |ex AS (SELECT DISTINCT nb.doc_id FROM nb JOIN corp ON nb.text = corp.text)
        |SELECT nb.doc_id,
        |       CAST(CASE WHEN ex.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dup_exact
        |FROM nb LEFT JOIN ex ON ex.doc_id = nb.doc_id""".stripMargin,
    "d11_char_ngram_jaccard" -> {
      val p = graft.ops.Dedup.minhashPrime
      s"""WITH ch AS (SELECT doc_id, i AS pos, CAST(unicode(cs[i]) AS BIGINT) AS cp
         |            FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents) t,
         |            UNNEST(range(1, len(cs) + 1)) AS r(i)
         |            WHERE cs[i] <> ''),
         |ids AS (SELECT doc_id, list(cp ORDER BY pos) AS ids FROM ch GROUP BY doc_id),
         |sh AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
         |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+2]),
         |                                     (a, t) -> (a * 37 + t + 1) % $p)
         |                         for i in range(1, len(ids) - 1)]) AS sid
         |  FROM ids)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |rare AS (SELECT shingle_id FROM (SELECT shingle_id, count(*) AS c FROM sh GROUP BY 1)
         |         WHERE c > 1 AND c <= 20),
         |idx AS (SELECT sh.* FROM sh JOIN rare USING (shingle_id)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM idx x JOIN idx y ON x.shingle_id = y.shingle_id AND x.doc_id < y.doc_id),
         |inter AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common
         |          FROM cand
         |          JOIN sh a ON a.doc_id = doc_a
         |          JOIN sh b ON b.doc_id = doc_b AND b.shingle_id = a.shingle_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5""".stripMargin
    },
    "d6_cosine_neardup" ->
      s"""WITH $oracleEmbCte,
         |$oracleSpacedAssigned
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
         |FROM av x JOIN av y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${oracleCos("x.v", "y.v")} >= 0.4""".stripMargin,
    "d28_semantic_dedup" ->
      // transitive closure over the 0.35-pair graph, then per-group argmin
      // of the assigned-centroid affinity (aff ASC, vec_id ASC) — the
      // affinity is sc.cs of the winning assignment row, identical operands
      // and fold order to the Spark dot
      s"""WITH RECURSIVE $oracleEmbCte,
         |$oracleSpacedAssigned,
         |aff AS (SELECT sc.vec_id, sc.cs AS aff
         |        FROM sc JOIN assigned a
         |          ON a.vec_id = sc.vec_id AND a.bucket = sc.centroid_id),
         |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
         |          FROM av x JOIN av y
         |            ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |          WHERE ${oracleCos("x.v", "y.v")} >= 0.4),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |walk AS (SELECT DISTINCT a AS vec_id, a AS reach FROM edges
         |         UNION
         |         SELECT w.vec_id, g.b FROM walk w JOIN edges g ON g.a = w.reach),
         |grp AS (SELECT vec_id, min(reach) AS group_id FROM walk GROUP BY vec_id),
         |reps AS (SELECT vec_id FROM (
         |           SELECT g.vec_id,
         |                  row_number() OVER (PARTITION BY g.group_id
         |                    ORDER BY f.aff ASC, g.vec_id ASC) AS rn
         |           FROM grp g JOIN aff f ON f.vec_id = g.vec_id)
         |         WHERE rn = 1)
         |SELECT vec_id FROM reps
         |UNION ALL
         |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT vec_id FROM grp)""".stripMargin
  )
}
