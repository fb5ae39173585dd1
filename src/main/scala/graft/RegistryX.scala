package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import graft.binlog.{BinlogEvents, DailyCounts, Ingest, TransactionStats}
import graft.ops.{Dedup, TextOps, Vectors, Vocab}
import graft.ops.TextOps.Postings

import RegistryLib._

/** The text-analysis / training-data-pipeline surface — one slice of the
  * [[SparkEntry]] registry (round-7 verdict #7: the single-file registry
  * split by query-name prefix). Names, query semantics, and oracle
  * strings are verbatim from the pre-split registry; [[SparkEntry]]
  * merges the per-domain maps, so the driver contract is unchanged.
  */
private[graft] object RegistryX {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x27_length_percentiles" -> ((s, dir) =>
      // per-language document-length distribution (p50/p90/p99 chars) —
      // the curation question x16's min/max can't answer; same
      // histogram-compressed exact-percentile machinery as t19
      graft.operators.Percentiles.discrete(Tables.documents(s, dir), "lang",
        col("n_chars").cast("long"), Seq(0.5, 0.9, 0.99), "pct_chars")),
    "x33_bm25_search" -> ((s, dir) =>
      // lexical retrieval next to the ANN surface: BM25 top-10 per query
      // over the inverted index; query terms broadcast, scoring touches
      // only their postings; ppm scores keep ranking cross-engine-exact
      TextOps.bm25Search(Postings.Recompute(Tables.documents(s, dir)), Left(Seq(
        (0L, "hash join batch"), (1L, "vector scan filter"),
        (2L, "window agg order"))))),
    "x58_bm25_served" -> ((s, dir) => {
      // the lexical index's build-once/serve-many path (the s29/s33
      // artifact lifecycle brought to BM25): the postings persist
      // term-bucketed with lengths denormalized on, the serve filters by
      // a literal term IN-list (parquet row-group skip), and the result
      // is layout-independent — the hash must equal x33's
      val t = "postings_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      TextOps.materializedPostings(Tables.documents(s, dir), t)
      TextOps.bm25Search(Postings.Served(t), Left(Seq(
        (0L, "hash join batch"), (1L, "vector scan filter"),
        (2L, "window agg order"))))
    }),
    "x55_hybrid_rrf" -> ((s, dir) => {
      // hybrid search: the x33 BM25 list and the exact-cosine list for the
      // same three queries (doc_id ≡ vec_id — the x50 alignment), fused by
      // reciprocal-rank fusion with integer ⌊10⁹/(60+rank)⌋ points — the
      // calibration-free baseline every lexical+vector stack ships
      val queries = Seq((0L, "hash join batch"), (1L, "vector scan filter"),
        (2L, "window agg order"))
      TextOps.hybridRrf(Tables.documents(s, dir), queries,
        Vectors.topK(Tables.embeddings(s, dir), Left(queries.map(_._1)), 10))
    }),
    "x56_dsir_weights" -> ((s, dir) =>
      // DSIR importance weights against the English subset as the target
      // domain: positive micro-bits = looks like the target; the
      // deterministic top-k selection a quality-targeted sample keeps
      TextOps.dsirWeights(Tables.documents(s, dir),
        org.apache.spark.sql.functions.col("lang") === "en")),
    "x57_ppl_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail split per language on the x31 char-LM
      // score — exact-integer tertiles over the (score, doc_id) total
      // order, ranks decomposed into bounded score-band windows
      TextOps.pplBuckets(Tables.documents(s, dir))),
    "x59_quality_length_corr" -> ((s, dir) =>
      // is the quality signal just length in a costume? Per-source
      // Spearman between the stopword-ppm proxy and n_chars, both ranks
      // via the banded two-level decomposition, ρ in ppm
      TextOps.qualityLengthCorr(Tables.documents(s, dir))),
    "x60_retrieval_eval" -> ((s, dir) =>
      // known-item QA: at which BM25 rank does each query doc's
      // most-Jaccard-similar neighbor (d38 truth) come back? rank 0 =
      // missed the top-10 — every miss is a row, not a silent drop
      TextOps.retrievalAgreement(Tables.documents(s, dir), col("doc_id") % 31 === 0,
        Postings.Recompute(Tables.documents(s, dir)))),
    "x64_retrieval_eval_served" -> ((s, dir) => {
      // the corpus-scale form of x60: the SAME known-item agreement
      // (d38 Jaccard top-1 truth vs BM25 rank, self excluded) but the
      // ranking side reads the persisted postings artifact (the query
      // terms prune it by a semi-join and never visit the driver) —
      // nothing rebuilds per eval; hash must equal x60's
      val t = "postings_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, dir)
      TextOps.materializedPostings(docs, t)
      TextOps.retrievalAgreement(docs, col("doc_id") % 31 === 0, Postings.Served(t))
    }),
    "x67_retrieval_eval_indexed" -> ((s, dir) => {
      // the FULLY-indexed eval: truth from the persisted shingle index
      // (d38's more-like-this, served build-once) AND ranking from the
      // persisted postings — zero per-eval derivation on either side;
      // hash must equal x60/x64 (oracle shared verbatim)
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, dir)
      Dedup.materializedShingleIndex(docs, "shingles_" + sfx)
      TextOps.materializedPostings(docs, "postings_" + sfx)
      TextOps.retrievalAgreement(docs, col("doc_id") % 31 === 0,
        Postings.Served("postings_" + sfx), shingleIndex = Some("shingles_" + sfx))
    }),
    "x61_budget_waterfill" -> ((s, dir) =>
      // max–min fair token allocation across sources under a 20k budget:
      // the waterfilling level caps big sources at a common level, small
      // sources keep everything — the mixture plan x15/x26 then execute
      TextOps.budgetWaterfill(Tables.documents(s, dir), budget = 20000L)),
    "x62_bpe_merges" -> ((s, dir) =>
      // BPE merge TRAINING (Sennrich 2016) — the tokenizer-training step:
      // 4 rounds of corpus-wide pair counting + greedy left-to-right merge
      // (one anchored-regex pass per round); the oracle reproduces greedy
      // merging by an INDEPENDENT match-run-parity window formulation
      TextOps.bpeMerges(Tables.documents(s, dir), rounds = 4)),
    "x63_bpe_fertility" -> ((s, dir) =>
      // …and the tokenizer-evaluation step: apply the learned merges
      // (one bpe_apply pass — the merge table broadcasts as literals, the
      // read side never re-runs the training loop) and read per-source
      // compression (chars per token ×1e6) — the metric a pipeline checks
      // before committing to a tokenizer
      TextOps.bpeFertility(Tables.documents(s, dir), rounds = 4)),
    "x65_bpe_fertility_deep" -> ((s, dir) =>
      // the same read at a DEEP merge table (32 rounds): training still
      // loops (each argmax depends on the previous merge), but the
      // tokenization stays ONE bpe_apply pass per document — the shape
      // that makes a production 10^4-merge vocabulary readable (the old
      // loop read side would have run 32 persisted corpus passes here)
      TextOps.bpeFertility(Tables.documents(s, dir), rounds = 32)),
    "x66_bpe_fertility_served" -> ((s, dir) => {
      // …and the artifact lifecycle for the tokenizer: the 32-round merge
      // table persists once (build-if-absent — metadata-sized) and the
      // eval SERVES from it with zero training in the read path; hash
      // must equal x65's. No append path by design: merges are global
      // argmax decisions conditioned on every earlier merge — corpus
      // growth is a REBUILD decision (the centroid-drift contract)
      val t = "bpe_merges32_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      TextOps.materializedBpeMerges(Tables.documents(s, dir), t, rounds = 32)
      TextOps.bpeFertilityFromMerges(Tables.documents(s, dir), t)
    }),
    "x68_bpe_vocab_curve" -> ((s, dir) => {
      // the vocab-size DECISION curve: fertility at merge depths
      // 4/8/16/32 from ONE training run — a merge-table PREFIX is the
      // trained table at that depth (BPE is greedy-sequential), so the
      // x66 artifact serves every depth exactly; the eval is ONE corpus
      // pass with per-depth bpe_apply columns riding in parallel (the
      // sweep-as-column form — never a re-tokenize pass per depth)
      val t = "bpe_merges32_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      TextOps.bpeVocabCurve(Tables.documents(s, dir), t)
    }),
    "x70_bm25_compacted" -> ((s, dir) => {
      // the REPAIR action x69's report feeds, then the proof it worked:
      // compact the as-of-cut index against the current corpus (orphans
      // out via one semi-join, lag docs tokenized in — never the indexed
      // majority), and serve x33's queries from the repaired index. The
      // hash must equal BM25 recomputed on the current corpus — the
      // oracle is x33's SQL with the corpus filter, nothing else
      val base = Tables.documents(s, dir)
      val n = base.count()
      val cut = n - n / 8
      val t = "postings_compact_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      TextOps.materializedPostings(base.filter(col("doc_id") < cut), t)
      val current = base.filter(col("doc_id") % 13 =!= 5)
      TextOps.compactPostings(current, t)
      TextOps.bm25Search(Postings.Served(t), Left(Seq(
        (0L, "hash join batch"), (1L, "vector scan filter"),
        (2L, "window agg order"))))
    }),
    "x69_postings_staleness" -> ((s, dir) => {
      // the postings index's SERVE-vs-REBUILD decision read — the
      // d39/s39/s40 maintenance family's fourth member, so every
      // persisted artifact kind now ships one. Index built on the corpus
      // as of a cut (the id tail is un-appended CDC lag, the s40 recipe);
      // the current corpus drops a deterministic deletion slice
      // (doc_id % 13 = 5 — docs the index still serves as orphans).
      // Reports per-source coverage plus the two BM25 corpus constants
      // index-side vs current — the score-drift a rebuild would correct.
      val base = Tables.documents(s, dir)
      val n = base.count()
      val cut = n - n / 8
      val t = "postings_cut_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      TextOps.materializedPostings(base.filter(col("doc_id") < cut), t)
      TextOps.postingsStaleness(base.filter(col("doc_id") % 13 =!= 5), t)
    }),
    "x32_heavy_hitters_checked" -> ((s, dir) =>
      // freqItems sketch next to exact counts: raises if the sketch drops
      // a true heavy hitter (its no-false-negative guarantee); emits the
      // deterministic exact heavy hitters, never the sketch contents
      TextOps.heavyHittersChecked(Tables.documents(s, dir), support = 0.001)),
    "x31_char_lm_score" -> ((s, dir) =>
      // corpus-trained char-bigram LM cross-entropy per doc (bits/char ×
      // 1e6) — the perplexity-style quality gate; model is vocab²-sized
      // and broadcast, the corpus never shuffles
      TextOps.charLmScore(Tables.documents(s, dir))),
    "x30_char_entropy" -> ((s, dir) =>
      // compression-style quality gate: per-doc char-histogram Shannon
      // entropy in micro-bits (degenerate repetition ≈ 0, mojibake high)
      TextOps.charEntropy(Tables.documents(s, dir))),
    "x37_cdc_chunks" -> ((s, dir) =>
      // content-defined chunk boundaries (rolling hash ≡ 0 mod 64): the
      // insertion-resilient chunking the storage-dedup stack (chunk md5 →
      // d8 exact dedup) needs where fixed tiles (m4/x24) lose every tile
      // after one inserted byte
      TextOps.cdcChunks(Tables.documents(s, dir))),
    "x38_contamination_score" -> ((s, dir) => {
      // d13's binary flag as a spectrum: per-doc benchmark-overlap ppm for
      // the WHOLE corpus (zero-hit docs score 0) — bench set broadcast,
      // one pass, one doc_id agg
      val docs = Tables.documents(s, dir)
      Dedup.contaminationScore(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    "x39_gate_ablation" -> ((s, dir) =>
      // which quality gate bites? per-component fail and UNIQUE-fail
      // counts (drop-the-gate admittance) in one codegen'd flag pass
      TextOps.gateAblation(Tables.documents(s, dir))),
    "x40_vocab_coverage" -> ((s, dir) =>
      // tokenizer OOV diagnostic: top-1000 vocab (count desc, token asc),
      // per-source OOV ppm — vocab broadcasts, corpus never shuffles
      TextOps.vocabCoverage(Tables.documents(s, dir))),
    "x41_dedup_savings" -> ((s, dir) =>
      // the pre-pipeline budget question: per-source tokens raw vs after
      // exact dedup (keep-min rep), saving in ppm
      TextOps.dedupSavings(Tables.documents(s, dir))),
    "x42_packing_efficiency" -> ((s, dir) =>
      // was the token budget well spent? per-seq fills rolled up to one
      // metadata row (mean fill ppm, straddle overshoot at fill_max)
      TextOps.packingEfficiency(Tables.documents(s, dir))),
    "x47_pipeline_waterfall" -> ((s, dir) =>
      // the curation cost story: docs/tokens surviving raw → exact dedup
      // → quality → quota sample, four metadata rows
      TextOps.pipelineWaterfall(Tables.documents(s, dir))),
    "x43_source_drift" -> ((s, dir) =>
      // domain-shift screen: per-source L1 ppm distance from the corpus
      // token distribution over the deterministic top-1000 vocab
      TextOps.sourceDrift(Tables.documents(s, dir))),
    "x45_curriculum" -> ((s, dir) =>
      // short-to-long curriculum: exact length-decile bands, hash-mixed
      // within band, dense positions via the bounded prefix count
      TextOps.curriculumOrder(Tables.documents(s, dir))),
    "x36_pareto_frontier" -> ((s, dir) => {
      // the efficient edge of the length/naturalness trade-off: docs no
      // other doc beats on BOTH n_chars and stopword ppm — what any
      // scalarized quality weighting could ever select. Dominance runs in
      // the value domain of n_chars (distinct-x window), not over rows
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks).cast("long")
      val nStop = size(filter(toks, t =>
        array_contains(typedlit(TextOps.stopwords), t))).cast("long")
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"),
        round(lit(1e6) * nStop / nTok).cast("long").as("stopword_ppm"))
      TextOps.paretoFront(scored, "n_chars", "stopword_ppm")
    }),
    "x29_collocations" -> ((s, dir) =>
      // corpus collocations ranked by lift (monotone with PMI — no
      // cross-engine ln in the compare); zip-slice bigrams, vocab-sized
      // marginals broadcast back, TakeOrdered top-k
      TextOps.collocations(Tables.documents(s, dir))),
    "x50_mixture_shift" -> ((s, dir) =>
      // what cluster balancing DOES to the source mixture: per-source
      // corpus share vs sampled share (ppm, integer div) — the report a
      // pipeline reads before committing mixture weights; vec_id ≡ doc_id
      Vectors.mixtureShiftReport(Tables.embeddings(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("source")))),
    // ---- text analysis ----
    "x1_token_stats" -> ((s, dir) => TextOps.tokenStats(Tables.documents(s, dir))),
    "x2_quality" -> ((s, dir) => TextOps.qualityScore(Tables.documents(s, dir))),
    "x3_langid" -> ((s, dir) => TextOps.languageId(Tables.documents(s, dir))),
    "x4_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Vocab.hashTokenIds(Tables.documents(s, dir)))),
    "x34_winnowing" -> ((s, dir) =>
      // MOSS-style winnowing: per-w-window min over positional k-gram
      // hashes, distinct — one codegen'd expression, shuffle-free until
      // the per-doc summary agg
      TextOps.winnowFingerprints(Tables.documents(s, dir), k = 5, w = 4)),
    "x5_regex_tokens" -> ((s, dir) =>
      TextOps.regexTokenStats(Tables.documents(s, dir))),
    "x6_curation" -> ((s, dir) =>
      // the composed pass: exact-dedup representative + quality gate
      TextOps.curate(Tables.documents(s, dir))),
    "x7_top_terms" -> ((s, dir) =>
      // TF-IDF-shaped keyword extraction on integer-deterministic ordering
      TextOps.topTerms(Tables.documents(s, dir))),
    "x9_normalize" -> ((s, dir) =>
      // canonicalization upstream of exact dedup: case/punct/spacing-folded
      TextOps.normalize(Tables.documents(s, dir))),
    "x10_curation_pipeline" -> ((s, dir) =>
      // the composed end-to-end pass: normalize → dedup on normalized text
      // → quality gate → language-balanced quota sample
      TextOps.curationPipeline(Tables.documents(s, dir), quota = 50)),
    "x8_stratified_sample" -> ((s, dir) =>
      // language-balancing quota sample on a deterministic hash shuffle key
      // (two-phase exact top-quota — no single-task-per-stratum window)
      TextOps.stratifiedSample(Tables.documents(s, dir), quota = 50)),
    "x11_pack_sequences" -> ((s, dir) =>
      // training-sequence packing via two-level distributed prefix sum;
      // groupSize=8 (vs the 32768 default) so the test corpus actually
      // exercises group, super-group, and top-level prefix stages
      TextOps.packSequences(Tables.documents(s, dir), budget = 2048L, groupSize = 8L)),
    "x12_global_shuffle" -> ((s, dir) =>
      // deterministic corpus shuffle: explicit position in hash order via
      // the same bucketed prefix machinery — no global-ORDER-BY window
      TextOps.globalShuffle(Tables.documents(s, dir))),
    "x13_repetition" -> ((s, dir) =>
      // intra-doc k-gram repetition ratio (Gopher-style quality signal) —
      // a pure codegen projection: shingle-array size vs token arithmetic
      TextOps.repetitionStats(Tables.documents(s, dir))),
    "x14_pii_redaction" -> ((s, dir) => {
      // the corpus is synthetic words, so the query seeds one deterministic
      // email/IP/phone per document before scrubbing — the redaction itself
      // (and the cross-engine regex semantics) is what the oracle attests
      val docs = Tables.documents(s, dir)
      val seeded = docs.select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact u"), col("doc_id"), lit("@"), col("source"), lit(".net"),
          lit(" ip 10.0."), col("doc_id") % 256, lit(".7"),
          lit(" tel 555-123-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")
        ).as("text"))
      TextOps.redactPii(seeded)
    }),
    "x15_temperature_sample" -> ((s, dir) =>
      // multilingual data mixing: α=0.5 temperature rebalancing with a
      // deterministic hash-threshold keep decision — zero corpus shuffle
      TextOps.temperatureSample(Tables.documents(s, dir))),
    "x48_pps_sample" -> ((s, dir) =>
      // systematic probability-proportional-to-size sampling: exactly 500
      // picks at every total/500-th character of cumulative weight; exact
      // integer arithmetic end-to-end, prefix via the bounded 3-level scan
      TextOps.ppsSample(Tables.documents(s, dir))),
    "x49_vocab_growth" -> ((s, dir) =>
      // Heaps-law curve: types vs tokens at corpus quarters — one vocab-
      // sized shuffle, integer quarter tests shared with the oracle
      TextOps.vocabGrowth(Tables.documents(s, dir))),
    "x17_upsample" -> ((s, dir) =>
      // low-resource upsampling: α=0.5 repetition factors (capped at 4
      // epochs), emitted as one row per (doc, epoch) — the mixture a
      // training run actually reads; zero corpus shuffle
      TextOps.upsample(Tables.documents(s, dir))),
    "x18_token_zipf" -> ((s, dir) =>
      // Zipf profile: distinct-token count per occurrence count — the
      // tokenization sanity check; second agg is vocabulary-sized
      TextOps.tokenFreqOfFreq(Vocab.hashTokenIds(Tables.documents(s, dir)))),
    "x28_token_novelty" -> ((s, dir) =>
      // vocabulary growth (Heaps'-law check): per-doc count of tokens
      // first seen in that doc — one window-min over the token index,
      // no pair join
      Dedup.tokenNovelty(Vocab.hashTokenIds(Tables.documents(s, dir)))),
    "x19_ngram_novelty" -> ((s, dir) =>
      // ingest-order novelty: fraction of each doc's distinct 5-gram
      // shingles FIRST seen in that doc — the O(corpus-shingles) "is this
      // batch mostly dupes?" screen (one window-min, no pair join)
      Dedup.ngramNovelty(Tables.documents(s, dir))),
    "x20_shard_layout" -> ((s, dir) =>
      // x12's deterministic shuffle cut into training shards: (shard,
      // pos_in_shard) = (pos div 100, pos mod 100) — the file/offset
      // addressing a data loader reads; pure arithmetic over the bounded
      // prefix scan
      TextOps.shardLayout(Tables.documents(s, dir), shardSize = 100L)),
    "x24_chunking" -> ((s, dir) =>
      // RAG/long-context chunker: 64-token windows every 48 tokens —
      // offsets only (the loader slices); projection + generator, no
      // shuffle anywhere
      TextOps.chunkDocs(Tables.documents(s, dir))),
    "x25_source_quality" -> ((s, dir) =>
      // feed-level health dashboard: volumes + stopword / type-token
      // ratios per source, one map-side-combined pass
      TextOps.sourceQualityReport(Tables.documents(s, dir))),
    "x23_quarantined_split" -> ((s, dir) => {
      // the split a training run actually materializes: x22's growth-
      // stable assignment with d13's benchmark-contaminated docs forced
      // into a quarantine slice — overlap with the eval suite (src0) must
      // never reach ANY split, train least of all
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("source") =!= "src0")
      val flagged = Dedup.decontaminate(corpus, docs.filter(col("source") === "src0"))
        .select(col("doc_id"), lit(true).as("contaminated"))
      // no broadcast HINT: the contaminated set is benchmark-overlap-sized
      // in the expected case but corpus-proportional in the worst (a
      // corpus full of benchmark copies) — a hint would force the
      // broadcast at any scale, while stats/AQE pick broadcast at fixture
      // scale and a shuffled join if the set ever balloons (round 10)
      TextOps.assignSplits(corpus)
        .join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("contaminated"), lit("quarantine")).otherwise(col("split")).as("split"))
    }),
    "x46_vector_quarantined_split" -> ((s, dir) => {
      // x23's quarantine with EMBEDDING-level evidence: docs whose vector
      // leaks against the benchmark split (s18's screen) are forced out of
      // every training slice — token overlap (d13) catches verbatim
      // copies, this catches paraphrases the embedding still recognizes
      val emb = Tables.embeddings(s, dir)
      val leaked = Vectors.crossCorpusLeakage(
          emb.filter(col("vec_id") % 10 < 2),
          emb.filter(col("vec_id") % 10 >= 2), threshold = 0.4)
        .select(col("test_id").as("doc_id"), lit(true).as("leaked"))
      // unhinted for the same reason as x23: the leaked set is bounded by
      // the leak rate, not by construction — let stats pick the join
      TextOps.assignSplits(
          Tables.documents(s, dir).filter(col("doc_id") % 10 < 2))
        .join(leaked, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("leaked"), lit("quarantine")).otherwise(col("split")).as("split"))
    }),
    "x26_budget_sample" -> ((s, dir) =>
      // "a ~5000-token random subset": hash-order prefix token sums via
      // the shared three-level scan, keep while the running total fits
      TextOps.sampleUnderTokenBudget(Tables.documents(s, dir), tokenBudget = 5000L)),
    "x22_split_assignment" -> ((s, dir) =>
      // deterministic 90/5/5 split: pure doc_id-hash projection — stable
      // under corpus growth, so held-out data never bleeds into training
      TextOps.assignSplits(Tables.documents(s, dir))),
    "x54_training_manifest" -> ((s, dir) =>
      // the dataloader's pre-run validation artifact: per-shard volumes,
      // position span, and an order-pinned content checksum — a partially
      // landed shard fails the md5 instead of silently skewing training
      TextOps.trainingManifest(Tables.documents(s, dir))),
    "x52_nested_subsets" -> ((s, dir) =>
      // scaling-law ⊂-chain: 1/8 ⊂ 1/4 ⊂ 1/2 ⊂ all by construction (one
      // hash comparison per tier) — curves differ only by quantity
      TextOps.nestedSubsets(Tables.documents(s, dir))),
    "x53_min_token_sweep" -> ((s, dir) =>
      // the quality gate's main knob swept: docs/tokens surviving each
      // cutoff, retained shares in exact integer ppm
      TextOps.minTokenSweep(Tables.documents(s, dir))),
    "x21_corpus_top_terms" -> ((s, dir) =>
      // exact corpus-wide heavy hitters: vocabulary-sized partial-agg
      // frame, TakeOrdered top-k — never a global sort
      TextOps.corpusTopTerms(Tables.documents(s, dir))),
    "x16_corpus_stats" -> ((s, dir) =>
      // the corpus report card: per-language volume/coverage in one
      // map-side-combined pass (integer aggregates only — deterministic)
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          countDistinct(col("source")).as("n_sources")))
  )


  /** x60's oracle SQL — d38's truth chain (top-1 by the shared
    * integer-ppm Jaccard) LEFT JOINed to the x33 BM25 ranking with the
    * query doc's own distinct tokens as the query and self excluded; BM25
    * CTEs renamed (btok/bp/bl/bd/bst) to dodge the jaccard chain's names.
    * Shared VERBATIM by the served form (x64): same truth, same
    * arithmetic, layout-independent serve.
    */
  private lazy val oracleRetrievalEval: String =
      s"""WITH $oracleJaccardCtes,
         |qi AS (SELECT doc_id AS query_id, shingle_id FROM idx WHERE doc_id % 31 = 0),
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
         |                  JOIN sizes sb ON sb.doc_id = neighbor_id),
         |truth AS (SELECT query_id, neighbor_id AS truth_id, sim_ppm AS truth_sim_ppm
         |          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                  ORDER BY sim_ppm DESC, neighbor_id ASC) AS rn FROM dsc)
         |          WHERE rn = 1),
         |btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |bp AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM btok GROUP BY 1, 2),
         |bl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM bp GROUP BY 1),
         |bd AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM bp GROUP BY 1),
         |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len) AS avglen FROM bl),
         |q AS (SELECT DISTINCT query_id, term FROM (
         |        SELECT doc_id AS query_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents WHERE doc_id % 31 = 0)),
         |sc AS (SELECT q.query_id, bp.doc_id,
         |              CAST(round(1e6 * sum(ln((bst.n_docs - bd.df + 0.5) / (bd.df + 0.5) + 1.0) *
         |                (bp.tf * 2.2) / (bp.tf + 1.2 * (0.25 + 0.75 * bl.len / bst.avglen))))
         |                AS BIGINT) AS score_ppm
         |       FROM bp JOIN q ON bp.term = q.term JOIN bd ON bd.term = bp.term
         |         JOIN bl ON bl.doc_id = bp.doc_id CROSS JOIN bst
         |       WHERE bp.doc_id <> q.query_id
         |       GROUP BY 1, 2),
         |rk AS (SELECT query_id, doc_id, rn FROM (
         |         SELECT query_id, doc_id,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY score_ppm DESC, doc_id ASC) AS rn
         |         FROM sc)
         |       WHERE rn <= 10)
         |SELECT t.query_id, t.truth_id, t.truth_sim_ppm,
         |       CAST(coalesce(rk.rn, 0) AS BIGINT) AS bm25_rank
         |FROM truth t LEFT JOIN rk
         |  ON rk.query_id = t.query_id AND rk.doc_id = t.truth_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "x45_curriculum" ->
      // same decile thresholds over token counts, same multiplicative
      // hash, positions = dense rank over (band·2³² + hash, doc_id)
      """WITH tkn AS (SELECT doc_id,
        |               CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |h AS (SELECT n AS v, CAST(count(*) AS BIGINT) AS c FROM tkn GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |        FROM h),
        |bnd AS (SELECT p, min(v) AS b
        |        FROM cum, t,
        |             (VALUES (0.1), (0.2), (0.3), (0.4), (0.5),
        |                     (0.6), (0.7), (0.8), (0.9)) ps(p)
        |        WHERE cum >= ceil(p * n) GROUP BY p),
        |banded AS (SELECT doc_id,
        |                  1 + (SELECT count(*) FROM bnd WHERE tkn.n > bnd.b) AS band
        |           FROM tkn),
        |keyed AS (SELECT doc_id, band,
        |                 band * 4294967296 +
        |                   ((doc_id % 2147483647) * (2654435761 % 2147483647)) % 2147483647 AS k
        |          FROM banded)
        |SELECT doc_id, CAST(band AS BIGINT) AS band,
        |       CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS curriculum_pos
        |FROM keyed""".stripMargin,
    "x27_length_percentiles" ->
      """WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |cum AS (SELECT lang, v,
        |               CAST(sum(c) OVER (PARTITION BY lang ORDER BY v
        |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |        FROM h)
        |SELECT cum.lang, p, min(v) AS pct_chars, CAST(min(n) AS BIGINT) AS n_rows
        |FROM cum
        |JOIN t ON t.lang = cum.lang
        |JOIN (VALUES (0.5), (0.9), (0.99)) ps(p) ON cum >= ceil(p * n)
        |GROUP BY 1, 2""".stripMargin,
    "x33_bm25_search" -> oracleBm25,
    "x58_bm25_served" -> oracleBm25,
    // x70: x33's SQL verbatim over the CURRENT corpus (the x69 deletion
    // slice dropped) — the compacted index must serve exactly what a
    // from-scratch build on the current corpus would
    "x70_bm25_compacted" -> oracleBm25.replace(
      "FROM documents)", "FROM documents WHERE doc_id % 13 <> 5)"),
    "x69_postings_staleness" ->
      // the index ledger's per-doc `len` is sum(tf) over the doc's terms
      // = its split-token count, so the oracle reads both sides' lengths
      // straight off string_split — no posting-row reconstruction needed
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |idx AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |        FROM documents, nn WHERE doc_id < nn.n - nn.n // 8),
        |cur AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |        FROM documents WHERE doc_id % 13 <> 5),
        |it AS (SELECT CAST(count(*) AS BIGINT) AS n_index_docs,
        |              CAST((1000000 * sum(len)) // count(*) AS BIGINT) AS avglen_index_ppm
        |       FROM idx),
        |ct AS (SELECT CAST((1000000 * sum(len)) // count(*) AS BIGINT) AS avglen_current_ppm
        |       FROM cur),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS n_orphaned FROM idx i
        |         LEFT JOIN cur c ON c.doc_id = i.doc_id WHERE c.doc_id IS NULL),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(CASE WHEN i.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |                AS n_unindexed
        |       FROM cur c LEFT JOIN idx i ON i.doc_id = c.doc_id GROUP BY source)
        |SELECT source, n_docs, n_docs - n_unindexed AS n_indexed, n_unindexed,
        |       n_orphaned, n_index_docs, avglen_index_ppm, avglen_current_ppm
        |FROM ps, orph, it, ct""".stripMargin,
    "x55_hybrid_rrf" ->
      // x33's BM25 CTEs verbatim for the lexical list, the s1-style
      // normalized-cosine window for the vector list, then ALL-INTEGER
      // fusion: ⌊10⁹/(60+rank)⌋ points per list, summed, ties to the
      // smaller doc_id — no float enters the fusion on either engine
      s"""WITH q(query_id, term) AS (VALUES
         |  (0, 'hash'), (0, 'join'), (0, 'batch'),
         |  (1, 'vector'), (1, 'scan'), (1, 'filter'),
         |  (2, 'window'), (2, 'agg'), (2, 'order')),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |l AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM p GROUP BY 1),
         |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len) AS avglen FROM l),
         |lex AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY score_ppm DESC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT CAST(q.query_id AS BIGINT) AS query_id, p.doc_id,
         |           CAST(round(1e6 * sum(ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
         |             (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * l.len / st.avglen))))
         |             AS BIGINT) AS score_ppm
         |    FROM p JOIN q ON p.term = q.term JOIN d ON d.term = p.term
         |      JOIN l ON l.doc_id = p.doc_id CROSS JOIN st
         |    GROUP BY 1, 2))
         |  WHERE rank <= 10),
         |$oracleEmbCte,
         |qv AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 3),
         |vec AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY sim DESC, doc_id ASC) AS rank
         |  FROM (SELECT qv.query_id, e.vec_id AS doc_id,
         |               ${oracleCos("qv.qvec", "e.v")} AS sim
         |        FROM qv, e WHERE e.vec_id <> qv.query_id))
         |  WHERE rank <= 10),
         |u AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS pts FROM lex
         |      UNION ALL
         |      SELECT query_id, doc_id, 1000000000 // (60 + rank) FROM vec),
         |f AS (SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT) AS rrf_score
         |      FROM u WHERE doc_id <> query_id GROUP BY 1, 2)
         |SELECT query_id, doc_id, rrf_score, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, doc_id, rrf_score,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY rrf_score DESC, doc_id ASC) AS rank
         |  FROM f)
         |WHERE rank <= 5""".stripMargin,
    "x56_dsir_weights" ->
      // the feature key is the null-free (in_v, token-or-'') pair; the
      // per-token weight is ONE log2 of a ratio of exact-integer products
      // (< 2^53 — exact in double on both engines), micro-bit rounded
      """WITH tok AS (SELECT d.doc_id,
        |                    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_t,
        |                    unnest(string_split(d.text, ' ')) AS token
        |             FROM documents d),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |v AS (SELECT token FROM c ORDER BY c DESC, token ASC LIMIT 1000),
        |m AS (SELECT tok.doc_id, tok.is_t,
        |             CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS in_v,
        |             CASE WHEN v.token IS NULL THEN '' ELSE tok.token END AS ftok
        |      FROM tok LEFT JOIN v ON v.token = tok.token),
        |model AS (SELECT in_v, ftok, CAST(sum(is_t) AS BIGINT) AS ct,
        |                 CAST(count(*) AS BIGINT) AS cr
        |          FROM m GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
        |               CAST(sum(cr) AS BIGINT) AS tr FROM model)
        |SELECT m.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(round(1e6 * sum(log2(((model.ct + 1) * (tot.tr + 1001)) /
        |              CAST((model.cr + 1) * (tot.tt + 1001) AS DOUBLE))) / count(*))
        |            AS BIGINT) AS dsir_ubits
        |FROM m JOIN model USING (in_v, ftok) CROSS JOIN tot
        |GROUP BY m.doc_id""".stripMargin,
    "x57_ppl_buckets" ->
      // the NAIVE per-lang row_number form — the Spark side's two-level
      // band decomposition must reproduce these ranks exactly (the b29
      // discipline: the naive form IS the oracle)
      """WITH cs AS (SELECT doc_id, string_split(text, '') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS c1, unnest(t[2:len(t)]) AS c2
        |       FROM cs WHERE len(t) >= 2),
        |bgf AS (SELECT * FROM bg WHERE c1 <> '' AND c2 <> ''),
        |pair AS (SELECT c1, c2, CAST(count(*) AS BIGINT) AS c12 FROM bgf GROUP BY 1, 2),
        |uni AS (SELECT c1, CAST(sum(c12) AS BIGINT) AS c1n FROM pair GROUP BY 1),
        |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |                  CAST(round(1e6 * sum(-log2(c12 / c1n)) / count(*)) AS BIGINT) AS xent_ubits
        |           FROM bgf JOIN pair USING (c1, c2) JOIN uni USING (c1)
        |           GROUP BY doc_id),
        |r AS (SELECT d.lang, s.n_bigrams, s.xent_ubits,
        |             row_number() OVER (PARTITION BY d.lang
        |               ORDER BY s.xent_ubits, s.doc_id) AS rn,
        |             count(*) OVER (PARTITION BY d.lang) AS n
        |      FROM scored s JOIN documents d USING (doc_id))
        |SELECT lang, CAST((3 * (rn - 1)) // n AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
        |       CAST(min(xent_ubits) AS BIGINT) AS lo_ubits,
        |       CAST(max(xent_ubits) AS BIGINT) AS hi_ubits
        |FROM r GROUP BY 1, 2""".stripMargin,
    "x59_quality_length_corr" ->
      // the NAIVE per-source window form (the b29/x57 discipline: the
      // naive form IS the oracle, so the banded decomposition is attested
      // rank-exact); ρ is one float expression over exact integer ranks
      """WITH t AS (SELECT doc_id, source, n_chars,
        |                  (1000000 * CAST(len(list_filter(string_split(text, ' '),
        |                     s -> list_contains(['the','a','of','and','to','in'], s))) AS BIGINT))
        |                    // len(string_split(text, ' ')) AS q_ppm
        |           FROM documents),
        |r AS (SELECT source,
        |             row_number() OVER (PARTITION BY source ORDER BY q_ppm, doc_id) AS rq,
        |             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rl,
        |             count(*) OVER (PARTITION BY source) AS n
        |      FROM t)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |       CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS sum_d2,
        |       CAST(round(1e6 * (1 - 6.0 * sum((rq - rl) * (rq - rl)) /
        |            (CAST(n AS DOUBLE) * (n * n - 1)))) AS BIGINT) AS spearman_ppm
        |FROM r WHERE n >= 2 GROUP BY source, n""".stripMargin,
    "x60_retrieval_eval" -> oracleRetrievalEval,
    // the SERVED eval reads the persisted postings artifact through the
    // pushed term IN-list in query batches; serving is layout-independent,
    // so the oracle is x60's SQL VERBATIM — the x58 ≡ x33 discipline one
    // level up
    "x64_retrieval_eval_served" -> oracleRetrievalEval,
    "x67_retrieval_eval_indexed" -> oracleRetrievalEval,
    "x62_bpe_merges" -> oracleBpeMerges(rounds = 4),
    "x63_bpe_fertility" -> oracleBpeFertility(rounds = 4),
    "x65_bpe_fertility_deep" -> oracleBpeFertility(rounds = 32),
    "x66_bpe_fertility_served" -> oracleBpeFertility(rounds = 32),
    "x68_bpe_vocab_curve" -> oracleBpeVocabCurve(Seq(4, 8, 16, 32)),
    "x61_budget_waterfill" ->
      // the same piecewise-linear solve: max over valid segment
      // candidates = the waterfilling level (rows past the crossing
      // always produce smaller candidates — see the op's scaladoc proof
      // sketch); spill goes to the r largest capped sources
      """WITH ps AS (SELECT source,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |            FROM documents GROUP BY 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ps),
        |seg AS (SELECT source, n_tokens,
        |               CAST(coalesce(sum(n_tokens) OVER w, 0) AS BIGINT) AS prefix_below,
        |               CAST(count(*) OVER w AS BIGINT) AS k
        |        FROM ps WINDOW w AS (ORDER BY n_tokens ASC, source ASC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |lv AS (SELECT max((20000 - prefix_below) // (mm.m - k)) AS level
        |       FROM seg CROSS JOIN mm
        |       WHERE (20000 - prefix_below) // (mm.m - k) < n_tokens),
        |al AS (SELECT ps.source, ps.n_tokens, lv.level AS lvl,
        |              least(ps.n_tokens,
        |                coalesce(lv.level, 9223372036854775807)) AS base
        |       FROM ps CROSS JOIN lv),
        |sp AS (SELECT 20000 - sum(base) AS r FROM al),
        |rk AS (SELECT al.*, row_number() OVER (ORDER BY n_tokens DESC, source ASC) AS rk
        |       FROM al)
        |SELECT rk.source, rk.n_tokens, CAST(rk.lvl AS BIGINT) AS level,
        |       CAST(rk.base + CASE WHEN rk.n_tokens >
        |              coalesce(rk.lvl, 9223372036854775807)
        |             AND rk.rk <= greatest(least(sp.r, mm.m), 0)
        |            THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        |FROM rk CROSS JOIN sp CROSS JOIN mm""".stripMargin,
    "x32_heavy_hitters_checked" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT term, n, TRUE AS sketch_ok
        |FROM c, t WHERE n > 0.001 * total""".stripMargin,
    "x31_char_lm_score" ->
      """WITH cs AS (SELECT doc_id, string_split(text, '') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS c1, unnest(t[2:len(t)]) AS c2
        |       FROM cs WHERE len(t) >= 2),
        |bgf AS (SELECT * FROM bg WHERE c1 <> '' AND c2 <> ''),
        |pair AS (SELECT c1, c2, CAST(count(*) AS BIGINT) AS c12 FROM bgf GROUP BY 1, 2),
        |uni AS (SELECT c1, CAST(sum(c12) AS BIGINT) AS c1n FROM pair GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(round(1e6 * sum(-log2(c12 / c1n)) / count(*)) AS BIGINT) AS xent_ubits
        |FROM bgf JOIN pair USING (c1, c2) JOIN uni USING (c1)
        |GROUP BY doc_id""".stripMargin,
    "x30_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        |       FROM ch WHERE ch <> '' GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |             CAST(count(*) AS BIGINT) AS n_distinct,
        |             sum(c * log2(c)) AS s
        |      FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct,
        |       CAST(round(1e6 * (log2(n_chars) - s / n_chars)) AS BIGINT) AS entropy_ubits
        |FROM e""".stripMargin,
    "x37_cdc_chunks" -> oracleCdcChunksSql,
    "x36_pareto_frontier" ->
      // same value-domain dominance: max y per distinct x, running
      // strict-prior max over x DESC, admit y = ymax AND y > prior
      """WITH scored AS (
        |  SELECT doc_id, n_chars,
        |         CAST(round(1e6 * CAST(len(list_filter(string_split(text, ' '),
        |                s -> list_contains(['the','a','of','and','to','in'], s))) AS BIGINT)
        |              / len(string_split(text, ' '))) AS BIGINT) AS stopword_ppm
        |  FROM documents),
        |perx AS (SELECT n_chars, max(stopword_ppm) AS ymax FROM scored GROUP BY n_chars),
        |fr AS (SELECT n_chars, ymax AS stopword_ppm FROM (
        |         SELECT n_chars, ymax,
        |                max(ymax) OVER (ORDER BY n_chars DESC
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
        |         FROM perx)
        |       WHERE prior IS NULL OR ymax > prior)
        |SELECT s.doc_id, s.n_chars, s.stopword_ppm
        |FROM scored s JOIN fr USING (n_chars, stopword_ppm)""".stripMargin,
    "x29_collocations" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |       FROM tok WHERE len(t) >= 2),
        |cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2),
        |ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1),
        |cb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY 1),
        |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cab)
        |SELECT w1, w2, c_ab,
        |       CAST(round(1e6 * (SELECT n FROM n) * c_ab / (c_a * c_b)) AS BIGINT) AS lift_ppm
        |FROM cab JOIN ca USING (w1) JOIN cb USING (w2)
        |WHERE c_ab >= 5
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 100""".stripMargin,
    "x38_contamination_score" -> {
      val p = graft.ops.Dedup.minhashPrime
      // d13's shingle frame, LEFT-joined so every shingled corpus doc
      // scores (zero-hit docs at 0 ppm)
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
         |SELECT s.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(b.shingle_id) AS BIGINT) AS n_hits,
         |       CAST(round(1e6 * count(b.shingle_id) / count(*)) AS BIGINT)
         |         AS contamination_ppm
         |FROM sh s JOIN src USING (doc_id)
         |     LEFT JOIN bench b USING (shingle_id)
         |WHERE source <> 'src0'
         |GROUP BY 1""".stripMargin
    },
    "x50_mixture_shift" ->
      // s30's sampler as a CTE + the documents source dimension; shares in
      // exact integer ppm (div, not float division)
      s"""WITH $oracleEmbCte,
         |$oracleSpacedAssigned,
         |keyed AS (SELECT vec_id, bucket,
         |            ((vec_id % 2147483647) * ${2654435761L % 2147483647L}) % 2147483647 AS skey
         |          FROM av),
         |picks AS (SELECT vec_id FROM (
         |            SELECT vec_id, row_number() OVER (PARTITION BY bucket
         |              ORDER BY skey ASC, vec_id ASC) AS rn FROM keyed)
         |          WHERE rn <= 5),
         |docs AS (SELECT doc_id AS vec_id, source FROM documents),
         |corpus AS (SELECT source, CAST(count(*) AS BIGINT) AS n_corpus
         |           FROM e JOIN docs USING (vec_id) GROUP BY source),
         |sampled AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sampled
         |            FROM picks JOIN docs USING (vec_id) GROUP BY source),
         |joined AS (SELECT c.source, c.n_corpus, coalesce(s.n_sampled, 0) AS n_sampled
         |           FROM corpus c LEFT JOIN sampled s ON s.source = c.source),
         |totals AS (SELECT sum(n_corpus) AS tot_c, sum(n_sampled) AS tot_s FROM joined)
         |SELECT source, n_corpus, n_sampled,
         |       CAST((1000000 * n_corpus) // tot_c AS BIGINT) AS share_before_ppm,
         |       CAST((1000000 * n_sampled) // tot_s AS BIGINT) AS share_after_ppm
         |FROM joined, totals""".stripMargin,
    "x1_token_stats" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS mean_token_len,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS n_stopwords
        |FROM documents""".stripMargin,
    "x2_quality" ->
      """WITH t AS (SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              s -> list_contains(['the','a','of','and','to','in'], s))) AS BIGINT) AS n_stop,
        |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS mean_token_len
        |     FROM documents)
        |SELECT doc_id, n_tokens,
        |       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
        |       mean_token_len,
        |       CASE WHEN n_tokens >= 32 AND mean_token_len >= 2.0
        |                 AND mean_token_len <= 12.0 AND n_stop > 0
        |            THEN 1 ELSE 0 END AS quality_pass
        |FROM t""".stripMargin,
    "x39_gate_ablation" ->
      // identical gate expressions to x2; unique-fail = fails this gate
      // and no other; 3 literal rows from one aggregate
      """WITH t AS (SELECT
        |       CASE WHEN len(string_split(text, ' ')) < 32 THEN 1 ELSE 0 END AS f_len,
        |       CASE WHEN NOT (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |                        / len(string_split(text, ' ')) >= 2.0
        |                      AND CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |                        / len(string_split(text, ' ')) <= 12.0)
        |            THEN 1 ELSE 0 END AS f_shape,
        |       CASE WHEN NOT (len(list_filter(string_split(text, ' '),
        |              s -> list_contains(['the','a','of','and','to','in'], s))) > 0)
        |            THEN 1 ELSE 0 END AS f_stop
        |     FROM documents),
        |a AS (SELECT count(*) AS n_docs,
        |             sum((1 - f_len) * (1 - f_shape) * (1 - f_stop)) AS n_pass,
        |             sum(f_len) AS len_fail,
        |             sum(f_len * (1 - f_shape) * (1 - f_stop)) AS len_unique,
        |             sum(f_shape) AS shape_fail,
        |             sum(f_shape * (1 - f_len) * (1 - f_stop)) AS shape_unique,
        |             sum(f_stop) AS stop_fail,
        |             sum(f_stop * (1 - f_len) * (1 - f_shape)) AS stop_unique
        |      FROM t)
        |SELECT 'min_tokens' AS gate, CAST(len_fail AS BIGINT) AS n_fail,
        |       CAST(len_unique AS BIGINT) AS n_unique_fail,
        |       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_pass AS BIGINT) AS n_pass FROM a
        |UNION ALL
        |SELECT 'mean_token_len', CAST(shape_fail AS BIGINT),
        |       CAST(shape_unique AS BIGINT), CAST(n_docs AS BIGINT),
        |       CAST(n_pass AS BIGINT) FROM a
        |UNION ALL
        |SELECT 'has_stopword', CAST(stop_fail AS BIGINT),
        |       CAST(stop_unique AS BIGINT), CAST(n_docs AS BIGINT),
        |       CAST(n_pass AS BIGINT) FROM a""".stripMargin,
    "x40_vocab_coverage" ->
      // identical vocab selection: count desc, token asc, top 1000
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |vc AS (SELECT token FROM (
        |         SELECT token, row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rn
        |         FROM tk GROUP BY token)
        |       WHERE rn <= 1000)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN vc.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
        |       CAST((1000000 * sum(CASE WHEN vc.token IS NULL THEN 1 ELSE 0 END))
        |              // count(*) AS BIGINT) AS oov_ppm
        |FROM tk LEFT JOIN vc ON vc.token = tk.token
        |GROUP BY 1""".stripMargin,
    "x6_curation" ->
      """WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |t AS (SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              s -> list_contains(['the','a','of','and','to','in'], s))) AS BIGINT) AS n_stop,
        |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS mean_token_len
        |     FROM documents JOIN reps USING (doc_id))
        |SELECT doc_id, n_tokens,
        |       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
        |       mean_token_len,
        |       CASE WHEN n_tokens >= 32 AND mean_token_len >= 2.0
        |                 AND mean_token_len <= 12.0 AND n_stop > 0
        |            THEN 1 ELSE 0 END AS quality_pass
        |FROM t
        |WHERE n_tokens >= 32 AND mean_token_len >= 2.0
        |  AND mean_token_len <= 12.0 AND n_stop > 0""".stripMargin,
    "x7_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
        |  FROM tf JOIN df USING (term))
        |WHERE rank <= 5""".stripMargin,
    "x11_pack_sequences" ->
      // the packing prefix-sum is engine-shape-free: one global window
      // attests Spark's two-level distributed form exactly
      """WITH t AS (SELECT doc_id,
        |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |          FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |      CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |      FROM t)
        |SELECT doc_id, n_tokens, cum // 2048 AS seq_id, cum % 2048 AS seq_offset
        |FROM c""".stripMargin,
    "x42_packing_efficiency" ->
      """WITH t AS (SELECT doc_id,
        |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |          FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |      CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |      FROM t),
        |f AS (SELECT cum // 2048 AS seq_id, sum(n_tokens) AS fill FROM c GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_seqs,
        |       CAST(sum(fill) AS BIGINT) AS total_tokens,
        |       CAST(min(fill) AS BIGINT) AS fill_min,
        |       CAST(max(fill) AS BIGINT) AS fill_max,
        |       CAST((1000000 * sum(fill)) // (count(*) * 2048) AS BIGINT) AS fill_avg_ppm
        |FROM f""".stripMargin,
    "x13_repetition" -> {
      val p = graft.ops.Dedup.minhashPrime
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |sh AS (SELECT DISTINCT doc_id, sid FROM (
         |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+2]),
         |                                     (a, t) -> (a * 37 + t + 1) % $p)
         |                         for i in range(1, len(ids) - 1)]) AS sid
         |  FROM ids)),
         |dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd FROM sh GROUP BY 1),
         |tot AS (SELECT doc_id,
         |        GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT) - 2, 0) AS n_grams
         |        FROM documents)
         |SELECT t.doc_id, n_grams,
         |       COALESCE(nd, 0) AS n_distinct_grams,
         |       CASE WHEN n_grams > 0
         |            THEN 1 - CAST(COALESCE(nd, 0) AS DOUBLE) / n_grams
         |            ELSE 0.0 END AS rep_ratio
         |FROM tot t LEFT JOIN dc USING (doc_id)""".stripMargin
    },
    "x14_pii_redaction" ->
      s"""WITH seeded AS (SELECT doc_id,
         |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@' || source || '.net'
         |       || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
         |       || ' tel 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextOps.emailRe}', '<EMAIL>', 'g'),
         |    '${TextOps.ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.phoneRe}', '<PHONE>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(text, '${TextOps.emailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextOps.ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${TextOps.phoneRe}')) AS BIGINT) AS n_phones
         |FROM seeded""".stripMargin,
    "x15_temperature_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT lang, CAST(floor(sqrt(CAST(nmin AS DOUBLE) / n) * 1000000.0) AS BIGINT)
         |        AS keep_ppm FROM c, m)
         |SELECT d.doc_id, d.lang, r.keep_ppm
         |FROM documents d JOIN r USING (lang)
         |WHERE (((d.doc_id % ${TextOps.fingerprintMod})
         |        * (2654435761 % ${TextOps.fingerprintMod}))
         |        % ${TextOps.fingerprintMod}) % 1000000 < r.keep_ppm""".stripMargin,
    "x49_vocab_growth" ->
      s"""WITH $oracleTokCtes,
         |m AS (SELECT max(doc_id) AS max_id FROM documents),
         |fd AS (SELECT token_id, min(doc_id) AS first_doc FROM tid GROUP BY 1),
         |qs AS (SELECT unnest([1, 2, 3, 4]) AS q)
         |SELECT CAST(q * 25 AS BIGINT) AS pct,
         |       (SELECT CAST(count(*) AS BIGINT) FROM documents, m
         |        WHERE doc_id * 4 < (max_id + 1) * q) AS n_docs,
         |       (SELECT CAST(count(*) AS BIGINT) FROM tid, m
         |        WHERE doc_id * 4 < (max_id + 1) * q) AS n_tokens,
         |       (SELECT CAST(count(*) AS BIGINT) FROM fd, m
         |        WHERE first_doc * 4 < (max_id + 1) * q) AS n_types
         |FROM qs""".stripMargin,
    "x48_pps_sample" ->
      """WITH t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tot FROM documents),
        |p AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |             CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
        |      FROM documents)
        |SELECT doc_id, source, n_chars,
        |       CAST(((pre + n_chars) * 500) // tot - (pre * 500) // tot AS BIGINT) AS n_hits
        |FROM p, t
        |WHERE ((pre + n_chars) * 500) // tot - (pre * 500) // tot > 0""".stripMargin,
    "x17_upsample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT max(n) AS nmax FROM c),
        |r AS (SELECT lang, LEAST(4, CAST(ceil(sqrt(CAST(nmax AS DOUBLE) / n)) AS BIGINT)) AS reps
        |      FROM c, m)
        |SELECT d.doc_id, d.lang, CAST(u.e AS BIGINT) AS epoch
        |FROM documents d JOIN r USING (lang), UNNEST(range(1, r.reps + 1)) AS u(e)""".stripMargin,
    "x18_token_zipf" ->
      s"""WITH $oracleTokCtes,
         |o AS (SELECT token_id, CAST(count(*) AS BIGINT) AS occurrences FROM tid GROUP BY 1)
         |SELECT occurrences, CAST(count(*) AS BIGINT) AS n_tokens FROM o GROUP BY 1""".stripMargin,
    "x24_chunking" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, n,
        |             CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS n_chunks
        |      FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       CAST(i * 48 AS BIGINT) AS start_token,
        |       CAST(LEAST(64, n - i * 48) AS BIGINT) AS n_chunk_tokens
        |FROM (SELECT doc_id, n, unnest(range(0, n_chunks)) AS i FROM c)""".stripMargin,
    "x25_source_quality" ->
      """WITH t AS (SELECT doc_id, source,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS n_stopwords
        |FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(n_stopwords) AS DOUBLE) / sum(n_tokens) AS stopword_ratio,
        |       CAST(sum(n_distinct_tokens) AS DOUBLE) / sum(n_tokens) AS type_token_ratio
        |FROM t GROUP BY source""".stripMargin,
    "x23_quarantined_split" -> {
      val p = graft.ops.Dedup.minhashPrime
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |sh AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
         |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                                     (a, t) -> (a * 37 + t + 1) % $p)
         |                         for i in range(1, len(ids) - 3)]) AS sid
         |  FROM ids)),
         |src AS (SELECT doc_id, source, lang FROM documents),
         |bench AS (SELECT DISTINCT shingle_id FROM sh JOIN src USING (doc_id)
         |          WHERE source = 'src0'),
         |bad AS (SELECT DISTINCT s.doc_id
         |        FROM sh s JOIN src USING (doc_id) JOIN bench USING (shingle_id)
         |        WHERE source <> 'src0')
         |SELECT d.doc_id, d.lang,
         |       CASE WHEN bad.doc_id IS NOT NULL THEN 'quarantine'
         |            WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |             (((doc_id % ${TextOps.fingerprintMod})
         |               * (2654435761 % ${TextOps.fingerprintMod}))
         |               % ${TextOps.fingerprintMod}) % 100 AS h
         |      FROM documents WHERE source <> 'src0') d
         |LEFT JOIN bad ON bad.doc_id = d.doc_id""".stripMargin
    },
    "x46_vector_quarantined_split" ->
      // x22's split formula over the test subset; quarantine = s18's leak
      // screen (bucket candidates + exact cosine ≥ 0.4)
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
         |e AS (SELECT vec_id, [x / sqrt(list_dot_product(v0, v0)) for x in v0] AS v FROM e0),
         |bt AS (SELECT vec_id, ${oracleLshTableCols(4)} FROM e),
         |te AS (SELECT * FROM bt WHERE vec_id % 10 < 2),
         |tr AS (SELECT * FROM bt WHERE vec_id % 10 >= 2),
         |cand AS (SELECT DISTINCT te.vec_id AS test_id, tr.vec_id AS train_id
         |         FROM te JOIN tr ON (te.b0 = tr.b0 OR te.b1 = tr.b1
         |                             OR te.b2 = tr.b2 OR te.b3 = tr.b3)),
         |leaked AS (SELECT DISTINCT c.test_id AS doc_id
         |           FROM cand c
         |           JOIN e et ON et.vec_id = c.test_id
         |           JOIN e ev ON ev.vec_id = c.train_id
         |           WHERE list_dot_product(et.v, ev.v) >= 0.4)
         |SELECT d.doc_id, d.lang,
         |       CASE WHEN l.doc_id IS NOT NULL THEN 'quarantine'
         |            WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |             (((doc_id % ${TextOps.fingerprintMod})
         |               * (2654435761 % ${TextOps.fingerprintMod}))
         |               % ${TextOps.fingerprintMod}) % 100 AS h
         |      FROM documents WHERE doc_id % 10 < 2) d
         |LEFT JOIN leaked l ON l.doc_id = d.doc_id""".stripMargin,
    "x26_budget_sample" ->
      s"""WITH t AS (SELECT doc_id,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |                  ((doc_id % ${TextOps.fingerprintMod})
         |                   * (2654435761 % ${TextOps.fingerprintMod}))
         |                   % ${TextOps.fingerprintMod} AS skey
         |           FROM documents),
         |p AS (SELECT doc_id, n_tokens,
         |             CAST(coalesce(sum(n_tokens) OVER (ORDER BY skey, doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |               AS cum_tokens_before
         |      FROM t)
         |SELECT doc_id, n_tokens, cum_tokens_before
         |FROM p WHERE cum_tokens_before < 5000""".stripMargin,
    "x22_split_assignment" ->
      s"""SELECT doc_id, lang,
         |       CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |             (((doc_id % ${TextOps.fingerprintMod})
         |               * (2654435761 % ${TextOps.fingerprintMod}))
         |               % ${TextOps.fingerprintMod}) % 100 AS h
         |      FROM documents)""".stripMargin,
    "x54_training_manifest" ->
      // x20's layout as a CTE, then per-shard aggregates with the checksum
      // over the ORDER BY pos_in_shard doc_id sequence — both engines join
      // the same comma string before hashing
      s"""WITH k AS (SELECT doc_id,
         |       ((doc_id % ${TextOps.fingerprintMod}) * (2654435761 % ${TextOps.fingerprintMod}))
         |         % ${TextOps.fingerprintMod} AS shuffle_key
         |     FROM documents),
         |pos AS (SELECT doc_id, row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS p FROM k),
         |laid AS (SELECT doc_id, CAST(p // 100 AS BIGINT) AS shard,
         |                CAST(p % 100 AS BIGINT) AS pos_in_shard
         |         FROM pos),
         |toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |         FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       min(pos_in_shard) AS first_pos, max(pos_in_shard) AS last_pos,
         |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos_in_shard))
         |         AS content_md5
         |FROM laid JOIN toks USING (doc_id)
         |GROUP BY shard""".stripMargin,
    "x52_nested_subsets" ->
      // tier thresholds are the same floor-divided literals both engines
      // compare against the shared multiplicative-hash key
      s"""SELECT doc_id,
         |       CAST(h < ${TextOps.fingerprintMod / 8} AS INT) AS in_eighth,
         |       CAST(h < ${TextOps.fingerprintMod / 4} AS INT) AS in_quarter,
         |       CAST(h < ${TextOps.fingerprintMod / 2} AS INT) AS in_half
         |FROM (SELECT doc_id,
         |             ((doc_id % ${TextOps.fingerprintMod})
         |               * (2654435761 % ${TextOps.fingerprintMod}))
         |               % ${TextOps.fingerprintMod} AS h
         |      FROM documents)""".stripMargin,
    "x53_min_token_sweep" ->
      """WITH perdoc AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |               FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot_docs,
        |               CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM perdoc),
        |cuts AS (SELECT unnest([16, 32, 64, 128]) AS min_tokens),
        |per AS (SELECT c.min_tokens,
        |               CAST(count(p.n_tokens) AS BIGINT) AS n_docs,
        |               CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS kept_tokens
        |        FROM cuts c LEFT JOIN perdoc p ON p.n_tokens >= c.min_tokens
        |        GROUP BY c.min_tokens)
        |SELECT CAST(min_tokens AS BIGINT) AS min_tokens, n_docs, kept_tokens,
        |       CAST((1000000 * n_docs) // tot_docs AS BIGINT) AS docs_retained_ppm,
        |       CAST((1000000 * kept_tokens) // tot_tokens AS BIGINT) AS tokens_retained_ppm
        |FROM per, tot""".stripMargin,
    "x21_corpus_top_terms" ->
      """SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term
        |ORDER BY n_occurrences DESC, term ASC
        |LIMIT 25""".stripMargin,
    "x16_corpus_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin,
    "x28_token_novelty" ->
      s"""WITH $oracleTokCtes,
         |dt AS (SELECT DISTINCT doc_id, token_id FROM tid),
         |ft AS (SELECT token_id, min(doc_id) AS first_id FROM dt GROUP BY 1)
         |SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         |       CAST(sum(CASE WHEN ft.first_id = dt.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_new_tokens
         |FROM dt JOIN ft USING (token_id) GROUP BY 1""".stripMargin,
    "x19_ngram_novelty" -> {
      val p = graft.ops.Dedup.minhashPrime
      s"""WITH $oracleTokCtes,
         |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
         |sh AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
         |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
         |                                     (a, t) -> (a * 37 + t + 1) % $p)
         |                         for i in range(1, len(ids) - 3)]) AS sid
         |  FROM ids)),
         |fs AS (SELECT shingle_id, min(doc_id) AS first_id FROM sh GROUP BY 1)
         |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |         / count(*) AS novelty
         |FROM sh JOIN fs USING (shingle_id) GROUP BY sh.doc_id""".stripMargin
    },
    "x20_shard_layout" ->
      // same global row_number as the x12 oracle, then shard arithmetic
      s"""WITH k AS (SELECT doc_id,
         |       ((doc_id % ${TextOps.fingerprintMod}) * (2654435761 % ${TextOps.fingerprintMod}))
         |         % ${TextOps.fingerprintMod} AS shuffle_key
         |     FROM documents),
         |pos AS (SELECT doc_id, row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS p FROM k)
         |SELECT doc_id, CAST(p // 100 AS BIGINT) AS shard,
         |       CAST(p % 100 AS BIGINT) AS pos_in_shard
         |FROM pos""".stripMargin,
    "x12_global_shuffle" ->
      // one global row_number attests the bucketed prefix-count exactly
      s"""WITH k AS (SELECT doc_id,
         |       ((doc_id % ${TextOps.fingerprintMod}) * (2654435761 % ${TextOps.fingerprintMod}))
         |         % ${TextOps.fingerprintMod} AS shuffle_key
         |     FROM documents)
         |SELECT doc_id,
         |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS shuffle_pos
         |FROM k""".stripMargin,
    "x9_normalize" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                           ' +', ' ', 'g')) AS norm_text,
        |       CAST(length(text) AS BIGINT) AS n_chars_raw,
        |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                                       ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        |FROM documents""".stripMargin,
    "x10_curation_pipeline" ->
      // quality BEFORE the representative choice (rep = min doc_id among
      // the group's quality-PASSING members — gating after the rep pick
      // would lose a whole dup group when only its rep fails quality)
      s"""WITH q AS (SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |       CAST(len(list_filter(string_split(text, ' '),
         |              s -> list_contains(['the','a','of','and','to','in'], s))) AS BIGINT) AS n_stop,
         |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |         / len(string_split(text, ' ')) AS mean_token_len
         |     FROM documents),
         |base AS (SELECT d.doc_id, d.lang,
         |            trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'),
         |                                ' +', ' ', 'g')) AS nt
         |         FROM documents d JOIN q USING (doc_id)
         |         WHERE q.n_tokens >= 32 AND q.mean_token_len >= 2.0
         |           AND q.mean_token_len <= 12.0 AND q.n_stop > 0),
         |reps AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY nt),
         |surv AS (SELECT b.doc_id, b.lang FROM base b JOIN reps USING (doc_id))
         |SELECT doc_id, lang AS stratum, CAST(rank AS BIGINT) AS sample_rank FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY (doc_id % 2147483647) * ${2654435761L % 2147483647L} % 2147483647 ASC,
         |             doc_id ASC) AS rank
         |  FROM surv)
         |WHERE rank <= 50""".stripMargin,
    "x8_stratified_sample" ->
      // the oracle states the NAIVE single-window form; Spark's two-phase
      // plan must produce the identical sample
      s"""SELECT doc_id, lang AS stratum, CAST(rank AS BIGINT) AS sample_rank FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY (doc_id % 2147483647) * ${2654435761L % 2147483647L} % 2147483647 ASC,
         |             doc_id ASC) AS rank
         |  FROM documents)
         |WHERE rank <= 50""".stripMargin,
    "x3_langid" -> oracleLangid,
    "x4_fingerprint" ->
      // per-term mod keeps every term < 2^31 so the sum stays in int64 —
      // mirrors TextOps.fingerprint exactly (see its scaladoc)
      s"""WITH $oracleTokCtes
         |SELECT doc_id,
         |       CAST(CAST(sum(((token_id + 1) % 2147483647) * ((pos + 1) % 2147483647) % 2147483647) AS BIGINT)
         |            % 2147483647 AS BIGINT) AS fingerprint,
         |       CAST(count(*) AS BIGINT) AS n_tokens
         |FROM tid GROUP BY doc_id""".stripMargin,
    "x34_winnowing" ->
      // positional k=5 gram hashes (same fold as the d2 oracle, pre-
      // DISTINCT), min per complete w=4 window, distinct per doc; docs
      // without a complete window emit no row
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
         |sel AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE p <= m - 4)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
         |       CAST(sum(fp) % 2147483647 AS BIGINT) AS fp_checksum
         |FROM sel GROUP BY doc_id""".stripMargin,
    "x5_regex_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS n_distinct_alpha,
        |       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha_chars
        |FROM documents""".stripMargin,
    "x43_source_drift" ->
      // same vocab rule as x40; vocab tokens absent from a source
      // contribute their full corpus mass via the grid LEFT join
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS n FROM tk),
        |vc AS (SELECT token, CAST((1000000 * c) // (SELECT n FROM tot) AS BIGINT) AS corpus_ppm
        |       FROM (SELECT token, count(*) AS c,
        |                    row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rn
        |             FROM tk GROUP BY token)
        |       WHERE rn <= 1000),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
        |sc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cs
        |       FROM tk JOIN vc USING (token) GROUP BY 1, 2),
        |grid AS (SELECT st.source, st.n_tokens, vc.token, vc.corpus_ppm,
        |                CAST((1000000 * coalesce(sc.cs, 0)) // st.n_tokens AS BIGINT) AS src_ppm
        |         FROM st CROSS JOIN vc
        |         LEFT JOIN sc ON sc.source = st.source AND sc.token = vc.token)
        |SELECT source, CAST(min(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(sum(abs(src_ppm - corpus_ppm)) AS BIGINT) AS drift_ppm_l1
        |FROM grid GROUP BY 1""".stripMargin,
    "x47_pipeline_waterfall" ->
      // the same stage rules as x6/x8/x10: exact rep = min doc per text,
      // x2's quality predicate, the multiplicative-hash quota sample
      s"""WITH tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |ex AS (SELECT d.* FROM documents d JOIN reps USING (doc_id)),
         |q AS (SELECT * FROM ex
         |      WHERE len(string_split(text, ' ')) >= 32
         |        AND CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |              / len(string_split(text, ' ')) >= 2.0
         |        AND CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |              / len(string_split(text, ' ')) <= 12.0
         |        AND len(list_filter(string_split(text, ' '),
         |              s -> list_contains(['the','a','of','and','to','in'], s))) > 0),
         |samp AS (SELECT doc_id FROM (
         |           SELECT doc_id, row_number() OVER (PARTITION BY lang
         |             ORDER BY ((doc_id % ${TextOps.fingerprintMod})
         |                       * (2654435761 % ${TextOps.fingerprintMod}))
         |                       % ${TextOps.fingerprintMod} ASC, doc_id ASC) AS rn
         |           FROM q) WHERE rn <= 50),
         |sq AS (SELECT q.* FROM q JOIN samp USING (doc_id))
         |SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens
         |FROM documents JOIN tk USING (doc_id)
         |UNION ALL
         |SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(sum(n), 0) AS BIGINT)
         |FROM ex JOIN tk USING (doc_id)
         |UNION ALL
         |SELECT 3, 'quality_gate', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(sum(n), 0) AS BIGINT)
         |FROM q JOIN tk USING (doc_id)
         |UNION ALL
         |SELECT 4, 'lang_quota_sample', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(sum(n), 0) AS BIGINT)
         |FROM sq JOIN tk USING (doc_id)""".stripMargin,
    "x41_dedup_savings" ->
      """WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |tk AS (SELECT d.doc_id, d.source,
        |              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |              CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS keep
        |       FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id)
        |SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_raw,
        |       CAST(sum(keep * n_tokens) AS BIGINT) AS tokens_kept,
        |       CAST((1000000 * (sum(n_tokens) - sum(keep * n_tokens)))
        |              // sum(n_tokens) AS BIGINT) AS saved_ppm
        |FROM tk GROUP BY 1""".stripMargin
  )
}
