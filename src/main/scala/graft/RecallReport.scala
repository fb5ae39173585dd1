package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{abs, avg, col, when}

import graft.ops.{AnnSpec, Vectors}
import graft.ops.AnnSpec._

/** Recall report for the ANN surface: measure recall@k of every approximate
  * variant against the brute-force ground truth on the fixture embeddings,
  * and write one small JSON artifact (`RECALL.json`, committed per round) so
  * retrieval-quality drift across rounds is visible — the correctness gate
  * attests *determinism* of these queries, not their retrieval quality, and
  * a silent recall regression (e.g. a centroid-training change) would
  * otherwise pass every hash.
  *
  * Round-5 shape (round-4 verdict "next" #1 + #7): k = 10 at sf0.1, with
  * four sections in one artifact:
  *   - `defaults`: the PRODUCTION operating points the library ships —
  *     [[AnnSpec.Production]] (SQ8 scan + re-rank), tuned trained-centroid
  *     IVF ([[Vectors.tunedNprobe]]), trained PQ re-rank, trained IVF-PQ.
  *     These are the ≥ 0.8-recall flagship rows.
  *   - `parity`: the oracle-hashable spaced-deterministic forms the
  *     s-series queries run (multi-probe / re-rank defaults, round 5).
  *   - `diagnostics`: the round-4 single-probe / ADC-only points, kept so
  *     the default-vs-diagnostic gap stays on the record.
  *   - `curves`: the tuning sweeps (nprobe spaced+trained, re-rank
  *     shortlist, beam width) — the s23/s26-style tables folded in.
  * Plus an `isotropy` block: this corpus measures as isotropic (same-label
  * and cross-label mean cosine both ≈ 0, true top-10 neighbors share the
  * query's label at chance rate), which is WHY bucket-pruned recall here
  * caps near the scan fraction and the compressed-scan + re-rank default
  * ([[AnnSpec.Production]]) is the geometry-robust choice.
  *
  * Everything here is seeded/deterministic, so the numbers are replayable:
  * same data + same code ⇒ same artifact.
  */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "RECALL.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.session("graft-recall", s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, sfDir).persist()
    val n = emb.count()
    val k = 10
    val queries = 0L until 16L

    def hits(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

    def ann(spec: AnnSpec): DataFrame = Vectors.topK(emb, Left(queries), k, spec)
    val exact = hits(ann(AnnSpec()))
    val spacedIds = Vectors.spacedCentroidIds(n)
    val trained = Vectors.trainedCentroids(emb, c = spacedIds.size)
    val unit = Vectors.withUnit(emb).select(col("vec_id"), col("unit")).persist()
    val trainedPq = Vectors.trainedPqCodebooks(emb, m = 16, ks = 64)

    def measure(variants: Seq[(String, () => DataFrame)]): Seq[(String, Double)] =
      variants.map { case (name, fn) =>
        val r = hits(fn()).intersect(exact).size.toDouble / exact.size
        spark.sqlContext.clearCache()
        emb.persist(); unit.persist() // keep shared inputs cached across variants
        System.err.println(f"[recall] $name%-26s recall@$k = $r%.4f")
        name -> r
      }

    // ---- corpus geometry: why pruned recall saturates here ----
    val labeled = Vectors.withUnit(emb).select(col("vec_id"), col("label"), col("unit"))
    val pairSample = labeled.filter(col("vec_id") < 200).persist()
    val simStats = pairSample.select(col("vec_id").as("ida"), col("label").as("la"),
        col("unit").as("ua"))
      .join(pairSample.select(col("vec_id").as("idb"), col("label").as("lb"),
        col("unit").as("ub")), col("ida") < col("idb"))
      .select(Vectors.dot(col("ua"), col("ub")).as("s"), (col("la") === col("lb")).as("same"))
      .agg(avg(abs(col("s"))).as("mean_abs_cos"),
        avg(when(col("same"), col("s"))).as("same_label_mean_cos"),
        avg(when(!col("same"), col("s"))).as("cross_label_mean_cos"))
      .head()
    val labels = labeled.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sameLabelFrac =
      exact.count { case (q, nb) => labels(q) == labels(nb) }.toDouble / exact.size

    // ---- the production defaults (flagship rows; target ≥ 0.8) ----
    val tuned = Vectors.tunedNprobe(emb, trained, queries, k, target = 0.9)
    val defaults = measure(Seq(
      "ann_default_sq8_rr40" -> (() => ann(Production)),
      s"ivf_trained_tuned_mp$tuned" -> (() => ann(AnnSpec(IvfTrained(trained), Nearest(tuned)))),
      "pq_trained_m16ks64_rr80" -> (() =>
        ann(AnnSpec(score = PqCodebook(16, trainedPq), refine = Rerank(80)))),
      s"ivfpq_trained_mp${tuned}_rr80" -> (() =>
        ann(AnnSpec(IvfTrained(trained), Nearest(tuned), PqCodebook(16, trainedPq), Rerank(80)))),
      "quantized8bit" -> (() => ann(AnnSpec(score = Sq8))),
      // the round-6 navigable-graph rebuild: shipped walk (beam 32, 4
      // rounds over navGraph k=24/nAssign=3) must sit above the tuned-IVF
      // point (round-5 verdict #1's done-condition)
      "graph_beam32_r4" -> (() => Vectors.beamSearch(emb, queries,
        entryIds = spacedIds, k = k, beam = 32, rounds = 4))
    ))

    // ---- the oracle-hashable shipped forms (what s2/s3/s6/s9/s11 run) ----
    val parity = measure(Seq(
      "s2_ivf_spaced_mp4" -> (() => ann(AnnSpec(Ivf(spacedIds), Nearest(4)))),
      "s4_ivf_spaced_mp8" -> (() => ann(AnnSpec(Ivf(spacedIds), Nearest(8)))),
      "s3_lsh_multiprobe" -> (() => ann(AnnSpec(Lsh(), Hamming1))),
      "s5_lsh_multitable4" -> (() => ann(AnnSpec(LshTables()))),
      "s6_twolevel_mp4" -> (() =>
        ann(AnnSpec(IvfTwoLevel(spacedIds, Vectors.coarseSubset(spacedIds)), Nearest(4)))),
      "s9_pq_m16ks64_rr80" -> (() => ann(AnnSpec(score = Pq(16, 64), refine = Rerank(80)))),
      "s11_ivfpq_mp4_rr40" -> (() =>
        ann(AnnSpec(Ivf(spacedIds), Nearest(4), Pq(16, 64), Rerank(40)))),
      "s12_pq_m8ks16_rr40" -> (() => ann(AnnSpec(score = Pq(), refine = Rerank(40)))),
      "jl_rerank40" -> (() => ann(AnnSpec(score = Jl(16), refine = Rerank(40))))
    ))

    // ---- round-4 single-probe / ADC-only points (the closed gap) ----
    val diagnostics = measure(Seq(
      "ivf_single_probe" -> (() => ann(AnnSpec(Ivf(spacedIds)))),
      "ivf_trained_single" -> (() => ann(AnnSpec(IvfTrained(trained)))),
      "twolevel_single" -> (() =>
        ann(AnnSpec(IvfTwoLevel(spacedIds, Vectors.coarseSubset(spacedIds))))),
      "lsh_single_bucket" -> (() => ann(AnnSpec(Lsh()))),
      "pq_adc_only_m8ks16" -> (() => ann(AnnSpec(score = Pq(8, 16)))),
      "ivfpq_single_norerank" -> (() => ann(AnnSpec(Ivf(spacedIds), score = Pq())))
    ))

    // ---- tuning curves (s23/s26-style sweeps, one artifact per round) ----
    val nprobes = Seq(1, 2, 4, 8, 16, 32)
    val curveIvf = measure(nprobes.map(p =>
      s"nprobe_$p" -> (() => ann(AnnSpec(Ivf(spacedIds), Nearest(p))))))
    val curveIvfTrained = measure(nprobes.map(p =>
      s"nprobe_$p" -> (() => ann(AnnSpec(IvfTrained(trained), Nearest(p))))))
    val curveRerank = measure(Seq(20, 40, 80, 160).map(l =>
      s"shortlist_$l" -> (() => ann(AnnSpec(score = Pq(16, 64), refine = Rerank(l))))))
    val curveBeam = measure(Seq(8, 16, 32, 64).map(b =>
      s"beam_$b" -> (() => Vectors.beamSearch(emb, queries, entryIds = spacedIds,
        k = k, beam = b, rounds = 4))))

    // ---- CDC quality (round 6): the navigable graph's append path is
    // HNSW insert-by-search — a DIFFERENT approximation than the bucket
    // rebuild (appendToNavGraph's scaladoc states why hash-equality is
    // the wrong contract) — so its serve quality is MEASURED instead:
    // build on the first 3/4 of the corpus, append the rest in two
    // batches, and read recall@k from the appended graph next to the
    // full-rebuild point (defaults.graph_beam32_r4). Queries are the
    // shared 0..15 (all in the initial portion).
    val navAppendRecall = {
      val table = "recall_nav_append"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_centroids")
      val cutId = n * 3 / 4
      val entries = Vectors.spacedCentroidIds(cutId)
      // spaced PARITY build, pinned explicitly (round 7 flipped the
      // artifact default to trained): the comparator row
      // defaults.graph_beam32_r4 is the spaced inline walk, so the
      // append-vs-rebuild delta must isolate the APPEND approximation,
      // not a centroid-recipe change
      Vectors.materializedNavGraph(emb.filter(col("vec_id") < cutId), table,
        centroidIds = Some(entries))
      Vectors.appendToNavGraph(emb.filter(col("vec_id") >= cutId &&
        col("vec_id") % 2 === 0), emb, table, entries)
      Vectors.appendToNavGraph(emb.filter(col("vec_id") >= cutId &&
        col("vec_id") % 2 === 1), emb, table, entries)
      val r = hits(Vectors.beamSearchServed(emb, spark.table(table), queries,
        entries, k = k, beam = 32, rounds = 4)).intersect(exact).size.toDouble /
        exact.size
      spark.sqlContext.clearCache(); emb.persist(); unit.persist()
      System.err.println(f"[recall] nav_append_beam32_r4      recall@$k = $r%.4f")
      r
    }

    // mining-quality table (round-5 verdict #2): how much of the EXACT
    // margin-mined pair set each scale path recovers (threshold 0 ⇒ all
    // forward-top-1 pairs compared), charted against its candidate volume.
    // The bucketed sign-hash configs trace the data-bound ceiling on this
    // isotropic corpus (recovery tracks candidate fraction — the same
    // geometry that caps bucket-pruned ANN recall at scan fraction); the
    // SQ8 compressed-scan path (marginPairsScan, the shipped scale default,
    // s32) keeps recovery ≈ 1.0 at 1/8 scan bandwidth because no pair is
    // pruned unseen.
    val (marginCurve, miningOverlap, scanOverlap) = {
      val test = emb.filter(col("vec_id") % 10 < 2)
      val train = emb.filter(col("vec_id") % 10 >= 2)
      val nPairsTotal = test.count() * train.count()
      def pairsOf(df: DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"))).toSet
      val exactP = pairsOf(Vectors.marginPairs(test, train, marginPpmThreshold = 0L))
      // a fixture with zero forward-top-1 pairs would write NaN into the
      // committed artifact — fail loudly instead (round-5 ADVICE)
      require(exactP.nonEmpty, "miningOverlap: exact margin pair set is empty")
      def clear(): Unit = { spark.sqlContext.clearCache(); emb.persist(); unit.persist() }
      val bucketConfigs = Seq((4, 1), (8, 1), (4, 2), (8, 2))
      val blindCurve = bucketConfigs.map { case (t, r) =>
        val cand = Vectors.marginBucketedCandidates(test, train,
          nTables = t, probeRadius = r).count()
        val got = pairsOf(Vectors.marginPairsBucketed(test, train,
          marginPpmThreshold = 0L, nTables = t, probeRadius = r))
        clear()
        val overlap = got.intersect(exactP).size.toDouble / exactP.size
        val frac = cand.toDouble / nPairsTotal
        System.err.println(
          f"[recall] margin_bucketed_t${t}_p$r     overlap = $overlap%.4f  cand_frac = $frac%.4f")
        (s"t${t}_p$r", overlap, frac)
      }
      // query-DIRECTED orthonormal-plane probing (round-12 verdict #3):
      // same table count, probe budget spent on the flip masks ranked by
      // the query's own plane margins — the default point (T=24) is the
      // shipped bucketed operating point and must clear 0.7 overlap at
      // ≤ 0.30 candidate fraction on this isotropic corpus
      val directedConfigs = Seq((4, 12), (4, 24), (4, 32))
      val directedCurve = directedConfigs.map { case (t, pr) =>
        val cand = Vectors.marginDirectedCandidates(test, train,
          nTables = t, probes = pr).count()
        val got = pairsOf(Vectors.marginPairsDirected(test, train,
          marginPpmThreshold = 0L, nTables = t, probes = pr))
        clear()
        val overlap = got.intersect(exactP).size.toDouble / exactP.size
        val frac = cand.toDouble / nPairsTotal
        System.err.println(
          f"[recall] margin_directed_t${t}_q$pr    overlap = $overlap%.4f  cand_frac = $frac%.4f")
        (s"t${t}_q$pr", overlap, frac)
      }
      val curve = blindCurve ++ directedCurve
      val scanP = pairsOf(Vectors.marginPairsScan(test, train, marginPpmThreshold = 0L))
      clear()
      val scanOv = scanP.intersect(exactP).size.toDouble / exactP.size
      System.err.println(f"[recall] margin_scan_sq8_sl8       overlap = $scanOv%.4f")
      // margin_bucketed_overlap reports the shipped DEFAULT bucketed
      // point, which since round 13 is the directed t4/T24 config
      val defaultDirected = directedCurve.find(_._1 == "t4_q24").map(_._2)
        .getOrElse(directedCurve.head._2)
      (curve, defaultDirected, scanOv)
    }

    // ---- clustered-geometry twin (round 6): the isotropy block explains
    // why bucket-pruned recall caps at scan fraction HERE; this section
    // MEASURES the converse claim — on a corpus whose geometry has real
    // cluster structure, routing prunes aggressively at high recall. The
    // corpus is deterministic (16 one-hot-anchored clusters, integer-hash
    // noise — no RNG): same code, same artifact, every run.
    val clusteredSection = {
      import spark.implicits._
      val nC = 2000L
      val rows = (0L until nC).map { i =>
        val label = (i % 16L).toInt
        val v = new Array[Float](64)
        v(4 * label) = 1.0f
        var j = 0
        while (j < 64) {
          val h = java.lang.Long.rotateLeft(
            (i * 64 + j) * 0x9E3779B97F4A7C15L, 31) * 0xBF58476D1CE4E5B9L
          v(j) += (((h >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 0.3).toFloat
          j += 1
        }
        (i, v, label)
      }
      val cl = rows.toDF("vec_id", "embedding", "label").persist()
      val cQueries = 0L until 16L
      def cAnn(spec: AnnSpec): DataFrame = Vectors.topK(cl, Left(cQueries), k, spec)
      val cExact = hits(cAnn(AnnSpec()))
      def rec(df: DataFrame): Double =
        hits(df).intersect(cExact).size.toDouble / cExact.size
      val cSpaced = Vectors.spacedCentroidIds(nC)
      // maxmin init: spaced init resonates with the id-correlated label
      // cycle here (seeds in 4 of 16 clusters, Lloyd only partially
      // recovers) — farthest-point covers every region by construction,
      // the robust trainer choice when the id layout is unknown
      val cTrained = Vectors.trainedCentroids(cl, c = cSpaced.size, init = "maxmin")
      val cTuned = Vectors.tunedNprobe(cl, cTrained, cQueries, k, target = 0.9)
      val entries = Seq(
        s"ivf_trained_tuned_mp$cTuned" ->
          rec(cAnn(AnnSpec(IvfTrained(cTrained), Nearest(cTuned)))),
        // round-8: the DISTRIBUTED trainer (the auto-dispatch branch past
        // C = 2 048, forced on here) at the same probe count — its batched
        // farthest-point init + Spark-job Lloyd must hold the driver
        // trainer's routing quality on the geometry where training matters.
        // Deliberately the PRODUCTION mode, not exactOrder (which is
        // bit-equal to the driver row and would measure nothing new), so
        // this row is deterministic only up to float-summation order:
        // stable on the same harness, may shift in the last recall quantum
        // (1/160) if shuffle-merge order changes across environments
        s"ivf_dist_trained_mp$cTuned" -> rec(cAnn(AnnSpec(
          IvfTrained(Vectors.trainedCentroidsDistributed(cl, c = cSpaced.size)),
          Nearest(cTuned)))),
        "ivf_spaced_mp4" -> rec(cAnn(AnnSpec(Ivf(cSpaced), Nearest(4)))),
        "lsh_multiprobe" -> rec(cAnn(AnnSpec(Lsh(), Hamming1))),
        // spaced seeds resonate with the id-correlated label cycle here
        // (stride 44 hits only labels ≡ 0 mod 4): the honest failure row —
        // and the trained-centroid seam (the IVF discipline applied to the
        // graph build) next to it
        "graph_beam32_r4" -> rec(Vectors.beamSearch(cl, cQueries, cSpaced,
          k = k, beam = 32, rounds = 4)),
        "graph_trained_beam32_r4" -> rec(Vectors.beamSearchServed(cl,
          Vectors.navGraphTrained(cl, cTrained), cQueries, cSpaced,
          k = k, beam = 32, rounds = 4)),
        // …and the repair: same trained graph, but a COVERAGE-guaranteed
        // entry set (one representative per assignment bucket) — the
        // binding failure was never the graph, it was entries missing
        // 12 of the 16 islands. Round 7: this row now reads through the
        // PERSISTED artifact path — materializedNavGraph's trained
        // default + the centroid ledger's recorded entry reps — so the
        // number attests the production lifecycle end-to-end, not an
        // inline twin of it
        "graph_trained_cover_beam32_r4" -> {
          spark.sql("DROP TABLE IF EXISTS recall_nav_clustered")
          spark.sql("DROP TABLE IF EXISTS recall_nav_clustered_centroids")
          rec(Vectors.beamSearchServed(cl,
            Vectors.materializedNavGraph(cl, "recall_nav_clustered"), cQueries,
            Vectors.ledgerEntryIds(spark, "recall_nav_clustered"),
            k = k, beam = 32, rounds = 4))
        },
        "ann_default_sq8_rr40" -> rec(cAnn(Production)))
      entries.foreach { case (n, r) =>
        System.err.println(f"[recall] clustered/$n%-24s recall@$k = $r%.4f")
      }
      val labeledC = Vectors.withUnit(cl).select(col("vec_id"), col("label"), col("unit"))
        .filter(col("vec_id") < 200).persist()
      val cStats = labeledC.select(col("vec_id").as("ida"), col("label").as("la"),
          col("unit").as("ua"))
        .join(labeledC.select(col("vec_id").as("idb"), col("label").as("lb"),
          col("unit").as("ub")), col("ida") < col("idb"))
        .select(Vectors.dot(col("ua"), col("ub")).as("s"), (col("la") === col("lb")).as("same"))
        .agg(avg(when(col("same"), col("s"))).as("same_label_mean_cos"),
          avg(when(!col("same"), col("s"))).as("cross_label_mean_cos"))
        .head()
      System.err.println(f"[recall] clustered tuned_nprobe_t90 = $cTuned " +
        f"(scan fraction ${cTuned.toDouble / cSpaced.size}%.3f of ${cSpaced.size} buckets)")
      // geometry-gated margin mining (round-7 verdict #5): on THIS
      // clustered geometry the IVF-routed candidate generator must recover
      // ≥ 0.9 of the exact forward-top-1 pair set at a SUB-linear candidate
      // fraction (the gate's whole value proposition — the isotropic
      // corpus's margin_overlap_curve shows why routing is not default)
      val (routedOverlap, routedFrac, cGateP99, routedOverlapT, routedFracT) = {
        val cTest = cl.filter(col("vec_id") % 10 < 2)
        val cTrain = cl.filter(col("vec_id") % 10 >= 2)
        def pairsOf(df: DataFrame): Set[(Long, Long)] = df.collect()
          .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"))).toSet
        val exactP = pairsOf(Vectors.marginPairs(cTest, cTrain, marginPpmThreshold = 0L))
        require(exactP.nonEmpty, "clustered margin: exact pair set is empty")
        def point(np: Int): (Double, Double) = {
          val got = pairsOf(Vectors.marginPairsRouted(cTest, cTrain,
            marginPpmThreshold = 0L, nprobe = np))
          val cand = Vectors.marginRoutedCandidates(cTest, cTrain, nprobe = np).count()
          spark.sqlContext.clearCache(); emb.persist(); unit.persist(); cl.persist()
          (got.intersect(exactP).size.toDouble / exactP.size,
            cand.toDouble / (cTest.count() * cTrain.count()))
        }
        // default ⌈C/8⌉ (the isotropic-safe constant fraction) AND the
        // tuned fixed nprobe = 2 — on clustered geometry a FIXED probe
        // count suffices (tuned_nprobe_t90 = 1 above), and fixed nprobe
        // over C = ⌈√N⌉ buckets makes routed candidates N^1.5, genuinely
        // sub-quadratic in the pair grid, not just a constant-factor cut
        val (ov, frac) = point(0)
        val (ovT, fracT) = point(2)
        val p99 = Vectors.pairConcentrationP99(cl)
        spark.sqlContext.clearCache(); emb.persist(); unit.persist(); cl.persist()
        System.err.println(f"[recall] clustered margin_routed    overlap = $ov%.4f  " +
          f"cand_frac = $frac%.4f  (nprobe=2: $ovT%.4f @ $fracT%.4f)  " +
          f"gate_p99 = $p99%.4f (gate ${Vectors.concentrationGate(cl)}%.4f)")
        (ov, frac, p99, ovT, fracT)
      }
      val body = entries.map { case (n, r) => f""""$n":$r%.6f""" }.mkString(",")
      spark.sqlContext.clearCache(); emb.persist(); unit.persist()
      f""""clustered":{"n_vectors":$nC,"n_clusters":16,""" +
        f""""same_label_mean_cos":${cStats.getDouble(0)}%.6f,""" +
        f""""cross_label_mean_cos":${cStats.getDouble(1)}%.6f,""" +
        f""""pair_p99":$cGateP99%.6f,""" +
        f""""margin_routed":{"overlap":$routedOverlap%.6f,"cand_frac":$routedFrac%.6f},""" +
        f""""margin_routed_np2":{"overlap":$routedOverlapT%.6f,"cand_frac":$routedFracT%.6f},""" +
        f""""tuned_nprobe_t90":$cTuned,"n_centroids":${cSpaced.size},""" +
        f""""tuned_scan_frac":${cTuned.toDouble / cSpaced.size}%.6f,$body}"""
    }

    def obj(rows: Seq[(String, Double)]): String =
      rows.map { case (name, r) => f""""$name":$r%.6f""" }.mkString("{", ",", "}")

    val json =
      s"""{"sf":"$sfDir","n_vectors":$n,"k":$k,"n_queries":${queries.size},""" +
        s""""n_centroids":${spacedIds.size},"tuned_nprobe_t90":$tuned,""" +
        f""""isotropy":{"mean_abs_cos":${simStats.getDouble(0)}%.6f,""" +
        f""""same_label_mean_cos":${simStats.getDouble(1)}%.6f,""" +
        f""""cross_label_mean_cos":${simStats.getDouble(2)}%.6f,""" +
        f""""pair_p99":${Vectors.pairConcentrationP99(emb)}%.6f,""" +
        f""""gate":${Vectors.concentrationGate(emb)}%.6f,""" +
        f""""top${k}_same_label_frac":$sameLabelFrac%.6f},""" +
        f""""margin_bucketed_overlap":$miningOverlap%.6f,""" +
        f""""margin_scan_overlap":$scanOverlap%.6f,""" +
        s""""margin_overlap_curve":${marginCurve.map { case (name, ov, fr) =>
          f""""$name":{"overlap":$ov%.6f,"cand_frac":$fr%.6f}""" }
          .mkString("{", ",", "}")},""" +
        s""""defaults":${obj(defaults)},""" +
        s""""parity":${obj(parity)},""" +
        s""""diagnostics":${obj(diagnostics)},""" +
        s""""curves":{"ivf_nprobe":${obj(curveIvf)},""" +
        s""""ivf_trained_nprobe":${obj(curveIvfTrained)},""" +
        s""""pq_rerank_shortlist":${obj(curveRerank)},""" +
        s""""beam_width":${obj(curveBeam)}},""" +
        f""""nav_append":{"appended_frac":0.25,""" +
        f""""recall_appended":$navAppendRecall%.6f,""" +
        s""""recall_rebuilt":${defaults.find(_._1 == "graph_beam32_r4")
          .map(d => f"${d._2}%.6f").getOrElse("null")}},""" +
        s"""$clusteredSection}"""
    Files.writeString(Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
