package graft.ops

import graft.SparkSpec

class VectorsSpec extends SparkSpec {
  import spark.implicits._
  import AnnSpec._

  private val emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("crossCorpusTopK: every test vector ranked against bucket-mates only, exact order") {
    val test = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)),
      (4L, Array(0.98f, 0.02f, 0.0f))).toDF("vec_id", "embedding")
    val out = Vectors.topK(train, Right(test), 2, AnnSpec(LshTables(dim = 3))).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      }
    // query 0's bucket-mates include its near-clones: identical 3 first,
    // then 2 (0.99 beats 0.98)
    assert(out(0L) === Seq(3L, 2L))
  }

  test("vectorHealth: nulls, zero norms, non-finite, and mixed dims all surface") {
    val rows = Seq(
      (0L, Array(3.0f, 4.0f)),             // norm 5
      (1L, Array(0.0f, 0.0f)),             // zero norm
      (2L, Array(Float.NaN, 1.0f)),        // non-finite
      (3L, Array(1.0f, 0.0f, 0.0f))        // off-dimension
    ).toDF("vec_id", "embedding")
      .unionByName(Seq((4L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    val out = Vectors.vectorHealth(rows).collect().head
    assert(out.getAs[Long]("n_vectors") === 5L)
    assert(out.getAs[Long]("n_distinct_dims") === 2L) // 2 and 3
    assert(out.getAs[Long]("n_null") === 1L)
    assert(out.getAs[Long]("n_zero_norm") === 1L)
    assert(out.getAs[Long]("n_non_finite") === 1L)
    assert(out.getAs[Long]("min_norm_ppb") === 1000000000L) // unit vector id 3
    assert(out.getAs[Long]("max_norm_ppb") === 5000000000L) // norm 5
  }

  test("beamSearch: walks the graph to neighbors the entry set doesn't contain") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val entries = Vectors.spacedCentroidIds(emb.count())
    val out = Vectors.beamSearch(emb, queryIds = Seq(0L, 1L),
      entryIds = entries, k = 5, beam = 8, rounds = 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank")))
    // exactly k ranked rows per query, ranks dense from 1
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L))
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq === (1L to 5L))
    }
    // the walk must reach beyond the centroid entry set (otherwise it's
    // just a rerank of the entries): at least one result is a non-entry
    val entrySet = entries.toSet
    assert(out.exists(r => !entrySet.contains(r._2)), out.mkString(", "))
    // never returns the query itself
    assert(out.forall(r => r._1 != r._2))
  }

  test("knnConfusion: diagonal for clean clusters, off-diagonal names the mislabel") {
    // two tight clusters; id 3 sits in cluster A but carries label 1 —
    // leave-one-out must classify it 0, producing exactly one (1,0) cell
    val emb = Seq(
      (0L, Array(1.0f, 0.01f), 0), (1L, Array(1.0f, 0.02f), 0),
      (2L, Array(1.0f, 0.03f), 0), (3L, Array(1.0f, 0.04f), 1),
      (4L, Array(0.01f, 1.0f), 1), (5L, Array(0.02f, 1.0f), 1),
      (6L, Array(0.03f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Vectors.knnConfusion(emb, 0L until 7L, k = 3).collect()
      .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")) ->
        r.getAs[Long]("n_queries")).toMap
    assert(out === Map((0, 0) -> 3L, (1, 0) -> 1L, (1, 1) -> 3L))
  }

  test("beamSweep: recall monotone in beam width; one row per width; ppm exact") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val entries = Vectors.spacedCentroidIds(emb.count())
    val qs = 0L until 8L
    val out = Vectors.beamSweep(emb, qs, entries, k = 5,
      beams = Seq(2, 4, 8, 16), rounds = 3).collect()
      .map(r => r.getAs[Long]("beam") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm")))).toMap
    assert(out.keySet === Set(2L, 4L, 8L, 16L))
    // monotone on this fixture (not a theorem — pruning can in principle
    // evict a narrow-beam hit; deterministic data makes this pin stable)
    val byBeam = Seq(2L, 4L, 8L, 16L).map(out(_)._1)
    assert(byBeam === byBeam.sorted, out.toString)
    // ppm is exactly hits·10⁶ div (k·|queries|)
    out.values.foreach { case (hits, ppm) =>
      assert(ppm === hits * 1000000L / (5L * qs.size))
    }
    // EVERY width must match the single-width operator's hit count — the
    // fused walk (beam as a state column) is an optimization, not a
    // semantics change
    import org.apache.spark.sql.functions.{col => c}
    for (b <- Seq(2, 4, 8, 16)) {
      val single = Vectors.beamSearch(emb, qs, entries, k = 5, beam = b, rounds = 3)
        .select(c("query_id"), c("neighbor_id"))
        .join(Vectors.topK(emb, Left(qs), 5)
          .select(c("query_id"), c("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      assert(out(b.toLong)._1 === single, s"beam $b")
    }
  }

  test("alignmentReport: aligned/doc_only/vec_only partition both id sets") {
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val vecs = Seq(2L, 3L, 4L, 5L).toDF("vec_id")
    val out = Vectors.alignmentReport(docs, vecs).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_rows")).toMap
    assert(out === Map("aligned" -> 2L, "doc_only" -> 1L, "vec_only" -> 2L))
  }

  test("pqDistortion: one row per query over real 64-dim vectors, errors bounded and nonneg") {
    val emb64 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Vectors.pqDistortion(emb64, Seq(0L, 1L), k = 5).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("mean_abs_err_ppb"))).toMap
    assert(out.keySet === Set(0L, 1L))
    out.values.foreach { case (n, e) =>
      assert(n === 5L)
      assert(e >= 0L && e < 2000000000L) // |cosine diff| < 2 by construction
    }
  }

  test("ivfRecall: one row per query, hits bounded by k, ppm arithmetic exact") {
    val out = Vectors.ivfRecall(emb, Seq(0L, 3L), k = 2).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm"))).toMap
    assert(out.keySet === Set(0L, 3L))
    out.values.foreach { case (h, ppm) =>
      assert(h >= 0L && h <= 2L)
      assert(ppm === 1000000L * h / 2)
    }
    // query 0's exact top-2 are {1, 2}, but 2 is itself a spaced centroid
    // (its own bucket) so IVF's single-probe search misses it: exactly the
    // routing miss this report exists to surface
    assert(out(0L) === ((1L, 500000L)))
  }

  test("crossCorpusLeakage: near-identical cross-split vectors found, count + nearest exact") {
    // test split: 0, 1; train split: 2 (≈ identical to 0), 3 (identical to
    // 0), 4 (orthogonal to everything in test)
    val test = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Vectors.crossCorpusLeakage(test, train, threshold = 0.9, dim = 3)
      .collect()
      .map(r => r.getAs[Long]("test_id") ->
        (r.getAs[Long]("n_leaks"), r.getAs[Long]("nearest_train_id"))).toMap
    // vec 0 leaks against 2 and 3 (identical 3 beats near-identical 2);
    // vec 1 has no train vector over the threshold
    assert(out.keySet === Set(0L))
    assert(out(0L)._1 === 2L)
    assert(out(0L)._2 === 3L)
  }

  test("knnClassify: majority label of the exact top-k, votes desc then smaller label") {
    // query 0's 3-NN are 1, 2, 3 (see brute-force test): labels 7, 7, 9 →
    // majority 7 with 2 votes
    val labeled = emb.withColumn("label",
      org.apache.spark.sql.functions.expr(
        "CASE vec_id WHEN 1 THEN 7 WHEN 2 THEN 7 WHEN 3 THEN 9 ELSE 5 END").cast("int"))
    val out = Vectors.knnClassify(labeled, Seq(0L), k = 3).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Int]("pred_label") === 7)
    assert(out.head.getAs[Long]("votes") === 2L)
    // vote tie (k=2: neighbors 1 and 2 relabeled 7 and 3) → smaller label
    val tied = emb.withColumn("label",
      org.apache.spark.sql.functions.expr(
        "CASE vec_id WHEN 1 THEN 7 WHEN 2 THEN 3 ELSE 5 END").cast("int"))
    val out2 = Vectors.knnClassify(tied, Seq(0L), k = 2).collect()
    assert(out2.head.getAs[Int]("pred_label") === 3)
    assert(out2.head.getAs[Long]("votes") === 1L)
  }

  test("brute-force top-k: ranks by cosine, excludes self, deterministic ties") {
    val out = Vectors.topK(emb, Left(Seq(0L)), 3).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
    // tie between 3 and 4 (both sim 0) broken by neighbor id asc
    assert(out.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
  }

  test("quantized top-k: integer-code ranking preserves the fixture order; constant dims code to 0") {
    import org.apache.spark.sql.functions._
    // codes for dim mins/maxes over the fixture: v0=[255,0,0] v2=[229,25,0];
    // sims vs q0: v1=65025, v2=58395, v3=v4=0 (tie → smaller id)
    val out = Vectors.topK(emb, Left(Seq(0L)), 3, AnnSpec(score = Sq8)).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
    // a constant dimension carries no information: it must quantize to code 0
    // everywhere (no NaN/div-by-zero), leaving the ranking unchanged
    val withConst = emb.withColumn("embedding", concat(col("embedding"), array(lit(7.5f))))
    val out2 = Vectors.topK(withConst, Left(Seq(0L)), 3,
      AnnSpec(score = Sq8)).orderBy("rank").collect()
    assert(out2.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
  }

  test("IVF top-k searches only the query's bucket") {
    // centroids 0 and 3: vectors 0,1,2 → bucket 0; 3 → bucket 3; 4 ties →
    // smaller centroid id (0)
    val out = Vectors.topK(emb, Left(Seq(0L)), 10, AnnSpec(Ivf(Seq(0L, 3L))))
      .orderBy("rank").collect()
    val neighbors = out.map(_.getAs[Long]("neighbor_id")).toSeq
    assert(neighbors.startsWith(Seq(1L, 2L)))
    assert(!neighbors.contains(3L)) // different bucket: pruned, the IVF trade
  }

  test("spaced centroid ids: ⌈√N⌉ distinct in-range ids, spacing tracks N") {
    for (n <- Seq(1L, 2L, 10L, 500L, 2000L, 1000000L)) {
      val ids = Vectors.spacedCentroidIds(n)
      val c = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
      assert(ids.size === c, s"n=$n")
      assert(ids.distinct.size === ids.size, s"n=$n")
      assert(ids.forall(i => i >= 0 && i < n), s"n=$n")
    }
    // bucket count grows with the corpus — the sub-quadratic guarantee
    assert(Vectors.spacedCentroidIds(2000).size > Vectors.spacedCentroidIds(500).size)
  }

  // deterministic synthetic corpus: 60 vectors in 8 dims, values from a
  // fixed arithmetic formula (no RNG — specs must be replayable)
  private lazy val corpus = {
    val rows = (0 until 60).map { id =>
      (id.toLong, Array.tabulate(8) { d =>
        ((((id * 8 + d) * 2654435761L) % 997L) - 498L).toFloat / 498.0f
      })
    }
    rows.toDF("vec_id", "embedding")
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

  test("multi-probe IVF: probing all buckets recovers brute-force exactly") {
    val cents = Seq(0L, 20L, 40L)
    val exact = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5))
    val all = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(Ivf(cents), Nearest(cents.size))))
    assert(all === exact)
    // and recall is monotone in nprobe (vs brute-force top-5)
    val r1 = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(Ivf(cents)))).intersect(exact).size
    val r2 = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5, AnnSpec(Ivf(cents), Nearest(2))))
      .intersect(exact).size
    assert(r2 >= r1)
  }

  test("two-level IVF: coarse subset is a subset; one coarse parent ≡ flat assignment") {
    val fine = Vectors.spacedCentroidIds(60)
    val coarse = Vectors.coarseSubset(fine)
    assert(coarse.toSet.subsetOf(fine.toSet))
    assert(coarse.size === math.ceil(math.sqrt(fine.size.toDouble)).toInt)
    // with a single coarse parent every fine centroid is reachable, so the
    // two-level routing degenerates to the flat assignment exactly
    val flat = Vectors.topK(corpus, Left(Seq(1L, 2L)), 5, AnnSpec(Ivf(fine)))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val twoLevelOneCoarse = Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(IvfTwoLevel(fine, Seq(fine.head))))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(twoLevelOneCoarse.toSeq === flat.toSeq)
    // and with the real coarse set the search still returns ranked results
    val hier = Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(IvfTwoLevel(fine, coarse))).collect()
    assert(hier.nonEmpty)
  }

  test("multi-table LSH: recall vs brute force is monotone in table count") {
    val exact = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5))
    val one = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(LshTables(nTables = 1, dim = 8))))
    val four = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(LshTables(nTables = 4, dim = 8))))
    assert(four.intersect(exact).size >= one.intersect(exact).size)
    // table 0 of the multi-table scheme IS the single-table scheme
    assert(one === hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5, AnnSpec(Lsh(dim = 8)))))
  }

  test("trained centroids: recall@k on fixture embeddings ≥ spaced centroids") {
    // the production centroid path (verdict item 7): k-means on a seeded
    // hash sample must not LOSE recall vs the untrained spaced seeds. Runs
    // on the real fixture table; everything is seeded → replayable.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val spacedIds = Vectors.spacedCentroidIds(n)
    val queries = (0L until 8L).toSeq
    val exact = hits(Vectors.topK(emb, Left(queries), 5))
    val spaced = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(Ivf(spacedIds))))
    val trained = Vectors.trainedCentroids(emb, c = spacedIds.size, sampleTarget = 512)
    assert(trained.size === spacedIds.size)
    // unit-norm centroids (spherical k-means invariant)
    trained.foreach { case (_, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9)
    }
    val trainedHits = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(IvfTrained(trained))))
    val rSpaced = spaced.intersect(exact).size
    val rTrained = trainedHits.intersect(exact).size
    assert(rTrained >= rSpaced, s"trained recall $rTrained < spaced $rSpaced")
    // and training is deterministic: same seed → identical centroids
    val again = Vectors.trainedCentroids(emb, c = spacedIds.size, sampleTarget = 512)
    assert(again.map(_._2.toSeq) === trained.map(_._2.toSeq))
  }

  test("s36 floor headroom: measured fixture serve recall clears the shipped floor " +
      "by ≥ 0.05 (re-derive on failure — round-7 verdict #8)") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val t = "ivf_floor_headroom_check"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_centroids")
    val index = Vectors.materializedIvfIndex(emb, t)
    val ledger = Vectors.readCentroidLedger(spark, t)
    val queries = (0L until 8L).toSeq
    val qUnit = index.filter(col("vec_id").isInCollection(queries))
      .select(col("vec_id").as("query_id"), col("unit").as("q"))
    val probes = Vectors.topProbeBuckets(qUnit, "query_id", "q",
      Vectors.centroidFrame(spark, ledger), 0, ledger.size)
    val served = hits(Vectors.ivfBatchTopKFromIndex(index, broadcast(probes), 10))
    val truth = hits(Vectors.topK(emb, Left(queries), 10))
    val recallPpm = 1000000L * served.intersect(truth).size / truth.size
    val floor = if (ledger.size >= 32) Vectors.trainedIvfFloorLargeC
      else Vectors.trainedIvfFloorSmallC
    assert(recallPpm >= floor + 50000L,
      s"fixture serve recall ${recallPpm} ppm is within 0.05 of the shipped floor " +
        s"$floor — the fixture or query set drifted; re-derive the floor " +
        "(VectorArtifacts.trainedIvfFloor* scaladoc has the recorded measurements)")
  }

  test("distributed trainer (exact-order mode) ≡ driver maxmin trainer bit-for-bit") {
    // the round-8 trainer dispatch: past C = driverTrainerMaxC the
    // artifact builders train via Spark jobs instead of the driver loops.
    // exactOrder forces the distributed form onto one vec_id-sorted
    // partition with batch-1 init, where every float fold runs in the
    // driver trainer's exact order — so the two trainers must agree
    // BIT-FOR-BIT, pinning that the distributed algebra (sample, farthest-
    // point selection, assignment ties, mean/normalize/empty-bucket rules)
    // is the same algorithm, not a lookalike.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val driver = Vectors.trainedCentroids(emb, c = 8, sampleTarget = 512, init = "maxmin")
    val dist = Vectors.trainedCentroidsDistributed(emb, c = 8, sampleTarget = 512,
      exactOrder = true)
    assert(dist.map(_._1) === driver.map(_._1))
    assert(dist.map(_._2.toSeq) === driver.map(_._2.toSeq))
  }

  test("distributed trainer (production batched mode): structural invariants and " +
      "recall parity with the driver trainer on the fixture") {
    // production mode (batched farthest-point init, multi-partition sums)
    // is not bit-reproducible by design — pin what must hold at any C:
    // exactly c unit-norm centroids, and routing quality on par with the
    // driver trainer (same sample, same Lloyd semantics)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = (0L until 8L).toSeq
    val exact = hits(Vectors.topK(emb, Left(queries), 5))
    val dist = Vectors.trainedCentroidsDistributed(emb, c = 8, sampleTarget = 512)
    assert(dist.size === 8)
    dist.foreach { case (_, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9)
    }
    val driver = Vectors.trainedCentroids(emb, c = 8, sampleTarget = 512, init = "maxmin")
    val rDist = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(IvfTrained(dist))))
      .intersect(exact).size
    val rDriver = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(IvfTrained(driver))))
      .intersect(exact).size
    // same-bucket recall is the operating quantity; allow small drift from
    // the batched init (8 queries × 5 = 40 truth slots)
    assert(rDist >= rDriver - 4, s"distributed-trainer recall $rDist vs driver $rDriver")
  }

  test("distributed-trained centroids drive the full artifact lifecycle: " +
      "index + ledger round-trip + served recall") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val t = "ivf_dist_trained_check"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_centroids")
    // the production shape past C = driverTrainerMaxC, exercised end to
    // end at fixture C: train distributed → assign → bucketed index +
    // ledger → serve from the persisted layout
    val cents = Vectors.trainedCentroidsDistributed(emb, c = 8, sampleTarget = 512)
    // through buildIfAbsent like the production builders: a previous JVM's
    // orphaned warehouse location must be cleared, not tripped over
    graft.sources.BucketedLayout.buildIfAbsent(spark, t) {
      val assigned = Vectors.ivfAssignWithCentroids(emb, cents)
      Vectors.writeIvfIndex(assigned, t, buckets = 8)
      Vectors.writeCentroidLedger(spark, t, cents, assigned)
      ()
    }
    // the ledger is the only home of trained non-corpus-member centroids:
    // it must round-trip them bit-exactly (parquet doubles are lossless)
    val back = Vectors.readCentroidLedger(spark, t)
    assert(back.map(_._1) === cents.map(_._1))
    assert(back.map(_._2.toSeq) === cents.map(_._2.toSeq))
    val index = spark.table(t)
    val queries = (0L until 8L).toSeq
    val qUnit = index.filter(col("vec_id").isInCollection(queries))
      .select(col("vec_id").as("query_id"), col("unit").as("q"))
    val probes = Vectors.topProbeBuckets(qUnit, "query_id", "q",
      Vectors.centroidFrame(spark, back), 0, back.size)
    val served = hits(Vectors.ivfBatchTopKFromIndex(index, broadcast(probes), 10))
    val truth = hits(Vectors.topK(emb, Left(queries), 10))
    val recallPpm = 1000000L * served.intersect(truth).size / truth.size
    assert(recallPpm >= Vectors.trainedIvfFloorSmallC,
      s"distributed-trained artifact serve recall $recallPpm ppm under the floor")
  }

  test("appendToNavGraph: corpus already containing the batch ≡ disjoint corpus") {
    import org.apache.spark.sql.functions.col
    // the RecallReport call shape passes the FULL current corpus; without
    // the id-dedup the duplicated batch vectors consumed two beam slots
    // each (round-9 review) — pin that both call shapes append the exact
    // same edge set
    val embF = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = embF.count()
    val cut = n * 3 / 4
    val entries = Vectors.spacedCentroidIds(cut)
    val old = embF.filter(col("vec_id") < cut)
    val fresh = embF.filter(col("vec_id") >= cut)
    def edges(t: String, corpus: org.apache.spark.sql.DataFrame) = {
      Seq(t, t + "_centroids").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      Vectors.materializedNavGraph(old, t, centroidIds = Some(entries))
      Vectors.appendToNavGraph(fresh, corpus, t, entries)
      spark.table(t).collect()
        .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("neighbor_id"))).toSet
    }
    val disjoint = edges("nav_append_disjoint_spec", old)
    val overlapping = edges("nav_append_overlap_spec", embF)
    assert(disjoint.nonEmpty)
    assert(overlapping === disjoint)
  }

  test("appendToNavGraph fails fast on an oversized batch, naming the contract") {
    import org.apache.spark.sql.functions.col
    // round-11 verdict nit: the fresh-id collect is batch-sized by the
    // HNSW-append contract but had no guard — the limit probe must reject
    // a corpus-sized insertion with a diagnostic, not a driver OOM.
    val embF = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = embF.count()
    val cut = n * 3 / 4
    val entries = Vectors.spacedCentroidIds(cut)
    val t = "nav_append_guard_spec"
    Seq(t, t + "_centroids").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    Vectors.materializedNavGraph(embF.filter(col("vec_id") < cut), t,
      centroidIds = Some(entries))
    val e = intercept[IllegalArgumentException] {
      Vectors.appendToNavGraph(embF.filter(col("vec_id") >= cut), embF, t,
        entries, maxBatch = 2)
    }
    assert(e.getMessage.contains("batch-sized contract"),
      s"diagnostic must name the contract, got: ${e.getMessage}")
    assert(e.getMessage.contains("materializedNavGraph"),
      "diagnostic must name the corpus-scale alternative")
  }

  test("navAppendDecision: bounded hits, exact globals, appended nodes land, replay no-op") {
    import org.apache.spark.sql.functions.col
    val embF = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (tOld, tReb) = ("nav_stale_spec", "nav_rebuilt_spec")
    Seq(tOld, tOld + "_centroids", tReb, tReb + "_centroids")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    def run() = Vectors.navAppendDecision(embF, tOld, tReb)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("n_hits_appended"), r.getAs[Long]("n_hits_rebuilt"),
        r.getAs[Long]("n_appended"), r.getAs[Long]("appended_frac_ppm"))).toSet
    val first = run()
    val n = embF.count()
    val expAppended = n - (n - n / 25L)
    assert(first.size === 8)
    first.foreach { case (_, ha, hr, na, frac) =>
      assert(ha >= 0L && ha <= 5L && hr >= 0L && hr <= 5L)
      assert(na === expAppended)
      assert(frac === 1000000L * expAppended / n)
    }
    // the appended batch really landed: every new id has forward edges
    val cut = n - n / 25L
    val srcs = spark.table(tOld).select(col("src_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    ((cut until n)).foreach(id => assert(srcs.contains(id), s"new $id unreachable"))
    // a re-run replays the append (anti-join no-op) and reproduces the
    // report exactly — the idempotence contract every staleness read has
    spark.sqlContext.clearCache()
    assert(run() === first)
  }

  test("ivfIndexStaleness: an EMPTY index table yields defined zero shares, not nulls") {
    // round-8 verdict nit: tb = 0 (every build-time bucket lost, e.g. a
    // torn rebuild that kept only the ledger) divided to null shares —
    // the report must stay DEFINED so the rebuild decision can read it
    val t = "ivf_stale_empty_spec"
    Seq(t, t + "_centroids").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      // writeIvfIndex writes directly (no buildIfAbsent orphan sweep), so
      // a location left by a PREVIOUS JVM must be cleared here too
      val whConf = spark.conf.get("spark.sql.warehouse.dir")
      val wh = Option(java.net.URI.create(whConf).getPath).getOrElse(whConf)
      val dir = java.nio.file.Paths.get(wh, n)
      if (java.nio.file.Files.exists(dir)) {
        val walk = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally walk.close()
      }
    }
    val emptyAssigned =
      Seq.empty[(Long, Long, Array[Double])].toDF("vec_id", "bucket", "unit")
    Vectors.writeIvfIndex(emptyAssigned, t)
    Vectors.writeCentroidLedger(spark, t,
      Seq((0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0))), emptyAssigned)
    val out = Vectors.ivfIndexStaleness(emb, t).collect()
    assert(out.length === 2) // every ledger centroid reports, empty or not
    out.foreach { r =>
      assert(r.getAs[Long]("n_indexed") === 0L)
      assert(!r.isNullAt(r.fieldIndex("share_before_ppm")), "null share on tb = 0")
      assert(r.getAs[Long]("share_before_ppm") === 0L)
      assert(!r.isNullAt(r.fieldIndex("share_after_ppm")))
    }
    // the current corpus still assigns: occupancy-after accounts for all 5
    assert(out.map(_.getAs[Long]("n_new")).sum === 5L)
    assert(out.map(_.getAs[Long]("share_after_ppm")).sum >= 999998L)
  }

  test("incremental vector dedup flags bucket-colliding new vectors only") {
    // corpus = vectors 0..9 of the fixture frame; new batch = an exact copy
    // of vector 3 (collides in every table) and a distinct vector (100)
    val base = (0 until 10).map { id =>
      (id.toLong, Array.tabulate(8) { d =>
        ((((id * 8 + d) * 2654435761L) % 997L) - 498L).toFloat / 498.0f
      })
    }
    val newBatch = Seq(
      (100L, base(3)._2),                                      // exact dup of corpus 3
      (101L, Array.tabulate(8)(d => if (d == 0) -1.0f else 1.0f)) // unrelated direction
    ).toDF("vec_id", "embedding")
    val out = Vectors.incrementalLshDedup(newBatch, base.toDF("vec_id", "embedding"), dim = 8)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_near")).toMap
    assert(out(100L) === 1L)
    assert(out.keySet === Set(100L, 101L)) // every new vector gets a verdict
  }

  test("streaming LSH vector dedup ≡ batch keep-first over an id-ordered feed") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    // corpus with exact duplicates (collide in every table) and distinct
    // vectors; 8 dims like the synthetic ANN corpus
    val vecs: Seq[(Long, Array[Float])] = (0 until 10).map { id =>
      val base = if (id == 3) 0 else if (id == 7) 1 else id // 3 dups 0, 7 dups 1
      (id.toLong, Array.tabulate(8) { d =>
        ((((base * 8 + d) * 2654435761L) % 997L) - 498L).toFloat / 498.0f
      })
    }
    val expected = Vectors.lshKeepFirst(vecs.toDF("vec_id", "embedding"), dim = 8)
      .collect().map(_.getLong(0)).toSet
    assert(!expected.contains(3L) && !expected.contains(7L)) // exact dups dropped
    // vec 0 (minimal id) always survives; other distinct vectors may be
    // screened by incidental single-table sign collisions (by design —
    // this is the aggressive ingest screen, not the exact verify pass)
    assert(expected.contains(0L))
    val ms = MemoryStream[(Long, Timestamp, Array[Float])]
    val q = Vectors.streamingLshNearDup(
      ms.toDF().toDF("vec_id", "ts", "embedding"), "ts", delay = "5 seconds",
      dim = 8, windowDur = "10 seconds")
      .writeStream.format("memory").queryName("svdedup")
      .outputMode(OutputMode.Append).start()
    val t0 = java.time.Instant.parse("2024-01-01T10:00:00Z")
    vecs.zipWithIndex.foreach { case ((id, v), i) =>
      ms.addData((id, Timestamp.from(t0.plusSeconds(i.toLong)), v))
      q.drainGuarded()
    }
    ms.addData((99L, Timestamp.from(t0.plusSeconds(3600L)), Array.fill(8)(1.0f)))
    q.drainGuarded()
    assertStreamClean("vectors_stream", q); q.stop()
    val streamed = spark.table("svdedup").collect().map(_.getAs[Long]("vec_id")).toSet
    assert(streamed === expected)
  }

  test("filtered ANN: neighbors come only from the allowed set, ranks re-close") {
    import org.apache.spark.sql.functions._
    val allowed = Seq(0L, 2L, 4L, 6L, 8L).toDF("vec_id")
    val filtered = Vectors.topK(emb, Left(Seq(1L)), 3, AnnSpec(Flat(Some(allowed))))
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    assert(filtered.map(_._1).forall(Set(0L, 2L, 4L, 6L, 8L)))
    assert(filtered.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L))
    // equals brute force restricted post-hoc, re-ranked
    val full = Vectors.topK(emb, Left(Seq(1L)), 100)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
      .filter(p => Set(0L, 2L, 4L, 6L, 8L)(p._1))
      .sortBy(_._2).map(_._1).take(3)
    assert(filtered.sortBy(_._2).map(_._1).toSeq === full.toSeq)
  }

  test("cosine near-dup pairs above threshold, within bucket") {
    val pairs = Vectors.cosineNearDupPairs(emb, Seq(0L, 3L), threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    // cos(0,2) = 0.9/sqrt(0.82) ≈ 0.994 ≥ 0.95
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  // deterministic 8-dim fixture for PQ (dim must divide by m)
  private def pq16: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(11)
    (0 until 16).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  test("pq: every-vector-a-centroid corpus reconstructs exactly — ranking equals brute force") {
    // n = ks = 16 → step 1, centroids = all vectors; each encodes to its own
    // index (squared distance 0), so the ADC score IS the true unit dot and
    // the PQ ranking must reproduce brute force
    val brute = Vectors.topK(pq16, Left(Seq(0L, 5L)), 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val pq = Vectors.topK(pq16, Left(Seq(0L, 5L)), 5, AnnSpec(score = Pq(m = 4, ks = 16)))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(pq === brute)
  }

  test("pq: trained codebooks don't lose recall vs spaced, and are seed-deterministic") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = (0L until 8L).toSeq
    val exact = hits(Vectors.topK(emb, Left(queries), 5))
    val spaced = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(score = Pq())))
    val book = Vectors.trainedPqCodebooks(emb, sampleTarget = 512)
    val trained = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(score = PqCodebook(8, book))))
    val rSpaced = spaced.intersect(exact).size
    val rTrained = trained.intersect(exact).size
    assert(rTrained >= rSpaced, s"trained PQ recall $rTrained < spaced $rSpaced")
    val again = Vectors.trainedPqCodebooks(emb, sampleTarget = 512)
    assert(again === book)
  }

  test("ivf-pq: a single routing bucket degenerates to plain PQ") {
    // one centroid → every vector lands in bucket 0 → the candidate set is
    // the whole corpus and IVF-PQ must reproduce flat PQ exactly (same
    // spaced codebook, same ADC arithmetic)
    val pq = Vectors.topK(pq16, Left(Seq(0L, 3L)), 5, AnnSpec(score = Pq(m = 4, ks = 16)))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val ivfpq = Vectors.topK(pq16, Left(Seq(0L, 3L)), 5,
      AnnSpec(Ivf(Seq(0L)), score = Pq(m = 4, ks = 16)))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(ivfpq === pq)
  }

  test("pq rerank: a corpus-wide shortlist recovers brute force exactly; recall ≥ plain PQ") {
    // shortlist = whole corpus → stage 2 re-scores everything exactly, so
    // the final ranking must BE the brute-force ranking regardless of how
    // lossy the PQ shortlist scores were
    val brute = Vectors.topK(corpus, Left(Seq(1L, 2L)), 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val full = Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(score = Pq(), refine = Rerank(60)))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(full === brute)
    // a partial shortlist can only improve on the raw PQ ranking (same
    // candidates, exact scores) — recall is monotone vs plain PQ
    val exact = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5))
    val plain = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5, AnnSpec(score = Pq())))
    val rerank = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5,
      AnnSpec(score = Pq(), refine = Rerank(20))))
    assert(rerank.intersect(exact).size >= plain.intersect(exact).size)
    // and the re-ranked neighbors are drawn from the PQ shortlist
    val shortlist = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 20, AnnSpec(score = Pq())))
    assert(rerank.subsetOf(shortlist))
  }

  test("pq: codes match a reference argmin over subspace slices") {
    import org.apache.spark.sql.functions._
    val m = 4
    val unit = Vectors.withUnit(pq16).select(col("vec_id"), col("unit"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    // ks = 4 → step = 4 → centroid ids 0,4,8,12 (cidx order = id order)
    val centIds = Seq(0L, 4L, 8L, 12L)
    val cents = centIds.map(unit)
    def refCode(v: Array[Double]): Seq[Int] = {
      val subDim = v.length / m
      (0 until m).map { s =>
        val dists = cents.map { c =>
          (0 until subDim).map { j => val d = v(s * subDim + j) - c(s * subDim + j); d * d }.sum
        }
        dists.indexOf(dists.min) // earliest index on ties, like the strict-< loop
      }
    }
    val centFlat = typedlit(cents.flatMap(_.toSeq))
    val got = Vectors.withUnit(pq16)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.pqCode(col("unit"), centFlat, lit(m)).as("code"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Array[Byte]]("code").map(_ & 0xFF).toSeq).toMap
    unit.keys.foreach { id =>
      assert(got(id) === refCode(unit(id)), s"vec $id")
    }
  }

  test("knn graph: matches a driver-side in-bucket reference; singleton buckets emit no edges") {
    import org.apache.spark.sql.functions.col
    val k = 3
    val got = Vectors.knnGraph(corpus, k = k).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank"))).toSet
    // driver-side reference: spaced centroids, argmax-cosine assignment
    // (strict > scan in ascending centroid order = ties to smaller id),
    // exhaustive in-bucket rank by (sim desc, neighbor id asc)
    val unit = Vectors.withUnit(corpus).select(col("vec_id"), col("unit"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val cents = Vectors.spacedCentroidIds(60)
    val bucketOf = unit.map { case (id, v) =>
      id -> cents.foldLeft((Long.MinValue, Double.NegativeInfinity)) {
        case ((bc, bs), c) =>
          val s = dot(v, unit(c)); if (s > bs) (c, s) else (bc, bs)
      }._1
    }
    val ref = unit.keys.flatMap { src =>
      unit.keys.toSeq
        .filter(o => o != src && bucketOf(o) == bucketOf(src))
        .map(o => (o, dot(unit(src), unit(o))))
        .sortBy { case (o, s) => (-s, o) }
        .take(k).zipWithIndex
        .map { case ((o, _), i) => (src, o, (i + 1).toLong) }
    }.toSet
    assert(got === ref)
    assert(got.nonEmpty)
    // two orthogonal vectors → ⌈√2⌉ = 2 centroids → each alone in its own
    // bucket → no edges at all (the documented recall trade)
    val lone = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(Vectors.knnGraph(lone, k = k).count() === 0L)
  }

  test("radius search: threshold and self-exclusion, scoped to the query's bucket") {
    // spaced centroids for n=5 are ids {0,1,2} → buckets: {0,1,4} (ties to
    // the smaller centroid id) and {2,3}
    def run(tau: Double) = Vectors.radiusSearch(emb, Seq(0L), tau).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // only the identical vector clears τ=0.5; self is excluded
    assert(run(0.5) === Set((0L, 1L)))
    // τ=-1 admits the whole bucket — but NOT vector 2, which is MORE
    // similar than 4 yet lives in the other bucket (the IVF recall trade)
    assert(run(-1.0) === Set((0L, 1L), (0L, 4L)))
  }

  test("MMR re-rank: near-duplicate of the top hit is demoted below a diverse result") {
    import org.apache.spark.sql.functions._
    // query 0 ≈ (1,0); 10 and 11 are near-identical top hits; 12 is a
    // slightly-less-similar but DIVERSE direction; 13 is orthogonal filler
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (10L, Array(0.99f, 0.14f, 0.0f)),
      (11L, Array(0.99f, 0.141f, 0.0f)), // twin of 10
      (12L, Array(0.9f, -0.43f, 0.0f)),
      (13L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val mmr = Vectors.mmrRerank(emb, Seq(0L), k = 3, shortlist = 4)
      .orderBy(col("mmr_rank"))
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("mmr_rank")))
    // rank 1 is the plain argmax (one of the twins); rank 2 must NOT be its
    // twin — the diversity penalty pushes the diverse 12 (or 13) ahead
    assert(Set(10L, 11L).contains(mmr(0)._1))
    assert(!Set(10L, 11L).contains(mmr(1)._1))
    // the full plain top-3 WOULD have taken both twins
    val plain = Vectors.topK(emb, Left(Seq(0L)), 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(Set(10L, 11L).subsetOf(plain))
    assert(mmr.map(_._2).toSeq === Seq(1L, 2L, 3L))
    assert(mmr.map(_._1).distinct.length === 3)
  }

  test("jlRerankTopK: with shortlist ≥ corpus the exact re-rank makes it ≡ brute force") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(24)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSet
    val jl = pairs(Vectors.topK(vecs, Left(0L until 4L), 5,
      AnnSpec(score = Jl(8), refine = Rerank(40))))
    val bf = pairs(Vectors.topK(vecs, Left(0L until 4L), 5))
    assert(jl === bf)
  }

  test("jlRerankTopK: narrow shortlist still recovers most exact neighbors (JL preserves geometry)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    // clustered corpus (the regime ANN actually serves): 20 centers, small
    // per-point noise — true neighbors are genuinely close, which is what
    // the distortion bound protects; uniform-random vectors (all sims ≈ 0)
    // are the adversarial case where no shortlist can separate near-ties
    val centers = Array.fill(20)(Array.fill(32)(rnd.nextFloat() * 2f - 1f))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.2f - 0.1f))
    }.toDF("vec_id", "embedding")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val jl = hits(Vectors.topK(vecs, Left(0L until 8L), 5,
      AnnSpec(score = Jl(16), refine = Rerank(40))))
    val bf = hits(Vectors.topK(vecs, Left(0L until 8L), 5))
    val recall = jl.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"JL recall@5 was $recall")
  }

  test("semanticKeep: per group keeps the LEAST centroid-similar member, ties to smaller id; ungrouped kept") {
    import org.apache.spark.sql.functions.col
    // single centroid (1,0): affinities are the normalized x-components —
    // 1 ≈ 0.995, 2 = 0.6, 3 = 0.8; 5 and 6 mirror to the SAME affinity 0.8
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.09f)),
      (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.8f, 0.6f)),
      (4L, Array(0.0f, 1.0f)),
      (5L, Array(0.8f, 0.6f)),
      (6L, Array(0.8f, -0.6f))
    ).toDF("vec_id", "embedding")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "group_id")
    val kept = Vectors.semanticKeep(vecs, Seq(0L), groups)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // group 1: min affinity is vec 2; group 5: exact affinity tie → smaller
    // id 5; vecs 0 and 4 are in no group → kept unconditionally
    assert(kept === Set(2L, 5L, 0L, 4L))
  }

  test("probeSweep: recall monotone in nprobe, probing every bucket recovers brute force") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nBuckets = Vectors.spacedCentroidIds(emb.count()).size
    val out = Vectors.probeSweep(emb, 0L until 4L, k = 5,
      probes = Seq(1, 2, nBuckets)).collect()
      .map(r => r.getAs[Long]("nprobe") -> r.getAs[Long]("n_hits")).toMap
    assert(out(1L) <= out(2L) && out(2L) <= out(nBuckets.toLong))
    // nprobe = all buckets searches the whole corpus → exact recall
    assert(out(nBuckets.toLong) === 4L * 5L)
  }

  test("annTopK: the SQ8-scan + re-rank production default recovers brute force on the fixture") {
    // the round-5 flagship: a 4k compressed-scan shortlist re-ranked
    // exactly — on the (isotropic) fixture corpus SQ8 ordering is good
    // enough that the shortlist contains the whole true top-k
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = (0L until 8L).toSeq
    val exact = hits(Vectors.topK(emb, Left(queries), 10))
    assert(hits(Vectors.topK(emb, Left(queries), 10, Production)) === exact)
  }

  test("trained multi-probe: probing all trained buckets recovers brute force exactly") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trained = Vectors.trainedCentroids(emb, c = 8, sampleTarget = 512)
    val queries = Seq(0L, 1L, 2L)
    val exact = hits(Vectors.topK(emb, Left(queries), 5))
    val all = hits(Vectors.topK(emb, Left(queries), 5,
      AnnSpec(IvfTrained(trained), Nearest(trained.size))))
    assert(all === exact)
    // and the trained mp4 path is at least as good as trained single-probe
    val mp4 = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(IvfTrained(trained), Nearest(4))))
    val single = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(IvfTrained(trained))))
    assert(mp4.intersect(exact).size >= single.intersect(exact).size)
  }

  test("multi-probe LSH: recall ≥ single-bucket; dense ranks per query") {
    val exact = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5))
    val single = hits(Vectors.topK(corpus, Left(Seq(1L, 2L)), 5, AnnSpec(Lsh(dim = 8))))
    val mp = Vectors.topK(corpus, Left(Seq(1L, 2L)), 5, AnnSpec(Lsh(dim = 8), Hamming1))
    val mpHits = hits(mp)
    assert(mpHits.intersect(exact).size >= single.intersect(exact).size)
    // ranks are dense from 1 within each query (no dup candidates from the
    // probe fan-out: corpus vectors live in exactly one bucket)
    mp.collect().groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length).toSeq)
    }
  }

  test("tunedNprobe: returned config actually achieves the target (or caps at C)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trained = Vectors.trainedCentroids(emb, c = 8, sampleTarget = 512)
    val queries = (0L until 8L).toSeq
    val target = 0.6
    val p = Vectors.tunedNprobe(emb, trained, queries, k = 5, target = target)
    val exact = hits(Vectors.topK(emb, Left(queries), 5))
    val got = hits(Vectors.topK(emb, Left(queries), 5, AnnSpec(IvfTrained(trained), Nearest(p))))
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= target || p === trained.size)
    // and it is minimal on the doubling grid: half the probes miss the target
    if (p > 1) {
      val below = hits(Vectors.topK(emb, Left(queries), 5,
        AnnSpec(IvfTrained(trained), Nearest(p / 2))))
      assert(below.intersect(exact).size.toDouble / exact.size < target)
    }
  }

  test("ivfPqRerank: trained path with spaced centroids/codebook ≡ the spaced parity path") {
    // the trained entry point is the SAME algorithm behind a different
    // centroid source: feeding it the spaced centroid VECTORS (in spaced-id
    // order) and the spaced codebook must reproduce the parity results
    // (bucket ids differ — index vs vec_id — but routing partitions match)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val spacedIds = Vectors.spacedCentroidIds(n)
    val unit = Vectors.withUnit(emb)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("unit"))
    val centVecs = unit
      .filter(org.apache.spark.sql.functions.col("vec_id").isin(spacedIds: _*))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }.toSeq
    val codebook = Vectors.spacedPqCodebook(unit, 16)
    val queries = (0L until 4L).toSeq
    val parity = Vectors.topK(emb, Left(queries), 5,
      AnnSpec(Ivf(spacedIds), Nearest(2), Pq(8, 16), Rerank(20)))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val viaTrained = Vectors.topK(emb, Left(queries), 5,
      AnnSpec(IvfTrained(centVecs), Nearest(2), PqCodebook(8, codebook), Rerank(20)))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(viaTrained.toSeq === parity.toSeq)
  }

  test("tunedOperatingPoints: smallest passing nprobe per target, widest as fallback") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = (0L until 8L).toSeq
    val probes = Seq(1, 2, 4, 8)
    val sweep = Vectors.probeSweep(emb, queries, k = 5, probes)
      .collect().map(r => r.getAs[Long]("nprobe") -> r.getAs[Long]("recall_ppm")).toMap
    val out = Vectors.tunedOperatingPoints(emb, queries, k = 5, probes,
      targetsPpm = Seq(1L, sweep(4L), 999999L))
      .collect().map(r => r.getAs[Long]("target_ppm") ->
        (r.getAs[Long]("nprobe"), r.getAs[Long]("recall_ppm"))).toMap
    // target 1 ppm: the smallest config already passes
    assert(out(1L)._1 === probes.map(p => sweep(p.toLong)).zip(probes)
      .collectFirst { case (r, p) if r >= 1L => p.toLong }.get)
    // target = exactly nprobe-4's recall: the smallest config AT that recall
    val want4 = probes.map(_.toLong).filter(p => sweep(p) >= sweep(4L)).min
    assert(out(sweep(4L))._1 === want4)
    assert(out(sweep(4L))._2 === sweep(want4))
    // unreachable target: widest swept config as the fallback
    assert(out(999999L) === (8L, sweep(8L)))
    // and each chosen config's reported recall is the sweep's, verbatim
    out.foreach { case (_, (np, r)) => assert(r === sweep(np)) }
  }

  test("marginPairs: reciprocal pairs outrank hub matches; ≡ driver-side margins") {
    // x0 has an exact partner y10; x1/x2/x3 all match only the hub y11 —
    // raw-threshold mining would keep every hub pair, the margin
    // normalizes the hub's crowded neighborhood down
    val test = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 0.8f, 0.2f, 0.0f)),
      (3L, Array(0.0f, 0.7f, 0.3f, 0.0f))
    ).toDF("vec_id", "embedding")
    val train = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // x0's exact partner
      (11L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // the hub: near x1/x2/x3
      (12L, Array(0.0f, 0.0f, 0.0f, 1.0f))    // far from everything
    ).toDF("vec_id", "embedding")
    val out = Vectors.marginPairs(test, train, k = 2, marginPpmThreshold = 0L)
      .collect()
      .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("margin_ppm")))
    val byTest = out.map(p => p._1 -> (p._2, p._3)).toMap
    assert(byTest(0L)._1 === 10L) // forward top-1s
    assert(Seq(1L, 2L, 3L).forall(t => byTest(t)._1 === 11L))
    // the reciprocal pair's margin beats every hub pair's
    assert(Seq(1L, 2L, 3L).forall(t => byTest(0L)._2 > byTest(t)._2))

    // and the ppm values match an independent driver-side computation
    def unit(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.foldLeft(0.0)((a, x) => a + x * x))
      d.map(_ / n)
    }
    val tv = Map(0L -> Array(1.0f, 0f, 0f, 0f), 1L -> Array(0f, 0.9f, 0.1f, 0f),
      2L -> Array(0f, 0.8f, 0.2f, 0f), 3L -> Array(0f, 0.7f, 0.3f, 0f))
      .map { case (i, v) => i -> unit(v) }
    val rv = Map(10L -> Array(1.0f, 0f, 0f, 0f), 11L -> Array(0f, 1.0f, 0f, 0f),
      12L -> Array(0f, 0f, 0f, 1.0f)).map { case (i, v) => i -> unit(v) }
    def sim(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
    def topAvg(sims: Seq[(Long, Double)], k: Int): Double = {
      val top = sims.sortBy { case (id, s) => (-s, id) }.take(k).map(_._2)
      top.foldLeft(0.0)(_ + _) / top.size
    }
    val expected = tv.map { case (t, x) =>
      val fw = rv.toSeq.map { case (r, y) => r -> sim(x, y) }
      val (bestId, bestSim) = fw.sortBy { case (id, s) => (-s, id) }.head
      val fAvg = topAvg(fw, 2)
      val bAvg = topAvg(tv.toSeq.map { case (t2, x2) => t2 -> sim(x2, rv(bestId)) }, 2)
      (t, bestId, math.round(2e6 * bestSim / (fAvg + bAvg)))
    }.toSet
    assert(out.toSet === expected)
  }

  test("boundedTestSide: ragged-width frame hits the byte-aware diagnostic " +
      "(max over collected rows, not head(1))") {
    // the |Q|≪N byte cap must hold against the WIDEST row (round-12
    // verdict #5): a ragged frame whose FIRST row is narrow fooled the old
    // single-head(1) width probe into a 65 536-row cap while the wide rows
    // blew the 64 MB bound. Three rows, first narrow, one ~3M-element —
    // max-width accounting caps at 2 rows (64 MB / ~24 MB) and the require
    // fires with the routing diagnostic; the old head-row estimate would
    // have sailed through.
    val wide = Array.fill(3000000)(1.0f)
    val ragged = Seq(
      (0L, Array(1.0f, 0.0f)), // narrow first row — the old probe's view
      (1L, wide),
      (2L, wide)
    ).toDF("vec_id", "embedding")
    val train = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Vectors.marginPairs(ragged, train, marginPpmThreshold = 0L)
    }
    assert(e.getMessage.contains("marginPairsBucketed"),
      s"diagnostic must route to the scale paths, got: ${e.getMessage}")
  }

  test("marginPairsBucketed: candidates honor the bucket contract; deterministic; identical dirs surface") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val test = emb.filter(col("vec_id") % 10 < 2)
    val train = emb.filter(col("vec_id") % 10 >= 2)
    val out = Vectors.marginPairsBucketed(test, train, marginPpmThreshold = 0L)
      .collect().map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("margin_ppm")))
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length === out.length) // forward top-1: one row per test
    // every emitted pair lies within HAMMING DISTANCE 1 in at least one
    // sign-hash table (own bucket or a 1-bit probe) — the candidate-
    // generation contract, recomputed driver-side from the same planes
    val units = Vectors.withUnit(emb)
      .select(col("vec_id"), col("unit")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sig(v: Array[Double], t: Int): Long =
      Vectors.lshPlanes(8, 64, start = t * 8).zipWithIndex.map { case (p, j) =>
        val d = p.zip(v).foldLeft(0.0)((a, x) => a + x._1 * x._2)
        if (d >= 0) 1L << j else 0L
      }.sum
    out.foreach { case (t, r, _) =>
      assert((0 until 4).exists(tb =>
        java.lang.Long.bitCount(sig(units(t), tb) ^ sig(units(r), tb)) <= 1),
        s"pair ($t, $r) not within Hamming-1 in any table")
    }
    // deterministic under repartitioning
    val again = Vectors.marginPairsBucketed(test.repartition(7), train.repartition(5),
      marginPpmThreshold = 0L)
      .collect().map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("margin_ppm")))
    assert(out.toSet === again.toSet)
  }

  test("marginDirectedCandidates: probe contract, exhaustive-probe ≡ exact, " +
      "directed beats blind at equal-or-less candidate volume") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val test = emb.filter(col("vec_id") % 10 < 2)
    val train = emb.filter(col("vec_id") % 10 >= 2)
    val testIds = test.select("vec_id").collect().map(_.getLong(0)).toSet
    val trainIds = train.select("vec_id").collect().map(_.getLong(0)).toSet
    // contract: distinct (test, train) pairs from the right id spaces,
    // deterministic under repartitioning
    val cand = Vectors.marginDirectedCandidates(test, train).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.nonEmpty)
    assert(cand.distinct.length === cand.length)
    assert(cand.forall { case (t, r) => testIds(t) && trainIds(r) })
    val again = Vectors.marginDirectedCandidates(
      test.repartition(7), train.repartition(5)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.toSet === again.toSet)
    // an identical vector pair shares every orthonormal sign-code, so the
    // zero-flip probe alone must surface it: vec 0's exact duplicate
    // planted under a train-side id is always a candidate of test vec 0
    val dup = emb.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val withDup = Vectors.marginDirectedCandidates(
      test, train.unionByName(dup, allowMissingColumns = true), probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withDup.contains((0L, 100000L)),
      "zero-flip probe missed an exact duplicate")
    // exhaustive probing (every mask of every table) degenerates to the
    // full grid, so the margin tail must reproduce exact marginPairs
    // BIT-FOR-BIT — margins included (candidates only prune, never rescore)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("margin_ppm"))).toSet
    val exhaustive = rows(Vectors.marginPairsDirected(test, train,
      marginPpmThreshold = 0L, nPlanes = 6, probes = 64, maxFlip = 6))
    val exact = rows(Vectors.marginPairs(test, train, marginPpmThreshold = 0L))
    assert(exhaustive === exact,
      "exhaustive directed probing must equal the exact miner bit-for-bit")
    // directed probing's HEADLINE property (round-12 verdict #3): at the
    // default operating point it recovers MORE of the exact pair set than
    // the blind radius-1 probe while generating no more candidates —
    // probe budget spent on the query's own low-margin planes pays
    val directedPairs = rows(Vectors.marginPairsDirected(test, train,
      marginPpmThreshold = 0L)).map(p => (p._1, p._2))
    val blindPairs = rows(Vectors.marginPairsBucketed(test, train,
      marginPpmThreshold = 0L)).map(p => (p._1, p._2))
    val exactPairs = exact.map(p => (p._1, p._2))
    val dirOv = directedPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    val blindOv = blindPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(dirOv >= blindOv,
      f"directed overlap $dirOv%.3f fell below blind radius-1 overlap $blindOv%.3f")
  }

  test("marginPairsScan: corpus-wide shortlist ≡ exact marginPairs; tight shortlist stays close") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val test = emb.filter(col("vec_id") % 10 < 2)
    val train = emb.filter(col("vec_id") % 10 >= 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("margin_ppm"))).toSet
    // shortlist ≥ |train| and ≥ |test| ⇒ candidates = the full grid ⇒ the
    // scan path must reproduce exact margin mining BIT-FOR-BIT (margins
    // included): the SQ8 stage then only orders candidates, never prunes
    val n = math.max(test.count(), train.count()).toInt
    val wide = rows(Vectors.marginPairsScan(test, train,
      marginPpmThreshold = 0L, shortlist = n))
    val exact = rows(Vectors.marginPairs(test, train, marginPpmThreshold = 0L))
    assert(wide === exact)
    assert(wide.nonEmpty)
    // the shipped tight shortlist (8): recovery stays high — the scan
    // ceiling is SQ8 ordering quality, not bucket geometry
    val tight = rows(Vectors.marginPairsScan(test, train, marginPpmThreshold = 0L))
    val overlap = tight.map(p => (p._1, p._2))
      .intersect(exact.map(p => (p._1, p._2))).size.toDouble / exact.size
    assert(overlap >= 0.9, s"scan overlap $overlap")
  }

  test("marginPairsGated: gate separates geometries an order of magnitude apart; " +
      "routed branch recovers the exact pairs sub-linearly on clustered data") {
    import org.apache.spark.sql.functions.col
    // isotropic fixture: p99 of sampled |pair cos| sits near 2.33/√d,
    // under the 3.5/√d gate ⇒ the dispatch picks the compressed scan —
    // which is what the s38 oracle (s32's SQL verbatim) pins end-to-end
    val iso = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val gate = Vectors.concentrationGate(iso)
    val isoP99 = Vectors.pairConcentrationP99(iso)
    assert(isoP99 < gate, s"isotropic p99 $isoP99 vs gate $gate")
    // clustered twin (the RecallReport corpus shape, smaller): 8 one-hot-
    // anchored clusters + integer-hash noise — deterministic, no RNG
    val rows = (0L until 400L).map { i =>
      val label = (i % 8L).toInt
      val v = new Array[Float](64)
      v(8 * label) = 1.0f
      var j = 0
      while (j < 64) {
        val h = java.lang.Long.rotateLeft(
          (i * 64 + j) * 0x9E3779B97F4A7C15L, 31) * 0xBF58476D1CE4E5B9L
        v(j) += (((h >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 0.3).toFloat
        j += 1
      }
      (i, v)
    }
    val cl = rows.toDF("vec_id", "embedding")
    val clP99 = Vectors.pairConcentrationP99(cl)
    assert(clP99 > gate, s"clustered p99 $clP99 vs gate $gate")
    val test = cl.filter(col("vec_id") % 10 < 2)
    val train = cl.filter(col("vec_id") % 10 >= 2)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"))).toSet
    val exact = pairs(Vectors.marginPairs(test, train, marginPpmThreshold = 0L))
    assert(exact.nonEmpty)
    // the gated dispatch on clustered data IS the routed miner …
    val gated = pairs(Vectors.marginPairsGated(test, train, marginPpmThreshold = 0L))
    assert(gated === pairs(Vectors.marginPairsRouted(test, train, marginPpmThreshold = 0L)))
    // … and it recovers ≥ 0.9 of the exact forward-top-1 pair set from a
    // SUB-linear candidate fraction (probed buckets over trained routing)
    val overlap = gated.intersect(exact).size.toDouble / exact.size
    assert(overlap >= 0.9, s"routed overlap $overlap")
    val frac = Vectors.marginRoutedCandidates(test, train).count().toDouble /
      (test.count() * train.count())
    assert(frac < 0.5, s"candidate fraction $frac not sub-linear")
    // exactness limit: probing EVERY bucket makes the candidate set the
    // full grid, so routed must reproduce exact margin mining BIT-FOR-BIT
    // (margins included) — routing only prunes, never rescores
    def withMargins(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("margin_ppm"))).toSet
    val c = Vectors.spacedCentroidIds(train.count()).size
    assert(withMargins(Vectors.marginPairsRouted(test, train,
        marginPpmThreshold = 0L, nprobe = c)) ===
      withMargins(Vectors.marginPairs(test, train, marginPpmThreshold = 0L)))
  }

  test("pqRerankTopKWithCodebook: corpus-wide shortlist ≡ brute force at m=16/ks=64") {
    // the shipped s9 geometry (16 subspaces × 64 centroids) through the
    // codebook seam: when the shortlist covers the corpus the exact re-rank
    // must reproduce brute force regardless of code quality
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val unit = Vectors.withUnit(emb)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("unit"))
    val queries = Seq(0L, 1L)
    val exact = hits(Vectors.topK(emb, Left(queries), 5))
    val wide = hits(Vectors.topK(emb, Left(queries), 5,
      AnnSpec(score = PqCodebook(16, Vectors.spacedPqCodebook(unit, 64)),
        refine = Rerank(emb.count().toInt))))
    assert(wide === exact)
  }

  test("beamSearchServedPruned rejects a 4097-id batch before reading any table") {
    // both tables are absent: any read would fail with an AnalysisException,
    // so the IllegalArgumentException proves the ceiling is checked first
    val e = intercept[IllegalArgumentException] {
      Vectors.beamSearchServedPruned(spark, "absent_nav_units_table",
        spark.range(1).toDF("absent_graph"), queryIds = 0L until 4097L,
        entryIds = Seq(0L))
    }
    assert(e.getMessage.contains("query batch 4097 exceeds the 4096 ceiling"), e.getMessage)
  }
}
