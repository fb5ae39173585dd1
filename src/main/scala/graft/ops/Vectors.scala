package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Vector similarity over the `embeddings` table (`embedding:
  * Array[Float]`): brute-force cosine top-k as the exact baseline, and an
  * IVF-style bucketed variant as the scale path.
  *
  * Numeric determinism: floats are widened to double *before* any arithmetic
  * (float→double is exact), `aggregate()` folds arrays sequentially, and the
  * DuckDB oracle runs the identical expression over the identical operand
  * order, so similarities match bit-for-bit. Ranking ties are broken by
  * vector id.
  *
  * Scale design:
  *   - **Normalize once, dot everywhere**: every vector is L2-normalized a
  *     single time ([[withUnit]]), so each candidate pair costs one dot
  *     product instead of dot + two norms (3× less arithmetic on the O(N·k)
  *     pair stage — the stage that dominates at scale).
  *   - Brute force broadcasts a *small query set* against the full corpus —
  *     the corpus side streams through one narrow pass, never shuffles.
  *     Cost O(|Q|·N·d): right for |Q| ≪ N.
  *   - IVF: assign every vector to its nearest of C centroids (broadcast,
  *     O(N·C·d)), then search only the query's bucket — the classic
  *     recall/cost trade; the bucket column doubles as the blocking key for
  *     near-dup pair generation (O(Σ bucket²) ≪ O(N²)).
  */
object Vectors extends VectorCore with VectorTraining with VectorArtifacts
  with VectorMarginMining

/** The shared CORE of the vector surface: similarity primitives, the ANN
  * search families (brute/quantized/PQ/IVF/two-level/multi-probe/LSH/graph
  * walks), assignment/centroid plumbing, and the report/eval queries.
  * Training, persisted artifacts, and margin mining live in the sibling
  * traits ([[VectorTraining]], [[VectorArtifacts]], [[VectorMarginMining]])
  * — one file per seam under the repo's 2 500-line bound — all mixed into
  * [[Vectors]], which remains the single public entry point.
  */
private[ops] trait VectorCore {

  /** Sequential dot product over double arrays — a custom codegen'd Catalyst
    * expression ([[graft.functions.DotProduct]]): the HOF formulation
    * (`aggregate(zip_with(...))`) is interpreted and dominates the pair
    * stage; the expression folds identically (left-to-right double
    * accumulation, bit-compatible with the oracle) inside whole-stage
    * codegen.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Full cosine — reference formulation; the batch paths below avoid it in
    * favor of unit vectors.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Attach the L2-normalized double vector as `unit` — one codegen'd
    * expression ([[graft.functions.VectorFunctions.unitVector]]): the HOF
    * form (`transform` dividing by an `aggregate` fold) evaluated
    * interpreted at the head of every ANN query; the expression runs the
    * identical arithmetic (sequential square sum, sqrt, per-element
    * divide — float→double casts are exact) inside whole-stage codegen,
    * so unit vectors and every downstream hash stay bit-identical.
    */
  def withUnit(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.withColumn("unit",
      graft.functions.VectorFunctions.unitVector(col(vecCol).cast("array<double>")))

  /** Top-k neighbours of each query under one [[AnnSpec]] — the one
    * similarity-search code path behind every ANN query, its recall
    * report and the truth passes. `queries` is either ids into the corpus
    * (a query never returns itself) or a second (vec_id, embedding) frame
    * routed like the corpus (the cross-corpus join; no self-exclusion).
    * Output: (query_id, neighbor_id, rank).
    *
    *   1. Normalize and route the corpus once, into one cache.
    *   2. Id queries are a literal IN filter over that cache, so they are
    *      bounded and broadcast; a query frame routes against the corpus's
    *      centroids.
    *   3. One candidate join scores one `sim` column: bucket routes join on
    *      the bucket key (the corpus streams, never shuffles), the flat
    *      route is a broadcast nested-loop join. Compressed scores read
    *      only codes in this join.
    *   4. Rank per query by (sim desc, neighbor_id asc) — [[topKPerGroup]]
    *      — and, for [[AnnSpec.Rerank]], re-score the broadcast nq·L
    *      shortlist against the cached unit vectors.
    *
    * Every stage is deterministic (exact min/max, spaced ids, pinned
    * encode/decode order, sequential dot folds), so each registry spec is
    * DuckDB-attestable row for row.
    */
  def topK(embeddings: DataFrame, queries: Either[Seq[Long], DataFrame], k: Int,
      spec: AnnSpec = AnnSpec()): DataFrame = {
    val frames = new graft.plans.PlanGuard.CheckpointChain
    def units(df: DataFrame) = withUnit(df).select(col("vec_id"), col("unit"))
    val corpusUnit = units(embeddings)
    val corpus = frames.persist(route(corpusUnit, spec.route, corpusUnit))
    val (encodeQ, encodeE, score) = scoring(spec.score, corpus)
    // an encoder on the streamed side of a generated join loop runs once per
    // candidate pair, so an encoded corpus side is cached once per vector
    val cand = candidates(corpus, spec.route, encodeE)
    val candSide = if (spec.score == AnnSpec.Exact) cand else frames.persist(cand)
    val byId = queries.isLeft
    def bounded(df: DataFrame) = if (byId) F.broadcast(df) else df
    val routedQ = queries
      .fold(ids => corpus.filter(col("vec_id").isin(ids: _*)),
        q => route(units(q), spec.route, corpusUnit))
      .withColumnRenamed("vec_id", "query_id")
    val (probed, keys) = probe(routedQ, corpus, spec)
    val pairs = bounded(probed.select(col("query_id") +: keys.map(col) :+
        encodeQ(col("unit")).as("q"): _*))
      .join(candSide, keys)
      .filter(if (byId) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), score(col("q"), col("e")).as("sim"))
    // a pair colliding in several LSH tables is scored once per collision
    val scored = if (keys.contains("t")) pairs.distinct() else pairs
    frames.close(spec.refine match {
      case AnnSpec.NoRefine => topKPerGroup(scored, "query_id", k)
      case AnnSpec.Rerank(shortlist) =>
        val short = topKPerGroup(scored, "query_id", shortlist)
          .select(col("query_id"), col("neighbor_id"))
        topKPerGroup(corpus.select(col("vec_id").as("neighbor_id"), col("unit").as("b"))
          .join(F.broadcast(short), Seq("neighbor_id"))
          .join(bounded(routedQ.select(col("query_id"), col("unit").as("q"))), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), dot(col("q"), col("b")).as("sim")),
          "query_id", k)
    })
  }

  /** The route stage over a (vec_id, unit) frame: adds `bucket` (IVF, LSH;
    * multi-table LSH keys are generated at the join, [[tableKeys]]).
    * Centroid ids resolve against `corpusUnit`, so a query frame routes
    * into the corpus's buckets.
    */
  private def route(unit: DataFrame, r: AnnSpec.Route, corpusUnit: DataFrame): DataFrame =
    r match {
      case _: AnnSpec.Flat | _: AnnSpec.LshTables => unit
      case AnnSpec.Lsh(nPlanes, dim) => withLshBucket(unit, nPlanes, dim)
      case AnnSpec.IvfTwoLevel(fineIds, coarseIds) =>
        assignTwoLevel(unit, idCentroids(corpusUnit, fineIds), idCentroids(corpusUnit, coarseIds))
      case ivf => assignToCentroids(unit, centroidsOf(corpusUnit, ivf))
    }

  private def idCentroids(unit: DataFrame, ids: Seq[Long]): DataFrame =
    unit.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("centroid_id"), col("unit").as("c"))

  /** An IVF route's (centroid_id, c) table — the buckets a query probes. */
  private def centroidsOf(unit: DataFrame, r: AnnSpec.Route): DataFrame = r match {
    case AnnSpec.Ivf(ids) => idCentroids(unit, ids)
    case AnnSpec.IvfTwoLevel(fineIds, _) => idCentroids(unit, fineIds)
    case AnnSpec.IvfTrained(cs) => centroidFrame(unit.sparkSession, cs)
    case other => throw new IllegalArgumentException(s"$other has no centroids to probe")
  }

  /** The probe stage: the query side as (query_id, keys…, unit) rows and
    * the key columns the candidate join matches on. Corpus vectors live in
    * exactly one bucket per table, and probed buckets are distinct, so
    * only multi-table collisions repeat a pair.
    */
  private def probe(q: DataFrame, corpus: DataFrame,
      spec: AnnSpec): (DataFrame, Seq[String]) = (spec.route, spec.probe) match {
    case (_: AnnSpec.Flat, AnnSpec.Own) => (q, Nil)
    case (r: AnnSpec.LshTables, AnnSpec.Own) =>
      (tableKeys(q, r, "query_id", col("unit")).get, Seq("t", "bucket"))
    case (_, AnnSpec.Own) => (q, Seq("bucket"))
    // Lv et al. 2007: a near neighbour one sign bit away is LSH's dominant
    // miss; probing the nPlanes 1-flip buckets recovers it
    case (AnnSpec.Lsh(nPlanes, _), AnnSpec.Hamming1) =>
      val flips = col("bucket") +: (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
      (q.select(col("query_id"), explode(array(flips: _*)).as("bucket"), col("unit")),
        Seq("bucket"))
    case (r @ (_: AnnSpec.Ivf | _: AnnSpec.IvfTrained | _: AnnSpec.IvfTwoLevel),
        AnnSpec.Nearest(nprobe)) =>
      require(nprobe > 0, s"nprobe must be positive, got $nprobe")
      (topProbeBuckets(q, "query_id", "unit", centroidsOf(corpus, r), nprobe, 0), Seq("bucket"))
    case (r, p) => throw new IllegalArgumentException(s"probe $p does not apply to route $r")
  }

  /** The corpus side of the candidate join: (neighbor_id, keys…, e). */
  private def candidates(corpus: DataFrame, r: AnnSpec.Route,
      encode: Column => Column): DataFrame = {
    val c = (r match {
      case AnnSpec.Flat(Some(allowed)) =>
        corpus.join(allowed.select(col("vec_id")), Seq("vec_id"), "left_semi")
      case _ => corpus
    }).withColumnRenamed("vec_id", "neighbor_id")
    tableKeys(c, r, "neighbor_id", encode(col("unit")).as("e"))
      .getOrElse(c.select(c.columns.filter(_ != "unit").map(col) :+
        encode(col("unit")).as("e"): _*))
  }

  /** Multi-table LSH keys, one (t, bucket) row per table, computed as the
    * generator's input: projecting the same expression into an array
    * column first measured about 3× slower at sf0.1 (2 000 vectors, 4
    * cores).
    */
  private def tableKeys(df: DataFrame, r: AnnSpec.Route, id: String,
      vec: Column): Option[DataFrame] = r match {
    case AnnSpec.LshTables(nTables, nPlanes, dim) => Some(df.select(col(id),
      posexplode(tableBucketsExpr(nTables, nPlanes, dim)).as(Seq("t", "bucket")), vec))
    case _ => None
  }

  /** The score stage: how a unit vector is encoded on the query side and
    * on the corpus side of the candidate join, and how a pair scores.
    *   - SQ8: each unit dimension maps to an 8-bit code over the corpus's
    *     per-dimension min/max (d rows collected — metadata), scored by the
    *     decode-corrected dot ([[graft.functions.DequantizeDot]]), so the
    *     score approximates the true cosine and only byte codes travel.
    *   - PQ: the unit vector splits into `m` subspaces, each stored as its
    *     nearest codeword's index; the query keeps its full vector and
    *     scores each reconstruction (ADC) from the broadcast codebook.
    *   - JL: cosine between projections onto `planes` ±1 directions
    *     (Achlioptas 2003). sign(i, j) takes middle bits of a
    *     multiplicative hash — pure long arithmetic the SQL oracle
    *     regenerates; the parity of `i·a + j·b` alone is just parity(i+j).
    */
  private def scoring(score: AnnSpec.Score, corpus: DataFrame)
      : (Column => Column, Column => Column, (Column, Column) => Column) = {
    import graft.functions.VectorFunctions._
    def pq(m: Int, codebook: Seq[Double]) = {
      val cb = typedlit(codebook)
      ((u: Column) => u, (u: Column) => pqCode(u, cb, lit(m)),
        (q: Column, code: Column) => pqAdcDot(q, code, cb))
    }
    score match {
      case AnnSpec.Exact => (u => u, u => u, dot)
      case AnnSpec.Sq8 =>
        val stats = corpus
          .select(posexplode(col("unit")).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
          .collect().map(r => (r.getAs[Int]("i"), r.getAs[Double]("mn"), r.getAs[Double]("mx")))
          .sortBy(_._1)
        val (mn, mx) = (typedlit(stats.map(_._2).toSeq), typedlit(stats.map(_._3).toSeq))
        val code = (u: Column) => quantizeCode(u, mn, mx)
        (code, code, (a, b) => dequantizeDot(a, b, mn, mx))
      case AnnSpec.Pq(m, ks) => pq(m, spacedPqCodebook(corpus.select(col("vec_id"), col("unit")), ks))
      case AnnSpec.PqCodebook(m, codebook) => pq(m, codebook)
      case AnnSpec.Jl(planes) =>
        val d = corpus.select(size(col("unit")).as("d")).head().getAs[Int]("d")
        def sign(i: Int, j: Int): Double =
          if ((i.toLong * 2654435761L + j.toLong * 40503L) % 2147483648L / 65536L % 2L == 0L) 1.0
          else -1.0
        val proj = (u: Column) => unitVector(array((0 until planes).map { j =>
          dot(u, typedlit((0 until d).map(i => sign(i, j))))
        }: _*))
        (proj, proj, dot)
    }
  }

  /** Recall-targeted nprobe auto-tune — the production answer to "what
    * nprobe do I need?": measure recall@k of trained multi-probe IVF
    * against the exact top-k on a SAMPLE of queries, doubling nprobe (1, 2,
    * 4, …) until the measured recall reaches `target` (or the centroid
    * count caps it), then return the first passing nprobe. Every per-step
    * collect is |Q|·k id pairs — bounded metadata, never corpus-sized; the
    * corpus-side assignment caches once (every step's routed plan is the
    * same cached relation) and is released at the end. Deterministic given
    * the data, so the tuned value is reproducible — RECALL.json records the
    * tuned operating points per round.
    */
  def tunedNprobe(embeddings: DataFrame, centroids: Seq[(Long, Array[Double])],
      sampleQueryIds: Seq[Long], k: Int, target: Double): Int = {
    require(target > 0.0 && target <= 1.0, "target recall must be in (0, 1]")
    def hits(spec: AnnSpec): Set[(Long, Long)] =
      topK(embeddings, Left(sampleQueryIds), k, spec)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(AnnSpec())
    // an empty sample would make every recall comparison NaN-false and the
    // sweep would silently run to C — fail loudly instead (round-5 ADVICE)
    require(exact.nonEmpty,
      s"tunedNprobe: empty exact sample (|Q|=${sampleQueryIds.size}) — " +
        "sample query ids must exist in the corpus")
    val frames = new graft.plans.PlanGuard.CheckpointChain
    try {
      frames.persist(ivfAssignWithCentroids(embeddings, centroids))
      Iterator.iterate(1)(_ * 2).takeWhile(_ < centroids.size).find { nprobe =>
        val got = hits(AnnSpec(AnnSpec.IvfTrained(centroids), AnnSpec.Nearest(nprobe)))
        got.intersect(exact).size.toDouble / exact.size >= target
      }.getOrElse(centroids.size)
    } finally frames.close()
  }

  /** The ks spaced corpus unit vectors as a flat PQ codebook (the
    * deterministic parity codebook — derived from N alone, like
    * [[spacedCentroidIds]]). `unit` must be (vec_id, unit); collects
    * ks·d doubles (metadata).
    */
  def spacedPqCodebook(unit: DataFrame, ks: Int): Seq[Double] = {
    val n = unit.count()
    val step = math.max(1L, n / ks)
    val centIds = (0 until ks).map(_ * step).filter(_ < n)
    unit
      .filter(col("vec_id").isin(centIds: _*))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1))
      .sortBy(_._1)
      .flatMap(_._2)
      .toSeq
  }

  /** MMR (maximal-marginal-relevance) diversified re-rank — the retrieval
    * step after top-k: greedily pick `k` results that balance similarity to
    * the query against redundancy with what's already picked,
    * `mmr(d) = λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`.
    *
    * Scale shape: the corpus-sized work is exactly the brute-force scoring
    * pass (queries broadcast, corpus streams); everything after operates on
    * the per-query SHORTLIST (top-`shortlist` candidates + their O(n²)
    * pairwise sims — hundreds of rows per query, metadata-sized). The
    * greedy selection unrolls as `k` deterministic argmax steps (window
    * row_number with id tie-break), the same fixed-round discipline as
    * [[graft.operators.Graph.pageRank]], so the whole operator is
    * oracle-attestable; a real deployment would swap the brute-force
    * front-end for any of the IVF/PQ shortlists (s2–s12) unchanged.
    */
  def mmrRerank(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5,
      shortlist: Int = 20, lambda: Double = 0.5): DataFrame = {
    val frames = new graft.plans.PlanGuard.CheckpointChain
    val unit = frames.persist(withUnit(embeddings).select(col("vec_id"), col("unit")))
    val queries = unit
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val short = frames.persist(F.broadcast(queries)
      .join(unit.select(col("vec_id").as("neighbor_id"), col("unit").as("e")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("q"), col("e")).as("sim"), col("e"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist))
    val cand = short.select(col("query_id"), col("neighbor_id"), col("sim"))
    val pairs = frames.persist(
      short.select(col("query_id"), col("neighbor_id").as("a"), col("e").as("ea"))
      .join(short.select(col("query_id"), col("neighbor_id").as("b"), col("e").as("eb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"), dot(col("ea"), col("eb")).as("sim_ab")))
    // step 1: plain argmax of sim; steps 2..k: argmax of the MMR score
    var selected = cand
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("mmr_rank"))
    for (i <- 2 to k) {
      val rem = cand.join(selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val pen = pairs
        .join(selected.select(col("query_id"), col("neighbor_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a"))
        .agg(max(col("sim_ab")).as("pen"))
      val wi = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("mmr").desc, col("neighbor_id").asc)
      val next = rem
        .join(pen, rem("query_id") === pen("query_id") && rem("neighbor_id") === pen("a"))
        .select(rem("query_id"), col("neighbor_id"),
          (lit(lambda) * col("sim") - lit(1.0 - lambda) * col("pen")).as("mmr"))
        .withColumn("rn", row_number().over(wi)).filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(i.toLong).as("mmr_rank"))
      // truncate lineage each round: `selected` feeds BOTH the next round's
      // anti-join/penalty AND the final union — without an eager checkpoint
      // round i re-executes rounds 1..i-1 (O(k²) stages). The frame is
      // (queries × i) rows — metadata — so the checkpoint is free
      selected = frames.eager("mmr_round", selected.union(next))
    }
    // the output is fully materialized by the final checkpoint — release
    // the corpus-sized caches instead of leaving them to the caller
    frames.close(selected)
  }

  /** k-NN graph construction — every vector's top-k neighbors, not a query
    * batch's: the structure near-dup clustering (feed the edges to
    * [[graft.ops.Dedup.dedupGroups]]), graph-based ANN indexes, and
    * embedding-space diagnostics are built from. Brute force is O(N²·d);
    * this is the d6 discipline applied to ranked neighbors: IVF-bucket the
    * corpus with ⌈√N⌉ spaced centroids, self-join WITHIN buckets
    * (Σ m² ≈ N^1.5 pair work), rank per source vector. Neighbors are
    * in-bucket by construction (the recall trade d6/s2 document); a vector
    * alone in its bucket reports no edges.
    */
  def knnGraph(embeddings: DataFrame, k: Int = 3): DataFrame = {
    val assigned = ivfAssign(embeddings, spacedCentroidIds(embeddings.count()))
      .select(col("vec_id"), col("bucket"), col("unit"))
      .persist() // both sides of the bucket self-join
    val scored = assigned.select(col("vec_id").as("src_id"),
        col("bucket"), col("unit").as("a"))
      .join(assigned.select(col("vec_id").as("neighbor_id"),
        col("bucket"), col("unit").as("b")), Seq("bucket"))
      .filter(col("src_id") =!= col("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"), dot(col("a"), col("b")).as("sim"))
    topKPerGroup(scored, "src_id", k)
  }

  /** Navigable neighbor graph — the index the beam search ([[beamSearch]])
    * actually needs, where [[knnGraph]] is the per-bucket NEIGHBOR LIST
    * product (near-dup clustering, diagnostics). The round-5 verdict
    * measured why the distinction matters: a k=3 graph whose edges are
    * in-bucket by construction is a disjoint union of per-bucket islands —
    * the walk can never leave the buckets its entry beam seeded, and beam
    * recall@10 read 0.03–0.11 while every other family sat at 0.87–1.0.
    *
    * Two structural fixes, both relational:
    *   - '''multi-assignment''': every vector joins its top-`nAssign` IVF
    *     buckets (not just the argmax), so candidate edges cross bucket
    *     boundaries wherever two vectors share ANY of their top buckets —
    *     the overlap stitches adjacent Voronoi cells into one navigable
    *     fabric (the NSW/HNSW requirement).
    *   - '''density''': `k` ≥ 8 out-edges per node (HNSW's M, not the
    *     3 a neighbor-list product wants), so each hop multiplies the
    *     explored frontier instead of stalling on it.
    *
    * Scale shape: the bucket self-join does Σ m² pair work with
    * m ≈ nAssign·N/√N per bucket — nAssign²·N^1.5, the s14 asymptotic with
    * a constant factor, and the same df-cap discipline applies if a
    * trained centroid set skews. Pairs colliding in several shared buckets
    * dedupe BEFORE ranking (DISTINCT on the deterministic scored pair).
    * Output: (src_id, neighbor_id, rank ≤ k) — build once, serve every
    * query; deterministic, so the DuckDB oracle reproduces the graph
    * edge-for-edge.
    */
  def navGraph(embeddings: DataFrame, k: Int = 24, nAssign: Int = 3): DataFrame = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit"))
    val centroids = unit
      .filter(col("vec_id").isin(spacedCentroidIds(embeddings.count()): _*))
      .select(col("vec_id").as("centroid_id"), col("unit").as("c"))
    navGraphOver(unit, centroids, k, nAssign)
  }

  /** [[navGraph]] against TRAINED centroids — the same quality seam
    * [[trainedCentroids]] gives IVF, and for the same reason: spaced
    * corpus-member seeds are only as good as the id order is
    * structure-free. RECALL.json's `clustered` section measures the
    * failure mode — on a corpus whose labels correlate with vec_id, the
    * stride resonates with the label cycle, seeds under-cover the label
    * space, buckets mix clusters, and the spaced-seed graph walk drops to
    * 0.25 recall while this trained build holds — so the production
    * recipe at 100 TB is trained centroids for BOTH the IVF index and the
    * graph build.
    */
  def navGraphTrained(embeddings: DataFrame,
      centroids: Seq[(Long, Array[Double])], k: Int = 24,
      nAssign: Int = 3): DataFrame = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit"))
    navGraphOver(unit,
      centroidFrame(embeddings.sparkSession, centroids)
        .select(col("centroid_id"), col("c")), k, nAssign)
  }

  /** Coverage-guaranteed entry set for the graph walk: one representative
    * (the min vec_id) per assignment bucket. The walk can only ever reach
    * nodes connected to its entry beam, and on a CLUSTERED corpus the
    * graph's edges are within-cluster by construction — so an entry set
    * that misses a cluster makes that cluster unreachable no matter how
    * good the graph is. RECALL.json's `clustered` section measures the
    * failure: spaced corpus-member entries resonate with the id-correlated
    * label cycle, cover 4 of 16 clusters, and cap BOTH the spaced and the
    * trained graph walk at exactly 4/16 = 0.25 recall; this per-bucket
    * entry set restores the walk. Collecting it is C longs — metadata.
    */
  def navEntryIds(embeddings: DataFrame,
      centroids: Seq[(Long, Array[Double])]): Seq[Long] = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit"))
    assignToCentroids(unit, centroidFrame(embeddings.sparkSession, centroids))
      .groupBy(col("bucket")).agg(min(col("vec_id")).as("rep"))
      .collect().map(_.getAs[Long]("rep")).toSeq.distinct.sorted
  }

  private[ops] def navGraphOver(unit: DataFrame, centroids: DataFrame, k: Int,
      nAssign: Int): DataFrame = {
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("csim").desc, col("centroid_id").asc)
    val assigned = unit.join(F.broadcast(centroids))
      .select(col("vec_id"), col("unit"), col("centroid_id"),
        dot(col("unit"), col("c")).as("csim"))
      .withColumn("rn", F.row_number().over(wA))
      .filter(col("rn") <= nAssign)
      .select(col("vec_id"), col("centroid_id").as("bucket"), col("unit"))
      .persist() // both sides of the bucket self-join
    val scored = assigned.select(col("vec_id").as("src_id"),
        col("bucket"), col("unit").as("a"))
      .join(assigned.select(col("vec_id").as("neighbor_id"),
        col("bucket"), col("unit").as("b")), Seq("bucket"))
      .filter(col("src_id") =!= col("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"), dot(col("a"), col("b")).as("sim"))
      .distinct() // a pair sharing j ≤ nAssign² buckets collides j times
    topKPerGroup(scored, "src_id", k)
  }

  /** Graph-based ANN: beam search over the [[navGraph]] edge structure —
    * the fourth index family next to hashing (LSH), routing (IVF), and
    * quantization (PQ/SQ): HNSW-style engines answer queries by WALKING a
    * neighbor graph, and this is that walk as a relational fixpoint. From
    * a fixed entry set, each round expands the current beam's graph
    * neighbors, re-scores, and keeps the best `beam` nodes per query
    * (ties to the smaller id); after a fixed `rounds` horizon the top-k
    * of the final beam is the answer. Fixed rounds + deterministic
    * pruning make the walk oracle-attestable (the s24 oracle unrolls the
    * identical rounds; the t32/t42 discipline applied to ANN).
    *
    * Shipped operating point (tuned on the fixture, curve in RECALL.json):
    * graphK = 24, nAssign = 3, beam = 32, rounds = 4 → recall@10 = 0.956,
    * above tuned IVF's 0.925 — the round-6 answer to the round-5 verdict,
    * where a k = 3 in-bucket graph capped the walk at 0.11.
    *
    * Scale shape per round: the frontier is (queries × beam)-sized
    * metadata; expansion is one hash join against the persisted edge
    * list, scoring one hash join against the unit-vector frame with the
    * query side broadcast, and the prune window partitions per query
    * over ≤ beam·(graphK+1) candidates. Cost model, stated honestly:
    * everything that SHUFFLES is frontier-sized — O(rounds·beam·graphK)
    * rows — but the scoring join is a broadcast-probe pass over the unit
    * frame, so per-round I/O is N-linear (shuffle-free, embarrassingly
    * parallel, cache-resident once persisted), not the O(1) point lookups
    * a memory-resident HNSW does. That pass is the deployment seam at
    * 100 TB: a vec_id-sorted units artifact with the frontier's ids
    * pushed down as a literal IN (the x58 postings discipline), or an
    * external KV lookup, turns it into pruned point reads — the walk's
    * relational semantics (and its oracle) don't change.
    */
  def beamSearch(embeddings: DataFrame, queryIds: Seq[Long],
      entryIds: Seq[Long], k: Int = 5, beam: Int = 32, rounds: Int = 4,
      graphK: Int = 24, nAssign: Int = 3): DataFrame = {
    val frames = new graft.plans.PlanGuard.CheckpointChain
    val unit = frames.persist(withUnit(embeddings).select(col("vec_id"), col("unit")))
    frames.close(beamSearchOver(unit, navGraph(embeddings, graphK, nAssign),
      queryIds, entryIds, k, beam, rounds))
  }

  /** The walk itself over a PREBUILT unit frame + edge list — the
    * production shape (the graph is built once and serves every query;
    * [[beamSweep]] shares one graph across all beam widths). The caller
    * owns `unit`'s cache, so multi-serve reads share one corpus-scale
    * normalization cache across walks (round-9 verdict #3); the walk
    * caches the edge list itself and releases it before returning.
    */
  private[ops] def beamSearchOver(unit: DataFrame, graph: DataFrame,
      queryIds: Seq[Long], entryIds: Seq[Long], k: Int, beam: Int,
      rounds: Int): DataFrame = {
    val frames = new graft.plans.PlanGuard.CheckpointChain
    val edges = frames.persist(graph.select(col("src_id"), col("neighbor_id")))
    val queries = F.broadcast(unit.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("qv")))
    def scoreAndPrune(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(unit.select(col("vec_id").as("node"), col("unit").as("nv")), Seq("node"))
        .join(queries, Seq("query_id"))
        .filter(col("query_id") =!= col("node"))
        .select(col("query_id"), col("node"), dot(col("qv"), col("nv")).as("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("sim").desc, col("node").asc)
      scored.withColumn("rn", F.row_number().over(w))
        .filter(col("rn") <= beam)
        .select(col("query_id"), col("node"), col("sim"))
    }
    val entries = unit.filter(col("vec_id").isin(entryIds: _*))
      .select(col("vec_id").as("node"))
    // localCheckpoint per round: round i references round i−1 TWICE
    // (expansion join + union), so the untruncated logical plan is 2^r
    // scans re-running every earlier round — the t42/t43 lineage lesson.
    // LAZY chain since round 13 (blocks persist-backed, stored at first
    // compute, later references read them); round 14 adds the chain's
    // eager final barrier, whose one job materializes the walk and
    // releases every superseded round's blocks (verdict #2/#6) — the
    // walk leaves only the final state's |Q|·beam-bounded blocks behind.
    var state = frames.round("beam_seed",
      scoreAndPrune(queries.select(col("query_id")).crossJoin(entries)))
    for (r <- 1 to rounds) {
      val expanded = state.select(col("query_id"), col("node").as("src_id"))
        .join(edges, Seq("src_id"))
        .select(col("query_id"), col("neighbor_id").as("node"))
        .unionByName(state.select(col("query_id"), col("node")))
        .distinct()
      state = if (r == rounds) frames.last("beam_round", scoreAndPrune(expanded))
        else frames.round("beam_round", scoreAndPrune(expanded))
    }
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("node").asc)
    frames.close(state.withColumn("rank", F.row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("rank").cast("long").as("rank")))
  }

  /** Beam-width tuning table — the d36/s23 sweep discipline applied to the
    * graph family: recall@k of [[beamSearch]] at each beam width against
    * the exact brute-force truth, in one query. The kNN graph and unit
    * frame are built ONCE and shared across all widths (the production
    * amortization [[beamSearch]]'s scaladoc promises, exercised here),
    * so the sweep costs one graph build plus |beams| frontier-sized
    * walks. Recall is integer ppm (`hits·10⁶ div (k·|queries|)`), so the
    * curve is cross-engine exact. Unlike s23's nprobe sweep (candidate
    * sets nest exactly, so recall is monotone by theorem), beam pruning
    * CAN in principle evict a narrow-beam hit from a wider walk — the
    * frontier-superset argument only binds at round 0; the spec pins the
    * monotone curve empirically on the fixture, where it holds. A beam
    * covering the whole reachable region approaches the graph's recall
    * ceiling (the in-bucket edge structure, not the walk, becomes the
    * binding limit).
    *
    * Output: (beam, n_hits, recall_ppm), one row per width.
    */
  def beamSweep(embeddings: DataFrame, queryIds: Seq[Long],
      entryIds: Seq[Long], k: Int = 5, beams: Seq[Int] = Seq(4, 8, 16, 32),
      rounds: Int = 4, graphK: Int = 24, nAssign: Int = 3): DataFrame =
    beamSweepServed(embeddings,
      navGraph(embeddings, graphK, nAssign), queryIds, entryIds, k, beams, rounds)

  /** [[beamSweep]] over a PREBUILT edge list — the s26 query serves the
    * sweep from the SAME persisted graph artifact the s33 search reads
    * ([[materializedNavGraph]]): one graph build per session feeds the
    * search, the served search, and the tuning table (the d16/d23/d27
    * cost-sharing discipline applied to the graph family).
    */
  def beamSweepServed(embeddings: DataFrame, graphIn: DataFrame,
      queryIds: Seq[Long], entryIds: Seq[Long], k: Int = 5,
      beams: Seq[Int] = Seq(4, 8, 16, 32), rounds: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val frames = new graft.plans.PlanGuard.CheckpointChain
    val unit = frames.persist(withUnit(embeddings).select(col("vec_id"), col("unit")))
    val graph = frames.persist(graphIn.select(col("src_id"), col("neighbor_id")))
    val truth = frames.persist(topK(embeddings, Left(queryIds), k)
      .select(col("query_id"), col("neighbor_id")))
    val queries = F.broadcast(unit.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("qv")))
    val widths = F.broadcast(beams.map(_.toLong).toDF("beam"))
    // ALL widths advance in one walk: `beam` rides as a state column and
    // the prune limit is the per-row `rn <= beam` — |beams| walks cost
    // the job count of one (the sequential-walks first cut read 8.0 s;
    // this form runs the same 1 + rounds checkpointed stages as s24)
    def prune(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(unit.select(col("vec_id").as("node"), col("unit").as("nv")), Seq("node"))
        .join(queries, Seq("query_id"))
        .filter(col("query_id") =!= col("node"))
        .select(col("beam"), col("query_id"), col("node"),
          dot(col("qv"), col("nv")).as("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("beam"), col("query_id"))
        .orderBy(col("sim").desc, col("node").asc)
      scored.withColumn("rn", F.row_number().over(w))
        .filter(col("rn") <= col("beam"))
        .select(col("beam"), col("query_id"), col("node"), col("sim"))
    }
    val entries = unit.filter(col("vec_id").isin(entryIds: _*))
      .select(col("vec_id").as("node"))
    // LAZY checkpoint chain (rounds 13/14): same rationale as
    // [[beamSearchOver]] — lazy rounds, one eager final barrier that
    // materializes the walk and releases every superseded round's blocks.
    var state = frames.round("beam_sweep_seed",
      prune(widths.crossJoin(queries.select(col("query_id"))).crossJoin(entries)))
    for (r <- 1 to rounds) {
      val expanded = state
        .select(col("beam"), col("query_id"), col("node").as("src_id"))
        .join(graph, Seq("src_id"))
        .select(col("beam"), col("query_id"), col("neighbor_id").as("node"))
        .unionByName(state.select(col("beam"), col("query_id"), col("node")))
        .distinct()
      state = if (r == rounds) frames.last("beam_sweep_round", prune(expanded))
        else frames.round("beam_sweep_round", prune(expanded))
    }
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("beam"), col("query_id"))
      .orderBy(col("sim").desc, col("node").asc)
    val hits = state.withColumn("rank", F.row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("beam"), col("query_id"), col("node").as("neighbor_id"))
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("beam")).agg(count(lit(1)).as("n_hits"))
    val denom = k.toLong * queryIds.size
    // a width with ZERO hits still gets its row (the curve's floor is
    // data). Fresh UN-hinted config frame on the preserved side: `widths`
    // carries a broadcast hint for the walk's cross join, and a hint on
    // the LEFT of a left-outer equi-join is unsupported (Spark drops it
    // with a warning); the ≤|beams|-row aggregate broadcasts instead
    frames.close(beams.map(_.toLong).toDF("beam")
      .join(F.broadcast(hits), Seq("beam"), "left")
      .select(col("beam"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm", expr(s"n_hits * 1000000 div $denom")))
  }

  /** Radius (threshold) search — the OTHER retrieval mode: not "the k
    * best" but "every vector at least τ-similar" (duplicate sweeps with a
    * fixed bar, recall-oriented candidate generation, d6's pair screen
    * turned query-centric). Same IVF routing as the top-k family: queries
    * probe only their own ⌈√N⌉-spaced bucket, so a probe scores O(√N)
    * candidates, not N. Output is float-free (query_id, neighbor_id) —
    * the τ comparison runs on engine doubles, the emitted columns stay
    * integer-exact (the d6 discipline).
    */
  def radiusSearch(embeddings: DataFrame, queryIds: Seq[Long], tau: Double): DataFrame = {
    val assigned = ivfAssign(embeddings, spacedCentroidIds(embeddings.count()))
      .select(col("vec_id"), col("bucket"), col("unit"))
      .persist() // query side re-reads the corpus assignment
    val queries = assigned
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("bucket"), col("unit").as("q"))
    F.broadcast(queries)
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("unit").as("b")), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(dot(col("q"), col("b")) >= tau)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Rank candidates per group by (sim desc, neighbor asc) and keep top-k. */
  private[ops] def topKPerGroup(scored: DataFrame, groupCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** IVF assignment: every vector → nearest centroid by cosine (ties to the
    * smaller centroid id). Output columns: vec_id, bucket, unit.
    */
  def ivfAssign(embeddings: DataFrame, centroidIds: Seq[Long]): DataFrame = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit"))
    val centroids = unit
      .filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("centroid_id"), col("unit").as("c"))
    assignToCentroids(unit, centroids)
  }

  /** [[ivfAssign]] against an explicit centroid table (centroid_id, c) —
    * the seam trained centroids plug into ([[trainedCentroids]]); parity
    * paths pass corpus-seeded centroids through the same code.
    */
  def ivfAssignWithCentroids(embeddings: DataFrame,
      centroids: Seq[(Long, Array[Double])]): DataFrame = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit"))
    assignToCentroids(unit, centroidFrame(embeddings.sparkSession, centroids))
  }

  /** (centroid_id, c) frame from driver-side centroid vectors (the trained
    * set is C·d doubles — broadcast-sized by construction).
    */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Array[Double])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // a LOCAL relation, not parallelize(): the centroids are driver
    // metadata (≤65 536 rows by the trainer caps), and a LocalTableScan
    // says so in the plan — broadcasts need no job, and the PlanGuard
    // sweep can tell this bounded frame from a corpus-sized checkpoint
    // leaf (both would otherwise print as `Scan ExistingRDD`)
    spark.createDataFrame(
      centroids.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(
        StructField("centroid_id", LongType, nullable = false),
        StructField("c", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  /** Every row of `unit` → its nearest centroid by cosine, ties to the
    * smaller centroid id; `on` restricts each row to the centroids sharing
    * its key columns. Output: (vec_id, bucket, unit).
    */
  private[ops] def assignToCentroids(unit: DataFrame, centroids: DataFrame,
      on: Seq[String] = Nil): DataFrame =
    unit
      .join(F.broadcast(centroids), on)
      .select(col("vec_id"), col("unit"), col("centroid_id"),
        dot(col("unit"), col("c")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(struct(col("centroid_id"), col("unit")),
          struct(col("csim"), -col("centroid_id"))).as("best")
      )
      .select(col("vec_id"), col("best.centroid_id").as("bucket"), col("best.unit").as("unit"))

  /** ⌈√C⌉ coarse parents spaced over an (ascending) fine-centroid id list —
    * [[spacedCentroidIds]] applied one level up; coarse ⊂ fine by
    * construction.
    */
  def coarseSubset(fineIds: Seq[Long]): Seq[Long] = {
    require(fineIds.nonEmpty)
    val c2 = math.max(1, math.ceil(math.sqrt(fineIds.size.toDouble)).toInt)
    val cstep = math.max(1, fineIds.size / c2)
    (0 until c2).map(i => fineIds(i * cstep))
  }

  /** Two-level IVF assignment — the 100 TB form of [[ivfAssign]]: flat
    * assignment against C = ⌈√N⌉ centroids costs O(N·√N·d), which is its
    * own scale ceiling; grouping the fine centroids under ⌈√C⌉ coarse
    * centroids and routing each vector through its nearest coarse first
    * cuts assignment to O(N·√C·d) (coarse scan + one coarse-bucket's fine
    * set). The trade: a vector whose true nearest fine centroid lives under
    * a different coarse parent gets its second-best — the standard
    * hierarchical-IVF approximation. Fully deterministic: both levels use
    * spaced seed ids, ties break to the smaller id, so the SQL oracle
    * reproduces the routing exactly. Output: (vec_id, bucket, unit).
    */
  private def assignTwoLevel(unit: DataFrame, fine: DataFrame, coarse: DataFrame): DataFrame = {
    // route every FINE centroid under its nearest coarse parent (tiny: C rows)
    val children = assignToCentroids(
        fine.select(col("centroid_id").as("vec_id"), col("c").as("unit")), coarse)
      .select(col("bucket"), col("vec_id").as("centroid_id"), col("unit").as("c"))
    // level 1: every vector → nearest coarse; level 2: nearest fine among
    // that parent's children (both centroid tables broadcast)
    assignToCentroids(assignToCentroids(unit, coarse), children, on = Seq("bucket"))
  }
  /** Random-hyperplane LSH: deterministic pseudo-random planes (a fixed
    * arithmetic formula over (plane, dim) so the SQL oracle can inline the
    * identical literals), bucket = sign-bit vector of the plane dots. Unlike
    * IVF this needs no centroid pass at all — bucketing is a narrow
    * projection — at the cost of less adaptive buckets.
    *
    * `start` offsets the global plane index — multi-table LSH
    * ([[AnnSpec.LshTables]]) gives table `t` planes `[t·nPlanes,
    * (t+1)·nPlanes)`, so tables are independent but fully deterministic.
    */
  def lshPlanes(nPlanes: Int, dim: Int, start: Int = 0): Seq[Array[Double]] =
    (start until start + nPlanes).map { j =>
      Array.tabulate(dim) { i =>
        (((j * dim + i) * 2654435761L) % 1000L - 500L).toDouble / 500.0
      }
    }

  /** Attach the LSH bucket id (`nPlanes`-bit signature of plane-dot signs). */
  def withLshBucket(unit: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = lshPlanes(nPlanes, dim)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      when(dot(col("unit"), typedlit(p.toSeq)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    unit.withColumn("bucket", bucket)
  }

  /** Deterministic centroid seed ids: C = ⌈√N⌉ ids spaced evenly across the
    * dense id range — an even sample of the corpus, so bucket sizes track
    * the data distribution instead of whatever the first C vectors happened
    * to be. C growing as √N is what keeps the within-bucket pair stage
    * sub-quadratic: balanced buckets hold ~√N vectors, so pair work is
    * O(Σ|bucket|²) ≈ O(N^1.5), not O(N²/constant).
    *
    * Deliberately no floating-mean (Lloyd) refinement in this parity path:
    * a per-bucket mean sums doubles in engine-dependent order, so the
    * refined centroids — and borderline assignments — would not be
    * bit-reproducible cross-engine. Production training (k-means‖ on a
    * sample) slots in behind the same `centroidIds`/centroid-frame seam.
    */
  def spacedCentroidIds(n: Long): Seq[Long] = {
    require(n > 0, "empty corpus")
    val c = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val step = math.max(1L, n / c)
    (0L until c).map(_ * step)
  }

  /** Batch twin of [[streamingLshNearDup]] — ingest-order embedding dedup
    * with vec_id as arrival order: keep a vector iff none of its `nTables`
    * sign-hash buckets is already claimed by a smaller vec_id. Same
    * key-collision rule the streaming form applies per arrival, so
    * streaming output over an id-ordered feed equals this frame
    * (spec-attested; oracle row d12). LSH-candidate semantics: collisions
    * approximate cosine similarity — this is the dedup-at-ingest screen, a
    * batch verify pass ([[cosineNearDupPairs]]) refines survivors when
    * exact scores are needed.
    *
    * Scale shape: "some smaller id claims my bucket" ⟺ "my bucket's
    * min claimant is smaller", so dropped ids come from a per-bucket
    * window-min — O(m) per bucket where the naive bucket self-join is
    * O(m²), and a hot bucket (e.g. a batch of near-identical vectors)
    * can't quadratically explode a task.
    */
  def lshKeepFirst(embeddings: DataFrame, nTables: Int = 4, nPlanes: Int = 8,
      dim: Int = 64): DataFrame = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit"))
    val keyed = unit
      .select(col("vec_id"), posexplode(tableBucketsExpr(nTables, nPlanes, dim)).as(Seq("t", "bucket")))
    val perBucket = org.apache.spark.sql.expressions.Window.partitionBy(col("t"), col("bucket"))
    val dropped = keyed
      .withColumn("min_id", min(col("vec_id")).over(perBucket))
      .filter(col("min_id") < col("vec_id"))
      .select(col("vec_id"))
      .distinct()
    embeddings.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
  }

  /** The per-row (table, bucket) array shared by the multi-table LSH ANN,
    * [[lshKeepFirst]], and the streaming dedup — one definition of the
    * bucketing so batch and streaming collide identically.
    */
  private[ops] def tableBucketsExpr(nTables: Int, nPlanes: Int, dim: Int): Column =
    array((0 until nTables).map { t =>
      lshPlanes(nPlanes, dim, start = t * nPlanes).zipWithIndex.map { case (p, j) =>
        when(dot(col("unit"), typedlit(p.toSeq)) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** Incremental corpus dedup for embeddings — [[graft.ops.Dedup.incrementalDedup]]'s
    * vector analog, the question a growing embedding store asks of every
    * new batch: which incoming vectors are near-duplicates of something
    * already ingested? A new vector is flagged iff ANY of its `nTables`
    * sign-hash buckets is already claimed by a corpus vector (the same
    * collision rule as [[lshKeepFirst]], against a fixed reference side).
    * Output: (vec_id, dup_near) as a 0/1 BIGINT flag for EVERY new-batch
    * vector.
    *
    * Scale shape: bucketing is a stateless projection on both sides (LSH
    * needs no training); the corpus side reduces to its DISTINCT (table,
    * bucket) keys — at most `nTables`·2^nPlanes rows regardless of corpus
    * size, computed once per batch cadence (or maintained incrementally) —
    * and the screen is one fixed-width semi join. A batch costs
    * O(batch + distinct keys), never O(corpus).
    */
  def incrementalLshDedup(newBatch: DataFrame, corpus: DataFrame,
      nTables: Int = 4, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    def keys(df: DataFrame): DataFrame =
      withUnit(df).select(col("vec_id"),
        posexplode(tableBucketsExpr(nTables, nPlanes, dim)).as(Seq("t", "bucket")))
    val corpusKeys = keys(corpus).select(col("t"), col("bucket")).distinct()
    val hits = keys(newBatch)
      .join(corpusKeys, Seq("t", "bucket"), "left_semi")
      .select(col("vec_id"))
      .distinct()
    newBatch.select(col("vec_id"))
      .join(hits.withColumn("h", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("h"), lit(0L)).as("dup_near"))
  }

  /** Streaming embedding dedup — dedup-on-ingest for a vector stream: a
    * vector is dropped iff ANY of its `nTables` sign-hash buckets collides
    * with one seen inside the watermark horizon (the embedding analog of
    * [[graft.ops.Dedup.streamingNearDup]]). Bucketing is a per-row
    * projection (no centroid pass — LSH needs no training), state is one
    * entry per distinct (table, bucket) within the horizon, and the keep
    * decision is the same two-stateful-operator chain: watermarked
    * dropDuplicates on the bucket key, then a windowed per-vector count
    * (survives iff all `nTables` rows were first-seen).
    */
  def streamingLshNearDup(embeddings: DataFrame, tsCol: String, delay: String,
      nTables: Int = 4, nPlanes: Int = 8, dim: Int = 64,
      windowDur: String = "10 seconds"): DataFrame = {
    val unit = embeddings.withColumn("unit",
      graft.functions.VectorFunctions.unitVector(col("embedding").cast("array<double>")))
    val keyed = unit
      .select(col("vec_id"), col(tsCol),
        posexplode(tableBucketsExpr(nTables, nPlanes, dim)).as(Seq("t", "bucket")))
    keyed
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("t", "bucket")
      .groupBy(window(col(tsCol), windowDur), col("vec_id"))
      .agg(count(lit(1)).as("n_tables"))
      .filter(col("n_tables") === nTables)
      .select(col("vec_id"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, restricted to
    * same-IVF-bucket candidates (the blocked form that scales; exact within
    * the bucket). Output: (vec_a, vec_b) pairs, a < b.
    *
    * Use [[spacedCentroidIds]] for the centroid set: √N buckets keep this
    * O(N^1.5) with bucket parallelism that grows with the corpus.
    */
  def cosineNearDupPairs(embeddings: DataFrame, centroidIds: Seq[Long], threshold: Double): DataFrame = {
    // both self-join sides share the assignment pass — cache it
    val assigned = ivfAssign(embeddings, centroidIds).persist()
    assigned.as("x")
      .join(assigned.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        dot(col("x.unit"), col("y.unit")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"))
  }

  /** SemDeDup representative selection (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"): given
    * semantic duplicate `groups` ((doc_id=vec_id, group_id) from the CC over
    * [[cosineNearDupPairs]]), keep per group the member LEAST cosine-similar
    * to its assigned IVF centroid — the paper's finding that the most
    * atypical exemplar preserves the most training signal — ties to the
    * smaller vec_id; vectors in no group are kept unconditionally.
    *
    * Same shape as [[graft.ops.Dedup.keepBestScored]] (one argmin aggregate
    * per group + an anti-join), but the score here is the raw double
    * centroid affinity, NOT a rounded integer: the dot folds left-to-right
    * over identical operands in both engines (the s14 ranking discipline),
    * so the argmin boundary is bit-reproducible without quantizing. The
    * affinity pass is one broadcast join against the C = ⌈√N⌉ centroid rows
    * — the corpus never shuffles before the group argmin.
    */
  def semanticKeep(embeddings: DataFrame, centroidIds: Seq[Long],
      groups: DataFrame): DataFrame = {
    val assigned = ivfAssign(embeddings, centroidIds)
    val cent = withUnit(embeddings)
      .filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("bucket"), col("unit").as("cu"))
    val aff = assigned.join(F.broadcast(cent), Seq("bucket"))
      .select(col("vec_id"), dot(col("unit"), col("cu")).as("aff"))
    val members = groups.select(col("doc_id").as("vec_id"), col("group_id"))
      .join(aff, Seq("vec_id"))
    val reps = members
      .groupBy(col("group_id"))
      .agg(min_by(col("vec_id"), struct(col("aff"), col("vec_id"))).as("vec_id"))
      .select(col("vec_id"))
    val singles = embeddings.select(col("vec_id"))
      .join(groups.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
    reps.unionByName(singles)
  }

  /** Embedding-level benchmark leakage — the vector twin of the d13/x38
    * token-overlap decontamination screens: for every TEST vector, which
    * TRAIN vectors are near-duplicates (cosine ≥ threshold)? Candidates
    * come from the stateless multi-table sign-hash buckets (any shared
    * (table, bucket) key — the d12/d17 keying, identical for both corpora
    * because the planes are deterministic), then every candidate pair is
    * scored exactly. Output per leaked test vector: the leak count and the
    * nearest train id (sim desc, id asc).
    *
    * Scale shape: candidate generation is a bucket equi-join (index-sized,
    * never |test|×|train|), the exact confirm touches only candidates, and
    * the unit vectors join back by id so the bucket join moves (id, key)
    * pairs only — neither corpus's vectors shuffle through the candidate
    * join.
    */
  def crossCorpusLeakage(test: DataFrame, train: DataFrame,
      threshold: Double = 0.8, nTables: Int = 4, nPlanes: Int = 8,
      dim: Int = 64): DataFrame = {
    def keys(df: DataFrame): DataFrame =
      withUnit(df).select(col("vec_id"),
        posexplode(tableBucketsExpr(nTables, nPlanes, dim)).as(Seq("t", "bucket")))
    val pairs = keys(test).select(col("vec_id").as("test_id"), col("t"), col("bucket"))
      .join(keys(train).select(col("vec_id").as("train_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .select(col("test_id"), col("train_id"))
      .distinct()
    val tu = withUnit(test).select(col("vec_id").as("test_id"), col("unit").as("tu"))
    val ru = withUnit(train).select(col("vec_id").as("train_id"), col("unit").as("ru"))
    pairs.join(tu, Seq("test_id")).join(ru, Seq("train_id"))
      .select(col("test_id"), col("train_id"), dot(col("tu"), col("ru")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_leaks"),
        max_by(col("train_id"), struct(col("sim"), (-col("train_id")).as("ni")))
          .as("nearest_train_id"))
  }

  /** Embedding-corpus health screen — the sanity pass before any index
    * build: dimension consistency (an off-dimension row poisons every dot
    * product), zero-norm and non-finite vectors (they break cosine), and
    * the norm range in ppb (floor — integer-exact). One codegen projection
    * into one metadata-sized aggregate; at 100 TB this is the cheap gate
    * that catches a bad embedding-model deploy before the O(N·√N) index
    * pass spends real money on poisoned vectors.
    */
  def vectorHealth(embeddings: DataFrame): DataFrame = {
    val norm2 = dot(col("embedding").cast("array<double>"),
      col("embedding").cast("array<double>"))
    embeddings
      .select(
        size(col("embedding")).cast("long").as("dim"),
        norm2.as("n2"),
        when(col("embedding").isNull, 1L).otherwise(0L).as("is_null"))
      .select(col("dim"), col("is_null"),
        when(col("is_null") === 1L, null).otherwise(
          when(isnan(col("n2")) || col("n2") === Double.PositiveInfinity, -1L)
            .otherwise(floor(sqrt(col("n2")) * 1e9).cast("long"))).as("norm_ppb"))
      .agg(
        count(lit(1)).as("n_vectors"),
        count_distinct(col("dim")).as("n_distinct_dims"),
        max(col("dim")).as("dim"),
        sum(col("is_null")).as("n_null"),
        sum(when(col("norm_ppb") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("norm_ppb") === -1L, 1L).otherwise(0L)).as("n_non_finite"),
        min(when(col("norm_ppb") > 0L, col("norm_ppb"))).as("min_norm_ppb"),
        max(col("norm_ppb")).as("max_norm_ppb"))
  }

  /** Text↔embedding alignment screen — the referential-integrity check a
    * multimodal corpus runs before any cross-modal join ([[vectorHealth]]
    * gates vector CONTENT; this gates vector COVERAGE): which documents
    * have an embedding, which don't (they silently drop out of every
    * vector-side operator — semantic dedup, leakage screens, ANN), and
    * which embeddings are orphans (their document was deleted upstream —
    * they pollute the index with unreachable hits). One full-outer hash
    * join on the id, then a 3-row status rollup; at 100 TB both sides
    * carry only their id column into the shuffle.
    *
    * Output: (status ∈ aligned | doc_only | vec_only, n_rows).
    */
  def alignmentReport(docs: DataFrame, embeddings: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(embeddings.select(col("vec_id")),
        col("doc_id") === col("vec_id"), "full_outer")
      .select(when(col("doc_id").isNotNull && col("vec_id").isNotNull, "aligned")
        .when(col("vec_id").isNull, "doc_only")
        .otherwise("vec_only").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))

  /** PQ distortion report — s19's twin for the OTHER ANN error source:
    * routing loses candidates (recall), quantization mis-scores them
    * (distortion). For each query's exact top-k, the mean |exact cosine −
    * PQ ADC score| in parts-per-billion (per-pair floor then integer
    * mean — no float aggregation). Read next to s19: high recall + high
    * distortion means the codes need more subspaces/centroids even though
    * routing is fine; the re-rank stage (s12) exists precisely because
    * this number is nonzero.
    */
  def pqDistortion(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, ks: Int = 16): DataFrame = {
    val unit = withUnit(embeddings).select(col("vec_id"), col("unit")).persist()
    val centLit = typedlit(spacedPqCodebook(unit, ks))
    val exactTop = topK(embeddings, Left(queryIds), k)
      .select(col("query_id"), col("neighbor_id"))
    val queries = unit.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("q"))
    val codes = unit.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.pqCode(col("unit"), centLit, lit(m)).as("code"),
      col("unit").as("e"))
    F.broadcast(exactTop)
      .join(codes, Seq("neighbor_id"))
      .join(F.broadcast(queries), Seq("query_id"))
      .select(col("query_id"),
        floor(abs(dot(col("q"), col("e")) -
          graft.functions.VectorFunctions.pqAdcDot(col("q"), col("code"), centLit))
          * 1e9).cast("long").as("err_ppb"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(err_ppb) div count(1)").as("mean_abs_err_ppb"))
  }

  /** IVF recall self-report — the b13 checked-sketch discipline applied to
    * ANN routing, as a deterministic query: per query, how many of the
    * exact top-k does the spaced-centroid IVF probe return? Both rankings
    * are bit-reproducible (the s14 dot discipline), so recall is a FACT of
    * the dataset+parameters, not an estimate — this is RECALL.json's
    * headline number surfaced on the oracle-checked query path, where a
    * routing regression (bad centroids, too-small nprobe) fails the gate
    * instead of drifting silently.
    */
  def ivfRecall(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val exact = topK(embeddings, Left(queryIds), k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = topK(embeddings, Left(queryIds), k,
        AnnSpec(AnnSpec.Ivf(spacedCentroidIds(embeddings.count()))))
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queryIds.toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(1000000 * coalesce(n_hits, 0)) div $k").as("recall_ppm"))
  }

  /** IVF probe-sweep tuning table — the d36 band-sweep discipline applied
    * to ANN routing: recall@k of multi-probe IVF at each nprobe config,
    * against the exact brute-force truth, in ONE query. s19 gates one
    * routing config; this is the table an operator reads to CHOOSE the
    * config — where the recall curve flattens, extra probes only buy
    * candidate cost. Output: (nprobe, n_hits, n_truth, recall_ppm), all
    * exact integers (recall is a deterministic fact of data+parameters).
    *
    * Scale shape: the truth pass is one brute-force scoring join over the
    * |Q| broadcast queries; each config is the s4 multi-probe plan
    * (broadcast centroids, per-query probe window, bucket equi-join);
    * configs union at the one-row-per-config level. Recall@k is
    * monotonically non-decreasing in nprobe (spec-pinned) — a sweep that
    * isn't is a routing bug.
    */
  def probeSweep(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cids = spacedCentroidIds(embeddings.count())
    val exact = topK(embeddings, Left(queryIds), k)
      .select(col("query_id"), col("neighbor_id")).persist()
    // ONE scoring pass at the widest nprobe with the probe rank riding
    // along: a candidate from the query's r-th-nearest bucket serves every
    // config with nprobe ≥ r, so the sweep costs max(probes) bucket-scans
    // instead of Σ probes (the s26 fused-sweep discipline; the sequential
    // form re-scored 1+2+4+8 = 15 bucket units where 8 suffice). Each
    // corpus vector lives in exactly one bucket, so (query, neighbor,
    // probe_rank) rows are already unique — no dedup stage.
    val maxNp = probes.max
    val assigned = ivfAssign(embeddings, cids).persist()
    val centroids = assigned
      .filter(col("vec_id").isin(cids: _*))
      .select(col("vec_id").as("centroid_id"), col("unit").as("c"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("centroid_id").asc)
    val probed = assigned
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("q"))
      .join(F.broadcast(centroids))
      .select(col("query_id"), col("q"), col("centroid_id"),
        dot(col("q"), col("c")).as("cs"))
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= maxNp)
      .select(col("query_id"), col("centroid_id").as("bucket"),
        col("q"), col("probe_rank"))
    val scored = F.broadcast(probed)
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("unit").as("e")), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"),
        dot(col("q"), col("e")).as("sim"))
    val widths = F.broadcast(probes.map(_.toLong).toDF("nprobe"))
    val perConfigW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val hits = widths.join(scored, col("probe_rank") <= col("nprobe"))
      .withColumn("rn", row_number().over(perConfigW))
      .filter(col("rn") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    // fresh UN-hinted config frame on the preserved side: `widths` carries
    // a broadcast hint for the inner sweep join above, and a hint on the
    // LEFT of a left-outer equi-join is unsupported — Spark would drop it
    // with a warning; the ≤|probes|-row aggregate is the broadcast side
    probes.map(_.toLong).toDF("nprobe")
      .join(F.broadcast(hits), Seq("nprobe"), "left")
      .select(col("nprobe"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("n_truth", lit(queryIds.size.toLong * k))
      .withColumn("recall_ppm", expr("(1000000 * n_hits) div n_truth"))
  }

  /** Oracle-attestable auto-tuning (the s28 query): for each recall target,
    * the SMALLEST swept nprobe whose measured recall meets it — the
    * [[tunedNprobe]] decision rule expressed as one deterministic
    * dataframe over [[probeSweep]]'s fused table, so the tuning logic
    * itself is DuckDB-hash-checked (the trained-path [[tunedNprobe]] runs
    * the same rule over trained centroids, property-pinned instead).
    * Targets no config meets fall back to the widest swept config. Output:
    * (target_ppm, nprobe, recall_ppm) — one row per target.
    *
    * Scale shape: rides entirely on the one fused sweep pass; target
    * selection is a |targets|×|probes| broadcast join over the
    * metadata-sized sweep table.
    */
  def tunedOperatingPoints(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      probes: Seq[Int] = Seq(1, 2, 4, 8),
      targetsPpm: Seq[Long] = Seq(250000L, 400000L, 990000L)): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sweep = probeSweep(embeddings, queryIds, k, probes).persist()
    val widest = probes.max.toLong
    // broadcast the RIGHT side of the left-outer non-equi join: a hint on
    // the preserved (left) side is unsupported and Spark drops it with a
    // warning (round-9 verdict #4 — harmless here, both sides are ≤4
    // metadata rows, but the plan should say what the code means)
    val targets = targetsPpm.toDF("target_ppm")
    val chosen = targets
      .join(F.broadcast(sweep.select(col("nprobe"), col("recall_ppm"))),
        col("recall_ppm") >= col("target_ppm"), "left")
      .groupBy(col("target_ppm"))
      .agg(coalesce(min(col("nprobe")), lit(widest)).as("nprobe"))
    chosen.join(F.broadcast(sweep.select(col("nprobe"), col("recall_ppm"))), Seq("nprobe"))
      .select(col("target_ppm"), col("nprobe"), col("recall_ppm"))
  }

  /** Per-query top-`nprobe` probe buckets from one broadcast pass over a
    * centroid frame — the multi-probe routing step shared by the gated
    * margin miner ([[routedScored]]) and the trained-artifact serve
    * ([[servedTrainedChecked]]). `nprobe` ≤ 0 selects the scale-stable
    * default: ⌈C/8⌉ buckets, a constant ⅛ routing fraction (a FIXED
    * nprobe over C = ⌈√N⌉ is a shrinking scan fraction as the corpus
    * grows). Output: (idCol, bucket, vecCol) — one row per probe.
    */
  private[ops] def topProbeBuckets(queries: DataFrame, idCol: String, vecCol: String,
      cf: DataFrame, nprobe: Int, nCentroids: Int): DataFrame = {
    val probes = if (nprobe > 0) nprobe else math.max(1, (nCentroids + 7) / 8)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("csim").desc, col("centroid_id").asc)
    queries.join(F.broadcast(cf))
      .select(col(idCol), col(vecCol), col("centroid_id"),
        dot(col(vecCol), col("c")).as("csim"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= probes)
      .select(col(idCol), col("centroid_id").as("bucket"), col(vecCol))
  }

  /** The d28 SemDeDup pipeline as ONE call (round-5 verdict #7 registry
    * hygiene): d6's bucketed cosine pairs → star-contraction CC groups →
    * keep per group the member LEAST similar to its IVF centroid (the
    * paper's most-informative-exemplar rule); output is the float-free
    * kept-id set. Star contraction directly (not the d7 auto form):
    * embedding similarity chains (A~B~C without A~C), so min-label pays
    * O(diameter) rounds where star stays O(log² n). Groups persist because
    * the keep stage consumes them twice (argmin members + ungrouped
    * anti-join).
    */
  def semanticDedupKeep(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    val cids = spacedCentroidIds(embeddings.count())
    val pairs = cosineNearDupPairs(embeddings, cids, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    semanticKeep(embeddings, cids, graft.ops.Dedup.dedupGroupsStar(pairs).persist())
  }

  /** The x50 report as ONE call: what [[clusterBalancedSample]] DOES to the
    * source mixture — per-source corpus share vs sampled share (ppm,
    * integer div), the report a pipeline reads before committing mixture
    * weights. `sources` must be (vec_id, source).
    */
  def mixtureShiftReport(embeddings: DataFrame, sources: DataFrame,
      quota: Int = 5): DataFrame = {
    val corpus = embeddings.select(col("vec_id")).join(sources, Seq("vec_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_corpus"))
    val sampled = clusterBalancedSample(embeddings, quota)
      .select(col("vec_id")).join(sources, Seq("vec_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
    val joined = corpus.join(sampled, Seq("source"), "left")
      .na.fill(0L, Seq("n_sampled"))
    val totals = joined.agg(sum(col("n_corpus")).as("tot_c"),
      sum(col("n_sampled")).as("tot_s"))
    joined.crossJoin(F.broadcast(totals))
      .select(col("source"), col("n_corpus"), col("n_sampled"),
        expr("(1000000 * n_corpus) div tot_c").as("share_before_ppm"),
        expr("(1000000 * n_sampled) div tot_s").as("share_after_ppm"))
  }

  /** Topic-balanced corpus subset — DoReMi-style domain balance WITHOUT
    * labels: the ⌈√N⌉ IVF clusters act as topic proxies and each
    * contributes at most `quota` members, picked in the deterministic
    * multiplicative-hash order (the x8/x12 sampling discipline applied to
    * semantic buckets — no RNG, identical on every engine/run, and stable
    * under corpus growth within a bucket until the quota boundary moves).
    * Head-heavy topics stop dominating the mixture; tail topics keep all
    * their members. Output: (vec_id, bucket, pick_rank ≤ quota).
    *
    * Scale shape: one assignment pass + a per-BUCKET window (buckets are
    * ⌈√N⌉-balanced by construction — never a single-task window); only
    * (vec_id, bucket, key) triples shuffle.
    */
  def clusterBalancedSample(embeddings: DataFrame, quota: Int): DataFrame = {
    val p = 2147483647L // 2^31 − 1, the shared deterministic-shuffle modulus
    val assigned = ivfAssign(embeddings, spacedCentroidIds(embeddings.count()))
      .withColumn("skey", ((col("vec_id") % p) * lit(2654435761L % p)) % p)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("skey").asc, col("vec_id").asc)
    assigned
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= quota)
      .select(col("vec_id"), col("bucket"), col("pick_rank").cast("long").as("pick_rank"))
  }

  /** Leave-one-out k-NN confusion matrix — the eval twin of
    * [[knnClassify]] (s19 checks ANN routing, s20 checks quantization;
    * this checks whether the embedding space SEPARATES the labels at
    * all): classify a query batch by majority vote of each query's exact
    * neighbors (the query itself excluded — leave-one-out), join the true
    * labels back, and emit the (true, predicted) cell counts. A diagonal-
    * heavy matrix certifies label-consistent geometry; a specific
    * off-diagonal cell names the confused class pair — the report that
    * decides whether embedding-space screens (s17/s18/d28) can be
    * trusted on this corpus. All counts integer, argmax ties to the
    * smaller label: cross-engine exact.
    */
  def knnConfusion(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame = {
    val preds = knnClassify(embeddings, queryIds, k)
    val truth = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
    preds.join(truth, Seq("query_id"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_queries"))
  }

  /** k-NN majority-vote classification — the retrieval surface applied to
    * labeling: predict each query vector's `label` as the mode of its k
    * exact nearest neighbors' labels (votes desc, ties to the smaller
    * label — total-order deterministic). Output: (query_id, pred_label,
    * votes).
    *
    * Scale shape: rides entirely on [[topK]]'s exact scoring join (swap
    * in any ANN shortlist for the 100 TB corpus — the vote step is
    * identical); the |Q|·k hit list then broadcasts against the corpus's
    * (vec_id, label) projection, so the label join moves metadata only, and
    * the vote aggregation is |Q|·k rows. The classic semi-supervised
    * labeling pass a training pipeline runs to propagate scarce human
    * labels across a corpus.
    */
  def knnClassify(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val topk = topK(embeddings, Left(queryIds), k)
    val labels = embeddings.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = F.broadcast(topk)
      .join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }
}
