package graft.ops

import org.apache.spark.sql.DataFrame

/** One approximate-nearest-neighbour index, spelled as its four stages —
  * FAISS's index-factory shape ("IVF,PQ16,Refine") as a value.
  * [[Vectors.topK]] runs every spec through the same pipeline: normalize
  * and route the corpus once, filter the queries out of it, one broadcast
  * candidate join scoring one `sim` column, rank per query by (sim desc,
  * neighbor_id asc), then re-rank exactly if `refine` asks.
  *
  *   - [[AnnSpec.Route]]: which corpus vectors share a bucket with a query
  *     (none, IVF over spaced / trained / two-level centroids, LSH one
  *     table or several).
  *   - [[AnnSpec.Probe]]: which buckets a query searches (its own, its
  *     `nprobe` nearest centroids, or its LSH bucket plus every Hamming-1
  *     neighbour).
  *   - [[AnnSpec.Score]]: how a candidate is scored (exact unit-vector dot,
  *     SQ8 byte codes, PQ asymmetric distance, JL projections).
  *   - [[AnnSpec.Refine]]: keep the scored order, or re-score a per-query
  *     shortlist against the full unit vectors.
  *
  * Every deterministic choice (spaced centroids, spaced PQ codebook, LSH
  * planes, JL signs) is derived from the data alone, so the DuckDB oracle
  * reproduces routing, codes and ranks bit-for-bit.
  */
final case class AnnSpec(
    route: AnnSpec.Route = AnnSpec.Flat(),
    probe: AnnSpec.Probe = AnnSpec.Own,
    score: AnnSpec.Score = AnnSpec.Exact,
    refine: AnnSpec.Refine = AnnSpec.NoRefine)

object AnnSpec {
  sealed trait Route
  /** Exhaustive search; `allowed` (a `vec_id` frame) restricts the
    * candidates, not the queries — the hybrid-search predicate, applied
    * as a semi join before scoring.
    */
  final case class Flat(allowed: Option[DataFrame] = None) extends Route
  /** IVF over corpus-member centroids ([[Vectors.spacedCentroidIds]]). */
  final case class Ivf(centroidIds: Seq[Long]) extends Route
  /** IVF over driver-side centroids ([[Vectors.trainedCentroids]]). */
  final case class IvfTrained(centroids: Seq[(Long, Array[Double])]) extends Route
  /** Hierarchical IVF: each vector routes to its nearest coarse centroid,
    * then to the nearest fine centroid under that parent — O(N·√C·d)
    * assignment instead of O(N·C·d).
    */
  final case class IvfTwoLevel(fineIds: Seq[Long], coarseIds: Seq[Long]) extends Route
  /** Random-hyperplane LSH: bucket = the `nPlanes` plane-dot sign bits. */
  final case class Lsh(nPlanes: Int = 8, dim: Int = 64) extends Route
  /** `nTables` independent LSH tables; a candidate collides in any one. */
  final case class LshTables(nTables: Int = 4, nPlanes: Int = 8, dim: Int = 64) extends Route

  sealed trait Probe
  /** The query's own bucket (every bucket for [[Flat]]). */
  case object Own extends Probe
  /** The `nprobe` centroids nearest the query (ties to the smaller id). */
  final case class Nearest(nprobe: Int) extends Probe
  /** The query's LSH bucket and every bucket one sign flip away. */
  case object Hamming1 extends Probe

  sealed trait Score
  /** Dot product of the unit vectors: the cosine. */
  case object Exact extends Score
  /** 8-bit scalar codes per dimension (corpus min/max), decode-corrected dot. */
  case object Sq8 extends Score
  /** PQ with asymmetric distance over the `ks` spaced corpus unit vectors. */
  final case class Pq(m: Int = 8, ks: Int = 16) extends Score
  /** PQ with asymmetric distance over a given flat codebook
    * ([[Vectors.trainedPqCodebooks]]).
    */
  final case class PqCodebook(m: Int, codebook: Seq[Double]) extends Score
  /** Cosine in a `planes`-dimensional Rademacher JL projection. */
  final case class Jl(planes: Int = 16) extends Score

  sealed trait Refine
  case object NoRefine extends Refine
  /** Exact re-rank of each query's top-`shortlist` scored candidates. */
  final case class Rerank(shortlist: Int) extends Refine

  /** The production default at the registry's k = 10: the SQ8 byte-code
    * scan shortlists 4·k candidates and only those are re-scored exactly.
    * Bucket-pruned recall is bounded by how well buckets localize true
    * neighbours, a property of the data (RECALL.json's `isotropy` block);
    * the compressed full scan keeps recall ≈ 1.0 at 1/8 of the float
    * corpus's scan bandwidth whatever the geometry.
    */
  val Production: AnnSpec = AnnSpec(score = Sq8, refine = Rerank(40))
}
