package graft.ops

import org.apache.spark.sql.Column

/** One near-duplicate pair search, spelled as its four stages.
  * [[Dedup.pairs]] runs every spec through the same pipeline: per-document
  * features, optionally signed, explode to (doc_id, key) rows, drop keys
  * above a document-frequency cap, one self-join on the key, then verify.
  *
  *   - [[PairSpec.Shingle]]: what a document's features are (given
  *     (doc_id, shingle_id) rows, word k-grams, rolling-hash k-grams of an id
  *     array, winnowed fingerprints, or the id array itself).
  *   - [[PairSpec.Sign]]: the join key (the feature itself, a MinHash band,
  *     or a SimHash chunk).
  *   - [[PairSpec.Candidates]]: the df cap on a key, and whether pairs are
  *     all-pairs (`doc_a < doc_b`) or point queries (`query ≠ neighbor`).
  *   - [[PairSpec.Verify]]: how a candidate pair is scored and kept.
  *
  * Every hash seed and tie-break is derived from the data alone, so the
  * DuckDB oracle reproduces candidates and scores row for row.
  */
final case class PairSpec(
    shingle: PairSpec.Shingle = PairSpec.Given(),
    sign: PairSpec.Sign = PairSpec.Unsigned,
    candidates: PairSpec.Candidates = PairSpec.Candidates(),
    verify: PairSpec.Verify = PairSpec.Jaccard())

object PairSpec {
  sealed trait Shingle
  /** `features` already holds distinct (doc_id, keys…) rows. */
  final case class Given(keys: Seq[String] = Seq("shingle_id")) extends Shingle
  /** Word k-gram strings of a (doc_id, text) frame ([[Dedup.shingles]]). */
  final case class Words(k: Int = 5) extends Shingle
  /** Rolling-hash k-gram ids of a (doc_id, ids) id-array frame: token ids
    * ([[Vocab.hashTokenIdArrays]]) or character code points
    * ([[Dedup.charIds]], the char n-gram front end).
    */
  final case class Grams(k: Int = 5) extends Shingle
  /** Winnowed k-gram fingerprints (window `w`) of a (doc_id, ids) frame. */
  final case class Winnow(k: Int = 5, w: Int = 4) extends Shingle
  /** The (doc_id, ids) array itself, duplicates included: SimHash's input. */
  case object Ids extends Shingle

  sealed trait Sign
  /** The key is the feature itself. */
  case object Unsigned extends Sign
  /** MinHash signature over the features, keyed by `bands` band structs. */
  final case class MinHash(bands: Int = 4) extends Sign
  /** `bits`-bit SimHash over the features, keyed by `chunks` bit chunks. */
  final case class SimHash(bits: Int = 60, chunks: Int = 4) extends Sign

  /** `maxDf`: keys claimed by more documents never enter the join (None:
    * uncapped, the pair-local rule the incremental groups fold-in needs).
    * `queries`: the point-query form — only rows matching the predicate
    * probe the index, and a query never pairs with itself.
    */
  final case class Candidates(maxDf: Option[Long] = Some(Dedup.defaultMaxDf),
      queries: Option[Column] = None)

  sealed trait Verify
  /** The candidate pairs as they are: (doc_a, doc_b). */
  case object Keys extends Verify
  /** Exact |A∩B| / |A∪B| ≥ threshold over the full sets. */
  final case class Jaccard(threshold: Double = 0.5) extends Verify
  /** Exact |A∩B| / min(|A|, |B|) ≥ threshold over the full sets. */
  final case class Containment(threshold: Double) extends Verify
  /** Cosine ≥ threshold over ⌊10⁶/df⌋-weighted full sets. */
  final case class IdfCosine(threshold: Double = 0.5) extends Verify
  /** Matching MinHash signature slots / k. */
  case object Estimate extends Verify
  /** SimHash Hamming distance ≤ `max`. */
  final case class Hamming(max: Int = 3) extends Verify
  /** At least `min` shared capped keys (winnowing's overlap evidence). */
  final case class Shared(min: Long = 3L) extends Verify
  /** Each query's `k` best neighbors by exact Jaccard in integer ppm. */
  final case class TopK(k: Int = 3) extends Verify
}
