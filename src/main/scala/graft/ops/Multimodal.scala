package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; heavy per-item work (decode,
  * feature-extract, resize, frame-sample) runs batched per partition so a
  * real decoder library amortizes model/codec init once per partition — the
  * Scala analog of arrow-batched Python UDFs.
  *
  * The actual media decode is STUBBED (no image/audio libs in this
  * environment): [[StubDecoder]] derives deterministic fake metadata from the
  * byte stream. The Spark-side contract — schema, binary transport,
  * partition-batched execution, typed output — is real and tested
  * (MultimodalSpec).
  */
object Multimodal {

  /** Typed record for decoded media metadata. */
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      width: Long,
      height: Long,
      n_frames: Long
  )

  /** Pluggable decoder: bytes → metadata fields. Production would wrap an
    * actual codec here; the stub is deterministic in the payload length so
    * results are reproducible and oracle-checkable.
    */
  trait Decoder extends Serializable {
    def decode(docId: Long, bytes: Array[Byte]): MediaMeta
  }

  object StubDecoder extends Decoder {
    def decode(docId: Long, bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length.toLong
      MediaMeta(docId, n, n % 640, (n * 7) % 480, n / 1000 + 1)
    }
  }

  /** Attach a binary payload column (here: the utf-8 text bytes play the
    * media blob; a real pipeline reads `binaryFile` sources or a bytes
    * column from parquet).
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(col("text"), "UTF-8"))

  /** Partition-batched decode through the typed Dataset API — the structure
    * a real decoder plugs into. One decoder instance per partition; rows
    * stream through without materializing the partition.
    */
  def decodeBatched(docs: DataFrame, decoder: Decoder = StubDecoder): Dataset[MediaMeta] = {
    val payloads = withPayload(docs).select(col("doc_id"), col("payload"))
    implicit val enc = Encoders.product[MediaMeta]
    payloads
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        val d = decoder // one instance per partition (codec init point)
        it.map { case (id, bytes) => d.decode(id, bytes) }
      }
  }

  /** Frame sampling: one row per (synthetic) frame with its byte offset and
    * a deterministic per-frame checksum — the explode-shaped stage a video
    * pipeline runs after probe/decode. Narrow (generator, no shuffle).
    */
  def sampleFrames(docs: DataFrame, frameBytes: Int = 1000): DataFrame =
    decodeExpr(docs)
      .select(col("doc_id"), col("n_bytes"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx"),
        (col("frame_idx") * frameBytes).as("byte_offset"),
        pmod(col("n_bytes") - col("frame_idx") * frameBytes, lit(256)).as("frame_checksum"))

  /** Per-modality routing report: tag every payload with its modality (the
    * stub derives a deterministic tag from the byte length; production
    * reads a container/MIME sniff in the same decode pass) and aggregate
    * the volume/shape stats a mixed-media pipeline reads before deciding
    * per-modality processing — the multimodal twin of x16's per-language
    * report card. One map-side-combined pass; the result is
    * |modalities|-sized metadata.
    */
  def modalityStats(docs: DataFrame): DataFrame =
    decodeExpr(docs)
      .withColumn("modality",
        element_at(typedlit(Seq("audio", "image", "video")),
          pmod(col("n_bytes"), lit(3)).cast("int") + 1))
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("n_frames")).as("total_frames"),
        max(col("width")).as("max_width"),
        max(col("height")).as("max_height"))

  /** Cross-video duplicate-frame detection — the multimodal face of exact
    * dedup: tile every payload into fixed-width frames (the stub frames the
    * text; a real decoder emits per-frame perceptual hashes in the same
    * shape), key each frame by md5, and report frames appearing in ≥ 2
    * distinct documents. Shuffle carries (digest, ids) — never payloads —
    * the same digest-first discipline as d8; output is duplicate-sized,
    * not corpus-sized.
    */
  def duplicateFrames(docs: DataFrame, frameChars: Int = 1000): DataFrame =
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          expr(s"(length(text) - 1) div $frameChars"))).as("frame_idx"))
      .select(col("doc_id"),
        md5(expr(s"substring(text, CAST(frame_idx * $frameChars + 1 AS INT), $frameChars)"))
          .as("frame_md5"))
      .groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** Distinct per-document frame-fingerprint SETS — the video-near-dup
    * front-end: two encodes of near-identical footage share most frame
    * fingerprints even when no whole-file digest matches, so set-overlap
    * over frame hashes is the standard video-dedup signal (the m4
    * duplicate-frame report asks "which frames repeat"; this asks "which
    * DOCUMENTS overlap"). Output (doc_id, shingle_id = frame digest)
    * feeds the SAME df-capped Jaccard candidate/verify machinery as the
    * text near-dup surface ([[graft.ops.Dedup.pairs]] with given shingles):
    * a viral intro frame shared by f videos is capped at the index, never
    * Θ(f²) in the candidate join. Fingerprints here are md5 over fixed
    * char windows of the fixture text (the binary-frame stand-in, same as
    * m2/m4); a real pipeline swaps in a perceptual hash at the decode seam.
    */
  def frameSignatures(docs: DataFrame, frameChars: Int = 100): DataFrame =
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"(length(text) - 1) div $frameChars"))).as("frame_idx"),
        col("text"))
      .select(col("doc_id"),
        md5(expr(s"substring(text, CAST(frame_idx * $frameChars + 1 AS INT), $frameChars)"))
          .as("shingle_id"))
      .distinct()

  /** Whole-stage-codegen rendering of the stub decode (pure column
    * expressions) — used by the oracle-checked query; proves the expression
    * path and the mapPartitions path agree (MultimodalSpec).
    */
  def decodeExpr(docs: DataFrame): DataFrame =
    withPayload(docs).select(
      col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      pmod(length(col("payload")), lit(640)).cast("long").as("width"),
      pmod(length(col("payload")).cast("long") * 7, lit(480)).cast("long").as("height"),
      (expr("length(payload) div 1000") + 1).cast("long").as("n_frames")
    )

  /** Per-modality payload-size percentiles — the storage-planning twin of
    * [[modalityStats]]: exact p50/p90/p99 of payload bytes per modality
    * through the shared histogram-percentile machinery
    * ([[graft.operators.Percentiles.discrete]] — windows over the
    * value-domain-compressed byte histogram, never raw rows).
    */
  def sizePercentiles(docs: DataFrame): DataFrame = {
    val tagged = decodeExpr(docs)
      .withColumn("modality",
        element_at(typedlit(Seq("audio", "image", "video")),
          pmod(col("n_bytes"), lit(3)).cast("int") + 1))
    graft.operators.Percentiles.discrete(
      tagged, "modality", col("n_bytes"), Seq(0.5, 0.9, 0.99), "pct_bytes")
  }

  /** Modality-balanced deterministic interleave — the training-batch
    * assembly step after routing (m3): give every sample an explicit
    * global position such that consecutive positions round-robin across
    * modalities (audio, image, video, …), so a sequential reader sees a
    * balanced media mix instead of whole modality runs. Position =
    * within-modality rank × |modalities| + modality index; with unequal
    * modality volumes the tail thins out to the surviving modalities
    * (positions stay unique and order-dense enough for a sort key, which
    * is their only job).
    *
    * Scale shape: the within-modality rank is the range-partitioned
    * [[graft.ops.TextOps.exclusivePrefixRanged]] count run per modality —
    * |modalities| is a small constant — never a per-modality single-task
    * window; everything else is a codegen projection.
    */
  def interleaveByModality(docs: DataFrame): DataFrame = {
    val tagged = decodeExpr(docs)
      .withColumn("modality",
        element_at(typedlit(Seq("audio", "image", "video")),
          pmod(col("n_bytes"), lit(3)).cast("int") + 1))
      .select(col("doc_id"), col("modality"))
    val mods = Seq("audio", "image", "video")
    mods.zipWithIndex.map { case (m, mi) =>
      // doc_id is an unbounded ID domain → the range-partitioned prefix
      // (round 13; the three-level form's offset frames were corpus/10⁶-
      // sized here — the floor(id/K) hazard class)
      graft.ops.TextOps.exclusivePrefixRanged(
          tagged.filter(col("modality") === m).withColumn("one", lit(1L)),
          "doc_id", "doc_id", "one")
        .select(col("doc_id"), col("modality"),
          (col("_prefix") * mods.size + mi).as("interleave_pos"))
    }.reduce(_ unionByName _)
  }
}
