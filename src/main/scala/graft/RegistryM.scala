package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import graft.binlog.{BinlogEvents, DailyCounts, Ingest, TransactionStats}
import graft.ops.{Dedup, TextOps, Vectors, Vocab}

import RegistryLib._

/** The multimodal plumbing surface — one slice of the
  * [[SparkEntry]] registry (round-7 verdict #7: the single-file registry
  * split by query-name prefix). Names, query semantics, and oracle
  * strings are verbatim from the pre-split registry; [[SparkEntry]]
  * merges the per-domain maps, so the driver contract is unchanged.
  */
private[graft] object RegistryM {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m4_dup_frames" -> ((s, dir) =>
      // duplicate frames shared across distinct documents (digest-keyed,
      // payload never shuffled) — the multimodal twin of d8 exact dedup
      graft.ops.Multimodal.duplicateFrames(Tables.documents(s, dir), frameChars = 100)),
    "m8_frame_jaccard" -> ((s, dir) =>
      // video-style near-dup: exact Jaccard over per-document frame-
      // fingerprint SETS through the shared df-capped candidate/verify
      // machinery — m4 asks "which frames repeat", this asks "which
      // documents overlap"; a viral intro frame is capped at the index
      Dedup.pairs(
        graft.ops.Multimodal.frameSignatures(Tables.documents(s, dir), frameChars = 100),
        graft.ops.PairSpec())),
    // ---- multimodal plumbing ----
    "m1_binary_meta" -> ((s, dir) =>
      graft.ops.Multimodal.decodeExpr(Tables.documents(s, dir))),
    "m2_frame_sample" -> ((s, dir) =>
      graft.ops.Multimodal.sampleFrames(Tables.documents(s, dir))),
    "m3_modality_stats" -> ((s, dir) =>
      // modality routing report: tag in the decode pass, one map-side-
      // combined agg — the multimodal twin of x16's language report card
      graft.ops.Multimodal.modalityStats(Tables.documents(s, dir))),
    "m5_interleave" -> ((s, dir) =>
      // training-batch assembly after routing: round-robin positions
      // across modalities via the per-modality bounded prefix count
      graft.ops.Multimodal.interleaveByModality(Tables.documents(s, dir))),
    "m6_size_percentiles" -> ((s, dir) =>
      // storage planning per modality: exact byte-size percentiles over
      // the compressed histogram (t19 machinery)
      graft.ops.Multimodal.sizePercentiles(Tables.documents(s, dir))),
    "m7_alignment_report" -> ((s, dir) =>
      // referential integrity before any cross-modal join: docs without
      // an embedding drop out of every vector-side operator; orphan
      // embeddings pollute the index with unreachable hits. One
      // full-outer hash join carrying only the id columns. The doc side
      // is the post-curation corpus (doc_id % 10 = 3 deleted upstream),
      // so the orphan-vector path is attested, not just possible
      graft.ops.Vectors.alignmentReport(
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 3),
        Tables.embeddings(s, dir)))
  )

  val oracles: Map[String, String] = Map(
    "m8_frame_jaccard" ->
      // the frame-set front-end + the shared df-capped Jaccard tail —
      // mirrors Multimodal.frameSignatures → Dedup.pairs (given shingles, Jaccard)
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id,
         |         md5(substring(text, CAST(i * 100 + 1 AS INT), 100)) AS shingle_id
         |  FROM documents, UNNEST(range(0, (length(text) - 1) // 100 + 1)) AS r(i)
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |${oracleJaccardTail(0.5)}
         |SELECT doc_a, doc_b, n_common, jaccard FROM jpairs""".stripMargin,
    "m4_dup_frames" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(substring(text, CAST(i * 100 + 1 AS INT), 100)) AS frame_md5
        |  FROM documents, UNNEST(range(0, (length(text) - 1) // 100 + 1)) AS r(i)
        |  WHERE text IS NOT NULL AND length(text) > 0)
        |SELECT frame_md5, CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc
        |FROM f GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    "m7_alignment_report" ->
      """SELECT status, CAST(count(*) AS BIGINT) AS n_rows FROM (
        |  SELECT CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 'aligned'
        |              WHEN e.vec_id IS NULL THEN 'doc_only'
        |              ELSE 'vec_only' END AS status
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 3) d
        |  FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
        |GROUP BY 1""".stripMargin,
    "m6_size_percentiles" ->
      """WITH meta AS (SELECT doc_id,
        |                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |              FROM documents),
        |v AS (SELECT ['audio', 'image', 'video'][CAST(n_bytes % 3 AS INTEGER) + 1] AS modality,
        |             n_bytes AS v
        |      FROM meta),
        |h AS (SELECT modality, v, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
        |t AS (SELECT modality, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |cum AS (SELECT modality, v,
        |               CAST(sum(c) OVER (PARTITION BY modality ORDER BY v
        |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |        FROM h)
        |SELECT cum.modality, p, min(v) AS pct_bytes, CAST(min(n) AS BIGINT) AS n_rows
        |FROM cum
        |JOIN t ON t.modality = cum.modality
        |JOIN (VALUES (0.5), (0.9), (0.99)) ps(p) ON cum >= ceil(p * n)
        |GROUP BY 1, 2""".stripMargin,
    "m2_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |       CAST(i * 1000 AS BIGINT) AS byte_offset,
        |       CAST((n - i * 1000) % 256 AS BIGINT) AS frame_checksum
        |FROM (SELECT doc_id, octet_length(encode(text)) AS n,
        |             unnest(range(0, octet_length(encode(text)) // 1000 + 1)) AS i
        |      FROM documents)""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
        |       CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
        |       CAST(octet_length(encode(text)) // 1000 + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    "m3_modality_stats" ->
      """WITH meta AS (SELECT doc_id,
        |                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |                     CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
        |                     CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
        |                     CAST(octet_length(encode(text)) // 1000 + 1 AS BIGINT) AS n_frames
        |              FROM documents)
        |SELECT ['audio', 'image', 'video'][CAST(n_bytes % 3 AS INTEGER) + 1] AS modality,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(sum(n_frames) AS BIGINT) AS total_frames,
        |       CAST(max(width) AS BIGINT) AS max_width,
        |       CAST(max(height) AS BIGINT) AS max_height
        |FROM meta GROUP BY 1""".stripMargin,
    "m5_interleave" ->
      // same modality tag; within-modality rank ordered by doc_id, global
      // position = rank × |modalities| + modality index
      """WITH meta AS (SELECT doc_id,
        |                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |              FROM documents),
        |tag AS (SELECT doc_id,
        |               ['audio', 'image', 'video'][CAST(n_bytes % 3 AS INTEGER) + 1] AS modality
        |        FROM meta)
        |SELECT doc_id, modality,
        |       CAST((row_number() OVER (PARTITION BY modality ORDER BY doc_id) - 1) * 3
        |            + CASE modality WHEN 'audio' THEN 0 WHEN 'image' THEN 1 ELSE 2 END
        |            AS BIGINT) AS interleave_pos
        |FROM tag""".stripMargin
  )
}
