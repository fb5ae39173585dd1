package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import graft.binlog.{BinlogEvents, DailyCounts, Ingest, TransactionStats}
import graft.ops.{Dedup, TextOps, Vectors, Vocab}

/** Shared helpers of the split [[SparkEntry]] registry (round-7 verdict
  * #7): the binlog fixture view and every oracle-SQL building block
  * (CTEs, expression fragments, parameterized sub-oracles) the per-domain
  * Registry* files compose. Moved verbatim from the pre-split SparkEntry;
  * `private[graft]` keeps the driver contract surface unchanged.
  */
private[graft] object RegistryLib {

  /** Binlog-shaped view of `events` — FIXTURES.md §1 role mapping. */
  def binlog(s: SparkSession, dir: String): DataFrame =
    BinlogEvents.load(s, dir)

  /** The shared mapping CTE for binlog-surface oracles. */
  val oracleBinlogCte: String =
    """WITH b AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS execute_time,
      |         CAST(user_id AS VARCHAR) AS gtid,
      |         event_type,
      |         event_id AS pos,
      |         CAST(floor(value) AS BIGINT) AS size_bytes,
      |         (event_id % 10) + 1 AS affected_rows
      |  FROM events)""".stripMargin

  val oracleTxnAggCte: String =
    oracleBinlogCte + """,
      |agg AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', execute_time) + INTERVAL '5 minutes' AS end_time,
      |         '5min' AS "interval", gtid,
      |         CAST(epoch(date_trunc('second', max(execute_time)))
      |              - epoch(date_trunc('second', min(execute_time))) AS BIGINT) AS transaction_spend_time,
      |         max(pos) - min(pos) + max_by(size_bytes, pos) AS transaction_size,
      |         CAST(sum(affected_rows) AS BIGINT) AS transaction_affected_rows
      |  FROM b GROUP BY 1, 3)""".stripMargin

  def oracleTop1PerWindow(metric: String): String =
    oracleTxnAggCte + s"""
      |SELECT end_time, "interval", gtid, transaction_spend_time,
      |       transaction_size, transaction_affected_rows
      |FROM (SELECT *, row_number() OVER (PARTITION BY end_time
      |        ORDER BY $metric DESC, gtid DESC) AS rn FROM agg)
      |WHERE rn = 1""".stripMargin

  // Instant-based (NOT Timestamp.valueOf, which reads the JVM default
  // timezone): the oracle's TIMESTAMP literals are naive UTC
  val rangeStart = Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z"))
  val rangeEnd = Timestamp.from(java.time.Instant.parse("2024-01-06T00:00:00Z"))

  /** Fixture event-type names (play the 16-value canal enum, P2). */
  val fixtureTypes = Seq("view", "click", "purchase", "signup", "error")

  // ---- oracle CTEs for the token-id surface (Vocab parity in SQL) ----
  // token_id mirrors graft TokenHash: a code-point polynomial fold
  // h ← (h·131 + cp) mod (2³¹−1). The `if c <> ''` guard matches Spark's
  // zero-iteration fold on the empty token (DuckDB's string_split('','')
  // yields [''] and unicode('') is −1).
  val oracleTokCtes: String =
    """tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS token
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
      |        UNNEST(range(1, len(toks) + 1)) AS r(i)),
      |tid AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |               list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                 [CAST(unicode(c) AS BIGINT) for c in string_split(token, '') if c <> '']),
      |                 (a, c) -> (a * 131 + c) % 2147483647) AS token_id
      |        FROM tok)""".stripMargin

  /** The x37 CDC chunker as a standalone SELECT producing (doc_id,
    * chunk_idx, start_pos, chunk_len, chunk_md5) — shared by x37 and the
    * d31 storage-dedup rollup.
    */
  val oracleCdcChunksSql: String = {
    val p = graft.ops.Dedup.minhashPrime
    // the identical lead-chain fold, unrolled textually
    val acc = (0 until 3).foldLeft("CAST(0 AS BIGINT)") { (a, i) =>
      val c = if (i == 0) "cp" else s"lead(cp, $i) OVER w"
      s"(($a * 37 + $c + 1) % $p)"
    }
    s"""WITH ch AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, CAST(unicode(cs[i]) AS BIGINT) AS cp
       |            FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents
       |                  WHERE text IS NOT NULL AND length(text) > 0) t,
       |            UNNEST(range(1, len(cs) + 1)) AS r(i)
       |            WHERE cs[i] <> ''),
       |h AS (SELECT doc_id, pos, $acc AS acc FROM ch
       |      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |b AS (SELECT doc_id, pos,
       |             CASE WHEN acc IS NOT NULL AND acc % 64 = 0 THEN 1 ELSE 0 END AS bnd
       |      FROM h),
       |ci AS (SELECT doc_id, pos,
       |              CAST(coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_idx
       |       FROM b),
       |sp AS (SELECT doc_id, chunk_idx, min(pos) AS start_pos,
       |              CAST(count(*) AS BIGINT) AS chunk_len
       |       FROM ci GROUP BY 1, 2)
       |SELECT s.doc_id, s.chunk_idx, s.start_pos, s.chunk_len,
       |       md5(substring(d.text, CAST(s.start_pos AS INT), CAST(s.chunk_len AS INT))) AS chunk_md5
       |FROM sp s JOIN documents d USING (doc_id)""".stripMargin
  }

  val oracleMinhashSigs: String = {
    val exprs = graft.ops.Dedup.minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min((token_id * $a + $b) % ${graft.ops.Dedup.minhashPrime}) AS BIGINT) AS sig_$i"
    }.mkString(",\n       ")
    s"""WITH $oracleTokCtes,
       |dt AS (SELECT DISTINCT doc_id, token_id FROM tid)
       |SELECT doc_id,
       |       $exprs
       |FROM dt GROUP BY doc_id""".stripMargin
  }

  val oracleSimhash: String = {
    val g = "((token_id * 2654435761 + 2538058380) % 65536)"
    val sums = (0 until 16)
      .map(b => s"sum(CASE WHEN ($g >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(",\n       ")
    val hash = (0 until 16).map(b => s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH $oracleTokCtes,
       |sums AS (SELECT doc_id,
       |       $sums
       |FROM tid GROUP BY doc_id)
       |SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM sums""".stripMargin
  }

  /** Language-ID oracle: per-language marker-hit scores; the predicted
    * language is the first (in [[TextOps.langMarkers]] order) to reach the
    * max score — the SQL rendering of the strictly-greater fold.
    */
  val oracleLangid: String = {
    val scoreExprs = TextOps.langMarkers.map { case (lang, markers) =>
      val list = markers.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), s -> list_contains([$list], s))) AS BIGINT) AS score_$lang"
    }.mkString(",\n       ")
    val langs = TextOps.langMarkers.map(_._1)
    val maxExpr = s"GREATEST(${langs.map(l => s"score_$l").mkString(", ")})"
    val predCase = langs.map(l => s"WHEN score_$l = m THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang AS labeled_lang,
       |       $scoreExprs
       |FROM documents),
       |tm AS (SELECT *, $maxExpr AS m FROM t)
       |SELECT doc_id, labeled_lang, ${langs.map(l => s"score_$l").mkString(", ")},
       |       CASE $predCase END AS pred_lang,
       |       m AS pred_score
       |FROM tm""".stripMargin
  }

  /** Shingle-id Jaccard pairs — same shingle-id CTEs as the MinHash oracle,
    * then the inverted-index self-join on the long ids.
    */
  /** Shared CTE chain ending in `jpairs` (the thresholded Jaccard pairs) —
    * consumed by both the d2 pair query and the d7 grouping query.
    */
  val oracleJaccardCtes: String = oracleJaccardCtesAt(0.5)

  /** The df-capped candidate/verify tail over ANY `sh(doc_id, shingle_id)`
    * relation — the identical cap [[graft.ops.Dedup.pairs]]' default
    * candidates stage applies (candidates must share a feature with 1 < df ≤ cap; scores
    * are exact over the full sets). Shared by the token-5-gram front-end
    * (d2/d7/d9) and the frame-fingerprint front-end (m8).
    */
  def oracleJaccardTail(threshold: Double): String = {
    val cap = graft.ops.Dedup.defaultMaxDf
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |rare AS (SELECT shingle_id FROM (SELECT shingle_id, count(*) AS c FROM sh GROUP BY 1)
       |         WHERE c > 1 AND c <= $cap),
       |idx AS (SELECT sh.* FROM sh JOIN rare USING (shingle_id)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM idx x JOIN idx y ON x.shingle_id = y.shingle_id AND x.doc_id < y.doc_id),
       |inter AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common
       |          FROM cand
       |          JOIN sh a ON a.doc_id = doc_a
       |          JOIN sh b ON b.doc_id = doc_b AND b.shingle_id = a.shingle_id
       |          GROUP BY 1, 2),
       |jpairs AS (SELECT doc_a, doc_b, n_common,
       |       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $threshold)""".stripMargin
  }

  def oracleJaccardCtesAt(threshold: Double): String = {
    val p = graft.ops.Dedup.minhashPrime
    s"""$oracleTokCtes,
       |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
       |sh AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
       |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
       |                                     (a, t) -> (a * 37 + t + 1) % $p)
       |                         for i in range(1, len(ids) - 3)]) AS sid
       |  FROM ids)),
       |${oracleJaccardTail(threshold)}""".stripMargin
  }

  val oracleJaccardPairs: String =
    s"""WITH $oracleJaccardCtes
       |SELECT doc_a, doc_b, n_common, jaccard FROM jpairs""".stripMargin

  /** d7: connected components of the pair graph by transitive closure —
    * components are algorithm-independent, so the recursive walk attests
    * Spark's iterative label propagation exactly.
    */
  val oracleDedupGroups: String =
    s"""WITH RECURSIVE $oracleJaccardCtes,
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
       |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
       |walk AS (SELECT DISTINCT a AS doc_id, a AS reach FROM edges
       |         UNION
       |         SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach)
       |SELECT doc_id, min(reach) AS group_id FROM walk GROUP BY doc_id""".stripMargin

  /** MMR oracle: greedy diversified selection unrolled as one CTE pair per
    * round (pick, then accumulate) — kept textually parallel to
    * [[graft.ops.Vectors.mmrRerank]]'s loop.
    */
  // lazy: refers to oracleEmbCte, which is declared further down the object
  lazy val oracleMmr: String = {
    val (k, shortlist, lam) = (5, 20, 0.5)
    val base =
      s"""WITH $oracleEmbCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id, ${oracleCos("q.qv", "e.v")} AS sim, e.v AS ev
         |       FROM q, e WHERE e.vec_id <> q.query_id),
         |short AS (SELECT query_id, neighbor_id, sim, ev FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rn FROM sc) WHERE rn <= $shortlist),
         |pairs AS (SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
         |                 ${oracleCos("x.ev", "y.ev")} AS sim_ab
         |          FROM short x JOIN short y ON x.query_id = y.query_id
         |           AND x.neighbor_id <> y.neighbor_id),
         |selu1 AS (SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS mmr_rank FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rn FROM short) WHERE rn = 1)""".stripMargin
    val rounds = (2 to k).map { i =>
      s"""sel$i AS (SELECT query_id, neighbor_id, CAST($i AS BIGINT) AS mmr_rank FROM (
         |    SELECT s.query_id, s.neighbor_id,
         |           row_number() OVER (PARTITION BY s.query_id
         |             ORDER BY ($lam * s.sim - ${1.0 - lam} * p.pen) DESC, s.neighbor_id ASC) AS rn
         |    FROM short s
         |    JOIN (SELECT pr.query_id, pr.a, max(pr.sim_ab) AS pen
         |          FROM pairs pr JOIN selu${i - 1} t
         |            ON t.query_id = pr.query_id AND t.neighbor_id = pr.b
         |          GROUP BY 1, 2) p
         |      ON p.query_id = s.query_id AND p.a = s.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} t2
         |      WHERE t2.query_id = s.query_id AND t2.neighbor_id = s.neighbor_id)
         |  ) WHERE rn = 1),
         |selu$i AS (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      s"\nSELECT query_id, neighbor_id, mmr_rank FROM selu$k"
  }

  /** Hand-authored label propagation for the t52 oracle (the t42/t55
    * discipline): synchronous rounds, but the per-node argmax is expressed
    * as TWO plain aggregations — max neighbor-label count, then min label
    * among the tied — instead of the single encoded
    * `max(cnt·K + (K−1−label)) % K` the Spark side and
    * [[graft.operators.Graph.labelPropagationSql]] share. An encoding
    * mistake (overflow, wrong tie direction) in the shared formulation
    * cannot pass this oracle. `edgesCte` must produce (src, dst).
    */
  def oracleLpaRounds(edgesCte: String, rounds: Int): String = {
    val base =
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesCte) WHERE src <> dst),
         |sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT s.dst AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
         |        FROM sym s JOIN l${i - 1} l ON l.node = s.src GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT node, max(cnt) AS mc FROM c$i GROUP BY node),
         |l$i AS MATERIALIZED (SELECT c.node, min(c.label) AS label
         |        FROM c$i c JOIN m$i m ON m.node = c.node AND c.cnt = m.mc
         |        GROUP BY c.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(label AS BIGINT) AS label FROM l$rounds"
  }

  /** Hand-authored k-core peel for the t42 oracle (round-5 verdict #4) —
    * independently expressed, structurally unlike the symmetrized
    * self-join formulation the Spark side iterates: the edge list stays UNDIRECTED
    * (`src < dst`, never duplicated into both directions) and each round's
    * surviving-node set counts a node's degree as its appearances across
    * BOTH endpoint columns via UNION ALL; edges survive when both
    * endpoints survive. `edgesCte` must produce DISTINCT (src, dst) with
    * src < dst.
    */
  def oracleKcorePeel(edgesCte: String, k: Int, rounds: Int): String = {
    val base = s"e0 AS MATERIALIZED (SELECT src, dst FROM ($edgesCte) WHERE src <> dst)"
    val peels = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT node FROM (
         |    SELECT node, count(*) AS deg FROM (
         |      SELECT src AS node FROM e${i - 1}
         |      UNION ALL SELECT dst AS node FROM e${i - 1}) GROUP BY node)
         |  WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT t.src, t.dst FROM e${i - 1} t
         |  JOIN n$i a ON t.src = a.node JOIN n$i b ON t.dst = b.node)""".stripMargin
    }
    s"WITH " + (base +: peels).mkString(",\n") +
      s"""\nSELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT src AS node FROM e$rounds
         |  UNION ALL SELECT dst AS node FROM e$rounds) GROUP BY node""".stripMargin
  }

  /** Shared base CTEs for the beam-search family (s24/s26): normalized
    * embeddings, spaced-centroid assignment, the kNN graph (s14's CTE),
    * the query batch, and the centroid entry set.
    */
  // lazy: refers to oracleEmbCte/oracleSpacedAssigned, declared further down
  /** Shared by x33 (recompute form) and x58 (served from the persisted
    * postings index): the served path is layout-independent, so ONE SQL
    * attests both — the same contract as s24/s33's `oracleBeam`.
    */
  val oracleBm25: String =
    """WITH q(query_id, term) AS (VALUES
      |  (0, 'hash'), (0, 'join'), (0, 'batch'),
      |  (1, 'vector'), (1, 'scan'), (1, 'filter'),
      |  (2, 'window'), (2, 'agg'), (2, 'order')),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |l AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM p GROUP BY 1),
      |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len) AS avglen FROM l)
      |SELECT query_id, doc_id, score_ppm, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT query_id, doc_id, score_ppm,
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
      |WHERE rank <= 10""".stripMargin

  lazy val oracleBeamBase: String = {
    // the navGraph operating point (round-6 rebuild): every vector joins
    // its top-3 IVF buckets (multi-assignment stitches adjacent cells into
    // one navigable fabric) and keeps its 24 best in-pool neighbors —
    // mirrors Vectors.navGraph(k = 24, nAssign = 3); pairs colliding in
    // several shared buckets dedupe via DISTINCT on the deterministic
    // scored row, exactly as the Spark side does
    val (graphK, nAssign) = (24, 3)
    s"""$oracleEmbCte,
       |$oracleSpacedAssigned,
       |masg AS (SELECT vec_id, centroid_id AS bucket FROM (
       |    SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, centroid_id ASC) AS rn FROM sc)
       |    WHERE rn <= $nAssign),
       |mav AS (SELECT m.vec_id, m.bucket, e.v FROM masg m JOIN e ON e.vec_id = m.vec_id),
       |g AS (SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id, row_number() OVER (PARTITION BY src_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rn
       |    FROM (SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS neighbor_id,
       |                 ${oracleCos("a.v", "b.v")} AS sim
       |          FROM mav a JOIN mav b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id))
       |    WHERE rn <= $graphK),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
       |ent AS (SELECT centroid_id AS node FROM cent)""".stripMargin
  }

  /** The unrolled expand/score/prune rounds for one beam width, CTE names
    * prefixed so several widths coexist in one query (s26). Kept
    * textually parallel to [[graft.ops.Vectors.beamSearch]]'s loop.
    * The graph/query/entry CTE names are parameters so one query can walk
    * SEVERAL graphs (s40 walks the old graph for the append batch, the
    * appended graph and the rebuilt graph for the serves); candidate
    * vectors always resolve from the full `e`.
    */
  def oracleBeamRoundsOver(p: String, beam: Int, rounds: Int,
      g: String, q: String, ent: String): String = {
    val init =
      s"""${p}0 AS (SELECT query_id, node, sim FROM (
         |    SELECT x.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, node ASC) AS rn FROM (
         |      SELECT qq.query_id, en.node, ${oracleCos("qq.qv", "e.v")} AS sim
         |      FROM $q qq CROSS JOIN $ent en JOIN e ON e.vec_id = en.node
         |      WHERE en.node <> qq.query_id) x)
         |    WHERE rn <= $beam)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""${p}c$i AS (SELECT DISTINCT query_id, node FROM (
         |    SELECT s.query_id, gg.neighbor_id AS node
         |    FROM ${p}${i - 1} s JOIN $g gg ON gg.src_id = s.node
         |    UNION ALL SELECT query_id, node FROM ${p}${i - 1})),
         |${p}$i AS (SELECT query_id, node, sim FROM (
         |    SELECT x.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, node ASC) AS rn FROM (
         |      SELECT c.query_id, c.node, ${oracleCos("qq.qv", "e.v")} AS sim
         |      FROM ${p}c$i c JOIN $q qq ON qq.query_id = c.query_id
         |      JOIN e ON e.vec_id = c.node
         |      WHERE c.node <> c.query_id) x)
         |    WHERE rn <= $beam)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  def oracleBeamRounds(p: String, beam: Int, rounds: Int): String =
    oracleBeamRoundsOver(p, beam, rounds, "g", "q", "ent")

  /** s24 beam-search oracle. */
  lazy val oracleBeam: String = {
    val (k, beam, rounds) = (5, 32, 4)
    s"""WITH $oracleBeamBase,
       |${oracleBeamRounds("b", beam, rounds)}
       |SELECT query_id, node AS neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT query_id, node, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, node ASC) AS rn FROM b$rounds)
       |WHERE rn <= $k""".stripMargin
  }

  /** s40 append-vs-rebuild decision oracle: the OLD graph builds over the
    * corpus below the cut (its own spaced ⌈√cut⌉ centroids), the arrived
    * tail beam-walks it for insert-by-search edges (forward top-24 +
    * reverse — [[graft.ops.Vectors.appendToNavGraph]]'s batch semantics:
    * every new vector walks the graph AS IT WAS), and the report reads
    * per-query brute-truth hits of the appended-graph serve next to the
    * rebuilt-graph serve (the rebuilt graph and its walk are s24's
    * verbatim). Three walks, one query — all through
    * [[oracleBeamRoundsOver]] so the round structure cannot drift from
    * the attested s24 form.
    */
  lazy val oracleNavAppendDecision: String = {
    val (k, graphK, nAssign, beam, rounds) = (5, 24, 3, 32, 4)
    s"""WITH $oracleBeamBase,
       |nparams AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                   CAST(count(*) - count(*) // 25 AS BIGINT) AS cut FROM e),
       |eo AS (SELECT e.vec_id, e.v FROM e, nparams WHERE e.vec_id < cut),
       |oparams AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS n_cent,
       |                   GREATEST(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS step
       |            FROM eo),
       |ocent AS (SELECT vec_id AS centroid_id, v AS cv FROM eo, oparams
       |          WHERE vec_id % step = 0 AND vec_id < n_cent * step),
       |osc AS (SELECT eo.vec_id, ocent.centroid_id, ${oracleCos("eo.v", "ocent.cv")} AS cs
       |        FROM eo, ocent),
       |omasg AS (SELECT vec_id, centroid_id AS bucket FROM (
       |    SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, centroid_id ASC) AS rn FROM osc)
       |    WHERE rn <= $nAssign),
       |omav AS (SELECT m.vec_id, m.bucket, eo.v FROM omasg m JOIN eo ON eo.vec_id = m.vec_id),
       |og AS (SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id, row_number() OVER (PARTITION BY src_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rn
       |    FROM (SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS neighbor_id,
       |                 ${oracleCos("a.v", "b.v")} AS sim
       |          FROM omav a JOIN omav b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id))
       |    WHERE rn <= $graphK),
       |oent AS (SELECT centroid_id AS node FROM ocent),
       |nq AS (SELECT e.vec_id AS query_id, e.v AS qv FROM e, nparams WHERE e.vec_id >= cut),
       |${oracleBeamRoundsOver("ap", beam, rounds, "og", "nq", "oent")},
       |fwd AS (SELECT query_id AS src_id, node AS neighbor_id FROM (
       |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, node ASC) AS rn FROM ap$rounds)
       |    WHERE rn <= $graphK),
       |gapp AS (SELECT src_id, neighbor_id FROM og
       |         UNION ALL SELECT src_id, neighbor_id FROM fwd
       |         UNION ALL SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM fwd),
       |${oracleBeamRoundsOver("sa", beam, rounds, "gapp", "q", "oent")},
       |${oracleBeamRoundsOver("sr", beam, rounds, "g", "q", "ent")},
       |satop AS (SELECT query_id, node FROM (
       |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, node ASC) AS rn FROM sa$rounds) WHERE rn <= $k),
       |srtop AS (SELECT query_id, node FROM (
       |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, node ASC) AS rn FROM sr$rounds) WHERE rn <= $k),
       |tsc AS (SELECT query_id, e.vec_id AS neighbor_id, ${oracleCos("q.qv", "e.v")} AS sim
       |        FROM q, e WHERE e.vec_id <> q.query_id),
       |truth AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rn FROM tsc)
       |    WHERE rn <= $k),
       |happ AS (SELECT t.query_id, CAST(count(sa.node) AS BIGINT) AS n_hits_appended
       |         FROM truth t LEFT JOIN satop sa
       |           ON sa.query_id = t.query_id AND sa.node = t.neighbor_id
       |         GROUP BY 1),
       |hreb AS (SELECT t.query_id, CAST(count(sr.node) AS BIGINT) AS n_hits_rebuilt
       |         FROM truth t LEFT JOIN srtop sr
       |           ON sr.query_id = t.query_id AND sr.node = t.neighbor_id
       |         GROUP BY 1)
       |SELECT happ.query_id, n_hits_appended, n_hits_rebuilt,
       |       CAST(n - cut AS BIGINT) AS n_appended,
       |       CAST((1000000 * (n - cut)) // n AS BIGINT) AS appended_frac_ppm
       |FROM happ JOIN hreb ON hreb.query_id = happ.query_id CROSS JOIN nparams""".stripMargin
  }

  /** s26 beam-width sweep oracle: all widths share the base CTEs (one
    * graph), each contributes its own unrolled rounds and a hit count
    * against the brute-force truth.
    */
  lazy val oracleBeamSweep: String = {
    val (k, rounds) = (5, 4)
    val beams = Seq(4, 8, 16, 32)
    val nQueries = 8
    val truth =
      s"""tsc AS (SELECT query_id, e.vec_id AS neighbor_id, ${oracleCos("q.qv", "e.v")} AS sim
         |        FROM q, e WHERE e.vec_id <> q.query_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rn FROM tsc)
         |    WHERE rn <= $k)""".stripMargin
    val perBeam = beams.map(b => oracleBeamRounds(s"w${b}_", b, rounds))
    val finals = beams.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS beam, n_hits,
         |       n_hits * 1000000 // ${k.toLong * nQueries} AS recall_ppm FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hits FROM (
         |    SELECT query_id, node FROM (
         |      SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, node ASC) AS rn FROM w${b}_$rounds)
         |      WHERE rn <= $k) f
         |  JOIN truth t ON t.query_id = f.query_id AND t.neighbor_id = f.node)""".stripMargin
    }
    s"WITH $oracleBeamBase,\n$truth,\n" + perBeam.mkString(",\n") + "\n" +
      finals.mkString("\nUNION ALL\n")
  }

  /** LSH oracle: the plane literals are generated from the same arithmetic
    * as [[Vectors.lshPlanes]], so both engines bucket identically.
    */
  // lazy: refers to oracleEmbCte, which is declared further down the object
  /** Multi-probe LSH oracle (s3's shipped default): each query probes its
    * own sign-bucket plus every Hamming-1 bucket (one plane's sign bit
    * flipped — `xor(bucket, 1<<j)`), mirroring
    * [[graft.ops.AnnSpec.Hamming1]] bucket-for-bucket.
    */
  lazy val oracleLsh: String = {
    val planes = graft.ops.Vectors.lshPlanes(8, 64)
    val planeSql = planes.map(p => "[" + p.mkString(", ") + "]")
    val bucketExpr = planeSql.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product(v, $p) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val probeList = ("bucket" +: (0 until 8).map(j => s"xor(bucket, ${1L << j})")).mkString(", ")
    s"""WITH $oracleEmbCte,
       |b AS (SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, unnest([$probeList]) AS bucket, v AS qv
       |      FROM b WHERE vec_id < 8),
       |scored AS (SELECT q.query_id, b.vec_id AS neighbor_id, ${oracleCos("q.qv", "b.v")} AS sim
       |           FROM q JOIN b ON b.bucket = q.bucket AND b.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin
  }

  /** LSH band pairs over the 8-hash MinHash signature of *shingle* ids
    * (5-gram rolling polynomial over token ids): 4 bands × 2 rows — matches
    * [[Dedup.pairs]] with `PairSpec(Grams(5), MinHash(4), verify = Keys)`. The
    * shingle fold is `list_reduce` with an explicit 0 seed, mirroring
    * Spark's `aggregate(slice(ids, i, 5), 0, (a,t) -> (a*37 + t + 1) % p)`.
    */
  /** Band-collision predicate over the 8-sig table aliases x/y (4 bands ×
    * 2 rows — matches [[Dedup.pairs]]' `MinHash(4)` band keys).
    */
  val oracleBandEq: String = (0 until 4)
    .map(bi => s"(x.sig_${2 * bi} = y.sig_${2 * bi} AND x.sig_${2 * bi + 1} = y.sig_${2 * bi + 1})")
    .mkString(" OR ")

  /** CTE chain ending in `sigs` (doc_id, sig_0…sig_7): MinHash over 5-gram
    * shingle ids. The shingle fold is `list_reduce` with an explicit 0 seed,
    * mirroring Spark's `(acc·37 + t + 1) mod p` rolling polynomial.
    */
  val oracleSigCtes: String = {
    val p = graft.ops.Dedup.minhashPrime
    val coeffExprs = graft.ops.Dedup.minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min((shingle_id * $a + $b) % $p) AS BIGINT) AS sig_$i"
    }.mkString(", ")
    s"""$oracleTokCtes,
       |ids AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM tid GROUP BY doc_id),
       |sids AS (SELECT DISTINCT doc_id, sid AS shingle_id FROM (
       |  SELECT doc_id, unnest([list_reduce(list_prepend(CAST(0 AS BIGINT), ids[i:i+4]),
       |                                     (a, t) -> (a * 37 + t + 1) % $p)
       |                         for i in range(1, len(ids) - 3)]) AS sid
       |  FROM ids)),
       |sigs AS (SELECT doc_id, $coeffExprs FROM sids GROUP BY doc_id)""".stripMargin
  }

  /** One row per (doc, band): the 4-band × 2-row explosion of the `sigs`
    * CTE — the SQL twin of [[Dedup]]'s banded table (d4, d14).
    */
  val oracleBandRows: String = (0 until 4)
    .map(bi => s"SELECT doc_id, $bi AS band, sig_${2 * bi} AS r0, sig_${2 * bi + 1} AS r1 FROM sigs")
    .mkString("\n  UNION ALL ")

  val oracleMinhashPairs: String = {
    // band-key membership cap — the identical cap
    // [[Dedup.pairs]] applies to `MinHash` band keys (keys claimed by more
    // than `cap` documents are dropped from pair enumeration)
    val cap = graft.ops.Dedup.defaultMaxDf
    s"""WITH $oracleSigCtes,
       |bnd AS (
       |  $oracleBandRows),
       |cool AS (SELECT band, r0, r1 FROM (SELECT band, r0, r1, count(*) AS c
       |                                   FROM bnd GROUP BY 1, 2, 3)
       |         WHERE c <= $cap),
       |bok AS (SELECT bnd.* FROM bnd JOIN cool USING (band, r0, r1))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bok x JOIN bok y
       |ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1 AND x.doc_id < y.doc_id""".stripMargin
  }

  /** [[oracleMinhashPairs]] generalized to any band count dividing the
    * 8-hash signature (bands = 2 → 4-row keys, 8 → 1-row keys), with the
    * identical membership cap — the d36 sweep's per-config candidates.
    */
  def oracleMinhashPairsFor(bands: Int): String = {
    val rows = 8 / bands
    val cap = graft.ops.Dedup.defaultMaxDf
    val bandRows = (0 until bands).map { bi =>
      val keyCols = (0 until rows).map(j => s"sig_${rows * bi + j} AS k$j").mkString(", ")
      s"SELECT doc_id, $bi AS band, $keyCols FROM sigs"
    }.mkString("\n  UNION ALL ")
    val keyList = (0 until rows).map(j => s"k$j").mkString(", ")
    val keyEq = (0 until rows).map(j => s"x.k$j = y.k$j").mkString(" AND ")
    val groupBy = (1 to rows + 1).mkString(", ")
    s"""WITH $oracleSigCtes,
       |bnd AS (
       |  $bandRows),
       |cool AS (SELECT band, $keyList FROM (SELECT band, $keyList, count(*) AS c
       |                                     FROM bnd GROUP BY $groupBy)
       |         WHERE c <= $cap),
       |bok AS (SELECT bnd.* FROM bnd JOIN cool USING (band, $keyList))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bok x JOIN bok y
       |ON x.band = y.band AND $keyEq AND x.doc_id < y.doc_id""".stripMargin
  }

  /** d10: ingest-order near-dup filter — keep a doc iff no smaller doc_id
    * claims any of its band signatures (the batch twin of
    * [[Dedup.streamingNearDup]]'s key-collision rule).
    */
  val oracleNearDupKeepFirst: String =
    s"""WITH $oracleSigCtes
       |SELECT d.doc_id FROM documents d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM sigs x JOIN sigs y
       |  ON x.doc_id < y.doc_id AND ($oracleBandEq)
       |  WHERE y.doc_id = d.doc_id)""".stripMargin

  /** Multi-probe IVF oracle (s2's shipped default at nprobe = 4, s4's
    * recall-knob demo at nprobe = 8): the query's `nprobe` nearest spaced
    * centroids, searched over the same ⌈√N⌉-bucket assignment as d6.
    */
  def oracleIvfMultiProbeAt(nprobe: Int, k: Int): String =
    s"""WITH $oracleEmbCte,
       |$oracleSpacedAssigned,
       |qp AS (SELECT query_id, bucket FROM (
       |         SELECT vec_id AS query_id, centroid_id AS bucket,
       |                row_number() OVER (PARTITION BY vec_id
       |                  ORDER BY cs DESC, centroid_id ASC) AS rn
       |         FROM sc WHERE vec_id < 8)
       |       WHERE rn <= $nprobe),
       |q AS (SELECT qp.query_id, qp.bucket, e.v AS qv
       |      FROM qp JOIN e ON e.vec_id = qp.query_id),
       |scored AS (SELECT q.query_id, av.vec_id AS neighbor_id, ${oracleCos("q.qv", "av.v")} AS sim
       |           FROM q JOIN av ON av.bucket = q.bucket AND av.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** Multi-table LSH oracle (s5): candidate iff the query and vector share
    * a bucket in ANY of the 4 tables (the OR form — the Spark side uses the
    * equivalent explode + equi-join, which scales; the oracle favors
    * simplicity). Plane literals mirror [[graft.ops.Vectors.lshPlanes]]
    * with per-table offsets.
    */
  /** Per-table sign-bucket column SQL (b0…b{n−1}) — mirrors
    * [[graft.ops.Vectors]]' shared bucketing expression; used by the
    * multi-table ANN (s5) and the keep-first dedup (d12) oracles.
    */
  def oracleLshTableCols(nTables: Int): String =
    (0 until nTables).map { t =>
      val planes = graft.ops.Vectors.lshPlanes(8, 64, start = t * 8)
      val expr = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN list_dot_product(v, [${p.mkString(", ")}]) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST($expr AS BIGINT) AS b$t"
    }.mkString(",\n       ")

  lazy val oracleLshMulti: String = {
    val nTables = 4
    val bCols = oracleLshTableCols(nTables)
    val anyMatch = (0 until nTables).map(t => s"q.b$t = c.b$t").mkString(" OR ")
    s"""WITH $oracleEmbCte,
       |bt AS (SELECT vec_id, v, $bCols FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, b0, b1, b2, b3 FROM bt WHERE vec_id < 8),
       |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, ${oracleCos("q.qv", "c.v")} AS sim
       |           FROM q JOIN bt c ON c.vec_id <> q.query_id AND ($anyMatch))
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin
  }

  /** d12: ingest-order embedding dedup — keep a vector iff no smaller
    * vec_id claims any of its 4 sign-hash buckets (the batch twin of
    * [[graft.ops.Vectors.streamingLshNearDup]]'s key-collision rule).
    */
  lazy val oracleVectorKeepFirst: String = {
    val anyMatch = (0 until 4).map(t => s"x.b$t = b.b$t").mkString(" OR ")
    s"""WITH $oracleEmbCte,
       |bt AS (SELECT vec_id, ${oracleLshTableCols(4)} FROM e)
       |SELECT b.vec_id FROM bt b
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM bt x WHERE x.vec_id < b.vec_id AND ($anyMatch))""".stripMargin
  }

  /** Two-level IVF oracle (s6): coarse = ⌈√C⌉ spaced subset of the fine
    * seeds; fine centroids route to their nearest coarse parent; vectors
    * route coarse-first then to the nearest fine child of that parent —
    * mirrors [[graft.ops.AnnSpec.IvfTwoLevel]] routing tie-for-tie. The
    * SEARCH side is multi-probe (round-5 default): each query probes its 4
    * nearest fine centroids scored DIRECTLY (the query side is |Q| rows —
    * hierarchical routing there saves nothing and costs recall), mirroring
    * `AnnSpec(IvfTwoLevel(…), Nearest(4))`.
    */
  lazy val oracleIvfTwoLevel: String =
    s"""WITH $oracleEmbCte,
       |params AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS n_cent,
       |                  GREATEST(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS step
       |           FROM e),
       |p2 AS (SELECT n_cent, step,
       |              CAST(ceil(sqrt(n_cent)) AS BIGINT) AS c2,
       |              GREATEST(1, n_cent // CAST(ceil(sqrt(n_cent)) AS BIGINT)) AS cstep
       |       FROM params),
       |fine AS (SELECT vec_id AS fine_id, v AS fv FROM e, params
       |         WHERE vec_id % step = 0 AND vec_id < n_cent * step),
       |coarse AS (SELECT vec_id AS coarse_id, v AS cv FROM e, p2
       |           WHERE vec_id % (cstep * step) = 0 AND vec_id < c2 * cstep * step),
       |fp AS (SELECT fine_id, fv, coarse_id AS parent FROM (
       |         SELECT f.fine_id, f.fv, c.coarse_id,
       |                row_number() OVER (PARTITION BY f.fine_id
       |                  ORDER BY ${oracleCos("f.fv", "c.cv")} DESC, c.coarse_id ASC) AS rn
       |         FROM fine f, coarse c) WHERE rn = 1),
       |vc AS (SELECT vec_id, v, coarse_id AS parent FROM (
       |         SELECT e.vec_id, e.v, c.coarse_id,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.coarse_id ASC) AS rn
       |         FROM e, coarse c) WHERE rn = 1),
       |av AS (SELECT vec_id, bucket, v FROM (
       |         SELECT vc.vec_id, vc.v, fp.fine_id AS bucket,
       |                row_number() OVER (PARTITION BY vc.vec_id
       |                  ORDER BY ${oracleCos("vc.v", "fp.fv")} DESC, fp.fine_id ASC) AS rn
       |         FROM vc JOIN fp ON fp.parent = vc.parent) WHERE rn = 1),
       |qp AS (SELECT query_id, bucket FROM (
       |         SELECT e.vec_id AS query_id, f.fine_id AS bucket,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${oracleCos("e.v", "f.fv")} DESC, f.fine_id ASC) AS rn
       |         FROM e, fine f WHERE e.vec_id < 8)
       |       WHERE rn <= 4),
       |q AS (SELECT qp.query_id, qp.bucket, e.v AS qv
       |      FROM qp JOIN e ON e.vec_id = qp.query_id),
       |scored AS (SELECT q.query_id, av.vec_id AS neighbor_id, ${oracleCos("q.qv", "av.v")} AS sim
       |           FROM q JOIN av ON av.bucket = q.bucket AND av.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** Fused multi-probe recall-sweep CTE chain ending in
    * `sweep(nprobe, n_hits, n_truth, recall_ppm)` — one multiprobe block
    * per config over the SHARED centroid ranking (qp), each contributing
    * one row. The s23 sweep table and the s28 tuning decision both read
    * from it (mirrors [[graft.ops.Vectors.probeSweep]]).
    */
  def oracleProbeSweepCtes(k: Int, qn: Int, cfg: Seq[Int]): String = {
    val blocks = cfg.map { np =>
      s"""iq_$np AS (SELECT qp.query_id, qp.bucket, e.v AS qv
         |          FROM qp JOIN e ON e.vec_id = qp.query_id WHERE qp.rn <= $np),
         |isc_$np AS (SELECT q.query_id, av.vec_id AS neighbor_id, ${oracleCos("q.qv", "av.v")} AS sim
         |          FROM iq_$np q JOIN av ON av.bucket = q.bucket AND av.vec_id <> q.query_id),
         |itop_$np AS (SELECT query_id, neighbor_id FROM (
         |            SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |              ORDER BY sim DESC, neighbor_id ASC) AS rn FROM isc_$np)
         |          WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    val rows = cfg.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |       (SELECT CAST(count(*) AS BIGINT) FROM btop b
         |        JOIN itop_$np i ON i.query_id = b.query_id
         |         AND i.neighbor_id = b.neighbor_id) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $oracleEmbCte,
       |$oracleSpacedAssigned,
       |bq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $qn),
       |bscored AS (SELECT query_id, e.vec_id AS neighbor_id, ${oracleCos("bq.qv", "e.v")} AS sim
       |            FROM bq, e WHERE e.vec_id <> bq.query_id),
       |btop AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |             ORDER BY sim DESC, neighbor_id ASC) AS rn FROM bscored)
       |         WHERE rn <= $k),
       |qp AS (SELECT vec_id AS query_id, centroid_id AS bucket, rn FROM (
       |         SELECT vec_id, centroid_id,
       |                row_number() OVER (PARTITION BY vec_id
       |                  ORDER BY cs DESC, centroid_id ASC) AS rn
       |         FROM sc WHERE vec_id < $qn)),
       |$blocks,
       |sweep AS (SELECT nprobe, n_hits, CAST(${qn * k} AS BIGINT) AS n_truth,
       |                 (1000000 * n_hits) // ${qn * k} AS recall_ppm
       |          FROM ($rows))""".stripMargin
  }

  /** The s32 SQ8 compressed-grid margin-mining oracle — shared verbatim
    * by s38_margin_gated, whose gate resolves to the scan branch on the
    * measured-isotropic fixture: s8's stats/codes/dec CTEs (quantization
    * grid spans test ∪ train = e), per-side top-8 shortlists ranked on
    * the COMPRESSED scores, exact re-rank of the shortlisted pairs only,
    * then s31's margin tail (rank-ordered folds, ppm rounding before the
    * threshold) over those candidates.
    */
  lazy val oracleMarginScan: String =
    s"""WITH $oracleEmbCte,
         |ex AS (SELECT vec_id, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x FROM e),
         |stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
         |codes AS (SELECT vec_id, i, mn, mx,
         |            CASE WHEN mx > mn THEN least(floor((x - mn) * 255.0 / (mx - mn)), 255.0)
         |                 ELSE 0.0 END AS c
         |          FROM ex JOIN stats USING (i)),
         |dec AS (SELECT vec_id, list(mn + c * ((mx - mn) / 255.0) ORDER BY i) AS dv
         |        FROM codes GROUP BY vec_id),
         |t AS (SELECT vec_id AS test_id, dv AS tq FROM dec
         |      WHERE vec_id % 10 < 2 AND vec_id < 20000),
         |r AS (SELECT vec_id AS train_id, dv AS rq FROM dec WHERE vec_id % 10 >= 2),
         |qs AS (SELECT test_id, train_id, list_dot_product(tq, rq) AS qsim FROM t, r),
         |fsl AS (SELECT test_id, train_id FROM (
         |    SELECT test_id, train_id, row_number() OVER (PARTITION BY test_id
         |      ORDER BY qsim DESC, train_id ASC) AS rn FROM qs) WHERE rn <= 8),
         |bsl AS (SELECT test_id, train_id FROM (
         |    SELECT test_id, train_id, row_number() OVER (PARTITION BY train_id
         |      ORDER BY qsim DESC, test_id ASC) AS rn FROM qs) WHERE rn <= 8),
         |cand AS (SELECT DISTINCT test_id, train_id FROM (
         |    SELECT * FROM fsl UNION ALL SELECT * FROM bsl)),
         |sc AS (SELECT c.test_id, c.train_id, ${oracleCos("te.v", "tr.v")} AS sim
         |       FROM cand c JOIN e te ON te.vec_id = c.test_id
         |       JOIN e tr ON tr.vec_id = c.train_id),
         |fr AS (SELECT test_id, train_id, sim, row_number() OVER (PARTITION BY test_id
         |         ORDER BY sim DESC, train_id ASC) AS rn FROM sc),
         |br AS (SELECT test_id, train_id, sim, row_number() OVER (PARTITION BY train_id
         |         ORDER BY sim DESC, test_id ASC) AS rn FROM sc),
         |fa AS (SELECT test_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sim ORDER BY rn)),
         |           (a, b) -> a + b) / count(*) AS f_avg
         |       FROM fr WHERE rn <= 4 GROUP BY test_id),
         |ba AS (SELECT train_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sim ORDER BY rn)),
         |           (a, b) -> a + b) / count(*) AS b_avg
         |       FROM br WHERE rn <= 4 GROUP BY train_id),
         |top1 AS (SELECT test_id, train_id, sim FROM fr WHERE rn = 1)
         |SELECT test_id, train_id,
         |       CAST(round(2000000 * sim / (f_avg + b_avg)) AS BIGINT) AS margin_ppm
         |FROM top1 JOIN fa USING (test_id) JOIN ba USING (train_id)
         |WHERE CAST(round(2000000 * sim / (f_avg + b_avg)) AS BIGINT) >= 1200000""".stripMargin

  /** Brute-force exact top-k for queries 0..qn−1 with the constant
    * `serve_ok` column — the oracle side of the s36/s37 trained-artifact
    * checked queries (the Spark side folds the recall-floor assert; the
    * deterministic columns are exactly this truth set).
    */
  def oracleBruteChecked(k: Int, qn: Int): String =
    s"""WITH $oracleEmbCte,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $qn),
       |sc AS (SELECT query_id, e.vec_id AS neighbor_id, ${oracleCos("q.qv", "e.v")} AS sim
       |       FROM q, e WHERE e.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, TRUE AS serve_ok
       |FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM sc)
       |WHERE rank <= $k""".stripMargin

  /** Doubles-widened embedding CTE + IVF assignment (centroids = vec_id<32,
    * nearest by cosine, ties to the smaller centroid id).
    */
  val oracleEmbCte: String =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      |e AS (SELECT vec_id, [x / sqrt(list_dot_product(v0, v0)) for x in v0] AS v FROM e0)""".stripMargin

  // vectors are pre-normalized in the CTE above, so cosine ≡ dot — mirrors
  // Vectors.withUnit on the Spark side (normalize once, dot everywhere)
  def oracleCos(x: String, y: String): String =
    s"list_dot_product($x, $y)"

  /** Spaced ⌈√N⌉-centroid assignment — mirrors
    * [[graft.ops.Vectors.spacedCentroidIds]]: C = ceil(sqrt(N)), step = N
    * div C, seeds = multiples of step below C·step.
    */
  val oracleSpacedAssigned: String =
    s"""params AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS n_cent,
       |                  GREATEST(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS step
       |           FROM e),
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e, params
       |         WHERE vec_id % step = 0 AND vec_id < n_cent * step),
       |sc AS (SELECT e.vec_id, cent.centroid_id, ${oracleCos("e.v", "cent.cv")} AS cs FROM e, cent),
       |assigned AS (SELECT vec_id, centroid_id AS bucket
       |             FROM (SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY cs DESC, centroid_id ASC) AS rn FROM sc)
       |             WHERE rn = 1),
       |av AS (SELECT a.vec_id, a.bucket, e.v FROM assigned a JOIN e ON e.vec_id = a.vec_id)""".stripMargin

  /** PQ code CTEs over the normalized `e` frame (m=8 subspaces of 8 dims,
    * ks=16 spaced centroids — mirrors [[graft.ops.Vectors.spacedPqCodebook]]
    * + [[org.apache.spark.sql.graft.PqEncode]]): squared distances fold
    * left-to-right from 0.0 and argmin keeps the earliest index on ties,
    * the exact accumulation/tie order of the codegen expressions. Yields
    * `pcent` (cidx, cv) and `pcodes` (vec_id, s, code).
    */
  /** [[oraclePqCtes]] generalized to any (m subspaces, ks centroids) over
    * d = 64 dims — sub-dim = 64/m; the round-5 s9/s11 defaults run at
    * m = 16, ks = 64 (4-dim subspaces, 16 bytes/vector) while s12/s20 keep
    * the m = 8, ks = 16 small-code point.
    */
  def oraclePqCtesFor(m: Int, ks: Int): String = {
    val sub = 64 / m
    s"""pqp AS (SELECT GREATEST(1, count(*) // $ks) AS stepk FROM e),
       |pcent AS (SELECT CAST(vec_id // stepk AS BIGINT) AS cidx, v AS cv FROM e, pqp
       |         WHERE vec_id % stepk = 0 AND vec_id < $ks * stepk),
       |sdist AS (SELECT e.vec_id, t.s, c.cidx,
       |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |              [(e.v[t.s*$sub+j] - c.cv[t.s*$sub+j]) * (e.v[t.s*$sub+j] - c.cv[t.s*$sub+j])
       |               for j in range(1, ${sub + 1})]),
       |              (a, d) -> a + d) AS dist
       |          FROM e, range(0, $m) t(s), pcent c),
       |pcodes AS (SELECT vec_id, s, cidx AS code FROM (
       |            SELECT vec_id, s, cidx,
       |                   row_number() OVER (PARTITION BY vec_id, s
       |                     ORDER BY dist ASC, cidx ASC) AS rn
       |            FROM sdist) WHERE rn = 1)""".stripMargin
  }

  val oraclePqCtes: String = oraclePqCtesFor(8, 16)

  /** ADC scoring + ranking tail shared by the PQ oracles: per-subspace dots
    * fold sequentially, the m partials add in subspace order (list ORDER BY
    * s), ranks tie to the smaller neighbor id.
    */
  def oraclePqScoredFor(m: Int)(candidates: String): String = {
    val sub = 64 / m
    s"""parts AS (SELECT q.query_id, nb.vec_id AS neighbor_id, cd.s,
       |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |              [q.qv[cd.s*$sub+j] * c.cv[cd.s*$sub+j] for j in range(1, ${sub + 1})]),
       |              (a, d) -> a + d) AS part
       |          FROM $candidates
       |          JOIN pcodes cd ON cd.vec_id = nb.vec_id
       |          JOIN pcent c ON c.cidx = cd.code),
       |scored AS (SELECT query_id, neighbor_id,
       |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(part ORDER BY s)),
       |               (a, b) -> a + b) AS sim
       |           FROM parts GROUP BY query_id, neighbor_id)""".stripMargin
  }

  def oraclePqScored(candidates: String): String = oraclePqScoredFor(8)(candidates)

  def oraclePqRankFor(m: Int)(candidates: String, k: Int): String =
    s"""${oraclePqScoredFor(m)(candidates)}
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= $k""".stripMargin

  def oraclePqRank(candidates: String, k: Int): String =
    oraclePqRankFor(8)(candidates, k)

  /** One unrolled BPE merge round for the x62 oracle — an INDEPENDENT
    * formulation of greedy left-to-right pair merging from the Spark
    * side's anchored-regex pass: adjacent pairs from the round's token
    * lists, argmax with the (count desc, l, r) tie-break, then greedy
    * occurrence selection as MATCH-RUN PARITY (gaps-and-islands row
    * numbers: within each maximal run of consecutive matching positions,
    * keep the 1st, 3rd, … — each merge consumes its right token, exactly
    * the regex engine's non-overlapping left-to-right behavior), and the
    * rebuild drops each selected position's right neighbor.
    *
    * Each round's token state is MATERIALIZED (the graph-oracle idiom):
    * DuckDB inlines plain CTEs, and a round references its predecessor
    * twice (pair stream + rebuild stream) — at the x65 depth (32 rounds)
    * inlining is 2³² re-reads of the corpus ("too many open files"
    * before any memory pressure).
    */
  private def oracleBpeRound(r: Int): String = {
    val prev = s"d${r - 1}"
    s"""p$r AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks AS tk FROM $prev),
       |q$r AS (SELECT doc_id, i, tk[i] AS lt, tk[i+1] AS rt FROM p$r),
       |c$r AS (SELECT lt, rt, count(*) AS c FROM q$r GROUP BY 1, 2),
       |b$r AS (SELECT lt, rt, c FROM c$r ORDER BY c DESC, lt ASC, rt ASC LIMIT 1),
       |s$r AS (SELECT doc_id, i,
       |               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |        FROM q$r JOIN b$r USING (lt, rt)),
       |sel$r AS (SELECT doc_id, i FROM (
       |          SELECT doc_id, i, ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) AS k
       |          FROM s$r) WHERE k % 2 = 1),
       |e$r AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i, toks AS tk FROM $prev),
       |d$r AS MATERIALIZED (SELECT e.doc_id,
       |               list(CASE WHEN s.i IS NOT NULL THEN e.tk[e.i] || e.tk[e.i+1]
       |                         ELSE e.tk[e.i] END ORDER BY e.i) AS toks
       |        FROM e$r e
       |        LEFT JOIN sel$r s  ON s.doc_id = e.doc_id AND s.i = e.i
       |        LEFT JOIN sel$r sk ON sk.doc_id = e.doc_id AND sk.i = e.i - 1
       |        WHERE sk.i IS NULL
       |        GROUP BY e.doc_id)""".stripMargin
  }

  /** Shared x62/x63 CTE chain: char tokens over the normalized sampled
    * slice, then `rounds` unrolled merge rounds (d0 → d`rounds`).
    */
  private def oracleBpeCtes(rounds: Int, docMod: Long): String = {
    val body = (1 to rounds).map(oracleBpeRound).mkString(",\n")
    // multiplicative-hash sample, the s30 idiom — doc_id % mod would
    // collapse onto one source (source = doc_id % 20 in the fixture)
    s"""WITH d0 AS MATERIALIZED (
       |  SELECT doc_id, [t[i:i] FOR i IN range(1, len(t)+1)] AS toks
       |  FROM (SELECT doc_id,
       |               substring(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 400) AS t
       |        FROM documents
       |        WHERE ((doc_id % 2147483647) * ${2654435761L % 2147483647L})
       |                % 2147483647 % $docMod = 0)
       |  WHERE len(t) > 0),
       |$body""".stripMargin
  }

  /** The full x62 oracle: the learned merge table out of the CTE chain. */
  def oracleBpeMerges(rounds: Int, docMod: Long = 20L): String = {
    val union = (1 to rounds).map { r =>
      if (r == 1)
        s"  SELECT CAST(1 AS BIGINT) AS merge_rank, lt AS l, rt AS r, CAST(c AS BIGINT) AS pair_count FROM b1"
      else s"  UNION ALL SELECT $r, lt, rt, c FROM b$r"
    }.mkString("\n")
    s"""${oracleBpeCtes(rounds, docMod)}
       |SELECT merge_rank, l, r, pair_count FROM (
       |$union)
       |ORDER BY merge_rank""".stripMargin
  }

  /** The x63 oracle: per-source fertility of the final tokenization —
    * merges preserve characters, so chars come straight off the final
    * token lists (concatenated length) and tokens off their lengths.
    */
  def oracleBpeFertility(rounds: Int, docMod: Long = 20L): String =
    s"""${oracleBpeCtes(rounds, docMod)},
       |f AS (SELECT doc_id, len(toks) AS n_tokens,
       |             len(list_aggregate(toks, 'string_agg', '')) AS n_chars
       |      FROM d$rounds)
       |SELECT doc.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(f.n_chars) AS BIGINT) AS n_chars,
       |       CAST(sum(f.n_tokens) AS BIGINT) AS n_tokens,
       |       CAST((1000000 * sum(f.n_chars)) // sum(f.n_tokens) AS BIGINT)
       |         AS chars_per_token_ppm
       |FROM f JOIN documents doc USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** The x68 oracle: the fertility read at several DEPTHS off ONE unrolled
    * chain — d4/d8/d16 are intermediates of the d`depths.max` build, so
    * the oracle trains once exactly as the Spark side serves one artifact.
    */
  def oracleBpeVocabCurve(depths: Seq[Int], docMod: Long = 20L): String = {
    val fs = depths.map { r =>
      s"""f$r AS (SELECT CAST($r AS BIGINT) AS merge_rounds,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(len(list_aggregate(toks, 'string_agg', ''))) AS BIGINT) AS n_chars,
         |        CAST(sum(len(toks)) AS BIGINT) AS n_tokens
         |        FROM d$r)""".stripMargin
    }.mkString(",\n")
    val union = depths.map { r =>
      s"SELECT merge_rounds, n_docs, n_chars, n_tokens, " +
        s"CAST((1000000 * n_chars) // n_tokens AS BIGINT) AS chars_per_token_ppm FROM f$r"
    }.mkString("\nUNION ALL\n")
    s"""${oracleBpeCtes(depths.max, docMod)},
       |$fs
       |$union""".stripMargin
  }
}
