package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.binlog.{DailyCounts, TransactionStats}
import graft.ops.PairSpec
import graft.ops.PairSpec._

/** Property tests (SURVEY.md §5.3). Each sample runs Spark jobs, so the
  * sample count is kept small — the properties are algebraic, not
  * statistical.
  */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = TestSession.spark
  import spark.implicits._

  private val cols = Seq("execute_time", "gtid", "binlog_pos",
    "single_statement_size", "single_statement_affected_rows")

  private case class Ev(offsetSec: Int, gtid: Int, size: Int, rows: Int)

  private val genEvents: Gen[List[Ev]] =
    Gen.chooseNum(5, 120).flatMap { n =>
      Gen.listOfN(n, for {
        off <- Gen.chooseNum(0, 1200)
        g <- Gen.chooseNum(0, 5)
        sz <- Gen.chooseNum(0, 500)
        r <- Gen.chooseNum(1, 5)
      } yield Ev(off, g, sz, r))
    }

  private def toDf(evs: List[Ev]): DataFrame =
    evs.zipWithIndex.map { case (e, i) =>
      (new Timestamp(1700000000000L + e.offsetSec * 1000L), s"g${e.gtid}",
        i.toString, e.size.toString, e.rows.toLong)
    }.toDF(cols: _*)

  // (a) per-window stats are invariant under input permutation/partitioning
  // (shuffle the materialized rows — pos assignments must travel with them)
  property("perWindow invariant under shuffle") = Prop.forAll(genEvents) { evs =>
    val rows = evs.zipWithIndex.map { case (e, i) =>
      (new Timestamp(1700000000000L + e.offsetSec * 1000L), s"g${e.gtid}",
        i.toString, e.size.toString, e.rows.toLong)
    }
    val a = TransactionStats.perWindow(rows.toDF(cols: _*))
      .orderBy("end_time", "gtid").collect().toSeq
    val b = TransactionStats.perWindow(
      scala.util.Random.shuffle(rows).toDF(cols: _*).repartition(5))
      .orderBy("end_time", "gtid").collect().toSeq
    a == b
  }

  // (b) incremental MV partials + re-sum ≡ one batch aggregation, any split
  property("MV incremental ≡ batch for any split") =
    Prop.forAll(genEvents, Gen.chooseNum(1, 10)) { (evs, chunk) =>
      val full = toDf(evs).select(col("execute_time"), lit("INSERT").as("event_type"))
      val partials = evs.grouped(math.max(1, chunk)).map { part =>
        DailyCounts.dailyEventCounts(
          toDf(part).select(col("execute_time"), lit("INSERT").as("event_type")))
      }.reduce(_ unionAll _)
      val inc = DailyCounts.resum(partials, Seq("day", "event_type"))
        .orderBy("day").collect().toSeq
      val batch = DailyCounts.dailyEventCounts(full).orderBy("day").collect().toSeq
      inc == batch
    }

  // (c) re-sum view is invariant to compaction state
  property("resum invariant to partial compaction") =
    Prop.forAll(genEvents, Gen.chooseNum(0, 100)) { (evs, splitPct) =>
      val df = toDf(evs).select(col("execute_time"), lit("INSERT").as("event_type"))
      val partials = DailyCounts.dailyEventCounts(df.limit(evs.size * splitPct / 100))
        .unionAll(DailyCounts.dailyEventCounts(
          toDf(evs.drop(evs.size * splitPct / 100))
            .select(col("execute_time"), lit("INSERT").as("event_type"))))
      val compacted = DailyCounts.compact(partials, Seq("day", "event_type"))
      val a = DailyCounts.resum(partials, Seq("day", "event_type")).orderBy("day").collect().toSeq
      val b = DailyCounts.resum(compacted, Seq("day", "event_type")).orderBy("day").collect().toSeq
      a == b
    }

  // (d) transaction_size ≥ 0 and spend_time ≥ 0 for any event set
  property("txn size and spend time nonnegative") = Prop.forAll(genEvents) { evs =>
    TransactionStats.perWindow(toDf(evs)).collect().forall { r =>
      r.getAs[Long]("transaction_size") >= 0L &&
      r.getAs[Long]("transaction_spend_time") >= 0L
    }
  }

  // (e) envelope codec: encode∘decode is the identity for any field values
  // (pure JVM fold — no Spark job, so the sample count can be generous)
  property("envelope codec round-trips any fields") = {
    import org.apache.spark.unsafe.types.UTF8String
    val genStr = Gen.frequency(
      3 -> Gen.alphaNumStr,
      1 -> Gen.const(""),
      1 -> Gen.listOf(Gen.oneOf('é', '中', 'ß', ' ', '\t')).map(_.mkString))
    Prop.forAll(
      Gen.chooseNum(Long.MinValue, Long.MaxValue), Gen.chooseNum(0L, Long.MaxValue),
      genStr, genStr,
      Gen.chooseNum(Long.MinValue, Long.MaxValue), Gen.chooseNum(0L, 1000000L)
    ) { (pos, ms, gtid, et, size, rows) =>
      val out = org.apache.spark.sql.graft.EnvelopeCodec.decode(
        org.apache.spark.sql.graft.EnvelopeCodec.encode(
          pos, ms, UTF8String.fromString(gtid), UTF8String.fromString(et), size, rows))
      out != null &&
        out.getLong(0) == pos && out.getLong(1) == ms &&
        out.getUTF8String(2).toString == gtid && out.getUTF8String(3).toString == et &&
        out.getLong(4) == size && out.getLong(5) == rows
    }
  }

  // (e2) decoder total on arbitrary bytes: any input yields a row or null,
  // never an uncaught throw and never a hang (the F2 NULL-on-malformed
  // contract, fuzzed — pure JVM, generous sample count)
  property("envelope decode never throws on arbitrary bytes") = {
    val genBytes = Gen.oneOf(
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      // adversarial: valid envelope prefixes with flipped/truncated tails
      for {
        pos <- Gen.chooseNum(0L, Long.MaxValue)
        cut <- Gen.chooseNum(0, 40)
        flip <- Gen.chooseNum(0, 30)
      } yield {
        import org.apache.spark.unsafe.types.UTF8String
        val b = org.apache.spark.sql.graft.EnvelopeCodec.encode(
          pos, 1700000000000L, UTF8String.fromString("g"), UTF8String.fromString("INSERT"), 7L, 2L)
        val t = b.take(math.max(1, b.length - cut))
        if (flip < t.length) t(flip) = (t(flip) ^ 0x80).toByte
        t
      })
    Prop.forAll(genBytes) { bytes =>
      // decode is total: returns (possibly null) without throwing
      org.apache.spark.sql.graft.EnvelopeCodec.decode(bytes)
      true
    }
  }

  // (f) dedup groups form a valid partition: every group id is a member of
  // the group, is its minimum, and both endpoints of every edge share one
  property("dedup groups: keep-min representative, edges never straddle groups") = {
    val genEdges = Gen.chooseNum(1, 12).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 15L); b <- Gen.chooseNum(0L, 15L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    }
    Prop.forAll(genEdges) { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val g = graft.ops.Dedup.dedupGroups(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val members = g.groupBy(_._2).map { case (gid, m) => gid -> m.keys.toSet }
      members.forall { case (gid, m) => m.contains(gid) && m.min == gid } &&
        edges.forall { case (a, b) => g(a) == g(b) }
    }
  }

  // (h) two-phase stratified sample ≡ naive global window for ANY corpus
  // and ANY partitioning (the phase-1 locality argument, exercised)
  property("stratifiedSample two-phase ≡ naive window under any partitioning") = {
    val genCorpus = Gen.chooseNum(1, 60).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(0, 2)).map { langs =>
        langs.zipWithIndex.map { case (l, i) => (i.toLong, s"doc $i", s"L$l") }
      }
    }
    Prop.forAll(genCorpus, Gen.chooseNum(1, 9), Gen.chooseNum(1, 8)) { (rows, parts, quota) =>
      val df = rows.toDF("doc_id", "text", "lang").repartition(parts)
      val p = graft.ops.TextOps.fingerprintMod
      val h = ((col("doc_id") % p) * lit(2654435761L % p)) % p
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
      val naive = df.withColumn("sample_rank", row_number().over(w).cast("long"))
        .filter(col("sample_rank") <= quota)
        .select(col("doc_id"), col("lang").as("stratum"), col("sample_rank"))
        .orderBy("stratum", "sample_rank").collect().toSeq
      val twoPhase = graft.ops.TextOps.stratifiedSample(df, quota = quota)
        .orderBy("stratum", "sample_rank").collect().toSeq
      twoPhase == naive
    }
  }

  // budget sampling: the selected set is exactly the docs whose
  // hash-order prefix fits the budget — a PREFIX of the globalShuffle
  // order (never a hole), total-before-last < budget, and any budget ≥
  // the corpus total selects everything
  property("sampleUnderTokenBudget selects a hash-order prefix") = {
    val genDocs = Gen.chooseNum(1, 40).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(1, 12))
    }
    Prop.forAll(genDocs, Gen.chooseNum(1L, 200L)) { (lens, budget) =>
      val docs = lens.zipWithIndex.map { case (len, i) =>
        (i.toLong, (0 until len).map(j => s"w${i}_$j").mkString(" "), "en")
      }.toDF("doc_id", "text", "lang")
      val selected = graft.ops.TextOps.sampleUnderTokenBudget(docs, budget)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens_before"))).toMap
      val order = graft.ops.TextOps.globalShuffle(docs)
        .orderBy("shuffle_pos").collect().map(_.getAs[Long]("doc_id"))
      val lenOf = lens.zipWithIndex.map { case (l, i) => i.toLong -> l.toLong }.toMap
      // reference: walk the shuffle order accumulating tokens
      val expect = scala.collection.mutable.Map[Long, (Long, Long)]()
      var cum = 0L
      order.foreach { id =>
        if (cum < budget) expect(id) = (lenOf(id), cum)
        cum += lenOf(id)
      }
      selected == expect.toMap
    }
  }

  // estimator range and partitioning invariance: estimates are exact
  // k-slot fractions, and the (pair → estimate) map is identical under
  // any repartitioning of the input
  property("minhashEstimatedPairs: k-slot fractions, partitioning-invariant") = {
    val genDocs = Gen.chooseNum(2, 10).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(5, 15).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))))
    }
    Prop.forAll(genDocs, Gen.chooseNum(1, 8)) { (tokenLists, parts) =>
      val docs = tokenLists.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "))
      }.toDF("doc_id", "text")
      def run(df: DataFrame) = graft.ops.Dedup.pairs(graft.ops.Vocab.hashTokenIdArrays(df),
          PairSpec(Grams(5), MinHash(4), verify = Estimate))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val a = run(docs)
      val b = run(docs.repartition(parts))
      val k = graft.ops.Dedup.minhashCoeffs.size
      a == b && a.values.forall { e =>
        e >= 0.0 && e <= 1.0 && (e * k) == math.round(e * k).toDouble
      }
    }
  }

  // chunker tiling: for any doc length / chunk size / overlap, chunks
  // start every (size − overlap), cover every token index exactly once per
  // pass modulo the overlap, the last chunk is never empty, and the chunk
  // count matches the closed-form ⌈(n − size)/stride⌉ + 1
  property("chunkDocs tiles any document exactly") = {
    val gen = for {
      n <- Gen.chooseNum(1, 200)
      size <- Gen.chooseNum(2, 32)
      overlap <- Gen.chooseNum(0, size - 1)
    } yield (n, size, overlap)
    Prop.forAll(gen) { case (n, size, overlap) =>
      val doc = Seq((1L, (0 until n).map(i => s"w$i").mkString(" "), "en"))
        .toDF("doc_id", "text", "lang")
      val chunks = graft.ops.TextOps.chunkDocs(doc, size, overlap)
        .orderBy("chunk_idx").collect()
        .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_token"),
          r.getAs[Long]("n_chunk_tokens")))
      val stride = (size - overlap).toLong
      val expected = if (n <= size) 1L else (n - size + stride - 1) / stride + 1
      chunks.length.toLong == expected &&
        chunks.forall { case (i, s, len) => s == i * stride && len >= 1 && len <= size } &&
        chunks.flatMap { case (_, s, len) => s until (s + len) }.toSet == (0L until n.toLong).toSet
    }
  }

  // (i) df-capped jaccard: a subset of the uncapped pairs, and every
  // surviving pair's score is the EXACT uncapped score (verification over
  // full sets, not the capped index)
  property("jaccardPairsBlocked ⊆ full jaccard with exact scores") = {
    val genShingles = Gen.chooseNum(4, 30).flatMap { n =>
      Gen.listOfN(n, for {
        d <- Gen.chooseNum(0L, 7L); s <- Gen.chooseNum(0L, 12L)
      } yield (d, s))
    }
    Prop.forAll(genShingles, Gen.chooseNum(1L, 6L)) { (rows0, maxDf) =>
      val rows = rows0.distinct
      val sh = rows.toDF("doc_id", "shingle_id")
      def toMap(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val full = toMap(graft.ops.Dedup.pairs(sh,
        PairSpec(candidates = Candidates(None), verify = Jaccard(0.0))))
      val blocked = toMap(graft.ops.Dedup.pairs(sh,
        PairSpec(candidates = Candidates(Some(maxDf)), verify = Jaccard(0.0))))
      blocked.keySet.subsetOf(full.keySet) &&
        blocked.forall { case (k, v) => full(k) == v }
    }
  }

  // (h) containment dominates jaccard (c/min ≥ c/(a+b−c)), and both run the
  // same candidate generation — so jaccard pairs at a threshold are always
  // a subset of containment pairs at the same threshold, scores in (0, 1]
  property("containmentPairs ⊇ jaccardPairs at the same threshold") = {
    val genShingles = Gen.chooseNum(4, 30).flatMap { n =>
      Gen.listOfN(n, for {
        d <- Gen.chooseNum(0L, 7L); s <- Gen.chooseNum(0L, 12L)
      } yield (d, s))
    }
    Prop.forAll(genShingles, Gen.chooseNum(0.1d, 0.9d)) { (rows0, t) =>
      val sh = rows0.distinct.toDF("doc_id", "shingle_id")
      val jac = graft.ops.Dedup.pairs(sh, PairSpec(verify = Jaccard(t)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cont = graft.ops.Dedup.pairs(sh, PairSpec(verify = Containment(t)))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
      jac.subsetOf(cont.keySet) &&
        cont.values.forall(c => c > 0.0 && c <= 1.0)
    }
  }

  // (i) block dedup is the identity when no block content repeats: every
  // document reassembles to its original text with all blocks kept
  property("blockDedup reassembles identity when no block repeats") = {
    val genDocs = Gen.chooseNum(1, 6).flatMap { n =>
      Gen.sequence[List[(Long, String)], (Long, String)]((0 until n).map { d =>
        Gen.chooseNum(1, 20).map { len =>
          (d.toLong, (0 until len).map(i => s"w${d}x$i").mkString(" "))
        }
      })
    }
    Prop.forAll(genDocs, Gen.chooseNum(2, 5)) { (docs, k) =>
      val out = graft.ops.Dedup.blockDedup(docs.toDF("doc_id", "text"), blockTokens = k)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("clean_text"), r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"))))
        .toMap
      docs.forall { case (id, text) =>
        val (clean, nb, nk) = out(id)
        clean == text && nb == nk
      }
    }
  }

  // (g) star-contraction CC ≡ simple min propagation on arbitrary graphs
  // (incl. chains — the case star contraction exists for)
  property("dedupGroupsStar ≡ dedupGroups") = {
    val genGraph = Gen.oneOf(
      // random edges
      Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 15L); b <- Gen.chooseNum(0L, 15L) if a != b
      } yield (math.min(a, b), math.max(a, b)))),
      // an adversarial chain with shuffled node names — SEEDED: an
      // unseeded shuffle made any failure-side shrink irreproducible (and
      // let one unlucky run cost unbounded wall time); the seed varies
      // with n so the chains still differ across trials
      Gen.chooseNum(3, 10).map { n =>
        val perm = new scala.util.Random(42L + n).shuffle((0L until n.toLong).toList)
        perm.sliding(2).map { case List(a, b) => (math.min(a, b), math.max(a, b)) }.toList
      })
    Prop.forAll(genGraph) { edges0 =>
      // every sample runs multi-round CC with per-round persists; drop the
      // previous sample's cache so the shared session's old gen stays flat
      spark.sqlContext.clearCache()
      // scalacheck shrinking bypasses generator filters — re-drop self-loops
      val edges = edges0.filter { case (a, b) => a != b }
      edges.isEmpty || {
        val pairs = edges.toDF("doc_a", "doc_b")
        val simple = graft.ops.Dedup.dedupGroups(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        val star = graft.ops.Dedup.dedupGroupsStar(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        star == simple
      }
    }
  }

  property("bloom semiJoin ≡ plain left-semi for any key sets and bitmap size") = {
    val genCase = for {
      big <- Gen.listOfN(60, Gen.chooseNum(-500L, 500L))
      small <- Gen.listOfN(20, Gen.chooseNum(-500L, 500L))
      bits <- Gen.oneOf(64, 256, 1 << 12) // tiny bitmaps force false positives
    } yield (big, small, bits)
    Prop.forAll(genCase) { case (big, small, bits) =>
      val b = big.map(k => (k, s"p$k")).toDF("k", "payload")
      val s = small.map(Tuple1(_)).toDF("sk")
      val viaBloom = graft.operators.BloomFilter
        .semiJoin(b, s, "k", "sk", numBits = bits)
        .select("k").as[Long].collect().sorted.toSeq
      val plain = b.join(s.distinct(), col("k") === col("sk"), "left_semi")
        .select("k").as[Long].collect().sorted.toSeq
      viaBloom == plain
    }
  }

  property("transitionMatrix: Σ transitions = events − active users; ppm sums ≈ 1e6 per from-type") = {
    val genEvs = Gen.chooseNum(3, 60).flatMap(n => Gen.listOfN(n, for {
      u <- Gen.chooseNum(1L, 5L)
      off <- Gen.chooseNum(0, 5000)
      t <- Gen.oneOf("A", "B", "C")
    } yield (u, off, t)))
    Prop.forAll(genEvs) { evs0 =>
      // unique (user, ts) so the per-user order is total regardless of ids
      val evs = evs0.zipWithIndex.map { case ((u, off, t), i) =>
        (i.toLong, new Timestamp(1700000000000L + off * 1000L + i), u, t)
      }
      val df = evs.toDF("event_id", "ts", "user_id", "event_type")
      val m = graft.operators.Windows.transitionMatrix(df).collect()
      val total = m.map(_.getAs[Long]("n_transitions")).sum
      val users = evs.map(_._3).distinct.size
      val ppmOk = m.groupBy(_.getAs[String]("from_type")).forall { case (_, rows) =>
        val s = rows.map(_.getAs[Long]("prob_ppm")).sum
        // floor-division shortfall is at most (#to-types − 1)
        s <= 1000000L && s > 1000000L - rows.length
      }
      total == (evs.size - users) && ppmOk
    }
  }

  property("decileReport: counts and sums partition the input for any values") = {
    val genVals = Gen.chooseNum(10, 80).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    Prop.forAll(genVals) { vs =>
      val out = graft.operators.Percentiles.decileReport(vs.toDF("v"), col("v")).collect()
      val counts = out.map(_.getAs[Long]("n_rows")).sum
      val sums = out.map(_.getAs[Long]("sum_v")).sum
      val deciles = out.map(_.getAs[Long]("decile"))
      counts == vs.size && sums == vs.sum &&
        deciles.forall(d => d >= 1L && d <= 10L)
    }
  }

  property("dupSpans/excision fixpoint: a cleaned corpus has no duplicated grams left") = {
    // random corpora of unique filler with a shared passage planted in a
    // random subset of docs — after excision, re-running the span report
    // must find nothing (the Lee et al. dedup fixpoint)
    val gen = for {
      nDocs <- Gen.chooseNum(2, 5)
      passLen <- Gen.chooseNum(5, 9)
      carriers <- Gen.pick(2, 0 until (nDocs max 2))
    } yield (nDocs max 2, passLen, carriers.toSet)
    Prop.forAll(gen) { case (nDocs, passLen, carriers) =>
      val passage = (0 until passLen).map(i => s"p$i").mkString(" ")
      val docs = (0 until nDocs).map { d =>
        val pre = (0 until 6).map(i => s"u${d}_a$i").mkString(" ")
        val post = (0 until 6).map(i => s"u${d}_b$i").mkString(" ")
        val text = if (carriers(d)) s"$pre $passage $post" else s"$pre $post"
        (d.toLong, text)
      }
      spark.sqlContext.clearCache() // span ops persist their index per call
      val df = docs.toDF("doc_id", "text")
      val cleaned = graft.ops.Dedup.excisedCorpus(df, k = 5)
        .select(col("doc_id"), col("clean_text").as("text"))
      val residual = graft.ops.Dedup.dupSpans(cleaned, k = 5).count()
      residual == 0L
    }
  }

  property("pageRank: mass ≈ 1, all nodes present, partitioning-invariant") = {
    val genEdges = Gen.chooseNum(2, 15).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
    } yield (a, b)))
    Prop.forAll(genEdges) { edges0 =>
      spark.sqlContext.clearCache() // pageRank persists its adjacency per call
      val edges = edges0.filter { case (a, b) => a != b }
      edges.isEmpty || {
        val df = edges.toDF("src", "dst")
        val r = graft.operators.Graph.pageRank(df, iterations = 3).collect()
          .map(x => x.getLong(0) -> x.getDouble(1)).toMap
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
        val r2 = graft.operators.Graph.pageRank(df.repartition(7), iterations = 3)
          .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
        r.keySet == nodes &&
          math.abs(r.values.sum - 1.0) < 1e-9 &&
          nodes.forall(n => math.abs(r(n) - r2(n)) < 1e-12)
      }
    }
  }

  // round-7 verdict #6: pageRankSql is the one generated oracle left in the
  // graph suite (no practical second algorithm in SQL), so the SPEC side
  // carries the independence: a driver-side power iteration written from
  // the definition — symmetrize, dedup, rank' = (1−d)/n + d·Σ_in rank/deg —
  // must reproduce the distributed plan's values at every iteration depth.
  // An algorithmic misunderstanding shared by operator and oracle (wrong
  // normalization, missing deg division, drift in the teleport term) cannot
  // also hold here unless it is the definition itself.
  property("pageRank ≡ driver-side power iteration at every depth; k-regular ⇒ uniform") = {
    val genEdges = Gen.chooseNum(2, 18).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
    } yield (a, b)))
    val d = 0.85
    Prop.forAll(genEdges, Gen.chooseNum(1, 4)) { (edges0, iters) =>
      spark.sqlContext.clearCache()
      val edges = edges0.filter { case (a, b) => a != b }
      edges.isEmpty || {
        val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
        val nodes = sym.map(_._1).toList.sorted
        val n = nodes.size
        val deg = sym.groupBy(_._1).map { case (k, es) => k -> es.size }
        var rank = nodes.map(_ -> 1.0 / n).toMap
        for (_ <- 1 to iters) {
          val in = sym.toSeq.groupBy(_._2)
          rank = nodes.map { v =>
            v -> ((1.0 - d) / n + d * in.getOrElse(v, Seq.empty)
              .map { case (u, _) => rank(u) / deg(u) }.sum)
          }.toMap
        }
        val got = graft.operators.Graph.pageRank(
          edges.toDF("src", "dst"), iterations = iters).collect()
          .map(x => x.getLong(0) -> x.getDouble(1)).toMap
        got.keySet == rank.keySet &&
          nodes.forall(v => math.abs(got(v) - rank(v)) < 1e-9)
      }
    } && {
      // closed form: on a k-regular graph (a cycle) the uniform vector is
      // the exact fixpoint — every iteration must return exactly 1/n
      spark.sqlContext.clearCache()
      val n = 8
      val cyc = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("src", "dst")
      val r = graft.operators.Graph.pageRank(cyc, iterations = 3).collect()
        .map(_.getDouble(1))
      Prop(r.length == n && r.forall(v => math.abs(v - 1.0 / n) < 1e-12)) :|
        s"cycle ranks: ${r.toSeq}"
    }
  }

  property("ppsSample: exactly k hits for any weights and k; heavy docs always selected") = {
    val genCase = for {
      ws <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000L)).map(_.take(60))
      k <- Gen.chooseNum(1L, 40L)
    } yield (ws, k)
    Prop.forAll(genCase) { case (ws, k) =>
      val tot = ws.sum
      tot == 0L || {
        val docs = ws.zipWithIndex
          .map { case (w, i) => (i.toLong, s"s${i % 3}", w) }
          .toDF("doc_id", "source", "n_chars")
        val out = graft.ops.TextOps.ppsSample(docs, k).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
        val stride = tot.toDouble / k
        out.values.sum == k &&
          ws.zipWithIndex.forall { case (w, i) =>
            w <= stride || out.contains(i.toLong) // heavier than stride ⇒ hit
          }
      }
    }
  }

  property("bfsDistances ≡ driver-side BFS for any graph and seed set") = {
    val genCase = for {
      n <- Gen.chooseNum(2, 12)
      edges <- Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
      } yield (a, b))
      seeds <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 9L)).map(_.distinct.take(3))
    } yield (edges.filter { case (a, b) => a != b }, seeds)
    Prop.forAll(genCase) { case (edges, seeds) =>
      spark.sqlContext.clearCache()
      val rounds = 4
      val r = graft.operators.Graph.bfsDistances(
        edges.toDF("src", "dst"), seeds.toDF("node"), rounds)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      // reference BFS on the driver
      val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val relaxed = dist.toSeq.flatMap { case (u, d) =>
          adj.getOrElse(u, Nil).map(_ -> (d + 1)) }
        dist = (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
      }
      r == dist
    }
  }

  property("labelPropagation: labels come from the node's own component; partitioning-invariant") = {
    val genEdges = Gen.chooseNum(2, 15).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
    } yield (a, b))).map(_.filter { case (a, b) => a != b })
    Prop.forAll(genEdges) { edges =>
      spark.sqlContext.clearCache()
      edges.isEmpty || {
        val df = edges.toDF("src", "dst")
        val r = graft.operators.Graph.labelPropagation(df, rounds = 3)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        val r2 = graft.operators.Graph.labelPropagation(df.repartition(7), 3)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        // driver-side components (labels can never cross a component)
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val comp = nodes.map(n => n -> find(n)).toMap
        r.keySet == nodes.toSet && r == r2 &&
          nodes.forall(n => comp(r(n)) == comp(n))
      }
    }
  }

  property("beamSearch ≡ driver-side walk for any 2-d corpus and entry set") = {
    val genCase = for {
      n <- Gen.chooseNum(6, 14)
      coords <- Gen.listOfN(n, for {
        x <- Gen.chooseNum(1, 100); y <- Gen.chooseNum(1, 100)
      } yield (x.toFloat, y.toFloat))
      nEntry <- Gen.chooseNum(1, 3)
    } yield (coords, nEntry)
    Prop.forAll(genCase) { case (coords, nEntry) =>
      spark.sqlContext.clearCache()
      val vecs = coords.zipWithIndex.map { case ((x, y), i) =>
        (i.toLong, Array(x, y)) }
      val (k, beam, rounds, graphK) = (3, 4, 2, 2)
      val queries = Seq(0L, 1L)
      val entries = (0 until nEntry).map(_.toLong * 2L)
      val got = graft.ops.Vectors.beamSearch(
        vecs.toDF("vec_id", "embedding"), queries, entries, k, beam, rounds, graphK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // driver-side reference: identical unit vectors (widen then
      // normalize), identical spaced-centroid MULTI-assignment (top-3
      // buckets per vector — the navGraph build), edges between vectors
      // sharing any bucket ranked to graphK, then the same
      // expand/score/prune rounds
      val unit = vecs.map { case (id, a) =>
        val d = a.map(_.toDouble)
        val n2 = math.sqrt(d.map(x => x * x).sum)
        id -> d.map(_ / n2)
      }.toMap
      def dot(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum
      val nTot = vecs.size.toLong
      val c = math.ceil(math.sqrt(nTot.toDouble)).toLong
      val step = math.max(1L, nTot / c)
      val cents = (0L until c * step by step).filter(unit.contains)
      val nAssign = 3 // beamSearch's navGraph default
      def buckets(id: Long): Set[Long] =
        cents.map(cid => (cid, dot(unit(id), unit(cid))))
          .sortBy { case (cid, s) => (-s, cid) }.take(nAssign).map(_._1).toSet
      val bucketsOf = unit.keys.map(id => id -> buckets(id)).toMap
      val edges = unit.keys.flatMap { src =>
        unit.keys.toSeq
          .filter(o => o != src && (bucketsOf(o) & bucketsOf(src)).nonEmpty)
          .map(o => (o, dot(unit(src), unit(o))))
          .sortBy { case (o, s) => (-s, o) }.take(graphK)
          .map { case (o, _) => src -> o }
      }.toSeq.groupMap(_._1)(_._2)
      def prune(q: Long, cand: Set[Long]): Seq[Long] =
        cand.filter(_ != q).toSeq
          .map(nd => (nd, dot(unit(q), unit(nd))))
          .sortBy { case (nd, s) => (-s, nd) }.take(beam).map(_._1)
      val expect = queries.flatMap { q =>
        var st = prune(q, entries.filter(unit.contains).toSet)
        for (_ <- 1 to rounds) {
          val exp = st.flatMap(nd => edges.getOrElse(nd, Nil)).toSet ++ st
          st = prune(q, exp)
        }
        st.take(k).zipWithIndex.map { case (nd, i) => (q, nd, (i + 1).toLong) }
      }.toSet
      got == expect
    }
  }

  property("knnConfusion: cells partition the query batch; clean separation is diagonal") = {
    val genCase = for {
      nPerClass <- Gen.chooseNum(2, 6)
      k <- Gen.chooseNum(1, 3)
    } yield (nPerClass, k)
    Prop.forAll(genCase) { case (nPerClass, k) =>
      spark.sqlContext.clearCache()
      // two well-separated clusters labeled 0/1: leave-one-out with
      // k < cluster size must be perfectly diagonal
      val emb = (0 until nPerClass).map(i =>
        (i.toLong, Array(1.0f, 0.001f * i), 0)) ++
        (0 until nPerClass).map(i =>
          ((nPerClass + i).toLong, Array(0.001f * i, 1.0f), 1))
      val ids = emb.map(_._1)
      val cells = graft.ops.Vectors.knnConfusion(
        emb.toDF("vec_id", "embedding", "label"), ids, math.min(k, nPerClass - 1))
        .collect()
        .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")) ->
          r.getAs[Long]("n_queries")).toMap
      cells.values.sum == ids.size.toLong &&
        cells.keys.forall { case (t, p) => t == p }
    }
  }

  property("similarDocsTopK ≡ driver-side capped-index retrieval for any corpus") = {
    val genCase = for {
      nDocs <- Gen.chooseNum(3, 10)
      docs <- Gen.listOfN(nDocs, Gen.listOfN(6, Gen.chooseNum(1L, 9L)))
      cap <- Gen.oneOf(2L, 3L, 20L)
    } yield (docs, cap)
    Prop.forAll(genCase) { case (docSets, cap) =>
      spark.sqlContext.clearCache()
      val k = 3
      // (doc_id, shingle_id) rows straight from generated id sets — the
      // operator's real input shape after the shingling front-end
      val rows = docSets.zipWithIndex.flatMap { case (ids, i) =>
        ids.distinct.map(s => (i.toLong, s)) }
      val queryIds = docSets.indices.filter(_ % 2 == 0).map(_.toLong).toSet
      val got = graft.ops.Dedup.pairs(rows.toDF("doc_id", "shingle_id"),
          PairSpec(candidates = Candidates(Some(cap), Some(col("doc_id") % 2 === 0)),
            verify = TopK(k)))
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("n_common"),
            r.getAs[Long]("sim_ppm")))).toMap
      // driver-side reference: identical cap, exact full-set intersections,
      // identical integer-ppm score and (sim desc, id asc) tie order
      val sets = docSets.zipWithIndex.map { case (ids, i) => i.toLong -> ids.toSet }.toMap
      val df = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val rare = df.collect { case (s, f) if f > 1 && f <= cap => s }.toSet
      val expect = queryIds.flatMap { q =>
        val qRare = sets(q).intersect(rare)
        val cands = sets.keys.filter(c => c != q && sets(c).exists(qRare.contains))
        cands.toSeq.map { c =>
          val common = sets(q).intersect(sets(c)).size.toLong
          val ppm = common * 1000000L / (sets(q).size + sets(c).size - common)
          (c, common, ppm)
        }.sortBy { case (c, _, ppm) => (-ppm, c) }.take(k).zipWithIndex
          .map { case ((c, common, ppm), i) => (q, (i + 1).toLong) -> ((c, common, ppm)) }
      }.toMap
      got == expect
    }
  }

  property("probeSweep (fused) ≡ per-config multi-probe hit counts") = {
    val genCase = for {
      n <- Gen.chooseNum(8, 20)
      coords <- Gen.listOfN(n, for {
        x <- Gen.chooseNum(1, 50); y <- Gen.chooseNum(1, 50); z <- Gen.chooseNum(1, 50)
      } yield (x.toFloat, y.toFloat, z.toFloat))
    } yield coords
    Prop.forAll(genCase) { coords =>
      spark.sqlContext.clearCache()
      val emb = coords.zipWithIndex.map { case ((x, y, z), i) =>
        (i.toLong, Array(x, y, z)) }.toDF("vec_id", "embedding")
      val (qs, k, probes) = (Seq(0L, 1L), 2, Seq(1, 2, 4))
      val fused = graft.ops.Vectors.probeSweep(emb, qs, k, probes).collect()
        .map(r => r.getAs[Long]("nprobe") -> r.getAs[Long]("n_hits")).toMap
      val cids = graft.ops.Vectors.spacedCentroidIds(coords.size.toLong)
      val truth = graft.ops.Vectors.topK(emb, Left(qs), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      probes.forall { np =>
        val perConfig = graft.ops.Vectors
          .topK(emb, Left(qs), k, graft.ops.AnnSpec(graft.ops.AnnSpec.Ivf(cids),
            graft.ops.AnnSpec.Nearest(np)))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        fused(np.toLong) == perConfig.intersect(truth).size.toLong
      }
    }
  }

  property("decayedTrend ≡ driver-side shift weights for any day layout") = {
    val genCase = Gen.nonEmptyListOf(for {
      key <- Gen.oneOf("A", "B", "C")
      age <- Gen.chooseNum(0L, 30L)
    } yield (key, age)).map(_.take(40))
    Prop.forAll(genCase) { evs =>
      spark.sqlContext.clearCache()
      val t0 = 1700006400000L // day-aligned epoch ms
      val maxAge = evs.map(_._2).max
      val rows = evs.map { case (k, age) =>
        (new Timestamp(t0 + (maxAge - age) * 86400000L), k) }
      val got = graft.operators.Windows.decayedTrend(
        rows.toDF("ts", "event_type"))
        .collect().map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("trend_ppm")))).toMap
      // the operator anchors at the OBSERVED max day: if no generated
      // event has age 0, every age shifts down by the minimum
      val minAge = evs.map(_._2).min
      val expect = evs.groupBy(_._1).map { case (k, es) =>
        k -> ((es.size.toLong,
          es.map { case (_, age) =>
            1000000L / (1L << math.min(age - minAge, 62L)) }.sum))
      }
      got == expect
    }
  }

  property("idGapReport: bucket decomposition ≡ naive window for any ids and widths") = {
    val genCase = for {
      ids <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 400L)).map(_.distinct.take(50))
      width <- Gen.oneOf(1L, 7L, 64L, 100000L) // width 1 makes EVERY gap a boundary gap
    } yield (ids, width)
    Prop.forAll(genCase) { case (ids, width) =>
      val ev = ids.map(id => (new Timestamp(1700006400000L + id), id))
        .toDF("ts", "event_id")
      val r = graft.operators.Windows.idGapReport(ev, bucketWidth = width)
        .collect().head
      val sorted = ids.sorted
      val gaps = sorted.zip(sorted.tail).map { case (a, b) => b - a - 1 }.filter(_ > 0)
      r.getAs[Long]("n_events") == ids.length.toLong &&
        r.getAs[Long]("min_id") == sorted.head &&
        r.getAs[Long]("max_id") == sorted.last &&
        r.getAs[Long]("n_missing") == (sorted.last - sorted.head + 1 - ids.length) &&
        r.getAs[Long]("n_gaps") == gaps.length.toLong &&
        r.getAs[Long]("max_gap") == (if (gaps.isEmpty) 0L else gaps.max)
    }
  }

  // (y) the round-5 two-level paretoFront ≡ brute-force dominance for any
  // point set and any bucket width (cross-bucket dominance must flow
  // through the boundary self-join exactly; ties on both coordinates kept)
  property("paretoFront (two-level) ≡ brute-force dominance for any points and width") = {
    val genCase = for {
      pts <- Gen.nonEmptyListOf(
        Gen.zip(Gen.chooseNum(0L, 300L), Gen.chooseNum(0L, 50L))).map(_.take(60))
      width <- Gen.oneOf(1L, 4L, 37L, 1000L) // 1 = all boundary, 1000 = one bucket
    } yield (pts, width)
    Prop.forAll(genCase) { case (pts, width) =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("doc_id", "x", "y")
      val kept = graft.ops.TextOps.paretoFront(df, "x", "y", bucketWidth = width)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      val expected = pts.zipWithIndex.collect {
        case ((x, y), i) if !pts.exists { case (x2, y2) =>
          x2 >= x && y2 >= y && (x2 > x || y2 > y) } => i.toLong
      }.toSet
      kept == expected
    }
  }

  // (z) x56: the DSIR weight is a function of CONTENT alone — two docs
  // with identical text score identically even when their own domain
  // labels differ (the doc's label shapes the MODEL, never its own
  // score), and the result is partitioning-invariant
  property("dsirWeights: equal text ⇒ equal weight regardless of label; partition-invariant") = {
    val tokens = Seq("aa", "bb", "cc", "dd", "ee")
    val genDocs = Gen.chooseNum(4, 16).flatMap { n =>
      Gen.listOfN(n, for {
        toks <- Gen.nonEmptyListOf(Gen.oneOf(tokens)).map(_.take(6))
        lang <- Gen.oneOf("t", "r")
      } yield (toks.mkString(" "), lang))
    }
    Prop.forAll(genDocs) { docs =>
      val df = docs.zipWithIndex.map { case ((text, lang), i) =>
        (i.toLong, text, lang) }.toDF("doc_id", "text", "lang")
      val w = graft.ops.TextOps.dsirWeights(df, col("lang") === "t", vocabSize = 3)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dsir_ubits")).toMap
      val byText = docs.zipWithIndex.groupBy(_._1._1)
      val contentOnly = byText.values.forall(g => g.map(d => w(d._2.toLong)).distinct.size == 1)
      val w2 = graft.ops.TextOps.dsirWeights(df.repartition(7), col("lang") === "t",
        vocabSize = 3)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dsir_ubits")).toMap
      contentOnly && w == w2
    }
  }

  // (z2) x57: per-lang bucket sizes are the EXACT tertile partition of
  // that language's scored-doc count — ⌊3(r−1)/n⌋ over r = 1…n — for any
  // corpus and language layout
  property("pplBuckets: bucket sizes are the exact tertile partition per lang") = {
    val genDocs = Gen.chooseNum(3, 20).flatMap { n =>
      Gen.listOfN(n, for {
        reps <- Gen.chooseNum(2, 8)
        base <- Gen.oneOf("ab", "xy", "mnp", "qq")
        lang <- Gen.oneOf("l1", "l2")
      } yield (base * reps, lang))
    }
    Prop.forAll(genDocs) { docs =>
      val df = docs.zipWithIndex.map { case ((text, lang), i) =>
        (i.toLong, text, lang) }.toDF("doc_id", "text", "lang")
      val sizes = graft.ops.TextOps.pplBuckets(df).collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bucket")) ->
          r.getAs[Long]("n_docs")).toMap
      val perLang = docs.groupBy(_._2).view.mapValues(_.size).toMap
      perLang.forall { case (lang, n) =>
        val expected = (1 to n).groupBy(r => (3L * (r - 1)) / n)
          .view.mapValues(_.size.toLong).toMap
        expected.forall { case (b, cnt) => sizes.getOrElse((lang, b), 0L) == cnt }
      }
    }
  }

  // (z3) the x57/x59 rank primitive: the banded two-level decomposition
  // equals the naive per-group (metric, doc_id) rank for ANY data and ANY
  // band width — width 1 makes every row its own band (all offsets), a
  // huge width collapses to one band (all within-window)
  property("bandedRankPerGroup ≡ naive per-group rank for any data and width") = {
    val genCase = for {
      rows <- Gen.nonEmptyListOf(Gen.zip(
        Gen.oneOf("g1", "g2", "g3"), Gen.chooseNum(0L, 500L))).map(_.take(60))
      width <- Gen.oneOf(1L, 7L, 100L, 100000L)
    } yield (rows, width)
    Prop.forAll(genCase) { case (rows, width) =>
      val df = rows.zipWithIndex.map { case ((g, m), i) =>
        (i.toLong, g, m) }.toDF("doc_id", "grp", "metric")
      val banded = graft.ops.TextOps
        .bandedRankPerGroup(df, "grp", "metric", width, "rk")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rk")).toMap
      val naive = rows.zipWithIndex.groupBy(_._1._1).values.flatMap { g =>
        g.sortBy { case ((_, m), i) => (m, i.toLong) }.zipWithIndex
          .map { case ((_, i), r) => i.toLong -> (r + 1).toLong }
      }.toMap
      banded == naive
    }
  }

  // (z5) waterfilling invariants for ANY source sizes and budget:
  // allocations sum to exactly min(B, Σn), never exceed the source,
  // uncapped sources keep everything, and max–min fairness holds — no
  // source could gain except by taking from an equal-or-smaller one
  // (all capped allocations within 1 of each other)
  property("budgetWaterfill: exact budget, per-source caps, max–min fairness") = {
    val genCase = for {
      sizes <- Gen.nonEmptyListOf(Gen.chooseNum(0, 60)).map(_.take(8))
      budget <- Gen.chooseNum(0L, 400L)
    } yield (sizes, budget)
    Prop.forAll(genCase) { case (sizes, budget) =>
      // source i contributes `sizes(i)` single-token docs
      val docs = sizes.zipWithIndex.flatMap { case (n, i) =>
        (0 until n).map(j => ((i * 1000 + j).toLong, "w", s"s$i"))
      }
      if (docs.isEmpty) true // degenerate: nothing to allocate
      else {
        val df = docs.toDF("doc_id", "text", "source")
        val r = graft.ops.TextOps.budgetWaterfill(df, budget)
          .collect().map(x => x.getAs[String]("source") ->
            (x.getAs[Long]("n_tokens"), x.getAs[Long]("alloc_tokens"))).toMap
        val total = sizes.filter(_ > 0).map(_.toLong).sum
        val sumOk = r.values.map(_._2).sum == math.min(budget, total)
        val capOk = r.values.forall { case (n, al) => al >= 0 && al <= n }
        val partial = r.values.filter { case (n, al) => al < n }.map(_._2)
        val fairOk = partial.isEmpty || (partial.max - partial.min <= 1)
        // uncapped sources sit at or below every partial allocation + 1
        val fullMaxBelow = partial.isEmpty ||
          r.values.forall { case (n, al) => al < n || al <= partial.max }
        sumOk && capOk && fairOk && fullMaxBelow
      }
    }
  }

  // bpeMerges ≡ a driver-side reference BPE written from the definition
  // (count adjacent pairs including overlapping runs, argmax with the
  // (count desc, l, r) tie-break, greedy left-to-right merge per doc) —
  // the alphabet is tiny so runs like "aaaa" stress the regex engine's
  // non-overlapping semantics against the reference's explicit scan
  property("bpeMerges ≡ driver-side reference BPE for any corpus") = {
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'a', ' ', 'c')).map(_.mkString)
    val genCorpus = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genDoc))
    Prop.forAll(genCorpus, Gen.chooseNum(1, 4)) { (texts, rounds) =>
      def reference(docs0: Seq[String], r: Int): Seq[(Long, String, String, Long)] = {
        var docs = docs0.map(_.map(_.toString).toVector).filter(_.nonEmpty)
        val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
        var k = 0
        var done = false
        while (k < r && !done) {
          k += 1
          val counts = scala.collection.mutable.Map[(String, String), Long]()
          docs.foreach(t => t.indices.dropRight(1).foreach { i =>
            counts((t(i), t(i + 1))) = counts.getOrElse((t(i), t(i + 1)), 0L) + 1
          })
          if (counts.isEmpty) done = true
          else {
            val ((l, rr), c) = counts.toSeq
              .sortBy { case ((a, b), n) => (-n, a, b) }.head
            out += ((k.toLong, l, rr, c))
            docs = docs.map { t =>
              val nb = Vector.newBuilder[String]
              var i = 0
              while (i < t.length) {
                if (i + 1 < t.length && t(i) == l && t(i + 1) == rr) {
                  nb += (l + rr); i += 2
                } else { nb += t(i); i += 1 }
              }
              nb.result()
            }
          }
        }
        out.toSeq
      }
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // docMod = 1: the hash sample admits every doc, so the reference
      // sees the identical corpus
      val got = graft.ops.TextOps.bpeMerges(df, rounds, docMod = 1L)
        .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getLong(3)))
        .sortBy(_._1).toSeq
      val want = reference(texts, rounds)
      Prop(got == want) :| s"got $got want $want texts $texts"
    }
  }

  // the DISTRIBUTED histogram branch (forced past the driver dispatch)
  // must learn the identical merge table — the trainedCentroids
  // exactOrder discipline applied to the tokenizer's two branches
  property("bpeMerges: forced-distributed histogram branch ≡ driver branch") = {
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'a', ' ', 'c')).map(_.mkString)
    val genCorpus = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genDoc))
    Prop.forAll(genCorpus, Gen.chooseNum(1, 4)) { (texts, rounds) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def table(driverMaxHist: Long) =
        graft.ops.TextOps.bpeMerges(df, rounds, docMod = 1L,
            driverMaxHist = driverMaxHist)
          .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
            x.getLong(3))).sortBy(_._1).toSeq
      val dist = table(0L)            // forced distributed
      val driver = table(Long.MaxValue) // forced driver
      Prop(dist == driver) :| s"dist $dist driver $driver texts $texts"
    }
  }

  // round-10 base+delta state layout: compaction must be INVISIBLE — force
  // the distributed branch with a tiny compactEvery (the mask folds into a
  // fresh base every 1–3 rounds, so the base-mask, delta-carry, AND
  // final-compaction paths all execute) and compare the merge table and
  // the final state multiset against the driver branch
  property("bpeLoop: base+delta compaction ≡ driver branch (merges + state)") = {
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'a', ' ', 'c')).map(_.mkString)
    val genCorpus = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genDoc))
    Prop.forAll(genCorpus, Gen.chooseNum(1, 8),
        Gen.chooseNum(1, 3)) { (texts, rounds, compactEvery) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // the loop's owner releases the state once the reader returns
      def run(driverMaxHist: Long, ce: Int) =
        graft.ops.TextOps.bpeLoop(df, rounds, 1L, 400, driverMaxHist, ce) {
          (merges, state) =>
            (merges, state.collect().map(r => r.getString(0) -> r.getLong(1))
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
        }
      val (dm, ds) = run(0L, compactEvery) // forced distributed
      val (rm, rs) = run(Long.MaxValue, 16) // driver reference
      Prop(dm == rm && ds == rs) :| s"dist ($dm, $ds) driver ($rm, $rs)"
    }
  }

  // bpe_apply (the one-pass read side, round-8) ≡ the training loop's
  // sequential per-round regex application — the same overlapping-run
  // stress corpora: tiny alphabet, runs like "aaaa" where greedy
  // left-to-right non-overlapping semantics bite
  property("bpe_apply ≡ sequential bpeLoop application for any corpus") = {
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'a', ' ', 'c')).map(_.mkString)
    val genCorpus = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genDoc))
    Prop.forAll(genCorpus, Gen.chooseNum(1, 6)) { (texts, rounds) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // the loop's state is the (s, c) HISTOGRAM (round-9) — compare as a
      // weighted multiset of final strings (rows may split the same `s`);
      // the loop's owner releases it once the reader returns
      val (merges, want) = graft.ops.TextOps.bpeLoop(df, rounds, 1L, 400) {
        (merges, state) =>
          (merges, state.collect()
            .map(r => r.getString(0) -> r.getLong(1))
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
      }
      val got = graft.ops.TextOps.bpeInitialState(df, 1L, 400)
        .select(org.apache.spark.sql.graft.BpeApply.column(
          col("s"), typedlit(merges.map(_._2)), typedlit(merges.map(_._3))).as("s"))
        .collect().map(_.getString(0))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      Prop(got == want) :| s"got $got want $want merges $merges"
    }
  }

  // count-min partials are sums, so ANY slicing of the event stream must
  // merge to the identical sketch — the MV/streaming contract b32 serves
  property("count-min partials merge to the same sketch under any slicing") = {
    val genEvents = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 30L), Gen.chooseNum(0, 3))).map(_.take(60))
    Prop.forAll(genEvents) { evs =>
      val df = evs.map { case (k, s) => (k, s"s$s") }.toDF("user_id", "event_type")
      def cells(d: DataFrame) = d.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Long]("c")).toMap
      val merged = cells(graft.operators.Sketches.mergeSketch(
        graft.operators.Sketches.sketchPartialsBySlice(df, "user_id", "event_type", w = 16)))
      val single = cells(graft.operators.Sketches.sketchPartials(df, "user_id", w = 16))
      Prop(merged == single) :| s"merged $merged single $single"
    }
  }

  // (z4) count-min's one-sided error for ANY key multiset: estimate ≥
  // exact count, every key present, exact side exact
  property("countMinChecked never undercounts for any keys") = {
    val genKeys = Gen.nonEmptyListOf(Gen.chooseNum(0L, 30L)).map(_.take(80))
    Prop.forAll(genKeys) { keys =>
      val r = graft.operators.Sketches
        .countMinChecked(keys.toDF("user_id"), w = 8, k = 100)
        .collect().map(x => x.getAs[Long]("user_id") ->
          (x.getAs[Long]("n_events"), x.getAs[Long]("cm_est"))).toMap
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      r.keySet == exact.keySet &&
        r.forall { case (key, (n, est)) => n == exact(key) && est >= n }
    }
  }
}
