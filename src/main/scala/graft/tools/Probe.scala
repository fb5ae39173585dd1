package graft.tools

import org.apache.spark.sql.functions._

/** Scratch measurement harness for optimization work: `runMain
  * graft.tools.Probe <name>` runs one named probe against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints labeled timings.
  * Not part of the driver contract; exists so per-stage costs of hot
  * queries can be measured without editing the registry.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session("graft-probe", s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // fleet-wide task-metric totals (round-14 verdict #1: the d15 blowup
    // diagnosis needs GC/spill/fetch evidence, not just wall time)
    object M {
      import java.util.concurrent.atomic.AtomicLong
      val gc = new AtomicLong; val spillMem = new AtomicLong
      val spillDisk = new AtomicLong; val fetchWait = new AtomicLong
      val run = new AtomicLong; val peakMem = new AtomicLong
      def snap(): Seq[Long] = Seq(gc.get, spillMem.get, spillDisk.get, fetchWait.get, run.get)
    }
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          M.gc.addAndGet(m.jvmGCTime)
          M.spillMem.addAndGet(m.memoryBytesSpilled)
          M.spillDisk.addAndGet(m.diskBytesSpilled)
          M.fetchWait.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          M.run.addAndGet(m.executorRunTime)
          M.peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
          ()
        }
      }
    })
    def time[T](label: String)(f: => T): T = {
      // a peak is a max, not a sum: reset it so each label reports its own
      M.peakMem.set(0)
      val before = M.snap()
      val t0 = System.nanoTime(); val r = f
      val d = M.snap().zip(before).map { case (a, b) => a - b }
      println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s" +
        f"  gcMs=${d(0)}%d spillMB=${d(1) / 1048576}%d/${d(2) / 1048576}%d" +
        f" fetchMs=${d(3)}%d runMs=${d(4)}%d peakTaskMemMB=${M.peakMem.get / 1048576}%d")
      r
    }
    def mat(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // the x60/x64 truth side: each query doc's most-Jaccard-similar neighbor
    def truthTop1(docs: org.apache.spark.sql.DataFrame, pred: org.apache.spark.sql.Column) =
      graft.ops.Dedup.pairs(graft.ops.Vocab.hashTokenIdArrays(docs),
        graft.ops.PairSpec(graft.ops.PairSpec.Grams(5),
          candidates = graft.ops.PairSpec.Candidates(queries = Some(pred)),
          verify = graft.ops.PairSpec.TopK(1)))

    args.headOption.getOrElse("t56") match {
      case "t56" =>
        val li = graft.Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1996-01-01"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        println("[probe] li rows: " + li.count())
        val edges = li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .select(col("pk").as("doc_a"), col("pk2").as("doc_b"))
        time("proj edge count")(println("[probe] proj edges: " + edges.count()))
        time("distinct proj edges")(
          println("[probe] distinct: " + edges.distinct().count()))
        time("star cc total")(mat(graft.ops.Dedup.dedupGroupsStar(edges)
          .select(col("doc_id").as("node"), col("group_id"))))
      case "t56rounds" =>
        val li = graft.Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1996-01-01"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .select(col("pk").as("doc_a"), col("pk2").as("doc_b"))
        // replica of dedupGroupsStar's loop with per-round timing
        def canon(e: org.apache.spark.sql.DataFrame) = e
          .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
        def sym(e: org.apache.spark.sql.DataFrame) =
          e.union(e.select(col("b").as("a"), col("a").as("b")))
        def largeStar(e: org.apache.spark.sql.DataFrame) = {
          val s = sym(e)
          val m = s.groupBy(col("a")).agg(min(col("b")).as("minb"))
            .select(col("a"), least(col("a"), col("minb")).as("m"))
          canon(s.join(m, "a").filter(col("b") > col("a"))
            .select(col("b").as("a"), col("m").as("b")))
        }
        def smallStar(e: org.apache.spark.sql.DataFrame) = {
          val le = sym(e).filter(col("b") <= col("a"))
          val m = le.groupBy(col("a")).agg(min(col("b")).as("minb"))
            .select(col("a"), least(col("a"), col("minb")).as("m"))
          canon(le.join(m, "a").select(col("b").as("a"), col("m").as("b"))
            .union(m.select(col("a"), col("m").as("b"))))
        }
        def checksum(e: org.apache.spark.sql.DataFrame) = {
          val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))"),
            expr("bit_xor(xxhash64(b, a))")).collect().head
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        var edges = time("seed canon+ckpt")(graft.plans.PlanGuard.guardedCheckpoint(
          "probe_seed", canon(pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))))
        var prev = time("seed checksum")(checksum(edges))
        var converged = false
        var round = 0
        while (!converged) {
          round += 1
          val next = time(s"round $round star+ckpt")(
            graft.plans.PlanGuard.guardedCheckpoint("probe_round", smallStar(largeStar(edges))))
          val cs = time(s"round $round checksum")(checksum(next))
          converged = cs == prev
          prev = cs
          edges = next
        }
        println(s"[probe] rounds: $round, final edges: ${prev._1}")
      case "x60truth" =>
        // stage-level costs of the x60/x64 truth side (round-14 verdict #3)
        val docs = graft.Tables.documents(spark, dir)
        val pred = col("doc_id") % 31 === 0
        val sh = graft.ops.Dedup.shingleIdsFromArrays(
          graft.ops.Vocab.hashTokenIdArrays(docs), 5).persist()
        time("sh pass (count)")(println("[probe] sh rows: " + sh.count()))
        time("sizes")(mat(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))))
        val idx = graft.ops.Dedup.dfCappedIndex(sh, graft.ops.Dedup.defaultMaxDf).persist()
        time("dfCappedIndex (count)")(println("[probe] idx rows: " + idx.count()))
        val qidx = idx.filter(pred)
          .select(col("doc_id").as("query_id"), col("shingle_id"))
        val cand = qidx.join(idx, Seq("shingle_id"))
          .filter(col("query_id") =!= col("doc_id"))
          .select(col("query_id"), col("doc_id").as("neighbor_id"))
          .distinct().persist()
        time("cand (count)")(println("[probe] cand rows: " + cand.count()))
        val inter = cand
          .join(sh.select(col("doc_id").as("query_id"), col("shingle_id")), Seq("query_id"))
          .join(sh.select(col("doc_id").as("neighbor_id"), col("shingle_id")),
            Seq("neighbor_id", "shingle_id"))
          .groupBy(col("query_id"), col("neighbor_id"))
          .agg(count(lit(1)).as("n_common"))
        time("inter blowup rows")(println("[probe] blowup: " + cand
          .join(sh.select(col("doc_id").as("query_id"), col("shingle_id")), Seq("query_id"))
          .count()))
        time("inter agg")(mat(inter))
        spark.sqlContext.clearCache()
        time("truth end-to-end")(mat(truthTop1(docs, pred)))
      case "d15" =>
        val docs = graft.Tables.documents(spark, dir)
        (1 to 3).foreach { i =>
          time(s"blockDedup run $i")(mat(graft.ops.Dedup.blockDedup(docs)))
          spark.sqlContext.clearCache()
        }
      case "prime" =>
        // fleet-context reproduction harness (round-14 verdict #1): run a
        // PRIME set of registry queries in bench order first — leaving
        // whatever block-manager state they leave — then measure the
        // TARGET query 3× with task metrics, cold-vs-fleet in one flag.
        //   runMain graft.tools.Probe prime [primePrefixes] [targetPrefix]
        val prime = args.lift(1).getOrElse("b,d10,d11,d12,d13,d14")
          .split(',').toSeq.filter(_.nonEmpty)
        val target = args.lift(2).getOrElse("d15")
        val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
        qs.filter { case (n, _) => prime.exists(n.startsWith) }.foreach {
          case (n, fn) =>
            try { mat(fn(spark, dir)); () } catch {
              case scala.util.control.NonFatal(e) =>
                println(s"[probe] prime $n failed: ${e.getMessage}")
            }
            spark.sqlContext.clearCache()
        }
        println("[probe] primed; leaked persistent RDDs: " +
          spark.sparkContext.getPersistentRDDs.size)
        qs.filter { case (n, _) => n.startsWith(target) }.foreach {
          case (n, fn) =>
            (1 to 3).foreach { i =>
              time(s"$n run $i")(mat(fn(spark, dir)))
              spark.sqlContext.clearCache()
            }
        }
        println("[probe] after target; leaked persistent RDDs: " +
          spark.sparkContext.getPersistentRDDs.size)
      case "x60" =>
        val docs = graft.Tables.documents(spark, dir)
        val pred = col("doc_id") % 31 === 0
        // phase 1: the d38 Jaccard truth side alone
        val truth = truthTop1(docs, pred)
        time("x60 truth side")(mat(truth))
        spark.sqlContext.clearCache()
        // phase 2: the full eval (truth + BM25 rank join)
        time("x60 full")(mat(graft.ops.TextOps.retrievalAgreement(docs, pred,
          graft.ops.TextOps.Postings.Recompute(docs))))
        spark.sqlContext.clearCache()
        time("x60 full again")(mat(graft.ops.TextOps.retrievalAgreement(docs, pred,
          graft.ops.TextOps.Postings.Recompute(docs))))
      case "compact" =>
        val base = graft.Tables.documents(spark, dir)
        val n = base.count()
        val cur = col("doc_id")
        val t = "probe_postings_compact"
        spark.sql(s"DROP TABLE IF EXISTS $t"); spark.sql(s"DROP TABLE IF EXISTS ${t}_len")
        time("cut build")(
          graft.ops.TextOps.materializedPostings(base.filter(cur < n - n / 8), t))
        time("compact")(
          graft.ops.TextOps.compactPostings(base.filter(cur % 13 =!= 5), t))
        spark.sql(s"DROP TABLE IF EXISTS $t"); spark.sql(s"DROP TABLE IF EXISTS ${t}_len")
        time("cut build 2")(
          graft.ops.TextOps.materializedPostings(base.filter(cur < n - n / 8), t))
        time("compact 2")(
          graft.ops.TextOps.compactPostings(base.filter(cur % 13 =!= 5), t))
      case "t32" =>
        val edges = graft.Tables.lineitem(spark, dir).select(
          (col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        def run(label: String)(pr: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
          time(label)(mat(pr(edges)
            .select(col("node"), round(col("rank") * lit(1e9)).cast("long").as("rank_ppb"))))
          spark.sqlContext.clearCache()
        }
        def variant(repart: Boolean)(e: org.apache.spark.sql.DataFrame) = {
          val raw = e.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
          val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst"))).distinct()
          val adj0 = sym.join(sym.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
          val adj = (if (repart) adj0.repartition(32, col("src")) else adj0).persist()
          val n = adj.select(col("src")).distinct().count()
          var ranks = adj.select(col("src").as("node")).distinct()
            .withColumn("rank", lit(1.0 / n))
          for (_ <- 1 to 5) {
            ranks = adj.join(ranks, adj("src") === ranks("node"))
              .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
              .groupBy(col("node"))
              .agg((lit(0.15 / n) + lit(0.85) * sum(col("c"))).as("rank"))
          }
          ranks
        }
        run("t32 current")(variant(repart = false))
        run("t32 current again")(variant(repart = false))
        run("t32 repart-persist")(variant(repart = true))
        run("t32 repart-persist again")(variant(repart = true))
      case other =>
        println(s"[probe] unknown probe: $other")
    }
    spark.stop()
  }
}
