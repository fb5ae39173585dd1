package graft.plans

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.graft.TestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Every iterative loop, every registry entry of the one ANN pipeline
  * (`Vectors.topK`), every entry of the one near-duplicate pair pipeline
  * (`Dedup.pairs`, with the band-key entries d10 and d14) and every entry
  * and postings build of the one BM25 pipeline (`TextOps.bm25Search`), run
  * at sf0.001, under two checks on the frames it manages:
  *   - use-after-release: no executed plan scans a checkpoint RDD that was
  *     already released when the plan ran. Unpersist events and query
  *     completions share the listener bus's shared queue, so they arrive
  *     here in the order they happened;
  *   - leaks: the persistent RDDs an entry leaves are exactly those its
  *     returned plan references. Two entries feed their loop from an
  *     operator that hands its cache to the caller (Dedup's documented
  *     cache lifecycle: d9's Jaccard pairs, s24's nav graph); those inputs
  *     are built before the snapshot, so the check covers the frames the
  *     entry's loop creates.
  */
class FrameLifecycleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "t42_kcore", "t43_tree_paths", "t53_bfs_reach", "t55_sssp",
    "d9_dedup_groups_star", "t56_components", "s13_ann_mmr", "s24_ann_beam",
    "s26_beam_sweep", "s33_ann_beam_served", "s34_ann_beam_pruned",
    "x62_bpe_merges", "x63_bpe_fertility", "x65_bpe_fertility_deep",
    "x66_bpe_fertility_served",
    "s1_ann_bruteforce", "s2_ann_ivf", "s3_ann_lsh", "s4_ann_ivf_multiprobe",
    "s5_ann_lsh_multitable", "s6_ann_ivf_twolevel", "s7_ann_filtered",
    "s8_ann_quantized", "s9_ann_pq", "s11_ann_ivfpq", "s12_ann_pq_rerank",
    "s16_ann_jl", "s22_cross_knn", "s27_ann_default",
    "d2_jaccard_pairs", "d4_minhash_pairs", "d7_dedup_groups", "d10_neardup_keep_first",
    "d11_char_ngram_jaccard", "d14_incremental_dedup", "d18_containment_pairs",
    "d19_cross_source_dups", "d21_minhash_estimate", "d22_simhash_pairs",
    "d23_dup_cluster_profile", "d24_threshold_sweep", "d26_winnow_overlap",
    "d29_lsh_confusion", "d30_idf_cosine", "d36_band_sweep", "d38_similar_docs",
    "m8_frame_jaccard", "x60_retrieval_eval", "x64_retrieval_eval_served",
    "x33_bm25_search", "x55_hybrid_rrf", "x58_bm25_served", "x67_retrieval_eval_indexed",
    "x69_postings_staleness", "x70_bm25_compacted"
  ).map(n => n -> (() => SparkEntry.queries(n)(spark, dir))) ++ Seq(
    "artifact:dedup_groups" -> (() => {
      spark.sql(s"DROP TABLE IF EXISTS dedup_groups_$sfx")
      graft.ops.Dedup.materializedGroupsFor(Tables.documents(spark, dir), dir)
    }),
    "artifact:postings" -> (() => {
      Seq("", "_len").foreach(t => spark.sql(s"DROP TABLE IF EXISTS postings_$sfx$t"))
      graft.ops.TextOps.materializedPostings(Tables.documents(spark, dir), s"postings_$sfx")
    }),
    "artifact:postings_cut" -> (() => {
      Seq("", "_len").foreach(t => spark.sql(s"DROP TABLE IF EXISTS postings_cut_$sfx$t"))
      graft.ops.TextOps.materializedPostings(
        Tables.documents(spark, dir).filter(col("doc_id") < 438L), s"postings_cut_$sfx")
    }),
    "artifact:postings_compact" -> (() => {
      val t = s"postings_compact_$sfx"
      Seq("", "_len").foreach(n => spark.sql(s"DROP TABLE IF EXISTS $t$n"))
      val base = Tables.documents(spark, dir)
      graft.ops.TextOps.materializedPostings(base.filter(col("doc_id") < 438L), t)
      graft.ops.TextOps.compactPostings(base.filter(col("doc_id") % 13 =!= 5), t)
      spark.table(t)
    }),
    "artifact:bpe_merges" -> (() => {
      spark.sql(s"DROP TABLE IF EXISTS bpe_merges32_$sfx")
      graft.ops.TextOps.materializedBpeMerges(Tables.documents(spark, dir),
        s"bpe_merges32_$sfx", rounds = 32)
    }),
    // the fixture's histogram fits the driver branch; force the
    // distributed base + delta loop, compacting every two rounds
    "bpe_distributed" -> (() => {
      import spark.implicits._
      graft.ops.TextOps.bpeLoop(Tables.documents(spark, dir), 6, 20L, 400, 0L, 2) {
        (merges, _) => merges.map(_._1).toDF("merge_rank")
      }
    }),
    "maxmin_init" -> (() => {
      val emb = Tables.embeddings(spark, dir)
      val cents = graft.ops.Vectors.trainedCentroidsDistributed(emb, c = 12)
      import spark.implicits._
      cents.map(_._1).toDF("bucket")
    }))

  private val loopInputs: Map[String, () => DataFrame] = Map(
    "d9_dedup_groups_star" -> (() => graft.ops.Dedup.pairs(
      graft.ops.Vocab.hashTokenIdArrays(Tables.documents(spark, dir)),
      graft.ops.PairSpec(graft.ops.PairSpec.Grams(5)))),
    "s24_ann_beam" -> (() => graft.ops.Vectors.navGraph(Tables.embeddings(spark, dir))))

  /** RDD ids `plan` reads: checkpoint scans, and the cached relations it
    * reads together with whatever THEIR plans read.
    */
  private def referencedRdds(plan: SparkPlan): Set[Int] = {
    val ids = scala.collection.mutable.Set.empty[Int]
    foreachNode(plan) {
      case r: RDDScanExec => ids += r.rdd.id
      case im: InMemoryTableScanExec =>
        ids += im.relation.cacheBuilder.cachedColumnBuffers.id
        ids ++= referencedRdds(im.relation.cacheBuilder.cachedPlan)
      case _ => ()
    }
    ids.toSet
  }

  test("no loop entry scans a released frame or leaves unreferenced frames behind") {
    val sc = spark.sparkContext
    val released = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val useAfterRelease = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val bus = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
        released.add(e.rddId); ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        foreachNode(qe.executedPlan) {
          case r: RDDScanExec if released.contains(r.rdd.id) =>
            useAfterRelease.add(s"$f scanned released rdd ${r.rdd.id}:\n${qe.executedPlan}")
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        useAfterRelease.add(s"$f failed: $e"); ()
      }
    }
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    sc.addSparkListener(bus)
    spark.listenerManager.register(queries)
    val jobCounts = try loops.map { case (name, run) =>
      spark.sqlContext.clearCache()
      loopInputs.get(name).foreach(_().collect())
      TestHooks.drainListeners(sc)
      val before = sc.getPersistentRDDs.keySet.toSet
      val jobsBefore = jobs.get()
      val df = run()
      df.collect()
      TestHooks.drainListeners(sc)
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      val referenced = referencedRdds(df.queryExecution.executedPlan) -- before
      if (left != referenced) leaks += s"$name left persistent RDDs " +
        s"${(left -- referenced).map(id => id -> sc.getPersistentRDDs(id).name)} its " +
        s"result does not read (and lost ${referenced -- left} it does)"
      name -> (jobs.get() - jobsBefore)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(bus)
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
    assert(useAfterRelease.isEmpty, useAfterRelease.toArray.mkString("\n"))
    info(jobCounts.map { case (n, j) => s"$n=$j" }.mkString("jobs: ", ", ", ""))
  }
}
