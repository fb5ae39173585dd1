package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketedLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Drop the table AND its managed location: the warehouse dir outlives the
    * per-JVM in-memory catalog, and a stale location makes the next
    * saveAsTable fail with LOCATION_ALREADY_EXISTS.
    */
  private def reset(names: String*): Unit = names.foreach { name =>
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = java.nio.file.Paths.get(wh, name)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  private def events = (0L until 2000L).map(i => (i % 97L, s"e$i", i)).toDF("user_id", "tag", "n")
  private def users = (0L until 97L).map(i => (i, s"u$i")).toDF("user_id", "name")

  /** Each test writes its own table — no cross-test table dependency (a
    * -z filtered run must not fail on a missing sibling's fixture).
    */
  private def writeEventsBucketed(table: String): Unit = {
    reset(table)
    BucketedLayout.writeBucketed(events, table, "user_id", buckets = 8)
  }

  test("same-bucketed tables join with zero exchanges; unbucketed twin shuffles") {
    reset("us_bucketed", "ev_plain", "us_plain")
    writeEventsBucketed("ev_bucketed")
    BucketedLayout.writeBucketed(users, "us_bucketed", "user_id", buckets = 8)
    // force a sort-merge join so locality (not broadcast) is what's tested
    val joined = spark.table("ev_bucketed").hint("merge")
      .join(spark.table("us_bucketed").hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // co-located: bucket i reads bucket i
    assert(joined.count() === 2000L)
    // the unbucketed twin of the same join DOES shuffle — the layout, not
    // the data, is what removed the exchanges
    events.write.mode("overwrite").saveAsTable("ev_plain")
    users.write.mode("overwrite").saveAsTable("us_plain")
    val plain = spark.table("ev_plain").hint("merge")
      .join(spark.table("us_plain").hint("merge"), "user_id")
      .queryExecution.executedPlan.toString
    assert(plain.contains("Exchange"), plain)
    // and the bucket metadata survives the catalog round trip
    val catalog = spark.sql("DESCRIBE EXTENDED ev_bucketed").collect().map(_.mkString("|"))
    assert(catalog.exists(_.contains("Num Buckets")), catalog.mkString("\n"))
  }

  test("d7 pair graph: bucketed edge table plans a CC round with zero exchanges") {
    import graft.ops.{Dedup, PairSpec, Vocab}
    // the REAL d7 input shape: near-dup pairs over the fixture documents,
    // symmetrized exactly as dedupGroups does before its label-propagation
    // loop — at 100 TB this edge table is corpus-sized and re-joined every
    // CC round, so it is THE candidate for the bucketed layout
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.pairs(Vocab.hashTokenIdArrays(docs), PairSpec(PairSpec.Grams(5)))
    val sym = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
    reset("d7_edges", "d7_edges_plain")
    BucketedLayout.writeBucketed(sym, "d7_edges", "a", buckets = 8)
    sym.write.mode("overwrite").saveAsTable("d7_edges_plain")
    spark.sqlContext.clearCache() // pair-stage persists must not mask the scan

    def ccRound(table: String) = {
      val edges = spark.table(table)
      // one min-label round: seed labels from the edge table (agg on the
      // bucket key), propagate across edges (join on the bucket key)
      val labels = edges.groupBy(col("a")).agg(min(col("b")).as("label"))
      edges.hint("merge").join(labels, "a")
        .select(col("b").as("doc_id"), col("label"))
    }
    // string-count shuffles: AdaptiveSparkPlanExec has no children, so a
    // tree collect would see only the AQE root and miss every Exchange
    def nShuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    val bucketed = ccRound("d7_edges")
    // seed agg AND propagate join both ride the bucket partitioning: the
    // corpus-sized edge table never re-shuffles across rounds
    assert(nShuffles(bucketed) === 0, bucketed.queryExecution.executedPlan.toString)
    // the unbucketed twin shuffles (layout, not data, removed the exchanges)
    val plain = ccRound("d7_edges_plain")
    assert(nShuffles(plain) >= 1, plain.queryExecution.executedPlan.toString)
    // same answer either way
    assert(bucketed.collect().toSet === plain.collect().toSet)
    assert(bucketed.count() > 0)
  }

  test("persisted IVF index: batch probe is exchange-free on the corpus side") {
    import graft.ops.Vectors
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assigned = Vectors.ivfAssign(emb, Vectors.spacedCentroidIds(emb.count()))
    reset("ivf_index", "ivf_index_plain")
    Vectors.writeIvfIndex(assigned, "ivf_index", buckets = 8)
    assigned.write.mode("overwrite").saveAsTable("ivf_index_plain")
    spark.sqlContext.clearCache()

    def probe(table: String) = {
      val index = spark.table(table).hint("merge")
      // a query BATCH derived from the same layout (the offline-scoring
      // shape: every corpus vector is also a query)
      val queries = spark.table(table).hint("merge")
        .select(col("vec_id").as("query_id"), col("bucket"), col("unit").as("q"))
      Vectors.ivfBatchTopKFromIndex(index, queries, k = 3)
    }
    def nShuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    // bucketed: the scoring join rides the bucket layout on BOTH derived
    // sides — only the final per-query ranking re-keys (1 exchange)
    val bucketed = probe("ivf_index")
    assert(nShuffles(bucketed) === 1, bucketed.queryExecution.executedPlan.toString)
    // unbucketed twin shuffles both scoring-join sides too
    val plain = probe("ivf_index_plain")
    assert(nShuffles(plain) >= 2, plain.queryExecution.executedPlan.toString)
    // and the probe returns identical neighbors either way
    assert(bucketed.collect().toSet === plain.collect().toSet)
    assert(bucketed.count() > 0)
  }

  test("persisted band-key index: the ingest screen is exchange-free on the corpus side") {
    import graft.ops.Dedup
    // corpus = src != src0, batch = src0 — the d14 shape, but the corpus
    // side is a PERSISTED bucketed index instead of re-shingled per batch
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("source") =!= "src0")
    val batch = docs.filter(col("source") === "src0")
    reset("band_index", "band_index_plain")
    Dedup.writeBandKeyIndex(corpus, "band_index", buckets = 8)
    spark.table("band_index").write.mode("overwrite").saveAsTable("band_index_plain")

    def exchangesOnIndexSide(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val bucketed = Dedup.incrementalNearFromIndex(batch, spark.table("band_index").hint("merge"))
    val plain = Dedup.incrementalNearFromIndex(batch, spark.table("band_index_plain").hint("merge"))
    // bucketed: the index-side scan feeds the semi join with NO exchange
    // below it (only the batch side and the final distinct re-key);
    // unbucketed twin shuffles the index side too
    val nB = exchangesOnIndexSide(bucketed).linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    val nP = exchangesOnIndexSide(plain).linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(nB < nP, s"bucketed=$nB plain=$nP")
    // identical verdicts either way, and they match the all-in-one op's
    // near flags over the same corpus/batch split
    val viaIndex = bucketed.collect().map(_.getLong(0)).toSet
    assert(viaIndex === plain.collect().map(_.getLong(0)).toSet)
    val allInOne = Dedup.incrementalDedup(batch, corpus)
      .filter(col("dup_near") === 1L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(viaIndex === allInOne)
  }

  test("bucketed aggregation on the bucket key also skips the exchange") {
    writeEventsBucketed("ev_bucketed_agg")
    val agg = spark.table("ev_bucketed_agg").groupBy("user_id").agg(sum("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(agg.count() === 97L)
  }

  test("materialized dedup groups: built once, hash-identical to the inline CC, exchange-free reads") {
    import graft.ops.{Dedup, PairSpec, Vocab}
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sfDir)
    val table = "dedup_groups_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    reset(table)

    // first consumer builds; contents are EXACTLY the inline chain's rows
    val viaArtifact = Dedup.materializedGroupsFor(docs, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Dedup.dedupGroupsAuto(
      Dedup.pairs(Vocab.hashTokenIdArrays(docs), PairSpec(PairSpec.Grams(5))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaArtifact === inline)
    spark.sqlContext.clearCache()

    // second consumer REUSES the table (no rebuild): drop the backing CC
    // inputs from reach by checking the plan is a plain table scan
    val again = Dedup.materializedGroupsFor(docs, sfDir)
    val scanPlan = again.queryExecution.executedPlan.toString
    assert(scanPlan.contains(table), scanPlan)
    assert(!scanPlan.contains("Exchange"), scanPlan)

    // the keep-best join rides the doc_id bucketing: no Exchange under the
    // artifact side of the members join (only the scored/docs side re-keys)
    val scored = docs.select(col("doc_id"), length(col("text")).cast("long").as("score"))
    val viaBucketed = Dedup.keepBestScored(docs, again.hint("merge"), scored)
    val plan = viaBucketed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nBucketed = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // unbucketed twin: same rows, strictly more exchanges
    reset(table + "_plain")
    spark.table(table).write.mode("overwrite").saveAsTable(table + "_plain")
    val viaPlain = Dedup.keepBestScored(docs, spark.table(table + "_plain").hint("merge"), scored)
    val planPlain = viaPlain.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nPlain = planPlain.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(nBucketed < nPlain, s"bucketed=$nBucketed plain=$nPlain\n$plan")
    assert(viaBucketed.collect().map(_.getLong(0)).toSet ===
      viaPlain.collect().map(_.getLong(0)).toSet)
  }

  test("materializedNavGraph: spaced parity build ≡ inline navGraph; trained default writes " +
      "a complete ledger; later consumers plan a plain artifact scan") {
    import graft.ops.Vectors
    reset("nav_test_artifact", "nav_test_artifact_centroids",
      "nav_test_trained", "nav_test_trained_centroids")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val spaced = Vectors.spacedCentroidIds(emb.count())
    // spaced PARITY form: bit-identical to the inline build (what the
    // s24/s33/s34 oracle walks reproduce)
    val built = Vectors.materializedNavGraph(emb, "nav_test_artifact",
      centroidIds = Some(spaced))
    val inline = Vectors.navGraph(emb).select(col("src_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(built.select(col("src_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === inline)
    assert(inline.nonEmpty)
    // TRAINED default (round 7): ledger holds C = ⌈√N⌉ centroids with
    // per-bucket entry reps; every graph node is a corpus member
    val trained = Vectors.materializedNavGraph(emb, "nav_test_trained")
    assert(trained.select(col("src_id")).collect().map(_.getLong(0)).toSet
      .subsetOf(emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet))
    val ledger = Vectors.readCentroidLedger(spark, "nav_test_trained")
    assert(ledger.size === spaced.size)
    assert(Vectors.ledgerEntryIds(spark, "nav_test_trained").nonEmpty)
    spark.sqlContext.clearCache()
    // reuse: a plain bucketed scan — none of the build's machinery (the
    // top-k Window, the self-join's Exchange) appears in the plan
    val again = Vectors.materializedNavGraph(emb, "nav_test_artifact",
      centroidIds = Some(spaced))
    val plan = again.queryExecution.executedPlan.toString
    assert(plan.contains("nav_test_artifact"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("beamSearchServedPruned ≡ beamSearchServed; the units scan pushes the frontier IN-list") {
    import graft.ops.Vectors
    reset("nav_pr_graph", "nav_pr_units")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val g = Vectors.materializedNavGraph(emb, "nav_pr_graph")
    Vectors.materializedNavUnits(emb, "nav_pr_units")
    val entries = Vectors.spacedCentroidIds(emb.count())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSet
    // identical walk semantics ⇒ identical rows, ranks included
    val served = rows(Vectors.beamSearchServed(emb, g,
      queryIds = 0L until 8L, entryIds = entries, k = 5))
    val pruned = rows(Vectors.beamSearchServedPruned(spark, "nav_pr_units", g,
      queryIds = 0L until 8L, entryIds = entries, k = 5))
    assert(pruned === served)
    assert(pruned.nonEmpty)
    // the seam itself: a literal id IN-list against the units store
    // reaches the parquet reader as a pushed filter
    val scan = spark.table("nav_pr_units")
      .filter(col("vec_id").isInCollection(0L until 8L))
    assert(scan.queryExecution.executedPlan.toString.contains("In(vec_id"),
      scan.queryExecution.executedPlan.toString)
  }

  test("incrementalGroups: batch fold-in ≡ full CC rebuild (canonical min-id labels)") {
    import graft.ops.{Dedup, PairSpec, Vocab}
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val cut = 400L // corpus = ids < cut, batch = ids ≥ cut
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.pairs(Vocab.hashTokenIdArrays(d), PairSpec(PairSpec.Grams(5)))
    val corpusGroups = Dedup.dedupGroupsAuto(pairsOf(docs.filter(col("doc_id") < cut)))
      .persist()
    // the batch's new connectivity: every full-corpus pair touching a
    // batch doc (batch–batch + batch–corpus)
    val fullPairs = pairsOf(docs).persist()
    val newPairs = fullPairs.filter(col("doc_a") >= cut || col("doc_b") >= cut)
    val incremental = Dedup.incrementalGroups(corpusGroups, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Dedup.dedupGroupsAuto(fullPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical membership AND identical canonical labels — the star
    // edges preserve old connectivity exactly, the new pairs add the rest
    assert(incremental === rebuilt)
    assert(incremental.nonEmpty)
    // sanity: the fixture split actually exercises a cross-boundary merge
    // (some group spans corpus and batch ids)
    val groupsWithBoth = rebuilt.groupBy(_._2).values
      .count(g => g.exists(_._1 < cut) && g.exists(_._1 >= cut))
    assert(groupsWithBoth > 0, "fixture split produced no cross-boundary group")
  }
}
