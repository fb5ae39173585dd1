package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.binlog.{Maintenance, TransactionStats}

/** Physical-plan assertions (SURVEY.md §4): the optimizations the engine
  * leans on must actually engage — cheap checks, high value at 100 TB.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  test("global top-1 plans as TakeOrderedAndProject (no full sort)") {
    // needs >1 row: with a provably-1-row child Catalyst correctly
    // eliminates the sort and limit altogether
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "g1", "1", "10", 1L),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "g2", "2", "20", 1L),
      (Timestamp.valueOf("2024-01-01 00:03:00"), "g3", "3", "30", 1L)
    ).toDF("execute_time", "gtid", "binlog_pos", "single_statement_size",
      "single_statement_affected_rows")
    val plan = TransactionStats
      .top1ForRange(events, Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-01 00:05:00"), "5min", "transaction_size")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("small-dimension joins broadcast") {
    val plan = SparkEntry.queries("t3_broadcast_agg")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("day-partitioned layout prunes partitions under a day predicate") {
    val path = tmpDir("plan_prune")
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "g1", "INSERT"),
      (Timestamp.valueOf("2024-01-02 10:00:00"), "g2", "INSERT"),
      (Timestamp.valueOf("2024-01-03 10:00:00"), "g3", "INSERT")
    ).toDF("execute_time", "gtid", "event_type")
    Maintenance.writeEvents(events, path)
    val q = spark.read.parquet(path).filter(col("day") === lit("2024-01-02"))
    q.collect()
    // FileSourceScan must carry the partition filter and select 1 of 3 dirs
    // (DataFrame.inputFiles ignores pruning — ask the scan node itself)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.toString.contains("PartitionFilters"), scans.head.toString)
    assert(scans.head.selectedPartitions.partitionCount === 1)
  }

  test("documents-table queries prune to exactly the columns they read") {
    // a scan reading all columns for a 2-column projection is wrong at any
    // scale; pin ReadSchema for representative text/dedup/sample queries
    val cases = Seq(
      "x9_normalize" -> Set("doc_id", "text"),
      "x8_stratified_sample" -> Set("doc_id", "lang"),
      "d1_dedup_exact" -> Set("doc_id", "text"),
      "x10_curation_pipeline" -> Set("doc_id", "lang", "text"))
    // multi-exchange plans hide their children inside AdaptiveSparkPlanExec
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      // persisted stages bury their scan inside the cached relation
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        scansOf(im.relation.cachedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
    cases.foreach { case (q, want) =>
      val scans = scansOf(
        SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").queryExecution.executedPlan)
      assert(scans.nonEmpty, q)
      scans.foreach { s =>
        val read = s.requiredSchema.fieldNames.toSet
        assert(read.subsetOf(want), s"$q reads $read, expected ⊆ $want")
      }
    }
  }

  test("new pipeline ops keep their scale shapes: broadcasts, no global window, WSCG") {
    val dir = "/root/testdata/sf0.001"
    // d13: the benchmark shingle set reaches the corpus as a broadcast join
    val d13 = SparkEntry.queries("d13_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(d13.contains("BroadcastHashJoin"), d13)
    // x11/x12: the distributed prefix plans contain no partition-less
    // window over anything corpus-sized (the single-task global ORDER BY
    // both ops exist to avoid). The ranged form (round 13) legitimately
    // runs ONE partition-less window over its ≤ shuffle-partition-count
    // per-slot totals — allowed iff a _pslot-keyed aggregate sits between
    // the window and every leaf.
    def slotBoundedPhys(w: org.apache.spark.sql.execution.window.WindowExec): Boolean =
      w.child.exists {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
            case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              ar.name == "_pslot"
            case _ => false
          }
        case _ => false
      }
    for (q <- Seq("x11_pack_sequences", "x12_global_shuffle")) {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val bare = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty && !slotBoundedPhys(w) => w
      }
      assert(bare.isEmpty, s"$q has ${bare.size} corpus-feeding partition-less window(s)")
    }
    // x13: pure projection — no exchange, stays inside whole-stage codegen
    val x13 = SparkEntry.queries("x13_repetition")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!x13.contains("Exchange"), x13)
    assert(x13.contains("*("), x13)
    // s7: the quality gate is a semi join; queries broadcast for scoring
    val s7 = SparkEntry.queries("s7_ann_filtered")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(s7.contains("LeftSemi"), s7)
    assert(s7.contains("BroadcastNestedLoopJoin"), s7)
  }

  test("ingest chain fuses into a single whole-stage-codegen span") {
    val q = SparkEntry.queries("b7_ingest_flatten")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    // decode → flatten → filter → project is narrow: codegen spans (the
    // `*(n)` markers) over the scan, no exchanges anywhere
    assert(plan.contains("*("), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("filter pushdown reaches the parquet scan") {
    val q = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_quantity") > 49.0).select(col("l_orderkey"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49.0)]"), scan)
    // column pruning: scan schema is just the two referenced columns
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), scan)
  }

  test("DayPruningRule: a pure execute_time range prunes day partitions") {
    val path = tmpDir("plan_daypruning")
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "g1", "INSERT"),
      (Timestamp.valueOf("2024-01-02 10:00:00"), "g2", "INSERT"),
      (Timestamp.valueOf("2024-01-03 10:00:00"), "g3", "INSERT")
    ).toDF("execute_time", "gtid", "event_type")
    Maintenance.writeEvents(events, path)
    // F3-shaped predicate: time range only, no mention of `day`
    val q = spark.read.parquet(path)
      .filter(col("execute_time") >= lit(Timestamp.valueOf("2024-01-02 00:00:00")) &&
        col("execute_time") < lit(Timestamp.valueOf("2024-01-03 00:00:00")))
    assert(q.collect().map(_.getAs[String]("gtid")).toSeq === Seq("g2"))
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.head.selectedPartitions.partitionCount === 1, "rule did not prune")
  }

  test("DayPruningRule ignores an unrelated relation's execute_time (soundness)") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint}
    import org.apache.spark.sql.types.TimestampType
    val path = tmpDir("plan_daypruning_foreign")
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "g1", "INSERT"),
      (Timestamp.valueOf("2024-01-02 10:00:00"), "g2", "INSERT")
    ).toDF("execute_time", "gtid", "event_type")
    Maintenance.writeEvents(events, path)
    val scanPlan = spark.read.parquet(path).queryExecution.analyzed
    // a second relation that happens to carry a column named execute_time
    val foreign = Seq((Timestamp.valueOf("2024-03-01 00:00:00"), "g1"))
      .toDF("execute_time", "other_gtid").queryExecution.analyzed
    val lit20240102 = Literal(1704153600000000L, TimestampType) // 2024-01-02T00:00Z µs
    def filtered(onForeign: Boolean) = {
      val et = (if (onForeign) foreign else scanPlan).output
        .find(_.name == "execute_time").get
      Filter(GreaterThanOrEqual(et, lit20240102),
        Join(scanPlan, foreign, Inner, None, JoinHint.NONE))
    }
    // the filter bounds the FOREIGN execute_time above the join — a day
    // bound derived from it would silently drop rows; the rule must not fire
    val foreignResult = graft.plans.DayPruningRule(filtered(onForeign = true))
    val foreignCond = foreignResult.collect { case f: Filter => f }.head.condition
    assert(!foreignCond.references.exists(_.name == "day"), foreignCond.toString)
    // positive control: the scan's own execute_time still triggers the rewrite
    val ownResult = graft.plans.DayPruningRule(filtered(onForeign = false))
    assert(ownResult.collect { case f: Filter => f }.head
      .condition.toString.contains("day"), ownResult.toString)
  }

  test("dot_product is SQL-callable via the session extension") {
    val r = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r === 11.0)
  }

  test("simhash_bits is SQL-callable and matches the DataFrame path") {
    import spark.implicits._
    val viaSql = spark.sql(
      "SELECT simhash_bits(array(42L, 99L), 16) AS h").collect().head.getLong(0)
    val viaDf = graft.ops.Dedup.simhashFromArrays(
      Seq((1L, Seq(42L, 99L))).toDF("doc_id", "ids"), 16).collect().head.getLong(1)
    assert(viaSql === viaDf)
  }

  test("kafka source option mapping covers assign/offsets/auth (S1/S2)") {
    val src = graft.sources.BinlogSources.KafkaBinlogSource(
      bootstrapServers = "broker:9092",
      topic = "dba_prod_broker",
      partitions = Seq(0, 1),
      offsetMode = graft.sources.BinlogSources.FromBeginning,
      groupId = Some("dba_binlog"),
      saslScram = Some(("user", "pass")))
    val o = src.options
    assert(o("assign") === """{"dba_prod_broker":[0,1]}""")
    assert(o("startingOffsets") === "earliest")
    assert(o("kafka.group.id") === "dba_binlog")
    assert(o("kafka.sasl.mechanism") === "SCRAM-SHA-256")
    assert(o("maxOffsetsPerTrigger") === "5000")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS c_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    // the in-memory catalog resets per JVM but the warehouse dirs survive —
    // clear stale locations or saveAsTable refuses to create the table
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("c_bucketed", "o_bucketed").foreach { t =>
      val d = new java.io.File(wh, t)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      if (d.exists()) rm(d)
    }
    Tables.customer(spark, sf).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("c_bucketed")
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("o_bucketed")
    val q = spark.table("c_bucketed")
      .join(spark.table("o_bucketed").hint("merge"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    q.collect()
    val plan = q.queryExecution.executedPlan
    val joinExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only shuffle allowed is the aggregation's, never the join's:
    // both sides are pre-bucketed on the key
    assert(plan.toString.contains("SortMergeJoin"), plan.toString)
    assert(joinExchanges.length <= 1, plan.toString)
  }

  test("salted join equals direct join (skewed fact side)") {
    import graft.operators.Skew
    // heavily skewed fact: one hot key carries 80% of rows
    val big = (0 until 1000).map(i => (if (i < 800) 1L else i.toLong % 50L, i.toLong))
      .toDF("k", "v")
    val small = (0L until 50L).map(i => (i, s"dim$i")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .collect().map(_.toSeq).toSet
    val plain = big.join(small, "k").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.nonEmpty)
  }

  test("salted aggregation equals direct aggregation") {
    val direct = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
      .orderBy("event_type").collect()
    val salted = graft.operators.Skew.saltedCount(
      Tables.events(spark, "/root/testdata/sf0.001"), Seq("event_type"),
      salts = 32, countCol = "n_events")
      .orderBy("event_type").collect()
    assert(direct.toSeq === salted.toSeq)
    // the sum twin, same contract
    val directSum = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type")).agg(sum(col("event_id")).as("total"))
      .orderBy("event_type").collect()
    val saltedSum = graft.operators.Skew.saltedSum(
      Tables.events(spark, "/root/testdata/sf0.001"), Seq("event_type"), "event_id",
      salts = 32)
      .orderBy("event_type").collect()
    assert(directSum.toSeq === saltedSum.toSeq)
  }

  test("b14 batch assembly: one exchange (gtid hash feeds window AND final agg)") {
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "g1", 1L, 10L, 1L)
    ).toDF("execute_time", "gtid", "pos", "size_bytes", "affected_rows")
    val plan = graft.streaming.TransactionAssembler.assembleBatch(events, 30)
      .queryExecution.executedPlan.toString
    // HashPartitioning(gtid) from the sessionization window satisfies the
    // (gtid, session_id) grouping — a second shuffle would mean it regressed
    val nExchanges = "Exchange ".r.findAllIn(plan).size
    assert(nExchanges === 1, plan)
  }

  test("t11 cast-ordered top-k plans as TakeOrderedAndProject (no full sort)") {
    // the real query over real parquet — an in-memory Seq would fold to a
    // LocalTableScan and hide the physical strategy
    val plan = graft.SparkEntry.queries("t11_cast_order_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("production envelope decode chain stays inside whole-stage codegen") {
    // the PRODUCTION shape: wire bytes in a stored binary column → decode →
    // null-filter → flatten. (The b15 harness query also carries
    // encode_envelope, which is deliberately CodegenFallback and pulls its
    // segment interpreted — the decode-only path must not.)
    import org.apache.spark.unsafe.types.UTF8String
    val path = tmpDir("envelopes")
    val rows = (0 until 50).map { i =>
      Tuple1(org.apache.spark.sql.graft.EnvelopeCodec.encode(
        i.toLong, 1704103200000L + i, UTF8String.fromString(s"g$i"),
        UTF8String.fromString("INSERT"), 100L + i, 2L))
    }
    rows.toDF("envelope").write.mode("overwrite").parquet(path)
    val decoded = graft.binlog.Ingest.decodeBinaryEnvelope(spark.read.parquet(path), "envelope")
    val plan = decoded.queryExecution.executedPlan.toString
    // every Filter/Project NODE must sit in a codegen span (the `*(n)`
    // marker); the regex anchors on the node label so FileScan's
    // "DataFilters:" text doesn't match
    val node = """(\*\(\d+\) )?(Filter|Project)[ \[]""".r
    val logicalNodes = plan.linesIterator.filter(l =>
      node.findFirstIn(l).exists(_ => l.matches(""".*?(\+- |^)(\*\(\d+\) )?(Filter|Project)[ \[].*"""))).toSeq
    assert(logicalNodes.nonEmpty, plan)
    logicalNodes.foreach(l => assert(l.contains("*("), s"not codegen'd: $l\n$plan"))
    assert(decoded.count() === 50L)
  }

  test("s9 PQ encode and ADC scoring run inside whole-stage codegen") {
    val q = SparkEntry.queries("s9_ann_pq")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    for (fn <- Seq("unit_vector", "pq_code", "pq_adc_dot")) {
      val lines = plan.linesIterator.filter(_.contains(fn)).toSeq
      assert(lines.nonEmpty, s"$fn not in plan:\n$plan")
      lines.foreach(l => assert(l.contains("*("), s"$fn not codegen'd: $l\n$plan"))
    }
  }

  test("s8 quantization encode runs inside whole-stage codegen (no interpreted HOF)") {
    // the encode pass over the corpus must be a codegen'd projection — the
    // transform/element_at HOF it replaces evaluated interpreted, paying a
    // lambda dispatch per element per row on a full-corpus pass
    val q = SparkEntry.queries("s8_ann_quantized")(spark, "/root/testdata/sf0.001")
    // collect() (NOT count(), which builds a separate QueryExecution for
    // the agg): AQE inserts WholeStageCodegen wrappers only when THIS
    // query execution's stages actually run — and only the "Final Plan"
    // section carries them (the toString appends the pre-AQE Initial Plan)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // normalization, encode, AND decode-corrected scoring all sit in
    // codegen spans (the transform-HOF forms they replaced broke the span)
    for (fn <- Seq("unit_vector", "quantize_code", "dequantize_dot")) {
      val lines = plan.linesIterator.filter(_.contains(fn)).toSeq
      assert(lines.nonEmpty, s"$fn not in plan:\n$plan")
      lines.foreach(l => assert(l.contains("*("), s"$fn not codegen'd: $l\n$plan"))
    }
  }

  test("x34 winnowing runs inside whole-stage codegen; no shuffle below the doc summary") {
    val q = SparkEntry.queries("x34_winnowing")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    for (fn <- Seq("token_hash_array", "winnow_hash")) {
      val lines = plan.linesIterator
        .filter(l => l.contains(fn) && !l.contains("FileScan")).toSeq
      assert(lines.nonEmpty, s"$fn not in plan:\n$plan")
      lines.foreach(l => assert(l.contains("*("), s"$fn not codegen'd: $l\n$plan"))
    }
    // the whole fingerprint pass is a projection: exactly ONE exchange in
    // the plan — the per-doc summary aggregation's partial→final shuffle
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      s"fingerprint pass shuffled more than the summary agg:\n$plan")
  }

  test("d22 simhash fingerprints run inside whole-stage codegen (no 60-wide agg)") {
    val q = SparkEntry.queries("d22_simhash_pairs")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the scan line re-prints the pushed-down isnotnull(simhash_bits(…))
    // DataFilter — only evaluating operators must carry the codegen star
    val lines = plan.linesIterator
      .filter(l => l.contains("simhash_bits") && !l.contains("FileScan")).toSeq
    assert(lines.nonEmpty, s"simhash_bits not in plan:\n$plan")
    lines.foreach(l => assert(l.contains("*("), s"simhash_bits not codegen'd: $l\n$plan"))
    // the fingerprint is a projection: no aggregate may sit below the
    // banding stage's bucket count (exactly one agg pair for `cool`, one
    // distinct pair — never a 60-column hash aggregate over token rows)
    assert(!plan.contains("s_0#"), s"bit-sum agg columns leaked into the plan:\n$plan")
  }

  test("s12 rerank stage joins by broadcast (shortlist + queries), corpus never shuffles") {
    val q = SparkEntry.queries("s12_ann_pq_rerank")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // both stage-2 joins (candidates→vectors, →query vectors) broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    // no sort-merge join anywhere: the corpus side is never sort-shuffled
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("t30 bloom probe is a codegen'd filter feeding a broadcast semi join") {
    val q = SparkEntry.queries("t30_bloom_semi")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the bitmap probe (xxhash64 against the literal word array) must sit
    // in a Filter inside a WSCG span, not in any join operator
    val probeLines = plan.linesIterator.filter(l =>
      l.contains("Filter") && l.contains("xxhash64")).toSeq
    assert(probeLines.nonEmpty, s"bloom probe filter missing:\n$plan")
    probeLines.foreach(l => assert(l.contains("*("), s"probe not codegen'd: $l"))
    // exact confirm joins the (distinct, small) key set by broadcast
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x29/x31 model joins broadcast; the corpus side never sort-shuffles") {
    for (name <- Seq("x29_collocations", "x31_char_lm_score")) {
      val q = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$name:\n$plan")
    }
  }

  test("t32 pagerank reuses the persisted adjacency across rounds") {
    val q = SparkEntry.queries("t32_pagerank")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the rounds consume the persisted adjacency: the executed plan must
    // read through InMemoryTableScan (FileScan lines also appear inside
    // the cached relation's printed build plan, so their count proves
    // nothing — the load-bearing fact is that the cache is on the path)
    assert(plan.contains("InMemoryTableScan"), plan)
  }

  test("t52/t53 graph rounds keep their scale shapes") {
    // t52: no checkpoint (linear lineage) — all 4 rounds sit in ONE plan,
    // every join an equi-join, the persisted adjacency on the path
    val lp = SparkEntry.queries("t52_label_prop")(spark, "/root/testdata/sf0.001")
    lp.collect()
    val lpPlan = lp.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!lpPlan.contains("CartesianProduct"), lpPlan)
    assert(!lpPlan.contains("BroadcastNestedLoopJoin"), lpPlan)
    assert(lpPlan.contains("InMemoryTableScan"), lpPlan)
    // t53: per-round localCheckpoint — the FINAL plan must be the
    // truncated checkpoint scan, not a 2^r-deep join tree (the t42/t43
    // lineage lesson, pinned at the query level)
    val bfs = SparkEntry.queries("t53_bfs_reach")(spark, "/root/testdata/sf0.001")
    bfs.collect()
    val bfsPlan = bfs.queryExecution.executedPlan.toString
    assert(bfsPlan.contains("Scan ExistingRDD"), bfsPlan)
    assert(!bfsPlan.contains("SortMergeJoin") && !bfsPlan.contains("BroadcastHashJoin"),
      bfsPlan)
  }

  test("session additions keep their scale shapes: equi-joins only, broadcast anchors") {
    val dir = "/root/testdata/sf0.001"
    // d38/s25: candidate/verify and vote joins are equi-joins — a
    // cartesian or nested-loop would be the quadratic failure mode
    for (name <- Seq("d38_similar_docs", "s25_knn_confusion")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
    }
    // t54: the max-day anchor joins as a BROADCAST (one metadata row), so
    // the day-count frame never shuffles against it
    val t54 = SparkEntry.queries("t54_decayed_trend")(spark, dir)
    t54.collect()
    val t54Plan = t54.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(t54Plan.contains("BroadcastNestedLoopJoin") || t54Plan.contains("BroadcastHashJoin"),
      t54Plan)
    assert(!t54Plan.contains("SortMergeJoin"), t54Plan)
    // m7: the alignment join carries ONLY the two id columns into the
    // shuffle — no text or embedding payload survives into the join
    val m7 = SparkEntry.queries("m7_alignment_report")(spark, dir)
    val m7Plan = m7.queryExecution.executedPlan.toString
    assert(!m7Plan.contains("text#") && !m7Plan.contains("embedding#"), m7Plan)
  }

  test("per-window top-1 uses a single shuffle pair (agg form, no window sort)") {
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "g1", "1", "10", 1L)
    ).toDF("execute_time", "gtid", "binlog_pos", "single_statement_size",
      "single_statement_affected_rows")
    val plan = TransactionStats.top1PerWindow(events, "transaction_size")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan)
  }

  test("round-4 late additions keep their scale shapes: equi-joins only, no global windows") {
    val dir = "/root/testdata/sf0.001"
    // t40/t42: wedge and peel joins are all equi-joins — a cartesian or
    // broadcast-nested-loop here would be the quadratic failure mode
    for (q <- Seq("t40_triangles", "t42_kcore")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
    // d30: candidate/verify split — equi-joins only, and the pair stage
    // never degenerates to a cross product
    val d30 = SparkEntry.queries("d30_idf_cosine")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!d30.contains("CartesianProduct"), d30)
    assert(!d30.contains("BroadcastNestedLoopJoin"), d30)
    // x37: every window is doc-partitioned (the per-char lead chain and
    // the chunk-index prefix sum both key on doc_id — no global sort).
    // Logical plan, not executedPlan: AQE wraps the physical tree in a
    // non-final AdaptiveSparkPlan whose children collect() can't reach
    val x37lp = SparkEntry.queries("x37_cdc_chunks")(spark, dir).queryExecution.optimizedPlan
    val bare = x37lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty, s"x37 has ${bare.size} partition-less window(s)")
    // b21: latest-per-key is ONE aggregation (SortAggregate — struct
    // buffers aren't hash-aggregable) with a map-side partial before the
    // only exchange; no sort-based window anywhere
    val b21 = SparkEntry.queries("b21_state_replay")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!b21.contains("WindowExec"), b21)
    assert(b21.contains("partial_max"), b21)
    // x36: round-5 two-level form — the dominance window still runs over
    // the distinct-x frame (the per-x aggregate is the persisted input —
    // an InMemoryRelation in the optimized plan) and is now PARTITIONED by
    // the x-bucket, so there is no single-task window even for a
    // continuous x; the boundary pass is a self-join, not a window
    val x36lp = SparkEntry.queries("x36_pareto_frontier")(spark, dir).queryExecution.optimizedPlan
    val x36w = x36lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(x36w.size === 1, s"x36 expected exactly one window, got ${x36w.size}")
    assert(x36w.head.partitionSpec.nonEmpty,
      s"x36 window must be bucket-partitioned:\n${x36w.head}")
  }

  test("this round's additions keep their scale shapes: no pair joins, broadcasts, bounded windows") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Sort => LSort}
    // d32/d33: the duplicated-gram screen is a semi join + per-doc
    // windows — NO cartesian/BNLJ pair stage anywhere
    for (q <- Seq("d32_dup_spans", "d33_span_excision", "s18_embedding_leakage")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
    // d32's merge windows are doc-partitioned, never global
    val d32lp = SparkEntry.queries("d32_dup_spans")(spark, dir).queryExecution.optimizedPlan
    assert(d32lp.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }.isEmpty, "d32 has a partition-less window")
    // x40/x43: the vocabulary reaches the coverage join as a broadcast
    for (q <- Seq("x40_vocab_coverage", "x43_source_drift")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$q vocab join must broadcast: $plan")
    }
    // t48: decile assignment is a projection + hash aggregate — no global
    // Sort over the row frame (the ntile shape this op exists to avoid);
    // TakeOrdered on the tiny threshold frame is fine
    val t48lp = SparkEntry.queries("t48_ltv_deciles")(spark, dir).queryExecution.optimizedPlan
    assert(t48lp.collect { case s: LSort if s.global => s }.isEmpty,
      s"t48 must not global-sort: $t48lp")
    // b22/x45: the prefix scan stays three-level — every window carries a
    // partition spec
    for (q <- Seq("b22_peak_concurrency", "x45_curriculum")) {
      val lp = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      assert(lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty,
        s"$q has a partition-less window")
    }
    // t45: nearest as-of is the union-and-scan — exactly zero Join nodes
    val t45lp = SparkEntry.queries("t45_asof_nearest")(spark, dir).queryExecution.optimizedPlan
    assert(t45lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, s"t45 must be join-free (union-and-scan): $t45lp")
  }

  test("post-inventory additions keep their scale shapes: pps windows bounded, t50 partial dedup, d37 join-free pairs") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Sort => LSort}
    // x48: the prefix scan is the ranged form (round 13) — its one
    // partition-less window runs over the ≤ shuffle-partition-count
    // per-slot totals (a _pslot-keyed aggregate must sit between the
    // window and every leaf), and nothing global-sorts the corpus frame
    def slotBounded(w: LWindow): Boolean = w.child.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
          case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            ar.name == "_pslot"
          case _ => false
        }
      case _ => false
    }
    val x48lp = SparkEntry.queries("x48_pps_sample")(spark, dir).queryExecution.optimizedPlan
    assert(x48lp.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !slotBounded(w) => w }.isEmpty,
      s"x48 has a corpus-feeding partition-less window: $x48lp")
    assert(x48lp.collect { case s: LSort if s.global => s }.isEmpty,
      s"x48 must not global-sort: $x48lp")
    // t50: the distinct plans as Expand + two-phase aggregate — partial
    // (window, user) dedup before the exchange, never raw events through
    val t50 = SparkEntry.queries("t50_sliding_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(t50.contains("Expand"), s"t50 must plan Expand for the distinct: $t50")
    assert(t50.contains("partial"), s"t50 must partial-aggregate before the shuffle: $t50")
    // d37: per-shingle source sets explode from ONE aggregation — no
    // self-join pair stage, no cartesian anywhere
    val d37 = SparkEntry.queries("d37_source_overlap")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!d37.contains("CartesianProduct") && !d37.contains("BroadcastNestedLoopJoin"),
      s"d37 must not pair-join: $d37")
    assert(d37.contains("collect_set"), s"d37 pairs must come from the source-set agg: $d37")
  }

  test("x56 model broadcasts to the scoring join; x57 windows all carry partition specs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    // x56: the corpus-sized scoring pass joins the vocabulary-sized model
    // by broadcast — the corpus never sort-shuffles against it
    val x56 = SparkEntry.queries("x56_dsir_weights")(spark, dir)
    x56.collect()
    val p56 = x56.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p56.contains("BroadcastHashJoin"), s"x56: $p56")
    assert(!p56.contains("SortMergeJoin"), s"x56: $p56")
    // x57/x59: the rank decompositions mean every window is band- or
    // group-partitioned — a partition-less window would be the naive
    // global-rank shape these ops exist to avoid
    for (q <- Seq("x57_ppl_buckets", "x59_quality_length_corr")) {
      val lp = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      assert(lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.isEmpty, s"$q has a partition-less window")
    }
  }

  test("x58 postings serve pushes the literal term IN-list into the index scan") {
    val q = SparkEntry.queries("x58_bm25_served")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the serve touches only the query terms' postings: the IN predicate
    // must reach the parquet reader (with term-sorted buckets, row groups
    // holding no query term skip on min/max stats)
    assert(plan.contains("In(term"), s"x58 must push the term IN-list:\n$plan")
  }

  test("bm25Search's frame queries prune the postings by a left-semi join on term") {
    import org.apache.spark.sql.functions.{array_distinct, col, explode, split}
    import graft.ops.TextOps.Postings
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val t = "postings_joinplan_spec"
    Seq(t, t + "_len").foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    graft.ops.TextOps.materializedPostings(docs, t)
    val qterms = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    for (source <- Seq(Postings.Recompute(docs), Postings.Served(t))) {
      val q = graft.ops.TextOps.bm25Search(source, Right(qterms))
      q.collect()
      // the matched postings are cached; the plan string includes the
      // cached plan, where the semi-join restricts the postings to the
      // distinct query terms (no driver literals)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("LeftSemi") && l.contains("[term")),
        s"$source: the frame path must semi-join the postings on term:\n$plan")
      assert(!plan.contains("In(term"), s"$source: no literal IN-list on the frame path")
    }
    spark.sqlContext.clearCache()
  }

  test("retrieval entries run a pinned number of jobs at sf0.001") {
    // the counts the one BM25 pipeline runs at 4 cores, each with a fresh
    // cache after one warm-up run (which builds the served entries'
    // tables): a job more is a stage the pipeline did not run before
    val dir = "/root/testdata/sf0.001"
    val pinned = Seq("x33_bm25_search" -> 19, "x58_bm25_served" -> 12,
      "x60_retrieval_eval" -> 43, "x64_retrieval_eval_served" -> 35,
      "x67_retrieval_eval_indexed" -> 21, "x70_bm25_compacted" -> 19)
    for ((name, limit) <- pinned) {
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      spark.sqlContext.clearCache()
      val (_, jobs) = jobsRun(SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count())
      spark.sqlContext.clearCache()
      info(s"$name: $jobs jobs")
      assert(jobs <= limit, s"$name ran $jobs jobs (pinned at $limit)")
    }
  }

  test("round-7 additions keep their scale shapes: trained serve exchange-free, " +
      "routed margin broadcasts, gated scan inherits s32's shape") {
    val dir = "/root/testdata/sf0.001"
    // s36: the trained-artifact serve reads the bucket-clustered index with
    // NO exchange on the corpus side — probes and truth are broadcast-sized
    val s36 = SparkEntry.queries("s36_ann_trained_ivf_checked")(spark, dir)
    s36.collect()
    val p36 = s36.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p36.contains("BroadcastHashJoin"), s"s36: $p36")
    assert(!p36.contains("SortMergeJoin"), s"s36: $p36")
    spark.sqlContext.clearCache()
    // s38 resolves to the scan branch here (isotropic fixture): the pair
    // grid is a broadcast nested loop over SQ8 codes — the corpus side
    // must never sort-shuffle
    val s38 = SparkEntry.queries("s38_margin_gated")(spark, dir)
    s38.collect()
    val p38 = s38.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p38.contains("SortMergeJoin"), s"s38: $p38")
    spark.sqlContext.clearCache()
    // x62: each BPE round's pair count is a map-side-combined hash
    // aggregate (partial_sum before the exchange — weighted by histogram
    // multiplicity since round 9); the pin runs on the SAME stage
    // builders the loop executes (bpeInitialHistogram +
    // bpePairCountsWeighted — shared private[graft] helpers, not a copy
    // that could drift)
    val pairCount = graft.ops.TextOps.bpePairCountsWeighted(
      graft.ops.TextOps.bpeInitialHistogram(
        graft.Tables.documents(spark, dir), docMod = 1L, maxChars = 400))
    val p62 = pairCount.queryExecution.executedPlan.toString
    assert(p62.contains("partial_sum") || p62.contains("partial sum"),
      s"x62 pair count must combine map-side:\n$p62")
  }

  test("planguard flags a corpus-side BNLJ build (the x53 hazard class)") {
    // the hazard round 9 found in x53: the corpus-derived per-document
    // frame ends up as the BUILT side of a BroadcastNestedLoopJoin — a
    // corpus-sized broadcast onto every executor at scale. (The literal
    // pre-fix plan's dropped hint leaves the build side to a stats
    // fallback, so this control pins the class DETERMINISTICALLY with an
    // explicit corpus-side hint instead.) If this negative control ever
    // goes green, the guard has rotted, not the hazard.
    val perDoc = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val hazard = Seq(16L, 32L).toDF("min_tokens")
      .join(broadcast(perDoc), col("n_tokens") >= col("min_tokens"), "left")
      .groupBy(col("min_tokens")).agg(count(col("n_tokens")).as("n_docs"))
    val v = graft.plans.PlanGuard.corpusProductViolations(
      hazard.queryExecution.executedPlan)
    assert(v.exists(_.contains("BroadcastNestedLoopJoin")),
      s"guard missed the corpus-side BNLJ build:\n" +
        hazard.queryExecution.executedPlan.toString)
    // and corpus × corpus — planned as CartesianProduct above the
    // broadcast threshold or a corpus-building BNLJ below it (the fixture
    // fits under the threshold); both are the banned product class
    val cart = perDoc.crossJoin(perDoc.select(col("n_tokens").as("m")))
    val vc = graft.plans.PlanGuard.corpusProductViolations(
      cart.queryExecution.executedPlan)
    assert(vc.nonEmpty,
      s"guard missed the corpus product:\n" +
        cart.queryExecution.executedPlan.toString)
    // the single-partition funnel class (round 10): a window with no
    // partitionBy plans `Exchange SinglePartition` over the raw corpus —
    // one task does all the work at scale. If this control goes green,
    // the funnel guard has rotted.
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("n_tokens"))
    val funnel = perDoc.withColumn("rk", row_number().over(wAll))
    val vf = graft.plans.PlanGuard.corpusProductViolations(
      funnel.queryExecution.executedPlan)
    assert(vf.exists(_.contains("SinglePartition")),
      s"guard missed the single-partition funnel:\n" +
        funnel.queryExecution.executedPlan.toString)
    val co1 = perDoc.coalesce(1).withColumn("k", col("n_tokens") + 1)
    val vo = graft.plans.PlanGuard.corpusProductViolations(
      co1.queryExecution.executedPlan)
    assert(vo.exists(_.contains("coalesce(1)")),
      s"guard missed the coalesce(1) funnel:\n" +
        co1.queryExecution.executedPlan.toString)
    // and the allowed look-alikes: a global aggregate and a global limit
    // both plan SinglePartition exchanges whose child is bounded (partial
    // aggregate / local limit) — the guard must NOT flag them
    val agg = perDoc.agg(sum(col("n_tokens")).as("s")).withColumn("k", col("s") + 1)
    assert(graft.plans.PlanGuard.corpusProductViolations(
      agg.queryExecution.executedPlan).isEmpty,
      "guard over-flags the global aggregate's bounded funnel")
    val lim = perDoc.limit(5).withColumn("k", col("n_tokens") + 1)
    assert(graft.plans.PlanGuard.corpusProductViolations(
      lim.queryExecution.executedPlan).isEmpty,
      "guard over-flags the global limit's bounded funnel")
    // the HINTED-broadcast class (round 10, logical layer): an explicit
    // broadcast() hint on a corpus-derived frame forces the build at
    // every scale — stats never get a vote. The filter-of-corpus shape
    // must flag; the aggregate, the literal-IN probe, and the
    // schema-fixed dimension scan are the allowed hint targets.
    val docsSmall = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val hinted = Seq(16L).toDF("k")
      .join(broadcast(docsSmall.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"))), col("k") <= col("doc_id"), "left")
    assert(graft.plans.PlanGuard.hintedBroadcastViolations(
      hinted.queryExecution.analyzed).nonEmpty,
      "guard missed the hinted corpus broadcast")
    val okAgg = Seq(16L).toDF("k").crossJoin(
      broadcast(docsSmall.groupBy(col("source")).agg(count(lit(1)).as("n"))))
    assert(graft.plans.PlanGuard.hintedBroadcastViolations(
      okAgg.queryExecution.analyzed).isEmpty,
      "guard over-flags the hinted aggregate broadcast")
    val okDim = graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .join(broadcast(graft.Tables.nation(spark, "/root/testdata/sf0.001")),
        col("c_nationkey") === col("n_nationkey"))
    assert(graft.plans.PlanGuard.hintedBroadcastViolations(
      okDim.queryExecution.analyzed).isEmpty,
      "guard over-flags the dimension-table broadcast")
    // ...and the window-top-k shortlist (the s12/s16 rerank idiom):
    // |groups|·k rows, bounded under the same metadata-cardinality-groups
    // assumption as the aggregate bound
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_tokens").desc, col("doc_id").asc)
    val okTopK = Seq(1L).toDF("one").crossJoin(broadcast(
      docsSmall.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 5)))
    assert(graft.plans.PlanGuard.hintedBroadcastViolations(
      okTopK.queryExecution.analyzed).isEmpty,
      "guard over-flags the window-top-k shortlist broadcast")
  }

  test("planguard distrusts corpus-id-keyed aggregates as hint bounds (round 11)") {
    // round-10 verdict #2: ANY aggregate counted as a cardinality bound,
    // so a hinted broadcast of a per-document or per-term aggregate —
    // itself corpus-sized — sailed through both guard layers. These
    // controls pin the closed blind spot; if one goes green the distrust
    // has rotted.
    val docsSmall = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val postings = docsSmall
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    def flags(df: org.apache.spark.sql.DataFrame): Seq[String] =
      graft.plans.PlanGuard.hintedBroadcastViolations(df.queryExecution.analyzed)
    // one row per DOCUMENT: corpus-sized despite the aggregate
    val perDoc = Seq(1L).toDF("one").crossJoin(
      broadcast(postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))))
    assert(flags(perDoc).nonEmpty,
      "guard missed the hinted per-doc aggregate broadcast")
    // one row per document, Distinct form
    val distinctIds = Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.select(col("doc_id")).distinct()))
    assert(flags(distinctIds).nonEmpty,
      "guard missed the hinted distinct-doc_id broadcast")
    // one row per distinct TERM: vocabulary-sized (Heaps-law unbounded)
    val vocabDf = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    assert(flags(Seq(1L).toDF("one").crossJoin(broadcast(vocabDf))).nonEmpty,
      "guard missed the hinted vocabulary-aggregate broadcast")
    // ALLOWED: the x33 shape — the corpus-side per-term df frame is
    // unique per term and inner-joins a LITERAL query's distinct terms,
    // so the join emits ≤ |literal terms| rows: a sound hint target
    val qterms = Seq((1L, "alpha"), (1L, "beta"), (2L, "alpha"))
      .toDF("query_id", "term")
    val x33Shape = postings.join(
      broadcast(vocabDf.join(qterms.select(col("term")).distinct(),
        Seq("term"))), Seq("term"))
    assert(flags(x33Shape).isEmpty,
      "guard over-flags the literal-bounded unique-join df frame (x33 shape)")
    // ALLOWED: an id-keyed aggregate whose lineage carries a literal
    // IN-list bound below the aggregate
    val inBounded = Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.filter(col("doc_id").isin(1L, 2L, 3L))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))))
    assert(flags(inBounded).isEmpty,
      "guard over-flags the IN-list-bounded id aggregate")
    // top-k DIRECTION (round-11 ADVICE): rank >= 2 keeps all but the top
    // rows per group — corpus-unbounded — and must NOT count as a bound...
    val wsrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = docsSmall.withColumn("rn", row_number().over(wsrc))
    assert(flags(Seq(1L).toDF("one")
      .crossJoin(broadcast(ranked.filter(col("rn") >= 2)))).nonEmpty,
      "guard missed the keep-all-but-top-k hinted broadcast")
    // ...while the mirrored keep-top form (literal on the left) stays allowed
    assert(flags(Seq(1L).toDF("one")
      .crossJoin(broadcast(ranked.filter(lit(5) >= col("rn"))))).isEmpty,
      "guard over-flags the mirrored k >= rank top-k filter")
    // dimension-scan EXACT stem (round-11 ADVICE): a corpus table whose
    // directory merely starts with 'nation' is not a dimension
    val fakeDir = tmpDir("pg_dim") + "/nationwide.parquet"
    docsSmall.limit(50).write.mode("overwrite").parquet(fakeDir)
    val fake = spark.read.parquet(fakeDir)
    assert(flags(Seq(1L).toDF("one").crossJoin(broadcast(fake))).nonEmpty,
      "guard exempted a non-dimension table by name prefix")
    // PROVENANCE distrust (round-11 verdict #4 — the name list leaks):
    // an exploded-token aggregate is vocabulary-sized WHATEVER its alias
    // — the x29 w1/w2 shape that dodged the round-11 name list and was
    // caught only by hand audit. Must flag with NO id-like name anywhere.
    val toks = docsSmall.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w1"))
    assert(flags(Seq(1L).toDF("one").crossJoin(
      broadcast(toks.groupBy(col("w1")).agg(count(lit(1)).as("n"))))).nonEmpty,
      "guard missed the exploded-token vocabulary aggregate (name-independent)")
    // ...and a renamed id can no longer launder: the origin column name
    // is what the provenance trace matches
    assert(flags(Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.select(col("doc_id").as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))))).nonEmpty,
      "guard missed the renamed corpus-id aggregate")
    // ...while posexplode's POSITION output stays a trusted key (bounded
    // by the array width — the d-row dimension-stats idiom)
    val dims = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(count(lit(1)).as("n"))
    assert(flags(Seq(1L).toDF("one").crossJoin(broadcast(dims))).isEmpty,
      "guard over-flags the posexplode-index dimension-stats aggregate")
    // SCALAR-COMPOSITE classification (round-13, closing what was the
    // documented gap): floor(doc_id / 1000) is corpus/1000-sized — a
    // scalar derivation of a distrusted origin that is NOT bounded-class
    // bucketing — so it must no longer launder the corpus scan into a
    // "bounded" hint target…
    val gap = Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.groupBy(floor(col("doc_id") / 1000).as("blk"))
        .agg(count(lit(1)).as("n"))))
    assert(flags(gap).nonEmpty,
      "guard missed the floor(doc_id/1000) composite-key laundering shape")
    // …including through a Project alias (select the composite FIRST, then
    // group on the clean-named column — the projection-laundering arm)
    val gapProjected = Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.select(floor(col("doc_id") / 1000).as("blk"))
        .groupBy(col("blk")).agg(count(lit(1)).as("n"))))
    assert(flags(gapProjected).nonEmpty,
      "guard missed the Project-aliased composite-key laundering shape")
    // …while the fleet's genuinely-bounded bucketing idioms stay green:
    // pmod-by-literal over the very same distrusted origin has ≤ 32
    // values regardless of corpus size — the canonical hash/band grouping
    val pmodOk = Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.groupBy(pmod(col("doc_id"), lit(32)).as("blk"))
        .agg(count(lit(1)).as("n"))))
    assert(flags(pmodOk).isEmpty,
      "guard over-flags the pmod-by-literal bounded bucketing idiom")
    // …compositions of bounded pieces stay green too (pmod(hash, lit) —
    // the salted/banded grouping shape)
    val hashModOk = Seq(1L).toDF("one").crossJoin(
      broadcast(docsSmall.groupBy(pmod(xxhash64(col("doc_id")), lit(16)).as("b"))
        .agg(count(lit(1)).as("n"))))
    assert(flags(hashModOk).isEmpty,
      "guard over-flags the pmod(hash, literal) banded grouping idiom")
    // …bounded-ELEMENT generators stay green (round 13): char bigrams
    // from split-by-'' have a charset-bounded domain however much text
    // feeds them — the x31/x57 char-LM model shape — while the exploded
    // WORD-token control above (split by ' ') keeps flagging
    val chars = docsSmall.select(col("doc_id"),
      explode(split(col("text"), "")).as("ch"))
    assert(flags(Seq(1L).toDF("one").crossJoin(
      broadcast(chars.groupBy(col("ch")).agg(count(lit(1)).as("n"))))).isEmpty,
      "guard over-flags the charset-bounded split-by-'' model aggregate")
    // …literal-struct generators too: the b31 count-min idiom (explode of
    // per-hash structs whose bucket is %-by-literal)
    val cmRows = docsSmall.select(col("doc_id"),
      explode(array((0 until 2).map(r => struct(lit(r).as("r"),
        pmod(col("doc_id") * lit(1299709) + lit(104729), lit(256)).as("bucket"))): _*))
        .as("rb"))
      .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    assert(flags(Seq(1L).toDF("one").crossJoin(
      broadcast(cmRows.groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("n"))))).isEmpty,
      "guard over-flags the literal-struct count-min sketch aggregate")
    // …and a GLOBAL LIMIT is a lineage trust boundary (round 13): a key
    // drawn from a top-K frame has ≤ K distinct values whatever its
    // deeper lineage — the x56 vocabulary idiom…
    val toks2 = docsSmall.select(explode(split(col("text"), " ")).as("w"))
    val topK = toks2.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(50)
      .select(col("w").as("vw"))
    val keyedOnTopK = toks2.join(broadcast(topK), col("w") === col("vw"), "left")
      .groupBy(coalesce(col("vw"), lit("")).as("fw")).agg(count(lit(1)).as("n"))
    assert(flags(Seq(1L).toDF("one").crossJoin(broadcast(keyedOnTopK))).isEmpty,
      "guard over-flags the limit-bounded vocabulary model aggregate")
    // …while keying the same model on the STREAM side's token (no limit
    // in its lineage) still flags — the boundary is the limit, not the join
    val keyedOnStream = toks2.join(broadcast(topK), col("w") === col("vw"), "left")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    assert(flags(Seq(1L).toDF("one").crossJoin(broadcast(keyedOnStream))).nonEmpty,
      "guard missed the stream-side vocabulary key next to a limit join")
    // …and the PHYSICAL layer carries the same composite classification
    // (a stats-chosen BNLJ build is decided physically, where the same
    // floor-bucket shape would otherwise still launder)
    val perBlk = docsSmall.groupBy(floor(col("doc_id") / 1000).as("blk"))
      .agg(count(lit(1)).as("n"))
    val bnljComposite = Seq(16L).toDF("k")
      .join(broadcast(perBlk), col("k") <= col("n"), "left")
    assert(graft.plans.PlanGuard.corpusProductViolations(
      bnljComposite.queryExecution.executedPlan)
        .exists(_.contains("BroadcastNestedLoopJoin")),
      "physical walk missed the composite-key aggregate BNLJ build:\n" +
        bnljComposite.queryExecution.executedPlan.toString)
    // the PHYSICAL layer carries the same distrust: a BNLJ whose build
    // side is a per-doc aggregate (one row per document — corpus-sized)
    // must flag even though an aggregate sits on the build path; unlike
    // a stats-chosen hash join, a BNLJ has no safe fallback shape, so
    // stats cannot self-correct it at scale
    val perDocLens = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val bnljHazard = Seq(16L).toDF("k")
      .join(broadcast(perDocLens), col("k") <= col("len"), "left")
    assert(graft.plans.PlanGuard.corpusProductViolations(
      bnljHazard.queryExecution.executedPlan)
        .exists(_.contains("BroadcastNestedLoopJoin")),
      "physical walk missed the id-keyed-aggregate BNLJ build:\n" +
        bnljHazard.queryExecution.executedPlan.toString)
    // ...while a metadata-keyed aggregate build stays a valid BNLJ bound
    val perSource = docsSmall.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val bnljOk = Seq(16L).toDF("k")
      .join(broadcast(perSource), col("k") <= col("n"), "left")
    assert(graft.plans.PlanGuard.corpusProductViolations(
      bnljOk.queryExecution.executedPlan).isEmpty,
      "physical walk over-flags the metadata-keyed aggregate BNLJ build")
    // PHYSICAL provenance (round 12): a stats-chosen product build is
    // decided in the physical plan, where a renamed id or an exploded-
    // token alias would dodge the name check just as it dodged the
    // logical one — both must flag without an id-like surface name
    val renamedLens = docsSmall.select(col("doc_id").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val bnljRenamed = Seq(16L).toDF("k")
      .join(broadcast(renamedLens), col("k") <= col("n"), "left")
    assert(graft.plans.PlanGuard.corpusProductViolations(
      bnljRenamed.queryExecution.executedPlan)
        .exists(_.contains("BroadcastNestedLoopJoin")),
      "physical walk missed the renamed-id aggregate BNLJ build:\n" +
        bnljRenamed.queryExecution.executedPlan.toString)
    val w1Lens = docsSmall
      .select(explode(split(col("text"), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("n"))
    val bnljW1 = Seq(16L).toDF("k")
      .join(broadcast(w1Lens), col("k") <= col("n"), "left")
    assert(graft.plans.PlanGuard.corpusProductViolations(
      bnljW1.queryExecution.executedPlan)
        .exists(_.contains("BroadcastNestedLoopJoin")),
      "physical walk missed the exploded-token aggregate BNLJ build:\n" +
        bnljW1.queryExecution.executedPlan.toString)
    // exprId-REMAPPING wrappers: a cached renamed projection breaks exprId
    // continuity (InMemoryTableScan re-ids its output), so the physical
    // trace must continue into the cached plan via the RELATION's full
    // output — the id column is deliberately the SECOND cached column and
    // the scan prunes to it alone, so a scan-positional remap would trace
    // the wrong column (the round-12 review's false-negative scenario)
    val cachedRenamed = docsSmall
      .select(col("source"), col("doc_id").as("d")).persist()
    try {
      cachedRenamed.count() // materialize so the scan plans as InMemoryTableScan
      val bnljCached = Seq(16L).toDF("k")
        .join(broadcast(cachedRenamed.select(col("d"))
            .groupBy(col("d")).agg(count(lit(1)).as("n"))),
          col("k") <= col("n"), "left")
      assert(graft.plans.PlanGuard.corpusProductViolations(
        bnljCached.queryExecution.executedPlan)
          .exists(_.contains("BroadcastNestedLoopJoin")),
        "physical walk lost the renamed-id lineage at the cache boundary:\n" +
          bnljCached.queryExecution.executedPlan.toString)
      // ...and the mirrored over-flag check: the cached METADATA column
      // (position 0) keyed aggregate must stay a valid build bound
      val bnljCachedOk = Seq(16L).toDF("k")
        .join(broadcast(cachedRenamed.select(col("source"))
            .groupBy(col("source")).agg(count(lit(1)).as("n"))),
          col("k") <= col("n"), "left")
      assert(graft.plans.PlanGuard.corpusProductViolations(
        bnljCachedOk.queryExecution.executedPlan).isEmpty,
        "physical walk over-flags the cached metadata-keyed aggregate build")
    } finally { cachedRenamed.unpersist(); () }
    // ...and through a UNION (positional across branches)
    val unioned = docsSmall.select(col("doc_id").as("d"))
      .unionByName(docsSmall.select((col("doc_id") + 1000000L).as("d")))
    val bnljUnion = Seq(16L).toDF("k")
      .join(broadcast(unioned.groupBy(col("d")).agg(count(lit(1)).as("n"))),
        col("k") <= col("n"), "left")
    assert(graft.plans.PlanGuard.corpusProductViolations(
      bnljUnion.queryExecution.executedPlan)
        .exists(_.contains("BroadcastNestedLoopJoin")),
      "physical walk lost the renamed-id lineage through the union:\n" +
        bnljUnion.queryExecution.executedPlan.toString)
  }

  test("guardedCheckpoint walks the pre-checkpoint plan; raw checkpoints stay blind (the margin-tail lesson)") {
    // round-11 verdict #2: a localCheckpoint truncates the plan to a
    // LogicalRDD leaf, so margin mining's train-corpus-sized forced
    // broadcast sat BEHIND its result checkpoint for three rounds,
    // invisible to the per-query gate and the fleet sweep. The guarded
    // form must flag the hazard BEFORE checkpointing erases it.
    val docsSmall = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val perDoc = docsSmall.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val hidden = Seq(1L).toDF("one").crossJoin(broadcast(perDoc))
    val e = intercept[IllegalStateException] {
      graft.plans.PlanGuard.guardedCheckpoint("blindspot_control", hidden)
    }
    assert(e.getMessage.contains("corpus-product hazard"),
      s"guardedCheckpoint must run the full two-layer gate, got: ${e.getMessage}")
    // the raw form DOES hide it — this is the documented blind spot the
    // source ban below exists for, pinned so the rationale stays true
    val leaf = hidden.localCheckpoint(true)
    assert(graft.plans.PlanGuard.hintedBroadcastViolations(
      leaf.queryExecution.analyzed).isEmpty,
      "a checkpoint leaf now exposes its pre-checkpoint hints — " +
        "revisit whether the source ban is still needed")
    // ...and a clean frame passes through with its rows intact
    val ok = graft.plans.PlanGuard.guardedCheckpoint("clean_control",
      docsSmall.limit(3))
    assert(ok.count() === 3)
  }

  test("ops/ and operators/ sources checkpoint only through guardedCheckpoint (source ban)") {
    // the machine-discipline half of round-11 verdict #2: 25 call sites
    // were converted; a NEW raw localCheckpoint would re-open the gate's
    // blind spot, so the ban is enforced on source text. plans/PlanGuard
    // itself (the one legitimate raw call) is outside the banned roots.
    // Lazy checkpoints and block releases are banned too: they exist only
    // inside the loop-frame owner (PlanGuard.CheckpointChain), which loops
    // open with its fixed schedule — `new CheckpointChain`, no arguments.
    import scala.jdk.CollectionConverters._
    val banned = Seq(".localCheckpoint(", "guardedCheckpointLazy",
      "CheckpointRelease", "CheckpointChain(")
    val roots = Seq("src/main/scala/graft/ops", "src/main/scala/graft/operators")
    val offenders = roots.flatMap { r =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(r)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readString(p).linesIterator.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) &&
                !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
    }
    assert(offenders.isEmpty,
      s"raw localCheckpoint hides plans from the gate, and lazy checkpoints " +
        s"and releases belong to PlanGuard.CheckpointChain — use " +
        s"PlanGuard.guardedCheckpoint or the loop's CheckpointChain:\n" +
        offenders.mkString("\n"))
  }

  test("ops/Vectors.scala defines one top-k method: the AnnSpec pipeline (source check)") {
    // every similarity-search variant is an AnnSpec value run by Vectors.topK;
    // a new *TopK* method there would re-spell the pipeline's stages
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/ops/Vectors.scala"))
    val defs = "def (\\w*[Tt]opK\\w*)".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(defs.filterNot(_ == "topKPerGroup") === Seq("topK"), defs)
  }

  test("ops/Dedup.scala defines one pair method: the PairSpec pipeline (source check)") {
    // every near-duplicate pair variant is a PairSpec value run by
    // Dedup.pairs; a new *Pairs* method there would re-spell its stages
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/ops/Dedup.scala"))
    val defs = "def (\\w*[Pp]airs\\w*)".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(defs === Seq("pairs"), defs)
  }

  test("ops/TextOps.scala defines one BM25 search and one retrieval eval (source check)") {
    // every ranking form is a Postings source and a query form run by
    // bm25Search; a new bm25*/retrievalAgreement* method would re-spell it
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/ops/TextOps.scala"))
    def defs(prefix: String) = s"def ($prefix\\w*)".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(defs("bm25") === Seq("bm25Search"))
    assert(defs("retrievalAgreement") === Seq("retrievalAgreement"))
  }

  test("stream guard flags a hinted stream-static corpus join; the clean twin passes") {
    // round-11 verdict #3: streaming plans were guard-blind — the hinted
    // stream-static join in streamDupFlags was found only by review. The
    // guard must see through the micro-batch machinery to the hint.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val docsSmall = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"))
    def run(hint: Boolean): Seq[String] = {
      val ms = MemoryStream[Long]
      val static = if (hint) broadcast(docsSmall) else docsSmall
      val q = ms.toDF().toDF("doc_id")
        .join(static, Seq("doc_id"), "left")
        .writeStream.format("memory")
        .queryName(s"pg_stream_${if (hint) "bad" else "ok"}")
        .outputMode(OutputMode.Append).start()
      ms.addData(1L, 2L)
      q.drainGuarded()
      val v = org.apache.spark.sql.graft.StreamPlanGuard.violations(q)
      q.stop()
      v
    }
    assert(run(hint = true).nonEmpty,
      "stream guard missed the hinted stream-static corpus broadcast")
    assert(run(hint = false).isEmpty,
      "stream guard over-flags the stats-planned stream-static join")
  }

  test("stream guard accumulates per-batch history: an early batch's hazard " +
      "survives later batches (round-12 verdict #2)") {
    // Spark retains only the LAST IncrementalExecution, so the old
    // last-batch walk let a hazard whose plan shape existed only in an
    // earlier batch escape. The accumulator records each batch as it is
    // sampled; this pins that (a) every drained batch lands in the record
    // under its own batch id, and (b) the assert surface reads the WHOLE
    // history — if it read only the last plan, the batch-0 entry below
    // could not exist after batch 1 ran.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val docsSmall = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"))
    val ms = MemoryStream[Long]
    val q = ms.toDF().toDF("doc_id")
      .join(broadcast(docsSmall), Seq("doc_id"), "left")
      .writeStream.format("memory").queryName("pg_stream_accum")
      .outputMode(OutputMode.Append).start()
    ms.addData(1L)
    q.drainGuarded() // batch 0 sampled while it is still the last execution
    ms.addData(2L)
    q.drainGuarded() // batch 1 replaces lastExecution — batch 0 is history
    val acc = TestStreamGuard.acc
    val walked = acc.walkedBatches(q)
    val v = acc.accumulatedViolations(q)
    q.stop()
    assert(walked.contains(0L) && walked.contains(1L),
      s"drain points must walk each batch deterministically, walked: $walked")
    assert(v.exists(_.startsWith("batch 0:")) && v.exists(_.startsWith("batch 1:")),
      s"accumulated assert must carry EVERY batch's hazards, got:\n  ${v.mkString("\n  ")}")
    // and a never-drained query still refuses to pass vacuously
    val ms2 = MemoryStream[Long]
    val q2 = ms2.toDF().toDF("doc_id")
      .writeStream.format("memory").queryName("pg_stream_accum_empty")
      .outputMode(OutputMode.Append).start()
    val v2 = acc.accumulatedViolations(q2)
    q2.stop()
    assert(v2.exists(_.contains("no micro-batch has executed")),
      s"never-run stream must report, not silently pass: $v2")
  }

  test("fleet sweep: no query plans a corpus-unbounded BNLJ build, cartesian side, or single-partition funnel") {
    // round-9 verdict #2: x53's corpus-sized BroadcastNestedLoopJoin build
    // hid for three rounds because every plan assertion looked at ONE
    // query — this walks ALL registry plans (initial physical plan,
    // descending through AQE wrappers and cached relations) and fails on
    // the CLASS: a BNLJ whose build side, or a cartesian whose either
    // side, descends from a corpus-scale scan with no cardinality bound
    // on the way up — plus, since round 10, any SinglePartition shuffle or
    // coalesce(1) funneling a corpus-unbounded child (the Window-without-
    // partitionBy hazard). The pre-fix x53 fails this sweep; the streamed-
    // corpus/broadcast-cutoffs rewrite passes. Verify applies the same
    // assertion per query, so the driver's sf0.01 gate enforces it too.
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val vs =
        try {
          val qe = fn(spark, dir).queryExecution
          graft.plans.PlanGuard.corpusProductViolations(qe.executedPlan) ++
            graft.plans.PlanGuard.hintedBroadcastViolations(qe.analyzed)
        } catch { case e: Throwable =>
          Seq(s"plan construction failed: ${e.getMessage}") }
      spark.sqlContext.clearCache() // drop per-query persists, as Verify does
      vs.map(v => s"$name: $v")
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }
}
