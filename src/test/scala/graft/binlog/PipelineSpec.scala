package graft.binlog

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkSpec, Tables}

/** End-to-end: the reference's two entry points chained on the real test
  * data — ingest (batch replay) → MV read path → windowed compute with
  * idempotent re-run (SURVEY.md §3.1–§3.3).
  */
class PipelineSpec extends SparkSpec {

  private val now = Timestamp.valueOf("2024-12-31 00:00:00")
  private val fixture = "/root/testdata/sf0.001"

  /** A fresh sf0.001 layout with every closed window computed. */
  private def computedLayout(name: String): Pipeline.Layout = {
    val layout = Pipeline.Layout(tmpDir(name))
    Pipeline.runIngestBatch(spark, Tables.events(spark, fixture), layout)
    assert(Pipeline.runCompute(spark, layout, now) > 0)
    layout
  }

  /** Appends one late event at `at`: a one-statement transaction whose size
    * and affected rows beat every fixture transaction.
    */
  private def appendLateEvent(layout: Pipeline.Layout, at: Timestamp, gtid: String): Unit = {
    val late = spark.read.parquet(layout.eventTable).drop("day").limit(1)
      .withColumn("execute_time", lit(at))
      .withColumn("gtid", lit(gtid))
      .withColumn("single_statement_size", lit("999999999"))
      .withColumn("single_statement_affected_rows", lit(999999L))
    val rows = java.util.Arrays.asList(late.collect(): _*)
    Maintenance.writeEvents(spark.createDataFrame(rows, late.schema), layout.eventTable)
  }

  private def statRows(layout: Pipeline.Layout): Map[String, Set[Row]] =
    TransactionStats.metrics.map(m =>
      m -> spark.read.parquet(layout.statTable(m)).collect().toSet).toMap

  /** Every file under the three stats tables, with its length. */
  private def statFiles(layout: Pipeline.Layout): Set[(String, Long)] =
    TransactionStats.metrics.flatMap { m =>
      new java.io.File(layout.statTable(m)).listFiles().toSeq.map(f => f.getPath -> f.length)
    }.toSet

  test("ingest → MVs → compute → idempotent re-run") {
    val layout = Pipeline.Layout(tmpDir("pipeline"))
    val raw = Tables.events(spark, "/root/testdata/sf0.001")

    Pipeline.runIngestBatch(spark, raw, layout)

    // event table: day-partitioned, 'error' rows dropped (F1)
    val events = spark.read.parquet(layout.eventTable)
    val expected = raw.filter(col("event_type") =!= "error").count()
    assert(events.count() === expected)
    assert(new java.io.File(layout.eventTable).listFiles().exists(_.getName.startsWith("day=")))

    // MV read path equals direct aggregation over the event table
    val mv = Pipeline.readDailyCounts(spark, layout)
      .orderBy("day", "event_type").collect()
    val direct = DailyCounts.dailyEventCounts(events)
      .orderBy("day", "event_type").collect()
    assert(mv.toSeq === direct.toSeq)

    // compute: all closed windows, three metrics
    val now = Timestamp.valueOf("2024-12-31 00:00:00")
    val written = Pipeline.runCompute(spark, layout, now)
    assert(written > 0)
    val sizeStats = spark.read.parquet(layout.statTable("transaction_size"))
    assert(sizeStats.count() > 0)
    // schema parity with the reference result tables (README.md:268-281)
    assert(sizeStats.columns.sorted === Array("end_time", "gtid", "interval",
      "transaction_affected_rows", "transaction_size", "transaction_spend_time"))
    // one winner row per window
    assert(sizeStats.groupBy("end_time").count().filter(col("count") > 1).isEmpty)

    // W5: a second run writes nothing new
    assert(Pipeline.runCompute(spark, layout, now) === 0)

    // a later `now` only appends windows that closed since — none here, the
    // data ends long before
    assert(Pipeline.runCompute(spark, layout,
      Timestamp.valueOf("2025-06-30 00:00:00")) === 0)
  }

  test("compute shares one stats pass: top-1 from cached stats re-shuffles only the group rows") {
    val raw = Tables.events(spark, "/root/testdata/sf0.001")
    val shaped = BinlogEvents.shape(raw.filter(col("event_type") =!= "error"))
    val perWin = TransactionStats.perWindow(shaped).persist()
    try {
      perWin.count() // materialize the cache
      val plan = TransactionStats.top1PerWindowFromStats(perWin, "transaction_size")
        .queryExecution.executedPlan.toString
      // reads the cached stats (no event re-scan), one exchange for the
      // per-window regroup — the event-table agg exchange is NOT re-run.
      // (Everything under InMemoryRelation is the cache's *recorded* build
      // plan, not re-executed work — assert on the live part above it.)
      assert(plan.contains("InMemoryTableScan"), plan)
      val live = plan.substring(0, plan.indexOf("InMemoryRelation"))
      assert("Exchange ".r.findAllIn(live).size === 1, plan)
      assert(!live.contains("FileScan"), plan)
      // and the shared-pass result equals the direct per-metric computation
      val shared = TransactionStats.top1PerWindowFromStats(perWin, "transaction_size")
        .orderBy("end_time").collect()
      val direct = TransactionStats.top1PerWindow(shaped, "transaction_size")
        .orderBy("end_time").collect()
      assert(shared.toSeq === direct.toSeq)
    } finally { perWin.unpersist(); () }
  }

  test("W7 fan-out: same compute over multiple cluster prefixes") {
    val base = tmpDir("pipeline_multi")
    val raw = Tables.events(spark, "/root/testdata/sf0.001")
    val clusters = Seq("cluster1", "cluster2")
    clusters.foreach { c =>
      Pipeline.runIngestBatch(spark, raw, Pipeline.Layout(s"$base/$c"))
    }
    val written = Pipeline.runComputeMulti(spark, base, clusters,
      Timestamp.valueOf("2024-12-31 00:00:00"))
    assert(written.keySet === clusters.toSet)
    assert(written.values.forall(_ > 0))
    // like-named tables per cluster (intent, not the reference's swap bug)
    clusters.foreach { c =>
      assert(spark.read.parquet(s"$base/$c/stats_transaction_size").count() > 0)
      assert(spark.read.parquet(s"$base/$c/stats_transaction_spend_time").count() > 0)
    }
  }

  test("streaming ingest variant produces the same event table as batch") {
    val layoutS = Pipeline.Layout(tmpDir("pipeline_s"))
    val raw = Tables.events(spark, "/root/testdata/sf0.001")
    // drive the streaming path with a file-replay source over a parquet copy
    val srcDir = tmpDir("raw_copy")
    raw.write.mode("overwrite").parquet(srcDir)
    val stream = graft.sources.BinlogSources.replay(spark, srcDir, raw.schema,
      maxFilesPerTrigger = 1)
    Pipeline.runIngest(spark, stream, layoutS)
    val streamed = spark.read.parquet(layoutS.eventTable)
      .orderBy("binlog_pos").select("binlog_pos", "event_type", "gtid").collect()

    val layoutB = Pipeline.Layout(tmpDir("pipeline_b"))
    Pipeline.runIngestBatch(spark, raw, layoutB)
    val batched = spark.read.parquet(layoutB.eventTable)
      .orderBy("binlog_pos").select("binlog_pos", "event_type", "gtid").collect()

    assert(streamed.toSeq === batched.toSeq)

    // and the streaming MV partials re-sum to the same daily counts
    val a = Pipeline.readDailyCounts(spark, layoutS).orderBy("day", "event_type").collect()
    val b = Pipeline.readDailyCounts(spark, layoutB).orderBy("day", "event_type").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("compute repairs a window missing from one stats table only") {
    val layout = computedLayout("pipeline_repair")
    val spendPath = layout.statTable("transaction_spend_time")
    val before = statRows(layout)
    val dropped = before("transaction_spend_time").minBy(_.getAs[Timestamp]("end_time").getTime)
    val kept = spark.createDataFrame(
      java.util.Arrays.asList((before("transaction_spend_time") - dropped).toSeq: _*),
      Schemas.windowTopStat)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(spendPath))
    kept.write.parquet(spendPath)

    assert(Pipeline.runCompute(spark, layout, now) === 1)
    assert(statRows(layout) === before)
  }

  test("a late event in an already-written window does not rewrite it") {
    val layout = computedLayout("pipeline_late_written")
    val before = statRows(layout)
    val window = before("transaction_size").head.getAs[Timestamp]("end_time")
    appendLateEvent(layout, new Timestamp(window.getTime - 1000), "late-gtid")
    assert(Pipeline.runCompute(spark, layout, now) === 0)
    assert(statRows(layout) === before)
  }

  test("a late event in a closed window that had no events is computed on the next run") {
    val layout = computedLayout("pipeline_late_empty")
    val before = statRows(layout)
    val end = Timestamp.valueOf("2024-02-15 12:05:00")
    assert(before.values.flatten.forall(_.getAs[Timestamp]("end_time") != end))
    appendLateEvent(layout, Timestamp.valueOf("2024-02-15 12:02:00"), "late-gtid")
    assert(Pipeline.runCompute(spark, layout, now) === 3)
    val after = statRows(layout)
    TransactionStats.metrics.foreach { m =>
      val added = after(m) -- before(m)
      assert(added.map(r => r.getAs[Timestamp]("end_time") -> r.getAs[String]("gtid")) ===
        Set(end -> "late-gtid"), m)
      assert(after(m) -- added === before(m), m)
    }
  }

  test("a run with nothing new leaves every stats table's files as they were") {
    val layout = computedLayout("pipeline_noop")
    val files = statFiles(layout)
    assert(Pipeline.runCompute(spark, layout, now) === 0)
    assert(statFiles(layout) === files)
  }

  test("an unreadable stats table fails compute loudly and appends nothing") {
    val layout = Pipeline.Layout(tmpDir("pipeline_corrupt"))
    Pipeline.runIngestBatch(spark, Tables.events(spark, fixture), layout)
    val sizeTable = new java.io.File(layout.statTable("transaction_size"))
    sizeTable.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(sizeTable, "part-00000-corrupt.parquet").toPath, "not parquet")
    intercept[Exception](Pipeline.runCompute(spark, layout, now))
    assert(sizeTable.list().toSeq === Seq("part-00000-corrupt.parquet"))
    TransactionStats.metrics.filter(_ != "transaction_size").foreach { m =>
      assert(!new java.io.File(layout.statTable(m)).exists(), m)
    }
  }

  test("compute is one query: a tick after one new batch runs at most 8 jobs and one event scan") {
    val layout = computedLayout("pipeline_shape")
    appendLateEvent(layout, Timestamp.valueOf("2024-02-15 12:02:00"), "late-gtid")
    val sc = spark.sparkContext
    val eventScans = new java.util.concurrent.atomic.AtomicInteger()
    val eventRoot = new org.apache.hadoop.fs.Path(layout.eventTable).toUri.getPath
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        foreachNode(qe.executedPlan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toUri.getPath == eventRoot) =>
            eventScans.incrementAndGet(); ()
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val persistedBefore = sc.getPersistentRDDs.keySet.toSet
    spark.listenerManager.register(queries)
    val (written, jobs) = try jobsRun(Pipeline.runCompute(spark, layout, now))
      finally spark.listenerManager.unregister(queries)
    info(s"jobs: $jobs")
    assert(written === 3)
    assert(jobs <= 8, s"$jobs jobs")
    assert(eventScans.get() === 1)
    assert(sc.getPersistentRDDs.keySet.toSet -- persistedBefore === Set.empty)
  }
}
