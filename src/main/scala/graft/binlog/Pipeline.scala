package graft.binlog

import java.sql.Timestamp

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.PlanGuard
import graft.streaming.{StreamingIngest, StreamingMVs}

/** The reference's two entry points, end-to-end (SURVEY.md §3.1/§3.2):
  *
  *  - [[Pipeline.runIngest]] ≙ `python mon_mysql_dml.py` — continuous
  *    ingestion: source → decode → flatten → filter → project → partitioned
  *    event table, with the MV partials maintained on the same stream
  *    (ClickHouse's INSERT-triggered MVs, §3.3).
  *  - [[Pipeline.runCompute]] ≙ `python compute_transaction_info.py` — the
  *    windowed transaction-stats job: instead of the reference's
  *    one-window-per-loop-iteration with a hand-rolled watermark, one batch
  *    pass computes every *closed* window and appends the three top-1 result
  *    tables idempotently (re-running never duplicates — W5/W6).
  *
  * A user of the reference swaps `mon_mysql_dml.py` for `IngestMain` and
  * `compute_transaction_info.py` for `ComputeMain`; the result tables have
  * the reference schema (`README.md:268-281`).
  */
object Pipeline {

  final case class Layout(base: String) {
    val eventTable: String = s"$base/binlog_events"
    val mvPartials: String = s"$base/mv_daily_counts"
    def statTable(metric: String): String = s"$base/stats_$metric"
    val checkpointIngest: String = s"$base/_ckpt_ingest"
    val checkpointMv: String = s"$base/_ckpt_mv"
  }

  /** Streaming ingestion + MV maintenance from a raw events-schema stream.
    * Runs both queries to completion of available data (AvailableNow).
    */
  def runIngest(spark: SparkSession, raw: DataFrame, layout: Layout,
      beginValue: String = "error"): Unit = {
    val shaped = StreamingIngest.transform(raw, Ingest.jsonPropsDecoder, "props", beginValue)
    val q1 = StreamingIngest.writer(shaped, layout.eventTable, layout.checkpointIngest).start()
    val q2 = StreamingMVs
      .partialsWriter(shaped.select(col("execute_time"), col("event_type")),
        layout.mvPartials, layout.checkpointMv)
      .start()
    q1.awaitTermination()
    q2.awaitTermination()
  }

  /** Batch replay variant of ingestion (S4 — deterministic backfill). */
  def runIngestBatch(spark: SparkSession, raw: DataFrame, layout: Layout,
      beginValue: String = "error"): Unit = {
    val shaped = Ingest.projectRow(
      Ingest.dropTransactionBegin(
        Ingest.decodeAndFlatten(raw, Ingest.jsonPropsDecoder, "props"), beginValue))
    Maintenance.writeEvents(shaped, layout.eventTable)
    DailyCounts
      .dailyEventCounts(shaped)
      .withColumn("batch_id", lit(0L))
      .write.mode("append").partitionBy("day").parquet(layout.mvPartials)
  }

  /** The periodic compute job over the ingested event table: all windows
    * closed as of `now`, three metrics, idempotent append per
    * (window, metric). A window is written to `stats_<metric>` iff it is
    * closed, has events, and is not in that table yet — so a table missing
    * a window gets it back, a late event in an already-written window
    * changes nothing, and a late event in a window that closed empty gets
    * it computed. Only a missing table counts as "nothing written yet";
    * any other read failure propagates before anything is appended.
    * Returns the number of newly written (window, metric) rows.
    */
  def runCompute(spark: SparkSession, layout: Layout, now: Timestamp,
      windowSec: Int = 300): Int = {
    // Job shape: one query plan — event scan → per-(window, gtid) agg →
    // one regroup ranking all three metrics → anti-join on (metric,
    // end_time) against the written rows — materialized once by an eager
    // checkpoint whose run also fills the per-metric row counts (an
    // observation on the checkpointed plan, no job of its own), then one
    // write per non-empty metric (declared schemas, so no inference jobs).
    // A checkpoint, not a persist: appending to stats_<m> makes the
    // CacheManager recache every cached plan reading stats_<m>, which
    // would re-run the event scan before each later write.
    val events = spark.read.schema(Schemas.binlogEvent).parquet(layout.eventTable)
    val ranked = TransactionStats.top1AllMetricsFromStats(
      TransactionStats.perWindow(events, windowSec)
        .filter(col("end_time") <= lit(now))) // W2: only closed windows
    // W5 idempotence as one anti join against every table's written windows
    val written = TransactionStats.metrics
      .filter(m => Maintenance.pathExists(spark, layout.statTable(m)))
      .map { m =>
        spark.read.schema(Schemas.windowTopStat).parquet(layout.statTable(m))
          .select(lit(m).as("metric"), col("end_time"))
      }
    val fresh = written.reduceOption(_ union _)
      .fold(ranked)(ranked.join(_, Seq("metric", "end_time"), "left_anti"))
    val perMetric = new Observation()
    val byMetric = TransactionStats.metrics.map(m => count(when(col("metric") === m, 1)).as(m))
    val frames = new PlanGuard.CheckpointChain
    try {
      val snapshot = frames.eager("compute_fresh",
        fresh.observe(perMetric, byMetric.head, byMetric.tail: _*))
      // filled when the checkpoint's query ends; a missing fill fails loudly
      val row = Await.result(perMetric.future, 1.minute)
      val counts = TransactionStats.metrics.map(m => m -> row.getAs[Long](m)).toMap
      // an append of zero rows would still write an empty part file
      TransactionStats.metrics.filter(counts(_) > 0).foreach { m =>
        snapshot.filter(col("metric") === m).drop("metric")
          .write.mode("append").parquet(layout.statTable(m))
      }
      counts.values.sum.toInt
    } finally frames.close()
  }

  /** The MV read path (M3): re-summed daily counts. */
  def readDailyCounts(spark: SparkSession, layout: Layout): DataFrame =
    StreamingMVs.readDailyCounts(spark, layout.mvPartials)

  /** W7 per-cluster fan-out: the reference runs the same three queries over
    * cluster prefixes `cluster1/2/3` in a Python loop
    * (`compute_transaction_info.py:156,166-172`) — and wires two of the
    * result tables crosswise (the known swap bug). Here each cluster is a
    * layout under its own prefix and results land in like-named tables (the
    * evident intent, SURVEY.md §2.8 W7). Returns per-cluster written-window
    * counts.
    */
  def runComputeMulti(spark: SparkSession, base: String, clusterPrefixes: Seq[String],
      now: Timestamp, windowSec: Int = 300): Map[String, Int] =
    clusterPrefixes.map { prefix =>
      prefix -> runCompute(spark, Layout(s"$base/$prefix"), now, windowSec)
    }.toMap
}

/** `mon_mysql_dml.py` equivalent: `runMain graft.binlog.IngestMain
  * [sfDir] [outBase]`.
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val base = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_pipeline").toString)
    val spark = Tables.session("graft-ingest", "local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
    Pipeline.runIngestBatch(spark, Tables.events(spark, sfDir), Pipeline.Layout(base))
    println(s"INGESTED base=$base rows=" +
      spark.read.parquet(s"$base/binlog_events").count())
    spark.stop()
  }
}

/** `compute_transaction_info.py` equivalent: `runMain graft.binlog.ComputeMain
  * <outBase>`.
  */
object ComputeMain {
  def main(args: Array[String]): Unit = {
    val base = args.head
    val spark = Tables.session("graft-compute", "local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
    val n = Pipeline.runCompute(spark, Pipeline.Layout(base),
      new Timestamp(System.currentTimeMillis()))
    println(s"COMPUTED windows=$n")
    spark.stop()
  }
}
