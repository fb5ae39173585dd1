package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.binlog.{DailyCounts, Schemas}

/** Continuously-maintained materialized views — the Structured Streaming
  * rendering of the reference's INSERT-triggered MVs
  * (`README.md:168-184, 221-245`; SURVEY.md §2.9 M1/M2, §3.3).
  *
  * ClickHouse's mechanism is: each insert block runs the MV SELECT over just
  * that block (partial aggregate), appends partials to a SummingMergeTree
  * target, and background merges re-sum rows with equal sort keys. That is
  * *exactly* Spark's partial/final aggregation split made persistent, and it
  * maps onto two equivalent Spark forms, both provided here:
  *
  *  1. **Stateful streaming aggregation** ([[dailyEventCounts]]): the state
  *     store holds the merged counts; update-mode output emits revised rows.
  *     One shuffle per micro-batch over (day, event_type) — tiny cardinality,
  *     map-side partial aggregation does nearly all the work.
  *  2. **Append-partials + read-time re-sum** ([[partialsWriter]]): each
  *     micro-batch appends its *partial* counts (no state store, no shuffle
  *     wider than the batch), and readers go through [[DailyCounts.resum]] —
  *     the literal SummingMergeTree model, right when state size (days ×
  *     types × tables) is unbounded or restarts must be cheap.
  *
  * MVEquivalenceSpec pins: any micro-batch split of the input produces the
  * same final counts as one batch aggregation (A9 merge semantics).
  */
object StreamingMVs {

  /** M1 as a stateful streaming aggregation (update mode). */
  def dailyEventCounts(stream: DataFrame): DataFrame =
    DailyCounts.dailyEventCounts(stream)

  /** M2 streaming form. */
  def dailyTableEventCounts(stream: DataFrame, schemaCol: String, tableCol: String): DataFrame =
    DailyCounts.dailyTableEventCounts(stream, schemaCol, tableCol)

  /** Form 2: per-micro-batch partial counts appended to `targetPath`
    * (day-partitioned parquet). Restart-safe: `batchId` rides along and the
    * read path dedups on (batch_id, day, event_type) — a replayed
    * micro-batch (at-least-once foreachBatch) emits identical partial rows,
    * which the dedup collapses before the re-sum.
    */
  def partialsWriter(stream: DataFrame, targetPath: String, checkpoint: String): DataStreamWriter[Row] =
    partialsSink(stream, targetPath, checkpoint, "mv_counts_batch", byDay = true)(
      DailyCounts.dailyEventCounts)

  /** The AvailableNow sink every partials MV shares: each micro-batch's
    * partials, tagged with its `batch_id`, pass the inner-plan guard
    * (round-12 — see StreamingIngest.writer) and append to `targetPath`,
    * day-partitioned when `byDay`.
    */
  private def partialsSink(stream: DataFrame, targetPath: String, checkpoint: String,
      guard: String, byDay: Boolean)(partialsOf: DataFrame => DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partials = partialsOf(batch).withColumn("batch_id", lit(batchId))
        graft.plans.PlanGuard.assertNoCorpusProducts(guard, partials)
        val writer = partials.write.mode("append")
        (if (byDay) writer.partitionBy("day") else writer).parquet(targetPath)
      }

  /** Replay dedup for a partials table: an at-least-once micro-batch
    * replays identical partial rows under the same `batch_id`, so the
    * `value` of rows equal on (batch_id, keys…) counts once; rows with no
    * `batch_id` (rewritten by a compaction) carry no replay identity and
    * all count. Readers re-sum `value` over the keys afterwards. Every
    * reader declares the table's schema ([[Schemas]]), so `batch_id` is
    * always there: schema inference reads one file's footer, and on a
    * mixed table a compacted file has no `batch_id`.
    */
  private[graft] def dedupReplays(raw: DataFrame, keys: Seq[String], value: String): DataFrame =
    raw.groupBy(col("batch_id") +: keys.map(col): _*)
      .agg(when(col("batch_id").isNull, sum(col(value))).otherwise(max(col(value))).as(value))
      .drop("batch_id")

  /** The M3 read path over the partials table (re-sum view), replayed
    * batches deduped first ([[dedupReplays]]). Two jobs: the table is read
    * with its declared schema ([[Schemas.dailyEventCountPartial]],
    * no schema-inference job), and one exchange on (day, event_type) serves
    * both the dedup on (batch_id, day, event_type) and the re-sum, so the
    * plan is one shuffle-map job and one result job.
    */
  def readDailyCounts(spark: org.apache.spark.sql.SparkSession, targetPath: String): DataFrame = {
    val keys = Seq("day", "event_type")
    val partials = spark.read.schema(Schemas.dailyEventCountPartial)
      .parquet(targetPath).repartition(keys.map(col): _*)
    DailyCounts.resum(dedupReplays(partials, keys, "event_count"), keys)
  }

  /** b30's mergeable-QUANTILE MV maintained by the stream — the
    * [[partialsWriter]] discipline applied to percentiles: each
    * micro-batch appends its (day, event_type, value-cent) histogram
    * partials — counts are the one quantile "sketch" that merges EXACTLY —
    * and [[readPercentiles]] re-sums them across batches and days into
    * exact p50/p95 per type. State per group is value-domain-bounded (the
    * t19/b30 histogram discipline), never row-count-bounded; `batch_id`
    * rides along so a replayed at-least-once micro-batch collapses in the
    * read-side dedup exactly as in the counts MV.
    */
  def histogramPartialsWriter(stream: DataFrame, targetPath: String,
      checkpoint: String): DataStreamWriter[Row] =
    partialsSink(stream, targetPath, checkpoint, "mv_histogram_batch", byDay = true)(
      _.groupBy(to_date(col("ts")).as("day"), col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
        .agg(count(lit(1)).as("cnt")))

  /** Exact percentiles from the streamed histogram partials (b30's read
    * side over the streaming MV): replay-dedup, then one re-sum into
    * [[graft.operators.Percentiles.discreteFromHistogram]].
    */
  def readPercentiles(spark: org.apache.spark.sql.SparkSession,
      targetPath: String, ps: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    graft.operators.Percentiles.discreteFromHistogram(
      dedupReplays(spark.read.schema(Schemas.histogramPartial).parquet(targetPath),
        Seq("day", "event_type", "v_c"), "cnt"),
      "event_type", "v_c", "cnt", ps, "pct_cents")

  /** Count-min sketch maintained by the stream — the AggregatingMergeTree
    * half of the MV story: where b5/b30 stream SUM and HISTOGRAM partials,
    * this streams SKETCH STATES. Count-min counters merge by pure
    * addition ([[graft.operators.Sketches.mergeSketch]]), so each
    * micro-batch appends its d×w partial counters — a FIXED-size partial
    * regardless of batch or corpus size — and the read side re-sums into
    * the exact sketch one batch pass would have built (integer equality,
    * not approximation: the spec pins streamed ≡ batch sketch
    * cell-for-cell). Same `batch_id` replay-dedup contract as
    * [[partialsWriter]].
    */
  def countMinPartialsWriter(stream: DataFrame, targetPath: String,
      checkpoint: String, keyCol: String = "user_id",
      w: Int = 256): DataStreamWriter[Row] =
    partialsSink(stream, targetPath, checkpoint, "mv_sketch_batch", byDay = false)(
      graft.operators.Sketches.sketchPartials(_, keyCol, w))

  /** The merged sketch from streamed partials (replay-dedup first). */
  def readCountMinSketch(spark: org.apache.spark.sql.SparkSession,
      targetPath: String): DataFrame =
    graft.operators.Sketches.mergeSketch(
      dedupReplays(spark.read.schema(Schemas.sketchPartial).parquet(targetPath),
        Seq("r", "bucket"), "c"))
}
