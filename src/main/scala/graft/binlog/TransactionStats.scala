package graft.binlog

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-transaction statistics — the Spark rendering of the reference's
  * periodic compute job (`compute_transaction_info.py:50-122`) and its three
  * top-1 queries (`README.md:357-365`).
  *
  * Reference query shape (`compute_transaction_info.py:53-66`):
  * {{{
  *   SELECT toDateTime(end) end_time, '{interval}' invertal, gtid,
  *          max(execute_time) - min(execute_time)              AS transaction_spend_time,
  *          (max(toUInt32(binlog_pos)) - min(toUInt32(binlog_pos)))
  *            + argMax(toUInt32(single_statement_size), toUInt32(binlog_pos))
  *                                                             AS transaction_size,
  *          sum(single_statement_affected_rows)                AS transaction_affected_rows
  *   FROM binlog WHERE execute_time >= start AND execute_time < end
  *   GROUP BY gtid ORDER BY <metric> DESC LIMIT 1
  * }}}
  * The size formula's rationale (canal cannot see Table_map events, so size =
  * pos-span + last event's length) is the 47-line comment at
  * `mon_mysql_dml.py:264-310`.
  *
  * Scale design:
  *   - `argMax` is Spark's codegen'd `max_by` built-in (SURVEY.md §2.5 A7) —
  *     no UDAF, stays inside whole-stage codegen and partial aggregation.
  *   - The windowed form computes **all** windows in one pass
  *     (`groupBy(window(...), gtid)`) instead of the reference's
  *     one-window-per-loop-iteration (`compute_transaction_info.py:159-179`)
  *     — the batch-backfill collapse of SURVEY.md §2.8 W6. One shuffle on
  *     (window, gtid); partial aggregation runs map-side, so the shuffle
  *     carries one row per (window, gtid) group, not per event.
  *   - Per-window top-1 is a second aggregation `groupBy(window).agg(max_by)`
  *     rather than `row_number().over(...)`: an agg shuffles pre-reduced
  *     group rows and needs no sort; a window function would shuffle + sort
  *     the full group set. At 100 TB the reduction happens before the wire.
  *   - A global top-1 (`orderBy(desc).limit(1)`) plans as
  *     TakeOrderedAndProject — distributed top-k, no full sort (SURVEY.md §4).
  */
object TransactionStats {

  import BinlogEvents.{executeTimeSec, pos, sizeBytes}

  /** The three ranking metrics (`compute_transaction_info.py:64,89,114`). */
  val metrics: Seq[String] =
    Seq("transaction_size", "transaction_affected_rows", "transaction_spend_time")

  private def statAggs: Seq[Column] = Seq(
    (unix_timestamp(max(executeTimeSec)) - unix_timestamp(min(executeTimeSec)))
      .as("transaction_spend_time"),
    (max(pos) - min(pos) + max_by(sizeBytes, pos)).as("transaction_size"),
    sum(col("single_statement_affected_rows")).as("transaction_affected_rows")
  )

  /** One explicit window `[start, end)` — the literal reference query with
    * its injected constants (`compute_transaction_info.py:55-62`, operators
    * F3 + P9 + A1–A8).
    */
  def forRange(events: DataFrame, start: Timestamp, end: Timestamp, interval: String): DataFrame =
    events
      .filter(col("execute_time") >= lit(start) && col("execute_time") < lit(end))
      .groupBy(col("gtid"))
      .agg(statAggs.head, statAggs.tail: _*)
      .select(
        lit(end).cast("timestamp").as("end_time"),
        lit(interval).as("interval"),
        col("gtid"),
        col("transaction_spend_time"),
        col("transaction_size"),
        col("transaction_affected_rows")
      )

  /** Global top-1 of a ranged computation — `ORDER BY metric DESC LIMIT 1`
    * (`compute_transaction_info.py:64-65`). Ties broken by gtid desc so the
    * result is deterministic (the reference leaves ties to CH's whim; our
    * oracle needs a total order).
    */
  def top1ForRange(
      events: DataFrame,
      start: Timestamp,
      end: Timestamp,
      interval: String,
      metric: String
  ): DataFrame =
    forRange(events, start, end, interval)
      .orderBy(col(metric).desc, col("gtid").desc)
      .limit(1)

  /** All-windows transaction stats in one pass: tumbling `windowSec`-second
    * windows (reference cadence is 300 s, `compute_transaction_info.py:154`).
    * Spark's `window()` is epoch-aligned, matching the reference's
    * midnight-aligned origin (SURVEY.md §2.8 W1).
    */
  def perWindow(events: DataFrame, windowSec: Int = 300, interval: String = "5min"): DataFrame =
    events
      .groupBy(window(col("execute_time"), s"$windowSec seconds").as("w"), col("gtid"))
      .agg(statAggs.head, statAggs.tail: _*)
      .select(
        col("w.end").as("end_time"),
        lit(interval).as("interval"),
        col("gtid"),
        col("transaction_spend_time"),
        col("transaction_size"),
        col("transaction_affected_rows")
      )

  /** Top-1 transaction per window by `metric` — the overall effect of the
    * reference's driver loop (one winner row per window per metric,
    * SURVEY.md §2.6 O5), computed as a single aggregation. `max_by` over a
    * (metric, gtid) struct gives a deterministic winner under ties.
    */
  def top1PerWindow(events: DataFrame, metric: String, windowSec: Int = 300,
      interval: String = "5min"): DataFrame =
    top1PerWindowFromStats(perWindow(events, windowSec, interval), metric)

  /** Top-1 from an already-computed [[perWindow]] frame, for one metric.
    * [[top1AllMetricsFromStats]] ranks all three metrics in one regroup
    * with the same rule ([[top1By]]).
    */
  def top1PerWindowFromStats(stats: DataFrame, metric: String): DataFrame =
    stats
      .groupBy(col("end_time"), col("interval"))
      .agg(top1By(metric).as("top"))
      .select(col("end_time") +: col("interval") +: unpackTop("top"): _*)

  /** All three metrics' per-window top-1 from one [[perWindow]] frame, in
    * ONE regroup (one shuffle of the group rows, three `max_by` columns),
    * stacked into rows of `(metric, end_time, interval, gtid, …)` — what
    * [[Pipeline.runCompute]] appends, split by `metric`, to the three
    * result tables. Each metric's rows equal [[top1PerWindowFromStats]]'s.
    */
  def top1AllMetricsFromStats(stats: DataFrame): DataFrame =
    stats
      .groupBy(col("end_time"), col("interval"))
      .agg(top1By(metrics.head).as(metrics.head), metrics.tail.map(m => top1By(m).as(m)): _*)
      .select(col("end_time"), col("interval"),
        explode(array(metrics.map(m => struct(lit(m).as("metric"), col(m).as("top"))): _*))
          .as("r"))
      .select(col("r.metric").as("metric") +: col("end_time") +: col("interval") +:
        unpackTop("r.top"): _*)

  /** The per-window ranking rule: the winner row's payload, by `metric`,
    * ties broken by gtid so the winner is deterministic.
    */
  private def top1By(metric: String): Column =
    max_by(
      struct(
        col("gtid"),
        col("transaction_spend_time"),
        col("transaction_size"),
        col("transaction_affected_rows")
      ),
      struct(col(metric), col("gtid")))

  /** The result-table columns after `end_time, interval`, out of a
    * [[top1By]] payload column.
    */
  private def unpackTop(top: String): Seq[Column] =
    Seq("gtid", "transaction_spend_time", "transaction_size", "transaction_affected_rows")
      .map(f => col(s"$top.$f").as(f))

  /** Window-function rendering of O5 (`row_number` — the formulation the
    * reference author wished ClickHouse had, `README.md:376-380`). Kept for
    * parity testing against [[top1PerWindow]]; the agg form is the one to run
    * at scale (no per-window sort).
    */
  def top1PerWindowViaRowNumber(events: DataFrame, metric: String, windowSec: Int = 300,
      interval: String = "5min"): DataFrame = {
    val stats = perWindow(events, windowSec, interval)
    val w = Window.partitionBy(col("end_time")).orderBy(col(metric).desc, col("gtid").desc)
    stats
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
