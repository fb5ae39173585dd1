package graft.binlog

import java.sql.Timestamp
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** Fixed schemas of the binlog analytics engine — the Spark rendering of the
  * reference's ClickHouse DDL (reference `README.md:99-118, 155-165, 206-218,
  * 268-281`). No schema inference anywhere in the engine (SURVEY.md §1.1):
  * every table is declared here once.
  *
  * CH→Spark type rules (SURVEY.md §1.3), applied throughout:
  *   - UInt8→Int, UInt32→Long, UInt64→Long (no unsigned types in Spark; the
  *     counts here cannot plausibly reach 2^63 — documented cap).
  *   - CH DateTime is second-precision; we keep TimestampType and
  *     `date_trunc("second", …)` before any subtraction for parity.
  *   - `binlog_pos` / `single_statement_size` are *String-typed numerics* in
  *     the reference DDL (`README.md:106,111`) — kept as StringType and cast
  *     back with `cast(LongType)` at query time, reproducing the
  *     `toUInt32(...)` round-trip (`compute_transaction_info.py:59`).
  */
object Schemas {

  /** One binlog statement event — reference base table
    * `mysql_monitor.broker_binlog_local` (`README.md:99-118`).
    */
  final case class BinlogEvent(
      schema: String,                         // README.md:101
      table: String,                          // README.md:102
      event_type: String,                     // README.md:103 (16-value enum name)
      is_ddl: Int,                            // README.md:104 (UInt8 0/1)
      binlog_file: String,                    // README.md:105
      binlog_pos: String,                     // README.md:106 (numeric-as-string)
      characterset: String,                   // README.md:107
      execute_time: Timestamp,                // README.md:108 (event time)
      gtid: String,                           // README.md:109 (txn key "uuid:txno")
      single_statement_affected_rows: Long,   // README.md:110 (UInt32→Long)
      single_statement_size: String,          // README.md:111 (numeric-as-string)
      ctime: Timestamp                        // README.md:112 (ingest time)
  )

  val binlogEvent: StructType = StructType(
    Seq(
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("event_type", StringType),
      StructField("is_ddl", IntegerType),
      StructField("binlog_file", StringType),
      StructField("binlog_pos", StringType),
      StructField("characterset", StringType),
      StructField("execute_time", TimestampType),
      StructField("gtid", StringType),
      StructField("single_statement_affected_rows", LongType),
      StructField("single_statement_size", StringType),
      StructField("ctime", TimestampType)
    )
  )

  /** Shared schema of the three per-window top-1 result tables
    * (`README.md:268-281`; "invertal" typo is in the reference DDL — we spell
    * it correctly and note the delta).
    */
  final case class WindowTopStat(
      end_time: Timestamp,                    // README.md:271 (window end)
      interval: String,                       // README.md:272 ("invertal" in DDL)
      gtid: String,                           // README.md:273
      transaction_spend_time: Long,           // README.md:274 (Int32 seconds)
      transaction_size: Long,                 // README.md:275 (Int64)
      transaction_affected_rows: Long         // README.md:276 (UInt64→Long, cap noted)
  )

  val windowTopStat: StructType = Encoders.product[WindowTopStat].schema

  /** MV1 target: daily event-type counts (`README.md:155-165`). */
  final case class DailyEventCount(day: java.sql.Date, event_type: String, event_count: Long)

  /** The MV1 partials table as [[graft.streaming.StreamingMVs.partialsWriter]]
    * writes it: one micro-batch's counts per (day, event_type), tagged with
    * its `batch_id` (null in rows a compaction rewrote), partitioned by
    * `day`.
    */
  val dailyEventCountPartial: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("event_count", LongType),
    StructField("batch_id", LongType),
    StructField("day", DateType)))

  /** b30's histogram partials table as
    * [[graft.streaming.StreamingMVs.histogramPartialsWriter]] writes it:
    * one micro-batch's (day, event_type, value-cent) counts, tagged with its
    * `batch_id`, partitioned by `day`.
    */
  val histogramPartial: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("v_c", LongType),
    StructField("cnt", LongType),
    StructField("batch_id", LongType),
    StructField("day", DateType)))

  /** The count-min partials table as
    * [[graft.streaming.StreamingMVs.countMinPartialsWriter]] writes it: one
    * micro-batch's (row, bucket) counters, tagged with its `batch_id`.
    */
  val sketchPartial: StructType = StructType(Seq(
    StructField("r", IntegerType),
    StructField("bucket", LongType),
    StructField("c", LongType),
    StructField("batch_id", LongType)))

  /** MV2 target: daily per-table event counts (`README.md:206-218`). */
  final case class DailyTableEventCount(
      day: java.sql.Date,
      schema: String,
      table: String,
      event_type: String,
      event_count: Long
  )

  /** Canal EventType enum, id→name, exactly the 16 values the ingestion
    * materializes via `EventType.Name` (`mon_mysql_dml.py:172-196,314`).
    */
  val eventTypeNames: Map[Int, String] = Map(
    1 -> "INSERT",
    2 -> "UPDATE",
    3 -> "DELETE",
    4 -> "CREATE",
    5 -> "ALTER",
    6 -> "ERASE",
    7 -> "QUERY",
    8 -> "TRUNCATE",
    9 -> "RENAME",
    10 -> "CINDEX",
    11 -> "DINDEX",
    12 -> "GTID",
    13 -> "XACOMMIT",
    14 -> "XAROLLBACK",
    15 -> "MHEARTBEAT",
    16 -> "TRANSACTIONBEGIN"
  )
}
