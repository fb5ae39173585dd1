package graft.binlog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout and maintenance actions — the declarative MergeTree
  * features the reference leans on, rendered as explicit jobs
  * (SURVEY.md §2.10, §4):
  *
  *   - K3 date partitioning: `PARTITION BY toDate(execute_time)`
  *     (`README.md:115`) → hive-style `day=` dirs + partition pruning.
  *   - O3 sort keys: `ORDER BY (execute_time, gtid, table, schema)`
  *     (`README.md:116`) → `sortWithinPartitions` at write → parquet
  *     row-group min/max stats → data skipping, the sparse-index analog.
  *   - K4 TTL: `TTL execute_time + toIntervalMonth(30)` (`README.md:117`) →
  *     a retention job dropping expired `day=` partitions.
  *   - W5 idempotent window write: existence probe before insert
  *     (`compute_transaction_info.py:132-150`).
  */
object Maintenance {

  /** K1+K3+O3 write path: day-partitioned, sorted-within-partition parquet.
    * At 100 TB this is the layout that makes every F3 time-range query prune
    * to the touched days and skip row groups inside them.
    */
  def writeEvents(binlog: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit =
    binlog
      .withColumn("day", to_date(col("execute_time")))
      .repartition(col("day"))
      .sortWithinPartitions(col("execute_time"), col("gtid"))
      .write
      .mode(mode)
      .partitionBy("day")
      .parquet(path)

  /** K4: TTL retention — delete partitions older than `months` (reference:
    * 30, `README.md:117`). Deletes whole `day=` directories: no data rewrite,
    * O(expired partitions) — the same cost model as CH dropping TTL'd parts.
    */
  def applyTtl(spark: SparkSession, path: String, months: Int = 30): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration
    )
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) return Seq.empty
    val cutoff = java.time.LocalDate.now(java.time.ZoneOffset.UTC).minusMonths(months.toLong)
    val expired = fs
      .listStatus(base)
      .toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("day=") &&
        scala.util.Try(java.time.LocalDate.parse(p.getName.stripPrefix("day="))).toOption
          .exists(_.isBefore(cutoff))
      }
    expired.foreach(p => fs.delete(p, true))
    expired.map(_.toString)
  }

  /** Small-file compaction — the K7-adjacent maintenance pass every
    * long-running ingest needs: streaming micro-batches and per-window
    * appends leave a partition as hundreds of KB-sized parquet files, and
    * at 100 TB the file count (NameNode/listing pressure, per-file open
    * cost, one scan task per tiny file) becomes the bottleneck long before
    * the bytes do. Rewrites one directory into ⌈bytes / targetBytes⌉
    * files via a round-robin repartition, staged and swapped through the
    * same `_compacting`/`_old` rename protocol as [[compactPartials]]
    * (crash before the first rename: original untouched; crash between
    * renames: [[recoverCompaction]] restores `_old` at the next startup —
    * no window ever loses both copies). Run it per partition directory in
    * a maintenance window, not on a live write target. Returns (files
    * before, files after).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    recoverCompaction(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val base = p(path)
    def dataFiles = fs.listStatus(base).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val before = dataFiles.size
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (before <= nOut) return (before, before) // already compact: no rewrite
    val tmp = path.stripSuffix("/") + "_compacting"
    val old = path.stripSuffix("/") + "_old"
    spark.read.parquet(path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    fs.delete(p(old), true)
    fs.rename(base, p(old))
    fs.rename(p(tmp), base)
    fs.delete(p(old), true)
    (before, dataFiles.size)
  }

  /** W5: idempotent append of a window result — skip if any row for this
    * `end_time` already exists (`compute_transaction_info.py:132-142`, the
    * `count(*)` probe A10, done Spark-side as a pruned `isEmpty` peek).
    * The table is read with `result`'s schema, so an empty directory needs
    * no inference. Returns true if the write happened.
    */
  def idempotentAppend(spark: SparkSession, result: DataFrame, path: String,
      endTime: java.sql.Timestamp): Boolean = {
    // only a missing table means "nothing written yet": any other read
    // failure propagates rather than re-appending a written window
    val exists = pathExists(spark, path) &&
      !spark.read.schema(result.schema).parquet(path)
        .filter(col("end_time") === lit(endTime)).isEmpty
    if (!exists) result.write.mode(SaveMode.Append).parquet(path)
    !exists
  }

  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A9 compaction: rewrite MV partials fully collapsed (the explicit analog
    * of a SummingMergeTree background merge, `README.md:143-145`).
    * Preserves the hive layout when a partition column is given (the MV
    * writers partition by `day` — rewriting flat would make later
    * partitioned appends unreadable). The swap keeps the old table as
    * `<path>_old` until the new one is in place, so a crash mid-swap never
    * loses both copies.
    *
    * Visibility contract: between rename(path→_old) and rename(tmp→path)
    * the table path briefly does not exist, so a *concurrent* reader can
    * fail — compaction is a maintenance window action, same as a CH mutation
    * on a non-replicated table. Crash recovery is automatic: a crash inside
    * that window leaves `_old` but no `path`, and the next compactPartials
    * (or [[recoverCompaction]] at startup) rolls `_old` back before
    * proceeding, so no manual surgery is needed.
    */
  def compactPartials(spark: SparkSession, path: String, keys: Seq[String],
      valueCol: String = "event_count", partitionCol: Option[String] = Some("day")): Unit = {
    recoverCompaction(spark, path)
    val raw = spark.read.parquet(path)
    // replayed streaming batches are deduped before collapsing (see
    // StreamingMVs.partialsWriter)
    val deduped =
      if (raw.columns.contains("batch_id"))
        raw.dropDuplicates("batch_id" +: keys).drop("batch_id")
      else raw
    val compacted = DailyCounts.compact(deduped, keys, valueCol)
    val tmp = path.stripSuffix("/") + "_compacting"
    val old = path.stripSuffix("/") + "_old"
    val writer = compacted.write.mode(SaveMode.Overwrite)
    partitionCol.filter(keys.contains).fold(writer)(c => writer.partitionBy(c)).parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(old), true)
    fs.rename(p(path), p(old))
    fs.rename(p(tmp), p(path))
    fs.delete(p(old), true)
  }

  /** Roll back a compaction that crashed between its two renames: if
    * `<path>_old` exists while `path` does not, the old copy is the only
    * complete table — restore it. Call at startup (or rely on the call at
    * the head of [[compactPartials]]). Returns true if a rollback happened.
    */
  def recoverCompaction(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val old = path.stripSuffix("/") + "_old"
    val needsRollback = fs.exists(p(old)) && !fs.exists(p(path))
    if (needsRollback) fs.rename(p(old), p(path))
    // a stale tmp from a crash before the first rename is dead weight either way
    fs.delete(p(path.stripSuffix("/") + "_compacting"), true)
    needsRollback
  }

  /** P12 done right: the reference derives the distributed-table name with
    * `rstrip('_local')` — a char-set strip that over-strips
    * (`compute_transaction_info.py:133`, SURVEY.md §2.4 P12). We implement
    * the evident intent.
    */
  def distributedTableName(localName: String): String = localName.stripSuffix("_local")
}
