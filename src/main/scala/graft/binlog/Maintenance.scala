package graft.binlog

import org.apache.hadoop.fs.{FileSystem, Path}
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
  *
  * W5 idempotent window writes (`compute_transaction_info.py:132-150`) are
  * one anti join inside [[Pipeline.runCompute]].
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
    val (fs, base) = fileSystem(spark, path)
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
    val (fs, base) = fileSystem(spark, path)
    def dataFiles = fs.listStatus(base).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val before = dataFiles.size
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (before <= nOut) return (before, before) // already compact: no rewrite
    swapIn(spark, path)(spark.read.parquet(path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(_))
    (before, dataFiles.size)
  }

  def pathExists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fileSystem(spark, path)
    fs.exists(p)
  }

  /** A9 compaction of the MV1 partials table
    * ([[Schemas.dailyEventCountPartial]]): rewrite it fully collapsed on
    * (day, event_type), replayed batches deduped first (the explicit
    * analog of a SummingMergeTree background merge, `README.md:143-145`).
    * The table is read with its declared schema, so a replayed batch is
    * deduped even when the table already holds compacted files. Keeps the
    * `day` hive layout the MV writer appends to (rewriting flat would make
    * later partitioned appends unreadable). The swap keeps the old table as
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
  def compactPartials(spark: SparkSession, path: String): Unit = {
    recoverCompaction(spark, path)
    val keys = Seq("day", "event_type")
    val raw = spark.read.schema(Schemas.dailyEventCountPartial).parquet(path)
    val compacted = DailyCounts.compact(
      graft.streaming.StreamingMVs.dedupReplays(raw, keys, "event_count"), keys)
    swapIn(spark, path)(compacted.write.mode(SaveMode.Overwrite).partitionBy("day").parquet(_))
  }

  /** Roll back a compaction that crashed between its two renames: if
    * `<path>_old` exists while `path` does not, the old copy is the only
    * complete table — restore it. Call at startup (or rely on the call at
    * the head of [[compactPartials]]). Returns true if a rollback happened.
    */
  def recoverCompaction(spark: SparkSession, path: String): Boolean = {
    val (fs, base) = fileSystem(spark, path)
    val (tmp, old) = staging(path)
    val needsRollback = fs.exists(old) && !fs.exists(base)
    if (needsRollback) fs.rename(old, base)
    // a stale tmp from a crash before the first rename is dead weight either way
    fs.delete(tmp, true)
    needsRollback
  }

  private def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A rewrite's staging copy and the displaced original's parking spot. */
  private def staging(path: String): (Path, Path) =
    (new Path(path.stripSuffix("/") + "_compacting"), new Path(path.stripSuffix("/") + "_old"))

  /** The compaction swap: `write` stages the new table at the staging
    * path, then `path` moves to `_old`, the staged copy takes its place and
    * `_old` is dropped. A crash before the first rename leaves the original
    * untouched; a crash between the renames leaves only `_old`, which
    * [[recoverCompaction]] restores.
    */
  private def swapIn(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, base) = fileSystem(spark, path)
    val (tmp, old) = staging(path)
    write(tmp.toString)
    fs.delete(old, true)
    fs.rename(base, old)
    fs.rename(tmp, base)
    fs.delete(old, true)
  }

  /** P12 done right: the reference derives the distributed-table name with
    * `rstrip('_local')` — a char-set strip that over-strips
    * (`compute_transaction_info.py:133`, SURVEY.md §2.4 P12). We implement
    * the evident intent.
    */
  def distributedTableName(localName: String): String = localName.stripSuffix("_local")
}
