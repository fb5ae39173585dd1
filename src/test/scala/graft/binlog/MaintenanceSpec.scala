package graft.binlog

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def events(ts: String*) = ts.zipWithIndex.map { case (t, i) =>
    (Timestamp.valueOf(t), s"g$i", "INSERT")
  }.toDF("execute_time", "gtid", "event_type")

  test("K3/O3 write layout: day partitions on disk") {
    val path = tmpDir("events_layout")
    Maintenance.writeEvents(
      events("2024-01-01 10:00:00", "2024-01-02 11:00:00"), path)
    val days = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(days.toSet === Set("day=2024-01-01", "day=2024-01-02"))
  }

  test("K4 TTL: partitions older than the retention window are dropped") {
    val path = tmpDir("events_ttl")
    // derive both days from the clock so the test never rots: one well past
    // the 30-month cutoff, one comfortably inside it
    val now = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    val oldDay = now.minusMonths(40)
    val newDay = now.minusMonths(1)
    Maintenance.writeEvents(
      events(s"$oldDay 10:00:00", s"$newDay 10:00:00"), path)
    val deleted = Maintenance.applyTtl(spark, path, months = 30)
    assert(deleted.exists(_.contains(s"day=$oldDay")))
    val remaining = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(remaining.toSet === Set(s"day=$newDay"))
    // table still readable after the drop
    assert(spark.read.parquet(path).count() === 1L)
  }

  test("A9 compaction: totals preserved, partials collapsed") {
    val path = tmpDir("mv_compact")
    val partials = Seq(
      (java.sql.Date.valueOf("2024-01-01"), "INSERT", 5L),
      (java.sql.Date.valueOf("2024-01-01"), "INSERT", 7L),
      (java.sql.Date.valueOf("2024-01-01"), "DELETE", 1L)
    ).toDF("day", "event_type", "event_count")
    partials.write.mode("overwrite").parquet(path)
    Maintenance.compactPartials(spark, path)
    val rows = spark.read.parquet(path).orderBy("event_type").collect()
    assert(rows.length === 2)
    assert(rows.map(r => r.getAs[String]("event_type") -> r.getAs[Long]("event_count")).toSeq
      === Seq("DELETE" -> 1L, "INSERT" -> 12L))
  }

  test("K7 small-file compaction: file count collapses to the byte target, rows identical") {
    val path = tmpDir("small_files") + "/part"
    val df = (0 until 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(20).write.parquet(path) // 20 tiny files
    def files = new java.io.File(path).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.endsWith(".crc"))
    assert(files === 20)
    val (before, after) = Maintenance.compact(spark, path) // 128 MB target → 1 file
    assert(before === 20)
    assert(after === 1)
    assert(files === 1)
    // content survives the rewrite byte-for-byte (values, not just counts)
    val got = spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === (0 until 500).map(i => (i.toLong, s"v$i")))
    // already-compact directory: no rewrite, same counts back
    assert(Maintenance.compact(spark, path) === ((1, 1)))
    // crash window between the two renames: compact() self-heals via
    // recoverCompaction before doing anything else
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_old"))
    assert(Maintenance.compact(spark, path) === ((1, 1)))
    assert(spark.read.parquet(path).count() === 500L)
  }

  test("P14 rand-shard routing: round-robin repartition balances and preserves rows") {
    // the reference routes INSERTs to a random shard (rand() in the
    // Distributed DDL / random server pick); Spark's round-robin
    // repartition(n) is the same routing as a deterministic-per-job spread
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(8)
    val sizes = df.groupBy(spark_partition_id().as("p")).count()
      .collect().map(_.getAs[Long]("count"))
    assert(sizes.length === 8)
    assert(sizes.max - sizes.min <= 2, sizes.mkString(","))  // balanced
    assert(sizes.sum === 1000L)                              // nothing lost
    assert(df.select("id").as[Long].collect().sorted.toSeq === (0L until 1000L))
  }

  test("recovery: crash between compaction renames rolls back from _old") {
    val path = tmpDir("mv_recover") + "/table"
    val partials = Seq((java.sql.Date.valueOf("2024-01-01"), "INSERT", 5L))
      .toDF("day", "event_type", "event_count")
    partials.write.mode("overwrite").parquet(path)
    // simulate the crash window: table moved to _old, new copy never landed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_old"))
    assert(Maintenance.recoverCompaction(spark, path))
    assert(spark.read.parquet(path).count() === 1L)
    assert(!Maintenance.recoverCompaction(spark, path)) // idempotent
  }
}
