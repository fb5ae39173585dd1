package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.binlog.{DailyCounts, Maintenance}

/** `StreamingMVs.readDailyCounts`: two jobs, no schema inference, and the
  * rows of the inferred-schema read (dedup, then re-sum) on uncompacted,
  * compacted, mixed and replayed partials tables.
  */
class DailyCountsReadSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("day", "event_type")
  private val rnd = new scala.util.Random(17)
  private val batches = (0 until 4).map { _ =>
    (1 to 120).map(_ => Ev(new Timestamp(1700000000000L + rnd.nextInt(4) * 86400000L),
      Seq("INSERT", "UPDATE", "DELETE", "QUERY")(rnd.nextInt(4))))
  }

  /** Appends batch `i`'s partials tagged `batch_id = i`, as the stream's sink does. */
  private def append(path: String, i: Int): Unit =
    DailyCounts.dailyEventCounts(batches(i).toDF()).withColumn("batch_id", lit(i.toLong))
      .write.mode("append").partitionBy("day").parquet(path)

  private def truth(upTo: Int): Seq[String] =
    rows(DailyCounts.dailyEventCounts(batches.take(upTo).flatten.toDF()))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The read with an inferred schema: dedup when `batch_id` is present, then re-sum. */
  private def inferredRead(path: String): Seq[String] = {
    val raw = spark.read.parquet(path)
    rows(DailyCounts.resum(
      if (raw.columns.contains("batch_id")) raw.dropDuplicates("batch_id" +: keys).drop("batch_id")
      else raw, keys))
  }

  private def checked(name: String, path: String, want: Seq[String]): Unit = {
    val (frame, planJobs) = jobsRun(StreamingMVs.readDailyCounts(spark, path))
    val (got, runJobs) = jobsRun(rows(frame))
    info(s"$name: $planJobs jobs to build the frame, $runJobs to run it")
    assert(planJobs === 0, s"$name: schema inference or listing ran a job")
    assert(runJobs <= 2, s"$name: $runJobs jobs")
    assert(got === want, name)
    assert(got === inferredRead(path), name)
  }

  test("readDailyCounts: an uncompacted table") {
    val path = tmpDir("mv_read_plain")
    (0 until 3).foreach(append(path, _))
    checked("uncompacted", path, truth(3))
  }

  test("readDailyCounts: a compacted table (no batch_id column)") {
    val path = tmpDir("mv_read_compacted")
    (0 until 3).foreach(append(path, _))
    Maintenance.compactPartials(spark, path)
    assert(!spark.read.parquet(path).columns.contains("batch_id"))
    checked("compacted", path, truth(3))
  }

  test("readDailyCounts: a compacted table with batches appended after") {
    val path = tmpDir("mv_read_mixed")
    (0 until 2).foreach(append(path, _))
    Maintenance.compactPartials(spark, path)
    (2 until 4).foreach(append(path, _))
    checked("mixed", path, truth(4))
  }

  test("readDailyCounts: a replayed batch counts once") {
    val path = tmpDir("mv_read_replayed")
    (0 until 3).foreach(append(path, _))
    append(path, 1)
    assert(spark.read.parquet(path).count() > DailyCounts.dailyEventCounts(
      batches.take(3).flatten.toDF()).count())
    checked("replayed", path, truth(3))
  }
}
