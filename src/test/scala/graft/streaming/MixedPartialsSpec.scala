package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.binlog.{DailyCounts, Maintenance}

/** Replay dedup on MIXED partials tables: rows without `batch_id` (written
  * by a compaction) next to a batch that landed twice under one
  * `batch_id`. Schema inference reads a single file's footer, so on such a
  * table it can miss `batch_id` and count the replayed batch twice; every
  * reader declares the table's schema instead. Each table spreads its
  * untagged rows over 20 days (or 20 files) and puts the replay in one day
  * (or one file per landing); three tables use three different replay
  * days, so whichever file an inferring reader looks at first, on most of
  * them it hides the column.
  */
class MixedPartialsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(23)
  private val day0 = 1700000000000L
  private val types = Seq("INSERT", "UPDATE", "DELETE", "QUERY")

  /** `n` events over all 20 days, or over `day` alone. */
  private def events(n: Int, day: Option[Int] = None): Seq[Ev] = (1 to n).map { _ =>
    Ev(new Timestamp(day0 + day.getOrElse(rnd.nextInt(20)) * 86400000L +
      rnd.nextInt(86400000)), types(rnd.nextInt(types.size)))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("compactPartials and readDailyCounts count a replayed batch once on a compacted table") {
    Seq(0, 7, 13).foreach { replayDay =>
      val path = tmpDir(s"mixed_mv1_$replayDay")
      val batches = Seq(events(400), events(400), events(60, Some(replayDay)))
      def append(i: Int): Unit =
        DailyCounts.dailyEventCounts(batches(i).toDF()).withColumn("batch_id", lit(i.toLong))
          .write.mode("append").partitionBy("day").parquet(path)
      append(0); append(1)
      Maintenance.compactPartials(spark, path)
      append(2); append(2) // at-least-once: batch 2 lands twice
      Maintenance.compactPartials(spark, path)
      val truth = rows(DailyCounts.dailyEventCounts(batches.flatten.toDF()))
      assert(rows(StreamingMVs.readDailyCounts(spark, path)) === truth, s"replay day $replayDay")
      assert(rows(spark.read.parquet(path).select("day", "event_type", "event_count")) === truth,
        s"compacted table, replay day $replayDay")
    }
  }

  test("readPercentiles counts a replayed batch once on a table with untagged rows") {
    Seq(0, 7, 13).foreach { replayDay =>
      val path = tmpDir(s"mixed_hist_$replayDay")
      def hist(evs: Seq[Ev]) = evs.map(e => (e.execute_time, e.event_type,
          (e.execute_time.getTime % 997) / 10.0))
        .toDF("ts", "event_type", "value")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
        .agg(count(lit(1)).as("cnt"))
      val untagged = events(800)
      val replayed = events(60, Some(replayDay))
      hist(untagged).write.mode("append").partitionBy("day").parquet(path)
      (1 to 2).foreach(_ => hist(replayed).withColumn("batch_id", lit(5L))
        .write.mode("append").partitionBy("day").parquet(path))
      val truth = graft.operators.Percentiles.discreteFromHistogram(
        hist(untagged ++ replayed), "event_type", "v_c", "cnt", Seq(0.5, 0.95), "pct_cents")
      assert(rows(StreamingMVs.readPercentiles(spark, path)) === rows(truth),
        s"replay day $replayDay")
    }
  }

  test("readCountMinSketch counts a replayed batch once on a table with untagged rows") {
    (1 to 3).foreach { t =>
      val path = tmpDir(s"mixed_sketch_$t")
      val untagged = (1 to 2000).map(_ => rnd.nextInt(300).toLong)
      val replayed = (1 to 100).map(_ => rnd.nextInt(300).toLong)
      // 20 untagged files whose (r, bucket) rows overlap: untagged rows all count
      untagged.grouped(100).foreach(keys => graft.operators.Sketches
        .sketchPartials(keys.toDF("user_id")).coalesce(1).write.mode("append").parquet(path))
      (1 to 2).foreach(_ => graft.operators.Sketches.sketchPartials(replayed.toDF("user_id"))
        .withColumn("batch_id", lit(5L)).coalesce(1).write.mode("append").parquet(path))
      val truth = graft.operators.Sketches.sketchPartials((untagged ++ replayed).toDF("user_id"))
      assert(rows(StreamingMVs.readCountMinSketch(spark, path)) === rows(truth), s"table $t")
    }
  }
}
