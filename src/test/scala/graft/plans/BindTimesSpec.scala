package graft.plans

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.binlog.{Maintenance, Schemas, TransactionStats}

/** [[BindTimesRule]]: a dashboard query shape compiles once, whatever its
  * time bounds; scans still see literal bounds; results equal the
  * interpreted engine's; `explain` output does not change.
  */
class BindTimesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val day0 = ts("2024-03-01 00:00:00").getTime
  private val dayMs = 86400000L

  /** Three days of events, ten gtids a window in the first hour of each. */
  private lazy val eventsPath = {
    val rows = for {
      d <- 0 until 3; w <- 0 until 12; g <- 0 until 10; k <- 0 until 3
    } yield {
      val at = day0 + d * dayMs + w * 300000L + g * 20000L + k * 1000L
      Schemas.BinlogEvent("db", "t", "INSERT", 0, "f", (1000 * g + 100 * k + w).toString,
        "utf8", new Timestamp(at), s"g$d-$w-$g", (k + g).toLong, (50 + g * k).toString,
        new Timestamp(at))
    }
    val p = tmpDir("bindtimes_events")
    Maintenance.writeEvents(rows.toDF(), p)
    p
  }
  private def events = spark.read.schema(Schemas.binlogEvent).parquet(eventsPath)

  private lazy val statsPath = {
    val rows = for (d <- 0 until 3; w <- 1 to 288) yield Schemas.WindowTopStat(
      new Timestamp(day0 + d * dayMs + w * 300000L), "5min", s"g$d-$w",
      (w * 7 + d) % 50, (w * 13 + d * 5) % 97, (w * 3) % 11)
    val p = tmpDir("bindtimes_stats")
    rows.toDF().write.mode("overwrite").parquet(p)
    p
  }
  private def statsDay(d: Int, metric: String) = {
    val s = day0 + d * dayMs
    spark.read.schema(Schemas.windowTopStat).parquet(statsPath)
      .filter(col("end_time") > lit(new Timestamp(s)) && col("end_time") <= lit(new Timestamp(s + dayMs)))
      .orderBy(col(metric).desc, col("gtid").desc).limit(1)
  }

  private def window(d: Int, w: Int, minutes: Int) = {
    val s = day0 + d * dayMs + w * 300000L
    (new Timestamp(s), new Timestamp(s + minutes * 60000L))
  }

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def boundTimes(p: SparkPlan): Int = {
    var n = 0
    foreachNode(p)(_.expressions.foreach(e => n += e.collect { case b: BoundTime => b }.size))
    n
  }

  test("a new window compiles no new classes: top1ForRange, hourly forRange, stats day read") {
    def top1(d: Int, w: Int) = {
      val (s, e) = window(d, w, 5)
      TransactionStats.top1ForRange(events, s, e, "5min", "transaction_size").collect()
    }
    def hourly(d: Int) = {
      val (s, e) = window(d, 0, 60)
      TransactionStats.forRange(events, s, e, "1h").collect()
    }
    // the first run of each shape may compile; every later window must not
    val shapes = Seq[(String, Int => Array[Row])](
      "top1ForRange" -> (i => top1(i % 3, i)),
      "forRange 1h" -> (i => hourly(i % 3)),
      "stats day read" -> (i => statsDay(i % 3, "transaction_size").collect()))
    shapes.foreach { case (name, run) =>
      val (first, _) = compiledClasses(run(0))
      assert(first.nonEmpty, name)
      (1 to 2).foreach { i =>
        val (rows, compiled) = compiledClasses(run(i))
        info(s"$name, window $i: $compiled classes compiled")
        assert(rows.nonEmpty, name)
        assert(compiled === 0, s"$name compiled $compiled classes for a new window")
      }
    }
    // the counter does see compiles: a new integer bound is still a constant
    val q = (k: Int) => events.filter(col("single_statement_affected_rows") > lit(k.toLong)).collect()
    val (_, compiled) = compiledClasses(q(7 + (System.nanoTime() % 1000000).toInt))
    assert(compiled > 0)
  }

  test("scans keep literal bounds: PartitionFilters, PushedFilters and day pruning are unchanged") {
    val (s, e) = window(1, 2, 5)
    val plan = finalPlan(TransactionStats.top1ForRange(events, s, e, "5min", "transaction_size"))
    assert(boundTimes(plan) > 0, "the rule did not bind the filter above the scan")
    val scans = scala.collection.mutable.Buffer.empty[FileSourceScanExec]
    foreachNode(plan) { case f: FileSourceScanExec => scans += f; case _ => () }
    assert(scans.size === 1)
    val scan = scans.head
    assert(scan.selectedPartitions.partitionCount === 1, "day pruning did not prune")
    assert(scan.partitionFilters.nonEmpty)
    assert(boundTimes(scan) === 0)
    assert((scan.partitionFilters ++ scan.dataFilters).exists(_.exists(_.isInstanceOf[Literal])))
    val meta = scan.metadata
    Seq("PartitionFilters", "PushedFilters").foreach { k =>
      assert(meta(k).contains("2024-03-02"), s"$k: ${meta(k)}")
    }
    assert(meta("PushedFilters").contains("execute_time"))
  }

  test("timestamp, timestamp_ntz and date bounds give the interpreted engine's rows") {
    val base = day0 + dayMs
    val rows = (0 until 48).map { h =>
      val at = base + h * 1800000L
      (new Timestamp(at), LocalDateTime.ofEpochSecond(at / 1000, 0, java.time.ZoneOffset.UTC),
        new Date(day0 + (h % 4) * dayMs), h.toLong)
    }
    val p = tmpDir("bindtimes_types")
    rows.toDF("ts", "ntz", "d", "v").write.mode("overwrite").parquet(p)
    val t = spark.read.parquet(p)
    val midnight = new Timestamp(base + dayMs)
    val ntzBound = LocalDateTime.ofEpochSecond((base + 5 * 1800000L) / 1000, 0, java.time.ZoneOffset.UTC)
    val queries = Seq[(String, DataFrame)](
      // half-open window whose upper bound is midnight
      "timestamp, midnight upper bound" -> t
        .filter(col("ts") >= lit(new Timestamp(base + 1800000L)) && col("ts") < lit(midnight))
        .select(col("v"), lit(midnight).as("end_time")),
      "timestamp_ntz <=>" -> t.filter(col("ntz") <=> lit(ntzBound))
        .select(col("v"), lit(ntzBound).as("at")),
      "timestamp_ntz range" -> t.filter(col("ntz") > lit(ntzBound)).select(col("v")),
      "date range, aliased bound" -> t
        .filter(col("d") > lit(new Date(day0)) && col("d") <= lit(new Date(day0 + 2 * dayMs)))
        .groupBy(col("d")).agg(sum(col("v")).as("s"))
        .select(col("d"), col("s"), lit(new Date(day0 + 2 * dayMs)).as("until")),
      "date <=>" -> t.filter(col("d") <=> lit(new Date(day0 + 3 * dayMs))).select(col("v")))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    queries.foreach { case (name, df) =>
      val got = sorted(df)
      assert(boundTimes(df.queryExecution.executedPlan) > 0, s"$name: nothing bound")
      assert(got.nonEmpty, name)
      // a new Dataset, so that it plans under the interpreted settings
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(sorted(df.select(df.columns.map(col): _*)))
      assert(got === interpreted, name)
    }
  }

  test("top1ForRange's executed plan prints as it did with literal bounds") {
    val (s, e) = window(0, 3, 5)
    def query = TransactionStats.top1ForRange(events, s, e, "5min", "transaction_affected_rows")
    // adaptive: the final plan's filter prints as in the initial plan,
    // which is planned before the rule runs
    val adaptive = finalPlan(query)
    assert(boundTimes(adaptive) > 0)
    val Array(finalPart, initialPart) = adaptive.toString.split("== Initial Plan ==")
    def filters(section: String) = section.linesIterator
      .map(_.replaceAll("""^[\s:+-]*(\*\(\d+\) )?""", ""))
      .filter(_.startsWith("Filter ")).toSet
    assert(filters(finalPart).nonEmpty)
    assert(filters(finalPart) === filters(initialPart))
    // non-adaptive: the whole tree against itself with the literals put back
    val plan = withConf("spark.sql.adaptive.enabled" -> "false")(finalPlan(query))
    assert(boundTimes(plan) > 0)
    val literal = plan.transformUp { case p =>
      p.transformExpressions { case b: BoundTime => Literal(b.value, b.dataType) }
    }
    assert(boundTimes(literal) === 0)
    // a copied exchange prints a fresh plan id
    def printed(p: SparkPlan) = p.toString.replaceAll("plan_id=\\d+", "plan_id")
    assert(printed(plan) === printed(literal))
    assert(plan.toString.contains("2024-03-01 00:20:00"))
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
