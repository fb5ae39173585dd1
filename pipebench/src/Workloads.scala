package pipebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.binlog.{Ingest, Pipeline, TransactionStats}
import graft.sources.BinlogSources
import graft.streaming.{StreamingIngest, StreamingMVs}

/** One op's outcome: whether every check passed, its timed latency, and
  * for ops that ingest, the envelopes consumed and the ingest time.
  */
final case class OpOut(ok: Boolean, latencyNs: Long, rows: Long = 0L, ingestNs: Long = 0L)

/** A workload: set-up (inputs, tables), a closed loop of ops, and checks
  * that can only run once the loop has ended.
  */
trait Workload {
  /** Ops run before timing starts, part of set-up. */
  def warmupOps: Int
  /** The timed loop runs whole rounds of this many ops. */
  def opsPerRound: Int = 1
  def setup(): Unit
  def op(i: Int): OpOut
  /** End-of-run checks: (attempted, failed). */
  def finish(): (Int, Int)
  /** Workload-side per-layer metrics of a traced run over ops `traced`. */
  def layers(traced: Seq[Int]): Map[String, Double]
}

/** Shared plumbing: envelope files, the streaming ingest of
  * `Pipeline.runIngest` over the binary path, and outside-in sink counts.
  */
abstract class BinlogWorkload(spark: SparkSession, base: String, tr: Trace)
    extends Workload {
  val layout: Pipeline.Layout = Pipeline.Layout(s"$base/pipeline")
  val replayDir = s"$base/envelopes"
  private val staging = s"$base/staging"
  private val schema = StructType(Seq(StructField("value", BinaryType)))
  private val parquetSchema =
    MessageTypeParser.parseMessageType("message envelopes { optional binary value; }")
  new File(replayDir).mkdirs()

  /** Writes each batch of envelopes as one parquet file (a single binary
    * `value` column, as a Kafka source would deliver it) under `staging`,
    * without Spark, and returns the files in batch order.
    */
  def stageFiles(name: String, batches: Seq[Array[Ev]]): Seq[File] =
    batches.zipWithIndex.map { case (evs, i) =>
      val f = new File(s"$staging/$name-$i.parquet")
      val w = ExampleParquetWriter.builder(new Path(f.getPath)).withType(parquetSchema)
        .withConf(new Configuration()).build()
      try {
        val groups = new SimpleGroupFactory(parquetSchema)
        evs.foreach(e => w.write(groups.newGroup().append("value", Binary.fromConstantByteArray(e.bytes))))
      } finally w.close()
      f
    }

  /** Moves a staged file into the replay directory: the move is when the
    * file lands.
    */
  def land(staged: File, name: String): Unit =
    Files.move(staged.toPath, Paths.get(replayDir, s"$name.parquet"),
      StandardCopyOption.ATOMIC_MOVE)

  /** replay → decode/filter → day-partitioned sink + MV partials, both
    * AvailableNow, run to completion (`Pipeline.runIngest`'s shape), taking
    * `filesPerBatch` new files per micro-batch.
    */
  def ingest(op: Int, filesPerBatch: Int = 1): Long = {
    val t = System.nanoTime()
    val raw = tr.span("source.replay", op)(
      BinlogSources.replay(spark, replayDir, schema, filesPerBatch))
    val shaped = StreamingIngest.transformBinary(raw, "value")
    val (q1, q2) = tr.span("stream.start", op) {
      (StreamingIngest.writer(shaped, layout.eventTable, layout.checkpointIngest).start(),
        StreamingMVs.partialsWriter(shaped.select(col("execute_time"), col("event_type")),
          layout.mvPartials, layout.checkpointMv).start())
    }
    tr.span("stream.run", op) { q1.awaitTermination(); q2.awaitTermination() }
    System.nanoTime() - t
  }

  /** Per-batch row counts of the sink's `batch_id=` directories. */
  def sinkBatchCounts(): Map[Long, Long] =
    spark.read.parquet(layout.eventTable).groupBy("batch_id").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap

  /** Checks MV1 daily counts, read through the MV read path. */
  def dailyCountsMatch(expected: Map[(String, String), Long]): Boolean = {
    val got = Pipeline.readDailyCounts(spark, layout).collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getAs[Number](2).longValue).toMap
    got == expected
  }

  /** Outside-in counts over the replayed files and the sink. */
  def ingestCounts(written: Long): Map[String, Double] = {
    val raw = spark.read.parquet(replayDir)
    val decoded = raw.select(
      org.apache.spark.sql.graft.DecodeEnvelope.column(col("value")).as("e"))
    val r = decoded.agg(count(lit(1)), count(when(col("e").isNull, 1)),
      count(when(col("e.event_type") === "TRANSACTIONBEGIN", 1))).head()
    val (in, bad, begin) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Map("ingest.rows_in" -> in.toDouble, "ingest.rows_malformed" -> bad.toDouble,
      "ingest.rows_begin" -> begin.toDouble, "ingest.rows_written" -> written.toDouble,
      "ingest.rows_unaccounted" -> (in - bad - begin - written).toDouble)
  }

  /** Decode cost per row: `Ingest.decodeBinaryEnvelope` over every replayed
    * envelope, repeated 20 times so decode outweighs per-job overhead, minus
    * the same pass without the decode; the fastest of five each.
    */
  def decodeNsPerRow(): Double = {
    val copies = 20
    val raw = spark.read.parquet(replayDir)
      .select(explode(array_repeat(col("value"), copies)).as("value"))
    val rows = spark.read.parquet(replayDir).count() * copies
    def best(df: => DataFrame) = (1 to 5).map { _ =>
      val t = System.nanoTime(); df.queryExecution.toRdd.count(); System.nanoTime() - t
    }.min
    val scan = best(raw.select(length(col("value"))))
    val dec = best(Ingest.decodeBinaryEnvelope(raw, "value"))
    (dec - scan).toDouble / math.max(1L, rows)
  }

  def sinkLayout(rows: Long): Map[String, Double] = {
    val files = Files.walk(Paths.get(layout.eventTable)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    val bytes = files.map(p => Files.size(p)).sum
    val batches = new File(layout.eventTable).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    Map("sink.files" -> files.size.toDouble,
      "sink.bytes_per_row" -> bytes.toDouble / math.max(1L, rows),
      "sink.files_per_batch" -> files.size.toDouble / math.max(1, batches))
  }

  def storageLayers(): Map[String, Double] = {
    val written = sinkBatchCounts().values.sum
    ingestCounts(written) ++ sinkLayout(written) ++ Map("decode.ns_per_row" -> decodeNsPerRow())
  }
}

/** `binlog_ticks`: each op is one tick. A file of envelopes covering the
  * next five minutes of event time lands; the tick ingests it, runs
  * `Pipeline.runCompute` with `now` at the tick's end, and reads back the
  * closed window's three top-1 rows.
  */
final class Ticks(spark: SparkSession, base: String, tr: Trace, seed: Long, perTick: Int)
    extends BinlogWorkload(spark, base, tr) {

  // on 4 cores the first tick takes about 15 s and the second about 6 s;
  // from the fifth on, ticks stay within about a tenth of their steady time.
  // A count, not a time limit, so that a slow host does not also get a
  // colder JVM; no more, so that a run fits the benchmark's time budget
  val warmupOps = 4
  private val gen = new Gen(seed)
  // 22:00 UTC on a seed-chosen day: the ticks cross midnight, so the sink
  // holds more than one day= partition
  private val t0 = java.time.LocalDate.of(2024, 3, 1).plusDays(seed.abs % 28)
    .toEpochDay * Ref.DayMs + 22 * 3600000L
  private val expectedWritten = mutable.ArrayBuffer.empty[Long]
  private val daily = mutable.HashMap.empty[(String, String), Long]
  private val readbackOk = mutable.ArrayBuffer.empty[Boolean]
  private val windowsWritten = mutable.HashMap.empty[Int, Int]

  def setup(): Unit = ()

  def op(k: Int): OpOut = {
    val startMs = t0 + k * Ref.WindowMs
    val evs = gen.file(k, startMs, Ref.WindowMs, perTick)
    expectedWritten += evs.count(_.written)
    Ref.dailyCounts(evs.iterator).foreach { case (key, n) =>
      daily.update(key, daily.getOrElse(key, 0L) + n)
    }
    // a window is computed once, at the tick where it closes: only this
    // tick's on-time events count; late events are for closed windows
    val stats = Ref.stats(Ref.aggregate(evs.iterator.filter(_.kind == Kind.Valid)))
    val expected = Ref.Metrics.map(m => m -> Ref.top1(stats, m)).toMap
    val name = f"tick-$k%05d"
    val staged = stageFiles(name, Seq(evs)).head

    val t = System.nanoTime()
    val out = try {
      tr.span("tick", k) {
        tr.span("land", k)(land(staged, name))
        val ingestNs = tr.span("ingest", k)(ingest(k))
        val end = new Timestamp(startMs + Ref.WindowMs)
        val n = tr.span("compute", k)(Pipeline.runCompute(spark, layout, end))
        windowsWritten(k) = n
        val rows = tr.span("readback", k) {
          Ref.Metrics.map { m =>
            m -> spark.read.parquet(layout.statTable(m))
              .filter(col("end_time") === lit(end)).collect().toSeq
          }.toMap
        }
        val good = tr.span("check", k)(n == Ref.Metrics.size && Ref.Metrics.forall { m =>
          rows(m) match {
            case Seq(r) =>
              val s = expected(m)
              r.getAs[String]("gtid") == s.gtid &&
                r.getAs[Long]("transaction_size") == s.size &&
                r.getAs[Long]("transaction_affected_rows") == s.affected &&
                r.getAs[Long]("transaction_spend_time") == s.spend
            case _ => false
          }
        })
        OpOut(good, System.nanoTime() - t, evs.length, ingestNs)
      }
    } catch {
      case e: Exception =>
        Console.err.println(s"tick $k failed: $e"); OpOut(false, System.nanoTime() - t)
    }
    readbackOk += out.ok
    out
  }

  /** Per-tick conservation (written = in − malformed − BEGIN, from the
    * generator's records) for every tick, and the MV daily counts.
    */
  def finish(): (Int, Int) = {
    val got = scala.util.Try(sinkBatchCounts()).getOrElse(Map.empty[Long, Long])
    // ticks are already attempted ops: a tick that passed its read-back but
    // breaks conservation adds one failure; the MV check is one more op
    val unconserved = Ref.unconserved(expectedWritten.toIndexedSeq, got).count(readbackOk)
    val mv = scala.util.Try(dailyCountsMatch(daily.toMap)).getOrElse(false)
    (1, unconserved + (if (mv) 0 else 1))
  }

  def layers(traced: Seq[Int]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    Map(
      "compute.ms" -> tr.spanMeanMs("compute"),
      "compute.windows_written" -> traced.map(windowsWritten.getOrElse(_, 0)).sum / n,
      "streaming.start_ms" -> tr.spanMeanMs("stream.start")
    ) ++ storageLayers()
  }
}

/** `binlog_dashboard`: read-only dashboard queries over a multi-day event
  * table that set-up builds through the same streaming sink, plus the
  * `stats_*` tables one `runCompute` over it writes.
  */
final class Dashboard(spark: SparkSession, base: String, tr: Trace, seed: Long,
    files: Int, perFile: Int, fileSpanMs: Long) extends BinlogWorkload(spark, base, tr) {

  // two query-mix cycles: on 4 cores the cycle mean falls by about a
  // quarter from the first cycle to the second and then stays within
  // about 5 %
  val warmupOps = 40
  private val rnd = new SplittableRandom(seed * 31 + 7)
  private val day0 = java.time.LocalDate.of(2024, 4, 1).plusDays(seed.abs % 28)
    .toEpochDay * Ref.DayMs
  private val spanEnd = day0 + files * fileSpanMs
  private val nWindows = ((spanEnd - day0) / Ref.WindowMs).toInt
  private var windowAggs: Array[Map[String, Ref.Agg]] = _
  private var windowTop: Array[Map[String, Ref.Stat]] = _
  private var daily: Map[(String, String), Long] = _

  def setup(): Unit = {
    val t0 = System.nanoTime()
    val gen = new Gen(seed)
    val batches = (0 until files).map(i => gen.file(i, day0 + i * fileSpanMs, fileSpanMs, perFile))
    stageFiles("inputs", batches).zipWithIndex.foreach { case (f, i) => land(f, f"part-$i%04d") }
    val all = batches.flatten
    val t1 = System.nanoTime()
    // one micro-batch for all files: a cold streaming batch costs seconds,
    // and set-up time is better spent warming the queries
    ingest(-1, files)
    val t2 = System.nanoTime()
    Pipeline.runCompute(spark, layout, new Timestamp(spanEnd))
    val t3 = System.nanoTime()
    println(s"setup_ms inputs ${(t1 - t0) / 1000000} ingest ${(t2 - t1) / 1000000} " +
      s"compute ${(t3 - t2) / 1000000}")
    val kept = all.filter(_.written)
    val byWindow = kept.groupBy(e => Ref.windowOf(e.ms) - Ref.windowOf(day0))
    windowAggs = Array.tabulate(nWindows)(w =>
      Ref.aggregate(byWindow.getOrElse(w.toLong, Nil).iterator))
    windowTop = windowAggs.map { a =>
      val st = Ref.stats(a)
      if (st.isEmpty) Map.empty[String, Ref.Stat]
      else Ref.Metrics.map(m => m -> Ref.top1(st, m)).toMap
    }
    daily = Ref.dailyCounts(kept.iterator)
  }

  private def ts(ms: Long) = new Timestamp(ms)
  private def statOf(r: Row) = Ref.Stat(r.getAs[String]("gtid"),
    r.getAs[Long]("transaction_spend_time"), r.getAs[Long]("transaction_size"),
    r.getAs[Long]("transaction_affected_rows"))

  /** Query kinds in a fixed mix, shuffled per cycle: every cycle of 20 ops
    * runs the same number of each, so runs differ only in which windows,
    * hours, days and metrics they ask for.
    */
  private val cycle = Seq.fill(7)(0) ++ Seq.fill(4)(1) ++ Seq.fill(3)(2) ++ Seq.fill(6)(3)
  private var pending = List.empty[Int]
  // whole cycles only: the kinds' latencies differ about twofold, so a
  // partial cycle would shift the percentiles with the mix it happened to cut
  override val opsPerRound: Int = cycle.size

  private def nextKind(): Int = {
    if (pending.isEmpty) {
      val a = cycle.toArray
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      pending = a.toList
    }
    val k = pending.head
    pending = pending.tail
    k
  }

  /** One seeded dashboard query: the frame to run and the check of its rows
    * against the reference.
    */
  private def pickQuery(): (() => DataFrame, Array[Row] => Boolean) = {
    val kind = nextKind()
    val metric = Ref.Metrics(rnd.nextInt(Ref.Metrics.size))
    def events = spark.read.parquet(layout.eventTable)
    if (kind == 0) {
      // TransactionStats.top1ForRange over one 5-minute window
      val w = rnd.nextInt(nWindows)
      val s = day0 + w * Ref.WindowMs
      (() => TransactionStats.top1ForRange(events, ts(s), ts(s + Ref.WindowMs), "5min", metric),
        got => windowTop(w).get(metric) match {
          case Some(want) => got.length == 1 && statOf(got(0)) == want
          case None => got.isEmpty
        })
    } else if (kind == 1) {
      // TransactionStats.forRange over one hour
      val h = rnd.nextInt(nWindows / 12)
      val s = day0 + h * 3600000L
      (() => TransactionStats.forRange(events, ts(s), ts(s + 3600000L), "1h"),
        got => {
          val want = Ref.stats(Ref.mergeAll((h * 12 until h * 12 + 12).iterator.map(windowAggs)))
          got.length == want.size && got.map(statOf).toSet == want.toSet
        })
    } else if (kind == 2) {
      (() => Pipeline.readDailyCounts(spark, layout),
        got => got.length == daily.size && got.map(r =>
          (r.get(0).toString, r.getString(1)) -> r.getAs[Number](2).longValue).toMap == daily)
    } else {
      // top-1 of one day's rows of a stats_* table
      val d = rnd.nextInt(math.max(1, nWindows / 288))
      val s = day0 + d * Ref.DayMs
      (() => spark.read.parquet(layout.statTable(metric))
          .filter(col("end_time") > lit(ts(s)) && col("end_time") <= lit(ts(s + Ref.DayMs)))
          .orderBy(col(metric).desc, col("gtid").desc).limit(1),
        got => {
          val want = (d * 288 until math.min(nWindows, (d + 1) * 288))
            .flatMap(w => windowTop(w).get(metric))
          got.length == 1 && statOf(got(0)) == Ref.top1(want, metric)
        })
    }
  }

  def op(i: Int): OpOut = {
    val (query, check) = pickQuery()
    val t = System.nanoTime()
    try {
      val rows = tr.span("query", i) {
        val df = tr.span("build", i)(query())
        tr.span("execute", i)(df.collect())
      }
      val latency = System.nanoTime() - t
      OpOut(check(rows), latency)
    } catch {
      case e: Exception =>
        Console.err.println(s"query $i failed: $e"); OpOut(false, System.nanoTime() - t)
    }
  }

  def finish(): (Int, Int) = (0, 0)

  def layers(traced: Seq[Int]): Map[String, Double] =
    Map("compute.ms" -> 0.0, "compute.windows_written" -> 0.0,
      "streaming.start_ms" -> 0.0) ++ storageLayers()
}
