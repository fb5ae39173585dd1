package pipebench

import scala.collection.mutable

/** One benchmark run in one fresh JVM:
  * `pipebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>`.
  *
  * Set-up (inputs, tables, a fixed number of warm-up ops) runs
  * first; then a closed loop with one client runs ops for `seconds`, rounded
  * up to whole rounds of the workload's `opsPerRound`. An
  * untraced run prints the end-to-end metrics. A traced run turns listeners
  * and spans on for every other timed round; it prints the per-layer metrics
  * of the traced ops and the tracing overhead (median latency of the traced
  * ops minus that of the untraced ones in between).
  *
  * Stdout carries `setup_end_epoch_ms <t>` and, last, `result <json>`; the
  * launcher turns these into the benchmark's output line.
  */
object Main {

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":$x"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = opt("root")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.Tables.session("pipebench", s"local[$cores]", cores)
    println(s"setup_ms session ${(System.nanoTime() - t0) / 1000000}")
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Trace(spark)
    val wl: Workload = opt("workload") match {
      case "binlog_ticks" => new Ticks(spark, s"$root/ticks", tr, seed, perTick = 10000)
      case "binlog_dashboard" =>
        new Dashboard(spark, s"$root/dashboard", tr, seed, files = 4, perFile = 20000,
          fileSpanMs = 24 * 3600000L)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val outs = mutable.ArrayBuffer.empty[OpOut]
    val tracedOps = mutable.ArrayBuffer.empty[Int]
    var liveFrames = 0
    def runOp(traceIt: Boolean): Unit = {
      val i = outs.size
      if (traceIt) tr.on()
      val o = try wl.op(i) finally if (traceIt) tr.off()
      outs += o
      if (traceIt) {
        tracedOps += i
        liveFrames = math.max(liveFrames, spark.sparkContext.getPersistentRDDs.size)
      }
    }

    wl.setup()
    (1 to wl.warmupOps).foreach(_ => runOp(false))
    val warm = outs.size
    println(s"warmup_ops $warm")
    println(s"setup_end_epoch_ms ${System.currentTimeMillis()}")

    val end = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run traces every other round, so both sides see the same mix
    while (System.nanoTime() < end || (outs.size - warm) % wl.opsPerRound != 0)
      runOp(traced && (outs.size - warm) / wl.opsPerRound % 2 == 1)

    println("op_ms " + outs.map(o => math.round(o.latencyNs / 1e6)).mkString(","))
    val (endAttempted, endFailed) = wl.finish()
    val timed = outs.toSeq.drop(warm)
    def ms(i: Int) = outs(i).latencyNs / 1e6
    // a traced op whose child spans miss more than a tenth of its wall time
    // fails: the trace would not account for where that time went
    val coverage = if (traced) tr.coverage(ms) else Map.empty[Int, Double]
    val lowCoverage = coverage.filter(_._2 < 0.9).keySet
    lowCoverage.toSeq.sorted.foreach(i =>
      Console.err.println(f"op $i: child spans cover ${coverage(i)}%.3f of its wall time"))
    val attempted = outs.size + endAttempted
    val failed = outs.indices.count(i => !outs(i).ok || lowCoverage(i)) + endFailed

    val metrics: Map[String, Double] =
      if (!traced) {
        val lat = timed.map(_.latencyNs / 1e6)
        Map(
          "op_p50_ms" -> percentile(lat, 0.5),
          "op_p75_ms" -> percentile(lat, 0.75),
          "ops_per_s" -> lat.size / math.max(1e-9, lat.sum / 1000))
      } else {
        tr.write(s"$root/trace.jsonl")
        val ingested = tracedOps.map(outs)
        val untraced = (warm until outs.size).filterNot(tracedOps.toSet)
        def p50(ops: Seq[Int]) = percentile(ops.map(ms), 0.5)
        tr.engineMetrics() ++ wl.layers(tracedOps.toSeq) ++ Map(
          "ingest.rows_per_s" ->
            ingested.map(_.rows).sum / math.max(1e-9, ingested.map(_.ingestNs).sum / 1e9),
          "trace.overhead_ms" -> (p50(tracedOps.toSeq) - p50(untraced)),
          "trace.span_coverage" -> (if (coverage.isEmpty) 0.0 else coverage.values.min),
          "frames.live_after_op" -> liveFrames.toDouble,
          "peak_rss_mb" -> peakRssMb(),
          "error_rate" -> failed.toDouble / math.max(1, attempted))
      }
    println(s"""result {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""timed_ops":${timed.size},"metrics":${json(metrics)}}""")
    spark.stop()
  }
}
