package pipebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the op it belongs to (-1: none); `parent` is
  * the index of the enclosing span (-1: a top-level op span).
  */
final case class Span(name: String, op: Int, parent: Int, startMs: Long, startNs: Long,
    var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spans recorded by the benchmark around its calls into the program, and
  * the engine's own events read through Spark's public listener APIs. Both
  * are on only for the ops run between [[on]] and [[off]]. They are kept in
  * memory and written out once, when the run ends. Events are attributed to
  * the op span whose wall-clock interval contains them (there is one client,
  * so ops never overlap).
  */
final class Trace(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var openStack: List[Int] = Nil
  /** Off outside [[on]]/[[off]]: untraced ops record no spans. */
  private var recording = false

  /** Times `body` as a span; a span opened with no span open is an op span. */
  def span[T](name: String, op: Int)(body: => T): T = if (!recording) body else {
    val parent = openStack.headOption.getOrElse(-1)
    val idx = spans.size
    spans += Span(name, op, parent, System.currentTimeMillis(), System.nanoTime())
    openStack = idx :: openStack
    try body
    finally {
      spans(idx).endNs = System.nanoTime()
      openStack = openStack.tail
    }
  }

  final case class StageRec(submitMs: Long, doneMs: Long, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, scans: Seq[FileSourceScanExec])
  final case class ProgressRec(atMs: Long, durations: Map[String, Long])

  val jobs = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  private object Scans extends AdaptiveSparkPlanHelper {
    /** File scans of an executed plan, through AQE stages and the plans of
      * cached relations (whose scan runs inside the first job that reads them).
      */
    def of(plan: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec => Seq(s)
        case m: InMemoryTableScanExec => of(m.relation.cachedPlan)
      }.flatten
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      qes.add(QeRec(at, d("analysis"), d("optimization"), d("planning"),
        Scans.of(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Turns spans and listeners on for the next op. */
  def on(): Unit = {
    recording = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Turns them off after the op. Listener events arrive asynchronously, so
    * this first waits until the listener bus has delivered every event the
    * op posted.
    */
  def off(): Unit = {
    org.apache.spark.PipebenchListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    recording = false
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  def opSpans: Seq[Span] = spans.toSeq.filter(s => s.parent == -1 && s.op >= 0)

  /** The op span containing wall-clock time `ms` (1 ms of slack for clock
    * granularity), if any.
    */
  def opAt(ms: Long): Option[Span] = opSpans.find(s => ms >= s.startMs - 1 && ms <= s.endMs + 1)

  /** The span named `name` of any op that contains `ms`. */
  def inSpan(name: String, ms: Long): Boolean =
    spans.exists(s => s.name == name && ms >= s.startMs - 1 && ms <= s.endMs + 1)

  /** Per-layer metrics of the engine-side events inside op spans. */
  def engineMetrics(): Map[String, Double] = {
    val ops = opSpans
    val nOps = math.max(1, ops.size).toDouble
    val inOp = (ms: Long) => opAt(ms).isDefined
    val st = stages.asScala.toSeq.filter(s => inOp(s.submitMs))
    val qs = qes.asScala.toSeq.filter(q => inOp(q.atMs))
    // time with any stage active, per op, as a union of intervals
    val busyMs = ops.map { op =>
      val iv = st.filter(s => s.submitMs >= op.startMs - 1 && s.submitMs <= op.endMs + 1)
        .map(s => (s.submitMs, math.max(s.submitMs, s.doneMs))).sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) busy += curE - curS
      math.max(0.0, op.ms - busy)
    }
    def perOp(x: Double) = x / nOps
    def scanSum(metric: String, q: Seq[QeRec]): Double = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
      q.flatMap(_.scans).filter(seen.add).map(_.metrics.get(metric).map(_.value).getOrElse(0L))
        .sum.toDouble
    }
    Map(
      "plan.analysis_ms" -> perOp(qs.map(_.analysisMs).sum),
      "plan.optimization_ms" -> perOp(qs.map(_.optimizationMs).sum),
      "plan.planning_ms" -> perOp(qs.map(_.planningMs).sum),
      "scan.partitions_read" -> perOp(scanSum("numPartitions", qs)),
      "scan.files_read" -> perOp(scanSum("numFiles", qs)),
      "sched.jobs" -> perOp(jobs.asScala.count(inOp)),
      "sched.stages" -> perOp(st.size),
      "sched.tasks" -> perOp(st.map(_.tasks).sum),
      "driver.ms" -> perOp(busyMs.sum),
      "exec.run_ms" -> perOp(st.map(_.runMs).sum),
      "exec.cpu_ms" -> perOp(st.map(_.cpuNs).sum / 1e6),
      "exec.gc_ms" -> perOp(st.map(_.gcMs).sum),
      "shuffle.read_bytes" -> perOp(st.map(_.shuffleRead).sum),
      "shuffle.write_bytes" -> perOp(st.map(_.shuffleWrite).sum),
      "spill.bytes" -> perOp(st.map(_.spill).sum)
    ) ++ {
      val cq = qs.filter(q => inSpan("compute", q.atMs))
      Map(
        "compute.jobs" -> perOp(jobs.asScala.count(t => inSpan("compute", t))),
        "compute.files_read" -> perOp(scanSum("numFiles", cq)))
    } ++ {
      val ps = progress.asScala.toSeq.filter(p => inOp(p.atMs) && p.durations.contains("addBatch"))
      def dur(k: String) = perOp(ps.map(_.durations.getOrElse(k, 0L)).sum)
      Map(
        "source.latest_offset_ms" -> dur("latestOffset"),
        "source.get_batch_ms" -> dur("getBatch"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.batches" -> perOp(ps.size))
    }
  }

  /** Mean time per op of the spans named `name`. */
  def spanMeanMs(name: String): Double = {
    val n = math.max(1, opSpans.size)
    spans.filter(_.name == name).map(_.ms).sum / n
  }

  /** Per traced op, the share of its wall time (`wallMs`, as the op timed
    * itself) that the child spans of its top-level span cover.
    */
  def coverage(wallMs: Int => Double): Map[Int, Double] =
    spans.zipWithIndex.collect { case (s, i) if s.parent == -1 && s.op >= 0 =>
      s.op -> spans.filter(_.parent == i).map(_.ms).sum / math.max(wallMs(s.op), 1e-6)
    }.toMap
}
