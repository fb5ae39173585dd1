package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** [[graft.plans.PlanGuard]] over STREAMING micro-batch plans (round-11
  * verdict #3): the per-query gate and the fleet sweep only ever walked
  * BATCH plans, so a hazard inside a streaming twin — `streamDupFlags`'
  * hinted stream-static corpus join in round 11 — was findable only by
  * hand review. This walks the LAST micro-batch's `IncrementalExecution`
  * through the same two guard layers (physical corpus products/funnels;
  * logical hinted broadcasts — hints survive analysis, so the analyzed
  * micro-batch plan still carries them). Every streaming twin's spec
  * asserts a drained query clean through here; the negative control (a
  * deliberately hinted stream-static corpus join) pins that the walk
  * actually sees through the micro-batch machinery.
  *
  * Lives in `org.apache.spark.sql.graft` because `StreamingQueryWrapper` — the public handle's
  * concrete class, and the only path to `StreamExecution.lastExecution`
  * — is `private[sql]`.
  *
  * A query that has processed NO batch reports a violation rather than
  * silence: a spec asserting "guard-clean" on a never-run stream would
  * otherwise pass vacuously.
  */
object StreamPlanGuard {
  def violations(q: StreamingQuery): Seq[String] = {
    unwrap(q) match {
      case Left(msg) => Seq(msg)
      case Right(exec) =>
        Option(exec.lastExecution) match {
          case None =>
            Seq("no micro-batch has executed — nothing to walk (drain the " +
              "stream before asserting guard-clean)")
          case Some(le) =>
            graft.plans.PlanGuard.corpusProductViolations(le.executedPlan) ++
              graft.plans.PlanGuard.hintedBroadcastViolations(le.analyzed)
        }
    }
  }

  private def unwrap(q: StreamingQuery): Either[String, StreamExecution] = q match {
    case w: StreamingQueryWrapper => Right(w.streamingQuery)
    case s: StreamExecution => Right(s)
    case other =>
      Left(s"unrecognized StreamingQuery implementation ${other.getClass.getName}")
  }

  /** EVERY-batch accumulation (round-12 verdict #2): the one-shot
    * [[violations]] walk sees only the LAST micro-batch's
    * `IncrementalExecution`, so a hazard whose plan shape exists only in
    * an earlier batch — a first-batch empty-state shape, a stream whose
    * static side crosses the broadcast threshold mid-run — escaped the
    * spec-time check. This records the walk of every batch it is shown
    * and the assert reads the ACCUMULATED history, not the last plan.
    *
    * Coverage is two-layered, because Spark retains only the last
    * `IncrementalExecution` and its listener bus is asynchronous:
    *   - '''deterministic''': the specs' `drainGuarded()` helper samples
    *     right after every `processAllAvailable()` — each drain point's
    *     batch is walked before the next feed can replace it — and the
    *     final assert samples once more, so the last batch is always
    *     covered;
    *   - '''opportunistic''': a [[StreamingQueryListener]] (registered
    *     once per session via [[Accumulator.attach]]) samples on every
    *     progress event, catching intermediate batches when one drain
    *     spans several.
    * Each (run, batch) is walked at most once (first writer wins), and
    * violations are remembered per batch id — a clean later batch can
    * never wash out a dirty earlier one.
    */
  final class Accumulator extends StreamingQueryListener {
    import java.util.UUID
    private val recorded =
      new java.util.concurrent.ConcurrentHashMap[(UUID, Long), Seq[String]]()
    private val sessions =
      new java.util.concurrent.CopyOnWriteArrayList[org.apache.spark.sql.SparkSession]()

    /** Walk the query's CURRENT last micro-batch plan and record it under
      * its batch id; a batch already recorded (by either layer) is not
      * re-walked. Safe to call from any thread — the walked
      * `IncrementalExecution` is a completed, immutable plan.
      */
    def sample(q: StreamingQuery): Unit = unwrap(q) match {
      case Left(_) => ()
      case Right(exec) =>
        Option(exec.lastExecution).foreach { le =>
          recorded.computeIfAbsent((exec.runId, le.currentBatchId), _ =>
            graft.plans.PlanGuard.corpusProductViolations(le.executedPlan) ++
              graft.plans.PlanGuard.hintedBroadcastViolations(le.analyzed))
          ()
        }
    }

    /** All recorded hazards for the query's current run, each prefixed
      * with its batch id; plus the never-run violation when NO batch of
      * this run was ever walked (a spec asserting clean on a never-run
      * stream must not pass vacuously). Samples the last batch first, so
      * callers need no separate final walk.
      */
    def accumulatedViolations(q: StreamingQuery): Seq[String] = {
      sample(q)
      unwrap(q) match {
        case Left(msg) => Seq(msg)
        case Right(exec) =>
          import scala.jdk.CollectionConverters._
          val mine = recorded.asScala.collect {
            case ((run, batch), vs) if run == exec.runId => (batch, vs)
          }.toSeq.sortBy(_._1)
          if (mine.isEmpty)
            Seq("no micro-batch has executed — nothing to walk (drain the " +
              "stream before asserting guard-clean)")
          else
            mine.flatMap { case (batch, vs) => vs.map(v => s"batch $batch: $v") }
      }
    }

    /** How many batches of this run were walked — coverage evidence for
      * specs that want to pin multi-batch accumulation.
      */
    def walkedBatches(q: StreamingQuery): Seq[Long] = unwrap(q) match {
      case Left(_) => Seq.empty
      case Right(exec) =>
        import scala.jdk.CollectionConverters._
        recorded.asScala.keys.collect {
          case (run, batch) if run == exec.runId => batch
        }.toSeq.sorted
    }

    /** Register the opportunistic listener layer on `spark` (idempotent). */
    def attach(spark: org.apache.spark.sql.SparkSession): this.type = {
      if (!sessions.contains(spark)) {
        sessions.add(spark)
        spark.streams.addListener(this)
      }
      this
    }

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      sessions.asScala.foreach { s =>
        try Option(s.streams.get(e.progress.id)).foreach(sample)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Throws with every violation listed — the streaming analog of
    * [[graft.plans.PlanGuard.assertNoCorpusProducts]].
    */
  def assertClean(name: String, q: StreamingQuery): Unit = {
    val v = violations(q)
    if (v.nonEmpty)
      throw new IllegalStateException(
        s"[planguard:stream] $name: ${v.size} hazard(s) in the last micro-batch plan:\n  " +
          v.mkString("\n  "))
  }
}
