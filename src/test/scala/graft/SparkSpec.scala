package graft

import org.apache.spark.graft.TestHooks
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Tables.session("graft-test", "local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One shared every-batch stream-guard accumulator for the test JVM
  * (round-12 verdict #2): its listener layer attaches to the shared
  * session once; its deterministic layer is [[SparkSpec.GuardedDrain]].
  */
object TestStreamGuard {
  lazy val acc: org.apache.spark.sql.graft.StreamPlanGuard.Accumulator =
    new org.apache.spark.sql.graft.StreamPlanGuard.Accumulator()
      .attach(TestSession.spark)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The deterministic layer of every-batch stream-guard coverage
    * (round-12 verdict #2): drain, then immediately walk the just-run
    * batch's plan into the shared accumulator — before any later feed can
    * replace the retained `lastExecution`. Specs call this wherever they
    * used to call `processAllAvailable()`.
    */
  implicit class GuardedDrain(
      private val q: org.apache.spark.sql.streaming.StreamingQuery) {
    def drainGuarded(): Unit = {
      q.processAllAvailable()
      TestStreamGuard.acc.sample(q)
    }
  }

  /** Assert a DRAINED streaming query's micro-batch plans pass the
    * PlanGuard sweep (round-11 verdict #3: streaming plans were guard-
    * blind — `streamDupFlags`' hinted stream-static join was found only by
    * review). Since round 13 this asserts the ACCUMULATED per-batch
    * history (every `drainGuarded()` point plus listener-caught batches
    * plus a final sample), not just the last micro-batch — a hazard
    * present only in an earlier batch stays on the record. Call after
    * draining and before `stop()`.
    */
  def assertStreamClean(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val v = TestStreamGuard.acc.accumulatedViolations(q)
    if (v.nonEmpty) {
      // stop BEFORE failing (round-12 review): call sites assert right
      // before their own q.stop(), so a thrown assertion would otherwise
      // leave the query's threads and memory-sink table alive in the
      // JVM-shared session, poisoning later suites
      try q.stop() catch { case _: Throwable => () }
      fail(s"$name micro-batch plan hazards:\n  ${v.mkString("\n  ")}")
    }
  }

  /** Visits every node of an executed plan, reaching into adaptive plans,
    * query stages, reused exchanges and subqueries.
    */
  protected def foreachNode(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case r: ReusedSubqueryExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }).foreach(foreachNode(_)(f))
  }

  /** The result of `body` and the number of classes codegen compiled while
    * it ran (codegen cache misses; suites run one at a time in the JVM).
    */
  def compiledClasses[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** The result of `body` and the number of Spark jobs started while it ran. */
  def jobsRun[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val bus = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestHooks.drainListeners(sc)
    sc.addSparkListener(bus)
    val out = try { val o = body; TestHooks.drainListeners(sc); o }
      finally sc.removeSparkListener(bus)
    (out, jobs.get())
  }

  /** The session is shared across every suite in the JVM, and many ops
    * `persist()` their self-join inputs: without this, CacheManager entries
    * (strong refs to in-memory relations) accumulate over the whole run
    * until the old gen fills and the suite GC-thrashes. Dropping the cache
    * when a suite finishes keeps the run's footprint one-suite-sized.
    */
  override protected def afterAll(): Unit = {
    spark.sqlContext.clearCache()
    super.afterAll()
  }
}
