package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class CheckpointChainSpec extends SparkSpec {
  import spark.implicits._
  import PlanGuard.CheckpointChain

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddOf(df: DataFrame): Int = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.id
    case other => fail(s"not a checkpoint leaf: $other")
  }

  test("release frees a local checkpoint's RDD blocks") {
    // the owner pattern-matches the analyzed plan for LogicalRDD; if a
    // Spark upgrade changed the checkpoint leaf's shape the match would
    // silently stop releasing — pin the observable effect: the persistent
    // RDD registered by the checkpoint disappears after release
    val before = persistent
    val cp = PlanGuard.guardedCheckpoint("release_spec", (1L to 100L).toDF("x"))
    assert(cp.count() === 100L)
    val added = persistent -- before
    assert(added.nonEmpty, "localCheckpoint(true) registered no persistent RDD")
    CheckpointChain.release(cp)
    assert((persistent intersect added).isEmpty,
      s"release left checkpoint RDDs ${persistent intersect added} persisted")
  }

  test("release is a safe no-op on a plain (non-checkpoint) frame") {
    val df = (1L to 10L).toDF("x")
    CheckpointChain.release(df)
    assert(df.count() === 10L)
  }

  test("after last only close is accepted, after close nothing; errors name the loop") {
    def openChain() = {
      val frames = new CheckpointChain
      frames.round("spec_seed", (1L to 5L).toDF("x"))
      frames
    }
    val calls: Seq[(String, CheckpointChain => Any)] = Seq(
      "round" -> (_.round("spec_round", (1L to 5L).toDF("x"))),
      "last" -> (_.last("spec_last", (1L to 5L).toDF("x"))),
      "eager" -> (_.eager("spec_eager", (1L to 5L).toDF("x"))),
      "persist" -> (_.persist((1L to 5L).toDF("x"))))
    calls.foreach { case (call, f) =>
      val afterLast = openChain()
      afterLast.last("spec_last", (1L to 5L).toDF("x"))
      val e = intercept[IllegalStateException](f(afterLast))
      assert(e.getMessage.contains(s"$call after last") &&
        e.getMessage.contains("CheckpointChainSpec"), e.getMessage)
      afterLast.close() // still accepted after last
      val e2 = intercept[IllegalStateException](f(afterLast))
      assert(e2.getMessage.contains(s"$call after close"), e2.getMessage)
    }
    val closed = openChain()
    closed.close()
    val e = intercept[IllegalStateException](closed.close())
    assert(e.getMessage.contains("close after close"), e.getMessage)
  }

  test("barriers release superseded rounds; close keeps only what the result reads") {
    spark.sqlContext.clearCache()
    val before = persistent
    val frames = new CheckpointChain
    val cache = frames.persist((1L to 50L).toDF("x"))
    val kept = frames.persist((1L to 7L).toDF("y"))
    var state = frames.round("spec_seed", cache.select(col("x")))
    val early = rddOf(state)
    (1 to 3).foreach(_ => state = frames.round("spec_round", state.select(col("x") + 1 as "x")))
    // the 5th round is the eager barrier: every earlier round is released
    state = frames.round("spec_round", state.select(col("x") + 1 as "x"))
    assert(!persistent.contains(early), "barrier kept a superseded round")
    state = frames.last("spec_last", state.select(col("x") + 1 as "x"))
    val result = state.crossJoin(kept)
    assert(frames.close(result) eq result)
    assert(result.count() === 50L * 7L)
    assert(result.agg(min(col("x"))).head().getLong(0) === 6L)
    // the result reads the last round and the `kept` cache, nothing else
    val want = Set(rddOf(state), keptRdd(kept))
    assert((persistent -- before) === want)
    CheckpointChain.release(state)
    kept.unpersist()
  }

  private def keptRdd(df: DataFrame): Int =
    df.queryExecution.withCachedData.collectFirst {
      case ir: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        ir.cacheBuilder.cachedColumnBuffers.id
    }.get

  test("a block lost mid-loop fails the next barrier, naming the checkpoint block") {
    // kCore's seed + 8 chain has one mid-loop barrier (round 4). A test
    // optimizer rule runs on the driver thread during the NEXT round's
    // guard walk — after that barrier materialized, before any later job
    // — and drops one of its blocks, as an executor loss would
    val edges = (for (a <- 1L to 12L; b <- (a + 1) to 12L if (a * b) % 5 != 0)
      yield (a, b)).toDF("src", "dst")
    val want = graft.operators.Graph.kCore(edges, k = 3, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(want.nonEmpty)
    var dropped = Option.empty[Int]
    object DropOneBlock extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (dropped.isEmpty) plan.foreach {
          case lr: LogicalRDD if lr.rdd.isCheckpointed && dropped.isEmpty =>
            org.apache.spark.graft.TestHooks.removeRddBlock(lr.rdd.id, 0)
            dropped = Some(lr.rdd.id)
          case _ => ()
        }
        plan
      }
    }
    spark.experimental.extraOptimizations = Seq(DropOneBlock)
    val outcome = try {
      Right(graft.operators.Graph.kCore(edges, k = 3, rounds = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)
    } catch {
      case e: org.apache.spark.SparkException => Left(e)
    } finally spark.experimental.extraOptimizations = Nil
    val id = dropped.getOrElse(fail("no materialized round was seen mid-loop"))
    // the barrier's lineage is truncated, so Spark cannot recompute the
    // block: the loop fails loudly and names it (ENGINE.md "Frame
    // lifecycle" and the CheckpointChain scaladoc cite this outcome)
    outcome match {
      case Left(e) =>
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString("\n")
        assert(msg.contains(s"Checkpoint block rdd_${id}_0 not found"), msg)
      case Right(got) =>
        fail(s"lost block rdd_${id}_0 was recomputed (same answer: ${got == want}) " +
          "— update the CheckpointChain scaladoc and ENGINE.md, which say it fails")
    }
  }
}
